package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.model.Schemas
import graft.ops.{Clean, Ingest, TimeWindows, VersionedTable}
import graft.streaming.StreamPipeline

/** The speed path as lake_mix runs it: tick files of 128 rows (see
  * [[SpeedPath.RowsPerFile]]) → windowedMetrics → startVersionedMerge, run
  * as a scheduled AvailableNow query over one checkpoint, one file per
  * micro-batch. Files are landed serially with explicit mtimes, so batch
  * boundaries and output are a function of the files landed. */
final class SpeedPath(ctx: Ctx, dir: String) {
  import SpeedPath._
  private val spark = ctx.spark
  private val ticks = SpeedPath.ticks(ctx.seed)
  private val landing = s"$dir/landing"
  val table = s"$dir/table"
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]

  def land(file: Int): Unit =
    Gen.landFile(new java.io.File(landing), file, fileRows(ticks, file))

  /** Runs the query until every landed file is committed. */
  def run(): Seq[StreamingQueryProgress] = {
    val reader = spark.readStream.schema(Schemas.tickRaw)
      .option("header", "true")
      .option("maxFilesPerTrigger", "1")
      .csv(landing)
    val q = StreamPipeline.startVersionedMerge(
      StreamPipeline.windowedMetrics(Clean.castTicks(reader)),
      table, s"$dir/checkpoint", Keys, Seq("symbol"), streamId = StreamId)
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    val ps = q.recentProgress.toSeq
    progress ++= ps
    ps
  }

  private def rowsOf(df: DataFrame): Seq[Row] =
    df.select(Cols.map(col): _*).collect().toSeq
      .sortBy(r => (r.getString(0), r.getTimestamp(1).getTime))

  private def close(a: Row, b: Row): Boolean =
    (0 until a.size).forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: Double, y: Double) =>
          math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(y))
        case (x, y) => x == y
      }
    }

  /** Checks the speed table after `landed` files. */
  def check(landed: Int): Unit = if (landed > 0) {
    val input = progress.map(_.numInputRows).toSeq
    ctx.expect(input.filter(_ > 0) == Seq.fill(landed)(RowsPerFile.toLong),
      s"lake_mix: speed batch boundaries $input for $landed landed files")
    val dropped = progress.map(_.stateOperators.map(_.numRowsDroppedByWatermark).sum).sum
    ctx.expect(dropped == 0, s"lake_mix: $dropped rows dropped by the watermark")
    // exactly once: one txn-tagged version per micro-batch, an empty one
    // too, so that a replayed batch is skipped
    val versions = VersionedTable.history(spark, table).size
    val txn = VersionedTable.lastTxn(spark, table, StreamId)
    ctx.expect(versions == input.size && txn.contains(input.size - 1L),
      s"lake_mix: speed table has $versions versions and last txn $txn " +
        s"after ${input.size} micro-batches")
    // the batch twin over the windows the last watermark closed
    val watermark = progress.flatMap(p => Option(p.eventTime.get("watermark")))
      .map(w => java.sql.Timestamp.from(java.time.Instant.parse(w))).maxBy(_.getTime)
    val twin = TimeWindows.flattenWindow(TimeWindows.metricWindow(
      Clean.castTicks(Ingest.readCsv(spark, landing, Schemas.tickRaw)),
      "symbol", "timestamp", "price", col("volume"), Width, Some(Slide)))
      .filter(col("window_end") <= lit(watermark))
    val expected = rowsOf(twin)
    val got = rowsOf(VersionedTable.read(spark, table))
    ctx.expect(expected.size == got.size && expected.zip(got).forall {
      case (a, b) => close(a, b) },
      s"lake_mix: speed table (${got.size} rows) differs from its batch twin " +
        s"(${expected.size} rows)")
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update((input.mkString(",") + "\n" + got.mkString("\n"))
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(s"lake_mix: speed files=$landed batches=${input.size} rows=${got.size} " +
      "digest=" + md.digest().take(8).map("%02x".format(_)).mkString)
  }
}

object SpeedPath {
  /** Ticks of 8 symbols every 30 s: a file of 128 rows covers 8 minutes. */
  val StepSec = 30
  /** The multiple of the 8 symbols nearest the ≈125 records per CSV file of
    * the reference's sample raw-zone listing (BASELINE.md). Its consumer's
    * flush rule, 100 messages or 60 s, would give about 16 rows at the
    * producer's 30 s interval; the listing is what the reference shows
    * landed. */
  val RowsPerFile = 128
  val MaxFiles = 256
  val StreamId = "speed"
  val Width = "15 minutes"
  val Slide = "5 minutes"
  val Keys = Seq("symbol", "window_start")
  val Cols = Seq("symbol", "window_start", "window_end", "ma", "volatility",
    "volume_sum", "n_events", "value_sum")

  /** Every tick the speed path can land, for one workload seed. */
  def ticks(seed: Long): Vector[Tick] =
    Gen.ticks(seed ^ 0x7F4A7C15L, MaxFiles * RowsPerFile / Gen.Symbols.size, StepSec)

  def fileRows(ticks: Vector[Tick], file: Int): Vector[Tick] =
    ticks.slice(file * RowsPerFile, (file + 1) * RowsPerFile)
}
