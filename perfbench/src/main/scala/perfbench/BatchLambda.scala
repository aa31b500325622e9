package perfbench

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.ops.{Clean, Ingest, Pipelines, TimeWindows, VersionedTable}

/** batch_lambda: the reference's batch path in one large pass. Raw
  * hour-partitioned CSV zone → castTicks → processed Parquet →
  * analyticsBatch and dailyOhlcv → one upsert into the warehouse table →
  * syncChanges into a synced copy → the dashboard reads of the warehouse.
  * The commit is the warehouse upsert. */
final class BatchLambda(ctx: Ctx) extends Workload {
  import BatchLambda._
  private val spark = ctx.spark
  private val t = ctx.tracer
  private val ticks = Gen.ticks(ctx.seed, Steps, StepSec)
  private var raw = ""
  private var passes = 0
  private var lastOut = ""

  def stage(rep: Int): Unit = {
    raw = ctx.dir(s"batch/raw-$rep")
    Gen.writeHourZone(new java.io.File(raw), ticks)
  }

  /** Untimed passes over the staged zone: the first pass in a JVM is
    * cold, and a smaller input leaves the next one still warming. */
  def warmUp(): Unit =
    for (i <- 0 until WarmPasses) runPass(ctx.dir(s"batch/warm-$i"), None)

  private lazy val expected = expectedDaily(ticks)

  /** One pass over the staged zone into `out`. With `sample` set, the
    * commit and the reads are samples, taken with tracing on or off. */
  private def runPass(out: String, sample: Option[Boolean]): Unit = {
    val processed = s"$out/processed"
    val daily = s"$out/daily"
    val warehouse = s"$out/warehouse"
    val keys = Seq("symbol", "date")
    t.span("ingest") {
      val clean = Clean.castTicks(Ingest.readCsv(spark, raw, Schemas.tickRaw))
      Ingest.writePartitioned(
        clean.drop("hour").withColumn("date", to_date(col("timestamp"))),
        processed, Seq("date"))
    }
    t.span("analytics") {
      val ticks = Ingest.readParquet(spark, processed).drop("date")
      Ingest.writePartitioned(
        Pipelines.analyticsBatch(ticks, processingTime = lit(ProcessingTime)),
        s"$out/analytics", Seq("window_type"))
      Ingest.writePartitioned(
        TimeWindows.dailyOhlcv(ticks, "symbol", "timestamp", "price",
          col("volume")), daily, Seq("date"), mode = "overwrite")
    }
    val (_, commitMs) = ctx.timed(t.span("commit") {
      VersionedTable.upsert(spark, warehouse, Ingest.readParquet(spark, daily),
        keys, Seq("symbol"))
    })
    sample.foreach(ctx.m.add("commit", _, commitMs))
    t.span("sync") {
      VersionedTable.syncChanges(spark, warehouse, keys, s"$out/sync.cursor") {
        changes =>
          t.span("commit") {
            VersionedTable.upsert(spark, s"$out/synced",
              changes.filter(col("op") =!= "delete").drop("op"), keys, Seq("symbol"))
          }
      }
    }
    // the dashboard reads that follow a load: the bars of every symbol, then
    // the count
    for (k <- 0 until ReadsPerPass) {
      val sym = Gen.Symbols((passes * ReadsPerPass + k) % Gen.Symbols.size)
      val (got, ms) = ctx.timed(t.span("read") {
        VersionedTable.readWhereEq(spark, warehouse, "symbol", sym).collect()
      })
      sample.foreach(ctx.m.add("read", _, ms))
      ctx.expect(got.map(bar).toMap == expected.filter(_._1._1 == sym),
        s"batch_lambda: readWhereEq($sym) differs from the recomputed bars")
    }
    // fastCount reads only the manifest; as a sample it would mix a cost
    // two orders of magnitude smaller into the read mean
    val count = t.span("read")(VersionedTable.fastCount(spark, warehouse))
    ctx.expect(count.contains(expected.size.toLong),
      s"batch_lambda: fastCount $count, expected ${expected.size}")
  }

  private def bar(r: org.apache.spark.sql.Row) =
    (r.getAs[String]("symbol"), r.getAs[java.sql.Date]("date").toLocalDate) ->
      (r.getAs[Double]("daily_open"), r.getAs[Double]("daily_high"),
       r.getAs[Double]("daily_low"), r.getAs[Double]("daily_close"),
       r.getAs[Long]("daily_volume"), r.getAs[Double]("daily_change"))

  def pass(traced: Boolean): Unit = {
    val out = ctx.dir(s"batch/pass-$passes")
    passes += 1
    ctx.m.attempted += 1
    val (_, ms) = ctx.timed(runPass(out, Some(traced)))
    ctx.m.add("pass", traced, ms)
    if (traced) {
      // the synced copy is new, so its sync is the initial full load
      ctx.extra("sync.rows_applied") += expected.size
      val (bytes, files) = Fs.du(s"$out/warehouse")
      ctx.extra("commit.commits") += 1
      ctx.extra("commit.files_added") += files
      ctx.extra("commit.bytes_added") += bytes
      ctx.extra("commit.user_bytes") +=
        Fs.userBytes(VersionedTable.read(spark, s"$out/warehouse"))
    }
    // keep only the newest pass on disk
    if (lastOut.nonEmpty) Fs.rm(lastOut)
    lastOut = out
  }

  def check(): Unit = {
    for (table <- Seq("warehouse", "synced")) {
      val got = VersionedTable.read(spark, s"$lastOut/$table").collect().map(bar).toMap
      ctx.expect(got == expected,
        s"batch_lambda: $table differs from the recomputed daily bars " +
          s"(${got.size} rows, expected ${expected.size})")
    }
    val windows = Seq(300, 900, 3600).map { w =>
      ticks.map(x => (x.symbol, x.epochSec / w)).distinct.size.toLong }.sum
    val gotWindows = Ingest.readParquet(spark, s"$lastOut/analytics").count()
    ctx.expect(gotWindows == windows,
      s"batch_lambda: $gotWindows analytics rows, expected $windows")
    val kept = Ingest.readParquet(spark, s"$lastOut/processed")
      .filter(col("timestamp").isNotNull && col("price").isNotNull).count()
    ctx.expect(kept == ticks.size,
      s"batch_lambda: processed zone kept $kept of ${ticks.size} ticks")
  }

  def spaceAmp: Double = Fs.spaceAmp(spark, s"$lastOut/warehouse")
}

object BatchLambda {
  /** One day of ticks every 10 s for 8 symbols: 69,120 raw rows. */
  val StepSec = 10
  val Steps: Int = 24 * 3600 / StepSec
  /** `readWhereEq` calls of the dashboard read that closes a pass: one per
    * symbol. */
  val ReadsPerPass = 8
  val WarmPasses = 2
  val ProcessingTime: java.sql.Timestamp =
    java.sql.Timestamp.valueOf("2024-01-05 00:00:00")

  /** (symbol, day) → open, high, low, close, volume, change. */
  type Daily = Map[(String, LocalDate), (Double, Double, Double, Double, Long, Double)]

  /** Daily OHLCV recomputed from the generated ticks. */
  def expectedDaily(ticks: Seq[Tick]): Daily =
    ticks.groupBy(x => (x.symbol, Gen.time(x.epochSec).toLocalDate)).map {
      case (k, xs) =>
        val byTime = xs.sortBy(_.epochSec)
        val (open, close) = (byTime.head.price, byTime.last.price)
        k -> (open, xs.map(_.price).max, xs.map(_.price).min, close,
          xs.map(_.volume).sum, close - open)
    }
}
