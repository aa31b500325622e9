package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.ops.VersionedTable

/** lake_mix: writes beside reads on one warehouse table of daily bars,
  * with the speed path landing into its own table. The bars table (40
  * symbols × 400 trading days, partitioned by month; sizes and their
  * basis in perfbench/README.md) is built untimed and
  * registered with `CREATE TABLE … USING graft`; then the seeded op stream
  * of [[LakeModel]] runs against it, each op checked against the model.
  * A pass is one cycle of the stream; the commit is a `MERGE INTO`. */
final class LakeMix(ctx: Ctx) extends Workload {
  import LakeMix._
  import LakeOp._
  private val spark = ctx.spark
  private val t = ctx.tracer
  private val days = Gen.tradingDays(Days)
  private var model: LakeModel = _
  private var base = ""
  private val root = ctx.dir("lake/table")
  private val copy = ctx.dir("lake/synced")
  private val cursor = ctx.dir("lake/sync.cursor")
  private val speed = new SpeedPath(ctx, ctx.dir("lake/speed"))
  /** Table version after each merge of the model; index 0 is the base. */
  private val versionAfter = mutable.ArrayBuffer.empty[Int]
  /** Space amplification after each of the first [[SpaceMerges]] merges. */
  private val space = mutable.ArrayBuffer.empty[Double]
  /** False during the warm-up, whose commits are not samples. */
  private var measuring = false

  private def row(s: Int, d: Int, b: Bar): Row = {
    val day = days(d)
    Row(Gen.lakeSymbol(s), java.sql.Date.valueOf(day), b.open, b.high, b.low,
      b.close, b.volume, f"${day.getYear}%04d-${day.getMonthValue}%02d")
  }

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, Schema)

  /** Generates the base table's rows into a staging CSV file. */
  def stage(rep: Int): Unit = {
    model = new LakeModel(ctx.seed, Symbols, Days, SpeedPath.MaxFiles)
    base = ctx.dir(s"lake/base-$rep")
    val f = new java.io.File(base, "part-0.csv")
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println(Schema.fieldNames.mkString(","))
      model.baseRows.foreach { case ((s, d), b) => w.println(row(s, d, b).mkString(",")) }
    } finally w.close()
  }

  /** Builds and registers the table, loads the synced copy, then runs the
    * first cycle of the op stream and replays its reads, all untimed. */
  def warmUp(): Unit = {
    VersionedTable.upsert(spark, root,
      spark.read.schema(Schema).option("header", "true").csv(base), Keys,
      Seq("month"), statsCols = Seq("symbol"), fileRows = Some(FileRows))
    spark.sql(s"CREATE TABLE $Name USING graft LOCATION '$root'")
    versionAfter += VersionedTable.currentVersion(spark, root).get
    sync() // the initial full load, so that measured syncs are incremental
    // drawn one at a time: drawing a merge applies it to the model
    val ops = LakeModel.Cycle.map { _ =>
      val op = model.next()
      run(op, traced = false)()
      op
    }
    // reads warm up slowest; replaying them is valid because every executed
    // op has been applied to both the table and the model
    for (_ <- 1 to ReadReplays; op <- ops if Reads(op)) run(op, traced = false)()
  }

  private def sync(): Unit =
    VersionedTable.syncChanges(spark, root, Keys, cursor) { changes =>
      t.span("commit") {
        VersionedTable.upsert(spark, copy,
          changes.filter(col("op") =!= "delete").drop("op"), Keys, Seq("month"))
      }
    }

  private def bar(r: Row): Bar =
    Bar(r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
      r.getAs[Double]("close"), r.getAs[Long]("volume"))

  private def dayOf(r: Row): Int =
    days.indexOf(r.getAs[java.sql.Date]("date").toLocalDate)

  /** Files and rows the Parquet scans of a traced read examined. */
  private def recordScans(df: DataFrame, returned: Int): Unit = {
    val (files, examined) = Fs.scanCounters(df)
    ctx.extra("read.lookups") += 1
    ctx.extra("read.files") += files
    ctx.extra("read.rows_examined") += examined
    ctx.extra("read.rows_returned") += returned
  }

  private def sym(s: Int) = Gen.lakeSymbol(s)

  /** Runs one op and returns what follows it: the check of its result
    * against the model and, when traced, its layer counters. The caller
    * runs that outside the op's timing and outside every span. */
  private def run(op: LakeOp, traced: Boolean): () => Unit = op match {
    case Merge(rows) =>
      frame(rows.map { case (s, d, b) => row(s, d, b) })
        .createOrReplaceTempView("lake_src")
      val (_, ms) = ctx.timed(t.span("commit") {
        spark.sql(
          s"""MERGE INTO $Name t USING lake_src s
             |ON t.symbol = s.symbol AND t.date = s.date AND t.month = s.month
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect()
      })
      if (measuring) ctx.m.add("commit", traced, ms)
      () => {
        versionAfter += VersionedTable.currentVersion(spark, root).get
        if (versionAfter.size - 1 <= SpaceMerges) space += Fs.spaceAmp(spark, root)
      }
    case Point(s, d) =>
      val df = spark.sql(
        s"SELECT * FROM $Name WHERE symbol = '${sym(s)}' AND date = DATE'${days(d)}'")
      val got = t.span("read")(df.collect())
      () => {
        ctx.expect(got.map(bar).toSeq == model.rows.get((s, d)).toSeq,
          s"lake_mix: point read ${sym(s)} ${days(d)} differs from the model")
        if (traced) recordScans(df, got.length)
      }
    case Range(s, from, to) =>
      val df = spark.sql(s"SELECT * FROM $Name WHERE symbol = '${sym(s)}' " +
        s"AND date BETWEEN DATE'${days(from)}' AND DATE'${days(to)}'")
      val got = t.span("read")(df.collect())
      () => {
        ctx.expect(got.map(r => dayOf(r) -> bar(r)).sortBy(_._1).toSeq ==
          model.range(s, from, to),
          s"lake_mix: range read ${sym(s)} [$from, $to] differs from the model")
        if (traced) recordScans(df, got.length)
      }
    case BySymbol(s) =>
      val df = VersionedTable.readWhereEq(spark, root, "symbol", sym(s))
      val got = t.span("read")(df.collect())
      () => {
        ctx.expect(got.map(r => dayOf(r) -> bar(r)).sortBy(_._1).toSeq ==
          model.range(s, 0, Days - 1),
          s"lake_mix: readWhereEq ${sym(s)} returned ${got.length} rows " +
            s"that differ from the model's ${model.symbolCount(s)}")
        if (traced) recordScans(df, got.length)
      }
    case Count =>
      val got = t.span("read")(VersionedTable.fastCount(spark, root))
      () => ctx.expect(got.contains(model.rows.size.toLong),
        s"lake_mix: fastCount $got, model has ${model.rows.size}")
    case TimeTravel(k, s) =>
      val df = VersionedTable.read(spark, root, Some(versionAfter(k)))
        .where(col("symbol") === sym(s))
      val got = t.span("read")(df.collect())
      () => {
        ctx.expect(got.length == model.countAt(k, s),
          s"lake_mix: ${sym(s)} as of merge $k has ${got.length} rows, " +
            s"model has ${model.countAt(k, s)}")
        if (traced) recordScans(df, got.length)
      }
    case Sync(changed) =>
      t.span("sync")(sync())
      () => if (traced) ctx.extra("sync.rows_applied") += changed
    case Land(k) =>
      speed.land(k)
      val ps = t.span("stream")(speed.run())
      () => if (traced) {
        val x = ctx.extra
        def sumOf(f: StreamingQueryProgress => Long) = ps.map(f).sum.toDouble
        x("stream.batches") += ps.size
        x("stream.state_rows") = ps.lastOption.fold(0L)(_.stateOperators.map(_.numRowsTotal).sum)
        x("stream.state_commit_ms") += sumOf(_.stateOperators.map(_.commitTimeMs).sum)
        x("stream.add_batch_ms") += sumOf(_.durationMs.getOrDefault("addBatch", 0L))
        x("stream.trigger_planning_ms") += sumOf(_.durationMs.getOrDefault("queryPlanning", 0L))
        x("stream.rows_dropped_by_watermark") +=
          sumOf(_.stateOperators.map(_.numRowsDroppedByWatermark).sum)
      }
  }

  /** One cycle of the op stream. The pass's wall is the sum of its ops'
    * walls, so checks and bookkeeping between ops are not timed. A failed
    * op gives no sample and fails the pass, which then gives no pass sample
    * either. When traced, the bytes and data files the pass's merges added
    * under the table root are measured before and after it. */
  def pass(traced: Boolean): Unit = {
    measuring = true
    val before = if (traced) Fs.du(root) else (0L, 0L)
    var passMs = 0.0
    var ok = true
    val ops = LakeModel.Cycle.map { _ =>
      val op = model.next()
      ctx.m.attempted += 1
      try {
        val (after, ms) = ctx.timed(run(op, traced))
        passMs += ms
        if (Reads(op)) ctx.m.add("read", traced, ms)
        after()
      } catch { case NonFatal(e) =>
        ok = false
        ctx.m.failed += 1
        System.err.println(s"lake_mix: $op failed: $e")
      }
      op
    }
    if (ok) ctx.m.add("pass", traced, passMs)
    if (traced) {
      val after = Fs.du(root)
      val merged = ops.collect { case Merge(rows) => rows.size }
      ctx.extra("commit.files_added") += after._2 - before._2
      ctx.extra("commit.bytes_added") += after._1 - before._1
      ctx.extra("commit.commits") += merged.size
      // Symbol (4 bytes) and month (7) strings plus six 8-byte fields
      ctx.extra("commit.user_bytes") += merged.sum * (4L + 7 + 6 * 8)
    }
  }

  private def snapshot(path: String): Map[(Int, Int), Bar] =
    VersionedTable.read(spark, path).collect().map { r =>
      (r.getAs[String]("symbol").drop(1).toInt, dayOf(r)) -> bar(r)
    }.toMap

  def check(): Unit = {
    val expected = model.rows.toMap
    ctx.expect(snapshot(root) == expected,
      "lake_mix: the final snapshot differs from the model")
    sync()
    ctx.expect(snapshot(copy) == expected,
      "lake_mix: the synced copy differs from the model")
    ctx.expect(space.size == SpaceMerges,
      s"lake_mix: the run made ${space.size} of the $SpaceMerges merges space_amp needs")
    speed.check(model.landed)
  }

  def spaceAmp: Double = if (space.isEmpty) Double.NaN else Stats.mean(space.toSeq)
}

object LakeMix {
  val Symbols = 40
  val Days = 400
  val FileRows = 1000
  val Reads: LakeOp => Boolean = {
    case _: LakeOp.Point | _: LakeOp.Range | _: LakeOp.BySymbol | LakeOp.Count |
         _: LakeOp.TimeTravel => true
    case _ => false
  }
  val Name = "lake_bars"
  val ReadReplays = 1
  /** space_amp is the mean over the first this many merges, each read right
    * after its merge: one merge's figure depends on which files the seed's
    * keys hit. The warm-up makes three merges and the first pass three
    * more, so the figure does not depend on how many passes a run makes. */
  val SpaceMerges = 4
  /** The table's merge key must hold its partition column; month is a
    * function of date, so the key is still (symbol, date). */
  val Keys = Seq("symbol", "date", "month")
  val Schema: StructType = StructType(Seq(
    StructField("symbol", StringType), StructField("date", DateType),
    StructField("open", DoubleType), StructField("high", DoubleType),
    StructField("low", DoubleType), StructField("close", DoubleType),
    StructField("volume", LongType), StructField("month", StringType)))
}
