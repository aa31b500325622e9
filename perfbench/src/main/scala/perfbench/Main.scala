package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Every metric the benchmark prints, with its unit. BENCHMARK.json at the
  * repository root declares the same names. */
object Metrics {
  val workloads: Seq[String] = Seq("batch_lambda", "lake_mix")

  /** Printed by an untraced run. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "pass_s.p50" -> "s", "commit_ms.p50" -> "ms",
    "read_ms.mean" -> "ms", "space_amp" -> "ratio", "mem.retained_heap_mb" -> "MB")

  /** The sample kind behind each timed end-to-end metric, its statistic and
    * scale. Commits are of one kind per workload, so their median drops
    * the slow first one of a run. Reads are a mean: a pass holds a fixed
    * mix of read kinds of very different cost, and a median lands on the
    * boundary between two kinds, so it jumps between runs. */
  val timed: Seq[(String, String, Seq[Double] => Double, Double)] = Seq(
    ("pass", "pass_s.p50", Stats.median, 1e-3),
    ("commit", "commit_ms.p50", Stats.median, 1.0),
    ("read", "read_ms.mean", Stats.mean, 1.0))

  /** End-to-end timings whose traced-vs-untraced difference is reported. */
  val overheadOf: Seq[String] = timed.map(_._2)

  val layerSpecific: Seq[(String, String)] = Seq(
    "stream.batches" -> "count", "stream.state_rows" -> "count",
    "stream.state_commit_ms" -> "ms", "stream.add_batch_ms" -> "ms",
    "stream.trigger_planning_ms" -> "ms",
    "stream.rows_dropped_by_watermark" -> "count",
    "commit.files_added" -> "count", "commit.bytes_per_user_byte" -> "ratio",
    "commit.jobs_per_commit" -> "count",
    "read.files_per_lookup" -> "count",
    "read.rows_examined_per_row_returned" -> "ratio",
    "sync.rows_applied" -> "count", "jvm.gc_ms" -> "ms", "jvm.gc_count" -> "count")

  /** Printed by a traced run. */
  val perLayer: Seq[(String, String)] =
    Layers.all.flatMap(l => Layers.counters.map { case (k, u) => s"$l.$k" -> u }) ++
      layerSpecific ++ overheadOf.map(n => s"trace_overhead.$n" -> "ratio")

  val NamePattern = "[A-Za-z0-9][A-Za-z0-9_.-]{0,63}"
}

/** One run: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --spans <file>`. Prints a JSON result as its last line. */
object Main {
  /** Input staging is repeated this many times and its median reported.
    * The warm-up runs once: only the first one in a JVM is cold. */
  val StageReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    require(Metrics.workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = new File(opts("work"))
    val cpus = Runtime.getRuntime.availableProcessors

    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
    if (trace)
      builder.config("spark.sql.queryExecutionListeners",
        classOf[PlanningListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def sinceJvmStartS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val sessionS = sinceJvmStartS

    val tracer = new Tracer(spark, trace)
    val ctx = new Ctx(spark, tracer, work, seed)
    val wl: Workload = workload match {
      case "batch_lambda" => new BatchLambda(ctx)
      case "lake_mix" => new LakeMix(ctx)
    }
    tracer.active = false
    val stageS = (0 until StageReps).map(r => ctx.timed(wl.stage(r))._2 / 1000)
    val warmS = ctx.timed(wl.warmUp())._2 / 1000
    // everything from JVM start to the loop, with the repeated stagings
    // counted once, at their median
    val setupS = sinceJvmStartS - stageS.sum + Stats.median(stageS)
    println(f"$workload: session $sessionS%.3f s, staging " +
      stageS.map(s => f"$s%.3f").mkString(", ") + f" s, warm-up $warmS%.3f s")

    // closed loop, one client: the next pass starts when the last returns.
    // A traced run alternates untraced and traced passes.
    val gc0 = gcTotals()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    while (System.nanoTime() < deadline) {
      val traced = trace && i % 2 == 1
      tracer.active = traced
      try wl.pass(traced)
      catch { case NonFatal(e) =>
        ctx.m.failed += 1
        System.err.println(s"$workload: pass $i failed: $e")
      }
      i += 1
    }
    tracer.active = false
    val gc1 = gcTotals()
    if (ctx.m.failed > 0)
      ctx.errors += s"$workload: ${ctx.m.failed} of ${ctx.m.attempted} ops failed"
    val (_, checkMs) = ctx.timed {
      try wl.check()
      catch { case NonFatal(e) => ctx.errors += s"$workload: check failed: $e" }
    }
    println(f"$workload: checks took ${checkMs / 1000}%.3f s")

    val m = ctx.m
    def e2e(traced: Boolean): Map[String, Double] =
      Metrics.timed.flatMap { case (kind, name, stat, scale) =>
        val xs = m.get(kind, traced)
        if (xs.nonEmpty)
          println(f"$workload: $kind ms traced=$traced n=${xs.size} " +
            f"mean ${Stats.mean(xs)}%.3f p50 ${Stats.median(xs)}%.3f " +
            xs.map(x => f"$x%.1f").mkString("[", " ", "]"))
        if (xs.isEmpty) None else Some(name -> stat(xs) * scale)
      }.toMap
    val untraced = e2e(false)
    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        val all = untraced ++ Map(
          "setup_s" -> setupS,
          "space_amp" -> wl.spaceAmp,
          "mem.retained_heap_mb" -> retainedHeapMb())
        Metrics.endToEnd.flatMap { case (n, u) => all.get(n).map((n, u, _)) }
      } else {
        val traced = e2e(true)
        val layer = tracer.layerMetrics()
        val x = ctx.extra
        def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
        val all = layer ++ x ++ Map(
          "commit.files_added" -> ratio(x("commit.files_added"), x("commit.commits")),
          "commit.bytes_per_user_byte" -> ratio(x("commit.bytes_added"), x("commit.user_bytes")),
          "commit.jobs_per_commit" -> ratio(layer("commit.jobs"), layer("commit.calls")),
          "read.files_per_lookup" -> ratio(x("read.files"), x("read.lookups")),
          "read.rows_examined_per_row_returned" ->
            ratio(x("read.rows_examined"), x("read.rows_returned")),
          "jvm.gc_ms" -> (gc1._1 - gc0._1).toDouble,
          "jvm.gc_count" -> (gc1._2 - gc0._2).toDouble) ++
          Metrics.overheadOf.flatMap(n => for (a <- traced.get(n); b <- untraced.get(n))
            yield s"trace_overhead.$n" -> (a / b - 1))
        // a layer the workload does not call reads 0
        Metrics.perLayer.map { case (n, u) => (n, u, all.getOrElse(n, 0.0)) }
      }
    tracer.writeSpans(new File(opts("spans")))

    val wanted = if (trace) Metrics.perLayer else Metrics.endToEnd
    val missing = wanted.map(_._1).filterNot(metrics.map(_._1).toSet)
    if (missing.nonEmpty) ctx.errors += s"$workload: no value for ${missing.mkString(", ")}"
    metrics.filter(x => x._3.isNaN || x._3.isInfinite).foreach(x =>
      ctx.errors += s"$workload: ${x._1} is ${x._3}")
    ctx.errors.foreach(e => System.err.println(s"CHECK FAILED: $e"))
    val correct = ctx.errors.isEmpty
    val body = metrics.filterNot(x => x._3.isNaN || x._3.isInfinite).map {
      case (n, u, v) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(", ")
    val (_, stopMs) = ctx.timed(spark.stop())
    println(f"$workload: stop took ${stopMs / 1000}%.3f s")
    println(s"""{"correct": $correct, "attempted": ${m.attempted}, """ +
      s""""failed": ${m.failed}, "metrics": {$body}}""")
    sys.exit(if (correct) 0 else 1)
  }

  private def gcTotals(): (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime).sum, beans.map(_.getCollectionCount).sum)
  }

  /** Heap still used after full collections: what the run accumulated. */
  private def retainedHeapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024)
  }
}
