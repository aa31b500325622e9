package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The program's layers, named after its modules. */
object Layers {
  val all: Seq[String] = Seq("ingest", "analytics", "stream", "commit", "read", "sync")
  val counters: Seq[(String, String)] = Seq(
    "calls" -> "count", "wall_ms" -> "ms", "planning_ms" -> "ms",
    "jobs" -> "count", "tasks" -> "count", "task_ms" -> "ms",
    "driver_gap_ms" -> "ms", "shuffle_bytes" -> "bytes",
    "spill_bytes" -> "bytes", "failed" -> "count")
}

/** A traced call into one layer. Times are wall-clock milliseconds, so
  * that they compare with the listener's job times. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val start: Long) {
  var end: Long = 0L
  var failed = false
  val jobWalls = mutable.ArrayBuffer.empty[(Long, Long)]
  var jobs, tasks, taskMs, shuffleBytes, spillBytes = 0L
  var planningMs = 0L
}

/** Records the planning phases of every query of every session, as
  * (instant the last phase started, summed phase ms). Registered through
  * `spark.sql.queryExecutionListeners`, so that sessions the program
  * clones or creates report too. */
class PlanningListener extends QueryExecutionListener {
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.values
    if (phases.nonEmpty)
      PlanningListener.log.add((phases.map(_.startTimeMs).max, phases.map(_.durationMs).sum))
  }
}

object PlanningListener {
  val log = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
}

/** Spans around the benchmark's calls into each layer. While a span is
  * open its id rides on the Spark job tag of the client thread, so that
  * one SparkListener attributes jobs and tasks to the innermost open span;
  * [[PlanningListener]] supplies planning time. Spans stay in memory and are
  * written out at the end. With tracing off, [[span]] only runs the body. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  /** Lets a traced run alternate traced and untraced passes. */
  @volatile var active: Boolean = enabled
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = new ConcurrentHashMap[Long, Span]()
  private val open = mutable.Stack.empty[Span]
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val jobStart = new ConcurrentHashMap[Int, (Span, Long)]()
  private val Prefix = "perfbench-span-"

  private def spanOfTags(tags: Iterable[String]): Option[Span] =
    tags.collectFirst { case t if t.startsWith(Prefix) =>
      byId.get(t.stripPrefix(Prefix).toLong) }.flatMap(Option(_))

  private def spanOfJob(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(t => spanOfTags(t.split(",").toSeq))

  if (enabled) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        spanOfJob(e.properties).foreach { s =>
          jobStart.put(e.jobId, (s, e.time))
          e.stageIds.foreach(stageSpan.put(_, s))
          s.synchronized(s.jobs += 1)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(jobStart.remove(e.jobId)).foreach { case (s, t0) =>
          s.synchronized(s.jobWalls += ((t0, e.time)))
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        Option(stageSpan.get(e.stageId)).foreach { s =>
          val m = e.taskMetrics
          if (m != null) s.synchronized {
            s.tasks += 1
            s.taskMs += m.executorRunTime
            s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
    })
  }

  /** Runs `body` as a call into `layer`. A call that throws is counted as
    * failed and rethrown. */
  def span[T](layer: String)(body: => T): T = {
    if (!active) return body
    val sc = spark.sparkContext
    val parent = open.headOption
    val s = new Span(spans.size + 1L, layer, parent.fold(0L)(_.id),
      System.currentTimeMillis())
    spans += s
    byId.put(s.id, s)
    open.push(s)
    parent.foreach(p => sc.removeJobTag(Prefix + p.id))
    sc.addJobTag(Prefix + s.id)
    try body
    catch { case e: Throwable => s.failed = true; throw e }
    finally {
      s.end = System.currentTimeMillis()
      sc.removeJobTag(Prefix + s.id)
      open.pop()
      parent.foreach(p => sc.addJobTag(Prefix + p.id))
    }
  }

  /** Waits for the listener bus, then gives each query's planning time to
    * the innermost span open when its planning ran. The client is one
    * thread, so the span open at that instant made the call. */
  private def settle(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    var p = PlanningListener.log.poll()
    while (p != null) {
      val (at, ms) = p
      spans.filter(s => s.start <= at && at <= s.end).maxByOption(_.start)
        .foreach(_.planningMs += ms)
      p = PlanningListener.log.poll()
    }
  }

  private def union(ws: Seq[(Long, Long)]): Long = {
    var total, reach = 0L
    ws.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { total += b - from; reach = b }
    }
    total
  }

  /** The per-layer counters of [[Layers.counters]], summed over spans.
    * Wall time is self time: a span minus the time its child spans cover. */
  def layerMetrics(): Map[String, Double] = {
    if (!enabled) return Map.empty
    settle()
    val childWall = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent != 0) childWall(s.parent) += s.end - s.start)
    Layers.all.flatMap { l =>
      val ss = spans.filter(_.name == l).toSeq
      val self = ss.map(s => s.end - s.start - childWall(s.id))
      val gap = ss.zip(self).map { case (s, w) =>
        math.max(0L, w - union(s.synchronized(s.jobWalls.toSeq))) }
      Seq(
        "calls" -> ss.size.toDouble,
        "wall_ms" -> self.sum.toDouble,
        "planning_ms" -> ss.map(_.planningMs).sum.toDouble,
        "jobs" -> ss.map(_.jobs).sum.toDouble,
        "tasks" -> ss.map(_.tasks).sum.toDouble,
        "task_ms" -> ss.map(_.taskMs).sum.toDouble,
        "driver_gap_ms" -> gap.sum.toDouble,
        "shuffle_bytes" -> ss.map(_.shuffleBytes).sum.toDouble,
        "spill_bytes" -> ss.map(_.spillBytes).sum.toDouble,
        "failed" -> ss.count(_.failed).toDouble
      ).map { case (k, v) => s"$l.$k" -> v }
    }.toMap
  }

  /** Writes every span as one JSON line: id, name, parent, start, end. */
  def writeSpans(f: File): Unit = if (enabled) {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""start_ms":${s.start},"end_ms":${s.end},"failed":${s.failed}}""")
    } finally w.close()
  }
}
