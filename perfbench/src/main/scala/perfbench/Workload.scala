package perfbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** What one run shares: the session, the tracer, the run's private work
  * directory, and the samples it collects. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: File,
                val seed: Long) {
  val m = new Measure
  /** Layer-specific per-layer metrics a workload measures itself. */
  val extra = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  /** Correctness failures; any entry fails the run. */
  val errors = mutable.ArrayBuffer.empty[String]

  def dir(name: String): String = new File(work, name).getPath

  def expect(ok: Boolean, what: => String): Unit =
    if (!ok && errors.size < 20) errors += what

  /** Runs `body` and returns its value with its wall time in ms. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val v = body
    (v, (System.nanoTime() - t0) / 1e6)
  }
}

/** Latency samples, split by whether tracing was on when they were taken. */
final class Measure {
  private val samples = mutable.Map.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
  var attempted, failed = 0L

  def add(kind: String, traced: Boolean, ms: Double): Unit =
    samples.getOrElseUpdate((kind, traced), mutable.ArrayBuffer.empty) += ms

  def get(kind: String, traced: Boolean): Seq[Double] =
    samples.get((kind, traced)).map(_.toSeq).getOrElse(Nil)
}

/** One benchmark workload. `stage` builds the inputs; it runs several
  * times, each into its own directory, and the last copy is used. `warmUp`
  * runs the workload's path once on a small input. `pass` is one
  * closed-loop unit of work and records its own samples. */
trait Workload {
  def stage(rep: Int): Unit
  def warmUp(): Unit
  def pass(traced: Boolean): Unit
  /** Checks outputs after the measured loop; failures go to `ctx.errors`. */
  def check(): Unit
  /** Bytes under the warehouse table's root ÷ Parquet bytes of its live
    * snapshot, measured at a point of the workload that does not depend on
    * how fast it ran. */
  def spaceAmp: Double
}

object Fs {
  /** Bytes and data files under a directory. */
  def du(path: String): (Long, Long) = {
    val root = new File(path).toPath
    if (!Files.exists(root)) return (0L, 0L)
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).foldLeft((0L, 0L)) {
      case ((b, n), p) =>
        (b + Files.size(p), n + (if (p.toString.endsWith(".parquet")) 1 else 0))
    } finally s.close()
  }

  def rm(path: String): Unit = {
    val root = new File(path).toPath
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  /** Space amplification of a versioned table: bytes under its root ÷ the
    * Parquet bytes of its live snapshot. */
  def spaceAmp(spark: SparkSession, root: String): Double = {
    val live = graft.ops.VersionedTable.tableSize(spark, root)
      .getOrElse(throw new IllegalStateException(s"no size recorded at $root"))
    du(root)._1.toDouble / live
  }

  /** User bytes of rows: UTF-8 bytes of string fields plus 8 bytes for
    * every other field. The denominator of bytes written per user byte. */
  def userBytes(df: DataFrame): Long = {
    val strs = df.schema.fields.filter(_.dataType == StringType).map(_.name)
    val others = df.schema.size - strs.length
    val perRow = strs.map(c => coalesce(octet_length(col(c)), lit(0)).cast("long"))
      .foldLeft(lit(8L * others))(_ + _)
    Option(df.agg(sum(perRow)).first().get(0)).fold(0L)(_.asInstanceOf[Long])
  }

  /** Files and rows the Parquet scans of an executed query read. */
  def scanCounters(df: DataFrame): (Long, Long) = {
    val scans = new AdaptiveSparkPlanHelper {}
      .collect(df.queryExecution.executedPlan) { case s: FileSourceScanExec => s }
    (scans.map(_.metrics.get("numFiles").fold(0L)(_.value)).sum,
     scans.map(_.metrics.get("numOutputRows").fold(0L)(_.value)).sum)
  }
}
