package perfbench

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own checks: seeded inputs, percentiles, metric names. */
class BenchSpec extends AnyFunSuite {

  private def fresh(name: String): File = {
    val d = new File(s"target/bench-spec/$name")
    Fs.rm(d.getPath)
    d
  }

  /** Relative path → (SHA-256 of the bytes, mtime if set explicitly) of
    * every file under `dir`. Only landed files get an explicit mtime. */
  private def tree(dir: File): Map[String, (String, Long)] = {
    val s = Files.walk(dir.toPath)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).map { p =>
      val rel = dir.toPath.relativize(p).toString
      val sha = java.security.MessageDigest.getInstance("SHA-256")
        .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
      rel -> (sha, if (rel.startsWith("landing/")) p.toFile.lastModified else 0L)
    }.toMap finally s.close()
  }

  /** The raw zone and the first landed files of one seed. */
  private def inputs(seed: Long, tag: String): Map[String, (String, Long)] = {
    val d = fresh(tag)
    Gen.writeHourZone(new File(d, "raw"),
      Gen.ticks(seed, BatchLambda.Steps, BatchLambda.StepSec))
    val speed = SpeedPath.ticks(seed)
    (0 until 4).foreach(i =>
      Gen.landFile(new File(d, "landing"), i, SpeedPath.fileRows(speed, i)))
    val lake = new LakeModel(seed, LakeMix.Symbols, LakeMix.Days, SpeedPath.MaxFiles)
    Files.writeString(new File(d, "lake-base.txt").toPath, lake.baseRows.mkString("\n"))
    tree(d)
  }

  private def opStream(seed: Long): String = {
    val m = new LakeModel(seed, LakeMix.Symbols, LakeMix.Days, SpeedPath.MaxFiles)
    Seq.fill(300)(m.next()).mkString("\n")
  }

  test("one seed gives byte-identical inputs and op stream; another seed does not") {
    val a = inputs(7, "a")
    assert(a.keySet.exists(_.startsWith("raw/hour=")) && a.size > 24)
    assert(a == inputs(7, "b"))
    val c = inputs(8, "c")
    assert(c.keySet == a.keySet && a.keys.forall(k => a(k)._1 != c(k)._1))
    assert(opStream(7) == opStream(7))
    assert(opStream(7) != opStream(8))
  }

  test("landed files are whole CSV files with strictly increasing mtimes") {
    val landed = inputs(7, "d").filter(_._1.startsWith("landing/")).toSeq.sortBy(_._1)
    val mtimes = landed.map(_._2._2)
    assert(mtimes.zip(mtimes.tail).forall { case (a, b) => a < b })
    landed.foreach { case (rel, _) =>
      val lines = Files.readAllLines(new File("target/bench-spec/d", rel).toPath)
      assert(lines.get(0) + "\n" == Gen.CsvHeader && lines.size == 1 + SpeedPath.RowsPerFile)
    }
  }

  test("the op stream follows its cycle and keeps the model consistent") {
    val m = new LakeModel(3, LakeMix.Symbols, LakeMix.Days, SpeedPath.MaxFiles)
    val ops = Seq.fill(200)(m.next())
    assert(ops.count(_.isInstanceOf[LakeOp.Merge]) == m.merges)
    assert(ops.collect { case LakeOp.Land(k) => k } == (0 until m.landed))
    ops.collect { case LakeOp.Merge(rows) => rows }.foreach { rows =>
      assert(rows.map(r => (r._1, r._2)).distinct.size == rows.size)
    }
  }

  test("nearest-rank percentiles on a known sample") {
    val xs = Seq(15.0, 20, 35, 40, 50)
    assert(Seq(5, 30, 40, 50, 100).map(Stats.percentile(xs, _)) == Seq(15, 20, 20, 35, 50))
    val ys = (1 to 10).map(_.toDouble).reverse
    assert(Stats.median(ys) == 5 && Stats.percentile(ys, 90) == 9 &&
      Stats.percentile(ys, 95) == 10)
  }

  test("every metric name printed is declared in BENCHMARK.json and well formed") {
    val json = new ObjectMapper().readTree(new File("../BENCHMARK.json"))
    def declared(key: String): Seq[(String, String)] =
      json.get(key).elements.asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(declared("end_to_end") == Metrics.endToEnd)
    assert(declared("per_layer") == Metrics.perLayer)
    assert(json.get("workloads").elements.asScala.map(_.get("name").asText).toSeq ==
      Metrics.workloads)
    val names = Metrics.endToEnd.map(_._1) ++ Metrics.perLayer.map(_._1)
    assert(names.distinct.size == names.size)
    names.foreach(n => assert(n.matches(Metrics.NamePattern), n))
  }
}
