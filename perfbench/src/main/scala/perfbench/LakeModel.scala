package perfbench

import java.util.SplittableRandom

import scala.collection.mutable

/** One operation of the lake_mix stream. Symbols and days are indices into
  * [[Gen.lakeSymbol]] and [[Gen.tradingDays]]. */
sealed trait LakeOp
object LakeOp {
  /** `MERGE INTO` of late corrections and late inserts. */
  final case class Merge(rows: Vector[(Int, Int, Bar)]) extends LakeOp
  final case class Point(sym: Int, day: Int) extends LakeOp
  final case class Range(sym: Int, from: Int, to: Int) extends LakeOp
  /** `VersionedTable.readWhereEq` on the symbol. */
  final case class BySymbol(sym: Int) extends LakeOp
  /** `VersionedTable.fastCount`. */
  case object Count extends LakeOp
  /** Read one symbol as of the table version that followed merge `merge`
    * (0 = the base table). */
  final case class TimeTravel(merge: Int, sym: Int) extends LakeOp
  /** `VersionedTable.syncChanges` into the synced copy, which applies
    * `changed` rows: the keys whose value differs from the last sync. */
  final case class Sync(changed: Int) extends LakeOp
  /** Land speed-path file `file` and run the speed path over it. */
  final case class Land(file: Int) extends LakeOp
}

/** The seeded lake_mix op stream together with the in-memory model of the
  * table it drives. The stream depends only on the seed and on the ops
  * already drawn, never on timing, so a run that completes `n` ops has run
  * exactly the first `n` ops of its seed's stream. */
final class LakeModel(seed: Long, val nSymbols: Int, val nDays: Int,
                      maxFiles: Int) {
  import LakeOp._
  import LakeModel.MergeRows

  private val base = Gen.bars(seed, nSymbols, nDays)
  private val late = Gen.heldBack(seed, nSymbols, nDays)
  /** Current content of the table. */
  val rows: mutable.Map[(Int, Int), Bar] = mutable.HashMap.empty
  for (s <- 0 until nSymbols; d <- 0 until nDays if !late((s, d)))
    rows((s, d)) = base(s)(d)
  /** Keys merged since the last sync, with their value at that sync. The
    * base table is loaded by the initial full sync, before any merge. */
  private val sinceSync = mutable.HashMap.empty[(Int, Int), Option[Bar]]
  /** Rows per symbol after each merge; index 0 is the base table. */
  private val countsAt = mutable.ArrayBuffer(symbolCounts())

  def baseRows: Seq[((Int, Int), Bar)] = rows.toSeq.sortBy(_._1)
  def merges: Int = countsAt.size - 1
  def countAt(merge: Int, sym: Int): Int = countsAt(merge)(sym)
  def symbolCount(sym: Int): Int = countsAt.last(sym)

  private def symbolCounts(): Array[Int] = {
    val c = new Array[Int](nSymbols)
    rows.keysIterator.foreach { case (s, _) => c(s) += 1 }
    c
  }

  private val rng = new SplittableRandom(seed ^ 0x9E3779B97F4A7C15L)
  /** Zipf over symbols: symbol 0 is the hottest. */
  private val zipfCdf = {
    val w = (1 to nSymbols).map(r => 1.0 / math.pow(r, LakeModel.ZipfS))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  private def zipfSymbol(): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, nSymbols - 1)
  }
  /** Recent days favoured: exponential age in trading days. */
  private def recentDay(): Int = math.max(0,
    nDays - 1 - (-LakeModel.MeanAgeDays * math.log(1 - rng.nextDouble())).toInt)
  private def anyDay(): Int = rng.nextInt(nDays)

  private var drawn = 0
  /** Speed-path files landed so far. */
  var landed = 0

  /** Draws the next op. Op kinds follow [[LakeModel.Cycle]]; symbols,
    * days, rows and versions come from the seed. A merge is applied to the
    * model as it is drawn. */
  def next(): LakeOp = {
    val kind = LakeModel.Cycle(drawn % LakeModel.Cycle.length)
    drawn += 1
    kind match {
      case 'M' => merge()
      case 'S' =>
        val changed = sinceSync.count { case (k, was) => rows.get(k) != was }
        sinceSync.clear()
        Sync(changed)
      case 'L' if landed < maxFiles =>
        landed += 1
        Land(landed - 1)
      case 'P' => Point(zipfSymbol(), recentDay())
      case 'R' =>
        val from = anyDay()
        Range(zipfSymbol(), from, math.min(nDays - 1, from + 5 + rng.nextInt(40)))
      case 'B' => BySymbol(zipfSymbol())
      case 'T' => TimeTravel(rng.nextInt(merges + 1), zipfSymbol())
      case _ => Count
    }
  }

  /** A late batch for one recent day: distinct Zipf symbols on that day. */
  private def merge(): Merge = {
    val day = recentDay()
    val keys = mutable.LinkedHashSet.empty[(Int, Int)]
    while (keys.size < MergeRows) keys += ((zipfSymbol(), day))
    val out = keys.toVector.map { case k @ (s, d) =>
      val bar = rows.get(k) match {
        case None => base(s)(d) // a late insert
        case Some(b) =>
          var close = Gen.cents(b.close * (1 + rng.nextDouble(-0.01, 0.01)))
          if (close == b.close) close = Gen.cents(close + 0.01)
          close = math.max(close, 0.01)
          Bar(b.open, math.max(b.high, close), math.min(b.low, close), close,
            b.volume + rng.nextInt(1000))
      }
      sinceSync.getOrElseUpdate(k, rows.get(k))
      rows(k) = bar
      (s, d, bar)
    }
    countsAt += symbolCounts()
    Merge(out)
  }

  /** Current rows of one symbol with day in [from, to], in day order. */
  def range(sym: Int, from: Int, to: Int): Seq[(Int, Bar)] =
    (from to to).flatMap(d => rows.get((sym, d)).map(d -> _))
}

/** The op stream's parameters. The reference publishes no traffic mix, so
  * all but the merge size are synthetic choices; perfbench/README.md gives
  * the basis of each. */
object LakeModel {
  /** One lake_mix pass: three rounds of a merge and the four kinds of
    * keyed read (point, range, by-symbol, time travel), then count, land
    * and sync. Every pass has the same mix of kinds, so a run's figures do
    * not depend on where its time window ends; three rounds give each run
    * enough commit and read samples for steady figures. */
  val Cycle = "MPRBTMPRBTCMPRBTLS"
  /** Rows per `MERGE INTO`, corrections or late inserts of one day: one
    * day's bars of ten symbols, like the daily increment of the reference's
    * ten historical symbols that its batch loader merges on (symbol, date). */
  val MergeRows = 10
  /** Skew of the symbols merged and read. */
  val ZipfS = 1.1
  /** Mean age, in trading days, of the day a merge or point read picks:
    * about one trading month. */
  val MeanAgeDays = 20
}
