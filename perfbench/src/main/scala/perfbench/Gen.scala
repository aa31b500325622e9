package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.{Locale, SplittableRandom}

/** One tick as the reference producer emits it. */
final case class Tick(symbol: String, epochSec: Long, price: Double,
                      change: Double, changePct: Double, volume: Long)

/** One daily bar of the lake table. */
final case class Bar(open: Double, high: Double, low: Double, close: Double,
                     volume: Long)

/** Seeded input generators. Every input the program sees is built here from
  * the workload seed, so one seed always gives byte-identical inputs. */
object Gen {
  val Symbols: Vector[String] =
    Vector("AAPL", "MSFT", "GOOGL", "AMZN", "META", "TSLA", "NVDA", "JPM")
  /** 2024-01-02T00:00:00Z: the first tick of every generated tick stream. */
  val StartSec = 1704153600L
  /** Explicit mtime of the first landed file; later files are 1 s apart. */
  val LandingMtimeMs = 1704153600000L

  def cents(x: Double): Double = math.round(x * 100) / 100.0

  /** Random-walk ticks like the reference producer: per step one market
    * factor shared by every symbol and one factor per symbol, each uniform
    * in ±0.5 %, plus a 5 % chance per symbol of a ±2 % jump. Prices are
    * quoted in cents. Output is in time order, symbols interleaved. */
  def ticks(seed: Long, steps: Int, stepSec: Int,
            symbols: Seq[String] = Symbols): Vector[Tick] = {
    val rng = new SplittableRandom(seed)
    val price = Array.fill(symbols.size)(cents(50 + rng.nextDouble() * 450))
    val out = Vector.newBuilder[Tick]
    for (step <- 0 until steps) {
      val market = rng.nextDouble(-0.005, 0.005)
      for (i <- symbols.indices) {
        val stock = rng.nextDouble(-0.005, 0.005)
        val jump =
          if (rng.nextDouble() < 0.05) (if (rng.nextBoolean()) 0.02 else -0.02)
          else 0.0
        val prev = price(i)
        val next = math.max(cents(prev * (1 + market + stock + jump)), 0.01)
        price(i) = next
        val change = cents(next - prev)
        out += Tick(symbols(i), StartSec + step.toLong * stepSec, next, change,
          math.round(change / prev * 10000) / 100.0, 100 + rng.nextInt(10000))
      }
    }
    out.result()
  }

  private val isoFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss")
  private val hourFmt = DateTimeFormatter.ofPattern("yyyyMMddHH")

  def time(epochSec: Long): LocalDateTime =
    LocalDateTime.ofEpochSecond(epochSec, 0, ZoneOffset.UTC)

  val CsvHeader = "symbol,price,change,change_percent,volume,timestamp\n"

  /** The reference's raw tick row: percent with a `%` suffix, volume and
    * timestamp as strings. */
  def csvLine(t: Tick): String =
    s"${t.symbol},${t.price},${t.change}," +
      String.format(Locale.ROOT, "%.2f%%", Double.box(t.changePct)) +
      s",${t.volume},${isoFmt.format(time(t.epochSec))}\n"

  private def write(f: File, text: String): Unit = {
    f.getParentFile.mkdirs()
    Files.write(f.toPath, text.getBytes(StandardCharsets.UTF_8))
  }

  /** The hour-partitioned raw CSV zone: `hour=yyyyMMddHH/part-0.csv`.
    * Returns the number of files written. */
  def writeHourZone(dir: File, ticks: Seq[Tick]): Int = {
    val byHour = ticks.groupBy(t => hourFmt.format(time(t.epochSec)))
    byHour.keys.toSeq.sorted.foreach { h =>
      write(new File(dir, s"hour=$h/part-0.csv"),
        byHour(h).map(csvLine).mkString(CsvHeader, "", ""))
    }
    byHour.size
  }

  /** Lands file `i` of the speed path: written whole, with an explicit
    * mtime 1 s after file `i - 1`'s, because the file-stream source orders
    * new files by mtime alone. */
  def landFile(dir: File, i: Int, rows: Seq[Tick]): File = {
    val f = new File(dir, f"ticks-$i%05d.csv")
    write(f, rows.map(csvLine).mkString(CsvHeader, "", ""))
    require(f.setLastModified(LandingMtimeMs + i * 1000L), s"cannot set mtime of $f")
    f
  }

  // ------------------------------------------------------------- lake

  val FirstDay: LocalDate = LocalDate.of(2021, 1, 4)

  /** `n` consecutive weekdays from 2021-01-04. */
  def tradingDays(n: Int): Vector[LocalDate] =
    Iterator.iterate(FirstDay)(_.plusDays(1))
      .filter(d => d.getDayOfWeek.getValue <= 5).take(n).toVector

  def lakeSymbol(i: Int): String = f"S$i%03d"

  /** Daily bars, `bars(symbol)(day)`: one random walk per symbol. */
  def bars(seed: Long, nSymbols: Int, nDays: Int): Vector[Vector[Bar]] = {
    val rng = new SplittableRandom(seed ^ 0x5DEECE66DL)
    Vector.fill(nSymbols) {
      var close = cents(20 + rng.nextDouble() * 480)
      Vector.fill(nDays) {
        val open = close
        close = math.max(cents(open * (1 + rng.nextDouble(-0.03, 0.03))), 0.01)
        val high = cents(math.max(open, close) * (1 + rng.nextDouble(0, 0.01)))
        val low = math.max(cents(math.min(open, close) *
          (1 - rng.nextDouble(0, 0.01))), 0.01)
        Bar(open, high, low, close, 1000L + rng.nextInt(1000000))
      }
    }
  }

  /** About 2 % of the keys, held back from the base table so that they can
    * arrive later as late inserts. */
  def heldBack(seed: Long, nSymbols: Int, nDays: Int): Set[(Int, Int)] = {
    val rng = new SplittableRandom(seed ^ 0x2545F4914F6CDD1DL)
    (for (s <- 0 until nSymbols; d <- 0 until nDays
          if rng.nextDouble() < 0.02) yield (s, d)).toSet
  }
}
