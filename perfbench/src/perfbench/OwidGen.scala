package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.time.LocalDate

/** Seeded OWID-shaped feeds, written day by day as the cumulative CSV
  * files the pipeline ingests: the five sources and columns of
  * FIXTURES.md §B, every value a string.
  *
  * Day `d`'s files hold every date from `Start` to `yesterday(d)`, one
  * row per location and date (four per date for hospitalizations, one
  * per indicator). Compared with day `d - 1`, each day
  *  - adds the new "yesterday" slice for every location;
  *  - restates `restated` earlier rows per source, with new values;
  *  - keeps locations that are missing from the country map (only in
  *    `excess_mortality` and `full_data`; the pipeline drops them);
  *  - keeps malformed numerics: `aged_65_older` / `aged_70_older` are
  *    decimals such as `"19.4"` in integer columns, and some count cells
  *    are empty.
  * `next(dir, backfill = true)` instead restates ≈10 % of the rows of
  * the trailing 365 days of every source.
  *
  * A cell's value is a hash of (seed, source, location, date, column,
  * revision), where the revision counts the restatements of its row, so
  * the files of a day are a pure function of the seed and the day.
  */
final class OwidGen(seed: Long, val locations: Int, val history: Int, restated: Int, maxDays: Int) {
  import OwidGen._

  private val unmapped = 2
  private val dates = history + maxDays + 1
  // rev(source)(location)(date): restatements of that row so far
  private val rev = Array.fill(Sources.size, locations + unmapped, dates)(0.toByte)
  private var day = -1

  def today(d: Int): LocalDate = Start.plusDays(history.toLong + d)
  def asOf(d: Int): String = s"${today(d)} 04:00:00"

  /** Number of dates in day `d`'s files. */
  private def nDates(d: Int) = history + d

  private def hasRows(src: Int, loc: Int): Boolean = src match {
    case Excess => loc % 5 != 4
    case Hosp => loc % 3 != 2 && loc < locations
    case Owid | Vacc => loc < locations
    case _ => true
  }

  private def mix(parts: Long*): Long = {
    var h = seed ^ 0x9E3779B97F4A7C15L
    for (p <- parts) {
      h ^= p + 0x9E3779B97F4A7C15L + (h << 6) + (h >>> 2)
      h = java.lang.Long.rotateLeft(h * 0xBF58476D1CE4E5B9L, 31) * 0x94D049BB133111EBL
    }
    h ^ (h >>> 29)
  }
  private def u(src: Int, loc: Int, date: Int, c: Int): Long =
    mix(src, loc, date, c, rev(src)(loc)(date)) & Long.MaxValue

  private def count(src: Int, loc: Int, date: Int, c: Int, max: Int): String = {
    val h = u(src, loc, date, c)
    if (h % 23 == 0) "" else (h % max).toString
  }
  private def dec(src: Int, loc: Int, date: Int, c: Int, max: Int, dp: Int): String = {
    val h = u(src, loc, date, c)
    java.math.BigDecimal.valueOf(h % (max.toLong * pow10(dp)), dp).toPlainString
  }
  private def pow10(n: Int) = (1 to n).foldLeft(1L)((a, _) => a * 10)

  def location(loc: Int): String = if (loc < locations) f"Country $loc%03d" else f"Atlantis $loc%03d"
  def iso(loc: Int): String = f"C$loc%03d"

  /** Restate rows of the files after `nDates(day - 1)`: a seeded sample
    * of `n` existing rows per source among the dates in `[from, to)`.
    */
  private def restate(src: Int, n: Int, from: Int, to: Int): Unit = {
    val rnd = new java.util.SplittableRandom(mix(day, src, 0xBACF11))
    val locs = (0 until locations + unmapped).filter(hasRows(src, _))
    val span = to - from
    val chosen = scala.collection.mutable.HashSet.empty[(Int, Int)]
    while (chosen.size < math.min(n, locs.size * span))
      chosen += ((locs(rnd.nextInt(locs.size)), from + rnd.nextInt(span)))
    for ((l, d) <- chosen) rev(src)(l)(d) = (rev(src)(l)(d) + 1).toByte
  }

  /** Write the next day's five files into `dir`; returns the day index. */
  def next(dir: File, backfill: Boolean = false): Int = {
    day += 1
    require(day <= maxDays, s"generator sized for $maxDays days")
    if (day > 0) {
      val prior = nDates(day - 1) // dates before the new "yesterday" slice
      for (src <- Sources.indices) {
        if (backfill) {
          val from = math.max(0, prior - 365)
          val rows = (0 until locations + unmapped).count(hasRows(src, _)) * (prior - from)
          restate(src, rows / 10, from, prior)
        } else restate(src, restated, math.max(0, prior - 60), prior)
      }
    }
    dir.mkdirs()
    for (src <- Sources.indices) write(new File(dir, Files(src)), src)
    day
  }

  private def write(f: File, src: Int): Unit = {
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(f), StandardCharsets.UTF_8), 1 << 16)
    try {
      w.write(Headers(src)); w.write('\n')
      val sb = new java.lang.StringBuilder(256)
      for (loc <- 0 until locations + unmapped if hasRows(src, loc); d <- 0 until nDates(day)) {
        val date = Start.plusDays(d.toLong).toString
        def row(cells: String*): Unit = {
          sb.setLength(0)
          cells.foreach { c => if (sb.length > 0) sb.append(','); sb.append(c) }
          sb.append('\n')
          w.write(sb.toString)
        }
        src match {
          case Owid => row(location(loc), iso(loc), date,
            dec(src, loc, d, 0, 100, 2), count(src, loc, d, 1, 90000000),
            dec(src, loc, d, 2, 30, 1), dec(src, loc, d, 3, 20, 1),
            count(src, loc, d, 4, 100000), count(src, loc, d, 5, 10000000))
          case Vacc => row(iso(loc), date, count(src, loc, d, 0, 50000000),
            count(src, loc, d, 1, 500000), count(src, loc, d, 2, 1000000))
          case Hosp => Indicators.indices.foreach { i =>
            row(iso(loc), date, Indicators(i), dec(src, loc, d, i, 50000, 3)) }
          case Excess => row(location(loc), date, dec(src, loc, d, 0, 20000, 3))
          case _ => row(Seq(location(loc), date) ++
            (0 until 6).map(c => count(src, loc, d, c, 1000000)): _*)
        }
      }
    } finally w.close()
  }
}

object OwidGen {
  val Start: LocalDate = LocalDate.parse("2020-01-01")
  val Owid = 0; val Vacc = 1; val Hosp = 2; val Excess = 3; val Full = 4
  val Sources: Seq[Int] = Seq(Owid, Vacc, Hosp, Excess, Full)
  val Files: Seq[String] = Seq("owid-covid-data.csv", "vaccinations.csv",
    "covid-hospitalizations.csv", "excess_mortality.csv", "full_data.csv")
  val Headers: Seq[String] = Seq(
    "location,iso_code,date,stringency_index,population,aged_65_older,aged_70_older,new_tests,total_tests",
    "iso_code,date,total_vaccinations,daily_vaccinations,total_boosters",
    "iso_code,date,indicator,value",
    "location,date,excess_proj_all_ages",
    "location,date,new_cases,new_deaths,total_cases,total_deaths,weekly_cases,weekly_deaths")
  val Indicators: Seq[String] = Seq("Daily hospital occupancy", "Daily ICU occupancy",
    "Weekly new hospital admissions", "Weekly new ICU admissions")
}
