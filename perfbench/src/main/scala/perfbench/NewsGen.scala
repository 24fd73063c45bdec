package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.{LocalDate, LocalDateTime}
import java.time.format.TextStyle
import java.util.{Locale, SplittableRandom}

import scala.collection.mutable

/** Seeded generator for `news_monthly`: a five-year history and a run of
  * monthly increments, each one raw headerless 10-column CSV in the
  * reference's ingest format (FIXTURES.md A1).
  *
  * Rows carry 9 date formats, 24h and am/pm times, dirty numerics
  * (`5.2%`, `1.2K`, `N/A`, empty) and mixed-case impacts. Group sizes
  * follow a Zipf law over (Currency, Event), so groups fall on both sides
  * of the pipeline's 50-row model threshold. Every month adds known
  * numbers of in-month duplicate keys, rows far older than the stream's
  * 30-day watermark and rows with unparseable dates.
  *
  * The expected committed row count after the history and after each
  * month is counted here, from the keys written, without engine code:
  * valid keys are distinct by construction, and duplicates, late rows and
  * bad dates add none. They are also written to `expected.json`. */
object NewsGen {
  final case class Output(history: File, months: Seq[File],
                          expectedAfterHistory: Long,
                          expectedAfterMonth: Seq[Long],
                          monthRawRows: Seq[Long])

  private val Currencies = Seq("USD", "EUR", "GBP", "JPY", "AUD", "CAD",
    "CHF", "NZD", "CNY", "SEK", "NOK", "MXN")
  private val EventNames = Seq("Nonfarm Payrolls", "CPI m/m", "Core CPI y/y",
    "GDP q/q", "Retail Sales m/m", "Unemployment Rate", "Manufacturing PMI",
    "Trade Balance", "Interest Rate Decision", "Consumer Confidence",
    "Building Permits", "Industrial Production m/m")
  private val Impacts = Seq("low", "medium", "high", "Low", "Medium", "High",
    "HIGH", "holiday", "")
  private val BadDates = Seq("TBD", "2021-13-45", "31/31/2020", "", "Tentative",
    "32 Foo 2020")
  private val SlotMinutes = 15
  private val HistoryStart = LocalDateTime.of(2019, 1, 1, 0, 0)
  private val HistoryYears = 5
  private val MonthsStart = LocalDate.of(2024, 1, 1)
  private val Groups = 300
  private val HistoryRows = 5000
  private val MonthRows = 500
  private val Months = 24

  def apply(seed: Long, dir: File): Output = {
    dir.mkdirs()
    val rng = new SplittableRandom(seed)
    // Zipf(1.2) sizes over a seeded permutation of the groups
    val order = shuffle(rng, (0 until Groups).toArray)
    val weight = Array.tabulate(Groups)(g => math.pow(order(g) + 1.0, -1.2))
    val wSum = weight.sum
    val cdf = weight.scanLeft(0.0)(_ + _).tail.map(_ / wSum)
    def pickGroup(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      math.min(if (i >= 0) i else -i - 1, Groups - 1)
    }
    val mean = Array.fill(Groups)(rng.nextDouble() * 200 - 5)

    def currency(g: Int) = Currencies(g % Currencies.size)
    def event(g: Int) = {
      val j = g / Currencies.size
      s"${EventNames(j % EventNames.size)} #${j / EventNames.size + 1}"
    }

    def write(f: File, rows: Iterator[Seq[String]]): Long = {
      val w = new BufferedWriter(new FileWriter(f))
      var n = 0L
      try rows.foreach { r =>
        w.write(r.map(v => "\"" + v + "\"").mkString(","))
        w.newLine()
        n += 1
      } finally w.close()
      n
    }
    def row(g: Int, date: String, t: LocalDateTime): Seq[String] = {
      val v = mean(g) + rng.nextGaussian() * (math.abs(mean(g)) * 0.1 + 0.5)
      Seq(date, renderTime(rng, t), currency(g), event(g),
        Impacts(rng.nextInt(Impacts.size)), renderNumber(rng, v),
        renderNumber(rng, v * 1.01), renderNumber(rng, v * 0.98),
        if (rng.nextInt(20) == 0) "True" else "False", s"W${t.getDayOfYear / 7}")
    }
    def valid(g: Int, t: LocalDateTime) = row(g, renderDate(rng, t.toLocalDate), t)
    def badDate(g: Int, t: LocalDateTime) =
      row(g, BadDates(rng.nextInt(BadDates.size)), t)

    // distinct 15-minute slots per group inside [start, start + nSlots)
    def slots(start: LocalDateTime, nSlots: Int, used: mutable.Set[(Int, Int)])(g: Int): LocalDateTime = {
      var s = rng.nextInt(nSlots)
      while (!used.add((g, s))) s = rng.nextInt(nSlots)
      start.plusMinutes(s.toLong * SlotMinutes)
    }

    // history: one batch; in-batch duplicates and bad dates only (no
    // watermark exists before the first batch)
    val histSlots = HistoryYears * 365 * 24 * 60 / SlotMinutes
    val histUsed = mutable.HashSet.empty[(Int, Int)]
    val sizes = Array.tabulate(Groups)(g =>
      math.max(2, math.round(HistoryRows * weight(g) / wSum).toInt))
    val histKeys = (0 until Groups).flatMap(g =>
      Seq.fill(sizes(g))(g -> slots(HistoryStart, histSlots, histUsed)(g)))
    val histDups = Seq.fill(histKeys.size / 100)(histKeys(rng.nextInt(histKeys.size)))
    val histBad = Seq.fill(histKeys.size / 200)(histKeys(rng.nextInt(histKeys.size)))
    val history = new File(dir, "history.csv")
    write(history, histKeys.iterator.map { case (g, t) => valid(g, t) } ++
      histDups.iterator.map { case (g, t) => valid(g, t) } ++
      histBad.iterator.map { case (g, t) => badDate(g, t) })

    var total = histKeys.size.toLong
    val expected = mutable.ArrayBuffer.empty[Long]
    val raw = mutable.ArrayBuffer.empty[Long]
    val files = (1 to Months).map { m =>
      val start = MonthsStart.plusMonths(m - 1L).atStartOfDay()
      val nSlots = start.toLocalDate.lengthOfMonth() * 24 * 60 / SlotMinutes
      val used = mutable.HashSet.empty[(Int, Int)]
      val keys = Seq.fill(MonthRows) { val g = pickGroup(); g -> slots(start, nSlots, used)(g) }
      val dups = Seq.fill(MonthRows / 50)(keys(rng.nextInt(keys.size)))
      // far older than the watermark (history max − 30 days) and off the
      // 15-minute grid, so a late row never repeats a stored key
      val late = Seq.fill(MonthRows / 100)(rng.nextInt(Groups) -> HistoryStart
        .plusDays(rng.nextInt(700).toLong).plusHours(rng.nextInt(24).toLong).plusMinutes(7))
      val bad = Seq.fill(MonthRows / 200)(keys(rng.nextInt(keys.size)))
      val f = new File(dir, f"month_$m%02d.csv")
      raw += write(f, shuffle(rng, (keys.map { case (g, t) => valid(g, t) } ++
        dups.map { case (g, t) => valid(g, t) } ++
        late.map { case (g, t) => valid(g, t) } ++
        bad.map { case (g, t) => badDate(g, t) }).toArray).iterator)
      total += keys.size
      expected += total
      f
    }
    val exp = Json.obj().put("seed", seed).put("rows_after_history", histKeys.size)
    expected.foreach(exp.putArray("rows_after_month").add(_))
    Json.write(new File(dir, "expected.json"), exp)
    Output(history, files, histKeys.size.toLong, expected.toSeq, raw.toSeq)
  }

  private def shuffle[A](rng: SplittableRandom, a: Array[A]): Array[A] = {
    for (i <- a.indices.reverse if i > 0) {
      val j = rng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  /** One of the 9 ingest date formats. The day-first slash and dash forms
    * are used only when the day exceeds 12, where the month-first
    * reading cannot match, so every rendered date parses to `d`. */
  private def renderDate(rng: SplittableRandom, d: LocalDate): String = {
    val (y, m, day) = (d.getYear, d.getMonthValue, d.getDayOfMonth)
    val full = d.getMonth.getDisplayName(TextStyle.FULL, Locale.US)
    val short = d.getMonth.getDisplayName(TextStyle.SHORT, Locale.US)
    rng.nextInt(9) match {
      case 0 => f"$y-$m%02d-$day%02d"
      case 1 => s"$day $full $y"
      case 3 if day > 12 => f"$day%02d/$m%02d/$y"
      case 2 | 3 => f"$m%02d/$day%02d/$y"
      case 4 => f"$y/$m%02d/$day%02d"
      case 6 if day > 12 => f"$day%02d-$m%02d-$y"
      case 5 | 6 => f"$m%02d-$day%02d-$y"
      case 7 => s"$short $day, $y"
      case _ => s"$full $day, $y"
    }
  }

  private def renderTime(rng: SplittableRandom, t: LocalDateTime): String = {
    val (h, mi) = (t.getHour, t.getMinute)
    if (rng.nextBoolean()) f"$h%02d:$mi%02d"
    else f"${if (h % 12 == 0) 12 else h % 12}:$mi%02d ${if (h < 12) "AM" else "PM"}"
  }

  private def renderNumber(rng: SplittableRandom, v: Double): String = {
    val u = rng.nextInt(100)
    if (u < 55) f"$v%.1f"
    else if (u < 70) f"$v%.1f%%"
    else if (u < 80) f"${v / 1e3}%.3fK"
    else if (u < 85) f"${v / 1e6}%.6fM"
    else if (u < 88) f"${v / 1e9}%.9fB"
    else if (u < 90) f"${v / 1e12}%.12fT"
    else if (u < 95) ""
    else "N/A"
  }
}
