package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate

/** Deterministic JHU-shaped daily-report feed plus its population table.
  *
  * Every cell is a pure function of (seed, country, row, day), and the
  * generator sums what it writes into per-(day, country) ODS aggregates
  * while it writes, so [[Expected]] derives the ODS, mart and alert rows
  * from the same model without reading the files back. The program under
  * test only ever sees the files.
  *
  * The feed carries the drift the raw layer has to absorb:
  *  - three header generations (6-column, +`Latitude`/`Longitude`,
  *    modern 14-column) when `drift` is on;
  *  - country names that `ops/CountryMap` renames, some of which change
  *    spelling between generations (`Mainland China` → `China`);
  *  - three timestamp formats plus a few unparseable ones;
  *  - a few blank numeric cells;
  *  - one country (`Atlantis`) with no population row, so the DDS join
  *    misses for it.
  * Daily case counts are drawn so that every alert rule fires on some
  * days and the mart's cumulative rates span every risk bucket.
  */
object FeedGen {

  /** The feed's first file carries the date `runtime.Runner` starts at. */
  val firstDate: LocalDate = LocalDate.parse("2020-01-22")
  val years: Seq[Int] = 2020 to 2024

  sealed trait Header
  case object Early extends Header
  case object Mid extends Header
  case object Modern extends Header

  val headers: Map[Header, String] = Map(
    Early -> "Province/State,Country/Region,Last Update,Confirmed,Deaths,Recovered",
    Mid -> ("Province/State,Country/Region,Last Update,Confirmed,Deaths," +
      "Recovered,Latitude,Longitude"),
    Modern -> ("FIPS,Admin2,Province_State,Country_Region,Last_Update,Lat," +
      "Long_,Confirmed,Deaths,Recovered,Active,Combined_Key,Incident_Rate," +
      "Case-Fatality_Ratio"))

  /** Feed shape: day count, rows per country per file, header drift on/off. */
  final case class Spec(days: Int, rowsPerCountry: Int, drift: Boolean) {
    def header(day: Int): Header =
      if (!drift) Modern
      else if (day * 3 < days) Early
      else if (day * 3 < days * 2) Mid
      else Modern
    def date(day: Int): LocalDate = firstDate.plusDays(day.toLong)
  }

  /** A country: its spelling in early and modern files, its population-
    * table name (what ODS must normalize it to), and its 2020 population
    * (None = no population row).
    */
  final case class Country(early: String, modern: String, name: String,
                           population: Option[Long]) {
    def jhu(h: Header): String = if (h == Modern) modern else early
    def pop(year: Int): Option[Long] =
      population.map(p => p + p / 100 * (year - 2020))
  }

  /** Per-(day, country) sums of what the feed wrote, as ODS computes them:
    * blank cells count as 0.
    */
  final case class OdsAgg(confirmed: Long, deaths: Long, recovered: Long,
                          active: Long, rows: Long)

  final case class Feed(spec: Spec, countries: IndexedSeq[Country],
                        inputDir: Path, populationCsv: Path,
                        inputBytes: Long, ods: Array[Array[OdsAgg]],
                        blankCells: Long = 0, badTimestamps: Long = 0) {
    def dates: Seq[LocalDate] = (0 until spec.days).map(spec.date)
  }

  private val renamed: Seq[(String, String, String)] = Seq(
    ("Mainland China", "China", "China"),
    ("Iran (Islamic Republic of)", "Iran", "Iran, Islamic Rep."),
    ("US", "US", "United States"),
    ("Korea, South", "Korea, South", "Korea, Rep."),
    ("Taiwan*", "Taiwan*", "Taiwan"),
    ("Hong Kong", "Hong Kong", "Hong Kong SAR, China"),
    ("Russia", "Russia", "Russian Federation"),
    ("Turkey", "Turkey", "Turkiye"),
    ("Vietnam", "Vietnam", "Viet Nam"),
    ("Burma", "Burma", "Myanmar"),
    ("Slovakia", "Slovakia", "Slovak Republic"),
    ("Kyrgyzstan", "Kyrgyzstan", "Kyrgyz Republic"),
    ("Egypt", "Egypt", "Egypt, Arab Rep."),
    ("Venezuela", "Venezuela", "Venezuela, RB"))

  val countryCount = 190
  val missingCountry = "Atlantis"

  // splitmix64 finalizer: cheap, well-mixed, stable across JVMs
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def hash(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed))((h, p) => mix(h ^ p))
  private def unit(seed: Long, parts: Long*): Double =
    (hash(seed, parts: _*) >>> 11).toDouble / (1L << 53).toDouble

  def countries(seed: Long): IndexedSeq[Country] = {
    val named = renamed :+ ((missingCountry, missingCountry, missingCountry))
    val synthetic = (named.size until countryCount).map { i =>
      val n = f"Country $i%03d"
      (n, n, n)
    }
    (named ++ synthetic).zipWithIndex.map { case ((e, m, n), i) =>
      // log-uniform 2e5 .. 1.4e9
      val pop = math.exp(math.log(2e5) +
        unit(seed, 1, i) * (math.log(1.4e9) - math.log(2e5))).round
      Country(e, m, n, if (n == missingCountry) None else Some(pop))
    }.toIndexedSeq
  }

  /** Country-level cumulative (confirmed, deaths) per day. Day-over-day
    * incidence per 100k is mostly 0-8 with spikes of 11-41 on about one
    * day in five (CASE_RATE fires on most days, INCIDENCE_100K on the
    * spikes); deaths per 100k are mostly 0-0.5 with spikes above 1 (the
    * two death rules likewise). The starting level spans 0-7000 per 100k,
    * so every risk bucket occurs.
    */
  private def series(seed: Long, c: Int, pop: Long,
                     days: Int): (Array[Long], Array[Long]) = {
    val conf = new Array[Long](days)
    val dead = new Array[Long](days)
    conf(0) = (pop * unit(seed, 2, c) * 7000 / 1e5).round
    dead(0) = conf(0) / 50
    for (d <- 1 until days) {
      val inc =
        if (unit(seed, 3, c, d) < 0.2) 11 + 30 * unit(seed, 4, c, d)
        else 8 * unit(seed, 4, c, d)
      val dinc =
        if (unit(seed, 5, c, d) < 0.12) 1.1 + 2 * unit(seed, 6, c, d)
        else 0.5 * unit(seed, 6, c, d)
      conf(d) = conf(d - 1) + (pop * inc / 1e5).round
      dead(d) = dead(d - 1) + (pop * dinc / 1e5).round
    }
    (conf, dead)
  }

  /** Row `i` of `n` gets this share of a country total; shares sum exactly. */
  private def share(total: Long, i: Int, n: Int): Long =
    total * (i + 1) / n - total * i / n

  private def quoted(s: String): String =
    if (s.contains(",")) "\"" + s + "\"" else s

  /** `v / 100` with two decimals, without going through a formatter. */
  private def appendHundredths(sb: java.lang.StringBuilder, value: Long): Unit = {
    if (value < 0) sb.append('-')
    val v = math.abs(value)
    sb.append(v / 100).append('.')
    val f = v % 100
    if (f < 10) sb.append('0')
    sb.append(f)
  }

  private def timestamp(h: Header, date: LocalDate, bad: Boolean): String =
    if (bad) "n/a"
    else h match {
      case Early => s"${date.getMonthValue}/${date.getDayOfMonth}/${date.getYear} 17:00"
      case Mid => s"${date}T17:00:00"
      case Modern => s"$date 17:00:00"
    }

  /** Write the feed under `dir` (`input/<date>.csv`, `population.csv`). */
  def write(seed: Long, spec: Spec, dir: Path): Feed = {
    val cs = countries(seed)
    val input = Files.createDirectories(dir.resolve("input"))
    val popCsv = dir.resolve("population.csv")
    val popLines = "country,country_code,year,population" +: (for {
      (c, i) <- cs.zipWithIndex
      y <- years
      p <- c.pop(y)
    } yield f"${quoted(c.name)},C$i%03d,$y,$p")
    Files.write(popCsv, (popLines.mkString("\n") + "\n").getBytes(StandardCharsets.UTF_8))

    val n = spec.rowsPerCountry
    val sers = cs.zipWithIndex.map { case (c, i) =>
      series(seed, i, c.population.getOrElse(1000000L), spec.days)
    }
    // static per-row text: province / county labels and coordinates
    def province(c: Int, i: Int): String =
      if (n <= 4) (if (i == 0 && c % 7 == 0) "" else s"Province $i")
      else s"Province ${i % 16}"
    def county(i: Int): String = if (n <= 4) "" else f"County $i%05d"
    def coord(c: Int, i: Int, axis: Int, span: Int): Long =
      ((unit(seed, 8, c, i, axis) - 0.5) * span * 10000).round

    val ods = Array.ofDim[OdsAgg](spec.days, cs.size)
    var bytes, blanks, badTimestamps = 0L
    val sb = new java.lang.StringBuilder(256)
    for (d <- 0 until spec.days) {
      val h = spec.header(d)
      val date = spec.date(d)
      val file = input.resolve(s"$date.csv")
      val out = new BufferedWriter(new OutputStreamWriter(
        Files.newOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
      try {
        out.write(headers(h)); out.write('\n')
        for ((c, ci) <- cs.zipWithIndex) {
          val (conf, dead) = sers(ci)
          val country = quoted(c.jhu(h))
          var sc, sd, sr, sa = 0L
          for (i <- 0 until n) {
            val cv = share(conf(d), i, n)
            val dv = share(dead(d), i, n)
            val rv = cv * 6 / 10
            val av = cv - dv - rv
            // about one numeric cell in 500 is blank
            def blank(f: Int): Boolean = hash(seed, 7, ci, i, d * 4L + f) % 500 == 0
            val badTs = hash(seed, 9, ci, i, d) % 300 == 0
            if (badTs) badTimestamps += 1
            sb.setLength(0)
            val prov = province(ci, i)
            if (h == Modern) sb.append(',').append(county(i)).append(',')
            sb.append(prov).append(',').append(country).append(',')
              .append(timestamp(h, date, badTs)).append(',')
            if (h == Modern) {
              appendHundredths(sb, coord(ci, i, 0, 120) / 100); sb.append(',')
              appendHundredths(sb, coord(ci, i, 1, 360) / 100); sb.append(',')
            }
            def num(v: Long, f: Int): Long =
              if (blank(f)) { blanks += 1; 0L } else { sb.append(v); v }
            sc += num(cv, 0); sb.append(',')
            sd += num(dv, 1); sb.append(',')
            sr += num(rv, 2)
            h match {
              case Early =>
              case Mid =>
                sb.append(',')
                appendHundredths(sb, coord(ci, i, 0, 120) / 100); sb.append(',')
                appendHundredths(sb, coord(ci, i, 1, 360) / 100)
              case Modern =>
                sb.append(',')
                sa += num(av, 3)
                val key = Seq(county(i), prov, c.jhu(h)).filter(_.nonEmpty).mkString(", ")
                sb.append(',').append(quoted(key)).append(',')
                appendHundredths(sb, cv * 10000000L / c.population.getOrElse(1000000L))
                sb.append(',')
                appendHundredths(sb, if (cv > 0) dv * 10000 / cv else 0)
            }
            sb.append('\n')
            out.append(sb)
          }
          ods(d)(ci) = OdsAgg(sc, sd, sr, sa, n)
        }
      } finally out.close()
      bytes += Files.size(file)
    }
    Feed(spec, cs, input, popCsv, bytes + Files.size(popCsv), ods, blanks, badTimestamps)
  }
}
