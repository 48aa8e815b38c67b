package perfbench

import java.time.LocalDate
import java.util.Locale
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.runtime.Catalog
import FeedGen.Feed

/** The ODS, mart and alert rows a correct pipeline must leave behind for
  * a [[FeedGen.Feed]], computed in plain Scala from the generator's
  * model, and the comparison against the tables the run produced.
  *
  * The arithmetic mirrors the reference semantics the layers implement
  * (province → country sums with blanks as 0; LAG deltas floored at 0;
  * half-up rounding; the four alert thresholds and their message
  * formats), written independently of the layers' code.
  */
object Expected {

  final case class OdsRow(date: LocalDate, country: String, confirmed: Long,
                          deaths: Long, recovered: Long, active: Long, records: Long)

  final case class MartRow(date: LocalDate, country: String, population: Long,
                           confirmed: Long, deaths: Long, recovered: Long,
                           active: Long, newCases: Long, newDeaths: Long,
                           casesPer100k: Long, fatality: Double,
                           recovery: Double, risk: String)

  final case class AlertRow(date: LocalDate, country: String, alertType: String,
                            severity: String, metric: Double, description: String)

  def ods(feed: Feed): Seq[OdsRow] =
    for {
      d <- 0 until feed.spec.days
      (c, ci) <- feed.countries.zipWithIndex
    } yield {
      val a = feed.ods(d)(ci)
      OdsRow(feed.spec.date(d), c.name, a.confirmed, a.deaths, a.recovered,
        a.active, a.rows)
    }

  private def halfUp(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Country rows that reach the mart and alerts: those with a population. */
  private def withPopulation(feed: Feed) =
    feed.countries.zipWithIndex.filter(_._1.population.isDefined)

  def mart(feed: Feed): Seq[MartRow] =
    for {
      (c, ci) <- withPopulation(feed)
      d <- 0 until feed.spec.days
    } yield {
      val date = feed.spec.date(d)
      val pop = c.pop(date.getYear).get
      val a = feed.ods(d)(ci)
      def delta(f: FeedGen.OdsAgg => Long): Long =
        if (d == 0) 0L else math.max(f(a) - f(feed.ods(d - 1)(ci)), 0L)
      val per100k = halfUp(a.confirmed.toDouble / pop * 100000, 0).toLong
      def rate(x: Long): Double =
        if (a.confirmed > 0) halfUp(x.toDouble / a.confirmed * 100, 2) else 0.0
      val risk =
        if (per100k > 5000) "Critical" else if (per100k > 1000) "High"
        else if (per100k > 100) "Medium" else "Low"
      MartRow(date, c.name, pop, a.confirmed, a.deaths, a.recovered,
        a.confirmed - a.deaths - a.recovered, delta(_.confirmed),
        delta(_.deaths), per100k, rate(a.deaths), rate(a.recovered), risk)
    }

  def alerts(feed: Feed): Seq[AlertRow] =
    for {
      (c, ci) <- withPopulation(feed)
      d <- 1 until feed.spec.days
      date = feed.spec.date(d)
      pop = c.pop(date.getYear).get.toDouble
      cases = feed.ods(d)(ci).confirmed - feed.ods(d - 1)(ci).confirmed
      deaths = feed.ods(d)(ci).deaths - feed.ods(d - 1)(ci).deaths
      alert <- Seq(
        Option.when(cases > 0 && cases / pop >= 0.00005)(
          AlertRow(date, c.name, "CASE_RATE_POPULATION", "HIGH", cases.toDouble,
            String.format(Locale.US,
              "COVID alert: %.3f%% of population infected today (%s new cases)",
              Double.box(cases / pop * 100), Long.box(cases)))),
        Option.when(deaths > 0 && deaths / pop >= 0.0000005)(
          AlertRow(date, c.name, "DEATH_RATE_POPULATION", "HIGH", deaths.toDouble,
            String.format(Locale.US,
              "COVID death alert: %.5f%% of population died today (%s new deaths)",
              Double.box(deaths / pop * 100), Long.box(deaths)))),
        Option.when(cases * 100000.0 / pop > 10)(
          AlertRow(date, c.name, "INCIDENCE_100K", "MEDIUM", cases * 100000.0 / pop,
            String.format(Locale.US, "Daily incidence: %.2f per 100k population",
              Double.box(cases * 100000.0 / pop)))),
        Option.when(deaths * 100000.0 / pop > 1)(
          AlertRow(date, c.name, "DEATH_SPIKE_100K", "HIGH", deaths * 100000.0 / pop,
            String.format(Locale.US,
              "High daily COVID mortality: %.2f per 100k population",
              Double.box(deaths * 100000.0 / pop))))
      ).flatten
    } yield alert

  private def date(v: Any): LocalDate = v match {
    case d: java.sql.Date => d.toLocalDate
    case d: LocalDate => d
    case other => LocalDate.parse(other.toString)
  }

  private def rows(df: DataFrame, cols: String*) =
    df.select(cols.map(col): _*).collect().toSeq

  def readOds(cat: Catalog): Seq[OdsRow] =
    rows(cat.read("ods", "daily_country_stats"), "report_date", "country_region",
      "confirmed", "deaths", "recovered", "active", "source_records_cnt").map { r =>
      OdsRow(date(r.get(0)), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))
    }

  def readMart(cat: Catalog): Seq[MartRow] =
    rows(cat.read("data_mart", "covid_analytics"), "report_date", "country_name",
      "population", "total_confirmed", "total_deaths", "total_recovered",
      "current_active_cases", "new_cases_today", "new_deaths_today",
      "cases_per_100k", "fatality_rate_percent", "recovery_rate_percent",
      "risk_category").map { r =>
      MartRow(date(r.get(0)), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7), r.getLong(8),
        r.getLong(9), r.getDouble(10), r.getDouble(11), r.getString(12))
    }

  def readAlerts(cat: Catalog): Seq[AlertRow] =
    rows(cat.read("alerts", "covid_alerts"), "alert_date", "country", "alert_type",
      "severity", "metric_value", "description").map { r =>
      AlertRow(date(r.get(0)), r.getString(1), r.getString(2), r.getString(3),
        r.getDouble(4), r.getString(5))
    }

  /** Doubles agree when they match to 1e-12 relative: the model performs
    * the same IEEE operations, so any real defect is far larger.
    */
  private def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-12 * math.max(math.abs(a), math.abs(b))

  private def sameMart(a: MartRow, b: MartRow): Boolean =
    a.copy(fatality = 0, recovery = 0) == b.copy(fatality = 0, recovery = 0) &&
      close(a.fatality, b.fatality) && close(a.recovery, b.recovery)

  private def sameAlert(a: AlertRow, b: AlertRow): Boolean =
    a.copy(metric = 0) == b.copy(metric = 0) && close(a.metric, b.metric)

  /** Keyed multiset compare: a key missing on either side, a duplicate
    * key, or differing values is one mismatch, charged to its date.
    */
  private def diff[R, K](table: String, want: Seq[R], got: Seq[R], key: R => K,
                         day: R => LocalDate, same: (R, R) => Boolean): Seq[(LocalDate, String)] = {
    val w = want.groupBy(key)
    val g = got.groupBy(key)
    (w.keySet ++ g.keySet).toSeq.flatMap { k =>
      (w.getOrElse(k, Nil), g.getOrElse(k, Nil)) match {
        case (Seq(a), Seq(b)) if same(a, b) => None
        case (ws, gs) =>
          val r = (ws ++ gs).head
          Some(day(r) -> s"$table $k: expected ${ws.mkString(" | ")}, got ${gs.mkString(" | ")}")
      }
    }
  }

  /** Every mismatch between the model and the final tables, by date. */
  def check(feed: Feed, cat: Catalog): Seq[(LocalDate, String)] =
    diff[OdsRow, (LocalDate, String)]("ods", ods(feed), readOds(cat),
      r => (r.date, r.country), _.date, _ == _) ++
    diff[MartRow, (LocalDate, String)]("mart", mart(feed), readMart(cat),
      r => (r.date, r.country), _.date, sameMart) ++
    diff[AlertRow, (LocalDate, String, String)]("alerts", alerts(feed), readAlerts(cat),
      r => (r.date, r.country, r.alertType), _.date, sameAlert)
}
