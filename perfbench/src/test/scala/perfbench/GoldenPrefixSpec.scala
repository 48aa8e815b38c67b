package perfbench

import java.nio.file.{Files, Path}
import java.time.LocalDate
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.layers.PopulationLayer
import graft.runtime.{Catalog, GraftSession, Runner}
import graft.schema.Schemas
import FeedGen._

/** The benchmark's model and output check on a 3-day prefix shaped like
  * the program's own end-to-end fixture (two early-header days, one
  * modern-header day; China, US and Japan): the model reproduces that
  * fixture's golden numbers, and the pipeline's tables pass the check.
  */
class GoldenPrefixSpec extends AnyFunSuite {

  private val early = headers(Early)
  private val modern = headers(Modern)
  private val files = Seq(
    "2020-01-22" -> Seq(early,
      "Hubei,Mainland China,1/22/2020 17:00,444,17,28",
      "Beijing,Mainland China,1/22/2020 17:00,100,1,2",
      ",US,1/22/2020 17:00,1,0,0",
      ",Japan,1/22/2020 17:00,100,0,0"),
    "2020-01-23" -> Seq(early,
      "Hubei,Mainland China,1/23/2020 17:00,644,18,30",
      "Beijing,Mainland China,1/23/2020 17:00,200,1,5",
      ",US,1/23/2020 17:00,1,0,0",
      ",Japan,1/23/2020 17:00,250,0,0"),
    "2020-01-24" -> Seq(modern,
      ",,Hubei,Mainland China,2020-01-24 17:00:00,30.9,112.2,700,19,40,641,\"Hubei, China\",1.1,2.7",
      ",,Beijing,Mainland China,2020-01-24 17:00:00,40.1,116.5,200,1,6,193,\"Beijing, China\",0.5,0.5",
      ",,,US,2020-01-24 17:00:00,38.0,-97.0,2,0,0,2,US,0.0,0.0",
      ",,,Japan,2020-01-24 17:00:00,36.2,138.2,260,0,0,260,Japan,26.0,0.0"))

  /** The same three days as the model sees them. */
  private def feed(dir: Path): Feed = {
    val countries = IndexedSeq(
      Country("Mainland China", "Mainland China", "China", Some(1400000000L)),
      Country("US", "US", "United States", Some(330000000L)),
      Country("Japan", "Japan", "Japan", Some(1000000L)))
    val ods = Array(
      Array(OdsAgg(544, 18, 30, 0, 2), OdsAgg(1, 0, 0, 0, 1), OdsAgg(100, 0, 0, 0, 1)),
      Array(OdsAgg(844, 19, 35, 0, 2), OdsAgg(1, 0, 0, 0, 1), OdsAgg(250, 0, 0, 0, 1)),
      Array(OdsAgg(900, 20, 46, 834, 2), OdsAgg(2, 0, 0, 2, 1), OdsAgg(260, 0, 0, 260, 1)))
    Feed(Spec(days = 3, rowsPerCountry = 2, drift = true), countries,
      dir.resolve("input"), dir.resolve("population.csv"), 0L, ods)
  }

  test("the model reproduces the fixture's golden mart and alert rows") {
    val f = feed(Files.createTempDirectory("golden"))
    val mart = Expected.mart(f)
    def at(country: String, date: String) =
      mart.find(r => r.country == country && r.date == LocalDate.parse(date)).get
    assert(at("China", "2020-01-23").newCases == 300L)
    assert(at("China", "2020-01-22").newCases == 0L)
    assert(at("Japan", "2020-01-23").casesPer100k == 25L)
    assert(at("Japan", "2020-01-23").risk == "Low")
    val japan = Expected.alerts(f).filter(_.country == "Japan")
    assert(japan.map(_.alertType).toSet == Set("CASE_RATE_POPULATION", "INCIDENCE_100K"))
    assert(japan.find(_.alertType == "CASE_RATE_POPULATION").get.description ==
      "COVID alert: 0.015% of population infected today (150 new cases)")
    assert(!Expected.alerts(f).exists(_.country == "China"))
  }

  test("the pipeline's tables for the prefix pass the benchmark's check") {
    val dir = Files.createTempDirectory("golden")
    val f = feed(dir)
    Files.createDirectories(f.inputDir)
    for ((date, lines) <- files)
      Files.write(f.inputDir.resolve(s"$date.csv"), lines.mkString("\n").getBytes("UTF-8"))
    val spark: SparkSession = GraftSession.builder("2").appName("perfbench-test").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val cat = Catalog(spark, dir.resolve("warehouse").toString)
    val pop = f.countries.map(c => (c.name, c.name.take(3), 2020, c.population.get))
      .toDF(Schemas.countryPopulation.fieldNames.toIndexedSeq: _*)
    assert(PopulationLayer.seedIfEmpty(cat, pop))
    val runner = Runner(cat, f.inputDir.toString)
    f.dates.foreach(d => assert(runner.runNext(FeedWorkload.clock) == d))
    runner.runDay(f.dates.last, FeedWorkload.clock)
    assert(Expected.check(f, cat).isEmpty)
    assert(Expected.readAlerts(cat).size == Expected.alerts(f).size)
  }
}
