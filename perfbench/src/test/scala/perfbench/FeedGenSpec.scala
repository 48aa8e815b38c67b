package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The generator is a pure function of its seed, and the feed it writes
  * carries every kind of drift and every alert the benchmark relies on.
  */
class FeedGenSpec extends AnyFunSuite {

  private val spec = FeedGen.Spec(days = 6, rowsPerCountry = 2, drift = true)

  private def contents(dir: Path): Seq[(String, Seq[Byte])] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .map(p => dir.relativize(p).toString -> Files.readAllBytes(p).toSeq).sortBy(_._1)
    finally s.close()
  }

  private def write(seed: Long): (FeedGen.Feed, Seq[(String, Seq[Byte])]) = {
    val dir = Files.createTempDirectory("feedgen")
    val feed = FeedGen.write(seed, spec, dir)
    (feed, contents(dir))
  }

  test("the same seed writes byte-identical files; another seed does not") {
    val (a, filesA) = write(7)
    val (_, filesB) = write(7)
    val (_, filesC) = write(8)
    assert(filesA.map(_._1) == Seq("input/2020-01-22.csv", "input/2020-01-23.csv",
      "input/2020-01-24.csv", "input/2020-01-25.csv", "input/2020-01-26.csv",
      "input/2020-01-27.csv", "population.csv"))
    assert(filesA == filesB)
    assert(filesA != filesC)
    assert(a.inputBytes == filesA.map(_._2.size.toLong).sum)
  }

  test("the feed drifts: three headers, renamed countries, blanks, bad timestamps") {
    val (feed, files) = write(7)
    val text = files.toMap.map { case (k, v) => k -> new String(v.toArray, "UTF-8") }
    val headers = feed.dates.map(d => text(s"input/$d.csv").linesIterator.next())
    assert(headers.distinct == Seq(FeedGen.Early, FeedGen.Mid, FeedGen.Modern).map(FeedGen.headers))
    assert(text("input/2020-01-22.csv").contains("Mainland China"))
    assert(text("input/2020-01-27.csv").contains(",China,"))
    assert(text("input/2020-01-22.csv").contains("\"Korea, South\""))
    val csvs = feed.dates.map(d => text(s"input/$d.csv")).mkString("\n")
    assert(csvs.contains(",n/a,") && feed.badTimestamps > 0, "an unparseable timestamp")
    assert(feed.blankCells > 0, "a blank numeric cell")
    assert(!text("population.csv").contains(FeedGen.missingCountry))
    assert(csvs.contains(FeedGen.missingCountry))
  }

  test("the model fires every alert rule and spans every risk bucket") {
    val (feed, _) = write(7)
    assert(Expected.alerts(feed).map(_.alertType).toSet ==
      Set("CASE_RATE_POPULATION", "DEATH_RATE_POPULATION", "INCIDENCE_100K", "DEATH_SPIKE_100K"))
    assert(Expected.mart(feed).map(_.risk).toSet == Set("Low", "Medium", "High", "Critical"))
    assert(!Expected.mart(feed).exists(_.country == FeedGen.missingCountry))
    assert(Expected.ods(feed).exists(_.country == FeedGen.missingCountry))
  }
}
