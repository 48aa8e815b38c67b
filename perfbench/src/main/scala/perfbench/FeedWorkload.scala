package perfbench

import java.nio.file.Path
import java.sql.Timestamp
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{call_function, col, count, lit, sum, xxhash64}
import graft.layers._
import graft.runtime.{Catalog, Runner}
import graft.schema.Schemas
import Harness._

/** `daily_feed` and `wide_feed`: the paper's cursor loop over a generated
  * feed, from an empty warehouse, followed by one re-run of the last day.
  *
  * The untraced pass calls only `Runner.runNext` / `Runner.runDay`. The
  * traced pass (trace runs only) makes the calls `Runner.runDay` makes —
  * `RawLayer.ingest`, `OdsLayer.run`, `DdsLayer.run`, `MartLayer.run`,
  * `AlertsLayer.run`, in that order and under the same conditions — each
  * inside a span.
  */
object FeedWorkload {

  /** A fixed clock makes every run's tables comparable row for row. */
  val clock: Option[Timestamp] = Some(Timestamp.valueOf("2024-01-01 00:00:00"))

  val tables: Seq[(String, String)] = Seq(
    RawLayer.layer -> RawLayer.table, OdsLayer.layer -> OdsLayer.table,
    DdsLayer.layer -> DdsLayer.dimTable, DdsLayer.layer -> DdsLayer.factTable,
    MartLayer.layer -> MartLayer.table, AlertsLayer.layer -> AlertsLayer.table)

  private final case class Pass(dayS: Seq[Double], rerunS: Double,
                                failed: Set[String], heapMb: Double,
                                files: Long, bytes: Long)

  private def population(spark: SparkSession, feed: FeedGen.Feed) =
    spark.read.option("header", "true").schema(Schemas.countryPopulation)
      .csv(feed.populationCsv.toString)

  /** Order-independent digest of every pipeline table: row count, xor and
    * low-bits sum of a per-row hash.
    */
  def fingerprint(cat: Catalog): Seq[(String, String)] = tables.map { case (l, t) =>
    val df = cat.read(l, t)
    val h = xxhash64(df.columns.toIndexedSeq.map(col): _*)
    val r = df.agg(count(lit(1)), call_function("bit_xor", h),
      sum(h.bitwiseAND(lit(0xFFFFL)))).head()
    s"$l.$t" -> s"${r.get(0)}/${r.get(1)}/${r.get(2)}"
  }

  private def fail(failed: mutable.Set[String], unit: String, e: Throwable): Unit = {
    failed += unit
    System.err.println(s"[perfbench] $unit failed: $e")
  }

  /** Check the final tables against the model; mismatching dates fail. */
  private def check(feed: FeedGen.Feed, cat: Catalog): Set[String] = {
    val bad = Expected.check(feed, cat)
    bad.take(5).foreach { case (_, m) => System.err.println(s"[perfbench] mismatch: $m") }
    bad.map(_._1.toString).toSet
  }

  private def untracedPass(feed: FeedGen.Feed, cat: Catalog, root: Path): Pass = {
    val runner = Runner(cat, feed.inputDir.toString)
    val failed = mutable.Set[String]()
    var heap = 0.0
    val dayS = feed.dates.zipWithIndex.map { case (date, i) =>
      val t0 = System.nanoTime()
      try {
        val ran = runner.runNext(clock)
        require(ran == date, s"cursor ran $ran, expected $date")
      } catch { case e: Throwable => fail(failed, date.toString, e) }
      val s = secondsSince(t0)
      log(f"day $date $s%.3f s")
      if (i == feed.spec.days / 2) heap = liveHeapMb()
      s
    }
    val t0 = System.nanoTime()
    try runner.runDay(feed.dates.last, clock)
    catch { case e: Throwable => fail(failed, "rerun", e) }
    val rerunS = secondsSince(t0)
    heap = math.max(heap, liveHeapMb())
    log(f"rerun $rerunS%.3f s")
    val (files, bytes) = walk(root)
    val bad = check(feed, cat)
    log("tables checked")
    Pass(dayS, rerunS, (failed ++ bad).toSet, heap, files, bytes)
  }

  /** `Runner.runDay`'s calls, each in a span. Returns the day's wall time
    * without the tracer's own warehouse walks.
    */
  private def tracedDay(cat: Catalog, tracer: Tracer, inputDir: String,
                        date: LocalDate, unit: String): Double = {
    val walk0 = tracer.walkNs
    val t0 = System.nanoTime()
    val d = date.toString
    val csv = s"$inputDir/$d.csv"
    val csvPath = new org.apache.hadoop.fs.Path(csv)
    if (csvPath.getFileSystem(cat.spark.sparkContext.hadoopConfiguration).exists(csvPath))
      tracer.span("raw", unit)(RawLayer.ingest(cat, csv, clock))
    tracer.span("ods", unit)(OdsLayer.run(cat, d, clock))
    if (tracer.span("dds", unit)(DdsLayer.run(cat, d)).isDefined)
      tracer.span("mart", unit)(MartLayer.run(cat, d))
    if (cat.tableExists(DdsLayer.layer, DdsLayer.factTable))
      tracer.span("alerts", unit)(AlertsLayer.run(cat, d, clock))
    (System.nanoTime() - t0 - (tracer.walkNs - walk0)) / 1e9
  }

  /** The workload's figures over untraced passes (medians across passes):
    * (end-to-end metrics, descriptive report).
    */
  private def figures(setupS: Double, feed: FeedGen.Feed,
                      passes: Seq[Pass]): (Seq[Metric], Seq[Metric]) = {
    def med(f: Pass => Double): Double = median(passes.map(f))
    val late = math.max(1, feed.spec.days / 4)
    val dayP50 = med(p => median(p.dayS))
    val dayLate = med(p => median(p.dayS.takeRight(late)))
    val files = Metric("warehouse_files", med(_.files.toDouble), "count")
    val stored = Metric("stored_bytes_per_input_byte",
      med(_.bytes.toDouble / feed.inputBytes), "ratio")
    val heap = Metric("heap_live_mb", passes.map(_.heapMb).max, "MB")
    val endToEnd = Seq(Metric("setup_s", setupS, "s"),
      Metric("total_s", med(p => p.dayS.sum + p.rerunS), "s"),
      Metric("unit_s.p50", dayP50, "s"), Metric("unit_s.tail", dayLate, "s"),
      files, stored, heap)
    val report = Seq(Metric("setup_s", setupS, "s"),
      Metric("catchup_s", med(_.dayS.sum), "s"),
      Metric("day_s.p50", dayP50, "s"), Metric("day_s.late", dayLate, "s"),
      Metric("rerun_day_s", med(_.rerunS), "s"), files, stored, heap)
    (endToEnd, report)
  }

  private def passJson(p: Pass): String = Json.obj(
    "day_s" -> Json.arr(p.dayS.map(Json.num)),
    "rerun_day_s" -> Json.num(p.rerunS),
    "failed_units" -> Json.arr(p.failed.toSeq.sorted.map(Json.str)))

  def run(args: Main.Args, spec: FeedGen.Spec): Outcome = {
    val feed = FeedGen.write(args.seed, spec, args.work.resolve("feed"))
    var roots = 0
    def freshCatalog(spark: SparkSession): (Catalog, Path) = {
      roots += 1
      val root = args.work.resolve(s"warehouse-$roots")
      val cat = Catalog(spark, root.toString)
      PopulationLayer.seedIfEmpty(cat, population(spark, feed))
      (cat, root)
    }
    log("feed written")
    val (setupS, spark, first) =
      setUp(Main.setupReps, args.work)(freshCatalog)
    log(f"set up, median $setupS%.3f s")
    val params = Json.obj("days" -> spec.days.toString,
      "rows_per_country" -> spec.rowsPerCountry.toString,
      "countries" -> FeedGen.countryCount.toString,
      "header_drift" -> spec.drift.toString,
      "input_bytes" -> feed.inputBytes.toString,
      "cores" -> cores.toString)
    val units = spec.days + 1L

    if (!args.trace) {
      // the first pass on the set-up warehouse, more while another fits
      val passes = mutable.ArrayBuffer[Pass]()
      val budget0 = System.nanoTime()
      var target = first
      var more = true
      while (more) {
        val t0 = System.nanoTime()
        passes += untracedPass(feed, target._1, target._2)
        more = secondsSince(budget0) + secondsSince(t0) <= args.seconds
        if (more) target = freshCatalog(spark)
      }
      val (endToEnd, report) = figures(setupS, feed, passes.toSeq)
      val attempted = passes.size * units
      val failed = passes.map(_.failed.size.toLong).sum
      return Outcome(failed == 0, attempted, failed, endToEnd, Nil,
        report :+ Metric("failed_share", failed.toDouble / attempted, "ratio"),
        Json.obj("workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
          "params" -> params, "untraced_passes" -> Json.arr(passes.map(passJson))))
    }

    // Traced run: the traced pass first, in the same cold-JVM position as
    // an untraced run's pass, then one untraced pass on a fresh warehouse
    // to compare tables and time against.
    val (cat, root) = first
    val tracer = new Tracer(spark.sparkContext, root)
    val runner = Runner(cat, feed.inputDir.toString)
    val failed = mutable.Set[String]()
    val unitNames = feed.dates.map(_.toString) :+ "rerun"
    val dayWalls = unitNames.zip(feed.dates :+ feed.dates.last).map { case (unit, date) =>
      val wall =
        try tracedDay(cat, tracer, feed.inputDir.toString, date, unit)
        catch { case e: Throwable => fail(failed, unit, e); Double.NaN }
      if (unit != "rerun") runner.setCursor(date.plusDays(1))
      unit -> wall
    }
    val stats = tracer.finish()
    failed ++= check(feed, cat)
    val tracedPrint = fingerprint(cat)
    val (cat2, root2) = freshCatalog(spark)
    val untraced = untracedPass(feed, cat2, root2)
    val sameTables = fingerprint(cat2) == tracedPrint
    val (_, report) = figures(setupS, feed, Seq(untraced))

    val coverage = dayWalls.map { case (unit, wall) =>
      unit -> stats.filter(_.span.unit == unit).map(_.wallS).sum / wall
    }
    val minCoverage = coverage.map(_._2).filterNot(_.isNaN).minOption.getOrElse(0.0)
    val tracedCatchup = dayWalls.filter(_._1 != "rerun").map(_._2).sum
    val overhead = tracedCatchup / untraced.dayS.sum - 1
    val perLayer = Layers.feedMetrics(stats) ++ Layers.suiteMetrics(Nil) ++ Seq(
      Metric("trace.overhead", overhead, "ratio"),
      Metric("trace.coverage_min", minCoverage, "ratio"))
    val (dominant, domWall, domDriver) = Layers.dominant(stats)

    val failedAll = untraced.failed.size + failed.size.toLong
    if (!sameTables) System.err.println("[perfbench] traced and untraced tables differ")
    if (minCoverage < 0.9) System.err.println(
      s"[perfbench] spans cover only ${minCoverage * 100}% of a day")
    val trace = Json.obj(
      "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
      "params" -> params,
      "traced_catchup_s" -> Json.num(tracedCatchup),
      "untraced_after_traced" -> Json.obj(report.map(m => m.name -> Json.num(m.value)): _*),
      "untraced_pass" -> passJson(untraced),
      "tracing_overhead" -> Json.num(overhead),
      "tables_equal_untraced" -> sameTables.toString,
      "table_fingerprints" -> Json.obj(tracedPrint.map { case (k, v) => k -> Json.str(v) }: _*),
      "dominant_span" -> Json.obj("name" -> Json.str(dominant),
        "wall_s" -> Json.num(domWall), "driver_share" -> Json.num(domDriver / domWall)),
      "coverage_min" -> Json.num(minCoverage),
      "days" -> Json.arr(dayWalls.zip(coverage).map { case ((unit, wall), (_, cov)) =>
        Json.obj("unit" -> Json.str(unit), "wall_s" -> Json.num(wall),
          "span_coverage" -> Json.num(cov),
          "spans" -> Json.arr(stats.filter(_.span.unit == unit).map(Layers.spanJson)))
      }),
      "per_layer" -> Json.obj(perLayer.map(m => m.name -> Json.num(m.value)): _*),
      "write_nodes" -> Json.arr(tracer.writeNodes.map(Json.str)),
      "meta_job_labels" -> Json.arr(stats.flatMap(_.metaLabels)
        .map(_.replace("file:" + args.work.toUri.getPath.stripSuffix("/"), "<work>"))
        .distinct.take(8).map(Json.str)))
    Outcome(failedAll == 0 && sameTables && minCoverage >= 0.9, 2 * units, failedAll,
      Nil, perLayer, Seq(
        Metric("traced_catchup_s", tracedCatchup, "s"),
        Metric("dominant_span_wall_s", domWall, "s"),
        Metric("dominant_span_driver_share", domDriver / domWall, "ratio"),
        Metric("tracing_overhead", overhead, "ratio"),
        Metric("span_coverage_min", minCoverage, "ratio")) ++
        report.map(m => m.copy(name = s"untraced_after_traced.${m.name}")), trace,
      Seq(s"dominant span: $dominant"))
  }
}
