package perfbench

import Harness.Metric
import Tracer.SpanStats

/** Per-layer metric names and their values from a traced pass. Every
  * workload reports the full set; a span a workload never opens reads 0.
  */
object Layers {

  /** Medallion spans, named after the `layers` modules. */
  val feedSpans: Seq[String] = Seq("raw", "ods", "dds", "mart", "alerts")

  /** Query spans `queries.<module>`, one per `queries` module. */
  def modules: Seq[String] = SuiteWorkload.modules.map(_._1)

  private def sum(ss: Seq[SpanStats])(f: SpanStats => Double): Double =
    ss.map(f).sum

  def feedMetrics(stats: Seq[SpanStats]): Seq[Metric] = feedSpans.flatMap { name =>
    val ss = stats.filter(_.span.name == name)
    val s = sum(ss) _
    val read = s(_.rowsRead.toDouble)
    val written = s(_.rowsWritten.toDouble)
    Seq(
      Metric(s"$name.wall_s", s(_.wallS), "s"),
      Metric(s"$name.driver_s", s(_.driverS), "s"),
      Metric(s"$name.jobs", s(_.jobs.toDouble), "count"),
      Metric(s"$name.sql_execs", s(_.sqlExecs.toDouble), "count"),
      Metric(s"$name.meta_jobs", s(_.metaJobs.toDouble), "count"),
      Metric(s"$name.task_s", s(_.taskMs / 1e3), "s"),
      Metric(s"$name.rows_read", read, "count"),
      Metric(s"$name.rows_written", written, "count"),
      Metric(s"$name.read_per_written", read / math.max(written, 1.0), "ratio"),
      Metric(s"$name.shuffle_bytes", s(_.shuffleBytes.toDouble), "bytes"),
      Metric(s"$name.files_added", s(_.span.filesAdded.toDouble), "count"))
  }

  def suiteMetrics(stats: Seq[SpanStats]): Seq[Metric] = modules.flatMap { m =>
    val s = sum(stats.filter(_.span.name == s"queries.$m")) _
    Seq(
      Metric(s"queries.$m.wall_s", s(_.wallS), "s"),
      Metric(s"queries.$m.driver_s", s(_.driverS), "s"),
      Metric(s"queries.$m.jobs", s(_.jobs.toDouble), "count"),
      Metric(s"queries.$m.task_s", s(_.taskMs / 1e3), "s"))
  }

  /** (span name, wall s, driver s) of the span name with the most wall time. */
  def dominant(stats: Seq[SpanStats]): (String, Double, Double) = {
    val byName = stats.groupBy(_.span.name).map { case (n, ss) =>
      (n, ss.map(_.wallS).sum, ss.map(_.driverS).sum)
    }
    if (byName.isEmpty) ("none", 0.0, 0.0) else byName.maxBy(_._2)
  }

  def spanJson(s: SpanStats): String = Json.obj(
    "name" -> Json.str(s.span.name),
    "wall_s" -> Json.num(s.wallS), "driver_s" -> Json.num(s.driverS),
    "jobs" -> s.jobs.toString, "sql_execs" -> s.sqlExecs.toString,
    "meta_jobs" -> s.metaJobs.toString, "task_s" -> Json.num(s.taskMs / 1e3),
    "rows_read" -> s.rowsRead.toString, "rows_written" -> s.rowsWritten.toString,
    "shuffle_bytes" -> s.shuffleBytes.toString,
    "files_added" -> s.span.filesAdded.toString)
}
