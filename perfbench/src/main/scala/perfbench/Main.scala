package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import Harness.{Metric, Outcome}

/** Benchmark entry point, launched by `run.py` in a fresh JVM per run:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --work <dir> --data <dir> --trace-out <file>
  * }}}
  *
  * Prints a table of the workload's figures, then as its last line the
  * result object: the end-to-end metrics untraced, the per-layer metrics
  * traced. Exits non-zero, printing no result, if the run cannot finish.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, data: Path, traceOut: Path)

  /** Set-ups per run; `setup_s` is their median. */
  val setupReps = 3

  /** Workload parameters. A day's cost is set by history, not rows
    * (per-statement metadata work grows with the files already written),
    * so `daily_feed` is sized by its day count; `wide_feed` by its rows.
    */
  val dailyFeed: FeedGen.Spec = FeedGen.Spec(days = 3, rowsPerCountry = 2, drift = true)
  val wideFeed: FeedGen.Spec = FeedGen.Spec(days = 2, rowsPerCountry = 5000, drift = false)

  val workloads: Map[String, Args => Outcome] = Map(
    "daily_feed" -> (a => FeedWorkload.run(a, dailyFeed)),
    "wide_feed" -> (a => FeedWorkload.run(a, wideFeed)),
    "query_suite" -> SuiteWorkload.run)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String): String = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w), s"unknown workload $w (one of ${workloads.keys.toSeq.sorted.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      Path.of(need("work")), Path.of(need("data")), Path.of(need("trace-out")))
  }

  def resultLine(o: Outcome, trace: Boolean): String = {
    val ms = if (trace) o.perLayer else o.endToEnd
    Json.obj(
      "correct" -> o.correct.toString,
      "attempted" -> o.attempted.toString,
      "failed" -> o.failed.toString,
      "metrics" -> Json.obj(ms.map(m =>
        m.name -> Json.obj("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))): _*))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try {
        val a = parse(argv)
        val o = workloads(a.workload)(a)
        Files.write(a.traceOut, (o.trace + "\n").getBytes(StandardCharsets.UTF_8))
        println(s"# ${a.workload} seed=${a.seed} trace=${if (a.trace) 1 else 0}")
        o.report.foreach { case Metric(n, v, u) => println(f"#   $n%-44s $v%14.6f $u") }
        o.notes.foreach(n => println(s"#   $n"))
        println(resultLine(o, a.trace))
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    Harness.log("result printed")
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession).foreach(_.stop())
    Harness.log("session stopped")
    System.out.flush()
    System.exit(code)
  }
}
