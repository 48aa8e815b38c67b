package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.runtime.GraftSession

/** Pieces every workload shares: the session, repeated set-up, heap
  * sampling, warehouse walks and order statistics.
  */
object Harness {

  final case class Metric(name: String, value: Double, unit: String)

  /** What one benchmark run hands back to [[Main]]. `report` carries the
    * workload's figures under their descriptive names for the human-
    * readable table, `notes` any non-numeric findings; `endToEnd` /
    * `perLayer` are the metrics of the result line.
    */
  final case class Outcome(correct: Boolean, attempted: Long, failed: Long,
                           endToEnd: Seq[Metric], perLayer: Seq[Metric],
                           report: Seq[Metric], trace: String,
                           notes: Seq[String] = Nil)

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** The program's recommended session (`GraftSession.builder`) as
    * `local[nproc]`, with every location it writes kept under `work`.
    */
  def session(work: Path): SparkSession = {
    val s = GraftSession.builder(cores.toString)
      .appName("perfbench")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%7.2f s  $msg")

  /** Set up `reps` times — session build plus the workload's own `init`
    * — and return the median set-up time with the last session. The first
    * set-up is charged from JVM start, so class loading and JVM boot
    * count; the later ones stop and rebuild the session.
    */
  def setUp[T](reps: Int, work: Path)(init: SparkSession => T): (Double, SparkSession, T) = {
    var spark: SparkSession = null
    var last: Option[T] = None
    val times = (0 until reps).map { i =>
      val t0 = System.nanoTime()
      val sinceJvm =
        if (i == 0) (System.currentTimeMillis() -
          ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
        else 0.0
      if (spark != null) spark.stop()
      spark = session(work)
      last = Some(init(spark))
      sinceJvm + secondsSince(t0)
    }
    (median(times), spark, last.get)
  }

  /** Live heap in MB after forced collections. Spark frees broadcast and
    * shuffle state from a cleaner thread once a collection has found its
    * handles unreachable, so one collection reads a varying share of that
    * state as live. The cleaner polls every 100 ms, so collect at least
    * three times, 200 ms apart, and on until the used heap stops falling
    * by 1% (at most six collections).
    */
  def liveHeapMb(): Double = {
    def used(): Long = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var cur = used()
    var prev = Long.MaxValue
    var rounds = 1
    while ((rounds < 3 || cur < prev * 0.99) && rounds < 6) {
      Thread.sleep(200)
      prev = cur
      cur = used()
      rounds += 1
    }
    cur / (1024.0 * 1024.0)
  }

  /** (file count, total bytes) under `root`. */
  def walk(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      var files, bytes = 0L
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).forEach { p =>
        files += 1; bytes += Files.size(p)
      } finally s.close()
      (files, bytes)
    }

  /** Quantile with linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}
