package perfbench

import java.nio.file.Path
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** Spans around the benchmark's own calls into the program, plus a Spark
  * listener that charges jobs, SQL executions and task metrics to the span
  * that was open when they ran.
  *
  * A span tags the driver thread with a local property, which Spark copies
  * into every job it submits from that thread (and into the broadcast and
  * subquery threads it spawns). Jobs or executions without the tag are
  * charged by start time. Nothing is read until [[finish]] has drained the
  * listener bus.
  */
final class Tracer(sc: SparkContext, warehouse: Path) {
  import Tracer._

  private val spans = mutable.ArrayBuffer[Span]()
  private val listener = new Listener
  sc.addSparkListener(listener)

  /** Time spent walking the warehouse for `files_added`: outside every
    * span, and to be left out of any wall time that encloses spans.
    */
  var walkNs = 0L

  private def files(): Long = {
    val t0 = System.nanoTime()
    try Harness.walk(warehouse)._1 finally walkNs += System.nanoTime() - t0
  }

  def span[T](name: String, unit: String)(body: => T): T = {
    val before = files()
    val id = spans.size
    sc.setLocalProperty(SpanKey, id.toString)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wall = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      sc.setLocalProperty(SpanKey, null)
      spans += Span(id, name, unit, startMs, endMs, wall, files() - before)
    }
  }

  /** Plan nodes whose output rows counted as written rows. */
  def writeNodes: Seq[String] = listener.writeNodes.asScala.toSeq.sorted

  /** Drain the bus, detach, and charge every recorded event to a span. */
  def finish(): Seq[SpanStats] = {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    def spanAt(ms: Long): Int =
      spans.find(s => s.startMs <= ms && ms < s.endMs)
        .orElse(spans.find(s => s.startMs <= ms && ms <= s.endMs))
        .map(_.id).getOrElse(-1)
    val jobs = listener.jobs.asScala.toSeq.sortBy(_._1).map { case (_, j) =>
      if (j.span >= 0) j else j.copy(span = spanAt(j.startMs))
    }
    val stats = spans.map(s => new SpanStats(s)).toIndexedSeq
    val stageOwner = mutable.Map[Int, Int]()
    val execOwner = mutable.Map[Long, Int]()
    for (j <- jobs if j.span >= 0) {
      val st = stats(j.span)
      st.jobs += 1
      if (isMeta(j.label)) { st.metaJobs += 1; st.metaLabels += j.label }
      j.stages.foreach(stageOwner.getOrElseUpdate(_, j.span))
      j.execId.foreach(execOwner.getOrElseUpdate(_, j.span))
      val end = if (j.endMs < 0) st.span.endMs else j.endMs
      st.jobIntervals += ((math.max(j.startMs, st.span.startMs), math.min(end, st.span.endMs)))
    }
    for ((stage, m) <- listener.stageMetrics.asScala; owner <- stageOwner.get(stage)) {
      val st = stats(owner)
      st.taskMs += m(0); st.rowsRead += m(1); st.shuffleBytes += m(2)
    }
    val execStart = listener.sqlStarts.asScala.toMap
    def execSpan(exec: Long): Int =
      execOwner.getOrElse(exec, execStart.get(exec).map(spanAt).getOrElse(-1))
    for (exec <- execStart.keys) {
      val owner = execSpan(exec)
      if (owner >= 0) stats(owner).sqlExecs += 1
    }
    for ((acc, exec) <- listener.writeRows.asScala) {
      val owner = execSpan(exec)
      if (owner >= 0) stats(owner).rowsWritten += listener.outputRows.getOrDefault(acc, 0L)
    }
    stats
  }

  private final class Listener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRec]()
    val stageMetrics = new ConcurrentHashMap[Int, Array[Long]]()
    val sqlStarts = new ConcurrentLinkedQueue[(Long, Long)]()
    /** "number of output rows" accumulator of a write node → its execution. */
    val writeRows = new ConcurrentHashMap[Long, Long]()
    /** Summed updates of every "number of output rows" accumulator. */
    val outputRows = new ConcurrentHashMap[Long, Long]()
    val writeNodes = ConcurrentHashMap.newKeySet[String]()

    private def addRows(acc: Long, v: Long): Unit =
      outputRows.merge(acc, v, (a: Long, b: Long) => a + b)

    /** Output-row accumulators of the nodes that feed `p`'s rows upward:
      * `p`'s own, else those of its nearest counting descendants.
      */
    private def rowsInto(p: SparkPlanInfo): Seq[Long] =
      p.metrics.find(_.name == OutputRows).map(m => Seq(m.accumulatorId))
        .getOrElse(p.children.toSeq.flatMap(rowsInto))

    private def scanPlan(exec: Long, p: SparkPlanInfo): Unit = {
      val accs =
        if (p.nodeName.startsWith(V1Write))
          p.metrics.filter(_.name == OutputRows).map(_.accumulatorId)
        else if (V2Writes(p.nodeName)) p.children.toSeq.flatMap(rowsInto)
        else Nil
      if (accs.nonEmpty) writeNodes.add(p.nodeName)
      accs.foreach(writeRows.put(_, exec))
      p.children.foreach(scanPlan(exec, _))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String): Option[String] = props.flatMap(p => Option(p.getProperty(k)))
      val label = (prop("spark.job.description").toSeq ++ prop("callSite.short") ++
        e.stageInfos.headOption.map(_.name)).mkString(" | ")
      jobs.put(e.jobId, JobRec(prop(SpanKey).map(_.toInt).getOrElse(-1), e.time, -1L,
        label, e.stageIds, prop("spark.sql.execution.id").map(_.toLong)))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val acc = stageMetrics.computeIfAbsent(e.stageId, _ => new Array[Long](3))
        acc.synchronized {
          acc(0) += m.executorRunTime
          acc(1) += m.inputMetrics.recordsRead
          acc(2) += m.shuffleWriteMetrics.bytesWritten
        }
      }
      if (e.taskInfo != null) e.taskInfo.accumulables.foreach { a =>
        if (a.name.contains(OutputRows)) a.update match {
          case Some(v: java.lang.Long) => addRows(a.id, v)
          case _ =>
        }
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStarts.add((s.executionId, s.time))
        scanPlan(s.executionId, s.sparkPlanInfo)
      case u: SparkListenerSQLAdaptiveExecutionUpdate => scanPlan(u.executionId, u.sparkPlanInfo)
      case d: SparkListenerDriverAccumUpdates => d.accumUpdates.foreach { case (a, v) => addRows(a, v) }
      case _ =>
    }
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val OutputRows = "number of output rows"

  /** Plan nodes that land rows in storage. A V1 insert command counts its
    * own output rows; a V2 write node has no such metric, so the rows its
    * child produces are counted. V1-fallback V2 nodes (`...ExecV1`) and
    * CTAS run a nested V1 insert, which is counted instead.
    */
  val V1Write = "Execute InsertInto"
  val V2Writes: Set[String] = Set("AppendData", "OverwriteByExpression",
    "OverwritePartitionsDynamic", "ReplaceData", "WriteDelta", "WriteToDataSourceV2")

  final case class Span(id: Int, name: String, unit: String, startMs: Long,
                        endMs: Long, wallNs: Long, filesAdded: Long)

  final case class JobRec(span: Int, startMs: Long, endMs: Long, label: String,
                          stages: Seq[Int], execId: Option[Long])

  /** Figures of one span instance. */
  final class SpanStats(val span: Span) {
    var jobs, metaJobs, sqlExecs = 0L
    var taskMs, rowsRead, rowsWritten, shuffleBytes = 0L
    val metaLabels = mutable.ArrayBuffer[String]()
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

    def wallS: Double = span.wallNs / 1e9

    /** Wall time not covered by any Spark job interval. */
    def driverS: Double = {
      var covered = 0L
      var reach = Long.MinValue
      for ((s, e) <- jobIntervals.sortBy(_._1) if e > s) {
        val from = math.max(s, reach)
        if (e > from) { covered += e - from; reach = e }
      }
      math.max(0.0, wallS - covered / 1e3)
    }
  }

  /** Jobs Spark runs for file metadata rather than data: parallel leaf-file
    * listing and parquet footer schema merging.
    */
  def isMeta(label: String): Boolean =
    label.contains("Listing leaf files") || label.contains("SchemaMergeUtils") ||
      label.contains("mergeSchemasInParallel") || label.contains("InMemoryFileIndex")
}
