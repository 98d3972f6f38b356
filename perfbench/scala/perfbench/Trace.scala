package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval of the benchmark's own code around a call into an
  * engine module. Spans of one operation share `opId`; `parent` is the
  * enclosing span (-1 for an operation's root span). */
final case class Span(id: Int, opId: Int, parent: Int, name: String,
    module: String, startMs: Long, startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  def wallS: Double = (endNs - startNs) / 1e9
}

/** A Spark job as the listener saw it: submission and completion wall
  * times (ms), its stages, and the call site Spark names it by. */
final case class JobRec(id: Int, submitMs: Long, stageIds: Seq[Int],
    callSite: String) {
  var endMs: Long = -1L
}

/** Task totals of one completed stage (from StageInfo.taskMetrics). */
final case class StageRec(id: Int, name: String, tasks: Int, runMs: Long,
    gcMs: Long, shuffleWrite: Long, spill: Long, inputBytes: Long,
    outputBytes: Long)

/** Collects jobs, stages and SQL executions. Registered only for traced
  * operations; everything is kept in memory and read once at the end. */
final class EngineListener extends SparkListener {
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.HashMap.empty[Int, StageRec]
  val sqlStarts = mutable.ArrayBuffer.empty[Long]
  private val byId = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = Option(e.properties).flatMap(p =>
      Option(p.getProperty("callSite.short")))
      .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
      .getOrElse("")
    val j = JobRec(e.jobId, e.time, e.stageIds, site)
    jobs += j
    byId(e.jobId) = j
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byId.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      val m = si.taskMetrics
      if (m != null) stages(si.stageId) = StageRec(si.stageId, si.name,
        si.numTasks, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten)
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { sqlStarts += s.time }
    case _ =>
  }
}

/** The benchmark's span recorder. With tracing off `span` is a plain
  * call; with it on, spans are kept in memory and dumped at exit. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new EngineListener
  private var on = false
  private var stack: List[Span] = Nil
  private var nextOp = 0

  /** Turns tracing on or off between operations (the traced run
    * alternates, so the same warm process measures both). */
  def set(enable: Boolean): Unit = if (enable != on) {
    if (enable) spark.sparkContext.addSparkListener(listener)
    else {
      org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    on = enable
  }

  def span[A](name: String, module: String)(body: => A): A =
    if (!on) body
    else {
      val parent = stack.headOption
      val opId = parent.map(_.opId).getOrElse { nextOp += 1; nextOp }
      val s = Span(spans.size, opId, parent.map(_.id).getOrElse(-1), name,
        module, System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
      }
    }
}

/** Attribution of jobs to the repo's modules, and the per-layer sums. */
object Layers {

  val Modules: Seq[String] = Seq("sources", "functions", "incremental",
    "sink", "streaming", "indexstore", "ops")

  /** Call-site source file → module. */
  private val FileModule: Map[String, String] = Map(
    "Incremental.scala" -> "incremental",
    "VersionedTable.scala" -> "sources", "Tables.scala" -> "sources",
    "Case311.scala" -> "functions", "Normalize.scala" -> "functions",
    "BatchedSink.scala" -> "sink",
    "StreamingIndexIngest.scala" -> "streaming",
    "BatchManifest.scala" -> "streaming",
    "IndexStore.scala" -> "indexstore", "Dedup.scala" -> "indexstore",
    "Ops.scala" -> "ops")

  def callSiteModule(site: String): Option[String] = {
    val at = site.lastIndexOf(" at ")
    val file = (if (at >= 0) site.substring(at + 4) else site).takeWhile(_ != ':')
    FileModule.get(file.trim)
  }

  /** A job belongs to the module its call site names, when that module
    * runs plans of its own; otherwise to the innermost span that was
    * open when it was submitted. `sources` never claims a job by call
    * site: VersionedTable writes whatever plan it is handed, so its
    * stage job runs the caller's plan (the merge, on sync_cycle). */
  def attribute(j: JobRec, span: Option[Span]): String =
    callSiteModule(j.callSite).filter(_ != "sources")
      .orElse(span.map(_.module)).getOrElse("engine")

  /** Length of the union of intervals clipped to [lo, hi] (ms). */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = -1L
    var curB = -1L
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
