package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into the program (or a pass around such calls). */
final case class Span(id: Int, parent: Int, name: String, startMs: Long,
    startNs: Long, var endMs: Long = -1L, var endNs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long,
    module: String, barrier: Boolean, site: String)
final case class TaskRec(job: Int, launchMs: Long, finishMs: Long,
    runMs: Long, inputBytes: Long, inputRows: Long, shuffleBytes: Long,
    spillBytes: Long)
final case class PlanRec(timeMs: Long, analysisMs: Long, optimizerMs: Long,
    planningMs: Long)

/** Out-of-program tracing: spans around each public call the harness
  * makes, plus a SparkListener and a QueryExecutionListener that record
  * jobs, tasks and planning phases while attached. Everything stays in
  * memory until the run ends.
  *
  * A job belongs to the module of the innermost `graft.` frame of its
  * call site: the long call site of the SQL execution that ran it (its
  * stages are often submitted from Spark's own thread pools, whose
  * stacks hold no caller frames), else its stages' creation site. Jobs
  * whose call-site stack passes through `GraftBarrier` or
  * `graft.ops.Iterate` anywhere belong to `ops` and count as barrier
  * jobs: `GraftBarrier` sits in Spark's own package, so Spark's short
  * call site skips it and names its graft caller instead. Jobs with no
  * graft frame are the harness's own materialisation of a query's
  * result and belong to `queries`, the layer that assembled the plan. */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  def span[T](name: String)(body: => T): (T, Span) = {
    val s = Span(spans.size, open.headOption.getOrElse(-1), name,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s.id :: open
    try (body, s)
    finally {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      open = open.tail
    }
  }

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobById = mutable.Map.empty[Int, JobRec]
  private val execSite = mutable.Map.empty[Long, String]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          .flatMap(id => execSite.get(id.toLong))
        val details = (exec.toSeq ++ e.stageInfos.map(_.details)).mkString("\n")
        val (module, barrier) = Tracer.moduleOf(details)
        val site = details.split("\n").map(_.trim)
          .find(_.startsWith("graft.")).getOrElse("")
        val j = JobRec(e.jobId, e.time, -1L, module, barrier, site)
        jobs += j; jobById(e.jobId) = j
        e.stageIds.foreach(stageJob(_) = e.jobId)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        Tracer.this.synchronized(execSite(x.executionId) = x.details)
      case _ => ()
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Tracer.this.synchronized {
        // AQE resubmits stages under fresh ids; bind any stray to the
        // newest job so its tasks are still counted
        if (!stageJob.contains(e.stageInfo.stageId) && jobs.nonEmpty)
          stageJob(e.stageInfo.stageId) = jobs.last.id
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobById.get(e.jobId).foreach(_.endMs = e.time)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Tracer.this.synchronized {
        val m = e.taskMetrics
        if (m != null) tasks += TaskRec(stageJob.getOrElse(e.stageId, -1),
          e.taskInfo.launchTime, e.taskInfo.finishTime, m.executorRunTime,
          m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
          m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def rec(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val t = if (ph.isEmpty) System.currentTimeMillis()
        else ph.values.map(_.startTimeMs).min
      plans += PlanRec(t, ms("analysis"), ms("optimization"), ms("planning"))
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      rec(qe)
    override def onFailure(f: String, qe: QueryExecution,
        e: Exception): Unit = rec(qe)
  }

  private var attached = false

  /** Attach or detach the listeners. Detaching first drains the bus so
    * every event of the traced interval has been recorded. */
  def attach(on: Boolean): Unit = if (on != attached) {
    PerfbenchBus.drain(spark.sparkContext)
    if (on) {
      spark.sparkContext.addSparkListener(listener)
      spark.listenerManager.register(qeListener)
    } else {
      spark.sparkContext.removeSparkListener(listener)
      spark.listenerManager.unregister(qeListener)
    }
    attached = on
  }

  /** Jobs, tasks and plans whose start falls inside any of the windows. */
  def within(windows: Seq[Span]): (Seq[JobRec], Seq[TaskRec], Seq[PlanRec]) = {
    if (attached) PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      def in(t: Long) = windows.exists(w => t >= w.startMs && t <= w.endMs)
      val js = jobs.filter(j => in(j.startMs)).toSeq
      val ids = js.map(_.id).toSet
      (js, tasks.filter(t => ids(t.job)).toSeq,
        plans.filter(p => in(p.timeMs)).toSeq)
    }
  }

  def jobsJson: String = synchronized(jobs.map { j =>
    s"""{"job":${j.id},"start_ms":${j.startMs},"end_ms":${j.endMs},""" +
      s""""module":${Json.str(j.module)},"barrier":${j.barrier},""" +
      s""""site":${Json.str(j.site)}}"""
  }.mkString("\n"))

  def spansJson: String = spans.map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ms":${s.startMs},"end_ms":${s.endMs},""" +
      s""""dur_s":${Json.num(s.seconds)}}"""
  }.mkString("\n")
}

object Tracer {
  val modules = Seq("Tables", "queries", "ops", "graph", "pipeline",
    "ingest", "store", "mcp")

  def moduleOf(details: String): (String, Boolean) = {
    val frames = details.split("\n").map(_.trim)
    if (frames.exists(f => f.contains("GraftBarrier") ||
        f.startsWith("graft.ops.Iterate"))) ("ops", true)
    else (frames.collectFirst {
      case f if f.startsWith("graft.") => moduleOfFrame(f)
    }.getOrElse("queries"), false)
  }

  private def moduleOfFrame(frame: String): String = {
    val parts = frame.split('.')
    if (parts(1).startsWith("Tables")) "Tables"
    else if (parts.length > 3 && parts(1).forall(_.isLower)) parts(1)
    else "queries"
  }

  /** Total length of the union of [start, end] intervals. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
