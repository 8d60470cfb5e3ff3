package svcbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One timed interval of a request; spans of one request share `req`. */
final case class Span(req: String, name: String, startNs: Long,
    endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spark-side record of one job, tagged with the request and the phase
  * (construct, plan, action, ...) that submitted it. */
final class JobRec(val req: String, val phase: String, val submitMs: Long) {
  var endMs: Long = -1L
  var firstLaunchMs: Long = Long.MaxValue
  var stages = 0
  var tasks = 0
  var taskWaitMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
}

/** Collects per-job scheduler and executor numbers keyed by the
  * `svcbench.req` local property. Events arrive on one bus thread;
  * readers call [[org.apache.spark.SvcbenchBus.drain]] first. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val stageSubmitMs = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    val req = Option(p).flatMap(x => Option(x.getProperty(Trace.ReqKey)))
    req.foreach { r =>
      val rec = new JobRec(r, p.getProperty(Trace.PhaseKey, "?"), e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageJob.put(_, rec))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val si = e.stageInfo
    stageSubmitMs.put(si.stageId,
      si.submissionTime.getOrElse(System.currentTimeMillis()))
    Option(stageJob.get(si.stageId)).foreach(_.stages += 1)
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.firstLaunchMs = math.min(j.firstLaunchMs, e.taskInfo.launchTime)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks += 1
      j.taskWaitMs += math.max(0L, e.taskInfo.launchTime -
        stageSubmitMs.getOrDefault(e.stageId, e.taskInfo.launchTime))
      Option(e.taskMetrics).foreach { m =>
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.gcMs += m.jvmGCTime
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
}

/** Spans held in memory for the traced run, plus the job listener. */
final class Tracer(spark: SparkSession) {
  val listener = new JobListener
  val spans = new ConcurrentLinkedQueue[Span]()
  spark.sparkContext.addSparkListener(listener)

  /** Times `body` as span `name` of `req`; Spark jobs it submits are
    * tagged with the same request and phase. */
  def span[T](req: String, name: String)(body: => T): T = {
    val sc = spark.sparkContext
    val (req0, phase0) =
      (sc.getLocalProperty(Trace.ReqKey), sc.getLocalProperty(Trace.PhaseKey))
    sc.setLocalProperty(Trace.ReqKey, req)
    sc.setLocalProperty(Trace.PhaseKey, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(req, name, t0, System.nanoTime()))
      sc.setLocalProperty(Trace.ReqKey, req0)
      sc.setLocalProperty(Trace.PhaseKey, phase0)
    }
  }

  def drain(): Unit = org.apache.spark.SvcbenchBus.drain(spark.sparkContext)

  def jobsOf(reqs: Set[String]): Seq[JobRec] =
    listener.jobs.values().asScala.filter(j => reqs(j.req)).toSeq

  def spansOf(reqs: Set[String]): Seq[Span] =
    spans.asScala.filter(s => reqs(s.req)).toSeq
}

object Trace {
  val ReqKey = "svcbench.req"
  val PhaseKey = "svcbench.phase"

  /** Spans that split a request's wall time. The action span is split
    * further into the Spark jobs it ran; what no span or action job
    * covers is the residual (driver-side work between jobs). */
  val Leaves: Set[String] = Set("construct", "plan", "append", "invalidate",
    "queue")

  /** Per-layer metrics of one traced phase over requests `reqs`, whose
    * wall times are `wallMs` (request id to ms). */
  def layers(tr: Tracer, wallMs: Map[String, Double]): Map[String, Double] = {
    val reqs = wallMs.keySet
    val n = math.max(reqs.size, 1).toDouble
    val jobs = tr.jobsOf(reqs)
    val spans = tr.spansOf(reqs)
    def spanMs(name: String) = spans.filter(_.name == name).map(_.ms).sum
    val actionJobMs = jobs.filter(j => j.phase == "action" && j.endMs >= 0)
      .groupBy(_.req).map { case (r, js) =>
        r -> js.map(j => (j.endMs - j.submitMs).toDouble).sum }
    val leafMs = spans.filter(s => Leaves(s.name))
      .groupBy(_.req).map { case (r, ss) =>
        r -> (ss.map(_.ms).sum + actionJobMs.getOrElse(r, 0.0)) }
    val residual = wallMs.map { case (r, w) =>
      math.max(0.0, w - leafMs.getOrElse(r, 0.0)) }.sum
    val dispatch = jobs.filter(_.firstLaunchMs != Long.MaxValue)
      .map(j => (j.firstLaunchMs - j.submitMs).toDouble).sum
    val tasks = jobs.map(_.tasks).sum
    Map(
      "operators.construct_ms" -> spanMs("construct") / n,
      "operators.builder_jobs" -> jobs.count(_.phase == "construct") / n,
      "catalyst.plan_ms" -> spanMs("plan") / n,
      "spark.jobs_per_op" -> jobs.size / n,
      "spark.stages_per_op" -> jobs.map(_.stages).sum / n,
      "spark.tasks_per_op" -> tasks / n,
      "spark.dispatch_ms" -> dispatch / n,
      "spark.task_wait_ms" ->
        (if (tasks == 0) 0.0 else jobs.map(_.taskWaitMs).sum.toDouble / tasks),
      "executor.run_ms" -> jobs.map(_.runMs).sum / n,
      "executor.cpu_ms" -> jobs.map(_.cpuNs).sum / 1e6 / n,
      "executor.gc_ms" -> jobs.map(_.gcMs).sum / n,
      "executor.shuffle_read_bytes" -> jobs.map(_.shuffleRead).sum / n,
      "executor.shuffle_write_bytes" -> jobs.map(_.shuffleWrite).sum / n,
      "executor.spill_bytes" -> jobs.map(_.spill).sum / n,
      "trace.residual_share" ->
        (if (wallMs.isEmpty) 0.0 else residual / wallMs.values.sum))
  }
}
