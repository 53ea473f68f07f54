package graftbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{CommandResultExec, FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate
import org.apache.spark.sql.util.QueryExecutionListener

/** Records, from outside the program, what each timed request made Spark
  * do: its jobs (SQL or checkpoint), stages with summed task counters,
  * planning phases, AQE re-plans, the file bytes its scans selected, and
  * the RDD block bytes it stored.
  *
  * Requests are tagged by the [[Harness.RequestProp]] local property, which
  * every job submitted from the request's thread carries. Stages inherit
  * their job's request and AQE updates join it through the SQL execution
  * id. Planning phases and scans carry no such id (a QueryExecution's `id`
  * is not its execution id), so they keep their start time and go to the
  * request running then. Everything stays in memory as plain maps until
  * [[Tracer.json]] is called at the end of the run.
  *
  * All callbacks run on the listener-bus thread, so plain collections are
  * safe as long as the reader drains the bus first.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  private final class StageAcc {
    var tasks, failed, empty = 0L
    var runMs, cpuNs, waitMs, scanMs, inRows = 0L
    var shWrite, shWriteNs, shRead, fetchWaitMs, spill = 0L
  }

  private val jobStart = mutable.Map.empty[Int, (String, String, Long, Boolean)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val stageAcc = mutable.Map.empty[(Int, Int), StageAcc]
  private var lastReq: String = null
  private val blockBytes = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val aqe = mutable.Map.empty[Long, Int].withDefaultValue(0)

  private val jobs = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val stages = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val plans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val scans = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val req = p.flatMap(x => Option(x.getProperty(Harness.RequestProp))).orNull
    val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).orNull
    jobStart(e.jobId) = (req, exec, e.time, Tracer.isCheckpointJob(e))
    e.stageIds.foreach(stageJob(_) = e.jobId)
    if (req != null) lastReq = req
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStart.remove(e.jobId).foreach { case (req, exec, t0, ckpt) =>
      jobs += Map("job" -> e.jobId, "req" -> req, "exec" -> exec, "checkpoint" -> ckpt,
        "start_ms" -> t0, "end_ms" -> e.time, "ok" -> (e.jobResult == JobSucceeded))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val i = e.stageInfo
    stageSubmit((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
    a.tasks += 1
    if (e.reason != Success) a.failed += 1
    stageSubmit.get((e.stageId, e.stageAttemptId))
      .foreach(s => a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.inRows += m.inputMetrics.recordsRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.shWriteNs += m.shuffleWriteMetrics.writeTime
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.diskBytesSpilled
      if (m.inputMetrics.recordsRead == 0 && m.shuffleReadMetrics.recordsRead == 0) a.empty += 1
    }
    e.taskInfo.accumulables.foreach { acc =>
      if (acc.name.contains("scan time")) acc.update.foreach {
        case v: Long => a.scanMs += v
        case _ => ()
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val k = (i.stageId, i.attemptNumber())
    val a = stageAcc.remove(k).getOrElse(new StageAcc)
    val submit = stageSubmit.remove(k).orElse(i.submissionTime).getOrElse(0L)
    val job = stageJob.getOrElse(i.stageId, -1)
    stages += Map("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
      "job" -> job, "start_ms" -> submit,
      "end_ms" -> i.completionTime.getOrElse(System.currentTimeMillis()),
      "tasks" -> a.tasks, "failed_tasks" -> a.failed,
      "empty_tasks" -> a.empty, "run_ms" -> a.runMs,
      "cpu_ms" -> a.cpuNs / 1000000, "task_wait_ms" -> a.waitMs,
      "scan_ms" -> a.scanMs, "scan_rows" -> a.inRows,
      "write_bytes" -> a.shWrite,
      "write_ms" -> a.shWriteNs / 1000000, "read_bytes" -> a.shRead,
      "fetch_wait_ms" -> a.fetchWaitMs, "spill_bytes" -> a.spill)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && b.storageLevel.isValid && lastReq != null)
      blockBytes(lastReq) += b.memSize + b.diskSize
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case u: SparkListenerSQLAdaptiveExecutionUpdate => aqe(u.executionId) += 1
    case _ => ()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planned(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planned(qe)

  private def planned(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    phases.foreach { case (phase, s) =>
      plans += Map("query" -> qe.id, "phase" -> phase,
        "start_ms" -> s.startTimeMs, "end_ms" -> s.endTimeMs)
    }
    val start = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
    scans += Map("query" -> qe.id, "start_ms" -> start,
      "files_bytes" -> Tracer.filesBytes(qe.executedPlan))
  }

  /** Everything recorded so far; call after draining the listener bus. */
  def json: Map[String, Any] = Map(
    "jobs" -> jobs.toSeq, "stages" -> stages.toSeq, "plans" -> plans.toSeq,
    "scans" -> scans.toSeq,
    "aqe_updates" -> aqe.map { case (k, v) => k.toString -> v }.toMap,
    "block_bytes" -> blockBytes.toMap)
}

object Tracer {
  /** A job outside any SQL execution that touches a persisted RDD: the
    * eager materialization of a checkpoint, or plan stages run on
    * checkpointed data from inside one. Jobs outside SQL executions that
    * touch no stored block (the parquet footer/schema jobs of a table
    * load) are not counted.
    */
  def isCheckpointJob(e: SparkListenerJobStart): Boolean =
    Option(e.properties).forall(_.getProperty("spark.sql.execution.id") == null) &&
      e.stageInfos.exists(_.rddInfos.exists(_.storageLevel.isValid))

  /** Bytes of the files the plan's parquet scans selected (Spark's "size of
    * files read"). Task input metrics cannot stand in: the parquet reader's
    * vectored reads run off the task thread and are not counted there.
    */
  def filesBytes(p: SparkPlan): Long = p match {
    case c: CommandResultExec => filesBytes(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => filesBytes(a.executedPlan)
    case s: QueryStageExec => filesBytes(s.plan)
    case _: ReusedExchangeExec => 0L
    case f: FileSourceScanExec => f.metrics.get("filesSize").fold(0L)(_.value)
    case other => (other.children ++ other.subqueries).map(filesBytes).sum
  }
}
