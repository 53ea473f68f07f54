package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graft.{ListenerBridge, PartitionedCheckpoint}

/** What one block of work cost Spark: its wall time, every job it launched
  * (with the job's call site and wall), every stage it completed, and the
  * Janino compiles it paid. Execution statistics belong to the engine
  * (Dremel, VLDB 2020), so `graft.Bench` and the `graft.tools` probes all
  * read this one profile instead of each registering a listener of their
  * own.
  *
  * The profile sees every event of the SparkContext while the block runs,
  * so profile one block at a time.
  */
final case class QueryProfile(wallSec: Double, jobs: Seq[QueryProfile.Job],
    stages: Seq[QueryProfile.Stage], compiles: Long) {
  def tasks: Long = stages.map(_.tasks.toLong).sum

  /** Summed executor run time of every stage. Next to wall time it is the
    * realized parallelism: "parallel but job-floor-bound" (both tiny) and
    * "serial" (run time ≈ wall at a large wall) look alike by wall alone.
    */
  def runMs: Long = stages.map(_.runMs).sum

  /** Jobs grouped by call site: (site, jobs, summed wall ms), most wall first. */
  def jobSites: Seq[(String, Int, Long)] =
    jobs.groupBy(_.site).toSeq
      .map { case (site, js) => (site, js.size, js.map(_.wallMs).sum) }
      .sortBy(-_._3)
}

object QueryProfile {

  /** A job's site is its SQL execution's description (the action that
    * started the query) when it runs inside one, else the site of the cut
    * it materializes, else the name of its result stage. A job's wall is 0
    * until its end event arrives.
    */
  final case class Job(id: Int, site: String, startMs: Long, endMs: Long) {
    def wallMs: Long = endMs - startMs
  }

  final case class Stage(id: Int, name: String, tasks: Int, wallMs: Long,
      runMs: Long, inputRecords: Long, shuffleReadRecords: Long,
      shuffleReadBytes: Long, shuffleWriteRecords: Long,
      shuffleWriteBytes: Long)

  /** Runs `body` and returns its result with its profile. The listener bus
    * is drained before the listener is added, so earlier work's queued
    * events stay out, and again after the clock stops, so the block's own
    * last events are in and the drain is never timed. The compile count is
    * Spark's JVM-wide `CodegenMetrics`, so its delta is the block's own only
    * when nothing else compiles meanwhile.
    */
  def apply[T](spark: SparkSession)(body: => T): (T, QueryProfile) = {
    val sc = spark.sparkContext
    val recorder = new Recorder
    ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(recorder)
    try {
      val c0 = compileCount
      val t0 = System.nanoTime()
      val out = body
      val wallSec = (System.nanoTime() - t0) / 1e9
      val compiles = compileCount - c0
      ListenerBridge.waitUntilEmpty(sc)
      (out, QueryProfile(wallSec, recorder.jobs.values.asScala.toSeq.sortBy(_.id),
        recorder.stages.asScala.toSeq, compiles))
    } finally sc.removeSparkListener(recorder)
  }

  private def compileCount: Long =
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private final class Recorder extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    private val executions = new ConcurrentHashMap[Long, String]()

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => executions.put(s.executionId, s.description)
      case _ =>
    }

    // AQE submits a query's stage jobs from a thread pool, so their result
    // stages are named after `CompletableFuture`; the execution they carry
    // names the query. A cut's jobs carry no execution id but the cut's
    // own site. Other jobs keep the result stage's name, the job's newest
    // stage; SQL jobs leave the `callSite.short` property unset
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def property(key: String) = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
      val execution = property(SQLExecution.EXECUTION_ID_KEY)
        .flatMap(id => Option(executions.get(id.toLong)))
      val site = execution.orElse(property(PartitionedCheckpoint.CutSiteKey)).getOrElse(
        e.stageInfos.maxByOption(_.stageId).map(_.name).getOrElse("?"))
      jobs.put(e.jobId, Job(e.jobId, site, e.time, e.time))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      val wall = (for (end <- i.completionTime; start <- i.submissionTime)
        yield end - start).getOrElse(0L)
      stages.add(Stage(i.stageId, i.name, i.numTasks, wall, m.executorRunTime,
        m.inputMetrics.recordsRead,
        m.shuffleReadMetrics.recordsRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.recordsWritten, m.shuffleWriteMetrics.bytesWritten))
    }
  }
}
