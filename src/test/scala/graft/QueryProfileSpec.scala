package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBridge
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** [[QueryProfile]] against an independent listener on the same runs of
  * graph_kcore (a fixpoint loop: dozens of jobs, checkpoint and AQE stages).
  */
class QueryProfileSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private val Unprofiled = "unprofiled"

  /** Jobs, stages, tasks and executor run time, counted by hand. Its pause
    * at every stage end keeps the listener queue behind the driver, so a
    * profile read before the queue drains would miss the last stages.
    */
  private final class Tally extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicLong
    val runMs = new AtomicLong
    /** Stages of jobs run under the job group [[Unprofiled]]. */
    val unprofiled = ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet()
      if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == Unprofiled))
        e.stageIds.foreach(unprofiled.add)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      Thread.sleep(100)
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks)
      runMs.addAndGet(e.stageInfo.taskMetrics.executorRunTime)
    }
    def counts: Seq[Long] = Seq(jobs.get, stages.get, tasks.get, runMs.get)
  }

  /** Runs `body` with a [[Tally]] registered ahead of any profile it opens. */
  private def tallied[T](body: => T): (T, Tally) = {
    val sc = spark.sparkContext
    val tally = new Tally
    ListenerBridge.waitUntilEmpty(sc)
    sc.addSparkListener(tally)
    try {
      val out = body
      ListenerBridge.waitUntilEmpty(sc)
      (out, tally)
    } finally sc.removeSparkListener(tally)
  }

  private def runKcore(): Unit =
    SparkEntry.queries("graph_kcore")(spark, sf)
      .write.format("noop").mode("overwrite").save()

  private def kcore(): QueryProfile = {
    val (_, p) = QueryProfile(spark)(runKcore())
    Checkpoints.releaseAll()
    p
  }

  private def counts(p: QueryProfile): Seq[Long] =
    Seq(p.jobs.size, p.stages.size, p.tasks, p.runMs)

  test("the profile counts what an independent listener counts") {
    val (p, tally) = tallied(kcore())
    assert(p.jobs.size > 10, s"graph_kcore ran ${p.jobs.size} jobs")
    assert(counts(p) == tally.counts)
    assert(p.jobs.forall(_.wallMs >= 0))
    assert(p.jobSites.map(_._2).sum == p.jobs.size)
  }

  test("back-to-back profiles share no events and together miss none") {
    val ((a, b), tally) = tallied((kcore(), kcore()))
    assert(a.jobs.map(_.id).intersect(b.jobs.map(_.id)).isEmpty)
    assert(a.stages.map(_.id).intersect(b.stages.map(_.id)).isEmpty)
    assert(counts(a).zip(counts(b)).map { case (x, y) => x + y } == tally.counts)
  }

  test("a profile opened right after other work sees none of that work's stages") {
    val sc = spark.sparkContext
    val (p, tally) = tallied {
      sc.setJobGroup(Unprofiled, Unprofiled)
      try runKcore() finally sc.clearJobGroup()
      kcore()
    }
    assert(!tally.unprofiled.isEmpty)
    val leaked = p.stages.map(_.id).filter(tally.unprofiled.contains)
    assert(leaked.isEmpty, s"stages of the unprofiled run: $leaked")
  }

  test("the compile count is the CodegenMetrics delta over the block") {
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val c0 = compiled
    val (_, p) = QueryProfile(spark) {
      runKcore()
      // a literal no earlier plan has: its generated class is new
      spark.range(10).selectExpr(s"id * ${System.nanoTime()} AS x")
        .write.format("noop").mode("overwrite").save()
    }
    Checkpoints.releaseAll()
    assert(p.compiles == compiled - c0)
    assert(p.compiles >= 1)
  }

  test("a cut's jobs, AQE stage jobs included, are listed under the cut's own site") {
    val p = kcore()
    val pooled = p.jobSites.filter(_._1.contains("CompletableFuture"))
    assert(pooled.isEmpty, s"graph_kcore jobs under a thread-pool site: $pooled")
    val cuts = p.jobSites.filter(_._1.startsWith("cut at Graph.scala:"))
    assert(cuts.nonEmpty, s"no job under a cut's site: ${p.jobSites}")
  }

  test("AQE stage jobs are listed under their query, not the thread-pool site") {
    val (_, p) = QueryProfile(spark) {
      SparkEntry.queries("q21_waiting_suppliers")(spark, sf)
        .write.format("noop").mode("overwrite").save()
    }
    assert(p.jobs.size > 1, s"q21_waiting_suppliers ran ${p.jobs.size} jobs")
    val pooled = p.jobSites.filter(_._1.contains("CompletableFuture"))
    assert(pooled.isEmpty, s"jobs under a thread-pool site: $pooled")
  }
}
