package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The reliable-checkpoint flag (round-8 verdict item 5): iterative
  * operators checkpoint to executor-memory blocks by default (fine on
  * local[32], lost with an executor on a real cluster). With
  * `graft.checkpoint.reliable=true` they must run identically through a
  * reliable checkpoint on a configured dir — the 1000-executor
  * fault-tolerance path. Each iterative family runs in both modes:
  * dedup_cc (pointer-jumping CC: per-round cuts, eager materialization,
  * multi-consumer reuse, `observe`-driven stopping), graph_kcore (pinned
  * adjacency plus peel rounds, stopping at the same round),
  * pipeline_curate, dedup_minhash_lsh, bpe_train (cut every few merges)
  * and an IVF build.
  */
class CheckpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  override def afterAll(): Unit = {
    spark.conf.unset(Checkpoints.ReliableConf)
    spark.stop()
  }

  // the SparkContext keeps the first checkpoint dir it is given
  lazy val ckptDir = java.nio.file.Files.createTempDirectory("graft_reliable_ckpt")

  /** Runs `body` with reliable checkpointing on; returns its result and
    * whether it wrote any checkpoint file.
    */
  private def reliably[T](body: => T): (T, Boolean) = {
    def files = {
      val walk = java.nio.file.Files.walk(ckptDir)
      try walk.count() finally walk.close()
    }
    spark.conf.set(Checkpoints.ReliableConf, "true")
    spark.conf.set(Checkpoints.DirConf, ckptDir.toString)
    try {
      val before = files
      val out = body
      (out, files > before)
    } finally {
      spark.conf.unset(Checkpoints.ReliableConf)
      spark.conf.unset(Checkpoints.DirConf)
    }
  }

  private def rowsOf(key: String): Map[String, Int] =
    SparkEntry.queries(key)(spark, sf).collect()
      .groupBy(_.toSeq.mkString("|")).map { case (k, v) => k -> v.length }

  for (key <- Seq("dedup_cc", "graph_kcore", "pipeline_curate",
      "dedup_minhash_lsh", "bpe_train", "ann_topk_ivf")) {
    test(s"$key under reliable checkpointing matches the local-checkpoint run") {
      val baseline = rowsOf(key)
      Checkpoints.releaseAll()
      val (reliableRun, wrote) = reliably(rowsOf(key))
      Checkpoints.releaseAll()
      assert(reliableRun == baseline)
      // the reliable path must actually have written checkpoint data
      assert(wrote, s"no checkpoint files written for $key — reliable path not taken")
    }
  }

  test("graph_kcore's peel loop stops at the same round with the same rows in reliable mode") {
    def run(): (Map[String, Int], Int) = {
      val (core, rounds) = similarity.Graph.kcoreWithRounds(
        similarity.Graph.edges(spark, sf), k = 3, rounds = 8)
      val rows = core.collect().groupBy(_.toSeq.mkString("|")).map { case (k, v) => k -> v.length }
      Checkpoints.releaseAll()
      (rows, rounds)
    }
    val local = run()
    val (reliableRun, wrote) = reliably(run())
    assert(wrote, "no checkpoint files written — reliable path not taken")
    assert(reliableRun._2 == local._2, s"rounds: reliable ${reliableRun._2}, local ${local._2}")
    assert(reliableRun._1 == local._1)
  }

  test("each row is evaluated once per cut, in local and reliable mode") {
    val n = 100000L
    val evals = spark.sparkContext.longAccumulator("udf-evals")
    val counted = org.apache.spark.sql.functions.udf { (x: Long) => evals.add(1L); x * 2 }
    def frame = spark.range(n).toDF("x").select(counted(col("x")).as("y"))
    def evaluations(cutOf: DataFrame => DataFrame): Long = {
      evals.reset()
      val out = cutOf(frame)
      assert(out.count() == n)
      assert(out.agg(sum(col("y"))).head().getLong(0) == n * (n - 1))
      evals.value
    }
    val cuts = Seq[(String, DataFrame => DataFrame)](
      "cut" -> (df => Checkpoints.cut(df)),
      "cutCounted" -> { df =>
        val (out, rows, bytes) = Checkpoints.cutCounted(df)
        assert(rows == n && bytes > 0)
        out
      })
    for ((name, cutOf) <- cuts) {
      assert(evaluations(cutOf) == n, s"local $name")
      val (reliableEvals, wrote) = reliably(evaluations(cutOf))
      assert(wrote, s"reliable $name wrote no checkpoint files")
      assert(reliableEvals == n, s"reliable $name")
    }
    Checkpoints.releaseAll()
  }

  test("an observation on a cut frame completes") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val obs = new org.apache.spark.sql.Observation()
    val cut = Checkpoints.cut(Tables.nation(spark, sf)
      .observe(obs, count(lit(1)).as("rows")))
    // Observation.get blocks until the query execution ends; a cut that
    // materializes outside a SQL execution would never complete it
    val rows = Await.result(Future(obs.get("rows")), 60.seconds)
    assert(rows == cut.count())
    Checkpoints.releaseAll()
  }

  test("a reliable cut keeps no cached blocks once its files are written") {
    val ((cut, rdd), wrote) = reliably {
      val out = Checkpoints.cut(Tables.nation(spark, sf))
      (out, out.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      }.get)
    }
    assert(wrote)
    assert(cut.count() == 25)
    // reads come from the files and do not cache the rows again
    assert(!spark.sparkContext.getPersistentRDDs.contains(rdd.id))
    assert(rdd.getStorageLevel == org.apache.spark.storage.StorageLevel.NONE)
    assert(rdd.isCheckpointed)
    Checkpoints.releaseAll()
  }

  test("a cut's jobs run outside its SQL execution") {
    // job-level listeners tell checkpoint work from query work by the
    // job's execution id: the cut's jobs must carry none, while the
    // execution around them still completes observations (case above)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Boolean, Boolean)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add((Option(e.properties).exists(_.getProperty("spark.sql.execution.id") != null),
          e.stageInfos.exists(_.rddInfos.exists(_.storageLevel.isValid))))
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Checkpoints.cut(Tables.nation(spark, sf).groupBy("n_regionkey").count())
      org.apache.spark.sql.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    val seen = jobs.toArray.toSeq.map(_.asInstanceOf[(Boolean, Boolean)])
    // the aggregation's shuffle stage and the materialization
    assert(seen.size >= 2 && !seen.exists(_._1), s"jobs (in execution, stores blocks): $seen")
    assert(seen.contains((false, true)), s"jobs (in execution, stores blocks): $seen")
    Checkpoints.releaseAll()
  }

  test("reliable=true without a configured dir throws on a non-local master") {
    // a driver-local temp dir would be invisible to executors on a cluster
    intercept[IllegalArgumentException] {
      Checkpoints.resolveDir("spark://cluster:7077", None)
    }
    intercept[IllegalArgumentException] {
      Checkpoints.resolveDir("yarn", None)
    }
    // local mode may fall back to a temp dir; a configured dir always wins
    assert(Checkpoints.resolveDir("local[32]", None).nonEmpty)
    assert(Checkpoints.resolveDir("yarn", Some("hdfs:///ckpt")) == "hdfs:///ckpt")
  }

  test("flag off keeps the executor-memory path (no checkpoint dir required)") {
    assert(!Checkpoints.reliable(spark))
    val df = Tables.nation(spark, sf)
    val cut = Checkpoints.cut(df)
    assert(cut.collect().length == df.collect().length)
  }

  test("releaseAll drops every checkpoint's blocks without a recompute warning") {
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    def rddId(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.analyzed.collectFirst {
        case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
      }.get
    val df = Tables.nation(spark, sf)
    val ids = Seq(rddId(Checkpoints.cut(df)), rddId(Checkpoints.cut(df)))
    assert(ids.forall(spark.sparkContext.getPersistentRDDs.contains))

    val warnings = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("release-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        warnings.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LoggerContext.getContext(false).getRootLogger
    root.addAppender(capture)
    try Checkpoints.releaseAll()
    finally root.removeAppender(capture)

    assert(!ids.exists(spark.sparkContext.getPersistentRDDs.contains))
    val recompute = warnings.toArray.map(_.toString).filter(_.contains("cannot be recomputed"))
    assert(recompute.isEmpty, recompute.mkString("; "))
  }
}
