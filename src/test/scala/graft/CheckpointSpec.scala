package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** The reliable-checkpoint flag (round-8 verdict item 5): iterative
  * operators default to `localCheckpoint()` (executor-memory blocks — fine
  * on local[32], lost with an executor on a real cluster). With
  * `graft.checkpoint.reliable=true` they must run identically through
  * reliable `checkpoint()` on a configured dir — the 1000-executor
  * fault-tolerance path. dedup_cc is the deepest iterative consumer
  * (pointer-jumping CC over the embedding near-dup graph), so it exercises
  * per-round cuts, eager materialization, and multi-consumer reuse.
  */
class CheckpointSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  override def afterAll(): Unit = {
    spark.conf.unset(Checkpoints.ReliableConf)
    spark.stop()
  }

  test("dedup_cc under reliable checkpointing matches the local-checkpoint run") {
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_reliable_ckpt")
    val baseline = graft.dedup.Dedup.embeddingClusters(spark, sf)
      .collect().map(_.toSeq).toSet
    spark.conf.set(Checkpoints.ReliableConf, "true")
    spark.conf.set(Checkpoints.DirConf, ckptDir.toString)
    try {
      val reliableRun = graft.dedup.Dedup.embeddingClusters(spark, sf)
        .collect().map(_.toSeq).toSet
      assert(reliableRun == baseline)
      // the reliable path must actually have written checkpoint data
      val wrote = java.nio.file.Files.walk(ckptDir).count() > 1
      assert(wrote, s"no checkpoint files under $ckptDir — reliable path not taken")
    } finally {
      spark.conf.unset(Checkpoints.ReliableConf)
      spark.conf.unset(Checkpoints.DirConf)
    }
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
    val ids = Seq(rddId(Checkpoints.cut(df)), rddId(Checkpoints.cutPartitioned(df)))
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
