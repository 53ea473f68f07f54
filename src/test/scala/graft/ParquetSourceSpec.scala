package graft

import java.nio.file.Files
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.sources.Sources

/** The schema-once parquet read path ([[Sources.parquet]]): a repeated
  * load launches no job and matches Spark's own inference, and every input
  * that changes what inference returns (the files, the parquet confs)
  * infers again. Tiny temp fixtures, one shared session.
  */
class ParquetSourceSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local(2)

  override def afterAll(): Unit = spark.stop()

  private def freshPath(tag: String): String =
    Files.createTempDirectory(s"graft_pq_$tag").toString + "/t.parquet"

  private def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  /** Jobs launched by `body`. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val (out, profile) = QueryProfile(spark)(body)
    (out, profile.jobs.size)
  }

  test("a repeated load launches no job and equals Spark's own inference") {
    import spark.implicits._
    val p = freshPath("hit")
    write(Seq((1, "a", 2.5), (2, "b", 3.5)).toDF("k", "s", "v"), p)
    val (_, missJobs) = jobsOf(Sources.parquet(spark, p))
    val (_, plainJobs) = jobsOf(spark.read.parquet(p))
    val (hit, hitJobs) = jobsOf(Sources.parquet(spark, p))
    assert(missJobs == plainJobs && plainJobs >= 1,
      s"a miss must cost what spark.read.parquet does: $missJobs vs $plainJobs")
    assert(hitJobs == 0, s"a hit launched $hitJobs job(s)")
    assert(hit.schema == spark.read.parquet(p).schema)
    assert(hit.collect().toSet == spark.read.parquet(p).collect().toSet)
  }

  test("rewriting the path with a new schema is seen by the next load") {
    import spark.implicits._
    val p = freshPath("rewrite")
    write(Seq(1, 2).toDF("a"), p)
    assert(Sources.parquet(spark, p).columns.toSeq == Seq("a"))
    write(Seq((1, "x")).toDF("a", "b"), p)
    val again = Sources.parquet(spark, p)
    assert(again.columns.toSeq == Seq("a", "b"))
    assert(again.schema == spark.read.parquet(p).schema)
  }

  test("flipping spark.sql.parquet.binaryAsString changes the inferred type") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val key = "spark.sql.parquet.binaryAsString"
    val p = freshPath("binary")
    // written by parquet-mr, not Spark: a Spark-written footer carries its
    // own Spark schema, which inference prefers over binaryAsString
    val schema = MessageTypeParser.parseMessageType(
      "message t { required int32 k; required binary b; }")
    val w = ExampleParquetWriter.builder(new Path(s"$p/part-0.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    try w.write(new SimpleGroupFactory(schema).newGroup().append("k", 1).append("b", "hi"))
    finally w.close()
    val before = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "false")
      assert(Sources.parquet(spark, p).schema("b").dataType == BinaryType)
      spark.conf.set(key, "true")
      val asString = Sources.parquet(spark, p)
      assert(asString.schema("b").dataType == StringType)
      assert(asString.select("b").as[String].collect().toSeq == Seq("hi"))
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("a missing path fails with spark.read.parquet's own error") {
    val missing = Files.createTempDirectory("graft_pq_missing").toString + "/none.parquet"
    val plain = intercept[Exception](spark.read.parquet(missing))
    val ours = intercept[Exception](Sources.parquet(spark, missing))
    assert(ours.getClass == plain.getClass)
    assert(ours.getMessage == plain.getMessage)
  }

  test("four threads loading one table at once get equal schemas") {
    import spark.implicits._
    val p = freshPath("race")
    write(Seq((1L, "a"), (2L, "b")).toDF("id", "name"), p)
    val gate = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(4)
    try {
      val loads = (1 to 4).map(_ => pool.submit(new Callable[DataFrame] {
        override def call(): DataFrame = { gate.await(); Sources.parquet(spark, p) }
      }))
      gate.countDown()
      val schemas = loads.map(_.get(120, TimeUnit.SECONDS).schema)
      assert(schemas.distinct.size == 1)
      assert(schemas.head == spark.read.parquet(p).schema)
      assert(Sources.parquet(spark, p).schema == schemas.head)
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(30, TimeUnit.SECONDS)
    }
  }
}
