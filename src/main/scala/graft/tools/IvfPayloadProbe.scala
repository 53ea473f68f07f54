package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{GraftSession, QueryProfile}

/** Dev probe (round 18, VERDICT r17 item 3): the kNN-graph scoring join's
  * SHUFFLE PAYLOAD at a corpus frontier. Builds `knnGraphIvfTuned` under a
  * `graft.QueryProfile`, sums every stage's shuffle write/read bytes, and
  * prints an order-independent checksum of the produced edge set (count +
  * sum of xxhash64(query_id, neighbor_id)) so a payload rework can PROVE
  * the result set is bit-identical at the frontier, not just at the oracle
  * SFs.
  *
  *   sbt "runMain graft.tools.IvfPayloadProbe /tmp/k1000_emb"
  */
object IvfPayloadProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.tune(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val (sums, p) = QueryProfile(spark) {
      val edges = graft.similarity.Ann.knnGraphIvfTuned(
        spark, dir, probes = 2, replicas = 2, maxCell = 2000)
      edges.agg(
        count(lit(1)).as("n"),
        sum(xxhash64(col("query_id"), col("neighbor_id")).cast("decimal(38,0)"))
          .as("checksum"))
        .head()
    }
    val shufWrite = p.stages.map(_.shuffleWriteBytes).sum
    val shufRead = p.stages.map(_.shuffleReadBytes).sum
    println(f"""{"dir":"$dir","wall_sec":${p.wallSec}%.1f,"task_sec":${p.runMs / 1000.0}%.1f,"shuffle_write_gb":${shufWrite / 1e9}%.3f,"shuffle_read_gb":${shufRead / 1e9}%.3f,"edges":${sums.getLong(0)},"checksum":"${sums.getDecimal(1)}"}""")
    spark.stop()
  }
}
