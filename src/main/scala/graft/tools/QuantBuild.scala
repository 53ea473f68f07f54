package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, QueryProfile}

/** Measurement harness for the coarse-quantizer BUILD alone (round 15 —
  * r14 verdict item 3): times `Ann.coarseCells` end-to-end (bisecting
  * rounds + leaf-moment pass + beam descent) on a given embeddings dir,
  * plus a checksum of the assignment so an optimized formulation can be
  * proven value-identical, not just faster.
  *
  *   sbt "runMain graft.tools.QuantBuild /tmp/k1000_emb [reps]"
  */
object QuantBuild {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.tune(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import org.apache.spark.sql.functions._
    for (r <- 1 to reps) {
      val (row, p) = QueryProfile(spark) {
        val cells = graft.similarity.Ann.coarseCells(spark, dir, maxRn = 2)
        cells.agg(count(lit(1)).as("n"),
          sum(expr("cell * 1000003 + rn")).as("chk"),
          countDistinct(col("cell")).as("n_cells")).head()
      }
      println(f"""{"rep":$r,"sec":${p.wallSec}%.1f,"rows":${row.getLong(0)},"cells":${row.getLong(2)},"checksum":${row.getLong(1)}}""")
      // stage-duration profile: where the build actually spends its time
      if (r == reps) {
        p.stages.sortBy(-_.wallMs).take(20).foreach { s =>
          println(f"PROFILE ${s.wallMs}%7d ms  stage ${s.id}: ${s.name.take(90)}")
        }
      }
      graft.Checkpoints.releaseAll()
    }
    spark.stop()
  }
}
