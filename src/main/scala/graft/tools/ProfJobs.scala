package graft.tools

import org.apache.spark.sql.SparkSession

import graft.{GraftSession, QueryProfile, SparkEntry}

/** Dev profiling main (not part of the library surface): run named queries
  * through the noop sink under a `graft.QueryProfile`, so the per-query cost
  * can be split into "job-scheduling floor" (many tiny jobs from eager
  * checkpoints and driver actions) vs real executor compute. Guide §1:
  * decide WHERE the time goes before touching anything.
  *
  * Every run prints wall, jobs, stages, tasks, executor task time and
  * summed job wall. The last run also prints job wall by call site and its
  * 12 heaviest stages by task time, with each stage's tasks, wall, input
  * records and shuffle read/write records. The noop sink materializes every
  * column: `.count()` would let Spark answer a pure projection from parquet
  * metadata without reading a data page.
  *
  *   sbt "runMain graft.tools.ProfJobs graph_sssp,dedup_cc /root/testdata/sf0.1 2"
  */
object ProfJobs {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: graft.tools.ProfJobs <q1,q2,...> <sfDir> [runs]")
      sys.exit(2)
    }
    val names = args(0).split(",").toSeq
    val sfDir = args(1)
    val runs = if (args.length > 2) args(2).toInt else 2
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.tune(
        SparkSession.builder().master(s"local[$cpus]"), cpus.toInt)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    for (name <- names) {
      val q = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))
      for (i <- 1 to runs) {
        val (_, p) = QueryProfile(spark) {
          q(spark, sfDir).write.format("noop").mode("overwrite").save()
        }
        println(f"$name run$i: wall=${p.wallSec}%.2fs jobs=${p.jobs.size} stages=${p.stages.size} " +
          f"tasks=${p.tasks} taskTime=${p.runMs / 1000.0}%.2fs jobWall=${p.jobs.map(_.wallMs).sum / 1000.0}%.2fs")
        if (i == runs) {
          p.jobSites.take(12).foreach { case (site, n, ms) =>
            println(f"    jobsite $site%-55s n=$n%-3d wall=${ms / 1000.0}%.2fs")
          }
          p.stages.sortBy(-_.runMs).take(12).foreach { s =>
            println(f"    stage ${s.id}%4d tasks=${s.tasks}%4d wall=${s.wallMs / 1000.0}%6.2fs " +
              f"taskTime=${s.runMs / 1000.0}%6.2fs in=${s.inputRecords}%,13d " +
              f"shufR=${s.shuffleReadRecords}%,13d shufW=${s.shuffleWriteRecords}%,13d  " +
              s.name.take(70))
          }
        }
        spark.catalog.clearCache()
        graft.Checkpoints.releaseAll()
      }
    }
    spark.stop()
  }
}
