package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.{GraftSession, Tables}
import graft.sources.Sources

/** Rewrite a testdata SF dir as a MULTI-FILE clustered fixture — the
  * reference's register-a-file-set table shape (`benches/query.rs:37-41`
  * registers parquet paths, not single files) and the layout every
  * single-split defect class so far has been blind to (r10 verdict
  * "What's missing" #2: all testdata tables are single files).
  *
  * Each table becomes a DIRECTORY `<dst>/<name>.parquet/` of `nFiles`
  * zstd files range-clustered on its natural sort key (dates for the
  * fact tables — the layout that makes min/max row-group skipping work
  * on time-range predicates; primary keys for dims). Tables are written
  * from the RAW physical schema (no events ts normalization) so the
  * fixture preserves whatever encoding the generator used and the
  * loaders' dtype branches are exercised identically.
  *
  * Usage: sbt "runMain graft.tools.MakeFixture /root/testdata/sf0.01 /tmp/fixture_sf0.01 8"
  *
  * An optional fourth argument names an [[embeddingVariants]] entry
  * (`empty-embeddings`, `one-vector`, `single-label`) that replaces the
  * embeddings table with a degenerate one.
  */
object MakeFixture {
  /** Natural cluster key per table: time for facts, key for dims. */
  val clusterKeys: Map[String, Seq[String]] = Map(
    "region" -> Seq("r_regionkey"),
    "nation" -> Seq("n_nationkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "orders" -> Seq("o_orderdate", "o_orderkey"),
    "lineitem" -> Seq("l_shipdate", "l_orderkey"),
    "events" -> Seq("ts", "event_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  /** Degenerate embeddings tables for the edge-case oracle differential;
    * every other table is copied unchanged.
    */
  val embeddingVariants: Map[String, DataFrame => DataFrame] = Map(
    "empty-embeddings" -> (_.limit(0)),
    "one-vector" -> (_.orderBy(col("vec_id")).limit(1)),
    "single-label" -> (e => e.withColumn("label",
      lit(0).cast(e.schema("label").dataType))))

  def write(spark: SparkSession, srcDir: String, dstDir: String,
      nFiles: Int, variant: Option[String] = None): Unit =
    Tables.all.foreach { name =>
      val src = spark.read.parquet(s"$srcDir/$name.parquet")
      val raw = variant.filter(_ => name == "embeddings")
        .fold(src)(v => embeddingVariants(v)(src))
      // tiny dims stay 1 file (an 5-row region in 8 files is all footer)
      val n = if (raw.count() < 1000) 1 else nFiles
      Sources.writeClustered(raw, s"$dstDir/$name.parquet",
        clusterKeys(name), n)
    }

  def main(args: Array[String]): Unit = {
    if (args.length != 3 && !(args.length == 4 && embeddingVariants.contains(args(3)))) {
      System.err.println("usage: graft.tools.MakeFixture <srcSfDir> <dstDir> " +
        s"<nFiles> [${embeddingVariants.keys.toSeq.sorted.mkString("|")}]")
      sys.exit(2)
    }
    val spark = GraftSession.local(8)
    write(spark, args(0), args(1), args(2).toInt, args.lift(3))
    spark.stop()
  }
}
