package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables

/** Data-layout operators: multi-dimensional clustering keys for the write
  * path. Row-group min/max skipping is one-dimensional — a table sorted by
  * key A answers range predicates on A with near-perfect pruning and
  * predicates on B with none. Z-ORDER (Morton) interleaving trades a
  * little pruning on each dimension for usable pruning on ALL of them:
  * sorting by the interleaved bits keeps rows close in every key's space,
  * so a box predicate (a ∈ [..] AND b ∈ [..]) touches O(box surface)
  * row groups instead of the full table. Same idea as Delta/Iceberg
  * OPTIMIZE ZORDER BY; here it is pure expression arithmetic (codegen'd,
  * engine-portable), and the skipping win is MEASURED in SourcesSpec via
  * the graft:// byte counters rather than asserted.
  *
  * Dimensions are RANGE-NORMALIZED before interleaving (each key is
  * scaled to an 8-bit bucket by its own max) — interleaving raw bits
  * hands the top z-bits to whichever key has the wider domain, and the
  * first round-13 measurement showed exactly that: raw 11-bit partkey ×
  * 7-bit suppkey left the top SIX split bits all partkey, so a 64-file
  * layout separated suppkey barely better than the 1-D sort. Equal-width
  * buckets make the split alternate dimensions, which is what Delta's
  * ZORDER does with its per-column range-partition ids.
  */
object Layout {

  /** Bits per dimension after normalization (256 buckets): 2 dims × 8
    * bits = 16-bit z — enough resolution for thousands of files per
    * clustering run; production with more dims sizes this down (3 × 7
    * bits, etc.), the plan shape is unchanged.
    */
  private val ZBits = 8

  /** The Morton interleave as ONE SQL expression string, shared verbatim
    * by the Spark plan and the DuckDB oracle so the bit arithmetic cannot
    * drift between engines: bit i of x lands at 2i, bit i of y at 2i+1.
    */
  private[graft] def zExpr(x: String, y: String): String =
    (0 until ZBits).flatMap { i =>
      Seq(s"((($x >> $i) & 1) << ${2 * i})", s"((($y >> $i) & 1) << ${2 * i + 1})")
    }.mkString("(", " + ", ")")

  /** `⌊key·256 / (max+1)⌋` — the 8-bit range bucket, written as the one
    * division spelling BOTH engines parse identically (`div` is Spark-only,
    * `//` is DuckDB-only): IEEE double divide + explicit FLOOR + CAST.
    * The FLOOR is load-bearing — DuckDB's bare double→BIGINT cast ROUNDS
    * half-to-even while Spark's truncates, so without it the two engines
    * disagree on every bucket whose quotient exceeds its integer part by
    * ≥ .5. max+1 (not max) keeps the bucket strictly < 256.
    */
  private def bucketExpr(key: String, maxCol: String): String =
    s"CAST(FLOOR($key * ${1 << ZBits} / ($maxCol + 1)) AS BIGINT)"

  /** Z-value for every lineitem over (l_partkey, l_suppkey) — the two
    * independent selective dimensions its queries range over. One
    * map-side pass plus a broadcast 1-row max aggregate (the
    * normalization bounds); the write path then clusters with
    * `orderBy(zval)` — a range exchange whose cost replaces the 1-D sort
    * a single-key layout pays anyway.
    */
  def zorder(spark: SparkSession, dir: String): DataFrame =
    withZval(Tables.lineitem(spark, dir)).select(
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
      col("zval"))

  /** Attaches the normalized (l_partkey, l_suppkey) Morton key to any
    * lineitem-shaped frame — the write path computes it in place and
    * clusters on it.
    */
  private[graft] def withZval(df: DataFrame): DataFrame = {
    val maxes = df.agg(max(col("l_partkey")).as("max_pk"),
      max(col("l_suppkey")).as("max_sk"))
    val z = zExpr(bucketExpr("l_partkey", "max_pk"),
      bucketExpr("l_suppkey", "max_sk"))
    df.crossJoin(broadcast(maxes))
      .withColumn("zval", expr(z).cast("bigint"))
      .drop("max_pk", "max_sk")
  }

  val zorderSql: String = {
    val z = zExpr(bucketExpr("l_partkey", "max_pk"),
      bucketExpr("l_suppkey", "max_sk"))
    s"""WITH m AS (
       |  SELECT MAX(l_partkey) AS max_pk, MAX(l_suppkey) AS max_sk
       |  FROM lineitem)
       |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
       | CAST($z AS BIGINT) AS zval
       |FROM lineitem, m""".stripMargin
  }

  /** Lineitem BUCKETED on l_orderkey — the storage-layout lever addendum 8
    * named for fact-cardinality aggregates (q18/q11's 600M-row shuffle IS
    * their floor; bucketing moves that shuffle to write time, once,
    * amortized over every subsequent orderkey aggregate/join). Spark's
    * bucketBy publishes HashPartitioning(l_orderkey, n) in the catalog, so
    * a groupBy(l_orderkey) over the table plans with NO Exchange — the
    * partial aggregate that reduced only 2% at 17 GB disappears entirely
    * along with the 588M-row shuffle (measured: tools/BucketedAggScale).
    * Write-once per (dir, buckets) per JVM, like [[graft.similarity.Ann
    * .materializedCells]]; table name is dir-keyed so different corpora
    * never collide.
    *
    * Single-JVM assumption: the tableExists check, the orphaned-location
    * delete and the saveAsTable below are serialized only by this
    * JVM-local lock map. Two JVMs, or two sessions with separate catalogs,
    * sharing one warehouse dir can race, and one may delete files that
    * the other's live catalog still references. Share a warehouse dir
    * only through one metastore-backed catalog, or give each JVM its own.
    */
  private val bucketedTableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[graft] def bucketedLineitem(spark: SparkSession, dir: String,
      buckets: Int = 16): String = {
    val tbl = "graft_li_b_" +
      java.lang.Integer.toHexString(s"$dir#$buckets".hashCode)
    // existence is a property of the SESSION's catalog, not of this JVM: a
    // JVM-global "already written" memo goes stale the moment a test
    // harness cycles sessions (each fresh in-memory catalog loses the
    // table metadata while the memo still claims it exists — measured as
    // TABLE_OR_VIEW_NOT_FOUND in ScalePatternsSpec/BucketingSpec). The
    // lock map only serializes concurrent writers of the same table.
    bucketedTableLocks.computeIfAbsent(tbl, _ => new Object).synchronized {
      if (!spark.catalog.tableExists(tbl)) {
        // a previous session (or JVM) may have died between catalog loss
        // and location cleanup: saveAsTable refuses a managed-table
        // location that exists without metadata (LOCATION_ALREADY_EXISTS),
        // so an orphaned warehouse dir is deleted before the rewrite —
        // its metadata is gone, the files are unreachable either way
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), tbl)
        val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(loc)) fs.delete(loc, true)
        Tables.lineitem(spark, dir)
          .write.mode("overwrite")
          .bucketBy(buckets, "l_orderkey").sortBy("l_orderkey")
          .saveAsTable(tbl)
      }
    }
    tbl
  }

  /** The q18-shape per-order HAVING aggregate served from the bucketed
    * layout — the exchange-free plan BucketingSpec proves, as an
    * oracle-checked query: the oracle runs the same aggregate over RAW
    * lineitem, so a hash match proves the bucketed copy is value-identical
    * AND the layout serves the aggregate correctly (the q_manifest_scan
    * value-identity pattern).
    */
  def bucketedAgg(spark: SparkSession, dir: String): DataFrame =
    spark.table(bucketedLineitem(spark, dir))
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 300)

  val bucketedAggSql: String =
    """SELECT l_orderkey, SUM(l_quantity) AS total_qty
      |FROM lineitem GROUP BY 1 HAVING SUM(l_quantity) > 300""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "layout_zorder" -> (zorder _),
    "layout_bucketed" -> (bucketedAgg _))

  val oracles: Map[String, String] = Map(
    "layout_zorder" -> zorderSql,
    "layout_bucketed" -> bucketedAggSql)
}
