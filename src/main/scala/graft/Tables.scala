package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Mirrors the reference's `register_parquet(..., parquet_pruning(true))`
  * (`benches/query.rs:37-41`): Spark's vectorized parquet reader does the
  * same row-group pruning + predicate pushdown when plans stay declarative,
  * and, as there, each table's schema is inferred once and reused by every
  * later query build ([[graft.sources.Sources.parquet]]), so a build
  * launches no footer-read job.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.sources.Sources.parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts arrives in either of two physical encodings depending on how
    * the generator wrote it, so the loader branches on the dtype Spark
    * surfaces rather than assuming one:
    *   - parquet TIMESTAMP(NANOS): Spark's reader can't decode nanos, so
    *     GraftSession sets `nanosAsLong` and the column reads as BIGINT
    *     nanos → convert with integral division (floor), matching DuckDB's
    *     ns→us truncation;
    *   - parquet TIMESTAMP(MICROS) (or millis): reads natively as a
    *     TIMESTAMP — pass through untouched (session tz is UTC, so the
    *     instant matches the oracle's naive reading).
    * Downstream operators and the DuckDB oracle are agnostic to which
    * branch ran; both yield a micros-precision TIMESTAMP column.
    */
  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(load(s, d, "events"))

  /** The ts-normalization branch shared by [[events]] and the mixed-schema
    * lake loader (`Sources.eventsLake`): whatever the physical encoding,
    * the caller sees a micros-precision TIMESTAMP `ts`.
    */
  def normalizeEventsTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case TimestampNTZType => df.withColumn("ts", expr("cast(ts as timestamp)"))
      case other => throw new IllegalStateException(
        s"events.ts: unsupported parquet dtype $other (expected BIGINT nanos or TIMESTAMP)")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  private val loaders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "region" -> (region _), "nation" -> (nation _), "customer" -> (customer _),
    "supplier" -> (supplier _), "part" -> (part _), "orders" -> (orders _),
    "lineitem" -> (lineitem _), "events" -> (events _),
    "documents" -> (documents _), "embeddings" -> (embeddings _))

  /** Register every table as a temp view so arbitrary SQL runs against the
    * named tables — the reference's exact usage flow (`register_parquet`
    * then `ctx.sql(...)`, `benches/query.rs:37-47`). Views are lazy plans
    * over the parquet scans (events with its nanos→micros ts conversion
    * baked in), so pushdown/pruning behave identically to the programmatic
    * loaders.
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    loaders.foreach { case (name, fn) =>
      fn(spark, dir).createOrReplaceTempView(name)
    }

  /** Round-robin-spread a DataFrame across the cluster before a
    * compute-heavy map stage — the systemic home for the single-split
    * defect class (r10: four operators each measured serializing an
    * expensive per-row stage onto 1-2 cores because the upstream parquet
    * scan had 1-2 input splits, and map stages inherit the scan's
    * parallelism).
    *
    * Why not `spark.sql.files.minPartitionNum`: Spark splits parquet by
    * BYTE RANGE but assigns each row group to the single split holding its
    * midpoint — and every testdata table is ONE row group (verified via
    * pyarrow, r11), so a smaller split size just manufactures empty splits
    * while all rows still land on one core. Only a shuffle actually
    * redistributes rows of a single-row-group file. On a well-laid-out
    * 100 TB table (many files × many row groups) this exchange is a
    * round-robin of the operator's already-projected input — a few
    * narrow columns, far cheaper than the per-row compute it unlocks —
    * and AQE's coalescing keeps the partition count sane.
    *
    * Use it between the scan (after column pruning — call on the
    * projected frame, not the raw table) and any per-row stage whose
    * cost dwarfs a row's shuffle bytes: HOF encodes over arrays, ×B row
    * expansions, n²-candidate probes.
    */
  def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Size-aware broadcast hint for dimension sides whose TRUE size is
    * SF-proportional (part, supplier, customer, and aggregates over the
    * fact) — the round-14 scale finding: a forced `broadcast()` hint
    * bypasses both `spark.sql.autoBroadcastJoinThreshold` and AQE's
    * runtime demotion, so hinting an SF-scaled relation OOMs the cluster
    * at 100 TB TPC-H (part alone is ~20B rows there) no matter what
    * Catalyst estimates at test SF.
    *
    * The hint still earns its keep at moderate SFs: Catalyst's
    * size-only stats don't shrink a filtered dim (a brand-filtered
    * `part` keeps the full scan estimate), so auto-broadcast under-fires
    * exactly where the builder knows the side is small. `dimHint` keeps
    * that benefit with a ceiling: emit the hint only while the subtree's
    * PLANNED size estimate stays under `spark.graft.dimHint.maxBytes`
    * (default 64 MB, matching the session's autoBroadcastJoinThreshold —
    * the estimate is COMPRESSED-scan bytes, and the r15 17 GB frontier
    * measured a 146 MB zstd part hashing to ~2 GB in memory: a hint
    * bound should stretch Catalyst's under-estimates for filtered dims,
    * not quadruple the platform's broadcast ceiling). Above the
    * bound, no hint: the join plans as shuffle and AQE's
    * OptimizeShuffleWithLocalRead / runtime broadcast conversion decides
    * from ACTUAL sizes — which still broadcasts genuinely small sides,
    * and never the 20B-row ones. Results are unchanged either way (these
    * are inner/semi equi joins; only the physical strategy moves).
    *
    * Join-bearing subtrees (e.g. a per-key stats aggregate over the
    * fact) carry multiplied size-only estimates far above any bound, so
    * they simply never hint — deliberate: their true size is
    * key-domain-proportional, i.e. SF-scaled, the exact class the
    * round-14 verdict flagged.
    *
    * Setting `spark.graft.dimHint.maxBytes=0` disables every dimHint —
    * ScalePatternsSpec uses that to prove the at-scale plans carry no
    * forced broadcast of an SF-scaled relation.
    */
  def dimHint(df: DataFrame): DataFrame = {
    val maxBytes = BigInt(df.sparkSession.conf
      .get("spark.graft.dimHint.maxBytes", (64L * 1024 * 1024).toString))
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= maxBytes) org.apache.spark.sql.functions.broadcast(df) else df
  }

  /** registerAll for a subset of tables — lets fixture dirs that carry only
    * some tables (e.g. an events-only drift fixture) register just those.
    */
  def registerAllSubset(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { name =>
      loaders(name)(spark, dir).createOrReplaceTempView(name)
    }
}
