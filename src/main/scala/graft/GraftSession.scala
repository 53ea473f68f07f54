package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine tuning that would ship to a real cluster.
  *
  * The reference engine (datafusion-tpc `src/main.rs:41-56`) hard-codes
  * `target_partitions(6)` and a thread-per-core scheduler; the Spark-native
  * equivalents are shuffle-partition sizing, AQE (runtime re-planning /
  * skew handling), and broadcast-join thresholds — all declared here so every
  * entry point (tests, Bench, Verify) gets the same engine profile.
  *
  * The codegen cache. Spark keeps the classes Janino compiles for
  * whole-stage and expression codegen in one JVM-wide LRU cache, 100 entries
  * by default. One `curate_iterative` cycle (pipeline_curate,
  * dedup_minhash_lsh, graph_kcore) touches about 217 distinct classes, and
  * LRU over a cyclic working set larger than the cache misses on every
  * access, so each warm request recompiled its code and ran it in the
  * interpreter again. All 256 keys, each built twice, compile about 2,800
  * distinct classes; `CodegenCacheEntries` (4,096) holds them all with ~45%
  * headroom, for about 23 MB more metaspace (197 → 220 MB measured over that
  * sweep). Caveats:
  *  - `spark.sql.codegen.cache.maxEntries` is a STATIC conf, read once when
  *    the JVM's first codegen initializes `CodeGenerator`. It takes effect
  *    only if the JVM's first session was built through [[tune]]; a JVM whose
  *    first session is a user's own keeps 100 entries for its lifetime.
  *  - on a cluster every executor JVM has its own cache (for codegen run
  *    inside tasks); whether the conf reaches executors is untested, since
  *    in local mode the executor runs inside the same JVM.
  *  - `spark.sql.codegen.useIdInClassName` is an INTERNAL Spark conf. With
  *    its default (true) the codegen stage id is part of the class text, and
  *    AQE numbers stages in completion order, so identical code gets a new
  *    name (`GeneratedIteratorForCodegenStage10` vs `…11`) and misses the
  *    cache on a repeated call however large the cache is (ann_rrf,
  *    q_theil_sen).
  */
object GraftSession {

  /** `spark.sql.codegen.cache.maxEntries`: the measured all-keys working set
    * (~2,800 classes) rounded up to the next power of two.
    */
  val CodegenCacheEntries = 4096

  /** Applies graft's tuning to an existing builder. */
  def tune(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.parquet.filterPushdown", "true")
      // testdata timestamps: events.ts is TIMESTAMP(NANOS) (unsupported by
      // Spark's reader → surface as long, converted in Tables.events);
      // ms-precision cols read as LTZ TIMESTAMP, not NTZ, so epoch functions
      // apply directly (session tz is UTC, so the instant is unambiguous).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      // Write timestamps as INT64 micros, not Spark's default INT96:
      // parquet readers DISTRUST INT96 min/max stats (the format's
      // deprecated encoding), so a time-clustered layout written as
      // INT96 silently loses row-group skipping on time-range predicates
      // — measured r11 via the graft:// IO counters: a no-match
      // timestamp filter read every data page under INT96 (preads 4,
      // 15.2 KB) vs footers only under micros (preads 0, 9.8 KB). At
      // 100 TB, time-range scans over time-clustered facts are the
      // dominant pattern; this conf is the difference between reading
      // stats and reading the table.
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.files.maxPartitionBytes", (128L * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Local session for tests/bench; on a real cluster the master/deploy mode
    * comes from spark-submit and only `tune` applies.
    */
  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val s = tune(SparkSession.builder().master(s"local[$cores]").appName("graft"), cores)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
