package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Checkpoints.CheckpointOps

import graft.Tables
import graft.functions.native

/** Deduplication family over `documents` / `embeddings` — the core
  * curation stage of a large-scale training-data pipeline.
  *
  * Scale design: exact dedup is a hash group-by (one shuffle on the content
  * hash). The near-dup operators (MinHash-LSH, SimHash, n-gram blocking)
  * all reduce the O(n²) pair space to per-bucket joins whose shuffle key is
  * the bucket/band hash — linear data movement + bucket-local candidate
  * generation, which is the only shape that survives 100 TB. Brute-force
  * variants exist only where the oracle needs exactness at test SF.
  */
object Dedup {

  /** Exact dedup via content-hash group-by: keeper = min doc_id. The
    * group/exchange key is the 256-bit sha2 — collision-resistant, so an
    * adversarial corpus can't engineer silent merges (md5 is
    * collision-broken) — NOT the text itself: at corpus scale the shuffle
    * ships (hash, doc_id) pairs, never document bodies.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(sha2(col("text"), 256).as("content_hash"), col("doc_id"))
      .groupBy(col("content_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))

  val exactSql: String =
    """SELECT SHA256(text) AS content_hash, MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY 1""".stripMargin

  /** Exact dedup, window formulation — emits the kept rows themselves
    * (row_number over the content hash), the shape used when the full row
    * must survive.
    */
  def exactHash(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col("doc_id"))
    Tables.documents(spark, dir)
      .withColumn("content_hash", sha2(col("text"), 256))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("content_hash"))
  }

  val exactHashSql: String =
    """SELECT doc_id, content_hash FROM (
      | SELECT doc_id, SHA256(text) AS content_hash,
      |  ROW_NUMBER() OVER (PARTITION BY SHA256(text) ORDER BY doc_id) AS rn
      | FROM documents) t WHERE rn = 1""".stripMargin

  /** Bag-of-words canonical dedup: the canonical form is the SORTED set of
    * distinct tokens, so word-order shuffles and within-document repetition
    * — the cheapest spam/SEO mutations, invisible to [[exact]]'s byte hash —
    * land in the same group. Between exact and near-dup in strictness:
    * no pair space at all (it's a group-by, like exact), but catches a
    * mutation class MinHash needs banding for. `n_variants` counts the
    * distinct byte-level texts merged per group — the measure of what this
    * canonicalization bought over [[exact]].
    *
    * Scale shape: canonicalization is in-row (split → distinct → sort →
    * hash, bounded by doc length); the exchange ships (256-bit hash,
    * doc_id, text-hash) triples, never bodies — one corpus-keyed shuffle,
    * map-side partial aggregation, no skew beyond true dup-group sizes.
    */
  def bow(spark: SparkSession, dir: String): DataFrame =
    bowOf(Tables.documents(spark, dir))

  private[graft] def bowOf(documents: DataFrame): DataFrame =
    documents
      .select(
        sha2(array_join(array_sort(array_distinct(split(col("text"), " "))), " "), 256)
          .as("bow_hash"),
        sha2(col("text"), 256).as("content_hash"),
        col("doc_id"))
      .groupBy(col("bow_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_docs"),
        countDistinct(col("content_hash")).as("n_variants"))

  val bowSql: String =
    """SELECT SHA256(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_hash,
      | MIN(doc_id) AS keeper_id, COUNT(*) AS n_docs,
      | COUNT(DISTINCT SHA256(text)) AS n_variants
      |FROM documents GROUP BY 1""".stripMargin

  /** Content-defined-chunking dedup (the storage-dedup / FastCDC family):
    * chunk boundaries follow CONTENT via the Gear rolling hash
    * ([[graft.functions.native.gearChunkEnds]], codegen — boundary when
    * h mod 64 == 0 at chunk length ≥ 16 code points), so an insertion
    * early in a document re-chunks only its neighborhood and every
    * UNSHIFTED run still produces byte-identical chunks — the mutation
    * class that defeats both [[exact]] (any edit) and [[bow]] (token-set
    * changes) but leaves most CDC chunks shared. Output: per chunk hash,
    * occurrence/document counts and the keeper — the dedup ledger a
    * storage layer or a near-dup miner reads.
    *
    * Scale shape: chunking is in-row (one codegen pass per document);
    * the exchange ships (md5, doc_id) pairs — one chunk-keyed shuffle
    * with map-side partial aggregation, never document bodies. The
    * oracle replays the identical Gear walk as a per-character recursive
    * CTE (all documents advance in lock-step, Σ n_chars total rows), then
    * cuts the same code-point substrings.
    */
  def cdc(spark: SparkSession, dir: String): DataFrame =
    cdcOf(Tables.documents(spark, dir))

  private[graft] def cdcOf(documents: DataFrame): DataFrame =
    cdcChunks(documents)
      .groupBy(col("chunk_md5"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keeper_id"))

  /** Chunk-level CDC view: (doc_id, chunk_md5) per content-defined chunk —
    * the composition surface [[cdcOf]] aggregates and
    * [[graft.pipeline.Curate.runV2]] joins for per-doc duplication share.
    */
  private[graft] def cdcChunks(documents: DataFrame): DataFrame =
    documents
      .withColumn("ends", graft.functions.native.gearChunkEnds(col("text")))
      .select(col("doc_id"), col("text"), col("ends"),
        posexplode(col("ends")).as(Seq("ci", "e")))
      .withColumn("s",
        when(col("ci") === 0, lit(0)).otherwise(expr("element_at(ends, ci)")))
      .select(col("doc_id"),
        md5(expr("substring(text, s + 1, e - s)")).as("chunk_md5"))

  val cdcSql: String =
    s"""WITH RECURSIVE $cdcChunksCtes
       |SELECT chunk_md5, COUNT(*) AS n_occurrences,
       |  COUNT(DISTINCT doc_id) AS n_docs, MIN(doc_id) AS keeper_id
       |FROM chunks GROUP BY 1""".stripMargin

  /** The Gear-walk CTE chain ending at `chunks(doc_id, chunk_md5)` —
    * shared by [[cdcSql]] and the curate-v2 oracle. A `def`, not a `val`:
    * `cdcSql` above interpolates it, and a val would still be null there
    * (object vals initialize in declaration order).
    */
  private[graft] def cdcChunksCtes: String =
    """chars AS (
      |  SELECT doc_id, i, unicode(substr(text, i, 1)) AS cp
      |  FROM documents, unnest(generate_series(1, len(text))) t(i)),
      |walk AS (
      |  SELECT doc_id, 0 AS i, CAST(0 AS HUGEINT) AS h, 0 AS start,
      |    CAST([] AS INT[]) AS ends, len(text) AS n
      |  FROM documents
      |  UNION ALL
      |  SELECT w.doc_id, w.i + 1,
      |    CASE WHEN (w.i + 1 - w.start >= 16) AND
      |      (((w.h * 2) + (CAST(c.cp AS HUGEINT) * 2654435761) % 4294967296)
      |        % 2305843009213693952) % 64 = 0
      |      THEN CAST(0 AS HUGEINT)
      |      ELSE ((w.h * 2) + (CAST(c.cp AS HUGEINT) * 2654435761) % 4294967296)
      |        % 2305843009213693952 END,
      |    CASE WHEN (w.i + 1 - w.start >= 16) AND
      |      (((w.h * 2) + (CAST(c.cp AS HUGEINT) * 2654435761) % 4294967296)
      |        % 2305843009213693952) % 64 = 0
      |      THEN w.i + 1 ELSE w.start END,
      |    CASE WHEN (w.i + 1 - w.start >= 16) AND
      |      (((w.h * 2) + (CAST(c.cp AS HUGEINT) * 2654435761) % 4294967296)
      |        % 2305843009213693952) % 64 = 0
      |      THEN list_append(w.ends, w.i + 1) ELSE w.ends END,
      |    w.n
      |  FROM walk w JOIN chars c ON c.doc_id = w.doc_id AND c.i = w.i + 1
      |  WHERE w.i < w.n),
      |fin AS (
      |  SELECT doc_id,
      |    CASE WHEN start < n THEN list_append(ends, n) ELSE ends END AS ends
      |  FROM walk WHERE i = n),
      |chunks AS (
      |  SELECT f.doc_id,
      |    md5(substr(d.text,
      |      COALESCE(f.ends[u.ci - 1], 0) + 1,
      |      f.ends[u.ci] - COALESCE(f.ends[u.ci - 1], 0))) AS chunk_md5
      |  FROM fin f
      |  JOIN documents d ON d.doc_id = f.doc_id,
      |  unnest(generate_series(1, len(f.ends))) u(ci))""".stripMargin

  /** Word-3gram shingles, distinct, as an array column (no explode: the
    * shingle set stays row-local until the LSH bands shuffle).
    *
    * try_element_at, NOT `words[i]`: Spark 4 runs ANSI mode by default,
    * where an out-of-range array index THROWS — a sub-3-word document
    * would crash the whole job. try_element_at returns NULL there and
    * concat_ws skips NULLs, which is exactly DuckDB's `words[i]`
    * semantics, so short docs produce the same degenerate shingle on both
    * sides of the oracle.
    */
  private[graft] def withShingles(df: DataFrame): DataFrame =
    df.withColumn("words", split(col("text"), " "))
      .withColumn("shingles", expr(
        """array_distinct(transform(sequence(0, greatest(size(words)-3, 0)),
          |  i -> concat_ws(' ', try_element_at(words, i+1),
          |    try_element_at(words, i+2), try_element_at(words, i+3))))""".stripMargin))

  /** MinHash signatures (64 Carter–Wegman permutations, native codegen
    * expression) over word-3gram shingles, plus sorted shingle-hash arrays
    * for O(n+m) exact-Jaccard verification (hash Jaccard ≡ shingle Jaccard
    * w.h.p. at 64 bits).
    */
  private[graft] def withMinhash(df: DataFrame, bands: Int = 16): DataFrame =
    withShingles(df)
      .withColumn("sig", native.minHashSignature(col("shingles"), 4 * bands))
      .withColumn("gh", array_sort(array_distinct(expr("transform(shingles, s -> xxhash64(s))"))))

  /** Hot-bucket cap for LSH band joins (round-4 verdict): a degenerate band
    * value (constant MinHash band on boilerplate, simhash band 0 on
    * near-empty docs) makes one bucket's self-join quadratic — and a bucket
    * that large is non-discriminative by definition, so dropping it loses
    * no real signal. The oversized-key list is tiny IN PRACTICE (hot keys
    * are rare) but its worst case is rows/cap — SF-proportional — so the
    * anti-join side goes through [[graft.Tables.dimHint]] (r15): hinted at
    * test SF, strategy left to AQE's RUNTIME size of the filtered
    * aggregate above the bound (which still broadcasts the genuinely tiny
    * hot list at 100 TB, without the forced-hint OOM risk). `observe`
    * attaches the dropped count to the plan itself (zero extra passes —
    * read it from QueryExecutionListener / the CollectMetrics node).
    */
  private[graft] def capBuckets(bands: DataFrame, keyCols: Seq[String],
      maxBucket: Int, metricName: String): DataFrame = {
    val keys = keyCols.map(col)
    val hot = bands.groupBy(keys: _*).agg(count(lit(1)).as("bsz"))
      .observe(metricName,
        sum(when(col("bsz") > maxBucket, col("bsz")).otherwise(0L)).as("dropped_rows"),
        sum(when(col("bsz") > maxBucket, 1L).otherwise(0L)).as("dropped_buckets"))
      .filter(col("bsz") > maxBucket)
      .select(keys: _*)
    bands.join(graft.Tables.dimHint(hot), keyCols, "left_anti")
  }

  /** MinHash + banded LSH near-dup detection: TWO independent band
    * families — 32 bands × 4 rows over a 128-permutation signature
    * (round 16; permutations 64..127 are the second Carter–Wegman family,
    * prefix-compatible with the 64-perm signature) — exact Jaccard
    * verification, reported at the dedup threshold j ≥ 0.8.
    *
    * Pipeline: signature → band hashes → explode bands (32 rows/doc) →
    * hot-bucket cap → self-join on (band, band_hash) → distinct candidate
    * pairs → verify with exact Jaccard on the shingle-hash sets → best
    * verified candidate per doc (nullable left join back to all docs).
    *
    * ORACLE CAVEAT, now mostly retired (r15 verdict item 7, decided by
    * measurement): the oracle is exact all-pairs shingle Jaccard, the
    * Spark side is banded-LSH candidates + exact verify — the hash check
    * measures LSH recall directly. The old 16-band family missed a pair
    * with probability (1−j⁴)¹⁶ ≈ 2·10⁻⁴ at j = 0.8; the second family
    * squares that to (1−j⁴)³² ≈ 4.6·10⁻⁸. Measured at the 5M-doc corpus
    * (tools/MinhashBandsScale, BENCH_NOTES round-16 addendum): 1.25×
    * wall (213.9 → 267.7 s) and the wider family RECOVERED 5 real ≥0.8
    * pairs of 256k the 16-band run missed — the designed tail was
    * observable at corpus scale, which is why it was worth closing.
    * [[incremental]] and the streaming band mirror STAY on the 16-band
    * family: their per-doc streaming state doubles with band count, and
    * their caveat remains documented instead. Hash-Jaccard over
    * xxhash64(shingle) equals shingle Jaccard absent in-corpus 64-bit
    * collisions.
    */
  /** All LSH-candidate pairs with exact verified Jaccard ≥ `threshold` —
    * the shared pair engine behind [[minhashLsh]] (best-candidate view) and
    * [[clusters]] (the FULL pair set: clustering over best-candidate edges
    * only would under-merge — A—B and C—D both "best" can hide a bridging
    * B—C pair).
    */
  private[graft] def minhashVerifiedPairs(spark: SparkSession, dir: String,
      threshold: Double, maxBucket: Int = 10000, nBands: Int = 32): DataFrame = {
    // materialize the signature frame ONCE (guide §1.2 "don't compute
    // things you throw away"): `docs` feeds the band explode AND both
    // sides of the verify join, and without the cut each consumer re-runs
    // the scan + shingling + 128-perm MinHash + gh sort — three corpus
    // passes over the most expensive per-row expressions in the pipeline.
    // Production materializes signatures next to the corpus for the same
    // reason (they are the reusable index artifact).
    val docs = withMinhash(Tables.documents(spark, dir), nBands)
      .select(col("doc_id"), col("gh"), col("sig"))
      .cutLineage()
    val bands = capBuckets(
      docs.select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, ${nBands - 1}),
          |  b -> named_struct('band', b, 'bh', xxhash64(sig[4*b], sig[4*b+1], sig[4*b+2], sig[4*b+3])))""".stripMargin))
        .as("bb"))
        .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh")),
      Seq("band", "bh"), maxBucket, "minhash_bucket_cap")
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("id_a"), col("gh").as("gh_a")), "id_a")
      .join(docs.select(col("doc_id").as("id_b"), col("gh").as("gh_b")), "id_b")
      .withColumn("inter", native.sortedIntersectCount(col("gh_a"), col("gh_b")))
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (size(col("gh_a")) + size(col("gh_b")) - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  def minhashLsh(spark: SparkSession, dir: String, maxBucket: Int = 10000): DataFrame = {
    val verified = minhashVerifiedPairs(spark, dir, 0.8, maxBucket)
    // same tail rework as simhash (round 12): the old unionAll of two
    // projections re-ran the whole candidate+verify pipeline once per
    // direction, and the rank window sorted the verified pair set —
    // which is quadratic in dup-group size. Both directions explode
    // in-row from ONE pass and stream into bounded top-1 heaps. (The
    // candidate distinct() upstream stays: unlike simhash's, it gates
    // the expensive shingle-intersection verify, so its slim pair
    // exchange pays for itself up to 16× in skipped verifications.)
    val directed = verified.select(explode(expr(
        "array(named_struct('doc_id', id_a, 'cand_id', id_b), " +
          "named_struct('doc_id', id_b, 'cand_id', id_a))")).as("e"),
        col("jaccard"))
      .select(col("e.doc_id").as("doc_id"), col("e.cand_id").as("cand_id"), col("jaccard"))
    val best = graft.operators.TopK.perKey(directed,
      keys = Seq("doc_id"),
      order = Seq("jaccard" -> true, "cand_id" -> false), k = 1)
    Tables.documents(spark, dir).select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cand_id").as("dup_candidate"), col("jaccard"))
  }

  /** Shared oracle fragment: the word-3gram shingle sets and exact
    * all-pairs intersection CTEs (w → sh → g → c → inter). Interpolated
    * into EVERY oracle that mirrors the minhash pair engine
    * ([[minhashLshSql]], [[clustersSql]], Curate.oracleSql) so the three
    * cannot drift apart — one string, one set of shingle semantics.
    * Out-of-range list indexes are NULL and concat_ws skips NULLs, which
    * `withShingles` mirrors with try_element_at, so sub-3-word docs yield
    * the same degenerate shingles in both engines.
    */
  private[graft] val shinglePairCtes: String =
    """w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |sh AS (
      |  SELECT doc_id, list_distinct(list_transform(
      |    generate_series(0, greatest(len(words)-3, 0)),
      |    i -> concat_ws(' ', words[i+1], words[i+2], words[i+3]))) AS shingles
      |  FROM w),
      |g AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
      |c AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ni
      |  FROM g a JOIN g b ON a.s = b.s AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  /** DuckDB mirror of `minhashLsh`: exact all-pairs word-3gram-shingle
    * Jaccard at the same ≥ 0.8 threshold (see the recall caveat on
    * [[minhashLsh]]).
    */
  val minhashLshSql: String =
    s"""WITH $shinglePairCtes,
      |pairs AS (
      |  SELECT i.id_a, i.id_b,
      |         CAST(i.ni AS DOUBLE) / (ca.n + cb.n - i.ni) AS jaccard
      |  FROM inter i
      |  JOIN c ca ON ca.doc_id = i.id_a
      |  JOIN c cb ON cb.doc_id = i.id_b),
      |directed AS (
      |  SELECT id_a AS doc_id, id_b AS cand_id, jaccard FROM pairs WHERE jaccard >= 0.8
      |  UNION ALL
      |  SELECT id_b AS doc_id, id_a AS cand_id, jaccard FROM pairs WHERE jaccard >= 0.8),
      |best AS (
      |  SELECT doc_id, cand_id, jaccard
      |  FROM (SELECT doc_id, cand_id, jaccard,
      |          row_number() OVER (PARTITION BY doc_id
      |                             ORDER BY jaccard DESC, cand_id) AS rn
      |        FROM directed) t
      |  WHERE rn = 1)
      |SELECT d.doc_id, best.cand_id AS dup_candidate, best.jaccard
      |FROM (SELECT doc_id FROM documents) d
      |LEFT JOIN best ON d.doc_id = best.doc_id""".stripMargin

  /** 64-bit SimHash near-dup detection with 4×16-bit band blocking.
    *
    * SimHash bit i = sign of Σ_words (±1 by word-hash bit i); candidates
    * share at least one 16-bit band (Hamming ≤ 3 guarantees a shared band by
    * pigeonhole over 4 bands); verified by exact Hamming distance ≤ 8.
    */
  def simhash(spark: SparkSession, dir: String, maxBucket: Int = 10000): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .withColumn("words", split(col("text"), " "))
      .withColumn("simhash", native.simHash64(col("words")))
      .select(col("doc_id"), col("simhash"))
    val bands = capBuckets(
      docs.select(col("doc_id"), col("simhash"), explode(expr(
        "transform(sequence(0, 3), b -> named_struct('band', b, 'bv', shiftright(simhash, 16*b) & 65535))")).as("bb"))
        .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bv").as("bv")),
      Seq("band", "bv"), maxBucket, "simhash_bucket_cap")
    // Round-12 rework of the candidate consumption, driven by the 17 GB
    // frontier: the pair multiset is QUADRATIC in dup-group size (a
    // near-dup-heavy corpus put billions of hamming≤8 pairs through this
    // pipeline at K=1000), and every plan that materializes, exchanges,
    // or sorts it dies at scale — measured in order: (a) Catalyst
    // misestimated the capped bands table as broadcastable (~1 GiB
    // humongous hash-relation allocations, G1 GCLocker warnings →
    // simhashCandidates carries a merge hint); (b) a lineage cut to fix
    // the old unionAll double compute tried to STORE the pair set —
    // 63 GB of disk, gone; (c) even streamed, the distinct()'s pair-set
    // exchange plus the rank window's full pair-set sort spilled 62 GB
    // (UnsafeExternalSorter SPILL_OUT_OF_MEMORY). None of the three is
    // needed: both directions explode IN-ROW from one pass of the join
    // output, duplicate pairs can't change a per-doc minimum (distinct
    // dropped), and best-candidate = TopKPerKey k=1 — bounded heaps with
    // the row-budgeted partial pass, no sort, nothing quadratic on disk.
    val cand = simhashCandidates(bands)
    val directed = cand.select(explode(expr(
        "array(named_struct('doc_id', id_a, 'cand_id', id_b), " +
          "named_struct('doc_id', id_b, 'cand_id', id_a))")).as("e"),
        col("hamming"))
      .select(col("e.doc_id").as("doc_id"), col("e.cand_id").as("cand_id"), col("hamming"))
    val best = graft.operators.TopK.perKey(directed,
      keys = Seq("doc_id"),
      order = Seq("hamming" -> false, "cand_id" -> false), k = 1)
    docs.select(col("doc_id"), col("simhash"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("simhash"), col("cand_id").as("dup_candidate"), col("hamming"))
  }

  /** The banded candidate stage of [[simhash]], pre-lineage-cut — exposed
    * so the plan-assertion suite can audit the join strategy (the cut
    * hides the subtree behind a LogicalRDD in the composed query).
    */
  private[graft] def simhashCandidates(bands: DataFrame): DataFrame =
    bands.as("a").hint("merge").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        expr("bit_count(a.simhash ^ b.simhash)").as("hamming"))
      .filter(col("hamming") <= 8)

  /** DuckDB mirror of `simhash` — FULLY deterministic, unlike the
    * probabilistic LSH caveats: the band values are pure functions of the
    * simhash itself, so the oracle reproduces the exact same candidate
    * condition (∃ shared 16-bit band) rather than approximating it.
    * Per distinct word, the token hash replays the mod-2⁶⁴ polynomial with
    * HUGEINT (the `fingerprintSql` trick); bit signs aggregate per (doc,
    * bit); the signed 64-bit wrap precedes the Hamming check so
    * bit_count(xor) sees the same two's-complement longs Spark does.
    * power(2, b) is exact in a double for b ≤ 63 (it IS a power of two).
    */
  val simhashSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |wd AS (SELECT DISTINCT w FROM tok),
      |wb AS (
      |  SELECT w, i,
      |    CAST((strpos('0123456789ABCDEF', substring(hx, i*2+1, 1)) - 1) * 16 +
      |         (strpos('0123456789ABCDEF', substring(hx, i*2+2, 1)) - 1) AS HUGEINT) AS byte
      |  FROM (SELECT w, hex(encode(w)) AS hx,
      |          unnest(generate_series(0, octet_length(encode(w))-1)) AS i FROM wd) t),
      |wh AS (
      |  SELECT w, list_reduce(list(byte ORDER BY i),
      |    (acc, x) -> (acc * 1000003 + x) % CAST('18446744073709551616' AS HUGEINT)) AS h
      |  FROM wb GROUP BY w),
      |tokh AS (
      |  SELECT t.doc_id, coalesce(wh.h, CAST(0 AS HUGEINT)) AS h
      |  FROM tok t LEFT JOIN wh ON t.w = wh.w),
      |bits AS (
      |  SELECT doc_id, b.range AS b,
      |    SUM(CASE WHEN (h // CAST(power(2, b.range) AS HUGEINT)) % 2 = 1
      |          THEN 1 ELSE -1 END) AS cnt
      |  FROM tokh CROSS JOIN range(64) b GROUP BY 1, 2),
      |sh AS (
      |  SELECT doc_id,
      |    SUM(CASE WHEN cnt > 0 THEN CAST(power(2, b) AS HUGEINT)
      |          ELSE CAST(0 AS HUGEINT) END) AS hu
      |  FROM bits GROUP BY 1),
      |d AS (
      |  SELECT doc_id, hu,
      |    CAST(CASE WHEN hu >= CAST('9223372036854775808' AS HUGEINT)
      |      THEN hu - CAST('18446744073709551616' AS HUGEINT) ELSE hu END AS BIGINT) AS simhash
      |  FROM sh),
      |bands AS (
      |  SELECT doc_id, b.range AS band,
      |    (hu // CAST(power(2, 16 * b.range) AS HUGEINT)) % 65536 AS bv
      |  FROM d CROSS JOIN range(4) b),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM bands a JOIN bands b
      |    ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
      |pairs AS (
      |  SELECT c.id_a, c.id_b, bit_count(xor(da.simhash, db.simhash)) AS hamming
      |  FROM cand c
      |  JOIN d da ON da.doc_id = c.id_a
      |  JOIN d db ON db.doc_id = c.id_b
      |  WHERE bit_count(xor(da.simhash, db.simhash)) <= 8),
      |directed AS (
      |  SELECT id_a AS doc_id, id_b AS cand_id, hamming FROM pairs
      |  UNION ALL
      |  SELECT id_b AS doc_id, id_a AS cand_id, hamming FROM pairs),
      |best AS (
      |  SELECT doc_id, cand_id, hamming
      |  FROM (SELECT doc_id, cand_id, hamming,
      |          row_number() OVER (PARTITION BY doc_id
      |                             ORDER BY hamming, cand_id) AS rn
      |        FROM directed) t
      |  WHERE rn = 1)
      |SELECT d.doc_id, d.simhash, best.cand_id AS dup_candidate,
      |       CAST(best.hamming AS INT) AS hamming
      |FROM d LEFT JOIN best ON d.doc_id = best.doc_id""".stripMargin

  /** Exact byte-4gram Jaccard within cheap blocks (lang × length
    * bucket) — the "verify everything in a small block" pattern for
    * near-dup detection when LSH recall isn't enough. Oracle-checked
    * against `ngramJaccardSql` (the gram hash is injective, see there).
    */
  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardOf(Tables.documents(spark, dir))

  /** Core of [[ngramJaccard]], block size bounded (round-4 verdict).
    *
    * Block population is data-dependent and unbounded, so blocks are routed
    * by size (the block-size table has bounded cardinality — langs × length
    * buckets — and broadcasts):
    *  - blocks ≤ `maxBlock` docs take the collect_list path: one shuffle
    *    moves each gram set exactly once into its block row; pairs are
    *    generated and scored inside the row, so only (id_a, id_b, jaccard)
    *    triples leave the block — and the aggregate row is now bounded by
    *    `maxBlock` gram sets instead of the whole block.
    *  - larger blocks take a SUB-BLOCKED pair join: each doc gets a
    *    sub-block id g = doc_id mod S, the S(S+1)/2 unordered sub-block
    *    pairs become part of the equi-join key (the dedup_embedding
    *    block-pair decomposition, applied per block), so the per-block
    *    quadratic spreads evenly over blocks × sub-block-pairs join groups
    *    instead of one task per block key. Round-10 scaling measurement
    *    that forced this: at 10× corpus the same 30 blocks held 100× the
    *    pairs (59M), and the single-key-per-block join ran them on a
    *    handful of cores — timed out at 240 s; sub-blocked it completes in
    *    seconds. Same pairs, same doubles — the oracle does not change.
    *
    * maxBlock default 64: the in-row path caps at C(64,2) ≈ 2k in-row pair
    * scores per aggregate row (a bounded task), everything larger goes to
    * the join, whose sub-blocking keeps any block size parallel.
    *
    * `maxExactBlock` (round-13 frontier item): the sub-blocked join is
    * exact all-pairs, i.e. C(bsz,2) verifies per block — parallel, but
    * still quadratic WORK. Round-12's K=1000 frontier measurement (5M
    * docs, largest block ~451k) put ~10¹¹ merge-intersects in one block
    * and the query did not finish inside 45 min. Blocks above
    * `maxExactBlock` therefore route to [[snmPairs]]: multi-pass
    * sorted-neighborhood candidates (bounded `snmPasses` × `snmWindow`
    * verifies per doc) — linear work, with the routed doc count attached
    * to the plan via `observe` (no silent caps). The default 2048 sits
    * far above every block at the oracle SFs (sf0.1 max block = 451), so
    * the DuckDB exact-all-pairs oracle is untouched where it runs; the
    * SNM leg's recall is measured in DedupAnnSpec, not assumed.
    */
  private[graft] def ngramJaccardOf(documents: DataFrame, maxBlock: Int = 64,
      maxExactBlock: Int = 2048, snmPasses: Int = 2, snmWindow: Int = 8): DataFrame = {
    val threshold = 0.3
    val docs = documents
      .withColumn("grams", native.charNgramHashes(col("text"), 4))
      .withColumn("block", concat_ws("#", col("lang"), (col("n_chars") / 100).cast("int")))
      .select(col("doc_id"), col("block"), col("grams"))
    val sizes = docs.groupBy(col("block")).agg(count(lit(1)).as("bsz"))
      .observe("ngram_snm_route",
        sum(when(col("bsz") > maxExactBlock, col("bsz")).otherwise(0L)).as("snm_docs"),
        sum(when(col("bsz") > maxExactBlock, 1L).otherwise(0L)).as("snm_blocks"))
    // eager, slim (grams prune out of the count): blocks are bounded by
    // langs × length-buckets, so this is a tiny aggregate — it decides
    // whether the SNM leg (whose builder runs eager boundary jobs) exists
    // at all, keeping the oracle-SF plan identical to the pre-r13 one.
    val hasHuge = sizes.filter(col("bsz") > maxExactBlock).limit(1).count() > 0
    // |blocks| = |langs| x |length-buckets| — small in practice but the
    // bucket count tracks max doc length, so the hint is size-gated (r15)
    val sized = docs.join(graft.Tables.dimHint(sizes), "block")
    val smallDocs = sized.filter(col("bsz") <= maxBlock).drop("bsz")
    val largeDocs = sized
      .filter(col("bsz") > maxBlock && col("bsz") <= maxExactBlock).drop("bsz")
    val hugeDocs = sized.filter(col("bsz") > maxExactBlock).drop("bsz")

    def jac(inter: Column, na: Column, nb: Column): Column =
      inter.cast("double") / (na + nb - inter)

    val blocks = smallDocs.groupBy(col("block"))
      .agg(collect_list(struct(col("doc_id"), col("grams"))).as("ds"))
    def docAt(i: Column) = element_at(col("ds"), i + 1)
    def pairScore(i: Column, j: Column): Column = {
      val a = docAt(i)
      val b = docAt(j)
      val inter = native.sortedIntersectCount(a.getField("grams"), b.getField("grams"))
      struct(
        least(a.getField("doc_id"), b.getField("doc_id")).as("id_a"),
        greatest(a.getField("doc_id"), b.getField("doc_id")).as("id_b"),
        jac(inter, size(a.getField("grams")), size(b.getField("grams"))).as("jaccard"))
    }
    // size(ds) >= 2 guard: sequence(0, -1) on a singleton block would run
    // DESCENDING ([0, -1]), yielding a self-pair and an element_at(ds, 0)
    // runtime error — only non-singleton blocks may generate pairs.
    val smallPairs = blocks
      .filter(size(col("ds")) > 1)
      .select(explode(flatten(transform(
        sequence(lit(0), size(col("ds")) - 2),
        i => transform(sequence(i + 1, size(col("ds")) - 1), j => pairScore(i, j)))))
        .as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"), col("p.jaccard").as("jaccard"))
    val nSub = 8
    val lg = largeDocs.withColumn("g", pmod(col("doc_id"), lit(nSub)).cast("int"))
    val lgLeft = lg.select(col("block"), col("doc_id").as("ida"),
      col("grams").as("ga"), col("g").as("i"),
      explode(expr(s"sequence(g, ${nSub - 1})")).as("j"))
    val lgRight = lg.select(col("block"), col("doc_id").as("idb"),
      col("grams").as("gb"), explode(expr(s"sequence(0, g)")).as("i"),
      col("g").as("j"))
    // merge, not shuffle_hash: same broadcast-avoidance, but spill-safe
    // when a (block, i, j) group outgrows task memory (the r11 SHJ
    // hash-build hard-fail on the 2M-vector corpus)
    val largePairs = lgLeft.hint("merge").join(lgRight, Seq("block", "i", "j"))
      .filter(col("i") =!= col("j") || col("ida") < col("idb"))
      .select(least(col("ida"), col("idb")).as("id_a"),
        greatest(col("ida"), col("idb")).as("id_b"),
        jac(native.sortedIntersectCount(col("ga"), col("gb")),
          size(col("ga")), size(col("gb"))).as("jaccard"))
    val exactPairs = smallPairs.unionAll(largePairs)
    val allPairs =
      if (hasHuge) exactPairs.unionAll(snmPairs(hugeDocs, snmPasses, snmWindow, threshold))
      else exactPairs
    val pairs = allPairs.filter(col("jaccard") >= threshold)
    // same tail rework as simhash/minhashLsh (round 12): one pass over
    // the scored pairs, directions exploded in-row, bounded top-1 heaps
    // instead of a rank window's sort of the (dup-group-quadratic)
    // pair set — and no unionAll re-running both block-join legs twice.
    val directed = pairs.select(explode(expr(
        "array(named_struct('doc_id', id_a, 'cand_id', id_b), " +
          "named_struct('doc_id', id_b, 'cand_id', id_a))")).as("e"),
        col("jaccard"))
      .select(col("e.doc_id").as("doc_id"), col("e.cand_id").as("cand_id"), col("jaccard"))
    val best = graft.operators.TopK.perKey(directed,
      keys = Seq("doc_id"),
      order = Seq("jaccard" -> true, "cand_id" -> false), k = 1)
    docs.select(col("doc_id"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("cand_id").as("dup_candidate"), col("jaccard"))
  }

  /** Merge-intersection Jaccard over two SORTED DISTINCT hash arrays (the
    * [[native.charNgramHashes]] contract) — the JVM twin of the codegen
    * `sortedIntersectCount` kernel for the mapPartitions SNM leg. Both-empty
    * input returns -1 (the exact paths yield SQL NULL there, which no
    * threshold passes — same outcome).
    */
  private[graft] def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) -1.0 else inter.toDouble / union
  }

  /** Pure sliding-window pair scorer behind [[snmPairs]]. Compares each row
    * of `it` against its up-to-`window` predecessors in the same block, then
    * stitches the partition boundary by running `next` — the first `window`
    * rows of the FOLLOWING partitions' concatenated stream — through the
    * same ring with emission restricted to pairs whose older member is
    * local: pairs among `next` rows are owned by their own partition's call.
    * Net effect: every unordered pair at stream distance ≤ `window` in the
    * global (partition-concatenated) order is emitted by exactly one
    * partition, regardless of where range partitioning cut the stream.
    * Rows are (block, doc_id, grams).
    */
  private[graft] def slidingPairs(
      it: Iterator[(String, Long, Array[Long])],
      next: Array[(String, Long, Array[Long])],
      window: Int, threshold: Double): Iterator[(Long, Long, Double)] = {
    val ring = new scala.collection.mutable.ArrayDeque[((String, Long, Array[Long]), Boolean)]()
    def score(q: (String, Long, Array[Long]), r: (String, Long, Array[Long])) = {
      if (q._1 != r._1) None
      else {
        val j = jaccardSorted(q._3, r._3)
        if (j >= threshold) Some((math.min(q._2, r._2), math.max(q._2, r._2), j)) else None
      }
    }
    def push(r: (String, Long, Array[Long]), local: Boolean): Unit = {
      ring.append((r, local))
      if (ring.length > window) ring.removeHead()
    }
    val own = it.flatMap { r =>
      val hits = ring.iterator.flatMap { case (q, _) => score(q, r) }.toArray
      push(r, local = true)
      hits
    }
    val boundary = next.iterator.flatMap { r =>
      val hits = ring.iterator.collect { case (q, true) => q }.flatMap(score(_, r)).toArray
      push(r, local = false)
      hits
    }
    own ++ boundary
  }

  /** Bounded near-dup candidate generation for blocks too large for exact
    * all-pairs: multi-pass sorted-neighborhood (SNM, the classic
    * record-linkage windowing). Pass p orders docs within their block by a
    * MinHash key (min over grams g of xxhash64(g, p) — equal between two
    * docs with probability ≈ their Jaccard, so near-dups cluster into
    * adjacent runs), and each doc is exact-verified against only its
    * `window` predecessors in that order via [[slidingPairs]]. Work is
    * passes × window verifies per doc — LINEAR in the corpus — vs the
    * C(bsz,2) of the exact join that did not finish at the round-12
    * frontier. Shuffle is `passes` range-sorts of (block, key, grams) rows:
    * the gram arrays move once per pass and pairs never carry them (the
    * attach-arrays-to-a-pair-stream blow-up this design exists to avoid).
    *
    * Per pass: the sorted stream is cached and windows are stitched across
    * partition boundaries ENTIRELY executor-side (round 14 — the r13
    * verdict's one structural finding): the driver collects only the
    * per-partition HEAD COUNTS (one Int per partition), plans which head
    * rows each predecessor partition needs, and the rows themselves —
    * gram arrays included — move through a slim bounded exchange
    * (≤ partitions × window rows total) that is zipped partition-to-
    * partition with the sorted stream. No gram array ever touches the
    * driver: at 10⁴–10⁵ production partitions the old heads-collect was
    * hundreds of MB to GBs of driver traffic; the count collect is KBs.
    * The pair scan runs and the pair set is lineage-cut
    * ([[graft.Checkpoints]]) so the cache can be released immediately —
    * the returned frame never recomputes the sort, which keeps the result
    * invariant to RangePartitioner's sampling. Duplicate pairs across
    * passes are NOT deduped: a duplicate cannot change the downstream
    * per-doc top-1, and a distinct() here would exchange a
    * corpus × window pair multiset (the simhash round-12 lesson).
    */
  private[graft] def snmPairs(huge: DataFrame, passes: Int, window: Int,
      threshold: Double): DataFrame = {
    val spark = huge.sparkSession
    import spark.implicits._
    val perPass = (0 until passes).map { p =>
      val sorted = huge
        .select(col("block"), col("doc_id"), col("grams"),
          coalesce(expr(s"array_min(transform(grams, g -> xxhash64(g, $p)))"),
            lit(Long.MaxValue)).as("skey"))
        .repartitionByRange(col("block"), col("skey"), col("doc_id"))
        .sortWithinPartitions("block", "skey", "doc_id")
        .select(col("block"), col("doc_id"), col("grams"))
        .as[(String, Long, Array[Long])]
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val rdd = sorted.rdd
        val nP = rdd.getNumPartitions
        // SLIM planning collect: one Int per partition (how many head rows
        // it has, capped at `window`) — never the rows themselves
        val headCounts = rdd
          .mapPartitionsWithIndex((i, itr) => Iterator.single(i -> itr.take(window).size))
          .collect().toMap
        // next-rows for partition i = first `window` rows of partitions
        // i+1, i+2, … concatenated — short partitions contribute all their
        // rows and the take spills into the one after, so windows spanning
        // more than one boundary are still exact. Planned here as
        // (source partition, head position) -> [(target partition, order)]
        // using only the counts; total assignments ≤ nP × window.
        val assign = scala.collection.mutable.Map.empty[(Int, Int), List[(Int, Int)]]
        for (i <- 0 until nP) {
          var taken = 0
          var j = i + 1
          while (taken < window && j < nP) {
            val cnt = headCounts.getOrElse(j, 0)
            var p = 0
            while (p < cnt && taken < window) {
              assign((j, p)) = (i, taken) :: assign.getOrElse((j, p), Nil)
              taken += 1; p += 1
            }
            j += 1
          }
        }
        val bcAssign = spark.sparkContext.broadcast(assign.toMap)
        // executor-side shift: each partition fans its head rows out to the
        // predecessor partitions that need them; the gram arrays ride this
        // bounded exchange and are re-joined to the stream by zipPartitions
        val nextRdd = rdd.mapPartitionsWithIndex { (j, itr) =>
          val a = bcAssign.value
          itr.take(window).zipWithIndex.flatMap { case (r, p) =>
            a.getOrElse((j, p), Nil).iterator.map { case (tgt, ord) => ((tgt, ord), r) }
          }
        }.repartitionAndSortWithinPartitions(new org.apache.spark.Partitioner {
          override def numPartitions: Int = nP
          override def getPartition(key: Any): Int = key.asInstanceOf[(Int, Int)]._1
        })
        val pairs = rdd.zipPartitions(nextRdd) { (itr, nextItr) =>
          slidingPairs(itr, nextItr.map(_._2).toArray, window, threshold)
        }.toDF("id_a", "id_b", "jaccard")
        graft.Checkpoints.cut(pairs)
      } finally sorted.unpersist(blocking = false)
    }
    perPass.reduce(_ unionAll _)
  }

  /** DuckDB mirror of `ngramJaccard`. `charNgramHashes` hashes UTF-8 BYTE
    * 4-grams with h = ((b0·K + b1)·K + b2)·K + b3, K = 1000003 — verified
    * injective on 4-byte inputs mod 2^64 (no Δ ≠ 0 with |Δbᵢ| ≤ 255 maps to
    * 0), so distinct-hash counts equal distinct-gram counts EXACTLY and the
    * oracle holds for any corpus, ASCII or not. DuckDB cannot substring a
    * BLOB, so byte 4-grams are sliced from `hex(encode(text))` — 8 hex
    * chars per gram at stride 2.
    */
  val ngramJaccardSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         lang || '#' || CAST(CAST(n_chars // 100 AS INT) AS VARCHAR) AS block,
      |         hex(encode(text)) AS hx,
      |         octet_length(encode(text)) AS nb
      |  FROM documents
      |),
      |g AS (
      |  SELECT DISTINCT doc_id, block, substring(hx, i * 2 + 1, 8) AS gram
      |  FROM (SELECT doc_id, block, hx,
      |          unnest(generate_series(0, nb - 4)) AS i FROM d) t
      |),
      |c AS (SELECT doc_id, count(*) AS n FROM g GROUP BY 1),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS ninter
      |  FROM g a JOIN g b ON a.block = b.block AND a.gram = b.gram
      |                   AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |),
      |pairs AS (
      |  SELECT i.id_a, i.id_b,
      |         CAST(i.ninter AS DOUBLE) / (ca.n + cb.n - i.ninter) AS jaccard
      |  FROM inter i
      |  JOIN c ca ON ca.doc_id = i.id_a
      |  JOIN c cb ON cb.doc_id = i.id_b
      |),
      |directed AS (
      |  SELECT id_a AS doc_id, id_b AS cand_id, jaccard FROM pairs WHERE jaccard >= 0.3
      |  UNION ALL
      |  SELECT id_b AS doc_id, id_a AS cand_id, jaccard FROM pairs WHERE jaccard >= 0.3
      |),
      |best AS (
      |  SELECT doc_id, cand_id, jaccard
      |  FROM (SELECT doc_id, cand_id, jaccard,
      |          row_number() OVER (PARTITION BY doc_id
      |                             ORDER BY jaccard DESC, cand_id) AS rn
      |        FROM directed) t
      |  WHERE rn = 1
      |)
      |SELECT d.doc_id, best.cand_id AS dup_candidate, best.jaccard
      |FROM d LEFT JOIN best ON d.doc_id = best.doc_id""".stripMargin

  /** SQL predicate keeping a band-join candidate row only in the FIRST
    * table where the two packed signatures agree (2 bits per table, table
    * t at bits [2t, 2t+1]): zg gets bit 2t iff the XOR's table-t group is
    * zero, (zg & -zg) isolates the lowest such bit, and bit_count of
    * (that-1) is its position — ctz without a ctz builtin, all codegen'd
    * longs. Expects columns sig_a, sig_b, ta. Property-tested against a
    * brute-force reference in PropertySpec. Retained as the shuffle-free
    * candidate-dedup building block for SPARSE-threshold LSH variants
    * (τ ≥ ~0.8, where banding actually filters); [[embedding]]'s dense
    * τ = 0.4 regime no longer uses LSH at all — see its doc for the
    * measurement that forced that call.
    */
  private[graft] def firstMatchTableFilter(nTables: Int): String = {
    val mask = (0 until nTables).map(t => 1L << (2 * t)).sum
    "ta = CAST(bit_count((zg & -zg) - 1) / 2 AS INT)"
      .replace("zg", s"((~(sig_a ^ sig_b)) & shiftright(~(sig_a ^ sig_b), 1) & $mask)")
  }

  /** Embedding similarity pairs: EXACT cosine ≥ τ = 0.4 as a balanced
    * block-pair join — each vector joins a block id g = vec_id mod B, the
    * B·(B+1)/2 unordered block pairs (i ≤ j) are the equi-join key, and
    * every vector pair is compared in exactly one block pair. Work is the
    * full C(n,2) cosines, spread evenly across B(B+1)/2 join groups ⇒
    * every core busy at any corpus size; shuffle volume is n·(B+1)/2 slim
    * vector rows, not pairs.
    *
    * Why exact and not LSH (round-10 scaling capture, 10× corpus): τ = 0.4
    * is a DENSE threshold — ~0.05% of ALL pairs qualify on this corpus, so
    * the output itself is Θ(n²) and no candidate filter can beat that. At
    * that τ, random-hyperplane banding stops filtering entirely: with 2
    * planes/table a RANDOM pair collides per table w.p. ≈ 0.25, so across
    * 24 tables essentially every pair became a candidate — measured at 10×
    * scale the band join enumerated ~12× MORE rows than brute force
    * (24 near-complete copies of the pair space) and timed out; the
    * blocked exact join does the same verification once per pair. LSH
    * earns its keep only at sparse thresholds — that regime lives in
    * [[minhashLsh]] / [[simhash]] / `emb_semdedup`, where the banding is
    * measured to filter. (A production τ would also be ≥0.8; τ = 0.4 is
    * kept here because the synthetic corpus has no true near-dup tail.)
    */
  def embedding(spark: SparkSession, dir: String): DataFrame = {
    val nBlocks = 32
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"),
        pmod(col("vec_id"), lit(nBlocks)).cast("int").as("g"))
    // left leg: block g participates as the LOWER end of pairs (g, j≥g);
    // right leg: as the UPPER end of pairs (i≤g, g). Each unordered block
    // pair — and therefore each vector pair — meets exactly once.
    val left = e.select(col("vec_id").as("ida"), col("emb").as("ea"),
      col("g").as("i"), explode(expr(s"sequence(g, ${nBlocks - 1})")).as("j"))
    val right = e.select(col("vec_id").as("idb"), col("emb").as("eb"),
      explode(expr(s"sequence(0, g)")).as("i"), col("g").as("j"))
    // merge hint: Catalyst would otherwise broadcast one replicated
    // leg and probe it with the parquet scan's 1-2 input partitions —
    // measured single-digit-core utilization on the 10× corpus; the
    // shuffled join keys (i, j) spread the B(B+1)/2 groups over every
    // core. Sort-merge, not shuffle_hash: each (i, j) group is a whole
    // corpus block, so the SHJ per-partition hash build grows with the
    // corpus and hard-failed at a 2M-vector corpus (r11 capture,
    // "Can't acquire ... hash relation"); SMJ spills the key run instead.
    left.hint("merge").join(right, Seq("i", "j"))
      .filter(col("i") =!= col("j") || col("ida") < col("idb"))
      .withColumn("cos", native.cosineSim(col("ea"), col("eb")))
      .filter(col("cos") >= 0.4)
      .select(least(col("ida"), col("idb")).as("vec_a"),
        greatest(col("ida"), col("idb")).as("vec_b"))
  }

  /** DuckDB mirror of [[embedding]] — plain all-pairs, which is exactly
    * what the blocked join computes, so the comparison is exact = exact
    * (the pre-round-10 LSH recall caveat is gone with the LSH).
    */
  val embeddingSql: String =
    """SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4""".stripMargin

  /** Connected components over an undirected edge set via min-label
    * propagation with HOOKING and pointer jumping (Shiloach–Vishkin
    * shaped), run to a FIXPOINT.
    *
    * Each round: propagate (min of self + neighbor labels), hook (roots
    * adopt the min label reported by their tree members), jump (shortcut
    * through the freshly hooked table) — see `oneRound` for why the hook
    * step is what makes the shortcut actually compound to ~log rounds.
    * Rounds are the unit of cost at any scale: each is a fixed number of
    * shuffles and a Spark job-scheduling floor (round-4 verdict item 6).
    *
    * The loop stops when no label shrank or at `maxRounds` — a diverging
    * input fails loudly instead of silently under-merging.
    *
    * Job shape: ONE checkpoint job per round, with the convergence
    * check riding that same job via `observe()` (the changed-count
    * aggregates while the round materializes) instead of a second count
    * job. Lazily chaining several rounds into one job was tried and
    * REJECTED: each round's labels feed three consumers (neighbor-min,
    * the step join, the jump lookup), so un-materialized rounds recompute
    * combinatorially, and even with per-round `persist()` the deep
    * multi-join plans cost more in analysis/AQE overhead than the job
    * floor they save (measured 2.9 s/12 rounds per-round-checkpointed vs
    * 4.2 s cached-lazy vs 5.2 s fully lazy, sf0.1).
    *
    * vertices: one column `doc_id`; edges: `id_a`, `id_b` (any direction).
    */
  private[graft] def connectedComponents(
      vertices: DataFrame, edges: DataFrame, maxRounds: Int = 20): DataFrame =
    connectedComponentsWithRounds(vertices, edges, maxRounds)._1

  private[graft] def connectedComponentsWithRounds(
      vertices: DataFrame, edges: DataFrame, maxRounds: Int = 20): (DataFrame, Int) = {
    // NO distinct: duplicate or self-loop edges cannot change a min
    // aggregation (min over a multiset = min over its set), so dedup'ing
    // the bidirectional edge list would only add a full-edge-set shuffle —
    // the largest shuffle this routine would have at corpus scale. Both
    // production callers already feed unique a<b pairs anyway.
    // Partition-once bidirectional edge set (round 18, VERDICT r17 item 2):
    // every propagate round joins bidir on id_b, and the stock checkpoint
    // scans back as UnknownPartitioning, so each round re-shuffled the
    // FULL edge set — the largest per-round exchange at corpus scale.
    // Two-phase build: (1) materialize the canonical pair set ONCE
    // (cutCounted — the expensive pair-derivation subtree used to run
    // twice through the old unionAll), then (2) explode both directions.
    // The PIN is size-adaptive (guide §3.1 — broadcast the side that
    // fits): below the session's broadcast threshold bidir is cut as it
    // comes, AQE broadcasts it in every round join, and a hash layout would
    // only add per-round stage-materialization jobs (measured +11 tiny
    // jobs/round at bench scale, zero shuffle saved — a broadcast side
    // never shuffles); above it the rounds run sort-merge, and
    // hash-partitioning bidir on id_b once before the cut (which keeps that
    // partitioning) makes the edge side of every round's
    // neighbor join exchange-free (guide §2.4) — the largest per-round
    // exchange at corpus scale gone. Both the cutoff and the partition
    // count derive from the MATERIALIZED pair count (guide §2: from the
    // data, never a constant), so the shape is scale-continuous.
    val (pairs1, _, pairBytes) =
      graft.Checkpoints.cutCounted(edges.select(col("id_a"), col("id_b")))
    val bidirRaw = pairs1.select(explode(array(
        struct(col("id_a"), col("id_b")),
        struct(col("id_b").as("id_a"), col("id_a").as("id_b")))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"))
    val sess = edges.sparkSession
    val bcThreshold = sess.sessionState.conf.autoBroadcastJoinThreshold
    val bidir =
      if (bcThreshold > 0 && 2 * pairBytes <= bcThreshold) {
        graft.Checkpoints.cut(bidirRaw)
      } else {
        val nPart = graft.Checkpoints.sizedPartitions(sess, 2 * pairBytes)
        bidirRaw.repartition(nPart, col("id_b")).cutLineage()
      }
    // One round, Shiloach–Vishkin-shaped: (1) PROPAGATE — take the min of
    // self and neighbors' labels; (2) HOOK — every vertex reports its new
    // candidate to its round-start root (its old label), and roots adopt
    // the min report, so a root learns in ONE round what plain propagation
    // would flood to it hop by hop; (3) JUMP — shortcut through the hooked
    // table itself (label <- hooked(label)). Plain propagate+jump stalls
    // at ~2 hops/round on this data because labels point at LOCAL minima
    // that are already roots (jump is a no-op there); the hook step is
    // what makes the shortcut compound (measured 12 -> 5 rounds at sf0.1,
    // 4 -> 3 on the diameter-6 chain in DedupAnnSpec). Every min-combine
    // keeps labels monotone-decreasing vertex ids within the component,
    // so the fixpoint — and the stopping rule — are unchanged.
    def oneRound(cur: DataFrame): DataFrame = {
      val neighborMin = bidir.join(cur, col("id_b") === col("doc_id"))
        .groupBy(col("id_a")).agg(min(col("label")).as("nbr_label"))
      val stepped = cur.withColumnRenamed("label", "prev")
        .join(neighborMin, col("doc_id") === col("id_a"), "left")
        .select(col("doc_id"), col("prev"),
          least(col("prev"), coalesce(col("nbr_label"), col("prev"))).as("mid"))
      val rootMin = stepped.groupBy(col("prev").as("root_id"))
        .agg(min(col("mid")).as("root_min"))
      val hooked = stepped.join(rootMin, col("doc_id") === col("root_id"), "left")
        .select(col("doc_id"), col("prev"),
          least(col("mid"), coalesce(col("root_min"), col("mid"))).as("hk"))
      // jump through the HOOKED table, not the round-start one: 5 vs 7
      // rounds measured at sf0.1, and the round job absorbs the self-join
      // (ReuseExchange dedups hooked's shuffles)
      hooked
        .join(hooked.select(col("doc_id").as("j_id"), col("hk").as("j_lab")),
          col("hk") === col("j_id"), "left")
        .select(col("doc_id"), col("prev"),
          least(col("hk"), coalesce(col("j_lab"), col("hk"))).as("label"))
    }
    var labels = vertices.select(col("doc_id"), col("doc_id").as("label"))
      .cutLineage()
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      val obs = new org.apache.spark.sql.Observation()
      val next = oneRound(labels)
        .observe(obs, sum(when(col("label") < col("prev"), 1L).otherwise(0L)).as("changed"))
        .cutLineage() // eager: materializes the round once, firing obs
      changed = Option(obs.get("changed")).map(_.asInstanceOf[Long]).getOrElse(0L)
      labels = next.select(col("doc_id"), col("label"))
      round += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxRounds rounds")
    (labels, round)
  }

  /** Duplicate clusters: connected components over the near-dup pair graph
    * (exact-hash pairs ∪ the FULL MinHash-verified pair set at Jaccard
    * ≥ 0.8 — best-candidate edges alone would under-merge, see
    * [[minhashVerifiedPairs]]) via min-label propagation to fixpoint
    * (see [[connectedComponents]]). Output: every doc with its cluster
    * representative (min doc_id in the component) and the cluster size.
    * Oracle-checked against a recursive-CTE min-label oracle over the same
    * engine-portable edge set (text equality ∪ exact shingle Jaccard —
    * the minhash LSH recall caveat applies, see [[minhashLsh]]).
    */
  def clusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val exactPairs = docs.select(col("doc_id"), sha2(col("text"), 256).as("h")).as("a")
      .join(docs.select(col("doc_id"), sha2(col("text"), 256).as("h")).as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
    val nearPairs = minhashVerifiedPairs(spark, dir, 0.8)
      .select(col("id_a"), col("id_b"))
    val edges = exactPairs.unionAll(nearPairs).distinct()
    val labels = connectedComponents(docs.select(col("doc_id")), edges)
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "label")
      .select(col("doc_id"), col("label").as("cluster_id"), col("cluster_size"))
  }

  /** DuckDB mirror of `clusters`: the same edge set, engine-portably —
    * exact duplicates via text equality (≡ sha2 equality absent collisions)
    * ∪ all-pairs word-3gram-shingle Jaccard ≥ 0.8 (the [[minhashLshSql]]
    * pair construction and its recall caveat) — then min-label propagation
    * as a recursive CTE seeded with EVERY document, so singleton docs keep
    * their own label, exactly like the Spark vertex set.
    */
  val clustersSql: String =
    s"""WITH RECURSIVE $shinglePairCtes,
      |nearp AS (
      |  SELECT i.id_a, i.id_b
      |  FROM inter i
      |  JOIN c ca ON ca.doc_id = i.id_a
      |  JOIN c cb ON cb.doc_id = i.id_b
      |  WHERE CAST(i.ni AS DOUBLE) / (ca.n + cb.n - i.ni) >= 0.8),
      |exactp AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM documents a JOIN documents b
      |    ON a.text = b.text AND a.doc_id < b.doc_id),
      |edges AS (
      |  SELECT id_a AS v, id_b AS u FROM (SELECT * FROM exactp UNION SELECT * FROM nearp) e
      |  UNION
      |  SELECT id_b, id_a FROM (SELECT * FROM exactp UNION SELECT * FROM nearp) e),
      |lbl(v, l) AS (
      |  SELECT doc_id, doc_id FROM documents
      |  UNION
      |  SELECT e.v, lbl.l FROM edges e JOIN lbl ON lbl.v = e.u WHERE lbl.l < e.v),
      |final AS (SELECT v AS doc_id, MIN(l) AS cluster_id FROM lbl GROUP BY v),
      |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM final GROUP BY 1)
      |SELECT f.doc_id, f.cluster_id, s.cluster_size
      |FROM final f JOIN sizes s ON f.cluster_id = s.cluster_id""".stripMargin

  /** Connected components over the EXACT cosine similarity graph (the
    * `embedding` blocked-exact pairs) — aggregated to (cluster, size,
    * min/max member). Unlike
    * `clusters` (whose MinHash edge set is engine-specific → rows-only),
    * this edge set is engine-portable, so the component structure itself is
    * hash-checked against a recursive-CTE min-label-propagation oracle: the
    * first correctness-gated connected components in the suite. Same
    * fixpoint machinery, same one-shuffle-per-round scale shape.
    */
  def embeddingClusters(spark: SparkSession, dir: String): DataFrame = {
    // materialize the pair plan ONCE: it feeds the vertex union and the
    // bidirectional edge union, which would otherwise re-run the whole
    // block-pair comparison 4x (measured 3.7s -> 95s in a cold 4-thread
    // session before this checkpoint)
    val pairs = embedding(spark, dir)
      .select(col("vec_a").as("id_a"), col("vec_b").as("id_b"))
      .cutLineage()
    val verts = pairs.select(col("id_a").as("doc_id"))
      .unionAll(pairs.select(col("id_b").as("doc_id"))).distinct()
    connectedComponents(verts, pairs)
      .groupBy(col("label").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        min(col("doc_id")).as("min_member"),
        max(col("doc_id")).as("max_member"))
  }

  /** DuckDB mirror: min-label propagation as a recursive CTE. The UNION
    * (set) semantics dedup (v, l) pairs, labels only ever shrink, so the
    * recursion reaches the same fixpoint the Spark loop does.
    */
  val embeddingClustersSql: String =
    """WITH RECURSIVE pairs AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb
      |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4),
      |edges AS (
      |  SELECT va AS v, vb AS w FROM pairs UNION ALL SELECT vb, va FROM pairs),
      |lbl(v, l) AS (
      |  SELECT DISTINCT v, v FROM edges
      |  UNION
      |  SELECT e.v, lbl.l FROM edges e JOIN lbl ON lbl.v = e.w WHERE lbl.l < e.v
      |)
      |SELECT l AS cluster_id, COUNT(*) AS n_members,
      |       MIN(v) AS min_member, MAX(v) AS max_member
      |FROM (SELECT v, MIN(l) AS l FROM lbl GROUP BY v) t
      |GROUP BY 1""".stripMargin

  /** PageRank over the near-dup similarity graph — link-analysis weighting
    * for curation (a document whose neighborhood is dense duplicate mush
    * concentrates rank; isolated originals sit at the 0.15 floor). Damping
    * 0.85 as the integer ratio 17/20; ranks are ×10⁶ scaled longs with
    * floor division at every step, so all 6 fixed iterations are
    * engine-exact — no libm, no float accumulation order.
    *
    * Scale shape: the edge set is the [[embedding]] blocked-exact pair
    * plan (checkpointed once — the embeddingClusters lesson); per
    * iteration exactly ONE shuffle (contributions keyed by destination),
    * the degree-annotated edge table partitions once and is reused;
    * iteration count is FIXED, not data-dependent, so the cost is 6
    * shuffles at any corpus size. Dangling vertices (deg 0) hold the
    * 150 000 floor. The oracle comparison is exact = exact.
    */
  def pagerank(spark: SparkSession, dir: String): DataFrame = {
    val iters = 6
    val pairs = embedding(spark, dir)
      .select(col("vec_a").as("id_a"), col("vec_b").as("id_b"))
      .cutLineage()
    val edges = pairs.unionAll(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val deg = edges.groupBy(col("id_a").as("v")).agg(count(lit(1)).as("deg"))
    val verts = Tables.embeddings(spark, dir).select(col("vec_id").as("v"))
    val degAll = verts.join(deg, Seq("v"), "left")
      .select(col("v"), coalesce(col("deg"), lit(0L)).as("deg"))
      .cutLineage()
    // source degree rides on the edge once; the loop only ever joins ranks
    val edgesDeg = edges
      .join(degAll.select(col("v").as("id_a"), col("deg").as("src_deg")), "id_a")
      .cutLineage()
    // No per-round checkpoint: unlike the CC fixpoint (which counts every
    // round — an ACTION per round), pagerank is a fixed unrolled chain with
    // one action at the end, and each r_i feeds exactly one r_{i+1} — lazy
    // lineage means ONE job over a 6-level DAG instead of 6 materialization
    // jobs (measured 6.1 s → one-job cost at sf0.1). The multiply-referenced
    // inputs (pairs, degAll, edgesDeg) stay checkpointed.
    var r = degAll.select(col("v"), lit(1000000L).as("r"))
    for (_ <- 1 to iters) {
      val contrib = edgesDeg.join(r, col("id_a") === col("v"))
        .select(col("id_b").as("dst"), expr("r * 17 div (20 * src_deg)").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      r = degAll.select(col("v"))
        .join(contrib, col("v") === col("dst"), "left")
        .select(col("v"), (lit(150000L) + coalesce(col("s"), lit(0L))).as("r"))
    }
    r.join(degAll, "v")
      .select(col("v").as("vec_id"), col("r").as("pagerank"), col("deg"))
  }

  /** DuckDB replay of [[pagerank]]: the exact all-pairs edge set (the
    * embeddingSql caveat) and the SAME 6 iterations unrolled as
    * materialized CTEs (the bpe_train oracle pattern) — floor division at
    * identical points, so every rank is BIGINT-equal.
    */
  val pagerankSql: String = {
    val iterCtes = (1 to 6).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT d.v, CAST(150000 + coalesce(SUM(p.r * 17 // (20 * sd.deg)), 0) AS BIGINT) AS r
         |  FROM deg d
         |  LEFT JOIN edges e ON e.id_b = d.v
         |  LEFT JOIN r${i - 1} p ON p.v = e.id_a
         |  LEFT JOIN deg sd ON sd.v = e.id_a
         |  GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       |  WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.4),
       |edges AS MATERIALIZED (
       |  SELECT id_a, id_b FROM pairs UNION ALL SELECT id_b, id_a FROM pairs),
       |d0 AS (SELECT id_a AS v, COUNT(*) AS deg FROM edges GROUP BY 1),
       |deg AS MATERIALIZED (
       |  SELECT e.vec_id AS v, coalesce(d0.deg, 0) AS deg
       |  FROM embeddings e LEFT JOIN d0 ON d0.v = e.vec_id),
       |r0 AS (SELECT v, CAST(1000000 AS BIGINT) AS r FROM deg),
       |$iterCtes
       |SELECT d.v AS vec_id, r6.r AS pagerank, CAST(d.deg AS BIGINT) AS deg
       |FROM deg d JOIN r6 ON r6.v = d.v""".stripMargin
  }

  /** Incremental near-dedup — the production shape: dedup a NEW batch
    * against the EXISTING corpus. The batch is a deterministic ~25% slice
    * (md5(doc_id) byte 0 < 64 — a portable stand-in for "today's crawl");
    * only CROSS-side band collisions become candidates, so the corpus
    * never self-joins.
    *
    * 100 TB shape: the corpus band index (doc_id, band, bh) is computed
    * once and persisted bucketed by (band, bh); each daily increment
    * hashes ONLY the batch and joins its bands against the bucketed index
    * — per-increment cost is O(batch), not O(corpus), and the join is
    * co-located with zero corpus shuffle. Here both sides derive from one
    * table read; the plan shape (cross-side-only band join, shared
    * verify) is the part that carries.
    *
    * Same oracle-recall caveat as [[minhashLsh]]: exact all-pairs oracle
    * vs banded-LSH candidates, per-pair miss ≈ 2·10⁻⁴ at j = 0.8.
    */
  def incremental(spark: SparkSession, dir: String, maxBucket: Int = 10000): DataFrame = {
    // one signature pass (the minhashVerifiedPairs cut): docs feeds the
    // band explode, both verify-join sides, and the final batch spine —
    // four shingling passes without the materialization
    val docs = withMinhash(Tables.documents(spark, dir))
      .withColumn("is_batch", graft.functions.Portable.md5Byte0(col("doc_id")) < 64)
      .select(col("doc_id"), col("gh"), col("sig"), col("is_batch"))
      .cutLineage()
    val bands = capBuckets(
      docs.select(col("doc_id"), col("is_batch"), explode(expr(
        """transform(sequence(0, 15),
          |  b -> named_struct('band', b, 'bh', xxhash64(sig[4*b], sig[4*b+1], sig[4*b+2], sig[4*b+3])))""".stripMargin))
        .as("bb"))
        .select(col("doc_id"), col("is_batch"), col("bb.band").as("band"), col("bb.bh").as("bh")),
      Seq("band", "bh"), maxBucket, "incr_bucket_cap")
    val cand = bands.filter(col("is_batch")).as("a")
      .join(bands.filter(!col("is_batch")).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("batch_id"), col("b.doc_id").as("corpus_id"))
      .distinct()
    val verified = cand
      .join(docs.select(col("doc_id").as("batch_id"), col("gh").as("gh_a")), "batch_id")
      .join(docs.select(col("doc_id").as("corpus_id"), col("gh").as("gh_b")), "corpus_id")
      .withColumn("inter", native.sortedIntersectCount(col("gh_a"), col("gh_b")))
      .select(col("batch_id"), col("corpus_id"),
        (col("inter").cast("double") /
          (size(col("gh_a")) + size(col("gh_b")) - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
    val w = Window.partitionBy(col("batch_id")).orderBy(col("jaccard").desc, col("corpus_id"))
    val best = verified.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
    docs.filter(col("is_batch")).select(col("doc_id").as("batch_id"))
      .join(best, Seq("batch_id"), "left")
      .select(col("batch_id").as("doc_id"), col("corpus_id").as("dup_of"), col("jaccard"))
  }

  /** DuckDB mirror of [[incremental]]: exact all-pairs Jaccard restricted
    * to cross-side pairs at the same md5 side split.
    */
  val incrementalSql: String = {
    val b0 = graft.functions.Portable.md5Byte0Sql("doc_id")
    s"""WITH $shinglePairCtes,
      |pairs AS (
      |  SELECT i.id_a, i.id_b,
      |         CAST(i.ni AS DOUBLE) / (ca.n + cb.n - i.ni) AS jaccard
      |  FROM inter i
      |  JOIN c ca ON ca.doc_id = i.id_a
      |  JOIN c cb ON cb.doc_id = i.id_b
      |  WHERE CAST(i.ni AS DOUBLE) / (ca.n + cb.n - i.ni) >= 0.8),
      |side AS (SELECT doc_id, ($b0) < 64 AS is_batch FROM documents),
      |x AS (
      |  SELECT p.id_a AS batch_id, p.id_b AS corpus_id, p.jaccard FROM pairs p
      |  JOIN side sa ON sa.doc_id = p.id_a
      |  JOIN side sb ON sb.doc_id = p.id_b
      |  WHERE sa.is_batch AND NOT sb.is_batch
      |  UNION ALL
      |  SELECT p.id_b, p.id_a, p.jaccard FROM pairs p
      |  JOIN side sa ON sa.doc_id = p.id_a
      |  JOIN side sb ON sb.doc_id = p.id_b
      |  WHERE sb.is_batch AND NOT sa.is_batch),
      |best AS (
      |  SELECT batch_id, corpus_id, jaccard FROM (
      |    SELECT *, row_number() OVER (PARTITION BY batch_id
      |      ORDER BY jaccard DESC, corpus_id) AS rn FROM x) t
      |  WHERE rn = 1)
      |SELECT s.doc_id, best.corpus_id AS dup_of, best.jaccard
      |FROM side s LEFT JOIN best ON best.batch_id = s.doc_id
      |WHERE s.is_batch""".stripMargin
  }

  /** Exact substring-level dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", arXiv:2107.06499 — public): unlike
    * whole-document dedup, this finds REPEATED SPANS — any word-8-gram
    * occurring twice anywhere in the corpus (across docs or within one) —
    * and removes exactly the covered words, keeping the unique remainder.
    * Per doc: duplicated-word count, the md5 of the span-scrubbed text
    * (every removal boundary is hash-checked), and a keep gate for docs
    * that are majority-duplicated.
    *
    * Scale shape: pass 1 is one corpus-sized shuffle keyed by the gram
    * (map-side combine collapses repeats; at web scale key by a 128-bit
    * gram hash to ship digests, not text). The duplicated-gram set joins
    * back on the same key — co-partitioned, never broadcast (it is
    * data-dependent and unbounded). Coverage explodes a bounded ×8 factor,
    * and reconstruction is one shuffle keyed by doc_id. No stage holds a
    * whole block in a row (the dedup_ngram_jaccard lesson).
    */
  def substringDedup(spark: SparkSession, dir: String): DataFrame =
    substringDedupOf(Tables.documents(spark, dir))

  private[graft] def substringDedupOf(documents: DataFrame): DataFrame = {
    val K = 8
    val docs = documents.withColumn("w", split(col("text"), " "))
    val grams = docs.filter(size(col("w")) >= K)
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(w) - ${K - 1}), i -> concat_ws(' ', slice(w, i, $K)))")))
      .toDF("doc_id", "idx", "gram")
    val dup = grams.groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2).select(col("gram"))
    // Covered positions collapse to ONE bounded set per doc (≤ doc length),
    // so the scrub is an in-row lambda filter — no word-level explode, no
    // per-word shuffle, no sort-aggregate: the only wide stages in the
    // whole operator are the gram count and this doc-keyed set build
    // (replaces a first-cut plan that shuffled every word twice).
    val covSets = grams.join(dup, Seq("gram"))
      .select(col("doc_id"), explode(expr(s"sequence(idx, idx + ${K - 1})")).as("pos"))
      .groupBy(col("doc_id")).agg(collect_set(col("pos")).as("cov"))
    docs.select(col("doc_id"), col("w"), size(col("w")).cast("bigint").as("n_words"))
      .join(covSets, Seq("doc_id"), "left")
      .withColumn("cov", coalesce(col("cov"), expr("cast(array() as array<int>)")))
      .select(
        col("doc_id"),
        col("n_words"),
        size(col("cov")).cast("bigint").as("n_dup_words"),
        md5(concat_ws(" ",
          expr("filter(w, (x, i) -> not array_contains(cov, i))"))).as("cleaned_md5"),
        (size(col("cov")).cast("bigint") * 2 < col("n_words")).as("keep"))
  }

  /** DuckDB replay of [[substringDedupOf]] — same 0-based positions, same
    * left-anti reconstruction via string_agg ORDER BY pos.
    */
  val substringDedupSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, i - 1 AS idx, array_to_string(w[i:i+7], ' ') AS gram
      |      FROM d, unnest(generate_series(1, len(w) - 7)) t(i)
      |      WHERE len(w) >= 8),
      |dup AS (SELECT gram FROM g GROUP BY 1 HAVING count(*) >= 2),
      |cov AS (SELECT DISTINCT doc_id, idx + o AS pos
      |        FROM g JOIN dup USING (gram), unnest(generate_series(0, 7)) t(o)),
      |wds AS (SELECT doc_id, i - 1 AS pos, w[i] AS word
      |        FROM d, unnest(generate_series(1, len(w))) t(i)),
      |kept AS (
      |  SELECT wds.doc_id, count(*) AS n_kept,
      |         md5(string_agg(wds.word, ' ' ORDER BY wds.pos)) AS cleaned_md5
      |  FROM wds LEFT JOIN cov ON cov.doc_id = wds.doc_id AND cov.pos = wds.pos
      |  WHERE cov.doc_id IS NULL
      |  GROUP BY 1)
      |SELECT d.doc_id, CAST(len(w) AS BIGINT) AS n_words,
      |       CAST(len(w) - coalesce(k.n_kept, 0) AS BIGINT) AS n_dup_words,
      |       coalesce(k.cleaned_md5, md5('')) AS cleaned_md5,
      |       (len(w) - coalesce(k.n_kept, 0)) * 2 < len(w) AS keep
      |FROM d LEFT JOIN kept k USING (doc_id)""".stripMargin

  /** Representative selection — the dedup ACTION the cluster map exists
    * for: within every near-dup cluster keep exactly ONE document, the
    * highest-quality member (the [[graft.textanalysis.Text.quality]]
    * score; doc_id breaks ties). Emits every document with its cluster,
    * the score, and the keep/drop verdict, so the downstream filter is
    * `WHERE kept` — the CCNet/RefinedWeb "best exemplar" policy instead
    * of min-id-wins. The quality expression is IEEE-identical in both
    * engines, so the per-cluster argmax (and therefore the verdict
    * column) is hash-exact; the per-cluster window rides the cluster_id
    * shuffle (cluster sizes are bounded by dedup semantics — no skew
    * risk at corpus scale).
    */
  def keepBest(spark: SparkSession, dir: String): DataFrame = {
    val cl = clusters(spark, dir)
    val q = graft.textanalysis.Text.quality(spark, dir)
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("quality_score").desc, col("doc_id"))
    cl.join(q, "doc_id")
      .withColumn("kept", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
        col("quality_score"), col("kept"))
  }

  /** DuckDB mirror of [[keepBest]] — [[clustersSql]] nested as a CTE (its
    * recall caveat carries over) joined to the quality expression, same
    * argmax tie-break.
    */
  val keepBestSql: String =
    s"""WITH cl AS MATERIALIZED (
       |${clustersSql}
       |),
       |q AS (
       |  SELECT doc_id,
       |    0.5*LEAST(1.0, (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)/100.0)
       |    + 0.25*(1.0 - CAST((LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g'))) AS DOUBLE)/LENGTH(text))
       |    + 0.25*(1.0 - CAST((LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g'))) AS DOUBLE)/LENGTH(text)) AS quality_score
       |  FROM documents)
       |SELECT cl.doc_id, cl.cluster_id, cl.cluster_size, q.quality_score,
       |  (row_number() OVER (PARTITION BY cl.cluster_id
       |     ORDER BY q.quality_score DESC, cl.doc_id) = 1) AS kept
       |FROM cl JOIN q USING (doc_id)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_keep_best" -> (keepBest _),
    "graph_pagerank" -> (pagerank _),
    "dedup_substring" -> (substringDedup _),
    "dedup_incremental" -> ((s, d) => incremental(s, d)),
    "dedup_cc" -> (embeddingClusters _),
    "dedup_clusters" -> (clusters _),
    "dedup_exact" -> (exact _),
    "dedup_exact_hash" -> (exactHash _),
    "dedup_bow" -> (bow _),
    "dedup_cdc" -> (cdc _),
    "dedup_minhash_lsh" -> ((s, d) => minhashLsh(s, d)),
    "dedup_simhash" -> ((s, d) => simhash(s, d)),
    "dedup_ngram_jaccard" -> (ngramJaccard _),
    "dedup_embedding" -> (embedding _))

  val oracles: Map[String, String] = Map(
    "graph_pagerank" -> pagerankSql,
    "dedup_substring" -> substringDedupSql,
    "dedup_cc" -> embeddingClustersSql,
    "dedup_exact" -> exactSql,
    "dedup_exact_hash" -> exactHashSql,
    "dedup_bow" -> bowSql,
    "dedup_cdc" -> cdcSql,
    "dedup_embedding" -> embeddingSql,
    "dedup_minhash_lsh" -> minhashLshSql,
    "dedup_simhash" -> simhashSql,
    "dedup_clusters" -> clustersSql,
    "dedup_keep_best" -> keepBestSql,
    "dedup_ngram_jaccard" -> ngramJaccardSql,
    "dedup_incremental" -> incrementalSql)
}
