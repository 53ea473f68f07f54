package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Golden assertions on physical plans — the properties that decide
  * 100 TB behavior must hold structurally, not incidentally.
  */
class PlanAssertionsSpec extends AnyFunSuite with BeforeAndAfterAll
    with AdaptiveSparkPlanHelper {

  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  private def planOf(name: String): String = {
    // lift metadata truncation so PushedFilters print fully, and execute
    // first so AQE finalizes (WholeStageCodegen only shows in final plans)
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // executes THIS QueryExecution so AQE reaches its final plan
    df.queryExecution.executedPlan.toString
  }

  test("q6: all four predicates reach the parquet scan") {
    val p = planOf("q6_revenue_forecast")
    assert(p.contains("PushedFilters"))
    for (f <- Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount", "LessThanOrEqual(l_discount",
        "LessThan(l_quantity")) {
      assert(p.contains(f), s"missing pushed filter $f in:\n$p")
    }
  }

  test("q6: scan reads only the needed columns") {
    val p = planOf("q6_revenue_forecast")
    val readSchema = "ReadSchema: struct<l_quantity:double,l_extendedprice:double,l_discount:double,l_shipdate:timestamp>"
    assert(p.contains(readSchema), p)
    assert(!p.contains("l_orderkey"), "scan must not read unused columns")
  }

  test("ref_filter: projection pruned to three columns") {
    val p = planOf("ref_filter")
    assert(p.contains("ReadSchema: struct<event_id:bigint,user_id:bigint,event_type:string>"), p)
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]"), p)
  }

  test("q5: all dimension joins broadcast (no shuffle joins at dim sizes)") {
    val p = planOf("q5_local_supplier")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q13: join-side predicate pushed to scan; outer join survives (no inner collapse)") {
    // the query's point is customers with ZERO orders: the orderpriority
    // predicate must stay in the JOIN (pushed to the orders SCAN, not
    // applied as a post-join WHERE that would silently turn the join
    // inner), and the count distribution stacks two hash aggregates
    val p = planOf("q13_cust_distribution")
    assert(p.contains("Not(EqualTo(o_orderpriority,1-URGENT))"),
      s"join-side predicate must reach the orders scan:\n$p")
    assert(p.contains("LeftOuter"), s"outer join must survive optimization:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 4, "two-level aggregation expected")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q21: EXISTS/NOT EXISTS decorrelate to semi/anti joins — no per-row re-scan") {
    // the chained-subquery shape must plan as hash semi/anti joins on
    // l_orderkey (three bounded scans of lineitem total), never a
    // nested-loop per-row re-scan; the anti side's returned-lines filter
    // prunes at its scan. (A single-scan per-order-aggregate rewrite was
    // measured 3.4x SLOWER at the 17 GB corpus — see q21's Scaladoc —
    // so three column-pruned scans are the asserted shape on purpose.)
    val p = planOf("q21_waiting_suppliers")
    assert(p.contains("LeftSemi"), s"EXISTS must become a semi join:\n$p")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must become an anti join:\n$p")
    assert("EqualTo\\(l_returnflag,R\\)".r.findAllIn(p).size >= 2,
      "returned-lines filter must reach both l1 and l3 scans")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q17: correlated AVG folds to a key-partitioned window — one lineitem scan") {
    // the aggregate-and-join-back form scanned lineitem twice; the
    // window form must show exactly one scan, and the window must be
    // PARTITIONED on l_partkey (a global window would funnel the fact
    // through one task)
    val p = planOf("q17_small_qty_revenue")
    val finalPlan = p.split("== Initial Plan ==")(0)
    val lineitemScans = finalPlan.split("\n").count(l =>
      l.contains("FileScan") && l.contains("lineitem"))
    assert(lineitemScans == 1,
      s"lineitem must be scanned once, saw $lineitemScans scans:\n$p")
    // physical-plan strings never contain "partitionBy"; the
    // windowspecdefinition argument list is the real partitioning record
    assert("Window \\[.*windowspecdefinition\\(l_partkey".r.findFirstIn(p).isDefined,
      s"window must partition on l_partkey:\n$p")
    // an empty-partitionBy window prints its frame spec as the FIRST
    // argument (physical plans always print order+frame inside
    // windowspecdefinition), so the anchored shape below is the real
    // empty-partition signature — "windowspecdefinition()" never occurs
    assert(!"windowspecdefinition\\(specifiedwindowframe".r.findFirstIn(p).isDefined,
      s"empty-partition window would funnel the fact through one task:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q18: HAVING aggregate is evaluated once and IS the output — one lineitem scan") {
    // the IN-subquery's per-order aggregate doubles as the output
    // quantity, so lineitem must be scanned exactly once (the semi-join
    // form scanned it twice: once for HAVING, once to re-sum)
    val p = planOf("q18_large_volume")
    val finalPlan = p.split("== Initial Plan ==")(0)
    val lineitemScans = finalPlan.split("\n").count(l =>
      l.contains("FileScan") && l.contains("lineitem"))
    assert(lineitemScans == 1,
      s"lineitem must be scanned once, saw $lineitemScans scans:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "per-order qty aggregate, partial+final")
    assert(p.contains("TakeOrderedAndProject"), "top-100 must not global-sort")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q11: scalar threshold gates aggregated groups without a re-scan") {
    // both aggregates are single map-side-combined passes; the global
    // total reaches the group filter as a 1-row broadcast, never a
    // per-group subquery re-scan
    val p = planOf("q11_important_share")
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      "per-part and global aggregates, each partial+final")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q22: scalar avg broadcasts once; never-ordered test is an anti join") {
    // two decorrelations in one plan: the uncorrelated average is a 1-row
    // broadcast (BNLJ against a single-row side — the sanctioned scalar
    // pattern), and NOT EXISTS is a hash anti join on c_custkey
    val p = planOf("q22_sales_opportunity")
    assert(p.contains("LeftAnti"), s"NOT EXISTS must become an anti join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q14: unfiltered part never broadcasts — per-partition hash build") {
    // part is SF-proportional here (no filter — every type classified):
    // Catalyst's static 60 MB estimate would broadcast a 2 GB hashed
    // relation built in one task (33-69 s measured at 17 GB, fatal at
    // 100 TB); the committed plan must show a ShuffledHashJoin instead
    val p = planOf("q14_promo_revenue")
    assert(p.contains("ShuffledHashJoin"),
      s"part join must be a shuffled hash join:\n$p")
    assert(!p.contains("BroadcastHashJoin"),
      s"unfiltered part must not broadcast:\n$p")
  }

  test("TPC-H: no query scans a fact table twice in its final plan") {
    // the r15 single-scan sweep: every multi-consumer view is either
    // folded into one aggregate/window, proven exchange-reused, or
    // checkpoint-materialized — a repeated FileScan of the same table in
    // a FINAL plan means one of those regressed. (q15/q22 checkpoint
    // their shared view, so their fact scan happens once OUTSIDE the
    // audited plan — a count of 0 is correct there.)
    val tables = Seq("lineitem", "orders", "customer", "part", "supplier")
    // q21 is deliberately absent: its three-scan semi/anti form measured
    // 3.4x faster than the single-scan rewrite at the 17 GB corpus
    val queries = Seq("q2_min_cost_supplier", "q11_important_share",
      "q15_top_supplier", "q17_small_qty_revenue", "q18_large_volume",
      "q20_promotion_suppliers", "q22_sales_opportunity")
    for (q <- queries) {
      val finalPlan = planOf(q).split("== Initial Plan ==")(0)
      for (t <- tables) {
        val n = finalPlan.split("\n").count(l =>
          l.contains("FileScan") && l.contains(s"$t.parquet"))
        assert(n <= 1, s"$q scans $t $n times in its final plan")
      }
    }
  }

  test("q_topk_orders: TakeOrderedAndProject, no global sort") {
    val p = planOf("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q1: partial (map-side) aggregation present") {
    val p = planOf("q1_pricing_summary")
    assert(p.contains("partial_sum"), p)
  }

  test("q_topk_per_key: custom exec with a single clustered exchange") {
    val p = planOf("q_topk_per_key")
    assert(p.contains("TopKPerKey"), p)
    assert(!p.contains("Sort "), "heap-based top-k must not sort")
  }

  test("text_collocations: in-row bigrams, partial counts, top-100 via TakeOrdered") {
    val p = planOf("text_collocations").split("== Initial Plan ==")(0)
    assert(p.contains("zip_with"), "bigrams must form inside the row: " + p)
    assert(p.contains("partial_count"), "count aggs need map-side partials: " + p)
    assert(p.contains("TakeOrderedAndProject"), "top-100 must not global-sort: " + p)
  }

  test("emb_knn_graph: broadcast score stream heap-reduced before the exchange") {
    // the n×m cosine stream must never hit an Exchange un-reduced: the
    // query side broadcasts, and the partial top-k bounds what shuffles
    val p = planOf("emb_knn_graph").split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("TopKPerKeyPartial"), p)
    assert(!p.contains("Sort "), "kNN graph must not sort the score stream")
  }

  test("dedup_simhash: banded self-join sort-merges; candidates computed once") {
    // Catalyst misestimated the capped bands table as broadcastable — at
    // the K=1000 corpus the BuildRight hash relation was ~1 GiB and grew
    // with the corpus. The self-join must sort-merge, and the candidate
    // subtree must be lineage-cut so the directed union's two legs don't
    // each re-run the banded join.
    // assert on the pre-cut candidate stage: the lineage cut hides the
    // join subtree behind a LogicalRDD in the composed simhash plan
    import org.apache.spark.sql.functions.{col, explode, expr}
    val docs = graft.Tables.documents(spark, sf)
      .withColumn("simhash", graft.functions.native.simHash64(
        org.apache.spark.sql.functions.split(col("text"), " ")))
      .select(col("doc_id"), col("simhash"), explode(expr(
        "transform(sequence(0, 3), b -> named_struct('band', b, 'bv', shiftright(simhash, 16*b) & 65535))")).as("bb"))
      .select(col("doc_id"), col("simhash"), col("bb.band").as("band"), col("bb.bv").as("bv"))
    val p = graft.dedup.Dedup.simhashCandidates(docs)
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin [band"),
      "banded candidate self-join must sort-merge: " + p)
    // a bounded KEY list may broadcast; the INNER candidate join must
    // never broadcast the corpus-sized bands table
    assert(!p.split("\n").exists(l =>
        l.contains("BroadcastHashJoin [band") && l.contains("Inner")),
      "corpus-sized bands table must never be a broadcast build side: " + p)
  }

  test("TopKPerKeyPartial: LRU row-budget eviction is result-identical") {
    // Round 12: the partial pass caps LIVE rows and evict-emits the
    // least-recently-touched heap (the unbounded map held ~32 GB at the
    // 2M-vector IVF corpus). A 7-row budget on a 15k-row / ~1k-key input
    // forces thousands of evictions; the merged result must be exactly
    // the default-budget (eviction-free) answer.
    val base = graft.operators.TopK.topkPerKeyOrders(spark, sf)
      .orderBy("o_custkey", "o_orderkey").collect().toSeq
    spark.conf.set("spark.graft.topk.partialMaxRows", "7")
    try {
      val evicted = graft.operators.TopK.topkPerKeyOrders(spark, sf)
        .orderBy("o_custkey", "o_orderkey").collect().toSeq
      assert(evicted == base)
    } finally spark.conf.unset("spark.graft.topk.partialMaxRows")
  }

  test("q_topk_per_key: partial (map-side) top-k combine below the exchange") {
    // aggregate-style split: TopKPerKeyPartial feeds the hash exchange, so
    // at most k rows per key per map partition are ever shuffled
    val p = planOf("q_topk_per_key").split("== Initial Plan ==")(0)
    assert(p.contains("TopKPerKeyPartial"), p)
    val partialIdx = p.indexOf("TopKPerKeyPartial")
    val exchangeIdx = p.indexOf("Exchange hashpartitioning")
    assert(exchangeIdx >= 0 && exchangeIdx < partialIdx,
      s"expected partial top-k BELOW the exchange in: $p")
  }

  test("text_tfidf: df table broadcasts, top-5 heap-reduced before the exchange") {
    // the vocab-bounded df table must broadcast (never a shuffle join on
    // word), and the per-doc top-5 must go through TopKPerKey's partial
    // pass — a window formulation would sort the full scored term stream
    val p = planOf("text_tfidf").split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TopKPerKeyPartial"), p)
  }

  test("q_active_users: dedups to slim (user, day) before the 7x explode") {
    // the explode must run over the DEDUPED activity set: HashAggregate
    // (the distinct) sits below Generate in the plan, so the 7x blowup
    // applies to slim ids, never to raw events
    val p = planOf("q_active_users").split("== Initial Plan ==")(0)
    val gen = p.indexOf("Generate explode")
    assert(gen >= 0, p)
    val aggBelow = p.indexOf("HashAggregate", gen)
    assert(aggBelow >= 0, s"expected the distinct aggregate below the explode in: $p")
  }

  test("asof join: exactly one hash-partition exchange (union-and-sweep)") {
    // AQE toString prints Final and Initial plan sections; count only final
    val p = planOf("q_asof_join").split("== Initial Plan ==")(0)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges in: $p")
  }

  test("q_ntile: main pass is exchange-free (no single-partition window)") {
    // the cut ranks are resolved eagerly in pass 1; the RETURNED plan is
    // pass 2 — scan + projected struct comparisons, no Exchange of any kind
    val p = planOf("q_ntile")
    assert(!p.contains("Exchange"), s"ntile main pass must not shuffle: $p")
    assert(!p.contains("Window"), s"ntile must not fall back to a window: $p")
  }

  test("dedup_embedding: LSH candidates, no cartesian pair space") {
    val p = planOf("dedup_embedding")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("pipeline_curate: LSH self-join keys on (band, hash)") {
    val p = planOf("pipeline_curate")
    assert(p.contains("band"), s"composite band key missing from plan: $p")
  }

  test("text_contamination: eval side broadcasts; gram scan pruned to 2 cols") {
    val p = planOf("text_contamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
  }

  test("pack_sequences: window partitioned by source, never a global sort") {
    val p = planOf("pack_sequences").split("== Initial Plan ==")(0)
    assert(p.contains("windowspecdefinition(source"), p)
    assert(!p.contains("SinglePartition"), s"global single-partition window: $p")
    // running sum + final agg share the source hash-partitioning: 1 shuffle
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).size
    assert(exchanges == 1, s"expected 1 shuffle, got $exchanges in: $p")
  }

  test("sample_stratified / doc_shard_assign: single scan, no shuffle before filter") {
    val p = planOf("sample_stratified")
    assert(!p.contains("Exchange"), s"deterministic sample must be map-only: $p")
    val p2 = planOf("doc_shard_assign").split("== Initial Plan ==")(0)
    assert(p2.contains("partial_count"), s"shard manifest must map-side combine: $p2")
  }

  test("text_rep / emb_quant: pure map stages, zero exchanges") {
    for (q <- Seq("text_rep", "emb_quant")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle: $p")
    }
  }

  test("text_scrub_pii / text_bpe_tokens: map-only, whole-stage codegen, 2-col scan") {
    for (q <- Seq("text_scrub_pii", "text_bpe_tokens")) {
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q must not shuffle: $p")
      // whole-stage codegen renders as the `*(n)` stage prefix here
      assert(p.contains("*(1) Project"), s"$q must stay codegen'd: $p")
      assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
        s"$q must prune the scan to (doc_id, text): $p")
    }
  }

  test("ann_range: query panel broadcasts, corpus side never shuffles") {
    val p = planOf("ann_range")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"), s"corpus shuffled: $p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("doc_split: map-side combine before the bounded-cardinality agg") {
    val p = planOf("doc_split").split("== Initial Plan ==")(0)
    assert(p.contains("partial_count"), s"split audit must map-side combine: $p")
  }

  test("q_lateral: correlated LIMIT decorrelates — no per-row re-scan join") {
    val p = planOf("q_lateral")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), s"nested-loop lateral: $p")
  }

  test("text_rarity: unigram table broadcasts back onto the token stream") {
    val p = planOf("text_rarity")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"vocab join must broadcast: $p")
  }

  test("emb_assign: centroid table broadcasts; distance agg map-side combines") {
    val p = planOf("emb_assign").split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("partial_sum"), s"distance sum must map-side combine: $p")
  }

  // AQE plan strings append an "== Initial Plan ==" section that repeats
  // every node; structural counts must look at the final plan only
  private def finalPlanOf(name: String): String =
    planOf(name).split("== Initial Plan ==").head

  test("emb_pq: encode is map-only (corpus never shuffles before the panel join)") {
    val p = finalPlanOf("emb_pq")
    // the codebook is a literal: no join computes codes, so no SHUFFLE
    // exchange may appear below the BroadcastNestedLoopJoin that attaches
    // the panel (the panel's own BroadcastExchange is expected)
    val belowPanel = p.split("BroadcastNestedLoopJoin").last
    assert(!belowPanel.contains("Exchange hashpartitioning"),
      s"corpus side of the panel join must be scan->project only:\n$p")
  }

  test("q_attribution: one user-hash exchange feeds the sweep (no touch join)") {
    val p = finalPlanOf("q_attribution")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
      s"attribution must be a window sweep, not a purchase x touch join:\n$p")
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }

  test("dedup_substring: no word-level shuffle — wide stages key on gram or doc only") {
    val p = planOf("dedup_substring")
    // the scrub is an in-row lambda: no exchange may carry a `pos` column
    // (the first-cut plan shuffled every (doc_id, pos, word) row twice)
    val shuffles = "Exchange hashpartitioning\\(([^)]*)".r.findAllMatchIn(p).map(_.group(1)).toSeq
    assert(shuffles.nonEmpty && shuffles.forall(k => !k.contains("pos")),
      s"found a position-keyed (word-level) exchange in:\n$shuffles")
  }

  test("whole-stage codegen covers the relational hot paths") {
    for (q <- Seq("q1_pricing_summary", "q6_revenue_forecast", "ref_aggregation")) {
      // "*(n)" prefixes mark WholeStageCodegen spans in compact plan strings
      assert(planOf(q).contains("*(1)"), s"$q lost codegen")
    }
  }

  test("q_events_lake: one scan per encoding group, unioned") {
    val p = planOf("q_events_lake")
    assert(p.contains("Union"), s"expected a union of per-encoding scans:\n$p")
    assert("Scan parquet".r.findAllIn(p).size >= 2,
      s"expected >= 2 parquet scans (one per encoding group):\n$p")
  }

  test("dataset_profile: documents scan pruned to the profiled columns") {
    val p = planOf("dataset_profile")
    // the profile touches text/n_chars/source/lang — doc_id must be pruned
    assert(!p.contains("doc_id"), s"doc_id must not be read:\n$p")
    // the cumulative median window is stratum-keyed, never global
    assert(p.contains("Window"), p)
    assert(!p.split("Window").last.take(400).contains("Exchange SinglePartition"),
      s"median window must partition by (source, lang):\n$p")
  }

  test("q_data_audit: every leg aggregates before the union (9-row output)") {
    val p = planOf("q_data_audit")
    // each constraint leg ends in its own 1-row aggregate and the union is
    // the TOP node — nothing (no exchange, no sort) may run on the unioned
    // summary rows. In tree-printed plans the region BEFORE "Union" is
    // whatever sits above it.
    val aboveUnion = p.split("Union").head
    assert(!aboveUnion.contains("Exchange") && !aboveUnion.contains("Sort"),
      s"operators found above the union of summary rows:\n$p")
    assert("HashAggregate|SortAggregate".r.findAllIn(p).nonEmpty, p)
  }

  test("q_data_audit: single-table checks fused — one scan per table outside the FK joins") {
    val p = planOf("q_data_audit")
    // round-9 verdict item 3: the four lineitem checks (pk packing, qty,
    // discount, linenumber range) must come out of ONE lineitem pass, the
    // two orders checks out of ONE orders pass. Budget: lineitem = 1 fused
    // + 1 FK-join side = 2; orders = 1 fused + 2 FK joins = 3;
    // customer = 1 fused + 1 FK join = 2. Count only the AQE FINAL plan —
    // the toString repeats every scan under "== Initial Plan ==".
    val finalP = p.split("== Initial Plan ==").head
    def scans(table: String): Int =
      s"FileScan parquet .*$table".r.findAllIn(finalP).size
    assert(scans("lineitem") == 2, s"lineitem scans != 2:\n$p")
    assert(scans("orders") == 3, s"orders scans != 3:\n$p")
    assert(scans("customer") == 2, s"customer scans != 2:\n$p")
  }

  test("q_histogram_merge: bounds broadcast to the binning pass (no bounds shuffle)") {
    val p = planOf("q_histogram_merge")
    // the 1-row (vmin, vmax) aggregate attaches via broadcast nested loop —
    // the corpus is never shuffled to meet the bounds
    assert(p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_kanon: corpus aggregates to the bounded bucket table before the threshold join") {
    val p = planOf("q_kanon")
    // the 4-row threshold table broadcasts onto the (lang, source,
    // len_bucket) bucket counts — the documents scan reads only the three
    // quasi-identifier columns, never the text payload
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("text"), s"text payload must not be read:\n$p")
  }

  test("q_drift_bins: shared bounds broadcast; events scan pruned to (value, ts)") {
    val p = planOf("q_drift_bins")
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("props") && !p.contains("event_type"),
      s"drift monitor must not read unused columns:\n$p")
  }

  test("q_segment_overlap: audience sizes broadcast; scan pruned to (user, type)") {
    val p = planOf("q_segment_overlap")
    // the |types|-row audience aggregate must attach by broadcast, never
    // by shuffling the pair stream against it
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("value") && !p.contains("props"),
      s"overlap matrix must not read unused columns:\n$p")
  }

  test("q_gini: the rank window runs over the count histogram, not users") {
    val p = planOf("q_gini")
    // two pre-window aggregates (user counts -> count-of-counts) must
    // appear below the Window: the window input is the bounded histogram
    assert(p.contains("Window"), p)
    val windowIdx = p.indexOf("Window")
    val below = p.substring(windowIdx)
    assert("HashAggregate".r.findAllIn(below).size >= 3,
      s"window must sit above the histogram aggregates:\n$p")
  }

  test("text_novelty: grams travel as md5 prefixes, one gram-keyed exchange") {
    val p = planOf("text_novelty")
    assert(p.contains("md5"), s"grams must be hashed, not raw text:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_embedding: block-pair equi-join, shuffled not broadcast") {
    val p = planOf("dedup_embedding")
    // the triangle decomposition must run as a SHUFFLED join on the block
    // pair key — a broadcast join would inherit the scan's input splits
    // and serialize the quadratic comparison (round-10 measurement)
    assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("emb_knn_graph_ivf: no candidate-sized distinct; TopKPerKey partial present") {
    val p = planOf("emb_knn_graph_ivf")
    // scoring rows flow straight into the TopKPerKey partial pass; the
    // pre-round-10 plan distinct()ed the candidate pairs (a candidate-
    // sized exchange) before attaching embeddings
    assert(p.contains("TopKPerKey"), p)
    // SortMergeJoin since r11 (was ShuffledHashJoin): same shuffled
    // layout, but the hash build hard-failed at a 2M-vector corpus
    // assert on the CELL-SALT join line specifically: the id-attach joins
    // legitimately broadcast at toy SF (AQE sizes them), and capCells'
    // hot-cell anti-join is a bounded broadcast by design
    val cellJoin = p.split("\n").filter(l =>
      l.contains("Join") && l.contains("cell#") && l.contains("salt#"))
    assert(cellJoin.nonEmpty, s"cell-salt join not found:\n$p")
    assert(cellJoin.forall(l =>
        l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin")),
      s"salted cell join must shuffle, not broadcast:\n${cellJoin.mkString("\n")}")
  }

  test("emb_knn_graph_ivf: at levels == 0 the cell sets are row-local, no window or collect_list") {
    val p = planOf("emb_knn_graph_ivf")
    // each side's cell set is ranked and sliced in the row that reads its
    // embedding: no rank window, no cell-set aggregate joined back, and no
    // cross join against the centroids
    assert(p.contains("nearest_cells"), p)
    for (op <- Seq("Window", "collect_list", "NestedLoopJoin"))
      assert(!p.contains(op), s"$op in the levels == 0 edge build:\n$p")
  }

  test("q_name_match: pair generator is a non-broadcast equi-join on the blocking key") {
    val p = planOf("q_name_match")
    // the blocked ER pair join must shuffle-partition by block so pair
    // scoring parallelizes; a broadcast would serialize on the probe
    // side's input splits (the round-10 knn lesson), and any cartesian
    // means the blocking key fell out of the join
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }

  test("q_bootstrap_ci: replicate expansion collapses in a partial aggregate before the shuffle") {
    val p = planOf("q_bootstrap_ci")
    // the x200 explode must feed a map-side partial HashAggregate keyed on
    // the replicate id: the shuffle then carries <=200 rows per partition,
    // never the expanded corpus
    val genIdx = p.indexOf("Generate")
    assert(genIdx >= 0, s"explode missing:\n$p")
    val above = p.substring(0, genIdx)
    assert(above.contains("HashAggregate"),
      s"partial aggregate must sit between explode and exchange:\n$p")
  }

  test("q_csv_source / q_jsonl_source: explicit schema, no inference scan") {
    // both text scans must carry the explicit ReadSchema, and the csv leg
    // prunes nothing (aggregate needs all 6 columns) while remaining a
    // single-pass FileScan
    val pc = planOf("q_csv_source")
    assert(pc.contains("FileScan csv"), pc)
    val pj = planOf("q_jsonl_source")
    assert(pj.contains("FileScan json"), pj)
  }

  test("doc_domain_weight: weight table joins by shuffle on the token key; totals broadcast") {
    val p = planOf("doc_domain_weight")
    // the vocab-sized weight table must NOT broadcast (vocab is unbounded
    // at corpus scale); the only broadcast is the 1-row totals aggregate
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), s"totals must broadcast:\n$p")
  }

  test("q_benford: scan pruned to the amount column; digit agg is map-side combined") {
    val p = planOf("q_benford")
    assert(p.contains("ReadSchema: struct<o_totalprice:double>"), p)
    // the 9-group aggregate must have a partial (map-side) pass so the
    // exchange carries <=9 rows per partition, never corpus rows
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), s"all 9/1-row joins broadcast:\n$p")
  }

  test("q_seasonality: scan pruned to (date, amount); totals broadcast") {
    val p = planOf("q_seasonality")
    assert(p.contains("ReadSchema: struct<o_totalprice:double,o_orderdate:timestamp>")
      || p.contains("ReadSchema: struct<o_orderdate:timestamp,o_totalprice:double>"), p)
    assert(p.contains("BroadcastNestedLoopJoin"), s"1-row total must broadcast:\n$p")
  }

  test("q_assoc_rules: pair expansion is in-row (Generate), never a corpus self-join") {
    val p = planOf("q_assoc_rules")
    val finalP = p.split("== Initial Plan ==").head
    // the double explode of the per-order brand set
    assert("Generate explode".r.findAllIn(finalP).size >= 2, p)
    // ONE corpus-sized scan of lineitem feeds ONE collect_set shuffle —
    // the marginal/total legs consume the lineage-cut per-order sets,
    // never a second scan; the joins on the bounded sides are broadcast
    assert(s"FileScan parquet .*lineitem".r.findAllIn(finalP).size <= 1, p)
    assert(!finalP.contains("SortMergeJoin"), s"no shuffle pair join:\n$p")
  }

  test("q_cuped: both periods from ONE orders scan; arm stats join the 1-row moments by broadcast") {
    val p = planOf("q_cuped")
    val finalP = p.split("== Initial Plan ==").head
    assert(s"FileScan parquet .*orders".r.findAllIn(finalP).size == 1,
      s"pre/post must come from one conditional-aggregate pass:\n$p")
    assert(finalP.contains("BroadcastNestedLoopJoin"), s"moments broadcast:\n$p")
  }

  test("q_mann_whitney: corpus collapses to buckets BEFORE the single-partition walk") {
    val p = planOf("q_mann_whitney")
    // the bucket aggregate (with its partial pass) must sit below the
    // Window's SinglePartition exchange: the walk sees <=5001 rows
    val winIdx = p.indexOf("Window")
    assert(winIdx >= 0, p)
    val below = p.substring(winIdx)
    assert(below.contains("HashAggregate"),
      s"bucket aggregate must feed the window:\n$p")
    assert(p.indexOf("FileScan") > winIdx,
      s"scan must be below the window in the tree:\n$p")
  }

  test("q_hhi: supplier dim broadcasts; one lineitem scan") {
    val p = planOf("q_hhi")
    val finalP = p.split("== Initial Plan ==").head
    assert(finalP.contains("BroadcastHashJoin"), p)
    assert(s"FileScan parquet .*lineitem".r.findAllIn(finalP).size == 1, p)
  }

  test("q_new_returning: any broadcast side is a cardinality-bounding aggregate, never a raw scan") {
    // at toy SF AQE may legitimately broadcast the per-user min-day
    // AGGREGATE (it is user-count-sized, and there is no broadcast HINT
    // forcing it at scale); what must never happen is a raw corpus scan
    // under a BroadcastExchange
    val p = planOf("q_new_returning")
    val bIdx = p.indexOf("BroadcastExchange")
    if (bIdx >= 0) {
      val toFirstScan = p.substring(bIdx).split("FileScan").head
      assert(toFirstScan.contains("HashAggregate"),
        s"broadcast side must aggregate before broadcasting:\n$p")
    }
    assert("Join".r.findAllIn(p).nonEmpty, p)
  }

  test("doc_interleave / q_interpurchase: windows are key-partitioned (no global sort)") {
    for (name <- Seq("doc_interleave", "q_interpurchase")) {
      val p = planOf(name)
      val lines = p.split("\n")
      val global = lines.zipWithIndex.exists { case (l, i) =>
        l.contains("Window") &&
          lines.slice(i + 1, i + 4).exists(_.contains("Exchange SinglePartition"))
      }
      assert(!global, s"$name: window must partition by shard/customer:\n$p")
      assert(p.contains("Window"), s"$name: window missing:\n$p")
    }
  }

  test("emb_cosine_hist: arrays fold row-locally — no Generate, histogram agg map-side combined") {
    val p = planOf("emb_cosine_hist")
    val finalP = p.split("== Initial Plan ==").head
    // the dot/norm folds are higher-order functions over the embedding
    // arrays: a Generate (explode to corpus×64 rows) here would 64× the
    // shuffle volume for no reason
    // tree prints parents first: the histogram/join stage is the text
    // ABOVE the kNN build's TopKPerKey (the build itself legitimately
    // explodes for its integer-quantizer centroids)
    val aboveKnn = finalP.split("TopKPerKey").head
    assert(!aboveKnn.contains("Generate"),
      s"array explode in the histogram stage:\n$p")
    assert("HashAggregate|ObjectHashAggregate".r.findAllIn(finalP).nonEmpty, p)
  }

  test("q_ldiversity / q_orc_source: single pruned scan each") {
    val pl = planOf("q_ldiversity")
    val finalL = pl.split("== Initial Plan ==").head
    assert(s"FileScan parquet .*customer".r.findAllIn(finalL).size == 1, pl)
    val po = planOf("q_orc_source")
    assert(po.contains("FileScan orc"), s"vectorized ORC scan expected:\n$po")
  }

  test("panel rankers heap-reduce through TopKPerKey, never sort the candidate stream") {
    // r13 verdict item 4: ann_topk / ann_mips / ann_filtered / ann_maxsim /
    // ann_recall_matryoshka must cut candidates via the custom operator's
    // PARTIAL pass (≤ k rows per query per partition reach the exchange);
    // the rank window then runs over only the ≤ panel × k survivors.
    for (name <- Seq("ann_topk", "ann_mips", "ann_filtered", "ann_maxsim",
        "ann_recall_matryoshka")) {
      val p = planOf(name).split("== Initial Plan ==").head
      assert(p.contains("TopKPerKeyPartial"),
        s"$name: candidate stream not heap-reduced before the exchange:\n$p")
    }
  }
}
