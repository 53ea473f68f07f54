package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Checkpoints.CheckpointOps

/** Graph analytics over the IVF-routed kNN similarity graph
  * ([[Ann.knnGraphIvf]]) — the document/embedding graph a curation
  * pipeline actually builds at scale (semantic-dup clusters, influence,
  * community structure). The reference exposes its engine through
  * arbitrary SQL (`/root/reference/benches/query.rs:37-47`); these are
  * the graph-shaped analyses that surface re-expressed as Catalyst plans
  * over the same edge set.
  *
  * Every operator is hash-checkable end-to-end because the substrate is
  * the INTEGER-quantizer IVF graph (routing is exact integer arithmetic,
  * [[Ann.knnGraphIvfSql]]) and all derived measures are integer counts or
  * a single terminal IEEE division of exact integers.
  *
  * Scale shape: the edge set is corpus × k rows (k=5 neighbors), i.e.
  * orders of magnitude smaller than the corpus payload — every shuffle
  * below is edge-sized or vertex-sized, never corpus-payload-sized. The
  * wedge join is bounded by the max degree (≤ 2k after
  * canonicalization), so its output is |V|·(2k)² worst case — linear in
  * the corpus for fixed k.
  */
object Graph {

  /** Canonical undirected edge set: u < v, deduped (a pair can be
    * discovered from either endpoint's top-5).
    */
  private def edgesOf(g: DataFrame): DataFrame =
    g.select(least(col("query_id"), col("neighbor_id")).as("u"),
        greatest(col("query_id"), col("neighbor_id")).as("v"))
      .distinct()

  /** The similarity graph's canonical edge set as a first-class API:
    * build from the IVF kNN graph on demand. Every graph_* operator below
    * is parameterized over this (the `*Of(edges)` variants), so a caller
    * can swap in [[materializedEdges]] and run the whole analysis suite
    * without re-deriving the graph.
    */
  def edges(spark: SparkSession, dir: String): DataFrame =
    edgesOf(Ann.knnGraphIvf(spark, dir))

  /** Write-once/reuse edge artifact (round-9 verdict item 5): the kNN
    * graph derivation is the expensive half of every graph_* operator —
    * in production you build the edge set ONCE per corpus snapshot and
    * run the whole analysis suite against the parquet artifact. Clustered
    * on (u, v) ([[graft.sources.Sources.writeClustered]]) so edge-range
    * scans and the u-keyed wedge/adjacency joins start from tight
    * row-group stats. Cached per (sfDir, uri-less) key in this JVM;
    * `uri=Some(...)` pins an explicit artifact location instead of a
    * temp dir.
    */
  def materializedEdges(spark: SparkSession, dir: String,
      uri: Option[String] = None): DataFrame = {
    val target = uri.getOrElse(
      edgeArtifacts.computeIfAbsent(dir, { _ =>
        java.nio.file.Files.createTempDirectory("graft_edges").toString + "/edges"
      }))
    // computeIfAbsent, not containsKey-then-put (ADVICE r15): one write
    // per target; a concurrent caller blocks until it finishes instead of
    // racing the overwrite
    edgeArtifactsWritten.computeIfAbsent(target, { _ =>
      // file count = cluster parallelism, floor 8: the artifact's input
      // splits ARE the analyses' scan parallelism, and the r14 2M-vector
      // frontier measured the 8-file layout capping every edge scan at
      // 8 of 32 cores (32 files: jaccard 59.8→40.5 s, modularity
      // 45.2→30.3 s, reach 19.7→11.4 s, label_prop 37.3→26.8 s)
      val nFiles = math.max(8, spark.sparkContext.defaultParallelism)
      graft.sources.Sources.writeClustered(
        edges(spark, dir), target, Seq("u", "v"), nFiles = nFiles)
      java.lang.Boolean.TRUE
    })
    graft.sources.Sources.parquet(spark, target)
  }

  private val edgeArtifacts =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private val edgeArtifactsWritten =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def degreesOf(e: DataFrame): DataFrame =
    e.select(explode(array(col("u"), col("v"))).as("vec_id"))
      .groupBy(col("vec_id")).agg(count(lit(1)).as("degree"))

  /** Both-direction adjacency of the canonical edge set, materialized
    * ONCE (single-pass explode — the old unionAll ran the edge-derivation
    * subtree twice), hash-partitioned on `src` at every size (see the
    * pin note below) and cut through [[graft.Checkpoints.cut]]
    * (`PartitionedCheckpoint`), which KEEPS that partitioning (a stock
    * localCheckpoint scans back as UnknownPartitioning, so every loop
    * round re-shuffled the edge set; measured round 18). Every iterative
    * operator below re-joins the adjacency on `src` per round, and the
    * degree table is a src-keyed count over it, so ONE partitioned
    * materialization makes the edge side of every round join — and the
    * degree aggregate — exchange-free (guide §2.4); only vertex-sized
    * frontier/label frames still move per round.
    */
  private def adjPartitionedOf(e: DataFrame, eBytes: Long): DataFrame = {
    val spark = e.sparkSession
    // explode, not unionAll: ONE pass over `e`
    val raw = e.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst")),
        struct(col("v").as("src"), col("u").as("dst")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"))
    // Pin ALWAYS (unlike Dedup.connectedComponents' size-gated bidir):
    // every consumer of this adjacency aggregates or joins ON the pinned
    // key `src` — the per-round degree/live aggregates and the wedge
    // self-joins ride the pinned partitioning exchange-free, which
    // measured faster than the broadcast-round alternative even at
    // bench scale (A/B in OPTIMIZATION_r18.md: kcore 47 jobs / 4.1-4.6 s
    // pinned vs 61 jobs / 7.6-8.0 s unpinned at sf0.1). The partition
    // count derives from the MEASURED bytes (guide §2: from the data,
    // never a constant): a corpus-sized graph fans out to the conf'd
    // parallelism, a bench-sized one collapses to the 2-partition floor.
    val n = graft.Checkpoints.sizedPartitions(spark, 2 * eBytes)
    raw.repartition(n, col("src")).cutLineage()
  }

  /** Undirected degrees as a `src`-keyed count over the partitioned
    * adjacency — value-identical to [[degreesOf]] (each undirected edge
    * contributes one row per direction), but exchange-free on top of
    * [[adjPartitionedOf]]'s pinned partitioning.
    */
  private def degreesOfAdj(adj: DataFrame): DataFrame =
    adj.groupBy(col("src").as("vec_id")).agg(count(lit(1)).as("degree"))

  /** Shared SQL prelude: the IVF graph as `g`, canonical edges as `e`,
    * both-direction adjacency as `adj`, undirected degrees as `deg`.
    */
  private val edgeCtes: String =
    s"""WITH g AS (${Ann.knnGraphIvfSql}),
       |e AS MATERIALIZED (SELECT DISTINCT least(query_id, neighbor_id) AS u,
       |             greatest(query_id, neighbor_id) AS v FROM g),
       |adj AS MATERIALIZED (SELECT u AS src, v AS dst FROM e
       |        UNION ALL SELECT v AS src, u AS dst FROM e),
       |deg AS (SELECT src AS vec_id, COUNT(*) AS degree FROM adj GROUP BY 1)""".stripMargin

  // ---------------------------------------------------------------- //

  /** Degree distribution of the similarity graph — the first sanity
    * report on any corpus graph (a heavy right tail = hub documents =
    * near-dup families the dedup pass should have caught).
    *
    * Scale shape: one vertex-sized aggregation then a |distinct degrees|
    * aggregation — nothing corpus-sized after the graph itself.
    */
  def degreeHist(spark: SparkSession, dir: String): DataFrame =
    degreeHistOf(edges(spark, dir))

  def degreeHistOf(e: DataFrame): DataFrame =
    degreesOf(e)
      .groupBy(col("degree")).agg(count(lit(1)).as("n_vertices"))
      .orderBy(col("degree"))

  val degreeHistSql: String =
    s"""$edgeCtes
       |SELECT degree, COUNT(*) AS n_vertices
       |FROM deg GROUP BY 1 ORDER BY degree""".stripMargin

  /** Local clustering coefficient per vertex: c(v) = 2·T(v) / (d·(d−1))
    * over vertices with degree ≥ 2. T(v) comes from the same rank-ordered
    * wedge join as [[Ann.trianglesOf]] (each triangle counted once from
    * its lowest-id vertex, then exploded to all three corners); the
    * coefficient is ONE IEEE division of two exact BIGINTs, so it is
    * bit-identical across engines.
    */
  def clusterCoeff(spark: SparkSession, dir: String): DataFrame =
    clusterCoeffOf(edges(spark, dir))

  def clusterCoeffOf(edgeSrc: DataFrame): DataFrame = {
    val e = edgeSrc.cutLineage()
    val tri = Ann.trianglesOf(e.select(col("u").as("query_id"), col("v").as("neighbor_id")))
      .withColumnRenamed("n_triangles", "n_tri")
    degreesOf(e).filter(col("degree") >= 2)
      .join(tri, Seq("vec_id"), "left")
      .select(col("vec_id"), col("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"))
      .withColumn("coeff",
        (lit(2L) * col("n_triangles")).cast("double")
          / (col("degree") * (col("degree") - 1)).cast("double"))
  }

  val clusterCoeffSql: String =
    s"""$edgeCtes,
       |w AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |      FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v),
       |tri AS (SELECT vec_id, COUNT(*) AS n_tri
       |        FROM (SELECT unnest([a, b, c]) AS vec_id
       |              FROM w JOIN e ON w.b = e.u AND w.c = e.v) t
       |        GROUP BY 1)
       |SELECT deg.vec_id, degree,
       |  COALESCE(n_tri, CAST(0 AS BIGINT)) AS n_triangles,
       |  CAST(2 * COALESCE(n_tri, CAST(0 AS BIGINT)) AS DOUBLE)
       |    / CAST(degree * (degree - 1) AS DOUBLE) AS coeff
       |FROM deg LEFT JOIN tri ON deg.vec_id = tri.vec_id
       |WHERE degree >= 2""".stripMargin

  /** Neighborhood Jaccard similarity per EDGE — the classic
    * link-prediction / dup-confidence measure: how much of u's and v's
    * neighborhoods overlap. Reported as an exact ppm integer
    * (floor(1e6·|∩| / |∪| + 0.5)) so no float enters the comparison
    * surface; |∪| = d(u) + d(v) − |∩| (u,v are adjacent and the graph has
    * no self-loops, so neither endpoint is in the intersection).
    *
    * Scale shape: the common-neighbor join is the wedge join keyed on the
    * shared endpoint — |E|·avg-degree intermediate, never all-pairs.
    */
  def jaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardOf(edges(spark, dir))

  def jaccardOf(edgeSrc: DataFrame): DataFrame = {
    val (e, _, eBytes) = graft.Checkpoints.cutCounted(edgeSrc)
    // partitioned adjacency (round 18): both common-neighbor joins key on
    // adj's src (renamed u / v), so the adjacency never re-shuffles, and
    // the degree count runs on the pinned partitioning exchange-free
    val adj = adjPartitionedOf(e, eBytes)
    val deg = degreesOfAdj(adj)
    val common = e
      .join(adj.select(col("src").as("u"), col("dst").as("wa")), Seq("u"))
      .join(adj.select(col("src").as("v"), col("dst").as("wb")), Seq("v"))
      .filter(col("wa") === col("wb"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("cn"))
    e.join(common, Seq("u", "v"), "left")
      .join(deg.select(col("vec_id").as("u"), col("degree").as("du")), Seq("u"))
      .join(deg.select(col("vec_id").as("v"), col("degree").as("dv")), Seq("v"))
      .select(col("u"), col("v"),
        coalesce(col("cn"), lit(0L)).as("common_neighbors"),
        (col("du") + col("dv") - coalesce(col("cn"), lit(0L))).as("union_size"))
      .withColumn("jacc_ppm",
        floor(lit(1000000L) * col("common_neighbors")
          / col("union_size") + lit(0.5)).cast("long"))
  }

  val jaccardSql: String =
    s"""$edgeCtes,
       |cn AS (SELECT e.u, e.v, COUNT(*) AS cn
       |       FROM e JOIN adj a ON a.src = e.u JOIN adj b ON b.src = e.v
       |       WHERE a.dst = b.dst GROUP BY 1, 2)
       |SELECT e.u, e.v,
       |  COALESCE(cn, CAST(0 AS BIGINT)) AS common_neighbors,
       |  du.degree + dv.degree - COALESCE(cn, CAST(0 AS BIGINT)) AS union_size,
       |  CAST(floor(1000000 * COALESCE(cn, CAST(0 AS BIGINT))
       |    / (du.degree + dv.degree - COALESCE(cn, CAST(0 AS BIGINT))) + 0.5) AS BIGINT) AS jacc_ppm
       |FROM e LEFT JOIN cn ON e.u = cn.u AND e.v = cn.v
       | JOIN deg du ON du.vec_id = e.u
       | JOIN deg dv ON dv.vec_id = e.v""".stripMargin

  /** k-core of the similarity graph by synchronized peeling: up to
    * `rounds` rounds of "drop every vertex with current degree < k,
    * restrict edges to survivors". The k-core is where the DENSE near-dup
    * communities live (tree-ish fringe vertices peel away).
    *
    * `rounds` is a cap: the loop stops after the first round whose cut
    * measures as many rows as the adjacency it peeled. That stop is exact.
    * A round only filters the previous adjacency (two semi joins) and then
    * swaps the endpoints of every row; the adjacency is symmetric, so the
    * swap maps it to itself, and each round's rows are a sub-multiset of
    * the last round's. An equal count therefore means an identical
    * multiset, every later round gets the same input and returns it
    * unchanged, and the result equals the fixed-`rounds` result that
    * [[kcoreSql]] unrolls. The counts come from the cuts' own
    * materialization jobs, so the stop test launches no job.
    *
    * Scale shape: each round is one vertex-sized aggregation plus two
    * semi joins on an edge set that only SHRINKS; one
    * [[graft.Checkpoints.cutCounted]] per round keeps the plan linear in
    * rounds and the adjacency pinned on `src`.
    */
  def kcoreOf(edges: DataFrame, k: Int, rounds: Int): DataFrame =
    kcoreWithRounds(edges, k, rounds)._1

  /** [[kcoreOf]] and the number of peel rounds it ran. */
  private[graft] def kcoreWithRounds(
      edges: DataFrame, k: Int, rounds: Int): (DataFrame, Int) = {
    // Round 18 (VERDICT r17 item 1): peel over the SYMMETRIC adjacency,
    // partitioned once on `src` and re-pinned each round, instead of the
    // canonical (u, v) edge list. Value-identical: adj = e ∪ swap(e), so
    // restricting adj to live×live IS the restricted e in both directions,
    // and a src-keyed count over adj IS the undirected degree. The win is
    // exchange shape (guide §2.4): the survivor aggregate and the first
    // semi join run on adj's pinned partitioning with NO exchange; only
    // the dst-side semi join still moves the (shrinking) edge set once per
    // round. The terminal select SWAPS the endpoint roles — a pure rename
    // of a symmetric set — so the dst-partitioned join output is already
    // src-partitioned for the next round, and the final degree aggregate
    // is exchange-free too. Before: 5 exchanges/round (2 edge-sized);
    // after: 2/round (1 edge-sized) — ProfJobs A/B in OPTIMIZATION_r18.md.
    val (e, eRows, eBytes) = graft.Checkpoints.cutCounted(edges)
    var adj = adjPartitionedOf(e, eBytes)
    // the adjacency explodes every edge into exactly two rows
    var adjRows = 2 * eRows
    var round = 0
    var peeled = true
    while (peeled && round < rounds) {
      val live = adj.groupBy(col("src")).agg(count(lit(1)).as("d"))
        .filter(col("d") >= k)
        .select(col("src"))
      // hint("merge"), deliberately: `live` IS an aggregate of `adj`, so
      // both sides are provably co-partitioned on the pinned key and the
      // merge join plans with ZERO exchanges — but the planner costs a
      // broadcast of `live` cheaper because it cannot see the
      // co-partitioning (measured round 18: accurate checkpoint stats
      // flipped these to BHJ, +16 broadcast jobs, kcore wall 4.3 → 6.2 s).
      // At corpus scale the vertex-sized `live` broadcast would also press
      // the 8 GB relation cap; the co-partitioned merge moves nothing.
      val (next, nextRows, _) = graft.Checkpoints.cutCounted(
        adj.join(live.hint("merge"), Seq("src"), "left_semi")
          .join(live.withColumnRenamed("src", "dst").hint("merge"),
            Seq("dst"), "left_semi")
          .select(col("dst").as("src"), col("src").as("dst")))
      peeled = nextRows < adjRows
      adj = next
      adjRows = nextRows
      round += 1
    }
    (degreesOfAdj(adj).withColumnRenamed("degree", "core_degree")
      .orderBy(col("vec_id")), round)
  }

  def kcore(spark: SparkSession, dir: String): DataFrame =
    kcoreOf(edges(spark, dir), k = 3, rounds = 8)

  val kcoreSql: String = {
    val peels = (1 to 8).map { i =>
      s"""l$i AS MATERIALIZED (SELECT id FROM (SELECT unnest([u, v]) AS id FROM e${i - 1}) t
         |       GROUP BY 1 HAVING COUNT(*) >= 3),
         |e$i AS MATERIALIZED (SELECT u, v FROM e${i - 1}
         |        WHERE u IN (SELECT id FROM l$i) AND v IN (SELECT id FROM l$i))""".stripMargin
    }.mkString(",\n")
    s"""$edgeCtes,
       |e0 AS (SELECT u, v FROM e),
       |$peels
       |SELECT id AS vec_id, COUNT(*) AS core_degree
       |FROM (SELECT unnest([u, v]) AS id FROM e8) t
       |GROUP BY 1 ORDER BY vec_id""".stripMargin
  }

  /** Eigenvector-style centrality by 3 UNNORMALIZED power-iteration steps
    * over the similarity graph: c₀ = 1, cᵢ₊₁(v) = Σ_{u∈N(v)} cᵢ(u). On an
    * undirected graph this is truncated eigenvector/Katz centrality (and
    * what HITS degenerates to); three integer steps already separate hub
    * documents from fringe ones. No normalization ⇒ every score is an
    * EXACT integer (max degree ~2k, so c₃ ≤ (2k)³ ≈ 10³ — far from
    * overflow), which is what makes this hash-checkable where normalized
    * HITS (per-step float division) would not be. All three step scores
    * are emitted so the convergence trajectory is inspectable.
    *
    * Scale shape: each step is ONE dst-keyed aggregation of the edge list
    * joined to a vertex-sized score table (the PageRank loop shape,
    * Dedup.pagerank) — 3 bounded rounds, lazy-chained (each step feeds
    * exactly one consumer; the CC-loop measurement showed checkpointing
    * only pays when a round fans out).
    */
  def centrality(spark: SparkSession, dir: String): DataFrame =
    centralityOf(edges(spark, dir))

  def centralityOf(edgeSrc: DataFrame): DataFrame = {
    // partitioned adjacency (round 18): the two power-iteration joins key
    // on src and run edge-side exchange-free; c1 counts by src instead of
    // dst — identical on a symmetric adjacency — so the degree step is
    // exchange-free too. Only the per-step dst-keyed sums still shuffle
    // (map-side partials bound them to vertex-sized).
    val (e, _, eBytes) = graft.Checkpoints.cutCounted(edgeSrc)
    val adj = adjPartitionedOf(e, eBytes)
    // c1 = degree
    val c1 = adj.groupBy(col("src").as("vec_id")).agg(count(lit(1)).as("c1"))
    val c2 = adj.join(c1.withColumnRenamed("vec_id", "src"), Seq("src"))
      .groupBy(col("dst").as("vec_id")).agg(sum(col("c1")).as("c2"))
    val c3 = adj.join(c2.withColumnRenamed("vec_id", "src"), Seq("src"))
      .groupBy(col("dst").as("vec_id")).agg(sum(col("c2")).as("c3"))
    c1.join(c2, Seq("vec_id")).join(c3, Seq("vec_id"))
      .orderBy(col("c3").desc, col("vec_id"))
      .limit(100)
  }

  val centralitySql: String =
    s"""$edgeCtes,
       |c1 AS (SELECT dst AS vec_id, COUNT(*) AS c1 FROM adj GROUP BY 1),
       |c2 AS (SELECT a.dst AS vec_id, CAST(SUM(c1.c1) AS BIGINT) AS c2
       |       FROM adj a JOIN c1 ON a.src = c1.vec_id GROUP BY 1),
       |c3 AS (SELECT a.dst AS vec_id, CAST(SUM(c2.c2) AS BIGINT) AS c3
       |       FROM adj a JOIN c2 ON a.src = c2.vec_id GROUP BY 1)
       |SELECT c1.vec_id, c1.c1, c2.c2, c3.c3
       |FROM c1 JOIN c2 ON c1.vec_id = c2.vec_id JOIN c3 ON c1.vec_id = c3.vec_id
       |ORDER BY c3.c3 DESC, c1.vec_id LIMIT 100""".stripMargin

  /** Community detection by synchronized label propagation (Raghavan et
    * al. 2007) over the similarity graph: labels start as vertex ids;
    * each of 3 fixed rounds every vertex adopts the most frequent label
    * among its neighbors, ties broken to the SMALLEST label — the
    * deterministic variant (asynchronous/random-tie LPA is engine state
    * and would never hash-match). 3 rounds suffice for k-NN-graph-sized
    * diameters of near-dup communities; both engines run the same fixed
    * count (the kcore convention). Output: each vertex's community plus
    * the community size.
    *
    * Scale shape: per round ONE edge-keyed join of the (vertex, label)
    * table onto the adjacency list and one (dst, label)-keyed count —
    * the PageRank loop shape, bounded rounds, checkpoint per round
    * because each round's labels feed both the join and the next round.
    * The argmax is a struct-max (cnt, −label), not a window: map-side
    * combinable, no per-vertex sort.
    */
  def labelProp(spark: SparkSession, dir: String): DataFrame =
    labelPropOf(edges(spark, dir))

  /** The 3-round synchronized label fixpoint shared by [[labelPropOf]]
    * and [[modularityOf]]: (vec_id, label) after the final round.
    */
  private def labelsOf(adj: DataFrame): DataFrame = {
    var lab = adj.select(col("dst").as("vec_id")).distinct()
      .withColumn("label", col("vec_id"))
    // ONE cut after the final round (r17): inside the loop each round's
    // labels feed exactly one consumer (the next round's join), so the
    // lazy 3-round chain over the checkpointed adj recomputes nothing —
    // the per-round cuts were 2 extra materialization jobs per query.
    // The FINAL labels do fan out (labelProp: sizes + join; modularity:
    // ein twice + dsum), so the single cut stays, preserving the
    // one-materialization contract every caller assumes.
    for (_ <- 1 to 3) {
      lab = adj.join(lab.withColumnRenamed("vec_id", "src"), Seq("src"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("dst").as("vec_id"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("vec_id"), (-col("m.nl")).as("label"))
    }
    lab.cutLineage()
  }

  def labelPropOf(edgeSrc: DataFrame): DataFrame = {
    // partitioned adjacency (round 18): each label round joins adj on src,
    // so the pinned partitioning makes the edge side of all 3 rounds
    // exchange-free — only the vertex-sized label table moves per round
    val (e, _, eBytes) = graft.Checkpoints.cutCounted(edgeSrc)
    val adj = adjPartitionedOf(e, eBytes)
    val lab = labelsOf(adj)
    val sizes = lab.groupBy(col("label")).agg(count(lit(1)).as("community_size"))
    lab.join(sizes, Seq("label"))
      .select(col("vec_id"), col("label").as("community"), col("community_size"))
      .orderBy(col("vec_id"))
  }

  /** SQL mirror of [[labelsOf]]: CTEs `l0`..`l3`, final labels in `l3`. */
  private val labelCtes: String = {
    val rounds = (1 to 3).map { i =>
      s"""m$i AS (SELECT a.dst, l.label, COUNT(*) AS cnt
         |      FROM adj a JOIN l${i - 1} l ON a.src = l.vec_id GROUP BY 1, 2),
         |l$i AS MATERIALIZED (SELECT dst AS vec_id, label FROM (
         |        SELECT dst, label, ROW_NUMBER() OVER (PARTITION BY dst
         |          ORDER BY cnt DESC, label) AS rn FROM m$i) t
         |      WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""l0 AS (SELECT DISTINCT dst AS vec_id, dst AS label FROM adj),
       |$rounds""".stripMargin
  }

  val labelPropSql: String =
    s"""$edgeCtes,
       |$labelCtes,
       |s AS (SELECT label, COUNT(*) AS community_size FROM l3 GROUP BY 1)
       |SELECT l3.vec_id, l3.label AS community, s.community_size
       |FROM l3 JOIN s USING (label) ORDER BY vec_id""".stripMargin

  /** Newman modularity of the label-propagation communities — the
    * standard "are these communities real structure?" score
    * Q = Σ_c [e_c/m − (d_c/2m)²], reported per community in exact ppm so
    * a curation pipeline can rank communities by cohesion before acting
    * on them (e.g. collapsing a near-dup family). Each community row
    * carries its vertex count, internal edge count e_c, degree mass d_c,
    * and its signed contribution q_ppm.
    *
    * Hash-exactness: both Σ_c terms are integer-divided SEPARATELY
    * (4·m·e_c·10⁶ div 4m² and d_c²·10⁶ div 4m²) so every `div` has a
    * non-negative numerator — floor and truncate agree, sidestepping the
    * engines' integer-division sign conventions — then subtracted.
    * decimal(38,0)/HUGEINT widening: at web scale m ~ 10¹² edges puts
    * 4·m·e_c·10⁶ near 10³⁰, past 2⁶³ but inside 38 digits.
    *
    * Scale shape: the label fixpoint is [[labelPropOf]]'s loop; on top of
    * it, ONE edge-sized double label-attach join, ONE vertex-sized
    * degree-attach, and community-sized aggregates. The total edge count
    * rides in as a broadcast 1-row aggregate.
    */
  def modularity(spark: SparkSession, dir: String): DataFrame =
    modularityOf(edges(spark, dir))

  def modularityOf(edgeSrc: DataFrame): DataFrame = {
    val (e, _, eBytes) = graft.Checkpoints.cutCounted(edgeSrc)
    val adj = adjPartitionedOf(e, eBytes)
    val lab = labelsOf(adj) // already lineage-cut by labelsOf
    val ein = e
      .join(lab.select(col("vec_id").as("u"), col("label").as("lu")), Seq("u"))
      .join(lab.select(col("vec_id").as("v"), col("label").as("lv")), Seq("v"))
      .filter(col("lu") === col("lv"))
      .groupBy(col("lu").as("label")).agg(count(lit(1)).as("e_in"))
    val dsum = lab.join(degreesOfAdj(adj), Seq("vec_id"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vertices"), sum(col("degree")).as("d_sum"))
    val tot = e.agg(count(lit(1)).cast("decimal(38,0)").as("m"))
    dsum.join(ein, Seq("label"), "left")
      .na.fill(0L, Seq("e_in"))
      .crossJoin(broadcast(tot))
      .select(col("label").as("community"), col("n_vertices"),
        col("e_in"), col("d_sum"),
        (expr("4 * m * cast(e_in as decimal(38,0)) * 1000000 div (4 * m * m)")
          - expr("cast(d_sum as decimal(38,0)) * d_sum * 1000000 div (4 * m * m)"))
          .as("q_ppm"))
      .orderBy(col("community"))
  }

  val modularitySql: String =
    s"""$edgeCtes,
       |$labelCtes,
       |tot AS (SELECT CAST(COUNT(*) AS HUGEINT) AS m FROM e),
       |ein AS (SELECT lu.label AS label, COUNT(*) AS e_in
       |        FROM e JOIN l3 lu ON e.u = lu.vec_id
       |               JOIN l3 lv ON e.v = lv.vec_id
       |        WHERE lu.label = lv.label GROUP BY 1),
       |ds AS (SELECT l3.label, COUNT(*) AS n_vertices,
       |              SUM(deg.degree) AS d_sum
       |       FROM l3 JOIN deg ON l3.vec_id = deg.vec_id GROUP BY 1)
       |SELECT ds.label AS community, n_vertices,
       |  CAST(COALESCE(e_in, 0) AS BIGINT) AS e_in,
       |  CAST(d_sum AS BIGINT) AS d_sum,
       |  CAST(4 * m * CAST(COALESCE(e_in, 0) AS HUGEINT) * 1000000 // (4 * m * m)
       |    - CAST(d_sum AS HUGEINT) * d_sum * 1000000 // (4 * m * m) AS BIGINT)
       |    AS q_ppm
       |FROM ds LEFT JOIN ein USING (label) CROSS JOIN tot
       |ORDER BY community""".stripMargin

  /** Multi-hop reachability from a seed set — the BFS frontier expansion
    * behind "everything within k hops of these flagged documents" (blast-
    * radius queries: contamination spread, near-dup transitive closure
    * previews). Seeds are the graph vertices with vec_id % 100 == 0 (the
    * declared modulo panel, the ann_range convention); 3 fixed rounds;
    * each vertex reports its MINIMUM hop distance; output is the bounded
    * per-hop census (count + id range per hop).
    *
    * Scale shape: the PageRank loop shape — per round ONE edge-keyed
    * join of the frontier onto the adjacency list and a vertex-keyed
    * min-aggregate (no distinct on the expansion — the min-agg dedupes
    * with map-side partial aggregation, one shuffle per round), with a
    * lineage cut per round: the reached set feeds BOTH the next join and
    * the union, so without the cut the lazy plan doubles the subtree
    * every round. Frontier rows are vertex-sized; nothing
    * corpus-payload-sized moves.
    */
  def reach(spark: SparkSession, dir: String): DataFrame =
    reachOf(edges(spark, dir))

  def reachOf(edgeSrc: DataFrame): DataFrame = {
    // partitioned adjacency (round 18): the per-round frontier join keys
    // on src, so the pinned partitioning removes the edge-set exchange
    // from every BFS round (only the vertex-sized frontier still moves)
    val (e, _, eBytes) = graft.Checkpoints.cutCounted(edgeSrc)
    val adj = adjPartitionedOf(e, eBytes)
    var r = adj.select(col("dst").as("vec_id")).distinct()
      .filter(col("vec_id") % 100 === 0)
      .withColumn("hop", lit(0L))
    for (h <- 1 to 3) {
      // no distinct() on the expansion: the min-aggregate below dedupes
      // (map-side partial agg bounds the shuffle), saving a shuffle/round
      val next = adj
        .join(r.select(col("vec_id").as("src")), Seq("src"))
        .select(col("dst").as("vec_id"))
        .withColumn("hop", lit(h.toLong))
      r = r.unionAll(next)
        .groupBy(col("vec_id")).agg(min(col("hop")).as("hop"))
        .cutLineage()
    }
    r.groupBy(col("hop"))
      .agg(count(lit(1)).as("n_vertices"),
        min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"))
      .orderBy(col("hop"))
  }

  val reachSql: String = {
    val rounds = (1 to 3).map { i =>
      s"""n$i AS (SELECT DISTINCT a.dst AS vec_id, $i AS hop
         |      FROM adj a JOIN r${i - 1} r ON a.src = r.vec_id),
         |r$i AS MATERIALIZED (SELECT vec_id, MIN(hop) AS hop FROM (
         |        SELECT * FROM r${i - 1} UNION ALL SELECT * FROM n$i) t
         |      GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""$edgeCtes,
       |r0 AS (SELECT DISTINCT dst AS vec_id, 0 AS hop FROM adj
       |       WHERE dst % 100 = 0),
       |$rounds
       |SELECT hop, COUNT(*) AS n_vertices,
       |  MIN(vec_id) AS min_id, MAX(vec_id) AS max_id
       |FROM r3 GROUP BY 1 ORDER BY hop""".stripMargin
  }

  /** Single-source(-set) WEIGHTED shortest paths over the similarity
    * graph, 4 relaxation rounds — [[reach]]'s hop-count frontier upgraded
    * to real edge costs: each kNN edge is priced 1001 − signed-squared-
    * cosine-per-mille (the [[cosineHist]] integer quantity — closer
    * neighbor = cheaper edge, w ∈ [1, 2001], ZERO float steps so every
    * distance is an exact integer both engines agree on). The per-vertex
    * result is the semantic-distance field around the seed set — the
    * quantity behind "how far is this document from the trusted core",
    * graph-curriculum ordering, and contamination blast-radius reads.
    *
    * 4 BOUNDED rounds (≤4-hop-cheapest distances), not run-to-fixpoint:
    * the frontier loop is the [[reach]] shape — per round ONE edge-keyed
    * join + min-aggregate with map-side partials, lineage cut per round
    * (the distance set feeds both the join and the union). Production
    * iterates the same round until the min-agg stops changing (the
    * Bellman–Ford fixpoint, ≤ diameter rounds); the oracle unrolls the
    * identical 4 rounds as materialized CTEs.
    */
  def sssp(spark: SparkSession, dir: String): DataFrame =
    ssspOf(spark, dir, edges(spark, dir))

  def ssspOf(spark: SparkSession, dir: String, edgeSrc: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val xint = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        "transform(cast(embedding as array<double>)," +
          " v -> cast(round(v * 1000000.0) as bigint))").as("xi"))
    // codegen'd integer dots (graft_int_dot), not aggregate(zip_with(...)):
    // the HOF fold pays ~dims interpreted boxed lambda calls per edge —
    // the IntSquaredL2 lesson (r15) applied to the edge-weight kernel.
    // Same accumulation order, exact BIGINT: values unchanged.
    val weighted = edgeSrc
      .join(xint.select(col("vec_id").as("u"), col("xi").as("xu")), Seq("u"))
      .join(xint.select(col("vec_id").as("v"), col("xi").as("xv")), Seq("v"))
      .select(col("u"), col("v"),
        graft.functions.native.intDot(col("xu"), col("xv")).as("dot"),
        graft.functions.native.intDot(col("xu"), col("xu")).as("nx"),
        graft.functions.native.intDot(col("xv"), col("xv")).as("ny"))
      .select(col("u"), col("v"), expr(
        s"""1001 - (case when dot < 0 then -1 else 1 end)
           | * cast(cast(dot as $d38) * dot * 1000
           |        div (cast(nx as $d38) * ny) as bigint)""".stripMargin)
        .cast("bigint").as("w"))
    // weighted adjacency, partitioned once on src (round 18): each
    // Bellman–Ford round joins adj on src, so the per-round edge exchange
    // disappears. Two phases like adjPartitionedOf — materialize the
    // weight kernel once (sized), then spread both directions — with the
    // same measured-bytes pin gate: below the broadcast threshold the
    // rounds broadcast adj and a pin would only add stage jobs; above it
    // the pinned layout makes the edge side exchange-free (guide §2.4/§3.1).
    val (wCut, _, wBytes) = graft.Checkpoints.cutCounted(weighted)
    val adjRaw = wCut.select(explode(array(
        struct(col("u").as("src"), col("v").as("dst"), col("w")),
        struct(col("v").as("src"), col("u").as("dst"), col("w")))).as("p"))
      .select(col("p.src").as("src"), col("p.dst").as("dst"), col("p.w").as("w"))
    val adj = adjRaw.repartition(
        graft.Checkpoints.sizedPartitions(spark, 2 * wBytes), col("src"))
      .cutLineage()
    var d = adj.select(col("dst").as("vec_id")).distinct()
      .filter(col("vec_id") % 100 === 0)
      .withColumn("dist", lit(0L))
    for (_ <- 1 to 4) {
      val next = adj
        .join(d.select(col("vec_id").as("src"), col("dist").as("dsrc")), Seq("src"))
        .select(col("dst").as("vec_id"), (col("dsrc") + col("w")).as("dist"))
      d = d.unionAll(next)
        .groupBy(col("vec_id")).agg(min(col("dist")).as("dist"))
        .cutLineage()
    }
    d.select(col("vec_id"), col("dist"))
  }

  val ssspSql: String = {
    val rounds = (1 to 4).map { i =>
      s"""d$i AS MATERIALIZED (SELECT vec_id, MIN(dist) AS dist FROM (
         |  SELECT * FROM d${i - 1}
         |  UNION ALL
         |  SELECT a.dst AS vec_id, d.dist + a.w AS dist
         |  FROM wadj a JOIN d${i - 1} d ON a.src = d.vec_id) t
         |GROUP BY 1)""".stripMargin
    }.mkString(",\n")
    s"""$edgeCtes,
       |x2 AS (
       |  SELECT vec_id, i - 1 AS dim,
       |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xi
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)),
       |norms AS (
       |  SELECT vec_id, SUM(CAST(xi AS HUGEINT) * xi) AS nsq
       |  FROM x2 GROUP BY 1),
       |dots AS (
       |  SELECT e.u, e.v, SUM(CAST(xu.xi AS HUGEINT) * xv.xi) AS dot
       |  FROM e JOIN x2 xu ON xu.vec_id = e.u
       |         JOIN x2 xv ON xv.vec_id = e.v AND xu.dim = xv.dim
       |  GROUP BY 1, 2),
       |we AS MATERIALIZED (
       |  SELECT dots.u, dots.v,
       |    CAST(1001 - (CASE WHEN dot < 0 THEN -1 ELSE 1 END)
       |      * CAST(CAST(dot AS HUGEINT) * dot * 1000
       |             // (CAST(nu.nsq AS HUGEINT) * nv.nsq) AS BIGINT)
       |      AS BIGINT) AS w
       |  FROM dots JOIN norms nu ON dots.u = nu.vec_id
       |            JOIN norms nv ON dots.v = nv.vec_id),
       |wadj AS MATERIALIZED (
       |  SELECT u AS src, v AS dst, w FROM we
       |  UNION ALL SELECT v AS src, u AS dst, w FROM we),
       |d0 AS (SELECT DISTINCT dst AS vec_id, CAST(0 AS BIGINT) AS dist
       |       FROM wadj WHERE dst % 100 = 0),
       |$rounds
       |SELECT vec_id, CAST(dist AS BIGINT) AS dist FROM d4""".stripMargin
  }

  /** Similarity histogram of the kNN edges — the "are my neighbors
    * actually close?" sanity report a curation pipeline reads before
    * trusting graph-derived decisions (semantic dedup thresholds,
    * community cuts). Entirely engine-exact: instead of hashing IEEE
    * cosines (whose last ulp can differ between engines at bucket
    * boundaries), each edge buckets by the SIGNED SQUARED cosine in
    * exact integer per-mille — sign(dot)·(dot²·1000 div (‖x‖²·‖y‖²))
    * over the round(v·10⁶) integer components, a monotone transform of
    * cosine with zero float steps.
    *
    * Scale shape: two edge-sized id joins attach the integer component
    * arrays; dot and norms are row-local higher-order-function folds
    * (no explode — the 64-dim arrays never become rows on the Spark
    * side); the histogram is a ≤ 2001-group aggregate.
    */
  def cosineHist(spark: SparkSession, dir: String): DataFrame =
    cosineHistOf(spark, dir, edges(spark, dir))

  def cosineHistOf(spark: SparkSession, dir: String,
      edgeSrc: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    val xint = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), expr(
        "transform(cast(embedding as array<double>)," +
          " v -> cast(round(v * 1000000.0) as bigint))").as("xi"))
    // codegen'd integer dots — see ssspOf; values bit-identical to the
    // HOF fold (same order, exact BIGINT)
    edgeSrc
      .join(xint.select(col("vec_id").as("u"), col("xi").as("xu")), Seq("u"))
      .join(xint.select(col("vec_id").as("v"), col("xi").as("xv")), Seq("v"))
      .select(
        graft.functions.native.intDot(col("xu"), col("xv")).as("dot"),
        graft.functions.native.intDot(col("xu"), col("xu")).as("nx"),
        graft.functions.native.intDot(col("xv"), col("xv")).as("ny"))
      .select(expr(
        s"""(case when dot < 0 then -1 else 1 end)
           | * cast(cast(dot as $d38) * dot * 1000
           |        div (cast(nx as $d38) * ny) as bigint)""".stripMargin)
        .as("cos2_permille"))
      .groupBy(col("cos2_permille"))
      .agg(count(lit(1)).as("n_edges"))
      .orderBy(col("cos2_permille"))
  }

  val cosineHistSql: String =
    s"""$edgeCtes,
       |x2 AS (
       |  SELECT vec_id, i - 1 AS dim,
       |    CAST(ROUND(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xi
       |  FROM embeddings, unnest(generate_series(1, len(embedding))) t(i)),
       |norms AS (
       |  SELECT vec_id, SUM(CAST(xi AS HUGEINT) * xi) AS nsq
       |  FROM x2 GROUP BY 1),
       |dots AS (
       |  SELECT e.u, e.v, SUM(CAST(xu.xi AS HUGEINT) * xv.xi) AS dot
       |  FROM e JOIN x2 xu ON xu.vec_id = e.u
       |         JOIN x2 xv ON xv.vec_id = e.v AND xu.dim = xv.dim
       |  GROUP BY 1, 2),
       |b AS (
       |  SELECT (CASE WHEN dot < 0 THEN -1 ELSE 1 END)
       |    * CAST(CAST(dot AS HUGEINT) * dot * 1000
       |           // (CAST(nu.nsq AS HUGEINT) * nv.nsq) AS BIGINT)
       |    AS cos2_permille
       |  FROM dots JOIN norms nu ON dots.u = nu.vec_id
       |            JOIN norms nv ON dots.v = nv.vec_id)
       |SELECT cos2_permille, COUNT(*) AS n_edges
       |FROM b GROUP BY 1 ORDER BY cos2_permille""".stripMargin

  /** Degree assortativity — Newman's r (Pearson correlation of the
    * endpoint degrees over every directed edge): do hubs link to hubs
    * (r > 0, social-graph shape) or to leaves (r < 0, kNN/star shape)?
    * The one-number structure read that tells a curation pipeline
    * whether its similarity graph has hub-and-spoke near-dup families.
    * All five moments are exact decimal(38,0) sums of integer degrees;
    * r divides by the two sqrts sequentially (the autocorr convention —
    * denx·deny would overflow 38 digits).
    *
    * Scale shape: one vertex-sized degree aggregate, two edge-keyed
    * joins to attach endpoint degrees (edge-sized shuffles), one
    * 5-moment aggregate; output 1 row.
    */
  def assortativity(spark: SparkSession, dir: String): DataFrame =
    assortativityOf(edges(spark, dir))

  def assortativityOf(edgeSrc: DataFrame): DataFrame = {
    val d38 = "decimal(38,0)"
    // partitioned adjacency (round 18): degrees and the src-side degree
    // attach run exchange-free on the pinned partitioning; only the
    // dst-side attach still shuffles the edge set (second key — inherent)
    val (e, _, eBytes) = graft.Checkpoints.cutCounted(edgeSrc)
    val adj = adjPartitionedOf(e, eBytes)
    val deg = degreesOfAdj(adj)
    val pairs = adj
      .join(deg.select(col("vec_id").as("src"), col("degree").as("dx")),
        Seq("src"))
      .join(deg.select(col("vec_id").as("dst"), col("degree").as("dy")),
        Seq("dst"))
    pairs.agg(
        count(lit(1)).cast(d38).as("n"),
        sum(col("dx").cast(d38)).as("sx"),
        sum(col("dy").cast(d38)).as("sy"),
        sum(expr(s"cast(dx as $d38) * dy")).as("sxy"),
        sum(expr(s"cast(dx as $d38) * dx")).as("sxx"),
        sum(expr(s"cast(dy as $d38) * dy")).as("syy"))
      .select(col("n").cast("long").as("n_directed_edges"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("num"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("denx"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("deny"))
      .select(col("n_directed_edges"),
        (col("num").cast("double") / sqrt(col("denx").cast("double"))
          / sqrt(col("deny").cast("double"))).as("assortativity"))
  }

  val assortativitySql: String =
    s"""$edgeCtes,
       |pairs AS (
       |  SELECT dx.degree AS dx, dy.degree AS dy
       |  FROM adj JOIN deg dx ON adj.src = dx.vec_id
       |           JOIN deg dy ON adj.dst = dy.vec_id),
       |m AS (
       |  SELECT CAST(COUNT(*) AS HUGEINT) AS n,
       |    SUM(CAST(dx AS HUGEINT)) AS sx, SUM(CAST(dy AS HUGEINT)) AS sy,
       |    SUM(CAST(dx AS HUGEINT) * dy) AS sxy,
       |    SUM(CAST(dx AS HUGEINT) * dx) AS sxx,
       |    SUM(CAST(dy AS HUGEINT) * dy) AS syy
       |  FROM pairs)
       |SELECT CAST(n AS BIGINT) AS n_directed_edges,
       |  CAST(n * sxy - sx * sy AS DOUBLE)
       |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
       |    / sqrt(CAST(n * syy - sy * sy AS DOUBLE)) AS assortativity
       |FROM m""".stripMargin

  /** Resource-allocation link prediction: the top 50 NON-edges most
    * likely to be real similarity links, scored by the RA index
    * Σ_w 1/deg(w) over common neighbors w — the strongest of the
    * classic local link predictors (Zhou–Lü–Zhang 2009), and unlike
    * Adamic–Adar's 1/ln(deg) it needs NO logarithm: per-wedge-center
    * 1e6 div deg(w) is exact integer arithmetic, so the whole score
    * hash-checks (the graph-family discipline — integer counts or a
    * terminal division, never libm).
    *
    * In a curation pipeline this is the "holes in the near-dup graph"
    * audit: a high-RA non-edge is a pair the kNN build MISSED (k too
    * small, or IVF routing split a tight cluster across cells).
    *
    * Scale shape: wedges are bounded by Σ_w deg(w)² ≤ |V|·(2k)² (the
    * clusterCoeff argument); the candidate set joins anti against the
    * edge set on (u,v); the global top-50 is TakeOrderedAndProject
    * (distributed heap per partition, never a single-partition window)
    * with a full deterministic ordering on exact integers.
    */
  def raLinkpred(spark: SparkSession, dir: String): DataFrame =
    raLinkpredOf(edges(spark, dir))

  def raLinkpredOf(edgeSrc: DataFrame): DataFrame = {
    val (e, _, eBytes) = graft.Checkpoints.cutCounted(edgeSrc)
    // partitioned adjacency (round 18): the wedge self-join and the
    // degree attach all key on adj's src, so with the pinned partitioning
    // the whole wedge build plans with ZERO exchanges below the candidate
    // aggregate (the anti-join/groupBy on (u, v) is the one shuffle left,
    // and it is the output-sized one the algorithm requires)
    val adj = adjPartitionedOf(e, eBytes)
    val deg = adj.groupBy(col("src")).agg(count(lit(1)).as("degree"))
    val wedges = adj.select(col("src").as("w"), col("dst").as("u"))
      .join(adj.select(col("src").as("w"), col("dst").as("v")), Seq("w"))
      .filter(col("u") < col("v"))
      .join(deg.select(col("src").as("w"), col("degree")), Seq("w"))
    wedges
      .join(e, Seq("u", "v"), "left_anti")
      .groupBy(col("u"), col("v"))
      .agg(count(lit(1)).cast("bigint").as("common_neighbors"),
        sum(expr("1000000 div degree")).cast("bigint").as("ra_ppm"))
      .orderBy(col("ra_ppm").desc, col("common_neighbors").desc,
        col("u"), col("v"))
      .limit(50)
  }

  val raLinkpredSql: String =
    s"""$edgeCtes,
       |wedges AS (
       |  SELECT a.dst AS u, b.dst AS v, deg.degree
       |  FROM adj a JOIN adj b ON a.src = b.src AND a.dst < b.dst
       |  JOIN deg ON deg.vec_id = a.src),
       |cand AS (
       |  SELECT w.u, w.v,
       |    CAST(COUNT(*) AS BIGINT) AS common_neighbors,
       |    CAST(SUM(1000000 // degree) AS BIGINT) AS ra_ppm
       |  FROM wedges w ANTI JOIN e ON w.u = e.u AND w.v = e.v
       |  GROUP BY 1, 2)
       |SELECT u, v, common_neighbors, ra_ppm FROM cand
       |ORDER BY ra_ppm DESC, common_neighbors DESC, u, v
       |LIMIT 50""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_ra_linkpred" -> (raLinkpred _),
    "emb_cosine_hist" -> (cosineHist _),
    "graph_assortativity" -> (assortativity _),
    "graph_reach" -> (reach _),
    "graph_sssp" -> (sssp _),
    "graph_modularity" -> (modularity _),
    "graph_label_prop" -> (labelProp _),
    "graph_centrality" -> (centrality _),
    "graph_degree_hist" -> (degreeHist _),
    "graph_cluster_coeff" -> (clusterCoeff _),
    "graph_jaccard" -> (jaccard _),
    "graph_kcore" -> (kcore _))

  val oracles: Map[String, String] = Map(
    "graph_ra_linkpred" -> raLinkpredSql,
    "emb_cosine_hist" -> cosineHistSql,
    "graph_assortativity" -> assortativitySql,
    "graph_reach" -> reachSql,
    "graph_sssp" -> ssspSql,
    "graph_modularity" -> modularitySql,
    "graph_label_prop" -> labelPropSql,
    "graph_centrality" -> centralitySql,
    "graph_degree_hist" -> degreeHistSql,
    "graph_cluster_coeff" -> clusterCoeffSql,
    "graph_jaccard" -> jaccardSql,
    "graph_kcore" -> kcoreSql)
}
