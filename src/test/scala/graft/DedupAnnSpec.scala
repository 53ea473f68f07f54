package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Measured-quality checks for the dedup / ANN / text families: the
  * approximate operators are held against their exact counterparts so
  * "approximate" is a measured recall, not an unfalsifiable claim.
  */
class DedupAnnSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = GraftSession.local(4)

  override def afterAll(): Unit = spark.stop()

  test("emb_semdedup: every flagged dup has a kept lower-id neighbor at cos >= 0.4 in its cluster") {
    import spark.implicits._
    val out = similarity.Ann.semDedup(spark, sf)
      .select($"vec_id", $"cluster", $"is_semdup").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue, r.getBoolean(2)))
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect().toMap
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val xa = a.map(v => math.round(v * 1e6)); val xb = b.map(v => math.round(v * 1e6))
      val dot = xa.zip(xb).map { case (p, q) => p * q }.sum.toDouble
      dot / (math.sqrt(xa.map(v => v * v).sum.toDouble) * math.sqrt(xb.map(v => v * v).sum.toDouble))
    }
    val byCluster = out.groupBy(_._2)
    val dups = out.filter(_._3)
    assert(out.nonEmpty && dups.length < out.length, "semdedup must keep most vectors")
    dups.foreach { case (id, cl, _) =>
      val hasWitness = byCluster(cl).exists { case (o, _, _) =>
        o < id && cos(emb(o), emb(id)) >= 0.4
      }
      assert(hasWitness, s"vec $id flagged without a lower-id cos>=0.4 witness in cluster $cl")
    }
    // and no false negative within a cluster: a kept vector must have NO
    // kept lower-id neighbor at cos >= 0.4 ... unless that neighbor was
    // itself only reachable via a dropped vector — the pair cut is
    // pairwise, so the exact property is: kept vec has no lower-id
    // IN-CLUSTER vec (kept or not) at cos >= 0.4
    out.filter(!_._3).foreach { case (id, cl, _) =>
      val wrongly = byCluster(cl).exists { case (o, _, _) => o < id && cos(emb(o), emb(id)) >= 0.4 }
      assert(!wrongly, s"vec $id should have been flagged (cluster $cl)")
    }
  }

  test("graph_pagerank: floor holds, dangling vertices sit exactly on it, hubs rise above") {
    import org.apache.spark.sql.functions._
    val out = dedup.Dedup.pagerank(spark, sf)
    assert(out.filter(col("pagerank") < 150000L).count() == 0)
    assert(out.filter(col("deg") === 0 && col("pagerank") =!= 150000L).count() == 0)
    assert(out.filter(col("deg") > 0 && col("pagerank") > 150000L).count() > 0,
      "no connected vertex accumulated rank — edge set empty?")
  }

  test("emb_pq: ADC ranking holds a measured recall@3 floor vs exact integer L2") {
    import spark.implicits._
    val got = similarity.Ann.pq(spark, sf)
      .select($"query_id".cast("long"), $"neighbor_id".cast("long")).as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.map(x => math.round(x * 1e6)) }.toMap
    def l2(a: Seq[Long], b: Seq[Long]): Long = a.zip(b).map { case (p, q) => (p - q) * (p - q) }.sum
    val queries = emb.keys.filter(_ < 20).toSeq
    val hits = queries.map { q =>
      val exact = emb.keys.filter(_ != q).toSeq
        .sortBy(n => (l2(emb(q), emb(n)), n)).take(3).toSet
      (exact intersect got.getOrElse(q, Set.empty)).size
    }.sum
    val recall = hits.toDouble / (queries.size * 3)
    info(f"emb_pq recall@3 vs exact integer L2: $recall%.3f")
    assert(recall >= 0.4, f"PQ ADC recall@3 $recall%.3f below floor 0.4")
  }

  test("appendCells: O(batch) incremental routing matches the frozen tree; recall floor holds") {
    import spark.implicits._
    import java.nio.file.Files
    // snapshot A = vec_id < 400; batch B = the remaining 100 vectors.
    // Build the artifact on A, append B through the FROZEN quantizer,
    // and the appended artifact must serve the full corpus at the same
    // recall floor the rebuild route is held to.
    val tmp = Files.createTempDirectory("ivf_append").toString
    val dirA = tmp + "/snapA"
    new java.io.File(dirA).mkdirs()
    val all = Tables.embeddings(spark, sf)
    all.filter($"vec_id" < 400).write.parquet(dirA + "/embeddings.parquet")
    val uri = tmp + "/cells"
    similarity.Ann.materializedCells(spark, dirA, 3, Some(uri))
    val before = spark.read.parquet(uri).count()
    assert(before == 400L * 3, s"snapshot artifact rows: $before")
    val batchB = all.filter($"vec_id" >= 400).select($"vec_id", $"embedding")
    val drifted = similarity.Ann.appendCells(spark, batchB, uri)
    val after = spark.read.parquet(uri).count()
    assert(after - before == 100L * 3,
      s"append must add exactly batch-size*maxRn rows, got ${after - before}")
    assert(!drifted, "100 appended vectors must not trip the 2x-targetCell gate")
    // deterministic routing: appending the same batch against the same
    // frozen tree assigns each vector exactly the cells beamDescend gives
    // it when routed standalone (same quantizer, same tie-break)
    val appendedRows = spark.read.parquet(uri)
      .filter($"vec_id" >= 400).select($"vec_id", $"cell", $"rn")
      .as[(Long, Long, Int)].collect().toSet
    val stats = spark.read.parquet(uri + "_quant")
    val ie = batchB.select($"vec_id",
      expr("transform(cast(embedding as array<double>), v -> cast(round(v * 1000000.0) as bigint))").as("ie"))
    val direct = similarity.Ann.beamDescend(ie,
        stats.select($"cell", $"dim", $"s", $"c"),
        stats.select($"levels").head.getInt(0), 3)
      .select($"vec_id", $"cell", $"rn").as[(Long, Long, Int)].collect().toSet
    assert(appendedRows == direct, "append-path routing must be deterministic")
    // the appended artifact serves the full corpus: same recall floor as
    // the ann_filtered_ivf gate below
    val exact = similarity.Ann.filteredTopk(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val routed = similarity.Ann.filteredTopkIvfOver(spark, sf,
        spark.read.parquet(uri), 3, 2)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val recall = exact.count(routed.contains).toDouble / exact.size
    info(f"appended-cells filtered recall@5: $recall%.3f")
    println(f"[recall] ann_filtered over appended cells recall@5 = $recall%.3f")
    assert(recall >= 0.4, f"appended-artifact recall@5 $recall%.3f below floor 0.4")
  }

  test("appendCells is idempotent: re-appending an already-routed batch adds zero rows") {
    import spark.implicits._
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("ivf_idem").toString
    val dirA = tmp + "/snapA"
    new java.io.File(dirA).mkdirs()
    val all = Tables.embeddings(spark, sf)
    all.filter($"vec_id" < 400).write.parquet(dirA + "/embeddings.parquet")
    val uri = tmp + "/cells"
    similarity.Ann.writeCellsArtifact(spark, dirA, 3, uri)
    val batchB = all.filter($"vec_id" >= 400).select($"vec_id", $"embedding")
    similarity.Ann.appendCells(spark, batchB, uri)
    val afterFirst = spark.read.parquet(uri).count()
    // the retry scenario: the append's parquet commit succeeded but the
    // caller never recorded it and re-sends the same batch
    similarity.Ann.appendCells(spark, batchB, uri)
    val afterRetry = spark.read.parquet(uri).count()
    assert(afterRetry == afterFirst,
      s"retry duplicated rows: $afterFirst -> $afterRetry")
    // partial overlap: a batch mixing routed and new vectors appends only
    // the new ones (half-committed upstream batches re-sent in full)
    val mixed = all.filter($"vec_id" >= 300).select($"vec_id", $"embedding")
    similarity.Ann.appendCells(spark, mixed, uri)
    assert(spark.read.parquet(uri).count() == afterFirst,
      "vec_id 300-499 were all already routed; mixed re-send must add nothing")
  }

  test("materializedCells adoption validates the sidecar stamp and commit marker") {
    import spark.implicits._
    import java.nio.file.Files
    val tmp = Files.createTempDirectory("ivf_adopt").toString
    val all = Tables.embeddings(spark, sf)
    val dirA = tmp + "/corpusA"; val dirB = tmp + "/corpusB"
    new java.io.File(dirA).mkdirs(); new java.io.File(dirB).mkdirs()
    all.filter($"vec_id" < 400).write.parquet(dirA + "/embeddings.parquet")
    all.write.parquet(dirB + "/embeddings.parquet")
    // crash window: cells committed (with _SUCCESS) but the _quant sidecar
    // write never ran — adoption must NOT trust cells/_SUCCESS alone
    val uri1 = tmp + "/cells1"
    similarity.Ann.writeCellsArtifact(spark, dirA, 3, uri1)
    val fs = new org.apache.hadoop.fs.Path(uri1)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(uri1 + "_quant"), true)
    similarity.Ann.materializedCells(spark, dirA, 3, Some(uri1))
    assert(fs.exists(new org.apache.hadoop.fs.Path(uri1 + "_quant", "_SUCCESS")),
      "missing sidecar must trigger a rebuild that restores it")
    // stamp mismatch: an on-disk artifact built from a DIFFERENT corpus
    // must be rebuilt, not silently adopted
    val uri2 = tmp + "/cells2"
    similarity.Ann.writeCellsArtifact(spark, dirA, 3, uri2)
    assert(spark.read.parquet(uri2).count() == 400L * 3)
    val adopted = similarity.Ann.materializedCells(spark, dirB, 3, Some(uri2))
    assert(adopted.count() == 500L * 3,
      "corpus-mismatch adoption must rebuild over the requested corpus")
    assert(spark.read.parquet(uri2 + "_quant").select($"src_dir").head.getString(0) == dirB)
    // matched stamp: the committed artifact is adopted as-is (write-once)
    val uri3 = tmp + "/cells3"
    similarity.Ann.writeCellsArtifact(spark, dirA, 3, uri3)
    val t0 = fs.getFileStatus(new org.apache.hadoop.fs.Path(uri3)).getModificationTime
    similarity.Ann.materializedCells(spark, dirA, 3, Some(uri3))
    assert(fs.getFileStatus(new org.apache.hadoop.fs.Path(uri3)).getModificationTime == t0,
      "a valid committed artifact must be adopted without a rewrite")
  }

  test("appendCells drift gate fires on a hot cell; rebuild re-splits and restores balance") {
    import spark.implicits._
    import java.nio.file.Files
    // a deep tree with tiny target cells (targetCell=4 over 500 vectors),
    // then a skewed batch aimed at ONE region: the gate must fire, and a
    // re-train over the grown corpus must spread the hot region back out
    val tmp = Files.createTempDirectory("ivf_drift").toString
    val dirAll = tmp + "/corpus"
    new java.io.File(dirAll).mkdirs()
    val all = Tables.embeddings(spark, sf)
    all.write.parquet(dirAll + "/embeddings.parquet")
    val uri = tmp + "/cells"
    similarity.Ann.writeCellsArtifact(spark, dirAll, 1, uri, targetCell = 4)
    def maxCell(u: String): Long = spark.read.parquet(u)
      .filter($"rn" === 1).groupBy($"cell").count()
      .agg(max($"count")).head.getLong(0)
    val balancedMax = maxCell(uri)
    val builtMax = spark.read.parquet(uri + "_quant")
      .select($"built_max_cell").head.getLong(0)
    assert(builtMax == balancedMax, "sidecar must record the build's own worst cell")
    // 200 jittered copies of vector 0 — tightly clustered, they descend to
    // the same few leaves (deterministic jitter so a re-split CAN separate).
    // 200 > 2x the build's worst cell on this corpus, so the RELATIVE gate
    // (drift vs the build profile, not the target alone) must fire.
    val seedEmb = all.filter($"vec_id" === 0)
      .select($"embedding".cast("array<double>")).head.getSeq[Double](0)
    val skew = (0 until 200).map { i =>
      (10000L + i, seedEmb.zipWithIndex.map { case (v, d) =>
        (v + ((i * 31 + d * 7) % 13 - 6) * 1e-4).toFloat })
    }.toDF("vec_id", "embedding")
    assert(200 > 2 * builtMax,
      s"test premise: the skew batch must exceed the relative gate (builtMax=$builtMax)")
    val drifted = similarity.Ann.appendCells(spark, skew, uri)
    assert(drifted, "200 same-region vectors must trip the relative drift gate")
    val hotMax = maxCell(uri)
    assert(hotMax > 2L * builtMax, s"hot cell should exceed the gate, got $hotMax")
    // drift response: re-train over the grown corpus (corpus table grew in
    // lockstep with the artifact); the skewed rows inherit vector 0's label
    val seedLabel = all.filter($"vec_id" === 0).select($"label").head.getInt(0)
    all.select($"vec_id", $"embedding", $"label")
      .unionByName(skew.withColumn("label", lit(seedLabel)))
      .write.mode("overwrite").parquet(dirAll + "/embeddings.parquet")
    similarity.Ann.rebuildMaterializedCells(spark, dirAll, 1, uri, targetCell = 4)
    val rebuiltMax = maxCell(uri)
    assert(rebuiltMax < hotMax,
      s"re-split must spread the hot region: $rebuiltMax vs hot $hotMax")
    assert(spark.read.parquet(uri).filter($"rn" === 1).count() == 700L,
      "rebuilt artifact must cover the grown corpus exactly once")
  }

  test("ann_filtered_ivf: constrained IVF route holds a recall@5 floor vs brute-force filtered") {
    import spark.implicits._
    val exact = similarity.Ann.filteredTopk(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    val routed = similarity.Ann.filteredTopkIvf(spark, sf)
      .select($"query_id", $"neighbor_id").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty, "brute-force filtered panel must produce pairs")
    val recall = exact.count(routed.contains).toDouble / exact.size
    info(f"ann_filtered_ivf recall@5 vs brute-force filtered: $recall%.3f")
    println(f"[recall] ann_filtered_ivf recall@5 = $recall%.3f")
    // same candidate-fraction bound as the unfiltered IVF route on this
    // noise-heavy corpus (knn_graph_ivf measures 0.62 at 50% candidates)
    assert(recall >= 0.4, f"filtered-IVF recall@5 $recall%.3f below floor 0.4")
  }

  test("ann_maxsim_ivf: routed late-interaction holds a recall floor; surviving scores exact") {
    import spark.implicits._
    // recall: fraction of the brute-force panel's top-3 docs the routed
    // path surfaces (per query group, order-insensitive)
    val exact = similarity.Ann.maxsim(spark, sf)
      .select($"query_group", $"doc_label").as[(Long, Long)].collect().toSet
    val routedRows = similarity.Ann.maxsimIvf(spark, sf)
      .select($"query_group", $"doc_label", $"maxsim")
      .as[(Long, Long, Double)].collect()
    val routed = routedRows.map(r => (r._1, r._2)).toSet
    assert(exact.nonEmpty, "brute-force MaxSim panel must produce rows")
    val recall = exact.count(routed.contains).toDouble / exact.size
    info(f"ann_maxsim_ivf recall@3 vs brute-force MaxSim: $recall%.3f")
    println(f"[recall] ann_maxsim_ivf recall@3 = $recall%.3f")
    assert(recall >= 0.4, f"routed MaxSim recall@3 $recall%.3f below floor 0.4")
    // exactness: any doc BOTH paths rank must carry the identical score —
    // the route changes which docs are scored, never how
    val exactScores = similarity.Ann.maxsim(spark, sf)
      .select($"query_group", $"doc_label", $"maxsim")
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    routedRows.foreach { case (qg, dl, s) =>
      exactScores.get((qg, dl)).foreach(es =>
        assert(es == s, s"score drift for ($qg,$dl): routed=$s exact=$es"))
    }
  }

  test("ann_maxsim_ivf_cached: materializedCells route is result-identical to the rebuild path") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_group", $"doc_label", $"rank", $"maxsim")
        .as[(Long, Long, Long, Double)].collect().toSet
    val rebuilt = rows(similarity.Ann.maxsimIvf(spark, sf))
    val cached = rows(similarity.Ann.maxsimIvfCached(spark, sf))
    assert(cached == rebuilt, "cached cell artifact changed the routed MaxSim result")
  }

  test("ann_filtered_ivf_cached: materializedCells route is result-identical to the rebuild path") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"neighbor_id", $"rank")
        .as[(Long, Long, Long)].collect().toSet
    val rebuilt = rows(similarity.Ann.filteredTopkIvf(spark, sf))
    val cached = rows(similarity.Ann.filteredTopkIvfCached(spark, sf))
    assert(cached == rebuilt, "cached cell artifact changed the routed result")
    // second call must reuse the artifact (same JVM cache) and still agree
    assert(rows(similarity.Ann.filteredTopkIvfCached(spark, sf)) == rebuilt)
  }

  test("ann_topk_ivfpq: IVF+ADC composition holds a measured recall@3 floor vs exact integer L2") {
    // the composed path loses recall at TWO stages (cell pruning, then
    // the ADC shortlist cut) — gate the product, not the parts, against
    // the exact integer-L2 ranking, same protocol as the emb_pq gate
    import spark.implicits._
    val got = similarity.Ann.topkIvfPq(spark, sf)
      .select($"query_id".cast("long"), $"neighbor_id".cast("long")).as[(Long, Long)]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val emb = Tables.embeddings(spark, sf)
      .select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
      .map { case (id, v) => id -> v.map(x => math.round(x * 1e6)) }.toMap
    def l2(a: Seq[Long], b: Seq[Long]): Long = a.zip(b).map { case (p, q) => (p - q) * (p - q) }.sum
    val queries = emb.keys.filter(_ < 20).toSeq
    val hits = queries.map { q =>
      val exact = emb.keys.filter(_ != q).toSeq
        .sortBy(n => (l2(emb(q), emb(n)), n)).take(3).toSet
      (exact intersect got.getOrElse(q, Set.empty)).size
    }.sum
    val recall = hits.toDouble / (queries.size * 3)
    info(f"ann_topk_ivfpq recall@3 vs exact integer L2: $recall%.3f")
    println(f"[recall] ann_topk_ivfpq recall@3 = $recall%.3f")
    assert(recall >= 0.3, f"IVFADC recall@3 $recall%.3f below floor 0.3")
  }

  test("dedup_substring: planted shared span is removed, unique text survives intact") {
    import spark.implicits._
    // 3 docs: a & b share an 8-word span ("s0 .. s7"), c is fully unique;
    // a's prefix and suffix are unique so only the span is scrubbed from it
    val span = (0 until 8).map("s" + _).mkString(" ")
    val docs = Seq(
      (1L, s"ua1 ua2 ua3 ua4 ua5 ua6 $span za1 za2 za3"),
      (2L, s"ub1 ub2 $span zb1"),
      (3L, "uc1 uc2 uc3 uc4 uc5 uc6 uc7 uc8 uc9")).toDF("doc_id", "text")
    val out = dedup.Dedup.substringDedupOf(docs)
      .orderBy($"doc_id")
      .select($"doc_id", $"n_dup_words", $"cleaned_md5", $"keep")
      .collect()
    def md5hex(s: String): String = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out(0).getLong(1) == 8 && out(0).getString(2) == md5hex("ua1 ua2 ua3 ua4 ua5 ua6 za1 za2 za3"))
    assert(out(1).getLong(1) == 8 && out(1).getString(2) == md5hex("ub1 ub2 zb1"))
    assert(out(2).getLong(1) == 0 && out(2).getString(2) == md5hex("uc1 uc2 uc3 uc4 uc5 uc6 uc7 uc8 uc9"))
    // doc 2 is 8/11 duplicated -> dropped by the majority gate; 1 and 3 kept
    assert(!out(1).getBoolean(3) && out(0).getBoolean(3) && out(2).getBoolean(3))
  }

  test("bpe_train: first merge is the true argmax pair and merge counts never increase") {
    import spark.implicits._
    val out = textanalysis.BpeTrain.train(spark, sf)
      .orderBy($"iter").as[(Long, String, String, Long)].collect()
    assert(out.length == textanalysis.BpeTrain.NMerges, s"got ${out.length} merges")
    // counts are non-increasing: a post-merge pair (x, ab) occurs at most
    // count(ab) times, and count(ab) was the max when chosen
    out.sliding(2).foreach { case Array((_, _, _, n1), (i2, p2, _, n2)) =>
      assert(n2 <= n1, s"merge $i2 ($p2) count $n2 > previous $n1")
    }
    // brute-force the first merge in plain Scala
    val words = Tables.documents(spark, sf)
      .select(explode(split($"text", " ")).as("w")).filter($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("cnt")).as[(String, Long)].collect()
    val pairCounts = scala.collection.mutable.Map.empty[String, Long]
    words.foreach { case (w, cnt) =>
      w.toSeq.sliding(2).filter(_.length == 2).foreach { p =>
        val k = s"${p(0)} ${p(1)}"
        pairCounts(k) = pairCounts.getOrElse(k, 0L) + cnt
      }
    }
    val expect = pairCounts.toSeq.sortBy { case (p, n) => (-n, p) }.head
    assert((out.head._2, out.head._4) == expect,
      s"first merge ${out.head} != brute-force $expect")
  }

  test("connected components converge on a diameter-6 chain") {
    // 1-2-3-4-5-6-7: min-label propagation needs 6 rounds; a fixed 5-round
    // loop leaves node 7 labeled 2 (silent under-merge). Fixpoint must not.
    import spark.implicits._
    val vertices = (1L to 7L).toDF("doc_id")
    val edges = (1L to 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = dedup.Dedup.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(labels == (1L to 7L).map(_ -> 1L).toMap, s"under-merged: $labels")
  }

  test("connected components: pointer jumping needs ~log rounds on the chain") {
    // plain min-label propagation needs 6 rounds + 1 confirm on the
    // diameter-6 chain; the pointer-jump shortcut (label <- label(label))
    // roughly doubles the covered distance per round -> 3 + 1 confirm.
    // Rounds are the unit of cost at any scale (fixed shuffles + a Spark
    // job floor each), so the bound is pinned here (round-4 verdict item 6).
    import spark.implicits._
    val vertices = (1L to 7L).toDF("doc_id")
    val edges = (1L to 6L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (labels, rounds) = dedup.Dedup.connectedComponentsWithRounds(vertices, edges)
    assert(labels.as[(Long, Long)].collect().toMap == (1L to 7L).map(_ -> 1L).toMap)
    assert(rounds <= 4, s"pointer jumping should need <=4 rounds on a diameter-6 chain, took $rounds")
  }

  /** One degenerate 120-doc block (same lang, same length bucket): 40
    * groups of 3 near-identical docs -> plenty of >=0.3 pairs. Shared by
    * the join-path and SNM-path routing tests.
    */
  private def snmFixture: org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    (0 until 120).map { i =>
      val base = s"alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima unique${i / 3}"
      val text = if (i % 3 == 2) base + " tail" else base + s" v${i % 3}"
      (i.toLong, text, "en", 100L)
    }.toDF("doc_id", "text", "lang", "n_chars")
  }

  test("ngram jaccard: oversized blocks route through the join path, same answer") {
    // One degenerate block (same lang, same length bucket) far above the
    // cap: the collect_list path would put every gram set into ONE
    // aggregate row (the round-4 scale-killer); the size-routed join path
    // must produce the identical answer with no giant row.
    import spark.implicits._
    val docs = snmFixture
    def rows(maxBlock: Int) =
      dedup.Dedup.ngramJaccardOf(docs, maxBlock)
        .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    val viaJoin = rows(maxBlock = 10)    // 120-doc block > 10 -> join path
    val viaBlock = rows(maxBlock = 1000) // same block under the cap -> collect_list path
    assert(viaJoin == viaBlock, "join path and block path must agree pair-for-pair")
    assert(viaJoin.exists(_._2.isDefined), "fixture must actually produce candidates")
  }

  test("SNM sliding window equals brute force over the concatenated stream") {
    // Pure-logic check of the partition-boundary stitching: cut a known
    // stream at every possible point into two "partitions", run
    // slidingPairs on each (partition 0 gets partition 1's first W rows as
    // `next`), and the union must equal brute-force pairs at stream
    // distance <= W in the same block — no pair lost or doubled at any cut.
    val w = 3
    val rows: Array[(String, Long, Array[Long])] = Array(
      ("a", 1L, Array(1L, 2L, 3L)), ("a", 2L, Array(1L, 2L, 4L)),
      ("a", 3L, Array(1L, 2L, 3L)), ("b", 4L, Array(9L, 10L)),
      ("b", 5L, Array(9L, 10L, 11L)), ("b", 6L, Array(9L, 12L)),
      ("b", 7L, Array(9L, 10L)))
    val brute = (for {
      i <- rows.indices; j <- i + 1 until math.min(i + w + 1, rows.length)
      if rows(i)._1 == rows(j)._1
      jac = dedup.Dedup.jaccardSorted(rows(i)._3, rows(j)._3) if jac >= 0.3
    } yield (math.min(rows(i)._2, rows(j)._2), math.max(rows(i)._2, rows(j)._2), jac)).toSet
    assert(brute.nonEmpty, "fixture must produce window pairs")
    for (cut <- 0 to rows.length) {
      val (p0, p1) = rows.splitAt(cut)
      val got =
        (dedup.Dedup.slidingPairs(p0.iterator, p1.take(w), w, 0.3) ++
          dedup.Dedup.slidingPairs(p1.iterator, Array.empty, w, 0.3)).toSet
      assert(got == brute, s"cut at $cut: $got != $brute")
    }
  }

  test("SNM stitch is executor-side: no task result ships gram arrays to the driver") {
    // r13 verdict finding #1: the per-pass boundary stitch used to collect
    // every partition's head rows - gram arrays included - to the driver.
    // Fixture: 64 docs x 12k-long gram arrays (~96 KB each) over 8
    // partitions; with the old heads-collect, each planning task returned
    // ~window x 96 KB >= 700 KB. The count-only stitch plus the slim
    // executor-side shift must keep EVERY task result far below one gram
    // array's size.
    import spark.implicits._
    val grams = (0 until 64).map { i =>
      ("blk", i.toLong, Array.tabulate(12000)(g => (g + i % 4).toLong))
    }.toDF("block", "doc_id", "grams").repartition(8)
    val maxResult = new java.util.concurrent.atomic.AtomicLong(0L)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          val sz = te.taskMetrics.resultSize
          var cur = maxResult.get()
          while (sz > cur && !maxResult.compareAndSet(cur, sz)) cur = maxResult.get()
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val pairs = dedup.Dedup.snmPairs(grams, passes = 2, window = 8, threshold = 0.3)
      assert(pairs.count() > 0, "fixture must produce SNM pairs")
      Thread.sleep(2000) // let the listener bus drain
    } finally spark.sparkContext.removeSparkListener(listener)
    val oneGram = 12000L * 8 // one doc's gram array in bytes
    assert(maxResult.get() < oneGram,
      s"a task shipped ${maxResult.get()} B to the driver - gram-array sized; " +
        "the stitch must stay executor-side")
  }

  test("ngram jaccard: huge-block SNM with window >= block size equals the exact path") {
    // With one pass and a window covering the whole block, the sorted-
    // neighborhood leg degenerates to exact all-pairs (every pair is
    // within window distance in ANY order), so it must reproduce the
    // exact path's answer bit-for-bit — jaccard doubles included (the JVM
    // merge-intersect and the codegen kernel share the same arithmetic).
    import spark.implicits._
    val docs = snmFixture
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)))).toSet
    val exact = rows(dedup.Dedup.ngramJaccardOf(docs, maxBlock = 10, maxExactBlock = 1000))
    val viaSnm = rows(dedup.Dedup.ngramJaccardOf(docs, maxBlock = 10,
      maxExactBlock = 20, snmPasses = 1, snmWindow = 200))
    assert(viaSnm == exact, "full-window SNM must equal the exact join path")
    assert(exact.exists(_._2.isDefined), "fixture must actually produce candidates")
  }

  test("ngram jaccard: bounded-window SNM recall on near-identical triples") {
    // Production geometry (small window << block size, 2 minhash-key
    // passes): the 40 groups of 3 near-identical docs sort into adjacent
    // runs, so non-null dup-candidate recall vs the exact path must stay
    // high. Deterministic fixture + deterministic keys -> a pinned floor,
    // not a flaky sample.
    import spark.implicits._
    val docs = snmFixture
    val exact = dedup.Dedup.ngramJaccardOf(docs, maxBlock = 10, maxExactBlock = 1000)
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val snm = dedup.Dedup.ngramJaccardOf(docs, maxBlock = 10,
      maxExactBlock = 20, snmPasses = 2, snmWindow = 4)
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toMap
    val withDup = exact.filter(_._2.isDefined).keySet
    assert(withDup.nonEmpty)
    val recalled = withDup.count(id => snm(id).isDefined)
    val recall = recalled.toDouble / withDup.size
    assert(recall >= 0.95, s"SNM non-null recall $recall below 0.95 ($recalled/${withDup.size})")
  }

  test("LSH hot-bucket cap drops only oversized buckets") {
    import spark.implicits._
    // bucket (0, 7): 50 members (hot); bucket (0, 8): 3 members (cold)
    val bands = ((1L to 50L).map(i => (i, 0, 7L)) ++ Seq((101L, 0, 8L), (102L, 0, 8L), (103L, 0, 8L)))
      .toDF("doc_id", "band", "bh")
    val kept = dedup.Dedup.capBuckets(bands, Seq("band", "bh"), maxBucket = 10, "test_cap")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(101L, 102L, 103L), s"hot bucket must be dropped, cold kept: $kept")
    // generous cap -> nothing dropped
    val all = dedup.Dedup.capBuckets(bands, Seq("band", "bh"), maxBucket = 100, "test_cap2")
      .count()
    assert(all == 53)
  }

  test("IVF hot-cell cap trims a skewed cell to its centroid-closest members") {
    import spark.implicits._
    // power-law fixture: cell 0 holds 30% of all vectors, 7 cold cells
    // share the rest evenly — the shape that makes a cell-routed join
    // quadratic without the cap
    val members = (1L to 1000L).map { v =>
      val cell = if (v <= 300) 0L else 1L + v % 7
      (v, cell, v * 10L, 1)
    }.toDF("vec_id", "cell", "dist_sq", "rn")
    val capped = similarity.Ann.capCells(members, maxCell = 150, "test_ivf_cap")
    val byCell = capped.groupBy("cell").count().as[(Long, Long)].collect().toMap
    assert(byCell(0L) == 150L, s"hot cell must trim to maxCell: $byCell")
    (1L to 7L).foreach(c => assert(byCell(c) == 100L,
      s"cold cell $c must pass through untouched: $byCell"))
    // the survivors are the centroid-CLOSEST members (exact integer order)
    val keptHot = capped.filter($"cell" === 0L).select("vec_id").as[Long].collect().toSet
    assert(keptHot == (1L to 150L).toSet, s"must keep smallest dist_sq: $keptHot")
    // the trim reduces via TopKPerKey's partial pass — never a
    // corpus-sized single-partition window sort
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), "hot slice must reduce through TopKPerKey")
    assert(!plan.contains("Window"), "no window sort in the cap path")
    // a generous cap is the identity (the committed knnGraphIvf default)
    assert(similarity.Ann.capCells(members, 100000, "test_ivf_cap2").count() == 1000L)
  }

  test("shingles survive sub-3-word docs under ANSI mode (degenerate shingle, no throw)") {
    // Spark 4 defaults spark.sql.ansi.enabled=true, where words[i] on an
    // out-of-range index THROWS — withShingles must use try_element_at so
    // a short document yields DuckDB's degenerate shingle instead of
    // crashing dedup_minhash_lsh / dedup_clusters / pipeline_curate.
    import spark.implicits._
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true",
      "this regression test is only meaningful under ANSI mode")
    val df = Seq((1L, "solo"), (2L, "two words"), (3L, "three word doc"))
      .toDF("doc_id", "text")
    val got = dedup.Dedup.withShingles(df)
      .select(col("doc_id"), col("shingles"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("solo"), got(1L).toString)
    assert(got(2L) == Seq("two words"), got(2L).toString)
    assert(got(3L) == Seq("three word doc"), got(3L).toString)
  }

  test("connected components match union-find on random graphs") {
    // the pointer-jump fixpoint vs a plain union-find reference, across
    // sparse/dense/forest regimes — randomized but seeded (reproducible)
    import spark.implicits._
    val rng = new scala.util.Random(1234)
    for ((nV, nE) <- Seq((40, 10), (60, 60), (200, 120), (80, 300))) {
      val edges = Seq.fill(nE)((rng.nextInt(nV).toLong + 1, rng.nextInt(nV).toLong + 1))
        .filter { case (a, b) => a != b }
      val parent = Array.tabulate(nV + 1)(identity)
      def find(x: Int): Int = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // reference label = min vertex id in the component
      val want = (1 to nV).groupBy(find).flatMap { case (_, vs) =>
        val m = vs.min.toLong; vs.map(v => v.toLong -> m)
      }
      val got = dedup.Dedup.connectedComponents(
          (1L to nV.toLong).toDF("doc_id"),
          edges.toDF("id_a", "id_b"))
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"diverged from union-find at nV=$nV nE=$nE")
    }
  }

  test("connected components: two components stay separate") {
    import spark.implicits._
    val vertices = (1L to 6L).toDF("doc_id")
    val edges = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val labels = dedup.Dedup.connectedComponents(vertices, edges)
      .as[(Long, Long)].collect().toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 5L, 6L -> 5L))
  }

  test("dedup_embedding (blocked exact join) matches brute force; no cartesian in the plan") {
    import spark.implicits._
    val e = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("emb"))
    val brute = e.select(col("vec_id").as("vec_a"), col("emb").as("ea"))
      .join(e.select(col("vec_id").as("vec_b"), col("emb").as("eb")),
        col("vec_a") < col("vec_b"))
      .withColumn("cos", functions.native.cosineSim(col("ea"), col("eb")))
      .filter(col("cos") >= 0.4)
      .select(col("vec_a"), col("vec_b"))
      .as[(Long, Long)].collect().toSet
    val blocked = dedup.Dedup.embedding(spark, sf).as[(Long, Long)].collect().toSet
    val missed = brute -- blocked
    assert(missed.isEmpty,
      s"block decomposition dropped ${missed.size} of ${brute.size} pairs: $missed")
    assert(blocked == brute, s"double-counted/spurious pairs: ${blocked -- brute}")
    val plan = dedup.Dedup.embedding(spark, sf).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "all-pairs join in the plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "non-equi self-join in the plan")
  }

  private def recallAt3(approx: org.apache.spark.sql.DataFrame): Double = {
    import spark.implicits._
    val exact3 = similarity.Ann.topk(spark, sf).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val got = approx.select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    (exact3 & got).size.toDouble / exact3.size
  }

  test("ann_topk_lsh recall@3 >= 0.7 vs exact baseline") {
    val r = recallAt3(similarity.Ann.topkLsh(spark, sf))
    info(f"ann_topk_lsh recall@3 = $r%.3f")
    println(f"[recall] ann_topk_lsh recall@3 = $r%.3f")
    assert(r >= 0.7, f"recall@3 $r%.3f below 0.7")
  }

  test("coarseCells: an empty embeddings table fails with a named precondition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_emb").toString
    Tables.embeddings(spark, sf).limit(0).write.parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException](
      similarity.Ann.coarseCells(spark, dir, maxRn = 2))
    assert(e.getMessage.contains(s"empty embeddings table at $dir"), e.getMessage)
  }

  test("emb_knn_graph_ivf and graph_kcore: an empty embeddings table fails with a named precondition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_empty_fixture").toString
    tools.MakeFixture.write(spark, sf, dir, 1, Some("empty-embeddings"))
    for (key <- Seq("emb_knn_graph_ivf", "graph_kcore")) {
      val e = intercept[IllegalArgumentException](
        SparkEntry.queries(key)(spark, dir).write.format("noop").mode("overwrite").save())
      assert(e.getMessage.contains(s"empty embeddings table at $dir"), s"$key: ${e.getMessage}")
    }
  }

  test("IVF kNN edge build: one-vector and single-label tables give DuckDB's rows") {
    val keys = Seq("emb_knn_graph_ivf", "graph_degree_hist", "graph_kcore")
    for (variant <- Seq("one-vector", "single-label")) {
      val dir = java.nio.file.Files.createTempDirectory(s"graft_$variant").toString
      val out = java.nio.file.Files.createTempDirectory(s"graft_${variant}_out").toString
      tools.MakeFixture.write(spark, sf, dir, 1, Some(variant))
      Verify.dumpAll(spark, keys.map(k => k -> SparkEntry.queries(k)).toMap, dir, out)
      Verify.writeJsonMap(s"$out/oracle_sql.json", keys.map(k => k -> SparkEntry.oracleSql(k)))
      Checkpoints.releaseAll()
      val log = new StringBuilder
      val rc = scala.sys.process.Process(Seq("python3", "tools/check_oracle.py", dir, out))
        .!(scala.sys.process.ProcessLogger(l => log.append(l).append('\n'), l => log.append(l).append('\n')))
      assert(rc == 0 && log.toString.contains(s"${keys.size}/${keys.size} oracle queries match"),
        s"$variant:\n$log")
    }
  }

  test("coarseCells: corpus-scaled quantizer is deterministic, bounded, and beats equal-work capping") {
    import spark.implicits._
    // force activation on the 500-vector fixture: targetCell=16 ->
    // levels = ceil(log2(500/(8*16))) = 2 -> 32 cells
    val c1 = similarity.Ann.coarseCells(spark, sf, maxRn = 2, targetCell = 16)
    val c2 = similarity.Ann.coarseCells(spark, sf, maxRn = 2, targetCell = 16)
    assert(c1.collect().map(_.toString).sorted.sameElements(
      c2.collect().map(_.toString).sorted),
      "hierarchical routing must be deterministic across executions")
    val sizes = c1.groupBy("cell").count().as[(Long, Long)].collect()
    assert(sizes.length >= 16, s"expected >=16 live cells, got ${sizes.length}")
    // mean-bisection isn't perfectly balanced; 8x target is the sanity
    // bound that still proves membership scales with cell count (the
    // unsplit baseline is 125 members/cell here)
    assert(sizes.map(_._2).max <= 8L * 16,
      s"cell membership must be bounded by the split: ${sizes.map(_._2).max}")
    // equal candidate volume, two defenses: 32 geometry-aware cells
    // (scaled, no cap) vs 8 label cells trimmed to 31 centroid-closest
    // members (capped) — both yield ~62 candidates/query. The scaled
    // quantizer must recall at least as much of the exact top-5 graph:
    // subdividing geometry keeps boundary neighbors reachable where
    // blind trimming deletes them.
    val exact = similarity.Ann.knnGraph(spark, sf)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val a = df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact intersect a).size.toDouble / exact.size
    }
    val scaled = recall(similarity.Ann.knnGraphIvfTuned(spark, sf,
      probes = 2, replicas = 2, maxCell = 1000000, targetCell = 16))
    val capped = recall(similarity.Ann.knnGraphIvfTuned(spark, sf,
      probes = 2, replicas = 2, maxCell = 31, targetCell = 1000000))
    info(f"recall@5: scaled(32 cells)=$scaled%.3f capped(8 cells,maxCell=31)=$capped%.3f")
    println(f"[recall] coarseCells scaled=$scaled%.3f capped=$capped%.3f")
    assert(scaled >= capped,
      f"corpus-scaled cells ($scaled%.3f) must not recall less than equal-work capping ($capped%.3f)")
  }

  test("ann_topk_ivf recall@3 >= 0.7 vs exact baseline") {
    val r = recallAt3(similarity.Ann.topkIvf(spark, sf))
    info(f"ann_topk_ivf recall@3 = $r%.3f")
    println(f"[recall] ann_topk_ivf recall@3 = $r%.3f")
    assert(r >= 0.7, f"recall@3 $r%.3f below 0.7")
  }

  test("emb_rp: projection preserves distances in expectation (JL property)") {
    // For the ±1 sign matrix, E[||y_a − y_b||²] = 16·||x_a − x_b||².
    // Near-orthogonal gaussian test vectors are almost equidistant, so a
    // distance CORRELATION test has no signal variance to detect
    // (measured 0.35 here) — the meaningful check is that the per-pair
    // ratio ||Δy||²/(16·||Δx||²) is an unbiased estimate of 1 with the
    // 1/√16-scale spread JL predicts.
    val proj = similarity.Ann.randomProjection(spark, sf)
      .groupBy("vec_id").agg(collect_list(struct(col("out_dim"), col("y"))).as("ys"))
      .collect().map(r => r.getLong(0) ->
        r.getSeq[org.apache.spark.sql.Row](1).sortBy(_.getLong(0)).map(_.getLong(1).toDouble).toArray).toMap
    val orig = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble * 1e6).toArray).toMap
    val ids = proj.keys.toSeq.sorted.take(30)
    def d2(x: Array[Double], y: Array[Double]) =
      x.zip(y).map { case (u, v) => (u - v) * (u - v) }.sum
    val ratios = for (a <- ids; b <- ids if a < b)
      yield d2(proj(a), proj(b)) / (16.0 * d2(orig(a), orig(b)))
    val mean = ratios.sum / ratios.size
    info(f"emb_rp ratio mean=$mean%.3f min=${ratios.min}%.3f max=${ratios.max}%.3f")
    assert(mean > 0.8 && mean < 1.2, f"JL ratio mean $mean%.3f biased")
    assert(ratios.min > 0.2 && ratios.max < 3.0,
      f"JL per-pair spread [${ratios.min}%.3f, ${ratios.max}%.3f] wider than the 1/√16 scale allows")
  }

  test("graph_triangles matches brute-force enumeration on both knn substrates") {
    // the wedge algebra is substrate-independent: verify it against a
    // brute-force enumeration on BOTH the exact graph (the declared
    // oracle baseline) and the IVF-routed graph (the registered
    // production substrate, round-8)
    def bruteForce(g: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
      val edges = g.collect()
        .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
        .toSet
      val adj = edges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
        .withDefaultValue(Set.empty[Long])
      val neighbors = (edges.map(e => e._1 -> e._2) ++ edges.map(e => e._2 -> e._1))
        .groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
        .withDefaultValue(Set.empty[Long])
      val want = scala.collection.mutable.Map[Long, Long]().withDefaultValue(0L)
      for ((u, v) <- edges; w <- adj(u) if v < w && neighbors(v).contains(w)) {
        want(u) += 1; want(v) += 1; want(w) += 1
      }
      want.toMap
    }
    for (g <- Seq(similarity.Ann.knnGraph(spark, sf), similarity.Ann.knnGraphIvf(spark, sf))) {
      val want = bruteForce(g)
      val got = similarity.Ann.trianglesOf(g).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.nonEmpty && got == want,
        s"triangle counts diverged: ${(want.toSet -- got.toSet).take(3)} vs ${(got.toSet -- want.toSet).take(3)}")
    }
  }

  test("graph_triangles plan: no full-corpus broadcast feeds the wedge join") {
    // round-7 verdict item 1: the registered triangles query must NOT
    // inherit the exact graph's full-corpus broadcast. Every broadcast
    // HINT in its logical plan has to be a declared small side — an
    // aggregate (centroids, hot-cell list) or a limited panel — never a
    // raw corpus scan.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LogicalPlan, ResolvedHint}
    val plan = similarity.Ann.triangles(spark, sf).queryExecution.analyzed
    val hinted = plan.collect { case h: ResolvedHint if h.hints.strategy.isDefined => h.child }
    val offenders = hinted.filterNot { sub =>
      sub.collectFirst {
        case a: Aggregate => a
        case l: GlobalLimit => l
        case l: LocalLimit => l
      }.isDefined
    }
    assert(offenders.isEmpty,
      s"unbounded broadcast hint feeds graph_triangles:\n${offenders.mkString("\n")}")
  }

  test("emb_pca: integer power iterations climb the Rayleigh quotient toward λmax") {
    // The gaussian fixture's Gram spectrum is FLAT (λ1/λ2 ≈ 1.07
    // measured), so eigenVECTOR alignment after 3 rounds is not a
    // meaningful target — for ANY method. What power iteration does
    // guarantee is monotone Rayleigh-quotient ascent; assert the
    // operator's 3 integer-normalized rounds recover most of λmax
    // (estimated by 60 double-precision rounds test-side).
    val vecs = Tables.embeddings(spark, sf).select("embedding")
      .collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val d = 64
    val c = Array.ofDim[Double](d, d)
    for (x <- vecs; i <- 0 until d; j <- 0 until d) c(i)(j) += x(i) * x(j)
    def rayleigh(v: Array[Double]): Double = {
      val cv = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * v(j)).sum)
      (0 until d).map(i => v(i) * cv(i)).sum / v.map(x => x * x).sum
    }
    var ref = Array.fill(d)(1.0)
    for (_ <- 1 to 60) {
      val w = Array.tabulate(d)(i => (0 until d).map(j => c(i)(j) * ref(j)).sum)
      val n = math.sqrt(w.map(x => x * x).sum)
      ref = w.map(_ / n)
    }
    val got = similarity.Ann.pca(spark, sf).collect()
      .map(r => r.getLong(0).toInt -> r.getLong(1).toDouble).toMap
    val v = Array.tabulate(d)(got)
    val (r0, r3, rMax) = (rayleigh(Array.fill(d)(1.0)), rayleigh(v), rayleigh(ref))
    info(f"emb_pca rayleigh: start $r0%.2f -> 3 iters $r3%.2f (λmax est $rMax%.2f)")
    assert(r3 > r0, f"no ascent: $r3%.2f <= $r0%.2f")
    assert(r3 >= 0.7 * rMax, f"too far from λmax: $r3%.2f vs $rMax%.2f")
  }

  test("text_lang_id: 100% on genuine-language fixtures") {
    // The synthetic testdata draws every document from ONE shared 31-word
    // English vocabulary regardless of its lang label (verified: no CJK
    // chars, identical word histograms per label) — so label accuracy there
    // is information-theoretically capped at the majority-class share. Real
    // classifier quality is measured here, on text with actual language
    // signal.
    import spark.implicits._
    val fixtures = Seq(
      ("en", "the cat sat on the mat and it is a good day for all of us"),
      ("en", "this is the story of a boy that went to the sea in a boat"),
      ("es", "el perro y los niños están en la casa que es de una familia"),
      ("es", "hay un niño en el jardín y la señora dice que sí a todo"),
      ("de", "der hund ist nicht in das haus und die katze ist mit den kindern"),
      ("de", "ein schönes mädchen geht zu der schule und die straße ist groß"),
      ("fr", "le chien est dans la maison et les enfants sont là pour une fête"),
      ("fr", "c'est une belle journée et les amis vont à la plage près des champs"),
      ("zh", "我是一个学生这是我的书在学校和朋友一起学习"),
      ("zh", "他们有很多人不知道这个地方在哪里我们去看看")).toDF("want", "text")
    val out = textanalysis.Text.classify(fixtures).select(col("want"), col("pred_lang")).collect()
    val wrong = out.filter(r => r.getString(0) != r.getString(1))
    assert(wrong.isEmpty, s"misclassified: ${wrong.map(r => s"${r.getString(0)}→${r.getString(1)}").mkString(", ")}")
  }

  test("text_lang_id on testdata sits at the majority-class bound") {
    val out = textanalysis.Text.langId(spark, sf)
    val n = out.count()
    val hit = out.filter(col("pred_lang") === col("labeled_lang")).count()
    val acc = hit.toDouble / n
    val majority = out.groupBy(col("labeled_lang")).count()
      .agg(max("count")).head.getLong(0).toDouble / n
    info(f"lang-id label accuracy = $acc%.3f (Bayes bound = majority share $majority%.3f)")
    println(f"[accuracy] text_lang_id = $acc%.3f vs majority bound $majority%.3f")
    // labels are independent of text → the classifier should land at the
    // majority bound (predicting the prior on zero signal), not at chance 0.2
    assert(acc >= majority - 0.02, f"accuracy $acc%.3f fell below the majority bound $majority%.3f")
  }

  test("mm_embed histograms codepoints, not UTF-8 bytes (non-ASCII parity)") {
    import spark.implicits._
    // "héllo 世界": codepoints 104,233,108,108,111,32,19990,30028 → %16 =
    // 8,9,12,12,15,0,6,12 (é would be 2 UTF-8 bytes, 世/界 3 each — a
    // byte-based histogram would differ on every multi-byte char)
    val df = Seq((1L, "héllo 世界")).toDF("doc_id", "text")
    val got = multimodal.Blobs.embedExplodedOf(spark, df)
      .select(col("dim"), col("cnt")).as[(Long, Long)].collect().toMap
    val want = Map(0L -> 1L, 6L -> 1L, 8L -> 1L, 9L -> 1L, 12L -> 3L, 15L -> 1L)
    assert((0L until 16L).forall(d => got(d) == want.getOrElse(d, 0L)),
      s"got $got, want $want")
  }

  test("dedup_keep_best: exactly one survivor per cluster, and it is the best one") {
    import spark.implicits._
    val out = dedup.Dedup.keepBest(spark, sf)
      .as[(Long, Long, Long, Double, Boolean)].collect()
    val byCluster = out.groupBy(_._2)
    assert(byCluster.values.forall(_.count(_._5) == 1),
      "every cluster keeps exactly one doc")
    byCluster.values.foreach { members =>
      val kept = members.find(_._5).get
      val best = members.maxBy(m => (m._4, -m._1))
      assert(kept == best, s"kept $kept is not the quality argmax $best")
    }
    assert(out.length == Tables.documents(spark, sf).count(),
      "verdict covers every document")
  }

  test("emb_knn_graph_ivf: recall@5 vs the exact graph") {
    import spark.implicits._
    val exact = similarity.Ann.knnGraph(spark, sf)
      .as[(Long, Long)].collect().toSet
    val ivf = similarity.Ann.knnGraphIvf(spark, sf)
      .as[(Long, Long)].collect().toSet
    val recall = (exact & ivf).size.toDouble / exact.size
    // 2-probe + 2-replica routing over the 8 label cells scores 50% of
    // the corpus per query. This testdata is label clusters + heavy
    // isotropic noise, so the exact top-5 tail is direction-random and
    // recall is bounded by the candidate fraction — measured 0.62 here
    // (0.40 without replication, 0.50 = random-candidate floor). On a
    // corpus whose neighbors ARE cell-concentrated the same routing
    // approaches 1.0; cells/probes/replicas are the production dials.
    assert(recall >= 0.55, f"IVF kNN-graph recall@5 $recall%.3f below 0.55")
  }

  test("emb_kmeans: full partition, nonneg inertia, better than the seed assignment") {
    import spark.implicits._
    val out = similarity.Ann.kmeans(spark, sf)
      .as[(Long, Long, Long, Long)].collect()
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(out.length <= 8 && out.nonEmpty, s"got ${out.length} clusters")
    assert(out.map(_._2).sum == nVecs, "every vector must be assigned exactly once")
    assert(out.forall(_._3 >= 0L), "inertia is a sum of squares")
    // Lloyd never increases inertia: 3 iterations must not be worse than
    // assigning straight to the seed centroids (computed inline here)
    val x = Tables.embeddings(spark, sf)
      .select(col("vec_id"), posexplode(col("embedding").cast("array<double>")))
      .toDF("vec_id", "dim", "v")
      .select(col("vec_id"), col("dim"), round(col("v") * 1000000.0).cast("long").as("xi"))
    val seed = x.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("dim"), col("xi").as("cq"))
    val seedInertia = x.join(seed, Seq("dim"))
      .groupBy(col("vec_id"), col("c_id"))
      .agg(sum(expr("(xi - cq) * (xi - cq)")).as("d"))
      .groupBy(col("vec_id")).agg(min(col("d")).as("d"))
      .agg(sum(col("d"))).as[Long].head()
    assert(out.map(_._3).sum <= seedInertia,
      s"3 Lloyd iterations (${out.map(_._3).sum}) worse than the seed assignment ($seedInertia)")
  }

  test("dedup_bow: word-order shuffles and repetition collapse; exact hash does not") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox", "en", "s", 19L),
      (2L, "fox brown quick the", "en", "s", 19L), // order shuffle of 1
      (3L, "the quick quick brown fox fox", "en", "s", 29L), // repetition of 1
      (4L, "an entirely different text", "en", "s", 26L),
      (5L, "the quick brown fox", "en", "s", 19L)) // byte-exact dup of 1
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val got = dedup.Dedup.bowOf(docs)
      .select($"keeper_id", $"n_docs", $"n_variants")
      .as[(Long, Long, Long)].collect().toSet
    // {1,2,3,5} share the token SET {brown,fox,quick,the}; keeper is min
    // id 1; 3 distinct byte-level texts were merged. Doc 4 is alone.
    assert(got == Set((1L, 4L, 3L), (4L, 1L, 1L)))
    // exact dedup on the same fixture only merges the byte-exact pair
    val exactGroups = docs
      .groupBy(sha2($"text", 256)).agg(count(lit(1)).as("n"))
      .select($"n").as[Long].collect().sorted.toSeq
    assert(exactGroups == Seq(1L, 1L, 1L, 2L))
  }

  test("dedup_bow on testdata: groups partition the corpus and refine exact dedup") {
    import spark.implicits._
    val total = Tables.documents(spark, sf).count()
    val g = dedup.Dedup.bow(spark, sf).cache()
    assert(g.agg(sum($"n_docs")).as[Long].head() == total,
      "bow groups must partition the corpus")
    assert(g.filter($"n_variants" > $"n_docs").isEmpty,
      "a group cannot merge more byte-variants than documents")
    // every exact-dup group lands INSIDE one bow group: the bow group
    // count is <= the exact group count (bow is the coarser partition)
    val exactGroups = dedup.Dedup.exact(spark, sf).count()
    assert(g.count() <= exactGroups)
    g.unpersist()
  }

  test("ann_filtered: cross-label top-5 matches brute force through the same kernel") {
    import spark.implicits._
    val got = similarity.Ann.filteredTopk(spark, sf)
      .select($"query_id", $"neighbor_id", $"rank")
      .as[(Long, Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    // brute force: score EVERY (query, candidate) pair with the same
    // codegen cosine kernel, filter cross-label in Scala, take top-5
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id".cast("long"), $"embedding".cast("array<double>"), $"label")
    val q = e.filter($"vec_id" < 20)
      .toDF("query_id", "ea", "qlabel")
    val scored = q.crossJoin(e.toDF("neighbor_id", "eb", "clabel"))
      .select($"query_id", $"neighbor_id", $"qlabel", $"clabel",
        graft.functions.native.cosineSim($"ea", $"eb").as("cos"))
      .as[(Long, Long, Int, Int, Double)].collect()
    val expect = scored.groupBy(_._1).view.mapValues { rows =>
      rows.filter(r => r._3 != r._4)
        .sortBy(r => (-r._5, r._2)).take(5).map(_._2).toSeq
    }.toMap
    assert(got.keySet == expect.keySet && got.keySet.nonEmpty)
    got.foreach { case (qid, ns) =>
      assert(ns == expect(qid), s"query $qid: $ns != ${expect(qid)}")
    }
    // and the constraint itself holds: no neighbor shares the query label
    val labels = e.select($"vec_id", $"label").as[(Long, Int)].collect().toMap
    got.foreach { case (qid, ns) =>
      ns.foreach(n => assert(labels(n) != labels(qid)))
    }
  }

  test("ann_maxsim: MaxSim reduction matches brute force through the same kernel") {
    import spark.implicits._
    val got = similarity.Ann.maxsim(spark, sf)
      .select($"query_group", $"doc_label", $"rank", $"maxsim")
      .as[(Long, Int, Int, Double)].collect()
    // brute force: kernel-score every (query-token, candidate) pair, then
    // fold the max-per-token / sum-over-tokens reduction in Scala
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id".cast("long"), $"embedding".cast("array<double>"), $"label")
    val q = e.filter($"vec_id" < 8).toDF("qvec", "ea", "ql")
    val scored = q.crossJoin(e.toDF("cand", "eb", "doc_label"))
      .select(($"qvec" / 2).cast("long").as("qg"), $"qvec", $"doc_label",
        graft.functions.native.cosineSim($"ea", $"eb").as("cos"))
      .as[(Long, Long, Int, Double)].collect()
    val expect = scored.groupBy(r => (r._1, r._3)).map { case ((qg, dl), rows) =>
      (qg, dl) -> rows.groupBy(_._2).values.map(_.map(_._4).max).sum
    }
    val top3 = expect.groupBy(_._1._1).view.mapValues { m =>
      m.toSeq.sortBy { case ((_, dl), s) => (-s, dl) }.take(3)
        .zipWithIndex.map { case (((_, dl), s), i) => (dl, i + 1, s) }
    }.toMap
    assert(got.groupBy(_._1).keySet == top3.keySet && got.length == top3.values.map(_.size).sum)
    got.foreach { case (qg, dl, rank, score) =>
      val want = top3(qg)(rank - 1)
      assert(dl == want._1 && rank == want._2, s"query $qg rank $rank: $dl != ${want._1}")
      assert(score == want._3, s"query $qg score $score != ${want._3} (must be bit-exact)")
    }
  }

  test("ann_recall_matryoshka: pair counts exact, dim16 hits verified against a prefix recompute") {
    import spark.implicits._
    val rows = similarity.Ann.matryoshkaRecall(spark, sf)
      .select($"method", $"n_pairs", $"hits", $"recall_ppm")
      .as[(String, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(rows.keySet == Set("dim16", "dim32"))
    rows.values.foreach { case (m, n, h, ppm) =>
      assert(n == 60, s"$m: 20 queries x top-3 = 60 pairs, got $n")
      assert(h >= 0 && h <= n)
      assert(ppm == h * 1000000L / n, s"$m ppm")
    }
    // independent dim16 recompute: prefix-cosine top-3 per query in Scala
    val e = Tables.embeddings(spark, sf)
      .select($"vec_id".cast("long"), $"embedding".cast("array<double>"))
      .as[(Long, Seq[Double])].collect()
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    def top3(d: Int): Map[Long, Set[Long]] =
      e.filter(_._1 < 20).map { case (qid, qe) =>
        qid -> e.filter(_._1 != qid)
          .map { case (cid, ce) => (cid, cos(qe.take(d), ce.take(d))) }
          .sortBy { case (cid, c) => (-c, cid) }.take(3).map(_._1).toSet
      }.toMap
    val exact = top3(64)
    val hits16 = exact.map { case (qid, ns) => (ns & top3(16)(qid)).size }.sum
    assert(rows("dim16")._3 == hits16,
      s"dim16 hits ${rows("dim16")._3} != recompute $hits16")
  }

  test("text_gopher_quality: every rule bit matches an independent Scala recompute") {
    import spark.implicits._
    val got = textanalysis.Text.gopherQuality(spark, sf)
      .select($"doc_id", $"n_words", $"alpha_words", $"stop_hits", $"symbols",
        $"words_ok", $"wordlen_ok", $"symbol_ok", $"alpha_ok", $"stopword_ok", $"passes")
      .collect().map(r => r.getLong(0) -> r).toMap
    val stop = Set("the", "a", "and", "of", "to", "in", "is", "that", "it", "for")
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    assert(docs.nonEmpty && got.size == docs.length)
    docs.foreach { case (id, text) =>
      val words = text.split(" ", -1)
      val n = words.length.toLong
      val chars = text.count(_ != ' ').toLong
      val alpha = words.count(_.exists(c => c.isLetter && c <= 'z')).toLong
      val hits = words.count(stop).toLong
      val sym = text.count(_ == '#').toLong + {
        var (c, i) = (0L, 0)
        while (i <= text.length - 3) {
          if (text.startsWith("...", i)) { c += 1; i += 3 } else i += 1
        }
        c
      }
      val r = got(id)
      assert(r.getLong(1) == n && r.getLong(2) == alpha &&
        r.getLong(3) == hits && r.getLong(4) == sym, s"doc $id counts")
      assert(r.getBoolean(5) == (n >= 50 && n <= 100000), s"doc $id words_ok")
      assert(r.getBoolean(6) == (n * 3 <= chars && chars <= n * 10), s"doc $id wordlen_ok")
      assert(r.getBoolean(7) == (sym * 10 <= n), s"doc $id symbol_ok")
      assert(r.getBoolean(8) == (alpha * 5 >= n * 4), s"doc $id alpha_ok")
      assert(r.getBoolean(9) == (hits >= 2), s"doc $id stopword_ok")
      assert(r.getBoolean(10) == (r.getBoolean(5) && r.getBoolean(6) &&
        r.getBoolean(7) && r.getBoolean(8) && r.getBoolean(9)), s"doc $id passes")
    }
    // the panel must split the corpus (a constant filter is no filter)
    val passCount = got.values.count(_.getBoolean(10))
    assert(passCount > 0 && passCount < docs.length,
      s"degenerate rule panel: $passCount/${docs.length} pass")
  }

  test("text_unigram_diversity matches an exact Scala recompute") {
    import spark.implicits._
    val got = textanalysis.Text.unigramDiversity(spark, sf)
      .select($"doc_id", $"n_tokens", $"n_types", $"ttr_ppm", $"simpson_ppm")
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    docs.foreach { case (id, text) =>
      val words = text.split(" ", -1)
      val n = words.length.toLong
      val counts = words.groupBy(identity).view.mapValues(_.length.toLong)
      val types = counts.size.toLong
      val sumSq = counts.values.map(c => c * c).sum
      val (_, gn, gt, gttr, gsim) = got(id)
      assert(gn == n && gt == types, s"doc $id counts")
      assert(gttr == types * 1000000L / n, s"doc $id ttr")
      assert(gsim == sumSq * 1000000L / (n * n), s"doc $id simpson")
    }
  }

  test("q_ntile matches the windowed ntile(4) formulation") {
    import spark.implicits._
    val got = operators.Analytics.ntileQuartiles(spark, sf)
      .select(col("o_orderkey"), col("quartile"))
      .as[(Long, Long)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val expect = Tables.orders(spark, sf)
      .select(col("o_orderkey"), ntile(4).over(w).cast("long").as("quartile"))
      .as[(Long, Long)].collect().toMap
    assert(got == expect)
  }
}
