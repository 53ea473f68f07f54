package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

import graft.functions.native

/** Native Catalyst expression correctness (vs interpreted HOF formulations)
  * + SQL registration through GraftExtensions.
  */
class ExpressionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = {
    val b = SparkSession.builder().master("local[2]")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    GraftSession.tune(b, 2).getOrCreate()
  }

  override def afterAll(): Unit = spark.stop()

  test("bpeTokenStats: greedy longest-match walk, hand-computed fixtures") {
    import spark.implicits._
    val vocab = Seq(" the", "the", " a", "and", "ing", "er", "row", "t", "a", "e", " ")
    val df = Seq(
      (1L, "the theatre"), // the|" the"|a|t|r(fb)|e = 6 tokens, 1 fallback
      (2L, "rowing and arowe"), // row|ing|" a"|n(fb)|d(fb)|" a"|row|e = 8, 2
      (3L, "zzz"), // 3 fallbacks
      (4L, ""), // 0 tokens
      (5L, "héllo") // every codepoint falls back (é is NOT 'e'; h/l/o not in vocab)
    ).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        native.bpeTokenStats(col("text"), vocab).as("s"))
      .select(col("doc_id"), col("s").getItem(0), col("s").getItem(1))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((6L, 1L)), got(1L).toString)
    assert(got(2L) == ((8L, 2L)), got(2L).toString)
    assert(got(3L) == ((3L, 3L)), got(3L).toString)
    assert(got(4L) == ((0L, 0L)), got(4L).toString)
    assert(got(5L) == ((5L, 5L)), got(5L).toString)
    // sanity: the walk is deterministic under repeated evaluation
    val again = df.select(native.bpeTokenStats(col("text"), vocab)).collect()
    assert(again.length == 5)
  }

  test("bpe_token_stats SQL function registers through GraftExtensions") {
    val r = spark.sql(
      "SELECT bpe_token_stats('the fast row') AS s").head.getSeq[Long](0)
    // default vocab: " the"|"the" etc. — exact counts depend on the vocab
    // file; assert shape + sanity, the exact parity lives in the oracle
    assert(r.length == 2 && r.head > 0 && r(1) >= 0 && r(1) <= r.head)
  }

  test("BpeVocab loads the resource file with significant leading spaces") {
    val v = textanalysis.BpeVocab.Default
    assert(v.nonEmpty && v.contains(" the") && v.contains("ing"))
    assert(v.forall(t => t.nonEmpty && t.forall(_ < 128)), "vocab must be ASCII")
    assert(v.distinct.size == v.size, "vocab must be duplicate-free")
  }

  test("cosineSim matches the HOF formulation exactly") {
    import spark.implicits._
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.5, -1.5, 2.5), Seq(-0.5, 1.0, 0.25))).toDF("ea", "eb")
    val dot = "aggregate(zip_with(ea, eb, (x, y) -> x*y), cast(0 as double), (a, x) -> a + x)"
    val na = "sqrt(aggregate(ea, cast(0 as double), (a, x) -> a + x*x))"
    val nb = "sqrt(aggregate(eb, cast(0 as double), (a, x) -> a + x*x))"
    val rows = df.select(
      native.cosineSim(col("ea"), col("eb")).as("fast"),
      expr(s"$dot / ($na * $nb)").as("slow")).collect()
    rows.foreach(r => assert(r.getDouble(0) == r.getDouble(1)))
  }

  test("intDot/intSquaredL2: exact on equal-length arrays, LOUD on ragged/null (r18 guard)") {
    import spark.implicits._
    // green path: equal-length, null-free — matches the HOF fold exactly
    val ok = Seq((Seq(1L, -2L, 3L), Seq(4L, 5L, -6L))).toDF("a", "b")
    val r = ok.select(
      native.intDot(col("a"), col("b")).as("dot"),
      native.intSquaredL2(col("a"), col("b")).as("l2"),
      expr("aggregate(zip_with(a, b, (x, y) -> x*y), 0L, (acc, x) -> acc + x)").as("dotHof"),
      expr("aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), 0L, (acc, x) -> acc + x)").as("l2Hof")
    ).head
    assert(r.getLong(0) == r.getLong(2) && r.getLong(0) == 4L - 10L - 18L)
    assert(r.getLong(1) == r.getLong(3))
    // ragged arrays: the old min-length loop silently mis-summed; now the
    // kernel's domain is an enforced contract — it throws
    val ragged = Seq((Seq(1L, 2L, 3L), Seq(1L))).toDF("a", "b")
    val e1 = intercept[Exception] {
      ragged.select(native.intDot(col("a"), col("b"))).collect()
    }
    assert(e1.toString.contains("length mismatch")
      || Option(e1.getCause).exists(_.toString.contains("length mismatch")))
    // null element: previously read unspecified bytes; now throws
    val withNull = Seq((Seq[java.lang.Long](1L, null, 3L), Seq[java.lang.Long](1L, 2L, 3L)))
      .toDF("a", "b")
    val e2 = intercept[Exception] {
      withNull.select(native.intSquaredL2(col("a"), col("b"))).collect()
    }
    assert(e2.toString.contains("null array element")
      || Option(e2.getCause).exists(_.toString.contains("null array element")))
  }

  test("hyperplaneBuckets matches the HOF formulation exactly") {
    import spark.implicits._
    val nTables = 3
    val planesPerTable = 2
    val dim = 4
    val rng = new scala.util.Random(11)
    val planes = Array.fill(nTables * planesPerTable * dim)(rng.nextGaussian())
    val df = Seq(
      Seq(1.0, -2.0, 3.0, 0.5),
      Seq(-0.1, 0.0, 2.2, -5.0),
      Seq(0.0, 0.0, 0.0, 0.0)).toDF("emb")
      .withColumn("planes", typedlit(
        planes.grouped(dim).map(_.toSeq).toSeq))
    val rows = df.select(
      native.hyperplaneBuckets(col("emb"), planes, nTables, planesPerTable).as("fast"),
      expr(
        s"""transform(sequence(0, ${nTables - 1}), t ->
           | aggregate(sequence(0, ${planesPerTable - 1}), cast(0 as bigint), (acc, j) -> acc +
           |   if(aggregate(zip_with(emb, planes[t*$planesPerTable + j], (x, y) -> x*y),
           |      cast(0 as double), (a, x) -> a + x) > 0,
           |      shiftleft(cast(1 as bigint), j), cast(0 as bigint))))""".stripMargin).as("slow"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString)
    }
  }

  test("HyperplaneBuckets equality is structural, not identity (CSE-safe)") {
    import org.apache.spark.sql.graft.{ColumnBridge, HyperplaneBuckets}
    val planesA = Seq(1.0, -2.0, 0.5, 3.0)
    val planesB = Seq(1.0, -2.0, 0.5, 3.0) // distinct instance, same values
    val child = ColumnBridge.expression(col("emb"))
    val ea = HyperplaneBuckets(child, planesA, 2, 2)
    val eb = HyperplaneBuckets(child, planesB, 2, 2)
    assert(ea == eb, "semantically identical instances must compare equal")
    assert(ea.hashCode == eb.hashCode, "hashCode must agree for CSE buckets")
    assert(ea.semanticEquals(eb))
  }

  test("rollingHash is deterministic and content-sensitive") {
    import spark.implicits._
    val df = Seq("hello world", "hello world", "hello worlD").toDF("text")
    val hs = df.select(native.rollingHash(col("text"))).collect().map(_.getLong(0))
    assert(hs(0) == hs(1))
    assert(hs(0) != hs(2))
  }

  test("simHash64: similar token sets have small hamming distance") {
    import spark.implicits._
    val df = Seq(
      ("a", Seq("the", "quick", "brown", "fox", "jumps", "over", "lazy", "dog")),
      ("b", Seq("the", "quick", "brown", "fox", "jumps", "over", "lazy", "cat")),
      ("c", Seq("entirely", "different", "vocabulary", "set", "words", "here"))).toDF("id", "words")
    val hs = df.select(col("id"), native.simHash64(col("words")).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def hamming(x: Long, y: Long) = java.lang.Long.bitCount(x ^ y)
    assert(hamming(hs("a"), hs("b")) < hamming(hs("a"), hs("c")))
  }

  test("extensions register SQL functions") {
    val one = spark.sql(
      "SELECT graft_cosine(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS c").head.getDouble(0)
    assert(one == 1.0)
    val h = spark.sql("SELECT rolling_hash('x') AS h").head.getLong(0)
    assert(h == 'x'.toLong)
    assert(spark.sql("SELECT simhash64(array('a','b')) AS s").head.getLong(0) != 0L)
  }

  test("minHashSignature: identical token sets share signatures; est similarity tracks overlap") {
    import spark.implicits._
    val a = Seq("w1 w2", "w2 w3", "w3 w4", "w4 w5", "w5 w6", "w6 w7")
    val b = a.updated(5, "w6 DIFFERENT")
    val df = Seq(("a", a), ("a2", a), ("b", b)).toDF("id", "sh")
    val sigs = df.select(col("id"), native.minHashSignature(col("sh")).as("sig"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs("a") == sigs("a2"))
    val matching = sigs("a").zip(sigs("b")).count { case (x, y) => x == y }
    assert(matching > 32 && matching < 64) // ~5/7 jaccard
  }

  test("sortedIntersectCount matches array_intersect semantics") {
    import spark.implicits._
    val df = Seq((Seq(1L, 3L, 5L, 7L), Seq(2L, 3L, 5L, 9L))).toDF("a", "b")
    val n = df.select(native.sortedIntersectCount(col("a"), col("b"))).head.getInt(0)
    assert(n == 2)
  }

  test("charNgramHashes equals the naive transform formulation") {
    import spark.implicits._
    val df = Seq("abcdefg", "aaaa", "xyzxyzxyz").toDF("text")
    val fast = df.select(native.charNgramHashes(col("text"), 4).as("g"))
      .collect().map(_.getSeq[Long](0).toSet)
    val slow = df.select(expr(
      "array_distinct(transform(sequence(1, greatest(length(text)-3, 1)), i -> substring(text, i, 4)))").as("g"))
      .collect().map(_.getSeq[String](0).toSet)
    // same cardinality per row (hash set vs string set)
    fast.zip(slow).foreach { case (f, sl) => assert(f.size == sl.size) }
    // strings shorter than n produce no (partial) grams
    import spark.implicits._
    assert(Seq("abc").toDF("text")
      .select(native.charNgramHashes(col("text"), 4)).head.getSeq[Long](0).isEmpty)
  }

  test("optimizer rule rewrites window top-k into TopKPerKey") {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val df = Tables.orders(spark, "/root/testdata/sf0.001")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(!plan.contains("Window"), plan)
    // and the rewritten plan returns the window-formulation rows
    val viaWindow = graft.operators.Relational.windowRank(spark, "/root/testdata/sf0.001")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
      .collect().map(_.toSeq).toSet
    assert(df.collect().map(_.toSeq).toSet == viaWindow)
  }

  test("global row_number top-k is NOT rewritten and stays globally correct") {
    import org.apache.spark.sql.expressions.Window
    // No partitionBy: `row_number() OVER (ORDER BY ...) <= 5` must return
    // exactly 5 rows total, never 5 per partition. The rewrite rule must
    // leave this shape alone (TopKPerKey's per-key exchange can't satisfy it).
    val w = Window.orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val df = Tables.orders(spark, "/root/testdata/sf0.001")
      .repartition(8)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("o_orderkey"), col("o_totalprice"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("TopKPerKey"), plan)
    val rows = df.collect()
    assert(rows.length == 5, s"expected global top-5, got ${rows.length} rows")
    val expected = Tables.orders(spark, "/root/testdata/sf0.001")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select(col("o_orderkey"), col("o_totalprice"))
      .limit(5).collect().map(_.toSeq).toSet
    assert(rows.map(_.toSeq).toSet == expected)
  }

  test("TopK.perKey rejects empty grouping keys") {
    val df = Tables.orders(spark, "/root/testdata/sf0.001")
    intercept[IllegalArgumentException] {
      graft.operators.TopK.perKey(df, Seq.empty, Seq("o_totalprice" -> true), 3)
    }
  }

  test("gearChunkEnds: boundary contract, codegen == interpreted, CDC shift robustness") {
    import spark.implicits._
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val got = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", native.gearChunkEnds($"text").as("ends"))
      .as[(Long, Seq[Int])].collect().toMap
    docs.foreach { case (id, text) =>
      val n = text.codePointCount(0, text.length)
      val ends = got(id)
      assert(ends.nonEmpty && ends.last == n, s"doc $id must close at $n: $ends")
      assert(ends == ends.sorted && ends.distinct == ends, s"doc $id ends ordered")
      // every chunk except possibly the last respects the min length
      ends.zip(0 +: ends.init).init.foreach { case (e, s) =>
        assert(e - s >= 16, s"doc $id chunk ($s,$e] under min length")
      }
    }
    // interpreted eval equals codegen
    val df = docs.take(20).toSeq.toDF("doc_id", "text")
    val on = df.select(native.gearChunkEnds(col("text"))).collect().map(_.getSeq[Int](0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val off = df.select(native.gearChunkEnds(col("text"))).collect().map(_.getSeq[Int](0))
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    assert(on.toSeq == off.toSeq)
    // THE property fixed-size chunking lacks: prepending a prefix leaves
    // the chunk set of the unshifted suffix largely intact (the Gear
    // hash resynchronizes at the first shared boundary)
    val base = docs.maxBy(_._2.length)._2
    def chunksOf(s: String): Seq[String] = {
      val ends = Seq((0L, s)).toDF("doc_id", "text")
        .select(native.gearChunkEnds(col("text"))).head.getSeq[Int](0)
      ends.zip(0 +: ends.init).map { case (e, st) =>
        s.substring(s.offsetByCodePoints(0, st), s.offsetByCodePoints(0, e))
      }
    }
    val orig = chunksOf(base).toSet
    val shifted = chunksOf("inserted prefix words here " + base).toSet
    val shared = (orig & shifted).size
    assert(shared * 2 >= orig.size,
      s"CDC lost shift robustness: only $shared of ${orig.size} chunks survive a prefix insert")
  }

  test("every native expression COMPILES under CODEGEN_ONLY (no silent interpreted fallback)") {
    // The round-13 lesson: a doGenCode bug that fails Janino COMPILATION
    // is invisible in tests (Spark falls back to interpreted eval with a
    // warning) and only surfaces in a stock session. CODEGEN_ONLY turns
    // the fallback into a hard error, so this test pins compilability
    // for the whole native surface.
    import spark.implicits._
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val df = Seq(("some text with words", Seq(1.0, 2.0), Seq(2.0, 1.0),
        Seq("tok", "other"))).toDF("t", "ea", "eb", "toks")
      val out = df.select(
        native.cosineSim(col("ea"), col("eb")),
        native.dotProduct(col("ea"), col("eb")),
        native.rollingHash(col("t")),
        native.simHash64(col("toks")),
        native.minHashSignature(col("toks")),
        native.charNgramHashes(col("t"), 4),
        native.gearChunkEnds(col("t"), 4, 8),
        native.bpeTokenStats(col("t"), Seq("so", "me", "te", "xt")),
        native.hyperplaneBuckets(col("ea"), Array(0.5, -0.5, 1.0, 0.25), 2, 1),
        native.sortedIntersectCount(
          expr("array(1L, 2L, 3L)"), expr("array(2L, 3L, 4L)")),
        native.intSquaredL2(
          expr("array(1L, 2L, 3L)"), expr("array(2L, 4L, 6L)")),
        native.nearestCells(expr("array(1L, 2L)"), Seq(null, 7L), Seq(0L, 0L, 1L, 2L), 1)).head
      assert(!out.anyNull)
    } finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
  }

  test("nearestCells equals a cross join ranked by a (dist_sq, cell) window, ties and null cell included") {
    import spark.implicits._
    // 2-d centroids; null sorts first, as in an ascending window order
    val cells: Seq[java.lang.Long] = Seq(null, 1L, 2L, 5L)
    val cents = Seq(0L, 0L, 2L, 0L, 0L, 2L, -2L, 0L)
    val rnd = new scala.util.Random(7)
    // (1,1) and (2,2) tie on several cells; the rest are random
    val vectors = (Seq(Seq(0L, 0L), Seq(1L, 1L), Seq(2L, 2L)) ++
      Seq.fill(40)(Seq.fill(2)(rnd.nextInt(7).toLong - 3)))
      .zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "ie")
    val table = cells.zip(cents.grouped(2).toSeq).map { case (c, x) => (c, x) }
      .toDF("cell", "cent")
    for (k <- Seq(2, 10)) {
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
        .orderBy(col("dist_sq"), col("cell"))
      val want = vectors.crossJoin(table)
        .withColumn("dist_sq", native.intSquaredL2(col("ie"), col("cent")))
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
        .select(col("id"), col("rn"), col("cell"), col("dist_sq"))
        .collect().map(_.toString).sorted.toSeq
      def got() = vectors
        .select(col("id"), posexplode(native.nearestCells(col("ie"), cells, cents, k)))
        .select(col("id"), (col("pos") + 1).as("rn"), col("col.cell"), col("col.dist_sq"))
        .collect().map(_.toString).sorted.toSeq
      assert(got() == want, s"k=$k codegen")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try assert(got() == want, s"k=$k interpreted")
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
      }
    }
    // a null vector has no cells (it has no coordinates to rank)
    val none = Seq((1L, Option.empty[Seq[Long]])).toDF("id", "ie")
      .select(native.nearestCells(col("ie"), cells, cents, 2)).head
    assert(none.getSeq[Any](0).isEmpty)
    val ragged = Seq(Seq(1L, 2L, 3L)).toDF("ie")
      .select(native.nearestCells(col("ie"), cells, cents, 2))
    val e = intercept[Exception](ragged.collect())
    assert(e.getMessage.contains("array length mismatch"), e.getMessage)
  }

  test("codegen path produces same results as interpreted eval") {
    import spark.implicits._
    // force both paths: wholestage on (default) vs off
    val df = Seq((Seq(1.0, 2.0), Seq(2.0, 1.0))).toDF("ea", "eb")
    val on = df.select(native.cosineSim(col("ea"), col("eb"))).head.getDouble(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val off = df.select(native.cosineSim(col("ea"), col("eb"))).head.getDouble(0)
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    assert(on == off)
  }
}
