package graft.textanalysis

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Checkpoints.CheckpointOps

import graft.Tables

/** Subword vocabulary for the greedy BPE-style tokenizer: loaded from a
  * vocab FILE (resource `graft/bpe_vocab.txt` by default — swap in a real
  * tokenizer's merged vocab via [[fromLines]]). Lines are verbatim tokens:
  * leading spaces are significant (GPT-style space-prefixed word tokens),
  * so the loader must never trim.
  */
object BpeVocab {
  lazy val Default: Seq[String] = {
    val in = getClass.getResourceAsStream("/graft/bpe_vocab.txt")
    require(in != null, "missing resource graft/bpe_vocab.txt")
    try fromLines(scala.io.Source.fromInputStream(in, "UTF-8").getLines())
    finally in.close()
  }

  def fromLines(lines: Iterator[String]): Seq[String] =
    lines.map(_.stripSuffix("\r")).filter(_.nonEmpty).toSeq
}

/** Text-analysis operators over the `documents` table — the quality /
  * profiling stage of a training-data pipeline. Everything is built from
  * codegen'd builtin functions (no UDFs), so the whole stage stays inside
  * WholeStageCodegen and scales linearly with a single pass over the text.
  */
object Text {

  private val noSpaceLen: Column = length(expr("replace(text, ' ', '')"))
  private val nTokens: Column = (length(col("text")) - noSpaceLen + 1).cast("bigint")
  private val nPunct: Column =
    (length(col("text")) - length(regexp_replace(col("text"), "[.,!?;:]", ""))).cast("bigint")
  private val nDigits: Column =
    (length(col("text")) - length(regexp_replace(col("text"), "[0-9]", ""))).cast("bigint")

  /** Per-document counting stats — token/punct/digit counts via
    * engine-portable length/replace arithmetic (identical in DuckDB).
    */
  def stats(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      length(col("text")).cast("bigint").as("n_chars_calc"),
      nTokens.as("n_tokens"),
      nPunct.as("n_punct"),
      nDigits.as("n_digits"),
      (noSpaceLen.cast("double") / (length(col("text")) - noSpaceLen + 1)).as("avg_token_len"))

  val statsSql: String =
    """SELECT doc_id,
      | LENGTH(text) AS n_chars_calc,
      | LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_tokens,
      | LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')) AS n_punct,
      | LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')) AS n_digits,
      | CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE) / (LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1) AS avg_token_len
      |FROM documents""".stripMargin

  /** Composite quality score (length / punctuation / digit ratios) + filter
    * flag — the "keep or drop" signal of a pretraining data pipeline.
    * Expression shape mirrored exactly in the oracle so doubles match.
    */
  def quality(spark: SparkSession, dir: String): DataFrame = {
    val lenScore = least(lit(1.0), nTokens / 100.0)
    val punctRatio = nPunct.cast("double") / length(col("text"))
    val digitRatio = nDigits.cast("double") / length(col("text"))
    val score = lit(0.5) * lenScore + lit(0.25) * (lit(1.0) - punctRatio) +
      lit(0.25) * (lit(1.0) - digitRatio)
    Tables.documents(spark, dir).select(
      col("doc_id"),
      score.as("quality_score"),
      (score >= 0.75).as("passes"))
  }

  val qualitySql: String = {
    val nTok = "(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)"
    val nPun = "(LENGTH(text) - LENGTH(regexp_replace(text, '[.,!?;:]', '', 'g')))"
    val nDig = "(LENGTH(text) - LENGTH(regexp_replace(text, '[0-9]', '', 'g')))"
    val score = s"0.5*LEAST(1.0, $nTok/100.0) + 0.25*(1.0 - CAST($nPun AS DOUBLE)/LENGTH(text)) + 0.25*(1.0 - CAST($nDig AS DOUBLE)/LENGTH(text))"
    s"""SELECT doc_id, $score AS quality_score, ($score) >= 0.75 AS passes
       |FROM documents""".stripMargin
  }

  private val stopwords = Map(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that", "it", "for"),
    "es" -> Seq("el", "la", "de", "y", "que", "en", "los", "un", "una", "es"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein", "zu", "mit", "den"),
    "fr" -> Seq("le", "la", "et", "les", "des", "est", "un", "une", "que", "pour"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "我", "不", "人", "这"))

  // diacritic character classes that discriminate the Latin-script languages
  private val diacritics = Map(
    "es" -> "[ñ¿¡áíóú]", "de" -> "[äöüß]", "fr" -> "[çêâàùèëîïôœ]")

  // zero-signal tie-break = corpus prior (most common language wins a tie);
  // the struct argmax compares (score, prior) before the lang string
  private val prior = Map("en" -> 5, "es" -> 4, "fr" -> 3, "de" -> 2, "zh" -> 1)

  /** Adds `pred_lang` to any frame with a `text` column: stopword hits per
    * language + a diacritic signal for es/de/fr + a CJK-codepoint signal for
    * zh, argmax via struct-ordered GREATEST. Pure codegen'd builtins.
    */
  private[graft] def classify(df: DataFrame): DataFrame = {
    val base = df.withColumn("words", split(col("text"), " "))
    val scored = stopwords.foldLeft(base) { case (d, (lang, sw)) =>
      val inList = sw.map(w => s"'$w'").mkString(", ")
      val hits = expr(s"size(filter(words, w -> w IN ($inList)))")
      val extra =
        if (lang == "zh")
          length(regexp_replace(col("text"), "[^\\u4e00-\\u9fff]", "")) * 2
        else diacritics.get(lang)
          .map(re => length(col("text")) - length(regexp_replace(col("text"), re, "")))
          .getOrElse(lit(0))
      d.withColumn(s"score_$lang", hits + extra)
    }
    val candidates = stopwords.keys.toSeq.sorted.map(l =>
      struct(col(s"score_$l").as("score"), lit(prior(l)).as("prior"), lit(l).as("lang")))
    scored
      .withColumn("pred_lang", greatest(candidates: _*).getField("lang"))
      .drop("words" +: stopwords.keys.toSeq.map("score_" + _): _*)
  }

  /** Heuristic language ID over `documents`; oracle-checked against
    * `langIdSql` (generated from the SAME stopword/diacritic/prior maps so
    * the two sides cannot drift). NOTE: the synthetic testdata's `lang`
    * label is statistically independent of its text (one shared 31-word
    * English vocabulary for every label), so label accuracy is bounded by
    * the majority-class share; the classifier's real quality is measured on
    * genuine-language fixtures in DedupAnnSpec.
    */
  def langId(spark: SparkSession, dir: String): DataFrame =
    classify(Tables.documents(spark, dir)).select(
      col("doc_id"), col("pred_lang"), col("lang").as("labeled_lang"))

  /** DuckDB mirror of `classify`+`langId`: one UNION ALL branch per
    * language computes the identical integer score (stopword hits via a
    * list_filter lambda + diacritic / CJK counts; RE2 needs the explicit
    * 'g' flag and \x{...} escapes where Java uses \u...), then the
    * struct-GREATEST argmax becomes row_number() ORDER BY score DESC,
    * prior DESC — priors are distinct so the winner is unique.
    */
  val langIdSql: String = {
    val branches = stopwords.keys.toSeq.sorted.map { l =>
      val inList = stopwords(l).map(w => s"'$w'").mkString(", ")
      val hits = s"len(list_filter(string_split(text, ' '), w -> w IN ($inList)))"
      val extra = l match {
        case "zh" => " + 2 * length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))"
        case _ => diacritics.get(l)
          .map(re => s" + (length(text) - length(regexp_replace(text, '$re', '', 'g')))")
          .getOrElse("")
      }
      s"  SELECT doc_id, lang, '$l' AS cand, ${prior(l)} AS prior, $hits$extra AS score FROM documents"
    }
    s"""WITH s AS (
       |${branches.mkString("\n  UNION ALL\n")}
       |)
       |SELECT doc_id, cand AS pred_lang, lang AS labeled_lang
       |FROM (SELECT doc_id, lang, cand,
       |        row_number() OVER (PARTITION BY doc_id
       |                           ORDER BY score DESC, prior DESC) AS rn
       |      FROM s) t
       |WHERE rn = 1""".stripMargin
  }

  /** Word-boundary blocklist filtering — the "banned terms" pass every
    * web-corpus curation pipeline runs before training (slur lists, spam
    * markers, boilerplate markers). Exact-token match, never substring
    * (a blocklist entry "ass" must not kill "class" — the textbook
    * blocklist bug). Tokens split on `\W+` runs — the same word/non-word
    * boundary the text_token_count regex families use — so terms adjacent
    * to punctuation/newlines ("ass.", "ass\n") are caught on real text,
    * not just the space-delimited corpus. Membership is `isin` over the
    * term list, which Catalyst's OptimizeIn rewrites to an `InSet` hash
    * set above the conversion threshold — O(1) per token however large
    * the blocklist, one codegen scan, zero shuffle. Emits the flagged
    * docs with their hit count and the distinct matched terms (sorted,
    * comma-joined, so the row hash is deterministic). At 100 TB the cost
    * is the scan it shares with every other per-doc signal; the 50k-term
    * per-doc cost is measured flat vs 3 terms (tools/BlocklistScale,
    * docs/BENCH_NOTES.md round-16 addendum).
    */
  def blocklist(spark: SparkSession, dir: String): DataFrame =
    blocklistOf(Tables.documents(spark, dir), BannedTerms)

  private[graft] def blocklistOf(documents: DataFrame, terms: Seq[String]): DataFrame = {
    val hits = filter(split(col("text"), "\\W+"), w => w.isin(terms: _*))
    documents
      .select(col("doc_id"), hits.as("hits"))
      .filter(size(col("hits")) > 0)
      .select(
        col("doc_id"),
        size(col("hits")).cast("bigint").as("n_hits"),
        array_join(array_sort(array_distinct(col("hits"))), ",").as("matched"))
  }

  private val BannedTerms = Seq("slow", "stream", "vector")

  val blocklistSql: String = {
    // '' is SQL's quote escape — a future term carrying an apostrophe
    // must not break (or inject into) the oracle query
    val list = BannedTerms.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    s"""SELECT doc_id,
       | CAST(len(list_filter(regexp_split_to_array(text, '\\W+'),
       |          w -> list_contains([$list], w))) AS BIGINT) AS n_hits,
       | array_to_string(list_sort(list_distinct(
       |   list_filter(regexp_split_to_array(text, '\\W+'),
       |               w -> list_contains([$list], w)))), ',') AS matched
       |FROM documents
       |WHERE len(list_filter(regexp_split_to_array(text, '\\W+'),
       |          w -> list_contains([$list], w))) > 0""".stripMargin
  }

  /** Token counting two ways: whitespace tokens and a BPE-ish pre-tokenizer
    * count (the regex families GPT-style tokenizers split on: letter runs /
    * digit runs / punctuation runs, each with an optional leading space) —
    * the "how many tokens will this cost" profiling signal of an LLM data
    * pipeline. The pattern avoids lookahead so Java regex (Spark) and RE2
    * (DuckDB) agree; one codegen pass, oracle-checked.
    */
  def tokenCount(spark: SparkSession, dir: String): DataFrame = {
    val bpe = size(expr(
      """regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+', 0)"""))
      .cast("bigint")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      nTokens.as("n_ws_tokens"),
      bpe.as("n_bpe_tokens"),
      (length(col("text")).cast("double") / greatest(bpe, lit(1L))).as("chars_per_token"))
  }

  val tokenCountSql: String =
    """SELECT doc_id,
      | LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 AS n_ws_tokens,
      | CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS BIGINT) AS n_bpe_tokens,
      | CAST(LENGTH(text) AS DOUBLE) / GREATEST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')), 1) AS chars_per_token
      |FROM documents""".stripMargin

  /** Vocab-driven subword token accounting (round-4 verdict "real
    * tokenizer" item): greedy longest-match over a BPE-style merged vocab
    * (the WordPiece/SentencePiece fast path — see `BpeMatcher`), via a
    * codegen expression; one pass, zero shuffle. Reports the token count,
    * the fallback count (codepoints no vocab entry covers — the UNK rate),
    * and chars-per-token compression. Oracle: DuckDB replays the identical
    * greedy walk as a recursive CTE over the same vocab literal (generated
    * from the same loaded file, so the two sides cannot drift).
    */
  def bpeTokens(spark: SparkSession, dir: String): DataFrame =
    bpeTokensOf(Tables.documents(spark, dir), BpeVocab.Default)

  private[graft] def bpeTokensOf(documents: DataFrame, vocab: Seq[String]): DataFrame =
    documents
      .withColumn("bpe", graft.functions.native.bpeTokenStats(col("text"), vocab))
      .select(
        col("doc_id"),
        col("bpe").getItem(0).as("n_tokens"),
        col("bpe").getItem(1).as("n_fallback"),
        (length(col("text")).cast("double") /
          greatest(col("bpe").getItem(0), lit(1L))).as("chars_per_token"))

  val bpeTokensSql: String = {
    val toks = BpeVocab.Default.map(t => s"'${t.replace("'", "''")}'").mkString(", ")
    // ONE vocab scan per step: the lateral aggregate yields zero rows on
    // no-match (HAVING), and the LEFT JOIN preserves the walk row with a
    // NULL len — both the advance and the fallback flag read the same
    // binding instead of re-running the 155-token scan twice.
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id, text, length(text) AS n FROM documents),
       |walk(doc_id, pos, ntok, nfb) AS (
       |  SELECT doc_id, 1, CAST(0 AS BIGINT), CAST(0 AS BIGINT) FROM d
       |  UNION ALL
       |  SELECT w.doc_id,
       |         w.pos + CAST(coalesce(m.len, 1) AS INT),
       |         w.ntok + 1,
       |         w.nfb + CASE WHEN m.len IS NULL THEN 1 ELSE 0 END
       |  FROM walk w
       |  JOIN d ON d.doc_id = w.doc_id
       |  LEFT JOIN LATERAL (
       |    SELECT max(len(v.tok)) AS len
       |    FROM (SELECT unnest([$toks]) AS tok) v
       |    WHERE substring(d.text, w.pos, len(v.tok)) = v.tok
       |    HAVING max(len(v.tok)) IS NOT NULL) m ON true
       |  WHERE w.pos <= d.n)
       |SELECT w.doc_id, MAX(w.ntok) AS n_tokens, MAX(w.nfb) AS n_fallback,
       |       CAST(ANY_VALUE(d.n) AS DOUBLE) / GREATEST(MAX(w.ntok), 1) AS chars_per_token
       |FROM walk w JOIN d ON d.doc_id = w.doc_id
       |GROUP BY 1""".stripMargin
  }

  /** Content fingerprint via md5 — portable across engines. */
  def fingerprintMd5(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(col("doc_id"), md5(col("text")).as("fp"))

  val fingerprintMd5Sql: String =
    "SELECT doc_id, MD5(text) AS fp FROM documents"

  /** Content fingerprint via graft's native 64-bit rolling hash (codegen
    * Catalyst expression) — cheaper than md5. Oracle-checked: DuckDB
    * emulates the mod-2⁶⁴ polynomial with HUGEINT (see `fingerprintSql`).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      graft.functions.native.rollingHash(col("text")).as("fp64"))

  /** DuckDB mirror of the native rolling hash (round-4 verdict item 1):
    * h = h·1000003 + byteᵢ mod 2⁶⁴ over the utf-8 payload, folded in byte
    * order with list_reduce over 128-bit HUGEINTs (each step's product is
    * < 2⁸⁴, far inside HUGEINT range), then re-wrapped to Java's signed
    * 64-bit long. Bytes come from hex-string windows — the same
    * byte-faithful slicing proven in `frameSampleSql`. The empty document
    * hashes to 0 on both sides.
    */
  val fingerprintSql: String =
    """WITH d AS (
      |  SELECT doc_id, hex(encode(text)) AS hx,
      |         octet_length(encode(text)) AS nb FROM documents),
      |b AS (
      |  SELECT doc_id, i,
      |    CAST((strpos('0123456789ABCDEF', substring(hx, i*2+1, 1)) - 1) * 16 +
      |         (strpos('0123456789ABCDEF', substring(hx, i*2+2, 1)) - 1) AS HUGEINT) AS byte
      |  FROM (SELECT doc_id, hx, unnest(generate_series(0, nb-1)) AS i FROM d) t),
      |h AS (
      |  SELECT doc_id, list_reduce(list(byte ORDER BY i),
      |    (acc, x) -> (acc * 1000003 + x) % CAST('18446744073709551616' AS HUGEINT)) AS hu
      |  FROM b GROUP BY doc_id)
      |SELECT d.doc_id,
      |  CAST(CASE WHEN h.hu IS NULL THEN 0
      |            WHEN h.hu >= CAST('9223372036854775808' AS HUGEINT)
      |            THEN h.hu - CAST('18446744073709551616' AS HUGEINT)
      |            ELSE h.hu END AS BIGINT) AS fp64
      |FROM d LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin

  // PII patterns shared by the Spark plan and the DuckDB oracle — built
  // from constructs Java regex and RE2 interpret identically (character
  // classes and + quantifiers only: no lookaround, no backrefs, no {m,n}).
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z][A-Za-z]+"
  private[graft] val UrlRe = "https?://[A-Za-z0-9./_%?=&#~:-]+"
  private[graft] val PhoneRe = "[0-9][0-9][0-9][-.][0-9][0-9][0-9][-.][0-9][0-9][0-9][0-9]"

  /** PII / URL scrub — the redaction stage of a training-data pipeline:
    * count and redact email addresses, URLs, and phone-shaped tokens.
    * Redaction order is fixed (emails → URLs → phones) because the
    * patterns can overlap (an email inside a URL query string); counts are
    * taken BEFORE any replacement so each column reports matches in the
    * original text. Pure map stage — regex builtins, one codegen pass,
    * zero shuffle; the scrubbed text is fingerprinted (md5) so the oracle
    * hash-checks the full redacted output without shipping the text.
    */
  def scrubPii(spark: SparkSession, dir: String): DataFrame =
    scrubPiiOf(Tables.documents(spark, dir))

  /** THE redaction expression — fixed order (emails → URLs → phones,
    * because the patterns can overlap), shared by the query profile, the
    * Pipeline stage, and the streaming chain so the order invariant has
    * exactly one home.
    */
  def scrubExpr(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      PhoneRe, "<PHONE>")

  private[graft] def scrubPiiOf(documents: DataFrame): DataFrame = {
    val scrubbed = scrubExpr(col("text"))
    documents.select(
      col("doc_id"),
      size(expr(s"regexp_extract_all(text, '$EmailRe', 0)")).cast("bigint").as("n_emails"),
      size(expr(s"regexp_extract_all(text, '$UrlRe', 0)")).cast("bigint").as("n_urls"),
      size(expr(s"regexp_extract_all(text, '$PhoneRe', 0)")).cast("bigint").as("n_phones"),
      length(scrubbed).cast("bigint").as("scrubbed_len"),
      md5(scrubbed).as("scrubbed_md5"))
  }

  val scrubPiiSql: String = {
    val scrubbed = "regexp_replace(regexp_replace(regexp_replace(text, " +
      s"'$EmailRe', '<EMAIL>', 'g'), '$UrlRe', '<URL>', 'g'), '$PhoneRe', '<PHONE>', 'g')"
    s"""SELECT doc_id,
       | CAST(len(regexp_extract_all(text, '$EmailRe')) AS BIGINT) AS n_emails,
       | CAST(len(regexp_extract_all(text, '$UrlRe')) AS BIGINT) AS n_urls,
       | CAST(len(regexp_extract_all(text, '$PhoneRe')) AS BIGINT) AS n_phones,
       | CAST(LENGTH($scrubbed) AS BIGINT) AS scrubbed_len,
       | MD5($scrubbed) AS scrubbed_md5
       |FROM documents""".stripMargin
  }

  /** Top terms per document by tf/df ratio (TF-IDF shape) — scored in
    * exact integer arithmetic ((tf*1e6) div df) so the ranking is
    * oracle-checkable; a float idf=ln(N/df) would differ across libm
    * implementations.
    */
  def topTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tokens = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
    val tf = tokens.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(expr("(tf * 1000000) div df").desc, col("term"))
    tf.join(df, "term")
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rnk"))
  }

  val topTermsSql: String =
    """WITH tokens AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tokens GROUP BY 1, 2),
      |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1)
      |SELECT doc_id, term, tf, df, rnk FROM (
      | SELECT t.doc_id, t.term, t.tf, d.df,
      |  ROW_NUMBER() OVER (PARTITION BY t.doc_id
      |    ORDER BY (t.tf*1000000)//d.df DESC, t.term) AS rnk
      | FROM tf t JOIN df d USING (term)) x
      |WHERE rnk <= 3""".stripMargin

  /** Vocabulary coverage curve — the tokenizer-design primitive: what
    * fraction of all corpus tokens does a top-N frequency vocabulary
    * cover, at each N in a small size panel? (This is the curve you read
    * before choosing a vocab budget; the knee is where BPE merges stop
    * paying.) Coverage is reported in exact ppm: products run through
    * decimal(38,0)/HUGEINT before the integral divide, so there is no
    * 2⁶³ ceiling on corpus token counts (a 100 TB corpus passes 9.2
    * trillion tokens, where a BIGINT·1e6 product would wrap).
    *
    * Scale shape: ONE corpus-token shuffle (term counts, map-side
    * partials); the rank window sorts only the DISTINCT vocabulary
    * (bounded ≪ corpus, same justification as bpe_train); the 3-row
    * size panel is a broadcast nested-loop; totals are single-row
    * broadcasts. No corpus-sized row ever crosses a second shuffle.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame =
    vocabCoverage(spark, dir, VocabSizes)

  /** Size panel for the query entry: the fixture corpus has a 31-term
    * vocabulary, so {10, 30, 10000} exercises partial coverage, the
    * knee, and saturation; a real tokenizer sweep passes {2¹⁴..2¹⁷}.
    */
  private val VocabSizes = Seq(10L, 30L, 10000L)

  /** The rank over the term-frequency aggregate is TWO-PHASE (round 12;
    * no global window): range-repartition terms by the rank key so each
    * partition owns a contiguous rank range, rank locally with a
    * key-partitioned window, then add broadcast per-partition offsets
    * (a P-row bounded self-join sum, P = cluster parallelism — never a
    * single-partition exchange). Under Heaps' law a 100 TB corpus has
    * ~1e9+ distinct terms; the old global row_number pushed that whole
    * vocab through one task's sort, this spreads it across the cluster.
    * The repartitioned frame is lineage-cut so the offset job and the
    * rank job observe the SAME range boundaries (RangePartitioner
    * samples per execution) and the corpus is scanned once.
    */
  def vocabCoverage(spark: SparkSession, dir: String, sizes: Seq[Long]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.Checkpoints.CheckpointOps
    val toks = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
    val counts = toks.groupBy(col("term")).agg(count(lit(1)).as("n"))
    val p = spark.sparkContext.defaultParallelism
    val parted = counts
      .repartitionByRange(p, col("n").desc, col("term"))
      .withColumn("pid", spark_partition_id())
      .cutLineage() // one corpus scan; pins boundaries for both consumers
    val local = parted.withColumn("lrnk", row_number()
      .over(Window.partitionBy(col("pid"))
        .orderBy(col("n").desc, col("term"))).cast("bigint"))
    val offs = parted.groupBy(col("pid"))
      .agg(count(lit(1)).cast("bigint").as("nterms"))
    val peer = offs.select(col("pid").as("pid2"), col("nterms").as("nterms2"))
    val rankOff = offs.join(broadcast(peer), col("pid2") < col("pid"), "left")
      .groupBy(col("pid"))
      .agg(coalesce(sum(col("nterms2")), lit(0L)).as("rnk_off"))
    val ranked = local.join(broadcast(rankOff), Seq("pid"))
      .withColumn("rnk", col("lrnk") + col("rnk_off"))
    val tot = parted.agg(sum(col("n")).cast("bigint").as("total_tokens"))
    val sizesDf = spark.sql(
      s"SELECT explode(array(${sizes.map(s => s"bigint($s)").mkString(", ")})) AS vocab_size")
    ranked.join(broadcast(sizesDf), col("rnk") <= col("vocab_size"))
      .groupBy(col("vocab_size"))
      .agg(sum(col("n")).as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .withColumn("cov_ppm", expr(
        "cast((cast(covered_tokens as decimal(38,0)) * 1000000) div total_tokens as bigint)"))
      .orderBy(col("vocab_size"))
      .select(col("vocab_size"), col("covered_tokens"), col("total_tokens"), col("cov_ppm"))
  }

  /** DuckDB mirror of [[vocabCoverage]] — same tokenization, the same
    * (n DESC, term) rank tie-break, and the HUGEINT product before the
    * integral divide mirroring Spark's decimal(38,0) widening.
    */
  val vocabCoverageSql: String =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
      |counts AS (SELECT term, COUNT(*) AS n FROM toks GROUP BY 1),
      |ranked AS (SELECT term, n, ROW_NUMBER() OVER (ORDER BY n DESC, term) AS rnk FROM counts),
      |tot AS (SELECT COUNT(*) AS total_tokens FROM toks),
      |sizes AS (SELECT unnest([10, 30, 10000]) AS vocab_size)
      |SELECT CAST(vocab_size AS BIGINT) AS vocab_size,
      |       CAST(SUM(n) AS BIGINT) AS covered_tokens,
      |       CAST(total_tokens AS BIGINT) AS total_tokens,
      |       CAST(CAST(SUM(n) AS HUGEINT) * 1000000 // total_tokens AS BIGINT) AS cov_ppm
      |FROM ranked JOIN sizes ON rnk <= vocab_size, tot
      |GROUP BY vocab_size, total_tokens
      |ORDER BY vocab_size""".stripMargin

  /** Corpus-level collocation mining: the 100 strongest bigram
    * collocations by PMI-style lift — the classic phrase-discovery pass a
    * tokenizer-training pipeline runs before merging multi-word units.
    *
    * Score: lift = p(w1,w2) / (p(w1)·p(w2)), reported as
    * floor(lift·1000). log(lift) (true PMI) is MONOTONE in lift, so the
    * ranking is PMI's without pulling libm's log into the portability
    * surface; the double multiply/divide chain is written in the same
    * parenthesized order in both engines (counts ≤ 2⁵³ are exact doubles,
    * IEEE ops are deterministic), so the floored BIGINT hash-matches.
    *
    * Scale shape: bigrams are built INSIDE the row (zip_with over the
    * token array — no positional self-join, no shuffle to form pairs);
    * the two count aggregations shuffle (w1,w2)/(w) keys with map-side
    * partials; the corpus totals are single-row broadcasts; the final
    * top-100 is TakeOrderedAndProject (no global sort materialization).
    * min-count 5 prunes the join inputs before the unigram attach.
    */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val ws = Tables.documents(spark, dir).select(split(col("text"), " ").as("ws"))
    val toks = ws.select(explode(col("ws")).as("w"))
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("n_w"))
    val nTok = toks.agg(count(lit(1)).as("n_tokens"))
    val bigs = ws.select(explode(expr(
        "zip_with(slice(ws, 1, size(ws)-1), slice(ws, 2, size(ws)-1), (a, b) -> struct(a, b))")).as("bg"))
      .select(col("bg.a").as("w1"), col("bg.b").as("w2"))
    val big = bigs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_big"))
      .filter(col("n_big") >= 5)
    val nBig = bigs.agg(count(lit(1)).as("n_bigrams"))
    big
      .join(uni.select(col("w").as("w1"), col("n_w").as("n_w1")), "w1")
      .join(uni.select(col("w").as("w2"), col("n_w").as("n_w2")), "w2")
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBig))
      .withColumn("lift_milli", expr(
        "cast(floor(cast(n_big as double) * cast(n_tokens as double) * cast(n_tokens as double)" +
          " / (cast(n_bigrams as double) * cast(n_w1 as double) * cast(n_w2 as double)) * 1000.0) as bigint)"))
      .orderBy(col("lift_milli").desc, col("w1"), col("w2"))
      .limit(100)
      .select(col("w1"), col("w2"), col("n_big"), col("lift_milli"))
  }

  /** DuckDB mirror of [[collocations]] — the same space tokenization,
    * positional bigram build, min-count cut, and the IDENTICALLY
    * parenthesized double chain for the floored lift.
    */
  val collocationsSql: String =
    """WITH s AS (SELECT string_split(text, ' ') AS ws FROM documents),
      |toks AS (SELECT unnest(ws) AS w FROM s),
      |uni AS (SELECT w, COUNT(*) AS n_w FROM toks GROUP BY 1),
      |nt AS (SELECT COUNT(*) AS n_tokens FROM toks),
      |bigs AS (SELECT ws[i] AS w1, ws[i + 1] AS w2
      |         FROM s, unnest(generate_series(1, len(ws) - 1)) t(i)),
      |big AS (SELECT w1, w2, COUNT(*) AS n_big FROM bigs
      |        GROUP BY 1, 2 HAVING COUNT(*) >= 5),
      |nb AS (SELECT COUNT(*) AS n_bigrams FROM bigs)
      |SELECT b.w1, b.w2, b.n_big,
      |  CAST(floor(CAST(b.n_big AS DOUBLE) * CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)
      |    / (CAST(n_bigrams AS DOUBLE) * CAST(u1.n_w AS DOUBLE) * CAST(u2.n_w AS DOUBLE)) * 1000.0) AS BIGINT) AS lift_milli
      |FROM big b
      |JOIN uni u1 ON b.w1 = u1.w
      |JOIN uni u2 ON b.w2 = u2.w
      |CROSS JOIN nt CROSS JOIN nb
      |ORDER BY lift_milli DESC, b.w1, b.w2
      |LIMIT 100""".stripMargin

  /** Intra-document repetition profile (Gopher-style repetition filters):
    * duplicate-word fraction and duplicate-2-gram fraction per document.
    * Everything is computed INSIDE the row with array functions — no
    * explode, no shuffle, one codegen pass; at 100 TB this is a pure map
    * stage. (The cross-document analogue is the dedup family.)
    */
  def repetition(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .withColumn("w", split(col("text"), " "))
      .withColumn("g2", expr(
        "transform(sequence(1, greatest(size(w) - 1, 1)), i -> array_join(slice(w, i, 2), ' '))"))
      .select(
        col("doc_id"),
        size(col("w")).cast("bigint").as("n_words"),
        size(array_distinct(col("w"))).cast("bigint").as("n_distinct_words"),
        expr("cast(size(w) - size(array_distinct(w)) as double) / size(w)")
          .as("dup_word_frac"),
        expr("cast(size(g2) - size(array_distinct(g2)) as double) / size(g2)")
          .as("dup_2gram_frac"))

  /** DuckDB mirror of `repetition`: list_distinct/list slicing instead of
    * array_distinct/slice; the greatest(...,1) floor keeps 1-word docs as a
    * single short gram on both sides.
    */
  val repetitionSql: String =
    """WITH b AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |g AS (SELECT doc_id, w,
      |  list_transform(generate_series(1, greatest(len(w) - 1, 1)),
      |    i -> array_to_string(w[i:i+1], ' ')) AS g2 FROM b)
      |SELECT doc_id,
      | CAST(len(w) AS BIGINT) AS n_words,
      | CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct_words,
      | CAST(len(w) - len(list_distinct(w)) AS DOUBLE) / len(w) AS dup_word_frac,
      | CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2) AS dup_2gram_frac
      |FROM g""".stripMargin

  /** Corpus-frequency rarity scoring — the cheap stand-in for LM perplexity
    * in quality filtering: a document full of rare words scores high, boiler-
    * plate scores low. Pass 1 aggregates the corpus unigram table (vocab-
    * bounded → broadcast); pass 2 scores each token as TOTAL div cnt(word)
    * in exact integer arithmetic (a float -log p would differ across libm
    * builds; integer ratios hash-match any engine). The unigram table is
    * vocab-sized — Heaps-law sublinear but NOT bounded (a noisy 100 TB
    * web corpus can push billions of distinct "words"), so the hint is
    * size-gated through [[graft.Tables.dimHint]] (r15): forced at test
    * SF, left to AQE's runtime size above the bound. The production dial
    * stays the same: cap to a top-K vocab + OOV bucket, after which the
    * hint fires again.
    */
  def rarity(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val cnt = tok.groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val tot = cnt.agg(sum(col("cnt")).as("total"))
    tok.join(Tables.dimHint(cnt), "word")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(expr("total div cnt")).as("rarity_sum"))
      .withColumn("avg_rarity", expr("rarity_sum div n_words"))
  }

  val raritySql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |cnt AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM cnt)
      |SELECT doc_id, COUNT(*) AS n_words,
      | CAST(SUM(total // cnt) AS BIGINT) AS rarity_sum,
      | CAST(SUM(total // cnt) AS BIGINT) // COUNT(*) AS avg_rarity
      |FROM tok JOIN cnt USING (word), tot
      |GROUP BY doc_id""".stripMargin

  /** Boilerplate detection (round 6): mine word-5grams shared by ≥ 3
    * distinct documents (headers, footers, license blurbs, nav chrome —
    * the repeated spans a web corpus is full of), then score every doc by
    * its boilerplate-position fraction. keep = bp fraction < 20 %, as an
    * INTEGER comparison (n_bp·5 < n_grams) so the cut is engine-exact.
    *
    * Scale shape: the mining pass is one shuffle keyed by gram (the same
    * class as text_contamination's gram join); the boilerplate list is
    * capped to the top 1000 by (doc count, gram) — a deterministic bounded
    * broadcast no matter how pathological the corpus — and the scoring
    * pass is a broadcast join + per-doc count, never a second wide
    * shuffle. An adversarial corpus can grow the CANDIDATE set, not the
    * broadcast.
    */
  def boilerplate(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).withColumn("words", split(col("text"), " "))
    val grams = docs.filter(size(col("words")) >= 5)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, size(words)-5),
          |  i -> concat_ws(' ', element_at(words, i+1), element_at(words, i+2),
          |    element_at(words, i+3), element_at(words, i+4), element_at(words, i+5)))""".stripMargin))
        .as("gram"))
    val bp = grams.groupBy(col("gram")).agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 3)
      .orderBy(col("nd").desc, col("gram")).limit(1000)
    val perDoc = grams.join(broadcast(bp.select(col("gram"))), Seq("gram"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bp_grams"))
    docs.select(col("doc_id"),
        greatest(size(col("words")) - 4, lit(0)).cast("bigint").as("n_grams"))
      .join(perDoc, Seq("doc_id"), "left")
      .withColumn("n_bp_grams", coalesce(col("n_bp_grams"), lit(0L)))
      .withColumn("keep", col("n_bp_grams") * 5 < greatest(col("n_grams"), lit(1L)))
  }

  val boilerplateSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |g AS (
      |  SELECT doc_id, concat_ws(' ', words[i+1], words[i+2], words[i+3],
      |                           words[i+4], words[i+5]) AS gram
      |  FROM w, unnest(generate_series(0, len(words)-5)) t(i)
      |  WHERE len(words) >= 5),
      |bp AS (
      |  SELECT gram FROM (
      |    SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1) t
      |  WHERE nd >= 3 ORDER BY nd DESC, gram LIMIT 1000),
      |pd AS (SELECT doc_id, count(*) AS n_bp_grams FROM g JOIN bp USING (gram) GROUP BY 1)
      |SELECT w.doc_id, CAST(greatest(len(words) - 4, 0) AS BIGINT) AS n_grams,
      |       CAST(COALESCE(pd.n_bp_grams, 0) AS BIGINT) AS n_bp_grams,
      |       COALESCE(pd.n_bp_grams, 0) * 5 < greatest(len(words) - 4, 1) AS keep
      |FROM w LEFT JOIN pd USING (doc_id)""".stripMargin

  /** Bigram language-model scoring — the REAL perplexity-style quality
    * filter (the CCNet/Wikipedia-LM recipe, replacing the unigram-rarity
    * stand-in `text_rarity`): train conditional bigram counts on the corpus
    * itself, then score every document by its mean per-bigram surprise.
    * Surprise of (w1, w2) is ctx(w1)·10⁶ div c(w1, w2) — the integer-exact
    * inverse of the MLE conditional p(w2 | w1) — so the score is a monotone
    * transform of per-token log-perplexity with zero float/libm state, and
    * the keep cut (avg < 32·10⁶, ≈ p90 of this corpus) is engine-exact.
    *
    * Scale shape: pass 1 is ONE corpus-sized shuffle keyed by (w1, w2)
    * (map-side combine shrinks it to the distinct-bigram table); the ctx
    * table aggregates from the bigram table (vocab-sized, not
    * corpus-sized); pass 2 re-keys the doc bigrams by the same (w1, w2) so
    * AQE keeps the count joins co-partitioned, then collapses per doc. At
    * web scale the bigram table is capped to a top-K vocab + an OOV
    * default before the scoring join — the standard LM-filter dial; this
    * corpus's vocab is tiny so no cap is wired. The ·10⁶ ppm scale bounds
    * ctx at ~9·10¹² context occurrences per word (Long.Max/10⁶) — beyond
    * that, drop a ppm digit.
    */
  def perplexity(spark: SparkSession, dir: String): DataFrame = {
    val bi = Tables.documents(spark, dir)
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 2)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 1),
          |  i -> struct(element_at(w, i) as w1, element_at(w, i + 1) as w2))""".stripMargin))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val bc = bi.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("bc"))
    val ctx = bc.groupBy(col("w1")).agg(sum(col("bc")).as("ctx"))
    bi.join(bc, Seq("w1", "w2")).join(ctx, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("ctx * 1000000 div bc")).as("surprise_sum"))
      .withColumn("avg_surprise", expr("surprise_sum div n_bigrams"))
      .withColumn("keep", col("avg_surprise") < 32000000L)
  }

  /** DuckDB mirror of [[perplexity]]; DuckDB's integer SUMs widen to
    * HUGEINT, so every output column re-casts to BIGINT (the
    * pipeline_curate lesson) — the // arithmetic itself is exact in both.
    */
  val perplexitySql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |b AS (SELECT doc_id, w[i] AS w1, w[i+1] AS w2
      |      FROM w, unnest(generate_series(1, len(w) - 1)) t(i)
      |      WHERE len(w) >= 2),
      |bc AS (SELECT w1, w2, count(*) AS bc FROM b GROUP BY 1, 2),
      |ctx AS (SELECT w1, sum(bc) AS ctx FROM bc GROUP BY 1)
      |SELECT doc_id, count(*) AS n_bigrams,
      |       CAST(sum(ctx * 1000000 // bc) AS BIGINT) AS surprise_sum,
      |       CAST(sum(ctx * 1000000 // bc) // count(*) AS BIGINT) AS avg_surprise,
      |       sum(ctx * 1000000 // bc) // count(*) < 32000000 AS keep
      |FROM b JOIN bc USING (w1, w2) JOIN ctx USING (w1)
      |GROUP BY 1""".stripMargin

  /** Inverted-index build (the search/RAG primitive): per term, the
    * document frequency, total term frequency, the top document by tf, and
    * an md5 over the ordered posting list (doc:tf pairs by doc_id) so every
    * posting boundary is hash-checked without shipping the list.
    *
    * Scale shape: one (term, doc) shuffle with map-side combine, then one
    * term-keyed aggregate. The posting-list ROW is the hazard at corpus
    * scale — a stopword's postings are corpus-sized — so the fingerprint
    * covers only the first 1000 postings per term by doc_id (a
    * deterministic window cut BEFORE the collect; df/tf_total stay exact
    * over all postings, and a real index would spill one parquet row per
    * posting rather than aggregate them at all). No unbounded aggregate
    * row (the dedup_ngram_jaccard lesson).
    */
  def invertedIndex(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val wTop = Window.partitionBy(col("term")).orderBy(col("tf").desc, col("doc_id"))
    val top = tf.withColumn("rn", row_number().over(wTop)).filter(col("rn") === 1)
      .select(col("term"), col("doc_id").as("top_doc"), col("tf").as("top_tf"))
    val wPost = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    val postings = tf.withColumn("pn", row_number().over(wPost)).filter(col("pn") <= 1000)
      .groupBy(col("term"))
      .agg(md5(concat_ws(",",
        expr("transform(array_sort(collect_list(struct(doc_id, tf))), s -> concat(s.doc_id, ':', s.tf))")))
        .as("postings_md5"))
    val agg = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("tf_total"))
    agg.join(top, "term").join(postings, "term")
      .select(col("term"), col("df"), col("tf_total"),
        col("top_doc"), col("top_tf"), col("postings_md5"))
  }

  val invertedIndexSql: String =
    """WITH tf AS (
      |  SELECT term, doc_id, COUNT(*) AS tf FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) t
      |  GROUP BY 1, 2),
      |top AS (
      |  SELECT term, doc_id AS top_doc, tf AS top_tf FROM (
      |    SELECT *, row_number() OVER (PARTITION BY term
      |      ORDER BY tf DESC, doc_id) AS rn FROM tf) t
      |  WHERE rn = 1),
      |p AS (
      |  SELECT term, md5(string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id)) AS postings_md5
      |  FROM (SELECT *, row_number() OVER (PARTITION BY term ORDER BY doc_id) AS pn
      |        FROM tf) t
      |  WHERE pn <= 1000 GROUP BY 1),
      |a AS (SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS tf_total
      |      FROM tf GROUP BY 1)
      |SELECT a.term, a.df, a.tf_total, top.top_doc, top.top_tf, p.postings_md5
      |FROM a JOIN top USING (term) JOIN p USING (term)""".stripMargin

  /** Per-document top-5 salient terms by integer TF·rarity — TF-IDF with
    * [[rarity]]'s integer surrogate for IDF (`n_docs div df` instead of
    * log(N/df): monotone in the same direction for the head of a doc's
    * term list, and zero libm divergence, so the whole extraction is
    * engine-exact). The keyword-extraction op behind tagging, routing and
    * near-dup explanation in a curation pipeline.
    *
    * Scale shape: ONE corpus explode feeds the (doc, word) map-side-
    * combined tf shuffle, and doc frequencies derive from the tf
    * aggregate itself (its keys are exactly the distinct (doc, word)
    * pairs — no second explode + wide distinct over the corpus; timing
    * is flat at sf0.1 (~0.9 s, stage overhead dominates) but the removed
    * pass is corpus-sized, which is what matters at 100 TB; tf is
    * localCheckpointed because its two consumers sit across a broadcast
    * boundary where ReuseExchange does not apply — verified 3 FileScans
    * without it). The df table is vocab-bounded → broadcast
    * (the same top-K-vocab cap as [[rarity]] applies at 100 TB); the
    * top-5 cut flows through TopKPerKey's PARTIAL pass — ≤5 rows/doc/
    * partition reach the exchange, never a corpus-sized window sort.
    * Same custom physical operator the ANN family uses, reused for text.
    */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
    val tf = tok.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
      .cutLineage() // feeds both the df aggregate and the scoring join
    val dfreq = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val nd = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(dfreq), "word").crossJoin(broadcast(nd))
      .select(col("doc_id"), col("word"), col("tf"),
        expr("tf * (n_docs div df)").as("score"))
    graft.operators.TopK.perKey(scored,
      keys = Seq("doc_id"),
      order = Seq("score" -> true, "word" -> false),
      k = 5)
  }

  val tfidfSql: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
      |dfreq AS (SELECT word, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
      |nd AS (SELECT COUNT(*) AS n_docs FROM documents),
      |tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
      |s AS (
      |  SELECT doc_id, word, tf, tf * (n_docs // df) AS score
      |  FROM tf JOIN dfreq USING (word), nd)
      |SELECT doc_id, word, tf, score FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |    ORDER BY score DESC, word) AS rn FROM s) t
      |WHERE rn <= 5""".stripMargin

  /** Domain / distribution shift between two corpus slices (source
    * 'src13' vs the rest): per-term contribution to TOTAL-VARIATION
    * distance, TV = ½·Σ|p_t − q_t|. The per-term score |c_a·N_b − c_b·N_a|
    * is EXACT integer arithmetic (decimal(38,0) — at 100 TB the cross
    * products pass 2⁶³), so the top-20 ranking is deterministic and
    * hash-checkable; the only float is the terminal division producing
    * the reported contribution. KL needs per-term logs (engine-variant
    * libm) — TV is the drift measure that stays exact, the same reasoning
    * that made text_perplexity integer-surprise.
    *
    * Scale shape: one token aggregation with map-side combine (the
    * conditional-sum trick makes ONE pass over tokens, not two slice
    * scans), a 1-row broadcast total, TakeOrdered top-20. No corpus
    * window, no second corpus pass.
    */
  def domainShift(spark: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val cnt = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term"))
      .agg(sum(when(col("source") === "src13", 1L).otherwise(0L)).as("c_a"),
        sum(when(col("source") =!= "src13", 1L).otherwise(0L)).as("c_b"))
    val tot = cnt.agg(sum(col("c_a")).as("na"), sum(col("c_b")).as("nb"))
    cnt.crossJoin(broadcast(tot))
      .withColumn("shift",
        abs(col("c_a").cast(d38) * col("nb") - col("c_b").cast(d38) * col("na")))
      .orderBy(col("shift").desc, col("term"))
      .limit(20)
      .select(col("term"), col("c_a"), col("c_b"),
        (col("shift").cast("double")
          / (lit(2L).cast(d38) * col("na") * col("nb")).cast("double")).as("tv_contrib"))
  }

  val domainShiftSql: String =
    """WITH tok AS (
      |  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
      |cnt AS (
      |  SELECT term,
      |    CAST(SUM(CASE WHEN source = 'src13' THEN 1 ELSE 0 END) AS BIGINT) AS c_a,
      |    CAST(SUM(CASE WHEN source <> 'src13' THEN 1 ELSE 0 END) AS BIGINT) AS c_b
      |  FROM tok GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c_a) AS HUGEINT) AS na, CAST(SUM(c_b) AS HUGEINT) AS nb FROM cnt)
      |SELECT term, c_a, c_b,
      |  CAST(abs(CAST(c_a AS HUGEINT) * nb - CAST(c_b AS HUGEINT) * na) AS DOUBLE)
      |    / CAST(2 * na * nb AS DOUBLE) AS tv_contrib
      |FROM cnt, tot
      |ORDER BY abs(CAST(c_a AS HUGEINT) * nb - CAST(c_b AS HUGEINT) * na) DESC, term
      |LIMIT 20""".stripMargin

  /** Shingle-containment detection — the ASYMMETRIC near-dup relation
    * Jaccard misses: C(A→B) = |S(A)∩S(B)| / |S(A)| is high when A's
    * content sits INSIDE a larger B (quote farms, wrapper pages,
    * concatenated dumps) even though their Jaccard is low. S = distinct
    * word-5-gram shingles, keyed by a 16-hex-char md5 prefix (identical
    * string key on both engines — no numeric conversion at all).
    *
    * Scale shape: slim (doc, shingle-key) ids; the candidate join is an
    * inverted join on the shingle key with document frequency capped at
    * 20 ([[graft.dedup.Dedup.capBuckets]] would observe drops — here the
    * df filter IS the cap, and it's also the rarity semantics: a shingle
    * shared by >20 docs is boilerplate, not containment evidence). Each
    * unordered pair is counted once, emitted in both directions with the
    * direction's own denominator, thresholded at 50%, then one best
    * container per doc (max ppm, min container id).
    */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // materialize the distinct shingle stream once (r17, the
    // minhashVerifiedPairs signature-cut pattern): sh feeds the per-doc
    // counts, the rarity filter, AND both sides of the self-join — without
    // the cut the scan+explode+md5+distinct subtree appears 18× in the
    // plan and runtime stage reuse only collapses the identical exchanges,
    // not the per-consumer rescans above them
    val sh = Tables.documents(spark, dir)
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 5)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 4),
          |  i -> substring(md5(concat_ws(' ', slice(w, i, 5))), 1, 16))""".stripMargin))
        .as("sk"))
      .distinct()
      .cutLineage()
    val counts = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    // Copies of a checkpointed frame share no exchange (each copy's scan
    // carries its own pinned partitioning, so their plans never compare
    // equal): a rarity JOIN of sh with its own per-sk counts, and a
    // unionAll reading inter twice, would compute the rarity aggregate four
    // times and inter twice (measured 20 jobs vs 12). So rarity is a window
    // count over sk, rsh is cut on that sk partitioning (its self-join reads
    // it as is), and one explode emits both directions.
    val rsh = sh.withColumn("df", count(lit(1)).over(Window.partitionBy(col("sk"))))
      .filter(col("df") <= 20).select(col("doc_id"), col("sk"))
      .cutLineage()
    val inter = rsh.as("a").join(rsh.as("b"),
        col("a.sk") === col("b.sk") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("ninter"))
    val directed = inter.select(explode(array(
        struct(col("id_a").as("doc_id"), col("id_b").as("container_id"), col("ninter")),
        struct(col("id_b").as("doc_id"), col("id_a").as("container_id"), col("ninter"))))
        .as("d"))
      .select(col("d.doc_id"), col("d.container_id"), col("d.ninter"))
    val scored = directed.join(counts, Seq("doc_id"))
      .withColumn("containment_ppm", expr("ninter * 1000000 div n_sh"))
      .filter(col("containment_ppm") >= 500000L)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("containment_ppm").desc, col("container_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("doc_id"), col("container_id"), col("containment_ppm"))
      .orderBy(col("doc_id"))
  }

  val containmentSql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id,
      |    substr(md5(array_to_string(w[i:i+4], ' ')), 1, 16) AS sk
      |  FROM w, unnest(generate_series(1, len(w) - 4)) t(i)
      |  WHERE len(w) >= 5),
      |c AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
      |rare AS (SELECT sk FROM sh GROUP BY 1 HAVING COUNT(*) <= 20),
      |rs AS (SELECT sh.doc_id, sh.sk FROM sh JOIN rare USING (sk)),
      |inter AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS ninter
      |  FROM rs a JOIN rs b ON a.sk = b.sk AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |directed AS (
      |  SELECT id_a AS doc_id, id_b AS container_id, ninter FROM inter
      |  UNION ALL
      |  SELECT id_b AS doc_id, id_a AS container_id, ninter FROM inter),
      |scored AS (
      |  SELECT d.doc_id, d.container_id, d.ninter * 1000000 // c.n_sh AS containment_ppm
      |  FROM directed d JOIN c ON d.doc_id = c.doc_id
      |  WHERE d.ninter * 1000000 // c.n_sh >= 500000)
      |SELECT doc_id, container_id, CAST(containment_ppm AS BIGINT) AS containment_ppm
      |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |        ORDER BY containment_ppm DESC, container_id) AS rn FROM scored) t
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** Corpus novelty curve — for each document, in doc_id ingestion order,
    * the fraction of its DISTINCT word-3-grams that no earlier document
    * contains (exact ppm). This is the "how much NEW text does each
    * increment add" read behind dedup-ROI and crawl-frontier decisions: a
    * corpus whose novelty curve has collapsed is paying full storage and
    * compute for near-zero marginal tokens.
    *
    * Scale shape: grams travel as 16-hex md5 keys, never text; ONE
    * shuffle keyed on the gram builds first-seen (min doc_id, map-side
    * combined), one join back to the per-doc gram stream, and the output
    * aggregate is per-doc. No windows, no corpus-sized broadcast — the
    * same skeleton as text_containment's shingle stream.
    */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), explode(expr(
        """transform(sequence(1, size(w) - 2),
          |  i -> substring(md5(concat_ws(' ', slice(w, i, 3))), 1, 16))""".stripMargin))
        .as("g"))
      .distinct()
    val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("n_novel * 1000000 div n_grams").as("novelty_ppm"))
  }

  val noveltySql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |gr AS (
      |  SELECT DISTINCT doc_id,
      |    substr(md5(array_to_string(w[i:i+2], ' ')), 1, 16) AS g
      |  FROM w, unnest(generate_series(1, len(w) - 2)) t(i)
      |  WHERE len(w) >= 3),
      |f AS (SELECT g, MIN(doc_id) AS first_doc FROM gr GROUP BY 1)
      |SELECT gr.doc_id, COUNT(*) AS n_grams,
      |  CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_novel,
      |  CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END)
      |    AS BIGINT) * 1000000 // COUNT(*) AS novelty_ppm
      |FROM gr JOIN f USING (g) GROUP BY 1""".stripMargin

  /** Corpus Zipf profile: the top-100 rank–frequency curve with the
    * per-rank Zipf product r·f(r) — for natural language the product is
    * roughly CONSTANT (Zipf's law), and a corpus whose head deviates
    * hard from that (flat product curve = synthetic/over-deduped head;
    * exploding product = boilerplate flooding) fails the distributional
    * sanity check BEFORE any model sees it. The libm-free profile:
    * no log-log fit, the raw products and ppm shares (exact integer
    * division) carry the same diagnostic, engine-exact.
    *
    * Scale shape: the corpus collapses map-side to the |vocab|-sized
    * term-frequency aggregate; the top-100 head is cut by
    * TakeOrderedAndProject (per-partition 100-row heaps, k-row driver
    * merge — NO vocab-sized sort: a 100 TB web corpus has ~1e9+ distinct
    * terms under Heaps' law and a single-partition rank window over that
    * aggregate is the one plan that would not survive), and rank within
    * the 100-row head is a bounded broadcast self-join count (rows
    * at-or-before in (cnt desc, term) order), not a window — the plan
    * carries no Exchange SinglePartition at all. Head totals broadcast
    * from 1-row aggregates.
    */
  def zipf(spark: SparkSession, dir: String): DataFrame = {
    import graft.Checkpoints.CheckpointOps
    val tf = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
      .cutLineage() // feeds top, peer, and tot: ONE corpus scan, not three
    val tot = tf.agg(sum(col("cnt")).cast("bigint").as("n_tokens"),
      max(col("cnt")).cast("bigint").as("c1"))
    val top = tf.orderBy(col("cnt").desc, col("term")).limit(100)
    // rank = #rows at-or-before in (cnt desc, term) order; the (cnt, term)
    // key is unique within the head so this equals row_number, computed
    // over the 100x100 bounded pair space instead of a global window
    val peer = top.select(col("cnt").as("c2"), col("term").as("t2"))
    top.join(broadcast(peer),
        col("c2") > col("cnt") ||
          (col("c2") === col("cnt") && col("t2") <= col("term")))
      .groupBy(col("term"), col("cnt"))
      .agg(count(lit(1)).cast("bigint").as("rank"))
      .crossJoin(broadcast(tot))
      .select(col("rank"), col("term"), col("cnt").cast("bigint").as("cnt"),
        expr("cnt * 1000000 div n_tokens").cast("bigint").as("share_ppm"),
        expr("cnt * 1000000 div c1").cast("bigint").as("ratio_vs_top_ppm"),
        expr("rank * cnt").cast("bigint").as("zipf_product"))
  }

  val zipfSql: String =
    """WITH tf AS (
      |  SELECT term, CAST(COUNT(*) AS BIGINT) AS cnt
      |  FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS term
      |        FROM documents)
      |  GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(cnt) AS BIGINT) AS n_tokens,
      |    CAST(MAX(cnt) AS BIGINT) AS c1 FROM tf),
      |ranked AS (
      |  SELECT term, cnt,
      |    CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, term) AS BIGINT)
      |      AS rank
      |  FROM tf)
      |SELECT rank, term, cnt,
      |  CAST(cnt * 1000000 // n_tokens AS BIGINT) AS share_ppm,
      |  CAST(cnt * 1000000 // c1 AS BIGINT) AS ratio_vs_top_ppm,
      |  CAST(rank * cnt AS BIGINT) AS zipf_product
      |FROM ranked, tot WHERE rank <= 100""".stripMargin

  /** Gopher-style quality rule panel (Rae et al. 2021 §A1.1, adapted to
    * the portable-expression discipline): per-document booleans for the
    * five rules the synthetic corpus can exercise — word-count bounds,
    * mean-word-length bounds, symbol-to-word ratio, alphabetic-word
    * fraction, and minimum stopword hits — plus the AND `passes` flag a
    * curation pipeline filters on. Every rule is decided in EXACT integer
    * arithmetic (e.g. `3·n ≤ chars ≤ 10·n` instead of a double mean
    * compare), so the booleans are hash-stable across engines; the double
    * mean ships only as a diagnostic.
    *
    * Scale shape: single map-side pass, no shuffle, whole-stage codegen
    * end to end — the panel is a projection, so at 100 TB it rides the
    * scan and the filter pushes into whatever consumes it.
    */
  def gopherQuality(spark: SparkSession, dir: String): DataFrame =
    withGopherPanel(Tables.documents(spark, dir)).select(
      col("doc_id"), col("n_words"), col("alpha_words"), col("stop_hits"),
      col("symbols"), col("mean_word_len"), col("words_ok"),
      col("wordlen_ok"), col("symbol_ok"), col("alpha_ok"),
      col("stopword_ok"), col("passes"))

  /** Adds the Gopher rule columns to any frame with a `text` column — the
    * composition surface [[graft.pipeline.Curate.runV2]] chains so the
    * gate rides the pipeline's single scan.
    */
  private[graft] def withGopherPanel(df: DataFrame): DataFrame = {
    val nWords = nTokens
    val alphaWords =
      expr("size(filter(split(text, ' '), w -> w rlike '[a-zA-Z]'))").cast("bigint")
    val stopHits = expr(
      "size(filter(split(text, ' '), w -> w IN ('the','a','and','of','to','in','is','that','it','for')))")
      .cast("bigint")
    val hashCount = length(col("text")) - length(expr("replace(text, '#', '')"))
    val ellipsisCount =
      (length(col("text")) - length(expr("replace(text, '...', '')"))).divide(3).cast("bigint")
    val symbols = (hashCount + ellipsisCount).cast("bigint")
    df
      .withColumn("n_words", nWords)
      .withColumn("alpha_words", alphaWords)
      .withColumn("stop_hits", stopHits)
      .withColumn("symbols", symbols)
      .withColumn("mean_word_len", noSpaceLen.cast("double") / nWords)
      .withColumn("words_ok", nWords >= 50 && nWords <= 100000)
      .withColumn("wordlen_ok", nWords * 3 <= noSpaceLen && noSpaceLen <= nWords * 10)
      .withColumn("symbol_ok", symbols * 10 <= nWords)
      .withColumn("alpha_ok", alphaWords * 5 >= nWords * 4)
      .withColumn("stopword_ok", stopHits >= 2)
      .withColumn("passes", col("words_ok") && col("wordlen_ok") &&
        col("symbol_ok") && col("alpha_ok") && col("stopword_ok"))
  }

  val gopherQualitySql: String = {
    val nW = "(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1)"
    val chars = "LENGTH(REPLACE(text, ' ', ''))"
    val alpha =
      "CAST(len(list_filter(string_split(text, ' '), w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT)"
    val stops =
      "CAST(len(list_filter(string_split(text, ' '), w -> list_contains(['the','a','and','of','to','in','is','that','it','for'], w))) AS BIGINT)"
    val sym =
      "CAST((LENGTH(text) - LENGTH(REPLACE(text, '#', ''))) + (LENGTH(text) - LENGTH(REPLACE(text, '...', ''))) // 3 AS BIGINT)"
    s"""SELECT doc_id,
       | CAST($nW AS BIGINT) AS n_words,
       | $alpha AS alpha_words,
       | $stops AS stop_hits,
       | $sym AS symbols,
       | CAST($chars AS DOUBLE) / $nW AS mean_word_len,
       | ($nW >= 50 AND $nW <= 100000) AS words_ok,
       | ($nW * 3 <= $chars AND $chars <= $nW * 10) AS wordlen_ok,
       | ($sym * 10 <= $nW) AS symbol_ok,
       | ($alpha * 5 >= $nW * 4) AS alpha_ok,
       | ($stops >= 2) AS stopword_ok,
       | ($nW >= 50 AND $nW <= 100000 AND $nW * 3 <= $chars
       |   AND $chars <= $nW * 10 AND $sym * 10 <= $nW
       |   AND $alpha * 5 >= $nW * 4 AND $stops >= 2) AS passes
       |FROM documents""".stripMargin
  }

  /** Per-document lexical diversity in EXACT integers: type-token ratio
    * and the Simpson repeat-concentration Σc²·10⁶ / n² (the probability,
    * in ppm, that two random tokens coincide — high = template/boilerplate
    * junk, the signal an entropy score carries without needing libm logs,
    * so the oracle is hash-exact).
    *
    * Scale shape: all counting happens IN-ROW over the token array —
    * one O(L log L) sort + one linear run-length fold per document (the
    * per-type filter pass of rounds ≤13 was O(types·tokens), a
    * multi-minute straggler for a single million-token document); no
    * shuffle at all, the whole operator is a projection.
    */
  def unigramDiversity(spark: SparkSession, dir: String): DataFrame =
    withDiversity(Tables.documents(spark, dir))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        col("ttr_ppm"), col("simpson_ppm"))

  /** Adds n_tokens / n_types / ttr_ppm / simpson_ppm to any frame with a
    * `text` column (composition surface, like [[withGopherPanel]]).
    */
  private[graft] def withDiversity(df: DataFrame): DataFrame =
    df
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_tokens", size(col("words")).cast("bigint"))
      // sort once, then fold run-lengths: each maximal run of an equal
      // token is one type contributing run² to Σc² — O(L log L) total,
      // same exact integers as the per-type counting it replaces (split
      // never yields nulls, so the null `prev` marks only the first token)
      .withColumn("divstate", expr(
        """aggregate(array_sort(words),
          |  named_struct('prev', cast(null as string), 'run', 0L, 'acc', 0L, 'types', 0L),
          |  (s, w) -> if(s.prev is not null and w = s.prev,
          |    named_struct('prev', w, 'run', s.run + 1L, 'acc', s.acc, 'types', s.types),
          |    named_struct('prev', w, 'run', 1L, 'acc', s.acc + s.run * s.run, 'types', s.types + 1L)),
          |  s -> named_struct('sum_sq', s.acc + s.run * s.run, 'n_types', s.types))""".stripMargin))
      .withColumn("n_types", col("divstate.n_types"))
      .withColumn("ttr_ppm", expr("n_types * 1000000 div n_tokens"))
      .withColumn("simpson_ppm", expr("divstate.sum_sq * 1000000 div (n_tokens * n_tokens)"))
      .drop("words", "divstate")

  val unigramDiversitySql: String =
    """WITH w AS (
      |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
      |c AS (
      |  SELECT doc_id,
      |    CAST(len(words) AS BIGINT) AS n_tokens,
      |    CAST(len(list_distinct(words)) AS BIGINT) AS n_types,
      |    CAST(list_sum(list_transform(list_distinct(words),
      |      t -> CAST(len(list_filter(words, w -> w = t)) AS BIGINT)
      |        * CAST(len(list_filter(words, w -> w = t)) AS BIGINT)))
      |      AS BIGINT) AS sum_sq
      |  FROM w)
      |SELECT doc_id, n_tokens, n_types,
      |  n_types * 1000000 // n_tokens AS ttr_ppm,
      |  sum_sq * 1000000 // (n_tokens * n_tokens) AS simpson_ppm
      |FROM c""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_gopher_quality" -> (gopherQuality _),
    "text_unigram_diversity" -> (unigramDiversity _),
    "text_zipf" -> (zipf _),
    "text_novelty" -> (novelty _),
    "text_containment" -> (containment _),
    "text_domain_shift" -> (domainShift _),
    "text_tfidf" -> (tfidf _),
    "text_inverted_index" -> (invertedIndex _),
    "text_perplexity" -> (perplexity _),
    "text_boilerplate" -> (boilerplate _),
    "text_rep" -> (repetition _),
    "text_rarity" -> (rarity _),
    "text_top_terms" -> (topTerms _),
    "text_vocab_coverage" -> ((s: SparkSession, d: String) => vocabCoverage(s, d)),
    "text_collocations" -> (collocations _),
    "text_stats" -> (stats _),
    "text_quality" -> (quality _),
    "text_lang_id" -> (langId _),
    "text_token_count" -> (tokenCount _),
    "text_fingerprint_md5" -> (fingerprintMd5 _),
    "text_fingerprint" -> (fingerprint _),
    "text_scrub_pii" -> (scrubPii _),
    "text_bpe_tokens" -> (bpeTokens _),
    "text_blocklist" -> (blocklist _))

  val oracles: Map[String, String] = Map(
    "text_gopher_quality" -> gopherQualitySql,
    "text_unigram_diversity" -> unigramDiversitySql,
    "text_zipf" -> zipfSql,
    "text_novelty" -> noveltySql,
    "text_containment" -> containmentSql,
    "text_tfidf" -> tfidfSql,
    "text_inverted_index" -> invertedIndexSql,
    "text_perplexity" -> perplexitySql,
    "text_boilerplate" -> boilerplateSql,
    "text_rep" -> repetitionSql,
    "text_fingerprint" -> fingerprintSql,
    "text_scrub_pii" -> scrubPiiSql,
    "text_bpe_tokens" -> bpeTokensSql,
    "text_rarity" -> raritySql,
    "text_domain_shift" -> domainShiftSql,
    "text_top_terms" -> topTermsSql,
    "text_vocab_coverage" -> vocabCoverageSql,
    "text_collocations" -> collocationsSql,
    "text_stats" -> statsSql,
    "text_quality" -> qualitySql,
    "text_token_count" -> tokenCountSql,
    "text_fingerprint_md5" -> fingerprintMd5Sql,
    "text_lang_id" -> langIdSql,
    "text_blocklist" -> blocklistSql)
}
