package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Round-2 lesson, pinned as tests: a query that throws must surface as an
  * explicit failure in BOTH the correctness dump (err marker + errors.json)
  * and the bench (failed list, never a timing) — it must not silently
  * vanish from the round's reports.
  */
class FailureHonestySpec extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = GraftSession.local(2)

  override def afterAll(): Unit = spark.stop()

  private val sf = "/root/testdata/sf0.001"

  private val poisoned: Map[String, (SparkSession, String) => DataFrame] = Map(
    "good_query" -> ((s, dir) => Tables.documents(s, dir).select("doc_id")),
    "broken_query" -> ((s, dir) =>
      Tables.documents(s, dir).selectExpr("assert_true(doc_id < 0) as boom", "doc_id")))

  test("Verify.dumpAll leaves an err marker and reports the broken query") {
    val out = Files.createTempDirectory("verify_honesty").toString
    val failures = Verify.dumpAll(spark, poisoned, sf, out)
    assert(failures.map(_._1) == Seq("broken_query"), failures.toString)
    assert(Files.exists(Paths.get(s"$out/broken_query.err")), "err marker missing")
    assert(Files.exists(Paths.get(s"$out/good_query")), "good query parquet missing")
    Verify.writeJsonMap(s"$out/errors.json", failures)
    val json = Files.readString(Paths.get(s"$out/errors.json"))
    assert(json.contains("broken_query"), json)
  }

  test("Bench.timeAll records the broken query as failed, never as a timing") {
    val results = Bench.timeAll(spark, poisoned, sf, samples = 1, maxSamples = 2)
    val byName = results.map(r => r.name -> r).toMap
    val broken = byName("broken_query")
    assert(broken.failed && broken.timings.isEmpty,
      s"broken query must have no timings: $broken")
    assert(broken.error.isDefined, "broken query must carry its error")
    assert(broken.attempts >= 1, "attempt count must reflect real attempts")
    val good = byName("good_query")
    assert(good.timings.nonEmpty && good.error.isEmpty && !good.flaky,
      s"good query must time cleanly: $good")
    assert(good.attempts == good.timings.size, "clean query: attempts == timings")
  }

  test("Bench.jcompact emits short valid JSON numbers at every magnitude") {
    val cases = Seq(
      0.0 -> "0", 0.0004 -> "0", 0.013 -> "0.013", 0.1 -> "0.1",
      0.104 -> "0.104", 1.0 -> "1", 6.164 -> "6.16", 16.009 -> "16",
      123.4 -> "123", Double.NaN -> "0")
    cases.foreach { case (in, want) =>
      assert(Bench.jcompact(in) == want, s"jcompact($in)")
    }
    // every output must be ≤6 chars for sub-100s values — the stdout line
    // budget (driver tail window = 2000 chars) depends on it
    Seq(0.001, 0.0999, 0.9994, 9.99, 99.9).foreach { d =>
      assert(Bench.jcompact(d).length <= 6, s"jcompact($d) too long")
    }
  }

  test("Bench noise self-check: parses committed mins, flags a collective light-query inflation") {
    val detail = """{"metric":"total","value":51.3,"unit":"sec","queries":{"q_a":0.05,"q_b":0.08,"q_c":0.1,"q_d":0.04,"q_e":0.06,"q_f":0.09,"q_g":0.12,"q_h":0.07,"q_i":0.05,"q_j":0.1,"q_heavy":8.5},"stddev":{"q_a":0.01}}"""
    val committed = Bench.committedMins(detail)
    assert(committed("q_a") == 0.05 && committed("q_heavy") == 8.5 && committed.size == 11)
    // all 10 light queries uniformly 10x slower, heavy unchanged → the
    // documented VM noise window → flag
    val noisy = committed.map { case (n, t) => n -> (if (t < Bench.LightSec) t * 10 else t) }
    assert(Bench.suspectNoise(noisy, committed), "uniform light-query inflation must flag")
    // one real regression (a single light query 10x) → NOT noise
    val oneSlow = committed.updated("q_a", 0.5)
    assert(!Bench.suspectNoise(oneSlow, committed), "a single slow query must not flag")
    // clean run → no flag; corrupt/absent committed file → no flag, no throw
    assert(!Bench.suspectNoise(committed, committed))
    assert(Bench.committedMins("not json at all").isEmpty)
    // the detail's later maps (codegen_compiles and jobs among them) never leak in
    assert(Bench.committedMins(detail.stripSuffix("}") +
      ""","codegen_compiles":{"q_a":0,"q_zz":3},"jobs":{"q_a":7,"q_zz":43}}""") == committed)
    assert(!Bench.suspectNoise(committed, Map.empty))
    // fewer than 10 comparable light queries → never flag
    val few = Map("a" -> 0.01, "b" -> 0.02)
    assert(!Bench.suspectNoise(few.map { case (k, v) => k -> v * 100 }, few))
  }

  test("Bench.timeAll builds every key once untimed before its samples") {
    // each key's first build sleeps ColdSec, standing in for a cold
    // first-run cost: it must land in the untimed build, never in a timing
    val ColdSec = 2.0
    val builds = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    val counting = poisoned.map { case (n, q) =>
      n -> ((s: SparkSession, dir: String) => {
        builds(n) += 1
        if (builds(n) == 1) Thread.sleep((ColdSec * 1000).toLong)
        q(s, dir)
      })
    }
    val results = Bench.timeAll(spark, counting, sf, samples = 2, maxSamples = 3)
    assert(results.map(_.name) == Seq("broken_query", "good_query"))
    results.foreach { r =>
      assert(builds(r.name) == r.attempts + 1, s"${r.name}: ${builds(r.name)} builds, $r")
      assert(r.timings.forall(_ < ColdSec), s"${r.name}: untimed build in timings $r")
    }
    assert(results.find(_.name == "good_query").get.timings.nonEmpty)
  }

  test("Bench stdout line fits the driver's 2000-char tail capture") {
    // Rounds 1-3 shipped a ~4 KB line whose head was truncated by the
    // driver's tail window, leaving NO parseable bench numbers. Pin the
    // budget against the LIVE query set at pessimistic timings so adding
    // operators can never silently regrow the line past the window.
    val worst = SparkEntry.queries.keys.toSeq.sorted.map(n =>
      Bench.QueryResult(n, Seq(99.949), 6, None))
    val cc = """{"ref_aggregation":99.9,"ref_filter":99.9,"ref_full_scan":99.9}"""
    val tp = """{"rows_per_sec":99999999,"scan_rows":999999999,"iterations":5}"""
    val st = """{"rows":100000,"sessionize_rows_per_sec":99999999,"sessionize_sec":99.9,"anomaly_rows_per_sec":99999999,"anomaly_sec":99.9,"tws_burst_rows_per_sec":99999999,"tws_milestone_rows_per_sec":99999999,"tws_dormancy_rows_per_sec":99999999,"tws_errctx_rows_per_sec":99999999}"""
    val line = Bench.stdoutLine(worst, Nil, Nil, cc, tp, "/root/testdata/sf0.1",
      suspect = false, streaming = st)
    assert(line.length <= 1500,
      s"stdout line ${line.length} chars — too close to the 2000-char capture window")
    // and it must be valid single-line JSON
    assert(!line.contains("\n") && line.startsWith("{\"metric\"") && line.endsWith("}"))
  }
}
