package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

/** A warm second build of a key must compile no new class: graft sizes
  * Spark's JVM-wide codegen cache above the working set and drops AQE stage
  * ids from generated class names ([[GraftSession.tune]]).
  *
  * The cache size is a static conf that only the JVM's first codegen reads,
  * and other suites in this JVM build sessions `tune` did not
  * (`VanillaSessionSpec`), so the builds run in a fresh JVM
  * ([[CodegenCacheProbe]]) whose first session is graft's. The curation keys
  * need the cache size (graph_kcore alone touches ~140 classes per build,
  * more than Spark's default 100 entries); ann_rrf and q_theil_sen need the
  * stage-id-free class names.
  */
class CodegenCacheSpec extends AnyFunSuite {

  val sf = "/root/testdata/sf0.001"
  val keys = Seq("pipeline_curate", "dedup_minhash_lsh", "graph_kcore", "ann_rrf", "q_theil_sen")

  test("a warm second build of each key compiles 0 classes") {
    val (lines, log) = CodegenCacheProbe.fork(sf, keys)
    val counts = lines.collect { case s"compiles $k $first $second" => k -> (first.toLong, second.toLong) }.toMap
    assert(counts.keySet == keys.toSet, s"probe output: ${lines.mkString("\n")}\n$log")
    assert(counts.values.map(_._1).sum > 0, "no first-build compile counted: the metric is not read")
    val recompiled = counts.filter(_._2._2 > 0)
    assert(recompiled.isEmpty, s"second-build compiles (key -> (first, second)): $recompiled")
    lines.find(_.startsWith("metaspace_mb")).foreach(m => info(m))
  }
}

/** Builds each key twice through the noop sink in a fresh session and prints
  * `compiles <key> <first> <second>` per key (Janino compiles, from
  * `CodegenMetrics`), then `metaspace_mb <used>`. The key `ALL` stands for
  * every key of [[SparkEntry.queries]].
  *
  * {{{ sbt "Test/runMain graft.CodegenCacheProbe <sf-dir> graph_kcore ann_rrf" }}}
  */
object CodegenCacheProbe {

  def main(args: Array[String]): Unit = {
    val sf = args.head
    val spark = GraftSession.local(2)
    def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def build(key: String): Long = {
      val c0 = compiles
      SparkEntry.queries(key)(spark, sf).write.format("noop").mode("overwrite").save()
      Checkpoints.releaseAll()
      compiles - c0
    }
    val keys = args.tail.flatMap(k => if (k == "ALL") SparkEntry.queries.keys.toSeq.sorted else Seq(k))
    try keys.foreach { k =>
      val first = build(k)
      println(s"compiles $k $first ${build(k)}")
    } finally spark.stop()
    val metaspace = java.lang.management.ManagementFactory.getMemoryPoolMXBeans
      .toArray(Array.empty[java.lang.management.MemoryPoolMXBean])
      .find(_.getName == "Metaspace").map(_.getUsage.getUsed >> 20).getOrElse(-1L)
    println(s"metaspace_mb $metaspace")
  }

  /** Runs [[main]] in a child JVM on this JVM's classpath and options (heap
    * capped at 2 GB); returns its stdout lines and the tail of its stderr.
    */
  def fork(sf: String, keys: Seq[String]): (Seq[String], String) = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray(Array.empty[String]).filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++ jvmArgs ++
      Seq("-Xmx2g", "-cp", System.getProperty("java.class.path"),
        "graft.CodegenCacheProbe", sf) ++ keys
    val err = java.io.File.createTempFile("codegen-probe", ".log")
    try {
      val p = new ProcessBuilder(cmd: _*).redirectError(err).start()
      val out = scala.io.Source.fromInputStream(p.getInputStream).getLines().toList
      p.waitFor()
      val log = scala.io.Source.fromFile(err).getLines().toList.takeRight(40).mkString("\n")
      assert(p.exitValue() == 0, s"probe JVM exited ${p.exitValue()}:\n$log")
      (out, log)
    } finally err.delete()
  }
}
