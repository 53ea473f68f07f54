package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Checkpoints, GraftSession, SparkEntry}

/** JVM side of the benchmark: one closed-loop run of graft's query keys.
  *
  * The session comes from `GraftSession.tune` on `local[cores]`; the
  * harness sets only the master, the local dir and the warehouse path, so
  * the engine profile under test is the program's own. One request is
  * `SparkEntry.queries(key)(spark, dir)` (build), a write to the `noop`
  * sink (execute) and `Checkpoints.releaseAll()` (release).
  *
  * Phases, all untimed but the window: a cold pass over every key;
  * `--warm-cycles` noop cycles; the timed window of closed-loop cycles;
  * then a check pass that runs every key once more and writes its result
  * to parquet for the oracle check, so the results checked are those of
  * repeated execution. `releaseAll()` is JVM-global, so with more than one
  * client it runs only at the quiescent point after all clients stopped,
  * and a key that launches checkpoint jobs is refused.
  *
  * Writes `run.json` (and `trace.json` when traced) to `--out`; the
  * benchmark's Python side turns them into metrics.
  */
object Harness {
  val RequestProp = "graftbench.request"

  /** Writes the run's JSON files (Scala maps, seqs and options). */
  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  final case class Conf(data: String, out: String, keys: Seq[String], clients: Int,
      seconds: Double, seed: Long, cores: Int, trace: Boolean, poison: Option[String],
      warmCycles: Int)

  private def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(need("data"), need("out"), need("keys").split(",").toSeq.filter(_.nonEmpty),
      m.getOrElse("clients", "1").toInt, need("seconds").toDouble, m.getOrElse("seed", "0").toLong,
      need("cores").toInt, m.get("trace").contains("1"), m.get("poison"),
      m.getOrElse("warm-cycles", "0").toInt)
  }

  // request timestamps in epoch microseconds, comparable with listener ms
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  private def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L

  final case class Req(id: Long, key: String, client: Int, startUs: Long,
      buildUs: Long, execUs: Long, releaseUs: Long, error: String) {
    def json: Map[String, Any] = Map("id" -> id, "key" -> key, "client" -> client,
      "start_us" -> startUs, "build_us" -> buildUs, "exec_us" -> execUs,
      "release_us" -> releaseUs, "error" -> error)
  }

  /** A query map whose `key` is right on its first call and returns one
    * duplicated row on every later one: a defect of repeated execution
    * that the check pass must catch (the benchmark's self-test uses it).
    */
  def poisoned(queries: Map[String, (SparkSession, String) => DataFrame],
      key: String): Map[String, (SparkSession, String) => DataFrame] = {
    val fn = queries.getOrElse(key, throw new IllegalArgumentException(s"unknown key $key"))
    val calls = new AtomicInteger(0)
    queries.updated(key, (s: SparkSession, d: String) => {
      val df = fn(s, d)
      if (calls.getAndIncrement() == 0) df else df.union(df.limit(1))
    })
  }

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def jitMs: Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported).fold(0L)(_.getTotalCompilationTime)

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  private def statusKb(field: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(field + ":")).map(_.split("\\s+")(1).toLong).getOrElse(0L)

  /** Resets the kernel's peak-RSS mark so VmHWM covers only what follows. */
  private def resetPeakRss(): Boolean =
    try { Files.writeString(Paths.get("/proc/self/clear_refs"), "5"); true }
    catch { case NonFatal(_) => false }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val missing = graft.Tables.all.filterNot(t => Files.exists(Paths.get(s"${conf.data}/$t.parquet")))
    require(missing.isEmpty, s"input dir ${conf.data} lacks tables: ${missing.mkString(", ")}")
    val all = conf.poison.fold(SparkEntry.queries)(poisoned(SparkEntry.queries, _))
    val unknown = conf.keys.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    val queries = all.view.filterKeys(conf.keys.toSet).toMap
    Files.createDirectories(Paths.get(conf.out))

    val spark = GraftSession.tune(SparkSession.builder()
        .master(s"local[${conf.cores}]")
        .config("spark.local.dir", s"${conf.out}/local")
        .config("spark.sql.warehouse.dir", s"${conf.out}/warehouse"), conf.cores)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")

    /** One request: build, execute into `sink` (the noop sink, or a
      * parquet dir for the check pass), release. */
    def request(id: Long, key: String, client: Int, release: Boolean,
        sink: Option[String] = None): Req = {
      sc.setLocalProperty(RequestProp, id.toString)
      val t0 = nowUs
      var t1 = 0L
      var t2 = 0L
      var err: String = null
      try {
        val df = queries(key)(spark, conf.data)
        t1 = nowUs
        sink match {
          case None => df.write.format("noop").mode("overwrite").save()
          case Some(dir) => df.write.mode("overwrite").parquet(dir)
        }
        t2 = nowUs
      } catch {
        case NonFatal(e) =>
          err = s"${e.getClass.getName}: ${e.getMessage}"
          if (t1 == 0L) t1 = nowUs
          t2 = nowUs
      } finally {
        if (release) Checkpoints.releaseAll()
        sc.setLocalProperty(RequestProp, null)
      }
      Req(id, key, client, t0, t1 - t0, t2 - t1, nowUs - t2, err)
    }

    // cold pass: every key once, its checkpoint jobs counted
    val ckptJobs = new AtomicInteger(0)
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Tracer.isCheckpointJob(e)) ckptJobs.incrementAndGet()
    }
    sc.addSparkListener(counter)
    val coldStart = System.nanoTime()
    val cold = conf.keys.sorted.map { key =>
      ckptJobs.set(0)
      val r = request(-1L, key, -1, release = true)
      org.apache.spark.graftbench.Bus.drain(sc)
      (r, ckptJobs.get())
    }
    sc.removeSparkListener(counter)
    val coldPassS = (System.nanoTime() - coldStart) / 1e9
    val checkpointing = cold.collect { case (r, n) if n > 0 => r.key }
    require(conf.clients == 1 || checkpointing.isEmpty,
      s"keys ${checkpointing.mkString(", ")} launch checkpoint jobs; Checkpoints.releaseAll() " +
        "is JVM-global, so they cannot share a session with concurrent clients")

    /** `clients` closed-loop threads. Client `c` repeats one cycle through
      * all keys: the sorted keys rotated by a number drawn from the seed,
      * plus `c`. So the seed picks the order, every key follows the
      * same key in every run, and no two of the first `keys` clients start
      * alike. A client stops after the first whole cycle that ends with at
      * least `minCycles` done and `seconds` passed, so every key has the
      * same weight in every run. Checkpoints are released after each request
      * with one client, else once at the quiescent point after all clients
      * stop.
      */
    def closedLoop(seconds: Double, minCycles: Int): Seq[Req] = {
      val records = new ConcurrentLinkedQueue[Req]()
      val ids = new AtomicLong(0L)
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      val sorted = conf.keys.sorted.toList
      val rotation = new scala.util.Random(conf.seed).nextInt(sorted.size)
      val clients = (0 until conf.clients).map { c =>
        val r = (rotation + c) % sorted.size
        val order = sorted.drop(r) ++ sorted.take(r)
        val t = new Thread(() => {
          var cycle = List.empty[String]
          var started = 0
          while (cycle.nonEmpty || started < minCycles || System.nanoTime() < deadline) {
            if (cycle.isEmpty) {
              cycle = order
              started += 1
            }
            records.add(request(ids.getAndIncrement(), cycle.head, c, release = conf.clients == 1))
            cycle = cycle.tail
          }
        }, s"client-$c")
        t.start()
        t
      }
      clients.foreach(_.join())
      if (conf.clients > 1) Checkpoints.releaseAll()
      records.asScala.toSeq.sortBy(_.id)
    }

    // untimed noop cycles: the JIT is still catching up after the cold pass
    closedLoop(0.0, minCycles = conf.warmCycles)
    // one full GC, so the heap the window starts from holds live data only.
    // The JIT is not waited for: the program keeps compiling while requests
    // run (`jvm.jit_ms`), so it does not go idle.
    System.gc()

    // timed window: at least two whole cycles, so every key has two samples
    val tracer = if (conf.trace) Some(new Tracer) else None
    tracer.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
    val gc0 = gcMs
    val jit0 = jitMs
    heapPools.foreach(_.resetPeakUsage())
    val hwmWindow = resetPeakRss()
    println(s"READY ${System.currentTimeMillis()}")
    System.out.flush()
    val start = System.nanoTime()
    val records = closedLoop(conf.seconds, minCycles = 2)
    val windowS = (System.nanoTime() - start) / 1e9
    val peakRssKb = statusKb("VmHWM")
    val gcWindow = gcMs - gc0
    val jitWindow = jitMs - jit0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    tracer.foreach { t =>
      org.apache.spark.graftbench.Bus.drain(sc)
      sc.removeSparkListener(t)
      spark.listenerManager.unregister(t)
      Json.writeValue(new java.io.File(s"${conf.out}/trace.json"), t.json)
    }

    // check pass, after the window and its quiescent release: every key
    // once more, its result written to parquet for the oracle check
    val results = s"${conf.out}/results"
    val check = conf.keys.sorted.map(key =>
      request(-2L, key, -1, release = true, sink = Some(s"$results/$key")))
    Files.createDirectories(Paths.get(results))
    Json.writeValue(new java.io.File(s"$results/oracle_sql.json"),
      SparkEntry.oracleSql.view.filterKeys(conf.keys.toSet).toMap)

    Json.writeValue(new java.io.File(s"${conf.out}/run.json"), Map(
      "cold_pass_s" -> coldPassS,
      "window_s" -> windowS,
      "peak_rss_mb" -> peakRssKb / 1024.0,
      "peak_rss_scope" -> (if (hwmWindow) "window" else "process"),
      "gc_ms" -> gcWindow,
      "jit_ms" -> jitWindow,
      "heap_peak_mb" -> heapPeakMb,
      "cold_pass" -> cold.map { case (r, n) => Map("req" -> r.json, "checkpoint_jobs" -> n) },
      "check_pass" -> check.map(_.json),
      "requests" -> records.map(_.json)))
    spark.stop()
  }
}
