package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioningLike, Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.classic.{DataFrame, Dataset}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel

/** graft's one checkpoint backend (reached through `graft.Checkpoints`).
  *
  * It mirrors Spark's own `Dataset.checkpoint(eager = true)`: execute the
  * plan inside a new SQL execution, copy rows, mark the RDD for a local or
  * reliable checkpoint, materialize it eagerly. Four things differ:
  *
  *  - The rebuilt `LogicalRDD` carries the executed plan's REAL output
  *    partitioning. The stock checkpoint rebuilds it as
  *    `UnknownPartitioning` (measured round 18: every checkpointed frame
  *    scanned back as `UnknownPartitioning(0)` under AQE), so an iterative
  *    operator that joins a loop-invariant frame each round re-shuffled
  *    that frame EVERY round — the per-round edge-set exchange that floored
  *    the graph/CC families (guide §2.4: two operations keyed the same way
  *    should share one exchange). Only hash partitioning (plain or
  *    AQE-coalesced) whose references are all in the output is kept;
  *    anything else (range, unknown) degrades to `UnknownPartitioning`.
  *  - The single materialization job also counts rows and unsafe-row bytes,
  *    and those MEASURED numbers become the rebuilt plan's statistics.
  *  - In reliable mode the RDD is persisted before it is marked, so the
  *    write job that Spark runs after the materialization job reads the
  *    cached blocks instead of evaluating every row a second time; the
  *    cached copy is dropped once the files are written.
  *  - The cut's jobs run without the execution's id (see
  *    `outsideExecution`): the execution only brackets them.
  *
  * Values are unaffected: partitioning only tells Catalyst WHERE rows sit,
  * which it uses to elide provably redundant exchanges. One cost: a frame
  * read several times (self-joins, unions of two projections) gets a copy
  * of its scan per read, and `RDDScanExec` canonicalizes a kept
  * partitioning with each copy's own attribute ids, so identical exchanges
  * above two copies are never reused. Cut the frame that is read several
  * times, not only what lies under it (see `Ann.trianglesOf`,
  * `Text.containment`).
  */
object PartitionedCheckpoint {

  /** Materializes `df` (locally or reliably checkpointed RDD), returning a
    * DataFrame whose plan is a `LogicalRDD` carrying the executed plan's
    * hash partitioning, plus the underlying RDD so the caller can register
    * it for unpersist (the `Checkpoints.releaseAll` discipline), plus the
    * materialized row count AND byte size (summed `UnsafeRow` sizes,
    * tallied by the one eager-materialization job). The measured bytes
    * become the rebuilt plan's `sizeInBytes` statistic, so every later
    * broadcast-vs-sort-merge decision against this frame is made from REAL
    * bytes instead of the origin plan's estimate (guide §3.1: estimates are
    * often badly wrong after filters/aggregates — here we simply don't need
    * one).
    *
    * The materialization runs inside `SQLExecution.withNewExecutionId`, as
    * `Dataset.checkpoint` does: the execution's end event is what completes
    * an `observe(Observation)` on `df`, so a loop that reads an observation
    * after its cut would otherwise wait forever. The cut's jobs run without
    * the execution's id (see `outsideExecution`) and carry `site` under
    * [[CutSiteKey]] instead.
    */
  def cut(df: org.apache.spark.sql.DataFrame, reliable: Boolean,
      site: String): (DataFrame, RDD[InternalRow], Long, Long) = {
    val ds = df.asInstanceOf[Dataset[_]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val name = if (reliable) "checkpoint" else "localCheckpoint"
    SQLExecution.withNewExecutionId(qe, Some(name))(outsideExecution(session.sparkContext, site) {
      val physical = qe.executedPlan
      physical.resetMetrics()
      val internalRdd = physical.execute().map(_.copy())
      if (reliable) {
        internalRdd.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
      } else {
        internalRdd.localCheckpoint()
      }
      // eager: this one job computes every row once and tallies rows AND
      // unsafe-row bytes; in reliable mode Spark writes the files right
      // after it, from the blocks it cached
      val (rows, bytes) = internalRdd.mapPartitions { it =>
        var n = 0L
        var b = 0L
        it.foreach { r =>
          n += 1L
          b += (r match {
            case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
              u.getSizeInBytes.toLong
            case _ => 64L // non-unsafe rows: conservative fixed estimate
          })
        }
        Iterator((n, b))
      }.fold((0L, 0L))((a, c) => (a._1 + c._1, a._2 + c._2))
      // the files now hold every row: drop the cached copy (and its storage
      // level, so later reads go to the files instead of caching again), so
      // a reliable cut keeps no executor memory, as a stock one does
      if (reliable) internalRdd.unpersist(blocking = false)
      val finalPlan = physical match {
        case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
        case p => p
      }
      val output = ds.logicalPlan.output
      val outputSet = output.map(_.exprId).toSet
      // constraints rewritten from the origin plan exactly like
      // LogicalRDD.fromDataset (Dataset.checkpoint's path); statistics
      // REPLACED with the materialized truth — without ANY stats the
      // rebuilt frame estimates at defaultSizeInBytes and every join
      // against it is forced to sort-merge (measured round 18 on a CC
      // round: the stock checkpoint's tiny bidir frame broadcast, the
      // stats-less rebuild did not — 8 → 16 jobs per CC round), and with
      // only the origin ESTIMATE a small-in-reality frame can still
      // mis-plan to sort-merge (measured round 18: dedup_cc's bidir,
      // estimate-driven SMJ rounds at 47-55 s task time vs 13-22 s planned
      // from real bytes)
      val (_, originConstraints) =
        LogicalRDD.rewriteStatsAndConstraints(ds.logicalPlan, qe.optimizedPlan)
      val originStats = Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
        sizeInBytes = BigInt(math.max(bytes, 1L)), rowCount = Some(BigInt(rows))))
      val partitioning: Partitioning = finalPlan.outputPartitioning match {
        // HashPartitioningLike covers both the plain and the AQE-coalesced
        // hash partitioning — a coalesced read still hash-clusters by the
        // same keys, so joins/aggs on those keys stay provably co-partitioned
        case h: HashPartitioningLike if h.references.forall(a => outputSet.contains(a.exprId)) => h
        // repartition(1, key) plans as SinglePartition (hashing into one
        // partition IS one partition) — trivially satisfies any clustering
        case SinglePartition => SinglePartition
        case _ => UnknownPartitioning(0)
      }
      val plan = LogicalRDD(output, internalRdd, partitioning,
        finalPlan.outputOrdering.filter(_.references.forall(a => outputSet.contains(a.exprId))),
        isStreaming = false)(session, originStats, originConstraints)
      (Dataset.ofRows(session, plan), internalRdd, rows, bytes)
    })
  }

  /** Runs a cut's jobs with no SQL execution id. The execution around the
    * cut only brackets it: its start and end events are all `observe`
    * needs. Without its id the jobs stay plain RDD checkpoint work, as they
    * were before the bracket, so job-level listeners (which go by a job's
    * `spark.sql.execution.id` property) still tell checkpoint jobs from
    * query jobs, and AQE posts no plan-update event (each one renders the
    * whole plan) for the cut's stages. The SQL UI thus shows a cut's
    * execution without its jobs or operator metrics. The jobs carry the
    * cut's `site` under [[CutSiteKey]] instead, so a profile can still
    * name them; AQE copies the thread's local properties into the jobs it
    * submits from its pool, so its stage jobs inside the cut carry it too.
    */
  private def outsideExecution[T](sc: org.apache.spark.SparkContext, site: String)(body: => T): T = {
    val id = sc.getLocalProperty(SQLExecution.EXECUTION_ID_KEY)
    val outer = sc.getLocalProperty(CutSiteKey)
    sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, null)
    sc.setLocalProperty(CutSiteKey, site)
    try body finally {
      sc.setLocalProperty(SQLExecution.EXECUTION_ID_KEY, id)
      sc.setLocalProperty(CutSiteKey, outer)
    }
  }

  /** Job property naming the cut a job materializes (`cut at Ann.scala:912`). */
  val CutSiteKey = "graft.cut.site"

  /** Drops a checkpoint's blocks. `RDD.unpersist` would do the same, but it
    * warns for every locally checkpointed RDD that it cannot be recomputed,
    * which is the point of a release; `SparkContext.unpersistRDD` does the
    * same removal without the warning.
    */
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
