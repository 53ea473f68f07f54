package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioningLike, Partitioning, SinglePartition, UnknownPartitioning}
import org.apache.spark.sql.classic.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Checkpoint that KEEPS the materialized frame's hash partitioning.
  *
  * `Dataset.localCheckpoint()` rebuilds the plan as a `LogicalRDD` with
  * `UnknownPartitioning` (measured round 18, `graft.tools.CoPartProbe`:
  * every checkpointed frame scans back as `UnknownPartitioning(0)` under
  * AQE), so an iterative operator that joins a loop-invariant frame each
  * round re-shuffles that frame EVERY round — the per-round edge-set
  * exchange that floors the graph/CC families (guide §2.4: two operations
  * keyed the same way should share one exchange).
  *
  * This helper mirrors `Dataset.checkpoint`'s materialization (execute →
  * copy rows → local/reliable checkpoint → eager count) but constructs the
  * `LogicalRDD` with the executed plan's REAL output partitioning, so
  * `EnsureRequirements` can prove later joins/aggregations on the same key
  * co-partitioned and plan them exchange-free. Only hash partitioning
  * (plain or AQE-coalesced) whose references are all in the output is
  * kept — anything else (range, unknown) degrades to
  * `UnknownPartitioning`, which is exactly today's behavior, never worse.
  *
  * Values are unaffected: this changes WHERE rows sit, which Catalyst only
  * uses to elide provably redundant exchanges.
  */
object PartitionedCheckpoint {

  /** Materializes `df` (locally or reliably checkpointed RDD), returning a
    * DataFrame whose plan is a `LogicalRDD` carrying the executed plan's
    * hash partitioning, plus the underlying RDD so the caller can register
    * it for unpersist (the `Checkpoints.releaseAll` discipline), plus the
    * materialized row count AND byte size (summed `UnsafeRow` sizes —
    * measured in the same eager-materialization job the stock
    * `Dataset.checkpoint(eager = true)` spends on a bare count, so the
    * exact size is free). The measured bytes become the rebuilt plan's
    * `sizeInBytes` statistic, so every later broadcast-vs-sort-merge
    * decision against this frame is made from REAL bytes instead of the
    * origin plan's estimate (guide §3.1: estimates are often badly wrong
    * after filters/aggregates — here we simply don't need one).
    */
  def cut(df: org.apache.spark.sql.DataFrame, reliable: Boolean): (DataFrame, RDD[InternalRow], Long, Long) = {
    val ds = df.asInstanceOf[Dataset[_]]
    val session = ds.sparkSession
    val qe = ds.queryExecution
    val physical = qe.executedPlan
    val internalRdd = physical.execute().map(_.copy())
    if (reliable) internalRdd.checkpoint() else internalRdd.localCheckpoint()
    // eager, like Dataset.checkpoint(eager = true), but the single
    // materialization job tallies rows AND unsafe-row bytes
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
    val finalPlan = physical match {
      case a: AdaptiveSparkPlanExec => a.finalPhysicalPlan
      case p => p
    }
    val output = ds.logicalPlan.output
    val outputSet = output.map(_.exprId).toSet
    // constraints rewritten from the origin plan exactly like
    // LogicalRDD.fromDataset (Dataset.checkpoint's path); statistics
    // REPLACED with the materialized truth — without ANY stats the rebuilt
    // frame estimates at defaultSizeInBytes and every join against it is
    // forced to sort-merge (measured round 18, CcRoundProbe: the stock
    // checkpoint's tiny bidir frame broadcast, the stats-less rebuild did
    // not — 8 → 16 jobs per CC round), and with only the origin ESTIMATE
    // a small-in-reality frame can still mis-plan to sort-merge (measured
    // round 18: dedup_cc's bidir, estimate-driven SMJ rounds at 47-55 s
    // task time vs 13-22 s planned from real bytes)
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
  }

  /** Drops a checkpoint's blocks. `RDD.unpersist` would do the same, but it
    * warns for every locally checkpointed RDD that it cannot be recomputed,
    * which is the point of a release; `SparkContext.unpersistRDD` does the
    * same removal without the warning.
    */
  def release(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
