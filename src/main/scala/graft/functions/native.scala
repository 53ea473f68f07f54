package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.{BpeTokenStats, CharNgramHashes, ColumnBridge, CosineSimilarity, DotProduct, GearChunkEnds, HyperplaneBuckets, IntDot, IntSquaredL2, MinHashSignature, NearestCells, RollingHash, SimHash64, SortedIntersectCount}

/** Column-API front for graft's native Catalyst expressions. */
object native {

  /** Cosine similarity of two `array<double>` columns (codegen, one pass). */
  def cosineSim(a: Column, b: Column): Column =
    ColumnBridge.column(CosineSimilarity(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Inner product of two `array<double>` columns (codegen, one pass) —
    * the MIPS scoring kernel.
    */
  def dotProduct(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** 64-bit polynomial rolling hash of a string column (codegen). */
  def rollingHash(s: Column): Column =
    ColumnBridge.column(RollingHash(ColumnBridge.expression(s)))

  /** 64-bit SimHash of an `array<string>` token column (codegen). */
  def simHash64(tokens: Column): Column =
    ColumnBridge.column(SimHash64(ColumnBridge.expression(tokens)))

  /** MinHash signature of an `array<string>` column (codegen): `nPerms`
    * Carter–Wegman permutations, prefix-compatible across widths (the
    * first 64 of a 128-perm signature equal the 64-perm signature).
    */
  def minHashSignature(tokens: Column, nPerms: Int = 64): Column =
    ColumnBridge.column(MinHashSignature(ColumnBridge.expression(tokens), nPerms))

  /** |A ∩ B| of two ascending-sorted `array<long>` columns (codegen). */
  def sortedIntersectCount(a: Column, b: Column): Column =
    ColumnBridge.column(SortedIntersectCount(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Σ(a−b)² of two `array<bigint>` columns (codegen) — the integer
    * quantizer's exact squared-L2 routing kernel.
    */
  def intSquaredL2(a: Column, b: Column): Column =
    ColumnBridge.column(IntSquaredL2(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** The `k` cells of a fixed centroid table nearest to an `array<bigint>`
    * column (codegen), as `array<struct<cell, dist_sq>>` in (dist_sq, cell)
    * order. `cells` is sorted ascending, null first; `cents` is row-major.
    */
  def nearestCells(ie: Column, cells: Seq[java.lang.Long], cents: Seq[Long],
      k: Int): Column =
    ColumnBridge.column(NearestCells(ColumnBridge.expression(ie), cells, cents, k))

  /** Exact Σ aᵢ·bᵢ over two bigint arrays — codegen'd, replacing the
    * interpreted aggregate(zip_with(...)) fold (same accumulation order).
    */
  def intDot(a: Column, b: Column): Column =
    ColumnBridge.column(IntDot(ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Greedy longest-match subword token stats [n_tokens, n_fallback] of a
    * string column over an ASCII vocab (codegen).
    */
  def bpeTokenStats(text: Column, vocab: Seq[String]): Column =
    ColumnBridge.column(BpeTokenStats(ColumnBridge.expression(text), vocab))

  /** Content-defined chunk END offsets (code points) via Gear rolling
    * hash (codegen) — the CDC dedup boundary primitive.
    */
  def gearChunkEnds(text: Column, minLen: Int = 16, avgMask: Int = 64): Column =
    ColumnBridge.column(GearChunkEnds(ColumnBridge.expression(text), minLen, avgMask))

  /** Sorted distinct 64-bit char-n-gram hashes of a string column (codegen). */
  def charNgramHashes(text: Column, n: Int): Column =
    ColumnBridge.column(CharNgramHashes(ColumnBridge.expression(text), n))

  /** Per-table random-hyperplane LSH buckets of an `array<double>` column
    * (codegen): result[t] = bits of sign(dot(emb, plane)) for that table's
    * planes. `planes` is flat row-major (nTables*planesPerTable*dim).
    */
  def hyperplaneBuckets(emb: Column, planes: Array[Double],
      nTables: Int, planesPerTable: Int): Column =
    ColumnBridge.column(HyperplaneBuckets(
      ColumnBridge.expression(emb), planes.toSeq, nTables, planesPerTable))
}
