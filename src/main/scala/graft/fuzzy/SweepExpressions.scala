package graft.fuzzy

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, GraftSql}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.{col, lit, lower, pmod, xxhash64}
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Broadcast-side snapshot for the exact scoring sweep ([[FuzzySweep]]):
  * the smaller side's distinct values hoisted out of UnsafeRow form into
  * flat primitive arrays, length-sorted.
  *
  * Why flat arrays and not a join: a BroadcastNestedLoopJoin with the
  * kernel in its condition pays a codegen'd join iteration with per-pair
  * UnsafeRow accessors for every pair, including the pairs the kernel
  * rejects on length alone — most of its per-pair cost (VERDICT.md, r20
  * audit item 1). Here the per-pair inner loop reads two longs from flat
  * arrays (cache-resident at 16 B/value: 150k values = 2.4 MB vs ~15 MB of
  * scattered UnsafeRows), and the length sort turns
  * [[Kernels.lengthReject]] into a binary-searched skip of whole blocks
  * instead of a per-pair test.
  *
  * Layout: values `[0, asciiCount)` are pure-ASCII lowercase, `[asciiCount,
  * n)` the non-ASCII tail; each region is sorted by length ascending.
  * `lens` are the lengths the kernels bound on — UTF-16 units, which is
  * the byte length for ASCII. Masks are set for the ASCII region only (the
  * levenshtein gate reads them); `lows` hold the Spark-side `lower()` of
  * each value, `origs` the original value emitted on a match.
  */
final class SweepTable(
    val n: Int,
    val asciiCount: Int,
    val lens: Array[Int],
    val masks1: Array[Long],
    val masks2: Array[Long],
    val lows: Array[UTF8String],
    val origs: Array[UTF8String]) extends Serializable

object SweepTable {

  /** Build from collected (original, lowered) string pairs. The lowered
    * strings MUST come from Spark's own `lower()` (collected alongside the
    * originals) so sweep scores are bit-identical to the expression path —
    * JVM `toLowerCase` differs from UTF8String.toLowerCase on some
    * non-ASCII code points. */
  def build(origs: Array[String], lows: Array[String]): SweepTable = {
    val n = origs.length
    val lowU = new Array[UTF8String](n)
    val origU = new Array[UTF8String](n)
    val ascii = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      origU(i) = UTF8String.fromString(origs(i))
      lowU(i) = UTF8String.fromString(lows(i))
      ascii(i) = lowU(i).isFullAscii
      i += 1
    }
    // the length distBounded sees: byte length on its ASCII path,
    // String.length on the generic one
    def len(i: Int): Int = if (ascii(i)) lowU(i).numBytes else lowU(i).toString.length
    // ASCII region first, each region sorted by length
    val order = Array.range(0, n).sortBy(i =>
      (if (ascii(i)) 0L else 1L) * Int.MaxValue.toLong + len(i))
    val lens = new Array[Int](n)
    val m1 = new Array[Long](n)
    val m2 = new Array[Long](n)
    val lo = new Array[UTF8String](n)
    val og = new Array[UTF8String](n)
    var asciiCount = 0
    i = 0
    while (i < n) {
      val src = order(i)
      lo(i) = lowU(src)
      og(i) = origU(src)
      lens(i) = len(src)
      if (ascii(src)) {
        asciiCount += 1
        m1(i) = VectorKernels.charMask(lowU(src))
        m2(i) = VectorKernels.bigramMask(lowU(src))
      }
      i += 1
    }
    new SweepTable(n, asciiCount, lens, m1, m2, lo, og)
  }
}

/** Generator form of the exact scoring join, for all six algorithms: for
  * one lowered left value, emit `(rightValue, similarity)` for every
  * broadcast-side value within the threshold — the same surviving pair set
  * and scores as a distinct-value `crossJoin` scored by
  * [[FuzzyMatcher.scoreValuePairs]] ([[BoundedFuzzyDistance]] + `s <=
  * maxDist` filter), proven equivalent pair by pair:
  *
  *  - a length block is skipped only when [[Kernels.lengthReject]] holds
  *    for its length, which is [[Kernels.distBounded]]'s own first reject,
  *    so banding only skips pairs the kernel scores 2.0;
  *  - the binary search and the early stop are exact because, for a fixed
  *    left length `l`, the reject is monotone in the right length `r`:
  *    nonincreasing for `r <= l`, nondecreasing for `r >= l`. For `r <= l`
  *    the bound's right-hand side is fixed (it depends on `mx = l`, or for
  *    indel grows with `r`) while `diff = l - r` shrinks. For `r >= l`,
  *    with `c = maxDist` in [0, 1], each form rejects when a function of
  *    `r` alone exceeds `l`, and that function never decreases by a step
  *    of `r`:
  *      - levenshtein / damerau: `r - floor(c*r)` — `floor(c*r)` grows by
  *        at most 1 per step because `c <= 1`;
  *      - indel: `r - floor(c*(l+r))`, the same argument;
  *      - hamming, jaro, jaro-winkler: `r - C*r` with `C = c`, `3c`, `5c`
  *        — increasing when `C < 1`, and when `C >= 1` nothing with `r >=
  *        l` is rejected at all.
  *    Thresholds outside 0-100 put `c` outside [0, 1]: for `c > 1` no
  *    reject holds at `r >= l`, for `c < 0` every non-empty pair is
  *    rejected, so both are monotone trivially.
  *    In floating point the step argument needs `1 - C >= (2r+1) * 2^-53`
  *    or `C` exactly 1; [[FuzzyMapping.reversedThresholdScore]] yields
  *    multiples of 0.01, far from that edge (KernelsSpec checks every
  *    integer threshold exhaustively);
  *  - levenshtein pairs that are both ASCII keep the mask gate
  *    (`bitCount(m1L^m1R) > 2k || bitCount(m2L^m2R) > 4k`, each side
  *    disabled on mask 0, `k = floor(maxDist*max(len))`): one edit flips
  *    at most 2 bits of the char mask and 4 of the bigram mask (property-
  *    pinned in KernelsSpec), so the gate only replaces over-threshold
  *    results; survivors run [[Kernels.levBoundedAscii]] with the same `k`,
  *    exactly as [[Kernels.distBounded]]'s ASCII path does;
  *  - every other pair runs [[Kernels.distBounded]] itself, with the same
  *    `nd <= maxDist` comparison on the same doubles.
  *
  * Evaluated per LEFT row (not per pair): the scan over the table is a
  * hand-written loop over primitive arrays. CodegenFallback is deliberate
  * — GenerateExec invokes `eval` once per left value, which is off the
  * per-pair hot path.
  */
case class FuzzySweep(child: Expression, algo: FuzzyAlgorithm, maxDist: Double,
                      rightName: String, table: Broadcast[SweepTable])
    extends Expression with Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.catalogString}")

  override def elementSchema: StructType = StructType(Seq(
    StructField(rightName, StringType), StructField("s", DoubleType)))

  override def prettyName: String = "fuzzy_sweep"

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input).asInstanceOf[UTF8String]
    if (v == null) return Nil
    val t = table.value
    if (t.n == 0) return Nil
    val out = new ArrayBuffer[InternalRow]()
    // clone: the kernels' word-wise reads want a stable base object, and
    // `v` may point into a reused row buffer
    val lLow = v.clone()
    val lAscii = lLow.isFullAscii
    val lLen = if (lAscii) lLow.numBytes else lLow.toString.length
    sweep(t, lLow, lLen, 0, t.asciiCount,
      gated = lAscii && algo == FuzzyAlgorithm.Levenshtein, out)
    sweep(t, lLow, lLen, t.asciiCount, t.n, gated = false, out)
    out
  }

  /** Scan the length-sorted region `[from, until)` of the table. */
  private def sweep(t: SweepTable, lLow: UTF8String, lLen: Int, from: Int, until: Int,
                    gated: Boolean, out: ArrayBuffer[InternalRow]): Unit = {
    val id = algo.id
    // first index at or past lLen, or whose length is not rejected (the
    // reject is nonincreasing in rLen below lLen)
    var lo = from
    var hi = until
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      val rLen = t.lens(mid)
      if (rLen < lLen && Kernels.lengthReject(id, lLen, rLen, maxDist)) lo = mid + 1
      else hi = mid
    }
    val lm1 = if (gated) VectorKernels.charMask(lLow) else 0L
    val lm2 = if (gated) VectorKernels.bigramMask(lLow) else 0L
    var i = lo
    while (i < until) {
      val rLen = t.lens(i)
      var e = i + 1
      while (e < until && t.lens(e) == rLen) e += 1
      if (Kernels.lengthReject(id, lLen, rLen, maxDist)) {
        // nondecreasing past lLen: every longer block is out of reach too
        if (rLen > lLen) return
      } else if (gated) {
        val mx = if (rLen > lLen) rLen else lLen
        val k = (maxDist * mx).toInt
        val g2 = 2L * k
        val g4 = 4L * k
        val mxd = mx.toDouble
        var j = i
        while (j < e) {
          val rm1 = t.masks1(j)
          val pruned =
            (lm1 != 0L && rm1 != 0L &&
              java.lang.Long.bitCount(lm1 ^ rm1) > g2) || {
              val rm2 = t.masks2(j)
              lm2 != 0L && rm2 != 0L &&
                java.lang.Long.bitCount(lm2 ^ rm2) > g4
            }
          if (!pruned) {
            val nd =
              if (mx == 0) 0.0
              else {
                val d = Kernels.levBoundedAscii(lLow, t.lows(j), k)
                if (d > k) 2.0 else d.toDouble / mxd
              }
            if (nd <= maxDist)
              out += new GenericInternalRow(Array[Any](t.origs(j), 1.0 - nd))
          }
          j += 1
        }
      } else {
        var j = i
        while (j < e) {
          val nd = Kernels.distBounded(id, lLow, t.lows(j), maxDist)
          if (nd <= maxDist)
            out += new GenericInternalRow(Array[Any](t.origs(j), 1.0 - nd))
          j += 1
        }
      }
      i = e
    }
  }
}

/** Entry point used by [[FuzzyMatcher]]'s exact path. */
object SweepScore {

  /** Scored value pairs `(lCol, rCol, s)` for the exact `algo` cross join
    * of two distinct-value frames — same rows as a distinct-value
    * `crossJoin` scored by [[FuzzyMatcher.scoreValuePairs]], computed by
    * [[FuzzySweep]] over a length-sorted broadcast snapshot of the
    * (smaller) right side, which is collected to the driver to build it. */
  def sweepScoredPairs(leftVals: DataFrame, rightVals: DataFrame,
                       lCol: String, rCol: String, maxDist: Double,
                       algo: FuzzyAlgorithm = FuzzyAlgorithm.Levenshtein): DataFrame = {
    val spark = leftVals.sparkSession
    val rows = rightVals.select(col(rCol), lower(col(rCol))).collect()
    val table = SweepTable.build(
      rows.map(_.getString(0)), rows.map(_.getString(1)))
    val bc = spark.sparkContext.broadcast(table)
    // The stream side sets the sweep's parallelism, and AQE happily
    // coalesces a small distinct-value frame to ONE partition — which
    // serializes the whole O(n*m) scoring loop onto a single core
    // (measured: 225M pairs ran single-threaded). Spread it first.
    val parallelism = spark.sparkContext.defaultParallelism
    val lSpread =
      if (leftVals.queryExecution.toRdd.getNumPartitions < parallelism)
        leftVals.repartition(parallelism)
      else leftVals
    val gen: Column = GraftSql.column(
      FuzzySweep(GraftSql.expression(lower(col(lCol))), algo, maxDist, rCol, bc))
    lSpread.select(col(lCol), gen.as(Seq(rCol, "s")))
  }

  /** [[sweepScoredPairs]] with the right side cut into `slices` hash
    * slices (`pmod(xxhash64(v), slices)`), each swept against its own
    * broadcast table, so no single table holds more than about
    * `|rightVals| / slices` values. The slices partition the right values,
    * so the union is exactly the unsliced pair set. */
  def slicedSweepScoredPairs(leftVals: DataFrame, rightVals: DataFrame,
                             lCol: String, rCol: String, maxDist: Double,
                             algo: FuzzyAlgorithm, slices: Int): DataFrame =
    if (slices <= 1) sweepScoredPairs(leftVals, rightVals, lCol, rCol, maxDist, algo)
    else (0 until slices).map { s =>
      val slice = rightVals.where(pmod(xxhash64(col(rCol)), lit(slices.toLong)) === s)
      sweepScoredPairs(leftVals, slice, lCol, rCol, maxDist, algo)
    }.reduce(_ union _)
}
