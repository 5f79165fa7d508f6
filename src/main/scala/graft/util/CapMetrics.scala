package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, GraftSql}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** The LSH bucket gate and its drop accounting.
  *
  * Every LSH-style pair generator in the engine (fuzzy LSH, ANN LSH top-k,
  * minhash / simhash / cosine / semantic dedup) caps bucket sizes so a
  * degenerate bucket cannot concentrate quadratic work on one reducer
  * (see [[graft.fuzzy.AnnJoin]]). The cap trades recall for boundedness —
  * and that trade must never be silent. [[gate]] is the one entry point:
  * it accounts the caller's per-bucket statistics frame (tiny: one row per
  * candidate bucket, already aggregated), logs one line per capped stage
  *
  *   [graft.cap] <stage>: dropped N of M buckets (~P candidate pairs)
  *
  * and returns a [[BucketGate]] that applies the regime it picked to any
  * banded frame (`keep(df, band, key)`). Three regimes:
  *  - bucket count fits on the driver (small corpora): ONE collect,
  *    driver-side drop accounting — no checkpoint, no extra action; the
  *    gate is a codegen'd filter against the sorted dropped keys;
  *  - more buckets than that, but drops fit (THE scale regime: drops are
  *    outliers by design, so a 100 TB corpus with billions of healthy
  *    buckets still lands here): stats materialize cluster-side, one
  *    4-scalar aggregate accounts the drops, and only the dropped keys
  *    ship to the driver — driver state is O(drops), not O(buckets), and
  *    the band frames never pay a join against the bucket list (measured
  *    at sf10: the allowed-frame join made LSH candidate generation grow
  *    18x at 10x values; the dropped-key filter restored ~linear). The
  *    gate is the same filter;
  *  - more DROPPED buckets than the driver cap (pathological — the
  *    volume-bail/exact-fallback territory): the gate joins the
  *    allowed-buckets frame.
  *
  * Synchronous by design: an earlier `Dataset.observe`-based version lost
  * its metrics whenever AQE wrapped the CollectMetrics node inside a
  * broadcast query stage, so tests (and operators) could not rely on the
  * numbers arriving. Tests read the same numbers via [[lastMetrics]].
  */
object CapMetrics {
  private val log = LoggerFactory.getLogger(getClass)

  /** `keptPairs` is the SUM over allowed buckets of their lc*rc candidate
    * counts — an upper bound on unique surviving pairs (a pair colliding
    * in b bands counts b times). Callers use kept + dropped as the LSH
    * path's total planned volume (see AnnJoin's exact-fallback gate). */
  final case class CapStats(droppedBuckets: Long, totalBuckets: Long,
                            droppedPairs: Long, keptPairs: Long = 0L)

  /** Largest band count a gated frame may carry. The driver-side dropped
    * key is `key * (MaxBands + 1) + band`: a band at or past the
    * multiplier would alias distinct (band, key) pairs, and a healthy
    * bucket could be dropped with an over-cap one, unaccounted. Every
    * banded entry point validates its band count against this bound. */
  val MaxBands = 130

  private[util] val KeyMultiplier: Long = MaxBands + 1L

  /** The dropped-key encoding shared by [[gate]] and [[BucketAllowed]].
    * Wraps on overflow by design (Spark-side long arithmetic would throw
    * under ANSI instead). A 64-bit collision between a dropped and a kept
    * bucket key drops the kept bucket too: a bounded recall perturbation
    * (same class as the cap itself, ~drops x buckets / 2^64), never a
    * wrong score. */
  private[util] def encode(band: Int, key: Long): Long = key * KeyMultiplier + band

  /** Rejects a band count the dropped-key encoding cannot represent. */
  def requireBands(name: String, bands: Int): Unit =
    require(bands >= 1 && bands <= MaxBands,
      s"$name must be in [1, $MaxBands] (got $bands): the bucket gate's " +
        s"dropped-key encoding (key*${KeyMultiplier}+band) aliases larger band counts")

  /** Past this caller-estimated bucket count the driver-collect regime is
    * skipped: it would ship every healthy bucket to the driver just to
    * count it — measured as the single largest LSH candidate-generation
    * stage at sf0.1 (~1.6M collected rows). Three small jobs over a
    * materialized stats frame beat one multi-second full-bucket collect
    * well before a million buckets, and driver memory stays O(drops). */
  private val DriverCollectBucketBar = 500_000L

  private val GateBand = "__gate_band"
  private val GateKey = "__gate_key"

  /** Last accounted stats per stage name, refreshed on every build that
    * touches the stage. */
  private val last = new ConcurrentHashMap[String, CapStats]()

  def lastMetrics(stage: String): Option[CapStats] = Option(last.get(stage))

  /** Record + log stats computed by the caller (driver-side accounting
    * paths that already hold the bucket rows). */
  def record(stage: String, s: CapStats): Unit = {
    last.put(stage, s)
    if (s.droppedBuckets > 0)
      log.warn(s"[graft.cap] $stage: dropped ${s.droppedBuckets} of ${s.totalBuckets} buckets " +
        s"(~${s.droppedPairs} candidate pairs) — raise the bucket cap or dedup inputs first")
    else
      log.info(s"[graft.cap] $stage: no buckets dropped (total ${s.totalBuckets})")
  }

  /** A picked gate: the accounted [[CapStats]] plus the regime to apply.
    * `stats` are THIS call's numbers — callers plan on them, not on
    * `lastMetrics(stage)`, which concurrent matches on other driver
    * threads (a supported pattern — MatchScope is per-thread) share by
    * stage name. In the two driver-set regimes `droppedKeys` holds the
    * sorted encoded keys of the dropped buckets; in the allowed-frame
    * regime `allowed` holds the kept buckets and `droppedKeys` is empty. */
  final class BucketGate private[CapMetrics] (val stats: CapStats,
      droppedKeys: Array[Long], allowed: Option[DataFrame]) {

    /** Rows of `df` whose (band, key) bucket the gate keeps. `band` must be
      * int-typed and `key` long-typed; they need not carry the statistics
      * frame's column names (the semantic-dedup sites gate a constant band
      * and their `cell` key). */
    def keep(df: DataFrame, band: Column, key: Column): DataFrame = allowed match {
      case Some(kept) =>
        df.join(kept, band === col(GateBand) && key === col(GateKey)).drop(GateBand, GateKey)
      case None => prune(df, band, key)
    }

    /** The cheap half of [[keep]], for the second side of a bucket
      * equi-join whose first side went through [[keep]]: the dropped-key
      * filter in the driver-set regimes, the identity in the allowed-frame
      * regime (the first side's join already confines the pair join to
      * kept buckets, so a second join would only add a shuffle). */
    def prune(df: DataFrame, band: Column, key: Column): DataFrame =
      if (droppedKeys.isEmpty) df
      else df.where(!GraftSql.column(BucketAllowed(
        GraftSql.expression(band), GraftSql.expression(key), droppedKeys)))
  }

  /** Account `bucketStats` (one row per candidate bucket, int `bandCol`,
    * long `keyCol`), record + log what `overCap` drops, and return the gate
    * that applies the regime it picked (see the object scaladoc). `pairs`
    * is the candidate-pair count a bucket would have contributed.
    * `estBuckets` is the caller's upper bound on the bucket count (e.g. the
    * band-row count; -1 when unknown): past [[DriverCollectBucketBar]] the
    * driver-collect regime is skipped. */
  def gate(bucketStats: DataFrame, stage: String, bandCol: String, keyCol: String,
           overCap: Column, pairs: Column, checkpoint: CheckpointStrategy,
           maxDriverBuckets: Int = 2_000_000,
           estBuckets: Long = -1L): BucketGate = {
    def sorted(keys: Array[Long]): Array[Long] = { java.util.Arrays.sort(keys); keys }
    val collected =
      if (estBuckets > DriverCollectBucketBar) None
      else Some(bucketStats.select(col(bandCol).cast("int").as("__b"), col(keyCol).as("__k"),
          overCap.as("__over"), pairs.cast("long").as("__p"))
        .limit(maxDriverBuckets + 1).collect())
        .filter(_.length <= maxDriverBuckets)
    val picked = collected match {
      case Some(rows) =>
        var dropped = 0L
        var droppedPairs = 0L
        var keptPairs = 0L
        val blocked = Array.newBuilder[Long]
        rows.foreach { r =>
          if (r.getBoolean(2)) {
            dropped += 1; droppedPairs += r.getLong(3)
            blocked += encode(r.getInt(0), r.getLong(1))
          } else keptPairs += r.getLong(3)
        }
        new BucketGate(CapStats(dropped, rows.length.toLong, droppedPairs, keptPairs),
          sorted(blocked.result()), None)
      case None =>
        val stats = Materialize(bucketStats, checkpoint)
        val row = stats.agg(
          sum(when(overCap, 1L).otherwise(0L)).as("dropped_buckets"),
          count(lit(1)).as("total_buckets"),
          sum(when(overCap, pairs).otherwise(lit(0L))).cast("long").as("dropped_pairs"),
          sum(when(overCap, lit(0L)).otherwise(pairs)).cast("long").as("kept_pairs")).head()
        def orZero(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
        val s = CapStats(orZero(0), orZero(1), orZero(2), orZero(3))
        if (s.droppedBuckets <= maxDriverBuckets)
          new BucketGate(s, sorted(stats.where(overCap)
            .select(col(bandCol).cast("int"), col(keyCol))
            .collect().map(r => encode(r.getInt(0), r.getLong(1)))), None)
        else
          new BucketGate(s, Array.emptyLongArray,
            Some(stats.where(!overCap).select(col(bandCol).as(GateBand), col(keyCol).as(GateKey))))
    }
    record(stage, picked.stats)
    picked
  }
}

/** Membership of the (band, bucket-key) pair in the gate's sorted dropped
  * keys ([[CapMetrics.encode]]), probed by binary search — the
  * broadcast-hash-join of bucket gating without the join stage.
  * [[CapMetrics.BucketGate]] negates it (keep = not dropped), so driver
  * state is O(drops) at any corpus size. */
private[util] case class BucketAllowed(band: Expression, bkey: Expression, sortedKeys: Array[Long])
    extends BinaryExpression with Predicate {
  override def left: Expression = band
  override def right: Expression = bkey
  override def prettyName: String = "bucket_allowed"
  override protected def nullSafeEval(b: Any, k: Any): Any =
    java.util.Arrays.binarySearch(sortedKeys,
      CapMetrics.encode(b.asInstanceOf[Int], k.asInstanceOf[Long])) >= 0
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sortedKeys", sortedKeys, "long[]")
    defineCodeGen(ctx, ev, (b, k) =>
      s"(java.util.Arrays.binarySearch($ref, ((long)$k) * ${CapMetrics.KeyMultiplier}L + $b) >= 0)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(band = l, bkey = r)
}
