package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.slf4j.LoggerFactory

/** Observability for LSH bucket-cap drops.
  *
  * Every LSH-style pair generator in the engine caps bucket sizes so a
  * degenerate bucket cannot concentrate quadratic work on one reducer
  * (see [[graft.fuzzy.AnnJoin]]). The cap trades recall for boundedness —
  * and that trade must never be silent. [[accountBucketCap]] materializes
  * the per-bucket statistics frame (tiny: one row per candidate bucket,
  * already aggregated — the join needs it anyway), runs one cheap
  * driver-side aggregate over it, and logs one line per capped stage:
  *
  *   [graft.cap] <stage>: dropped N of M buckets (~P candidate pairs)
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

  /** Materialize `bucketStats`, account + log what `overCap` will drop, and
    * return the materialized frame for the caller to filter. `overCap` must
    * be the same predicate the caller uses to FILTER the buckets; `pairs` is
    * the candidate-pair count a bucket would have contributed. */
  def accountBucketCap(bucketStats: DataFrame, stage: String,
                       overCap: Column, pairs: Column,
                       checkpoint: CheckpointStrategy): DataFrame =
    accountBucketCapWithStats(bucketStats, stage, overCap, pairs, checkpoint)._1

  /** Bucket gate with accounting, three regimes (shared by every LSH-style
    * pair generator). `Right` carries the sorted DROPPED bucket keys — the
    * caller keeps rows whose bucket is NOT in the set (via a negated
    * codegen'd membership filter, [[graft.fuzzy.BucketAllowed]]); `Left`
    * carries an allowed-buckets frame to equi-join against:
    *  - bucket count fits on the driver (small corpora): ONE collect,
    *    driver-side drop accounting — no checkpoint, no extra action;
    *  - more buckets than that, but drops fit (THE scale regime: drops are
    *    outliers by design, so a 100 TB corpus with billions of healthy
    *    buckets still lands here): stats materialize cluster-side, one
    *    4-scalar aggregate accounts the drops, and only the dropped keys
    *    ship to the driver — driver state is O(drops), not O(buckets), and
    *    the band frames never pay a join against the bucket list (measured
    *    at sf10: the allowed-frame join made LSH candidate generation grow
    *    18x at 10x values; the blocked-keys filter restored ~linear);
    *  - more DROPPED buckets than the driver cap (pathological — the
    *    volume-bail/exact-fallback territory): allowed-frame join.
    *
    * `bandCol` must be int-typed, `keyCol` long-typed; the driver-side key
    * is `key * 131 + band` (the multiplier must exceed every band count —
    * AnnJoin validates bands `< 131` — or distinct (band, key) pairs
    * collide and a healthy bucket could be dropped with an over-cap one),
    * matching [[graft.fuzzy.BucketAllowed]] which MUST stay in sync. A 64-bit hash
    * collision between a dropped and a kept bucket key drops the kept
    * bucket too: a bounded recall perturbation (same class as the cap
    * itself, ~drops x buckets / 2^64), never a wrong score. */
  def gate(bucketStats: DataFrame, stage: String, bandCol: String, keyCol: String,
           overCap: Column, pairs: Column, checkpoint: CheckpointStrategy,
           maxDriverBuckets: Int = 2_000_000): Either[DataFrame, Array[Long]] =
    gateWithStats(bucketStats, stage, bandCol, keyCol, overCap, pairs, checkpoint,
      maxDriverBuckets)._1

  /** As [[gate]], additionally returning the accounted [[CapStats]] so the
    * caller can plan on ITS OWN numbers. Planning off `lastMetrics(stage)`
    * instead is racy: concurrent matches on different driver threads (a
    * supported pattern — MatchScope is per-thread) share the stage key, so
    * one join's decision could read another join's volume. */
  def gateWithStats(bucketStats: DataFrame, stage: String, bandCol: String, keyCol: String,
           overCap: Column, pairs: Column, checkpoint: CheckpointStrategy,
           maxDriverBuckets: Int = 2_000_000,
           estBuckets: Long = -1L): (Either[DataFrame, Array[Long]], CapStats) = {
    // `estBuckets` is the caller's upper bound on the bucket count (e.g.
    // band-row count). Past this bar the small-regime collect below would
    // ship every healthy bucket to the driver just to count it — measured
    // as the single largest LSH candidate-generation stage at sf0.1
    // (~1.6M collected rows). Account cluster-side instead and ship only
    // the dropped keys: three small jobs over a materialized stats frame
    // beat one multi-second full-bucket collect well before a million
    // buckets, and driver memory stays O(drops).
    val DriverCollectBucketBar = 500_000L
    if (estBuckets > DriverCollectBucketBar) {
      return clusterSideGate(bucketStats, stage, bandCol, keyCol, overCap,
        pairs, checkpoint, maxDriverBuckets)
    }
    val rows = bucketStats.select(col(bandCol).cast("int").as("__b"), col(keyCol).as("__k"),
        overCap.as("__over"), pairs.cast("long").as("__p"))
      .limit(maxDriverBuckets + 1).collect()
    if (rows.length > maxDriverBuckets) {
      // Too many buckets to ship (the scale regime — see the scaladoc on
      // [[gate]]).
      clusterSideGate(bucketStats, stage, bandCol, keyCol, overCap, pairs,
        checkpoint, maxDriverBuckets)
    } else {
      var dropped = 0L
      var droppedPairs = 0L
      var keptPairs = 0L
      val blocked = Array.newBuilder[Long]
      rows.foreach { r =>
        if (r.getBoolean(2)) {
          dropped += 1; droppedPairs += r.getLong(3)
          blocked += r.getLong(1) * 131L + r.getInt(0)
        } else keptPairs += r.getLong(3)
      }
      val s = CapStats(dropped, rows.length.toLong, droppedPairs, keptPairs)
      record(stage, s)
      val sorted = blocked.result()
      java.util.Arrays.sort(sorted)
      (Right(sorted), s)
    }
  }

  /** Cluster-side accounting regime of [[gateWithStats]]: materialize the
    * stats, account drops with one 4-scalar aggregate, ship only the
    * dropped keys (or, pathologically, return the allowed frame). */
  private def clusterSideGate(bucketStats: DataFrame, stage: String,
           bandCol: String, keyCol: String, overCap: Column, pairs: Column,
           checkpoint: CheckpointStrategy,
           maxDriverBuckets: Int): (Either[DataFrame, Array[Long]], CapStats) = {
    val (stats, s) = accountBucketCapWithStats(bucketStats, stage, overCap, pairs, checkpoint)
    if (s.droppedBuckets <= maxDriverBuckets) {
      // hash on the driver: key * 131 wraps on overflow by design, and
      // Spark-side long arithmetic would throw under ANSI instead
      val blocked = stats.where(overCap)
        .select(col(bandCol).cast("int").as("__b"), col(keyCol).as("__k"))
        .collect().map(r => r.getLong(1) * 131L + r.getInt(0))
      java.util.Arrays.sort(blocked)
      (Right(blocked), s)
    } else
      (Left(stats.where(!overCap).select(col(bandCol), col(keyCol))), s)
  }

  /** As [[accountBucketCap]], additionally returning the accounted numbers
    * so callers can plan with them (e.g. broadcast the allowed-bucket list
    * when the bucket count is known to be small). */
  def accountBucketCapWithStats(bucketStats: DataFrame, stage: String,
                                overCap: Column, pairs: Column,
                                checkpoint: CheckpointStrategy): (DataFrame, CapStats) = {
    val stats = Materialize(bucketStats, checkpoint)
    val row = stats.agg(
      sum(when(overCap, 1L).otherwise(0L)).as("dropped_buckets"),
      count(lit(1)).as("total_buckets"),
      sum(when(overCap, pairs).otherwise(lit(0L))).cast("long").as("dropped_pairs"),
      sum(when(overCap, lit(0L)).otherwise(pairs)).cast("long").as("kept_pairs")).head()
    val s = CapStats(
      if (row.isNullAt(0)) 0L else row.getLong(0),
      if (row.isNullAt(1)) 0L else row.getLong(1),
      if (row.isNullAt(2)) 0L else row.getLong(2),
      if (row.isNullAt(3)) 0L else row.getLong(3))
    record(stage, s)
    (stats, s)
  }
}
