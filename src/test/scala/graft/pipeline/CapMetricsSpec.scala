package graft.pipeline

import graft.SparkSpec
import graft.util.CapMetrics
import org.scalatest.funsuite.AnyFunSuite

/** Bucket-cap observability: capped stages must account for what they drop
  * (the cap is a recall trade, never a silent one), and the simhash
  * pigeonhole blocking must be COMPLETE when nothing is capped.
  * Accounting is synchronous — metrics are recorded while the pair frame is
  * being BUILT, no listener race to wait out.
  */
class CapMetricsSpec extends AnyFunSuite with SparkSpec {

  test("minhash bucket cap drops are counted on a skewed fixture") {
    import spark.implicits._
    // 100 near-identical docs -> every band bucket holds ~50 docs; with a
    // cap of 9 pairs (3x3) every bucket is dropped
    val docs = (0 until 100).map(i =>
      (i.toLong, "the same boilerplate text repeated across the corpus " + (i % 2))).toDF("doc_id", "text")
    Dedup.minhashLshPairs(docs, "text", "doc_id",
      shingleLen = 3, numBands = 4, rowsPerBand = 2, threshold = 0.1, maxBucketPairs = 9L)
    val s = CapMetrics.lastMetrics("dedup_minhash")
      .getOrElse(fail("no cap metrics recorded for dedup_minhash"))
    assert(s.totalBuckets > 0)
    assert(s.droppedBuckets > 0, "skewed fixture should trip the bucket cap")
    assert(s.droppedPairs > 0, "dropped candidate-pair estimate should be positive")
  }

  test("simhash bucket cap drops are counted; uncapped blocking is complete") {
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
      (i.toLong, if (i % 3 == 0) base else s"$base word$i tail${i % 7}")
    }.toDF("doc_id", "text")

    // uncapped: pigeonhole blocking finds EVERY pair within the hamming
    // budget — compare against the brute-force cross join on the same hashes
    val viaLsh = Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hashed = docs.select(org.apache.spark.sql.functions.col("doc_id"),
      Dedup.simhash64(org.apache.spark.sql.functions.col("text")).as("h"))
    val brute = hashed.as("a").crossJoin(hashed.as("b"))
      .where(org.apache.spark.sql.functions.expr("a.doc_id < b.doc_id AND bit_count(a.h ^ b.h) <= 8"))
      .select("a.doc_id", "b.doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaLsh == brute, "uncapped simhash blocking must equal brute-force hamming pairs")
    val uncapped = CapMetrics.lastMetrics("dedup_simhash")
      .getOrElse(fail("no cap metrics recorded for dedup_simhash"))
    assert(uncapped.droppedBuckets == 0)

    // capped: drops must surface in the metrics
    Dedup.simhashPairs(docs, "text", "doc_id", maxHamming = 8, maxBucketPairs = 4L)
    val capped = CapMetrics.lastMetrics("dedup_simhash").get
    assert(capped.totalBuckets > 0)
    assert(capped.droppedBuckets > 0)

    // incremental form: the cross-product cap gates and accounts under
    // its own stage name; a hot bucket (the 20 identical base docs on
    // both sides = 400 candidate pairs per chunk bucket) must be dropped
    // and counted, and dropping the batch side must kill its pairs
    val batch = docs.where(org.apache.spark.sql.functions.col("doc_id") < 30)
    Dedup.hashPairsAgainst(
      batch.select(org.apache.spark.sql.functions.col("doc_id"),
        Dedup.simhash64(org.apache.spark.sql.functions.col("text")).as("h")),
      org.apache.spark.sql.functions.col("h"), "doc_id",
      hashed, org.apache.spark.sql.functions.col("h"), "doc_id",
      maxHamming = 8, maxBucketPairs = 4L).count()
    val cappedX = CapMetrics.lastMetrics("dedup_hamming_incr")
      .getOrElse(fail("no cap metrics recorded for dedup_hamming_incr"))
    assert(cappedX.totalBuckets > 0)
    assert(cappedX.droppedBuckets > 0)
  }

  // the regime a gate picked, read off the plan `keep` builds: a join
  // against the allowed-bucket frame, or the dropped-key filter
  private def joinsAllowed(kept: org.apache.spark.sql.DataFrame): Boolean =
    kept.queryExecution.analyzed.exists(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Join])

  test("gate key encoding distinguishes (band, key) pairs beyond band 31") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Regression: the old `key * 31 + band` encoding collided
    // (key=0, band=31) with (key=1, band=0), letting an over-cap bucket
    // slip past the codegen'd membership filter. The kept bucket here is
    // (band=31, key=0); the DROPPED one is (band=0, key=1) — under the old
    // encoding both mapped to 31, making them indistinguishable in the
    // dropped-key set.
    val stats = Seq((31, 0L, 2L), (0, 1L, 1000L)).toDF("__band", "__bucket", "__n")
    val gate = CapMetrics.gate(stats, "encoding_spec", "__band", "__bucket",
      col("__n") * col("__n") > 100L, col("__n") * col("__n"),
      graft.util.CheckpointStrategy.Local)
    val banded = Seq((31, 0L, "keep"), (0, 1L, "drop")).toDF("__band", "__bucket", "tag")
    val keptDf = gate.keep(banded, col("__band"), col("__bucket"))
    assert(!joinsAllowed(keptDf), "expected the driver-side dropped-key regime")
    val kept = keptDf.select("tag").collect().map(_.getString(0)).toSet
    assert(kept == Set("keep"), s"gate admitted wrong buckets: $kept")
    assert(gate.stats == CapMetrics.lastMetrics("encoding_spec").get)
    assert(gate.stats.droppedBuckets == 1 && gate.stats.totalBuckets == 2)
  }

  test("scale regime ships only dropped keys when buckets exceed the driver cap") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 5 buckets against a driver cap of 2 forces cluster-side accounting;
    // the single over-cap bucket still fits, so the gate must filter on
    // the dropped keys (driver state O(drops)), NOT join the allowed
    // frame — that join made LSH candidate generation grow 18x at 10x
    // values at sf10 (SCALE.md round 8).
    val stats = Seq((0, 1L, 2L), (1, 2L, 2L), (2, 3L, 2L), (3, 4L, 2L), (0, 5L, 1000L))
      .toDF("__band", "__bucket", "__n")
    val banded = Seq((0, 1L), (1, 2L), (2, 3L), (3, 4L), (0, 5L), (1, 5L))
      .toDF("__band", "__bucket")
    val gate = CapMetrics.gate(stats, "scale_regime_spec", "__band",
      "__bucket", col("__n") * col("__n") > 100L, col("__n") * col("__n"),
      graft.util.CheckpointStrategy.Local, maxDriverBuckets = 2)
    val kept = gate.keep(banded, col("__band"), col("__bucket"))
    assert(!joinsAllowed(kept), "expected the dropped-key filter, got the allowed-frame join")
    // only (band 0, key 5) is dropped: (band 1, key 5) encodes differently
    assert(kept.as[(Int, Long)].collect().toSet ==
      Set((0, 1L), (1, 2L), (2, 3L), (3, 4L), (1, 5L)))
    val s = gate.stats
    assert(s.droppedBuckets == 1 && s.totalBuckets == 5)
    assert(s.droppedPairs == 1000L * 1000L && s.keptPairs == 16L)

    // more DROPPED buckets than the cap: the join path remains the backstop
    val allOver = Seq((0, 1L, 50L), (1, 2L, 50L), (2, 3L, 50L), (3, 4L, 50L))
      .toDF("__band", "__bucket", "__n")
    val gate2 = CapMetrics.gate(allOver, "scale_regime_spec", "__band",
      "__bucket", col("__n") * col("__n") > 100L, col("__n") * col("__n"),
      graft.util.CheckpointStrategy.Local, maxDriverBuckets = 2)
    val kept2 = gate2.keep(banded, col("__band"), col("__bucket"))
    assert(joinsAllowed(kept2), "with drops over the driver cap the gate must join a frame")
    assert(kept2.count() == 0)
    assert(gate2.stats.droppedBuckets == 4 && gate2.stats.keptPairs == 0L)
  }

  test("all three gate regimes keep the same rows, on both column forms") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // six buckets, two over the cap (9 pairs): (band 0, key 3) and
    // (band 2, key 3); (band 1, key 3) is under it
    val sizes = Seq((0, 1L, 2), (1, 1L, 1), (0, 3L, 4), (1, 3L, 3), (2, 3L, 5), (2, 7L, 1))
    val rows = sizes.flatMap { case (b, k, n) => (0 until n).map(i => (s"$b/$k/$i", b, k)) }
    val overCap = col("__n") * col("__n") > 9L
    val pairs = col("__n") * col("__n")
    val banded = rows.toDF("id", "__band", "__bkey")
    val bandStats = banded.groupBy("__band", "__bkey").agg(count(lit(1)).as("__n"))
    // the semantic-dedup form: one constant band, buckets keyed by `cell`
    val celled = rows.map { case (id, b, k) => (id, k * 10 + b) }.toDF("id", "cell")
    val cellStats = celled.groupBy("cell").agg(count(lit(1)).as("__n"))
      .select(lit(0).cast("int").as("__band"), col("cell").as("__ckey"), col("__n"))

    def keptIds(df: org.apache.spark.sql.DataFrame): Set[String] =
      df.select("id").collect().map(_.getString(0)).toSet
    val expected = rows.collect { case (id, b, k) if !(k == 3L && b != 1) => id }.toSet

    // (maxDriverBuckets, estBuckets) -> regime: driver collect; cluster-side
    // dropped keys (bucket count over the driver cap, or over the
    // estimated-bucket bar); allowed-frame join (drops over the driver cap)
    val regimes = Seq(
      ("driver collect", 2_000_000, -1L, false),
      ("cluster-side dropped keys", 3, -1L, false),
      ("cluster-side dropped keys (estimated)", 2_000_000, 1_000_000L, false),
      ("allowed-frame join", 1, -1L, true))
    Seq(
      ("(__band, __bkey) columns", bandStats, "__bkey", banded, col("__band"), col("__bkey")),
      ("lit(0) band, cell key", cellStats, "__ckey", celled, lit(0).cast("int"), col("cell"))
    ).foreach { case (form, stats, keyCol, df, band, key) =>
      regimes.foreach { case (regime, maxDriver, est, joins) =>
        val gate = CapMetrics.gate(stats, "regime_spec", "__band", keyCol, overCap, pairs,
          graft.util.CheckpointStrategy.Local, maxDriverBuckets = maxDriver, estBuckets = est)
        val kept = gate.keep(df, band, key)
        assert(joinsAllowed(kept) == joins, s"$form / $regime: wrong regime")
        assert(keptIds(kept) == expected, s"$form / $regime: kept the wrong rows")
        assert(gate.stats == CapMetrics.CapStats(2, 6, 16 + 25, 4 + 1 + 9 + 1),
          s"$form / $regime: ${gate.stats}")
        // prune: the same filter in the driver-set regimes, the identity
        // beside an allowed-frame join
        assert(keptIds(gate.prune(df, band, key)) ==
          (if (joins) rows.map(_._1).toSet else expected), s"$form / $regime: prune")
      }
    }
  }
}
