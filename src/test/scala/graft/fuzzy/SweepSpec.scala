package graft.fuzzy

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Equivalence pin for the broadcast-sweep scoring path: every fresh exact
  * pass, for all six algorithms, goes through [[SweepScore]]/[[FuzzySweep]],
  * which must reproduce a distinct-value `crossJoin` scored by
  * [[FuzzyMatcher.scoreValuePairs]] pair for pair and score for score —
  * unsliced, and with the small side cut into broadcast slices.
  */
class SweepSpec extends AnyFunSuite with SparkSpec {

  private val exact = MatchOptions(useApproxNearestNeighbor = Some(false))

  /** (a, b, score) rows of a forced-exact `matchDfs`. */
  private def matchAll(left: DataFrame, right: DataFrame, algo: FuzzyAlgorithm,
                       threshold: Double, opts: MatchOptions): Seq[(String, String, Double)] = {
    import spark.implicits._
    val out = FuzzyMatcher.matchDfs(left, right,
      Seq(FuzzyMapping("a", "b", threshold, algo)), opts)
    out.select(col("a"), col("b"), col(out.columns.last))
      .as[(String, String, Double)].collect().toSeq.sorted
  }

  /** The reference shape: distinct values cross joined, then scored. */
  private def reference(left: DataFrame, right: DataFrame, algo: FuzzyAlgorithm,
                        threshold: Double): Seq[(String, String, Double)] = {
    import spark.implicits._
    val pairs = FuzzyMatcher.distinctValues(left, "a")
      .crossJoin(FuzzyMatcher.distinctValues(right, "b"))
    FuzzyMatcher.scoreValuePairs(pairs, "a", "b", algo,
        FuzzyMapping("a", "b", threshold, algo).reversedThresholdScore)
      .select(col("a"), col("b"), col("s"))
      .as[(String, String, Double)].collect().toSeq.sorted
  }

  private def corpus: (DataFrame, DataFrame) = {
    import spark.implicits._
    // mixed shapes: shared prefixes (strip path), case differences (lower
    // must match Spark's), non-ASCII values (generic-kernel tail + mask-0
    // gate disable, UTF-16 vs byte lengths), empty strings, equal values,
    // length outliers (band skip), and near-threshold pairs on both sides
    // of the cutoff
    val base = Seq(
      "customer#0001", "customer#0002", "Customer#0001", "CUSTOMER#00x2",
      "alpha beta gamma", "alpha beta gamm", "alpha beta gamme",
      "übermensch", "ubermensch", "Übermensch!", "",
      "short", "shrt", "a", "b", "ab",
      "the quick brown fox", "the quick brown fix", "the quick brawn fox",
      "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx", "yyyy",
      "naïve approach", "naive approach", "données", "donnees",
      "martha", "marhta", "dixon", "dicksonx", "𝔘nicode", "unicode")
    val l = base.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("lid", "a")
    val r = (base.map(v => if (v.nonEmpty) v.dropRight(1) + "z" else "z") ++ base)
      .distinct.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("rid", "b")
    (l, r)
  }

  test("sweep == crossJoin + scoreValuePairs: six algorithms, sliced or not") {
    val (l, r) = corpus
    val sliced = exact.copy(broadcastDistinctLimit = 3L)
    for (algo <- FuzzyAlgorithm.all; t <- Seq(50.0, 70.0, 80.0, 90.0, 100.0)) {
      val want = reference(l, r, algo, t)
      assert(want.nonEmpty, s"degenerate test corpus for ${algo.name} at $t")
      assert(matchAll(l, r, algo, t, exact) == want,
        s"unsliced sweep vs crossJoin mismatch: ${algo.name} at $t")
      assert(matchAll(l, r, algo, t, sliced) == want,
        s"sliced sweep vs crossJoin mismatch: ${algo.name} at $t")
    }
  }

  test("sweep plan: Generate over the value frame, no join on the pair stream") {
    val (l, r) = corpus
    val lIdx = FuzzyMatcher.addIndexColumn(l, "__left_index")
    val rIdx = FuzzyMatcher.addIndexColumn(r, "__right_index")
    for (algo <- FuzzyAlgorithm.all; opts <- Seq(exact, exact.copy(broadcastDistinctLimit = 3L))) {
      val (scored, usedLsh) = FuzzyMatcher.freshScoredValuePairs(lIdx, rIdx,
        FuzzyMapping("a", "b", 90.0, algo), opts)
      assert(!usedLsh)
      val plan = scored.queryExecution.executedPlan.toString
      assert(plan.contains("fuzzy_sweep"), s"sweep generator missing (${algo.name}):\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
        s"exact ${algo.name} plan still carries a nested-loop join:\n$plan")
    }
  }

  test("broadcastDistinctLimit is the slice size and must be at least 1") {
    val e = intercept[IllegalArgumentException](MatchOptions(broadcastDistinctLimit = 0L))
    assert(e.getMessage.contains("broadcastDistinctLimit"))
    assert(MatchOptions(broadcastDistinctLimit = 1L).broadcastDistinctLimit == 1L)
  }
}
