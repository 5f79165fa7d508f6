package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.ExplainMode

import graft.fuzzy.{AnnJoin, FuzzyAlgorithm, FuzzyMapping, FuzzyMatcher, MatchOptions}

/** Commit-able `.explain()` capture (the physical plan tree, one operator
  * per line, so before/after dumps diff operator by operator) for the
  * optimization rounds:
  * writes `plans/<round>/<name>_<tag>.txt` for the bench's fuzzy rows and
  * for the scoring-join core they share.
  *
  * The fuzzy bench rows MATERIALIZE their per-pass match frames while the
  * query is being BUILT (checkpoint barriers), so the tail explain of a
  * full `matchDfs` shows only the assembly joins over checkpoint scans.
  * The plan that actually carries the runtime — candidate generation +
  * scoring — is therefore captured separately via the same public entry
  * points the matcher uses (`freshScoredValuePairs` for a whole fresh
  * pass, `AnnJoin.candidates` for the LSH candidate frame alone).
  * `lsh_candidates` and `dedup_minhash` run with a bucket cap low enough
  * that the LSH bucket gate drops buckets, so its filter shows in the
  * plan. Everything runs at sf0.001: plan SHAPE is
  * scale-independent, and dumping must not take bench-scale minutes.
  *
  * Usage: Test/runMain graft.tools.PlanDump <tag> [round]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args.headOption.getOrElse("before")
    val round = if (args.length > 1) args(1) else "r19"
    val outDir = Paths.get("plans", round)
    Files.createDirectories(outDir)
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = "/root/testdata/sf0.001"

    def dump(name: String, df: DataFrame): Unit = {
      val txt = df.queryExecution.explainString(ExplainMode.fromString("simple"))
      Files.write(outDir.resolve(s"${name}_$tag.txt"),
        (s"-- $name @$sfDir ($tag)\n" + txt).getBytes("UTF-8"))
      println(s"[plandump] wrote ${name}_$tag.txt (${txt.length} chars)")
    }

    val c = spark.read.parquet(s"$sfDir/customer.parquet")

    // ---- the exact scoring core: distinct values -> broadcast sweep
    // (kernel inside the Generate), for levenshtein and damerau ----
    val l = c.select(col("c_name"))
    val r = c.select(col("c_name").as("r_name"))
    def fresh(algo: FuzzyAlgorithm, threshold: Double, opts: MatchOptions): DataFrame =
      FuzzyMatcher.freshScoredValuePairs(l, r,
        FuzzyMapping("c_name", "r_name", threshold, algo), opts)._1
    val exact = MatchOptions(useApproxNearestNeighbor = Some(false))
    dump("scoring_join_exact", fresh(FuzzyAlgorithm.Levenshtein, 90.0, exact))
    dump("scoring_join_exact_damerau", fresh(FuzzyAlgorithm.DamerauLevenshtein, 75.0, exact))
    // a small side over broadcastDistinctLimit: one sweep per hash slice
    dump("scoring_join_exact_sliced",
      fresh(FuzzyAlgorithm.Levenshtein, 90.0, exact.copy(broadcastDistinctLimit = 100L)))

    // ---- the LSH candidate pipeline core (band join -> dedup -> jaccard
    // gate -> topN) + its scored verify join ----
    val opts = MatchOptions(lshNumBands = 12, lshRowsPerBand = 5,
      useApproxNearestNeighbor = Some(true))
    dump("lsh_candidates",
      AnnJoin.candidates(FuzzyMatcher.distinctValues(l, "c_name"),
        FuzzyMatcher.distinctValues(r, "r_name"), "c_name", "r_name",
        opts.copy(lshMaxBucketPairs = 1L), 0.1))
    dump("scoring_join_lsh", fresh(FuzzyAlgorithm.Levenshtein, 90.0, opts))

    // ---- a gated Dedup path: minhash LSH self-join (bucket gate -> band
    // self-join -> pair dedup -> signature agreement) ----
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    dump("dedup_minhash", graft.pipeline.Dedup.minhashLshPairs(docs, "text", "doc_id",
      maxBucketPairs = 1L))

    // ---- full bench queries (tail assembly plans; barriers make these
    // short, captured for completeness) ----
    val bq = graft.Bench.benchQueries(sfDir)
    Seq("fuzzy_exact_225m", "fuzzy_annf_3g_lsh", "text_bm25_docs").foreach { n =>
      dump(n, bq(n)(spark))
    }
    spark.stop()
  }
}
