package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.fuzzy.{AnnJoin, FuzzyAlgorithm, FuzzyMapping, FuzzyMatcher, Kernels, PreProcess, SweepScore}
import graft.util.{CheckpointStrategy, Materialize, MatchScope, Par}

/** The traced run: the same match, driven layer by layer through the
  * engine's public entry points with a span around each call.
  *
  * Two traced shapes of one match:
  *  - `tvf`: through the `fuzzy_match` SQL function, split into analysis
  *    (`spark.sql`, which today runs the whole match) and execution
  *    (consuming the rows);
  *  - `scala`: `FuzzyMatcher.matchDfs` replayed step by step (preprocess,
  *    index, one span per pass, combine with row assembly, scope release).
  *
  * [[probeIteration]] runs both once, and inside the `scala` shape also
  * `probes`: the narrower entry points that one pass call covers
  * (distinct values, then the sweep, LSH and BNLJ candidate layers) on the
  * same inputs, in their own nested scope and outside the match's time.
  * [[loopIteration]] runs the workload's front-door shape traced (plus the
  * `scala` replay for the SQL workload) and then untraced, so the two
  * times give the tracing overhead. Outputs of one iteration must be
  * equal. */
final class Layers(spark: SparkSession, tracer: Tracer, w: Main.Workload) {
  import Main._
  import Layers.Iteration

  private val LeftIdx = "__left_index"
  private val RightIdx = "__right_index"
  private val opts = options(w)

  private def valsOf(df: DataFrame, c: String): (DataFrame, Long) = {
    val v = Materialize(FuzzyMatcher.distinctValues(df, c), CheckpointStrategy.Local)
    (v, v.count())
  }

  private def spread(df: DataFrame): DataFrame = {
    val p = spark.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Narrow entry points of the first (fresh) pass, on its inputs. */
  private def probes(it: Int, li: DataFrame, ri: DataFrame, m: FuzzyMapping,
                     pass1: DataFrame, counts: mutable.Map[String, Double]): Unit =
    MatchScope.withMatchScope {
      val ((lv0, lc0), (rv0, rc0)) = tracer.span("distinct", it) {
        Par.run2(valsOf(li, m.leftCol), valsOf(ri, m.rightCol))
      }
      // larger side first, as the engine's planner orders them
      val ((lv, lc, lCol), (rv, rc, rCol)) =
        if (lc0 >= rc0) ((lv0, lc0, m.leftCol), (rv0, rc0, m.rightCol))
        else ((rv0, rc0, m.rightCol), (lv0, lc0, m.leftCol))
      val maxDist = m.reversedThresholdScore
      tracer.span("sweep", it) {
        SweepScore.sweepScoredPairs(lv, rv, lCol, rCol, maxDist).count()
      }
      tracer.span("lsh", it) {
        val cands0 =
          if (opts.useApproxNearestNeighbor.isEmpty)
            AnnJoin.candidatesOrExactFallback(lv, rv, lCol, rCol, opts, maxDist, lc + rc, lc.toDouble * rc)
          else None
        val cands = Materialize(cands0.getOrElse(
          AnnJoin.candidates(lv, rv, lCol, rCol, opts, maxDist, lc + rc)), CheckpointStrategy.Local)
        val n = cands.count()
        val survivors = FuzzyMatcher.scoreValuePairs(cands, lCol, rCol, m.fuzzyType, maxDist).count()
        counts("lsh.candidates") = n.toDouble
        counts("lsh.candidates_per_cartesian") = n / (lc.toDouble * rc)
        counts("lsh.survivors_per_candidate") = if (n == 0) 0.0 else survivors.toDouble / n
      }
      tracer.span("bnlj", it) {
        FuzzyMatcher.scoreValuePairs(spread(lv).crossJoin(broadcast(rv)), lCol, rCol, m.fuzzyType, maxDist)
          .count()
      }
      // single-mapping workloads: the filter-pass layer on this workload's
      // first-pass survivors, with a jaro_winkler@85 mapping on the same columns
      if (w.maps.size == 1) {
        val probe = FuzzyMapping(m.leftCol, m.rightCol, 85.0, FuzzyAlgorithm.JaroWinkler,
          outputColumnName = Some("__probe_score"))
        tracer.span("filter_pass", it) {
          FuzzyMatcher.processFuzzyMapping(li, ri, probe, Some(pass1), opts)
        }
      }
    }

  /** `matchDfs`, one public call per span, with the probes after the last
    * pass when `withProbes`. */
  private def scalaMatch(it: Int, b: Batch, counts: mutable.Map[String, Double],
                         withProbes: Boolean): (StructType, Array[Row]) = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.size
    var scope: Tracer.Span = null
    val out = tracer.span("scala", it) {
      val res = MatchScope.withMatchScope {
        val plan = tracer.span("preprocess", it) {
          PreProcess.run(b.left, b.right, engineMaps(w), runStats = opts.runPreprocess)
        }
        val order = plan.left.columns.toSeq ++ plan.right.columns.toSeq ++ plan.maps.map(_.resolvedOutputName)
        val (li, ri) = tracer.span("index", it) {
          Par.run2(FuzzyMatcher.addIndexColumn(plan.left, LeftIdx, opts.checkpoint),
            FuzzyMatcher.addIndexColumn(plan.right, RightIdx, opts.checkpoint))
        }
        val frames = ArrayBuffer.empty[DataFrame]
        plan.maps.foreach { m =>
          val name = if (frames.isEmpty) "fresh_pass" else "filter_pass"
          frames += tracer.span(name, it) {
            FuzzyMatcher.processFuzzyMapping(li, ri, m, frames.lastOption, opts)
          }
        }
        val res = tracer.span("combine", it) {
          val all = if (frames.size == 1) frames.head else FuzzyMatcher.combineMatches(frames.toSeq)
          val o = li.join(all, LeftIdx).join(ri, RightIdx).drop(LeftIdx, RightIdx).select(order.map(col): _*)
          (o.schema, o.collect())
        }
        counts("scope.barriers") = (sc.getPersistentRDDs.size - before).toDouble
        if (withProbes)
          tracer.span("probes", it)(probes(it, li, ri, plan.maps.head, frames.head, counts))
        scope = tracer.begin("scope", it)
        res
      }
      tracer.end(scope)
      res
    }
    counts("scope.retained_rdds") = (sc.getPersistentRDDs.size - before).toDouble
    out
  }

  private def tvfMatch(it: Int, b: Batch): (StructType, Array[Row]) = {
    var scope: Tracer.Span = null
    tracer.span("tvf", it) {
      val res = MatchScope.withMatchScope {
        val df = tracer.span("tvf.analyze", it)(spark.sql(sqlText(w, b)))
        val rows = tracer.span("tvf.execute", it)(df.collect())
        scope = tracer.begin("tvf.scope", it)
        (df.schema, rows)
      }
      tracer.end(scope)
      res
    }
  }

  private def same(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.map(_.toSeq).toSet == b.map(_.toSeq).toSet

  /** Sums per span name over the spans opened since `first`. */
  private final class Window(first: Int) {
    tracer.drain()
    val mine: Seq[Tracer.Span] = tracer.spans.drop(first).toSeq
    def named(n: String): Seq[Tracer.Span] = mine.filter(_.name == n)
    def has(n: String): Boolean = named(n).nonEmpty
    def self(n: String): Double = named(n).map(tracer.selfS).sum
    def dur(n: String): Double = named(n).map(_.durS).sum
    def jobs(n: String): Double = named(n).map(s => tracer.inclusive(s).jobs).sum.toDouble
  }

  private val layerNames = Seq("preprocess", "index", "distinct", "sweep", "lsh", "bnlj", "filter_pass", "combine")

  /** Layer self times and job counts, plus the `tvf` split, for every
    * layer span present in the window. */
  private def layerMetrics(win: Window): Map[String, Double] = {
    val m = mutable.Map.empty[String, Double]
    for (n <- layerNames if win.has(n)) { m(s"$n.s") = win.self(n); m(s"$n.jobs") = win.jobs(n) }
    if (win.has("fresh_pass")) {
      m("fresh_pass.self_s") = win.self("fresh_pass")
      m("fresh_pass.jobs") = win.jobs("fresh_pass")
    }
    if (win.has("tvf")) {
      m("tvf.analyze_s") = win.dur("tvf.analyze")
      m("tvf.analyze_jobs") = win.jobs("tvf.analyze")
      m("tvf.execute_s") = win.dur("tvf.execute")
    }
    m.toMap
  }

  /** Once per run: both traced shapes, the probes inside the `scala` one. */
  def probeIteration(it: Int, b: Batch): Iteration = {
    val counts = mutable.Map.empty[String, Double]
    PassLog.take()
    val first = tracer.spans.size
    val (tSchema, tRows) = tvfMatch(it, b)
    val tvfLog = PassLog.take()
    val (sSchema, sRows) = scalaMatch(it, b, counts, withProbes = true)
    val scalaLog = PassLog.take()
    val win = new Window(first)
    // pass lines in order: the match's own passes, then (single mapping)
    // the filter probe's; either way the first filter pass reads the fresh
    // pass's survivors
    val passes = PassLog.survivors(scalaLog)
    counts("filter_pass.pairs_in") = passes.headOption.map(_._2.toDouble).getOrElse(0.0)
    counts("filter_pass.pairs_out") =
      passes.find(_._1 == "filter-existing").map(_._2.toDouble).getOrElse(0.0)
    val strategy = PassLog.strategies(scalaLog).headOption.getOrElse("?")
    val onPath =
      if (strategy.startsWith("LSH")) "lsh" else if (strategy.contains("sweep")) "sweep" else "bnlj"
    // the narrow calls the fresh pass covers on its path, taken out of the
    // pass call's time by the caller
    counts("fresh_pass.narrow_s") = win.dur("distinct") + win.dur(onPath)
    val metrics = layerMetrics(win).filter { case (k, _) =>
      !k.startsWith("fresh_pass") && !k.startsWith("preprocess") && !k.startsWith("index") &&
        !k.startsWith("combine") && (w.maps.size == 1 || !k.startsWith("filter_pass"))
    } ++ counts.filter(_._1 != "scope.barriers")
    val labels = Seq(s"strategy=$strategy") ++ PassLog.strategies(tvfLog).map(s => s"tvf_strategy=$s") ++
      passes.map { case (k, n) => s"$k=$n" }
    val (schema, rows) = if (w.viaSql) (tSchema, tRows) else (sSchema, sRows)
    Iteration(Double.NaN, rows, schema, same(tRows, sRows) && tSchema == sSchema, metrics, labels)
  }

  /** The front-door shape traced, then untraced. */
  def loopIteration(it: Int, b: Batch): Iteration = {
    val counts = mutable.Map.empty[String, Double]
    val first = tracer.spans.size
    val (fSchema, fRows) =
      if (w.viaSql) {
        val r = tvfMatch(it, b)
        scalaMatch(it, b, counts, withProbes = false)
        r
      } else scalaMatch(it, b, counts, withProbes = false)
    PassLog.take()
    val (untracedS, _, uRows) = runOnce(spark, w, b)
    PassLog.take()
    val win = new Window(first)
    val front = win.named(if (w.viaSql) "tvf" else "scala").head
    val ids = tracer.subtree(front.id)
    val spans = win.mine.filter(s => ids.contains(s.id))
    val tracedS = front.durS
    val m = mutable.Map.empty[String, Double] ++ counts ++ layerMetrics(win)
    m("match.traced_s") = tracedS
    m("match.untraced_s") = untracedS
    m("match.uncovered_s") = tracer.selfS(front)
    m("jobs") = tracer.jobs.count(j => ids.contains(j.span)).toDouble
    m("stages") = spans.map(_.stages).sum.toDouble
    m("tasks") = spans.map(_.tasks).sum.toDouble
    m("core_util") = spans.map(_.taskS).sum / (tracedS * Cores)
    m("shuffle_mb") = spans.map(_.shuffleBytes).sum / 1e6
    m("gc_s") = front.gcS
    m("driver_gap_s") = tracer.driverGapS(front)
    m("scope.release_s") = win.dur(if (w.viaSql) "tvf.scope" else "scope")
    Iteration(tracedS, fRows, fSchema, same(fRows, uRows), m.toMap, Nil)
  }

  /** Medians over iterations of every metric, and the derived ones. */
  def summarize(its: Seq[Iteration]): Map[String, Double] = {
    val keys = its.flatMap(_.metrics.keys).distinct
    val med = keys.map(k => k -> Main.median(its.flatMap(_.metrics.get(k)))).toMap
    val missing = LayerUnits.required.filterNot(med.contains)
    if (missing.nonEmpty) throw new IllegalStateException(s"no value for ${missing.mkString(", ")}")
    med - "fresh_pass.self_s" - "fresh_pass.narrow_s" ++ Map(
      "fresh_pass.s" -> (med("fresh_pass.self_s") - med("fresh_pass.narrow_s")),
      "trace.overhead_s" -> (med("match.traced_s") - med("match.untraced_s")))
  }
}

object Layers {
  final case class Iteration(tracedS: Double, rows: Array[Row], schema: StructType, equal: Boolean,
                             metrics: Map[String, Double], labels: Seq[String])
}

/** Single-thread kernel cost through `Kernels.distBounded`, on a fixed
  * sample of the workload's own value pairs: the planted pairs (near the
  * threshold) and as many random left x right pairs (mostly far from it). */
object KernelBench {
  def pairs(in: Gen.Inputs, n: Int, seed: Long): Array[(UTF8String, UTF8String)] = {
    val rnd = new scala.util.Random(seed)
    val byLeft = in.left.ids.zip(in.left.names).toMap
    val byRight = in.right.ids.zip(in.right.names).toMap
    val near = in.planted.toSeq.sorted.take(n / 2).map { case (l, r) => (byLeft(l), byRight(r)) }
    val far = Seq.fill(n - near.size)(
      (in.left.names(rnd.nextInt(in.left.names.length)), in.right.names(rnd.nextInt(in.right.names.length))))
    (near ++ far).map { case (a, b) =>
      (UTF8String.fromString(a.toLowerCase), UTF8String.fromString(b.toLowerCase))
    }.toArray
  }

  /** ns per pair for `algo` at `maxDist`: warm the JIT for `warmS`, then
    * time five chunks of whole passes over the sample, each at least
    * `chunkS` long, and take the median chunk. */
  def nsPerPair(ps: Array[(UTF8String, UTF8String)], algo: FuzzyAlgorithm, maxDist: Double,
                warmS: Double = 0.3, chunkS: Double = 0.05): Double = {
    var sink = 0.0
    def pass(): Unit = {
      var i = 0
      while (i < ps.length) { sink += Kernels.distBounded(algo.id, ps(i)._1, ps(i)._2, maxDist); i += 1 }
    }
    def chunk(s: Double): Double = {
      var reps = 0L
      val t0 = System.nanoTime()
      while (System.nanoTime() - t0 < (s * 1e9).toLong) { pass(); reps += 1 }
      (System.nanoTime() - t0).toDouble / (reps * ps.length)
    }
    chunk(warmS)
    val ns = Main.median(Seq.fill(5)(chunk(chunkS)))
    if (sink == 42.4242) println("") // keeps the kernel results live
    ns
  }
}
