package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.fuzzy.{FuzzyAlgorithm, FuzzyMapping, FuzzyMatcher, MatchOptions}
import graft.util.MatchScope

/** Benchmark of record for the `graft.fuzzy` engine.
  *
  * One process, one client, closed loop at `local[4]`: each match starts
  * after the previous one's rows are consumed and its scope is closed.
  * Usage (normally through `run.py`):
  *
  * {{{
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * }}}
  *
  * The last stdout line is one JSON object with `correct`, `attempted`,
  * `failed` and `metrics`; the end-to-end metrics with `--trace 0`, the
  * per-layer metrics with `--trace 1`. A detailed report (samples, labels,
  * generator statistics, spans) goes to `perfbench/out/`. */
object Main {

  final case class Workload(name: String, nLeft: Int, nRight: Int, maps: Seq[Gen.Mapping],
                            approx: Option[Boolean], viaSql: Boolean, warm: Int, batches: Int = 1,
                            crossOver: Double = MatchOptions.default.crossOverForApprox) {
    /** Warm-up shape: a single-batch workload warms up on inputs 1/16 the
      * size per side, with the auto-mode crossover scaled by the same
      * 1/256 so every pass takes the strategy the full-size match takes.
      * Many small matches warm the driver-side code (analysis, planning,
      * job scheduling) far sooner than a few big ones. */
    def warmup: Workload =
      if (batches > 1) this else copy(nLeft = nLeft / 16, nRight = nRight / 16, crossOver = crossOver / 256)
  }

  private val lev75 = Gen.Mapping("text", "levenshtein", 75.0)

  val workloads: Seq[Workload] = Seq(
    Workload("exact_lev75_13k", 13000, 10000, Seq(lev75), Some(false), viaSql = false, warm = 16),
    Workload("auto_lev75_13k", 13000, 10000, Seq(lev75), None, viaSql = false, warm = 12),
    Workload("multipass_damerau_4k", 4000, 3000,
      Seq(Gen.Mapping("text", "damerau_levenshtein", 75.0), Gen.Mapping("city", "jaro_winkler", 85.0)),
      Some(false), viaSql = false, warm = 12),
    Workload("sql_small_batches", 2000, 2000, Seq(lev75), None, viaSql = true, warm = 20, batches = 32))

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean, outDir: String)

  def parse(args: Array[String]): Args = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = workloads.find(_.name == need("workload")).getOrElse(throw new IllegalArgumentException(
      s"unknown workload ${need("workload")}; expected one of ${workloads.map(_.name).mkString(", ")}"))
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      kv.getOrElse("out", "perfbench/out"))
  }

  val Cores = 4

  def session(workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  // ------------------------------------------------------------------ inputs

  val leftSchema: StructType = StructType(Seq(StructField("id_l", LongType, nullable = false),
    StructField("text_l", StringType), StructField("city_l", StringType)))
  val rightSchema: StructType = StructType(Seq(StructField("id_r", LongType, nullable = false),
    StructField("text_r", StringType), StructField("city_r", StringType)))

  /** Only the columns a workload maps travel with the rows: the lev
    * workloads have the reference perf harness's (id, text) shape. */
  def frame(spark: SparkSession, side: Gen.Side, schema: StructType, withCity: Boolean): DataFrame = {
    val rows = side.ids.indices.map(i => Row(side.ids(i), side.names(i), side.cities(i)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, Cores), schema)
    if (withCity) df else df.drop(schema.fields(2).name)
  }

  final case class Batch(inputs: Gen.Inputs, left: DataFrame, right: DataFrame, leftView: String, rightView: String)

  /** Generate every batch of the workload and build its frames and temp
    * views in a fresh session of the shared context (which builds that
    * session's state, extensions included). */
  def setup(base: SparkSession, w: Workload, seed: Long): Prepared = {
    val spark = base.newSession()
    val withCity = w.maps.exists(_.column == "city")
    def batches(v: Workload, seed: Long, prefix: String) = (0 until v.batches).map { b =>
      val in = Gen.generate(seed * 1000 + b, v.nLeft, v.nRight, v.maps, idBase = b * 10_000_000L)
      val l = frame(spark, in.left, leftSchema, withCity)
      val r = frame(spark, in.right, rightSchema, withCity)
      val (lv, rv) = (s"${prefix}_l_$b", s"${prefix}_r_$b")
      l.createOrReplaceTempView(lv)
      r.createOrReplaceTempView(rv)
      Batch(in, l, r, lv, rv)
    }
    val main = batches(w, seed, "bench")
    val warm = if (w.warmup == w) main else batches(w.warmup, seed + 7919, "warm")
    spark.sql("SELECT 1").collect()
    Prepared(spark, main, warm)
  }

  final case class Prepared(spark: SparkSession, batches: Seq[Batch], warm: Seq[Batch])

  def engineMaps(w: Workload): Seq[FuzzyMapping] = w.maps.map { m =>
    FuzzyMapping(s"${m.column}_l", s"${m.column}_r", m.threshold, FuzzyAlgorithm.fromName(m.algo))
  }

  def options(w: Workload): MatchOptions =
    MatchOptions(useApproxNearestNeighbor = w.approx, crossOverForApprox = w.crossOver)

  def sqlText(w: Workload, b: Batch): String = {
    val quads = w.maps.map(m => s"'${m.column}_l', '${m.column}_r', ${m.threshold}, '${m.algo}'")
    val opt = w.approx.map(a => s", 'use_approx', $a").getOrElse("") +
      (if (w.crossOver == MatchOptions.default.crossOverForApprox) "" else s", 'cross_over', ${w.crossOver}")
    s"SELECT * FROM fuzzy_match('${b.leftView}', '${b.rightView}', ${quads.mkString(", ")}$opt)"
  }

  def scoreColumn(m: Gen.Mapping): String = s"${m.column}_l_vs_${m.column}_r_${m.algo}"

  // ------------------------------------------------------------------ checks

  /** Checks one match's output: schema `left ++ right ++ scores`, planted
    * recall (must be 1.0 unless the workload may go approximate), and every
    * score in a fixed sample of returned pairs reproduced by the textbook
    * kernels. */
  def check(w: Workload, b: Batch, schema: StructType, rows: Array[Row]): (Double, Seq[String]) = {
    val problems = ArrayBuffer.empty[String]
    val lCols = b.left.columns.toSeq
    val rCols = b.right.columns.toSeq
    val names = schema.fieldNames.toSeq
    val scoreCols = w.maps.map(scoreColumn)
    if (names.take(lCols.size + rCols.size) != lCols ++ rCols ||
        names.drop(lCols.size + rCols.size).toSet != scoreCols.toSet ||
        names.size != lCols.size + rCols.size + scoreCols.size ||
        scoreCols.exists(c => schema(c).dataType != DoubleType))
      problems += s"schema ${names.mkString(",")} is not ${(lCols ++ rCols ++ scoreCols).mkString(",")}"
    if (problems.nonEmpty) return (0.0, problems.toSeq)
    val li = names.indexOf("id_l")
    val ri = names.indexOf("id_r")
    val found = rows.iterator.map(r => (r.getLong(li), r.getLong(ri))).toSet
    if (found.size != rows.length) problems += s"${rows.length - found.size} duplicate row pairs"
    val planted = b.inputs.planted
    val recall = if (planted.isEmpty) 1.0 else planted.count(found).toDouble / planted.size
    if (w.approx.contains(false) && recall < 1.0)
      problems += f"planted recall $recall%.6f < 1 on an exact match"
    // fixed sample: the pairs whose id hash falls in one of 64 residues
    val sample = rows.filter(r => java.lang.Long.hashCode(r.getLong(li) * 31 + r.getLong(ri)) % 64 == 0)
    for (r <- sample; m <- w.maps) {
      val a = r.getString(names.indexOf(s"${m.column}_l"))
      val c = r.getString(names.indexOf(s"${m.column}_r"))
      val got = r.getDouble(names.indexOf(scoreColumn(m)))
      Textbook.score(m.algo, m.threshold, a, c) match {
        case Some(want) if math.abs(want - got) <= 1e-9 =>
        case want => problems += s"${m.algo}('$a', '$c') = $got, textbook says $want"
      }
    }
    (recall, problems.take(5).toSeq)
  }

  // ------------------------------------------------------------------ running

  /** One untraced match: call, consume every row, close the scope. */
  def runOnce(spark: SparkSession, w: Workload, b: Batch): (Double, StructType, Array[Row]) = {
    val t0 = System.nanoTime()
    val (schema, rows) = MatchScope.withMatchScope {
      val out =
        if (w.viaSql) spark.sql(sqlText(w, b))
        else FuzzyMatcher.matchDfs(b.left, b.right, engineMaps(w), options(w))
      (out.schema, out.collect())
    }
    ((System.nanoTime() - t0) / 1e9, schema, rows)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank percentile. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }

  def heapUsedMb(): Double = {
    System.gc(); Thread.sleep(100); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  private def json(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")

  private def str(v: String): String = "\"" + v.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  /** Distinct counts, cartesian size and planted pairs of the inputs. */
  def inputStats(batches: Seq[Batch]): Seq[(String, String)] = {
    val b = batches.head.inputs
    Seq("batches" -> batches.size.toString, "left_rows" -> b.left.ids.length.toString,
      "right_rows" -> b.right.ids.length.toString, "left_distinct" -> b.distinctLeft.toString,
      "right_distinct" -> b.distinctRight.toString, "cartesian" -> f"${b.cartesian}%.0f",
      "planted" -> b.planted.size.toString,
      "planted_all_batches" -> batches.map(_.inputs.planted.size).sum.toString)
  }

  def main(argv: Array[String]): Unit =
    try run(parse(argv))
    catch {
      case e: Throwable =>
        e.printStackTrace()
        sys.exit(1)
    }

  def run(a: Args): Unit = {
    val w = a.workload
    new java.io.File(a.outDir).mkdirs()
    val t00 = System.nanoTime()
    val base = session("perfbench/work")
    val sessionStartS = (System.nanoTime() - t00) / 1e9
    PassLog.install()
    // Set-up runs five times; `setup_s` is the median, the last one is used.
    val setups = ArrayBuffer.empty[Double]
    var prepared: Prepared = null
    for (_ <- 0 until 5) {
      val t0 = System.nanoTime()
      prepared = setup(base, w, a.seed)
      setups += (System.nanoTime() - t0) / 1e9
    }
    val Prepared(spark, batches, warmBatches) = prepared
    val stats = inputStats(batches)
    System.err.println(s"[graftbench] ${w.name} seed=${a.seed} inputs ${json(stats)}")

    // Warm-up (JIT, codegen, Spark's caches): a fixed number of matches on
    // the warm-up inputs, then two full-size matches. The count is fixed
    // because the JIT is still converging: runs that happened to fit one
    // more warm-up match in a time budget measured faster. A pause after
    // each match lets the compiler threads, starved while the tasks hold
    // every core, work off their queue.
    val warm = ArrayBuffer.empty[Double]
    def warmOnce(v: Workload, b: Batch): Unit = {
      warm += runOnce(spark, v, b)._1
      Thread.sleep(WarmPauseMs)
    }
    for (i <- 0 until w.warm) warmOnce(w.warmup, warmBatches(i % warmBatches.size))
    if (w.warmup != w) for (_ <- 0 until 2) warmOnce(w, batches.head)
    PassLog.take()

    val samples = ArrayBuffer.empty[Double]
    val recalls = ArrayBuffer.empty[Double]
    val labels = ArrayBuffer.empty[String]
    val layerRows = ArrayBuffer.empty[Layers.Iteration]
    var failed = 0
    var attempted = 0
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val kernels: Seq[(String, Double)] = if (!a.trace) Nil else {
      val ps = KernelBench.pairs(batches.head.inputs, 2000, a.seed)
      val maxDist = Textbook.maxDistance(w.maps.head.threshold)
      FuzzyAlgorithm.all.map(al => s"kernel.${al.name}.ns_per_pair" -> KernelBench.nsPerPair(ps, al, maxDist)) :+
        ("kernel.pairs" -> ps.length.toDouble)
    }
    val layers = tracer.map(new Layers(spark, _, w))
    val t0 = System.nanoTime()
    while (attempted < (if (a.trace) 3 else 1) || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      val b = batches(attempted % batches.size)
      val problems =
        try {
          val (schema, rows, extra) = layers match {
            case None =>
              val (s, schema, rows) = runOnce(spark, w, b)
              samples += s
              labels += PassLog.strategies(PassLog.take()).mkString("+")
              (schema, rows, Nil)
            case Some(l) =>
              val r = if (attempted == 0) l.probeIteration(attempted, b) else l.loopIteration(attempted, b)
              if (attempted > 0) samples += r.tracedS
              layerRows += r
              labels ++= r.labels
              (r.schema, r.rows, if (r.equal) Nil else Seq("traced, untraced and SQL outputs differ"))
          }
          val (recall, ps) = check(w, b, schema, rows)
          recalls += recall
          ps ++ extra
        } catch { case e: Exception => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}") }
      if (problems.nonEmpty) {
        failed += 1
        System.err.println(s"[graftbench] match $attempted failed: ${problems.mkString("; ")}")
      }
      attempted += 1
    }
    if (samples.isEmpty) throw new IllegalStateException(s"all $attempted matches threw")
    val heap = heapUsedMb()
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("setup_s", median(setups.toSeq), "s"),
        ("match_s", median(samples.toSeq), "s"),
        ("recall", median(recalls.toSeq), "fraction"),
        ("success_frac", (attempted - failed).toDouble / attempted, "fraction"),
        ("retained_heap_mb", heap, "MB"))
      else {
        val med = layers.get.summarize(layerRows.toSeq)
        (Seq("session_start_s" -> sessionStartS, "cold_match_s" -> warm.head) ++
          med.toSeq.sortBy(_._1) ++ kernels).map { case (k, v) => (k, v, LayerUnits.unit(k)) }
      }
    val sampleText = samples.map(s => f"$s%.4f").mkString(",")
    System.err.println(s"[graftbench] ${w.name} seed=${a.seed} samples=$sampleText labels=${labels.distinct.mkString(" | ")}")
    val metricJson = json(metrics.map { case (n, v, u) => n -> s"""{"value": $v, "unit": "$u"}""" })
    val report = json(Seq("workload" -> str(w.name), "seed" -> a.seed.toString, "trace" -> a.trace.toString,
      "inputs" -> json(stats), "warmup_s" -> warm.map(v => f"$v%.4f").mkString("[", ", ", "]"),
      "samples_s" -> s"[$sampleText]", "match_s_p90" -> percentile(samples.toSeq, 0.9).toString,
      "labels" -> labels.map(str).mkString("[", ", ", "]"),
      "metrics" -> metricJson, "spans" -> tracer.map(_.toJson).getOrElse("[]")))
    val path = s"${a.outDir}/${w.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"
    java.nio.file.Files.write(java.nio.file.Paths.get(path), report.getBytes("UTF-8"))
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $metricJson}""")
    base.stop()
    sys.exit(0)
  }

  val WarmPauseMs = 150L
}

object LayerUnits {
  /** Keys every traced run must have measured before it reports. */
  val required: Seq[String] = Seq("fresh_pass.self_s", "fresh_pass.narrow_s", "match.traced_s",
    "match.untraced_s", "lsh.s", "sweep.s", "bnlj.s", "filter_pass.s", "tvf.analyze_s", "combine.s")

  def unit(k: String): String =
    if (k.endsWith("ns_per_pair")) "ns"
    else if (k.endsWith("_s") || k.endsWith(".s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k == "core_util" || k.contains("_per_")) "fraction"
    else "count"
}
