package graftbench

/** Plain, unoptimised distance definitions the benchmark checks the engine
  * against. Each is the full dynamic programme of its textbook definition,
  * with no banding, pruning or early exit, and shares no code with
  * `graft.fuzzy.Kernels`. Distances are normalised to [0, 1] the way the
  * engine normalises them (rapidfuzz conventions). */
object Textbook {

  def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length) {
      val cost = if (a(i - 1) == b(j - 1)) 0 else 1
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1), d(i - 1)(j - 1) + cost)
    }
    d(a.length)(b.length)
  }

  /** Unrestricted Damerau-Levenshtein (Lowrance-Wagner). */
  def damerau(a: String, b: String): Int = {
    val n = a.length
    val m = b.length
    val inf = n + m
    val d = Array.ofDim[Int](n + 2, m + 2)
    d(0)(0) = inf
    for (i <- 0 to n) { d(i + 1)(0) = inf; d(i + 1)(1) = i }
    for (j <- 0 to m) { d(0)(j + 1) = inf; d(1)(j + 1) = j }
    val last = scala.collection.mutable.Map.empty[Char, Int]
    for (i <- 1 to n) {
      var db = 0
      for (j <- 1 to m) {
        val i1 = last.getOrElse(b(j - 1), 0)
        val j1 = db
        val cost = if (a(i - 1) == b(j - 1)) { db = j; 0 } else 1
        d(i + 1)(j + 1) = Seq(d(i)(j) + cost, d(i + 1)(j) + 1, d(i)(j + 1) + 1,
          d(i1)(j1) + (i - i1 - 1) + 1 + (j - j1 - 1)).min
      }
      last(a(i - 1)) = i
    }
    d(n + 1)(m + 1)
  }

  /** Jaro similarity; transpositions are half the mismatched matched
    * characters, rounded down. */
  def jaro(a: String, b: String): Double = {
    if (a.isEmpty && b.isEmpty) return 1.0
    if (a.isEmpty || b.isEmpty) return 0.0
    if (a.length == 1 && b.length == 1) return if (a == b) 1.0 else 0.0
    val window = math.max(0, math.max(a.length, b.length) / 2 - 1)
    val aHit = Array.fill(a.length)(false)
    val bHit = Array.fill(b.length)(false)
    for (i <- a.indices) {
      val j = (math.max(0, i - window) to math.min(b.length - 1, i + window))
        .find(j => !bHit(j) && a(i) == b(j))
      j.foreach { jj => aHit(i) = true; bHit(jj) = true }
    }
    val as = a.indices.filter(aHit).map(a(_))
    val bs = b.indices.filter(bHit).map(b(_))
    val m = as.length.toDouble
    if (m == 0) return 0.0
    val t = as.zip(bs).count { case (x, y) => x != y } / 2
    (m / a.length + m / b.length + (m - t) / m) / 3.0
  }

  def jaroWinkler(a: String, b: String): Double = {
    val j = jaro(a, b)
    if (j <= 0.7) j
    else {
      val prefix = a.zip(b).take(4).takeWhile { case (x, y) => x == y }.length
      j + prefix * 0.1 * (1.0 - j)
    }
  }

  def hamming(a: String, b: String): Int =
    a.zip(b).count { case (x, y) => x != y } + math.abs(a.length - b.length)

  def lcs(a: String, b: String): Int = {
    val d = Array.ofDim[Int](a.length + 1, b.length + 1)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = if (a(i - 1) == b(j - 1)) d(i - 1)(j - 1) + 1 else math.max(d(i - 1)(j), d(i)(j - 1))
    d(a.length)(b.length)
  }

  private def norm(d: Int, a: String, b: String): Double = {
    val mx = math.max(a.length, b.length)
    if (mx == 0) 0.0 else d.toDouble / mx
  }

  /** Normalised distance of lowercased inputs, by engine algorithm name. */
  def distance(algo: String, a0: String, b0: String): Double = {
    val a = a0.toLowerCase
    val b = b0.toLowerCase
    algo match {
      case "levenshtein" => norm(levenshtein(a, b), a, b)
      case "damerau_levenshtein" => norm(damerau(a, b), a, b)
      case "jaro" => 1.0 - jaro(a, b)
      case "jaro_winkler" => 1.0 - jaroWinkler(a, b)
      case "hamming" => norm(hamming(a, b), a, b)
      case "indel" =>
        val total = a.length + b.length
        if (total == 0) 0.0 else (total - 2 * lcs(a, b)).toDouble / total
    }
  }

  /** The engine's distance bound for a 0-100 threshold (integer part of
    * the threshold, as in the reference). */
  def maxDistance(threshold: Double): Double = (100 - threshold.toInt) / 100.0

  /** The engine's score: similarity 1 - distance, kept iff distance is
    * within the bound. */
  def score(algo: String, threshold: Double, a: String, b: String): Option[Double] = {
    val d = distance(algo, a, b)
    if (d <= maxDistance(threshold)) Some(1.0 - d) else None
  }
}
