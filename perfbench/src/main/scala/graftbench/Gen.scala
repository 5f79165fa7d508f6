package graftbench

import scala.util.Random

/** Seeded input generator, after the reference perf harness
  * (`performance_test/generate_test_data.py`): every right row is derived
  * from a left row, with 10% exact copies, 50% one edit, 30% two to four
  * edits and 10% unrelated names. Names are two or three words from a
  * synthetic vocabulary of several thousand pronounceable words, so n-gram
  * statistics look like real names rather than a handful of repeated
  * tokens. Sizes never depend on the seed; the same seed gives the same
  * rows.
  *
  * A planted pair is a (left id, right id) the generator derived; it counts
  * toward recall only if the benchmark's own textbook distance puts it
  * within every mapping's threshold. */
object Gen {

  final case class Side(ids: Array[Long], names: Array[String], cities: Array[String])

  final case class Inputs(left: Side, right: Side, planted: Set[(Long, Long)]) {
    def distinctLeft: Int = left.names.distinct.length
    def distinctRight: Int = right.names.distinct.length
    def cartesian: Double = distinctLeft.toDouble * distinctRight
  }

  /** A mapping as the benchmark knows it: column suffix (`text` or `city`),
    * engine algorithm name, 0-100 threshold. */
  final case class Mapping(column: String, algo: String, threshold: Double)

  private val onsets = Array("b", "br", "c", "ch", "d", "dr", "f", "fl", "g", "gr", "h",
    "j", "k", "kl", "l", "m", "n", "p", "pl", "qu", "r", "s", "sh", "sk", "st", "t",
    "th", "tr", "v", "w", "y", "z")
  private val vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "ou", "ie", "y")
  private val codas = Array("", "", "", "n", "r", "s", "l", "m", "x", "nd", "rt", "st", "ck")

  /** `size` distinct lowercase words of two or three syllables. */
  def vocabulary(rnd: Random, size: Int): Array[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < size) {
      val syllables = 2 + rnd.nextInt(2)
      val w = (0 until syllables).map { _ =>
        onsets(rnd.nextInt(onsets.length)) + vowels(rnd.nextInt(vowels.length)) +
          codas(rnd.nextInt(codas.length))
      }.mkString
      if (w.length >= 4 && w.length <= 10) out += w
    }
    out.toArray
  }

  private def title(w: String): String = w.head.toUpper.toString + w.tail

  def name(rnd: Random, vocab: Array[String]): String = {
    val words = 2 + (if (rnd.nextDouble() < 0.3) 1 else 0)
    (0 until words).map(_ => title(vocab(rnd.nextInt(vocab.length)))).mkString(" ")
  }

  /** One random edit: substitute, insert, delete, or swap two neighbours. */
  def edit(rnd: Random, s: String): String = {
    val letter = ('a' + rnd.nextInt(26)).toChar
    val i = rnd.nextInt(s.length)
    rnd.nextInt(4) match {
      case 0 => s.updated(i, letter)
      case 1 => s.substring(0, i) + letter + s.substring(i)
      case 2 if s.length > 1 => s.substring(0, i) + s.substring(i + 1)
      case 3 if i + 1 < s.length => s.substring(0, i) + s(i + 1) + s(i) + s.substring(i + 2)
      case _ => s.updated(i, letter)
    }
  }

  private def edits(rnd: Random, s: String, n: Int): String =
    (0 until n).foldLeft(s)((acc, _) => edit(rnd, acc))

  /** Left and right sides of `nLeft` x `nRight` rows (`nRight` <= `nLeft`).
    * The left side repeats about 4% of its names, so value-level dedup has
    * work to do. Cities come from a pool of `nCities` names; a right row
    * keeps its source row's city 85% of the time, gets it with one edit 10%
    * of the time and a random pool city otherwise. `idBase` offsets the
    * ids so batches of one run never share an id. */
  def generate(seed: Long, nLeft: Int, nRight: Int, maps: Seq[Mapping],
               vocabSize: Int = 6000, nCities: Int = 300, idBase: Long = 0L): Inputs = {
    require(nRight <= nLeft)
    val rnd = new Random(seed)
    val vocab = vocabulary(rnd, vocabSize)
    val cityPool = vocabulary(rnd, nCities).map(title)
    val lNames = new Array[String](nLeft)
    for (i <- 0 until nLeft)
      lNames(i) = if (i > 0 && rnd.nextDouble() < 0.04) lNames(rnd.nextInt(i)) else name(rnd, vocab)
    val lCities = Array.fill(nLeft)(cityPool(rnd.nextInt(nCities)))
    val src = rnd.shuffle((0 until nLeft).toVector).take(nRight).toArray
    val rNames = new Array[String](nRight)
    val rCities = new Array[String](nRight)
    val derived = new Array[Boolean](nRight)
    for (j <- 0 until nRight) {
      val s = lNames(src(j))
      val u = rnd.nextDouble()
      derived(j) = u < 0.9
      rNames(j) =
        if (u < 0.1) s
        else if (u < 0.6) edits(rnd, s, 1)
        else if (u < 0.9) edits(rnd, s, 2 + rnd.nextInt(3))
        else name(rnd, vocab)
      val c = rnd.nextDouble()
      rCities(j) =
        if (c < 0.85) lCities(src(j))
        else if (c < 0.95) edits(rnd, lCities(src(j)), 1)
        else cityPool(rnd.nextInt(nCities))
    }
    val left = Side(Array.tabulate(nLeft)(i => idBase + i), lNames, lCities)
    val right = Side(Array.tabulate(nRight)(j => idBase + 1_000_000L + j), rNames, rCities)
    def value(side: Side, i: Int, column: String): String =
      if (column == "city") side.cities(i) else side.names(i)
    val planted = (0 until nRight).filter(derived).filter { j =>
      maps.forall { m =>
        Textbook.score(m.algo, m.threshold, value(left, src(j), m.column), value(right, j, m.column)).isDefined
      }
    }.map(j => (left.ids(src(j)), right.ids(j))).toSet
    Inputs(left, right, planted)
  }
}
