package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every value is a pure function of the seed
  * and an index, so executors generate rows in parallel and the output
  * checks recompute any row in plain Scala without the engine. */
object Inputs {

  /** splitmix64 finalizer: decorrelates (seed, index) pairs. */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, tag: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed, tag), i))

  // ---- rasters ----------------------------------------------------------

  /** Closed-form pixel value of scene `k` at row `j`, column `i`: a small
    * integer, so any sum of pixels is exact in double arithmetic.
    * `version` changes every value of a scene (an edited scene). */
  def pixel(seed: Long, k: Int, j: Int, i: Int, version: Int = 0): Double =
    (Math.floorMod(seed * 17L + k * 7919L + j * 131L + i * 31L + version * 613L,
      1009L)).toDouble

  /** Sum of [[pixel]] over rows [j0, j1) and columns [i0, i1). */
  def pixelSum(seed: Long, k: Int, j0: Int, j1: Int, i0: Int, i1: Int): Double = {
    var s = 0.0
    var j = j0
    while (j < j1) {
      var i = i0
      while (i < i1) { s += pixel(seed, k, j, i); i += 1 }
      j += 1
    }
    s
  }

  // ---- text -------------------------------------------------------------

  /** Zipf(1.07) vocabulary of random lower-case words. */
  object Vocab {
    val Size = 20000
    val words: Array[String] = Array.tabulate(Size) { w =>
      val r = new SplittableRandom(mix(7L, w))
      val len = 3 + r.nextInt(7)
      val sb = new StringBuilder(len)
      (0 until len).foreach(_ => sb += ('a' + r.nextInt(26)).toChar)
      sb.result()
    }
    private val cum: Array[Double] = {
      val c = new Array[Double](Size)
      var acc = 0.0
      (0 until Size).foreach { r => acc += 1.0 / math.pow(r + 1.0, 1.07); c(r) = acc }
      c
    }
    def draw(r: SplittableRandom): String = {
      val u = r.nextDouble() * cum(Size - 1)
      val at = java.util.Arrays.binarySearch(cum, u)
      words(if (at >= 0) at else math.min(Size - 1, -at - 1))
    }
  }

  /** A corpus of `n` documents with planted near-duplicate clusters.
    *
    * Slots [0, 5 * clusters) hold clusters of 2-5 members: member 0 is a
    * base document, the others copy it with 3% of the tokens replaced.
    * All other slots are independent documents. Document ids are the
    * slots under a fixed permutation, so clusters are scattered over the
    * id space as they would be in a crawl. */
  final case class Corpus(seed: Long, n: Int) {
    val clusters: Int = n / 25
    private val A = 1000003L
    require(BigInt(A).gcd(BigInt(n)) == 1, "corpus size must be coprime with the permutation")
    private val aInv = BigInt(A).modInverse(BigInt(n)).toLong

    def idOf(slot: Int): Long = (slot * A) % n
    def slotOf(id: Long): Int = ((id % n) * aInv % n).toInt

    def clusterSize(c: Int): Int = 2 + rng(seed, 11, c).nextInt(4)

    /** (cluster, member) of a slot, if it is a cluster member. */
    def member(slot: Int): Option[(Int, Int)] =
      if (slot >= 5 * clusters) None
      else {
        val (c, m) = (slot / 5, slot % 5)
        if (m < clusterSize(c)) Some((c, m)) else None
      }

    private def fresh(r: SplittableRandom): Array[String] =
      Array.fill(30 + r.nextInt(50))(Vocab.draw(r))

    def tokens(id: Long): Array[String] = member(slotOf(id)) match {
      case Some((c, m)) =>
        val base = fresh(rng(seed, 12, c))
        if (m == 0) base
        else {
          val r = rng(seed, 13, c * 8L + m)
          base.map(t => if (r.nextDouble() < 0.03) Vocab.draw(r) else t)
        }
      case None => fresh(rng(seed, 14, slotOf(id)))
    }

    /** Raw text as a crawler would store it: irregular spacing and a
      * capitalized first word, which the cleaning step removes. */
    def raw(id: Long): String = {
      val r = rng(seed, 15, id)
      val t = tokens(id)
      val sb = new StringBuilder
      if (r.nextInt(4) == 0) sb ++= "  "
      t.indices.foreach { i =>
        if (i > 0) sb ++= (if (r.nextInt(10) == 0) "   " else " ")
        sb ++= (if (i == 0) t(i).capitalize else t(i))
      }
      if (r.nextInt(4) == 0) sb += ' '
      sb.result()
    }

    /** The text the cleaning step must produce from [[raw]]. */
    def clean(id: Long): String = tokens(id).mkString(" ")

    /** Ids of each planted cluster's members. */
    def clusterIds: Seq[Seq[Long]] = (0 until clusters).map { c =>
      (0 until clusterSize(c)).map(m => idOf(c * 5 + m))
    }
  }

  /** Distinct hashed character 3-grams, as the program's shingling
    * defines them: the polynomial hash (acc * 31 + char) mod 1e9+7 from 7. */
  def shingles(text: String): Set[Long] =
    if (text.length < 3) Set.empty
    else (0 to text.length - 3).map { i =>
      var h = 7L
      var k = i
      while (k < i + 3) { h = (h * 31 + text.charAt(k)) % 1000000007L; k += 1 }
      h
    }.toSet

  def jaccard(a: Set[Long], b: Set[Long]): Double =
    if (a.isEmpty && b.isEmpty) 1.0
    else (a intersect b).size.toDouble / (a union b).size
}
