package graft.operators

import graft.functions.TextAnalysis
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Higher-order-function reference forms of the native kernels: the
  * interpreted Spark SQL folds each kernel must match bit for bit on
  * its contract's inputs. The specs' cross-check oracles; no main code
  * evaluates them. */
object HofForms {

  /** [[Similarity.dot]]'s reference: a left fold of double products. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  /** The SemDeDup centroid-similarity expression with interpreted folds
    * for both the dot and the centroid self-norm. */
  def centSimHof(v: Column, centArr: Column, nv: Column): Column =
    round(
      aggregate(zip_with(v, centArr, (x, c) => x.cast("double") * c),
        lit(0.0), (acc, p) => acc + p)
        / (nv *
          sqrt(aggregate(transform(centArr, c => c * c),
            lit(0.0), (acc, p) => acc + p))), 6)

  /** [[TextAnalysis.tokens]]'s reference: Spark's regex split of the
    * trimmed, lower-cased text. */
  def tokensHof(c: Column): Column = split(lower(trim(c)), "\\s+")

  /** [[Dedup.shingleHashes]]'s reference. */
  def shingleHashesHof(textCol: Column, n: Int = 3): Column =
    sort_array(array_distinct(
      transform(TextAnalysis.charNgrams(textCol, n), s => TextAnalysis.polyHash(s))))

  /** [[Dedup.minhashCols]]'s reference: one transform + array_min pass
    * per signature slot, on the shared coefficient schedule. */
  def minhashColsHof(xs: Column, k: Int): Seq[(String, Column)] =
    (0 until k).map { i =>
      s"mh$i" -> array_min(transform(xs,
        x => (lit(Dedup.aCoef(i)) * x + lit(Dedup.bCoef(i))) % Dedup.P))
    }

  /** [[Dedup.minhashBands]]'s reference: band b of a signature `sig`
    * (e.g. [[Dedup.minhashCols]]) folds its r consecutive minhashes. */
  def bandHash(sig: Seq[Column], b: Int, r: Int): Column =
    (b * r until (b + 1) * r).map(sig(_)).reduce((h, m) => (h * 31 + m) % Dedup.P)

  /** [[Dedup.simhash16]]'s reference. */
  def simhash16Hof(textCol: Column): Column = {
    val toks = array_distinct(tokensHof(textCol))
    val hs = transform(toks, t => TextAnalysis.polyHash(t) % 65536)
    val n = size(toks)
    (0 until 16).map { j =>
      val pow = 1L << j
      when(lit(2) * size(filter(hs, h => (h.cast("long") / pow).cast("long") % 2 === 1)) > n, lit(pow))
        .otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** [[Sq8.encode]]'s reference. */
  def sq8EncodeHof(vec: Column, m: Sq8.Model): Column = {
    val mns = typedlit(m.vmins)
    val mxs = typedlit(m.vmaxs)
    transform(sequence(lit(1), lit(m.dim)), j => {
      val mn = element_at(mns, j)
      val mx = element_at(mxs, j)
      val t = when(mx === mn, lit(0.0))
        .otherwise((element_at(vec, j).cast("double") - mn) * lit(255.0) / (mx - mn))
      least(greatest(floor(t + lit(0.5)), lit(0.0)), lit(255.0)).cast("long")
    })
  }

  /** [[Sq8.adcDist]]'s reference: dq_j computed INLINE per dimension —
    * not element_at over a staged transform() array, which would rebuild
    * the whole array per pick, the O(dim^2) HOF trap. */
  def sq8AdcDistHof(qv: Column, codes: Column, m: Sq8.Model): Column = {
    val mns = typedlit(m.vmins)
    val mxs = typedlit(m.vmaxs)
    aggregate(sequence(lit(1), lit(m.dim)), lit(0.0), (acc, j) => {
      val dqj = element_at(mns, j) +
        element_at(codes, j) *
          (element_at(mxs, j) - element_at(mns, j)) / lit(255.0)
      val diff = element_at(qv, j) - dqj
      acc + diff * diff
    })
  }

  /** [[Pq.encode]]'s reference: the first-minimum index per subspace. */
  def pqEncodeHof(vec: Column): Column =
    transform(Pq.distMat(vec), ds =>
      (array_position(ds, array_min(ds)) - 1).cast("int"))

  /** [[Pq.adcDist]]'s reference: identical left-to-right adds. */
  def pqAdcDistHof(lutCol: Column, codes: Column): Column =
    aggregate(sequence(lit(0), lit(Pq.M - 1)), lit(0.0), (acc, s) =>
      acc + element_at(lutCol, s * lit(Pq.K) + element_at(codes, s + 1) + 1))

  /** [[TextAnalysis.tokenNgramHashesAll]]'s reference. */
  def tokenNgramHashesAllHof(c: Column, n: Int): Column = {
    val toks = tokensHof(c)
    when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => TextAnalysis.polyHash(concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
      .otherwise(array().cast("array<long>"))
  }
}
