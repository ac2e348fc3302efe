package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. 2011): compress embeddings to
  * `M`-byte codes and answer nearest-neighbor queries from the codes
  * alone via asymmetric distance computation (ADC) — the memory-scale
  * path for ANN over a 100 TB embedding store (a 64-dim float vector
  * becomes M=8 small ints; the corpus never has to hold raw vectors at
  * query time).
  *
  * Reference scope: generalizes the embedding-space retrieval of
  * convml-data's model pipeline (convml_data/pipeline/embeddings/
  * sampling.py — tile embeddings consumed by downstream kNN transforms)
  * to a compressed index.
  *
  * The codebook is formula-deterministic (the q73 IVF-centroid pattern)
  * so the DuckDB oracle interpolates the identical constants: centroid
  * component c(s,k,j) = ((s*29 + k*13 + j*7) % 11 - 5) / 4.0 — exact
  * binary quarters, so every distance is the same IEEE double in both
  * engines (left-fold order pinned; ties broken by first-minimum index).
  * In production the codebook comes from a per-subspace k-means fit —
  * everything below is agnostic to where the constants came from.
  *
  * Scale shape: encoding is a pure per-row projection (no shuffle, no
  * UDF); ADC search broadcasts the (small) probe set with its per-probe
  * lookup tables and scans codes once — candidate cost is O(rows · M)
  * array picks, not O(rows · dim) float math.
  */
object Pq {
  /** M subspaces x SubDim dims (M*SubDim = embedding dim), K codes each. */
  val M = 8
  val K = 8
  val SubDim = 8
  val Dim: Int = M * SubDim

  /** Formula-deterministic codebook component for (subspace s, code k,
    * dim j) — exact quarters in [-1.25, 1.25]. */
  def cent(s: Int, k: Int, j: Int): Double =
    ((s * 29 + k * 13 + j * 7) % 11 - 5) / 4.0

  /** codebook(s)(k)(j), plan-embedded via typedlit. */
  lazy val codebook: Seq[Seq[Seq[Double]]] =
    Seq.tabulate(M, K, SubDim)(cent)

  private def cb: Column = typedlit(codebook)

  /** array(M)(K) of squared L2 distances from `vec`'s s-th subvector to
    * codebook entry (s,k); left-fold j order, float→double casts first. */
  def distMat(vec: Column): Column =
    transform(sequence(lit(0), lit(M - 1)), s =>
      transform(sequence(lit(0), lit(K - 1)), k =>
        aggregate(sequence(lit(1), lit(SubDim)), lit(0.0), (acc, j) => {
          val d = element_at(vec, s * lit(SubDim) + j).cast("double") -
            element_at(element_at(element_at(cb, s + 1), k + 1), j)
          acc + d * d
        })))

  /** PQ codes: per subspace the index of the first-minimum distance
    * (deterministic tie-break), as an array(M) of ints. Native one-pass
    * kernel (graft.plans.PqEncode) — bit-identical to `HofForms.pqEncodeHof` (test sources) on
    * null-free vectors of length Dim, null otherwise. The HOF form pays
    * M·K·SubDim interpreted lambda evals per row. */
  def encode(vec: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.PqEncode(expression(vec), codebook))
  }

  /** Flattened per-probe ADC lookup table: lut[s*K + k + 1] = d(s,k).
    * Stays the HOF form: evaluated once per PROBE (the broadcast side),
    * never per candidate pair. */
  def lut(vec: Column): Column = flatten(distMat(vec))

  /** ADC distance of a code row against a probe's lookup table — the
    * per-(probe, candidate) hot path. Native loop (graft.plans.PqAdcDist)
    * — bit-identical to `HofForms.pqAdcDistHof` (test sources; identical left-to-right adds) on
    * a null-free M·K table and M codes in [0, K), null otherwise. */
  def adcDist(lutCol: Column, codes: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.PqAdcDist(expression(lutCol), expression(codes), M, K))
  }

  /** Encode a corpus: (idCol, c0..c{M-1}) — pure projection. */
  def encodeDf(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val codes = encode(col(vecCol))
    df.select(col(idCol) +:
      (0 until M).map(s =>
        element_at(codes, s + 1).cast("long").as(s"c$s")): _*)
  }

  /** ADC top-k: probes (small — broadcast with their LUTs) against the
    * coded corpus; ranked by (distance, id), distance emitted as a
    * micro-scaled integer per the cross-engine FP contract.
    *
    * Two-phase top-k so no single task ever sorts the whole corpus:
    * phase 1 ranks within (probe, salt) partitions — `salts` parallel
    * slices of the corpus — and keeps k per slice; phase 2 ranks the
    * surviving salts·k rows per probe. The union of per-slice top-ks
    * contains the global top-k, so the result is identical to a
    * one-shot window while the per-probe partitions a task sees are
    * bounded by corpus/salts (phase 1) and salts·k (phase 2). */
  def adcTopK(corpus: DataFrame, probes: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      salts: Int = 32): DataFrame = {
    // floor: encode + per-pair ADC are CPU-dense per-row stages — a
    // single-split corpus otherwise runs the whole scan on one core
    val coded = graft.core.Parallelism.floor(corpus, col(idCol))
      .select(col(idCol).as("nid"), encode(col(vecCol)).as("codes"))
    val p = probes.select(col(idCol).as("probe_id"), lut(col(vecCol)).as("lut"))
    val scored = coded.crossJoin(broadcast(p))
      .where(col("nid") =!= col("probe_id"))
      .withColumn("adc_u",
        round(adcDist(col("lut"), col("codes")) * 1e6).cast("long"))
      .withColumn("_salt", pmod(col("nid"), lit(salts.toLong)))
    val w1 = Window.partitionBy(col("probe_id"), col("_salt"))
      .orderBy(col("adc_u"), col("nid"))
    val survivors = scored
      .withColumn("_r1", row_number().over(w1))
      .where(col("_r1") <= k)
    val w2 = Window.partitionBy(col("probe_id"))
      .orderBy(col("adc_u"), col("nid"))
    survivors.withColumn("rnk", row_number().over(w2).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("nid").as("neighbor_id"),
        col("adc_u"))
  }
}
