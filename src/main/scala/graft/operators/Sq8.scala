package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8): compress a float embedding to one byte
  * per dimension with a per-dimension affine [min, max] -> [0, 255]
  * map, and answer nearest-neighbor queries against the codes alone by
  * dequantizing inside the distance fold (asymmetric search: the query
  * stays float). The 4x memory cut (f32 -> u8) with near-exact recall
  * is the standard first rung of the ANN compression ladder — one rung
  * above PQ (`operators/Pq.scala`), which trades more recall for 8x
  * further compression.
  *
  * Reference scope: like Pq, generalizes the embedding-space retrieval
  * of convml-data's pipeline (convml_data/pipeline/embeddings/
  * sampling.py — tile embeddings consumed by kNN transforms) to a
  * compressed index.
  *
  * Cross-engine determinism contract (the q116/q117 discipline):
  *  - the model is per-dimension min/max — order-independent aggregates
  *    whose float->double widening is exact in any engine;
  *  - the code is floor(t + 0.5) of t = (v - mn) * 255 / (mx - mn)
  *    written token-identically on both sides (floor, not round, so no
  *    engine's half-even/half-up choice is in play), clamped through
  *    least/greatest in both engines;
  *  - distances fold in fixed dimension order and are emitted as
  *    micro-scaled integers.
  *
  * Scale shape (100 TB): the fit is ONE map-side-combinable aggregation
  * (posexplode to N*dim rows combines to dim rows per task before the
  * exchange); the model is dim-sized driver state (the bounded-model
  * pattern of the BPE merge table / KMeans centroids); encode is a pure
  * per-row projection (no shuffle, no UDF); search broadcasts the
  * (small) probe set and scans codes once, with the Pq two-phase salted
  * top-k so no task ever sorts the whole corpus.
  */
object Sq8 {

  /** Per-dimension quantization bounds. Driver state is 2*dim doubles. */
  final case class Model(vmins: IndexedSeq[Double], vmaxs: IndexedSeq[Double]) {
    require(vmins.length == vmaxs.length, "model dims differ")
    def dim: Int = vmins.length
  }

  /** Train: per-dimension min/max over the corpus. One aggregation,
    * map-side combinable; result is dim-bounded driver state. */
  def fitMinMax(df: DataFrame, vecCol: String, dim: Int): Model = {
    val rows = df
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg(min(col("v").cast("double")).as("mn"),
        max(col("v").cast("double")).as("mx"))
      .collect() // bounded: exactly `dim` rows
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
      .sortBy(_._1)
    require(rows.length == dim,
      s"fitMinMax: expected $dim dimensions, saw ${rows.length}")
    Model(rows.map(_._2).toIndexedSeq, rows.map(_._3).toIndexedSeq)
  }

  /** u8 code array for one vector: floor-of-shifted affine map, clamped;
    * a degenerate (constant) dimension codes to 0. Pure projection.
    * Native one-pass kernel (graft.plans.Sq8Encode) — bit-identical to
    * `HofForms.sq8EncodeHof` (test sources) on null-free vectors of the model's dim, null
    * otherwise. The HOF form pays ~10 interpreted expression evals per
    * DIMENSION per corpus row (two element_at literal picks, the affine
    * map and the clamp chain, all inside an interpreted transform
    * lambda). */
  def encode(vec: Column, m: Model): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.Sq8Encode(expression(vec), m.vmins, m.vmaxs))
  }

  /** Dequantized vector from a code array: mn + code * (mx - mn) / 255.
    * Exact at both endpoints; reconstruction error <= step/2 per dim. */
  def dequant(codes: Column, m: Model): Column = {
    val mns = typedlit(m.vmins)
    val mxs = typedlit(m.vmaxs)
    transform(sequence(lit(1), lit(m.dim)), j =>
      element_at(mns, j) +
        element_at(codes, j) * (element_at(mxs, j) - element_at(mns, j)) / lit(255.0))
  }

  /** Encode a corpus to (id, code_fp, code_sum): the order-dependent
    * poly-hash fingerprint pins every code byte in position without
    * emitting 64 columns. Pure projection. */
  def encodeDf(df: DataFrame, idCol: String, vecCol: String, m: Model): DataFrame = {
    val codes = encode(col(vecCol), m)
    df.select(
      col(idCol),
      aggregate(codes, lit(7L), (acc, c) => (acc * 31 + c) % 1000000007L)
        .as("code_fp"),
      aggregate(codes, lit(0L), (acc, c) => acc + c).as("code_sum"))
  }

  /** Asymmetric squared L2 of a double probe vector against a code row,
    * dequantizing each dimension in place. Native loop
    * (graft.plans.Sq8AdcDist) — bit-identical to `HofForms.sq8AdcDistHof` (test sources) on
    * null-free inputs of the model's dim, null otherwise; the HOF form
    * pays interpreted lambda eval once per (probe, candidate) pair
    * (~23 µs/pair at dim 64). */
  def adcDist(qv: Column, codes: Column, m: Model): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.Sq8AdcDist(expression(qv), expression(codes), m.vmins, m.vmaxs))
  }

  /** IVF-SQ8: the production compressed-ANN index shape — a coarse
    * centroid quantizer blocks the corpus into cells (native
    * `CellArgmin`), vectors store as u8 codes, and probes search only
    * their `nProbe` nearest cells with the asymmetric dequantizing
    * distance (native `Sq8AdcDist`). Candidates per probe shrink by
    * ~nProbe/nCells versus the flat scan of [[adcTopK]]; the cell meet
    * is an integer equi-join (the q73 IVF shape), so — unlike the flat
    * scan — no probe ever touches the whole corpus.
    *
    * Output: (probe_id, rnk, neighbor_id, d_u, cell). */
  def ivfAdcTopK(corpus: DataFrame, probes: DataFrame, m: Model,
      cents: Seq[Seq[Double]], nProbe: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val coded = corpus.select(col(idCol).as("nid"),
      Similarity.cellArgmin(col(vecCol), cents).getField("cell").as("cell"),
      encode(col(vecCol), m).as("codes"))
    val p = probes.select(col(idCol).as("probe_id"),
      transform(sequence(lit(1), lit(m.dim)),
        j => element_at(col(vecCol), j).cast("double")).as("qv"),
      // probe side needs the nProbe NEAREST cells, not just the argmin:
      // the (small) probe frame pays the full struct sort
      explode(slice(array_sort(
        Similarity.cellDists(col(vecCol), cents)), 1, nProbe))
        .as("near"))
      .select(col("probe_id"), col("qv"), col("near.cell").as("cell"))
    val d2 = adcDist(col("qv"), col("codes"), m)
    val scored = coded.join(broadcast(p), "cell")
      .where(col("nid") =!= col("probe_id"))
      .withColumn("d_u", round(d2 * 1e6).cast("long"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("d_u"), col("nid"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("nid").as("neighbor_id"),
        col("d_u"), col("cell").cast("long").as("cell"))
  }

  /** Asymmetric top-k: float probes against the u8-coded corpus; the
    * squared-L2 fold dequantizes each dimension in place. Probes are
    * broadcast; the Pq two-phase salted rank bounds any task's sort to
    * corpus/salts rows (phase 1) then salts*k rows (phase 2). */
  def adcTopK(corpus: DataFrame, probes: DataFrame, m: Model, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      salts: Int = 32): DataFrame = {
    val coded = corpus.select(col(idCol).as("nid"),
      encode(col(vecCol), m).as("codes"))
    val p = probes.select(col(idCol).as("probe_id"),
      transform(sequence(lit(1), lit(m.dim)),
        j => element_at(col(vecCol), j).cast("double")).as("qv"))
    val d2 = adcDist(col("qv"), col("codes"), m)
    val scored = coded.crossJoin(broadcast(p))
      .where(col("nid") =!= col("probe_id"))
      .withColumn("d_u", round(d2 * 1e6).cast("long"))
      .withColumn("_salt", pmod(col("nid"), lit(salts.toLong)))
    val w1 = Window.partitionBy(col("probe_id"), col("_salt"))
      .orderBy(col("d_u"), col("nid"))
    val survivors = scored
      .withColumn("_r1", row_number().over(w1))
      .where(col("_r1") <= k)
    val w2 = Window.partitionBy(col("probe_id"))
      .orderBy(col("d_u"), col("nid"))
    survivors.withColumn("rnk", row_number().over(w2).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("nid").as("neighbor_id"),
        col("d_u"))
  }
}
