package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** From-scratch distributed KMeans (Lloyd 1982) — the in-engine
  * replacement for the Spark-ML fit behind M3/IVF/SemDeDup, so the
  * "assignment is a byproduct of the fit" production path
  * ([[Similarity.semDedupPreAssigned]]) is self-contained and
  * oracle-verifiable like everything else in the suite.
  *
  * Determinism contract:
  *  - init: the k rows with smallest (hashUnit(seed|id), id) — the
  *    suite's partitioning-independent uniform draw ([[Triplets
  *    .hashUnit]]), replayable token for token in DuckDB;
  *  - assignment: argmin over squared L2 with the (d2, cell)
  *    lexicographic tie-break ([[Similarity.cellDists]] + array_min —
  *    the exact rule q73/q96 already pin cross-engine);
  *  - update: per-dimension mean = exact-integer sum / count when
  *    vector components are integral (the oracle fixtures; engines
  *    agree bit-for-bit in any summation order). On arbitrary float
  *    embeddings the means are deterministic only up to FP summation
  *    order — the standard caveat, shared with Spark ML;
  *  - empty cells keep their previous centroid.
  *
  * Scale shape: the point frame is touched once per round by a
  * projection + one map-side-combinable aggregation (k·(dim+2) cells of
  * driver state per collect — the model, never O(N)). Centroids ride
  * into the assignment expression as a broadcast-sized literal, so —
  * unlike iterative-join algorithms — lineage DOES NOT GROW with
  * rounds: every round's job plans directly from the persisted base.
  * No checkpointing needed; k is bounded by expression-literal size
  * (~10^4-10^5 centroids), the same ceiling as the IVF/PQ probe
  * structures it feeds.
  */
object KMeansLloyd {

  /** Fitted model: centroids (cell index = position) + per-round sizes
    * for diagnostics. */
  final case class Model(cents: Seq[Seq[Double]], roundSizes: Seq[Seq[Long]])

  /** Argmin-cell assignment of `df(idCol, vecCol)` under literal
    * centroids: (id, v, cell) with the (d2, cell) tie-break. */
  def assign(df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Seq[Double]]): DataFrame =
    df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("cell",
        Similarity.cellArgmin(col("v"), cents).getField("cell"))

  /** Seeded deterministic init: the k rows with smallest
    * (hashUnit(seed|id), id), their vectors in that rank order. */
  def initCentroids(df: DataFrame, idCol: String, vecCol: String,
      k: Int, seed: Long): Seq[Seq[Double]] =
    df.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("u", Triplets.hashUnit(seed, col("id")))
      .orderBy(col("u"), col("id"))
      .limit(k)
      .collect().map(_.getSeq[Double](1).toSeq).toSeq

  /** `rounds` Lloyd iterations from the seeded init, then one final
    * E-step so the returned assignment is the argmin under the RETURNED
    * centroids (what [[Similarity.semDedupPreAssigned]] requires).
    * Returns (model, assignments(id, cell)). */
  def fit(df: DataFrame, idCol: String, vecCol: String, k: Int, dim: Int,
      seed: Long, rounds: Int): (Model, DataFrame) = {
    require(k > 0 && rounds >= 0, "k > 0, rounds >= 0")
    val ptsC = graft.core.Caching.persist(df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v")))
    val pts = ptsC.df
    try {
      var cents = initCentroids(pts, "id", "v", k, seed)
      require(cents.size == k, s"need >= $k rows to seed $k centroids")
      require(cents.forall(_.size == dim), s"vectors must have dim $dim")
      val sizes = Seq.newBuilder[Seq[Long]]
      for (_ <- 1 to rounds) {
        val aggs = count(lit(1)).as("n") +:
          (0 until dim).map(i => sum(element_at(col("v"), i + 1)).as(s"s$i"))
        val stats = assign(pts, "id", "v", cents)
          .groupBy(col("cell")).agg(aggs.head, aggs.tail: _*)
          .collect() // k rows — bounded model state, never O(N)
          .map(r => r.getInt(0) -> (r.getLong(1),
            (0 until dim).map(i => r.getDouble(2 + i))))
          .toMap
        sizes += (0 until k).map(c => stats.get(c).map(_._1).getOrElse(0L))
        cents = cents.zipWithIndex.map { case (old, c) =>
          stats.get(c) match {
            case Some((n, sums)) => sums.map(_ / n)
            case None => old // empty cell keeps its centroid
          }
        }
      }
      (Model(cents, sizes.result()), assign(pts, "id", "v", cents).select("id", "cell"))
    } finally ptsC.release()
  }

  /** The model as a DataFrame (cell, n_points via join downstream). */
  def centroidsDF(spark: SparkSession, model: Model): DataFrame = {
    import spark.implicits._
    model.cents.zipWithIndex
      .map { case (c, i) => (i, c) }.toDF("cell", "centroid")
  }
}
