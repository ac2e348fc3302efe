package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank-based (exact-element) percentiles and argmin/top-1 selection.
  *
  * Reference: convml_data/pipeline/embeddings/aux_fields/data_filters.py:6-20
  * (np.percentile threshold filters) and utils/time.py:26-28 /
  * aux_sources.py:215-231 (argmin-by-distance).
  *
  * We use the *nearest-rank* percentile definition — the element at 0-based
  * sorted index floor(p*(n-1)) — rather than an interpolated quantile:
  * the result is an actual data value, so it is bit-stable across engines
  * (no FP interpolation) and cheap at scale (one window pass, or
  * `approxQuantile` when an approximation is acceptable at 100 TB).
  */
object RankStats {

  /** Per-group nearest-rank percentile of `v` (ties broken by `tieBreak`
    * for full determinism). Output: group cols + `pvalue`.
    */
  def nearestRankPercentile(
      df: DataFrame,
      groupCols: Seq[String],
      v: Column,
      p: Double,
      tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(v, tieBreak)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy(groupCols.map(col): _*)))
      .where(col("__rn") - 1 === floor(lit(p) * (col("__n") - 1)))
      .select(groupCols.map(col) :+ v.as("pvalue"): _*)
  }

  /** GLOBAL nearest-rank percentile — the groupless case of
    * [[nearestRankPercentile]]. A partition-less window would rank the
    * whole frame in ONE task (the scale-killer Verify's "No Partition
    * Defined" warnings flagged); instead the frame is RANGE-partitioned
    * on the rank order, ranked per partition (a properly partitioned
    * window), and each partition's global rank offset comes from the
    * per-partition row counts — a bounded one-row-per-shuffle-partition
    * frame prefix-summed by a tiny triangular self-join. Same
    * (v, tieBreak) total order, same selected row, at every scale. The
    * ranged frame is cached (released with the caller's cache scope) so the
    * counts pass and the rank pass see the identical partitioning. */
  def globalNearestRankPercentile(df: DataFrame, v: Column, p: Double,
      tieBreak: Column): DataFrame = {
    val ranged = graft.core.Caching.persist(
      df.repartitionByRange(df.sparkSession.sparkContext.defaultParallelism,
        v, tieBreak).withColumn("__pid", spark_partition_id())).df
    val pc = ranged.groupBy(col("__pid")).agg(count(lit(1)).as("__c"))
    val off = pc.as("a")
      .join(pc.as("b"), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__c")), lit(0L)).as("__off"))
    val n = pc.agg(sum(col("__c")).cast("long").as("__n"))
    ranged.withColumn("__rn", row_number().over(
        Window.partitionBy(col("__pid")).orderBy(v, tieBreak)))
      .join(broadcast(off), Seq("__pid"))
      .crossJoin(broadcast(n))
      .where(col("__rn") + col("__off") - 1 === floor(lit(p) * (col("__n") - 1)))
      .select(v.as("pvalue"))
  }

  /** O2: per-key argmin — keep the single row minimizing `cost`
    * (tie-break for determinism). */
  def argmin(df: DataFrame, keyCols: Seq[String], cost: Column, tieBreak: Column): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(cost, tieBreak)
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
  }
}
