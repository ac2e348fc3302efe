package graft.streaming

import graft.operators.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming near-duplicate detection: the batch LSH banding path
  * (Dedup.lshNearDupPairs) transplanted onto Structured Streaming.
  *
  * Why it streams cleanly: shingling, MinHash signatures and band hashes
  * are STATELESS per-row projections (the same native kernels as batch),
  * so the only stateful pieces are
  *   1. the candidate self-join — a stream-stream equi-join on
  *      (band, bandHash) with an event-time bound, exactly the state-
  *      cleanup shape Structured Streaming requires (same as StreamAsOf);
  *   2. collapsing multi-band hits of the same pair —
  *      dropDuplicatesWithinWatermark on (doc_a, doc_b), state again
  *      bounded by the watermark.
  *
  * Divergence from the batch plan, on purpose: batch carries id-only
  * candidates and re-joins the shingle table for the verify pass (two
  * extra joins, cheap in batch). In streaming each extra join is another
  * stateful operator, so the shingle arrays ride the band join and the
  * Jaccard verify runs inline on the join output — state is bounded by
  * (docs within the time bound) × bands, the natural streaming budget:
  * dedup against an unbounded corpus is impossible anyway; the time bound
  * IS the dedup horizon.
  */
object StreamDedup {

  /** Near-dup pairs (doc_a < doc_b, verified jaccard >= threshold) among
    * documents whose event times lie within `withinUs` of each other.
    * `docs` must be a streaming DataFrame with an event-time column. */
  def lshNearDupPairs(
      docs: DataFrame, idCol: String, textCol: String, tsCol: String,
      k: Int, bands: Int, threshold: Double,
      withinUs: Long, watermark: String): DataFrame = {
    val banded = docs.select(col(idCol).as("doc_id"), col(tsCol).as("ts"),
        Dedup.shingleHashes(col(textCol)).as("xs"))
      .select(col("doc_id"), col("ts"), col("xs"),
        posexplode(Dedup.minhashBands(col("xs"), k, bands)).as(Seq("band", "bh")))
    val l = banded.select(col("doc_id").as("doc_a"), col("ts").as("ts_a"),
      col("xs").as("sa"), col("band"), col("bh")).withWatermark("ts_a", watermark)
    val rr = banded.select(col("doc_id").as("doc_b"), col("ts").as("ts_b"),
      col("xs").as("sb"), col("band").as("band_r"), col("bh").as("bh_r"))
      .withWatermark("ts_b", watermark)
    l.join(rr,
        col("band") === col("band_r") && col("bh") === col("bh_r")
          && col("doc_a") < col("doc_b")
          && col("ts_b") >= col("ts_a") - expr(s"INTERVAL $withinUs MICROSECONDS")
          && col("ts_b") <= col("ts_a") + expr(s"INTERVAL $withinUs MICROSECONDS"))
      // same size-ratio prune + native merge-walk verify as batch
      .where(least(size(col("sa")), size(col("sb"))).cast("double")
        >= lit(threshold) * greatest(size(col("sa")), size(col("sb"))).cast("double"))
      .withColumn("jaccard", Dedup.jaccardSorted(col("sa"), col("sb")))
      .where(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("ts_a"), col("jaccard"))
      .dropDuplicatesWithinWatermark("doc_a", "doc_b")
  }
}
