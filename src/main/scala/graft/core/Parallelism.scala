package graft.core

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive parallelism floor for CPU-dense per-row stages.
  *
  * Operators whose per-row cost dwarfs their per-row bytes (shingling +
  * minhash over documents, tokenize-and-explode passes) inherit their
  * parallelism from the SCAN split count. At warehouse scale a table is
  * many splits and this is a no-op; a small input (one file under
  * `spark.sql.files.maxPartitionBytes`, or a single in-memory fixture
  * partition) plans as ONE split, and the whole CPU-dense pipeline —
  * including the map side of its first exchange — runs on one core while
  * the rest of the cluster idles. Parquet can't help below one row group,
  * so `spark.sql.files.minPartitionNum` is not a fix either.
  *
  * [[floor]] lifts such a frame to the session's default parallelism
  * with a HASH repartition on the caller's row key — hash, not
  * round-robin, so a retried task reproduces the same row placement
  * without the sort-before-repartition pass (SPARK-38388 discipline) —
  * and only when the planned partition count is actually below the
  * target, so the 100 TB path never pays the extra exchange.
  */
object Parallelism {

  /** `df` repartitioned up to `spark.default.parallelism` on `keys` when
    * its planned partitioning is narrower; unchanged otherwise. */
  def floor(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty, "floor needs a deterministic repartition key")
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= want) df else df.repartition(want, keys: _*)
  }

  /** Rows per task [[spread]] budgets for. */
  val SpreadRowsPerTask: Long = 4096L

  /** Hash spread on `keys` for CPU-dense projections that run on an
    * AGGREGATION's output (per-distinct-token DP folds, per-group model
    * evals): the aggregation's result is bytes-small, so adaptive
    * coalescing packs it into one or two partitions — sized for its
    * BYTES, blind to the O(work/row) projection fused downstream. An
    * explicit user repartition is exempt from AQE coalescing, so the
    * stage keeps parallelism at every scale.
    *
    * The partition count is ROW-ADAPTIVE (round-20 lesson: fanning a
    * vocab-sized fixture frame to 32 tasks cost more in dispatch than
    * the DP recovered — the driver measured q133 FASTER on 8 cores than
    * 32): clamp(estimatedRows / [[SpreadRowsPerTask]], 1, default
    * parallelism), rows estimated from the optimized plan's size stats
    * and the schema's default row width. The 4096-row budget reflects
    * the ~10-100 µs/row cost of the merge-replay / Viterbi projections
    * this serves; a trillion-token corpus's vocabulary estimates far above
    * parallelism × budget, so the 100 TB path still spreads cluster-wide.
    *
    * Callers should spread the frame FEEDING a distinct/aggregation keyed
    * the same way (not its output): the aggregation then reuses the
    * spread's exchange instead of adding its own. */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    require(keys.nonEmpty, "spread needs a deterministic repartition key")
    val want = df.sparkSession.sparkContext.defaultParallelism.toLong
    val stats = df.queryExecution.optimizedPlan.stats
    val rowBytes = math.max(8L, df.schema.map(_.dataType.defaultSize.toLong).sum + 8L)
    val estRows = stats.rowCount.map(r => BigInt(r.toString))
      .getOrElse(stats.sizeInBytes / rowBytes)
    val n = ((estRows + SpreadRowsPerTask - 1) / SpreadRowsPerTask)
      .min(want).max(1L).toInt
    df.repartition(n, keys: _*)
  }
}
