package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Persisted frame whose hash partitioning stays VISIBLE to downstream
  * planning.
  *
  * Under an AQE session every `Dataset.persist()` wraps the cached plan
  * in an `AdaptiveSparkPlanExec`, and `AdaptiveSparkPlanExec` does not
  * override `outputPartitioning` — so `InMemoryTableScanExec` reports
  * `UnknownPartitioning` and EVERY keyed consumer of the cache re-pays an
  * `ENSURE_REQUIREMENTS` exchange the cached data already satisfies
  * (verified against Spark 4.1.2: a cached `repartition(n, k)` followed
  * by `groupBy(k)` plans a full re-shuffle; with AQE off it does not).
  * `localCheckpoint` loses the partitioning the same way, because the
  * `LogicalRDD` it builds copies `outputPartitioning` from the same
  * AQE-wrapped physical plan.
  *
  * [[repartitionPersist]] takes the route Spark's own checkpoint takes —
  * materialize to an `RDD[InternalRow]` and re-enter planning through a
  * `LogicalRDD` leaf — but DECLARES the partitioning it just created:
  * the input is repartitioned by `HashPartitioning(keys, n)` (an explicit
  * user repartition, which AQE never coalesces or re-splits), the caller
  * may stack a NARROW pipeline on top (projections, explodes, filters,
  * aggregations keyed on a superset of `keys` — shapes the planner
  * provably executes without another exchange, enforced on the optimized
  * plan below), each row is copied out of its reused unsafe buffer
  * exactly as `Dataset.checkpoint` does, the RDD is persisted, and the
  * returned frame's `LogicalRDD` carries that same `HashPartitioning` —
  * so an aggregation or join keyed on `keys` (or any superset —
  * subset-key clustering) plans NO exchange over the cache. The
  * declaration is truthful by construction: the rows physically live
  * where `HashPartitioning(keys, n)` says, and the structural guard
  * rejects any `narrow` that could have re-shuffled them.
  */
object GraftPartitionedCache {

  /** A lineage-truncated frame (a LogicalRDD leaf) moved onto session
    * `to` through the same private `Dataset.ofRows` entry: an iterative
    * operator's loop session ([[graft.core.LoopSession]]) shares the
    * SparkContext but not the caller's SQLConf. Re-analysing a leaf plan
    * resolves nothing against catalogs or session state. */
  def rebind(df: Dataset[Row], to: SparkSession): Dataset[Row] =
    classic.Dataset.ofRows(to.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[Row]].queryExecution.logical)

  /** `df` hash-repartitioned into `n` partitions on `keys` (top-level
    * column names), transformed by the partitioning-preserving `narrow`
    * pipeline, persisted MEMORY_AND_DISK, with the partitioning visible to
    * consumers. The plan materializes on first use like any cache build.
    * Returns the frame and the persisted RDD (unpersisting the RDD drops
    * the cache).
    *
    * `narrow` must keep the `keys` columns (same names) and must consist
    * only of partitioning-preserving operators — verified structurally
    * against the optimized logical plan, so an accidental join/window/
    * re-key inside `narrow` fails fast instead of mis-declaring. */
  def repartitionPersist(df: Dataset[Row], n: Int, keys: Seq[String],
      narrow: Dataset[Row] => Dataset[Row] = identity)
      : (Dataset[Row], RDD[InternalRow]) = {
    require(keys.nonEmpty, "repartitionPersist needs at least one key")
    val fin = narrow(df.repartition(n, keys.map(df.col): _*))
      .asInstanceOf[classic.Dataset[Row]]
    val qe = fin.queryExecution
    validateNarrow(qe.optimizedPlan, keys, n)
    val output = qe.analyzed.output
    val byName = output.groupBy(_.name)
    val partExprs = keys.map { k =>
      val matches = byName.getOrElse(k,
        throw new IllegalArgumentException(s"key $k not in ${output.map(_.name)}"))
      require(matches.size == 1, s"ambiguous key $k in output")
      matches.head
    }
    // rows out of the final stage are reused unsafe buffers — copy
    // before persisting (Dataset.checkpoint does the same)
    val rdd = qe.toRdd.map(_.copy())
    rdd.persist(StorageLevel.MEMORY_AND_DISK)
    // originStats: without them the leaf reports the default
    // sizeInBytes (Long.MaxValue) and every downstream join of a frame
    // derived from this cache flips from broadcast to sort-merge
    // (Dataset.checkpoint forwards the optimized plan's stats the same
    // way)
    val lr = LogicalRDD(output, rdd,
      HashPartitioning(partExprs, n), Nil, isStreaming = false, None)(
      fin.sparkSession, Some(qe.optimizedPlan.stats), None)
    (classic.Dataset.ofRows(fin.sparkSession, lr), rdd)
  }

  /** Root-to-repartition walk: every operator above the repartition must
    * preserve hash(`keys`) partitioning — Project/Filter/Generate pass
    * rows through untouched; an Aggregate whose grouping keys contain
    * every `key` BY NAME is planned exchange-free over the repartition
    * (subset-key clustered distribution) and keeps the child layout.
    * Anything else (joins, windows, sorts, a second repartition) could
    * move rows between partitions, so the declaration would lie —
    * reject. */
  private def validateNarrow(plan: LogicalPlan, keys: Seq[String], n: Int): Unit = {
    def walk(p: LogicalPlan): Boolean = p match {
      case r: RepartitionByExpression =>
        r.optNumPartitions.contains(n) &&
          r.partitionExpressions.length == keys.length &&
          r.partitionExpressions.zip(keys).forall {
            case (a: Attribute, k) => a.name == k
            case _ => false
          }
      case _: Project | _: Filter | _: Generate => walk(p.children.head)
      case a: Aggregate =>
        keys.forall(k => a.groupingExpressions.exists {
          case att: Attribute => att.name == k
          case _ => false
        }) && walk(a.child)
      case _ => false
    }
    require(walk(plan),
      s"narrow pipeline is not partitioning-preserving over keys $keys:\n$plan")
  }
}
