package graft.core

import org.apache.spark.sql.{DataFrame, GraftPartitionedCache}
import org.apache.spark.storage.StorageLevel

/** The one place an operator caches a frame: [[persist]].
  *
  * Operators persist intermediate frames they iterate over (shingle
  * tables, eps-cell bins, MST edge lists). When the same operator runs
  * repeatedly over the same input — the bench's repeated runs, or a
  * pipeline calling two operators that share a staged frame — the
  * re-derived logical plan is ALREADY in the CacheManager, and a plain
  * persist logs `WARN CacheManager: Asked to cache already cached data`
  * on every run. `Dataset.storageLevel` performs the same plan-keyed
  * CacheManager lookup, so checking it first keeps the cache hit while
  * keeping logs quiet.
  *
  * The lookup alone is not enough: an operator that finds the plan
  * already cached did NOT create that cache, so unpersisting it on exit
  * would evict the CALLER's cache mid-pipeline (e.g. a user persists a
  * shingle frame, calls two dedup passes over it, and the first pass
  * silently drops the cache the second one needed). [[persist]] returns
  * a [[Cached]] handle that records whether THIS call created the cache;
  * only an owned cache is ever dropped.
  *
  * Lifecycle: every owned cache is registered on the calling thread. A
  * result frame must often stay cached until the CALLER consumes it, so
  * the operator can't drop it on return; wrappers that fully consume
  * results (Verify, Bench, a pipeline step boundary) call
  * [[releaseTracked]] (`Dedup.releaseCaches`), which drops every
  * registered cache — also the ones of an operator that threw before it
  * could release its own. [[Cached.release]] drops one early and takes
  * it off the registry. Storage is always MEMORY_AND_DISK, so a 100 TB
  * input degrades to a disk-backed materialization instead of an OOM. */
object Caching {

  /** A cached frame plus whether the [[persist]] call created its cache. */
  final class Cached private[Caching] (val df: DataFrame, val owned: Boolean,
      private[Caching] val drop: () => Unit) {
    /** Drop the cache now and take it off the registry — ONLY when this
      * call created it, so it never evicts a cache the caller (or a
      * sibling operator) created. */
    def release(): Unit = if (owned) {
      registry.set(registry.get.filterNot(_ eq this))
      drop()
    }
  }

  private val registry = new ThreadLocal[List[Cached]] {
    override def initialValue(): List[Cached] = Nil
  }

  /** `narrow(df)`, cached unless an equal plan already is; the handle's
    * `owned` says whether this call created the cache.
    *
    * With `keys`, the cache also makes the hash partitioning on `keys`
    * VISIBLE to downstream planning ([[Parallelism.floor]]'s rule). A
    * plain persist under an AQE session hides the cached plan's
    * partitioning (`AdaptiveSparkPlanExec` reports
    * `UnknownPartitioning`), so every consumer keyed on the floor's own
    * repartition key re-plans an `ENSURE_REQUIREMENTS` exchange over data
    * that already satisfies it. Below default parallelism `df` is
    * repartitioned on `keys`, `narrow` runs post-shuffle, and the cache
    * goes through [[org.apache.spark.sql.GraftPartitionedCache]] (a
    * `LogicalRDD` leaf declaring the `HashPartitioning` the repartition
    * physically created), so aggregations/joins clustered on `keys` (or
    * any superset) plan ZERO exchange over it. A many-split production
    * frame skips the repartition AND the declaration (plain cache) — the
    * 100 TB path is unchanged. */
  def persist(df: DataFrame, keys: Seq[String] = Nil,
      narrow: DataFrame => DataFrame = identity): Cached = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    val c =
      if (keys.nonEmpty && df.rdd.getNumPartitions < want) {
        val (cached, rdd) = GraftPartitionedCache.repartitionPersist(df, want, keys, narrow)
        new Cached(cached, owned = true, () => { rdd.unpersist(blocking = false); () })
      } else {
        val ds = narrow(df)
        if (ds.storageLevel != StorageLevel.NONE) new Cached(ds, owned = false, () => ())
        else {
          ds.persist(StorageLevel.MEMORY_AND_DISK)
          new Cached(ds, owned = true, () => { ds.unpersist(blocking = false); () })
        }
      }
    if (c.owned) registry.set(c :: registry.get)
    c
  }

  /** Drop every cache registered on this thread. */
  def releaseTracked(): Unit = {
    val cs = registry.get
    registry.set(Nil)
    cs.foreach(_.drop())
  }
}
