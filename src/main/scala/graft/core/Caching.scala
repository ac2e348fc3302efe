package graft.core

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, GraftPartitionedCache, SparkSession}
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
  * Lifecycle: every owned cache belongs to a [[Scope]]. A result frame
  * must often stay cached until the CALLER consumes it, so the operator
  * can't drop it on return; the caller that fully consumes results (one
  * query execution in Verify or Bench) runs it inside
  * [[scope]], and closing the scope drops every cache built in it —
  * also the ones of an operator that threw before it could release its
  * own, and the ones built on threads started inside the scope (the
  * scope's id is a SparkContext local property, which Spark hands to
  * child threads). Caches built with no scope open belong to the
  * [[root]] scope, which stays open; closing it drops what it holds.
  * [[Cached.release]] drops one cache early and takes it off its scope.
  * Storage is always MEMORY_AND_DISK, so a 100 TB input degrades to a
  * disk-backed materialization instead of an OOM.
  *
  * Reuse: under AQE, Spark reuses no exchange or broadcast over a cached
  * or checkpointed leaf (two consumers of one cache plan two exchanges),
  * so a column several consumers need is derived once inside the cache
  * (`narrow`), not by each consumer. */
object Caching {

  private val ScopeKey = "graft.cache.scope"
  private val RootId = "root"
  private val nextId = new AtomicLong()

  /** Open scope id -> the owned caches built in it. */
  private val scopes = new ConcurrentHashMap[String, List[Cached]]()
  scopes.put(RootId, Nil)

  /** A cached frame plus whether the [[persist]] call created its cache. */
  final class Cached private[Caching] (val df: DataFrame, val owned: Boolean,
      private[Caching] val drop: () => Unit, scope: String) {
    /** Drop the cache now and take it off its scope — ONLY when this
      * call created it, so it never evicts a cache the caller (or a
      * sibling operator) created. */
    def release(): Unit = if (owned) {
      scopes.computeIfPresent(scope, (_, cs) => cs.filterNot(_ eq this))
      drop()
    }
  }

  /** An open cache scope; [[close]] drops every cache built in it. */
  final class Scope private[Caching] (val id: String, restore: () => Unit)
      extends AutoCloseable {
    def close(): Unit = {
      restore()
      val cs = if (id == RootId) scopes.put(RootId, Nil) else scopes.remove(id)
      if (cs != null) cs.foreach(_.drop())
    }
  }

  /** The scope of caches built with no scope open. It never closes for
    * good: [[Scope.close]] drops its caches and it keeps collecting. */
  val root: Scope = new Scope(RootId, () => ())

  /** `body` inside a fresh scope, open on this thread and the threads it
    * starts, closed (its caches dropped, an outer scope restored) on
    * every exit path. */
  def scope[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    val outer = sc.getLocalProperty(ScopeKey)
    val s = new Scope(s"scope-${nextId.incrementAndGet()}",
      () => sc.setLocalProperty(ScopeKey, outer))
    scopes.put(s.id, Nil)
    sc.setLocalProperty(ScopeKey, s.id)
    try body finally s.close()
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
    val sc = df.sparkSession.sparkContext
    val scope = Option(sc.getLocalProperty(ScopeKey)).getOrElse(RootId)
    val want = sc.defaultParallelism
    val c =
      if (keys.nonEmpty && df.rdd.getNumPartitions < want) {
        val (cached, rdd) = GraftPartitionedCache.repartitionPersist(df, want, keys, narrow)
        new Cached(cached, owned = true, () => { rdd.unpersist(blocking = false); () }, scope)
      } else {
        val ds = narrow(df)
        if (ds.storageLevel != StorageLevel.NONE) new Cached(ds, owned = false, () => (), scope)
        else {
          ds.persist(StorageLevel.MEMORY_AND_DISK)
          new Cached(ds, owned = true, () => { ds.unpersist(blocking = false); () }, scope)
        }
      }
    // a scope that closed while this cache was built (a thread it
    // started outliving it) drops the cache at once
    if (c.owned && scopes.computeIfPresent(scope, (_, cs) => c :: cs) == null) c.drop()
    c
  }
}
