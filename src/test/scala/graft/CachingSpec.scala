package graft

import graft.SourceScan.offenders
import graft.core.Caching
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Ownership contract of Caching.persist: release() drops ONLY caches
  * this call created, so an operator can never evict a frame its caller
  * persisted (the mid-pipeline cache-loss bug); every owned cache is
  * dropped when its scope closes (Dedup.releaseCaches closes the root
  * scope), also after a failed query and when another thread built it;
  * and no main source caches around Caching or truncates lineage around
  * Checkpointing. */
class CachingSpec extends SparkSpec {

  private def cachedPlans: Int = org.apache.spark.sql.CachedPlans.count(spark)

  test("persist on an uncached plan owns it; release drops it") {
    val df = spark.range(100).toDF("x").select(col("x") * 2 as "y")
    val c = Caching.persist(df)
    assert(c.owned)
    assert(c.df.storageLevel != StorageLevel.NONE)
    c.release()
    assert(c.df.storageLevel == StorageLevel.NONE)
  }

  test("persist on a caller-cached plan does NOT own it; release is a no-op") {
    val df = spark.range(100).toDF("x").select(col("x") + 1 as "y").persist()
    try {
      df.count() // materialize the caller's cache
      // the operator re-derives an EQUAL plan (the CacheManager is
      // plan-keyed, so storageLevel sees the caller's entry)
      val rederived = spark.range(100).toDF("x").select(col("x") + 1 as "y")
      val c = Caching.persist(rederived)
      assert(!c.owned)
      c.release()
      // the caller's cache must survive the operator's exit — and the
      // consuming wrapper's release too
      graft.operators.Dedup.releaseCaches()
      assert(df.storageLevel != StorageLevel.NONE,
        "operator release evicted the caller's cache")
    } finally { df.unpersist(); () }
  }

  test("an operator over a caller-persisted input leaves the cache intact") {
    // end-to-end shape of the ADVICE defect: KMeansLloyd persists the
    // exact projection it derives; a caller who persisted that same
    // plan first must still hold the cache after fit() returns
    val pts = spark.range(40).select(
      col("id"),
      array((col("id") % 7).cast("double"), (col("id") % 3).cast("double"))
        .cast("array<double>").as("v"))
    val callerCached = pts.select(col("id").as("id"),
      col("v").cast("array<double>").as("v")).persist()
    try {
      callerCached.count()
      val (model, assigned) =
        graft.operators.KMeansLloyd.fit(pts, "id", "v", k = 2, dim = 2,
          seed = 7L, rounds = 1)
      assert(model.cents.size == 2 && assigned.count() == 40)
      assert(callerCached.storageLevel != StorageLevel.NONE,
        "KMeansLloyd.fit evicted the caller's cache")
    } finally { callerCached.unpersist(); () }
  }

  test("releaseCaches drops the caches of an operator that threw") {
    graft.operators.Dedup.releaseCaches()
    val before = cachedPlans
    // two blobs; one row's x raises at execution time, so HDBSCAN's first
    // action (the MST edge count) fails after its bin, pair and
    // mutual-reachability caches are taken. A Range source, not a local
    // Seq: the optimizer would fold a local relation's projection and
    // raise before any cache exists.
    val pts = spark.range(30).select(col("id").as("pid"),
      when(col("id") === 7L, raise_error(lit("planted failure")).cast("double"))
        .otherwise((col("id") % 10) * 0.1 + (col("id") / 10).cast("long") * 50.0)
        .as("x"),
      ((col("id") % 3) * 0.1).as("y"))
    val e = intercept[Exception] {
      graft.operators.Hdbscan.cluster(pts, "pid", "x", "y",
        minClusterSize = 3, minSamples = 2, epsMax = 5.0).collect()
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("planted failure")),
      s"failed for another reason: $e")
    assert(cachedPlans > before, "the operator took no cache before failing")
    graft.operators.Dedup.releaseCaches()
    assert(cachedPlans == before,
      s"${cachedPlans - before} cached plans survived releaseCaches after a failure")
  }

  test("no main source outside Caching persists, caches or picks a storage level") {
    val root = new java.io.File("src/main/scala/graft")
    // `.persist(` not preceded by `Caching` — the call sites of
    // Caching.persist itself are the one allowed form
    val found = offenders(root, """(?<!Caching)\.persist\(|\.cache\(\)|StorageLevel""".r,
      Set(new java.io.File(root, "core/Caching.scala")))
    assert(found.isEmpty, s"cache outside Caching.persist:\n${found.mkString("\n")}")
  }

  test("no main source outside Checkpointing truncates lineage; core declares no ThreadLocal") {
    val found = offenders(new java.io.File("src/main/scala"),
      """checkpoint\(|localCheckpoint\(|setCheckpointDir""".r,
      Set(new java.io.File("src/main/scala/graft/core/Checkpointing.scala")))
    assert(found.isEmpty, s"lineage truncation outside Checkpointing:\n${found.mkString("\n")}")
    val threadLocals = offenders(new java.io.File("src/main/scala/graft/core"),
      """ThreadLocal""".r, Set.empty)
    assert(threadLocals.isEmpty, s"ThreadLocal in graft.core:\n${threadLocals.mkString("\n")}")
  }

  test("concurrent scopes drop their own caches: on failure, from child threads, never the caller's") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val sc = spark.sparkContext
    def callerPlan = spark.range(50).toDF("x").select(col("x") * 3 as "c")
    val caller = callerPlan.persist()
    try {
      caller.count()
      val rddsBefore = sc.getPersistentRDDs.keySet
      val plansBefore = cachedPlans
      val built = new CountDownLatch(2)
      val failedClosed = new CountDownLatch(1)
      // per query: a plain cache (a CacheManager entry), a keyed one over
      // a 1-split input (a partition-visible persisted RDD), one built on
      // a thread the query starts, and the caller's plan re-derived
      def query(tag: Int, fail: Boolean): Seq[Caching.Cached] = Caching.scope(spark) {
        val plain = Caching.persist(spark.range(100).toDF("x").select(col("x") + tag as "y"))
        val keyed = Caching.persist(spark.range(0, 100, 1, 1).toDF("k")
          .select(col("k"), col("k") * tag as "v"), keys = Seq("k"))
        var child: Caching.Cached = null
        val t = new Thread(() => {
          child = Caching.persist(spark.range(60).toDF("x").select(col("x") - tag as "z"))
          child.df.count(); ()
        })
        t.start(); t.join()
        val reused = Caching.persist(callerPlan)
        val cs = Seq(plain, keyed, child)
        assert(cs.forall(_.owned) && !reused.owned, s"query $tag: ownership")
        cs.foreach(_.df.count())
        built.countDown()
        assert(built.await(120, TimeUnit.SECONDS), "the other query never built its caches")
        if (fail) throw new IllegalStateException(s"planted failure in query $tag")
        // the failed query's scope closing leaves this scope's caches alone
        assert(failedClosed.await(120, TimeUnit.SECONDS), "the failing query never closed")
        assert(Seq(plain, child).forall(_.df.storageLevel != StorageLevel.NONE),
          s"query $tag lost a cache when the other scope closed")
        cs
      }
      @volatile var failure: Throwable = null
      @volatile var passError: Throwable = null
      @volatile var kept: Seq[Caching.Cached] = Nil
      val failing = new Thread(() => {
        try query(1, fail = true) catch { case e: Throwable => failure = e }
        finally failedClosed.countDown()
      })
      val passing = new Thread(() =>
        try kept = query(2, fail = false) catch { case e: Throwable => passError = e })
      failing.start(); passing.start(); failing.join(); passing.join()
      assert(failure != null && failure.getMessage.contains("planted failure"),
        s"failed for another reason: $failure")
      assert(passError == null, s"the passing query threw: $passError")
      assert(kept.size == 3)
      assert(sc.getPersistentRDDs.keySet == rddsBefore,
        s"persisted RDDs survived their scopes: ${sc.getPersistentRDDs.keySet -- rddsBefore}")
      assert(cachedPlans == plansBefore,
        s"${cachedPlans - plansBefore} cached plans survived their scopes")
      assert(kept.forall(_.df.storageLevel == StorageLevel.NONE))
      assert(caller.storageLevel != StorageLevel.NONE, "a scope evicted the caller's cache")
    } finally { caller.unpersist(); () }
  }
}
