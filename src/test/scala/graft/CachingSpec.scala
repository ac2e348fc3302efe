package graft

import graft.core.Caching
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** Ownership contract of Caching.persist: release() drops ONLY caches
  * this call created, so an operator can never evict a frame its caller
  * persisted (the mid-pipeline cache-loss bug); every owned cache is
  * dropped by Dedup.releaseCaches, also after a failed query; and no main
  * source caches around Caching. */
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
    assert(root.isDirectory, s"${root.getAbsolutePath} not found")
    def files(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(files)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    // `.persist(` not preceded by `Caching` — the call sites of
    // Caching.persist itself are the one allowed form
    val banned = """(?<!Caching)\.persist\(|\.cache\(\)|StorageLevel""".r
    val caching = new java.io.File(root, "core/Caching.scala").getCanonicalFile
    val all = files(root)
    assert(all.exists(_.getCanonicalFile == caching), "core/Caching.scala not found")
    val offenders = for {
      f <- all if f.getCanonicalFile != caching
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
      if banned.findFirstIn(line).isDefined
    } yield s"${root.toPath.relativize(f.toPath)}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      s"cache outside Caching.persist:\n${offenders.mkString("\n")}")
  }
}
