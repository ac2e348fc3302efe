package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import graft.SparkSpec
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** The DSv2 mount of the zarr chunk-parallel reader: format(...) read
  * semantics vs the library path (v2 whole-chunk AND v3 shard-inner
  * granularity), plan-phase pruning from pushed dataset/path filters,
  * and column pruning that provably never opens chunk files. */
class ZarrDataSourceSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val Fmt = "graft.sources.ZarrDataSource"
  private val V2Store = "src/test/resources/fixtures/golden.zarr"
  private val ShardStore = "src/test/resources/fixtures/golden_sharded_v3.zarr"

  private def copyStore(src: String, into: Path, name: String): Path = {
    val dst = into.resolve(name)
    val srcPath = Paths.get(src)
    Files.walk(srcPath).forEach { p =>
      val t = dst.resolve(srcPath.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
    dst
  }

  test("v2 store reads match the ZarrChunkIngest library path exactly") {
    val df = spark.read.format(Fmt).option("path", V2Store).load()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(1), r.getLong(2), r.getDouble(3))
    val got = df.collect().map(key).sorted.toSeq
    // the library path is the whole-array decode
    val lib = Seq("cnt", "lwp", "wind").flatMap(a =>
      Zarr.readArray(new java.io.File(V2Store), a)._2.zipWithIndex
        .map { case (v, i) => (a, i.toLong, v) }).sorted
    assert(got == lib)
    assert(df.schema.fieldNames.toSeq ==
      Seq("path", "dataset", "idx", "value", "d0", "d1", "d2", "d3"))
    // the absent cnt chunk reads as fill -1 through the mount too
    val cnt = df.where(col("dataset") === "cnt").orderBy("idx")
      .select("value").collect().map(_.getDouble(0)).toSeq
    assert(cnt == Seq(3.0, 1.0, 4.0, 1.0, -1.0, -1.0, -1.0))
  }

  test("dataset equality filter prunes chunks at PLAN time") {
    // partitions=64 > task count, so partition count == planned task count
    val all = spark.read.format(Fmt)
      .option("path", V2Store).option("partitions", "64").load()
    assert(all.rdd.getNumPartitions == 7) // lwp 4 + cnt 2 + wind 1
    val pruned = all.where(col("dataset") === "lwp")
    assert(pruned.rdd.getNumPartitions == 4) // cnt/wind chunks never planned
    assert(pruned.count() == 30)
    assert(pruned.queryExecution.executedPlan.toString.contains("pushed=EqualTo"))
    // IN pushes too; the residual filter still applies (semantics intact)
    val in = all.where(col("dataset").isin("wind", "nope"))
    assert(in.rdd.getNumPartitions == 1)
    assert(in.orderBy("idx").collect().map(_.getDouble(3)).toSeq ==
      Seq(5.5, -2.25, 0.125))
  }

  test("idx range predicates prune chunks at PLAN time (the spatial crop)") {
    // lwp shape (5,6), chunks (3,4) -> 4 chunks with closed-form idx
    // spans [0,15], [4,17], [18,27], [22,29]
    val lwp = spark.read.format(Fmt)
      .option("path", V2Store).option("partitions", "64").load()
      .where(col("dataset") === "lwp")
    val tail = lwp.where(col("idx") >= 18)
    assert(tail.rdd.getNumPartitions == 2) // both row-0 chunks never planned
    assert(tail.select("idx").collect().map(_.getLong(0)).sorted.toSeq ==
      (18L to 29L))
    val head = lwp.where(col("idx") <= 3)
    assert(head.rdd.getNumPartitions == 1) // only chunk (0,0) spans <= 3
    assert(head.count() == 4)
    // the span is a BOUND, not membership: idx=4 (row 0, col 4) lives in
    // chunk (0,1) only, but chunk (0,0)'s span [0,15] also contains 4 —
    // both plan, the residual filter restores exactness
    val between = lwp.where(col("idx") === 4L)
    assert(between.rdd.getNumPartitions == 2)
    assert(between.count() == 1)
    assert(lwp.where(col("idx") > 29).rdd.getNumPartitions == 0)
  }

  test("idx range prunes shard-INNER chunks too") {
    // temp shape (6,8), shards (4,8), inner (2,4): 8 inner tasks with
    // spans [0,11],[4,15],[16,27],[20,31] + shard-1 [32,43],[36,47] and
    // two out-of-shape rows-6..7 tasks
    val df = spark.read.format(Fmt)
      .option("path", ShardStore).option("partitions", "64").load()
    val slice = df.where(col("idx").between(32, 47))
    assert(slice.rdd.getNumPartitions == 2) // only shard 1's real inners
    assert(slice.count() == 16)
    val one = df.where(col("idx") < 4)
    assert(one.rdd.getNumPartitions == 1)
    assert(one.collect().map(_.getDouble(3)).sorted.toSeq ==
      Seq(0.0, 1.0, 2.0, 3.0))
  }

  test("idx range prunes WHOLE SHARDS before their index tails are read") {
    // the corrupt-payload proof at the shard-index level: corrupt the
    // OUT-OF-RANGE shard's index tail — a range plan that never needs
    // that shard must never read the tail (metadata work proportional
    // to the crop); the unfiltered plan must reject loudly on the crc
    val tmp = Files.createTempDirectory("zarr-dsv2-shardprune")
    val store = copyStore(ShardStore, tmp, "s.zarr")
    val shard1 = store.resolve("temp").resolve("c").resolve("1").resolve("0")
    val b = Files.readAllBytes(shard1)
    b(b.length - 10) = (b(b.length - 10) ^ 0x5a).toByte // inside the index tail
    Files.write(shard1, b)
    val df = spark.read.format(Fmt)
      .option("path", store.toString).option("partitions", "64").load()
    // shard 1 spans idx [32,47]: a crop below it plans WITHOUT touching
    // the corrupt tail, and reads correctly
    val cropped = df.where(col("idx") < 32)
    assert(cropped.rdd.getNumPartitions == 4) // shard 0's 4 inner tasks
    assert(cropped.count() == 32)
    // unfiltered planning must read shard 1's tail -> loud crc reject
    val e = intercept[Exception](df.count())
    assert(e.getMessage.contains("crc32c"), e.getMessage)
  }

  test("d0/d1 bbox prunes the chunk grid at plan time (non-leading dim included)") {
    // lwp shape (5,6), chunks (3,4) -> 2x2 chunk grid; d1 in [4,5] is a
    // NON-LEADING-dimension slice whose indexes interleave through every
    // row — a linear idx range can't prune it, the per-dim box test can
    val lwp = spark.read.format(Fmt)
      .option("path", V2Store).option("partitions", "64").load()
      .where(col("dataset") === "lwp")
    val xband = lwp.where(col("d1").between(4, 5))
    assert(xband.rdd.getNumPartitions == 2) // chunk col 1 only
    assert(xband.select("idx").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(4L, 5L, 10L, 11L, 16L, 17L, 22L, 23L, 28L, 29L))
    // 2-D bbox -> single chunk; values exact vs idx arithmetic
    val bbox = lwp.where(col("d0").between(3, 4) && col("d1").between(0, 3))
    assert(bbox.rdd.getNumPartitions == 1)
    val expect = lwp.select("idx", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .filter { case (i, _) => i / 6 >= 3 && i % 6 <= 3 }.sorted.toSeq
    assert(bbox.select("idx", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq == expect)
    // d-columns are the row-major coordinates
    lwp.select("idx", "d0", "d1", "d2", "d3").collect().foreach { r =>
      assert(r.getLong(1) == r.getLong(0) / 6 && r.getLong(2) == r.getLong(0) % 6)
      assert(r.getLong(3) == 0L && r.getLong(4) == 0L)
    }
  }

  test("d0 range prunes WHOLE SHARDS and their inner chunks by box") {
    // temp shape (6,8), shards (4,8), inner (2,4): d0 in [4,5] keeps
    // shard 1 only, and within it only the in-shape inner row (gi0=0) —
    // the out-of-shape rows-6..7 inners fail the clipped box test
    val df = spark.read.format(Fmt)
      .option("path", ShardStore).option("partitions", "64").load()
    val band = df.where(col("d0").between(4, 5))
    assert(band.rdd.getNumPartitions == 2)
    assert(band.count() == 16)
    // non-leading slice on the sharded array: d1 in [0,3] keeps inner
    // col 0 of both shards (in-shape rows) -> 2 real + 1 out-of-shape-
    // clipped tasks pruned; absent inner chunk still reads as fill
    val xband = df.where(col("d1").between(0, 3))
    assert(xband.rdd.getNumPartitions == 3)
    assert(xband.count() == 24)
    assert(xband.where(col("d0") >= 4).collect().map(_.getDouble(3)).toSeq
      .forall(_ == -1.0)) // the absent shard-1 col-0 inner = fill
  }

  test("SHARDED v3 arrays plan one task per INNER chunk") {
    val df = spark.read.format(Fmt)
      .option("path", ShardStore).option("partitions", "64").load()
    // temp: 2 shards x (2x2) inner grid, minus shard 1's two rows-6..7
    // inners whose boxes clip to EMPTY against the (6, 8) shape — the
    // plan-time box test drops no-op tasks even unfiltered
    assert(df.rdd.getNumPartitions == 6)
    val got = df.orderBy("idx").collect().map(_.getDouble(3)).toSeq
    val expect = for (r <- 0 until 6; c <- 0 until 8)
      yield if (r >= 4 && c < 4) -1.0 else r * 10.0 + c // absent inner chunk
    assert(got == expect)
    // matches the whole-array decode exactly
    assert(got == Zarr3.readArray(new java.io.File(ShardStore), "temp")._2.toSeq)
  }

  test("index-only projection never opens chunk files") {
    val tmp = Files.createTempDirectory("zarr-dsv2-corrupt")
    val store = copyStore(V2Store, tmp, "s.zarr")
    // corrupt every lwp chunk payload (zlib streams -> loud decode fail)
    Option(store.resolve("lwp").toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName != ".zarray").foreach { f =>
        val b = Files.readAllBytes(f.toPath)
        b(b.length / 2) = (b(b.length / 2) ^ 0x5a).toByte
        Files.write(f.toPath, b)
      }
    val df = spark.read.format(Fmt).option("path", store.toString).load()
      .where(col("dataset") === "lwp")
    // value projection must fail loudly (corrupt zlib)
    intercept[org.apache.spark.SparkException](df.select("value").collect())
    // idx/dataset projection succeeds: chunk files are never opened
    val idx = df.select("idx").collect().map(_.getLong(0)).sorted.toSeq
    assert(idx == (0L until 30L))
  }

  test("a directory of MIXED v2 + sharded-v3 stores discovers both and " +
      "plans each at its own granularity") {
    val tmp = Files.createTempDirectory("zarr-dsv2-mixed")
    copyStore(V2Store, tmp, "v2.zarr")
    copyStore(ShardStore, tmp, "v3.zarr")
    val all = spark.read.format(Fmt)
      .option("path", tmp.toString).option("partitions", "64").load()
    // v2: 7 whole-chunk tasks; sharded v3: 6 in-shape inner-chunk tasks
    assert(all.rdd.getNumPartitions == 13)
    assert(all.select("dataset").distinct().count() == 4) // cnt/lwp/wind/temp
    val temp = all.where(col("dataset") === "temp")
    assert(temp.rdd.getNumPartitions == 6)
    assert(temp.count() == 48)
  }

  test("NESTED hierarchies (two levels, mixed v2/v3 nodes) mount with " +
      "group-path dataset names and plan-time pruning intact") {
    val store = "src/test/resources/fixtures/golden_nested.zarr"
    val df = spark.read.format(Fmt)
      .option("path", store).option("partitions", "64").load()
    assert(df.select("dataset").distinct().collect().map(_.getString(0))
      .sorted.toSeq == Seq("model/deep/t2m", "model/lwp", "xc"))
    // group-path dataset filter still prunes at PLAN time: lwp has 2
    // chunks, t2m 2, xc 1 -> 5 tasks total
    assert(df.rdd.getNumPartitions == 5)
    val lwp = df.where(col("dataset") === "model/lwp")
    assert(lwp.rdd.getNumPartitions == 2)
    assert(lwp.orderBy("idx").collect().map(_.getDouble(3)).toSeq ==
      Seq(0.0, 1.0, 2.0, 10.0, 11.0, 12.0))
    // the v3 leaf under a v2 hierarchy decodes through its own pipeline
    val t2m = df.where(col("dataset") === "model/deep/t2m").orderBy("idx")
    assert(t2m.collect().map(_.getDouble(3)).toSeq ==
      Seq(271.5, 272.25, 273.0, 274.75))
    assert(df.where(col("dataset") === "xc").count() == 3)
    // the whole-array reader resolves group-path names too
    assert(Zarr.readArray(new java.io.File(store), "model/lwp")._2.length == 6)
  }

  test("a directory of stores discovers all of them; path filter prunes") {
    val tmp = Files.createTempDirectory("zarr-dsv2-multi")
    val s1 = copyStore(V2Store, tmp, "a.zarr")
    copyStore(V2Store, tmp, "b.zarr")
    val all = spark.read.format(Fmt)
      .option("path", tmp.toString).option("partitions", "64").load()
    assert(all.select("path").distinct().count() == 2)
    assert(all.rdd.getNumPartitions == 14)
    val one = all.where(col("path") === s1.toString)
    assert(one.rdd.getNumPartitions == 7)
    assert(one.where(col("dataset") === "wind").count() == 3)
    // a dataset filter narrows discovery like the library path
    val ds = spark.read.format(Fmt).option("path", tmp.toString).load()
      .where(col("dataset") === "wind")
    assert(ds.select("dataset").distinct().collect().map(_.getString(0)).toSeq
      == Seq("wind"))
    assert(ds.count() == 6)
  }

  test("a manifest-planned catalog open plans a COLUMNAR zarr scan under ColumnarToRow") {
    // the mount reads one batch per chunk; a scan that quietly fell
    // back to rows would plan without the ColumnarToRow transition
    val dir = Files.createTempDirectory("zarr-dsv2-columnar-plan").toString
    val px = spark.range(2 * 6 * 4).select(
      concat(lit("s"), expr("id div 24")).as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr("id % 4") * 10.0).as("x"),
      (expr("(id % 24) div 4") * 10.0).as("y"),
      (col("id") * 0.5).as("value"))
    ZarrSink.writeScenes(px, dir, "lwp", chunkRows = Some(4)).count()
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    val df = GridOpen.catalogFromManifest(spark, manifest, "lwp",
      bounds = Map("x" -> (0.0, 20.0)))
    assert(df.collect().length == 2 * 6 * 3)
    val plan = df.queryExecution.executedPlan
    val scans = collect(plan) {
      case b: BatchScanExec if b.scan.isInstanceOf[GridScan] => b
    }
    assert(scans.nonEmpty, plan.toString)
    assert(scans.forall(_.supportsColumnar), plan.toString)
    // the transition's child, seen through codegen's InputAdapter
    val c2rInputs = collect(plan) { case c: ColumnarToRowExec => c.child match {
      case i: InputAdapter => i.child
      case other => other
    } }
    assert(scans.forall(s => c2rInputs.contains(s)), plan.toString)
  }
}
