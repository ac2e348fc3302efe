package graft.sources

import graft.SparkSpec

/** Chunk-parallel zarr reads through the grid scan: equality with the
  * whole-array readers on v2 and v3 stores (incl. the foreign fixtures
  * with a missing chunk), fan-out geometry. */
class ZarrChunkIngestSpec extends SparkSpec {

  private def fixture(name: String): java.io.File = {
    val f = new java.io.File(s"src/test/resources/fixtures/$name")
    require(f.isDirectory, s"fixture $name missing — run tools/make_fixtures.py")
    f
  }

  private def chunked(store: String, name: String): Map[Long, Double] =
    GridFormat.Zarr.reader(spark).option("path", store).load()
      .where(org.apache.spark.sql.functions.col("dataset") === name)
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap

  test("v2 foreign store: chunked == whole-array") {
    val store = fixture("golden.zarr")
    val (_, want) = Zarr.readArray(store, "lwp")
    assert(chunked(store.getAbsolutePath, "lwp") ==
      want.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap)
  }

  test("v3 foreign store: chunked == whole-array incl. the missing " +
    "chunk's fill and the BE/dotted/uint arrays") {
    val store = fixture("golden_v3.zarr")
    for (name <- Seq("lwp", "counts", "xc")) {
      val (_, want) = Zarr3.readArray(store, name)
      assert(chunked(store.getAbsolutePath, name) ==
        want.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap, name)
    }
  }

  test("sharded + blosc foreign stores ride the chunk-parallel path too") {
    // a sharded array's tasks are its inner chunks, and blosc chunks
    // decode like any other compressor
    val sharded = fixture("golden_sharded_v3.zarr")
    val (_, wantS) = Zarr3.readArray(sharded, "temp")
    assert(chunked(sharded.getAbsolutePath, "temp") ==
      wantS.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap)
    val blosc = fixture("golden_blosc.zarr")
    for (name <- Seq("sst", "big", "mask", "noise")) {
      val (_, want) = Zarr.readArray(blosc, name)
      assert(chunked(blosc.getAbsolutePath, name) ==
        want.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap, name)
    }
  }

  test("shard-INNER-parallel read: one task per inner chunk, positioned " +
      "byte windows, absent sentinel -> fill") {
    val sharded = fixture("golden_sharded_v3.zarr")
    val tasks = ZarrChunkIngest.shardInnerTasks(sharded.getAbsolutePath, "temp",
      ZarrChunkIngest.v3Meta(sharded.getAbsolutePath, "temp"))
    assert(tasks.size == 8) // 2 shards x (2x2) inner grid
    assert(tasks.count(_.length == -1L) == 1) // the absent inner chunk
    assert(tasks.filter(_.length >= 0).forall(_.offset >= 0))
    val got = chunked(sharded.getAbsolutePath, "temp")
    val (_, want) = Zarr3.readArray(sharded, "temp")
    assert(got == want.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap)
    // non-sharded arrays reject loudly on this path
    val e = intercept[IllegalArgumentException] {
      val v3 = fixture("golden_v3.zarr").getAbsolutePath
      ZarrChunkIngest.shardInnerTasks(v3, "lwp", ZarrChunkIngest.v3Meta(v3, "lwp"))
    }
    assert(e.getMessage.contains("not sharded"))
  }

  test("a big Scala-written store fans out one task per chunk") {
    val s = spark
    import s.implicits._
    val (ny, nx) = (40, 8)
    val px = (for (j <- 0 until ny; i <- 0 until nx)
      yield ("big", new java.sql.Timestamp(0L), i * 1.0, j * 1.0,
        (j * nx + i) * 0.5)).toDF("scene_id", "time", "x", "y", "value")
    val dir = java.nio.file.Files.createTempDirectory("zarr-ci").toString
    Zarr3.writeScenes(px, dir, "lwp", chunkRows = Some(4), gzipLevel = Some(6)).count()
    val store = s"$dir/big.zarr"
    assert(ZarrChunkIngest.chunkTasks(store, "lwp",
      ZarrChunkIngest.metaOf(store, "lwp")).size == 10) // 40/4 bands
    val got = chunked(store, "lwp")
    val (_, want) = Zarr3.readArray(new java.io.File(store), "lwp")
    assert(got == want.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap)
  }
}
