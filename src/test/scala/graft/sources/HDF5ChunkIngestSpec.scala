package graft.sources

import graft.SparkSpec

/** Chunk-parallel HDF5 reads through the grid scan: the manifest-planned
  * mount must agree bit-for-bit with whole-file [[HDF5.read]] across
  * every writer generation / chunk index / filter combination, and the
  * planning manifest must touch only metadata pages. */
class HDF5ChunkIngestSpec extends SparkSpec {

  private def tmpFile(name: String, bytes: Array[Byte]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-h5ci")
    val p = dir.resolve(name)
    java.nio.file.Files.write(p, bytes)
    p.toString
  }

  private def wholeFileRows(bytes: Array[Byte]): Map[(String, Long), Double] =
    HDF5.read(bytes).flatMap { ds =>
      ds.data.zipWithIndex.map { case (v, i) => ((ds.name, i.toLong), v) }
    }.toMap

  private def chunkParallelRows(path: String): Map[(String, Long), Double] = {
    import spark.implicits._
    GridFormat.Hdf5.reader(spark).option("path", path).load()
      .select("dataset", "idx", "value").as[(String, Long, Double)]
      .collect().map { case (d, i, v) => ((d, i), v) }.toMap
  }

  private val specs3d = Seq(HDF5.DsSpec("lwp", Seq(5, 6, 8),
    Array.tabulate(5 * 6 * 8)(_ * 0.125 - 3.0), chunkDims = Some(Seq(2, 3, 4))))

  private val generations: Seq[(String, Array[Byte])] = Seq(
    "v0_btree1_plain" -> HDF5.write(specs3d),
    "v0_btree1_deflate" -> HDF5.write(specs3d, deflate = true),
    "latest_v3" -> HDF5.writeLatest(specs3d, deflate = true, shuffle = true),
    "dense_root" -> HDF5.writeDense(specs3d, deflate = true),
    "v4_fixed_array" -> HDF5.writeLatestV4(specs3d, deflate = true,
      shuffle = true, fixedArrayAlways = true),
    "v4_implicit" -> HDF5.writeLatestV4(specs3d, fixedArrayAlways = false),
    "v4_ea_unlimited" -> HDF5.writeUnlimited(specs3d, deflate = true, shuffle = true),
    "v4_ea_paged" -> HDF5.writeUnlimited(
      Seq(HDF5.DsSpec("series", Seq(72), Array.tabulate(72)(_ * 0.125 - 4.5),
        chunkDims = Some(Seq(2)))),
      deflate = true, shuffle = true,
      ea = HDF5.EaParams(maxBits = 16, iblkElmts = 4, minPtrs = 2,
        minElmts = 2, pageBits = 2)),
    "v4_btree2" -> HDF5.writeBtree2(
      Seq(HDF5.DsSpec("z", Seq(10, 14),
        Array.tabulate(140)(i => (i * 7 % 200 - 100) * 0.125),
        chunkDims = Some(Seq(2, 2)))),
      deflate = true, shuffle = true, nodeSize = 256),
    "contiguous" -> HDF5.write(Seq(HDF5.DsSpec("flat", Seq(4, 5),
      Array.tabulate(20)(_ * 1.5)))),
    "compact" -> HDF5.write(Seq(HDF5.DsSpec("tiny", Seq(3),
      Array(1.0, 2.0, 3.0), compact = true))))

  test("chunk-parallel read equals whole-file decode for every generation") {
    generations.foreach { case (label, bytes) =>
      val path = tmpFile(s"$label.h5", bytes)
      val expect = wholeFileRows(bytes)
      val got = chunkParallelRows(path)
      assert(got == expect, s"generation $label diverged")
    }
  }

  test("manifest matches whole-file decode through a PagedFileInput") {
    generations.foreach { case (label, bytes) =>
      val path = tmpFile(s"$label.h5", bytes)
      val in = new PagedFileInput(path, pageSizeHint = 1 << 12)
      try {
        val viaPaged = HDF5.read(in).map(ds => ds.name -> ds.data.toSeq).toMap
        val viaArray = HDF5.read(bytes).map(ds => ds.name -> ds.data.toSeq).toMap
        assert(viaPaged == viaArray, s"generation $label diverged under paging")
      } finally in.close()
    }
  }

  test("phase-1 manifest touches metadata pages only, not chunk payloads") {
    // 512x512 doubles (2 MiB payload) in 16x16 chunks -> 1024 chunks.
    // With 4 KiB pages, a payload-blind manifest parse must stay under
    // a small multiple of the metadata size; reading the payload would
    // cost ~2 MiB. Allow 25% as the generous ceiling (the chunk B-tree
    // itself is ~50 KiB of genuine metadata here).
    val big = HDF5.writeLatestV4(Seq(HDF5.DsSpec("raster", Seq(512, 512),
      Array.tabulate(512 * 512)(_ * 0.001), chunkDims = Some(Seq(16, 16)))),
      fixedArrayAlways = true)
    val path = tmpFile("big.h5", big)
    val in = new PagedFileInput(path, pageSizeHint = 1 << 12)
    try {
      val m = HDF5.manifest(in)
      assert(m.map(_._2.size).sum == 1024, "expected 1024 chunk refs")
      val frac = in.bytesTouched.toDouble / big.length
      assert(frac < 0.25,
        s"manifest touched ${in.bytesTouched} of ${big.length} bytes ($frac)")
    } finally in.close()
  }

  test("decode fans out across partitions proportional to the chunk count") {
    val bytes = HDF5.writeUnlimited(Seq(HDF5.DsSpec("lwp", Seq(24, 12, 16),
      Array.tabulate(24 * 12 * 16)(_ * 0.0625 - 100.0), chunkDims = Some(Seq(2, 3, 4)))),
      deflate = true, shuffle = true)
    val path = tmpFile("fanout.h5", bytes)
    val tasks = HDF5ChunkIngest.chunkTasks(Seq(path), (_, d) => d == "lwp")
    assert(tasks.size == 12 * 4 * 4, s"expected 192 chunk tasks, got ${tasks.size}")
    val df = GridFormat.Hdf5.reader(spark).option("path", path).load()
      .where(org.apache.spark.sql.functions.col("dataset") === "lwp")
    assert(df.rdd.getNumPartitions == spark.sparkContext.defaultParallelism,
      s"expected fan-out to default parallelism, got ${df.rdd.getNumPartitions}")
    // every partition decodes its own run of the 192 chunks
    val perPart = df.rdd.mapPartitions(it => Iterator(it.size)).collect()
    assert(perPart.forall(_ > 0), s"idle partition in ${perPart.toSeq}")
    assert(df.count() == 24 * 12 * 16)
  }

  test("manifest carries stored (filtered) chunk sizes, not raw sizes") {
    val bytes = HDF5.writeLatest(specs3d, deflate = true)
    val path = tmpFile("filtered.h5", bytes)
    val in = new PagedFileInput(path)
    try {
      val (v, refs) = HDF5.manifest(in).find(_._1.name == "lwp").get
      assert(v.filters.map(_.id) == Seq(1))
      // deflated chunks are not all the raw 2*3*4*8 = 192 bytes
      assert(refs.exists(_.nbytes != 192L), "stored sizes look unfiltered")
      // every stored range must lie inside the file
      refs.foreach(r => assert(r.offset >= 0 && r.offset + r.nbytes <= bytes.length))
    } finally in.close()
  }
}
