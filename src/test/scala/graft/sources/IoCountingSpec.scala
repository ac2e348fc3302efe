package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Executed-path I/O asserts through the counting ByteStore: the
  * object-store request-count claims (coalesced spans = one read,
  * pruned shards = zero opens) verified on ACTUAL reads, not plan
  * arithmetic. Local mode runs executors in this JVM, so the recorder
  * sees executor-side positioned reads too; any future reader that
  * bypasses the coalesced windows or touches a pruned shard's tail
  * fails these counts. */
class IoCountingSpec extends SparkSpec {

  private val ShardStore = "src/test/resources/fixtures/golden_sharded_v3.zarr"

  private def recording[T](f: => T): (T, ByteStore.IoRecorder) = {
    val r = ByteStore.startRecording()
    try (f, r) finally ByteStore.stopRecording()
  }

  test("a bbox-pruned shard is NEVER read — not even its index tail") {
    // temp (6,8), shards (4,8): d0 <= 3 needs shard 0 only. The
    // corrupt-tail test proves this indirectly; this is the direct
    // claim: zero opens, zero reads, zero bytes on shard 1.
    val shard0 = new java.io.File(s"$ShardStore/temp/c/0/0").getAbsolutePath
    val shard1 = new java.io.File(s"$ShardStore/temp/c/1/0").getAbsolutePath
    val (rows, r) = recording {
      spark.read.format("graft.sources.ZarrDataSource")
        .option("path", ShardStore).load()
        .where(col("d0") <= 3).select("idx", "value").collect()
    }
    assert(rows.length == 32)
    assert(r.opens(shard1) == 0 && r.reads(shard1) == 0 && r.bytes(shard1) == 0,
      s"pruned shard was touched: opens=${r.opens(shard1)} reads=${r.reads(shard1)}")
    assert(r.opens(shard0) > 0 && r.reads(shard0) > 0)
  }

  test("the zarr scan's chunksDecoded/bytesRead metrics equal the recorded chunk reads") {
    // v2 store: planning reads only .zarray metadata, so every recorded
    // read on a chunk file is the scan's own; the cnt array's absent
    // chunk reads as fill and is neither read nor decoded
    val store = "src/test/resources/fixtures/golden.zarr"
    val chunkFiles = new java.io.File(store).listFiles().filter(_.isDirectory)
      .flatMap(_.listFiles()).filterNot(_.getName.startsWith("."))
      .map(_.getAbsolutePath).toSeq
    def scanMetrics(df: DataFrame): (Long, Long) = {
      val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
        .getOrElse(fail(s"no BatchScanExec in ${df.queryExecution.executedPlan}"))
      (scan.metrics("chunksDecoded").value, scan.metrics("bytesRead").value)
    }
    def mount = spark.read.format("graft.sources.ZarrDataSource")
      .option("path", store).load()
    val values = mount.select("idx", "value")
    val (rows, r) = recording(values.collect())
    assert(rows.length == 30 + 7 + 3)
    val (chunks, bytes) = scanMetrics(values)
    assert(chunks == chunkFiles.size && chunkFiles.forall(r.reads(_) == 1),
      s"chunksDecoded $chunks vs ${chunkFiles.map(r.reads)}")
    assert(bytes > 0 && bytes == chunkFiles.map(r.bytes).sum)
    // index-only: the grid is walked, no chunk is read or decoded
    val idx = mount.select("idx")
    assert(idx.collect().length == rows.length)
    assert(scanMetrics(idx) == ((0L, 0L)))
  }

  test("back-to-back shard-inner chunks collapse to ONE span read per shard") {
    // one scene, one shard, 32 single-row inner chunks written
    // back-to-back: an uncoalesced reader would issue >= 32 positioned
    // reads on the shard; the span coalescer issues ONE for the data
    // (plus the planning tail read)
    val dir = Files.createTempDirectory("graft-iocount-z3").toString
    val (ny, nx) = (32, 4)
    val grid = spark.range(ny.toLong * nx).select(
      lit("s0").as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr(s"id % $nx") * 10.0).as("x"),
      (expr(s"id div $nx") * 10.0).as("y"),
      (col("id") * 0.5 - 7.0).as("value"))
    Zarr3.writeScenes(grid, dir, "lwp", chunkRows = Some(ny),
      gzipLevel = Some(6), shardInnerRows = Some(1)).count()
    val store = new java.io.File(s"$dir/s0.zarr").getAbsolutePath
    assert(ZarrChunkIngest.shardInnerTasks(store, "lwp",
      ZarrChunkIngest.v3Meta(store, "lwp")).size == ny)
    val shardFile = Option(new java.io.File(s"$store/lwp/c").listFiles())
      .getOrElse(Array.empty).flatMap(d => Option(d.listFiles()).getOrElse(Array.empty))
      .head.getAbsolutePath
    val (sum, r) = recording {
      spark.read.format("graft.sources.ZarrDataSource")
        .option("path", store).option("partitions", "1").load()
        .where(col("dataset") === "lwp")
        .agg(org.apache.spark.sql.functions.sum("value")).head.getDouble(0)
    }
    assert(math.abs(sum - (0 until ny * nx).map(_ * 0.5 - 7.0).sum) < 1e-9)
    // planning: exists + index-tail read; execution: one coalesced span.
    // 32 un-coalesced inner reads would blow straight through this.
    assert(r.reads(shardFile) <= 4,
      s"expected ~2 reads (tail + one span) on the shard, got ${r.reads(shardFile)}")
    assert(r.opens(shardFile) <= 3)
  }

  test("a dominant netCDF-3 record variable reads as ONE span; a minority variable stays per-record") {
    // sst owns 240 of the 248-byte record stride -> the usefulness
    // guard (>= 1/2) takes the span path: 40 records = ONE ranged read
    // per task. tiny (8 of 248) would span-read 97% junk, so it keeps
    // per-record reads. Executed counts, not plan arithmetic.
    val dir = Files.createTempDirectory("graft-iocount-nc3").toString
    val (nrec, ny, nx) = (40, 6, 5)
    val bytes = NetCDF3.write(
      dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("y", ny), NetCDF3.Dim("x", nx)),
      gattrs = Nil,
      vars = Seq(
        NetCDF3.VarSpec("sst", Seq("time", "y", "x"), NetCDF3.NcDouble, Nil,
          Array.tabulate(nrec * ny * nx)(_ * 0.5)),
        NetCDF3.VarSpec("tiny", Seq("time"), NetCDF3.NcDouble, Nil,
          Array.tabulate(nrec)(_ * 7.0))),
      numRecs = nrec)
    val f = new java.io.File(dir, "c.nc")
    java.nio.file.Files.write(f.toPath, bytes)
    val p = f.getAbsolutePath
    def readSum(ds: String): (Double, ByteStore.IoRecorder) = recording {
      spark.read.format("graft.sources.NetCDF3DataSource")
        .option("path", p).option("partitions", "1").load()
        .where(col("dataset") === ds)
        .agg(org.apache.spark.sql.functions.sum("value")).head.getDouble(0)
    }
    val (sstSum, rs) = readSum("sst")
    assert(math.abs(sstSum - (0 until nrec * ny * nx).map(_ * 0.5).sum) < 1e-6)
    // a few planning header parses (Spark re-plans the scan across
    // phases) + ONE span read; un-guarded per-record = 40+ reads
    // blows through this
    assert(rs.reads(p) <= 8, s"expected header reads + one span, got ${rs.reads(p)}")
    val (tinySum, rt) = readSum("tiny")
    assert(math.abs(tinySum - (0 until nrec).map(_ * 7.0).sum) < 1e-9)
    assert(rt.reads(p) >= nrec,
      s"minority variable must keep per-record reads (junk-bounded), got ${rt.reads(p)}")
  }

  test("a catalog record crop narrows the read window through the tree hull") {
    // the per-store disjunction (path = f AND d0 BETWEEN lo hi) OR ...
    // must narrow each surviving file's RECORD window, not just prune
    // whole batches: a 4-of-64-record crop reads ~4 records' bytes,
    // never the batch's 64-record span (colHull through the tree).
    val dir = Files.createTempDirectory("graft-iocount-cat").toString
    val (nrec, nx) = (64, 1024) // 512 KB of data per file
    def nc(name: String, day: Int): String = {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.write(f.toPath, NetCDF3.write(
        dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", nx)),
        gattrs = Nil,
        vars = Seq(
          NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
            Seq(NetCDF3.Attr("units", NetCDF3.NcChar,
              s"hours since 2022-05-0$day")), Array.tabulate(nrec)(_.toDouble)),
          NetCDF3.VarSpec("v", Seq("time", "x"), NetCDF3.NcDouble, Nil,
            Array.tabulate(nrec * nx)(_.toDouble))),
        numRecs = nrec))
      f.getAbsolutePath
    }
    // TWO survivors with disjoint epochs, so the pushed filter is the
    // genuine Or TREE — (path = a AND d0 48-51) OR (path = b AND
    // d0 0-3) — and each file's window comes from ITS branch's hull
    val pa = nc("a.nc", 1) // hours 0-63 since 05-01
    val pb = nc("b.nc", 3) // hours 0-63 since 05-03
    val fileLen = new java.io.File(pa).length()
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "netcdf3", s"$dir/*.nc", Seq("v"), manifest)
    val (got, rec) = recording {
      GridOpen.catalogFromManifest(spark, manifest, "v",
          timeBounds = Map("time" ->
            ("2022-05-03 00:00:00", "2022-05-03 03:00:00")))
        .agg(sum(col("value"))).head.getDouble(0)
    }
    // a keeps records 48-51 (hours 48-51 of day 1 = day 3's 0-3h),
    // b keeps records 0-3
    def sumTo(n: Long): Double = n.toDouble * (n - 1) / 2.0
    val want = (sumTo(52L * nx) - sumTo(48L * nx)) + sumTo(4L * nx)
    assert(got == want, s"got $got, want $want")
    // each surviving file: header + time coords + ~4 records of v — a
    // 64-record span (the pre-narrowing behavior) would read ~8x this
    for (p0 <- Seq(pa, pb))
      assert(rec.bytes(p0) < fileLen / 4,
        s"read ${rec.bytes(p0)} of $fileLen bytes for a 4/64-record crop of $p0")
  }

  test("a netCDF-3 plan reads each file's header once, whatever its variable count") {
    // three variables (a record coordinate, a record grid, a fixed
    // axis): one header prefix read plans all of them, not 1 + 3
    val dir = Files.createTempDirectory("graft-iocount-nc3-header").toString
    val (nrec, nx) = (8, 5)
    val p = new java.io.File(dir, "h.nc").getAbsolutePath
    ByteStore.writeAllBytes(p, NetCDF3.write(
      dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", nx)), gattrs = Nil,
      vars = Seq(
        NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble, Nil,
          Array.tabulate(nrec)(_ * 6.0)),
        NetCDF3.VarSpec("sst", Seq("time", "x"), NetCDF3.NcDouble, Nil,
          Array.tabulate(nrec * nx)(_ * 0.5)),
        NetCDF3.VarSpec("x", Seq("x"), NetCDF3.NcDouble, Nil,
          Array.tabulate(nx)(_ * 10.0))),
      numRecs = nrec))
    val (tasks, r) = recording(NetCDF3ChunkIngest.plan(p, Map.empty,
      new GridScan.Prune(Array.empty, None)))
    assert(tasks.flatten.collect { case t: NetCDF3ChunkIngest.RecordTask => t.dataset }
      .distinct.sorted == Seq("sst", "time", "x"))
    assert((r.opens(p), r.reads(p)) == ((1L, 1L)),
      s"planning opened $p ${r.opens(p)} times and read it ${r.reads(p)} times")
    val rows = GridFormat.NetCDF3.reader(spark).option("path", p).load()
      .select("dataset", "idx", "value").collect()
    assert(rows.length == nrec + nrec * nx + nx)
  }

  test("an HDF5 plan walks only the wanted datasets' chunk indexes") {
    // two datasets of 128 chunks each: every chunk index is a ~5 KiB
    // B-tree node after its object header, so at 4 KiB pages a manifest
    // that skips b's index reads fewer pages (the group walk still reads
    // b's object header to classify it)
    val dir = Files.createTempDirectory("graft-iocount-h5-filter").toString
    val p = new java.io.File(dir, "two.h5").getAbsolutePath
    ByteStore.writeAllBytes(p, HDF5.write(Seq(
      HDF5.DsSpec("a", Seq(128, 16), Array.tabulate(128 * 16)(_ * 0.5),
        chunkDims = Some(Seq(1, 16))),
      HDF5.DsSpec("b", Seq(128, 16), Array.tabulate(128 * 16)(_ * -0.25),
        chunkDims = Some(Seq(1, 16))))))
    def manifest(wanted: String => Boolean) = recording {
      val in = new PagedFileInput(p, pageSizeHint = 4096)
      try HDF5.manifest(in, wanted) finally in.close()
    }
    val (all, ra) = manifest(_ => true)
    val (onlyA, rf) = manifest(_ == "a")
    assert(all.map(_._1.name) == Seq("a", "b") && onlyA == all.take(1))
    assert(rf.bytes(p) < ra.bytes(p),
      s"the manifest of `a` read ${rf.bytes(p)} metadata bytes, of both ${ra.bytes(p)}")
    // the mount's plan takes the pushed dataset filter the same way
    def plan(pushed: Array[org.apache.spark.sql.sources.Filter]) =
      HDF5ChunkIngest.plan(p, Map.empty, new GridScan.Prune(pushed, None)).flatten
    assert(plan(Array(org.apache.spark.sql.sources.EqualTo("dataset", "a"))) ==
      plan(Array.empty).filter {
        case t: HDF5ChunkIngest.ChunkTask => t.dataset == "a"
        case _ => false
      })
    def mount = GridFormat.Hdf5.reader(spark).option("path", p).load()
    val filtered = mount.where(col("dataset") === "a").select("idx", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val unfiltered = mount.select("dataset", "idx", "value").collect()
      .filter(_.getString(0) == "a").map(r => (r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(filtered.size == 128 * 16 && filtered == unfiltered)
  }

  test("colHull: interval algebra over filter trees is sound per identity") {
    import org.apache.spark.sql.sources._
    import MountDsv2.{colHull, FullRange, IdxRange}
    val or = Or(
      And(EqualTo("path", "/a"), And(GreaterThanOrEqual("d0", 48L),
        LessThanOrEqual("d0", 51L))),
      And(EqualTo("path", "/b"), And(GreaterThanOrEqual("d0", 0L),
        LessThanOrEqual("d0", 3L))))
    // each identity gets exactly ITS branch's range
    assert(colHull(or, "d0", "/a", "v").contains(IdxRange(48, 51)))
    assert(colHull(or, "d0", "/b", "v").contains(IdxRange(0, 3)))
    // an identity in NO branch is unsatisfiable
    assert(colHull(or, "d0", "/c", "v").isEmpty)
    // a branch with no d0 constraint makes the hull FULL for its store
    val mixed = Or(EqualTo("path", "/a"),
      And(EqualTo("path", "/b"), EqualTo("d0", 7L)))
    assert(colHull(mixed, "d0", "/a", "v").contains(FullRange))
    assert(colHull(mixed, "d0", "/b", "v").contains(IdxRange(7, 7)))
    // And-unsatisfiable intersects to None; other columns don't constrain
    assert(colHull(And(EqualTo("d0", 1L), EqualTo("d0", 5L)),
      "d0", "/a", "v").isEmpty)
    assert(colHull(EqualTo("d1", 9L), "d0", "/a", "v").contains(FullRange))
    // unknown shapes (Not) stay conservative-FULL
    assert(colHull(Not(EqualTo("d0", 2L)), "d0", "/a", "v").contains(FullRange))
  }

  test("byte-adjacent HDF5 chunks collapse to one span read per run") {
    // (32, 4) in (2, 4) chunks = 16 deflate chunks written back-to-back:
    // execution must read them as ONE coalesced span (16 per-chunk reads
    // fail the bound); planning's paged metadata walk adds only its
    // page-cache misses (the file is smaller than one 64 KiB page)
    val dir = Files.createTempDirectory("graft-iocount-h5").toString
    val bytes = HDF5.write(Seq(
      HDF5.DsSpec("v", Seq(32, 4), Array.tabulate(128)(_ * 0.25 - 3.0),
        chunkDims = Some(Seq(2, 4)))), deflate = true)
    val f = new java.io.File(dir, "b.h5")
    java.nio.file.Files.write(f.toPath, bytes)
    val (got, r) = recording {
      spark.read.format("graft.sources.Hdf5DataSource")
        .option("path", f.getAbsolutePath).option("partitions", "1").load()
        .select("idx", "value").collect()
    }
    assert(got.length == 128)
    assert(r.reads(f.getAbsolutePath) <= 6,
      s"expected ~2-3 reads (metadata pages + one span), got ${r.reads(f.getAbsolutePath)}")
    assert(r.opens(f.getAbsolutePath) <= 3)
  }

  // ---- the grid scan, format by format ------------------------------------

  /** One store per format whose scan decodes a known number of chunks:
    * (mount path, extra mount options, chunks decoded). A format with
    * no case here fails the spec, so a new format cannot ship without
    * a columnar reader that reports its metrics. */
  private def metricsStore(f: GridFormat): (String, Map[String, String], Long) = {
    val dir = Files.createTempDirectory(s"graft-iocount-metrics-${f.name}").toString
    f match {
      case GridFormat.Zarr =>
        // 3 scenes' (6, 4) lwp grids in 2-row bands, zlib: 3 chunk files
        // per scene plus the y (3 bands) and x (one chunk) coordinates
        val px = spark.range(3 * 24).select(
          concat(lit("s"), expr("id div 24")).as("scene_id"),
          expr("timestamp_seconds(1577836800)").as("time"),
          (expr("id % 4") * 10.0).as("x"), (expr("(id % 24) div 4") * 10.0).as("y"),
          (col("id") * 0.5).as("value"))
        ZarrSink.writeScenes(px, dir, "lwp", chunkRows = Some(2), zlibLevel = Some(6)).count()
        (dir, Map.empty, 3L * (3 + 3 + 1))
      case GridFormat.Hdf5 =>
        // (32, 4) in (2, 4) deflate chunks plus a contiguous (5) dataset
        val p = s"$dir/m.h5"
        ByteStore.writeAllBytes(p, HDF5.write(Seq(
          HDF5.DsSpec("v", Seq(32, 4), Array.tabulate(128)(_ * 0.25 - 3.0),
            chunkDims = Some(Seq(2, 4))),
          HDF5.DsSpec("c", Seq(5), Array.tabulate(5)(_ * 2.0))), deflate = true))
        (p, Map.empty, 16L + 1)
      case GridFormat.NetCDF3 =>
        // 40 records of sst in 10-record batches (span reads), tiny's 40
        // records in one batch (per-record reads), the fixed yc slab
        val (nrec, ny, nx) = (40, 6, 5)
        val p = s"$dir/m.nc"
        ByteStore.writeAllBytes(p, NetCDF3.write(
          dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("y", ny), NetCDF3.Dim("x", nx)),
          gattrs = Nil,
          vars = Seq(
            NetCDF3.VarSpec("yc", Seq("y"), NetCDF3.NcFloat, Nil,
              Array.tabulate(ny)(_ * 1.5)),
            NetCDF3.VarSpec("sst", Seq("time", "y", "x"), NetCDF3.NcDouble, Nil,
              Array.tabulate(nrec * ny * nx)(_ * 0.5)),
            NetCDF3.VarSpec("tiny", Seq("time"), NetCDF3.NcShort, Nil,
              Array.tabulate(nrec)(_ * 7.0))),
          numRecs = nrec))
        (p, Map("targetBytes" -> (10 * ny * nx * 8).toString), 4L + 1 + 1)
    }
  }

  private def scanMetrics(df: DataFrame): (Long, Long) = {
    val scan = df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(s"no BatchScanExec in ${df.queryExecution.executedPlan}"))
    assert(scan.scan.isInstanceOf[GridScan] && scan.supportsColumnar,
      s"not a columnar grid scan: $scan")
    (scan.metrics("chunksDecoded").value, scan.metrics("bytesRead").value)
  }

  test("every grid format plans a columnar scan whose metrics equal the recorded chunk reads") {
    assert(GridFormat.all.size == 3)
    GridFormat.all.foreach { f =>
      val (path, opts, chunks) = metricsStore(f)
      def mount = f.reader(spark).option("path", path).option("partitions", "2")
        .options(opts).load()
      def totalBytes(r: ByteStore.IoRecorder): Long = r.pathsTouched.toSeq.map(r.bytes).sum
      val values = mount.select("idx", "value")
      val (rows, rv) = recording(values.collect())
      // index-only: the same plan and planning I/O, no chunk read or decoded
      val idx = mount.select("idx")
      val (idxRows, ri) = recording(idx.collect())
      assert(rows.length == idxRows.length && rows.nonEmpty, f.name)
      assert(scanMetrics(idx) == ((0L, 0L)), s"${f.name}: index-only read decoded chunks")
      val (decoded, bytes) = scanMetrics(values)
      assert(decoded == chunks, s"${f.name}: chunksDecoded $decoded, want $chunks")
      // what the value read adds over the index-only read is the chunk reads
      assert(bytes > 0 && bytes == totalBytes(rv) - totalBytes(ri),
        s"${f.name}: bytesRead $bytes vs recorded ${totalBytes(rv) - totalBytes(ri)}")
    }
  }

  /** One store per format holding `a` on a (time = 4, x = 3) grid with
    * time and x coordinate variables. */
  private def axesStore(f: GridFormat, dir: String): String = {
    val (times, xs) = (Array(0.0, 6.0, 12.0, 18.0), Array(0.0, 10.0, 20.0))
    val a = Array.tabulate(12)(_ * 1.5)
    val units = "hours since 2021-03-01"
    f match {
      case GridFormat.Zarr =>
        val store = s"$dir/s.zarr"
        ByteStore.writeString(s"$store/.zgroup", """{"zarr_format": 2}""")
        def arr(name: String, shape: Seq[Int], dims: Seq[String], data: Array[Double],
            extra: String = ""): Unit = {
          ByteStore.writeString(s"$store/$name/.zarray",
            s"""{"zarr_format": 2, "shape": [${shape.mkString(",")}],
               | "chunks": [${shape.mkString(",")}], "dtype": "<f8",
               | "compressor": null, "fill_value": "NaN", "filters": null,
               | "order": "C"}""".stripMargin)
          ByteStore.writeString(s"$store/$name/.zattrs",
            s"""{"_ARRAY_DIMENSIONS": [${dims.map("\"" + _ + "\"").mkString(",")}]$extra}""")
          val bb = java.nio.ByteBuffer.allocate(data.length * 8)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          data.foreach(bb.putDouble)
          ByteStore.writeAllBytes(s"$store/$name/${shape.map(_ => "0").mkString(".")}",
            bb.array())
        }
        arr("a", Seq(4, 3), Seq("time", "x"), a)
        arr("time", Seq(4), Seq("time"), times, s""", "units": "$units"""")
        arr("x", Seq(3), Seq("x"), xs)
        store
      case GridFormat.NetCDF3 =>
        val p = s"$dir/s.nc"
        ByteStore.writeAllBytes(p, NetCDF3.write(
          dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", 3)), gattrs = Nil,
          vars = Seq(
            NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
              Seq(NetCDF3.Attr("units", NetCDF3.NcChar, units)), times),
            NetCDF3.VarSpec("x", Seq("x"), NetCDF3.NcDouble, Nil, xs),
            NetCDF3.VarSpec("a", Seq("time", "x"), NetCDF3.NcDouble, Nil, a)),
          numRecs = 4))
        p
      case GridFormat.Hdf5 =>
        val p = s"$dir/s.h5"
        ByteStore.writeAllBytes(p, HDF5.write(Seq(
          HDF5.DsSpec("a", Seq(4, 3), a, chunkDims = Some(Seq(2, 3)),
            attrs = Seq(HDF5.WAttrDimList("DIMENSION_LIST", Seq("time", "x")))),
          HDF5.DsSpec("time", Seq(4), times, attrs = Seq(
            HDF5.WAttrString("NAME", "time"), HDF5.WAttrString("units", units))),
          HDF5.DsSpec("x", Seq(3), xs, attrs = Seq(HDF5.WAttrString("NAME", "x"))))))
        p
    }
  }

  /** A bounded open builds its `dK` predicates from the coordinates its
    * axes read already holds: it costs exactly the unbounded open's I/O,
    * so each bounded axis's coordinate values are read once. */
  private def boundedOpenReadsCoordsOnce(f: GridFormat): Unit = {
    val dir = Files.createTempDirectory(s"graft-iocount-open-${f.name}").toString
    val store = axesStore(f, dir)
    val bounds = Map("time" -> (5.0, 13.0), "x" -> (5.0, 25.0))
    val (plain, rp) = recording(GridOpen.open(spark, f, store, "a"))
    val (bounded, rb) = recording(GridOpen.open(spark, f, store, "a", bounds))
    val touched = rp.pathsTouched ++ rb.pathsTouched
    assert(touched.nonEmpty)
    touched.foreach { p =>
      assert((rb.opens(p), rb.reads(p), rb.bytes(p)) == ((rp.opens(p), rp.reads(p), rp.bytes(p))),
        s"${f.name}: bounded open of $p read (opens, reads, bytes) " +
          s"${(rb.opens(p), rb.reads(p), rb.bytes(p))}, unbounded ${(rp.opens(p), rp.reads(p), rp.bytes(p))}")
    }
    assert(rb.metaOps == rp.metaOps, s"${f.name}: metadata ops ${rb.metaOps} vs ${rp.metaOps}")
    if (f == GridFormat.Zarr) Seq("time/0", "x/0").foreach(c =>
      assert(rb.reads(s"$store/$c") == 1, s"coordinate chunk $c read ${rb.reads(s"$store/$c")} times"))
    // time 6 and 12 (records 1-2) x x 10 and 20 (columns 1-2)
    assert(bounded.select("value").collect().map(_.getDouble(0)).sorted.toSeq ==
      Seq(4, 5, 7, 8).map(_ * 1.5), f.name)
    assert(plain.count() == 12, f.name)
  }

  test("a bounded zarr open reads each bounded axis's coordinate values once") {
    boundedOpenReadsCoordsOnce(GridFormat.Zarr)
  }

  test("a bounded netCDF-3 open reads each bounded axis's coordinate values once") {
    boundedOpenReadsCoordsOnce(GridFormat.NetCDF3)
  }

  test("a bounded HDF5 open reads each bounded axis's coordinate values once") {
    boundedOpenReadsCoordsOnce(GridFormat.Hdf5)
  }
}
