package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** S3-contract behavior on [[S3Fs]]: sinks never rely on rename, and
  * the explicit-path flows (manifest-planned opens) are immune to
  * list-after-write eventual consistency, where listing-based
  * discovery is honestly eventual. */
class S3FsSpec extends SparkSpec {

  private def registerS3Fs(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.s3test.impl", classOf[S3Fs].getName)

  test("the sinks write final objects directly — ZERO rename calls") {
    registerS3Fs()
    S3Fs.reset()
    val dir = Files.createTempDirectory("graft-s3fs-sink").toString
    val grid = spark.range(24).select(
      concat(lit("s"), expr("id div 12")).as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr("id % 4") * 10.0).as("x"),
      (expr("(id div 4) % 3") * 10.0).as("y"),
      (col("id") * 0.5).as("value"))
    // zarr v2 scene sink + a netCDF-3 write through the ByteStore seam
    ZarrSink.writeScenes(grid, s"s3test:$dir/z", "lwp",
      chunkRows = Some(3), zlibLevel = Some(6)).count()
    ByteStore.writeAllBytes(s"s3test:$dir/one.nc", NetCDF3.write(
      dims = Seq(NetCDF3.Dim("x", 2)), gattrs = Nil,
      vars = Seq(NetCDF3.VarSpec("v", Seq("x"), NetCDF3.NcDouble, Nil,
        Array(1.0, 2.0)))))
    val renames = S3Fs.ops.filter(_.startsWith("rename "))
    assert(renames.isEmpty, s"a sink renamed: ${renames.take(3)}")
    assert(S3Fs.ops.exists(_.startsWith("create ")), "writes must go through s3test")
    // and everything written reads back correct over the same scheme
    val vals = spark.read.format("graft.sources.ZarrDataSource")
      .option("path", s"s3test:$dir/z").load()
      .where(col("dataset") === "lwp").select("value")
      .collect().map(_.getDouble(0)).sorted
    assert(vals.toSeq == (0 until 24).map(_ * 0.5))
    assert(GridFormat.NetCDF3.arrayValues(s"s3test:$dir/one.nc", "v").toSeq == Seq(1.0, 2.0))
  }

  test("a cropped open issues bounded ranged reads, never whole-object GETs") {
    // the byte-level sibling of the open-count asserts: on an object
    // store every positioned read is a ranged GET, so a crop over a
    // multi-MB single-file store must fetch bounded ranges (header
    // pages + the kept record slabs), never the object
    registerS3Fs()
    S3Fs.reset()
    val dir = Files.createTempDirectory("graft-s3fs-range").toString
    val nRec = 64; val nx = 8192 // 64 x 8192 doubles = 4 MiB of data
    ByteStore.writeAllBytes(s"s3test:$dir/big.nc", NetCDF3.write(
      dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", nx)),
      gattrs = Nil,
      vars = Seq(
        NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
          Seq(NetCDF3.Attr("units", NetCDF3.NcChar,
            "hours since 2022-01-01")),
          Array.tabulate(nRec)(_.toDouble)),
        NetCDF3.VarSpec("v", Seq("time", "x"), NetCDF3.NcDouble, Nil,
          Array.tabulate(nRec * nx)(_.toDouble))),
      numRecs = nRec))
    val fileLen = ByteStore.length(s"s3test:$dir/big.nc")
    assert(fileLen > 4L * 1024 * 1024)
    S3Fs.reset() // the write is not the claim
    // the crop keeps 4 of 64 records
    val got = GridOpen.open(spark, GridFormat.NetCDF3, s"s3test:$dir/big.nc", "v",
      timeBounds = Map("time" ->
        ("2022-01-01 00:00:00", "2022-01-01 03:00:00")))
      .agg(sum(col("value"))).collect()(0).getDouble(0)
    assert(got == (4L * nx) * (4L * nx - 1) / 2.0) // records 0-3 exactly
    val rs = S3Fs.ranges.filter(_._1.endsWith("big.nc"))
    assert(rs.nonEmpty, "reads did not go through the s3test seam")
    // each request bounded (slab-scale), the total a small fraction of
    // the object, and nothing resembling a whole-object GET
    val maxReq = rs.map(_._3).max
    assert(maxReq <= fileLen / 4,
      s"a single $maxReq-byte ranged read on a $fileLen-byte object")
    val total = rs.map(_._3).sum
    assert(total <= fileLen / 4,
      s"read $total of $fileLen bytes for a 4/64-record crop")
    assert(!rs.exists(r => r._2 == 0 && r._3 >= fileLen),
      "a whole-object GET was issued")
    info(s"ranged reads: ${rs.size} requests, $total of $fileLen bytes, " +
      s"largest $maxReq")
  }

  test("join-form catalog crops keep the ranged-read discipline via the per-file hull") {
    // above residualJoinAbove the scan's pushed filters carry only the
    // union d0 envelope; the hulls option must narrow each FILE's
    // record window to its OWN range — here file B keeps 4 of 64
    // records while file A keeps 28, so under the union ([0, 27])
    // alone B would read 7x its share
    registerS3Fs()
    S3Fs.reset()
    val dir = Files.createTempDirectory("graft-s3fs-hull").toString
    val nRec = 64; val nx = 4096
    def nc(name: String, day: Int): Unit =
      ByteStore.writeAllBytes(s"s3test:$dir/$name", NetCDF3.write(
        dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", nx)),
        gattrs = Nil,
        vars = Seq(
          NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
            Seq(NetCDF3.Attr("units", NetCDF3.NcChar,
              f"hours since 2022-01-$day%02d")),
            Array.tabulate(nRec)(_.toDouble)),
          NetCDF3.VarSpec("v", Seq("time", "x"), NetCDF3.NcDouble, Nil,
            Array.tabulate(nRec * nx)(_.toDouble))),
        numRecs = nRec))
    nc("a.nc", 1) // window keeps records 0..27
    nc("b.nc", 2) // window keeps records 0..3
    val fileLen = ByteStore.length(s"s3test:$dir/b.nc")
    S3Fs.reset()
    val saved = GridOpen.residualJoinAbove
    val got = try {
      GridOpen.residualJoinAbove = 0 // force the join form at 2 survivors
      GridOpen.catalog(spark, GridFormat.NetCDF3, s"s3test:$dir/*.nc", "v",
        timeBounds = Map("time" ->
          ("2022-01-01 00:00:00", "2022-01-02 03:00:00")))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0).split('/').last, r.getLong(1)))
        .toMap
    } finally GridOpen.residualJoinAbove = saved
    assert(got == Map("a.nc" -> 28L * nx, "b.nc" -> 4L * nx), got)
    // file B's data reads are bounded by ITS hull, not the union: 4 of
    // 64 records plus header pages is well under a quarter of the file
    val bReads = S3Fs.ranges.filter(_._1.endsWith("b.nc")).map(_._3).sum
    assert(bReads <= fileLen / 4,
      s"read $bReads of $fileLen bytes of b.nc for a 4/64-record crop " +
        "under the join-form residual")
  }

  test("manifest-planned opens are immune to list-after-write inconsistency") {
    registerS3Fs()
    S3Fs.reset()
    val dir = Files.createTempDirectory("graft-s3fs-lst").toString
    def nc(name: String, day: Int, base: Double): Unit =
      ByteStore.writeAllBytes(s"s3test:$dir/$name", NetCDF3.write(
        dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", 2)),
        gattrs = Nil,
        vars = Seq(
          NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
            Seq(NetCDF3.Attr("units", NetCDF3.NcChar,
              s"hours since 2022-03-0$day")), Array(0.0, 6.0)),
          NetCDF3.VarSpec("lwp", Seq("time", "x"), NetCDF3.NcDouble, Nil,
            Array.tabulate(4)(i => base + i))),
        numRecs = 2))
    nc("a.nc", 1, 10.0)
    nc("b.nc", 2, 20.0)
    val manifest = s"$dir/_manifest" // manifest parquet on plain file://
    CatalogManifest.build(spark, "netcdf3", s"s3test:$dir/*.nc",
      Seq("lwp"), manifest)
    // the eventual-consistency window opens; a THIRD scene lands
    S3Fs.armInconsistency()
    try {
      nc("c.nc", 3, 30.0)
      // listing-based discovery cannot see c.nc yet (honest eventual)
      val listed = CoordCrop.catalogFiles(s"s3test:$dir/*.nc")
      assert(listed.map(_.split('/').last).toSet == Set("a.nc", "b.nc"),
        s"pending object leaked into a listing: $listed")
      // but direct-key reads DO see it (S3 read-after-write on keys)
      assert(ByteStore.isFile(s"s3test:$dir/c.nc"))
      assert(GridFormat.NetCDF3.arrayValues(s"s3test:$dir/c.nc", "lwp").nonEmpty)
      // the manifest-planned open never lists: full, correct rows for
      // the manifested members while the window is open
      val got = GridOpen.catalogFromManifest(spark, manifest, "lwp")
        .collect().map(r => (r.getString(0).split('/').last, r.getDouble(4)))
        .sorted
      assert(got.map(_._1).distinct.toSeq == Seq("a.nc", "b.nc"))
      assert(got.map(_._2).toSet == Set(10.0, 11.0, 12.0, 13.0, 20.0, 21.0, 22.0, 23.0))
    } finally S3Fs.settle()
    // the window closes: refresh sees the new scene, and it plans
    val (added, changed, removed, unchanged) = CatalogManifest.refresh(
      spark, "netcdf3", s"s3test:$dir/*.nc", Seq("lwp"), manifest)
    assert((added, changed, removed, unchanged) == ((1, 0, 0, 2)),
      s"got ($added, $changed, $removed, $unchanged)")
    val all = GridOpen.catalogFromManifest(spark, manifest, "lwp")
    assert(all.select("path").distinct().count() == 3)
  }
}
