package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Catalog-level value crop through [[GridOpen.catalog]]: a DIR of
  * per-scene stores (the reference's one-store-per-scene layout)
  * filtered by coordinate values / time instants. The per-store decision (read each store's
  * KB-scale coordinate metadata in one wave, exclude stores that
  * provably miss, push each survivor's own index ranges) must land as
  * ONE pushed disjunction that prunes at store, array, and chunk
  * granularity — verified here by row values (per-store grids differ),
  * plan partition counts, the pushed-filter string, and EXECUTED
  * I/O counts (an excluded store's data chunks are never opened).
  * Rows compare on (path, idx): idx is the element's C-order index in
  * its array, so on a (9, 6) grid (y, x) is idx y * 6 + x. */
class CatalogCropSpec extends SparkSpec {

  private def recording[T](f: => T): (T, ByteStore.IoRecorder) = {
    val r = ByteStore.startRecording()
    try (f, r) finally ByteStore.stopRecording()
  }

  /** Three zarr scene stores with DISJOINT y grids (scene k: y = k*1000
    * + 0..800 step 100), shared x grid. */
  private def writeSceneCatalog(dir: String): Unit = {
    val grid = spark.range(3L * 9 * 6).select(
      concat(lit("s"), expr("id div 54")).as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr("id % 6") * 100.0).as("x"),
      (expr("(id div 6) % 9") * 100.0 + expr("id div 54") * 1000.0).as("y"),
      (col("id") * 0.25 - 3.0).as("value"))
    ZarrSink.writeScenes(grid, dir, "lwp", chunkRows = Some(3),
      zlibLevel = Some(6)).count()
  }

  test("zarr catalog bbox: non-intersecting stores' data is NEVER opened") {
    val dir = Files.createTempDirectory("graft-catcrop-z").toString
    writeSceneCatalog(dir)
    val df = GridOpen.catalog(spark, GridFormat.Zarr, dir, "lwp",
      Map("y" -> (1200.0, 1500.0), "x" -> (100.0, 300.0)))
    // a SINGLE surviving store folds to plain conjuncts (Catalyst
    // simplifies the one-branch disjunction) — the path equality and
    // both dK ranges must all reach the scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(path") && plan.contains("GreaterThanOrEqual(d0,2)"),
      s"single-survivor crop did not push:\n$plan")
    val (rows, r) = recording {
      df.select("path", "idx", "value").collect()
    }
    // only s1 (y = 1000..1800) intersects [1200, 1500]: y idx 2..5, x idx 1..3
    assert(rows.nonEmpty && rows.forall(_.getString(0).endsWith("s1.zarr")))
    assert(rows.map(_.getLong(1)).toSet ==
      (for (y <- 2L to 5L; x <- 1L to 3L) yield y * 6 + x).toSet)
    // residual parity: values equal a brute-force value filter
    val brute = spark.read.format("graft.sources.ZarrDataSource")
      .option("path", s"$dir/s1.zarr").load()
      .where(col("dataset") === "lwp" &&
        (col("d0") * 100.0 + 1000.0).between(1200.0, 1500.0) &&
        (col("d1") * 100.0).between(100.0, 300.0))
      .select("idx", "value").collect()
      .map(x => (x.getLong(0), x.getDouble(1))).sorted
    assert(rows.map(x => (x.getLong(1), x.getDouble(2)))
      .sorted.sameElements(brute))
    // EXECUTED I/O: excluded stores' chunk data never opened (their
    // metadata was read once, in the planning wave)
    for (s <- Seq("s0", "s2")) {
      val chunk = new java.io.File(s"$dir/$s.zarr/lwp/0.0").getAbsolutePath
      assert(ByteStore.isFile(chunk)) // the layout is what we think
      assert(r.opens(chunk) == 0 && r.reads(chunk) == 0,
        s"excluded store $s had data opened")
    }
    // surviving store: y idx 2..5 over chunkRows=3 -> chunk rows 0 and 1
    // both plan (idx 2 in chunk 0; 3..5 in chunk 1) — but a tighter crop
    // y in [1300, 1500] (idx 3..5) plans chunk row 1 only
    val tight = GridOpen.catalog(spark, GridFormat.Zarr, dir, "lwp",
      Map("y" -> (1300.0, 1500.0), "x" -> (100.0, 300.0)))
    val (tRows, tr) = recording { tight.select("value").collect() }
    assert(tRows.length == 9)
    val prunedChunk = new java.io.File(s"$dir/s1.zarr/lwp/0.0").getAbsolutePath
    assert(tr.opens(prunedChunk) == 0,
      "bbox-pruned chunk of a SURVIVING store was opened")
  }

  test("zarr catalog: an all-miss crop is provably empty (no store plans)") {
    val dir = Files.createTempDirectory("graft-catcrop-z0").toString
    writeSceneCatalog(dir)
    val df = GridOpen.catalog(spark, GridFormat.Zarr, dir, "lwp",
      Map("y" -> (9000.0, 9900.0)))
    assert(df.count() == 0)
  }

  /** Hand-written zarr v2 store: time axis with its OWN units/epoch. */
  private def writeTimeStore(dir: String, name: String, units: String,
      times: Array[Double], xs: Array[Double], base: Double): String = {
    val store = Paths.get(dir, s"$name.zarr")
    Files.createDirectories(store)
    Files.writeString(store.resolve(".zgroup"), """{"zarr_format": 2}""")
    def arr(aName: String, shape: Seq[Int], dims: Seq[String],
        data: Array[Double], extraAttrs: String = ""): Unit = {
      val d = store.resolve(aName); Files.createDirectories(d)
      Files.writeString(d.resolve(".zarray"),
        s"""{"zarr_format": 2, "shape": [${shape.mkString(",")}],
           | "chunks": [${shape.mkString(",")}], "dtype": ">f8",
           | "compressor": null, "fill_value": "NaN", "filters": null,
           | "order": "C"}""".stripMargin)
      Files.writeString(d.resolve(".zattrs"),
        s"""{"_ARRAY_DIMENSIONS": [${dims.map("\"" + _ + "\"").mkString(",")}]$extraAttrs}""")
      val bb = java.nio.ByteBuffer.allocate(data.length * 8)
      data.foreach(bb.putDouble)
      Files.write(d.resolve(shape.map(_ => "0").mkString(".")), bb.array())
    }
    arr("lwp", Seq(times.length, xs.length), Seq("time", "x"),
      Array.tabulate(times.length * xs.length)(i => base + i))
    arr("time", Seq(times.length), Seq("time"), times,
      s""", "units": "$units"""")
    arr("x", Seq(xs.length), Seq("x"), xs)
    store.toString
  }

  test("zarr catalog time crop: bounds resolve through EACH store's own units") {
    val dir = Files.createTempDirectory("graft-catcrop-time").toString
    val xs = Array(0.0, 10.0, 20.0)
    // sA: hours since Jan 1 (00:00..18:00); sB: hours since Jan 2
    // (00:00..18:00); sC: all of Jan 3 (misses entirely)
    writeTimeStore(dir, "sA", "hours since 2021-01-01",
      Array(0.0, 6.0, 12.0, 18.0), xs, 100.0)
    writeTimeStore(dir, "sB", "hours since 2021-01-02",
      Array(0.0, 6.0, 12.0, 18.0), xs, 200.0)
    writeTimeStore(dir, "sC", "hours since 2021-01-03",
      Array(0.0, 6.0, 12.0, 18.0), xs, 300.0)
    // [Jan 1 12:00, Jan 2 06:00]: sA rows 2-3, sB rows 0-1, sC nothing
    val df = GridOpen.catalog(spark, GridFormat.Zarr, dir, "lwp", Map.empty,
      timeBounds = Map("time" ->
        ("2021-01-01 12:00:00", "2021-01-02 06:00:00")))
    // TWO survivors with DIFFERENT index ranges: the pushed filter is
    // the per-store disjunction, one Or tree reaching the scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("pushed=") && plan.contains("Or("),
      s"per-store disjunction did not push:\n$plan")
    val (rows, r) = recording {
      df.select("path", "idx").collect()
        .map(x => (x.getString(0).split('/').last, x.getLong(1)))
    }
    // (time, x) on a (4, 3) grid: idx = time * 3 + x
    assert(rows.toSet == Set(2L, 3L).flatMap(t => (0L to 2L).map(x =>
      ("sA.zarr", t * 3 + x))) ++ Set(0L, 1L).flatMap(t => (0L to 2L).map(x =>
      ("sB.zarr", t * 3 + x))))
    assert(rows.length == 12) // 4 surviving rows x 3 x-columns
    val sCChunk = new java.io.File(s"$dir/sC.zarr/lwp/0.0").getAbsolutePath
    assert(r.opens(sCChunk) == 0, "time-excluded store had data opened")
  }

  test("zarr v3 SHARDED catalog: the disjunction prunes shards and inner chunks") {
    // three v3 scene stores with disjoint y grids, sharded arrays:
    // the per-store branches must prune whole shards of excluded
    // stores (index tails never read) AND inner chunks of survivors
    val dir = Files.createTempDirectory("graft-catcrop-z3").toString
    val grid = spark.range(3L * 8 * 4).select(
      concat(lit("v"), expr("id div 32")).as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr("id % 4") * 100.0).as("x"),
      (expr("(id div 4) % 8") * 100.0 + expr("id div 32") * 1000.0).as("y"),
      (col("id") * 0.5).as("value"))
    Zarr3.writeScenes(grid, dir, "lwp", chunkRows = Some(4),
      shardInnerRows = Some(1)).count()
    val r = ByteStore.startRecording()
    val rows = try {
      GridOpen.catalog(spark, GridFormat.Zarr, dir, "lwp",
          Map("y" -> (1100.0, 1400.0), "x" -> (100.0, 200.0)))
        .select("path", "idx", "value").collect()
    } finally ByteStore.stopRecording()
    // only v1 (y = 1000..1700) intersects: y idx 1..4, x idx 1..2 on
    // an (8, 4) grid
    assert(rows.nonEmpty && rows.forall(_.getString(0).endsWith("v1.zarr")))
    assert(rows.map(_.getLong(1)).toSet ==
      (for (y <- 1L to 4L; x <- 1L to 2L) yield y * 4 + x).toSet)
    // excluded stores' shard files: never opened, not even index tails
    for (s <- Seq("v0", "v2")) {
      val shards = Option(new java.io.File(s"$dir/$s.zarr/lwp/c").listFiles())
        .getOrElse(Array.empty).flatMap(d =>
          Option(d.listFiles()).getOrElse(Array.empty)).map(_.getAbsolutePath)
      assert(shards.nonEmpty)
      shards.foreach { f =>
        assert(r.opens(f) == 0, s"excluded store shard $f was opened") }
    }
  }

  test("calendar catalog: per-store 360_day epochs route through CfCalendar") {
    val dir = Files.createTempDirectory("graft-catcrop-cal").toString
    // two stores, SAME calendar, different epoch days around the
    // 360_day Feb 30 (a Gregorian-impossible window)
    for ((name, day, base) <- Seq(("cA", 28, 100.0), ("cB", 30, 200.0))) {
      val s = java.nio.file.Paths.get(dir, s"$name.zarr")
      Files.createDirectories(s)
      Files.writeString(s.resolve(".zgroup"), """{"zarr_format": 2}""")
      def arr(aName: String, shape: Seq[Int], dims: Seq[String],
          data: Array[Double], extra: String = ""): Unit = {
        val d = s.resolve(aName); Files.createDirectories(d)
        Files.writeString(d.resolve(".zarray"),
          s"""{"zarr_format": 2, "shape": [${shape.mkString(",")}],
             | "chunks": [${shape.mkString(",")}], "dtype": ">f8",
             | "compressor": null, "fill_value": "NaN", "filters": null,
             | "order": "C"}""".stripMargin)
        Files.writeString(d.resolve(".zattrs"),
          s"""{"_ARRAY_DIMENSIONS": [${dims.map("\"" + _ + "\"").mkString(",")}]$extra}""")
        val bb = java.nio.ByteBuffer.allocate(data.length * 8)
        data.foreach(bb.putDouble)
        Files.write(d.resolve(shape.map(_ => "0").mkString(".")), bb.array())
      }
      arr("lwp", Seq(4, 2), Seq("time", "x"), Array.tabulate(8)(i => base + i))
      arr("time", Seq(4), Seq("time"), Array(0.0, 1.0, 2.0, 3.0),
        s""", "units": "days since 2000-02-$day", "calendar": "360_day"""")
      arr("x", Seq(2), Seq("x"), Array(0.0, 1.0))
    }
    // [2000-02-29, 2000-03-02] in 360_day: cA (epoch 02-28) keeps
    // t 1..3 (02-29, 02-30, 03-01); cB (epoch 02-30) keeps t 0..2
    val df = GridOpen.catalog(spark, GridFormat.Zarr, dir, "lwp",
      timeBounds = Map("time" -> ("2000-02-29", "2000-03-02")))
    assert(df.schema("time").dataType == org.apache.spark.sql.types.StringType)
    val rows = df.select("path", "time").distinct().collect()
      .map(r => (r.getString(0).split('/').last, r.getString(1))).sorted
    assert(rows.toSeq == Seq(
      ("cA.zarr", "2000-02-29 00:00:00"), ("cA.zarr", "2000-02-30 00:00:00"),
      ("cA.zarr", "2000-03-01 00:00:00"),
      ("cB.zarr", "2000-02-30 00:00:00"), ("cB.zarr", "2000-03-01 00:00:00"),
      ("cB.zarr", "2000-03-02 00:00:00")))
  }

  test("netCDF-3 catalog: record-time crop plans only intersecting files") {
    val dir = Files.createTempDirectory("graft-catcrop-nc").toString
    def ncFile(name: String, units: String, times: Array[Double],
        base: Double): Unit = {
      val bytes = NetCDF3.write(
        dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", 2)),
        gattrs = Nil,
        vars = Seq(
          NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
            Seq(NetCDF3.Attr("units", NetCDF3.NcChar, units)), times),
          NetCDF3.VarSpec("lwp", Seq("time", "x"), NetCDF3.NcDouble, Nil,
            Array.tabulate(times.length * 2)(i => base + i))),
        numRecs = times.length)
      Files.write(Paths.get(dir, name), bytes)
    }
    ncFile("a.nc", "hours since 2022-03-01", Array(0.0, 6.0, 12.0, 18.0), 10.0)
    ncFile("b.nc", "hours since 2022-03-02", Array(0.0, 6.0, 12.0, 18.0), 20.0)
    val df = GridOpen.catalog(spark, GridFormat.NetCDF3, dir, "lwp", Map.empty,
      timeBounds = Map("time" -> ("2022-03-01 10:00:00", "2022-03-02 01:00:00")))
    val rows = df.select("path", "idx", "value").collect()
      .map(x => (x.getString(0).split('/').last, x.getLong(1), x.getDouble(2)))
    // a.nc: records 2-3 (12:00, 18:00); b.nc: record 0 (00:00); two
    // elements per record, idx = record * 2 + x
    assert(rows.toSet == Set(
      ("a.nc", 4L, 14.0), ("a.nc", 6L, 16.0), ("a.nc", 5L, 15.0), ("a.nc", 7L, 17.0),
      ("b.nc", 0L, 20.0), ("b.nc", 1L, 21.0)))
  }

  test("HDF5 catalog: dimension-scale axes + per-file units") {
    val dir = Files.createTempDirectory("graft-catcrop-h5").toString
    def h5File(name: String, units: String, times: Array[Double],
        base: Double): Unit = {
      val nt = times.length
      val bytes = HDF5.write(Seq(
        HDF5.DsSpec("v", Seq(nt, 2), Array.tabulate(nt * 2)(i => base + i),
          chunkDims = Some(Seq(1, 2)),
          attrs = Seq(HDF5.WAttrDimList("DIMENSION_LIST", Seq("time", "x")))),
        HDF5.DsSpec("time", Seq(nt), times,
          attrs = Seq(
            HDF5.WAttrString("NAME", "time"),
            HDF5.WAttrString("units", units))),
        HDF5.DsSpec("x", Seq(2), Array(0.0, 1.0),
          attrs = Seq(HDF5.WAttrString("NAME", "x")))))
      Files.write(Paths.get(dir, name), bytes)
    }
    h5File("a.h5", "days since 2023-05-01", Array(0.0, 1.0, 2.0, 3.0), 10.0)
    h5File("b.h5", "days since 2023-05-10", Array(0.0, 1.0, 2.0, 3.0), 20.0)
    val df = GridOpen.catalog(spark, GridFormat.Hdf5, dir, "v", Map.empty,
      timeBounds = Map("time" -> ("2023-05-03", "2023-05-11")))
    // a.h5: days 2-3 (May 3, 4); b.h5: days 0-1 (May 10, 11); two
    // elements per day, idx = day * 2 + x
    val rows = df.select("path", "idx").collect()
      .map(x => (x.getString(0).split('/').last, x.getLong(1)))
    assert(rows.toSet == Set(("a.h5", 4L), ("a.h5", 5L), ("a.h5", 6L),
      ("a.h5", 7L), ("b.h5", 0L), ("b.h5", 1L), ("b.h5", 2L), ("b.h5", 3L)))
    assert(rows.length == 8)
    // chunk prune inside survivors: (1,2) chunks, 2 of 4 rows each ->
    // 4 chunks total plan
    assert(df.rdd.getNumPartitions <= 4)
    // both numeric and time bounds on one axis is a loud error
    val e = intercept[IllegalArgumentException] {
      GridOpen.catalog(spark, GridFormat.Hdf5, dir, "v", Map("time" -> (0.0, 1.0)),
        timeBounds = Map("time" -> ("2023-05-03", "2023-05-04")))
    }
    assert(e.getMessage.contains("both numeric and time bounds"))
  }
}
