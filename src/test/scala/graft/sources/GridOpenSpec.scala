package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The turnkey open: one call per mount that discovers dimension
  * names, decodes coordinate VALUES (time axes to TIMESTAMP), applies
  * mask-and-scale, and pushes value/time crops to the scan — the
  * xr.open_dataset shape. Pinned per mount against hand-computed
  * values, plus the catalog variant's broadcast decode. */
class GridOpenSpec extends SparkSpec {

  test("netcdf3: named axes, time decode, mask-and-scale, pushed crop") {
    val dir = Files.createTempDirectory("graft-gridopen-nc").toString
    val p = Paths.get(dir, "t.nc")
    // 4 records x 3 columns; value -99 is the fill; scale 0.5 offset 2
    val raw = Array.tabulate(12)(i => if (i == 7) -99.0 else i * 1.0)
    Files.write(p, NetCDF3.write(
      dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", 3)),
      gattrs = Nil,
      vars = Seq(
        NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
          Seq(NetCDF3.Attr("units", NetCDF3.NcChar, "hours since 2024-02-01")),
          Array(0.0, 6.0, 12.0, 18.0)),
        NetCDF3.VarSpec("x", Seq("x"), NetCDF3.NcDouble, Nil,
          Array(100.0, 200.0, 300.0)),
        NetCDF3.VarSpec("lwp", Seq("time", "x"), NetCDF3.NcDouble, Seq(
          NetCDF3.Attr("_FillValue", NetCDF3.NcDouble, Array(-99.0)),
          NetCDF3.Attr("scale_factor", NetCDF3.NcDouble, Array(0.5)),
          NetCDF3.Attr("add_offset", NetCDF3.NcDouble, Array(2.0))), raw)),
      numRecs = 4))
    val df = GridOpen.open(spark, GridFormat.NetCDF3, p.toString, "lwp",
      bounds = Map("x" -> (150.0, 300.0)),
      timeBounds = Map("time" -> ("2024-02-01 06:00:00", "2024-02-01 18:00:00")))
    assert(df.columns.toSeq == Seq("path", "idx", "time", "x", "value"))
    val rows = df.collect().map { r =>
      (r.getTimestamp(2).toInstant.toString, r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)))
    }.sortBy(r => (r._1, r._2))
    // records 1..3, x idx 1..2; raw idx 7 (record 2, x 1) is the fill
    assert(rows.toSeq == Seq(
      ("2024-02-01T06:00:00Z", 200.0, Some(4.0 * 0.5 + 2.0)),
      ("2024-02-01T06:00:00Z", 300.0, Some(5.0 * 0.5 + 2.0)),
      ("2024-02-01T12:00:00Z", 200.0, None),
      ("2024-02-01T12:00:00Z", 300.0, Some(8.0 * 0.5 + 2.0)),
      ("2024-02-01T18:00:00Z", 200.0, Some(10.0 * 0.5 + 2.0)),
      ("2024-02-01T18:00:00Z", 300.0, Some(11.0 * 0.5 + 2.0))))
    // the crop reached the scan: record batches 1..3 only
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(d0,1)"), s"no pushed crop:\n$plan")
  }

  test("zarr: named axes from _ARRAY_DIMENSIONS; no-bounds open decodes everything") {
    val dir = Files.createTempDirectory("graft-gridopen-z").toString
    val grid = spark.range(12).select(
      lit("s0").as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr("id % 4") * 10.0 + 100.0).as("x"),
      (expr("id div 4") * 20.0).as("y"),
      (col("id") * 1.0).as("value"))
    ZarrSink.writeScenes(grid, dir, "lwp").count()
    val df = GridOpen.open(spark, GridFormat.Zarr, s"$dir/s0.zarr", "lwp")
    assert(df.columns.toSeq == Seq("path", "idx", "y", "x", "value"))
    val rows = df.orderBy("idx").collect()
      .map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 12)
    assert(rows(0) == ((0.0, 100.0, 0.0)))
    assert(rows(11) == ((40.0, 130.0, 11.0)))
    // a bounded open prunes AND decodes the same way
    val cropped = GridOpen.open(spark, GridFormat.Zarr, s"$dir/s0.zarr", "lwp",
      bounds = Map("y" -> (20.0, 40.0), "x" -> (110.0, 120.0)))
    val got = cropped.collect().map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(got.toSet == rows.filter(r =>
      r._1 >= 20.0 && r._1 <= 40.0 && r._2 >= 110.0 && r._2 <= 120.0).toSet)
  }

  test("hdf5: dimension-scale axes, irregular time axis decodes row-wise") {
    val dir = Files.createTempDirectory("graft-gridopen-h5").toString
    val bytes = HDF5.write(Seq(
      HDF5.DsSpec("v", Seq(3, 2), Array.tabulate(6)(_ * 2.0),
        chunkDims = Some(Seq(1, 2)),
        attrs = Seq(HDF5.WAttrDimList("DIMENSION_LIST", Seq("time", "x")))),
      HDF5.DsSpec("time", Seq(3), Array(0.0, 1.0, 5.0), // irregular
        attrs = Seq(
          HDF5.WAttrString("NAME", "time"),
          HDF5.WAttrString("units", "hours since 2021-01-01"))),
      HDF5.DsSpec("x", Seq(2), Array(7.0, 9.0),
        attrs = Seq(HDF5.WAttrString("NAME", "x")))))
    val p = Paths.get(dir, "t.h5"); Files.write(p, bytes)
    val df = GridOpen.open(spark, GridFormat.Hdf5, p.toString, "v")
    assert(df.columns.toSeq == Seq("path", "idx", "time", "x", "value"))
    val rows = df.orderBy("idx").collect()
      .map(r => (r.getTimestamp(2).toInstant.toString, r.getDouble(3)))
    assert(rows.toSeq == Seq(
      ("2021-01-01T00:00:00Z", 7.0), ("2021-01-01T00:00:00Z", 9.0),
      ("2021-01-01T01:00:00Z", 7.0), ("2021-01-01T01:00:00Z", 9.0),
      ("2021-01-01T05:00:00Z", 7.0), ("2021-01-01T05:00:00Z", 9.0)))
  }

  test("a 360_day calendar axis auto-routes to calendar-datetime strings") {
    val dir = Files.createTempDirectory("graft-gridopen-cal").toString
    val p = Paths.get(dir, "m.nc")
    Files.write(p, NetCDF3.write(
      dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", 2)),
      gattrs = Nil,
      vars = Seq(
        NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble, Seq(
          NetCDF3.Attr("units", NetCDF3.NcChar, "days since 2000-02-27"),
          NetCDF3.Attr("calendar", NetCDF3.NcChar, "360_day")),
          Array.tabulate(6)(_.toDouble)),
        NetCDF3.VarSpec("v", Seq("time", "x"), NetCDF3.NcDouble, Nil,
          Array.tabulate(12)(_ * 1.0))),
      numRecs = 6))
    // calendar bounds crop + decode through the turnkey: 02-28..03-01
    // covers 02-28, 02-29, 02-30, 03-01 (360_day februaries have 30 days)
    val df = GridOpen.open(spark, GridFormat.NetCDF3, p.toString, "v",
      timeBounds = Map("time" -> ("2000-02-28", "2000-03-01")))
    assert(df.schema("time").dataType == org.apache.spark.sql.types.StringType)
    val times = df.select("time").distinct().collect().map(_.getString(0)).sorted
    assert(times.toSeq == Seq("2000-02-28 00:00:00", "2000-02-29 00:00:00",
      "2000-02-30 00:00:00", "2000-03-01 00:00:00"))
    // the crop pruned record batches at the scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(d0,1)") &&
      plan.contains("LessThanOrEqual(d0,4)"), s"no pushed crop:\n$plan")
  }

  test("netcdf3Catalog and hdf5Catalog decode per-store time via broadcast joins") {
    // netCDF-3 catalog: two files with different epochs
    val ncDir = Files.createTempDirectory("graft-gridopen-nccat").toString
    def nc(name: String, day: Int, base: Double): Unit =
      Files.write(Paths.get(ncDir, name), NetCDF3.write(
        dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", 2)),
        gattrs = Nil,
        vars = Seq(
          NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
            Seq(NetCDF3.Attr("units", NetCDF3.NcChar,
              s"hours since 2022-03-0$day")), Array(0.0, 6.0, 12.0, 18.0)),
          NetCDF3.VarSpec("lwp", Seq("time", "x"), NetCDF3.NcDouble, Nil,
            Array.tabulate(8)(i => base + i))),
        numRecs = 4))
    nc("a.nc", 1, 10.0)
    nc("b.nc", 2, 20.0)
    val ncDf = GridOpen.catalog(spark, GridFormat.NetCDF3, ncDir, "lwp",
      timeBounds = Map("time" -> ("2022-03-01 12:00:00", "2022-03-02 00:00:00")))
    val ncRows = ncDf.collect().map(r => (r.getString(0).split('/').last,
      r.getTimestamp(2).toInstant.toString, r.getDouble(4))).sorted
    assert(ncRows.toSeq == Seq(
      ("a.nc", "2022-03-01T12:00:00Z", 14.0), ("a.nc", "2022-03-01T12:00:00Z", 15.0),
      ("a.nc", "2022-03-01T18:00:00Z", 16.0), ("a.nc", "2022-03-01T18:00:00Z", 17.0),
      ("b.nc", "2022-03-02T00:00:00Z", 20.0), ("b.nc", "2022-03-02T00:00:00Z", 21.0)
    ).sorted)
    // HDF5 catalog: dimension scales + per-file units
    val h5Dir = Files.createTempDirectory("graft-gridopen-h5cat").toString
    def h5(name: String, day: Int, base: Double): Unit =
      Files.write(Paths.get(h5Dir, name), HDF5.write(Seq(
        HDF5.DsSpec("v", Seq(4, 2), Array.tabulate(8)(i => base + i),
          chunkDims = Some(Seq(1, 2)),
          attrs = Seq(HDF5.WAttrDimList("DIMENSION_LIST", Seq("time", "x"))),
          ),
        HDF5.DsSpec("time", Seq(4), Array(0.0, 1.0, 2.0, 3.0),
          attrs = Seq(
            HDF5.WAttrString("NAME", "time"),
            HDF5.WAttrString("units", s"days since 2023-06-0$day"))),
        HDF5.DsSpec("x", Seq(2), Array(5.0, 6.0),
          attrs = Seq(HDF5.WAttrString("NAME", "x"))))))
    h5("a.h5", 1, 10.0)
    h5("b.h5", 5, 20.0)
    val h5Df = GridOpen.catalog(spark, GridFormat.Hdf5, h5Dir, "v",
      timeBounds = Map("time" -> ("2023-06-03", "2023-06-06")))
    // a.h5: days 2-3 (Jun 3, 4); b.h5: days 0-1 (Jun 5, 6)
    val h5Rows = h5Df.collect().map(r => (r.getString(0).split('/').last,
      r.getTimestamp(2).toInstant.toString)).distinct.sorted
    assert(h5Rows.toSeq == Seq(
      ("a.h5", "2023-06-03T00:00:00Z"), ("a.h5", "2023-06-04T00:00:00Z"),
      ("b.h5", "2023-06-05T00:00:00Z"), ("b.h5", "2023-06-06T00:00:00Z")))
    val plan = h5Df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"catalog decode must broadcast:\n${plan.take(1500)}")
  }

  test("GROUP-PATH datasets open through the turnkey (nested HDF5, q212's shape)") {
    val dir = Files.createTempDirectory("graft-gridopen-grp").toString
    val bytes = HDF5.write(Seq(
      HDF5.DsSpec("surface", Seq(7), Array.tabulate(7)(_ * 9.0)),
      HDF5.DsSpec("model/t2m", Seq(6, 10),
        Array.tabulate(60)(_ * 0.5 - 3.0), chunkDims = Some(Seq(2, 5)),
        attrs = Seq(
          HDF5.WAttrDimList("DIMENSION_LIST", Seq("model/y", "model/x")))),
      HDF5.DsSpec("model/y", Seq(6), Array.tabulate(6)(j => 10.0 + j * 10.0),
        attrs = Seq(HDF5.WAttrString("NAME", "y"))),
      HDF5.DsSpec("model/x", Seq(10), Array.tabulate(10)(i => 5.0 + i * 10.0),
        attrs = Seq(HDF5.WAttrString("NAME", "x")))),
      deflate = true)
    val p = Paths.get(dir, "grouped.h5"); Files.write(p, bytes)
    val df = GridOpen.open(spark, GridFormat.Hdf5, p.toString, "model/t2m",
      bounds = Map("model/y" -> (20.0, 40.0), "model/x" -> (35.0, 75.0)))
    // group-path dim names become (escaped) column names
    assert(df.columns.toSeq == Seq("path", "idx", "model/y", "model/x", "value"))
    val rows = df.collect().map(r => (r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.length == 3 * 5) // y 20..40 (3 of 6), x 35..75 (5 of 10)
    assert(rows.forall { case (y, x, _) => y >= 20 && y <= 40 && x >= 35 && x <= 75 })
    val want = rows.map { case (y, x, _) =>
      val j = ((y - 10.0) / 10.0).toInt; val i = ((x - 5.0) / 10.0).toInt
      (j * 10 + i) * 0.5 - 3.0
    }
    assert(rows.map(_._3).zip(want).forall { case (g, w) => g == w })
    // the crop pruned the (2,5) chunk grid at the scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(d0,1)"), s"no pushed crop:\n${plan.take(1200)}")
  }

  test("multi-variable open: one scan, one pivot exchange, per-var mask-and-scale") {
    val dir = Files.createTempDirectory("graft-gridopen-mv").toString
    val p = Paths.get(dir, "mv.nc")
    // two variables on the shared (y, x) grid with DIFFERENT pack
    // attrs; t700 idx 5 is its fill
    val t700 = Array.tabulate(12)(i => if (i == 5) -9999.0 else 2800.0 + i)
    val t1000 = Array.tabulate(12)(i => 590.0 + i)
    Files.write(p, NetCDF3.write(
      dims = Seq(NetCDF3.Dim("y", 3), NetCDF3.Dim("x", 4)),
      gattrs = Nil,
      vars = Seq(
        NetCDF3.VarSpec("y", Seq("y"), NetCDF3.NcDouble, Nil,
          Array(0.0, 100.0, 200.0)),
        NetCDF3.VarSpec("x", Seq("x"), NetCDF3.NcDouble, Nil,
          Array(0.0, 100.0, 200.0, 300.0)),
        NetCDF3.VarSpec("t700", Seq("y", "x"), NetCDF3.NcDouble, Seq(
          NetCDF3.Attr("scale_factor", NetCDF3.NcDouble, Array(0.1)),
          NetCDF3.Attr("_FillValue", NetCDF3.NcDouble, Array(-9999.0))), t700),
        NetCDF3.VarSpec("t1000", Seq("y", "x"), NetCDF3.NcDouble, Seq(
          NetCDF3.Attr("scale_factor", NetCDF3.NcDouble, Array(0.5)),
          NetCDF3.Attr("add_offset", NetCDF3.NcDouble, Array(5.0))), t1000))))
    val df = GridOpen.openVars(spark, GridFormat.NetCDF3, p.toString, Seq("t700", "t1000"),
      bounds = Map("x" -> (100.0, 300.0)))
    assert(df.columns.toSeq == Seq("path", "idx", "y", "x", "t700", "t1000"))
    val rows = df.orderBy("idx").collect().map { r =>
      (r.getDouble(2), r.getDouble(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)), r.getDouble(5))
    }
    assert(rows.length == 9) // 3 y x 3 kept x
    // idx 5 = (y 1, x 1): t700 fill -> null; t1000 = (591+5... idx arith)
    val atFill = rows.find(r => r._1 == 100.0 && r._2 == 100.0).get
    assert(atFill._3.isEmpty && atFill._4 == (590.0 + 5) * 0.5 + 5.0)
    val r0 = rows.find(r => r._1 == 0.0 && r._2 == 100.0).get
    assert(r0._3.contains((2800.0 + 1) * 0.1) && r0._4 == (590.0 + 1) * 0.5 + 5.0)
    // plan: one scan (dataset IN pushed), ONE exchange (the pivot agg),
    // no join of any kind
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("In(dataset"), s"dataset IN must push:\n${plan.take(1200)}")
    assert(!plan.contains("Join"), s"multi-open must not self-join:\n${plan.take(1200)}")
    val exchanges = "Exchange".r.findAllIn(plan.replace("BroadcastExchange", "BX")).size
    assert(exchanges == 1, s"expected exactly 1 exchange (the pivot), got $exchanges")
    // a variable off the shared grid refuses loudly
    val e = intercept[IllegalArgumentException](
      GridOpen.openVars(spark, GridFormat.NetCDF3, p.toString, Seq("t700", "y")))
    assert(e.getMessage.contains("shared grid"))
  }

  test("multi-variable CATALOG open: store pruning + pivot + per-store decode") {
    val dir = Files.createTempDirectory("graft-gridopen-mvcat").toString
    // three stores with DISJOINT y grids; s2 lacks t1000 so it's not a
    // member of the two-variable catalog at all
    def store(name: String, yBase: Double, base: Double,
        withT1000: Boolean): Unit = {
      val s = Paths.get(dir, s"$name.zarr")
      Files.createDirectories(s)
      Files.writeString(s.resolve(".zgroup"), """{"zarr_format": 2}""")
      def arr(aName: String, shape: Seq[Int], dims: Seq[String],
          data: Array[Double]): Unit = {
        val d = s.resolve(aName); Files.createDirectories(d)
        Files.writeString(d.resolve(".zarray"),
          s"""{"zarr_format": 2, "shape": [${shape.mkString(",")}],
             | "chunks": [${shape.mkString(",")}], "dtype": ">f8",
             | "compressor": null, "fill_value": "NaN", "filters": null,
             | "order": "C"}""".stripMargin)
        Files.writeString(d.resolve(".zattrs"),
          s"""{"_ARRAY_DIMENSIONS": [${dims.map("\"" + _ + "\"").mkString(",")}]}""")
        val bb = java.nio.ByteBuffer.allocate(data.length * 8)
        data.foreach(bb.putDouble)
        Files.write(d.resolve(shape.map(_ => "0").mkString(".")), bb.array())
      }
      arr("t700", Seq(3, 2), Seq("y", "x"), Array.tabulate(6)(i => base + i))
      if (withT1000)
        arr("t1000", Seq(3, 2), Seq("y", "x"),
          Array.tabulate(6)(i => base + 50 + i))
      arr("y", Seq(3), Seq("y"), Array.tabulate(3)(j => yBase + j * 100.0))
      arr("x", Seq(2), Seq("x"), Array(0.0, 10.0))
    }
    store("mA", 0.0, 100.0, withT1000 = true)
    store("mB", 1000.0, 200.0, withT1000 = true)
    store("mC", 2000.0, 300.0, withT1000 = false)
    // y in [1000, 1100]: only mB's rows 0-1 (mA misses, mC not a member)
    val df = GridOpen.varsCatalog(spark, GridFormat.Zarr, dir, Seq("t700", "t1000"),
      bounds = Map("y" -> (1000.0, 1100.0)))
    assert(df.columns.toSeq == Seq("path", "idx", "y", "x", "t700", "t1000"))
    val rows = df.collect().map { r =>
      (r.getString(0).split('/').last, r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
    }.sortBy(x => (x._2, x._3))
    assert(rows.forall(_._1 == "mB.zarr") && rows.length == 4)
    assert(rows.head == (("mB.zarr", 1000.0, 0.0, 200.0, 250.0)))
    assert(rows.last == (("mB.zarr", 1100.0, 10.0, 203.0, 253.0)))
    // the pushed plan names only the surviving store; no sort-merge
    // join anywhere (axes decode via broadcast or expression)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("In(dataset") && plan.contains("mB.zarr"),
      s"pushdown missing:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"), s"decode shuffled:\n${plan.take(1500)}")
  }

  test("vars-catalog over FILES: membership by header, no-bounds path pushdown") {
    val dir = Files.createTempDirectory("graft-gridopen-ncmv").toString
    def nc(name: String, base: Double, withB: Boolean): Unit = {
      val vars = Seq(
        NetCDF3.VarSpec("x", Seq("x"), NetCDF3.NcDouble, Nil,
          Array(0.0, 10.0)),
        NetCDF3.VarSpec("a", Seq("x"), NetCDF3.NcDouble, Nil,
          Array(base, base + 1))) ++
        (if (withB) Seq(NetCDF3.VarSpec("b", Seq("x"), NetCDF3.NcDouble, Nil,
          Array(base + 10, base + 11))) else Nil)
      Files.write(Paths.get(dir, name), NetCDF3.write(
        dims = Seq(NetCDF3.Dim("x", 2)), gattrs = Nil, vars = vars))
    }
    nc("m0.nc", 100.0, withB = true)
    nc("m1.nc", 200.0, withB = true)
    nc("m2.nc", 300.0, withB = false) // not a member: lacks 'b'
    val df = GridOpen.varsCatalog(spark, GridFormat.NetCDF3, dir, Seq("a", "b"))
    assert(df.columns.toSeq == Seq("path", "idx", "x", "a", "b"))
    val rows = df.collect().map(r => (r.getString(0).split('/').last,
      r.getDouble(2), r.getDouble(3), r.getDouble(4))).sorted
    assert(rows.toSeq == Seq(
      ("m0.nc", 0.0, 100.0, 110.0), ("m0.nc", 10.0, 101.0, 111.0),
      ("m1.nc", 0.0, 200.0, 210.0), ("m1.nc", 10.0, 201.0, 211.0)))
    // even with NO bounds, the member path set pushes: m2's 'a' rows
    // must not leak into the pivot as half-null rows
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("In(path") || plan.contains("EqualTo(path") ||
      plan.contains("Or(And("), s"member path set must push:\n${plan.take(1500)}")
    assert(!rows.exists(_._1 == "m2.nc"))
  }

  test("a HOMOGENEOUS catalog decodes via expressions — no joins at all") {
    val dir = Files.createTempDirectory("graft-gridopen-homog").toString
    def nc(name: String, base: Double): Unit =
      Files.write(Paths.get(dir, name), NetCDF3.write(
        dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", 2)),
        gattrs = Nil,
        vars = Seq(
          NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
            Seq(NetCDF3.Attr("units", NetCDF3.NcChar,
              "hours since 2022-03-01")), Array(0.0, 6.0, 12.0, 18.0)),
          NetCDF3.VarSpec("lwp", Seq("time", "x"), NetCDF3.NcDouble, Nil,
            Array.tabulate(8)(i => base + i))),
        numRecs = 4))
    nc("a.nc", 10.0)
    nc("b.nc", 20.0)
    val df = GridOpen.catalog(spark, GridFormat.NetCDF3, dir, "lwp",
      timeBounds = Map("time" -> ("2022-03-01 06:00:00", "2022-03-01 12:00:00")))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"homogeneous catalog must not join:\n${plan.take(1500)}")
    val rows = df.collect().map(r => (r.getString(0).split('/').last,
      r.getTimestamp(2).toInstant.toString, r.getDouble(4))).sorted
    assert(rows.length == 8) // 2 files x 2 kept records x 2 columns
    assert(rows.map(_._2).distinct.toSeq ==
      Seq("2022-03-01T06:00:00Z", "2022-03-01T12:00:00Z"))
    assert(rows.map(_._3).toSet == Set(12.0, 13.0, 14.0, 15.0, 22.0, 23.0, 24.0, 25.0))
  }

  test("zarrCatalog: per-store epochs decode via broadcast joins, stores prune") {
    val dir = Files.createTempDirectory("graft-gridopen-cat").toString
    def store(name: String, units: String, base: Double): Unit = {
      val s = Paths.get(dir, s"$name.zarr")
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
      arr("lwp", Seq(4, 2), Seq("time", "x"),
        Array.tabulate(8)(i => base + i))
      arr("time", Seq(4), Seq("time"), Array(0.0, 6.0, 12.0, 18.0),
        s""", "units": "$units"""")
      arr("x", Seq(2), Seq("x"), Array(50.0, 60.0))
    }
    store("sA", "hours since 2021-01-01", 100.0)
    store("sB", "hours since 2021-01-02", 200.0)
    store("sC", "hours since 2021-01-03", 300.0)
    val df = GridOpen.catalog(spark, GridFormat.Zarr, dir, "lwp",
      timeBounds = Map("time" -> ("2021-01-01 12:00:00", "2021-01-02 06:00:00")))
    assert(df.columns.toSeq == Seq("path", "idx", "time", "x", "value"))
    val rows = df.collect().map { r =>
      (r.getString(0).split('/').last, r.getTimestamp(2).toInstant.toString,
        r.getDouble(3), r.getDouble(4))
    }.sortBy(r => (r._2, r._3))
    // sA rows 2-3 (12:00, 18:00 of Jan 1), sB rows 0-1 (00:00, 06:00 of Jan 2)
    assert(rows.toSeq == Seq(
      ("sA.zarr", "2021-01-01T12:00:00Z", 50.0, 104.0),
      ("sA.zarr", "2021-01-01T12:00:00Z", 60.0, 105.0),
      ("sA.zarr", "2021-01-01T18:00:00Z", 50.0, 106.0),
      ("sA.zarr", "2021-01-01T18:00:00Z", 60.0, 107.0),
      ("sB.zarr", "2021-01-02T00:00:00Z", 50.0, 200.0),
      ("sB.zarr", "2021-01-02T00:00:00Z", 60.0, 201.0),
      ("sB.zarr", "2021-01-02T06:00:00Z", 50.0, 202.0),
      ("sB.zarr", "2021-01-02T06:00:00Z", 60.0, 203.0)))
    // the decode joins are BROADCAST (no exchange of the scan side)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"decode not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"decode shuffled:\n$plan")
  }

  test("rank above the mount surface refuses loudly, even with no bounds") {
    val dir = Files.createTempDirectory("graft-gridopen-rank").toString
    val p = Paths.get(dir, "r5.nc")
    Files.write(p, NetCDF3.write(
      dims = Seq(NetCDF3.Dim("a", 2), NetCDF3.Dim("b", 2), NetCDF3.Dim("c", 2),
        NetCDF3.Dim("d", 2), NetCDF3.Dim("e", 2)),
      gattrs = Nil,
      vars = Seq(NetCDF3.VarSpec("v", Seq("a", "b", "c", "d", "e"),
        NetCDF3.NcDouble, Nil, Array.tabulate(32)(_ * 1.0)))))
    val e = intercept[IllegalArgumentException](
      GridOpen.open(spark, GridFormat.NetCDF3, p.toString, "v"))
    assert(e.getMessage.contains("rank 5") && e.getMessage.contains("d0"),
      s"wanted the domain message, got: ${e.getMessage}")
  }

  test("'months since ...' units refuse loudly instead of decoding as plain numbers") {
    val dir = Files.createTempDirectory("graft-gridopen-months").toString
    val p = Paths.get(dir, "m.nc")
    Files.write(p, NetCDF3.write(
      dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", 2)),
      gattrs = Nil,
      vars = Seq(
        NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
          Seq(NetCDF3.Attr("units", NetCDF3.NcChar, "months since 2000-01-01")),
          Array(0.0, 1.0)),
        NetCDF3.VarSpec("v", Seq("time", "x"), NetCDF3.NcDouble, Nil,
          Array.tabulate(4)(_ * 1.0))),
      numRecs = 2))
    val e = intercept[IllegalArgumentException](
      GridOpen.open(spark, GridFormat.NetCDF3, p.toString, "v"))
    assert(e.getMessage.contains("months"),
      s"wanted the unsupported-step message, got: ${e.getMessage}")
  }

  test("a NaN coordinate keeps a homogeneous catalog join-free and a multi-open open") {
    val dir = Files.createTempDirectory("graft-gridopen-nan").toString
    // shared x grid CONTAINS a NaN (a masked curvilinear cell); both
    // files identical otherwise — the catalog must stay on the
    // expression fast path, and the multi-open must accept the grid
    def nc(name: String, base: Double): Unit =
      Files.write(Paths.get(dir, name), NetCDF3.write(
        dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", 3)),
        gattrs = Nil,
        vars = Seq(
          NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
            Seq(NetCDF3.Attr("units", NetCDF3.NcChar,
              "hours since 2022-03-01")), Array(0.0, 6.0)),
          NetCDF3.VarSpec("x", Seq("x"), NetCDF3.NcDouble, Nil,
            Array(0.0, Double.NaN, 20.0)),
          NetCDF3.VarSpec("a", Seq("time", "x"), NetCDF3.NcDouble, Nil,
            Array.tabulate(6)(i => base + i)),
          NetCDF3.VarSpec("b", Seq("time", "x"), NetCDF3.NcDouble, Nil,
            Array.tabulate(6)(i => base + 50 + i))),
        numRecs = 2))
    nc("a.nc", 10.0)
    nc("b.nc", 20.0)
    val df = GridOpen.catalog(spark, GridFormat.NetCDF3, dir, "a",
      timeBounds = Map("time" -> ("2022-03-01 00:00:00", "2022-03-01 06:00:00")))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      s"NaN coord pushed a homogeneous catalog onto joins:\n${plan.take(1500)}")
    assert(df.count() == 12)
    // multi-variable open on the NaN-bearing shared grid succeeds
    val mv = GridOpen.openVars(spark, GridFormat.NetCDF3, s"$dir/a.nc", Seq("a", "b"))
    assert(mv.columns.toSeq == Seq("path", "idx", "time", "x", "a", "b"))
    assert(mv.count() == 6)
  }

  test("per-store pack attrs decode via a broadcast table (the CERES per-granule pattern)") {
    val dir = Files.createTempDirectory("graft-gridopen-pack").toString
    // each granule carries its OWN scale/offset/fill — reference
    // sources/ceres_syn1deg_modis/extract.py reads each file's scales
    def nc(name: String, scale: Double, offset: Double, fill: Double,
        raw: Array[Double]): Unit =
      Files.write(Paths.get(dir, name), NetCDF3.write(
        dims = Seq(NetCDF3.Dim("x", 3)),
        gattrs = Nil,
        vars = Seq(
          NetCDF3.VarSpec("x", Seq("x"), NetCDF3.NcDouble, Nil,
            Array(0.0, 10.0, 20.0)),
          NetCDF3.VarSpec("v", Seq("x"), NetCDF3.NcDouble, Seq(
            NetCDF3.Attr("scale_factor", NetCDF3.NcDouble, Array(scale)),
            NetCDF3.Attr("add_offset", NetCDF3.NcDouble, Array(offset)),
            NetCDF3.Attr("_FillValue", NetCDF3.NcDouble, Array(fill))), raw))))
    nc("g0.nc", 0.5, 2.0, -99.0, Array(4.0, -99.0, 8.0))
    nc("g1.nc", 0.1, 100.0, -1.0, Array(30.0, 40.0, -1.0))
    val df = GridOpen.catalog(spark, GridFormat.NetCDF3, dir, "v")
    val rows = df.collect().map { r =>
      (r.getString(0).split('/').last, r.getDouble(2),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))
    }.sortBy(r => (r._1, r._2))
    assert(rows.toSeq == Seq(
      ("g0.nc", 0.0, Some(4.0 * 0.5 + 2.0)),
      ("g0.nc", 10.0, None), // g0's OWN fill
      ("g0.nc", 20.0, Some(8.0 * 0.5 + 2.0)),
      ("g1.nc", 0.0, Some(30.0 * 0.1 + 100.0)),
      ("g1.nc", 10.0, Some(40.0 * 0.1 + 100.0)),
      ("g1.nc", 20.0, None))) // g1's OWN fill (-1 is DATA for g0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"per-store attrs must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin"), s"attrs shuffled:\n${plan.take(1500)}")
  }
}
