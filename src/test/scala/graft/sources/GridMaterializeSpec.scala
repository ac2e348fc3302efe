package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Scene-idempotent materialization of a turnkey catalog slice — the
  * luigi skip-if-present contract: a re-run after deleting ONE scene's
  * output partition reads and writes ONLY that scene (I/O-count
  * asserted), a fully-materialized table re-runs for free. */
class GridMaterializeSpec extends SparkSpec {

  private def recording[T](f: => T): (T, ByteStore.IoRecorder) = {
    val r = ByteStore.startRecording()
    try (f, r) finally ByteStore.stopRecording()
  }

  private def writeCatalog(dir: String, n: Int): Unit =
    (0 until n).foreach { i =>
      val store = s"$dir/sm$i.zarr"
      ByteStore.writeString(s"$store/.zgroup", """{"zarr_format": 2}""")
      def arr(name: String, shape: Seq[Int], dims: Seq[String],
          data: Array[Double], extra: String = ""): Unit = {
        ByteStore.writeString(s"$store/$name/.zarray",
          s"""{"zarr_format": 2, "shape": [${shape.mkString(",")}],
             | "chunks": [${shape.mkString(",")}], "dtype": ">f8",
             | "compressor": null, "fill_value": "NaN", "filters": null,
             | "order": "C"}""".stripMargin)
        ByteStore.writeString(s"$store/$name/.zattrs",
          s"""{"_ARRAY_DIMENSIONS": [${dims.map("\"" + _ + "\"").mkString(",")}]$extra}""")
        val bb = java.nio.ByteBuffer.allocate(data.length * 8)
        data.foreach(bb.putDouble)
        ByteStore.writeAllBytes(s"$store/$name/${shape.map(_ => "0").mkString(".")}",
          bb.array())
      }
      arr("lwp", Seq(2, 3), Seq("time", "x"),
        Array.tabulate(6)(j => i * 100.0 + j))
      arr("time", Seq(2), Seq("time"), Array(0.0, 12.0),
        s""", "units": "hours since 2021-02-0${i + 1}"""")
      arr("x", Seq(3), Seq("x"), Array(0.0, 10.0, 20.0))
    }

  test("materialize is scene-idempotent: full run, free re-run, single-scene repair") {
    val dir = Files.createTempDirectory("graft-mat").toString
    writeCatalog(dir, 4)
    val out = s"$dir/_out"
    // first run: all 4 scenes
    val first = GridOpen.materialize(spark, GridFormat.Zarr, dir, "lwp", out)
    assert(first.sorted == (0 until 4).map(i => s"sm$i.zarr"))
    val table = spark.read.parquet(out)
    assert(table.columns.toSet ==
      Set("path", "idx", "time", "x", "value", "scene"))
    assert(table.count() == 24)
    val want = table.orderBy("scene", "idx").collect().map(_.toString)
    // re-run: nothing pending, and NO store is opened or read
    val (second, rec2) = recording {
      GridOpen.materialize(spark, GridFormat.Zarr, dir, "lwp", out)
    }
    assert(second.isEmpty)
    val touched2 = rec2.pathsTouched.filter(_.contains(".zarr"))
    assert(touched2.isEmpty, s"free re-run touched stores: $touched2")
    // repair: drop ONE scene's partition; the re-run reads ONLY that
    // scene's store and rewrites ONLY its partition
    def rmTree(p: java.nio.file.Path): Unit =
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.delete(f); () })
    rmTree(Paths.get(s"$out/scene=sm2.zarr"))
    val untouchedParts = (Seq(0, 1, 3)).map { i =>
      val d = new java.io.File(s"$out/scene=sm$i.zarr")
      d.getName -> Option(d.listFiles()).getOrElse(Array.empty)
        .map(f => (f.getName, f.lastModified())).toSet
    }.toMap
    val (third, rec3) = recording {
      GridOpen.materialize(spark, GridFormat.Zarr, dir, "lwp", out)
    }
    assert(third == Seq("sm2.zarr"))
    val touched3 = rec3.pathsTouched.filter(_.contains(".zarr"))
    val offenders = touched3.filterNot(_.contains("sm2.zarr"))
    assert(offenders.isEmpty, s"repair run touched other scenes: $offenders")
    // the other partitions' files are byte-for-byte untouched
    untouchedParts.foreach { case (name, files) =>
      val d = new java.io.File(s"$out/$name")
      val now = Option(d.listFiles()).getOrElse(Array.empty)
        .map(f => (f.getName, f.lastModified())).toSet
      assert(now == files, s"partition $name was rewritten")
    }
    // and the repaired table equals the original
    val got = spark.read.parquet(out).orderBy("scene", "idx")
      .collect().map(_.toString)
    assert(got.toSeq == want.toSeq)
  }

  test("file-catalog materialize: netCDF-3 scenes repair one file at a time") {
    val dir = Files.createTempDirectory("graft-mat-nc").toString
    def nc(name: String, day: Int, base: Double): Unit =
      Files.write(Paths.get(dir, name), NetCDF3.write(
        dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", 2)),
        gattrs = Nil,
        vars = Seq(
          NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
            Seq(NetCDF3.Attr("units", NetCDF3.NcChar,
              s"hours since 2022-03-0$day")), Array(0.0, 6.0)),
          NetCDF3.VarSpec("lwp", Seq("time", "x"), NetCDF3.NcDouble, Nil,
            Array.tabulate(4)(i => base + i))),
        numRecs = 2))
    nc("a.nc", 1, 10.0); nc("b.nc", 2, 20.0); nc("c.nc", 3, 30.0)
    val out = s"$dir/_out"
    assert(GridOpen.materialize(spark, GridFormat.NetCDF3, s"$dir/*.nc", "lwp", out)
      .sorted == Seq("a.nc", "b.nc", "c.nc"))
    assert(spark.read.parquet(out).count() == 12)
    def rmTree(p: java.nio.file.Path): Unit =
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.delete(f); () })
    rmTree(Paths.get(s"$out/scene=b.nc"))
    val (again, rec) = recording {
      GridOpen.materialize(spark, GridFormat.NetCDF3, s"$dir/*.nc", "lwp", out)
    }
    assert(again == Seq("b.nc"))
    val touched = rec.pathsTouched.filter(_.endsWith(".nc"))
    assert(touched.forall(_.endsWith("b.nc")),
      s"other files touched: ${touched.filterNot(_.endsWith("b.nc"))}")
    assert(spark.read.parquet(out).count() == 12)
  }

  test("file-catalog manifest materialize: netCDF-3 pending files pay data slabs only") {
    val dir = Files.createTempDirectory("graft-mat-ncm").toString
    def nc(name: String, day: Int, base: Double): Unit =
      Files.write(Paths.get(dir, name), NetCDF3.write(
        dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", 2)),
        gattrs = Nil,
        vars = Seq(
          NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
            Seq(NetCDF3.Attr("units", NetCDF3.NcChar,
              s"hours since 2022-03-0$day")), Array(0.0, 6.0)),
          NetCDF3.VarSpec("lwp", Seq("time", "x"), NetCDF3.NcDouble, Nil,
            Array.tabulate(4)(i => base + i))),
        numRecs = 2))
    nc("a.nc", 1, 10.0); nc("b.nc", 2, 20.0); nc("c.nc", 7, 30.0)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "netcdf3", s"$dir/*.nc", Seq("lwp"), manifest)
    val out = s"$dir/_out"
    // the window excludes c.nc (day 7): never pending, never touched
    val tb = Map("time" -> ("2022-03-01 00:00:00", "2022-03-02 23:00:00"))
    assert(GridOpen.materializeFromManifest(spark, manifest,
      "lwp", out, timeBounds = tb).sorted == Seq("a.nc", "b.nc"))
    assert(spark.read.parquet(out).count() == 8)
    // repair one file: the pending wave touches ONLY it
    def rmTree(p: java.nio.file.Path): Unit =
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.delete(f); () })
    rmTree(Paths.get(s"$out/scene=b.nc"))
    val (again, rec) = recording {
      GridOpen.materializeFromManifest(spark, manifest, "lwp",
        out, timeBounds = tb)
    }
    assert(again == Seq("b.nc"))
    val touched = rec.pathsTouched.filter(_.endsWith(".nc"))
    assert(touched.forall(_.endsWith("b.nc")),
      s"other files touched: ${touched.filterNot(_.endsWith("b.nc"))}")
    // idempotent completion; the hdf5 sibling shares the skeleton and
    // is exercised by the hdf5 manifest-open specs
    assert(GridOpen.materializeFromManifest(spark, manifest,
      "lwp", out, timeBounds = tb).isEmpty)
    assert(spark.read.parquet(out).count() == 8)
  }

  test("vars-catalog manifest materialize: wide frame, membership, scene repair") {
    // the aux-fields flow persisted per scene: members (holding ALL
    // variables) materialize as the wide frame; a non-member is never
    // pending; a single-scene repair touches only that scene
    val dir = Files.createTempDirectory("graft-mat-mv").toString
    def store(name: String, yBase: Double, t7: Double,
        t10: Option[Double]): Unit = {
      def arr(aName: String, shape: Seq[Int], dims: Seq[String],
          data: Array[Double]): Unit = {
        val d = s"$dir/$name.zarr/$aName"
        ByteStore.writeString(s"$d/.zarray",
          s"""{"zarr_format": 2, "shape": [${shape.mkString(",")}],
             | "chunks": [${shape.mkString(",")}], "dtype": ">f8",
             | "compressor": null, "fill_value": "NaN", "filters": null,
             | "order": "C"}""".stripMargin)
        ByteStore.writeString(s"$d/.zattrs",
          s"""{"_ARRAY_DIMENSIONS": [${dims.map("\"" + _ + "\"").mkString(",")}]}""")
        val bb = java.nio.ByteBuffer.allocate(data.length * 8)
        data.foreach(bb.putDouble)
        ByteStore.writeAllBytes(s"$d/${shape.map(_ => "0").mkString(".")}",
          bb.array())
      }
      ByteStore.writeString(s"$dir/$name.zarr/.zgroup", """{"zarr_format": 2}""")
      arr("t700", Seq(2, 3), Seq("y", "x"), Array.tabulate(6)(i => t7 + i * 0.5))
      t10.foreach(b => arr("t1000", Seq(2, 3), Seq("y", "x"),
        Array.tabulate(6)(i => b + i * 0.25)))
      arr("y", Seq(2), Seq("y"), Array.tabulate(2)(yBase + _ * 100.0))
      arr("x", Seq(3), Seq("x"), Array.tabulate(3)(_ * 100.0))
    }
    store("xa", 0.0, 270.0, Some(290.0))
    store("xb", 1000.0, 280.0, Some(295.0))
    store("xc", 2000.0, 300.0, None) // lacks t1000: not a member
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("t700", "t1000"), manifest)
    val out = s"$dir/_out"
    val first = GridOpen.materializeVarsFromManifest(spark,
      manifest, Seq("t700", "t1000"), out)
    assert(first.sorted == Seq("xa.zarr", "xb.zarr"))
    val tbl = spark.read.parquet(out)
    assert(tbl.columns.toSet ==
      Set("path", "idx", "y", "x", "t700", "t1000", "scene"))
    assert(tbl.count() == 12) // 2 member scenes x 6 cells, wide
    val xa00 = tbl.where(col("scene") === "xa.zarr" &&
      col("y") === 0.0 && col("x") === 0.0).collect()(0)
    assert(xa00.getAs[Double]("t700") == 270.0 &&
      xa00.getAs[Double]("t1000") == 290.0)
    // repair one scene: pending wave touches ONLY it
    def rmTree(p: java.nio.file.Path): Unit =
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.delete(f); () })
    rmTree(Paths.get(s"$out/scene=xb.zarr"))
    val (again, rec) = recording {
      GridOpen.materializeVarsFromManifest(spark, manifest,
        Seq("t700", "t1000"), out)
    }
    assert(again == Seq("xb.zarr"))
    val touched = rec.pathsTouched.filter(_.contains(".zarr"))
    assert(touched.forall(_.contains("xb.zarr")),
      s"other scenes touched: ${touched.filterNot(_.contains("xb.zarr"))}")
    // idempotent completion
    assert(GridOpen.materializeVarsFromManifest(spark, manifest,
      Seq("t700", "t1000"), out).isEmpty)
    assert(spark.read.parquet(out).count() == 12)
  }

  test("manifest-planned materialize: pending scenes pay data chunks only") {
    val dir = Files.createTempDirectory("graft-mat-m").toString
    writeCatalog(dir, 4)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    val out = s"$dir/_out"
    // bounds exclude sm3 (its epoch is Feb 4) -> it is never pending
    val tb = Map("time" -> ("2021-02-01 00:00:00", "2021-02-03 23:00:00"))
    val first = GridOpen.materializeFromManifest(spark, manifest,
      "lwp", out, timeBounds = tb)
    assert(first.sorted == Seq("sm0.zarr", "sm1.zarr", "sm2.zarr"))
    // repair one scene: the pending wave touches ONLY that scene, and
    // never its coordinate arrays (coords/attrs come from the
    // manifest; the data array's own chunk-layout metadata is the one
    // legitimate read the scan still needs)
    def rmTree(p: java.nio.file.Path): Unit =
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.delete(f); () })
    rmTree(Paths.get(s"$out/scene=sm1.zarr"))
    val (again, rec) = recording {
      GridOpen.materializeFromManifest(spark, manifest, "lwp", out,
        timeBounds = tb)
    }
    assert(again == Seq("sm1.zarr"))
    val touched = rec.pathsTouched.filter(_.contains(".zarr"))
    assert(touched.forall(_.contains("sm1.zarr")),
      s"other scenes touched: ${touched.filterNot(_.contains("sm1.zarr"))}")
    val coordTouched = touched.filter(p =>
      p.contains("/time/") || p.contains("/x/"))
    assert(coordTouched.isEmpty,
      s"manifest materialize re-read coordinate metadata: $coordTouched")
    // idempotent completion
    assert(GridOpen.materializeFromManifest(spark, manifest, "lwp",
      out, timeBounds = tb).isEmpty)
    assert(spark.read.parquet(out).count() == 18)
    // bounds that exclude EVERY scene: nothing pending, nothing
    // "materialized", on every run (the schema-fallback store is not
    // treated as pending)
    val out2 = s"$dir/_out2"
    val never = Map("time" -> ("1999-01-01 00:00:00", "1999-01-02 00:00:00"))
    assert(GridOpen.materializeFromManifest(spark, manifest, "lwp",
      out2, timeBounds = never).isEmpty)
    assert(GridOpen.materializeFromManifest(spark, manifest, "lwp",
      out2, timeBounds = never).isEmpty)
    // staleness of a DONE scene must not wedge a skip-everything
    // re-run; staleness of a PENDING scene must still refuse
    ByteStore.writeString(s"$dir/sm0.zarr/lwp/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["time","x"], "note": "late-edit"}""")
    assert(GridOpen.materializeFromManifest(spark, manifest, "lwp",
      out, timeBounds = tb).isEmpty) // sm0 done -> not verified
    rmTree(Paths.get(s"$out/scene=sm0.zarr")) // now sm0 IS pending
    val e = intercept[IllegalArgumentException](
      GridOpen.materializeFromManifest(spark, manifest, "lwp",
        out, timeBounds = tb))
    assert(e.getMessage.contains("sm0") && e.getMessage.contains("refresh"))
    CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
    assert(GridOpen.materializeFromManifest(spark, manifest, "lwp",
      out, timeBounds = tb) == Seq("sm0.zarr"))
  }

  test("a stale NOT-done scene the exact prune drops still refuses (its coords made the call)") {
    val dir = Files.createTempDirectory("graft-mat-window").toString
    writeCatalog(dir, 2)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    val out = s"$dir/_out"
    // sm0's time coords are {0, 12} hours since Feb 1; the window
    // (02:00, 09:00) intersects the ENVELOPE [0, 12] but contains no
    // exact coordinate -> sm0 is an envelope survivor the exact prune
    // drops; sm1 (Feb 2 epoch) is envelope-pruned outright
    val tb = Map("time" -> ("2021-02-01 02:00:00", "2021-02-01 09:00:00"))
    assert(GridOpen.materializeFromManifest(spark, manifest, "lwp",
      out, timeBounds = tb).isEmpty)
    // sm0 changes: a re-run must REFUSE — with the manifest's old
    // coords it was dropped by the exact prune, but the changed store
    // could now hold matching coordinates (silently returning empty
    // would be data loss)
    ByteStore.writeString(s"$dir/sm0.zarr/lwp/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["time","x"], "note": "drifted"}""")
    val e = intercept[IllegalArgumentException](
      GridOpen.materializeFromManifest(spark, manifest, "lwp",
        out, timeBounds = tb))
    assert(e.getMessage.contains("sm0") && e.getMessage.contains("refresh"))
    // refresh heals; the (unchanged-coords) scene is still exact-pruned
    CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
    assert(GridOpen.materializeFromManifest(spark, manifest, "lwp",
      out, timeBounds = tb).isEmpty)
  }

  test("scene names with '+' round-trip through partition escaping") {
    // URLDecoder would turn 'scene=a+b.nc' into 'a b.nc' and
    // re-materialize the scene forever
    val dir = Files.createTempDirectory("graft-mat-plus").toString
    Files.write(Paths.get(dir, "a+b.nc"), NetCDF3.write(
      dims = Seq(NetCDF3.Dim("x", 2)), gattrs = Nil,
      vars = Seq(
        NetCDF3.VarSpec("x", Seq("x"), NetCDF3.NcDouble, Nil, Array(0.0, 1.0)),
        NetCDF3.VarSpec("v", Seq("x"), NetCDF3.NcDouble, Nil, Array(7.0, 8.0)))))
    val out = s"$dir/_out"
    assert(GridOpen.materialize(spark, GridFormat.NetCDF3, s"$dir/*.nc", "v", out)
      == Seq("a+b.nc"))
    assert(GridOpen.materialize(spark, GridFormat.NetCDF3, s"$dir/*.nc", "v", out)
      .isEmpty, "the '+' scene must be recognized as done")
    assert(spark.read.parquet(out).count() == 2)
  }
}
