package graft.sources

import java.nio.file.Files

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

/** The manifest-planned opens take the storage format from the
  * manifest's own `format` column: one small catalog written as zarr
  * stores, netCDF classic files and netCDF-4/HDF5 files must decode to
  * the same rows through [[GridOpen.catalogFromManifest]],
  * [[GridOpen.varsCatalogFromManifest]] and
  * [[GridOpen.materializeFromManifest]], with no format named by the
  * caller. Each single-variable open is the one-variable case of its
  * multi-variable twin, and the manifest planner submits the same jobs
  * per regime for one variable. */
class ManifestFormatSpec extends SparkSpec {

  // three scenes on a (time = 2, x = 3) grid; each scene's time axis
  // has its own epoch and its `a` its own scale_factor, `b` is unpacked
  private val xs = Array(0.0, 10.0, 20.0)
  private val times = Array(0.0, 12.0)
  private def units(k: Int) = s"hours since 2021-03-0${k + 1}"
  private def scale(k: Int) = 0.5 + k
  private def aRaw(k: Int) = Array.tabulate(6)(j => k * 100.0 + j)
  private def bRaw(k: Int) = Array.tabulate(6)(j => -k * 10.0 - j)

  private def writeZarr(dir: String, k: Int, withA: Boolean): Unit = {
    val store = s"$dir/s$k.zarr"
    ByteStore.writeString(s"$store/.zgroup", """{"zarr_format": 2}""")
    def arr(name: String, shape: Seq[Int], dims: Seq[String],
        data: Array[Double], extra: String = ""): Unit = {
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
    if (withA) arr("a", Seq(2, 3), Seq("time", "x"), aRaw(k), s""", "scale_factor": ${scale(k)}""")
    arr("b", Seq(2, 3), Seq("time", "x"), bRaw(k))
    arr("time", Seq(2), Seq("time"), times, s""", "units": "${units(k)}"""")
    arr("x", Seq(3), Seq("x"), xs)
  }

  private def writeNetcdf3(dir: String, k: Int, withA: Boolean): Unit =
    ByteStore.writeAllBytes(s"$dir/s$k.nc", NetCDF3.write(
      dims = Seq(NetCDF3.Dim("time", 2), NetCDF3.Dim("x", 3)),
      gattrs = Nil,
      vars = Seq(
        NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
          Seq(NetCDF3.Attr("units", NetCDF3.NcChar, units(k))), times),
        NetCDF3.VarSpec("x", Seq("x"), NetCDF3.NcDouble, Nil, xs),
        NetCDF3.VarSpec("a", Seq("time", "x"), NetCDF3.NcDouble,
          Seq(NetCDF3.Attr("scale_factor", NetCDF3.NcDouble, Array(scale(k)))),
          aRaw(k)),
        NetCDF3.VarSpec("b", Seq("time", "x"), NetCDF3.NcDouble, Nil, bRaw(k)))
        .filter(v => withA || v.name != "a")))

  private def writeHdf5(dir: String, k: Int, withA: Boolean): Unit = {
    val dimList = HDF5.WAttrDimList("DIMENSION_LIST", Seq("time", "x"))
    ByteStore.writeAllBytes(s"$dir/s$k.h5", HDF5.write(Seq(
      HDF5.DsSpec("a", Seq(2, 3), aRaw(k), chunkDims = Some(Seq(1, 3)),
        attrs = Seq(dimList, HDF5.WAttrDouble("scale_factor", Seq(scale(k))))),
      HDF5.DsSpec("b", Seq(2, 3), bRaw(k), chunkDims = Some(Seq(1, 3)),
        attrs = Seq(dimList)),
      HDF5.DsSpec("time", Seq(2), times, attrs = Seq(
        HDF5.WAttrString("NAME", "time"), HDF5.WAttrString("units", units(k)))),
      HDF5.DsSpec("x", Seq(3), xs, attrs = Seq(HDF5.WAttrString("NAME", "x"))))
      .filter(d => withA || d.name != "a")))
  }

  private val writers: Seq[(GridFormat, (String, Int, Boolean) => Unit)] = Seq(
    (GridFormat.Zarr, writeZarr), (GridFormat.NetCDF3, writeNetcdf3),
    (GridFormat.Hdf5, writeHdf5))

  /** One manifest per format over the same three scenes. */
  private lazy val manifests: Seq[(GridFormat, String)] = {
    val root = Files.createTempDirectory("graft-manifest-format").toString
    writers.map { case (f, write) =>
      val dir = s"$root/${f.name}"
      ByteStore.mkdirs(dir)
      (0 until 3).foreach(write(dir, _, true))
      val manifest = s"$root/_manifest_${f.name}"
      CatalogManifest.build(spark, f.name, dir, Seq("a", "b"), manifest)
      (f, manifest)
    }
  }

  // scene 0 keeps time index 1 (03-01 12:00), scene 1 time index 0
  // (03-02 00:00), scene 2 nothing; x in [5, 25] keeps x indexes 1..2
  private val bounds = Map("x" -> (5.0, 25.0))
  private val timeBounds = Map("time" -> ("2021-03-01 12:00:00", "2021-03-02 00:00:00"))

  private def stem(path: String) = path.split('/').last.split('.').head

  /** Rows keyed on the scene's stem (`s0`), every other column as is. */
  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(r => stem(r.getString(0)) +: r.toSeq.tail).toSeq
      .sortBy(_.take(2).mkString("/"))

  private def sameAcrossFormats(label: String)(open: String => Seq[Seq[Any]]): Unit = {
    val byFormat = manifests.map { case (f, m) => (f, open(m)) }
    val (_, zarrRows) = byFormat.head
    assert(zarrRows.nonEmpty, s"$label: zarr rows empty")
    byFormat.tail.foreach { case (f, got) =>
      assert(got == zarrRows, s"$label: $f rows differ from zarr rows")
    }
  }

  test("the manifest records each catalog's format") {
    manifests.foreach { case (f, m) =>
      val stored = CatalogManifest.read(spark, m).select("format").distinct()
        .collect().map(_.getString(0)).toSeq
      assert(stored == Seq(f.name))
    }
  }

  test("an unknown format name fails loudly") {
    val dir = Files.createTempDirectory("graft-manifest-grib").toString
    val e = intercept[IllegalArgumentException] {
      CatalogManifest.build(spark, "grib", dir, Seq("a"), s"$dir/_manifest")
    }
    assert(e.getMessage.contains("unknown grid format 'grib' (zarr/netcdf3/hdf5)"),
      e.getMessage)
  }

  test("a live catalog open fails loudly on a store lacking the variable, in every format") {
    val root = Files.createTempDirectory("graft-manifest-member").toString
    writers.foreach { case (f, write) =>
      val dir = s"$root/${f.name}"
      ByteStore.mkdirs(dir)
      // scene 2 holds `b` only
      (0 until 3).foreach(k => write(dir, k, k < 2))
      assert(GridOpen.catalog(spark, f, dir, "b").count() == 18, f.name)
      val e = intercept[IllegalArgumentException](GridOpen.catalog(spark, f, dir, "a"))
      assert(e.getMessage.contains("s2.") && e.getMessage.contains("a"),
        s"${f.name}: ${e.getMessage}")
    }
  }

  test("catalogFromManifest decodes the same rows from zarr, netCDF-3 and HDF5 manifests") {
    sameAcrossFormats("catalog") { m =>
      rows(GridOpen.catalogFromManifest(spark, m, "a", bounds, timeBounds))
    }
    // the decoded values themselves: scale_factor applied per scene
    val zarr = rows(GridOpen.catalogFromManifest(spark, manifests.head._2, "a",
      bounds, timeBounds))
    assert(zarr.map(r => (r(0), r(1), r(3), r(4))) == Seq(
      ("s0", 4L, 10.0, 4.0 * 0.5), ("s0", 5L, 20.0, 5.0 * 0.5),
      ("s1", 1L, 10.0, 101.0 * 1.5), ("s1", 2L, 20.0, 102.0 * 1.5)))
  }

  test("varsCatalogFromManifest decodes the same wide rows from all three formats") {
    sameAcrossFormats("varsCatalog") { m =>
      rows(GridOpen.varsCatalogFromManifest(spark, m, Seq("a", "b"), bounds,
        timeBounds))
    }
  }

  test("materializeFromManifest writes the same scenes and rows from all three formats") {
    val root = Files.createTempDirectory("graft-manifest-format-out").toString
    sameAcrossFormats("materialize") { m =>
      val out = s"$root/${m.split('/').last}"
      val scenes = GridOpen.materializeFromManifest(spark, m, "a", out,
        bounds, timeBounds)
      assert(scenes.map(stem).sorted == Seq("s0", "s1"))
      rows(spark.read.parquet(out).select("path", "idx", "time", "x", "value"))
    }
  }
  private def dirOf(f: GridFormat, manifest: String): String =
    s"${new java.io.File(manifest).getParent}/${f.name}"

  /** Every row, columns as is, sorted on (path, idx). */
  private def allRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.take(2).mkString("/"))

  /** `single` has the rows and columns of `oneVar`, whose `b` column is
    * `value` in `single`, and every value is scene k's raw `b` (unpacked)
    * at its idx. Returns the row count. */
  private def sameAsOneVar(label: String, single: DataFrame,
      oneVar: DataFrame): Int = {
    assert(single.columns.toSeq ==
      oneVar.columns.toSeq.map(c => if (c == "b") "value" else c), label)
    val got = allRows(single)
    assert(got == allRows(oneVar), s"$label: rows differ")
    val vi = single.columns.indexOf("value")
    got.foreach { r =>
      val k = stem(r(0).toString).drop(1).toInt
      assert(r(vi) == bRaw(k)(r(1).asInstanceOf[Long].toInt), s"$label: $r")
    }
    got.size
  }

  test("each single-variable open returns the one-variable multi-variable open's rows, in every format") {
    val root = Files.createTempDirectory("graft-manifest-onevar").toString
    manifests.foreach { case (f, m) =>
      val dir = dirOf(f, m)
      val store = f.stores(dir).head
      Seq((Map.empty[String, (Double, Double)], Map.empty[String, (String, String)],
          6, 18, Seq("s0", "s1", "s2")), (bounds, timeBounds, 2, 4, Seq("s0", "s1")))
        .foreach {
        case (nb, tb, storeRows, catalogRows, scenes) =>
          val label = s"${f.name} bounded=${nb.nonEmpty}"
          assert(sameAsOneVar(s"$label open",
            GridOpen.open(spark, f, store, "b", nb, tb),
            GridOpen.openVars(spark, f, store, Seq("b"), nb, tb)) == storeRows)
          assert(sameAsOneVar(s"$label catalog",
            GridOpen.catalog(spark, f, dir, "b", nb, tb),
            GridOpen.varsCatalog(spark, f, dir, Seq("b"), nb, tb)) == catalogRows)
          assert(sameAsOneVar(s"$label catalogFromManifest",
            GridOpen.catalogFromManifest(spark, m, "b", nb, tb),
            GridOpen.varsCatalogFromManifest(spark, m, Seq("b"), nb, tb)) ==
            catalogRows)
          val out = s"$root/${f.name}-${nb.nonEmpty}"
          val one = GridOpen.materializeFromManifest(spark, m, "b", s"$out-one",
            nb, tb)
          val vars = GridOpen.materializeVarsFromManifest(spark, m, Seq("b"),
            s"$out-vars", nb, tb)
          assert(one.map(stem).sorted == scenes && vars == one,
            s"$label materialized $one and $vars")
          assert(sameAsOneVar(s"$label materializeFromManifest",
            spark.read.parquet(s"$out-one"), spark.read.parquet(s"$out-vars")) ==
            catalogRows)
      }
    }
  }
  test("a live multi-variable catalog skips a store lacking a variable, in every format") {
    val root = Files.createTempDirectory("graft-manifest-varsmember").toString
    writers.foreach { case (f, write) =>
      val dir = s"$root/${f.name}"
      ByteStore.mkdirs(dir)
      // scene 2 holds `b` only: its `b` rows must not join the wide frame
      (0 until 3).foreach(k => write(dir, k, k < 2))
      val got = rows(GridOpen.varsCatalog(spark, f, dir, Seq("a", "b")))
      assert(got.size == 12 && got.map(_.head).distinct == Seq("s0", "s1"),
        s"${f.name}: ${got.map(_.head).distinct}")
    }
  }

  test("a single-variable open plans no pivot exchange, in every format") {
    def exchanges(df: DataFrame): Int = "Exchange".r.findAllIn(
      df.queryExecution.executedPlan.toString.replace("BroadcastExchange", "BX")).size
    manifests.foreach { case (f, m) =>
      val dir = dirOf(f, m)
      Seq(
        "open" -> GridOpen.open(spark, f, f.stores(dir).head, "a"),
        "catalog" -> GridOpen.catalog(spark, f, dir, "a", bounds, timeBounds),
        "catalogFromManifest" -> GridOpen.catalogFromManifest(spark, m, "a"),
        "one-variable varsCatalogFromManifest" ->
          GridOpen.varsCatalogFromManifest(spark, m, Seq("b"), bounds, timeBounds)
      ).foreach { case (label, df) =>
        assert(exchanges(df) == 0, s"${f.name} $label:\n" +
          df.queryExecution.executedPlan)
      }
      // two variables pivot through exactly one
      assert(exchanges(GridOpen.varsCatalogFromManifest(spark, m, Seq("a", "b"))) == 1)
    }
  }

  /** `body`'s result and the Spark jobs it submitted: a listener counts
    * the jobs tagged through a local property, and a differently tagged
    * sentinel job flushes the listener bus (events arrive in order). */
  private def jobsOf[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val key = "graft.spec.jobs"
    val counted = new AtomicInteger
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty(key))) match {
          case Some("count") => counted.incrementAndGet()
          case Some("flush") => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(key, "count")
      val out = try body finally sc.setLocalProperty(key, "flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, TimeUnit.SECONDS), "listener bus did not flush")
      (out, counted.get)
    } finally {
      sc.setLocalProperty(key, null)
      sc.removeSparkListener(listener)
    }
  }

  test("the manifest planner submits the same jobs in every regime for one variable") {
    // (jobs, phase-1 rows collected, phase-2 coordinate cells) per
    // regime, the counts the dedicated single-variable planner had:
    // membership must cost one variable nothing — no grouped semi-join,
    // no extra limit job when everything prunes
    val none = Map.empty[String, (Double, Double)]
    val noTime = Map.empty[String, (String, String)]
    val regimes = Seq(
      ("small unbounded", 2048, none, noTime, (4, 3, 15L)),
      ("small bounded", 2048, bounds, timeBounds, (4, 3, 10L)),
      ("pushed bounded", 0, bounds, timeBounds, (6, 2, 10L)),
      ("pushed all-pruned", 0, Map("x" -> (100.0, 200.0)), noTime, (4, 0, 5L)),
      ("broad", 0, none, noTime, (5, 0, 15L)))
    val wrong = for {
      (f, m) <- manifests
      (label, threshold, nb, tb, want) <- regimes
      got = {
        val saved = CatalogManifest.collectAllBelow
        CatalogManifest.collectAllBelow = threshold
        val (_, jobs) = try jobsOf(GridOpen.catalogFromManifest(spark, m, "b", nb, tb))
          finally CatalogManifest.collectAllBelow = saved
        (jobs, CatalogManifest.lastPhase1Collected,
          CatalogManifest.lastPhase2CoordCells)
      }
      if got != want
    } yield s"${f.name} $label: $got, want $want"
    assert(wrong.isEmpty, wrong.mkString("; "))
  }
}
