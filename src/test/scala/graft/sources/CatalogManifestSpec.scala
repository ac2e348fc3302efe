package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The persisted catalog manifest: builds once, plans catalog crops
  * with ZERO per-store metadata reads (I/O-count asserted), refreshes
  * incrementally on store mtime/size change, and matches the live
  * catalog open row-for-row. */
class CatalogManifestSpec extends SparkSpec {

  private def recording[T](f: => T): (T, ByteStore.IoRecorder) = {
    val r = ByteStore.startRecording()
    try (f, r) finally ByteStore.stopRecording()
  }

  /** The pointed generation directory name (writer-unique suffix and
    * all) and its number — generation dirs are `_gen-NNNNNNNN-<token>`
    * since round 19, so specs assert on the NUMBER, not exact names. */
  private def pointedGen(manifest: String): String =
    ByteStore.readString(s"$manifest/_current").trim
  private def genNumOf(name: String): Int =
    "_gen-(\\d{8}).*".r.findFirstMatchIn(name).get.group(1).toInt
  private def genDirNums(manifest: String): Seq[Int] =
    ByteStore.list(manifest).filter(e => e.isDir && e.name.startsWith("_gen-"))
      .map(e => genNumOf(e.name)).sorted

  /** n zarr scene stores with per-store epochs (day i%28+1) and a
    * (time, x) grid at hours 0, 6, 12, 18; `lwp` is one chunk, or one
    * chunk per time step when `chunkPerStep`. */
  private def writeZarrCatalog(dir: String, n: Int, chunkPerStep: Boolean = false): Unit =
    (0 until n).foreach { i =>
      val store = s"$dir/sc${"%03d".format(i)}.zarr"
      ByteStore.writeString(s"$store/.zgroup", """{"zarr_format": 2}""")
      def arr(name: String, shape: Seq[Int], dims: Seq[String],
          data: Array[Double], extra: String = "", chunks: Option[Seq[Int]] = None): Unit = {
        val ch = chunks.getOrElse(shape)
        ByteStore.writeString(s"$store/$name/.zarray",
          s"""{"zarr_format": 2, "shape": [${shape.mkString(",")}],
             | "chunks": [${ch.mkString(",")}], "dtype": ">f8",
             | "compressor": null, "fill_value": "NaN", "filters": null,
             | "order": "C"}""".stripMargin)
        ByteStore.writeString(s"$store/$name/.zattrs",
          s"""{"_ARRAY_DIMENSIONS": [${dims.map("\"" + _ + "\"").mkString(",")}]$extra}""")
        // row-major chunks along the first axis only
        val per = data.length / (shape.head / ch.head)
        data.grouped(per).zipWithIndex.foreach { case (part, c) =>
          val bb = java.nio.ByteBuffer.allocate(part.length * 8)
          part.foreach(bb.putDouble)
          ByteStore.writeAllBytes(s"$store/$name/${(c +: shape.tail.map(_ => 0)).mkString(".")}",
            bb.array())
        }
      }
      val day = 1 + i % 28
      arr("lwp", Seq(4, 3), Seq("time", "x"),
        Array.tabulate(12)(j => i * 100.0 + j),
        chunks = if (chunkPerStep) Some(Seq(1, 3)) else None)
      arr("time", Seq(4), Seq("time"), Array(0.0, 6.0, 12.0, 18.0),
        s""", "units": "hours since 2021-01-${"%02d".format(day)}"""")
      arr("x", Seq(3), Seq("x"), Array(0.0, 10.0, 20.0))
    }

  test("a crop plans no more partitions than its surviving chunks, live and manifest-planned") {
    val dir = Files.createTempDirectory("graft-manif-parts").toString
    writeZarrCatalog(dir, 30, chunkPerStep = true)
    val manifest = s"$dir/_manifest"
    assert(CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest) == 30L)
    val tb = Map("time" -> ("2021-01-11 02:00:00", "2021-01-13 23:00:00"))
    // day 11 keeps its 06, 12 and 18 h chunks, days 12 and 13 all four;
    // every other store and chunk is pruned
    val surviving = 3 + 4 + 4
    Seq(
      "live" -> GridOpen.catalog(spark, GridFormat.Zarr, dir, "lwp", timeBounds = tb),
      "manifest" -> GridOpen.catalogFromManifest(spark, manifest, "lwp", timeBounds = tb)
    ).foreach { case (how, df) =>
      assert(df.count() == surviving * 3L, how)
      val parts = df.rdd.getNumPartitions
      assert(parts >= 1 && parts <= surviving,
        s"$how crop planned $parts partitions for $surviving surviving chunks")
    }
  }

  test("manifest-planned crop: zero reads on excluded stores, rows match the live open") {
    val dir = Files.createTempDirectory("graft-manif-z").toString
    writeZarrCatalog(dir, 12)
    val manifest = s"$dir/_manifest"
    assert(CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest) == 12L)
    val tb = Map("time" -> ("2021-01-03 02:00:00", "2021-01-04 23:00:00"))
    // live rows (this session pays the per-store wave) — recorded for
    // the relative metadata-op claim below
    val (live, liveRec) = recording {
      GridOpen.catalog(spark, GridFormat.Zarr, dir, "lwp", timeBounds = tb)
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getTimestamp(2).toInstant.toString, r.getDouble(3), r.getDouble(4)))
        .sortBy(r => (r._1, r._2))
    }
    assert(live.nonEmpty)
    // force the PUSHED phase-1 regime (a 12-store catalog would take
    // the small-catalog single-collect path) — this test pins the
    // pushed path's I/O and collected-rows behavior
    val savedThreshold = CatalogManifest.collectAllBelow
    CatalogManifest.collectAllBelow = 0
    val ((got, pushedCollected), rec) = try recording {
      val rows = GridOpen.catalogFromManifest(spark, manifest, "lwp",
          timeBounds = tb)
        .collect().map(r => (r.getString(0), r.getLong(1),
          r.getTimestamp(2).toInstant.toString, r.getDouble(3), r.getDouble(4)))
        .sortBy(r => (r._1, r._2))
      (rows, CatalogManifest.lastPhase1Collected)
    } finally CatalogManifest.collectAllBelow = savedThreshold
    assert(got.toSeq == live.toSeq)
    // and the SMALL-catalog regime (the default here) returns the
    // same rows through its single-collect plan
    val small = GridOpen.catalogFromManifest(spark, manifest, "lwp",
        timeBounds = tb)
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getTimestamp(2).toInstant.toString, r.getDouble(3), r.getDouble(4)))
      .sortBy(r => (r._1, r._2))
    assert(small.toSeq == live.toSeq)
    // days 3 and 4 survive (stores sc002, sc003); every OTHER store:
    // zero opens, zero reads, zero bytes, not even a touched path
    val surviving = got.map(_._1.split('/').last.stripSuffix(".zarr")).toSet
    assert(surviving == Set("sc002", "sc003"))
    val touched = rec.pathsTouched.filter(_.contains(".zarr"))
    val offenders = touched.filterNot(p =>
      surviving.exists(s => p.contains(s + ".zarr")))
    assert(offenders.isEmpty,
      s"excluded stores were touched: ${offenders.take(5).mkString(", ")}")
    // metadata round trips are proportional to the 2 SURVIVORS (their
    // chunk planning + executor-side meta re-reads), never to the
    // 12-store catalog: the live open pays discovery + the per-store
    // wave on top, so the manifest plan must sit well under half of it
    info(s"metaOps: manifest=${rec.metaOps} live=${liveRec.metaOps}")
    assert(rec.metaOps * 2 < liveRec.metaOps,
      s"manifest plan metadata ops (${rec.metaOps}) not clearly below " +
        s"the live open's (${liveRec.metaOps})")
    // the envelope prune runs INSIDE the manifest scan: phase 1
    // collected exactly the 2 survivors to the driver, not the catalog
    assert(pushedCollected == 2,
      s"phase 1 collected $pushedCollected rows " +
        "for 2 survivors — the pushed envelope prune is not pruning")
  }

  test("refresh re-reads ONLY changed stores; added/removed reconcile") {
    val dir = Files.createTempDirectory("graft-manif-r").toString
    writeZarrCatalog(dir, 6)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    // deltas: rewrite sc001's chunk with new VALUES (same length) and
    // grow its .zattrs so the byte-count fingerprint flips even on
    // coarse mtime clocks; copy sc000 to a new sc901; remove sc005
    val bb2 = java.nio.ByteBuffer.allocate(12 * 8)
    (0 until 12).foreach(j => bb2.putDouble(9000.0 + j))
    ByteStore.writeAllBytes(s"$dir/sc001.zarr/lwp/0.0", bb2.array())
    ByteStore.writeString(s"$dir/sc001.zarr/lwp/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["time","x"], "note": "edited"}""")
    val src = Paths.get(s"$dir/sc000.zarr")
    val dst = Paths.get(s"$dir/sc901.zarr")
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else { Files.createDirectories(t.getParent); Files.copy(p, t); () }
    }
    def rmTree(p: java.nio.file.Path): Unit = {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.delete(f); () })
    }
    rmTree(Paths.get(s"$dir/sc005.zarr"))
    val ((added, changed, removed, unchanged), rec) = recording {
      CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
    }
    assert((added, changed, removed, unchanged) == ((1, 1, 1, 4)),
      s"got ($added, $changed, $removed, $unchanged)")
    // unchanged stores: fingerprint LISTs only — zero opens/reads
    for (k <- Seq(2, 3, 4)) {
      val touched = rec.pathsTouched.filter(_.contains(f"sc00$k.zarr"))
      assert(touched.isEmpty, s"unchanged sc00$k was read: $touched")
    }
    // the refreshed manifest plans with sc001's NEW bytes
    val df = GridOpen.catalogFromManifest(spark, manifest, "lwp",
      timeBounds = Map("time" -> ("2021-01-02 00:00:00", "2021-01-02 18:00:00")))
    val vals = df.collect().map(_.getDouble(4)).sorted
    assert(vals.toSeq == (0 until 12).map(9000.0 + _),
      s"refresh did not pick up sc001's new data: ${vals.take(5).mkString(",")}")
    // and the added store is a member now
    val all = GridOpen.catalogFromManifest(spark, manifest, "lwp")
    assert(all.select("path").distinct().count() == 6) // 4 + changed + added
  }

  test("netcdf3 manifest open: explicit file list, parity with live, per-store packs") {
    val dir = Files.createTempDirectory("graft-manif-nc").toString
    def nc(name: String, day: Int, scale: Double, base: Double): Unit =
      Files.write(Paths.get(dir, name), NetCDF3.write(
        dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", 2)),
        gattrs = Nil,
        vars = Seq(
          NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble,
            Seq(NetCDF3.Attr("units", NetCDF3.NcChar,
              s"hours since 2022-03-0$day")), Array(0.0, 6.0, 12.0, 18.0)),
          NetCDF3.VarSpec("lwp", Seq("time", "x"), NetCDF3.NcDouble,
            Seq(NetCDF3.Attr("scale_factor", NetCDF3.NcDouble, Array(scale))),
            Array.tabulate(8)(i => base + i))),
        numRecs = 4))
    nc("a.nc", 1, 0.5, 10.0)
    nc("b.nc", 2, 0.1, 20.0) // different pack attrs per granule
    nc("c.nc", 7, 1.0, 30.0) // misses the window below
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "netcdf3", dir, Seq("lwp"), manifest)
    val tb = Map("time" -> ("2022-03-01 12:00:00", "2022-03-02 00:00:00"))
    // the x axis has NO coordinate variable, so it surfaces as its
    // LONG index — exactly like the live open
    val live = GridOpen.catalog(spark, GridFormat.NetCDF3, dir, "lwp", timeBounds = tb)
      .collect().map(r => (r.getString(0).split('/').last,
        r.getTimestamp(2).toInstant.toString, r.getLong(3), r.getDouble(4)))
      .sorted
    val (got, rec) = recording {
      GridOpen.catalogFromManifest(spark, manifest, "lwp", timeBounds = tb)
        .collect().map(r => (r.getString(0).split('/').last,
          r.getTimestamp(2).toInstant.toString, r.getLong(3), r.getDouble(4)))
        .sorted
    }
    assert(got.toSeq == live.toSeq && got.nonEmpty)
    assert(got.map(_._1).toSet == Set("a.nc", "b.nc"))
    // c.nc: pruned from the manifest plan — never opened, never read
    val cTouched = rec.pathsTouched.filter(_.endsWith("c.nc"))
    assert(cTouched.isEmpty, s"excluded c.nc was touched: $cTouched")
    // per-granule scales decoded per store (a: x0.5, b: x0.1)
    assert(got.exists(r => r._1 == "a.nc" && r._4 == 14.0 * 0.5))
    assert(got.exists(r => r._1 == "b.nc" && r._4 == 20.0 * 0.1))
    // the format-agnostic scene list serves file catalogs too: the
    // same crop's surviving FILES, from the manifest alone
    import spark.implicits._
    val (scenes, rec2) = recording {
      GridOpen.catalogScenesFromManifest(spark, manifest, "lwp",
        timeBounds = tb).as[String].collect().map(_.split('/').last)
        .toSeq.sorted
    }
    assert(scenes == Seq("a.nc", "b.nc"))
    assert(rec2.pathsTouched.filter(_.endsWith(".nc")).isEmpty,
      "scene list touched granule files")
    // expectFormat guards a mismatched downstream open
    val fe = intercept[IllegalArgumentException] {
      GridOpen.catalogScenesFromManifest(spark, manifest, "lwp",
        timeBounds = tb, expectFormat = Some(GridFormat.Zarr)).count()
    }
    assert(fe.getMessage.contains("holds 'netcdf3' stores, not zarr"),
      fe.getMessage)
  }

  test("a legacy manifest (no requestedVars column) stays readable; refresh migrates it") {
    val dir = Files.createTempDirectory("graft-manif-legacy").toString
    writeZarrCatalog(dir, 3)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    // rewrite the manifest WITHOUT the column (the pre-upgrade schema)
    val legacy = s"$dir/_legacy"
    CatalogManifest.read(spark, manifest).drop("requestedVars")
      .write.parquet(legacy)
    // plans fine
    assert(GridOpen.catalogFromManifest(spark, legacy, "lwp")
      .count() == 36)
    // refresh treats the unknown request set as a full re-scan and
    // rewrites in the current schema
    val (added, changed, removed, unchanged) =
      CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), legacy)
    assert((added, changed, removed, unchanged) == ((0, 3, 0, 0)))
    assert(CatalogManifest.read(spark, legacy).columns.contains("requestedVars"))
    // an empty variables refresh refuses instead of wiping the manifest
    val e = intercept[IllegalArgumentException](
      CatalogManifest.refresh(spark, "zarr", dir, Seq.empty, legacy))
    assert(e.getMessage.contains("no variables"))
  }

  test("refresh with a DIFFERENT variable set re-scans everything") {
    // keeping unchanged rows verbatim would silently omit the new
    // variable's data from every later query — silent data loss
    val dir = Files.createTempDirectory("graft-manif-vars").toString
    writeZarrCatalog(dir, 4)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    // same set: nothing re-scans
    assert(CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
      == ((0, 0, 0, 4)))
    // widened set ('x' is an array in every store): FULL re-scan
    val (added, changed, removed, unchanged) =
      CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp", "x"), manifest)
    assert((added, changed, removed, unchanged) == ((0, 4, 0, 0)),
      s"got ($added, $changed, $removed, $unchanged)")
    // and the new variable is now queryable from the manifest
    val xs = GridOpen.catalogFromManifest(spark, manifest, "x")
    assert(xs.select("path").distinct().count() == 4)
    assert(xs.count() == 12) // 4 stores x 3 x-values
  }

  test("a stale SURVIVOR refuses loudly; excluded staleness costs nothing; refresh heals") {
    val dir = Files.createTempDirectory("graft-manif-stale").toString
    writeZarrCatalog(dir, 6)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    val tb = Map("time" -> ("2021-01-03 02:00:00", "2021-01-04 23:00:00"))
    // survivors are sc002/sc003; a change to an EXCLUDED store is
    // invisible to the plan (its fingerprint is never even checked)
    ByteStore.writeString(s"$dir/sc005.zarr/lwp/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["time","x"], "note": "excluded-edit"}""")
    assert(GridOpen.catalogFromManifest(spark, manifest, "lwp",
      timeBounds = tb).count() > 0)
    // a change to a SURVIVOR refuses loudly — a silently stale manifest
    // would crop with yesterday's coordinates
    ByteStore.writeString(s"$dir/sc002.zarr/lwp/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["time","x"], "note": "survivor-edit"}""")
    val e = intercept[IllegalArgumentException](
      GridOpen.catalogFromManifest(spark, manifest, "lwp", timeBounds = tb))
    assert(e.getMessage.contains("sc002") && e.getMessage.contains("refresh"),
      s"wanted the staleness message, got: ${e.getMessage}")
    // the explicit escape hatch for immutable catalogs plans anyway
    assert(GridOpen.catalogFromManifest(spark, manifest, "lwp",
      timeBounds = tb, verifyFingerprints = false).count() > 0)
    // a crop that prunes EVERYTHING still plans (empty) — staleness of
    // stores the plan will not read cannot refuse the query
    assert(GridOpen.catalogFromManifest(spark, manifest, "lwp",
      timeBounds = Map("time" ->
        ("1999-01-01 00:00:00", "1999-01-02 00:00:00"))).count() == 0)
    // refresh heals: only the two edited stores re-scan
    val (added, changed, removed, unchanged) =
      CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
    assert((added, changed, removed, unchanged) == ((0, 2, 0, 4)))
    assert(GridOpen.catalogFromManifest(spark, manifest, "lwp",
      timeBounds = tb).count() > 0)
  }

  test("vars-catalog from manifest: membership, store pruning, zero reads on excluded") {
    val dir = Files.createTempDirectory("graft-manif-mv").toString
    // q220's shape: disjoint y grids; mC lacks t1000 (not a member)
    def store(name: String, yBase: Double, base: Double,
        withT1000: Boolean): Unit = {
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
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("t700", "t1000"), manifest)
    val b = Map("y" -> (1000.0, 1100.0))
    val live = GridOpen.varsCatalog(spark, GridFormat.Zarr, dir, Seq("t700", "t1000"),
      bounds = b).collect().map(_.toString).sorted
    val (got, rec) = recording {
      GridOpen.varsCatalogFromManifest(spark, manifest,
        Seq("t700", "t1000"), bounds = b)
        .collect().map(_.toString).sorted
    }
    assert(got.toSeq == live.toSeq && got.length == 4)
    // mA (grid miss) and mC (not a member) never touched
    val offenders = rec.pathsTouched.filter(p =>
      p.contains("mA.zarr") || p.contains("mC.zarr"))
    assert(offenders.isEmpty, s"excluded stores touched: $offenders")
  }

  test("fuzz: the envelope prune NEVER drops a store the exact crop would keep") {
    // an unsoundly-pruned store is silent data loss (its rows never
    // plan and no residual can restore them) — same contract class as
    // TreePruneFuzzSpec. Truth = valueRangeToIdx (the exact per-store
    // range the open computes); the envelope may keep extra stores
    // (conservative), never fewer.
    val rnd = new scala.util.Random(20170817)
    var kept = 0; var pruned = 0
    for (_ <- 1 to 2000) {
      val n = 1 + rnd.nextInt(12)
      val asc = rnd.nextBoolean()
      val start = rnd.nextInt(100) - 50.0
      val steps = Array.fill(n - 1)(rnd.nextInt(3).toDouble) // dups allowed
      val coords0 = steps.scanLeft(start)(_ + _)
      val coords = if (asc) coords0 else coords0.map(-_)
      val lo = rnd.nextInt(140) - 70.0
      val hi = lo + rnd.nextInt(30) - 5.0 // sometimes lo > hi
      val exact = CoordCrop.valueRangeToIdx(coords, lo, hi)
      val ax = Seq(CatalogManifest.AxisSummary(0, "x", None, None,
        Some(coords.min), Some(coords.max), coords.length))
      val survives = CatalogManifest.envelopeSurvives("s", ax,
        Map("x" -> (lo, hi)), Map.empty)
      if (exact.isDefined) {
        assert(survives, s"UNSOUND: envelope pruned coords=" +
          s"${coords.mkString(",")} bounds=($lo,$hi) exact=$exact")
        kept += 1
      } else if (!survives) pruned += 1
    }
    // both outcomes exercised — the fuzz is not degenerate
    assert(kept > 200 && pruned > 200, s"degenerate fuzz: kept=$kept pruned=$pruned")
  }

  test("fuzz: the PUSHED envelope form keeps every store the exact test keeps") {
    // the distributed filter (summary transform + envelopePushdown,
    // with Spark's NaN-largest ordering and null propagation) must be
    // conservative vs the driver test: a store it drops that
    // envelopeSurvives keeps — or that is error-shaped and must reach
    // the driver to raise — would be silent data loss. One DataFrame,
    // one job, 2000 random coords incl. NaN / empty / missing-coord /
    // missing-axis shapes.
    val rnd = new scala.util.Random(20260816)
    val bounds = Map("x" -> (-20.0, 35.0))
    val cases: Seq[(String, Seq[GridOpen.RawAxis])] = (1 to 2000).map { i =>
      val shape = rnd.nextInt(10)
      val axes: Seq[GridOpen.RawAxis] = shape match {
        case 0 => Seq(GridOpen.RawAxis(0, "x", None, None, None)) // no coords
        case 1 => Seq(GridOpen.RawAxis(0, "x", None, None,
          Some(Array.empty[Double]))) // empty coords
        case 2 => Seq(GridOpen.RawAxis(0, "y", None, None,
          Some(Array(1.0)))) // bound axis MISSING entirely
        case 3 => Seq(GridOpen.RawAxis(0, "x", None, None,
          Some(Array.fill(1 + rnd.nextInt(4))(Double.NaN)))) // all-NaN
        case _ =>
          val n = 1 + rnd.nextInt(8)
          val vals = Array.fill(n)(rnd.nextInt(140) - 70.0)
          if (rnd.nextInt(4) == 0) vals(rnd.nextInt(n)) = Double.NaN
          Seq(GridOpen.RawAxis(0, "x", None, None, Some(vals.sorted)))
      }
      (s"case$i", axes)
    }
    import spark.implicits._
    val df = cases.toDF("store", "axes")
      .withColumn("axs", expr(
        "transform(axes, a -> struct(a.k as k, a.name as name, " +
          "a.units as units, a.calendar as calendar, " +
          "array_min(a.coords) as mn, array_max(a.coords) as mx, " +
          "coalesce(size(a.coords), -1) as n))"))
    // what the driver test says, evaluated on the SAME Spark-computed
    // summaries (a thrown error = the store must reach the driver)
    val summaries = df.select(col("store"), lit("lwp").as("variable"),
        col("axs").as("ax"))
      .as[CatalogManifest.VarSummary].collect()
    val mustKeep = summaries.filter { s =>
      try CatalogManifest.envelopeSurvives(s.store, s.ax, bounds, Map.empty)
      catch { case _: Exception => true } // error-shaped: must collect
    }.map(_.store).toSet
    val pushedKept = df
      .where(CatalogManifest.envelopePushdown(bounds, Map.empty))
      .select("store").as[String].collect().toSet
    val lost = mustKeep -- pushedKept
    assert(lost.isEmpty, s"UNSOUND pushed envelope dropped: ${lost.take(5)}")
    // and it actually prunes (not a degenerate keep-everything)
    assert(pushedKept.size < cases.size * 9 / 10,
      s"degenerate: pushed kept ${pushedKept.size} of ${cases.size}")
    info(s"pushed kept ${pushedKept.size}, exact keeps ${mustKeep.size} of ${cases.size}")
  }

  test("fuzz: the pushed TIME envelope keeps every store the exact test keeps") {
    // randomized sibling of the numeric fuzz for the (units, calendar)
    // dispatch: random epochs x random step units x model calendars x
    // non-time/missing/garbled units, one window, one job. The pushed
    // form must keep every store envelopeSurvives keeps or errors on.
    val rnd = new scala.util.Random(20260817)
    val unitChoices = Seq(
      (d: Int) => Some(f"hours since 2021-01-$d%02d"),
      (d: Int) => Some(f"seconds since 2021-01-$d%02d"),
      (d: Int) => Some(f"days since 2021-01-$d%02d"),
      (_: Int) => Some("m"), // non-time units: error-shaped
      (_: Int) => None, // missing units: error-shaped
      (d: Int) => Some(f"months since 2021-01-$d%02d")) // unsupported step
    val cases: Seq[(String, Seq[GridOpen.RawAxis])] = (1 to 1500).map { i =>
      val day = 1 + rnd.nextInt(28)
      val units = unitChoices(rnd.nextInt(unitChoices.size))(day)
      val cal = if (rnd.nextInt(6) == 0) Some("360_day") else None
      val n = 1 + rnd.nextInt(5)
      val start = rnd.nextInt(48).toDouble
      val coords = Array.tabulate(n)(j => start + j * 6.0)
      (s"t$i", Seq(GridOpen.RawAxis(0, "time", units, cal, Some(coords))))
    }
    import spark.implicits._
    val df = cases.toDF("store", "axes")
      .withColumn("axs", expr(
        "transform(axes, a -> struct(a.k as k, a.name as name, " +
          "a.units as units, a.calendar as calendar, " +
          "array_min(a.coords) as mn, array_max(a.coords) as mx, " +
          "coalesce(size(a.coords), -1) as n))"))
    val tb = Map("time" -> ("2021-01-10 00:00:00", "2021-01-12 23:00:00"))
    val summaries = df.select(col("store"), lit("lwp").as("variable"),
        col("axs").as("ax"))
      .as[CatalogManifest.VarSummary].collect()
    val mustKeep = summaries.filter { s =>
      try CatalogManifest.envelopeSurvives(s.store, s.ax, Map.empty, tb)
      catch { case _: Exception => true } // error-shaped: must collect
    }.map(_.store).toSet
    val combos = CatalogManifest.resolveTimeCombos(df, tb)
    val pushedKept = df
      .where(CatalogManifest.envelopePushdown(Map.empty, combos))
      .select("store").as[String].collect().toSet
    val lost = mustKeep -- pushedKept
    assert(lost.isEmpty, s"UNSOUND pushed time envelope dropped: ${lost.take(5)}")
    assert(pushedKept.size < cases.size * 9 / 10,
      s"degenerate: pushed kept ${pushedKept.size} of ${cases.size}")
    info(s"pushed kept ${pushedKept.size}, exact keeps ${mustKeep.size} of ${cases.size}")
  }

  test("fuzz: MULTI-AXIS pushed envelope — an error on ANY bound axis always collects") {
    // the round-19 restructure's risk surface: with bounds on TWO axes
    // the keep condition is error-on-ANY-axis OR pass-on-EVERY-axis —
    // a store pruned by axis A's envelope but error-shaped on axis B
    // must still collect (the driver refine raises), and the pushed
    // form must keep every store the exact test keeps or raises on
    val rnd = new scala.util.Random(20260818)
    val bounds = Map("x" -> (-20.0, 35.0))
    val tb = Map("time" -> ("2021-01-10 00:00:00", "2021-01-12 23:00:00"))
    def xAxis(): Option[GridOpen.RawAxis] = rnd.nextInt(8) match {
      case 0 => None // bound axis missing entirely: error shape
      case 1 => Some(GridOpen.RawAxis(0, "x", None, None, None)) // no coords
      case 2 => Some(GridOpen.RawAxis(0, "x", None, None,
        Some(Array.empty[Double]))) // empty: silently excluded, NOT error
      case _ =>
        val n = 1 + rnd.nextInt(6)
        Some(GridOpen.RawAxis(0, "x", None, None,
          Some(Array.fill(n)(rnd.nextInt(140) - 70.0).sorted)))
    }
    def tAxis(): Option[GridOpen.RawAxis] = rnd.nextInt(8) match {
      case 0 => None
      case 1 => Some(GridOpen.RawAxis(1, "time", Some("m"), None,
        Some(Array(0.0, 6.0)))) // non-time units: error shape
      case 2 => Some(GridOpen.RawAxis(1, "time",
        Some("months since 2021-01-01"), None,
        Some(Array(0.0)))) // unsupported step: error shape
      case 3 => Some(GridOpen.RawAxis(1, "time",
        Some(f"hours since 2021-01-${1 + rnd.nextInt(28)}%02d"), None,
        None)) // no coords
      case _ =>
        val day = 1 + rnd.nextInt(28)
        val start = rnd.nextInt(48).toDouble
        Some(GridOpen.RawAxis(1, "time",
          Some(f"hours since 2021-01-$day%02d"), None,
          Some(Array.tabulate(1 + rnd.nextInt(4))(j => start + j * 6.0))))
    }
    val cases: Seq[(String, Seq[GridOpen.RawAxis])] =
      (1 to 2000).map(i => (s"m$i", Seq(xAxis(), tAxis()).flatten))
    import spark.implicits._
    val df = cases.toDF("store", "axes")
      .withColumn("axs", expr(
        "transform(axes, a -> struct(a.k as k, a.name as name, " +
          "a.units as units, a.calendar as calendar, " +
          "array_min(a.coords) as mn, array_max(a.coords) as mx, " +
          "coalesce(size(a.coords), -1) as n))"))
    val summaries = df.select(col("store"), lit("lwp").as("variable"),
        col("axs").as("ax"))
      .as[CatalogManifest.VarSummary].collect()
    var raisers = 0
    val mustKeep = summaries.filter { s =>
      try CatalogManifest.envelopeSurvives(s.store, s.ax, bounds, tb)
      catch { case _: Exception => raisers += 1; true } // must collect
    }.map(_.store).toSet
    val combos = CatalogManifest.resolveTimeCombos(df, tb)
    val pushedKept = df
      .where(CatalogManifest.envelopePushdown(bounds, combos))
      .select("store").as[String].collect().toSet
    val lost = mustKeep -- pushedKept
    assert(lost.isEmpty, s"UNSOUND multi-axis pushed envelope dropped: " +
      s"${lost.take(5)}")
    assert(pushedKept.size < cases.size * 9 / 10,
      s"degenerate: pushed kept ${pushedKept.size} of ${cases.size}")
    // the specific regression shape: pruned-on-x AND error-on-time
    // stores exist in the draw and are all kept
    val prunedButError = summaries.filter { s =>
      val x = s.ax.find(_.name == "x")
      val xMisses = x.exists(a => a.n > 0 &&
        (a.mx.exists(_ < -20.0) || a.mn.exists(_ > 35.0)))
      val tError = !s.ax.exists(_.name == "time") ||
        s.ax.exists(a => a.name == "time" && (a.n < 0 ||
          a.units.contains("m") || a.units.exists(_.startsWith("months"))))
      xMisses && tError
    }.map(_.store).toSet
    assert(prunedButError.nonEmpty, "fuzz never drew the regression shape")
    assert((prunedButError -- pushedKept).isEmpty,
      s"pruned-on-x swallowed error-on-time: ${(prunedButError -- pushedKept).take(5)}")
    info(s"pushed kept ${pushedKept.size}, exact keeps ${mustKeep.size} " +
      s"(incl. $raisers raisers) of ${cases.size}; " +
      s"${prunedButError.size} pruned-but-error stores all kept")
  }

  test("pushed envelope with per-store epochs: time combos resolve per (units, calendar)") {
    // three distinct epochs + a store with NON-time units on the bound
    // axis (error-shaped: must collect and raise) + one with a month
    // step (unresolvable combo: must collect and raise)
    import spark.implicits._
    def row(store: String, units: String) =
      (store, Seq(GridOpen.RawAxis(0, "time", Some(units), None,
        Some(Array(0.0, 6.0, 12.0, 18.0)))))
    val df = Seq(
      row("e1", "hours since 2021-01-01"),
      row("e2", "hours since 2021-01-05"),
      row("e3", "seconds since 2021-01-05"),
      row("bad_units", "m"),
      row("bad_step", "months since 2021-01-01")).toDF("store", "axes")
      .withColumn("axs", expr(
        "transform(axes, a -> struct(a.k as k, a.name as name, " +
          "a.units as units, a.calendar as calendar, " +
          "array_min(a.coords) as mn, array_max(a.coords) as mx, " +
          "coalesce(size(a.coords), -1) as n))"))
    val tb = Map("time" -> ("2021-01-05 00:00:00", "2021-01-05 23:00:00"))
    val combos = CatalogManifest.resolveTimeCombos(df, tb)
    val kept = df.where(CatalogManifest.envelopePushdown(Map.empty, combos))
      .select("store").as[String].collect().toSet
    // e1's window is day 5 hours 96-119 — outside its 0-18h axis:
    // pruned. e2 intersects (hours since day 5). e3 intersects
    // (seconds epoch — a DIFFERENT numeric range, resolved per combo).
    // the two error-shaped stores are kept for the driver to raise on.
    assert(kept == Set("e2", "e3", "bad_units", "bad_step"), s"got $kept")
  }

  test("phase 2 drivers each DISTINCT coords array once, shared by reference") {
    // a broad open over a homogeneous catalog must not collect the
    // same grid once per store: identical axes collapse to ONE array
    // instance (Spark's NaN-normalized array grouping), heterogeneous
    // ones stay per-store. The 12-store fixture shares x and the time
    // VALUES but differs in epoch attrs (same coords array!), so both
    // axes collapse to a single instance here.
    val dir = Files.createTempDirectory("graft-manif-share").toString
    writeZarrCatalog(dir, 12)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    // force the grouped phase-2 regime (this fixture's coord volume
    // would take the small direct-collect path)
    val savedCells = CatalogManifest.directCollectCells
    CatalogManifest.directCollectCells = 0L
    val (metas, _, _, _) = try CatalogManifest.planVarsStores(spark, manifest,
      Seq("lwp"), Map.empty, Map.empty)
      finally CatalogManifest.directCollectCells = savedCells
    assert(metas.length == 12)
    def instances(k: Int): Int = metas
      .map(m => System.identityHashCode(m.axes(k).coords.get)).distinct.size
    assert(instances(0) == 1, // time coords identical (epochs differ in UNITS)
      s"time coords collected ${instances(0)} instances for 12 stores")
    assert(instances(1) == 1,
      s"x coords collected ${instances(1)} instances for 12 stores")
    // per-store epochs still decode per store (units survive per row)
    assert(metas.map(_.axes(0).time).distinct.size == 12)
    // and values still round-trip exactly (the shared arrays are real)
    assert(GridOpen.catalogFromManifest(spark, manifest, "lwp")
      .count() == 144)
  }

  test("above the survivor threshold the residual is a broadcast join, not an O(N) Or") {
    // at 10^4 survivors x 10^9 rows the pushed disjunction — which is
    // also Spark's per-row residual — would dominate execution; above
    // residualJoinAbove the crop switches to path IN (hash InSet) +
    // union envelope on the scan and a broadcast join for the exact
    // per-store ranges: O(1) per row. Rows must match the Or form
    // exactly.
    val dir = Files.createTempDirectory("graft-manif-bjoin").toString
    writeZarrCatalog(dir, 12)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    // a BROAD window: days 1-10 of the 12 epochs survive
    val tb = Map("time" -> ("2021-01-01 00:00:00", "2021-01-10 23:00:00"))
    def run() = GridOpen.catalogFromManifest(spark, manifest, "lwp",
      timeBounds = tb)
    val orDf = run()
    // (a BroadcastHashJoin exists in BOTH forms — the per-epoch time
    // DECODE join — so the crop join is keyed on its __lo/__hi ranges)
    val orPlan = orDf.queryExecution.executedPlan.toString
    assert(!orPlan.contains("__lo0"),
      "selective form must stay the pushed disjunction")
    val orRows = orDf.collect().map(_.toString).sorted
    assert(orRows.length == 120) // 10 surviving stores x 12 cells
    try {
      GridOpen.residualJoinAbove = 4
      val joinDf = run()
      val joinPlan = joinDf.queryExecution.executedPlan.toString
      assert(joinPlan.contains("BroadcastHashJoin") && joinPlan.contains("__lo0"),
        s"broad form must crop through a broadcast range join:\n$joinPlan")
      assert(!joinPlan.contains("sc000.zarr) OR"),
        "the O(survivors) Or must be gone from the broad form")
      assert(joinDf.collect().map(_.toString).sorted.toSeq == orRows.toSeq)
    } finally GridOpen.residualJoinAbove = 256
    // the vars-catalog path switches too
    val dir2 = Files.createTempDirectory("graft-manif-bjoin2").toString
    writeZarrCatalog(dir2, 8)
    val manifest2 = s"$dir2/_manifest"
    CatalogManifest.build(spark, "zarr", dir2, Seq("lwp", "x"), manifest2)
    def runVars() = GridOpen.varsCatalogFromManifest(spark, manifest2,
      Seq("lwp"), timeBounds = tb)
    val varsOr = runVars().collect().map(_.toString).sorted
    try {
      GridOpen.residualJoinAbove = 2
      val varsJoin = runVars()
      assert(varsJoin.queryExecution.executedPlan.toString.contains("__lo0"))
      assert(varsJoin.collect().map(_.toString).sorted.toSeq == varsOr.toSeq)
    } finally GridOpen.residualJoinAbove = 256
  }

  test("a ~3,000-branch catalog disjunction converts and filters without stack overflow") {
    // regression guard for the balanced-Or fix: the left-deep reduce
    // stack-overflowed near ~1,000 branches in Catalyst's converters
    val perStore = (0 until 3000).map(i =>
      (f"/cat/sc$i%04d.zarr", Seq((0, (i % 4, i % 4 + 1)))))
    val pred = CoordCrop.catalogPredicate(perStore)
    import spark.implicits._
    val df = Seq(("/cat/sc0042.zarr", 2L), ("/cat/sc0042.zarr", 0L),
      ("/nope.zarr", 2L)).toDF("path", "d0")
    val got = df.where(pred).collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq == Seq(("/cat/sc0042.zarr", 2L))) // 42%4=2 -> d0 in [2,3]
  }

  test("generational publish: a reader during an in-flight/killed refresh sees the OLD complete manifest") {
    val dir = Files.createTempDirectory("graft-manif-gen").toString
    writeZarrCatalog(dir, 3)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    // layout: a pointer + one complete generation, no top-level data
    assert(genNumOf(pointedGen(manifest)) == 0)
    assert(GridOpen.catalogFromManifest(spark, manifest, "lwp").count() == 36)
    // a KILLED refresh = a partial next generation with no pointer
    // flip: readers are untouched (they resolve the pointer, which
    // still names the old COMPLETE generation)
    ByteStore.writeString(s"$manifest/_gen-00000001/part-00000-junk.parquet",
      "NOT PARQUET — a refresh died mid-write")
    assert(GridOpen.catalogFromManifest(spark, manifest, "lwp").count() == 36)
    // the next refresh recovers: it overwrites the orphan generation
    // and flips the pointer only once the new one is complete
    ByteStore.writeString(s"$dir/sc001.zarr/lwp/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["time","x"], "note": "v2"}""")
    val (a1, c1, r1, u1) =
      CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
    assert((a1, c1, r1, u1) == ((0, 1, 0, 2)))
    assert(genNumOf(pointedGen(manifest)) == 1)
    assert(GridOpen.catalogFromManifest(spark, manifest, "lwp").count() == 36)
    // the previous generation is retained ONE publish (grace window
    // for in-flight readers); older ones are deleted after the flip
    assert(genDirNums(manifest).contains(0))
    CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
    assert(genNumOf(pointedGen(manifest)) == 2)
    assert(genDirNums(manifest).contains(1))
    assert(!genDirNums(manifest).contains(0),
      "generations older than the grace window must be cleaned up")
    // a corrupt pointer refuses loudly instead of planning from junk
    ByteStore.writeString(s"$manifest/_current", "gen-not-a-pointer")
    val e = intercept[IllegalArgumentException](
      GridOpen.catalogFromManifest(spark, manifest, "lwp").count())
    assert(e.getMessage.contains("pointer"))
  }

  test("refresh migrates a legacy in-place manifest to the generational layout live") {
    val dir = Files.createTempDirectory("graft-manif-mig").toString
    writeZarrCatalog(dir, 3)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    // fabricate the legacy layout: data files at the TOP level
    val legacy = s"$dir/_legacy_layout"
    CatalogManifest.read(spark, manifest).write.parquet(legacy)
    assert(GridOpen.catalogFromManifest(spark, legacy, "lwp").count() == 36)
    val (a, c, r, u) =
      CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), legacy)
    assert((a, c, r, u) == ((0, 0, 0, 3)))
    // post-migration: pointered generation, legacy data files removed
    assert(genNumOf(pointedGen(legacy)) == 0)
    val leftovers = ByteStore.list(legacy)
      .filter(e => !e.isDir && e.name != "_current").map(_.name)
    assert(leftovers.isEmpty, s"legacy data files survived: $leftovers")
    assert(GridOpen.catalogFromManifest(spark, legacy, "lwp").count() == 36)
  }

  test("checkCatalogFresh: the opt-in full-catalog guard catches what survivor-only cannot") {
    val dir = Files.createTempDirectory("graft-manif-full").toString
    writeZarrCatalog(dir, 4)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    CatalogManifest.checkCatalogFresh(spark, "zarr", dir, manifest) // fresh: no-op
    // an EXCLUDED store changes: the default survivor-only guard lets
    // a crop that excludes it plan (the documented trade-off) ...
    ByteStore.writeString(s"$dir/sc003.zarr/lwp/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["time","x"], "note": "excluded-change"}""")
    val tb = Map("time" -> ("2021-01-01 00:00:00", "2021-01-01 23:00:00"))
    assert(GridOpen.catalogFromManifest(spark, manifest, "lwp",
      timeBounds = tb).count() > 0)
    // ... while the full-catalog check refuses, naming the store
    val e = intercept[IllegalArgumentException](
      CatalogManifest.checkCatalogFresh(spark, "zarr", dir, manifest))
    assert(e.getMessage.contains("sc003") && e.getMessage.contains("refresh"))
    CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
    CatalogManifest.checkCatalogFresh(spark, "zarr", dir, manifest)
    // an ADDED store is invisible to every plan-time guard but this one
    writeZarrCatalog(dir, 5) // idempotent for sc000-003; adds sc004
    val e2 = intercept[IllegalArgumentException](
      CatalogManifest.checkCatalogFresh(spark, "zarr", dir, manifest))
    assert(e2.getMessage.contains("added") && e2.getMessage.contains("sc004"))
  }

  test("manifest reads plan under a derived bounded-batch session") {
    // phase-2 rows can carry MB-scale coordinate arrays; the default
    // 4096-row vectorized batch buffered GBs per task (rehearsal OOM).
    // Reads must plan under a derived session with the bounded batch,
    // and the CALLER's session must stay untouched.
    val dir = Files.createTempDirectory("graft-manif-batch").toString
    writeZarrCatalog(dir, 2)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    val df = CatalogManifest.read(spark, manifest)
    assert(df.sparkSession ne spark)
    assert(df.sparkSession.conf
      .get("spark.sql.parquet.columnarReaderBatchSize") == "32")
    assert(spark.conf.get("spark.sql.parquet.columnarReaderBatchSize") != "32",
      "the caller session was mutated")
    assert(df.count() == 2)
  }

  test("the per-file hash catches changes the aggregate triple cancels on") {
    // the exact blind spot the aggregates have: one file grows by the
    // bytes another shrinks, with mtimes restored — (max mtime, bytes,
    // count) is identical, the per-file hash is not
    val dir = Files.createTempDirectory("graft-treestat").toString
    ByteStore.writeString(s"$dir/a.txt", "aaaa")
    ByteStore.writeString(s"$dir/b.txt", "bbbb")
    val mtA = new java.io.File(s"$dir/a.txt").lastModified()
    val mtB = new java.io.File(s"$dir/b.txt").lastModified()
    val fp0 = ByteStore.treeStat(dir)
    ByteStore.writeString(s"$dir/a.txt", "aaaaaa") // +2 bytes
    ByteStore.writeString(s"$dir/b.txt", "bb") // -2 bytes
    assert(new java.io.File(s"$dir/a.txt").setLastModified(mtA))
    assert(new java.io.File(s"$dir/b.txt").setLastModified(mtB))
    val fp1 = ByteStore.treeStat(dir)
    assert((fp0._1, fp0._2, fp0._3) == ((fp1._1, fp1._2, fp1._3)),
      "the canceling rewrite should leave the aggregate triple identical")
    assert(fp0._4 != fp1._4, "the per-file hash missed the canceling rewrite")
  }

  test("a pre-hash manifest (no fpHash column) plans, guards, and upgrades on refresh") {
    val dir = Files.createTempDirectory("graft-manif-prehash").toString
    writeZarrCatalog(dir, 3)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    // rewrite WITHOUT fpHash — the round-17 manifest schema
    val legacy = s"$dir/_prehash"
    CatalogManifest.read(spark, manifest).drop("fpHash").write.parquet(legacy)
    // plans fine, and the staleness guard still works on the triple
    assert(GridOpen.catalogFromManifest(spark, legacy, "lwp").count() == 36)
    ByteStore.writeString(s"$dir/sc001.zarr/lwp/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["time","x"], "note": "bigger now"}""")
    val e = intercept[IllegalArgumentException](
      GridOpen.catalogFromManifest(spark, legacy, "lwp").count())
    assert(e.getMessage.contains("refresh"))
    // refresh treats EVERY hash-less row as changed and re-scans it:
    // stamping the fresh hash onto a triple-matched legacy row would
    // permanently launder a change in the triple's blind spot
    // (equal-size rename, offsetting growth) as hash-verified
    val (added, changed, removed, unchanged) =
      CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), legacy)
    assert((added, changed, removed, unchanged) == ((0, 3, 0, 0)))
    val hashes = CatalogManifest.read(spark, legacy)
      .select("fpHash").collect().map(_.getLong(0))
    assert(hashes.forall(_ != 0L), "re-scanned rows carry no hash")
    // the SECOND refresh is hash-verified and keeps everything
    assert(CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), legacy)
      == ((0, 0, 0, 3)))
  }

  test("distributed build (Spark-job wave) writes the same manifest as the driver wave") {
    val dir = Files.createTempDirectory("graft-manif-dist").toString
    writeZarrCatalog(dir, 5)
    val m1 = s"$dir/_m_driver"
    val m2 = s"$dir/_m_spark"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), m1)
    // distributeAbove = 0 forces the executor path
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), m2,
      distributeAbove = 0)
    val a = CatalogManifest.read(spark, m1).orderBy("store")
      .drop("fpMtime").collect().map(_.toString)
    val b = CatalogManifest.read(spark, m2).orderBy("store")
      .drop("fpMtime").collect().map(_.toString)
    assert(a.toSeq == b.toSeq)
  }

  test("pushed-regime diagnostics match collect-all: one axis's prune never swallows another axis's error") {
    // a store whose axis A provably misses the bounds but whose axis B
    // is error-shaped (absent here) must still reach the driver refine
    // in the PUSHED regime, so both regimes raise the SAME live error —
    // not silence in one and a loud 'no axis' in the other
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-manif-errsw").toString
    val manifest = s"$dir/_m"
    def entry(store: String, axes: Seq[GridOpen.RawAxis]) =
      CatalogManifest.Entry(store, "lwp", "zarr", dir, 0L, 0L, 0L, 1L,
        axes, 1.0, 0.0, None, None, Seq("lwp"))
    val good = entry("good", Seq(
      GridOpen.RawAxis(0, "x", None, None, Some(Array(0.0, 5.0))),
      GridOpen.RawAxis(1, "y", None, None, Some(Array(0.0, 5.0)))))
    // x misses [0, 9] by a mile AND y is absent (the error shape)
    val bad = entry("bad", Seq(
      GridOpen.RawAxis(0, "x", None, None, Some(Array(100.0, 120.0)))))
    CatalogManifest.publishEntries(spark, Seq(good, bad).toDS(), manifest)
    val bounds = Map("x" -> (0.0, 9.0), "y" -> (0.0, 9.0))
    def planAt(threshold: Int): Throwable = {
      val saved = CatalogManifest.collectAllBelow
      CatalogManifest.collectAllBelow = threshold
      try intercept[IllegalArgumentException] {
        CatalogManifest.planLive(spark, manifest, "lwp", bounds, Map.empty)
      } finally CatalogManifest.collectAllBelow = saved
    }
    val eAll = planAt(2048) // collect-all regime
    val ePushed = planAt(0) // pushed regime
    assert(eAll.getMessage.contains("no axis 'y' in bad"), eAll.getMessage)
    assert(ePushed.getMessage == eAll.getMessage,
      s"regimes diverge: pushed='${ePushed.getMessage}' " +
        s"collect-all='${eAll.getMessage}'")
  }

  test("the generation pointer flips atomically on local paths (no tmp residue, no truncate window)") {
    val dir = Files.createTempDirectory("graft-manif-ptr").toString
    writeZarrCatalog(dir, 2)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
    // the staged temp sibling renamed into place — nothing left behind
    val leftovers = ByteStore.list(manifest).map(_.name)
      .filter(_.startsWith("_current."))
    assert(leftovers.isEmpty, s"pointer staging residue: $leftovers")
    assert(pointedGen(manifest).matches("_gen-\\d{8}(-[0-9a-f]{8})?"))
    // a reader that catches a transiently garbled pointer retries once
    val ptr = s"$manifest/_current"
    val goodGen = ByteStore.readString(ptr)
    ByteStore.writeString(ptr, "") // the torn state a truncate-write shows
    val fixer = new Thread(() => {
      Thread.sleep(10); ByteStore.writeString(ptr, goodGen) })
    fixer.start()
    try assert(CatalogManifest.read(spark, manifest).count() == 2)
    finally fixer.join()
    // a DURABLY corrupt pointer still fails loudly with the domain error
    ByteStore.writeString(ptr, "garbage")
    try {
      val e = intercept[IllegalArgumentException](
        CatalogManifest.read(spark, manifest).count())
      assert(e.getMessage.contains("corrupt generation pointer"))
    } finally ByteStore.writeString(ptr, goodGen)
  }

  test("join-form crop prunes chunks PER STORE: same chunk reads as the Or form") {
    // above residualJoinAbove the scan's pushed filters carry only the
    // union envelope; the `hulls` option must restore per-store chunk
    // pruning, so a heterogeneous-window crop reads the SAME chunk set
    // in join form as the Or form reads — not the union's superset
    val dir = Files.createTempDirectory("graft-manif-hull").toString
    val n = 8
    (0 until n).foreach { i =>
      val store = s"$dir/hc${"%03d".format(i)}.zarr"
      ByteStore.writeString(s"$store/.zgroup", """{"zarr_format": 2}""")
      def arr(name: String, shape: Seq[Int], chunks: Seq[Int],
          dims: Seq[String], data: Array[Double], extra: String = ""): Unit = {
        ByteStore.writeString(s"$store/$name/.zarray",
          s"""{"zarr_format": 2, "shape": [${shape.mkString(",")}],
             | "chunks": [${chunks.mkString(",")}], "dtype": ">f8",
             | "compressor": null, "fill_value": "NaN", "filters": null,
             | "order": "C"}""".stripMargin)
        ByteStore.writeString(s"$store/$name/.zattrs",
          s"""{"_ARRAY_DIMENSIONS": [${dims.map("\"" + _ + "\"").mkString(",")}]$extra}""")
        val grid = shape.zip(chunks).map { case (sz, c) => (sz + c - 1) / c }
        def cells(g: Seq[Int]): Seq[Seq[Int]] =
          g.foldLeft(Seq(Seq.empty[Int]))((acc, m) =>
            acc.flatMap(p => (0 until m).map(p :+ _)))
        // chunking is along dim 0 only here, so chunk k holds the
        // row-major slice [k*per, (k+1)*per)
        cells(grid).zipWithIndex.foreach { case (ci, k) =>
          val per = chunks.product
          val bb = java.nio.ByteBuffer.allocate(per * 8)
          (0 until per).foreach(j => bb.putDouble(data(k * per + j)))
          ByteStore.writeAllBytes(s"$store/$name/${ci.mkString(".")}", bb.array())
        }
      }
      val day = 1 + i % 4 // per-store epochs: heterogeneous windows
      arr("lwp", Seq(4, 3), Seq(1, 3), Seq("time", "x"),
        Array.tabulate(12)(j => i * 100.0 + j))
      arr("time", Seq(4), Seq(4), Seq("time"), Array(0.0, 6.0, 12.0, 18.0),
        s""", "units": "hours since 2021-01-${"%02d".format(day)}"""")
      arr("x", Seq(3), Seq(3), Seq("x"), Array(0.0, 10.0, 20.0))
    }
    // [Jan 2 06:00, Jan 4 23:00]: day-1 stores excluded; day-2 stores
    // keep time chunks {1,2,3}; day-3/day-4 keep all 4 — so the UNION
    // envelope (d0 in [0,3]) covers chunk 0 of day-2 stores, which only
    // per-store pruning can skip
    val tb = Map("time" -> ("2021-01-02 06:00:00", "2021-01-04 23:00:00"))
    def chunkReads(rec: ByteStore.IoRecorder): Set[String] =
      rec.pathsTouched.filter(p =>
        p.contains("/lwp/") && p.split('/').last.matches("\\d+\\.\\d+"))
    def run(): (Seq[(String, Double)], Set[String]) = {
      val (rows, rec) = recording {
        GridOpen.catalog(spark, GridFormat.Zarr, dir, "lwp", timeBounds = tb)
          .collect().map(r => (r.getString(0), r.getDouble(4)))
          .sortBy(x => (x._1, x._2)).toSeq
      }
      (rows, chunkReads(rec))
    }
    val saved = GridOpen.residualJoinAbove
    val (orRows, orReads) = try {
      GridOpen.residualJoinAbove = Int.MaxValue; run()
    } finally GridOpen.residualJoinAbove = saved
    val (joinRows, joinReads) = try {
      GridOpen.residualJoinAbove = 1; run()
    } finally GridOpen.residualJoinAbove = saved
    assert(joinRows == orRows && orRows.nonEmpty, "rows must match exactly")
    assert(joinReads == orReads,
      s"join form read ${(joinReads -- orReads).toSeq.sorted} beyond the " +
        s"Or form (or missed ${(orReads -- joinReads).toSeq.sorted})")
    // and the Or form itself skipped day-2 stores' chunk 0 (the fixture
    // is really heterogeneous — otherwise this test proves nothing)
    val day2Chunk0 = (0 until n).filter(_ % 4 == 1)
      .map(i => s"$dir/hc${"%03d".format(i)}.zarr/lwp/0.0")
    assert(day2Chunk0.forall(p => !orReads.exists(_.endsWith(
      p.split('/').takeRight(3).mkString("/")))),
      s"fixture degenerate: day-2 chunk 0 was read by the Or form")
  }

  test("fingerprint waves distribute above the threshold with identical semantics") {
    // at 10^5-10^6 survivors a driver parMap wave is the read path's
    // last O(catalog) latency term; above fpDistributeAbove the wave
    // runs as a Spark job — same staleness verdicts either way
    val dir = Files.createTempDirectory("graft-manif-fpw").toString
    writeZarrCatalog(dir, 4)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    val saved = CatalogManifest.fpDistributeAbove
    CatalogManifest.fpDistributeAbove = 0 // force the Spark-job wave
    try {
      assert(GridOpen.catalogFromManifest(spark, manifest, "lwp")
        .count() == 48)
      assert(CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
        == ((0, 0, 0, 4)))
      ByteStore.writeString(s"$dir/sc001.zarr/lwp/.zattrs",
        """{"_ARRAY_DIMENSIONS": ["time","x"], "note": "edited"}""")
      val e = intercept[IllegalArgumentException](
        GridOpen.catalogFromManifest(spark, manifest, "lwp").count())
      assert(e.getMessage.contains("sc001") && e.getMessage.contains("refresh"),
        e.getMessage)
      assert(CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
        == ((0, 1, 0, 3)))
      assert(GridOpen.catalogFromManifest(spark, manifest, "lwp")
        .count() == 48)
    } finally CatalogManifest.fpDistributeAbove = saved
  }

  test("join-form crop prunes SHARD-INNER chunks per store (zarr v3 sharded)") {
    // the sharded sibling of the chunk-parity pin: per-store y grids
    // are OFFSET, so a shared y window keeps a DIFFERENT shard/inner
    // set per store — the union envelope alone would read every
    // store's whole window span; the hull must keep the per-store
    // shard AND inner-chunk pruning byte-identical to the Or form
    val s = spark
    import s.implicits._
    val dir = Files.createTempDirectory("graft-manif-shardhull").toString
    val (ny, nx) = (11, 6)
    val px = (for (sc <- 0 until 6; j <- 0 until ny; i <- 0 until nx)
      yield (f"sh$sc%02d", new java.sql.Timestamp(0L), i * 10.0,
        sc * 20.0 + j * 10.0, (sc * 1000 + j * nx + i).toDouble))
      .toDF("scene_id", "time", "x", "y", "value")
    Zarr3.writeScenes(px, dir, "lwp", chunkRows = Some(4), gzipLevel = None,
      shardInnerRows = Some(2)).count()
    val bounds = Map("y" -> (40.0, 100.0))
    // AQE off for the byte compare: its stage materialization re-plans
    // the scan (a second index-tail read per shard), which would skew
    // the plan-shape-vs-plan-shape byte profile without touching data
    def run(): (Seq[(String, Double)], Map[String, Long]) = {
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val (rows, rec) = recording {
          GridOpen.catalog(spark, GridFormat.Zarr, dir, "lwp", bounds = bounds)
            .select(col("path"), col("value")).collect()
            .map(r => (r.getString(0).split('/').last, r.getDouble(1)))
            .sortBy(identity).toSeq
        }
        val dataBytes = rec.pathsTouched
          .filter(p => p.contains("/lwp/") && !p.endsWith("zarr.json"))
          .map(p => p -> rec.bytes(p)).toMap
        (rows, dataBytes)
      } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
    val saved = GridOpen.residualJoinAbove
    val (orRows, orBytes) = try {
      GridOpen.residualJoinAbove = Int.MaxValue; run()
    } finally GridOpen.residualJoinAbove = saved
    val (joinRows, joinBytes) = try {
      GridOpen.residualJoinAbove = 1; run()
    } finally GridOpen.residualJoinAbove = saved
    // windows per store: rows 4-10 / 2-8 / 0-6 / 0-4 / 0-2 / 0-0
    assert(orRows.size == (7 + 7 + 7 + 5 + 3 + 1) * nx, orRows.size)
    assert(joinRows == orRows, "rows must match exactly across crop forms")
    assert(joinBytes == orBytes,
      s"join form byte profile diverged from Or form: " +
        s"${(joinBytes.toSet -- orBytes.toSet).take(3)} vs " +
        s"${(orBytes.toSet -- joinBytes.toSet).take(3)}")
    // non-degenerate: the narrow-window store reads fewer data bytes
    // than the wide-window one (per-store pruning is really happening)
    def sceneBytes(m: Map[String, Long], sc: String): Long =
      m.collect { case (p, b) if p.contains(s"$sc.zarr/") => b }.sum
    assert(sceneBytes(joinBytes, "sh05") < sceneBytes(joinBytes, "sh00"),
      s"sh05=${sceneBytes(joinBytes, "sh05")} " +
        s"sh00=${sceneBytes(joinBytes, "sh00")}")
  }

  test("a BROAD no-bounds open over a big catalog collects ZERO phase-1 rows") {
    // the last O(catalog) driver term: with no bounds every store
    // holding the variable survives by definition, so phase 1 has
    // nothing to decide — it must not collect the summaries at all
    val dir = Files.createTempDirectory("graft-manif-broad").toString
    writeZarrCatalog(dir, 12)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    val saved = CatalogManifest.collectAllBelow
    CatalogManifest.collectAllBelow = 0 // force the big-catalog regime
    try {
      val (metas, format, _, fps) =
        CatalogManifest.planVarsStores(spark, manifest, Seq("lwp"), Map.empty,
          Map.empty)
      assert(metas.length == 12 && fps.length == 12 && format == GridFormat.Zarr)
      assert(CatalogManifest.lastPhase1Collected == 0,
        s"broad phase 1 collected ${CatalogManifest.lastPhase1Collected}")
      // and the full open still answers identically to the live one
      assert(GridOpen.catalogFromManifest(spark, manifest, "lwp")
        .count() == 144)
      assert(CatalogManifest.lastPhase1Collected == 0)
    } finally CatalogManifest.collectAllBelow = saved
  }

  test("a BROAD no-bounds VARS open keeps membership inside the scan, zero phase-1 rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-manif-broadv").toString
    val manifest = s"$dir/_m"
    def entry(store: String, v: String, vars: Seq[String]) =
      CatalogManifest.Entry(store, v, "zarr", "/syn", 0L, 0L, 0L, 1L,
        Seq(GridOpen.RawAxis(0, "x", None, None, Some(Array(0.0, 1.0)))),
        1.0, 0.0, None, None, vars)
    // 10 member stores holding BOTH variables + 2 partial stores
    val rows = (1 to 10).flatMap(i => Seq(
      entry(f"/syn/m$i%02d", "a", Seq("a", "b")),
      entry(f"/syn/m$i%02d", "b", Seq("a", "b")))) ++ Seq(
      entry("/syn/p1", "a", Seq("a", "b")),
      entry("/syn/p2", "b", Seq("a", "b")))
    CatalogManifest.publishEntries(spark, rows.toDS(), manifest)
    val saved = CatalogManifest.collectAllBelow
    CatalogManifest.collectAllBelow = 0
    try {
      val (metas, _, _, fps) = CatalogManifest.planVarsStores(spark,
        manifest, Seq("a", "b"), Map.empty, Map.empty,
        verifyFingerprints = false)
      assert(metas.map(_.store) == (1 to 10).map(i => f"/syn/m$i%02d"),
        metas.map(_.store))
      assert(fps.length == 10)
      assert(CatalogManifest.lastPhase1Collected == 0,
        s"broad vars phase 1 collected ${CatalogManifest.lastPhase1Collected}")
    } finally CatalogManifest.collectAllBelow = saved
  }

  test("a BROAD no-member VARS open raises the domain error, not an NPE") {
    // big-catalog regime + no store holding every requested variable
    // (e.g. a typo'd name): the empty member semi-join must surface the
    // clean 'no store holds all of ...' require — a NULL aggregate from
    // the empty frame must not NPE first
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-manif-nomem").toString
    val manifest = s"$dir/_m"
    val rows = (1 to 6).map(i =>
      CatalogManifest.Entry(s"/syn/n$i", "a", "zarr", "/syn", 0L, 0L, 0L, 1L,
        Seq(GridOpen.RawAxis(0, "x", None, None, Some(Array(0.0, 1.0)))),
        1.0, 0.0, None, None, Seq("a")))
    CatalogManifest.publishEntries(spark, rows.toDS(), manifest)
    val saved = CatalogManifest.collectAllBelow
    CatalogManifest.collectAllBelow = 0
    try {
      val e = intercept[IllegalArgumentException] {
        CatalogManifest.planVarsStores(spark, manifest, Seq("a", "typo"),
          Map.empty, Map.empty, verifyFingerprints = false)
      }
      assert(e.getMessage.contains("no store holds all of a,typo"),
        e.getMessage)
    } finally CatalogManifest.collectAllBelow = saved
  }

  test("a file: URI manifest path publishes with an atomic pointer and reads back") {
    // ByteStore.hasScheme treats file:/ as a scheme, so the pointer
    // must NOT fall into the Hadoop truncate-then-write branch: the
    // atomic local rename applies to BOTH local shapes, and a stale
    // Hadoop .crc sidecar never poisons later pointer reads
    val dir = Files.createTempDirectory("graft-manif-fileuri").toString
    writeZarrCatalog(dir, 2)
    val manifest = s"file:$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
    assert(GridOpen.catalogFromManifest(spark, manifest, "lwp")
      .count() == 24)
    val leftovers = new java.io.File(s"$dir/_manifest").listFiles()
      .map(_.getName).filter(n => n.startsWith("_current.") || n == ".crc")
    assert(leftovers.isEmpty, s"pointer staging residue: ${leftovers.toSeq}")
  }

  test("a legacy UNSUFFIXED generation pointer keeps resolving") {
    // pre-round-19 manifests name plain `_gen-NNNNNNNN` directories;
    // the suffixed-dir reader must keep resolving them verbatim
    val dir = Files.createTempDirectory("graft-manif-legacygen").toString
    writeZarrCatalog(dir, 2)
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    // rewrite the layout to the legacy shape: unsuffixed dir + pointer
    val cur = pointedGen(manifest)
    val legacyName = cur.take("_gen-00000000".length)
    assert(new java.io.File(s"$manifest/$cur")
      .renameTo(new java.io.File(s"$manifest/$legacyName")))
    ByteStore.writeString(s"$manifest/_current", legacyName)
    assert(GridOpen.catalogFromManifest(spark, manifest, "lwp")
      .count() == 24)
    // and a refresh on top publishes the NEXT (suffixed) generation
    CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
    assert(genNumOf(pointedGen(manifest)) == 1)
    assert(GridOpen.catalogFromManifest(spark, manifest, "lwp")
      .count() == 24)
  }

  test("two interleaved publishers: exactly one wins, the loser refuses loudly, the manifest stays readable") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-manif-race").toString
    val manifest = s"$dir/_m"
    def entries(tag: String, n: Int) = (1 to n).map { i =>
      CatalogManifest.Entry(s"/$tag/s$i", "lwp", "zarr", s"/$tag",
        0L, 0L, 0L, 1L,
        Seq(GridOpen.RawAxis(0, "x", None, None, Some(Array(0.0, 1.0)))),
        1.0, 0.0, None, None, Seq("lwp"))
    }
    CatalogManifest.publishEntries(spark, entries("base", 1).toDS(), manifest)
    // writer B lands a COMPLETE publish of the same generation inside
    // writer A's write-to-verify window (the claim seam)
    CatalogManifest.onGenerationWritten = () => {
      CatalogManifest.onGenerationWritten = () => ()
      CatalogManifest.publishEntries(spark, entries("winner", 3).toDS(),
        manifest)
    }
    val e = try intercept[IllegalArgumentException] {
      CatalogManifest.publishEntries(spark, entries("loser", 2).toDS(),
        manifest)
    } finally CatalogManifest.onGenerationWritten = () => ()
    assert(e.getMessage.contains("lost the publish race"), e.getMessage)
    // the pointer names the WINNER's complete generation — never the
    // loser's possibly-corrupted files, never an unreadable manifest
    val rows = CatalogManifest.read(spark, manifest)
      .select("store").as[String].collect()
    assert(rows.length == 3 && rows.forall(_.startsWith("/winner")), rows.toSeq)
    // no claim residue from either writer
    val claims = ByteStore.list(manifest).map(_.name)
      .filter(_.startsWith("_claim-"))
    assert(claims.isEmpty, s"claim residue: $claims")
    // writer-unique dirs: the loser's complete generation is a
    // harmless orphan TWIN of the winner's number (it never touched
    // the winner's files), and the retention sweep ages it out
    val twins = genDirNums(manifest).count(_ == 1)
    assert(twins == 2, s"expected the winner + the loser's orphan, got " +
      s"${genDirNums(manifest)}")
    CatalogManifest.publishEntries(spark, entries("later", 1).toDS(), manifest)
    CatalogManifest.publishEntries(spark, entries("last", 1).toDS(), manifest)
    assert(!genDirNums(manifest).contains(1),
      "the loser's orphan generation must age out with its number")
    assert(CatalogManifest.read(spark, manifest).count() == 1)
  }

  test("generation retention is a parameter: a stalled reader survives extra publishes under a wider grace window") {
    import spark.implicits._
    def entry(tag: String, i: Int) =
      CatalogManifest.Entry(s"/$tag/s$i", "lwp", "zarr", s"/$tag",
        0L, 0L, 0L, 1L,
        Seq(GridOpen.RawAxis(0, "x", None, None, Some(Array(0.0, 1.0)))),
        1.0, 0.0, None, None, Seq("lwp"))
    def pub(manifest: String, tag: String, n: Int): Unit =
      CatalogManifest.publishEntries(spark,
        (1 to n).map(entry(tag, _)).toDS(), manifest)
    // default retention (1 previous generation): a reader stalled
    // across TWO publishes holds a deleted generation and fails
    val d1 = Files.createTempDirectory("graft-manif-ret1").toString
    val m1 = s"$d1/_m"
    pub(m1, "g0", 1)
    val stale = CatalogManifest.read(spark, m1) // resolves _gen-00000000
    pub(m1, "g1", 2); pub(m1, "g2", 3) // second publish deletes gen 0
    assert(!genDirNums(m1).contains(0))
    intercept[Exception](stale.count())
    assert(CatalogManifest.read(spark, m1).count() == 3) // fresh reads fine
    // retainGenerations = 2: the same stall SURVIVES (gen 0 is inside
    // the grace window until the THIRD publish)
    val saved = CatalogManifest.retainGenerations
    CatalogManifest.retainGenerations = 2
    try {
      val d2 = Files.createTempDirectory("graft-manif-ret2").toString
      val m2 = s"$d2/_m"
      pub(m2, "h0", 1)
      val stale2 = CatalogManifest.read(spark, m2)
      pub(m2, "h1", 2); pub(m2, "h2", 3)
      assert(genDirNums(m2).contains(0))
      assert(stale2.count() == 1, "the stalled reader should survive")
      pub(m2, "h3", 4) // now gen 0 ages out of the window
      assert(!genDirNums(m2).contains(0))
    } finally CatalogManifest.retainGenerations = saved
  }

  test("boundedSessions does not pin discarded root sessions for the JVM lifetime") {
    val before = CatalogManifest.boundedSessionCount
    // cycle roots the way a long-lived service would; hold NO references
    (1 to 6).foreach { _ =>
      CatalogManifest.boundedSession(spark.newSession()); () }
    assert(CatalogManifest.boundedSessionCount >= before,
      "cache should have grown while roots were reachable (or already collected)")
    // weak keys + weak values, PLUS one strong most-recent slot: once
    // the roots are unreachable all entries must go except at most the
    // last root (the active-root amortization). GC is advisory — nudge
    // it and poll.
    var tries = 0
    while (CatalogManifest.boundedSessionCount > before + 1 && tries < 100) {
      System.gc(); Thread.sleep(20); tries += 1
    }
    assert(CatalogManifest.boundedSessionCount <= before + 1,
      s"${CatalogManifest.boundedSessionCount - before} discarded root " +
        "sessions still pinned after GC (at most the strong slot's 1 allowed)")
    // the suite's root takes over the strong slot and stays cached —
    // a full GC between reads must NOT evaporate the active root's
    // derived session (the ~100 ms SessionState build it amortizes)
    val b = CatalogManifest.boundedSession(spark)
    System.gc(); Thread.sleep(20); System.gc()
    assert(CatalogManifest.boundedSession(spark) eq b,
      "the active root's derived session evaporated across a GC")
  }

  test("CROSS-generation lost update refuses loudly: a refresh that loaded gen N must not bury a racer's N+1") {
    import spark.implicits._
    // refresher A loads gen 0; while A is between load and publish, a
    // fast writer B publishes gen 1. Without the optimistic check A
    // would read cur=1 at publish time, claim gen 2 UNOPPOSED (the
    // claim protocol only sees same-number races), flip, and silently
    // discard B's rows. A must instead fail loudly, with B's
    // generation intact and readable.
    val dir = Files.createTempDirectory("graft-manif-xgen").toString
    writeZarrCatalog(dir, 3)
    val manifest = s"$dir/_m"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    assert(genNumOf(pointedGen(manifest)) == 0)
    val winner = Seq(
      CatalogManifest.Entry("/winner/s1", "lwp", "zarr", "/winner",
        0L, 0L, 0L, 1L,
        Seq(GridOpen.RawAxis(0, "x", None, None, Some(Array(0.0, 1.0)))),
        1.0, 0.0, None, None, Seq("lwp")))
    CatalogManifest.onManifestLoaded = () => {
      CatalogManifest.onManifestLoaded = () => ()
      CatalogManifest.publishEntries(spark, winner.toDS(), manifest)
    }
    val e = try intercept[IllegalArgumentException] {
      CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
    } finally CatalogManifest.onManifestLoaded = () => ()
    assert(e.getMessage.contains("advanced from generation _gen-00000000") &&
      e.getMessage.contains("to _gen-00000001"), e.getMessage)
    // B's generation is untouched and current; A wrote NOTHING (the
    // check runs before the claim and the generation write)
    assert(genNumOf(pointedGen(manifest)) == 1)
    assert(genDirNums(manifest).count(_ == 2) == 0,
      "the refused refresh must not leave a gen-2 orphan")
    assert(ByteStore.list(manifest).map(_.name)
      .count(_.startsWith("_claim-")) == 0, "no claim residue")
    val rows = CatalogManifest.read(spark, manifest)
      .select("store").as[String].collect()
    assert(rows.toSeq == Seq("/winner/s1"), rows.toSeq)
    // a re-run of the refresh against the CURRENT generation succeeds
    // (B's synthetic stores are not on disk, so refresh reconciles
    // them as removed and re-adds the real catalog)
    val (a2, c2, r2, u2) =
      CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
    assert((a2, c2, r2, u2) == ((3, 0, 1, 0)), (a2, c2, r2, u2))
    assert(genNumOf(pointedGen(manifest)) == 2)
    // SAME-NUMBER generation reuse is also a lost update: a racer can
    // land a DIFFERENT writer-unique directory under the same
    // generation number (double-race re-claim), so the optimistic
    // check must compare the pointed DIRECTORY, not the number
    val loadedDir = pointedGen(manifest)
    CatalogManifest.onManifestLoaded = () => {
      CatalogManifest.onManifestLoaded = () => ()
      // simulate the racer's twin: point at the SAME number under a
      // different writer token (the loaded generation's files stay in
      // place — A's own diff still reads them; only the pointer moves)
      ByteStore.writeString(s"$manifest/_current",
        loadedDir.take("_gen-00000000".length) + "-ffffffff")
    }
    val e2 = try intercept[IllegalArgumentException] {
      CatalogManifest.refresh(spark, "zarr", dir, Seq("lwp"), manifest)
    } finally CatalogManifest.onManifestLoaded = () => ()
    assert(e2.getMessage.contains("advanced from generation") &&
      e2.getMessage.contains(loadedDir) &&
      e2.getMessage.contains("-ffffffff"), e2.getMessage)
  }

  test("post-flip verification: a racer's flip inside the verify window fails the publish loudly") {
    import spark.implicits._
    def entry(tag: String) =
      CatalogManifest.Entry(s"/$tag/s1", "lwp", "zarr", s"/$tag",
        0L, 0L, 0L, 1L,
        Seq(GridOpen.RawAxis(0, "x", None, None, Some(Array(0.0, 1.0)))),
        1.0, 0.0, None, None, Seq("lwp"))
    val dir = Files.createTempDirectory("graft-manif-postflip").toString
    val manifest = s"$dir/_m"
    CatalogManifest.publishEntries(spark, Seq(entry("base")).toDS(), manifest)
    val baseGen = pointedGen(manifest)
    // the racer lands between writer A's flip and its verification:
    // it flips the pointer back to the base generation (a complete,
    // readable one — the racer's own publish point)
    CatalogManifest.onPointerFlipped = () => {
      CatalogManifest.onPointerFlipped = () => ()
      ByteStore.writeString(s"$manifest/_current", baseGen)
    }
    val e = try intercept[IllegalArgumentException] {
      CatalogManifest.publishEntries(spark, Seq(entry("mine")).toDS(),
        manifest)
    } finally CatalogManifest.onPointerFlipped = () => ()
    assert(e.getMessage.contains("after this publish flipped"), e.getMessage)
    // readers see the racer's (here: base) complete generation
    assert(pointedGen(manifest) == baseGen)
    val rows = CatalogManifest.read(spark, manifest)
      .select("store").as[String].collect()
    assert(rows.toSeq == Seq("/base/s1"), rows.toSeq)
    // the failed writer's claim ages out through later publishes
    CatalogManifest.publishEntries(spark, Seq(entry("later")).toDS(), manifest)
    CatalogManifest.publishEntries(spark, Seq(entry("last")).toDS(), manifest)
    assert(ByteStore.list(manifest).map(_.name)
      .count(_.startsWith("_claim-")) == 0, "claim residue survived aging")
    assert(CatalogManifest.read(spark, manifest).count() == 1)
  }

  test("diffFp: frame-join diff collects O(changed) driver rows with refresh and read-guard legacy semantics") {
    import spark.implicits._
    val n = 5000
    val oldFp = spark.range(n.toLong).selectExpr(
      "concat('/syn/d', lpad(cast(id as string), 6, '0')) as store",
      "id as fpMtime", "id as fpBytes", "1 as fpCount",
      // ids divisible by 100 are LEGACY rows (hash 0)
      "cast(case when id % 100 = 0 then 0 else id + 7 end as bigint) as fpHash")
    // current listing: drop the first 5 (removed), append 5 (added),
    // move the HASH ONLY on ids 1000-1009 (triple stays equal)
    val curFp = spark.range(5L, n.toLong + 5).selectExpr(
      "concat('/syn/d', lpad(cast(id as string), 6, '0')) as store",
      "id as __mt", "id as __by", "1 as __n",
      s"""cast(case when id >= 1000 and id < 1010 then id + 8
           when id % 100 = 0 then 0 else id + 7 end as bigint) as __h""")
    // refresh semantics: legacy rows re-scan outright
    val legacyCount = (5 until n).count(_ % 100 == 0)
    val (a1, c1, r1, u1, _, d1) = CatalogManifest.diffFp(
      spark, oldFp, curFp, sameVars = true, legacyHashTripleFallback = false)
    try {
      assert(a1.length == 5 && a1.forall(_ >= s"/syn/d00${n - 1}"), a1)
      // hash movers minus the legacy id 1000 (already counted legacy)
      val hashMovers = (1000 until 1010).count(_ % 100 != 0)
      assert(c1.length == legacyCount + hashMovers, c1.length)
      assert(r1 == 5 && u1 == n - 5 - legacyCount - hashMovers)
      assert(CatalogManifest.lastDiffCollected == a1.length + c1.length + 4,
        s"collected ${CatalogManifest.lastDiffCollected} driver rows")
    } finally d1.release()
    // read-guard semantics: a legacy row with an equal TRIPLE is
    // unchanged (the fallback compare), so only the hash movers with
    // nonzero stored hashes count
    val (a2, c2, r2, u2, _, d2) = CatalogManifest.diffFp(
      spark, oldFp, curFp, sameVars = true, legacyHashTripleFallback = true)
    try {
      assert(a2.length == 5 && r2 == 5)
      assert(c2.length == (1000 until 1010).count(_ % 100 != 0), c2)
      assert(u2 == n - 5 - c2.length)
    } finally d2.release()
    // different requested variables: every kept store re-scans
    val (a3, c3, r3, u3, _, d3) = CatalogManifest.diffFp(
      spark, oldFp, curFp, sameVars = false, legacyHashTripleFallback = false)
    try assert(a3.length == 5 && c3.length == n - 5 && r3 == 5 && u3 == 0)
    finally d3.release()
    // a NULL fp column (corrupt / foreign-written manifest row) must
    // fail SAFE — re-scan, never "unchanged": the comparison is
    // UNKNOWN, and stamping the fresh wave's hash onto an unverifiable
    // row would launder it as verified
    val oldNull = spark.sql(
      """SELECT '/syn/x' AS store, 1L AS fpMtime, 1L AS fpBytes,
        |  1L AS fpCount, CAST(NULL AS BIGINT) AS fpHash""".stripMargin)
    val curX = spark.sql(
      "SELECT '/syn/x' AS store, 1L AS __mt, 1L AS __by, 1L AS __n, 9L AS __h")
    Seq(true, false).foreach { legacy =>
      val (a4, c4, r4, u4, _, d4) = CatalogManifest.diffFp(
        spark, oldNull, curX, sameVars = true,
        legacyHashTripleFallback = legacy)
      try assert(a4.isEmpty && c4 == Seq("/syn/x") && r4 == 0 && u4 == 0,
        s"legacy=$legacy: null-hash row must re-scan, got ($a4,$c4,$r4,$u4)")
      finally d4.release()
    }
  }

  test("zarrCatalogScenesFromManifest: survivors only, metadata-plane, staleness-guarded on demand") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-manif-scenes").toString
    writeZarrCatalog(dir, 6) // per-store epochs: day 1 + i%28
    val manifest = s"$dir/_manifest"
    CatalogManifest.build(spark, "zarr", dir, Seq("lwp"), manifest)
    // day-2..3 window: only sc001/sc002 survive — and the list is
    // computed with ZERO per-store reads (manifest parquet only)
    val tb = Map("time" -> ("2021-01-02 00:00:00", "2021-01-03 23:00:00"))
    val (scenes, rec) = recording {
      GridOpen.catalogScenesFromManifest(spark, manifest, "lwp",
        timeBounds = tb).as[String].collect().toSeq.sorted
    }
    assert(scenes.map(_.split('/').last) == Seq("sc001.zarr", "sc002.zarr"))
    val storeReads = rec.pathsTouched.filter(p =>
      p.contains(".zarr") && !p.contains("_manifest"))
    assert(storeReads.isEmpty, s"scene list touched stores: $storeReads")
    // everything pruned -> empty list (never the schema-fallback store)
    assert(GridOpen.catalogScenesFromManifest(spark, manifest, "lwp",
      timeBounds = Map("time" ->
        ("2030-01-01 00:00:00", "2030-01-02 00:00:00"))).isEmpty)
    // the guard is opt-in here (the paired data open runs its own):
    // default OFF ignores a store change; ON refuses like the open
    ByteStore.writeString(s"$dir/sc001.zarr/lwp/.zattrs",
      """{"_ARRAY_DIMENSIONS": ["time","x"], "note": "drifted"}""")
    assert(GridOpen.catalogScenesFromManifest(spark, manifest, "lwp",
      timeBounds = tb).count() == 2)
    val e = intercept[IllegalArgumentException] {
      GridOpen.catalogScenesFromManifest(spark, manifest, "lwp",
        timeBounds = tb, verifyFingerprints = true).count()
    }
    assert(e.getMessage.contains("changed since the manifest was built"),
      e.getMessage)
  }

  test("diffFp matches a naive driver diff on randomized fingerprint sets (40 rounds)") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260820)
    (1 to 40).foreach { round =>
      val universe = (0 until 60).map(i => f"/u/s$i%02d")
      val oldStores = rnd.shuffle(universe).take(rnd.nextInt(40))
      val curStores = rnd.shuffle(universe).take(rnd.nextInt(40))
      // tiny value ranges so collisions (equal triples with moved
      // hashes, legacy zero hashes, full matches) all occur often
      def fp(): (Long, Long, Long, Long) =
        (rnd.nextInt(3).toLong, rnd.nextInt(3).toLong,
          rnd.nextInt(3).toLong, rnd.nextInt(4).toLong)
      val oldMap = oldStores.map(s => s -> fp()).toMap
      val curMap = curStores.map { s =>
        s -> (if (oldMap.contains(s) && rnd.nextBoolean()) oldMap(s)
          else fp())
      }.toMap
      val sameVars = rnd.nextBoolean()
      val legacy = rnd.nextBoolean()
      val oldDf = oldMap.toSeq.map { case (s, (a, b, c, h)) => (s, a, b, c, h) }
        .toDF("store", "fpMtime", "fpBytes", "fpCount", "fpHash")
      val curDf = curMap.toSeq.map { case (s, (a, b, c, h)) => (s, a, b, c, h) }
        .toDF("store", "__mt", "__by", "__n", "__h")
      val (a, c, r, u, _, d) = CatalogManifest.diffFp(spark, oldDf, curDf,
        sameVars, legacyHashTripleFallback = legacy)
      try {
        def changedOf(s: String): Boolean = {
          val o = oldMap(s); val n2 = curMap(s)
          if (!sameVars) true
          else if (legacy) {
            if (o._4 == 0L) (o._1, o._2, o._3) != ((n2._1, n2._2, n2._3))
            else o != n2
          } else o._4 == 0L || o != n2
        }
        val expA = curStores.filterNot(oldMap.contains).sorted
        val both = curStores.filter(oldMap.contains)
        val expC = both.filter(changedOf).sorted
        assert(a == expA, s"round $round (sameVars=$sameVars legacy=$legacy)" +
          s" added: $a vs $expA")
        assert(c == expC, s"round $round (sameVars=$sameVars legacy=$legacy)" +
          s" changed: $c vs $expC")
        assert(r == oldStores.count(s => !curMap.contains(s)) &&
          u == both.count(s => !changedOf(s)),
          s"round $round counts ($r, $u)")
      } finally d.release()
    }
  }
}
