package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** HDF5 attributes + netCDF-4 dimension scales + CF mask-and-scale:
  * writer→reader round-trip of every attr kind the v0 writer emits
  * (numeric, string, DIMENSION_LIST vlen-of-object-reference through
  * the global heap), dimension-name resolution from object refs, the
  * auto coordinate crop riding those names, and the packed-data decode
  * (xarray `mask_and_scale` semantics; CF conventions §8.1). */
class Hdf5AttrsSpec extends SparkSpec {

  private val (ny, nx) = (6, 10)

  /** netCDF-4-shaped store: tair(y, x) chunked + its two dim scales. */
  private lazy val storePath: String = {
    val dir = Files.createTempDirectory("graft-h5attrs").toString
    val raw = Array.tabulate(ny * nx) { i =>
      if (i % 17 == 0) -999.0 else i.toDouble * 3 // a few fill sentinels
    }
    val bytes = HDF5.write(Seq(
      HDF5.DsSpec("tair", Seq(ny, nx), raw, chunkDims = Some(Seq(2, 5)),
        attrs = Seq(
          HDF5.WAttrDimList("DIMENSION_LIST", Seq("y", "x")),
          HDF5.WAttrString("units", "K"),
          HDF5.WAttrDouble("scale_factor", Seq(0.01)),
          HDF5.WAttrDouble("add_offset", Seq(20.0)),
          HDF5.WAttrDouble("_FillValue", Seq(-999.0)),
          HDF5.WAttrLong("valid_range", Seq(-120, 12000)))),
      HDF5.DsSpec("y", Seq(ny), Array.tabulate(ny)(j => 10.0 + j * 10.0),
        attrs = Seq(
          HDF5.WAttrString("CLASS", "DIMENSION_SCALE"),
          HDF5.WAttrString("NAME", "y"))),
      HDF5.DsSpec("x", Seq(nx), Array.tabulate(nx)(i => 5.0 + i * 10.0),
        attrs = Seq(
          HDF5.WAttrString("CLASS", "DIMENSION_SCALE"),
          HDF5.WAttrString("NAME", "x")))))
    val f = java.nio.file.Paths.get(dir, "store.h5")
    Files.write(f, bytes)
    f.toString
  }

  test("attributes round-trip: numeric, string, and int64 attrs decode exactly") {
    val in = new PagedFileInput(storePath)
    try {
      val attrs = HDF5.attributes(in)
      val tair = attrs("tair").map(a => a.name -> a.value).toMap
      assert(tair("units") == HDF5.H5AttrValue.Strs(Seq("K")))
      assert(tair("scale_factor") == HDF5.H5AttrValue.Nums(Seq(0.01)))
      assert(tair("add_offset") == HDF5.H5AttrValue.Nums(Seq(20.0)))
      assert(tair("_FillValue") == HDF5.H5AttrValue.Nums(Seq(-999.0)))
      assert(tair("valid_range") == HDF5.H5AttrValue.Ints(Seq(-120L, 12000L)))
      val y = attrs("y").map(a => a.name -> a.value).toMap
      assert(y("CLASS") == HDF5.H5AttrValue.Strs(Seq("DIMENSION_SCALE")))
      assert(y("NAME") == HDF5.H5AttrValue.Strs(Seq("y")))
      assert(attrs("") == Nil) // root carries none in this store
    } finally in.close()
  }

  test("DIMENSION_LIST resolves through the global heap to per-axis names") {
    val in = new PagedFileInput(storePath)
    try {
      val dims = HDF5.dimensionNames(in)
      assert(dims == Map("tair" -> Seq(Some("y"), Some("x"))))
      // the raw attr surfaces too: one single-ref list per axis
      val dl = HDF5.attributes(in)("tair").find(_.name == "DIMENSION_LIST").get
      dl.value match {
        case HDF5.H5AttrValue.RefLists(ls) =>
          assert(ls.length == 2 && ls.forall(_.length == 1))
        case other => fail(s"unexpected DIMENSION_LIST value $other")
      }
    } finally in.close()
  }

  test("hdf5Netcdf4 crop: auto-discovered dims match the explicit mapping and the residual filter") {
    val bounds = Map("y" -> (20.0, 40.0), "x" -> (35.0, 75.0))
    val auto = CoordCrop.crop(spark, GridFormat.Hdf5, storePath, "tair", bounds)
      .select("idx", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    val explicit = CoordCrop.crop(spark, GridFormat.Hdf5, storePath, "tair", bounds,
      dims = Seq("y", "x"))
      .select("idx", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    val residual = spark.read.format("graft.sources.Hdf5DataSource")
      .option("path", storePath).load()
      .where(col("dataset") === "tair" &&
        (col("d0") * 10.0 + 10.0).between(20.0, 40.0) &&
        (col("d1") * 10.0 + 5.0).between(35.0, 75.0))
      .select("idx", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(auto.nonEmpty && auto.sameElements(explicit) && auto.sameElements(residual))
  }

  test("hdf5Netcdf4 fails loudly when the variable has no DIMENSION_LIST") {
    val e = intercept[IllegalArgumentException] {
      CoordCrop.crop(spark, GridFormat.Hdf5, storePath, "y", Map("y" -> (0.0, 1.0)))
    }
    assert(e.getMessage.contains("DIMENSION_LIST"))
  }

  test("CF mask-and-scale: fill -> null, scale/offset applied, identity when absent") {
    val rows = CfDecode.hdf5(spark, storePath, "tair")
      .select("idx", "value").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
      .toMap
    (0 until ny * nx).foreach { i =>
      if (i % 17 == 0) assert(rows(i.toLong).isEmpty, s"idx $i should be masked")
      else assert(math.abs(rows(i.toLong).get - (i * 3 * 0.01 + 20.0)) < 1e-12)
    }
    // an unpacked variable (no CF attrs) round-trips unchanged
    val y = CfDecode.hdf5(spark, storePath, "y")
      .orderBy("idx").select("value").collect().map(_.getDouble(0))
    assert(y.toSeq == (0 until ny).map(j => 10.0 + j * 10.0))
  }

  test("corrupted attribute metadata fails loudly — no Errors, no hangs") {
    val orig = {
      val in = getClass.getResourceAsStream("/fixtures/golden_ncattrs.h5")
      require(in != null, "golden_ncattrs.h5 missing — run tools/make_fixtures.py")
      try in.readAllBytes() finally in.close()
    }
    // sanity: the pristine bytes decode
    assert(HDF5.attributes(new ArrayInput(orig))("tair").nonEmpty)
    val rng = new scala.util.Random(4242)
    var loudRejects = 0
    for (_ <- 0 until 80) {
      val mutated =
        if (rng.nextBoolean()) { // truncate somewhere past the superblock
          val at = 96 + rng.nextInt(orig.length - 96)
          java.util.Arrays.copyOf(orig, at)
        } else { // flip a bit anywhere (headers, GCOL, heap, B-tree)
          val m = orig.clone()
          val at = rng.nextInt(m.length)
          m(at) = (m(at) ^ (1 << rng.nextInt(8))).toByte
          m
        }
      try {
        val in = new ArrayInput(mutated)
        // the walk + every decoded value; Unsupported is fine, Error is not
        HDF5.attributes(in).values.flatten.foreach(_.value)
        HDF5.dimensionNames(in)
        ()
      } catch {
        case _: Exception => loudRejects += 1 // loud is the contract
        case e: Error => fail(s"corruption escalated to ${e.getClass}: $e")
      }
    }
    // bit flips in padding can be benign; structural damage must reject
    assert(loudRejects > 15, s"only $loudRejects/80 mutations rejected")
  }

  test("the latest-generation writers reject attrs rather than dropping them") {
    val e = intercept[IllegalArgumentException] {
      HDF5.writeLatest(Seq(HDF5.DsSpec("v", Seq(2), Array(1.0, 2.0),
        attrs = Seq(HDF5.WAttrString("units", "K")))))
    }
    assert(e.getMessage.contains("attribute writing"))
  }
}
