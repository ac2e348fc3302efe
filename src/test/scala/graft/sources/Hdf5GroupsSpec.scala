package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Nested HDF5 groups (the netCDF-4 group model): datasets addressed
  * by GROUP PATH exactly like the zarr mount, attributes and dimension
  * scales resolving across groups, group attrs surfaced, and the DSv2
  * mount pruning on path-qualified dataset names. */
class Hdf5GroupsSpec extends SparkSpec {

  private lazy val storePath: String = {
    val dir = Files.createTempDirectory("graft-h5groups").toString
    val bytes = HDF5.write(Seq(
      HDF5.DsSpec("surface", Seq(4), Array.tabulate(4)(_ * 2.0)),
      HDF5.DsSpec("model/t2m", Seq(4, 6), Array.tabulate(24)(_ * 0.5),
        chunkDims = Some(Seq(2, 6)),
        attrs = Seq(
          HDF5.WAttrDimList("DIMENSION_LIST", Seq("model/y", "model/x")),
          HDF5.WAttrString("units", "K"))),
      HDF5.DsSpec("model/y", Seq(4), Array.tabulate(4)(j => j * 10.0),
        attrs = Seq(HDF5.WAttrString("NAME", "y"))),
      HDF5.DsSpec("model/x", Seq(6), Array.tabulate(6)(i => i * 5.0)),
      HDF5.DsSpec("model/deep/bias", Seq(3), Array(0.1, 0.2, 0.3),
        attrs = Seq(HDF5.WAttrDouble("version", Seq(3.0))))), deflate = true)
    val f = Paths.get(dir, "grouped.h5")
    Files.write(f, bytes)
    f.toString
  }

  test("read and manifest address nested datasets by group path") {
    val in = new PagedFileInput(storePath)
    try {
      val dss = HDF5.read(in).sortBy(_.name)
      assert(dss.map(_.name) ==
        Seq("model/deep/bias", "model/t2m", "model/x", "model/y", "surface"))
      assert(dss.find(_.name == "model/t2m").get.data.toSeq ==
        (0 until 24).map(_ * 0.5))
      assert(dss.find(_.name == "model/deep/bias").get.data.toSeq ==
        Seq(0.1, 0.2, 0.3))
      // groups appear in the walk, flagged as such
      val walk = HDF5.walkEntries(in)
      assert(walk.collect { case (p, _, true) => p }.sorted ==
        Seq("model", "model/deep"))
    } finally in.close()
  }

  test("attributes and dimension scales resolve across group paths") {
    val in = new PagedFileInput(storePath)
    try {
      val attrs = HDF5.attributes(in)
      assert(attrs("model/t2m").exists(a => a.name == "units" &&
        a.str.contains("K")))
      assert(attrs("model/deep/bias").exists(a => a.name == "version" &&
        a.num.contains(3.0)))
      assert(attrs.contains("model")) // group keys present (no attrs here)
      assert(HDF5.dimensionNames(in) ==
        Map("model/t2m" -> Seq(Some("model/y"), Some("model/x"))))
    } finally in.close()
  }

  test("the DSv2 mount filters and crops on path-qualified names") {
    val df = spark.read.format("graft.sources.Hdf5DataSource")
      .option("path", storePath).load()
    val got = df.where(col("dataset") === "model/t2m")
      .orderBy("idx").select("value").collect().map(_.getDouble(0))
    assert(got.toSeq == (0 until 24).map(_ * 0.5))
    // the auto coord crop rides DIMENSION_LIST across groups: y in
    // [10, 20] -> d0 1-2 -> both (2,6) chunk rows 0-1 plan, row 0
    // residual-filtered
    val cropped = CoordCrop.crop(spark, GridFormat.Hdf5, storePath, "model/t2m",
      Map("model/y" -> (10.0, 20.0)))
    assert(cropped.select("idx").collect().map(_.getLong(0)).sorted.toSeq ==
      (6 until 18).map(_.toLong))
    assert(cropped.rdd.getNumPartitions == 2)
  }
}
