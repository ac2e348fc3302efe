package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The coordinate-VALUE crop: monotonic interval location (both
  * directions, edges, empties, loud non-monotonic), dim-name resolution
  * from store metadata, and end-to-end crops that match a residual
  * value-filter of the uncropped mount. */
class CoordCropSpec extends SparkSpec {

  test("valueRangeToIdx: ascending, descending, edges, empty, singleton") {
    val asc = Array(0.0, 10.0, 20.0, 30.0, 40.0)
    assert(CoordCrop.valueRangeToIdx(asc, 10.0, 30.0) == Some((1, 3)))
    assert(CoordCrop.valueRangeToIdx(asc, 9.0, 31.0) == Some((1, 3)))
    assert(CoordCrop.valueRangeToIdx(asc, -5.0, 100.0) == Some((0, 4)))
    assert(CoordCrop.valueRangeToIdx(asc, 11.0, 19.0) == None)
    assert(CoordCrop.valueRangeToIdx(asc, 50.0, 60.0) == None)
    assert(CoordCrop.valueRangeToIdx(asc, 30.0, 10.0) == None) // lo > hi
    val desc = Array(40.0, 30.0, 20.0, 10.0, 0.0)
    assert(CoordCrop.valueRangeToIdx(desc, 10.0, 30.0) == Some((1, 3)))
    assert(CoordCrop.valueRangeToIdx(desc, -5.0, 100.0) == Some((0, 4)))
    assert(CoordCrop.valueRangeToIdx(desc, 11.0, 19.0) == None)
    // repeated values stay inside the range (non-strict monotonic)
    assert(CoordCrop.valueRangeToIdx(Array(0.0, 5.0, 5.0, 9.0), 5.0, 5.0) == Some((1, 2)))
    assert(CoordCrop.valueRangeToIdx(Array(7.0), 5.0, 9.0) == Some((0, 0)))
    assert(CoordCrop.valueRangeToIdx(Array.empty[Double], 0.0, 1.0) == None)
    val e = intercept[IllegalArgumentException] {
      CoordCrop.valueRangeToIdx(Array(0.0, 2.0, 1.0, 3.0), 0.0, 3.0)
    }
    assert(e.getMessage.contains("not monotonic"))
  }

  test("zarr v2 dim names resolve from .zattrs; a value crop equals the residual filter") {
    val dir = Files.createTempDirectory("graft-coordcrop-z2").toString
    val (ny, nx) = (9, 6)
    val grid = spark.range(ny.toLong * nx).select(
      lit("s0").as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr(s"id % $nx") * 100.0).as("x"),
      (expr(s"id div $nx") * 100.0).as("y"),
      (col("id") * 0.25 - 3.0).as("value"))
    ZarrSink.writeScenes(grid, dir, "lwp", chunkRows = Some(4),
      zlibLevel = Some(6)).count()
    val store = s"$dir/s0.zarr"
    assert(CoordCrop.zarrDimNames(store, "lwp") == Seq("y", "x"))
    val cropped = GridOpen.open(spark, GridFormat.Zarr, store, "lwp",
        Map("y" -> (300.0, 600.0), "x" -> (100.0, 300.0)))
      .select("idx", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    val residual = spark.read.format("graft.sources.ZarrDataSource")
      .option("path", store).load()
      .where(col("dataset") === "lwp" &&
        (col("d0") * 100.0).between(300.0, 600.0) &&
        (col("d1") * 100.0).between(100.0, 300.0))
      .select("idx", "value").collect().map(r => (r.getLong(0), r.getDouble(1))).sorted
    assert(cropped.nonEmpty && cropped.sameElements(residual))
  }

  test("zarr v3 dim names resolve from dimension_names (sharded store included)") {
    val dir = Files.createTempDirectory("graft-coordcrop-z3").toString
    val (ny, nx) = (8, 4)
    val grid = spark.range(ny.toLong * nx).select(
      lit("s0").as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr(s"id % $nx") * 10.0).as("x"),
      (expr(s"id div $nx") * 10.0).as("y"),
      (col("id") * 1.0).as("value"))
    Zarr3.writeScenes(grid, dir, "lwp", chunkRows = Some(4),
      gzipLevel = Some(6), shardInnerRows = Some(2)).count()
    val store = s"$dir/s0.zarr"
    assert(CoordCrop.zarrDimNames(store, "lwp") == Seq("y", "x"))
    // driver-side array reads come back idx-ordered on BOTH branches:
    // the plain-chunk coord array and the sharded data array
    assert(GridFormat.Zarr.arrayValues(store, "y").toSeq ==
      (0 until ny).map(_ * 10.0))
    assert(GridFormat.Zarr.arrayValues(store, "lwp").toSeq ==
      (0 until ny * nx).map(_.toDouble))
    val got = GridOpen.open(spark, GridFormat.Zarr, store, "lwp", Map("y" -> (20.0, 50.0)))
      .agg(sum("value")).head.getDouble(0)
    val want = (0 until ny * nx).filter(i => (i / nx) >= 2 && (i / nx) <= 5).sum.toDouble
    assert(math.abs(got - want) < 1e-9)
  }

  test("an out-of-extent bound crops to an empty frame, not an error") {
    val dir = Files.createTempDirectory("graft-coordcrop-empty").toString
    val grid = spark.range(12).select(
      lit("s0").as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr("id % 4") * 1.0).as("x"), (expr("id div 4") * 1.0).as("y"),
      col("id").cast("double").as("value"))
    ZarrSink.writeScenes(grid, dir, "lwp").count()
    assert(GridOpen.open(spark, GridFormat.Zarr, s"$dir/s0.zarr", "lwp",
      Map("y" -> (100.0, 200.0))).count() == 0)
  }

  test("unknown dimension names and missing coordinate variables fail loudly") {
    val dir = Files.createTempDirectory("graft-coordcrop-bad").toString
    val grid = spark.range(12).select(
      lit("s0").as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr("id % 4") * 1.0).as("x"), (expr("id div 4") * 1.0).as("y"),
      col("id").cast("double").as("value"))
    ZarrSink.writeScenes(grid, dir, "lwp").count()
    val e = intercept[IllegalArgumentException] {
      GridOpen.open(spark, GridFormat.Zarr, s"$dir/s0.zarr", "lwp", Map("lat" -> (0.0, 1.0)))
    }
    assert(e.getMessage.contains("not among"))
  }
}
