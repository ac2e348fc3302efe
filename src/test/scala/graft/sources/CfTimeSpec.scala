package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** CF time units (CF §4.4): the udunits spellings xarray emits, the
  * reference-instant grammar (date / datetime / T separator / zone
  * offset / fractional seconds), calendar gating, affine-axis
  * detection, and the end-to-end TIMESTAMP crop + decode over an
  * HDF5 mount with netCDF-4 dimension scales (q211's shape). */
class CfTimeSpec extends SparkSpec {

  private val HourUs = 3600000000L
  private val DayUs = 86400000000L

  test("parseUnits: spellings, instants, zones, fractions") {
    assert(CfTime.parseUnits("hours since 1970-01-01") == (0L, HourUs))
    assert(CfTime.parseUnits("hour since 1970-01-01 00:00:00") == (0L, HourUs))
    assert(CfTime.parseUnits("hrs since 1970-01-01T00:00:00Z") == (0L, HourUs))
    assert(CfTime.parseUnits("SECONDS since 1970-01-01") == (0L, 1000000L))
    assert(CfTime.parseUnits("days since 1970-01-02") == (DayUs, DayUs))
    // zone offsets shift the epoch; fractional seconds keep micros
    assert(CfTime.parseUnits("minutes since 1970-01-01 01:00:00+01:00") ==
      (0L, 60000000L))
    assert(CfTime.parseUnits("seconds since 1970-01-01 00:00:01.5") ==
      (1500000L, 1000000L))
    // the ERA5/CMIP shape: a far epoch
    val (e, s) = CfTime.parseUnits("hours since 1900-01-01 00:00:00.0")
    assert(s == HourUs && e == -2208988800L * 1000000L)
    intercept[IllegalArgumentException](CfTime.parseUnits("furlongs since 1970-01-01"))
    intercept[IllegalArgumentException](CfTime.parseUnits("hours after 1970-01-01"))
    intercept[IllegalArgumentException](CfTime.parseUnits("hours since yesterday"))
  }

  test("numericRange maps timestamp bounds through the units") {
    assert(CfTime.numericRange("hours since 2020-01-01",
      "2020-01-01 06:00:00", "2020-01-01T18:00:00Z") == (6.0, 18.0))
    assert(CfTime.numericRange("days since 2020-01-01",
      "2020-01-02", "2020-01-04 12:00:00") == (1.0, 3.5))
  }

  test("calendar gate: standard spellings pass, others fail loudly") {
    CfTime.requireStandardCalendar(None, "t")
    CfTime.requireStandardCalendar(Some("standard"), "t")
    CfTime.requireStandardCalendar(Some("Gregorian"), "t")
    CfTime.requireStandardCalendar(Some("proleptic_gregorian"), "t")
    val e = intercept[IllegalArgumentException](
      CfTime.requireStandardCalendar(Some("360_day"), "t"))
    assert(e.getMessage.contains("360_day"))
  }

  test("affineOf: evenly spaced detected, irregular rejected") {
    assert(CfTime.affineOf(Array(3.0, 5.0, 7.0, 9.0)) == Some((3.0, 2.0)))
    assert(CfTime.affineOf(Array(10.0)) == Some((10.0, 1.0)))
    assert(CfTime.affineOf(Array(0.0, 1.0, 3.0)).isEmpty)
    // descending is affine too (negative stride)
    assert(CfTime.affineOf(Array(9.0, 6.0, 3.0)) == Some((9.0, -3.0)))
  }

  test("affine and row-wise decode agree to the microsecond (fractional steps, pre-epoch)") {
    // 0.1-hour strides are not exactly representable in binary; with
    // cast-truncation on the affine path the two decode paths disagreed
    // by 1 us (and pre-epoch values biased upward). Both now share
    // Math.round (floor(x + 0.5)) semantics.
    val cases = Seq(
      ("hours since 2020-01-01", 0.0, 0.1, 40),          // fractional step
      ("hours since 1969-12-01", 0.05, 0.1, 40),         // pre-epoch, fractional
      ("days since 1960-01-01", -3.25, 0.5, 20),         // pre-epoch, negative first
      ("seconds since 1970-01-01 00:00:00.5", 0.0, 1.5, 20),
      ("minutes since 1900-01-01", 7.0, 1440.25, 12))
    for ((units, first, stride, n) <- cases) {
      val coords = Array.tabulate(n)(i => first + i * stride)
      val df = spark.range(n.toLong).select(
        CfTime.affineTimestamp(col("id"), units, first, stride).as("a"),
        CfTime.timestampFromValues(col("id"), units, coords).as("b"))
      val diff = df.where(col("a") =!= col("b")).count()
      assert(diff == 0L, s"$units first=$first stride=$stride: $diff rows disagree")
    }
  }

  test("end-to-end: a TIMESTAMP-bounded crop prunes and decodes on the HDF5 mount") {
    val dir = Files.createTempDirectory("graft-cftime").toString
    val bytes = HDF5.write(Seq(
      HDF5.DsSpec("v", Seq(8, 2), Array.tabulate(16)(_ * 1.0),
        chunkDims = Some(Seq(2, 2)),
        attrs = Seq(HDF5.WAttrDimList("DIMENSION_LIST", Seq("time", "x")))),
      HDF5.DsSpec("time", Seq(8), Array.tabulate(8)(d => 2.0 + d), // days 2..9
        attrs = Seq(
          HDF5.WAttrString("NAME", "time"),
          HDF5.WAttrString("units", "days since 2021-06-01"))),
      HDF5.DsSpec("x", Seq(2), Array(0.0, 1.0),
        attrs = Seq(HDF5.WAttrString("NAME", "x")))))
    val p = Paths.get(dir, "t.h5"); Files.write(p, bytes)
    val units = CfTime.hdf5Units(p.toString, "time")
    // 2021-06-04 .. 2021-06-07 -> day numbers 3..6 -> d0 1..4
    val (lo, hi) = CfTime.numericRange(units, "2021-06-04", "2021-06-07")
    val df = CoordCrop.crop(spark, GridFormat.Hdf5, p.toString, "v",
        Map("time" -> (lo, hi)))
      .select(CfTime.hdf5AffineTimestamp(p.toString, "time", col("d0")).as("ts"),
        col("idx"), col("value"))
    val rows = df.collect().map(r =>
      (r.getTimestamp(0).toInstant.toString, r.getLong(1))).sorted
    assert(rows.map(_._2).toSeq == Seq(2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L))
    assert(rows.head._1 == "2021-06-04T00:00:00Z")
    assert(rows.last._1 == "2021-06-07T00:00:00Z") // the hi bound is inclusive
    // d0 1-4 over (2,2) chunks -> chunk rows 0-2 of 4 plan
    assert(df.rdd.getNumPartitions == 3)
    // a non-affine axis refuses the affine decode rather than mis-dating
    val bytes2 = HDF5.write(Seq(
      HDF5.DsSpec("time", Seq(3), Array(0.0, 1.0, 5.0),
        attrs = Seq(HDF5.WAttrString("units", "hours since 2021-01-01")))))
    val p2 = Paths.get(dir, "t2.h5"); Files.write(p2, bytes2)
    val e = intercept[IllegalArgumentException](
      CfTime.hdf5AffineTimestamp(p2.toString, "time", col("d0")))
    assert(e.getMessage.contains("not evenly spaced"))
    // ... and the row-wise value decode covers it: 0, 1, 5 hours
    val units2 = CfTime.hdf5Units(p2.toString, "time")
    val got = spark.range(3).select(CfTime.timestampFromValues(
        col("id"), units2, Array(0.0, 1.0, 5.0)).as("ts"))
      .collect().map(_.getTimestamp(0).toInstant.toString)
    assert(got.toSeq == Seq("2021-01-01T00:00:00Z", "2021-01-01T01:00:00Z",
      "2021-01-01T05:00:00Z"))
    // an out-of-axis dim value decodes to null, not an error
    assert(spark.range(1).select(CfTime.timestampFromValues(
      lit(99), units2, Array(0.0, 1.0, 5.0)).as("ts")).head.isNullAt(0))
  }
}
