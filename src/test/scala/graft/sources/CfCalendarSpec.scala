package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Non-standard CF calendars against the FOREIGN golden
  * (`golden_calendars.nc` + manifest, written by the independent
  * python implementation in tools/make_fixtures.py): every decoded
  * datetime must match byte-for-byte, including the cases that
  * DISCRIMINATE against Gregorian arithmetic (2000-02-30 exists in
  * 360_day; noleap skips the real leap day 2000-02-29; all_leap
  * contains 1999-02-29), and the crop ranges must map bounds onto the
  * same numeric windows. */
class CfCalendarSpec extends SparkSpec {

  private lazy val (ncPath, manifest) = {
    val res = getClass.getResourceAsStream("/fixtures/golden_calendars.nc")
    require(res != null, "golden_calendars.nc missing — run tools/make_fixtures.py")
    val bytes = try res.readAllBytes() finally res.close()
    val p = Files.createTempFile("graft-cfcal", ".nc")
    Files.write(p, bytes)
    val mres = getClass.getResourceAsStream("/fixtures/golden_calendars_manifest.json")
    require(mres != null, "manifest missing — run tools/make_fixtures.py")
    val mjson = try new String(mres.readAllBytes(), "UTF-8") finally mres.close()
    (p.toString, org.json4s.jackson.JsonMethods.parse(mjson))
  }

  test("decoded datetimes match the foreign golden on all three calendars") {
    import org.json4s._
    implicit val fmt: Formats = DefaultFormats
    val h = NetCDF3.readHeader(Files.readAllBytes(java.nio.file.Paths.get(ncPath)))
    for (name <- Seq("t360", "tnoleap", "tleap")) {
      val m = manifest \ name
      val units = (m \ "units").extract[String]
      val cal = (m \ "calendar").extract[String]
      val want = (m \ "datetimes").extract[Seq[String]]
      // attrs come from the FILE's own header, not the manifest
      val v = h.vars.find(_.name == name).get
      val fUnits = v.attrs.find(_.name == "units").get.value.asInstanceOf[String]
      val fCal = v.attrs.find(_.name == "calendar").get.value.asInstanceOf[String]
      assert(fUnits == units && fCal == cal)
      val vals = NetCDF3.readValues(
        Files.readAllBytes(java.nio.file.Paths.get(ncPath)), name)._3
      val got = vals.map(CfCalendar.datetimeString(fUnits, fCal, _)).toSeq
      assert(got == want, s"$name: $got != $want")
      // the column decode agrees with the driver-side decode
      val dfGot = spark.range(vals.length.toLong)
        .select(CfCalendar.datetimeFromValues(col("id"), fUnits, fCal, vals).as("dt"))
        .orderBy("id").collect().map(_.getString(0)).toSeq
      assert(dfGot == want)
    }
  }

  test("crop bounds map onto the golden's numeric ranges") {
    import org.json4s._
    implicit val fmt: Formats = DefaultFormats
    for (name <- Seq("t360", "tnoleap", "tleap")) {
      val m = manifest \ name
      val units = (m \ "units").extract[String]
      val cal = (m \ "calendar").extract[String]
      val (t0, t1) = ((m \ "crop" \ "t0").extract[String],
        (m \ "crop" \ "t1").extract[String])
      val (lo, hi) = CfCalendar.numericRange(units, cal, t0, t1)
      assert(lo == (m \ "crop" \ "lo").extract[Double], s"$name lo")
      assert(hi == (m \ "crop" \ "hi").extract[Double], s"$name hi")
    }
  }

  test("a calendar time crop prunes the netCDF-3 mount like any value crop") {
    // record-dim 360_day axis: bounds through CfCalendar.numericRange
    // drive the SAME CoordCrop machinery as standard time
    val dir = Files.createTempDirectory("graft-cfcal-crop").toString
    val p = java.nio.file.Paths.get(dir, "m360.nc")
    Files.write(p, NetCDF3.write(
      dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", 2)),
      gattrs = Nil,
      vars = Seq(
        NetCDF3.VarSpec("time", Seq("time"), NetCDF3.NcDouble, Seq(
          NetCDF3.Attr("units", NetCDF3.NcChar, "days since 2000-02-25"),
          NetCDF3.Attr("calendar", NetCDF3.NcChar, "360_day")),
          Array.tabulate(8)(_.toDouble)),
        NetCDF3.VarSpec("v", Seq("time", "x"), NetCDF3.NcDouble, Nil,
          Array.tabulate(16)(_ * 1.0))),
      numRecs = 8))
    val (lo, hi) = CfCalendar.numericRange("days since 2000-02-25", "360_day",
      "2000-02-28", "2000-03-02")
    assert((lo, hi) == ((3.0, 7.0)))
    val df = CoordCrop.crop(spark, GridFormat.NetCDF3, p.toString, "v", Map("time" -> (lo, hi)))
      .select(CfCalendar.datetimeFromValues(col("d0"),
        "days since 2000-02-25", "360_day",
        Array.tabulate(8)(_.toDouble)).as("dt"), col("d1"), col("value"))
    val rows = df.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .sortBy(x => (x._1, x._2))
    assert(rows.length == 10) // records 3..7 x 2 columns
    assert(rows.head._1 == "2000-02-28 00:00:00")
    assert(rows.map(_._1).contains("2000-02-30 00:00:00")) // the 360_day day
    assert(rows.last._1 == "2000-03-02 00:00:00")
    // the crop reached the scan
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(d0,3)") &&
      plan.contains("LessThanOrEqual(d0,7)"), s"no pushed crop:\n$plan")
  }

  test("property: datetime round-trips through the numeric map on every calendar") {
    // decode(numeric(dt)) == dt for every valid calendar datetime:
    // seeded sweep over years (incl. negatives), all months, edge days,
    // sub-day units — the pair of closed forms must be exact inverses
    val rnd = new scala.util.Random(42)
    val monthDays = Map(
      "360_day" -> Seq.fill(12)(30),
      "noleap" -> Seq(31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31),
      "all_leap" -> Seq(31, 29, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31))
    val units = Seq("days since 2000-01-01", "hours since 2010-01-01 06:00:00",
      "seconds since 1999-12-30", "minutes since 2020-06-15 12:30:00")
    // EXACT round-trip within ~30 years of each epoch: there the
    // micros distance fits the float64 mantissa with sub-us headroom.
    // Further out, float64 COORDINATES cannot hold seconds exactly
    // (cftime documents the same roundoff) — pinned below as a bounded
    // error, not exactness.
    for (_ <- 1 to 300) {
      val cal = monthDays.keys.toSeq(rnd.nextInt(3))
      val u = units(rnd.nextInt(units.size))
      val y = rnd.nextInt(50) + 1990
      val mo = rnd.nextInt(12) + 1
      val d = rnd.nextInt(monthDays(cal)(mo - 1)) + 1
      val (hh, mm, ss) = (rnd.nextInt(24), rnd.nextInt(60), rnd.nextInt(60))
      val dt = f"$y%04d-$mo%02d-$d%02d $hh%02d:$mm%02d:$ss%02d"
      val (lo, hi) = CfCalendar.numericRange(u, cal, dt, dt)
      assert(lo == hi)
      val back = CfCalendar.datetimeString(u, cal, lo)
      assert(back == dt, s"$cal/$u: $dt -> $lo -> $back")
    }
    // far from the epoch (centuries): the round-trip error is bounded
    // by float64 representation — within one second, and re-encoding
    // the decoded string lands within 2 us of the original numeric
    for (_ <- 1 to 100) {
      val cal = monthDays.keys.toSeq(rnd.nextInt(3))
      val u = units(rnd.nextInt(units.size))
      val y = rnd.nextInt(600) + 1700
      val mo = rnd.nextInt(12) + 1
      val d = rnd.nextInt(monthDays(cal)(mo - 1)) + 1
      val dt = f"$y%04d-$mo%02d-$d%02d ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:${rnd.nextInt(60)}%02d"
      val lo = CfCalendar.numericRange(u, cal, dt, dt)._1
      val back = CfCalendar.datetimeString(u, cal, lo)
      val lo2 = CfCalendar.numericRange(u, cal, back, back)._1
      val stepMicros = CfTime.splitUnits(u)._1
      assert(math.abs((lo2 - lo) * stepMicros) <= 1000000.0,
        s"$cal/$u: $dt -> $lo -> $back -> $lo2 drifted beyond a second")
    }
    // ordering is preserved: a later datetime maps to a larger numeric
    for (_ <- 1 to 100) {
      val cal = monthDays.keys.toSeq(rnd.nextInt(3))
      val u = units(rnd.nextInt(units.size))
      def rdt(): String = {
        val y = rnd.nextInt(50) + 2000
        val mo = rnd.nextInt(12) + 1
        val d = rnd.nextInt(monthDays(cal)(mo - 1)) + 1
        f"$y%04d-$mo%02d-$d%02d"
      }
      val (a, b) = (rdt(), rdt())
      val na = CfCalendar.numericRange(u, cal, a, a)._1
      val nb = CfCalendar.numericRange(u, cal, b, b)._1
      assert((a < b) == (na < nb) || a == b, s"$cal: $a/$b vs $na/$nb")
    }
  }

  test("the TIMESTAMP path keeps refusing, and unknown calendars refuse here too") {
    val e1 = intercept[IllegalArgumentException](
      CfTime.requireStandardCalendar(Some("360_day"), "t"))
    assert(e1.getMessage.contains("360_day"))
    val e2 = intercept[IllegalArgumentException](
      CfCalendar.numericRange("days since 2000-01-01", "julian", "a", "b"))
    assert(e2.getMessage.contains("julian"))
    // zone offsets are meaningless in model calendars
    val e3 = intercept[IllegalArgumentException](
      CfCalendar.numericRange("days since 2000-01-01", "360_day",
        "2000-01-02+01:00", "2000-01-03"))
    assert(e3.getMessage.contains("offsets"))
    // day 30 of a noleap February is a real error, not a wrap
    val e4 = intercept[IllegalArgumentException](
      CfCalendar.numericRange("days since 2000-01-01", "noleap",
        "2000-02-30", "2000-03-01"))
    assert(e4.getMessage.contains("out of range"))
  }

  test("out-of-range time-of-day fields refuse instead of rolling into later days") {
    // cftime rejects 36:70:00; a silent roll would shift a crop window
    val eH = intercept[IllegalArgumentException](
      CfCalendar.numericRange("days since 2000-01-01", "360_day",
        "2000-01-01 36:00:00", "2000-01-02"))
    assert(eH.getMessage.contains("hour 36"))
    val eM = intercept[IllegalArgumentException](
      CfCalendar.numericRange("days since 2000-01-01", "360_day",
        "2000-01-01 12:70:00", "2000-01-02"))
    assert(eM.getMessage.contains("minute 70"))
    val eS = intercept[IllegalArgumentException](
      CfCalendar.numericRange("days since 2000-01-01", "noleap",
        "2000-01-01 12:00:99", "2000-01-02"))
    assert(eS.getMessage.contains("second 99"))
    // the boundary values stay legal
    CfCalendar.numericRange("days since 2000-01-01", "360_day",
      "2000-01-01 23:59:59", "2000-01-02")
  }

  test("bulk datetimeStrings matches the per-value renderer") {
    val units = "hours since 1999-12-28 06:00:00"
    val vals = Array(-26.0, 0.0, 17.5, 100.25, 20000.0)
    for (cal <- Seq("360_day", "noleap", "all_leap")) {
      val bulk = CfCalendar.datetimeStrings(units, cal, vals)
      assert(bulk.toSeq == vals.map(CfCalendar.datetimeString(units, cal, _)).toSeq)
    }
  }
}
