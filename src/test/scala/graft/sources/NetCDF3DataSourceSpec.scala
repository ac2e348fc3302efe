package graft.sources

import java.nio.file.{Files, Paths}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The DSv2 mount of the netCDF-3 record-parallel reader: format(...)
  * read semantics vs the library path, plan-phase task pruning from
  * pushed dataset/path filters, and column pruning that provably never
  * reads payload bytes. */
class NetCDF3DataSourceSpec extends SparkSpec {

  private val Fmt = "graft.sources.NetCDF3DataSource"

  /** Consolidated 40-record classic file: flux (time,y,x), tavg (time),
    * plus a FIXED variable yc (y) exercising the whole-slab task. */
  private def writeStore(): String = {
    val dir = Files.createTempDirectory("graft-nc3dsv2").toString
    val (nrec, ny, nx) = (40, 6, 5)
    val bytes = NetCDF3.write(
      dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("y", ny), NetCDF3.Dim("x", nx)),
      gattrs = Nil,
      vars = Seq(
        NetCDF3.VarSpec("yc", Seq("y"), NetCDF3.NcDouble, Nil,
          Array.tabulate(ny)(_ * 100.0)),
        NetCDF3.VarSpec("flux", Seq("time", "y", "x"), NetCDF3.NcDouble, Nil,
          Array.tabulate(nrec * ny * nx)(_ * 0.5 - 10.0)),
        NetCDF3.VarSpec("tavg", Seq("time"), NetCDF3.NcDouble, Nil,
          Array.tabulate(nrec)(_ * 0.25))),
      numRecs = nrec)
    Files.write(Paths.get(dir, "store.nc"), bytes)
    dir
  }

  test("reads match the NetCDF3ChunkIngest library path exactly") {
    val dir = writeStore()
    val df = spark.read.format(Fmt).option("path", s"$dir/store.nc")
      .option("targetBytes", "1024").load()
    def key(r: org.apache.spark.sql.Row) =
      (r.getString(1), r.getLong(2), r.getDouble(3))
    val got = df.collect().map(key).sorted.toSeq
    // the library path is the whole-file decode
    val bytes = Files.readAllBytes(Paths.get(dir, "store.nc"))
    val lib = Seq("flux", "tavg", "yc").flatMap { v =>
      NetCDF3.readValues(bytes, v)._3.zipWithIndex.map { case (x, i) => (v, i.toLong, x) }
    }.sorted
    assert(got == lib)
    assert(df.schema.fieldNames.toSeq ==
      Seq("path", "dataset", "idx", "value", "d0", "d1", "d2", "d3"))
  }

  test("dataset equality filter prunes record tasks at PLAN time") {
    val dir = writeStore()
    // targetBytes=1 -> one record per task: flux 40 + tavg 40 + yc 1
    val all = spark.read.format(Fmt).option("path", s"$dir/store.nc")
      .option("targetBytes", "1").option("partitions", "128").load()
    assert(all.rdd.getNumPartitions == 81)
    val pruned = all.where(col("dataset") === "flux")
    assert(pruned.rdd.getNumPartitions == 40) // other vars never planned
    assert(pruned.count() == 40L * 6 * 5)
    assert(pruned.queryExecution.executedPlan.toString.contains("pushed=EqualTo"))
    val in = all.where(col("dataset").isin("tavg", "nope"))
    assert(in.rdd.getNumPartitions == 40)
    assert(in.agg(sum("value")).head.getDouble(0) ==
      (0 until 40).map(_ * 0.25).sum)
  }

  test("idx range predicates prune record batches at PLAN time") {
    // targetBytes=1 -> one record per flux task; perRec = 6*5 = 30, so
    // task r covers EXACTLY [r*30, r*30+29] — the range prune is exact
    val dir = writeStore()
    val flux = spark.read.format(Fmt).option("path", s"$dir/store.nc")
      .option("targetBytes", "1").option("partitions", "128").load()
      .where(col("dataset") === "flux")
    assert(flux.rdd.getNumPartitions == 40)
    val slice = flux.where(col("idx").between(300, 599))
    assert(slice.rdd.getNumPartitions == 10) // records 10..19 only
    assert(slice.count() == 300)
    assert(slice.agg(min("idx"), max("idx")).head() ==
      org.apache.spark.sql.Row(300L, 599L))
    assert(flux.where(col("idx") < 0).rdd.getNumPartitions == 0)
  }

  test("d0 ranges prune record batches; d1/d2 stay residual but exact") {
    val dir = writeStore()
    val flux = spark.read.format(Fmt).option("path", s"$dir/store.nc")
      .option("targetBytes", "1").option("partitions", "128").load()
      .where(col("dataset") === "flux")
    // d0 IS the record dimension: [10, 19] plans those records only
    val band = flux.where(col("d0").between(10, 19))
    assert(band.rdd.getNumPartitions == 10)
    assert(band.count() == 300)
    // a non-leading slice can't prune record slabs (every record holds
    // all y, x values) but the residual filter keeps it exact, and the
    // d-columns decode the (t, y, x) coordinates without idx div/mod
    val ycrop = flux.where(col("d1").between(2, 3))
    assert(ycrop.rdd.getNumPartitions == 40)
    assert(ycrop.count() == 40L * 2 * 5)
    flux.select("idx", "d0", "d1", "d2", "d3").collect().foreach { r =>
      val i = r.getLong(0)
      assert(r.getLong(1) == i / 30 && r.getLong(2) == (i / 5) % 6 &&
        r.getLong(3) == i % 5 && r.getLong(4) == 0L)
    }
    // the fixed (non-record) variable: its single slab is the whole
    // shape, so an out-of-shape d0 prunes it entirely
    val yc = spark.read.format(Fmt).option("path", s"$dir/store.nc")
      .option("partitions", "128").load()
      .where(col("dataset") === "yc")
    assert(yc.where(col("d0").between(2, 4)).rdd.getNumPartitions == 1)
    assert(yc.where(col("d0").between(2, 4)).count() == 3)
    assert(yc.where(col("d0") > 5).rdd.getNumPartitions == 0)
  }

  test("index-only projection never reads payload bytes") {
    val dir = writeStore()
    val path = Paths.get(dir, "store.nc")
    // truncate the file right after the fixed-var slab: every record
    // read hits EOF, but the header (a bounded prefix) stays intact
    val h = NetCDF3ChunkIngest.headerOf(path.toString)
    val firstRecBegin = h.vars.filter(v =>
      v.dimIds.headOption.exists(h.dims(_).isRecord)).map(_.begin).min
    val bytes = Files.readAllBytes(path)
    Files.write(path, java.util.Arrays.copyOf(bytes, firstRecBegin.toInt + 8))
    val df = spark.read.format(Fmt).option("path", path.toString).load()
      .where(col("dataset") === "flux")
    intercept[org.apache.spark.SparkException](df.select("value").collect())
    val idx = df.select("idx").collect().map(_.getLong(0)).sorted.toSeq
    assert(idx == (0L until 40L * 6 * 5))
  }

  test("glob + path filter + variable option resolve and prune") {
    val dir = writeStore()
    val b2 = NetCDF3.write(
      dims = Seq(NetCDF3.Dim("z", 4)), gattrs = Nil,
      vars = Seq(NetCDF3.VarSpec("zc", Seq("z"), NetCDF3.NcDouble, Nil,
        Array.tabulate(4)(_ + 100.0))))
    Files.write(Paths.get(dir, "other.nc"), b2)
    val all = spark.read.format(Fmt).option("path", s"$dir/*.nc").load()
    assert(all.select("path").distinct().count() == 2)
    val one = all.where(col("path") === s"$dir/other.nc")
    assert(one.agg(sum("value")).head.getDouble(0) == 406.0)
    val narrowed = spark.read.format(Fmt).option("path", s"$dir/*.nc").load()
      .where(col("dataset") === "tavg")
    assert(narrowed.select("dataset").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("tavg"))
    assert(narrowed.count() == 40)
  }
}
