package graft.sources

import graft.SparkSpec

/** Chunk-parallel netCDF-3 record reads through the grid scan: equality
  * with the whole-file decode on foreign CDF-2 fixtures (single-record-
  * var no-padding case AND the general multi-record-var stride), fan-out
  * geometry, and the exchange-free plan. */
class NetCDF3ChunkIngestSpec extends SparkSpec {

  private def fixturePath(name: String): String = {
    val f = new java.io.File(s"src/test/resources/fixtures/$name")
    require(f.isFile, s"fixture $name missing — run tools/make_fixtures.py")
    f.getAbsolutePath
  }

  private def wholeFile(path: String, varName: String): Map[Long, Double] = {
    val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    val (_, _, vals) = NetCDF3.readValues(bytes, varName)
    vals.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap
  }

  private def mount(path: String, varName: String, targetBytes: Long) =
    GridFormat.NetCDF3.reader(spark).option("path", path)
      .option("targetBytes", targetBytes.toString).load()
      .where(org.apache.spark.sql.functions.col("dataset") === varName)

  private def chunked(path: String, varName: String,
      targetBytes: Long): Map[Long, Double] =
    mount(path, varName, targetBytes)
      .collect().map(r => r.getLong(2) -> r.getDouble(3)).toMap

  test("multi-record-var CDF-2 store: chunked read equals whole-file " +
    "decode for record and fixed variables") {
    val p = fixturePath("consolidated_rec.nc")
    for (v <- Seq("flux", "tavg", "xc"))
      assert(chunked(p, v, targetBytes = 64) == wholeFile(p, v), s"var $v")
    // the record geometry is really exercised: 24 records at 48 B/rec
    // under a 64 B target -> one task per record
    val tasks = NetCDF3ChunkIngest.recordTasks(p, NetCDF3ChunkIngest.headerOf(p), "flux",
      targetBytes = 64)
    assert(tasks.size == 24, s"expected 24 record tasks, got ${tasks.size}")
    assert(tasks.forall(_.stride == 56), "multi-var stride must be 48+8")
  }

  test("single-record-var CDF-2 (no record padding): chunked equals whole") {
    val p = fixturePath("golden_rec.nc")
    assert(chunked(p, "flux", targetBytes = 4) == wholeFile(p, "flux"))
    val tasks = NetCDF3ChunkIngest.recordTasks(p, NetCDF3ChunkIngest.headerOf(p), "flux",
      targetBytes = 4)
    assert(tasks.size == 2 && tasks.forall(_.stride == 8),
      s"no-padding stride must be 2 floats: $tasks")
  }

  test("Scala-written multi-record file round-trips through the chunked path") {
    val dir = java.nio.file.Files.createTempDirectory("nc3-chunk").toString
    val nrec = 50; val nx = 7
    val data = Array.tabulate(nrec * nx)(i => (i * 3 % 101).toDouble)
    val bytes = NetCDF3.write(
      dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("x", nx)),
      gattrs = Nil,
      vars = Seq(NetCDF3.VarSpec("q", Seq("time", "x"), NetCDF3.NcDouble, Nil, data)),
      numRecs = nrec)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "c.nc"), bytes)
    val got = chunked(s"$dir/c.nc", "q", targetBytes = 200)
    assert(got == data.zipWithIndex.map { case (v, i) => i.toLong -> v }.toMap)
  }

  test("plan: the scan's own partitions fan out, no exchange") {
    val p = fixturePath("consolidated_rec.nc")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = mount(p, "flux", targetBytes = 64)
      val exec = df.queryExecution.executedPlan.toString
      assert(!exec.contains("Exchange"), s"expected no exchange:\n$exec")
      // one partition per record task, up to the default parallelism
      assert(df.rdd.getNumPartitions == math.min(24, spark.sparkContext.defaultParallelism))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
