package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Object-store behavior proven on a HIGH-LATENCY FileSystem instead
  * of extrapolated from `file://`: discovery waves show up as wall
  * clock, span coalescing as open counts, and conf propagation as
  * scheme resolution — each on [[SlowFs]], where getting it wrong is
  * visible. */
class SlowFsSpec extends SparkSpec {

  private def registerSlowFs(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.slowfs.impl", classOf[SlowFs].getName)

  test("slowfs round-trips bytes through the ByteStore seam") {
    registerSlowFs()
    SlowFs.reset(0)
    val dir = Files.createTempDirectory("graft-slowfs-rt").toString
    val p = s"slowfs:$dir/x.bin"
    ByteStore.writeAllBytes(p, Array[Byte](1, 2, 3, 4, 5))
    assert(ByteStore.isFile(p))
    val in = ByteStore.open(p)
    val got = try in.readFully(1, 3) finally in.close()
    assert(got.toSeq == Seq[Byte](2, 3, 4))
    assert(SlowFs.ops.exists(_.startsWith("open ")), "reads must go through slowfs")
  }

  test("the 24-store discovery walk costs waves x RTT, not ops x RTT") {
    registerSlowFs()
    val dir = Files.createTempDirectory("graft-slowfs-disc").toString
    val n = 24
    val grid = spark.range(n.toLong * 12).select(
      concat(lit("sc"), format_string("%02d", expr("id div 12"))).as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr("id % 4") * 10.0).as("x"),
      (expr("(id div 4) % 3") * 10.0).as("y"),
      (col("id") * 1.0).as("value"))
    Zarr3.writeScenes(grid, dir, "lwp", chunkRows = Some(3)).count()
    val rtt = 20L
    SlowFs.reset(rtt)
    val t0 = System.nanoTime()
    val got = ZarrChunkIngest.discover(s"slowfs:$dir")
    val wallMs = (System.nanoTime() - t0) / 1000000
    val nOps = SlowFs.opCount.get()
    SlowFs.reset(0)
    assert(got.size == n * 3, s"expected ${n * 3} arrays, got ${got.size}")
    assert(got.forall(_._1.startsWith("slowfs:")), "store paths keep the scheme")
    // a serial walk would cost nOps x rtt; the wave-parallel walk must
    // beat half of that comfortably (parMap par=16 over 24 stores ~=
    // depth x 2 waves). nOps is checked non-trivial so the bound means
    // something.
    assert(nOps >= 50, s"suspiciously few slowfs ops: $nOps")
    val serialMs = nOps * rtt
    info(s"discovery over $n stores on slowfs: $nOps ops, $wallMs ms " +
      s"(serial would be ~$serialMs ms)")
    assert(wallMs * 2 < serialMs,
      s"walk looks serial: $wallMs ms wall for $nOps ops at $rtt ms RTT")
  }

  test("span coalescing survives the Hadoop seam: one open per shard read") {
    registerSlowFs()
    SlowFs.reset(0)
    // one scene, one shard, 32 back-to-back single-row inner chunks
    val dir = Files.createTempDirectory("graft-slowfs-coal").toString
    val (ny, nx) = (32, 4)
    val grid = spark.range(ny.toLong * nx).select(
      lit("s0").as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr(s"id % $nx") * 10.0).as("x"),
      (expr(s"id div $nx") * 10.0).as("y"),
      (col("id") * 0.5 - 7.0).as("value"))
    Zarr3.writeScenes(grid, dir, "lwp", chunkRows = Some(ny),
      gzipLevel = Some(6), shardInnerRows = Some(1)).count()
    val store = s"slowfs:$dir/s0.zarr"
    SlowFs.reset(0)
    // partitions=1 so the open count is the PER-TASK claim (each task
    // opens its file once and reads coalesced spans; k tasks = k opens)
    val rows = spark.read.format("graft.sources.ZarrDataSource")
      .option("path", store).option("partitions", "1").load()
      .where(col("dataset") === "lwp").select("idx", "value").collect()
    assert(rows.length == ny * nx)
    // the shard data file: one open for the planning index tail, one
    // for the task's coalesced data span — NOT one per inner chunk
    val shardOpens = SlowFs.ops.filter(s => s.startsWith("open ") &&
      s.contains("/lwp/c/"))
    assert(shardOpens.nonEmpty, "expected shard reads through slowfs")
    assert(shardOpens.size <= 3,
      s"expected <= 3 opens of the shard file (tail + coalesced span), " +
        s"got ${shardOpens.size}:\n${shardOpens.mkString("\n")}")
  }

  test("catalog crop over slowfs: excluded stores cost metadata only, at wave latency") {
    registerSlowFs()
    val dir = Files.createTempDirectory("graft-slowfs-cat").toString
    // 8 scene stores with disjoint y grids (scene k: y = k*1000 + ...)
    val grid = spark.range(8L * 9 * 6).select(
      concat(lit("s"), expr("id div 54")).as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr("id % 6") * 100.0).as("x"),
      (expr("(id div 6) % 9") * 100.0 + expr("id div 54") * 1000.0).as("y"),
      (col("id") * 0.25).as("value"))
    ZarrSink.writeScenes(grid, dir, "lwp", chunkRows = Some(3),
      zlibLevel = Some(6)).count()
    val rtt = 10L
    SlowFs.reset(rtt)
    val t0 = System.nanoTime()
    val df = GridOpen.catalog(spark, GridFormat.Zarr, s"slowfs:$dir", "lwp",
      Map("y" -> (2200.0, 2500.0))) // only s2 intersects
    val rows = df.select("path", "value").collect()
    val wallMs = (System.nanoTime() - t0) / 1000000
    val nOps = SlowFs.opCount.get()
    val opsLog = SlowFs.ops
    SlowFs.reset(0)
    assert(rows.nonEmpty && rows.forall(_.getString(0).contains("s2.zarr")))
    // excluded stores: coordinate metadata was read (the wave), their
    // DATA chunks never — on the actual scheme
    for (k <- Seq(0, 1, 3, 4, 5, 6, 7)) {
      val dataOpens = opsLog.count(s => s.startsWith("open ") &&
        s.contains(s"s$k.zarr/lwp/") && !s.endsWith(".zarray") &&
        !s.endsWith(".zattrs"))
      assert(dataOpens == 0, s"excluded s$k had $dataOpens data opens")
      assert(opsLog.exists(s => s.contains(s"s$k.zarr/y/")),
        s"excluded s$k should still have had its coords read in the wave")
    }
    // and the whole plan+read beat the serial op bill comfortably
    assert(nOps >= 50, s"suspiciously few ops: $nOps")
    assert(wallMs * 2 < nOps * rtt,
      s"catalog crop looks serial: $wallMs ms for $nOps ops at $rtt ms RTT")
  }

  test("vars-catalog membership scan runs in waves, not file x RTT") {
    registerSlowFs()
    SlowFs.reset(0)
    val dir = Files.createTempDirectory("graft-slowfs-member").toString
    val n = 24
    (0 until n).foreach { i =>
      // half the files lack 'b' — membership must read every header
      val vars = Seq(
        NetCDF3.VarSpec("x", Seq("x"), NetCDF3.NcDouble, Nil,
          Array(0.0, 10.0)),
        NetCDF3.VarSpec("a", Seq("x"), NetCDF3.NcDouble, Nil,
          Array(i * 10.0, i * 10.0 + 1))) ++
        (if (i % 2 == 0) Seq(NetCDF3.VarSpec("b", Seq("x"), NetCDF3.NcDouble,
          Nil, Array(i * 100.0, i * 100.0 + 1))) else Nil)
      ByteStore.writeAllBytes(f"slowfs:$dir/m$i%02d.nc",
        NetCDF3.write(dims = Seq(NetCDF3.Dim("x", 2)), gattrs = Nil,
          vars = vars))
    }
    val rtt = 20L
    SlowFs.reset(rtt)
    val t0 = System.nanoTime()
    val df = GridOpen.varsCatalog(spark, GridFormat.NetCDF3, s"slowfs:$dir", Seq("a", "b"))
    val wallMs = (System.nanoTime() - t0) / 1000000
    val nOps = SlowFs.opCount.get()
    SlowFs.reset(0)
    assert(df.select("path").distinct().count() == n / 2,
      "only the 'b'-carrying half are members")
    assert(nOps >= 40, s"suspiciously few slowfs ops: $nOps")
    val serialMs = nOps * rtt
    info(s"vars-catalog membership over $n files: $nOps ops, $wallMs ms " +
      s"(serial would be ~$serialMs ms)")
    assert(wallMs * 2 < serialMs,
      s"membership scan looks serial: $wallMs ms for $nOps ops at $rtt ms RTT")
  }

  test("a sessionless JVM resolves slowfs ONLY through the installed snapshot") {
    registerSlowFs()
    SlowFs.reset(0)
    val snap = ByteStore.confSnapshot(spark)
    assert(snap.get("fs.slowfs.impl").contains(classOf[SlowFs].getName),
      "the snapshot must carry the driver-set scheme mapping")
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    val default = org.apache.spark.sql.SparkSession.getDefaultSession
    try {
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      ByteStore.install(Map.empty) // defensive: forget any prior snapshot
      // no snapshot: the executor-branch conf cannot resolve the scheme
      // (FileSystem.getFileSystemClass bypasses the instance cache, so
      // this is a real resolution test, not a cache artifact)
      ByteStore.install(Map("graft.slowfs.negative" -> "1"))
      val confNo = ByteStore.hadoopConf
      assert(confNo.get("fs.slowfs.impl") == null,
        "executor conf must not know slowfs without the snapshot")
      intercept[java.io.IOException] {
        org.apache.hadoop.fs.FileSystem.getFileSystemClass("slowfs", confNo)
      }
      // with the snapshot installed, resolution (and a real read) work
      ByteStore.install(snap)
      val confYes = ByteStore.hadoopConf
      assert(org.apache.hadoop.fs.FileSystem
        .getFileSystemClass("slowfs", confYes) == classOf[SlowFs])
      val dir = Files.createTempDirectory("graft-slowfs-conf").toString
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "y.bin"),
        Array[Byte](9, 8, 7))
      val in = ByteStore.open(s"slowfs:$dir/y.bin")
      try assert(in.readFully(0, 3).toSeq == Seq[Byte](9, 8, 7))
      finally in.close()
    } finally {
      active.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
      default.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
    }
  }
}
