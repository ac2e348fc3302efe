package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The ByteStore seam end-to-end: every mount sibling reads a
  * `file://` URI through the Hadoop FileSystem path (RawLocalFileSystem
  * — a real `org.apache.hadoop.fs` implementation, the same interface
  * s3a/hdfs connectors implement) and produces byte-identical results
  * to the plain-path java.io read. Plan-time metadata walks AND
  * executor-side positioned reads both route through the seam, so this
  * drives both halves. */
class MountUriSpec extends SparkSpec {

  private def uri(p: String): String = "file://" + p

  test("ByteStore primitives dispatch by scheme and agree with java.io") {
    val dir = Files.createTempDirectory("graft-bytestore").toString
    val f = s"$dir/x.bin"
    val payload = Array.tabulate[Byte](1000)(i => (i % 251).toByte)
    Files.write(java.nio.file.Paths.get(f), payload)
    assert(!ByteStore.hasScheme(f) && ByteStore.hasScheme(uri(f)))
    assert(ByteStore.hasScheme("s3a://bucket/key") &&
      ByteStore.hasScheme("hdfs://nn/path"))
    for (p <- Seq(f, uri(f))) {
      assert(ByteStore.isFile(p) && !ByteStore.isDirectory(p) && ByteStore.exists(p))
      val in = ByteStore.open(p)
      try {
        assert(in.length == 1000L)
        assert(in.readFully(0L, 16).sameElements(payload.take(16)))
        assert(in.readFully(997L, 3).sameElements(payload.drop(997)))
      } finally in.close()
      assert(ByteStore.readAllBytes(p).sameElements(payload))
    }
    for (d <- Seq(dir, uri(dir))) {
      val es = ByteStore.list(d)
      assert(es.map(_.name) == Seq("x.bin") && !es.head.isDir)
      // listed paths round-trip into open() in the SAME scheme world
      assert(ByteStore.open(es.head.path).length == 1000L)
    }
    // glob through both worlds
    assert(ByteStore.resolveGlob(s"$dir/*.bin").size == 1)
    assert(ByteStore.resolveGlob(uri(s"$dir/*.bin")).size == 1)
  }

  test("HDF5 mount over a file:// URI matches the plain-path read") {
    val dir = Files.createTempDirectory("graft-uri-h5").toString
    val bytes = HDF5.write(Seq(
      HDF5.DsSpec("lwp", Seq(6, 4), Array.tabulate(24)(_ * 0.5 - 3.0),
        chunkDims = Some(Seq(1, 4))),
      HDF5.DsSpec("decoy", Seq(40), Array.tabulate(40)(_ * 2.0),
        chunkDims = Some(Seq(4)))), deflate = true)
    Files.write(java.nio.file.Paths.get(dir, "store.h5"), bytes)
    def rows(path: String) = spark.read.format("graft.sources.Hdf5DataSource")
      .option("path", path).load()
      .select("dataset", "idx", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val plain = rows(s"$dir/*.h5")
    assert(plain.size == 64)
    assert(rows(uri(dir) + "/*.h5") == plain)
  }

  test("zarr mount over a file:// URI matches, sharded v3 included") {
    val dir = Files.createTempDirectory("graft-uri-zarr").toString
    val grid = spark.range(108).select(
      concat(lit("z"), expr("cast(id div 54 as string)")).as("scene_id"),
      expr("timestamp_seconds(1577836800 + (id div 54) * 3600)").as("time"),
      (expr("id % 6") * 100.0).as("x"), (expr("(id % 54) div 6") * 100.0).as("y"),
      (col("id") * 0.25 - 3.0).as("value"))
    ZarrSink.writeScenes(grid, dir, "lwp", chunkRows = Some(4),
      zlibLevel = Some(6)).count()
    def rows(path: String) = spark.read.format("graft.sources.ZarrDataSource")
      .option("path", path).load()
      .where(col("dataset") === "lwp") // stores also carry x/y coord arrays
      .select("dataset", "idx", "value").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted.toSeq
    val plain = rows(dir)
    assert(plain.size == 108)
    assert(rows(uri(dir)) == plain)
    // sharded v3: the shard-index tail reads go through the seam too
    val dir3 = Files.createTempDirectory("graft-uri-zarr3").toString
    Zarr3.writeScenes(grid, dir3, "lwp", chunkRows = Some(6),
      shardInnerRows = Some(2)).count()
    val plain3 = rows(dir3)
    assert(plain3.size == 108)
    assert(rows(uri(dir3)) == plain3)
  }

  /** Consolidated classic record file: flux(time,y,x). */
  private def writeNc3(path: String, nRecs: Int, ny: Int, nx: Int): Unit = {
    val bytes = NetCDF3.write(
      dims = Seq(NetCDF3.Dim("time", 0), NetCDF3.Dim("y", ny), NetCDF3.Dim("x", nx)),
      gattrs = Nil,
      vars = Seq(NetCDF3.VarSpec("flux", Seq("time", "y", "x"), NetCDF3.NcDouble,
        Nil, Array.tabulate(nRecs * ny * nx)(_ * 0.5 - 10.0))),
      numRecs = nRecs)
    Files.write(java.nio.file.Paths.get(path), bytes)
    ()
  }

  test("netCDF-3 + npy + arrow mounts over file:// URIs match") {
    // netCDF-3
    val ncDir = Files.createTempDirectory("graft-uri-nc3").toString
    val ncPath = s"$ncDir/rec.nc"
    writeNc3(ncPath, nRecs = 10, ny = 3, nx = 4)
    def ncRows(p: String) = spark.read.format("graft.sources.NetCDF3DataSource")
      .option("path", p).load().where(col("dataset") === "flux")
      .select("idx", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val ncPlain = ncRows(ncPath)
    assert(ncPlain.size == 120)
    assert(ncRows(uri(ncPath)) == ncPlain)

    // npy
    val npyDir = Files.createTempDirectory("graft-uri-npy").toString
    val npyPath = s"$npyDir/emb.npy"
    val out = new java.io.FileOutputStream(npyPath)
    out.write(Npy.header("<f4", Seq(64L, 4L)))
    val bb = java.nio.ByteBuffer.allocate(4 * 64 * 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    (0 until 64 * 4).foreach(i => bb.putFloat(i * 0.5f))
    out.write(bb.array()); out.close()
    def npyRows(p: String) = spark.read.format("graft.sources.NpyDataSource")
      .option("path", p).option("rowsPerTask", "16").load()
      .select("row", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).sortBy(_._1).toSeq
    val npyPlain = npyRows(npyPath)
    assert(npyPlain.size == 64)
    assert(npyRows(uri(npyPath)) == npyPlain)

    // arrow (dir listing + footer + block reads all through the seam)
    import spark.implicits._
    val aDir = Files.createTempDirectory("graft-uri-arrow").toString
    ArrowIpc.write((1L to 40L).map(i => (i, s"doc$i")).toDF("id", "txt")
      .coalesce(2), aDir)
    def aRows(p: String) = spark.read.format("graft.sources.ArrowDataSource")
      .option("path", p).load().select("id", "txt").collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val aPlain = aRows(aDir)
    assert(aPlain.size == 40)
    assert(aRows(uri(aDir)) == aPlain)
  }

  test("safetensors / tfrecord / avro readers accept file:// URIs too") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // safetensors (positioned header + tensor reads through the seam)
    val stDir = Files.createTempDirectory("graft-uri-st").toString
    val vecs = (1L to 20L).map(i =>
      (i, Array.tabulate(4)(j => (i * 10 + j).toFloat))).toDF("id", "emb")
    Safetensors.write(vecs.coalesce(2), stDir, "id", "emb", dim = 4)
    def stRows(p: String) = Safetensors.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq)).sortBy(_._1).toSeq
    val stPlain = stRows(stDir)
    assert(stPlain.size == 20 && stRows(uri(stDir)) == stPlain)

    // tfrecord (framed stream through the seam)
    val tfDir = Files.createTempDirectory("graft-uri-tf").toString
    val docs = (1L to 30L).map(i => (i, s"doc-$i")).toDF("doc_id", "text")
    TfRecord.write(docs.coalesce(2), tfDir)
    val tfSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType)))
    def tfRows(p: String) = TfRecord.read(spark, p, tfSchema).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val tfPlain = tfRows(tfDir)
    assert(tfPlain.size == 30 && tfRows(uri(tfDir)) == tfPlain)

    // avro: per-file stream AND the ranged split read (SeekableInput
    // sync/pastSync over the seam)
    val avDir = Files.createTempDirectory("graft-uri-avro").toString
    Avro.write(docs.coalesce(1), avDir)
    def avRows(p: String) = Avro.read(spark, p).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    val avPlain = avRows(avDir)
    assert(avPlain.size == 30 && avRows(uri(avDir)) == avPlain)
    val one = ByteStore.list(avDir).filter(_.name.endsWith(".avro")).head.path
    def avSplit(p: String) = Avro.readSplit(spark, p, splitBytes = 256).collect()
      .map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
    assert(avSplit(one) == avPlain && avSplit("file://" + one) == avPlain)
  }

  test("sinks WRITE to file:// URIs: zarr scenes, netCDF scenes, npy and " +
      "safetensors shards round-trip written-as-URI vs written-as-path") {
    import spark.implicits._
    val grid = spark.range(54).select(
      lit("w0").as("scene_id"),
      expr("timestamp_seconds(1577836800)").as("time"),
      (expr("id % 6") * 100.0).as("x"), (expr("id div 6") * 100.0).as("y"),
      (col("id").cast("double") * 0.5 - 3.0).as("value"))
    // zarr: write THROUGH the Hadoop path, read back via plain path —
    // byte-level equality of store layout is implied by value equality
    val za = Files.createTempDirectory("graft-uriw-zarr").toString
    val zb = Files.createTempDirectory("graft-uriw-zarr2").toString
    ZarrSink.writeScenes(grid, za, "lwp", chunkRows = Some(4),
      zlibLevel = Some(6)).count()
    ZarrSink.writeScenes(grid, uri(zb), "lwp", chunkRows = Some(4),
      zlibLevel = Some(6)).count()
    def zrows(d: String) = spark.read.format("graft.sources.ZarrDataSource")
      .option("path", d).load().where(col("dataset") === "lwp")
      .select("idx", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    assert(zrows(za) == zrows(zb) && zrows(zb).size == 54)
    // sharded v3 through the URI write (shard assembly + index tails)
    val z3 = Files.createTempDirectory("graft-uriw-zarr3").toString
    Zarr3.writeScenes(grid, uri(z3), "lwp", chunkRows = Some(4),
      shardInnerRows = Some(2)).count()
    assert(zrows(z3) == zrows(za))
    // netCDF scenes
    val na = Files.createTempDirectory("graft-uriw-nc").toString
    NetCDFIngest.writeScenes(grid, uri(na), "lwp").count()
    assert(new java.io.File(na, "w0.nc").isFile)
    // npy + safetensors shard pairs
    val vecs = (1L to 12L).map(i =>
      (i, Array.tabulate(3)(j => (i + j).toFloat))).toDF("id", "emb")
    val np = Files.createTempDirectory("graft-uriw-npy").toString
    Npy.write(vecs.coalesce(1), uri(np), "id", "emb", dim = 3)
    assert(Npy.read(spark, np).count() == 12)
    val st = Files.createTempDirectory("graft-uriw-st").toString
    Safetensors.write(vecs.coalesce(1), uri(st), "id", "emb", dim = 3)
    assert(Safetensors.read(spark, st).count() == 12)
    // arrow: write as URI, read the same dir as URI
    val ar = Files.createTempDirectory("graft-uriw-arrow").toString
    ArrowIpc.write(vecs.select("id").coalesce(1), uri(ar))
    assert(ArrowIpc.read(spark, uri(ar)).count() == 12)
  }

  test("chunk-parallel RDD ingests read file:// URIs too") {
    val dir = Files.createTempDirectory("graft-uri-ing").toString
    val ncPath = s"$dir/rec.nc"
    writeNc3(ncPath, nRecs = 6, ny = 2, nx = 3)
    def flux(p: String) = GridFormat.NetCDF3.reader(spark).option("path", p).load()
      .where(org.apache.spark.sql.functions.col("dataset") === "flux")
      .select("idx", "value").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
    val plain = flux(ncPath)
    val viaUri = flux(uri(ncPath))
    assert(plain.size == 36 && viaUri == plain)
  }

  test("resolveGlob: regex metacharacters in names match literally; bare globs don't NPE") {
    val dir = Files.createTempDirectory("graft-glob").toString
    // hostile DIRECTORY name (+ ( ) [ ] would break an unquoted regex)
    val hostile = s"$dir/a+b(c)[d]"
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(hostile))
    for (n <- Seq("x+y.h5", "x0y.h5", "z.h5x", "w.h5"))
      Files.write(java.nio.file.Paths.get(hostile, n), Array[Byte](1))
    // '*' spans anything; the literal '.h5' must not match 'z.h5x'
    assert(ByteStore.resolveGlob(s"$hostile/*.h5").map(_.split('/').last).sorted ==
      Seq("w.h5", "x+y.h5", "x0y.h5"))
    // literal '+' in the PATTERN is quoted, not a regex quantifier
    assert(ByteStore.resolveGlob(s"$hostile/x+*.h5").map(_.split('/').last) ==
      Seq("x+y.h5"))
    // no-star pattern = exact literal name
    assert(ByteStore.resolveGlob(s"$hostile/x+y.h5").size == 1)
    // a glob with no parent directory lists the cwd instead of NPE-ing
    assert(ByteStore.resolveGlob("*.graft-definitely-absent").isEmpty)
  }

  test("resolveGlob: explicit newline lists normalize relative entries to absolute") {
    // a relative entry would leak cwd-dependent strings into the
    // user-visible path columns; every walking branch normalizes, so
    // the explicit-list branch must too
    val dir = Files.createTempDirectory("graft-glob-list").toString
    Files.write(java.nio.file.Paths.get(dir, "a.h5"), Array[Byte](1))
    val got = ByteStore.resolveGlob(s"rel/b.h5\n$dir/a.h5\n")
    assert(got.forall(_.startsWith("/")), s"relative entry leaked: $got")
    assert(got.contains(s"$dir/a.h5"))
    // URI entries pass through untouched
    assert(ByteStore.resolveGlob(s"s3a://bucket/k.h5\n$dir/a.h5") ==
      Seq(s"$dir/a.h5", "s3a://bucket/k.h5"))
  }

  test("hadoopConf resolves per call: post-startup driver conf changes are seen") {
    spark.sparkContext.setLogLevel("ERROR") // force session + context up
    val key = "graft.test.percall"
    // a ByteStore touch happened long before this point in the suite;
    // with the old once-per-JVM lazy val this later set would be lost
    ByteStore.exists("/definitely/absent/graft")
    spark.sparkContext.hadoopConfiguration.set(key, "v-after-first-touch")
    assert(ByteStore.hadoopConf.get(key) == "v-after-first-touch")
    // snapshot captures exactly the non-default deltas, so the key (and
    // its later value) rides to executors
    spark.sparkContext.hadoopConfiguration.set(key, "v2")
    val snap = ByteStore.confSnapshot(spark)
    assert(snap.get(key).contains("v2"))
    // deltas only — the ~1000 classpath defaults are NOT serialized to tasks
    assert(snap.size < 50, s"snapshot should be deltas-only, got ${snap.size}")
  }

  test("installed snapshot reaches sessionless JVMs (the executor branch)") {
    val key = "graft.test.executor"
    spark.sparkContext.hadoopConfiguration.set(key, "exec-v")
    val snap = ByteStore.confSnapshot(spark)
    val active = org.apache.spark.sql.SparkSession.getActiveSession
    val default = org.apache.spark.sql.SparkSession.getDefaultSession
    try {
      // simulate an executor JVM: no session visible anywhere
      org.apache.spark.sql.SparkSession.clearActiveSession()
      org.apache.spark.sql.SparkSession.clearDefaultSession()
      ByteStore.install(snap)
      assert(ByteStore.hadoopConf.get(key) == "exec-v")
      // idempotent re-install keeps the cached Configuration
      val c1 = ByteStore.hadoopConf
      ByteStore.install(snap)
      assert(ByteStore.hadoopConf eq c1)
      // ... including for an EQUAL-but-DISTINCT map instance, which is
      // what every task actually delivers (each task closure
      // deserializes its own Map): value-equality dedup, or a
      // long-lived executor rebuilds the Configuration per task
      val snapCopy = snap.toSeq.map(identity).toMap
      assert(!(snapCopy.asInstanceOf[AnyRef] eq snap.asInstanceOf[AnyRef]))
      ByteStore.install(snapCopy)
      assert(ByteStore.hadoopConf eq c1,
        "an equal snapshot from a fresh task must not rebuild the conf")
    } finally {
      active.foreach(org.apache.spark.sql.SparkSession.setActiveSession)
      default.foreach(org.apache.spark.sql.SparkSession.setDefaultSession)
    }
    // back on the "driver": the session's conf wins again
    assert(ByteStore.hadoopConf.get(key) == "exec-v")
  }
}
