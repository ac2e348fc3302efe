package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ZarrSpec extends SparkSpec {
  import spark.implicits._

  private def sceneDf(nScenes: Int, ny: Int, nx: Int) = {
    val n = nScenes * ny * nx
    spark.range(n).select(
      concat(lit("sc"), expr(s"id div ${ny * nx}")).as("scene_id"),
      expr("timestamp_seconds(1577836800 + (id div " + (ny * nx) + ") * 3600)").as("time"),
      (expr(s"id % $nx") * 100.0).as("x"),
      (expr(s"(id % ${ny * nx}) div $nx") * 100.0).as("y"),
      (col("id").cast("double") * 0.25 - 2.0).as("value"))
  }

  private def collectRows(df: org.apache.spark.sql.DataFrame) =
    df.select("scene_id", "x", "y", "value").as[(String, Double, Double, Double)]
      .collect().sortBy(r => (r._1, r._3, r._2)).toSeq

  test("write -> read round-trip: single chunk, uncompressed") {
    val dir = java.nio.file.Files.createTempDirectory("zarr-rt1").toString
    val df = sceneDf(3, 4, 5)
    ZarrSink.writeScenes(df, dir, "lwp").count()
    assert(collectRows(Zarr.readScenes(spark, dir, "lwp")) == collectRows(df))
  }

  test("write -> read round-trip: banded chunks with edge padding + zlib") {
    val dir = java.nio.file.Files.createTempDirectory("zarr-rt2").toString
    val df = sceneDf(2, 7, 4) // 7 rows / chunkRows 3 -> chunks 3,3,1 (edge pad)
    ZarrSink.writeScenes(df, dir, "lwp", chunkRows = Some(3), zlibLevel = Some(6)).count()
    // chunk grid materialized as separate compressed files
    val varDir = new java.io.File(dir, "sc0.zarr/lwp")
    assert(varDir.listFiles().map(_.getName).toSet == Set(".zarray", ".zattrs", "0.0", "1.0", "2.0"))
    assert(collectRows(Zarr.readScenes(spark, dir, "lwp")) == collectRows(df))
  }

  test("missing chunk files read as fill_value (NaN)") {
    val dir = java.nio.file.Files.createTempDirectory("zarr-fill").toString
    ZarrSink.writeScenes(sceneDf(1, 6, 2), dir, "lwp", chunkRows = Some(2)).count()
    val deleted = new java.io.File(dir, "sc0.zarr/lwp/1.0")
    assert(deleted.delete())
    val (shape, v) = Zarr.readArray(new java.io.File(dir, "sc0.zarr"), "lwp")
    assert(shape == Seq(6, 2))
    // rows 2..3 (the deleted band) are NaN, the rest intact
    assert((4 until 8).forall(i => v(i).isNaN))
    assert(v(0) == -2.0 && v(11) == 11 * 0.25 - 2.0)
  }

  test("dtype variants decode: big-endian f4, little-endian i2") {
    def store(dtype: String, bytes: Array[Byte], shape: Seq[Int]): java.io.File = {
      val d = java.nio.file.Files.createTempDirectory("zarr-dt").toFile
      val a = new java.io.File(d, "v"); a.mkdirs()
      java.nio.file.Files.writeString(a.toPath.resolve(".zarray"),
        s"""{"zarr_format": 2, "shape": [${shape.mkString(",")}], "chunks": [${shape.mkString(",")}],
           | "dtype": "$dtype", "compressor": null, "fill_value": 0, "filters": null,
           | "order": "C"}""".stripMargin)
      java.nio.file.Files.write(a.toPath.resolve(shape.map(_ => "0").mkString(".")), bytes)
      d
    }
    val f4 = java.nio.ByteBuffer.allocate(12).order(java.nio.ByteOrder.BIG_ENDIAN)
    Seq(1.5f, -2.25f, 100f).foreach(f4.putFloat)
    assert(Zarr.readArray(store(">f4", f4.array(), Seq(3)), "v")._2.toSeq == Seq(1.5, -2.25, 100.0))
    val i2 = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq[Short](7, -9, 300, 32767).foreach(i2.putShort)
    assert(Zarr.readArray(store("<i2", i2.array(), Seq(2, 2)), "v")._2.toSeq ==
      Seq(7.0, -9.0, 300.0, 32767.0))
  }

  test("unsigned dtypes widen (u1/u2/u4); u8 rejects") {
    def store(dtype: String, bytes: Array[Byte], shape: Seq[Int]): java.io.File = {
      val d = java.nio.file.Files.createTempDirectory("zarr-u").toFile
      val a = new java.io.File(d, "v"); a.mkdirs()
      java.nio.file.Files.writeString(a.toPath.resolve(".zarray"),
        s"""{"zarr_format": 2, "shape": [${shape.mkString(",")}], "chunks": [${shape.mkString(",")}],
           | "dtype": "$dtype", "compressor": null, "fill_value": 0, "filters": null,
           | "order": "C"}""".stripMargin)
      java.nio.file.Files.write(a.toPath.resolve(shape.map(_ => "0").mkString(".")), bytes)
      d
    }
    assert(Zarr.readArray(store("|u1", Array[Byte](0, -1, 127, -128), Seq(4)),
      "v")._2.toSeq == Seq(0.0, 255.0, 127.0, 128.0))
    val u2 = java.nio.ByteBuffer.allocate(6).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    Seq(0, 65535, 40000).foreach(v => u2.putShort(v.toShort))
    assert(Zarr.readArray(store("<u2", u2.array(), Seq(3)), "v")._2.toSeq ==
      Seq(0.0, 65535.0, 40000.0))
    val u4 = java.nio.ByteBuffer.allocate(8).order(java.nio.ByteOrder.BIG_ENDIAN)
    Seq(4294967295L, 3000000000L).foreach(v => u4.putInt(v.toInt))
    assert(Zarr.readArray(store(">u4", u4.array(), Seq(2)), "v")._2.toSeq ==
      Seq(4294967295.0, 3000000000.0))
    val e = intercept[IllegalArgumentException] {
      Zarr.readArray(store("<u8", new Array[Byte](8), Seq(1)), "v")
    }
    assert(e.getMessage.contains("unsupported"))
  }

  test("zstd-compressed chunks decode (zstd-jni reference frames)") {
    // the chunk bytes come from the reference C library via zstd-jni —
    // a foreign compressor for our read path
    val vals = Array.tabulate(64)(i => i * 0.5 - 3.0)
    val raw = java.nio.ByteBuffer.allocate(512).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    vals.foreach(raw.putDouble)
    val comp = com.github.luben.zstd.Zstd.compress(raw.array(), 3)
    val d = java.nio.file.Files.createTempDirectory("zarr-zstd").toFile
    val a = new java.io.File(d, "v"); a.mkdirs()
    java.nio.file.Files.writeString(a.toPath.resolve(".zarray"),
      """{"zarr_format": 2, "shape": [64], "chunks": [64], "dtype": "<f8",
        | "compressor": {"id": "zstd", "level": 3}, "fill_value": 0,
        | "filters": null, "order": "C"}""".stripMargin)
    java.nio.file.Files.write(a.toPath.resolve("0"), comp)
    assert(Zarr.readArray(d, "v")._2.toSeq == vals.toSeq)
    // corrupt frame MAGIC -> loud reject (checksum-less zstd cannot
    // catch arbitrary mid-frame flips; the size gate catches truncation)
    val bad = comp.clone(); bad(1) = (bad(1) ^ 0x5a).toByte
    java.nio.file.Files.write(a.toPath.resolve("0"), bad)
    val e2 = intercept[IllegalArgumentException] { Zarr.readArray(d, "v") }
    assert(e2.getMessage.contains("zstd") || e2.getMessage.contains("expected"))
  }

  test("malformed stores reject loudly") {
    val dir = java.nio.file.Files.createTempDirectory("zarr-bad").toString
    ZarrSink.writeScenes(sceneDf(1, 4, 4), dir, "lwp", zlibLevel = Some(6)).count()
    val store = new java.io.File(dir, "sc0.zarr")
    val za = new java.io.File(store, "lwp/.zarray").toPath
    val good = java.nio.file.Files.readString(za)
    def expectReject(mutated: String, label: String): Unit = {
      java.nio.file.Files.writeString(za, mutated)
      val e = intercept[IllegalArgumentException](Zarr.readArray(store, "lwp"))
      assert(e.getMessage.startsWith("zarr decode:"), s"$label: ${e.getMessage}")
      java.nio.file.Files.writeString(za, good)
    }
    expectReject(good.replace("\"C\"", "\"F\""), "fortran order")
    expectReject(good.replace("zlib", "zstd"), "unknown compressor")
    // blosc is now a SUPPORTED id, but these chunks are zlib bytes —
    // the blosc container header must still reject them loudly
    java.nio.file.Files.writeString(za, good.replace("zlib", "blosc"))
    val eb = intercept[IllegalArgumentException](Zarr.readArray(store, "lwp"))
    assert(eb.getMessage.startsWith("blosc decode:"), eb.getMessage)
    java.nio.file.Files.writeString(za, good)
    expectReject(good.replace("\"filters\": null", "\"filters\": [{\"id\": \"delta\"}]"), "filters")
    expectReject(good.replace("<f8", "<c16"), "unknown dtype")
    // truncated zlib chunk
    val chunk = new java.io.File(store, "lwp/0.0").toPath
    val raw = java.nio.file.Files.readAllBytes(chunk)
    java.nio.file.Files.write(chunk, raw.take(raw.length / 2))
    intercept[IllegalArgumentException](Zarr.readArray(store, "lwp"))
    java.nio.file.Files.write(chunk, raw)
    // wrong uncompressed size
    java.nio.file.Files.writeString(za, good.replace("\"chunks\": [4, 4]", "\"chunks\": [4, 3]"))
    val e2 = intercept[IllegalArgumentException](Zarr.readArray(store, "lwp"))
    assert(e2.getMessage.contains("expected"))
  }

  /** The fixed scene both sink byte checks write: a 5 x 7 grid, NaN
    * every 11th cell, ragged against every band height used below. */
  private def sinkBytesInput = (for (j <- 0 until 5; i <- 0 until 7)
    yield ("s0", new java.sql.Timestamp(0L), i * 10.0, j * 5.0 - 2.5,
      if ((j * 7 + i) % 11 == 3) Double.NaN else (j * 7 + i) * 0.25 - 3.0))
    .toDF("scene_id", "time", "x", "y", "value")

  /** Every file under `root` (checksum sidecars excluded), by relative
    * path. */
  private def filesUnder(root: String): Map[String, Seq[Byte]] = {
    val base = new java.io.File(root).toPath
    val walk = java.nio.file.Files.walk(base)
    try walk.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filterNot(_.getFileName.toString.endsWith(".crc"))
      .map(p => base.relativize(p).toString ->
        java.nio.file.Files.readAllBytes(p).toSeq).toMap
    finally walk.close()
  }

  test("ZarrSink chunk files are byte-identical to the checked-in stores") {
    // src/test/resources/fixtures/zarr_sink_bytes holds what the sink
    // wrote for this fixed input before its chunk fill moved from List
    // to array indexing: raw, zlib and blosc stores, ragged edge bands
    val px = sinkBytesInput
    val out = java.nio.file.Files.createTempDirectory("zarr-sink-bytes").toString
    ZarrSink.writeScenes(px, s"$out/raw", "lwp", chunkRows = Some(2)).count()
    ZarrSink.writeScenes(px, s"$out/zlib", "lwp", chunkRows = Some(3),
      zlibLevel = Some(6)).count()
    ZarrSink.writeScenes(px, s"$out/blosc_lz4", "lwp", chunkRows = Some(2),
      blosc = true).count()
    ZarrSink.writeScenes(px, s"$out/blosc_zstd_bit", "lwp", blosc = true,
      bloscCodec = "zstd", bloscBitShuffle = true).count()
    val want = filesUnder("src/test/resources/fixtures/zarr_sink_bytes")
    val got = filesUnder(out)
    // lwp: .zarray + .zattrs per store, plus 3 + 2 + 3 + 1 chunk bands
    assert(want.keySet.count(_.contains("/lwp/")) == 2 * 4 + 9)
    assert(got.keySet == want.keySet)
    want.foreach { case (k, v) => assert(got(k) == v, s"$k differs") }
  }

  /** Writes the v3 sink's stores for [[sinkBytesInput]] under `out`:
    * plain raw and gzip bands, and sharded raw and gzip stores (ragged
    * last shard, inner chunks of two rows). */
  private def writeZarr3SinkStores(out: String): Unit = {
    val px = sinkBytesInput
    Zarr3.writeScenes(px, s"$out/raw", "lwp", chunkRows = Some(2)).count()
    Zarr3.writeScenes(px, s"$out/gzip", "lwp", chunkRows = Some(3),
      gzipLevel = Some(6)).count()
    Zarr3.writeScenes(px, s"$out/sharded", "lwp", chunkRows = Some(4),
      shardInnerRows = Some(2)).count()
    Zarr3.writeScenes(px, s"$out/sharded_gzip", "lwp", chunkRows = Some(4),
      gzipLevel = Some(6), shardInnerRows = Some(2)).count()
  }

  test("Zarr3 sink chunk and shard files are byte-identical to the checked-in stores") {
    // src/test/resources/fixtures/zarr3_sink_bytes holds what the v3
    // sink wrote for this input while its chunk fill indexed Lists
    val out = java.nio.file.Files.createTempDirectory("zarr3-sink-bytes").toString
    writeZarr3SinkStores(out)
    val want = filesUnder("src/test/resources/fixtures/zarr3_sink_bytes")
    val got = filesUnder(out)
    // lwp: zarr.json per store, plus 3 + 2 chunk bands and 2 + 2 shards
    assert(want.keySet.count(_.contains("/lwp/")) == 4 + 9)
    assert(got.keySet == want.keySet)
    want.foreach { case (k, v) => assert(got(k) == v, s"$k differs") }
  }
}
