package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Zarr v2 READ side (S12's sink sibling): pure-JVM decode of the
  * public zarr v2 spec — `.zarray` JSON metadata, C-order chunk grids
  * keyed `i.j` with dot separators, raw, zlib-compressed (numcodecs
  * `{"id": "zlib"}`) or blosc-compressed chunks (`{"id": "blosc"}`
  * with the lz4 or zstd codec, byte- or bit-shuffled — zarr-python's
  * DEFAULT compressor and its common cname=zstd tuning, decoded by
  * the from-scratch [[Blosc]] container +
  * [[Lz4]] block reader / zstd-jni), little- or big-endian f8/f4/i8/i4/i2/i1
  * dtypes plus |u1/<u2/<u4 unsigned (widened; u8 rejects — not
  * losslessly representable as Double), zstd-compressed chunks
  * (numcodecs `{"id": "zstd"}` via zstd-jni), missing chunk files read
  * as fill_value. Anything else —
  * Fortran order, filters, an unknown compressor or dtype, a chunk
  * whose decompressed size disagrees with the chunk shape — rejects
  * LOUDLY, never a silent misread.
  *
  * Scale shape: store discovery is a driver-side listing of store
  * PATHS only (O(#stores) strings); all byte decoding runs
  * executor-side, one task per store ([[readScenes]]). A huge single
  * store would instead parallelize per chunk — the chunk grid is the
  * unit of parallelism zarr was designed around — exactly the
  * [[NetCDFIngest]] per-timestep split pattern.
  */
object Zarr {

  final case class ArrayMeta(shape: Seq[Int], chunks: Seq[Int], dtype: String,
      compressor: Option[String], fill: Double) {
    /** `dtype` resolved once: `<f8` is kind 'f', 8 bytes, little-endian. */
    lazy val elem: Elem = Elem(dtype(1), dtype.last.asDigit, dtype.head == '>')
  }

  /** An element type resolved once per array — kind ('f', 'i' or 'u'),
    * byte width and byte order — shared by the v2 and v3 readers.
    * [[decode]] picks the loop once per chunk, then converts every
    * element of the chunk to Double in one primitive pass. */
  private[sources] final case class Elem(kind: Char, size: Int, bigEndian: Boolean) {
    def decode(bytes: Array[Byte], n: Int): Array[Double] = {
      val bb = java.nio.ByteBuffer.wrap(bytes).order(
        if (bigEndian) java.nio.ByteOrder.BIG_ENDIAN else java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Double](n)
      var k = 0
      (kind, size) match {
        case ('f', 8) => bb.asDoubleBuffer().get(out)
        case ('f', 4) =>
          val b = bb.asFloatBuffer(); while (k < n) { out(k) = b.get(k).toDouble; k += 1 }
        case ('i', 8) =>
          val b = bb.asLongBuffer(); while (k < n) { out(k) = b.get(k).toDouble; k += 1 }
        case ('i', 4) =>
          val b = bb.asIntBuffer(); while (k < n) { out(k) = b.get(k).toDouble; k += 1 }
        case ('i', 2) =>
          val b = bb.asShortBuffer(); while (k < n) { out(k) = b.get(k).toDouble; k += 1 }
        case ('i', 1) => while (k < n) { out(k) = bytes(k).toDouble; k += 1 }
        case ('u', 4) =>
          val b = bb.asIntBuffer()
          while (k < n) { out(k) = (b.get(k).toLong & 0xFFFFFFFFL).toDouble; k += 1 }
        case ('u', 2) =>
          val b = bb.asShortBuffer(); while (k < n) { out(k) = (b.get(k) & 0xFFFF).toDouble; k += 1 }
        case ('u', 1) => while (k < n) { out(k) = (bytes(k) & 0xFF).toDouble; k += 1 }
        case _ => fail(s"element type $this unsupported")
      }
      out
    }
  }

  private implicit val formats: Formats = DefaultFormats

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"zarr decode: $msg")

  def parseMeta(json: String): ArrayMeta = {
    val j = JsonMethods.parse(json)
    if ((j \ "zarr_format").extractOpt[Int] != Some(2))
      fail(s"unsupported zarr_format ${JsonMethods.compact(j \ "zarr_format")} (v2 only)")
    val order = (j \ "order").extractOpt[String].getOrElse("C")
    if (order != "C") fail(s"order '$order' unsupported (C only)")
    (j \ "filters") match {
      case JNull | JNothing => ()
      case JArray(Nil) => ()
      case f => fail(s"filters ${JsonMethods.compact(f)} unsupported (null only)")
    }
    val compressor = (j \ "compressor") match {
      case JNull | JNothing => None
      case c =>
        val id = (c \ "id").extractOpt[String].getOrElse(fail("compressor without id"))
        if (id != "zlib" && id != "blosc" && id != "zstd")
          fail(s"compressor '$id' unsupported (null, zlib, blosc or zstd)")
        // blosc cname/shuffle metadata is advisory: the frame header is
        // authoritative and Blosc itself decodes lz4/zstd with byte- or
        // bit-shuffle (rejecting blosclz/snappy/zlib by name)
        Some(id)
    }
    val dtype = (j \ "dtype").extractOpt[String].getOrElse(fail("missing dtype"))
    if (!Set("<f8", "<f4", "<i8", "<i4", "<i2", ">f8", ">f4", ">i8", ">i4", ">i2", "|i1",
        "|u1", "<u2", ">u2", "<u4", ">u4")(dtype))
      fail(s"dtype '$dtype' unsupported (u8 would not fit a Double losslessly)")
    val fill = (j \ "fill_value") match {
      case JNull | JNothing => Double.NaN
      case JString("NaN") => Double.NaN
      case JString("Infinity") => Double.PositiveInfinity
      case JString("-Infinity") => Double.NegativeInfinity
      case JString(s) => fail(s"fill_value '$s' unsupported")
      case v => v.extract[Double]
    }
    val shape = (j \ "shape").extract[Seq[Int]]
    val chunks = (j \ "chunks").extract[Seq[Int]]
    if (shape.isEmpty || chunks.size != shape.size)
      fail(s"chunk rank ${chunks.size} != shape rank ${shape.size}")
    if (chunks.exists(_ <= 0) || shape.exists(_ < 0)) fail("non-positive chunk dims")
    ArrayMeta(shape, chunks, dtype, compressor, fill)
  }

  private def inflate(raw: Array[Byte]): Array[Byte] = {
    val inf = new java.util.zip.Inflater()
    inf.setInput(raw)
    val out = new java.io.ByteArrayOutputStream(raw.length * 4)
    val buf = new Array[Byte](8192)
    try {
      while (!inf.finished()) {
        val n = inf.inflate(buf)
        if (n == 0 && inf.needsInput()) fail("truncated zlib chunk")
        out.write(buf, 0, n)
      }
    } catch {
      case e: java.util.zip.DataFormatException => fail(s"corrupt zlib chunk: ${e.getMessage}")
    } finally inf.end()
    out.toByteArray
  }

  /** numcodecs `{"id": "zstd"}` chunks are bare zstd frames; decoded
    * via zstd-jni (Spark's bundled JNI binding to the reference C
    * library). Frame-declared content size drives allocation; frames
    * without one (streaming writers) fall back to a bounded buffer. */
  private[sources] def zstdInflate(raw: Array[Byte]): Array[Byte] = {
    import com.github.luben.zstd.Zstd
    val declared = Zstd.getFrameContentSize(raw)
    if (declared >= 0 && declared <= Int.MaxValue)
      try Zstd.decompress(raw, declared.toInt)
      catch {
        case e: com.github.luben.zstd.ZstdException =>
          fail(s"corrupt zstd chunk: ${e.getMessage}")
      }
    else {
      val out = new java.io.ByteArrayOutputStream(raw.length * 4 + 64)
      val zis = new com.github.luben.zstd.ZstdInputStream(
        new java.io.ByteArrayInputStream(raw))
      try {
        val buf = new Array[Byte](8192)
        var n = zis.read(buf)
        while (n > 0) { out.write(buf, 0, n); n = zis.read(buf) }
      } catch {
        case e: java.io.IOException => fail(s"corrupt zstd chunk: ${e.getMessage}")
      } finally zis.close()
      out.toByteArray
    }
  }

  /** Decode ONE chunk file's raw bytes to its full chunk-sized value
    * array (pad regions included) — the grid scan's unit ([[ZarrChunkIngest]]). */
  private[sources] def decodeChunkBytes(raw: Array[Byte], meta: ArrayMeta): Array[Double] = {
    val bytes = meta.compressor match {
      case Some("zlib") => inflate(raw)
      case Some("blosc") => Blosc.decompress(raw)
      case Some("zstd") => zstdInflate(raw)
      case _ => raw
    }
    val n = meta.chunks.product
    if (bytes.length != n * meta.elem.size)
      fail(s"chunk has ${bytes.length} bytes, expected ${n * meta.elem.size}")
    meta.elem.decode(bytes, n)
  }

  /** Decode one array of any rank from `store/name`: full C-order
    * values with pad regions of edge chunks skipped and absent chunk
    * files read as fill_value (both per spec). */
  def readArray(store: java.io.File, name: String): (Seq[Int], Array[Double]) = {
    val d = new java.io.File(store, name)
    val metaFile = new java.io.File(d, ".zarray")
    if (!metaFile.exists()) fail(s"no .zarray under ${d.getPath}")
    val meta = parseMeta(java.nio.file.Files.readString(metaFile.toPath))
    val rank = meta.shape.size
    val out = Array.fill(meta.shape.product)(meta.fill)
    val nChunks = meta.shape.zip(meta.chunks).map { case (s, c) => (s + c - 1) / c }
    val strides = meta.shape.scanRight(1)(_ * _).tail // C-order global strides
    val cStrides = meta.chunks.scanRight(1)(_ * _).tail

    def chunkKeys(idx: List[Int], dim: Int): Seq[List[Int]] =
      if (dim == rank) Seq(idx.reverse)
      else (0 until nChunks(dim)).flatMap(i => chunkKeys(i :: idx, dim + 1))

    chunkKeys(Nil, 0).foreach { ci =>
      val f = new java.io.File(d, ci.mkString("."))
      if (f.exists()) {
        val vals = decodeChunkBytes(java.nio.file.Files.readAllBytes(f.toPath), meta)
        // walk chunk elements in C order; skip positions past the array edge
        val within = meta.chunks.product
        var k = 0
        while (k < within) {
          var g = 0L; var inBounds = true
          var dim = 0
          while (dim < rank && inBounds) {
            val local = (k / cStrides(dim)) % meta.chunks(dim)
            val global = ci(dim) * meta.chunks(dim) + local
            if (global >= meta.shape(dim)) inBounds = false
            else g += global.toLong * strides(dim)
            dim += 1
          }
          if (inBounds) out(g.toInt) = vals(k)
          k += 1
        }
      }
    }
    (meta.shape, out)
  }

  /** Read every `<scene_id>.zarr` store under `dir` back to rows —
    * the inverse of [[ZarrSink.writeScenes]]: (scene_id, x, y, value)
    * from the named 2-D variable plus its 1-D x/y coordinate arrays.
    * Store paths list on the driver (strings only); decoding is
    * executor-parallel, one task per store. */
  def readScenes(spark: SparkSession, dir: String, varName: String): DataFrame = {
    import spark.implicits._
    val stores = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.endsWith(".zarr"))
      .map(_.getAbsolutePath).sorted.toSeq
    spark.createDataset(stores)
      .repartition(math.max(1, math.min(stores.size, 32)))
      .flatMap { path =>
        val store = new java.io.File(path)
        val sid = store.getName.stripSuffix(".zarr")
        val (shape, v) = Zarr.readArray(store, varName)
        if (shape.size != 2) fail(s"$varName has rank ${shape.size}, expected 2")
        val (yShape, ys) = Zarr.readArray(store, "y")
        val (xShape, xs) = Zarr.readArray(store, "x")
        if (yShape != Seq(shape(0)) || xShape != Seq(shape(1)))
          fail(s"coordinate shapes ($yShape, $xShape) disagree with grid $shape")
        for (j <- 0 until shape(0); i <- 0 until shape(1))
          yield (sid, xs(i), ys(j), v(j * shape(1) + i))
      }
      .toDF("scene_id", "x", "y", "value")
  }
}
