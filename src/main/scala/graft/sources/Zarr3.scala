package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Zarr v3 source/sink — the CURRENT zarr core spec (v3.0), the format
  * new xarray/zarr-python deployments write, next to the v2 pair
  * ([[Zarr]]/[[ZarrSink]]). Pure-JVM from the public spec:
  *
  *  - per-node `zarr.json` (node_type group|array); array metadata
  *    carries shape, string data_type, `chunk_grid {regular,
  *    chunk_shape}`, `chunk_key_encoding` (default `c/…` with
  *    configurable separator, or the v2-style dotted keys), fill_value
  *    (number or NaN/±Infinity strings), and a codec PIPELINE that
  *    must contain exactly one array->bytes codec;
  *  - codecs supported: `bytes` (endian little|big) + optionally ONE
  *    bytes->bytes codec: `gzip` (RFC 1952 — NOT v2's raw zlib) or
  *    `blosc` (lz4/lz4hc or zstd inside the self-describing [[Blosc]]
  *    frame, byte- or bit-shuffled — zarr-python's default and its
  *    common cname=zstd tuning) or `zstd` (via zstd-jni, the JNI
  *    binding to the reference C library Spark bundles); and
  *    `sharding_indexed` as the
  *    array->bytes codec (ZEP-2: chunk files become SHARDS holding an
  *    inner-chunk grid + a crc32c-checked (offset, nbytes) index —
  *    the 100 TB-store shape, keeping object counts low while the
  *    inner grid stays the parallelism unit). Transpose/
  *    nested-sharding reject LOUDLY, never a silent misread;
  *  - data types float64/float32/int8..int64/uint8/uint16/uint32
  *    (uint64 rejects: not losslessly representable as Double);
  *  - missing chunk files read as fill_value; edge chunks are stored
  *    full-size with pad regions skipped (same rule as v2).
  *
  * Scale shape identical to the v2 pair: store discovery lists PATHS
  * on the driver, decode is executor-parallel one task per store; a
  * huge single store parallelizes per chunk (the grid is zarr's unit
  * of parallelism). Independence check: `tools/make_fixtures.py
  * write_zarr3` emits a Python-stdlib v3 store ForeignFixturesSpec
  * decodes exactly.
  */
object Zarr3 {

  /** The sharding_indexed codec's shape: inner chunk dims, the inner
    * chunk pipeline's endianness/compressor, and the shard index's
    * location + checksum ([bytes (le)] or [bytes, crc32c]). */
  final case class Sharding(innerChunks: Seq[Int], innerBigEndian: Boolean,
      innerCompress: Option[String], indexAtEnd: Boolean, indexCrc: Boolean)

  /** `compress`: None | Some("gzip") | Some("blosc"). `sharding`: the
    * chunk files are SHARDS (sharding_indexed array->bytes codec);
    * `bigEndian`/`compress` then describe the inner pipeline.
    * `dimNames`: the optional v3 `dimension_names` member (empty when
    * absent) — what [[CoordCrop]] maps named coordinate bounds with. */
  final case class Meta(shape: Seq[Int], chunks: Seq[Int], dtype: String,
      bigEndian: Boolean, compress: Option[String], fill: Double,
      keySep: String, v2Keys: Boolean, sharding: Option[Sharding] = None,
      dimNames: Seq[String] = Nil) {
    /** `dtype` resolved once (`bigEndian` is the inner pipeline's when
      * sharded). */
    lazy val elem: Zarr.Elem = Zarr.Elem(dtype.head, DtypeSizes(dtype), bigEndian)
  }

  private implicit val formats: Formats = DefaultFormats

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"zarr v3 decode: $msg")

  private val DtypeSizes = Map(
    "float64" -> 8, "float32" -> 4, "int64" -> 8, "int32" -> 4,
    "int16" -> 2, "int8" -> 1, "uint32" -> 4, "uint16" -> 2, "uint8" -> 1)

  def parseMeta(json: String): Meta = {
    val j = JsonMethods.parse(json)
    if ((j \ "zarr_format").extractOpt[Int] != Some(3))
      fail(s"zarr_format ${JsonMethods.compact(j \ "zarr_format")} (v3 only here; v2 -> sources.Zarr)")
    if ((j \ "node_type").extractOpt[String] != Some("array"))
      fail("node_type must be 'array'")
    val dtype = (j \ "data_type").extractOpt[String].getOrElse(fail("missing data_type"))
    if (dtype == "uint64") fail("uint64 not losslessly representable as Double")
    if (!DtypeSizes.contains(dtype)) fail(s"data_type '$dtype' unsupported")
    val grid = j \ "chunk_grid"
    if ((grid \ "name").extractOpt[String] != Some("regular"))
      fail(s"chunk_grid ${JsonMethods.compact(grid \ "name")} unsupported (regular only)")
    val chunks = (grid \ "configuration" \ "chunk_shape").extract[Seq[Int]]
    val shape = (j \ "shape").extract[Seq[Int]]
    if (shape.isEmpty || chunks.size != shape.size)
      fail(s"chunk rank ${chunks.size} != shape rank ${shape.size}")
    if (chunks.exists(_ <= 0) || shape.exists(_ < 0)) fail("non-positive chunk dims")
    val (keySep, v2Keys) = (j \ "chunk_key_encoding") match {
      case JNothing | JNull => ("/", false)
      case e => (e \ "name").extractOpt[String] match {
        case Some("default") =>
          ((e \ "configuration" \ "separator").extractOpt[String].getOrElse("/"), false)
        case Some("v2") =>
          ((e \ "configuration" \ "separator").extractOpt[String].getOrElse("."), true)
        case other => fail(s"chunk_key_encoding $other unsupported")
      }
    }
    val codecs = (j \ "codecs") match {
      case JArray(cs) => cs
      case _ => fail("codecs must be a non-empty array")
    }
    /** Parse a codec pipeline: [bytes(endian)] + at most one of
      * gzip/blosc, or (top level only) [sharding_indexed{...}] whose
      * configuration nests an inner pipeline of the former shape. */
    def parsePipeline(cs: Seq[JValue], allowSharding: Boolean)
        : (Boolean, Option[String], Option[Sharding]) = {
      var bigEndian = false; var sawBytes = false
      var compress: Option[String] = None
      var sharding: Option[Sharding] = None
      cs.foreach { c =>
        (c \ "name").extractOpt[String] match {
          case Some("bytes") =>
            if (sawBytes) fail("multiple array->bytes codecs")
            sawBytes = true
            bigEndian = (c \ "configuration" \ "endian").extractOpt[String] match {
              case Some("little") | None => false
              case Some("big") => true
              case Some(e) => fail(s"endian '$e' unsupported")
            }
            if (compress.isDefined) fail("bytes codec must precede bytes->bytes codecs")
          case Some(bb @ ("gzip" | "blosc" | "zstd")) =>
            if (!sawBytes) fail(s"$bb before the array->bytes codec")
            if (compress.isDefined)
              fail(s"multiple bytes->bytes codecs (${compress.get} + $bb) unsupported")
            // blosc cname/shuffle configuration is advisory: the frame
            // header is authoritative, and Blosc decodes lz4/zstd with
            // byte- or bit-shuffle (rejecting blosclz/snappy by name)
            compress = Some(bb)
          case Some("sharding_indexed") if allowSharding =>
            if (sawBytes || sharding.isDefined) fail("multiple array->bytes codecs")
            sawBytes = true
            val cfg = c \ "configuration"
            val innerChunks = (cfg \ "chunk_shape").extractOpt[Seq[Int]]
              .getOrElse(fail("sharding_indexed without chunk_shape"))
            if (innerChunks.isEmpty || innerChunks.exists(_ <= 0))
              fail("sharding_indexed chunk_shape must be positive")
            val innerCs = (cfg \ "codecs") match {
              case JArray(ics) => ics
              case _ => fail("sharding_indexed without inner codecs")
            }
            val (ibe, icomp, _) = parsePipeline(innerCs, allowSharding = false)
            // index pipeline: exactly [bytes (little)] or [bytes, crc32c]
            // index_codecs is REQUIRED by the v3 sharding spec (zarr-python
            // writes [bytes, crc32c]); silently assuming a crc-less [bytes]
            // on a crc-tailed shard would shift the index window 4 bytes
            // and read garbage (offset,nbytes) pairs — reject loudly.
            val idxCs = (cfg \ "index_codecs") match {
              case JArray(ics) => ics
              case JNothing | JNull =>
                fail("sharding_indexed without index_codecs (required by spec)")
              case _ => fail("index_codecs must be an array")
            }
            val idxNames = idxCs.map(ic => (ic \ "name").extractOpt[String]
              .getOrElse(fail("index codec without name")))
            val indexCrc = idxNames match {
              case Nil | Seq("bytes") => false
              case Seq("bytes", "crc32c") => true
              case other => fail(s"index_codecs $other unsupported " +
                "([bytes] or [bytes, crc32c] only)")
            }
            idxCs.headOption.foreach { ic =>
              (ic \ "configuration" \ "endian").extractOpt[String] match {
                case Some("little") | None => ()
                case Some(e) => fail(s"index endian '$e' unsupported (little only)")
              }
            }
            val indexAtEnd = (cfg \ "index_location").extractOpt[String] match {
              case Some("end") | None => true
              case Some("start") => false
              case Some(other) => fail(s"index_location '$other' invalid")
            }
            sharding = Some(Sharding(innerChunks, ibe, icomp, indexAtEnd, indexCrc))
          case other => fail(s"codec $other unsupported " +
            "(bytes/sharding_indexed + gzip/blosc/zstd only)")
        }
      }
      if (!sawBytes) fail("codec pipeline lacks the required array->bytes codec")
      if (sharding.isDefined && compress.isDefined)
        fail("bytes->bytes codecs outside sharding_indexed unsupported")
      (bigEndian, compress, sharding)
    }
    val (bigEndian, compress0, sharding) = parsePipeline(codecs, allowSharding = true)
    val compress = sharding.map(_.innerCompress).getOrElse(compress0)
    val effBigEndian = sharding.map(_.innerBigEndian).getOrElse(bigEndian)
    sharding.foreach { sh =>
      if (sh.innerChunks.size != chunks.size)
        fail(s"sharding inner rank ${sh.innerChunks.size} != chunk rank ${chunks.size}")
      chunks.zip(sh.innerChunks).foreach { case (o, i) =>
        if (o % i != 0) fail(s"inner chunk $i does not divide shard chunk $o")
      }
    }
    val fill = (j \ "fill_value") match {
      case JString("NaN") => Double.NaN
      case JString("Infinity") => Double.PositiveInfinity
      case JString("-Infinity") => Double.NegativeInfinity
      case JNothing | JNull => fail("fill_value is required in v3")
      case JString(s) => fail(s"fill_value '$s' unsupported")
      case v => v.extract[Double]
    }
    val dimNames = (j \ "dimension_names") match {
      case JArray(vs) => vs.map {
        case JString(s) => s
        case JNull => "" // spec: null = unnamed dimension
        case other => fail(s"dimension_names entry $other invalid")
      }
      case JNothing => Nil
      case other => fail(s"dimension_names $other must be an array")
    }
    if (dimNames.nonEmpty && dimNames.size != shape.size)
      fail(s"dimension_names rank ${dimNames.size} != shape rank ${shape.size}")
    Meta(shape, chunks, dtype, effBigEndian, compress, fill, keySep, v2Keys,
      sharding, dimNames)
  }

  private def decompressBytes(raw: Array[Byte], meta: Meta): Array[Byte] =
    meta.compress match {
      case None => raw
      case Some("gzip") => gunzip(raw)
      case Some("blosc") => Blosc.decompress(raw)
      case Some("zstd") => Zarr.zstdInflate(raw)
      case Some(other) => fail(s"codec '$other' unsupported")
    }

  private def gunzip(raw: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(raw))
    try in.readAllBytes()
    catch { case e: java.io.IOException => fail(s"corrupt gzip chunk: ${e.getMessage}") }
    finally in.close()
  }

  /** Decode ONE chunk file's raw bytes to its full chunk-sized value
    * array (pad regions included) — the grid scan's unit ([[ZarrChunkIngest]]). A
    * sharded array's chunk file is a SHARD: the inner-chunk index at
    * its start/end (16 bytes per inner chunk, optional crc32c) locates
    * each inner chunk's bytes; absent inner chunks read as fill. */
  private[sources] def decodeChunkBytes(raw: Array[Byte], meta: Meta): Array[Double] =
    meta.sharding match {
      case Some(sh) => decodeShard(raw, meta, sh)
      case None =>
        val bytes = decompressBytes(raw, meta)
        val n = meta.chunks.product
        if (bytes.length != n * meta.elem.size)
          fail(s"chunk has ${bytes.length} bytes, expected ${n * meta.elem.size}")
        meta.elem.decode(bytes, n)
    }

  private val ShardMissing = -1L // index stores 2^64-1 for absent chunks

  private def decodeShard(raw: Array[Byte], meta: Meta, sh: Sharding): Array[Double] = {
    val gridDims = meta.chunks.zip(sh.innerChunks).map { case (o, i) => o / i }
    val nInner = gridDims.product
    val indexLen = nInner * 16 + (if (sh.indexCrc) 4 else 0)
    if (raw.length < indexLen)
      fail(s"shard of ${raw.length} bytes shorter than its $indexLen-byte index")
    val idxOff = if (sh.indexAtEnd) raw.length - indexLen else 0
    if (sh.indexCrc) {
      val crc = new java.util.zip.CRC32C()
      crc.update(raw, idxOff, nInner * 16)
      val stored = java.nio.ByteBuffer.wrap(raw, idxOff + nInner * 16, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt & 0xffffffffL
      if (crc.getValue != stored)
        fail(f"shard index crc32c mismatch (stored 0x$stored%08x, " +
          f"computed 0x${crc.getValue}%08x)")
    }
    val idx = java.nio.ByteBuffer.wrap(raw, idxOff, nInner * 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val out = Array.fill(meta.chunks.product)(meta.fill)
    val cStrides = meta.chunks.scanRight(1)(_ * _).tail
    val iStrides = sh.innerChunks.scanRight(1)(_ * _).tail
    val gStrides = gridDims.scanRight(1)(_ * _).tail
    val order = if (sh.innerBigEndian) java.nio.ByteOrder.BIG_ENDIAN
      else java.nio.ByteOrder.LITTLE_ENDIAN
    // inner meta reuses the element decode path (inner pipeline applied)
    val rank = meta.chunks.size
    var g = 0
    while (g < nInner) {
      val off = idx.getLong(idxOff + g * 16)
      val len = idx.getLong(idxOff + g * 16 + 8)
      if (off != ShardMissing || len != ShardMissing) {
        // subtraction form: off + len can wrap past Long.MaxValue, after
        // which toInt truncation would slice an arbitrary shard window
        if (off < 0 || len < 0 || off > raw.length || len > raw.length - off)
          fail(s"inner chunk $g window ($off, $len) outside the shard")
        val vals = decodeInnerChunk(
          java.util.Arrays.copyOfRange(raw, off.toInt, (off + len).toInt), meta, sh)
        var k = 0
        val within = sh.innerChunks.product
        while (k < within) {
          var pos = 0L
          var dim = 0
          while (dim < rank) {
            val gi = (g / gStrides(dim)) % gridDims(dim)
            val li = (k / iStrides(dim)) % sh.innerChunks(dim)
            pos += (gi.toLong * sh.innerChunks(dim) + li) * cStrides(dim)
            dim += 1
          }
          out(pos.toInt) = vals(k)
          k += 1
        }
      }
      g += 1
    }
    out
  }

  /** Decode ONE inner chunk's raw bytes (inner pipeline applied) to its
    * inner-chunk-sized value array — the grid scan's unit ([[ZarrChunkIngest]]) for
    * shard-inner-parallel reads. */
  private[sources] def decodeInnerChunk(innerRaw: Array[Byte], meta: Meta,
      sh: Sharding): Array[Double] = {
    val bytes = sh.innerCompress match {
      case None => innerRaw
      case Some("gzip") => gunzip(innerRaw)
      case Some("blosc") => Blosc.decompress(innerRaw)
      case Some("zstd") => Zarr.zstdInflate(innerRaw)
      case Some(other) => fail(s"inner codec '$other' unsupported")
    }
    val n = sh.innerChunks.product
    if (bytes.length != n * meta.elem.size)
      fail(s"inner chunk has ${bytes.length} bytes, expected ${n * meta.elem.size}")
    meta.elem.decode(bytes, n)
  }

  /** Read a SHARD file's index only (its 16*nInner + optional-crc tail
    * or head): (offset, nbytes) per inner chunk, absent = (-1, -1).
    * This is the KB-sized metadata phase of the shard-inner-parallel
    * ingest — the shard body is never touched here. */
  private[sources] def readShardIndex(path: String, meta: Meta,
      sh: Sharding): IndexedSeq[(Long, Long)] = {
    val gridDims = meta.chunks.zip(sh.innerChunks).map { case (o, i) => o / i }
    val nInner = gridDims.product
    val indexLen = nInner * 16 + (if (sh.indexCrc) 4 else 0)
    val in = ByteStore.open(path)
    try {
      if (in.length < indexLen)
        fail(s"shard $path (${in.length} B) shorter than its $indexLen-byte index")
      val idx = in.readFully(if (sh.indexAtEnd) in.length - indexLen else 0L,
        indexLen)
      if (sh.indexCrc) {
        val crc = new java.util.zip.CRC32C()
        crc.update(idx, 0, nInner * 16)
        val stored = java.nio.ByteBuffer.wrap(idx, nInner * 16, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt & 0xffffffffL
        if (crc.getValue != stored)
          fail(f"shard $path index crc32c mismatch (stored 0x$stored%08x)")
      }
      val bb = java.nio.ByteBuffer.wrap(idx).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      IndexedSeq.tabulate(nInner)(g => (bb.getLong(g * 16), bb.getLong(g * 16 + 8)))
    } finally in.close()
  }

  /** Chunk file name under the array dir for chunk index `ci`. */
  def chunkKey(meta: Meta, ci: Seq[Int]): String =
    if (meta.v2Keys) ci.mkString(meta.keySep)
    else ("c" +: ci.map(_.toString)).mkString(meta.keySep)

  /** Decode one v3 array of any rank from `store/name`. */
  def readArray(store: java.io.File, name: String): (Seq[Int], Array[Double]) = {
    val d = new java.io.File(store, name)
    val metaFile = new java.io.File(d, "zarr.json")
    if (!metaFile.exists()) fail(s"no zarr.json under ${d.getPath}")
    val meta = parseMeta(java.nio.file.Files.readString(metaFile.toPath))
    val rank = meta.shape.size
    val out = Array.fill(meta.shape.product)(meta.fill)
    val nChunks = meta.shape.zip(meta.chunks).map { case (s, c) => (s + c - 1) / c }
    val strides = meta.shape.scanRight(1)(_ * _).tail
    val cStrides = meta.chunks.scanRight(1)(_ * _).tail

    def walk(idx: List[Int], dim: Int): Seq[List[Int]] =
      if (dim == rank) Seq(idx.reverse)
      else (0 until nChunks(dim)).flatMap(i => walk(i :: idx, dim + 1))

    walk(Nil, 0).foreach { ci =>
      // the default "/" separator nests chunk files in subdirectories —
      // resolve through File so both layouts work
      val f = chunkKey(meta, ci).split('/')
        .foldLeft(d)((acc, part) => new java.io.File(acc, part))
      if (f.exists()) {
        val raw = java.nio.file.Files.readAllBytes(f.toPath)
        // decodeChunkBytes handles the full pipeline, sharding included
        val vals = decodeChunkBytes(raw, meta)
        val within = meta.chunks.product
        var k = 0
        while (k < within) {
          var g = 0L; var inBounds = true; var dim = 0
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

  /** Read every `<scene_id>.zarr` v3 store under `dir` — the same
    * contract as [[Zarr.readScenes]]. */
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
        val (shape, v) = readArray(store, varName)
        if (shape.size != 2) fail(s"$varName has rank ${shape.size}, expected 2")
        val (yShape, ys) = readArray(store, "y")
        val (xShape, xs) = readArray(store, "x")
        if (yShape != Seq(shape(0)) || xShape != Seq(shape(1)))
          fail(s"coordinate shapes ($yShape, $xShape) disagree with grid $shape")
        for (j <- 0 until shape(0); i <- 0 until shape(1))
          yield (sid, xs(i), ys(j), v(j * shape(1) + i))
      }
      .toDF("scene_id", "x", "y", "value")
  }

  // ------------------------------------------------------------------
  // Writer (the v3 sibling of ZarrSink)
  // ------------------------------------------------------------------

  private def metaJson(shape: Seq[Int], chunks: Seq[Int], dims: Seq[String],
      gzipLevel: Option[Int], innerChunks: Option[Seq[Int]] = None): String = {
    val pipeline = Seq(Some("""{"name": "bytes", "configuration": {"endian": "little"}}"""),
      gzipLevel.map(l => s"""{"name": "gzip", "configuration": {"level": $l}}"""))
      .flatten.mkString("[", ", ", "]")
    val codecs = innerChunks match {
      case None => pipeline
      case Some(ic) =>
        s"""[{"name": "sharding_indexed", "configuration": {
           |   "chunk_shape": [${ic.mkString(", ")}],
           |   "codecs": $pipeline,
           |   "index_codecs": [{"name": "bytes", "configuration": {"endian": "little"}},
           |     {"name": "crc32c"}],
           |   "index_location": "end"}}]""".stripMargin
    }
    s"""{"zarr_format": 3, "node_type": "array",
       | "shape": [${shape.mkString(", ")}],
       | "data_type": "float64",
       | "chunk_grid": {"name": "regular",
       |   "configuration": {"chunk_shape": [${chunks.mkString(", ")}]}},
       | "chunk_key_encoding": {"name": "default",
       |   "configuration": {"separator": "/"}},
       | "fill_value": "NaN",
       | "codecs": $codecs,
       | "dimension_names": [${dims.map("\"" + _ + "\"").mkString(", ")}]}""".stripMargin
  }

  private def gzip(bytes: Array[Byte], level: Int): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val gos = new java.util.zip.GZIPOutputStream(bos) {
      this.`def`.setLevel(level)
    }
    gos.write(bytes); gos.close()
    bos.toByteArray
  }

  /** Encode one chunk-shaped value array through the inner pipeline
    * (f8 little-endian + optional gzip). */
  private def encodeValues(chunk: Array[Double], gzipLevel: Option[Int]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(chunk.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    chunk.foreach(buf.putDouble)
    gzipLevel.map(gzip(buf.array(), _)).getOrElse(buf.array())
  }

  /** Assemble one SHARD file: inner chunks through the inner pipeline,
    * then the (offset, nbytes) uint64-pair index + crc32c at the end. */
  private def encodeShard(chunk: Array[Double], chunks: Seq[Int],
      inner: Seq[Int], gzipLevel: Option[Int]): Array[Byte] = {
    val gridDims = chunks.zip(inner).map { case (o, i) => o / i }
    val nInner = gridDims.product
    val cStrides = chunks.scanRight(1)(_ * _).tail
    val iStrides = inner.scanRight(1)(_ * _).tail
    val gStrides = gridDims.scanRight(1)(_ * _).tail
    val body = new java.io.ByteArrayOutputStream()
    val index = java.nio.ByteBuffer.allocate(nInner * 16 + 4)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var g = 0
    while (g < nInner) {
      val vals = new Array[Double](inner.product)
      var k = 0
      while (k < vals.length) {
        var pos = 0L; var dim = 0
        while (dim < chunks.size) {
          val gi = (g / gStrides(dim)) % gridDims(dim)
          val li = (k / iStrides(dim)) % inner(dim)
          pos += (gi.toLong * inner(dim) + li) * cStrides(dim)
          dim += 1
        }
        vals(k) = chunk(pos.toInt)
        k += 1
      }
      val bytes = encodeValues(vals, gzipLevel)
      index.putLong(body.size.toLong).putLong(bytes.length.toLong)
      body.write(bytes)
      g += 1
    }
    val crc = new java.util.zip.CRC32C()
    crc.update(index.array(), 0, nInner * 16)
    index.putInt(crc.getValue.toInt)
    body.write(index.array())
    body.toByteArray
  }

  private def writeArray(dir: String, name: String, shape: Seq[Int],
      dims: Seq[String], values: Array[Double], chunks: Seq[Int],
      gzipLevel: Option[Int], innerChunks: Option[Seq[Int]] = None): Unit = {
    val d = ByteStore.join(dir, name)
    innerChunks.foreach { ic =>
      require(ic.size == chunks.size && chunks.zip(ic).forall { case (o, i) =>
        i > 0 && o % i == 0 }, s"inner chunks $ic must divide shard chunks $chunks")
    }
    ByteStore.writeString(ByteStore.join(d, "zarr.json"),
      metaJson(shape, chunks, dims, gzipLevel, innerChunks))
    val meta = Meta(shape, chunks, "float64", bigEndian = false,
      compress = gzipLevel.map(_ => "gzip"), fill = Double.NaN,
      keySep = "/", v2Keys = false)
    ZarrSink.foreachChunk(shape, chunks, values) { (ci, chunk) =>
      val bytes = innerChunks match {
        case None => encodeValues(chunk, gzipLevel)
        case Some(ic) => encodeShard(chunk, chunks, ic, gzipLevel)
      }
      val f = chunkKey(meta, ci.toList).split('/').foldLeft(d)(ByteStore.join)
      ByteStore.writeAllBytes(f, bytes) // create() mkdirs parents
    }
  }

  /** One v3 store per scene — same input/output contract as
    * [[ZarrSink.writeScenes]]. */
  def writeScenes(df: DataFrame, outDir: String, varName: String,
      chunkRows: Option[Int] = None, gzipLevel: Option[Int] = None,
      shardInnerRows: Option[Int] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    ByteStore.mkdirs(outDir)
    val hconf = ByteStore.confSnapshot(spark)
    df.select("scene_id", "time", "x", "y", "value").as[NetCDFIngest.ScenePixel]
      .groupByKey(_.scene_id)
      .mapGroups { (sid, it) =>
        ByteStore.install(hconf) // executor JVMs have no session
        val rows = it.toArray
        val xs = rows.map(_.x).distinct.sorted
        val ys = rows.map(_.y).distinct.sorted
        val xi = xs.zipWithIndex.toMap; val yi = ys.zipWithIndex.toMap
        val grid = Array.fill(xs.length * ys.length)(Double.NaN)
        rows.foreach(r => grid(yi(r.y) * xs.length + xi(r.x)) = r.value)
        val store = ByteStore.absolute(ByteStore.join(outDir, s"$sid.zarr"))
        ByteStore.writeString(ByteStore.join(store, "zarr.json"),
          """{"zarr_format": 3, "node_type": "group"}""")
        writeArray(store, varName, Seq(ys.length, xs.length), Seq("y", "x"),
          grid, Seq(chunkRows.getOrElse(ys.length), xs.length), gzipLevel,
          shardInnerRows.map(r => Seq(r, xs.length)))
        writeArray(store, "y", Seq(ys.length), Seq("y"), ys,
          Seq(chunkRows.getOrElse(ys.length)), gzipLevel)
        writeArray(store, "x", Seq(xs.length), Seq("x"), xs,
          Seq(xs.length), gzipLevel)
        (sid, store, rows.length.toLong)
      }.toDF("scene_id", "path", "n_px")
  }
}
