package graft.sources

import org.apache.spark.sql.DataFrame

/** Zarr v2 export (S12): one store per scene, each holding the
  * (y, x) grid of a variable plus 1-D coordinate arrays, laid out per
  * the public zarr v2 spec — `.zgroup`/`.zarray`/`.zattrs` JSON and
  * C-order chunk files keyed `i.j`, raw, zlib-compressed (numcodecs
  * `{"id": "zlib"}`) or blosc-compressed (`blosc = true` — zarr-python's
  * default lz4+byte-shuffle, or `bloscCodec = "zstd"` /
  * `bloscBitShuffle = true` for its common tunings, via
  * [[Blosc.compress]]), edge
  * chunks padded to full chunk shape with the
  * fill value (spec: chunks are always full-size). The `.zattrs`
  * carry xarray's `_ARRAY_DIMENSIONS` convention so the store opens
  * directly with `xr.open_zarr` — the export a reference user feeds
  * back into their tooling (the aux-field netCDF sink's sibling,
  * pipeline/embeddings/aux_fields/utils.py:43-68). [[Zarr.readScenes]]
  * is the matching read side.
  *
  * Default single-chunk per array: scene grids are O(tile) rasters.
  * `chunkRows` switches to a row-banded chunk grid (one file per band)
  * — the unit of parallelism a large-array variant distributes over,
  * same executor-side pattern as [[NetCDFIngest.writeScenes]].
  */
object ZarrSink {

  private def jsonArray(shape: Seq[Int], chunks: Seq[Int], dtype: String,
      zlibLevel: Option[Int], blosc: Boolean, bloscCodec: String,
      bloscBitShuffle: Boolean): String = {
    val comp =
      if (blosc) {
        val sh = if (bloscBitShuffle) 2 else 1
        s"""{"id": "blosc", "cname": "$bloscCodec", "clevel": 5, "shuffle": $sh, "blocksize": 0}"""
      }
      else zlibLevel.map(l => s"""{"id": "zlib", "level": $l}""").getOrElse("null")
    s"""{"zarr_format": 2, "shape": [${shape.mkString(", ")}],
       | "chunks": [${chunks.mkString(", ")}], "dtype": "$dtype",
       | "compressor": $comp, "fill_value": "NaN", "filters": null,
       | "order": "C"}""".stripMargin
  }

  private def deflate(bytes: Array[Byte], level: Int): Array[Byte] = {
    val d = new java.util.zip.Deflater(level)
    d.setInput(bytes); d.finish()
    val out = new java.io.ByteArrayOutputStream(bytes.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    d.end()
    out.toByteArray
  }

  private def writeChunk(path: String, values: Array[Double],
      zlibLevel: Option[Int], blosc: Boolean, bloscCodec: String,
      bloscBitShuffle: Boolean): Unit = {
    val buf = java.nio.ByteBuffer.allocate(values.length * 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    values.foreach(buf.putDouble)
    val bytes =
      if (blosc) Blosc.compress(buf.array(), typesize = 8,
        blocksize = math.max(8, math.min(buf.array().length, 64 * 1024)),
        shuffle = !bloscBitShuffle, bitshuffle = bloscBitShuffle,
        codec = bloscCodec)
      else zlibLevel.map(deflate(buf.array(), _)).getOrElse(buf.array())
    ByteStore.writeAllBytes(path, bytes)
  }

  private def writeArray(dir: String, name: String, shape: Seq[Int],
      dims: Seq[String], values: Array[Double], chunks: Seq[Int],
      zlibLevel: Option[Int], blosc: Boolean, bloscCodec: String,
      bloscBitShuffle: Boolean): Unit = {
    val d = ByteStore.join(dir, name)
    ByteStore.writeString(ByteStore.join(d, ".zarray"),
      jsonArray(shape, chunks, "<f8", zlibLevel, blosc, bloscCodec, bloscBitShuffle))
    ByteStore.writeString(ByteStore.join(d, ".zattrs"),
      s"""{"_ARRAY_DIMENSIONS": [${dims.map("\"" + _ + "\"").mkString(", ")}]}""")
    foreachChunk(shape, chunks, values) { (ci, chunk) =>
      writeChunk(ByteStore.join(d, ci.mkString(".")), chunk, zlibLevel,
        blosc, bloscCodec, bloscBitShuffle)
    }
  }

  /** The chunk fill both zarr writers share: walks the chunk grid of a
    * C-order `values` array of `shape` in C order and hands each chunk
    * index with its full `chunks`-shaped block, the out-of-bounds edge
    * padded with NaN (the writers' fill value). The index array is
    * reused across calls. */
  private[sources] def foreachChunk(shape: Seq[Int], chunks: Seq[Int],
      values: Array[Double])(write: (Array[Int], Array[Double]) => Unit): Unit = {
    // arrays, not Lists: the per-element fill below indexes them O(1)
    val rank = shape.size
    val shp = shape.toArray
    val chk = chunks.toArray
    val nChunks = Array.tabulate(rank)(d => (shp(d) + chk(d) - 1) / chk(d))
    val strides = shp.scanRight(1)(_ * _).tail
    val cStrides = chk.scanRight(1)(_ * _).tail
    val ci = new Array[Int](rank)
    def emit(dim: Int): Unit =
      if (dim < rank) (0 until nChunks(dim)).foreach { i => ci(dim) = i; emit(dim + 1) }
      else {
        val chunk = Array.fill(chk.product)(Double.NaN) // pad = fill
        var k = 0
        while (k < chunk.length) {
          var g = 0L; var inBounds = true; var dd = 0
          while (dd < rank && inBounds) {
            val global = ci(dd) * chk(dd) + (k / cStrides(dd)) % chk(dd)
            if (global >= shp(dd)) inBounds = false else g += global.toLong * strides(dd)
            dd += 1
          }
          if (inBounds) chunk(k) = values(g.toInt)
          k += 1
        }
        write(ci, chunk)
      }
    emit(0)
  }

  /** One zarr store per scene under `outDir` (same input contract as
    * [[NetCDFIngest.writeScenes]]: scene_id, time, x, y, value on a
    * regular per-scene grid). `chunkRows` bands the variable grid into
    * ceil(ny/chunkRows) chunk files; `zlibLevel` compresses every
    * chunk. Returns (scene_id, path, n_px). */
  def writeScenes(df: DataFrame, outDir: String, varName: String,
      chunkRows: Option[Int] = None, zlibLevel: Option[Int] = None,
      blosc: Boolean = false, bloscCodec: String = "lz4",
      bloscBitShuffle: Boolean = false): DataFrame = {
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
        ByteStore.writeString(ByteStore.join(store, ".zgroup"), """{"zarr_format": 2}""")
        val gridChunks = Seq(chunkRows.getOrElse(ys.length), xs.length)
        writeArray(store, varName, Seq(ys.length, xs.length), Seq("y", "x"),
          grid, gridChunks, zlibLevel, blosc, bloscCodec, bloscBitShuffle)
        writeArray(store, "y", Seq(ys.length), Seq("y"), ys,
          Seq(chunkRows.getOrElse(ys.length)), zlibLevel, blosc, bloscCodec,
          bloscBitShuffle)
        writeArray(store, "x", Seq(xs.length), Seq("x"), xs,
          Seq(xs.length), zlibLevel, blosc, bloscCodec, bloscBitShuffle)
        (sid, store, rows.length.toLong)
      }.toDF("scene_id", "path", "n_px")
  }
}
