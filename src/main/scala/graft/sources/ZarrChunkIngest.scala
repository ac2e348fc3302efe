package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Chunk-parallel ingest for ONE consolidated zarr store (v2 or v3) —
  * the third sibling of [[HDF5ChunkIngest]]/[[NetCDF3ChunkIngest]], and
  * the easiest of the three: the chunk grid is CLOSED-FORM from the
  * array metadata (no B-trees, no record strides — chunk (i,j,…) lives
  * in its own file), so phase 1 is just a metadata parse (KBs) and the
  * key enumeration, and phase 2 decodes one chunk file per task row
  * with pad-region skipping and absent files as fill_value. The chunk
  * grid IS zarr's designed unit of parallelism; this operator simply
  * hands it to Spark.
  *
  * All byte access (metadata, chunk files, shard index tails) goes
  * through the [[ByteStore]] seam, so a store addressed by
  * `file://`/`hdfs://`/`s3a://` URI reads identically to a local path —
  * zarr-over-object-store being the format's native habitat.
  *
  * Output matches the other ingests: (path, dataset, idx, value) with
  * idx the global row-major linear element index. Absent chunks emit
  * their fill_value elements (a dense raster contract, same as the
  * whole-array readers). Dataset names may be group paths
  * (`grp/sub/arr`) — chunk keys resolve under the array's directory.
  */
object ZarrChunkIngest {

  /** One chunk task: store path, array name (possibly a group path),
    * zarr version, and the chunk's grid index. */
  final case class ChunkTask(store: String, dataset: String, version: Int,
      ci: Seq[Int])

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"zarr chunk ingest: $msg")

  /** Detect version + parse metadata for `store/name`. */
  private[sources] def metaOf(store: String, name: String): Either[Zarr.ArrayMeta, Zarr3.Meta] = {
    val d = ByteStore.join(store, name)
    val v2 = ByteStore.join(d, ".zarray")
    val v3 = ByteStore.join(d, "zarr.json")
    if (ByteStore.exists(v3)) Right(Zarr3.parseMeta(ByteStore.readString(v3)))
    else if (ByteStore.exists(v2)) Left(Zarr.parseMeta(ByteStore.readString(v2)))
    else fail(s"no .zarray or zarr.json under $d")
  }

  private def gridOf(shape: Seq[Int], chunks: Seq[Int]): Seq[Seq[Int]] = {
    val nChunks = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    def walk(idx: List[Int], dim: Int): Seq[List[Int]] =
      if (dim == shape.size) Seq(idx.reverse)
      else (0 until nChunks(dim)).flatMap(i => walk(i :: idx, dim + 1))
    walk(Nil, 0)
  }

  /** Phase 1: the chunk-task list — a metadata-only driver step. */
  def chunkTasks(store: String, name: String): Seq[ChunkTask] =
    metaOf(store, name) match {
      case Left(m) => gridOf(m.shape, m.chunks).map(ci => ChunkTask(store, name, 2, ci))
      case Right(m) => gridOf(m.shape, m.chunks).map(ci => ChunkTask(store, name, 3, ci))
    }

  /** The chunk file's path for task `t` (v2 dotted keys, v3 nested
    * `c/…` keys — both join under the array directory). */
  private def chunkPath(t: ChunkTask, meta: Either[Zarr.ArrayMeta, Zarr3.Meta]): String = {
    val d = ByteStore.join(t.store, t.dataset)
    meta match {
      case Left(_) => ByteStore.join(d, t.ci.mkString("."))
      case Right(m) => Zarr3.chunkKey(m, t.ci).split('/')
        .foldLeft(d)(ByteStore.join)
    }
  }

  /** Chunks decoded and store bytes read by one reader, counted per
    * chunk or per read span — the DSv2 scan reports them as its
    * `chunksDecoded`/`bytesRead` metrics. */
  private[sources] final class ReadStats {
    var chunks = 0L
    var bytes = 0L
  }

  /** One chunk, or one inner chunk of a shard, of array `dataset` in
    * `store`: the box at `origin` with per-dimension `extent` (the chunk
    * shape) inside the array `shape`, and its decoded values in C order
    * over the full extent, pad region included. `values` is null when
    * the chunk is absent (every element reads `fill`) or when the
    * caller asked for indexes only (its bytes were never read). */
  private[sources] final class Block(val store: String, val dataset: String,
      val shape: Array[Long], val origin: Array[Long], val extent: Array[Int],
      val values: Array[Double], val fill: Double) {
    /** The box clipped to the array: in-bounds length per dimension. */
    val clipped: Array[Int] = Array.tabulate(shape.length)(d =>
      math.max(0L, math.min(extent(d).toLong, shape(d) - origin(d))).toInt)
    /** In-bounds elements: the rows this block emits. */
    def rows: Int = clipped.product
  }

  /** One innermost run of a block's in-bounds elements: `len` elements
    * starting at within-block index `k0` and global linear index `g0`,
    * whose per-dimension coordinates are `coords` (the last one
    * advancing by 1 along the run). */
  private[sources] trait RunVisitor {
    def run(k0: Int, g0: Long, coords: Array[Long], len: Int): Unit
  }

  /** Walk block `b`'s in-bounds elements in C order, one call per
    * innermost run, so callers copy or fill a whole run per call. Pad
    * positions past the array edge are skipped; this walk fixes the row
    * order of every reader (chunk order, then C order inside it). */
  private[sources] def foreachRun(b: Block)(f: RunVisitor): Unit = {
    if (b.rows == 0) return
    val rank = b.shape.length
    val strides = MountDsv2.rowStrides(b.shape.toSeq)
    val within = b.extent.scanRight(1)(_ * _).tail
    val local = new Array[Int](rank)
    val coords = b.origin.clone()
    val last = rank - 1
    var more = true
    while (more) {
      var k0 = 0
      var g0 = 0L
      var d = 0
      while (d < rank) { k0 += local(d) * within(d); g0 += coords(d) * strides(d); d += 1 }
      f.run(k0, g0, coords, b.clipped(last))
      // odometer over the outer dimensions
      d = last - 1
      while (d >= 0 && local(d) == b.clipped(d) - 1) {
        local(d) = 0; coords(d) = b.origin(d); d -= 1
      }
      if (d < 0) more = false else { local(d) += 1; coords(d) += 1 }
    }
  }

  /** (shape, chunk shape, fill) of either version's metadata. */
  private[sources] def dimsOf(meta: Either[Zarr.ArrayMeta, Zarr3.Meta]): (Seq[Int], Seq[Int], Double) =
    meta match {
      case Left(m) => (m.shape, m.chunks, m.fill)
      case Right(m) => (m.shape, m.chunks, m.fill)
    }

  /** One chunk task as a [[Block]]. With `withValues` the chunk file is
    * read and decoded in one array-level pass (absent file: fill);
    * without it the chunk file is never opened, so projections without
    * `value` do metadata-proportional work. */
  private[sources] def chunkBlock(t: ChunkTask, meta: Either[Zarr.ArrayMeta, Zarr3.Meta],
      withValues: Boolean, stats: ReadStats): Block = {
    val (shape, chunks, fill) = dimsOf(meta)
    val values =
      if (!withValues) null
      else {
        val chunkFile = chunkPath(t, meta)
        if (!ByteStore.exists(chunkFile)) null
        else {
          val raw = ByteStore.readAllBytes(chunkFile)
          stats.chunks += 1
          stats.bytes += raw.length
          meta match {
            case Left(m) => Zarr.decodeChunkBytes(raw, m)
            case Right(m) => Zarr3.decodeChunkBytes(raw, m)
          }
        }
      }
    new Block(t.store, t.dataset, shape.map(_.toLong).toArray,
      t.ci.zip(chunks).map { case (c, w) => c.toLong * w }.toArray, chunks.toArray,
      values, fill)
  }

  /** Inclusive [min, max] global-linear-index bounds of one chunk task
    * (closed-form — used by the mount's idx-range prune). */
  private[sources] def chunkIdxBounds(t: ChunkTask,
      meta: Either[Zarr.ArrayMeta, Zarr3.Meta]): (Long, Long) = {
    val (shape, chunks, _) = dimsOf(meta)
    MountDsv2.boxBounds(
      t.ci.zip(chunks).map { case (c, w) => c.toLong * w },
      chunks.map(_.toLong), shape.map(_.toLong))
  }

  /** Phase 2 fan-out: decode each chunk independently. The per-task
    * metadata re-parse is a KB-sized read (zarr has no shared file
    * handle to manage — every chunk is its own file). */
  def readValues(spark: SparkSession, store: String, name: String,
      partitions: Int = 0): DataFrame = {
    import spark.implicits._
    val tasks = chunkTasks(store, name)
    require(tasks.nonEmpty, s"no chunks for $store/$name")
    val par = if (partitions > 0) partitions
      else math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism))
    val hconf = ByteStore.confSnapshot(spark)
    spark.createDataset(tasks)
      .repartition(par)
      .mapPartitions { it =>
        ByteStore.install(hconf) // executor JVMs have no session
        var cached: ((String, String), Either[Zarr.ArrayMeta, Zarr3.Meta]) = null
        val stats = new ReadStats
        it.flatMap { t =>
          val key = (t.store, t.dataset)
          if (cached == null || cached._1 != key)
            cached = (key, metaOf(t.store, t.dataset))
          rowsOf(chunkBlock(t, cached._2, withValues = true, stats))
        }
      }
      .toDF("path", "dataset", "idx", "value")
  }

  /** A block's (path, dataset, idx, value) rows for the RDD ingests. */
  private def rowsOf(b: Block): Iterator[(String, String, Long, Double)] = {
    val rows = Array.newBuilder[(String, String, Long, Double)]
    rows.sizeHint(b.rows)
    foreachRun(b) { (k0, g0, _, len) =>
      var j = 0
      while (j < len) {
        rows += ((b.store, b.dataset, g0 + j,
          if (b.values == null) b.fill else b.values(k0 + j)))
        j += 1
      }
    }
    rows.result().iterator
  }

  /** One inner-chunk task inside one shard file: byte window [offset,
    * offset+length); length == -1 marks an ABSENT inner chunk (emit
    * fill). `ci` is the shard's grid index, `gi` the inner chunk's
    * index within the shard. */
  final case class InnerTask(store: String, dataset: String, ci: Seq[Int],
      gi: Seq[Int], offset: Long, length: Long)

  private def shardPath(store: String, dataset: String, meta: Zarr3.Meta,
      ci: Seq[Int]): String =
    Zarr3.chunkKey(meta, ci).split('/')
      .foldLeft(ByteStore.join(store, dataset))(ByteStore.join)

  /** Phase 1 for SHARDED v3 arrays: read only each shard's
    * (offset, nbytes) index tail — KBs per shard regardless of shard
    * size, crc32c-verified — and enumerate one task per INNER chunk.
    * This is what makes sharding the 100 TB shape: shard files keep the
    * object count low while the task granularity stays the inner grid,
    * and phase 2 reads only each task's byte window, never a whole
    * shard.
    *
    * `shardKeep` prunes WHOLE SHARDS before their index tails are read
    * (the shard grid is closed-form, so e.g. an idx-range crop decides
    * from pure arithmetic): the metadata walk is then proportional to
    * the CROP, not the store — under a bbox slice of a 100 TB store,
    * out-of-range shards cost nothing, not even a tail GET. */
  def shardInnerTasks(store: String, name: String,
      shardKeep: Seq[Int] => Boolean = _ => true): Seq[InnerTask] = {
    val meta = metaOf(store, name) match {
      case Right(m) if m.sharding.isDefined => m
      case Right(_) => fail(s"$store/$name is not sharded — use chunkTasks")
      case Left(_) => fail(s"$store/$name is zarr v2 — sharding is v3-only")
    }
    val sh = meta.sharding.get
    val innerGrid = gridOf(meta.chunks, sh.innerChunks)
    // one exists-probe + one index-tail read per SURVIVING shard — a
    // 10k-shard array would pay 10k serial round trips at plan time,
    // so the tails read in one parMap wave (input order kept)
    ByteStore.parMap(gridOf(meta.shape, meta.chunks).filter(shardKeep)) { ci =>
      val shardFile = shardPath(store, name, meta, ci)
      if (!ByteStore.exists(shardFile))
        innerGrid.map(gi => InnerTask(store, name, ci, gi, -1L, -1L))
      else {
        val index = Zarr3.readShardIndex(shardFile, meta, sh)
        innerGrid.zipWithIndex.map { case (gi, g) =>
          val (off, len) = index(g)
          InnerTask(store, name, ci, gi, off, len)
        }
      }
    }.flatten
  }

  /** Inclusive [min, max] global-linear-index bounds of one SHARD (the
    * outer chunk box) — decidable before its index tail is read. */
  private[sources] def shardIdxBounds(ci: Seq[Int], meta: Zarr3.Meta): (Long, Long) =
    MountDsv2.boxBounds(
      ci.zip(meta.chunks).map { case (c, w) => c.toLong * w },
      meta.chunks.map(_.toLong), meta.shape.map(_.toLong))

  /** Per-dimension box test of one whole-chunk task against pushed
    * `dK` coordinate ranges (the bbox-crop prune — exact per dim where
    * the linear idx window is only a span). */
  private[sources] def chunkBoxKeep(t: ChunkTask,
      meta: Either[Zarr.ArrayMeta, Zarr3.Meta],
      ranges: IndexedSeq[MountDsv2.IdxRange]): Boolean = {
    val (shape, chunks, _) = dimsOf(meta)
    MountDsv2.boxKeep(
      t.ci.zip(chunks).map { case (c, w) => c.toLong * w },
      chunks.map(_.toLong), shape.map(_.toLong), ranges)
  }

  /** Same test for a whole SHARD (outer chunk) of a sharded array —
    * failing shards never even have their index tails read. */
  private[sources] def shardBoxKeep(ci: Seq[Int], meta: Zarr3.Meta,
      ranges: IndexedSeq[MountDsv2.IdxRange]): Boolean =
    MountDsv2.boxKeep(
      ci.zip(meta.chunks).map { case (c, w) => c.toLong * w },
      meta.chunks.map(_.toLong), meta.shape.map(_.toLong), ranges)

  /** Same test for one inner chunk of a sharded array. */
  private[sources] def innerBoxKeep(t: InnerTask, meta: Zarr3.Meta,
      ranges: IndexedSeq[MountDsv2.IdxRange]): Boolean = {
    val inner = meta.sharding.getOrElse(fail("meta lost its sharding")).innerChunks
    MountDsv2.boxKeep(
      t.ci.zip(meta.chunks).zip(t.gi.zip(inner)).map {
        case ((c, w), (g, iw)) => c.toLong * w + g.toLong * iw
      },
      inner.map(_.toLong), meta.shape.map(_.toLong), ranges)
  }

  /** Tree-filter prune ([[MountDsv2.boxTreeKeep]]) for one whole-chunk
    * task — the catalog crop's per-store disjunction at chunk level. */
  private[sources] def chunkTreeKeep(t: ChunkTask,
      meta: Either[Zarr.ArrayMeta, Zarr3.Meta],
      trees: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    trees.isEmpty || {
      val (shape, chunks, _) = dimsOf(meta)
      MountDsv2.boxTreeKeep(trees, t.store, t.dataset, chunkIdxBounds(t, meta),
        t.ci.zip(chunks).map { case (c, w) => c.toLong * w },
        chunks.map(_.toLong), shape.map(_.toLong))
    }

  /** Same prune for a whole SHARD — failing shards never have their
    * index tails read. */
  private[sources] def shardTreeKeep(store: String, dataset: String,
      ci: Seq[Int], meta: Zarr3.Meta,
      trees: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    trees.isEmpty ||
      MountDsv2.boxTreeKeep(trees, store, dataset, shardIdxBounds(ci, meta),
        ci.zip(meta.chunks).map { case (c, w) => c.toLong * w },
        meta.chunks.map(_.toLong), meta.shape.map(_.toLong))

  /** Same prune for one inner chunk of a sharded array. */
  private[sources] def innerTreeKeep(t: InnerTask, meta: Zarr3.Meta,
      trees: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    trees.isEmpty || {
      val inner = meta.sharding.getOrElse(fail("meta lost its sharding")).innerChunks
      MountDsv2.boxTreeKeep(trees, t.store, t.dataset, innerIdxBounds(t, meta),
        t.ci.zip(meta.chunks).zip(t.gi.zip(inner)).map {
          case ((c, w), (g, iw)) => c.toLong * w + g.toLong * iw
        },
        inner.map(_.toLong), meta.shape.map(_.toLong))
    }

  /** ABSENT inner chunk (index sentinel or missing shard file)? */
  private[sources] def innerMissing(t: InnerTask): Boolean =
    t.offset == -1L && t.length == -1L

  /** The shard file holding inner task `t`. */
  private[sources] def shardPathOf(t: InnerTask, meta: Zarr3.Meta): String =
    shardPath(t.store, t.dataset, meta, t.ci)

  /** Validate task `t`'s byte window against the shard length
    * (subtraction form: offset + length can wrap past Long.MaxValue). */
  private[sources] def checkInnerWindow(t: InnerTask, shardLen: Long,
      shardFile: String): Unit =
    require(t.offset >= 0 && t.length >= 0 &&
      t.offset <= shardLen && t.length <= shardLen - t.offset,
      s"inner window (${t.offset}, ${t.length}) outside $shardFile")

  /** A run of inner tasks sharing (store, dataset), ideally (shard,
    * offset)-ordered, as [[Block]]s in input order. With `withValues`
    * it segments by shard file, merges byte-adjacent windows
    * ([[MountDsv2.coalesceWindows]]) and issues one span read per group
    * — inner chunks are written back-to-back, so a whole shard
    * typically collapses to a single ranged read on an object store —
    * then decodes each inner chunk in one array-level pass. Absent
    * inner chunks read as fill without any read; without `withValues`
    * no shard byte is read at all. */
  private[sources] def innerBlocks(run: IndexedSeq[InnerTask], meta: Zarr3.Meta,
      withValues: Boolean, handleFor: String => ByteStore.ReadAt,
      stats: ReadStats): Iterator[Block] = {
    val sh = meta.sharding.getOrElse(fail("meta lost its sharding"))
    val shape = meta.shape.map(_.toLong).toArray
    val extent = sh.innerChunks.toArray
    def block(t: InnerTask, values: Array[Double]): Block =
      new Block(t.store, t.dataset, shape,
        Array.tabulate(extent.length)(d =>
          t.ci(d).toLong * meta.chunks(d) + t.gi(d).toLong * extent(d)),
        extent, values, meta.fill)
    if (!withValues) return run.iterator.map(block(_, null))
    MountDsv2.runs(run)(t =>
        if (innerMissing(t)) null else shardPathOf(t, meta)).iterator.flatMap { seg =>
      if (innerMissing(seg.head)) seg.iterator.map(block(_, null))
      else {
        val shardFile = shardPathOf(seg.head, meta)
        val h = handleFor(shardFile)
        seg.foreach(checkInnerWindow(_, h.length, shardFile))
        val windows = seg.map(t => (t.offset, t.length))
        MountDsv2.coalesceWindows(windows).iterator.flatMap { g =>
          val gStart = seg(g.start).offset
          val gEnd = g.map(i => seg(i).offset + seg(i).length).max
          val buf = handleFor(shardFile).readFully(gStart, (gEnd - gStart).toInt)
          stats.bytes += buf.length
          g.iterator.map { i =>
            val t = seg(i)
            stats.chunks += 1
            block(t, Zarr3.decodeInnerChunk(java.util.Arrays.copyOfRange(buf,
              (t.offset - gStart).toInt, (t.offset - gStart + t.length).toInt), meta, sh))
          }
        }
      }
    }
  }

  /** Inclusive [min, max] global-linear-index bounds of one inner-chunk
    * task (closed-form — used by the mount's idx-range prune). */
  private[sources] def innerIdxBounds(t: InnerTask, meta: Zarr3.Meta): (Long, Long) = {
    val inner = meta.sharding.getOrElse(fail("meta lost its sharding")).innerChunks
    MountDsv2.boxBounds(
      t.ci.zip(meta.chunks).zip(t.gi.zip(inner)).map {
        case ((c, w), (g, iw)) => c.toLong * w + g.toLong * iw
      },
      inner.map(_.toLong), meta.shape.map(_.toLong))
  }

  /** Phase 2 fan-out for sharded arrays: one positioned byte-range read
    * + inner-pipeline decode per task; absent inner chunks (index
    * sentinel or missing shard file) emit fill. Same output contract as
    * [[readValues]]. */
  def readValuesShardInner(spark: SparkSession, store: String, name: String,
      partitions: Int = 0): DataFrame = {
    import spark.implicits._
    val tasks = shardInnerTasks(store, name)
    require(tasks.nonEmpty, s"no inner chunks for $store/$name")
    val par = if (partitions > 0) partitions
      else math.max(1, math.min(tasks.size, spark.sparkContext.defaultParallelism))
    import org.apache.spark.sql.functions.col
    val hconf = ByteStore.confSnapshot(spark)
    spark.createDataset(tasks)
      .repartition(par)
      // (store, dataset, shard, offset)-sort each partition so handle
      // reuse AND window coalescing see contiguous shard runs
      // (repartition alone scatters tasks round-robin; without `ci` in
      // the key, inner-chunk offsets — which restart near 0 in every
      // shard file — interleave tasks from different shards and the
      // per-shard runs degenerate to single tasks)
      .sortWithinPartitions(col("store"), col("dataset"), col("ci"), col("offset"))
      .mapPartitions { it =>
        ByteStore.install(hconf) // executor JVMs have no session
        val stats = new ReadStats
        var in: ByteStore.ReadAt = null
        def handleFor(p: String): ByteStore.ReadAt = {
          // one handle per shard file per run (HDF5ChunkIngest's
          // handle-reuse discipline)
          if (in == null || in.path != p) {
            if (in != null) in.close()
            in = ByteStore.open(p)
          }
          in
        }
        val out = MountDsv2.runs(it.toSeq)(t => (t.store, t.dataset))
          .iterator.flatMap { run =>
            val meta = metaOf(run.head.store, run.head.dataset) match {
              case Right(m) => m
              case Left(_) => fail("v2 store in shard-inner read")
            }
            innerBlocks(run, meta, withValues = true, handleFor, stats).flatMap(rowsOf)
          }
        // close the last handle when the partition iterator drains
        new Iterator[(String, String, Long, Double)] {
          def hasNext: Boolean = {
            val h = out.hasNext
            if (!h && in != null) { in.close(); in = null }
            h
          }
          def next(): (String, String, Long, Double) = out.next()
        }
      }
      .toDF("path", "dataset", "idx", "value")
  }
}
