package graft.sources

import GridScan.{Block, OpenFiles, Prune, ReadStats, Task}

/** Zarr's plan and decode for the grid scan ([[GridScan]]), v2 and v3
  * stores alike. The chunk grid is CLOSED-FORM from the array metadata
  * (no B-trees, no record strides — chunk (i,j,…) lives in its own
  * file), so planning is a metadata parse (KBs) plus the key
  * enumeration, and decode reads one chunk file per task, absent files
  * reading as fill_value. For SHARDED v3 arrays planning reads only each
  * surviving shard's crc32c-verified (offset, nbytes) index tail and
  * tasks are the inner chunks: shard files keep the object count low
  * while the task granularity stays the inner grid.
  *
  * All byte access (metadata, chunk files, shard index tails) goes
  * through the [[ByteStore]] seam, so a store addressed by
  * `file://`/`hdfs://`/`s3a://` URI reads identically to a local path —
  * zarr-over-object-store being the format's native habitat. Dataset
  * names may be group paths (`grp/sub/arr`): discovery walks groups
  * recursively (v2 `.zgroup`/`.zarray` markers, v3 `zarr.json`
  * node_type), the layout xarray writes for multi-variable output.
  */
object ZarrChunkIngest extends GridScan.Codec {

  /** One chunk task: store path, array name (possibly a group path),
    * and the chunk's grid index. */
  final case class ChunkTask(store: String, dataset: String, ci: Seq[Int]) extends Task

  /** One inner-chunk task inside one shard file: byte window [offset,
    * offset+length); length == -1 marks an ABSENT inner chunk (emit
    * fill). `ci` is the shard's grid index, `gi` the inner chunk's
    * index within the shard. */
  final case class InnerTask(store: String, dataset: String, ci: Seq[Int],
      gi: Seq[Int], offset: Long, length: Long) extends Task

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"zarr chunk ingest: $msg")

  // ---- discovery ----------------------------------------------------------

  /** An array node = a directory holding `.zarray` (v2) or an array
    * `zarr.json` (v3 — group nodes don't count). */
  private def isArray(dir: String): Boolean = {
    if (ByteStore.isFile(ByteStore.join(dir, ".zarray"))) return true
    val v3 = ByteStore.join(dir, "zarr.json")
    ByteStore.isFile(v3) && {
      // node_type discriminates; parseMeta validates later
      ByteStore.readString(v3).contains("\"array\"")
    }
  }

  /** An explicit zarr node marker at `dir` — how a STORE root announces
    * itself even when all its arrays are nested in groups. */
  private def hasNodeMarker(dir: String): Boolean =
    ByteStore.isFile(ByteStore.join(dir, ".zarray")) ||
      ByteStore.isFile(ByteStore.join(dir, ".zgroup")) ||
      ByteStore.isFile(ByteStore.join(dir, "zarr.json"))

  /** All arrays under each root, RECURSIVELY through group directories,
    * as (root, group-path) pairs sorted by (root, path). The walk is a
    * breadth-first LEVEL SWEEP: every directory at a level is listed
    * and node-probed in one [[ByteStore.parMap]] batch, so plan-time
    * latency on an object store scales with tree DEPTH (≤ maxDepth
    * round-trip waves), not directory count — a mount over thousands
    * of scene stores walks them all concurrently. Depth-bounded so a
    * pathological self-looping mount can't spin the planner. */
  private[sources] def arraysUnder(roots: Seq[String], maxDepth: Int = 8)
      : Seq[(String, String)] = {
    val found = Seq.newBuilder[(String, String)]
    // (root, dir, rel-path-under-root)
    var frontier: Seq[(String, String, String)] = roots.map(r => (r, r, ""))
    var depth = 0
    while (frontier.nonEmpty && depth <= maxDepth) {
      val level = ByteStore.parMap(frontier) { case (root, dir, rel) =>
        ByteStore.list(dir).filter(_.isDir).map { e =>
          val childRel = if (rel.isEmpty) e.name else rel + "/" + e.name
          (root, e.path, childRel, isArray(e.path))
        }
      }.flatten
      found ++= level.collect { case (root, _, rel, true) => (root, rel) }
      frontier = level.collect { case (root, p, rel, false) => (root, p, rel) }
      depth += 1
    }
    found.result().sorted
  }

  private[sources] def arraysIn(store: String, maxDepth: Int = 8): Seq[String] =
    arraysUnder(Seq(store), maxDepth).map(_._2)

  /** Parse an explicit `arrays` option — newline-separated
    * `store<TAB>array` pairs. An EXPLICIT list skips discovery
    * entirely: a catalog planned from a persisted manifest mounts its
    * member arrays with ZERO listing or probing round trips. */
  private[sources] def parseArrays(spec: String): Seq[(String, String)] =
    spec.split('\n').toSeq.map(_.trim).filter(_.nonEmpty).map { line =>
      line.split('\t') match {
        case Array(s, a) => (s, a)
        case _ => throw new IllegalArgumentException(
          s"graft-zarr: arrays entry '$line' is not store<TAB>array")
      }
    }.sorted

  /** Resolve `path` to (store, array) pairs: a store dir (detected by a
    * node marker at its root or arrays directly under it), or a dir
    * whose child dirs are stores (the one-store-per-scene layout
    * [[ZarrSink]] writes). Arrays nest through groups either way. */
  private[sources] def discover(path: String): Seq[(String, String)] = {
    require(ByteStore.isDirectory(path), s"graft-zarr: $path is not a directory")
    lazy val children = ByteStore.list(path).filter(_.isDir)
    val rootIsStore = hasNodeMarker(path) ||
      ByteStore.parMap(children)(e => isArray(e.path)).exists(identity)
    if (rootIsStore) arraysIn(path).map(a => (path, a))
    else {
      val stores = arraysUnder(children.map(_.path))
      require(stores.nonEmpty,
        s"graft-zarr: no zarr arrays under $path (or its child stores)")
      stores
    }
  }

  // ---- metadata and task boxes --------------------------------------------

  /** Detect version + parse metadata for `store/name`. */
  private[sources] def metaOf(store: String, name: String): Either[Zarr.ArrayMeta, Zarr3.Meta] = {
    val d = ByteStore.join(store, name)
    val v2 = ByteStore.join(d, ".zarray")
    val v3 = ByteStore.join(d, "zarr.json")
    if (ByteStore.exists(v3)) Right(Zarr3.parseMeta(ByteStore.readString(v3)))
    else if (ByteStore.exists(v2)) Left(Zarr.parseMeta(ByteStore.readString(v2)))
    else fail(s"no .zarray or zarr.json under $d")
  }

  /** (shape, chunk shape, fill) of either version's metadata. */
  private def dimsOf(meta: Either[Zarr.ArrayMeta, Zarr3.Meta]): (Seq[Int], Seq[Int], Double) =
    meta match {
      case Left(m) => (m.shape, m.chunks, m.fill)
      case Right(m) => (m.shape, m.chunks, m.fill)
    }

  private def gridOf(shape: Seq[Int], chunks: Seq[Int]): Seq[Seq[Int]] = {
    val nChunks = shape.zip(chunks).map { case (s, c) => (s + c - 1) / c }
    def walk(idx: List[Int], dim: Int): Seq[List[Int]] =
      if (dim == shape.size) Seq(idx.reverse)
      else (0 until nChunks(dim)).flatMap(i => walk(i :: idx, dim + 1))
    walk(Nil, 0)
  }

  /** The element origin of grid cell `ci` of `chunks`-shaped cells. */
  private def originOf(ci: Seq[Int], chunks: Seq[Int]): Seq[Long] =
    ci.zip(chunks).map { case (c, w) => c.toLong * w }

  /** The element origin of inner chunk `t` (shard origin + inner offset). */
  private def innerOrigin(t: InnerTask, meta: Zarr3.Meta, inner: Seq[Int]): Seq[Long] =
    originOf(t.ci, meta.chunks).zip(originOf(t.gi, inner)).map { case (a, b) => a + b }

  private def innerShape(meta: Zarr3.Meta): Seq[Int] =
    meta.sharding.getOrElse(fail("meta lost its sharding")).innerChunks

  /** The chunk-task list of one array from its metadata ([[metaOf]]) —
    * a driver step with no I/O. */
  def chunkTasks(store: String, name: String,
      meta: Either[Zarr.ArrayMeta, Zarr3.Meta]): Seq[ChunkTask] = {
    val (shape, chunks, _) = dimsOf(meta)
    gridOf(shape, chunks).map(ChunkTask(store, name, _))
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

  private def shardPath(store: String, dataset: String, meta: Zarr3.Meta,
      ci: Seq[Int]): String =
    Zarr3.chunkKey(meta, ci).split('/')
      .foldLeft(ByteStore.join(store, dataset))(ByteStore.join)

  /** The inner-chunk task list of one SHARDED v3 array (`meta`, its
    * [[metaOf]]): only each
    * shard's (offset, nbytes) index tail is read — KBs per shard
    * regardless of shard size, crc32c-verified — and decode reads only
    * each task's byte window, never a whole shard.
    *
    * `shardKeep` prunes WHOLE SHARDS before their index tails are read
    * (the shard grid is closed-form, so e.g. an idx-range crop decides
    * from pure arithmetic): the metadata walk is then proportional to
    * the CROP, not the store — under a bbox slice of a 100 TB store,
    * out-of-range shards cost nothing, not even a tail GET. */
  def shardInnerTasks(store: String, name: String, meta: Zarr3.Meta,
      shardKeep: Seq[Int] => Boolean = _ => true): Seq[InnerTask] = {
    val sh = meta.sharding.getOrElse(fail(s"$store/$name is not sharded — use chunkTasks"))
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

  // ---- plan ---------------------------------------------------------------

  /** The mount's tasks: whole-chunk tasks and shard-inner tasks (an array
    * is one or the other), each list in (store, array) order. `arrays`
    * (an explicit store<TAB>array list) skips the discovery walk. */
  private[sources] def plan(path: String, options: Map[String, String],
      prune: Prune): Seq[Seq[Task]] = {
    // an explicit array list (manifest-planned catalogs) skips the
    // discovery walk: ZERO list/probe round trips at plan time
    val arrays = options.get("arrays").map(parseArrays).getOrElse(discover(path))
      // store-level prune: a store excluded here never has its per-array
      // metadata read, let alone data
      .filter { case (s, _) => prune.store(s) }
      .filter { case (s, a) => prune.variable(s, a) }
    // per-array metadata work (array meta + surviving shards' index
    // tails) is independent round trips — one parMap wave, input order
    // kept so the task lists land (store, array)-sorted
    val perArray = ByteStore.parMap(arrays) { case (s, a) =>
      metaOf(s, a) match {
        case Right(m) if m.sharding.isDefined =>
          // prune at TWO granularities: whole shards whose box misses
          // never have their index tails READ, then surviving shards'
          // inner chunks task by task
          val shape = m.shape.map(_.toLong)
          val inner = innerShape(m)
          (Seq.empty[ChunkTask],
            shardInnerTasks(s, a, m, ci => prune.box(s, a, originOf(ci, m.chunks),
              m.chunks.map(_.toLong), shape))
              .filter(t => prune.box(s, a, innerOrigin(t, m, inner), inner.map(_.toLong), shape)))
        case m =>
          val (shape, chunks, _) = dimsOf(m)
          (chunkTasks(s, a, m).filter(t => prune.box(s, a, originOf(t.ci, chunks),
            chunks.map(_.toLong), shape.map(_.toLong))), Seq.empty[InnerTask])
      }
    }
    Seq(perArray.flatMap(_._1), perArray.flatMap(_._2))
  }

  // ---- decode -------------------------------------------------------------

  /** One chunk task as a [[Block]]. With `withValues` the chunk file is
    * read and decoded in one array-level pass (absent file: fill);
    * without it the chunk file is never opened, so projections without
    * `value` do metadata-proportional work. */
  private def chunkBlock(t: ChunkTask, meta: Either[Zarr.ArrayMeta, Zarr3.Meta],
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
      originOf(t.ci, chunks).toArray, chunks.toArray, values, fill)
  }

  /** ABSENT inner chunk (index sentinel or missing shard file)? */
  private def innerMissing(t: InnerTask): Boolean =
    t.offset == -1L && t.length == -1L

  /** A run of inner tasks sharing (store, dataset), ideally (shard,
    * offset)-ordered, as [[Block]]s in input order. With `withValues`
    * it segments by shard file, merges byte-adjacent windows
    * ([[MountDsv2.coalesceWindows]]) and issues one span read per group
    * — inner chunks are written back-to-back, so a whole shard
    * typically collapses to a single ranged read on an object store —
    * then decodes each inner chunk in one array-level pass. Absent
    * inner chunks read as fill without any read; without `withValues`
    * no shard byte is read at all. */
  private def innerBlocks(run: IndexedSeq[InnerTask], meta: Zarr3.Meta,
      withValues: Boolean, files: OpenFiles, stats: ReadStats): Iterator[Block] = {
    val sh = meta.sharding.getOrElse(fail("meta lost its sharding"))
    val shape = meta.shape.map(_.toLong).toArray
    val extent = sh.innerChunks.toArray
    def block(t: InnerTask, values: Array[Double]): Block =
      new Block(t.store, t.dataset, shape, innerOrigin(t, meta, sh.innerChunks).toArray,
        extent, values, meta.fill)
    if (!withValues) return run.iterator.map(block(_, null))
    MountDsv2.runs(run)(t =>
        if (innerMissing(t)) null else shardPath(t.store, t.dataset, meta, t.ci))
      .iterator.flatMap { seg =>
        if (innerMissing(seg.head)) seg.iterator.map(block(_, null))
        else {
          val shardFile = shardPath(seg.head.store, seg.head.dataset, meta, seg.head.ci)
          val h = files(shardFile)
          // subtraction form: offset + length can wrap past Long.MaxValue
          seg.foreach(t => require(t.offset >= 0 && t.length >= 0 &&
            t.offset <= h.length && t.length <= h.length - t.offset,
            s"inner window (${t.offset}, ${t.length}) outside $shardFile"))
          val windows = seg.map(t => (t.offset, t.length))
          MountDsv2.coalesceWindows(windows).iterator.flatMap { g =>
            val gStart = seg(g.start).offset
            val gEnd = g.map(i => seg(i).offset + seg(i).length).max
            val buf = files(shardFile).readFully(gStart, (gEnd - gStart).toInt)
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

  private[sources] def v3Meta(store: String, dataset: String): Zarr3.Meta =
    metaOf(store, dataset) match {
      case Right(m) => m
      case Left(_) => fail(s"$store/$dataset is zarr v2 but planned as shard-inner")
    }

  /** One partition's tasks as blocks: whole-chunk tasks reuse each
    * array's metadata across consecutive tasks; shard-inner tasks
    * arrive (shard, offset)-ordered and decode per (store, dataset) run
    * through [[innerBlocks]]. */
  private[sources] def decode(tasks: Seq[Task], withValues: Boolean,
      stats: ReadStats, files: OpenFiles): Iterator[Block] =
    tasks.headOption match {
      case Some(_: InnerTask) =>
        MountDsv2.runs(tasks.collect { case t: InnerTask => t })(t => (t.store, t.dataset))
          .iterator.flatMap { run =>
            innerBlocks(run, v3Meta(run.head.store, run.head.dataset), withValues, files, stats)
          }
      case _ =>
        var cached: ((String, String), Either[Zarr.ArrayMeta, Zarr3.Meta]) = null
        tasks.iterator.collect { case t: ChunkTask => t }.map { t =>
          if (cached == null || cached._1 != ((t.store, t.dataset)))
            cached = ((t.store, t.dataset), metaOf(t.store, t.dataset))
          chunkBlock(t, cached._2, withValues, stats)
        }
    }

  /** Every block of one array, values read — a driver-side coordinate
    * read ([[GridFormat.arrayValues]]). */
  private[sources] def arrayBlocks(store: String, name: String,
      files: OpenFiles): Iterator[Block] = {
    val stats = new ReadStats
    metaOf(store, name) match {
      case Right(m) if m.sharding.isDefined =>
        innerBlocks(shardInnerTasks(store, name, m).toIndexedSeq, m, withValues = true,
          files, stats)
      case m =>
        chunkTasks(store, name, m).iterator.map(chunkBlock(_, m, withValues = true, stats))
    }
  }
}
