package graft.sources

import GridScan.{Block, OpenFiles, Prune, ReadStats, Task}

/** netCDF classic's plan and decode for the grid scan ([[GridScan]]) —
  * the consolidated record-file path. A multi-year LES/ERA5 store
  * concatenated along the unlimited dimension is ONE file whose record
  * offsets are closed-form (record r of variable v starts at v.begin +
  * r·recordStride), so there is no reason to decode it whole-file per
  * task:
  *
  *  - plan (driver): header-only parse — a bounded prefix read, KB of
  *    metadata regardless of data volume — yields record-batch tasks
  *    (path, var, recStart, nRecs) sized to `targetBytes`, narrowed to
  *    the pushed record window;
  *  - decode (executors): positioned reads — one file handle per (path,
  *    partition), byte-monotone access, peak memory one record batch.
  */
object NetCDF3ChunkIngest extends GridScan.Codec {

  /** `dims` is the variable's full shape (record dimension included,
    * as its CURRENT record count). A record task is the box (recStart,
    * 0, …) × (nRecs, dims.tail); a non-record variable's single task
    * (stride 0) is its whole shape. */
  final case class RecordTask(
      path: String, dataset: String, ncType: Int,
      begin: Long, stride: Long, perRec: Int,
      recStart: Int, nRecs: Int, dims: Seq[Long]) extends Task {
    def origin: Seq[Long] =
      if (stride == 0L) Seq.fill(dims.size)(0L)
      else recStart.toLong +: Seq.fill(dims.size - 1)(0L)
    def extent: Seq[Long] = if (stride == 0L) dims else nRecs.toLong +: dims.drop(1)
  }

  /** Header-only parse: read a growing prefix until the header parses
    * (the classic header is self-delimiting; data begins after it). */
  def headerOf(path: String): NetCDF3.Header = {
    val f = ByteStore.open(path)
    try {
      var n = 8192
      while (true) {
        val take = math.min(n.toLong, f.length).toInt
        val buf = f.readFully(0L, take)
        try return NetCDF3.readHeader(buf)
        catch {
          case _: java.nio.BufferUnderflowException | _: IndexOutOfBoundsException
              if take < f.length => n *= 4
        }
      }
      sys.error("unreachable")
    } finally f.close()
  }

  /** Record-batch tasks for `varName` in file `p`, built from its
    * header `h` ([[headerOf]]) with no further I/O. A non-record
    * variable becomes a single whole-slab task (stride 0). */
  def recordTasks(p: String, h: NetCDF3.Header, varName: String,
      targetBytes: Long = 4L << 20): Seq[RecordTask] = {
    val v = h.vars.find(_.name == varName).getOrElse(
      throw new IllegalArgumentException(
        s"Requested variable `$varName` not found in datafile $p"))
    val shape = NetCDF3.shapeOf(h, v)
    val isRec = v.dimIds.headOption.exists(h.dims(_).isRecord)
    if (!isRec) {
      val total = shape.map(_.toLong).product
      // the whole slab reads as ONE byte buffer: bound the BYTES, not
      // just the element count (total * 8 for doubles must fit an Int)
      require(total * NetCDF3.typeSize(v.ncType) <= Int.MaxValue - 8,
        s"${v.name} too large for one slab")
      Seq(RecordTask(p, v.name, v.ncType, v.begin, 0L, total.toInt, 0, 1,
        shape.map(_.toLong)))
    } else {
      val perRec = shape.drop(1).map(_.toLong).product
      // one record's slab reads as one buffer: bound its BYTES
      require(perRec * NetCDF3.typeSize(v.ncType) <= Int.MaxValue - 8,
        s"${v.name} record too large")
      val stride = NetCDF3.recordStrideOf(h)
      val recBytes = math.max(1L, perRec * NetCDF3.typeSize(v.ncType))
      val recsPerTask = math.max(1L, targetBytes / recBytes).toInt
      (0 until h.numRecs by recsPerTask).map { r0 =>
        RecordTask(p, v.name, v.ncType, v.begin, stride, perRec.toInt,
          r0, math.min(recsPerTask, h.numRecs - r0), shape.map(_.toLong))
      }
    }
  }

  /** The mount's record tasks: files the pushed filters exclude never
    * have their header read, the others read it once; record batches
    * prune on their box and narrow to the pushed record window. */
  private[sources] def plan(path: String, options: Map[String, String],
      prune: Prune): Seq[Seq[Task]] = {
    val targetBytes = options.get("targetBytes").map(_.toLong).getOrElse(4L << 20)
    val paths = HDF5ChunkIngest.resolvePaths(path).filter(prune.store)
    Seq(paths.flatMap { p =>
      val h = headerOf(p)
      h.vars.map(_.name).filter(prune.variable(p, _))
        .flatMap(v => recordTasks(p, h, v, targetBytes))
    }.filter(t => prune.box(t.path, t.dataset, t.origin, t.extent, t.dims))
      .map(narrow(_, prune))
      .sortBy(t => (t.path, t.begin, t.recStart)))
  }

  /** NARROW a surviving record batch to the pushed d0 / idx window:
    * record r is exactly d0 = r and idx [r*perRec, (r+1)*perRec), so
    * out-of-window records inside an intersecting batch are never read —
    * a 4-of-64-record crop issues a 4-record ranged GET, not the batch's
    * span (S3FsSpec pins the byte counts). The store's hull narrows the
    * window too, and tree-shaped (per-store disjunction) crops narrow
    * through THIS file's d0/idx hull in the tree (colHull — each store's
    * branch yields exactly its pushed range); every filter remains
    * residual either way. */
  private def narrow(t: RecordTask, prune: Prune): RecordTask =
    if (t.stride == 0L) t
    else {
      val d0 = prune.dimRanges(t.path)(0)
      var lo = math.max(math.max(t.recStart.toLong, d0.lo),
        Math.floorDiv(prune.range.lo, t.perRec.toLong))
      var hi = math.min(math.min(t.recStart.toLong + t.nRecs - 1, d0.hi),
        Math.floorDiv(prune.range.hi, t.perRec.toLong))
      prune.trees.foreach { tr =>
        MountDsv2.colHull(tr, "d0", t.path, t.dataset).foreach { h =>
          lo = math.max(lo, h.lo); hi = math.min(hi, h.hi)
        }
        MountDsv2.colHull(tr, "idx", t.path, t.dataset).foreach { h =>
          lo = math.max(lo, Math.floorDiv(h.lo, t.perRec.toLong))
          hi = math.min(hi, Math.floorDiv(h.hi, t.perRec.toLong))
        }
      }
      // the batch survived the box test, so the window is non-empty;
      // clamp defensively anyway
      if (lo <= hi && (lo > t.recStart || hi < t.recStart + t.nRecs - 1))
        t.copy(recStart = lo.toInt, nRecs = (hi - lo + 1).toInt)
      else t
    }

  /** One task as a [[Block]], its values read through `in` (null: an
    * index-only read, no payload byte is read). The per-record
    * positioned reads coalesce into ONE span read when the task's
    * variable owns at least HALF the record stride (records of one
    * variable are interleaved with every other record variable's, so an
    * unconditional span read could fetch mostly junk; at >= 1/2 the junk
    * is bounded by the useful bytes, and one request replaces nRecs —
    * the object-store arithmetic of MountDsv2.coalesceWindows applied to
    * the classic format's strided layout). */
  private def taskBlock(t: RecordTask, in: ByteStore.ReadAt, stats: ReadStats): Block = {
    val values =
      if (in == null) null
      else {
        val elemSize = NetCDF3.typeSize(t.ncType)
        val perRecBytes = t.perRec.toLong * elemSize
        val span =
          if (t.nRecs <= 1 || t.stride <= 0L) -1L
          else (t.nRecs - 1).toLong * t.stride + perRecBytes
        val out = new Array[Double](t.nRecs * t.perRec)
        if (span > 0 && 2 * perRecBytes >= t.stride && span <= Int.MaxValue - 8) {
          val buf = in.readFully(t.begin + t.recStart * t.stride, span.toInt)
          stats.bytes += buf.length
          var r = 0
          while (r < t.nRecs) {
            NetCDF3.decodeSlabInto(buf, (r.toLong * t.stride).toInt, t.ncType, t.perRec,
              out, r * t.perRec)
            r += 1
          }
        } else {
          var r = 0
          while (r < t.nRecs) {
            val raw = in.readFully(t.begin + (t.recStart + r) * t.stride, perRecBytes.toInt)
            stats.bytes += raw.length
            NetCDF3.decodeSlabInto(raw, 0, t.ncType, t.perRec, out, r * t.perRec)
            r += 1
          }
        }
        stats.chunks += 1
        out
      }
    new Block(t.path, t.dataset, t.dims.toArray, t.origin.toArray,
      t.extent.map(_.toInt).toArray, values, 0.0)
  }

  /** One partition's tasks as blocks, in task order. */
  private[sources] def decode(tasks: Seq[Task], withValues: Boolean,
      stats: ReadStats, files: OpenFiles): Iterator[Block] =
    tasks.iterator.collect { case t: RecordTask => t }.map(t =>
      taskBlock(t, if (withValues) files(t.path) else null, stats))

  /** Every block of one variable, values read — a driver-side coordinate
    * read ([[GridFormat.arrayValues]]); record-dimension coordinate
    * variables' strided slabs read correctly and coalesced. */
  private[sources] def arrayBlocks(path: String, name: String,
      files: OpenFiles): Iterator[Block] =
    decode(recordTasks(path, headerOf(path), name), withValues = true, new ReadStats,
      files)
}
