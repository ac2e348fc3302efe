package graft.sources

import GridScan.{Block, OpenFiles, Prune, ReadStats, Task}

/** HDF5/netCDF-4's plan and decode for the grid scan ([[GridScan]]) —
  * the consolidated-store path.
  *
  * [[NetCDFIngest]] parallelizes per FILE (`binaryFile` -> whole-file
  * decode): right for archives of O(GB) granules (the reference's
  * world — one file per scene, utils/luigi.py:29-47), wrong for one
  * large consolidated store, whose whole-file decode would pin a
  * single task's memory and, past 2 GB, overflow a Java byte array.
  * The grid scan splits the read instead:
  *
  *  - plan (driver): [[PagedFileInput]] -> [[HDF5.manifest]] —
  *    superblock, object headers, chunk indexes. Touches only the
  *    pages metadata lives on (HDF5ChunkIngestSpec asserts the
  *    fraction), never chunk payloads, so a manifest of a store far
  *    bigger than driver memory stays cheap. Tasks are (path,
  *    offset)-sorted, so each partition's positioned reads advance
  *    monotonically through one file region;
  *  - decode (executors): byte-adjacent chunk windows coalesce into one
  *    positioned read per span ([[MountDsv2.coalesceWindows]]), so
  *    request counts track spans, not chunks, and each chunk defilters
  *    (deflate/shuffle/... are per-chunk by construction) and decodes in
  *    one primitive loop ([[HDF5.chunkValues]]).
  *
  * Executors open the file by path through the [[ByteStore]] seam:
  * plain paths read via java.io (local FS / NFS), scheme'd URIs
  * (`file://`/`hdfs://`/`s3a://`) via `org.apache.hadoop.fs` — object
  * stores mount directly, no fuse layer needed.
  */
object HDF5ChunkIngest extends GridScan.Codec {

  /** One decode task: a chunk plus everything needed to decode it with
    * no further metadata access. */
  final case class ChunkTask(
      path: String, dataset: String, dims: Seq[Long], chunkDims: Seq[Int],
      dtClass: Int, dtSize: Int, bigEndian: Boolean, signedInt: Boolean,
      filters: Seq[HDF5.H5Filter],
      origin: Seq[Long], offset: Long, nbytes: Long) extends Task {
    def variable: HDF5.H5Var = HDF5.H5Var(dataset, dims, chunkDims, dtClass,
      dtSize, bigEndian, filters, signedInt)
  }

  /** Metadata-only chunk map of the datasets `wanted(path, dataset)`
    * keeps in every HDF5 file in `paths`; the others' chunk indexes are
    * never walked. Driver-side work is proportional to metadata size,
    * not file size, and per-file manifests walk in one
    * [[ByteStore.parMap]] wave — plan-time latency on an object store
    * is ~one file's metadata round trips, not file-count × RTT. Order
    * stays path-sorted. */
  def chunkTasks(paths: Seq[String],
      wanted: (String, String) => Boolean = (_, _) => true): Seq[ChunkTask] =
    ByteStore.parMap(paths.sorted) { p =>
      val in = new PagedFileInput(p)
      try HDF5.manifest(in, wanted(p, _))
        .flatMap { case (v, refs) =>
          refs.map(r => ChunkTask(p, v.name, v.dims, v.chunkDims, v.dtClass,
            v.dtSize, v.bigEndian, v.signedInt, v.filters,
            r.origin, r.offset, r.nbytes))
        }
      finally in.close()
    }.flatten

  /** Resolve a file-or-`dir/STAR.h5`-style glob; scheme'd URIs go
    * through Hadoop globStatus (see [[ByteStore.resolveGlob]]). */
  def resolvePaths(pathGlob: String): Seq[String] =
    ByteStore.resolveGlob(pathGlob)

  /** The mount's chunk tasks: files the pushed filters exclude never
    * have their manifest read, datasets they exclude never have their
    * chunk index walked; chunks prune on their box. */
  private[sources] def plan(path: String, options: Map[String, String],
      prune: Prune): Seq[Seq[Task]] = {
    val paths = resolvePaths(path).filter(prune.store)
    Seq(chunkTasks(paths, prune.variable)
      .filter(t => prune.box(t.path, t.dataset, t.origin, t.chunkDims.map(_.toLong), t.dims))
      .sortBy(t => (t.path, t.offset)))
  }

  private def block(t: ChunkTask, values: Array[Double]): Block =
    new Block(t.path, t.dataset, t.dims.toArray, t.origin.toArray,
      t.chunkDims.toArray, values, 0.0)

  /** One partition's (path, offset)-sorted tasks as blocks. With
    * `withValues` each file's run coalesces byte-adjacent chunk windows
    * into ONE positioned read per span (one GET per span instead of per
    * chunk on an object store; the span cap bounds the buffer); without
    * it no chunk byte is read. */
  private[sources] def decode(tasks: Seq[Task], withValues: Boolean,
      stats: ReadStats, files: OpenFiles): Iterator[Block] = {
    val chunks = tasks.collect { case t: ChunkTask => t }
    if (!withValues) return chunks.iterator.map(block(_, null))
    MountDsv2.runs(chunks)(_.path).iterator.flatMap { run =>
      val windows = run.map(t => (t.offset, t.nbytes))
      MountDsv2.coalesceWindows(windows).iterator.flatMap { g =>
        val gStart = run(g.start).offset
        val gEnd = g.map(i => run(i).offset + run(i).nbytes).max
        val buf = files(run.head.path).readFully(gStart, (gEnd - gStart).toInt)
        stats.bytes += buf.length
        g.iterator.map { i =>
          val t = run(i)
          stats.chunks += 1
          block(t, HDF5.chunkValues(java.util.Arrays.copyOfRange(buf,
            (t.offset - gStart).toInt, (t.offset - gStart + t.nbytes).toInt), t.variable))
        }
      }
    }
  }

  /** Every block of one dataset, values read — a driver-side coordinate
    * read ([[GridFormat.arrayValues]]). */
  private[sources] def arrayBlocks(path: String, name: String,
      files: OpenFiles): Iterator[Block] = {
    val tasks = chunkTasks(Seq(path), (_, d) => d == name).sortBy(_.offset)
    if (tasks.isEmpty)
      throw new IllegalArgumentException(s"coord crop: no dataset '$name' in $path")
    decode(tasks, withValues = true, new ReadStats, files)
  }
}
