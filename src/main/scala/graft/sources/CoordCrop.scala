package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Coordinate-VALUE bbox crop over the gridded mounts — the reference's
  * actual spatial-crop semantics (convml-data pipeline/sampling.py:75-173
  * slices by lat/lon VALUES, not array indexes) lifted to mount level.
  *
  * The mounts prune chunks on per-dimension INDEX predicates (`dK
  * BETWEEN ...`, [[MountDsv2.boxKeep]]). A user, though, crops by
  * coordinate values (`y between 300.0 and 600.0` in grid units). This
  * helper closes that gap at PLAN time: it reads the store's 1-D
  * coordinate arrays driver-side (KB-scale — same cost class as the
  * metadata walk), maps each value range to the covered index range by
  * monotonic interval location, and returns the mount DataFrame with
  * the equivalent pushable `dK` range predicates applied — so a value
  * bbox on a 100 TB store plans only its chunks, exactly like an index
  * bbox. Monotonic coordinates are required (ascending or descending —
  * the xarray `.sel(slice)` contract); non-monotonic coords fail loudly
  * rather than mis-crop.
  *
  * Dimension names come from the store's own metadata: zarr v3
  * `dimension_names`, zarr v2 xarray `_ARRAY_DIMENSIONS` in `.zattrs`,
  * the netCDF-3 header's dimension table. HDF5 carries no names our
  * writer emits, so its variant takes the caller's dimension→coord-
  * dataset mapping explicitly (the dimension-scale convention, minus
  * the attribute plumbing). Exactness never depends on the mapping:
  * every predicate this helper adds is a normal residual-checked
  * filter — a wrong coord array can only change which rows SURVIVE,
  * identically in plan prune and residual re-check.
  */
object CoordCrop {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"coord crop: $msg")

  /** Inclusive index range of the monotonic `coords` whose values fall
    * in [lo, hi]; None when no value does. Ascending or descending;
    * non-monotonic input fails. Pure — the unit the specs pin. */
  private[sources] def valueRangeToIdx(coords: Array[Double], lo: Double,
      hi: Double): Option[(Int, Int)] = {
    if (coords.isEmpty) return None
    if (lo > hi) return None
    val asc = coords.last >= coords.head
    var i = 1
    while (i < coords.length) {
      if (if (asc) coords(i) < coords(i - 1) else coords(i) > coords(i - 1))
        fail(s"coordinate array is not monotonic at index $i " +
          s"(${coords(i - 1)} then ${coords(i)})")
      i += 1
    }
    val first = if (asc) coords.indexWhere(_ >= lo) else coords.indexWhere(_ <= hi)
    val last = if (asc) coords.lastIndexWhere(_ <= hi) else coords.lastIndexWhere(_ >= lo)
    if (first < 0 || last < 0 || first > last) None else Some((first, last))
  }

  /** The pushable predicate for value range (lo, hi) on dimension `k`
    * — [[GridOpen]]'s multi-variable open shares it. */
  private[sources] def dimRangePredicate(k: Int, coords: Array[Double],
      lo: Double, hi: Double): Column = dimPredicate(k, coords, (lo, hi))

  /** The pushable predicate for value range `b` on dimension `k`, given
    * that dimension's coordinate values. */
  private def dimPredicate(k: Int, coords: Array[Double],
      b: (Double, Double)): Column =
    valueRangeToIdx(coords, b._1, b._2) match {
      case Some((i0, i1)) => col(MountDsv2.DimCols(k)).between(i0, i1)
      case None => lit(false) // provably empty: Catalyst folds the scan away
    }

  private def checkDim(k: Int, name: String, dims: Seq[String]): Unit = {
    if (k < 0) fail(s"dimension '$name' not among $dims")
    if (k >= MountDsv2.DimCols.length)
      fail(s"dimension '$name' is axis $k — the mounts expose " +
        s"${MountDsv2.DimCols.mkString("/")} only")
  }

  // ---- zarr --------------------------------------------------------------

  /** The array's dimension names: v3 `dimension_names`, v2 xarray
    * `_ARRAY_DIMENSIONS` from `.zattrs`. */
  private[sources] def zarrDimNames(store: String, dataset: String): Seq[String] =
    ZarrChunkIngest.metaOf(store, dataset) match {
      case Right(m) =>
        if (m.dimNames.isEmpty)
          fail(s"$store/$dataset (zarr v3) has no dimension_names")
        m.dimNames
      case Left(_) =>
        val zattrs = ByteStore.join(ByteStore.join(store, dataset), ".zattrs")
        if (!ByteStore.isFile(zattrs))
          fail(s"$store/$dataset (zarr v2) has no .zattrs for _ARRAY_DIMENSIONS")
        import org.json4s._
        (org.json4s.jackson.JsonMethods.parse(ByteStore.readString(zattrs))
            \ "_ARRAY_DIMENSIONS") match {
          case JArray(vs) => vs.map {
            case JString(s) => s
            case other => fail(s"_ARRAY_DIMENSIONS entry $other invalid")
          }
          case _ => fail(s"$store/$dataset .zattrs lacks _ARRAY_DIMENSIONS")
        }
    }

  /** One zarr array's full values in global C order, absent chunks as
    * fill, read driver-side (the 1-D coordinate arrays this serves are
    * KB-scale): each chunk's block is copied into place run by run. */
  private[sources] def zarrArrayValues(store: String, name: String): Array[Double] = {
    import ZarrChunkIngest._
    val meta = metaOf(store, name)
    val (shape, _, fill) = dimsOf(meta)
    val out = Array.fill(shape.product)(fill)
    def scatter(b: Block): Unit = if (b.values != null)
      foreachRun(b)((k0, g0, _, len) => System.arraycopy(b.values, k0, out, g0.toInt, len))
    val stats = new ReadStats
    meta match {
      case Right(m) if m.sharding.isDefined =>
        val handles = scala.collection.mutable.Map.empty[String, ByteStore.ReadAt]
        try innerBlocks(shardInnerTasks(store, name).toIndexedSeq, m, withValues = true,
            p => handles.getOrElseUpdate(p, ByteStore.open(p)), stats).foreach(scatter)
        finally handles.values.foreach(_.close())
      case m =>
        chunkTasks(store, name).foreach(t => scatter(chunkBlock(t, m, withValues = true, stats)))
    }
    out
  }

  /** The `dataset` rows of the zarr mount at `store`, cropped to the
    * named coordinate-value `bounds` (inclusive). Each bound becomes a
    * pushable `dK` range, so only box-intersecting chunks PLAN. */
  def zarr(spark: SparkSession, store: String, dataset: String,
      bounds: Map[String, (Double, Double)]): DataFrame = {
    val dims = zarrDimNames(store, dataset)
    var df = spark.read.format("graft.sources.ZarrDataSource")
      .option("path", store).load()
      .where(col("dataset") === dataset)
    // parMap: each bound dim costs a meta read + a coord-chunk read
    val preds = ByteStore.parMap(bounds.toSeq.sortBy(_._1)) { case (name, b) =>
      val k = dims.indexOf(name)
      checkDim(k, name, dims)
      (k, zarrArrayValues(store, name), b)
    }
    preds.foreach { case (k, coords, b) =>
      df = df.where(dimPredicate(k, coords, b))
    }
    df
  }

  // ---- netCDF-3 ----------------------------------------------------------

  /** One netCDF-3 variable's full values, idx-ordered, read driver-side
    * through the record-task machinery (so record-dim coordinate
    * variables' strided slabs read correctly and coalesced). */
  private[sources] def nc3VarValues(path: String, name: String): Array[Double] = {
    val tasks = NetCDF3ChunkIngest.recordTasks(Seq(path), name)
    val in = ByteStore.open(path)
    try tasks.iterator.flatMap(t => NetCDF3ChunkIngest.taskValues(t, in))
      .toArray.sortBy(_._1).map(_._2)
    finally in.close()
  }

  /** The `varName` rows of the netCDF-3 mount at `path` (ONE store — the
    * classic-format header names the dims), cropped to coordinate-value
    * `bounds`. The record-dimension bound prunes record batches at plan
    * time; trailing-dim bounds push as `dK` ranges (residual-exact
    * always, pruning where the mount's record slabs allow). */
  def netcdf3(spark: SparkSession, path: String, varName: String,
      bounds: Map[String, (Double, Double)]): DataFrame = {
    val h = NetCDF3ChunkIngest.headerOf(path)
    val v = h.vars.find(_.name == varName)
      .getOrElse(fail(s"variable '$varName' not in $path"))
    val dims = v.dimIds.map(h.dims(_).name)
    var df = spark.read.format("graft.sources.NetCDF3DataSource")
      .option("path", path).load()
      .where(col("dataset") === varName)
    val preds = ByteStore.parMap(bounds.toSeq.sortBy(_._1)) { case (name, b) =>
      val k = dims.indexOf(name)
      checkDim(k, name, dims)
      if (!h.vars.exists(cv => cv.name == name && cv.dimIds == Seq(v.dimIds(k))))
        fail(s"no 1-D coordinate variable '$name' in $path")
      (k, nc3VarValues(path, name), b)
    }
    preds.foreach { case (k, coords, b) =>
      df = df.where(dimPredicate(k, coords, b))
    }
    df
  }

  // ---- HDF5 --------------------------------------------------------------

  /** One 1-D HDF5 dataset's full values, idx-ordered, read driver-side
    * from its chunk manifest. */
  private[sources] def hdf5DatasetValues(path: String, name: String): Array[Double] = {
    val tasks = HDF5ChunkIngest.chunkTasks(Seq(path), Some(name))
    if (tasks.isEmpty) fail(s"no dataset '$name' in $path")
    val in = ByteStore.open(path)
    try tasks.iterator.flatMap { t =>
      val v = HDF5.H5Var(t.dataset, t.dims, t.chunkDims, t.dtClass, t.dtSize,
        t.bigEndian, t.filters, t.signedInt)
      HDF5.decodeChunk(in.readFully(t.offset, t.nbytes.toInt), v, t.origin)
    }.toArray.sortBy(_._1).map(_._2)
    finally in.close()
  }

  /** The `dataset` rows of the HDF5 mount at `path`, cropped to
    * coordinate-value `bounds`. HDF5 stores don't carry dimension names
    * our decoder surfaces, so `dims` is the caller's axis→coordinate-
    * dataset mapping (dimension-scale convention): `dims(k)` names the
    * 1-D dataset holding axis k's coordinates. */
  def hdf5(spark: SparkSession, path: String, dataset: String,
      dims: Seq[String], bounds: Map[String, (Double, Double)]): DataFrame = {
    var df = spark.read.format("graft.sources.Hdf5DataSource")
      .option("path", path).load()
      .where(col("dataset") === dataset)
    val preds = ByteStore.parMap(bounds.toSeq.sortBy(_._1)) { case (name, b) =>
      val k = dims.indexOf(name)
      checkDim(k, name, dims)
      (k, hdf5DatasetValues(path, name), b)
    }
    preds.foreach { case (k, coords, b) =>
      df = df.where(dimPredicate(k, coords, b))
    }
    df
  }

  /** [[hdf5]] with the axis mapping discovered from the file's own
    * netCDF-4 dimension scales: the dataset's `DIMENSION_LIST`
    * attribute names the 1-D coordinate datasets per axis (what xarray
    * surfaces as the variable's dims — the reference's netCDF-4 open
    * path). Fails loudly when the variable carries no DIMENSION_LIST
    * or a bounded axis has no attached scale. */
  def hdf5Netcdf4(spark: SparkSession, path: String, dataset: String,
      bounds: Map[String, (Double, Double)]): DataFrame = {
    val dims = hdf5DimNames(path, dataset)
    hdf5(spark, path, dataset, dims, bounds)
  }

  private[sources] def hdf5DimNames(path: String, dataset: String): Seq[String] = {
    val in = new PagedFileInput(path)
    val dimNames = try {
      HDF5.dimensionNames(in).getOrElse(dataset,
        fail(s"dataset '$dataset' in $path has no DIMENSION_LIST attribute"))
    } finally in.close()
    dimNames.zipWithIndex.map { case (n, k) =>
      // an unnamed axis can't be bounded by name; a placeholder keeps
      // the axis positions aligned and trips checkDim only if targeted
      n.getOrElse(s"<unnamed axis $k>")
    }
  }

  // ---- Catalog (dir-of-stores) crop predicate ----------------------------
  //
  // The reference's unit of organization is a CATALOG of per-scene
  // stores (convml-data pipeline/utils.py:51-77 fans one store per
  // scene; utils/luigi.py:29-47 opens them one file at a time). A
  // time-interval + bbox query over such a catalog must prune whole
  // STORES at plan time: [[GridOpen.catalog]] reads each store's
  // KB-scale coordinate metadata in one parMap latency wave, drops
  // stores whose coordinate ranges provably miss the bounds, and
  // pushes each survivor's own per-dimension index ranges. The whole
  // decision lands as ONE disjunction
  //     (path = s1 AND dK BETWEEN ...) OR (path = s2 AND ...)
  // which the mounts prune on at store, array, and chunk granularity
  // ([[MountDsv2.mayMatch]]) and Spark re-checks residually on every
  // row — per-store VALUE-crop semantics (each scene's own grid), with
  // excluded stores' data never read.

  /** Balanced OR of the branch columns: a left-deep `reduce(_ || _)`
    * builds an expression tree as DEEP as the surviving-store count,
    * and Catalyst's recursive converters stack-overflow near ~1,000
    * branches — a 10,000-scene catalog with a broad crop is exactly
    * that shape. Balancing keeps depth at log2(branches). */
  private def balancedOr(cols: IndexedSeq[Column]): Column =
    if (cols.length == 1) cols.head
    else {
      val (a, b) = cols.splitAt(cols.length / 2)
      balancedOr(a) || balancedOr(b)
    }

  /** Resolved per-store crop: each bounded axis's inclusive index
    * range inside that store. */
  private[sources] def catalogPredicate(
      perStore: Seq[(String, Seq[(Int, (Int, Int))])]): Column =
    perStore match {
      case Seq() => lit(false) // no store intersects: provably empty
      case ss => balancedOr(ss.toIndexedSeq.map { case (s, rs) =>
        rs.foldLeft(col("path") === s) { case (acc, (k, (i0, i1))) =>
          acc && col(MountDsv2.DimCols(k)) >= i0.toLong &&
            col(MountDsv2.DimCols(k)) <= i1.toLong
        }
      })
    }

  /** A bare directory means every file in it; anything else passes
    * through as the glob/file the mounts already accept. This is the
    * pattern a file mount must be given, so its planned `path` strings
    * match the crop predicate's. */
  private[sources] def catalogGlob(dirOrGlob: String): String =
    if (ByteStore.isDirectory(dirOrGlob)) ByteStore.join(dirOrGlob, "*")
    else dirOrGlob

  /** The resolved per-scene files of a file-based catalog (what the
    * file mounts will plan over) — [[GridFormat]]'s store list. */
  private[sources] def catalogFiles(dirOrGlob: String): Seq[String] = {
    val paths = HDF5ChunkIngest.resolvePaths(catalogGlob(dirOrGlob))
    require(paths.nonEmpty, s"coord crop: no files under $dirOrGlob")
    paths
  }
}
