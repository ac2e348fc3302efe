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
  * the netCDF-3 header's dimension table, HDF5's netCDF-4 dimension
  * scales (`DIMENSION_LIST`). An HDF5 file without dimension scales
  * takes the caller's dimension→coord-dataset mapping explicitly (the
  * dimension-scale convention, minus the attribute plumbing).
  * [[GridOpen]] crops from the coordinates its axes read already holds;
  * [[crop]] is the same crop over the raw mount rows. Exactness never
  * depends on the mapping:
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

  /** The `dataset` rows of the `format` mount at ONE `store`, cropped to
    * the named coordinate-value `bounds` (inclusive). Each bound becomes
    * a pushable `dK` range, so only box-intersecting chunks PLAN (a
    * netCDF-3 record-dimension bound prunes record batches; trailing-dim
    * bounds stay residual-exact over the record slabs). The axes are the
    * variable's own dimension names ([[GridFormat.dimNames]]) unless
    * `dims` names axis k's 1-D coordinate variable explicitly — the
    * dimension-scale convention for HDF5 files without DIMENSION_LIST.
    * Unlike [[GridOpen.open]], the rows stay the raw mount's: no named
    * axes, no mask-and-scale. */
  def crop(spark: SparkSession, format: GridFormat, store: String, dataset: String,
      bounds: Map[String, (Double, Double)], dims: Seq[String] = Nil): DataFrame = {
    val names = if (dims.nonEmpty) dims else format.dimNames(store, dataset)
    val base = format.reader(spark).option("path", store).load()
      .where(col("dataset") === dataset)
    // parMap: each bound dim costs its coordinate variable's reads
    ByteStore.parMap(bounds.toSeq.sortBy(_._1)) { case (name, b) =>
      val k = names.indexOf(name)
      checkDim(k, name, names)
      (k, format.arrayValues(store, name), b)
    }.foldLeft(base) { case (df, (k, coords, b)) => df.where(dimPredicate(k, coords, b)) }
  }

  // ---- dimension names ---------------------------------------------------

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

  /** A netCDF-3 variable's dimension names from the header; a bounded
    * name must also be a 1-D coordinate variable over its dimension. */
  private[sources] def nc3DimNames(path: String, varName: String): Seq[String] = {
    val h = NetCDF3ChunkIngest.headerOf(path)
    val v = h.vars.find(_.name == varName)
      .getOrElse(fail(s"variable '$varName' not in $path"))
    v.dimIds.map { id =>
      val n = h.dims(id).name
      if (h.vars.exists(cv => cv.name == n && cv.dimIds == Seq(id))) n
      else s"<no coordinate variable '$n'>"
    }
  }

  /** The HDF5 dataset's axes from its netCDF-4 dimension scales: the
    * dataset's `DIMENSION_LIST` attribute names the 1-D coordinate
    * datasets per axis (what xarray surfaces as the variable's dims —
    * the reference's netCDF-4 open path). Fails loudly when the variable
    * carries no DIMENSION_LIST. */
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
