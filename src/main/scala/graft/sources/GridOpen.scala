package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Turnkey gridded open — the `xr.open_dataset` shape the reference's
  * every flow calls first (convml-data utils/luigi.py:29-47 opens a
  * store, decodes CF conventions, and hands back named, value-typed
  * coordinates). The pieces exist separately in this repo (dimension
  * names, [[CoordCrop]] value crops, [[CfDecode]] mask-and-scale,
  * [[CfTime]]/[[CfCalendar]] axes); this composes them into ONE call
  * per shape, the storage format a [[GridFormat]] value:
  *
  *   GridOpen.open(spark, GridFormat.Zarr, store, "lwp",
  *     timeBounds = Map("time" -> ("2020-01-01", "2020-01-02")),
  *     bounds = Map("y" -> (300.0, 600.0)))
  *
  * returns a DataFrame with one row per kept element and columns
  * `(path, idx, <dim name per axis>, value)` where
  *  - every bound pushed to the scan as `dK` index ranges (chunks that
  *    miss the crop never PLAN — the mounts' bbox machinery),
  *  - each named axis is its coordinate VALUE (DOUBLE); a CF time axis
  *    decodes by its own `calendar`: standard/absent -> TIMESTAMP,
  *    fixed-length model calendars (360_day/noleap/all_leap) ->
  *    calendar-datetime STRING (cftime's model: 2000-02-30 is not a
  *    Gregorian instant), anything else refuses loudly,
  *  - an axis with no coordinate array keeps its index (LONG),
  *  - `value` is mask-and-scale decoded from the store's own attrs.
  *
  * Everything stays inside whole-stage codegen: affine axes decode as
  * arithmetic on the mount's `dK` column; irregular and calendar axes
  * as a `try_element_at` over a literal array (KB-scale coords, the 1M
  * guard of [[CfTime.timestampFromValues]]).
  *
  * The shapes: [[open]] and [[openVars]] read one store; [[catalog]]
  * and [[varsCatalog]] lift the same shape over a DIR of per-scene
  * stores (the reference's catalog layout): store-level pruning via
  * the pushed per-store disjunction, then per-store coordinate decode
  * via BROADCAST joins on (path, dK) — per-store epochs, calendars and
  * grids compose without per-store expression trees, so a 5,000-scene
  * catalog plans one scan + K tiny broadcast joins. Pack attrs fold as
  * the literal codegen'd expression when uniform and broadcast per
  * store when granules carry their own scales.
  *
  * The `*FromManifest` shapes plan the SAME opens from a persisted
  * [[CatalogManifest]] (the reference's scene DB), whose `format`
  * column names the [[GridFormat]]: ZERO per-store metadata reads per
  * query, explicit member lists to the mounts (no discovery walk), and
  * a survivor-only staleness guard (excluded stores are never
  * re-checked — see [[catalogFromManifest]] for the blind spot that
  * buys). The `materialize*` shapes write catalog slices as scene-
  * partitioned parquet tables under the luigi skip-if-present
  * contract — missing scenes only, dynamic partition overwrite,
  * idempotent retries.
  */
object GridOpen {

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"grid open: $msg")

  /** How one axis decodes. */
  sealed trait AxisTime
  /** Not a time axis (no units, or units that aren't time offsets). */
  case object NotTime extends AxisTime
  /** Standard-calendar CF time: decodes to TIMESTAMP. */
  final case class GregTime(units: String) extends AxisTime
  /** Fixed-length model calendar: decodes to a calendar-datetime
    * STRING through [[CfCalendar]]. */
  final case class CalTime(units: String, calendar: String) extends AxisTime

  /** One axis of a dataset: its position, name, coordinate values
    * (None = no coordinate variable), and its time classification. */
  final case class Axis(k: Int, name: String, coords: Option[Array[Double]],
      time: AxisTime)

  /** Classify an axis's (units, calendar) attrs. Units outside the
    * "<step> since <instant>" grammar = a plain numeric coordinate
    * (e.g. `units: "m"`); units INSIDE the grammar with an unsupported
    * step ("months since ...", "years since ...") refuse loudly rather
    * than silently decoding as plain numbers (cftime raises on
    * variable-length steps); a time-shaped units with an unsupported
    * calendar refuses loudly. */
  private def classify(units: Option[String], calendar: Option[String],
      where: String): AxisTime =
    units.filter(CfTime.looksLikeTimeUnits) match {
      case None => NotTime
      case Some(u) =>
        CfTime.splitUnits(u) // throws with the step name on month/year/typo'd steps
        if (CfTime.isStandardCalendar(calendar)) GregTime(u)
        else if (CfCalendar.supported(calendar.get)) CalTime(u, calendar.get)
        else fail(s"$where uses calendar '${calendar.get}' — not standard, " +
          "not a fixed-length model calendar")
    }

  /** The mounts expose [[MountDsv2.DimCols]] positions only; a rank
    * beyond that cannot be named, cropped, or decoded by this surface —
    * refuse with the domain message instead of an index error. */
  private[sources] def checkRank(rank: Int, where: String): Unit =
    if (rank > MountDsv2.DimCols.length)
      fail(s"$where has rank $rank — the grid open surfaces " +
        s"${MountDsv2.DimCols.mkString("/")} only; read the mount " +
        "directly for higher-rank arrays")

  /** NaN-tolerant coordinate equality: a grid with a NaN coordinate
    * (a masked cell in a curvilinear axis) still equals itself —
    * `sameElements`' IEEE `==` would make a homogeneous catalog fall
    * off the codegen fast path onto broadcast joins, and a multi-
    * variable open refuse as "not on the shared grid". */
  private[sources] def coordsEq(a: Option[Array[Double]],
      b: Option[Array[Double]]): Boolean = (a, b) match {
    case (Some(x), Some(y)) => (x eq y) || (x.length == y.length &&
      x.indices.forall(i => x(i) == y(i) || (x(i).isNaN && y(i).isNaN)))
    case (None, None) => true
    case _ => false
  }

  // ---- per-store axis discovery (driver-side, KB-scale metadata) ---------

  /** One axis in UNCLASSIFIED form — exactly what a store's metadata
    * says (raw `units`/`calendar` attrs), with no decode decision
    * baked in. This is the shape [[CatalogManifest]] persists: a
    * manifest built today must replay tomorrow's classification rules,
    * so classification happens on LOAD, not on scan. */
  final case class RawAxis(k: Int, name: String, units: Option[String],
      calendar: Option[String], coords: Option[Array[Double]])

  private[sources] def classifyAxes(raw: Seq[RawAxis], store: String): Seq[Axis] =
    raw.map(r => Axis(r.k, r.name, r.coords,
      if (r.coords.isEmpty) NotTime
      else classify(r.units, r.calendar, s"$store/${r.name}")))

  private def axesOf(format: GridFormat, store: String, variable: String): Seq[Axis] =
    classifyAxes(format.rawAxes(store, variable), store)
  // ---- shared decoration --------------------------------------------------

  /** The decode expression for one axis over the mount's `dK` column:
    * affine coords become arithmetic (codegen'd, no data), irregular
    * ones a literal-array lookup; Gregorian time wraps either in the
    * matching [[CfTime]] decode so both paths round identically;
    * calendar time renders through [[CfCalendar]] driver-side. */
  private def axisColumn(ax: Axis): Column = {
    val dk = col(MountDsv2.DimCols(ax.k))
    ax.coords match {
      case None => dk // no coordinate variable: the index IS the axis
      case Some(cs) =>
        ax.time match {
          case GregTime(u) => CfTime.affineOf(cs) match {
            case Some((f, st)) => CfTime.affineTimestamp(dk, u, f, st)
            case None => CfTime.timestampFromValues(dk, u, cs)
          }
          case CalTime(u, c) => CfCalendar.datetimeFromValues(dk, u, c, cs)
          case NotTime => CfTime.affineOf(cs) match {
            case Some((f, st)) => lit(f) + dk.cast("double") * lit(st)
            case None =>
              require(cs.length <= 1000000,
                s"axis '${ax.name}' has ${cs.length} values — beyond the " +
                  "literal decode path")
              try_element_at(typedlit(cs), dk.cast("int") + 1)
          }
        }
    }
  }

  /** Resolve the user's time bounds to numeric ones through each
    * axis's own units + calendar, merge with the numeric bounds, and
    * reject double-bound axes. */
  private[sources] def resolveBounds(axes: Seq[Axis],
      bounds: Map[String, (Double, Double)],
      timeBounds: Map[String, (String, String)],
      where: String): Map[String, (Double, Double)] = {
    val overlap = bounds.keySet.intersect(timeBounds.keySet)
    if (overlap.nonEmpty)
      fail(s"axes ${overlap.mkString(",")} given both numeric and time bounds")
    bounds ++ timeBounds.map { case (n, (t0, t1)) =>
      val ax = axes.find(_.name == n)
        .getOrElse(fail(s"no axis '$n' in $where"))
      n -> (ax.time match {
        case GregTime(u) => CfTime.numericRange(u, t0, t1)
        case CalTime(u, c) => CfCalendar.numericRange(u, c, t0, t1)
        case NotTime => fail(s"axis '$n' in $where is not a CF time axis")
      })
    }
  }

  /** The shared grid of one store's `variables`, given each one's axes
    * in `variables` order: every variable must have the same axis names
    * and coordinates (NaN-tolerant, [[coordsEq]]) — a multi-variable
    * open is one grid read once. One variable is its own grid. */
  private[sources] def sharedGrid(store: String, variables: Seq[String],
      axesPerVar: Seq[Seq[Axis]]): Seq[Axis] = {
    val grid = axesPerVar.head
    variables.zip(axesPerVar).tail.foreach { case (v, ax) =>
      if (ax.map(_.name) != grid.map(_.name) ||
        !ax.zip(grid).forall { case (a, b) => coordsEq(a.coords, b.coords) })
        fail(s"variable '$v' in $store is not on the store's shared grid " +
          s"(${grid.map(_.name).mkString(",")}) — a multi-variable open needs one grid")
    }
    grid
  }

  /** Mask-and-scale of the mount's raw `value` by its row's variable: the
    * bare [[CfDecode.maskAndScaleExpr]] for one variable, one CASE over
    * `dataset` for several (codegen'd either way). */
  private def decodeExpr(variables: Seq[String],
      attrs: Seq[CfDecode.CfAttrs]): Column =
    if (variables.size == 1) CfDecode.maskAndScaleExpr(col("value"), attrs.head)
    else variables.zip(attrs).foldLeft(lit(null).cast("double")) {
      case (acc, (v, a)) =>
        when(col("dataset") === v, CfDecode.maskAndScaleExpr(col("value"), a))
          .otherwise(acc)
    }

  /** One value column per variable, named `names`, from decoded `value`
    * rows. Several variables pivot on `(path, idx, dK…)` — map-side
    * partial aggregation and ONE exchange, no self-joins (k variables
    * via joins would be k scans + k exchanges); one variable has nothing
    * to join and keeps its rows. Returns the frame and the value
    * columns of its final projection. */
  private def wide(decoded: DataFrame, variables: Seq[String],
      names: Seq[String], rank: Int): (DataFrame, Seq[Column]) =
    if (variables.size == 1) (decoded, Seq(col("value").as(names.head)))
    else {
      val aggs = variables.zip(names).map { case (v, n) =>
        max(when(col("dataset") === v, col("value"))).as(n) }
      (decoded.groupBy((Seq(col("path"), col("idx")) ++
        MountDsv2.DimCols.take(math.max(1, rank)).map(col)): _*)
        .agg(aggs.head, aggs.tail: _*), names.map(n => col(s"`$n`")))
    }

  // ---- single-store opens -------------------------------------------------

  /** Open one store's `dataset` — a zarr store, a netCDF classic file,
    * or a netCDF-4/HDF5 file (axes from its dimension scales) — with
    * named/typed coordinates, mask-and-scale, and pushed value/time
    * crops: the one-variable [[openVars]], its value column `value`. */
  def open(spark: SparkSession, format: GridFormat, store: String,
      dataset: String,
      bounds: Map[String, (Double, Double)] = Map.empty,
      timeBounds: Map[String, (String, String)] = Map.empty): DataFrame =
    openStore(spark, format, store, Seq(dataset), Seq("value"), bounds,
      timeBounds)

  /** The pushable per-dim predicates of numeric bounds `nb`, built from
    * the coordinates `axes` already hold: chunks that miss the crop
    * never plan. */
  private def crop(df: DataFrame, axes: Seq[Axis],
      nb: Map[String, (Double, Double)], store: String): DataFrame =
    nb.toSeq.sortBy(_._1).foldLeft(df) { case (d, (name, (lo, hi))) =>
      val ax = axes.find(_.name == name).getOrElse(
        fail(s"dimension '$name' not among ${axes.map(_.name)} in $store"))
      val cs = ax.coords.getOrElse(fail(s"axis '$name' in $store has no coords"))
      d.where(CoordCrop.dimRangePredicate(ax.k, cs, lo, hi))
    }

  /** Open SEVERAL variables of one store as one wide DataFrame —
    * `(path, idx, <dims>, <one column per variable>)` — the
    * `xr.open_dataset` multi-variable shape the reference's derived-
    * variable DAG consumes (convml-data sources/__init__.py:349-423
    * reads e.g. two temperature levels to derive LTS).
    *
    * 100 TB shape: ONE scan (`dataset IN (...)` pushed, crops pruning
    * every variable's chunks), per-variable mask-and-scale as a CASE
    * projection, then a single `(path, idx)`-keyed pivot ([[wide]]).
    * Variables must share the store's grid (same dimension names, same
    * coords). */
  def openVars(spark: SparkSession, format: GridFormat, store: String,
      variables: Seq[String],
      bounds: Map[String, (Double, Double)] = Map.empty,
      timeBounds: Map[String, (String, String)] = Map.empty): DataFrame =
    openStore(spark, format, store, variables, variables, bounds, timeBounds)

  /** [[openVars]] with the value columns named `names`. */
  private def openStore(spark: SparkSession, format: GridFormat,
      store: String, variables: Seq[String], names: Seq[String],
      bounds: Map[String, (Double, Double)],
      timeBounds: Map[String, (String, String)]): DataFrame = {
    require(variables.nonEmpty, "grid open: no variables requested")
    val perVar = ByteStore.parMap(variables)(v =>
      (axesOf(format, store, v), format.cfAttrs(store, v)))
    val axes = sharedGrid(store, variables, perVar.map(_._1))
    val nb = resolveBounds(axes, bounds, timeBounds, store)
    // the shared coords crop the chunks of EVERY variable
    val df = crop(format.reader(spark).option("path", store).load()
      .where(col("dataset").isin(variables: _*)), axes, nb, store)
    val (out, values) = wide(
      df.withColumn("value", decodeExpr(variables, perVar.map(_._2))),
      variables, names, axes.length)
    axes.foldLeft(out)((d, ax) => d.withColumn(ax.name, axisColumn(ax)))
      .select((Seq(col("path"), col("idx")) ++
        axes.map(ax => col(s"`${ax.name}`")) ++ values): _*)
  }

  // ---- scene-idempotent materialization (the luigi contract) ---------------

  private def sceneOf(store: String): String =
    store.stripSuffix("/").split('/').last

  /** Materialize a catalog slice as a scene-partitioned parquet table,
    * SCENE-IDEMPOTENTLY — the luigi skip-if-present contract the
    * reference's whole pipeline is built on (every task re-checks its
    * target, convml-data pipeline/regridding.py:93-117,
    * dataset/fetch_source_data.py:7-14), on the turnkey open:
    *
    *  - scenes already materialized under `outPath` are skipped
    *    ENTIRELY — their stores' metadata and data are never read
    *    (the pending wave runs over MISSING scenes only, and the mount
    *    receives exactly the pending members as an explicit list);
    *  - missing scenes open, decode, and write through dynamic
    *    partition overwrite, so a retry after a mid-write failure is
    *    idempotent at scene granularity — "re-run the world" becomes
    *    "append yesterday's scenes".
    *
    * A scene is a zarr store or a scene file (scene = file name).
    * Returns the newly materialized scene names. A scene whose rows
    * are all pruned by the bounds writes no partition and is re-probed
    * (metadata-only) on the next run; the manifest shape excludes such
    * scenes at plan time instead. */
  def materialize(spark: SparkSession, format: GridFormat, dir: String,
      dataset: String, outPath: String,
      bounds: Map[String, (Double, Double)] = Map.empty,
      timeBounds: Map[String, (String, String)] = Map.empty): Seq[String] =
    materializeScenes(spark, format.stores(dir), outPath) { pending =>
      liveCatalog(spark, format, pending, Seq(dataset), Seq("value"),
        extra => format.mountMembers(spark, dir, pending, Seq(dataset))
          .options(extra).load(),
        bounds, timeBounds)
    }

  /** [[materialize]] planned from a persisted [[CatalogManifest]]:
    * pending-scene selection AND their crop/decode metadata come from
    * the manifest, so even the pending wave costs zero per-store
    * metadata reads — pending scenes pay exactly their data chunks.
    * Scenes the bounds exclude are not pending at all. The staleness
    * guard verifies every NOT-yet-done envelope survivor (a stale store
    * the exact prune would wrongly drop must refuse — but a done
    * scene's later change must not wedge a skip-everything re-run);
    * scenes whose exact ranges are empty are never pending (they would
    * "re-materialize", emptily, every run). */
  def materializeFromManifest(spark: SparkSession,
      manifestPath: String, dataset: String, outPath: String,
      bounds: Map[String, (Double, Double)] = Map.empty,
      timeBounds: Map[String, (String, String)] = Map.empty,
      verifyFingerprints: Boolean = true): Seq[String] =
    materializeManifest(spark, manifestPath, Seq(dataset), Seq("value"),
      outPath, bounds, timeBounds, verifyFingerprints)

  /** [[materializeFromManifest]] under its former zarr-only name; the
    * benchmark calls it. */
  def materializeZarrCatalogFromManifest(spark: SparkSession,
      manifestPath: String, dataset: String, outPath: String,
      bounds: Map[String, (Double, Double)] = Map.empty,
      timeBounds: Map[String, (String, String)] = Map.empty,
      verifyFingerprints: Boolean = true): Seq[String] =
    materializeFromManifest(spark, manifestPath, dataset, outPath, bounds,
      timeBounds, verifyFingerprints)

  /** Scene-idempotent materialize of the MULTI-VARIABLE catalog — the
    * aux-fields flow persisted per scene (the reference derives and
    * writes per-scene aux variables behind luigi targets,
    * convml-data pipeline/embeddings/aux_fields/data.py:33-295) —
    * planned from a persisted manifest: zero per-store metadata reads,
    * pending scenes pay their data chunks only, and the wide
    * (path, idx, <dims>, <vars>) frame lands scene-partitioned under
    * the skip-if-present contract of [[materializeFromManifest]]. */
  def materializeVarsFromManifest(spark: SparkSession,
      manifestPath: String, variables: Seq[String], outPath: String,
      bounds: Map[String, (Double, Double)] = Map.empty,
      timeBounds: Map[String, (String, String)] = Map.empty,
      verifyFingerprints: Boolean = true): Seq[String] =
    materializeManifest(spark, manifestPath, variables, variables, outPath,
      bounds, timeBounds, verifyFingerprints)

  private def materializeManifest(spark: SparkSession, manifestPath: String,
      variables: Seq[String], names: Seq[String], outPath: String,
      bounds: Map[String, (Double, Double)],
      timeBounds: Map[String, (String, String)],
      verifyFingerprints: Boolean): Seq[String] = {
    val (metas0, format, dir, survivorFps) = CatalogManifest.planVarsStores(
      spark, manifestPath, variables, bounds, timeBounds,
      verifyFingerprints = false)
    if (verifyFingerprints)
      checkPendingFresh(spark, manifestPath, outPath, survivorFps)
    val exact = survivingRanges(metas0.map(m => (m.store, m.axes)),
      bounds, timeBounds).map(_._1).toSet
    val metas = metas0.filter(m => exact(m.store))
    materializeScenes(spark, metas.map(_.store), outPath) { pending =>
      val pendingSet = pending.toSet
      catalogFrom(spark, metas.filter(m => pendingSet(m.store)), variables,
        names, extra => format.mountMembers(spark, dir, pending, variables)
          .options(extra).load(),
        bounds, timeBounds)
    }
  }

  /** The materialize staleness guard: the fingerprints of envelope
    * survivors whose scene is not yet under `outPath`. */
  private def checkPendingFresh(spark: SparkSession, manifestPath: String,
      outPath: String, survivorFps: Seq[(String, (Long, Long, Long, Long))]): Unit = {
    val done = graft.pipeline.Incremental
      .completedPartitions(spark, outPath, "scene")
    CatalogManifest.checkFreshSubset(spark,
      survivorFps.filterNot { case (s, _) => done(sceneOf(s)) },
      manifestPath)
  }

  private def materializeScenes(spark: SparkSession, stores: Seq[String],
      outPath: String)(openPending: Seq[String] => DataFrame): Seq[String] = {
    val done = graft.pipeline.Incremental
      .completedPartitions(spark, outPath, "scene")
    val pending = stores.filterNot(s => done(sceneOf(s)))
    if (pending.isEmpty) return Nil
    val df = openPending(pending)
      .withColumn("scene", substring_index(col("path"), "/", -1))
    // per-writer dynamic overwrite: mutating the SESSION conf would
    // silently change the semantics of the caller's own later writes
    df.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("scene").parquet(outPath)
    // report what actually MATERIALIZED: a pending scene whose rows
    // were all pruned writes no partition (and is re-probed next run)
    val nowDone = graft.pipeline.Incremental
      .completedPartitions(spark, outPath, "scene")
    pending.map(sceneOf).filter(nowDone)
  }
  // ---- catalog turnkeys (dir of per-scene stores) --------------------------

  /** One store's catalog metadata: its axes (names, coords, time
    * classification — the grid its variables share) and one set of pack
    * attrs per variable. Produced by ONE live metadata wave per open —
    * or loaded with ZERO per-store reads from a persisted
    * [[CatalogManifest]]. */
  private[graft] final case class StoreMeta(store: String, axes: Seq[Axis],
      attrs: Seq[CfDecode.CfAttrs])

  /** Open a CATALOG of scene stores (zarr stores, or a DIR or glob of
    * scene files) as one DataFrame with named/typed coordinates. ONE
    * metadata wave over the stores feeds BOTH the store-level crop
    * (stores whose coordinates provably miss the bounds never plan;
    * survivors push their own per-dimension index ranges as one
    * disjunction) and the decoration (coordinates decode per store via
    * broadcast joins on `(path, dK)`, so scenes with different
    * epochs/calendars/grids compose without per-store expression
    * trees). Axis names and time-kinds must agree across stores (a
    * heterogeneous catalog fails loudly); per-store pack attrs
    * broadcast when they differ (the CERES per-file-scales pattern,
    * convml-data sources/ceres_syn1deg_modis/extract.py:7-69) and fold
    * as the literal codegen'd expression when uniform. Every store is a
    * member: one lacking `dataset` fails the open loudly. */
  def catalog(spark: SparkSession, format: GridFormat, dir: String,
      dataset: String,
      bounds: Map[String, (Double, Double)] = Map.empty,
      timeBounds: Map[String, (String, String)] = Map.empty): DataFrame = {
    val stores = format.stores(dir)
    liveCatalog(spark, format, stores, Seq(dataset), Seq("value"),
      extra => format.mountCatalog(spark, dir, stores, Seq(dataset))
        .options(extra).load(),
      bounds, timeBounds)
  }

  /** Multi-variable CATALOG open — the aux-fields-over-all-scenes
    * flow (convml-data pipeline/embeddings/aux_fields/data.py:33-295
    * derives per-scene aux variables across the whole dataset): every
    * variable of every scene store in ONE frame, store-pruned by the
    * bounds, pivoted wide, coordinates decoded per store. Stores
    * lacking any requested variable are not members.
    *
    * 100 TB shape: one metadata wave over stores x variables, ONE scan
    * (`dataset IN` + the per-store crop disjunction pushed, so
    * non-intersecting STORES and chunks of every variable prune), one
    * CASE mask-and-scale projection, one (path, idx)-keyed pivot
    * exchange, then the catalog axis decode (expressions when grids
    * are homogeneous, broadcast joins otherwise). Per-variable pack
    * attrs fold as the CASE when uniform across stores and broadcast
    * per (path, dataset) when they differ; variables must share each
    * store's grid; axis names/time-kinds must match catalog-wide. */
  def varsCatalog(spark: SparkSession, format: GridFormat, dir: String,
      variables: Seq[String],
      bounds: Map[String, (Double, Double)] = Map.empty,
      timeBounds: Map[String, (String, String)] = Map.empty): DataFrame = {
    require(variables.nonEmpty, "grid open: no variables requested")
    val stores = format.holdingAll(dir, variables)
    // the mount plans over the same listing the membership resolved; a
    // file catalog's mount is the dir's glob, so an unbounded open
    // prunes the non-members by path (a bounded one's crop pushes the
    // surviving members' paths)
    liveCatalog(spark, format, stores, variables, variables, { extra =>
      val mount = format.mountCatalog(spark, dir, stores, variables)
        .options(extra).load()
      if (bounds.isEmpty && timeBounds.isEmpty)
        mount.where(col("path").isin(stores: _*))
      else mount
    }, bounds, timeBounds)
  }

  /** A live catalog open over `members`: ONE metadata wave reads each
    * member's axes and pack attrs for every variable, then
    * [[catalogFrom]] opens it on `mount`. */
  private def liveCatalog(spark: SparkSession, format: GridFormat,
      members: Seq[String], variables: Seq[String], names: Seq[String],
      mount: Map[String, String] => DataFrame,
      bounds: Map[String, (Double, Double)],
      timeBounds: Map[String, (String, String)]): DataFrame =
    catalogFrom(spark, ByteStore.parMap(members) { s =>
      StoreMeta(s,
        sharedGrid(s, variables, variables.map(v => axesOf(format, s, v))),
        variables.map(v => format.cfAttrs(s, v)))
    }, variables, names, mount, bounds, timeBounds)

  /** Resolve the caller's bounds against EACH store's own axes (scene
    * files routinely differ in epoch, calendar, and grid) into its
    * inclusive index ranges; a store with any empty range is excluded
    * entirely — its data never plans. With no bounds every store
    * survives with no ranges. */
  private def survivingRanges(perStore: Seq[(String, Seq[Axis])],
      bounds: Map[String, (Double, Double)],
      timeBounds: Map[String, (String, String)])
      : Seq[(String, Seq[(Int, (Int, Int))])] =
    if (bounds.isEmpty && timeBounds.isEmpty) perStore.map(m => (m._1, Nil))
    else perStore.flatMap { case (store, axes) =>
      val nb = resolveBounds(axes, bounds, timeBounds, store)
      val ranges = nb.toSeq.sortBy(_._1).map { case (n, (lo, hi)) =>
        val ax = axes.find(_.name == n).get
        val cs = ax.coords.getOrElse(
          fail(s"axis '$n' in $store has no coords"))
        (ax.k, CoordCrop.valueRangeToIdx(cs, lo, hi))
      }
      if (ranges.forall(_._2.isDefined))
        Some((store, ranges.map { case (k, r) => (k, r.get) }))
      else None
    }

  /** Survivor count above which the per-store crop switches from the
    * pushed Or disjunction to the broadcast-join residual
    * ([[storeCrop]]). Mutable for tests only. */
  private[graft] var residualJoinAbove: Int = 256

  /** The `hulls` mount option for a join-form crop — the exact
    * per-store windows [[storeCrop]]'s broadcast join will enforce,
    * handed to the SCAN so chunk pruning keeps per-store granularity
    * (the pushed filters carry only the union envelope in that
    * regime). Empty in the selective regime (the pushed Or already
    * carries per-store windows) and on unbounded opens. */
  private def hullsOption(bounds: Map[String, (Double, Double)],
      timeBounds: Map[String, (String, String)],
      surviving: Seq[(String, Seq[(Int, (Int, Int))])]): Map[String, String] =
    // gate on EVERY survivor carrying windows, not just the head:
    // [[storeCrop]]'s join form fails unless all stores resolve the
    // identical bounded-axis set, so today forall == head-nonEmpty,
    // but a future relaxation of that invariant must degrade to NO
    // hulls (pruning-only, the residual join keeps exactness) rather
    // than ship a partial/stale hull set keyed off the head store
    if ((bounds.nonEmpty || timeBounds.nonEmpty) &&
        surviving.size > residualJoinAbove &&
        surviving.nonEmpty && surviving.forall(_._2.nonEmpty))
      Map("hulls" -> MountDsv2.serializeHulls(surviving))
    else Map.empty

  /** The per-store crop over a catalog frame. Two regimes:
    *
    *  - SELECTIVE (survivors <= [[residualJoinAbove]], the shape
    *    catalogs exist for): ONE pushed disjunction
    *    `(path = s AND dK BETWEEN ...) OR ...` — the mounts prune at
    *    store/array/chunk granularity on it, and Spark re-checks it
    *    residually per row. O(survivors) per row, fine when survivors
    *    are few.
    *  - BROAD (above the threshold): the disjunction's per-row cost
    *    would dominate (10^4 survivors x 10^9 rows = an O(N) Or per
    *    row), so the crop splits: the SCAN gets `path IN (...)` (an
    *    O(1) hash InSet per row) plus the per-dimension UNION envelope
    *    (`dK BETWEEN min lo AND max hi` — chunk pruning for
    *    grid-aligned catalogs), and the exact per-store ranges apply
    *    through a BROADCAST JOIN on `path` — an O(1) hash probe per
    *    row instead of the O(survivors) Or. Same rows either way
    *    (spec-pinned), and chunk pruning keeps PER-STORE granularity
    *    too: [[hullsOption]] ships each survivor's exact windows to
    *    the scan, which intersects them into its chunk-box tests
    *    (executed-I/O parity with the Or form spec-pinned). */
  private def storeCrop(spark: SparkSession, base: DataFrame,
      surviving: Seq[(String, Seq[(Int, (Int, Int))])]): DataFrame =
    if (surviving.isEmpty) base.where(lit(false)) // provably empty
    else if (surviving.size <= residualJoinAbove)
      base.where(CoordCrop.catalogPredicate(surviving))
    else {
      val ks = surviving.head._2.map(_._1)
      // axis names/time-kinds match catalog-wide (gated upstream), so
      // every store resolves the same bounded-axis set
      surviving.foreach { case (s, rs) =>
        if (rs.map(_._1) != ks)
          fail(s"store $s resolved bounded axes ${rs.map(_._1)}, " +
            s"catalog resolved $ks")
      }
      var pushed = base.where(col("path").isin(surviving.map(_._1): _*))
      ks.foreach { k =>
        val lows = surviving.map(_._2.find(_._1 == k).get._2._1)
        val highs = surviving.map(_._2.find(_._1 == k).get._2._2)
        pushed = pushed.where(
          col(MountDsv2.DimCols(k)) >= lows.min.toLong &&
            col(MountDsv2.DimCols(k)) <= highs.max.toLong)
      }
      if (ks.isEmpty) pushed
      else {
        import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
        val schema = StructType(StructField("path", StringType) +:
          ks.flatMap(k => Seq(StructField(s"__lo$k", LongType),
            StructField(s"__hi$k", LongType))))
        val rows = surviving.map { case (p, rs) =>
          org.apache.spark.sql.Row.fromSeq(p +: rs.flatMap { case (_, (i0, i1)) =>
            Seq(i0.toLong, i1.toLong) })
        }
        import scala.jdk.CollectionConverters._
        val tbl = spark.createDataFrame(rows.asJava, schema)
        val joined = pushed.join(broadcast(tbl), Seq("path"), "inner")
        ks.foldLeft(joined) { (d, k) =>
          d.where(col(MountDsv2.DimCols(k)) >= col(s"__lo$k") &&
            col(MountDsv2.DimCols(k)) <= col(s"__hi$k"))
        }.drop(ks.flatMap(k => Seq(s"__lo$k", s"__hi$k")): _*)
      }
    }

  /** THE catalog open, live or manifest-planned, over one meta per
    * member store: homogeneity gates, the store-level crop, the decode
    * (attrs uniform across the kept stores fold as the literal
    * codegen'd [[decodeExpr]]; per-store attrs — the NORM for packed
    * satellite products, each granule carrying its own scale/offset/fill
    * — broadcast as a tiny (path, dataset) -> attrs table and decode
    * through the column form of the same expression), the pivot
    * ([[wide]], several variables only) and the per-axis decoration —
    * decode tables built from SURVIVING stores only. `mount` loads the
    * members' rows given the crop's mount options; the value columns
    * are named `names`. */
  private def catalogFrom(spark: SparkSession, perStore: Seq[StoreMeta],
      variables: Seq[String], names: Seq[String],
      mount: Map[String, String] => DataFrame,
      bounds: Map[String, (Double, Double)],
      timeBounds: Map[String, (String, String)]): DataFrame = {
    val kinds = perStore.head.axes.map(a => (a.name, a.time.getClass))
    perStore.foreach { m =>
      if (m.axes.map(a => (a.name, a.time.getClass)) != kinds)
        fail(s"store ${m.store} axes ${m.axes.map(_.name)} disagree with " +
          s"${kinds.map(_._1)} (names and time-kinds must match catalog-wide)")
    }
    // per-store crop: bounds resolve through EACH store's own axes
    // (epochs/calendars differ per scene) into its index ranges
    val surviving = survivingRanges(perStore.map(m => (m.store, m.axes)),
      bounds, timeBounds)
    val base = mount(hullsOption(bounds, timeBounds, surviving))
      .where(col("dataset").isin(variables: _*))
    val cropped =
      if (bounds.isEmpty && timeBounds.isEmpty) base
      else storeCrop(spark, base, surviving)
    val keptPaths = surviving.map(_._1).toSet
    // every store pruned -> the scan is lit(false)-empty; ONE store's
    // meta keeps the empty frame's schema without building the whole
    // catalog's broadcast decode tables for nothing
    val kept0 = perStore.filter(m => keptPaths(m.store))
    val kept = if (kept0.nonEmpty) kept0 else perStore.take(1)
    val decoded =
      if (kept.forall(_.attrs == kept.head.attrs))
        cropped.withColumn("value", decodeExpr(variables, kept.head.attrs))
      else {
        import spark.implicits._
        val tbl = kept.flatMap(m => variables.zip(m.attrs).map { case (v, a) =>
          (m.store, v, a.scale, a.offset, a.fill, a.unsignedModulus) })
          .toDF("path", "dataset", "__scale", "__offset", "__fill", "__uns")
        cropped.join(broadcast(tbl), Seq("path", "dataset"), "left")
          .withColumn("value", maskAndScaleCols(col("value"), col("__scale"),
            col("__offset"), col("__fill"), col("__uns")))
          .drop("__scale", "__offset", "__fill", "__uns")
      }
    val (out, values) = wide(decoded, variables, names, perStore.head.axes.length)
    decorateCatalogAxes(spark, out, kept.map(m => (m.store, m.axes)), values)
  }

  /** [[CfDecode.maskAndScaleExpr]] with the attrs as COLUMNS (from a
    * broadcast per-store table) instead of literals. Same order:
    * unsigned reinterpretation first (fill included — it is stored in
    * the data's signed type), then mask, then scale. */
  private def maskAndScaleCols(raw: Column, scale: Column, offset: Column,
      fill: Column, unsMod: Column): Column = {
    def reinterpret(c: Column): Column =
      when(unsMod.isNotNull && c < 0, c + unsMod).otherwise(c)
    val r = reinterpret(raw)
    val masked = when(fill.isNotNull && r === reinterpret(fill), lit(null))
      .otherwise(r)
    (masked * scale + offset).cast("double")
  }

  // ---- manifest-planned catalog opens --------------------------------------

  /** Open a scene catalog FROM A PERSISTED MANIFEST
    * ([[CatalogManifest]]), in the format its `format` column names:
    * store-level crop, pack decode and coordinate decoration all plan
    * from the manifest — ZERO per-store metadata reads — and the mount
    * receives the surviving members EXPLICITLY (zarr `arrays`, a file
    * list), skipping the discovery walk too. A 10^5-scene catalog query
    * costs one manifest parquet read instead of 10^5 KB-scale store
    * reads; EXCLUDED scenes cost nothing at all (CatalogManifestSpec
    * pins the I/O counts).
    *
    * Staleness: the default guard fingerprints the SURVIVORS only. A
    * store the manifest excludes that changed since the build — or a
    * store added after it — which would NOW intersect the bounds is
    * silently omitted until [[CatalogManifest.refresh]]; run
    * [[CatalogManifest.checkCatalogFresh]] first when a query must
    * detect added/changed/removed stores (O(catalog) LIST/HEAD round
    * trips — the exclusion blind spot is the price of zero-cost
    * exclusion). Applies to every `*FromManifest` open. */
  def catalogFromManifest(spark: SparkSession, manifestPath: String,
      dataset: String,
      bounds: Map[String, (Double, Double)] = Map.empty,
      timeBounds: Map[String, (String, String)] = Map.empty,
      verifyFingerprints: Boolean = true): DataFrame =
    manifestCatalog(spark, manifestPath, Seq(dataset), Seq("value"), bounds,
      timeBounds, verifyFingerprints)._1

  /** [[catalogFromManifest]] AND the surviving-scene list from ONE
    * planning pass. Pipelines that need both (triplet sampling, sliding
    * windows, per-scene materialize lists) previously planned the
    * catalog twice — two manifest reads, two probe collects and two
    * envelope passes per pipeline open, a pure per-open latency
    * constant at every catalog size. The scene list derives from the
    * same survivor set the data open mounts, so results are identical
    * to the two-call form; the staleness guard runs once (on this call)
    * instead of once on the data open and zero times on the list. */
  def catalogWithScenesFromManifest(spark: SparkSession,
      manifestPath: String, dataset: String,
      bounds: Map[String, (Double, Double)] = Map.empty,
      timeBounds: Map[String, (String, String)] = Map.empty,
      verifyFingerprints: Boolean = true): (DataFrame, DataFrame) = {
    import spark.implicits._
    val (px, scenes) = manifestCatalog(spark, manifestPath, Seq(dataset),
      Seq("value"), bounds, timeBounds, verifyFingerprints)
    (px, spark.createDataset(scenes).toDF("path"))
  }

  /** [[catalogWithScenesFromManifest]] under its former zarr-only name;
    * the benchmark calls it. */
  def zarrCatalogWithScenesFromManifest(spark: SparkSession,
      manifestPath: String, dataset: String,
      bounds: Map[String, (Double, Double)] = Map.empty,
      timeBounds: Map[String, (String, String)] = Map.empty,
      verifyFingerprints: Boolean = true): (DataFrame, DataFrame) =
    catalogWithScenesFromManifest(spark, manifestPath, dataset, bounds,
      timeBounds, verifyFingerprints)

  /** Multi-variable CATALOG open FROM A PERSISTED MANIFEST — the
    * aux-fields-over-all-scenes flow with ZERO per-store metadata
    * reads: membership (stores holding ALL variables), the store-level
    * crop, shared-grid verification, per-variable pack attrs, and the
    * coordinate decode all come from the manifest; the mount receives
    * every surviving member explicitly (no dir listing, no membership
    * header reads). */
  def varsCatalogFromManifest(spark: SparkSession, manifestPath: String,
      variables: Seq[String],
      bounds: Map[String, (Double, Double)] = Map.empty,
      timeBounds: Map[String, (String, String)] = Map.empty,
      verifyFingerprints: Boolean = true): DataFrame =
    manifestCatalog(spark, manifestPath, variables, variables, bounds,
      timeBounds, verifyFingerprints)._1

  /** The manifest-planned catalog open and its surviving stores,
    * store-sorted: `fps` names the REAL envelope survivors, while the
    * metas may carry the schema-fallback store when everything pruned
    * (not a survivor). The mount's explicit member list is the
    * membership. */
  private def manifestCatalog(spark: SparkSession, manifestPath: String,
      variables: Seq[String], names: Seq[String],
      bounds: Map[String, (Double, Double)],
      timeBounds: Map[String, (String, String)],
      verifyFingerprints: Boolean): (DataFrame, Seq[String]) = {
    val (metas, format, dir, fps) = CatalogManifest.planVarsStores(spark,
      manifestPath, variables, bounds, timeBounds, verifyFingerprints)
    val px = catalogFrom(spark, metas, variables, names, extra =>
      format.mountMembers(spark, dir, metas.map(_.store), variables)
        .options(extra).load(),
      bounds, timeBounds)
    val surviving = fps.map(_._1).toSet
    (px, metas.map(_.store).filter(surviving))
  }

  /** The SURVIVING scene stores of a manifest-planned catalog crop —
    * the metadata-plane scene list, one row (`path`) per store or file
    * the crop would open, with ZERO per-store storage reads. Pipelines
    * that enumerate per-scene work (sliding-window specs, triplet
    * sampling, per-scene materialize lists) should start HERE rather
    * than scanning pixels and `distinct`-ing the scene column: at
    * catalog scale that distinct is a full extra data scan to learn
    * names the scene DB already holds. Store-sorted, like the open's
    * own planning; empty when every store prunes.
    * `verifyFingerprints` defaults OFF because the paired data open
    * runs the staleness guard itself — enable it when this list is
    * used standalone. `expectFormat` asserts the manifest holds the
    * format the caller's downstream open expects. */
  def catalogScenesFromManifest(spark: SparkSession, manifestPath: String,
      dataset: String,
      bounds: Map[String, (Double, Double)] = Map.empty,
      timeBounds: Map[String, (String, String)] = Map.empty,
      verifyFingerprints: Boolean = false,
      expectFormat: Option[GridFormat] = None): DataFrame = {
    import spark.implicits._
    val (metas, format, _, fps) =
      CatalogManifest.planVarsStores(spark, manifestPath, Seq(dataset), bounds,
        timeBounds, verifyFingerprints)
    expectFormat.foreach(f => require(format == f,
      s"grid open: manifest $manifestPath holds '$format' stores, not $f"))
    // fps names the REAL envelope survivors; metas may carry the
    // schema-fallback store when everything pruned (not a survivor)
    val surviving = fps.map(_._1).toSet
    spark.createDataset(metas.map(_.store).filter(surviving)).toDF("path")
  }

  /** Per-axis catalog decoration: homogeneous axes decode as the
    * single-store expression, per-store axes via a broadcast (path, dK)
    * table; `values` are carried through to the final projection. */
  private def decorateCatalogAxes(spark: SparkSession, masked: DataFrame,
      perStore: Seq[(String, Seq[Axis])], values: Seq[Column]): DataFrame = {
    import spark.implicits._
    val axisNames = perStore.head._2.map(_.name)
    def homogeneous(k: Int): Boolean = {
      val h = perStore.head._2(k)
      perStore.forall { case (_, axes) =>
        axes(k).time == h.time && coordsEq(axes(k).coords, h.coords)
      }
    }
    val out = axisNames.zipWithIndex.foldLeft(masked) { case (df, (n, k)) =>
      val dk = MountDsv2.DimCols(k)
      if (perStore.forall(_._2(k).coords.isEmpty))
        df.withColumn(n, col(dk)) // no coordinate variables anywhere
      else if (homogeneous(k))
        // the common case — every scene on the SAME grid/epoch: decode
        // as the single-store expression (codegen'd arithmetic or
        // literal lookup), skipping the broadcast join entirely
        df.withColumn(n, axisColumn(perStore.head._2(k)))
      else {
        def coordsOf(s: String, axes: Seq[Axis]): Array[Double] =
          axes(k).coords.getOrElse(fail(s"store $s axis '$n' has no coords"))
        val tblRows = perStore.iterator
          .map(_._2(k).coords.map(_.length.toLong).getOrElse(0L)).sum
        require(tblRows <= 1000000,
          s"axis '$n' decode table has $tblRows rows across the catalog — " +
            "beyond the broadcast decode path")
        val tbl = perStore.head._2(k).time match {
          case GregTime(_) =>
            perStore.flatMap { case (s, axes) =>
              val GregTime(u) = axes(k).time: @unchecked
              val (epoch, step) = CfTime.parseUnits(u)
              coordsOf(s, axes).zipWithIndex.map { case (c, i) =>
                (s, i.toLong, epoch + math.round(c * step)) }
            }.toDF("path", dk, "__micros")
              .withColumn(n, timestamp_micros(col("__micros"))).drop("__micros")
          case CalTime(_, _) =>
            perStore.flatMap { case (s, axes) =>
              val CalTime(u, c) = axes(k).time: @unchecked
              CfCalendar.datetimeStrings(u, c, coordsOf(s, axes))
                .zipWithIndex.map { case (r, i) => (s, i.toLong, r) }
            }.toDF("path", dk, n)
          case NotTime =>
            perStore.flatMap { case (s, axes) =>
              coordsOf(s, axes).zipWithIndex.map { case (v, i) => (s, i.toLong, v) }
            }.toDF("path", dk, n)
        }
        df.join(broadcast(tbl), Seq("path", dk), "left")
      }
    }
    val axCols = axisNames.map(n => col(s"`$n`"))
    out.select((Seq(col("path"), col("idx")) ++ axCols ++ values): _*)
  }
}
