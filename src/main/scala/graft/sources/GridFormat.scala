package graft.sources

import org.apache.spark.sql.{DataFrameReader, SparkSession}

/** The storage format of a gridded store or scene catalog: zarr stores,
  * netCDF classic files, or netCDF-4/HDF5 files. [[GridOpen]] takes it
  * as a value (a manifest-planned open reads it from the manifest's own
  * `format` column) and each case owns the primitives that differ by
  * format: raw axes, CF pack attrs, store listing, variable membership,
  * the mount over a member list, and, through its [[GridScan.Codec]],
  * the grid scan's two format steps — [[plan]] (stores to pruned chunk
  * tasks) and [[decode]] (tasks to blocks). Everything else about a read
  * is [[GridScan]]'s. */
sealed abstract class GridFormat(val name: String, source: String,
    codec: GridScan.Codec) extends Product with Serializable {

  /** A reader on this format's mount. */
  def reader(spark: SparkSession): DataFrameReader = spark.read.format(source)

  /** One variable's axes exactly as the store's metadata states them. */
  def rawAxes(store: String, variable: String): Seq[GridOpen.RawAxis]

  /** One variable's CF pack attrs. */
  def cfAttrs(store: String, variable: String): CfDecode.CfAttrs

  /** One variable's dimension names, axis by axis — the names
    * [[CoordCrop.crop]] bounds by. */
  def dimNames(store: String, variable: String): Seq[String]

  /** The stores under `dir`: zarr scene-store roots, or the resolved
    * per-scene files of a file catalog. */
  def stores(dir: String): Seq[String]

  /** The variables one store holds. */
  def variablesIn(store: String): Set[String]

  /** The stores under `dir` holding every one of `variables`. */
  def holdingAll(dir: String, variables: Seq[String]): Seq[String]

  /** The mount over an explicit member list: no listing, no discovery. */
  def mountMembers(spark: SparkSession, dir: String, members: Seq[String],
      variables: Seq[String]): DataFrameReader

  /** The mount a live catalog open over `dir` plans on. */
  def mountCatalog(spark: SparkSession, dir: String, members: Seq[String],
      variables: Seq[String]): DataFrameReader

  /** Plan the mount at `path` (with its `options`) on the driver: its
    * stores' chunk tasks surviving `prune`, as lists of one task kind
    * each ([[GridScan]] slices each list into its own partitions). */
  private[sources] def plan(path: String, options: Map[String, String],
      prune: GridScan.Prune): Seq[Seq[GridScan.Task]] = codec.plan(path, options, prune)

  /** Decode one partition's tasks (all of one kind, in plan order) into
    * blocks; without `withValues` no payload byte is read. */
  private[sources] def decode(tasks: Seq[GridScan.Task], withValues: Boolean,
      stats: GridScan.ReadStats, files: GridScan.OpenFiles): Iterator[GridScan.Block] =
    codec.decode(tasks, withValues, stats, files)

  /** One variable's full values in global C order, read driver-side
    * (the KB-scale 1-D coordinate arrays of the axes): the blocks of its
    * unpruned plan, decoded into place. */
  def arrayValues(store: String, variable: String): Array[Double] = {
    val files = new GridScan.OpenFiles
    try GridScan.scatter(codec.arrayBlocks(store, variable, files)) finally files.close()
  }

  override def toString: String = name
}

object GridFormat {

  /** Zarr v2/v3 scene stores. Membership comes from the one discover
    * walk that lists them, and the mount takes the catalog dir as
    * `path` plus every (store, variable) pair as `arrays`. */
  case object Zarr extends GridFormat("zarr", "graft.sources.ZarrDataSource",
      ZarrChunkIngest) {
    def rawAxes(store: String, variable: String): Seq[GridOpen.RawAxis] = {
      val dims = dimNames(store, variable)
      GridOpen.checkRank(dims.length, s"$store/$variable")
      dims.zipWithIndex.map { case (n, k) =>
        val node = ByteStore.join(store, n)
        val hasCoord = ByteStore.isFile(ByteStore.join(node, ".zarray")) ||
          ByteStore.isFile(ByteStore.join(node, "zarr.json"))
        if (!hasCoord) GridOpen.RawAxis(k, n, None, None, None)
        else {
          val (u, c) = CfTime.zarrTimeAttrs(store, n)
          GridOpen.RawAxis(k, n, u, c, Some(arrayValues(store, n)))
        }
      }
    }
    def cfAttrs(store: String, variable: String): CfDecode.CfAttrs =
      CfDecode.zarrCfAttrs(store, variable)
    def dimNames(store: String, variable: String): Seq[String] =
      CoordCrop.zarrDimNames(store, variable)
    def stores(dir: String): Seq[String] =
      ZarrChunkIngest.discover(dir).map(_._1).distinct.sorted
    def variablesIn(store: String): Set[String] =
      ZarrChunkIngest.arraysIn(store).toSet
    def holdingAll(dir: String, variables: Seq[String]): Seq[String] = {
      val found = ZarrChunkIngest.discover(dir).groupBy(_._1).collect {
        case (s, as) if variables.forall(v => as.exists(_._2 == v)) => s
      }.toSeq.sorted
      require(found.nonEmpty,
        s"grid open: no store under $dir holds all of ${variables.mkString(",")}")
      found
    }
    def mountMembers(spark: SparkSession, dir: String, members: Seq[String],
        variables: Seq[String]): DataFrameReader =
      reader(spark).option("path", dir)
        .option("arrays", members.flatMap(s => variables.map(v => s + "\t" + v))
          .mkString("\n"))
    // the members are already discovered: handing them to the scan
    // makes plan time pay ONE discovery walk, not two
    def mountCatalog(spark: SparkSession, dir: String, members: Seq[String],
        variables: Seq[String]): DataFrameReader =
      mountMembers(spark, dir, members, variables)
  }

  /** A catalog of per-scene files: a dir (every file in it) or a glob.
    * The member-list mount takes the files as a newline list; the live
    * catalog mount takes the dir's glob. */
  sealed abstract class FileFormat(name: String, source: String, codec: GridScan.Codec)
      extends GridFormat(name, source, codec) {
    def stores(dir: String): Seq[String] = CoordCrop.catalogFiles(dir)
    // membership is one header read per file, a latency round trip on
    // an object store, so the scan rides one parMap wave, not N x RTT
    def holdingAll(dir: String, variables: Seq[String]): Seq[String] = {
      val found = ByteStore.parMap(stores(dir))(p =>
        (p, variables.forall(variablesIn(p)))).collect { case (p, true) => p }
      require(found.nonEmpty,
        s"grid open: no file under $dir holds all of ${variables.mkString(",")}")
      found
    }
    def mountMembers(spark: SparkSession, dir: String, members: Seq[String],
        variables: Seq[String]): DataFrameReader =
      reader(spark).option("path", members.mkString("\n") + "\n")
    // the glob the members were resolved from
    def mountCatalog(spark: SparkSession, dir: String, members: Seq[String],
        variables: Seq[String]): DataFrameReader =
      reader(spark).option("path", CoordCrop.catalogGlob(dir))
  }

  /** netCDF classic (CDF-1/2/5) scene files. */
  case object NetCDF3 extends FileFormat("netcdf3", "graft.sources.NetCDF3DataSource",
      NetCDF3ChunkIngest) {
    def rawAxes(path: String, variable: String): Seq[GridOpen.RawAxis] = {
      val h = NetCDF3ChunkIngest.headerOf(path)
      val v = h.vars.find(_.name == variable).getOrElse(throw
        new IllegalArgumentException(s"grid open: variable '$variable' not in $path"))
      GridOpen.checkRank(v.dimIds.length, s"$path/$variable")
      v.dimIds.zipWithIndex.map { case (id, k) =>
        val n = h.dims(id).name
        if (!h.vars.exists(cv => cv.name == n && cv.dimIds == Seq(id)))
          GridOpen.RawAxis(k, n, None, None, None)
        else {
          val (u, c) = CfTime.netcdf3TimeAttrs(path, n)
          GridOpen.RawAxis(k, n, u, c, Some(arrayValues(path, n)))
        }
      }
    }
    def cfAttrs(path: String, variable: String): CfDecode.CfAttrs =
      CfDecode.netcdf3CfAttrs(path, variable)
    def dimNames(path: String, variable: String): Seq[String] =
      CoordCrop.nc3DimNames(path, variable)
    def variablesIn(path: String): Set[String] =
      NetCDF3ChunkIngest.headerOf(path).vars.map(_.name).toSet
  }

  /** netCDF-4/HDF5 scene files, axes named by their dimension scales. */
  case object Hdf5 extends FileFormat("hdf5", "graft.sources.Hdf5DataSource",
      HDF5ChunkIngest) {
    def rawAxes(path: String, variable: String): Seq[GridOpen.RawAxis] = {
      val dims = dimNames(path, variable)
      GridOpen.checkRank(dims.length, s"$path/$variable")
      dims.zipWithIndex.map { case (n, k) =>
        if (n.startsWith("<unnamed")) GridOpen.RawAxis(k, s"dim_$k", None, None, None)
        else {
          val (u, c) = CfTime.hdf5TimeAttrs(path, n)
          GridOpen.RawAxis(k, n, u, c, Some(arrayValues(path, n)))
        }
      }
    }
    def cfAttrs(path: String, variable: String): CfDecode.CfAttrs =
      CfDecode.hdf5CfAttrs(path, variable)
    def dimNames(path: String, variable: String): Seq[String] =
      CoordCrop.hdf5DimNames(path, variable)
    // datasets carrying a DIMENSION_LIST
    def variablesIn(path: String): Set[String] = {
      val in = new PagedFileInput(path)
      try HDF5.dimensionNames(in).keySet finally in.close()
    }
  }

  /** Every format, in the order unknown-name messages list them. */
  private[sources] val all: Seq[GridFormat] = Seq(Zarr, NetCDF3, Hdf5)

  /** The format a name (as persisted in a manifest) stands for; an
    * unknown name fails loudly. */
  def named(s: String): GridFormat = all.find(_.name == s).getOrElse(throw
    new IllegalArgumentException(
      s"unknown grid format '$s' (${all.map(_.name).mkString("/")})"))
}
