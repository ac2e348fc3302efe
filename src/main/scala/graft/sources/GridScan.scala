package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.metric.{CustomMetric, CustomSumMetric, CustomTaskMetric}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.vectorized.{ConstantColumnVector, OnHeapColumnVector}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch}
import org.apache.spark.unsafe.types.UTF8String

/** The one DataSourceV2 scan over gridded stores: zarr v2/v3 stores
  * (ZEP-2 sharded v3 arrays included), netCDF classic files and
  * netCDF-4/HDF5 files all mount through it, each provider naming its
  * [[GridFormat]]:
  *
  * {{{
  * spark.read.format("graft.sources.ZarrDataSource") // or Hdf5DataSource,
  *   .option("path", "/data/scenes")   // NetCDF3DataSource; a store, a dir
  *   .load()                           // of stores, a file, a glob or a URI
  *   // (path, dataset, idx, value, d0, d1, d2, d3)
  *   .where($"dataset" === "grp/lwp")  // FILTER PUSHDOWN prunes chunks
  *   .where($"d0".between(a, b))       // BOX PUSHDOWN prunes the grid
  *   .select("idx")                    // COLUMN PRUNING: no payload read
  * }}}
  *
  * Split planning IS the chunk map. The format plans on the driver
  * ([[GridFormat.plan]]) from metadata only — zarr array metadata and
  * shard index tails, the HDF5 paged manifest walk, the netCDF-3 header
  * prefix — into chunk tasks, each a byte window with its global-index
  * box. `path`/`dataset` equality and IN filters prune stores and
  * variables before their metadata is read, `idx` and `dK` ranges and
  * And/Or trees (the catalog crop's per-store disjunction) prune tasks
  * on their box, and `hulls` intersects a catalog store's own window
  * into that test. Every filter stays residual, so pruning is never a
  * correctness dependency. This scan slices the tasks into partitions,
  * so scan -> filter -> project carries no exchange.
  *
  * Reads are COLUMNAR: the format decodes each chunk once
  * ([[GridFormat.decode]]) into a [[GridScan.Block]], and one batch per
  * block fills `idx`, `value` and the in-rank `dK` one innermost run at
  * a time, with `path` and `dataset` as constant vectors. Rows come out
  * in task order, then C order inside each chunk. A projection without
  * `value` reads no payload byte. The scan reports `chunksDecoded` and
  * `bytesRead` as custom metrics. All byte access goes through
  * [[ByteStore]], so `file://`/`hdfs://`/`s3a://` stores mount like
  * local paths.
  *
  * Options: `path` (required), `partitions`, `hulls`, plus zarr's
  * `arrays` (an explicit store<TAB>array list that skips discovery) and
  * netCDF-3's `targetBytes` (record-batch size).
  *
  * Reference analog: convml_data reads granules and stores whole-file
  * via xarray (utils/luigi.py:29-47); this is the consolidated-store and
  * scene-catalog mount that world lacks.
  */
abstract class GridSource(format: GridFormat) extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GridScan.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GridTable(format, properties.asScala.toMap)
}

class ZarrDataSource extends GridSource(GridFormat.Zarr)
class Hdf5DataSource extends GridSource(GridFormat.Hdf5)
class NetCDF3DataSource extends GridSource(GridFormat.NetCDF3)

class GridTable(format: GridFormat, options: Map[String, String])
    extends Table with SupportsRead {
  private val path = options.getOrElse("path",
    throw new IllegalArgumentException(s"graft-${format.name} needs a path option"))
  override def name(): String = s"graft-${format.name}[$path]"
  override def schema(): StructType = GridScan.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new MountScanBuilder(GridScan.schema, Set("dataset", "path"),
        Set("idx") ++ MountDsv2.DimCols) {
      override def build(): Scan = new GridScan(format, path, options, required, pushed)
    }
}

/** One partition: a run of one kind of the format's chunk tasks. */
case class GridPartition(tasks: Seq[GridScan.Task]) extends InputPartition

class GridScan(format: GridFormat, path: String, options: Map[String, String],
    required: StructType, pushed: Array[Filter]) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-${format.name} scan $path cols=${required.fieldNames.mkString(",")} " +
      s"pushed=${pushed.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val prune = new GridScan.Prune(pushed, options.get("hulls").map(MountDsv2.parseHulls))
    val kinds = format.plan(path, options, prune).filter(_.nonEmpty)
    val total = kinds.map(_.size).sum
    if (total == 0) return Array.empty
    val par = MountDsv2.parallelism(s"graft-${format.name}",
      options.get("partitions").map(_.toInt), total)
    // a partition holds one kind only; each kind gets a share of `par`
    // proportional to its task count (at least one), the last kind the
    // rest, so task counts per partition stay balanced
    var left = par
    kinds.zipWithIndex.flatMap { case (ts, i) =>
      val share =
        if (i == kinds.size - 1) math.max(1, left)
        else math.max(1, (par.toLong * ts.size / total).toInt)
      left -= share
      MountDsv2.slice(ts, share).map(GridPartition(_): InputPartition)
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GridReaderFactory(format, required, MountDsv2.confSnapshot())

  // every partition reads columnar, so the plan needs no partition list
  // to decide (Spark rejects a scan that mixes the two)
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new GridChunksDecodedMetric, new GridBytesReadMetric)
}

/** The scan's custom metrics, summed over tasks: chunks (shard-inner
  * chunks, HDF5 chunks, netCDF-3 record batches) decoded, and store
  * bytes read for them. Counted per chunk or read span, never per row. */
class GridChunksDecodedMetric extends CustomSumMetric {
  override def name(): String = "chunksDecoded"
  override def description(): String = "grid chunks decoded"
}

class GridBytesReadMetric extends CustomSumMetric {
  override def name(): String = "bytesRead"
  override def description(): String = "grid chunk bytes read"
}

class GridReaderFactory(format: GridFormat, required: StructType,
    hadoopOverrides: Map[String, String]) extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException(s"graft-${format.name} reads are columnar")

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] = {
    ByteStore.install(hadoopOverrides) // executor JVMs have no session
    val stats = new GridScan.ReadStats
    val files = new GridScan.OpenFiles
    val blocks = format.decode(partition.asInstanceOf[GridPartition].tasks,
      required.fieldNames.contains("value"), stats, files)
    new GridBatchReader(required, stats, blocks, files)
  }
}

/** One [[ColumnarBatch]] per block: `path` and `dataset` — and `dK` past
  * the array's rank — are constant vectors; `idx`, `value` and the
  * in-rank `dK` are filled one innermost run at a time by
  * [[GridScan.foreachRun]]. The filled vectors are reused from batch to
  * batch: a batch is valid until the next `next()`, as with Spark's own
  * vectorized readers. */
private final class GridBatchReader(required: StructType, stats: GridScan.ReadStats,
    blocks: Iterator[GridScan.Block], files: GridScan.OpenFiles)
    extends PartitionReader[ColumnarBatch] {
  // per field: -2 path, -1 dataset, 4 idx, 5 value, 0..3 the dimension K of dK
  private val kinds: Array[Int] = required.fieldNames.map {
    case "path" => -2
    case "dataset" => -1
    case "idx" => 4
    case "value" => 5
    case d => MountDsv2.DimCols.indexOf(d)
  }
  private val filled: Array[OnHeapColumnVector] =
    required.fields.map(f => if (f.dataType == StringType) null
      else new OnHeapColumnVector(0, f.dataType))
  private var batch: ColumnarBatch = _

  private def constant(n: Int, dt: DataType)(set: ConstantColumnVector => Unit) = {
    val v = new ConstantColumnVector(n, dt)
    set(v)
    v
  }

  override def next(): Boolean = {
    if (!blocks.hasNext) return false
    val b = blocks.next()
    val n = b.rows
    val rank = b.shape.length
    val cols = new Array[ColumnVector](kinds.length)
    var i = 0
    while (i < kinds.length) {
      cols(i) = kinds(i) match {
        case -2 => constant(n, StringType)(_.setUtf8String(UTF8String.fromString(b.store)))
        case -1 => constant(n, StringType)(_.setUtf8String(UTF8String.fromString(b.dataset)))
        case k if k < 4 && k >= rank => constant(n, LongType)(_.setLong(0L))
        case _ => filled(i).reserve(n); filled(i)
      }
      i += 1
    }
    var row = 0
    GridScan.foreachRun(b) { (k0, g0, coords, len) =>
      var f = 0
      while (f < kinds.length) {
        val v = filled(f)
        kinds(f) match {
          case 4 => var j = 0; while (j < len) { v.putLong(row + j, g0 + j); j += 1 }
          case 5 =>
            if (b.values == null) v.putDoubles(row, len, b.fill)
            else v.putDoubles(row, len, b.values, k0)
          case k if k >= 0 && k < rank - 1 => v.putLongs(row, len, coords(k))
          case k if k >= 0 && k == rank - 1 =>
            var j = 0; while (j < len) { v.putLong(row + j, coords(k) + j); j += 1 }
          case _ => () // constant column
        }
        f += 1
      }
      row += len
    }
    batch = new ColumnarBatch(cols, n)
    true
  }

  override def get(): ColumnarBatch = batch

  override def currentMetricsValues(): Array[CustomTaskMetric] = Array(
    GridBatchReader.metric("chunksDecoded", stats.chunks),
    GridBatchReader.metric("bytesRead", stats.bytes))

  override def close(): Unit = {
    filled.foreach(v => if (v != null) v.close())
    files.close()
  }
}

private object GridBatchReader {
  def metric(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}

object GridScan {
  /** `d0..d3` are the element's per-dimension coordinates (row-major;
    * 0 past the array's rank). Range predicates on them prune chunks by
    * per-dimension box intersection, the bbox-crop access pattern a
    * linear `idx` range cannot express on non-leading dimensions. */
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("dataset", StringType, nullable = false),
    StructField("idx", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)) ++
    MountDsv2.DimCols.map(StructField(_, LongType, nullable = false)))

  /** One chunk task of a format's plan, shipped to an executor inside a
    * [[GridPartition]]; only the format that planned it decodes it. */
  trait Task extends Serializable

  /** The steps that differ by format, behind each [[GridFormat]]
    * (shipped with it to the executors). */
  trait Codec extends Serializable {
    /** The mount's chunk tasks surviving `prune`, one list per kind. */
    private[sources] def plan(path: String, options: Map[String, String],
        prune: Prune): Seq[Seq[Task]]
    /** One partition's tasks as blocks, in task order. */
    private[sources] def decode(tasks: Seq[Task], withValues: Boolean,
        stats: ReadStats, files: OpenFiles): Iterator[Block]
    /** Every block of one variable of one store, values read. */
    private[sources] def arrayBlocks(store: String, variable: String,
        files: OpenFiles): Iterator[Block]
  }

  /** The pushed filters and catalog hulls a plan prunes on. */
  private[sources] final class Prune(pushed: Array[Filter],
      hulls: Option[Map[String, IndexedSeq[MountDsv2.IdxRange]]]) {
    val range: MountDsv2.IdxRange = MountDsv2.idxRange(pushed)
    private val dimRs = MountDsv2.dimRanges(pushed)
    val trees: Array[Filter] = MountDsv2.treeFilters(pushed)

    /** Can store `p` hold a surviving row? A store excluded here never
      * has its metadata read. */
    def store(p: String): Boolean = MountDsv2.keep(pushed, "path", p) &&
      MountDsv2.ctxKeep(trees, MountDsv2.PruneCtx(path = Some(p)))

    /** Can variable `v` of store `p` hold a surviving row? */
    def variable(p: String, v: String): Boolean = MountDsv2.keep(pushed, "dataset", v) &&
      MountDsv2.ctxKeep(trees, MountDsv2.PruneCtx(Some(p), Some(v)))

    /** The pushed per-dim ranges intersected with store `p`'s hull (the
      * join-form catalog crop; pruning only, the residual stays exact). */
    def dimRanges(p: String): IndexedSeq[MountDsv2.IdxRange] =
      MountDsv2.effDimRanges(hulls, p, dimRs)

    /** Can the row-major box at `origin` with `extent` inside `shape`
      * (a chunk, a shard, a record batch) hold a surviving row? Tests its
      * closed-form idx window, its per-dim box and the filter trees. */
    def box(p: String, v: String, origin: Seq[Long], extent: Seq[Long],
        shape: Seq[Long]): Boolean = {
      val (lo, hi) = MountDsv2.boxBounds(origin, extent, shape)
      range.intersects(lo, hi) &&
        MountDsv2.boxKeep(origin, extent, shape, dimRanges(p)) &&
        (trees.isEmpty || MountDsv2.boxTreeKeep(trees, p, v, (lo, hi), origin, extent, shape))
    }
  }

  /** Chunks decoded and store bytes read by one reader, counted per
    * chunk or per read span — the scan reports them as its
    * `chunksDecoded`/`bytesRead` metrics. */
  private[sources] final class ReadStats {
    var chunks = 0L
    var bytes = 0L
  }

  /** One open file per reader: tasks arrive file by file, so a reader
    * reopens only when the path changes, and closes the last one. */
  private[sources] final class OpenFiles {
    private var in: ByteStore.ReadAt = null
    def apply(p: String): ByteStore.ReadAt = {
      if (in == null || in.path != p) {
        close()
        in = ByteStore.open(p)
      }
      in
    }
    def close(): Unit = if (in != null) { in.close(); in = null }
  }

  /** One decoded chunk of variable `dataset` in `store`: the box at
    * `origin` with per-dimension `extent` inside the array `shape`, and
    * its values in C order over the full extent, pad region included.
    * `values` is null when the chunk is absent (every element reads
    * `fill`) or when the caller asked for indexes only (its bytes were
    * never read). */
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
    * order of the scan (task order, then C order inside each chunk). A
    * rank-0 (scalar) block is one run of one element. */
  private[sources] def foreachRun(b: Block)(f: RunVisitor): Unit = {
    if (b.rows == 0) return
    val rank = b.shape.length
    if (rank == 0) { f.run(0, 0L, Array.emptyLongArray, 1); return }
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

  /** A whole variable in global C order from its blocks (absent chunks
    * as their fill); empty when there are none. Driver-side coordinate
    * reads: each block is copied into place run by run. */
  private[sources] def scatter(blocks: Iterator[Block]): Array[Double] = {
    var out: Array[Double] = Array.emptyDoubleArray
    blocks.foreach { b =>
      if (out.isEmpty) out = Array.fill(b.shape.product.toInt)(b.fill)
      if (b.values != null)
        foreachRun(b)((k0, g0, _, len) => System.arraycopy(b.values, k0, out, g0.toInt, len))
    }
    out
  }
}
