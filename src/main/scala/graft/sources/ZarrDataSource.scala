package graft.sources

import java.util

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

/** DataSourceV2 facade over [[ZarrChunkIngest]] — zarr v2/v3 stores
  * (including ZEP-2 sharded v3 arrays) mount like any other format,
  * the symmetry partner of [[Hdf5DataSource]] and [[ArrowDataSource]]:
  *
  * {{{
  * spark.read.format("graft.sources.ZarrDataSource")
  *   .option("path", "/data/scenes")        // a store, a dir of stores, or a URI
  *   .load()                                // (path, dataset, idx, value)
  *   .where($"dataset" === "grp/lwp")       // FILTER PUSHDOWN prunes chunks
  *   .where($"idx".between(a, b))           // RANGE PUSHDOWN prunes the grid
  *   .select("idx")                         // COLUMN PRUNING: chunk bytes never read
  * }}}
  *
  * Split planning IS the chunk map: phase 1 (plan time, driver) parses
  * only array metadata — and for SHARDED v3 arrays only each shard's
  * crc32c-verified (offset, nbytes) index tail — then slices the task
  * list into InputPartitions, so the scan→filter→project plan carries
  * NO exchange. `dataset`/`path` equality and IN filters push into the
  * PLAN phase (pruned arrays' chunks are never planned), `idx` ranges
  * prune chunks (and shard-inner chunks) on their closed-form
  * [min, max] global-index windows — the spatial-crop access pattern —
  * and every filter stays residual, so pruning is an optimization,
  * never a correctness dependency. Column pruning reaches the byte
  * level: a projection without `value` walks the closed-form grid
  * only — chunk files are never opened, so existence/count scans over
  * a 100 TB store do metadata-proportional work (proven in
  * ZarrDataSourceSpec by reading a store whose chunk payloads are
  * CORRUPT: index-only projections succeed, value reads reject).
  *
  * Reads are COLUMNAR, one batch per chunk (or shard-inner chunk):
  * each chunk is decoded once, in one array-level pass with its dtype
  * resolved per array, into a [[ZarrChunkIngest.Block]]; `path` and
  * `dataset` are constant vectors, and `idx`, `value` and `d0..d3` are
  * filled by one index loop over the chunk's in-bounds box. Rows come
  * out in chunk order, then C order inside each chunk. The scan reports
  * `chunksDecoded` and `bytesRead` as custom metrics.
  *
  * Hierarchies NEST: discovery walks groups recursively (v2
  * `.zgroup`/`.zarray` markers, v3 `zarr.json` node_type), and nested
  * arrays are addressed by their group path in the `dataset` column
  * (`grp/sub/arr`) — the layout xarray writes for multi-variable model
  * output. All byte access goes through [[ByteStore]], so
  * `file://`/`hdfs://`/`s3a://` stores mount identically to local
  * paths — zarr's native habitat is exactly the object store.
  *
  * Reference analog: convml_data writes/reads zarr whole-array via
  * xarray (pipeline/embeddings/aux_fields/utils.py:46-53); this is the
  * consolidated-store mount that world lacks.
  */
class ZarrDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZarrDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new ZarrTable(properties.get("path"),
      Option(properties.get("dataset")),
      Option(properties.get("partitions")).map(_.toInt),
      Option(properties.get("arrays")).map(ZarrDataSource.parseArrays),
      Option(properties.get("hulls")).map(MountDsv2.parseHulls))
}

object ZarrDataSource {
  /** `d0..d3` are the element's per-dimension coordinates (row-major;
    * 0 past the array's rank) — range predicates on them prune chunks,
    * shards AND shard-inner chunks by per-dim box intersection, the
    * bbox-crop access pattern a linear `idx` range cannot express on
    * non-leading dimensions. */
  val schema: StructType = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("dataset", StringType, nullable = false),
    StructField("idx", LongType, nullable = false),
    StructField("value", DoubleType, nullable = false)) ++
    MountDsv2.DimCols.map(StructField(_, LongType, nullable = false)))

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
}

class ZarrTable(path: String, dataset: Option[String], partitions: Option[Int],
    arrays: Option[Seq[(String, String)]] = None,
    hulls: Option[Map[String, IndexedSeq[MountDsv2.IdxRange]]] = None)
    extends Table with SupportsRead {
  require(path != null, "graft-zarr needs a path option")
  override def name(): String = s"graft-zarr[$path]"
  override def schema(): StructType = ZarrDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new MountScanBuilder(ZarrDataSource.schema, Set("dataset", "path"),
        Set("idx") ++ MountDsv2.DimCols) {
      override def build(): Scan =
        new ZarrScan(path, dataset, partitions, required, pushed, arrays,
          hulls)
    }
}

/** One partition = a run of whole-chunk tasks or shard-inner tasks
  * (the two phase-1 granularities; an array is one or the other). */
case class ZarrChunkPartition(tasks: Seq[ZarrChunkIngest.ChunkTask])
    extends InputPartition
case class ZarrInnerPartition(tasks: Seq[ZarrChunkIngest.InnerTask])
    extends InputPartition

class ZarrScan(path: String, dataset: Option[String], partitions: Option[Int],
    required: StructType, pushed: Array[Filter],
    explicitArrays: Option[Seq[(String, String)]] = None,
    hulls: Option[Map[String, IndexedSeq[MountDsv2.IdxRange]]] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-zarr scan $path cols=${required.fieldNames.mkString(",")} " +
      s"pushed=${pushed.mkString(",")}"

  override def planInputPartitions(): Array[InputPartition] = {
    val range = MountDsv2.idxRange(pushed)
    val dimRs = MountDsv2.dimRanges(pushed)
    val trees = MountDsv2.treeFilters(pushed)
    // an explicit array list (manifest-planned catalogs) skips the
    // discovery walk: ZERO list/probe round trips at plan time
    val arrays = explicitArrays.getOrElse(ZarrDataSource.discover(path))
      // store-level prune: a store excluded here (path equality/IN, or
      // every branch of a catalog-crop disjunction naming other stores)
      // never has its per-array metadata read, let alone data
      .filter { case (s, _) => MountDsv2.keep(pushed, "path", s) &&
        MountDsv2.ctxKeep(trees, MountDsv2.PruneCtx(path = Some(s))) }
      .filter { case (s, a) => dataset.forall(_ == a) &&
        MountDsv2.keep(pushed, "dataset", a) &&
        MountDsv2.ctxKeep(trees, MountDsv2.PruneCtx(Some(s), Some(a))) }
    // per-array metadata work (array meta + surviving shards' index
    // tails) is independent round trips — one parMap wave, input order
    // kept so the task lists land (store, array)-sorted as before
    val perArray = ByteStore.parMap(arrays) { case (s, a) =>
      // join-form catalog crop: intersect THIS store's hull into the
      // per-dim ranges so its chunks prune on its own window, not just
      // the catalog-wide union envelope (pruning-only; the broadcast-
      // join residual enforces exactness)
      val effRs = MountDsv2.effDimRanges(hulls, s, dimRs)
      ZarrChunkIngest.metaOf(s, a) match {
        case Right(m) if m.sharding.isDefined =>
          // idx + dK prune at TWO granularities: whole shards whose
          // closed-form window (or per-dim box) misses never have
          // their index tails READ (metadata work proportional to
          // the crop), then surviving shards' inner-chunk windows
          // and boxes prune task-by-task
          (Seq.empty[ZarrChunkIngest.ChunkTask],
            ZarrChunkIngest.shardInnerTasks(s, a, ci => {
              val (lo, hi) = ZarrChunkIngest.shardIdxBounds(ci, m)
              range.intersects(lo, hi) &&
                ZarrChunkIngest.shardBoxKeep(ci, m, effRs) &&
                ZarrChunkIngest.shardTreeKeep(s, a, ci, m, trees)
            }).filter { t =>
              val (lo, hi) = ZarrChunkIngest.innerIdxBounds(t, m)
              range.intersects(lo, hi) &&
                ZarrChunkIngest.innerBoxKeep(t, m, effRs) &&
                ZarrChunkIngest.innerTreeKeep(t, m, trees)
            })
        case m =>
          (ZarrChunkIngest.chunkTasks(s, a).filter { t =>
            val (lo, hi) = ZarrChunkIngest.chunkIdxBounds(t, m)
            range.intersects(lo, hi) &&
              ZarrChunkIngest.chunkBoxKeep(t, m, effRs) &&
              ZarrChunkIngest.chunkTreeKeep(t, m, trees)
          }, Seq.empty[ZarrChunkIngest.InnerTask])
      }
    }
    val chunkTasks = perArray.flatMap(_._1)
    val innerTasks = perArray.flatMap(_._2)
    val total = chunkTasks.size + innerTasks.size
    if (total == 0) return Array.empty
    val par = MountDsv2.parallelism("graft-zarr", partitions, total)
    // proportional split keeps task counts per partition balanced;
    // inner tasks are already (shard, offset)-ordered from phase 1, so
    // each slice's positioned reads advance monotonically
    val cShare = math.max(if (chunkTasks.isEmpty) 0 else 1,
      (par.toLong * chunkTasks.size / total).toInt)
    val iShare = math.max(if (innerTasks.isEmpty) 0 else 1, par - cShare)
    (MountDsv2.slice(chunkTasks, cShare).map(ZarrChunkPartition(_): InputPartition) ++
      MountDsv2.slice(innerTasks, iShare).map(ZarrInnerPartition(_): InputPartition)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ZarrReaderFactory(required, MountDsv2.confSnapshot())

  // every partition kind reads columnar, so the plan needs no partition
  // list to decide (Spark rejects a scan that mixes the two)
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    Scan.ColumnarSupportMode.SUPPORTED

  override def supportedCustomMetrics(): Array[CustomMetric] =
    Array(new ZarrChunksDecodedMetric, new ZarrBytesReadMetric)
}

/** The scan's custom metrics, summed over tasks: chunk (or shard-inner
  * chunk) payloads decoded, and store bytes read for them. Counted per
  * chunk or read span, never per row. */
class ZarrChunksDecodedMetric extends CustomSumMetric {
  override def name(): String = "chunksDecoded"
  override def description(): String = "zarr chunks decoded"
}

class ZarrBytesReadMetric extends CustomSumMetric {
  override def name(): String = "bytesRead"
  override def description(): String = "zarr chunk bytes read"
}

class ZarrReaderFactory(required: StructType, hadoopOverrides: Map[String, String])
    extends PartitionReaderFactory {
  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("graft-zarr reads are columnar")

  override def createColumnarReader(
      partition: InputPartition): PartitionReader[ColumnarBatch] = {
    ByteStore.install(hadoopOverrides) // executor JVMs have no session
    val needValue = required.fieldNames.contains("value")
    val stats = new ZarrChunkIngest.ReadStats
    partition match {
      case ZarrChunkPartition(tasks) =>
        var cached: ((String, String), Either[Zarr.ArrayMeta, Zarr3.Meta]) = null
        new ZarrBatchReader(required, stats, tasks.iterator.map { t =>
          if (cached == null || cached._1 != ((t.store, t.dataset)))
            cached = ((t.store, t.dataset), ZarrChunkIngest.metaOf(t.store, t.dataset))
          ZarrChunkIngest.chunkBlock(t, cached._2, needValue, stats)
        }, () => ())

      case ZarrInnerPartition(tasks) =>
        var in: ByteStore.ReadAt = null
        def handleFor(p: String): ByteStore.ReadAt = {
          if (in == null || in.path != p) {
            if (in != null) in.close()
            in = ByteStore.open(p)
          }
          in
        }
        // tasks arrive (shard, offset)-ordered: per (store, dataset) run,
        // innerBlocks segments by shard file and coalesces byte-adjacent
        // inner-chunk windows into ONE positioned read per span
        val blocks = MountDsv2.runs(tasks)(t => (t.store, t.dataset)).iterator.flatMap { run =>
          val meta = ZarrChunkIngest.metaOf(run.head.store, run.head.dataset) match {
            case Right(m) => m
            case Left(_) => throw new IllegalArgumentException(
              "graft-zarr: v2 store planned as shard-inner")
          }
          ZarrChunkIngest.innerBlocks(run, meta, needValue, handleFor, stats)
        }
        new ZarrBatchReader(required, stats, blocks, () => if (in != null) in.close())
    }
  }
}

/** One [[ColumnarBatch]] per block (a chunk or a shard-inner chunk):
  * `path` and `dataset` — and `dK` past the array's rank — are constant
  * vectors; `idx`, `value` and the in-rank `dK` are filled one innermost
  * run at a time by [[ZarrChunkIngest.foreachRun]]. The filled vectors
  * are reused from batch to batch: a batch is valid until the next
  * `next()`, as with Spark's own vectorized readers. */
private final class ZarrBatchReader(required: StructType,
    stats: ZarrChunkIngest.ReadStats, blocks: Iterator[ZarrChunkIngest.Block],
    release: () => Unit) extends PartitionReader[ColumnarBatch] {
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
    ZarrChunkIngest.foreachRun(b) { (k0, g0, coords, len) =>
      var f = 0
      while (f < kinds.length) {
        val v = filled(f)
        kinds(f) match {
          case 4 => var j = 0; while (j < len) { v.putLong(row + j, g0 + j); j += 1 }
          case 5 =>
            if (b.values == null) v.putDoubles(row, len, b.fill)
            else v.putDoubles(row, len, b.values, k0)
          case k if k >= 0 && k < rank - 1 => v.putLongs(row, len, coords(k))
          case k if k == rank - 1 =>
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
    ZarrBatchReader.metric("chunksDecoded", stats.chunks),
    ZarrBatchReader.metric("bytesRead", stats.bytes))

  override def close(): Unit = {
    filled.foreach(v => if (v != null) v.close())
    release()
  }
}

private object ZarrBatchReader {
  def metric(n: String, v: Long): CustomTaskMetric = new CustomTaskMetric {
    override def name(): String = n
    override def value(): Long = v
  }
}
