package graft.sources

import org.apache.spark.sql.connector.read.{ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.StructType

/** Shared scaffolding for the DSv2 mounts (the grid scan over HDF5 /
  * zarr / netCDF-3, plus Arrow and npy), so sibling behavior can't
  * drift: ONE place defines
  * which filters push into the plan phase, how a pushed filter prunes,
  * how tasks slice into InputPartitions, and the plan-time parallelism
  * rule.
  *
  * Contract (every mount): pushFilters accepts `dataset`/`path`
  * equality + IN for plan-phase task pruning and `idx` range
  * predicates for chunk-grid pruning, but ALL filters stay residual
  * (returned to Spark), so Spark re-evaluates them — a prune can only
  * ever drop tasks the filter provably excludes, never decide
  * correctness. `idx` pruning is the P2-spatial-crop access pattern at
  * mount level: a bbox slice of a 100 TB store must PLAN only its
  * chunks, and since every format's chunk grid is closed-form, the
  * [min, max] global-linear-index window of each task is pure
  * arithmetic.
  *
  * Naming caveat: npy's pushable index column is `row` (its surface is
  * a 2-D row-major matrix), not `idx`/`dK` — `WHERE idx ...` against
  * the npy mount is an unknown column, and any filter that doesn't
  * push stays residual-correct but plans every task.
  */
object MountDsv2 {

  /** Inclusive [lo, hi] bound on `idx` implied by the pushed filters;
    * `full` when none push. `lo > hi` = provably empty. */
  final case class IdxRange(lo: Long, hi: Long) {
    def isEmpty: Boolean = lo > hi
    def isFull: Boolean = lo == Long.MinValue && hi == Long.MaxValue
    /** Does a task whose idx values span [min, max] survive the range? */
    def intersects(min: Long, max: Long): Boolean =
      !isEmpty && max >= lo && min <= hi
  }

  val FullRange: IdxRange = IdxRange(Long.MinValue, Long.MaxValue)

  /** The per-dimension coordinate columns the GRIDDED mounts (zarr /
    * HDF5 / netCDF-3) expose alongside the linear `idx`: `dK` is the
    * row-major coordinate of the element in dimension K (0 for K past
    * the array's rank). Range predicates on them prune chunks by
    * per-dimension interval intersection of the chunk box — the
    * reference's 2-D bbox crop (convml-data pipeline/sampling.py:75-173)
    * at mount level, which a linear `idx` range cannot express for
    * slices on non-leading dimensions. Four covers the reference's data
    * model ((time, y, x) grids plus one level/channel axis); higher-rank
    * arrays still mount — d0..d3 address their leading four axes and
    * deeper axes just don't prune. */
  val DimCols: IndexedSeq[String] = IndexedSeq("d0", "d1", "d2", "d3")

  /** The filters a mount accepts for plan-phase pruning: equality/IN on
    * the string identity columns, range/equality/IN on the Long index
    * columns (linear `idx` and the `dK` coordinates, when the mount
    * exposes them), plus And/Or TREES of those leaves — the catalog
    * crop's per-store disjunction `(path = s1 AND d0 BETWEEN ...) OR
    * (path = s2 AND ...)`, which Spark pushes as one Or filter.
    * Everything else is untouched (and even accepted filters stay
    * residual in the caller). */
  def acceptFilters(filters: Array[Filter], stringCols: Set[String],
      longCols: Set[String]): Array[Filter] = {
    def ok(f: Filter): Boolean = f match {
      case And(a, b) => ok(a) && ok(b)
      case Or(a, b) => ok(a) && ok(b)
      case EqualTo(c, _: String) => stringCols(c)
      case In(c, vs) if stringCols(c) => vs.forall(_.isInstanceOf[String])
      case EqualTo(c, _: Long) => longCols(c)
      case GreaterThan(c, _: Long) => longCols(c)
      case GreaterThanOrEqual(c, _: Long) => longCols(c)
      case LessThan(c, _: Long) => longCols(c)
      case LessThanOrEqual(c, _: Long) => longCols(c)
      case In(c, vs) if longCols(c) => vs.nonEmpty && vs.forall(_.isInstanceOf[Long])
      case IsNotNull(c) => stringCols(c) || longCols(c) // trivially true: cols are non-nullable
      case _ => false
    }
    filters.filter(ok)
  }

  // ---- Tree-shaped pushed filters (the catalog crop) --------------------

  /** What a planning level knows about a candidate unit of work. `None`
    * = unknown at this level (store-level pruning knows only the path;
    * chunk-level knows everything) — unknown is always conservative-
    * true in [[mayMatch]]. `dims` is the task box's inclusive
    * coordinate interval per dimension; axes past its length read as
    * the constant 0 the mounts emit. */
  final case class PruneCtx(
      path: Option[String] = None,
      dataset: Option[String] = None,
      idx: Option[(Long, Long)] = None,
      dims: Option[IndexedSeq[(Long, Long)]] = None,
      idxCol: String = "idx")

  /** The And/Or trees among the pushed filters — the only shapes the
    * conjunctive fold functions ([[keep]]/[[idxRange]]/[[dimRanges]])
    * can't see. Empty for plain conjunctions, letting call sites skip
    * the per-task ctx build entirely. */
  def treeFilters(pushed: Array[Filter]): Array[Filter] =
    pushed.filter { case _: Or | _: And => true; case _ => false }

  /** Do ALL `trees` possibly hold for some row described by `ctx`?
    * The task prune for tree-shaped filters: false = provably no row
    * of this unit can pass, so it never plans. Pruning only — every
    * pushed filter stays residual, so a conservative `true` costs I/O,
    * never correctness. */
  def ctxKeep(trees: Array[Filter], ctx: PruneCtx): Boolean =
    trees.isEmpty || trees.forall(mayMatch(_, ctx))

  /** Three-valued satisfiability of one filter tree against `ctx`:
    * can ANY row in the described box match? And/Or recurse; string
    * leaves test the known identity; Long leaves fold to an interval
    * test against the box's interval on that column; anything unknown
    * or unsupported is conservative-true. An In over Longs tests the
    * [min, max] SPAN (a superset — exactness is the residual's job). */
  def mayMatch(f: Filter, ctx: PruneCtx): Boolean = f match {
    case And(a, b) => mayMatch(a, ctx) && mayMatch(b, ctx)
    case Or(a, b) => mayMatch(a, ctx) || mayMatch(b, ctx)
    case EqualTo(c, v: String) => strVal(c, ctx).forall(_ == v)
    case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      strVal(c, ctx).forall(vs.contains)
    case EqualTo(c, v: Long) => intervalKeep(c, v, v, ctx)
    case GreaterThanOrEqual(c, v: Long) => intervalKeep(c, v, Long.MaxValue, ctx)
    case GreaterThan(c, v: Long) =>
      v != Long.MaxValue && intervalKeep(c, v + 1, Long.MaxValue, ctx)
    case LessThanOrEqual(c, v: Long) => intervalKeep(c, Long.MinValue, v, ctx)
    case LessThan(c, v: Long) =>
      v != Long.MinValue && intervalKeep(c, Long.MinValue, v - 1, ctx)
    case In(c, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Long]) =>
      val ls = vs.map(_.asInstanceOf[Long])
      intervalKeep(c, ls.min, ls.max, ctx)
    case _ => true // IsNotNull, unknown leaves: conservative
  }

  private def strVal(c: String, ctx: PruneCtx): Option[String] = c match {
    case "path" => ctx.path
    case "dataset" => ctx.dataset
    case _ => None
  }

  /** Does the box's interval on column `c` intersect [lo, hi]? Unknown
    * columns/levels are conservative-true. */
  private def intervalKeep(c: String, lo: Long, hi: Long, ctx: PruneCtx): Boolean = {
    val iv: Option[(Long, Long)] =
      if (c == ctx.idxCol) ctx.idx
      else {
        val k = DimCols.indexOf(c)
        if (k < 0) None
        else ctx.dims.map(ds => if (k < ds.length) ds(k) else (0L, 0L))
      }
    iv.forall { case (a, b) => b >= lo && a <= hi }
  }

  /** Per-dimension inclusive coordinate intervals of one row-major box
    * (shape-clipped); None when the clip is empty in any dimension —
    * such a box can never emit a row. The [[PruneCtx.dims]] of a chunk
    * task. */
  def boxIntervals(origin: Seq[Long], box: Seq[Long],
      dims: Seq[Long]): Option[IndexedSeq[(Long, Long)]] = {
    val out = IndexedSeq.newBuilder[(Long, Long)]
    var d = 0
    while (d < dims.size) {
      val hi = math.min(origin(d) + box(d), dims(d)) - 1
      if (hi < origin(d)) return None
      out += ((origin(d), hi))
      d += 1
    }
    Some(out.result())
  }

  /** The full tree-prune for one chunk task: build its ctx from the
    * box and test every tree. Call only when [[treeFilters]] is
    * non-empty (the common no-tree plan skips the ctx build). */
  def boxTreeKeep(trees: Array[Filter], path: String, dataset: String,
      idxBounds: (Long, Long), origin: Seq[Long], box: Seq[Long],
      dims: Seq[Long]): Boolean =
    boxIntervals(origin, box, dims) match {
      case None => false
      case ivs => ctxKeep(trees, PruneCtx(Some(path), Some(dataset),
        Some(idxBounds), ivs))
    }

  /** The [lo, hi] HULL of `col` values that can satisfy `f` for the
    * FIXED identity (path, dataset): None = f provably cannot match
    * this identity at all; FullRange = f does not constrain `col`.
    * Interval algebra over the tree — And intersects, Or unions (a
    * branch naming another store contributes nothing), Long leaves on
    * `col` fold to intervals, string leaves test the identity, and
    * anything unknown is conservative-FULL. Sound for NARROWING only:
    * the hull is a superset of the satisfying values (exactness stays
    * the residual's job), which is what lets a record/batch reader
    * shrink its read window under a per-store catalog disjunction —
    * each store's branch yields exactly that store's pushed range. */
  def colHull(f: Filter, col: String, path: String,
      dataset: String): Option[IdxRange] = f match {
    case And(a, b) =>
      (colHull(a, col, path, dataset), colHull(b, col, path, dataset)) match {
        case (Some(x), Some(y)) =>
          val r = IdxRange(math.max(x.lo, y.lo), math.min(x.hi, y.hi))
          if (r.isEmpty) None else Some(r)
        case _ => None
      }
    case Or(a, b) =>
      (colHull(a, col, path, dataset), colHull(b, col, path, dataset)) match {
        case (Some(x), Some(y)) =>
          Some(IdxRange(math.min(x.lo, y.lo), math.max(x.hi, y.hi)))
        case (x @ Some(_), None) => x
        case (None, y) => y
      }
    case EqualTo("path", v: String) =>
      if (v == path) Some(FullRange) else None
    case EqualTo("dataset", v: String) =>
      if (v == dataset) Some(FullRange) else None
    case In("path", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      if (vs.contains(path)) Some(FullRange) else None
    case In("dataset", vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[String]) =>
      if (vs.contains(dataset)) Some(FullRange) else None
    case EqualTo(`col`, v: Long) => Some(IdxRange(v, v))
    case GreaterThanOrEqual(`col`, v: Long) =>
      Some(IdxRange(v, Long.MaxValue))
    case GreaterThan(`col`, v: Long) =>
      if (v == Long.MaxValue) None else Some(IdxRange(v + 1, Long.MaxValue))
    case LessThanOrEqual(`col`, v: Long) =>
      Some(IdxRange(Long.MinValue, v))
    case LessThan(`col`, v: Long) =>
      if (v == Long.MinValue) None else Some(IdxRange(Long.MinValue, v - 1))
    case In(`col`, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Long]) =>
      val ls = vs.map(_.asInstanceOf[Long])
      Some(IdxRange(ls.min, ls.max))
    case _ => Some(FullRange) // other columns / unknown shapes: no constraint
  }

  /** Does string value `v` of column `col` survive every pushed filter? */
  def keep(pushed: Array[Filter], col: String, v: String): Boolean =
    pushed.forall {
      case EqualTo(`col`, want: String) => v == want
      case In(`col`, vs) => vs.contains(v)
      case _ => true
    }

  /** Fold the pushed `idx` predicates into one inclusive range.
    * IN folds to [min, max] — a superset, exactness restored by the
    * residual filter. Saturating arithmetic: `idx > Long.MaxValue` is
    * provably empty, never a wrapped bound. */
  def idxRange(pushed: Array[Filter], col: String = "idx"): IdxRange = {
    var lo = Long.MinValue
    var hi = Long.MaxValue
    pushed.foreach {
      case EqualTo(`col`, v: Long) => lo = math.max(lo, v); hi = math.min(hi, v)
      case GreaterThanOrEqual(`col`, v: Long) => lo = math.max(lo, v)
      case GreaterThan(`col`, v: Long) =>
        if (v == Long.MaxValue) { lo = 1; hi = 0 } else lo = math.max(lo, v + 1)
      case LessThanOrEqual(`col`, v: Long) => hi = math.min(hi, v)
      case LessThan(`col`, v: Long) =>
        if (v == Long.MinValue) { lo = 1; hi = 0 } else hi = math.min(hi, v - 1)
      case In(`col`, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Long]) =>
        val ls = vs.map(_.asInstanceOf[Long])
        lo = math.max(lo, ls.min); hi = math.min(hi, ls.max)
      case _ => ()
    }
    IdxRange(lo, hi)
  }

  /** One [[IdxRange]] per [[DimCols]] entry, folded from the pushed
    * `dK` predicates (all-full when none push). */
  def dimRanges(pushed: Array[Filter]): IndexedSeq[IdxRange] =
    DimCols.map(idxRange(pushed, _))

  /** Does a row-major box (origin + extent inside `dims`) survive every
    * per-dimension coordinate range? Dimension K of the box covers
    * coordinates [origin(K), min(origin(K)+box(K), dims(K)) - 1];
    * dimensions past the array's rank read as coordinate 0 (what the
    * mounts emit for them), so a range there must contain 0. Unlike the
    * linear [[boxBounds]] window — whose [lo, hi] SPAN includes indexes
    * the box doesn't fill — this test is per-dimension exact, so a
    * bbox on non-leading dimensions prunes every non-intersecting
    * chunk. Filters stay residual; pruning is never correctness. */
  def boxKeep(origin: Seq[Long], box: Seq[Long], dims: Seq[Long],
      ranges: IndexedSeq[IdxRange]): Boolean = {
    var d = 0
    val n = math.max(ranges.length, dims.size)
    while (d < n) {
      if (d < dims.size) {
        val hi = math.min(origin(d) + box(d), dims(d)) - 1
        // a box that clips to empty in ANY dimension (an out-of-shape
        // grid cell of a padded shard) can never emit a row — prune it
        // even when no range pushed on that dimension
        if (hi < origin(d)) return false
        if (d < ranges.length && !ranges(d).isFull &&
          !ranges(d).intersects(origin(d), hi)) return false
      } else if (!ranges(d).isFull && !ranges(d).intersects(0L, 0L))
        return false
      d += 1
    }
    true
  }

  /** True when no `dK` predicate pushed (skip the per-task box test). */
  def allFull(ranges: IndexedSeq[IdxRange]): Boolean = ranges.forall(_.isFull)

  // ---- per-store dim hulls (the join-form catalog crop) ------------------
  // Above GridOpen.residualJoinAbove the catalog crop's pushed filters
  // carry only `path IN` + the per-dimension UNION envelope (the exact
  // per-store ranges move to a broadcast-join residual), so the scan
  // would lose per-STORE chunk pruning: a surviving store's chunks
  // outside its own window but inside the union would read-then-filter.
  // The `hulls` option restores parity — the catalog opens serialize
  // each surviving store's exact per-dimension index windows, and the
  // mounts intersect them into the chunk-box tests for that store.
  // PRUNING ONLY, exactly like pushed filters: the broadcast-join
  // residual enforces row-level exactness, so a missing or stale entry
  // costs I/O, never correctness.

  /** One line per store: `path<TAB>k:lo:hi[;k:lo:hi...]` (k indexes
    * [[DimCols]]; both bounds inclusive). */
  def serializeHulls(
      surviving: Seq[(String, Seq[(Int, (Int, Int))])]): String =
    surviving.map { case (p, rs) =>
      p + "\t" + rs.map { case (k, (lo, hi)) => s"$k:$lo:$hi" }.mkString(";")
    }.mkString("\n")

  /** Inverse of [[serializeHulls]]: per-path range vectors aligned to
    * [[DimCols]] (full where a dimension has no window). Every parse
    * failure — non-numeric k/lo/hi, k outside [[DimCols]] — raises the
    * same domain IllegalArgumentException: hulls are written by
    * [[serializeHulls]] in the same release, so a malformed or
    * out-of-range entry is serializer/deserializer skew worth failing
    * loudly on, not an input to tolerate (silently ignoring it would
    * hide the skew behind correct-but-unpruned reads). */
  def parseHulls(s: String): Map[String, IndexedSeq[IdxRange]] =
    s.split('\n').iterator.filter(_.nonEmpty).map { line =>
      val tab = line.indexOf('\t')
      require(tab >= 0, s"malformed hulls line: '$line'")
      val p = line.substring(0, tab)
      val ranges = Array.fill(DimCols.length)(FullRange)
      line.substring(tab + 1).split(';').filter(_.nonEmpty).foreach { r =>
        val parts = r.split(':')
        require(parts.length == 3, s"malformed hull range '$r' in '$line'")
        val (k, lo, hi) =
          try (parts(0).toInt, parts(1).toLong, parts(2).toLong)
          catch { case _: NumberFormatException =>
            throw new IllegalArgumentException(
              s"malformed hull range '$r' in '$line'")
          }
        require(k >= 0 && k < ranges.length,
          s"malformed hull range '$r' in '$line': dimension index $k " +
            s"outside [0, ${ranges.length})")
        ranges(k) = IdxRange(lo, hi)
      }
      p -> ranges.toIndexedSeq
    }.toMap

  /** Per-dimension intersection of two [[DimCols]]-aligned vectors. */
  def intersectRanges(a: IndexedSeq[IdxRange],
      b: IndexedSeq[IdxRange]): IndexedSeq[IdxRange] =
    a.zip(b).map { case (x, y) =>
      IdxRange(math.max(x.lo, y.lo), math.min(x.hi, y.hi)) }

  /** The effective per-dim ranges for one store: the pushed global
    * ranges intersected with the store's hull (when one is mounted). */
  def effDimRanges(hulls: Option[Map[String, IndexedSeq[IdxRange]]],
      path: String, dimRs: IndexedSeq[IdxRange]): IndexedSeq[IdxRange] =
    hulls.flatMap(_.get(path)).map(intersectRanges(dimRs, _))
      .getOrElse(dimRs)

  /** Row-major strides of `dims` (element counts, not bytes): the
    * readers' coordinate arithmetic `coord(d) = idx / stride(d) %
    * dims(d)`. */
  def rowStrides(dims: Seq[Long]): Array[Long] =
    dims.scanRight(1L)(_ * _).tail.toArray

  /** Coordinate of global linear index `gi` in dimension `d`; 0 past
    * the rank (constant columns stay cheap and prunable). */
  def coordOf(gi: Long, strides: Array[Long], dims: Seq[Long], d: Int): Long =
    if (d < strides.length) (gi / strides(d)) % dims(d) else 0L

  /** Inclusive global-linear-index bounds of one row-major box (a
    * chunk): linearization is monotone in each coordinate, so the box's
    * extreme indexes sit at its corners — min at `origin`, max at the
    * shape-clipped far corner. The box SPANS [lo, hi] but doesn't fill
    * it; pruning on the bound is a superset, exactness restored by the
    * residual filter. */
  def boxBounds(origin: Seq[Long], box: Seq[Long], dims: Seq[Long]): (Long, Long) = {
    require(origin.size == box.size && box.size == dims.size,
      s"box rank mismatch: $origin / $box / $dims")
    val strides = dims.scanRight(1L)(_ * _).tail
    var lo = 0L
    var hi = 0L
    var d = 0
    while (d < dims.size) {
      lo += origin(d) * strides(d)
      hi += math.min(origin(d) + box(d) - 1, dims(d) - 1) * strides(d)
      d += 1
    }
    (lo, hi)
  }

  /** Driver-side (createReaderFactory / pre-mapPartitions): capture the
    * planning session's hadoop-conf deltas so reader factories and
    * ingest closures can [[ByteStore.install]] them on executor JVMs —
    * where no SparkSession exists and driver-set s3a credentials would
    * otherwise be invisible. */
  def confSnapshot(): Map[String, String] =
    ByteStore.confSnapshot(org.apache.spark.sql.SparkSession.active)

  /** Plan-time parallelism: the explicit `partitions` option, else the
    * planning session's defaultParallelism capped by the task count.
    * DRIVER-SIDE ONLY — `SparkSession.active` is the planning session
    * inside `planInputPartitions`, which Spark always runs on the
    * driver; this must never be called from an executor (no session
    * exists there). */
  def parallelism(fmt: String, partitions: Option[Int], total: Int): Int = {
    val par = partitions.getOrElse(math.max(1, math.min(total,
      org.apache.spark.sql.SparkSession.active.sparkContext.defaultParallelism)))
    require(par > 0, s"$fmt: partitions option must be positive, got $par")
    par
  }

  /** Balanced contiguous slices (at most `par`), preserving task order —
    * tasks arrive (path, offset)-sorted so each slice's positioned reads
    * advance monotonically through one file region. */
  def slice[T](tasks: Seq[T], par: Int): Seq[Seq[T]] =
    if (tasks.isEmpty || par <= 0) Seq.empty
    else {
      val n = math.min(par, tasks.size)
      val sz = (tasks.size + n - 1) / n
      tasks.grouped(sz).toSeq
    }

  /** Read-request coalescing defaults: merge byte-adjacent windows when
    * the junk gap between them is at most [[DefaultMaxGap]] and the
    * merged span stays under [[DefaultMaxSpan]]. The gap trades wasted
    * bytes for saved round-trips — at object-store latency one extra
    * 64 KiB read costs far less than a second GET; the span cap bounds
    * a task's read-buffer memory. */
  val DefaultMaxGap: Long = 64L << 10
  val DefaultMaxSpan: Long = 8L << 20

  /** Coalesce (offset, length) byte windows — IN INPUT ORDER — into
    * read groups: index ranges [start, end) over the input such that
    * one positioned read of [first.offset, last.offset + last.length)
    * covers every window in the group. A new group starts whenever the
    * next window regresses or overlaps (defensive: planners emit
    * monotone non-overlapping windows), the gap to it exceeds `maxGap`,
    * or the merged span would exceed `maxSpan`. Zero-length windows
    * merge freely. This is the mounts' request-count lever on object
    * stores: chunk files written back-to-back (zarr shard inners, HDF5
    * contiguous chunk runs) collapse from one GET per chunk to one GET
    * per span. */
  /** Consecutive runs sharing a key, order preserved (tasks arrive
    * (path, offset)-sorted, so a run = one file's contiguous tasks). */
  def runs[T](ts: Seq[T])(key: T => Any): Seq[IndexedSeq[T]] = {
    if (ts.isEmpty) return Seq.empty
    val out = Seq.newBuilder[IndexedSeq[T]]
    val cur = IndexedSeq.newBuilder[T]
    var k = key(ts.head)
    ts.foreach { t =>
      if (key(t) != k) { out += cur.result(); cur.clear(); k = key(t) }
      cur += t
    }
    out += cur.result()
    out.result()
  }

  def coalesceWindows(windows: IndexedSeq[(Long, Long)],
      maxGap: Long = DefaultMaxGap, maxSpan: Long = DefaultMaxSpan): Seq[Range] = {
    windows.foreach { case (off, len) =>
      require(off >= 0 && len >= 0, s"negative byte window ($off, $len)") }
    if (windows.isEmpty) return Seq.empty
    val groups = Seq.newBuilder[Range]
    var start = 0
    var gStart = windows(0)._1
    var gEnd = windows(0)._1 + windows(0)._2
    var i = 1
    while (i < windows.length) {
      val (off, len) = windows(i)
      val end = off + len
      val ok = off >= gEnd && // monotone, no overlap with the group
        off - gEnd <= maxGap &&
        end - gStart <= maxSpan
      if (ok) gEnd = math.max(gEnd, end)
      else {
        groups += (start until i)
        start = i; gStart = off; gEnd = end
      }
      i += 1
    }
    groups += (start until windows.length)
    groups.result()
  }
}

/** The ScanBuilder shell every mount shares: column pruning into
  * `required`, filter pushdown via [[MountDsv2.acceptFilters]] with all
  * filters kept residual. Subclasses implement only `build()`. */
abstract class MountScanBuilder(defaultSchema: StructType,
    stringCols: Set[String], longCols: Set[String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {
  protected var required: StructType = defaultSchema
  protected var pushed: Array[Filter] = Array.empty

  final override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = MountDsv2.acceptFilters(filters, stringCols, longCols)
    filters // ALL residual: pruning is an optimization, never correctness
  }
  final override def pushedFilters(): Array[Filter] = pushed
  final override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
}
