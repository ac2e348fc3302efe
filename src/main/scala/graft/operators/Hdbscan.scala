package graft.operators

import graft.core.Checkpointing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** HDBSCAN with the reference's `min_cluster_size` / `min_samples`
  * contract (convml_data/pipeline/embeddings/transforms.py:87-102 parses
  * exactly those two for its density model) — the variable-density
  * deepening of the [[Dbscan]] slot.
  *
  * Semantics (Campello/Moulavi/Sander; the hdbscan library's defaults):
  *  - core distance c(p) = distance to the `minSamples`-th nearest
  *    neighbor, the point itself counted (so the (minSamples-1)-th
  *    nearest OTHER point);
  *  - mutual reachability mr(a,b) = max(d(a,b), c(a), c(b));
  *  - single-linkage dendrogram = MST of the mr graph;
  *  - condensed tree: walking splits from the root, a child with fewer
  *    than `minClusterSize` points "falls out" of its parent (its points
  *    leave at lambda = 1/w); a split into two large children births two
  *    new clusters; stability(C) = sum over points of
  *    (1/w_fall - 1/w_birth);
  *  - flat labels = the stability-maximal antichain (excess of mass),
  *    root never selectable (allow_single_cluster = False, the library
  *    default). Unselected points are noise (-1); cluster label = min
  *    member pid (deterministic, oracle-reproducible).
  *
  * Truncation: candidate pairs come from the SAME lossless eps-grid
  * bin join as [[Dbscan]], bounded by `epsMax` — pairs farther than
  * epsMax never join, i.e. the hierarchy is cut at lambda = 1/epsMax
  * (points needing longer links are noise). That keeps candidate
  * generation an integer-cell equi-join at any scale; pick epsMax at
  * the distance where "same cluster" stops being meaningful.
  *
  * Distributed shape: pairs / core distances / mutual-reachability
  * weights / Boruvka MST rounds are all DataFrame jobs (the MST round
  * reuses [[Dedup.connectedComponentsAltStar]] for contraction). The
  * condensed-tree extraction runs on the driver over the COLLECTED MST
  * — n-1 compact rows for n points, the standard cut-point (the
  * dendrogram walk is inherently sequential). The walk returns only
  * O(#clusters) data — each selected cluster's label and its birth-cut
  * edge — and per-point labels are assigned DISTRIBUTIVELY: alt-star
  * connected components over the MST edges strictly below each cut
  * (lexicographic (w, a, b) order, i.e. exactly the edges the
  * driver-side union-find processed before the cut edge, so ties are
  * handled identically), keeping the component whose min node equals
  * the cluster label. Nothing O(n) is collected beyond the MST itself,
  * and nothing O(n) is broadcast. */
object Hdbscan {

  final case class MstEdge(a: Long, b: Long, w: Double)

  /** A stability-selected cluster: `label` = min member pid; `cut` =
    * the MST edge whose processing birthed it (its members are exactly
    * the connected component containing `label` over the MST edges
    * lexicographically before `cut`), or None for a dendrogram-top
    * cluster (whole-tree component, no cut). */
  final case class SelectedCluster(label: Long, cut: Option[MstEdge])

  /** 2-D entry point (x, y columns). */
  def cluster(points: DataFrame, idCol: String, xCol: String, yCol: String,
      minClusterSize: Int, minSamples: Int, epsMax: Double,
      maxLocalEdges: Long = 1L << 20): DataFrame = {
    val pts = points.select(col(idCol).cast("long").as("pid"),
      array(col(xCol).cast("double"), col(yCol).cast("double")).as("vec"))
    clusterVectors(pts, "pid", "vec", minClusterSize, minSamples, epsMax,
      binDims = 2, maxLocalEdges = maxLocalEdges)
  }

  /** n-dim entry point over an array column (the embedding-space form).
    *
    * `maxLocalEdges` gates the MST strategy: a mutual-reachability graph
    * at or below it finishes with a driver-side Kruskal (the collect is
    * the same order as the MST collect the condensed-tree walk performs
    * anyway), above it the distributed Boruvka loop runs — the standard
    * two-phase distributed-MST design. 0 forces the distributed path. */
  def clusterVectors(points: DataFrame, idCol: String, vecCol: String,
      minClusterSize: Int, minSamples: Int, epsMax: Double, binDims: Int = 2,
      maxLocalEdges: Long = 1L << 20): DataFrame = {
    require(minClusterSize >= 2, "minClusterSize must be >= 2")
    require(minSamples >= 1, "minSamples must be >= 1")
    require(epsMax > 0, "epsMax must be positive")
    require(binDims >= 1 && binDims <= 3, s"binDims must be in 1..3, got $binDims")
    val spark = points.sparkSession
    val eps2 = epsMax * epsMax

    val pts = points.select(col(idCol).cast("long").as("pid"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    // HALF candidate pairs (each unordered a != b pair once, arbitrary
    // orientation — Dbscan.candidateJoin's lex-half neighborhood): the
    // exact distance runs once per unordered pair; the directed view the
    // core-distance rank needs is re-derived by a map-side explode
    val (joined, dist2, binnedC) = Dbscan.candidateJoin(pts, epsMax, binDims)
    val pairsC = graft.core.Caching.persist(joined
      .where(col("a_id") =!= col("b_id") && dist2 <= eps2)
      .select(col("a_id"), col("b_id"), sqrt(dist2).as("d")))
    // both orientations of every half row (self rows were filtered above)
    val pairs = pairsC.df.select(explode(array(
        struct(col("a_id"), col("b_id"), col("d")),
        struct(col("b_id").as("a_id"), col("a_id").as("b_id"), col("d")))).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"), col("p.d").as("d"))

    // core distance: (minSamples-1)-th nearest OTHER point (self is the
    // minSamples-th member); absent -> the point can never be inside a
    // cluster at lambda >= 1/epsMax -> drops out as noise.
    // minSamples = 1 means the point itself IS the minSamples-th member:
    // core distance 0 for every point (hdbscan-library semantics) — the
    // row_number form below would match nothing (row_number starts at 1).
    val core =
      if (minSamples == 1)
        pts.select(col("pid"), lit(0.0).as("core_d"))
      else {
        val w = Window.partitionBy(col("a_id")).orderBy(col("d"), col("b_id"))
        pairs.withColumn("rn", row_number().over(w))
          .where(col("rn") === minSamples - 1)
          .select(col("a_id").as("pid"), col("d").as("core_d"))
      }

    // mutual reachability on undirected candidate edges
    val mrC = graft.core.Caching.persist(pairs.where(col("a_id") < col("b_id"))
      .join(core.select(col("pid").as("a_id"), col("core_d").as("ca")), "a_id")
      .join(core.select(col("pid").as("b_id"), col("core_d").as("cb")), "b_id")
      .select(col("a_id"), col("b_id"),
        greatest(col("d"), col("ca"), col("cb")).as("w")))
    val mr = mrC.df

    val (mst, mstComp) = boruvkaMst(mr, maxLocalEdges)

    // ---- driver-side condensed tree + stability selection --------------
    // Only the n-1 MST edges are collected (points absent from the MST
    // are noise by construction); the walk returns O(#clusters) cuts.
    import spark.implicits._
    val mstEdges = mst.as[MstEdge].collect()
    val selected = condensedSelection(mstEdges, minClusterSize, epsMax)
    binnedC.release(); pairsC.release(); mrC.release()

    // ---- distributed label assignment ---------------------------------
    // Tree-top clusters (cut = None — the common whole-blob case) are
    // whole MST components, and the Boruvka loop's FINAL component map
    // already is CC(MST): an O(#clusters) semi-join labels them with no
    // CC pass at all. For each remaining distinct cut, connected
    // components over the MST edges strictly (lexicographically) below
    // it; a selected cluster is the component whose min node (= alt-star
    // component id) is its label. ALL cuts run in ONE alt-star loop over
    // composite struct(cut_id, node) keys (Spark orders structs
    // lexicographically, so per-cut component ids are
    // struct(cut_id, min node)) — one iterative job instead of a
    // sequential CC pass per birth level.
    val ptIds = pts.select(col("pid"))
    if (selected.isEmpty)
      ptIds.select(col("pid"), lit(-1L).as("cluster"))
    else {
      val (tops, cutsSel) = selected.partition(_.cut.isEmpty)
      val topLabeled =
        if (tops.isEmpty) None
        else Some(mstComp
          .join(tops.map(_.label).toDF("component"), Seq("component"))
          .select(col("node").as("pid"), col("component").as("cluster")))
      val cutLabeled =
        if (cutsSel.isEmpty) None
        else {
          val cutGroups = cutsSel.groupBy(_.cut).toSeq.zipWithIndex
          val tagged = cutGroups.map { case ((cut, _), i) =>
            val e = cut.get
            mst.where(col("w") < e.w ||
                (col("w") === e.w && (col("a") < e.a ||
                  (col("a") === e.a && col("b") < e.b))))
              .select(lit(i).as("cid"), col("a"), col("b"))
          }.reduce(_ union _)
            .select(struct(col("cid"), col("a").as("n")).as("ua"),
              struct(col("cid"), col("b").as("n")).as("vb"))
          val comp = Dedup.altStarAny(tagged, "ua", "vb")
          // keep only the components whose min node is a selected label,
          // at that label's own cut — an O(#clusters) semi-join (tiny
          // local side; Spark broadcasts it on its own, no hint needed)
          val wanted = cutGroups.flatMap { case ((_, cs), i) =>
            cs.map(c => (i, c.label))
          }.toDF("cid", "cluster")
          Some(comp
            .select(col("node.n").as("pid"), col("component.cid").as("cid"),
              col("component.n").as("cluster"))
            .join(wanted, Seq("cid", "cluster"))
            .select(col("pid"), col("cluster")))
        }
      val labeled = (topLabeled.toSeq ++ cutLabeled.toSeq).reduce(_ union _)
      ptIds.join(labeled, Seq("pid"), "left")
        .select(col("pid"), coalesce(col("cluster"), lit(-1L)).as("cluster"))
    }
  }

  /** MST over (a_id, b_id, w) edges, returning BOTH the forest edges
    * (a = min endpoint, b = max) and the final node -> component map
    * (component = min node — CC(MST), which the labeling tail consumes
    * for tree-top clusters without any extra CC pass).
    *
    * Two-phase strategy (the standard distributed-MST shape): a graph at
    * or below `maxLocalEdges` is collected and solved with a driver-side
    * Kruskal — the collect is bounded by the gate and is the same order
    * as the MST collect the condensed-tree walk performs anyway, while a
    * distributed loop would spend tens of fixed-overhead shuffle jobs on
    * it. Above the gate, Boruvka rounds run: each round every component
    * picks its minimum outgoing edge (deterministic (w, a, b) order),
    * the picked edges join the forest, and components re-contract via
    * the alt-star recurrence. O(log n) rounds, every step a groupBy or
    * equi-join on integer keys. Ties are broken by (w, a_id, b_id) in
    * both phases, so the forest — and everything downstream — is
    * deterministic. */
  private[operators] def boruvkaMst(edges: DataFrame,
      maxLocalEdges: Long = 1L << 20): (DataFrame, DataFrame) = {
    val spark = edges.sparkSession
    import org.apache.spark.sql.DataFrame
    import spark.implicits._
    val edgeCount = edges.count()
    if (edgeCount <= maxLocalEdges) {
      val local = edges
        .select(least(col("a_id"), col("b_id")).cast("long").as("a"),
          greatest(col("a_id"), col("b_id")).cast("long").as("b"),
          col("w").cast("double"))
        .collect().map(r => MstEdge(r.getLong(0), r.getLong(1), r.getDouble(2)))
      val par = scala.collection.mutable.Map[Long, Long]()
      def root(x: Long): Long = {
        var r = x
        while (par.getOrElse(r, r) != r) r = par(r)
        var c = x
        while (par.getOrElse(c, c) != r) { val nx = par(c); par(c) = r; c = nx }
        r
      }
      val mstLocal = scala.collection.mutable.ArrayBuffer[MstEdge]()
      local.sortBy(e => (e.w, e.a, e.b)).foreach { e =>
        val (ra, rb) = (root(e.a), root(e.b))
        if (ra != rb) { par(ra) = rb; mstLocal += e }
      }
      val nodesLocal = local.iterator.flatMap(e => Iterator(e.a, e.b)).toArray.distinct
      val minOfRoot = scala.collection.mutable.Map[Long, Long]()
      nodesLocal.foreach { n =>
        val r = root(n)
        minOfRoot(r) = math.min(minOfRoot.getOrElse(r, n), n)
      }
      val compLocal = nodesLocal.map(n => (n, minOfRoot(root(n))))
      return (
        mstLocal.toSeq.toDF("a", "b", "w"),
        compLocal.toSeq.toDF("node", "component"))
    }
    val symC = graft.core.Caching.persist(
      edges.select(col("a_id").as("u"), col("b_id").as("v"), col("w"))
        .union(edges.select(col("b_id").as("u"), col("a_id").as("v"), col("w"))))
    val sym = symC.df
    val nodesC = graft.core.Caching.persist(sym.select(col("u")).distinct())
    val nodes = nodesC.df
    var comp = nodes.select(col("u").as("node"), col("u").as("component"))
    var mst: DataFrame = Checkpointing.truncate(
      spark.emptyDataFrame
        .withColumn("a", lit(0L)).withColumn("b", lit(0L)).withColumn("w", lit(0.0))
        .select(col("a"), col("b"), col("w")).limit(0))
    var done = false
    var it = 0
    val maxIter = 40
    while (!done && it < maxIter) {
      // edges labeled with both endpoint components; keep cross edges;
      // min outgoing edge per component, deterministic tie-break. The
      // pick is checkpointed ONCE and reused as the convergence probe,
      // the MST increment, and the CC seed — one pass over the join per
      // round instead of three.
      val pick = Checkpointing.truncate(
        sym
          .join(comp.withColumnRenamed("node", "u").withColumnRenamed("component", "cu"), "u")
          .join(comp.withColumnRenamed("node", "v").withColumnRenamed("component", "cv"), "v")
          .where(col("cu") =!= col("cv"))
          .withColumn("rk", row_number().over(
            Window.partitionBy(col("cu"))
              .orderBy(col("w"), least(col("u"), col("v")), greatest(col("u"), col("v")))))
          .where(col("rk") === 1)
          .select(least(col("u"), col("v")).as("a"),
            greatest(col("u"), col("v")).as("b"), col("w"))
          .distinct())
      if (pick.isEmpty) done = true
      else {
        // picks always cross CURRENT components, so an edge can repeat
        // within a round (both endpoints pick it — the distinct above)
        // but never across rounds: no full-MST distinct needed.
        mst = Checkpointing.truncate(mst.union(pick))
        // warm-started CC: the previous component map is a star forest
        // with EXACTLY the accumulated MST's components, so CC over
        // (star edges ∪ new picks) equals CC over the full MST — but
        // alt-star over a star forest converges in far fewer rounds
        // than over raw tree edges. Labels stay min-node, identical.
        // (Contracting on the (cu, cv) pick graph instead was tried and
        // MEASURED SLOWER at bench scale — see SCALE.md F7.)
        val seed = comp.where(col("node") =!= col("component"))
          .select(col("node").as("a"), col("component").as("b"))
          .union(pick.select(col("a"), col("b")))
        comp = Dedup.connectedComponentsAltStar(seed, "a", "b")
          .select(col("node"), col("component"))
        // isolated nodes keep their self label
        comp = nodes.select(col("u").as("node"))
          .join(comp, Seq("node"), "left")
          .select(col("node"), coalesce(col("component"), col("node")).as("component"))
        comp = Checkpointing.truncate(comp)
      }
      it += 1
    }
    require(done, s"Boruvka MST did not converge in $maxIter rounds")
    symC.release(); nodesC.release()
    (mst.select(col("a"), col("b"), col("w")), comp)
  }

  /** Driver-side single-linkage dendrogram -> condensed tree ->
    * stability selection. Pure Scala over the n-1 MST edges (point ids
    * are recovered from the edges; a point in no MST edge is noise by
    * construction and never reaches the driver). Returns O(#clusters)
    * rows: each selected cluster's label (min member pid) and its
    * birth-cut MST edge — membership is recovered distributively as the
    * connected component over the edges lexicographically before the
    * cut, which are EXACTLY the edges this walk's union-find processed
    * before it (so weight ties resolve identically).
    *
    * The epsMax truncation makes the dendrogram a FOREST; conceptually a
    * virtual global root joins the trees just above epsMax. The virtual
    * root is the never-selectable "everything" cluster
    * (allow_single_cluster = False); each tree top is its child, born at
    * lambda = 1/epsMax, and competes with its own children on stability
    * like any other cluster. */
  private[operators] def condensedSelection(mstEdges: Array[MstEdge],
      minClusterSize: Int, epsMax: Double): Seq[SelectedCluster] = {
    if (mstEdges.isEmpty) return Seq.empty
    val pids: Array[Long] =
      mstEdges.flatMap(e => Array(e.a, e.b)).distinct.sorted
    val n = pids.length
    val idx = pids.zipWithIndex.toMap
    // union-find building the binary linkage tree bottom-up over edges
    // sorted by (w, minId, maxId) — the same deterministic order any
    // reimplementation must use
    // duplicate points produce w = 0 MST edges; clamp the reciprocal's
    // denominator so stability stays finite (no Inf - Inf = NaN)
    def lambda(w: Double): Double = 1.0 / math.max(w, java.lang.Double.MIN_NORMAL)
    val sorted = mstEdges.sortBy(e => (e.w, math.min(e.a, e.b), math.max(e.a, e.b)))
    val parent = new Array[Int](2 * n - 1 + 1)
    val height = new Array[Double](2 * n - 1 + 1)
    val childL = new Array[Int](2 * n - 1 + 1)
    val childR = new Array[Int](2 * n - 1 + 1)
    val size = new Array[Int](2 * n - 1 + 1)
    val edgeOf = new Array[MstEdge](2 * n - 1 + 1) // edge creating each internal node
    java.util.Arrays.fill(parent, -1)
    java.util.Arrays.fill(childL, -1)
    java.util.Arrays.fill(childR, -1)
    (0 until n).foreach(i => size(i) = 1)
    val find = new Array[Int](2 * n)
    (0 until 2 * n).foreach(i => find(i) = i)
    def root(x: Int): Int = {
      var r = x
      while (find(r) != r) r = find(r)
      var c = x
      while (find(c) != r) { val nx = find(c); find(c) = r; c = nx }
      r
    }
    var next = n
    sorted.foreach { e =>
      val ra = root(idx(e.a)); val rb = root(idx(e.b))
      if (ra != rb) {
        val m = next; next += 1
        childL(m) = ra; childR(m) = rb
        parent(ra) = m; parent(rb) = m
        height(m) = e.w
        edgeOf(m) = e
        size(m) = size(ra) + size(rb)
        find(ra) = m; find(rb) = m; find(m) = m
      }
    }
    // forest roots (disconnected mr graphs leave several)
    val roots = (0 until next).filter(parent(_) == -1)

    // condensed tree: walk each linkage root; track the current
    // "condensed cluster" id; falls and splits per the paper
    final case class CCluster(var birthW: Double, var stability: Double,
      members: scala.collection.mutable.ArrayBuffer[Int],
      var children: List[Int], cut: Option[MstEdge],
      var selected: Boolean = false)
    val clusters = scala.collection.mutable.ArrayBuffer[CCluster]()
    def leaves(node: Int, acc: scala.collection.mutable.ArrayBuffer[Int]): Unit =
      if (node < n) acc += node
      else { leaves(childL(node), acc); leaves(childR(node), acc) }

    // iterative walk: (linkage node, condensed cluster id it belongs to)
    def process(linkRoot: Int): Option[Int] = {
      if (size(linkRoot) < minClusterSize) return None
      val top = clusters.length
      clusters += CCluster(
        // tree tops are children of the virtual root: born at the
        // truncation level epsMax; no cut — the whole tree component
        birthW = epsMax,
        stability = 0.0,
        members = scala.collection.mutable.ArrayBuffer.empty,
        children = Nil,
        cut = None)
      val stack = scala.collection.mutable.Stack[(Int, Int)]((linkRoot, top))
      while (stack.nonEmpty) {
        val (node, cid) = stack.pop()
        if (node < n) clusters(cid).members += node
        else {
          val l = childL(node); val r = childR(node)
          val bigL = size(l) >= minClusterSize
          val bigR = size(r) >= minClusterSize
          val wSplit = height(node)
          def fall(sub: Int): Unit = {
            val acc = scala.collection.mutable.ArrayBuffer[Int]()
            leaves(sub, acc)
            val c = clusters(cid)
            acc.foreach { p =>
              c.members += p
              c.stability += lambda(wSplit) - lambda(c.birthW)
            }
          }
          if (bigL && bigR) {
            // true split: two new clusters born at wSplit; the parent's
            // remaining points all leave here
            val cl = clusters.length
            clusters += CCluster(wSplit, 0.0,
              scala.collection.mutable.ArrayBuffer.empty, Nil, Some(edgeOf(node)))
            val cr = clusters.length
            clusters += CCluster(wSplit, 0.0,
              scala.collection.mutable.ArrayBuffer.empty, Nil, Some(edgeOf(node)))
            clusters(cid).children = List(cl, cr)
            val c = clusters(cid)
            c.stability += size(node) * (lambda(wSplit) - lambda(c.birthW))
            stack.push((l, cl)); stack.push((r, cr))
          } else if (bigL) { fall(r); stack.push((l, cid)) }
          else if (bigR) { fall(l); stack.push((r, cid)) }
          else {
            // both children too small: the cluster's points all leave
            fall(l); fall(r)
          }
        }
      }
      Some(top)
    }

    val topIds = roots.flatMap(r => process(r))

    // excess-of-mass selection over every tree (the virtual root above
    // them is never selectable; tree tops compete normally)
    def select(cid: Int): (Double, List[Int]) = {
      val c = clusters(cid)
      if (c.children.isEmpty) (c.stability, List(cid))
      else {
        val childResults = c.children.map(select)
        val childSum = childResults.map(_._1).sum
        if (childSum > c.stability) (childSum, childResults.flatMap(_._2))
        else (c.stability, List(cid))
      }
    }
    val selected = topIds.flatMap(top => select(top)._2)

    // a selected cluster labels its whole birth subtree: points that fell
    // out of it directly plus every point of its descendant clusters
    // (selection is an antichain, so closures of selected clusters are
    // disjoint). Only (label, cut) leaves the driver — membership is
    // recomputed distributively in [[clusterVectors]].
    def closure(cid: Int): Seq[Int] = {
      val c = clusters(cid)
      c.members.toSeq ++ c.children.flatMap(closure)
    }
    selected.flatMap { cid =>
      val ms = closure(cid)
      if (ms.isEmpty) None
      else Some(SelectedCluster(ms.map(pids).min, clusters(cid).cut))
    }.toSeq
  }
}
