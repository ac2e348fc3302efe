package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Density-based clustering (DBSCAN) over 2-D points ([[cluster]]) and
  * n-dim embedding vectors ([[clusterVectors]]) — the HDBSCAN slot of
  * the reference's transform arg-parser
  * (convml_data/pipeline/embeddings/transforms.py:87-102 parses
  * `min_cluster_size`/`min_samples` for a density model; seeded KMeans
  * stood in until now).
  *
  * Distributed shape (100 TB-safe):
  *  - ε-neighbor candidate generation is the Regrid/Similarity bin-join:
  *    snap points to an eps-sized grid, explode each point to its 3x3
  *    neighbor cells, equi-join on the cell id — every true ε-pair falls
  *    in some adjacent cell, so the exact distance filter runs on
  *    candidates only (never all pairs; shuffle key is an integer cell).
  *  - core points = ε-degree >= minPts (degree counts the point itself,
  *    the standard DBSCAN convention) — one groupBy.
  *  - clusters = connected components over CORE-CORE ε-edges via the
  *    O(log n) alternating-star recurrence ([[Dedup.connectedComponentsAltStar]]);
  *    the cluster label is the min core id, deterministic and
  *    oracle-reproducible.
  *  - border points (non-core with a core ε-neighbor) adopt the MINIMUM
  *    neighbor cluster label (deterministic tie-break); the rest is
  *    noise, labeled -1.
  *
  * Output: (pid, cluster, is_core) — one row per input point. */
object Dbscan {

  def cluster(points: DataFrame, idCol: String, xCol: String, yCol: String,
      eps: Double, minPts: Int): DataFrame = {
    require(eps > 0, "eps must be positive")
    // delegate to the shared n-dim candidate join with vec = [x, y]:
    // dist2 is the identical two-term (dx*dx + dy*dy) sum (SqL2Dist is a
    // left-to-right fold — for two terms the same IEEE adds in the same
    // order as the inline column expression this replaced)
    val pts = points.select(
      col(idCol).cast("long").as("pid"),
      array(col(xCol).cast("double"), col(yCol).cast("double")).as("vec"))
    clusterBinned(pts, eps, minPts, binDims = 2)
  }

  /** DBSCAN over n-dim vectors (the embedding-space form the reference's
    * transform arg-parser wants a density model for —
    * convml_data/pipeline/embeddings/transforms.py:87-102 parses
    * `min_cluster_size`/`min_samples` over (tile_id, emb_dim) data).
    *
    * Candidate generation stays an EXACT integer-cell equi-join: bin on
    * the first `binDims` coordinates with eps-sized cells and explode the
    * probe side over the 3^binDims neighbor cells. Any true ε-pair is
    * within eps on EVERY coordinate, hence within one cell on each binned
    * coordinate — so the blocking is lossless for any binDims (the 2-D
    * [[cluster]] is the binDims = dims = 2 special case), unlike
    * LSH/IVF buckets which can drop true pairs. binDims is capped at 3
    * (27 neighbor cells); for anisotropic data, rotate the most-spread
    * directions to the front (e.g. PCA from Transforms) before calling.
    * The exact distance (a left-to-right squared-diff fold, restatable
    * in SQL) runs on candidates only — never all pairs. */
  def clusterVectors(points: DataFrame, idCol: String, vecCol: String,
      eps: Double, minPts: Int, binDims: Int = 2): DataFrame = {
    require(eps > 0, "eps must be positive")
    require(binDims >= 1 && binDims <= 3,
      s"binDims must be in 1..3 neighbor-cell dims, got $binDims")
    val pts = points.select(col(idCol).cast("long").as("pid"),
      transform(col(vecCol), x => x.cast("double")).as("vec"))
    clusterBinned(pts, eps, minPts, binDims)
  }

  /** Shared body of [[cluster]] / [[clusterVectors]] over (pid, vec). */
  private def clusterBinned(pts: DataFrame, eps: Double, minPts: Int,
      binDims: Int): DataFrame = {
    val eps2 = eps * eps
    val (joined, dist2, _) = candidateJoin(pts, eps, binDims)
    // HALF pairs: each unordered ε-pair once (arbitrary orientation),
    // self-pairs (a,a) once — the exact distance runs once per unordered
    // pair; consumers re-symmetrize below (a cheap projection over the
    // cache, vs. paying dist2 on both orientations of every candidate).
    // The bin and pair caches stay until the caller's cache scope closes
    // (graft.core.Caching) after the output is consumed, so the labeling
    // tail needs no eager materialization pass of its own just to
    // release them early — that would cost one full tail execution +
    // action.
    val pairs = graft.core.Caching.persist(joined
      .where(dist2 <= eps2)
      .select(col("a_id"), col("b_id"))).df

    labelFromPairs(symmetrized(pairs), minPts)
  }

  /** Both orientations of every a != b row, self rows once — rebuilds the
    * symmetric self-inclusive ε-pair view from the half-pair cache as a
    * map-side explode (no shuffle, no second distance evaluation). */
  private[operators] def symmetrized(half: DataFrame): DataFrame =
    half.select(explode(when(col("a_id") === col("b_id"),
        array(struct(col("a_id"), col("b_id"))))
      .otherwise(array(
        struct(col("a_id"), col("b_id")),
        struct(col("b_id").as("a_id"), col("a_id").as("b_id"))))).as("p"))
      .select(col("p.a_id").as("a_id"), col("p.b_id").as("b_id"))

  /** Shared eps-cell candidate join over (pid, vec: array<double>) rows:
    * bin the first binDims coordinates into eps cells; the probe side
    * visits only the HOME cell plus the lexicographically-POSITIVE half
    * of its neighborhood (5 of 9 cells at binDims=2, 14 of 27 at 3), the
    * build side keeps the home cell. Two points in DIFFERENT cells have
    * exactly one lex-positive cell delta between them, so the pair meets
    * exactly once (arbitrary orientation); two points in the SAME cell
    * meet twice through the home offset, and the embedded
    * (home => a_id <= b_id) filter keeps one orientation plus each
    * point's self-pair. Result: every unordered candidate pair appears
    * EXACTLY ONCE — half the probe-side explode volume and half the
    * exact-distance evaluations of the full-neighborhood form, with the
    * identical candidate-pair set (guide §2.3: shuffle/compute fewer
    * bytes). Consumers needing the symmetric view re-derive it by a
    * map-side explode ([[symmetrized]]).
    * Returns (joined frame with a_id/av/b_id/bv, the dist2 column, and
    * the binned frame's cache handle, which the caller may release
    * early). */
  private[graft] def candidateJoin(pts: DataFrame, eps: Double, binDims: Int)
      : (DataFrame, Column, graft.core.Caching.Cached) = {
    val cellCols = (0 until binDims).map(i =>
      floor(element_at(col("vec"), i + 1) / eps).cast("long").as(s"c$i"))
    val binnedC = graft.core.Caching.persist(
      pts.select(col("pid") +: col("vec") +: cellCols: _*))
    val binned = binnedC.df
    // home (all-zero) first, then every lex-positive offset: first
    // nonzero component is +1
    val offsets = Seq.fill(binDims)(0) +:
      (0 until binDims).foldLeft(Seq(Seq.empty[Int])) { (acc, _) =>
        acc.flatMap(s => Seq(-1, 0, 1).map(s :+ _))
      }.filter(o => o.dropWhile(_ == 0).headOption.contains(1))
    val offCol = array(offsets.map(o =>
      struct((lit(o.forall(_ == 0)).as("home") +:
        o.zipWithIndex.map { case (v, i) => lit(v.toLong).as(s"d$i") }): _*)): _*)
    val probes = binned
      .select(col("pid").as("a_id") +: col("vec").as("av") +:
        explode(offCol).as("o") +: (0 until binDims).map(i => col(s"c$i")): _*)
      .select(col("a_id") +: col("av") +: col("o").getField("home").as("home") +:
        (0 until binDims).map(i => (col(s"c$i") + col("o").getField(s"d$i")).as(s"jc$i")): _*)
    val build = binned.select(col("pid").as("b_id") +: col("vec").as("bv") +:
      (0 until binDims).map(i => col(s"c$i").as(s"jc$i")): _*)
    // native loop — the zip_with fold paid interpreted lambda eval per
    // dimension per candidate PAIR; vectors of differing lengths or with
    // null elements get a null distance and never pair
    val dist2: Column = Similarity.sqL2(col("av"), col("bv"))
    val joined = probes.join(build, (0 until binDims).map(i => s"jc$i"))
      .where(!col("home") || col("a_id") <= col("b_id"))
    (joined, dist2, binnedC)
  }

  /** Shared labeling tail: ε-pairs (self-pairs included) -> (pid, cluster,
    * is_core). Core = degree >= minPts; clusters = alt-star components
    * over core-core edges labeled by min core id; borders adopt the min
    * neighbor cluster; everything else is noise (-1). */
  private def labelFromPairs(pairs: DataFrame, minPts: Int): DataFrame = {
    val core = graft.core.Caching.persist(
      pairs.groupBy(col("a_id")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= minPts)
        .select(col("a_id").as("pid"))).df

    val coreEdges = pairs
      .join(core.withColumnRenamed("pid", "a_id"), "a_id")
      .join(core.withColumnRenamed("pid", "b_id"), "b_id")
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
    val comp = Dedup.connectedComponentsAltStar(coreEdges, "a_id", "b_id")
    // singleton cores (no core neighbor) label themselves
    val coreLabels = graft.core.Caching.persist(core
      .join(comp.withColumnRenamed("node", "pid"), Seq("pid"), "left")
      .select(col("pid"), coalesce(col("component"), col("pid")).as("cluster"))).df

    // FUSED classification (one aggregation pass over the pair frame,
    // replacing the border/noise/union three-branch tail): every point
    // owns a self-pair, so grouping the symmetric pairs by a_id visits
    // every point exactly once; the same groupBy recomputes the degree
    // for free next to the border statistic. Per point:
    //   core (deg >= minPts, the criterion the core frame was built
    //   with)                  -> its component label (coreLabels);
    //   border (>=1 core ε-neighbor b != a: min_nbr is the min of core
    //   neighbors' labels — non-core b left-joins to a null label and
    //   min() skips it)        -> min_nbr;
    //   else noise             -> -1.
    val agg = pairs
      .join(coreLabels.select(col("pid").as("b_id"), col("cluster").as("nbr_cluster")),
        Seq("b_id"), "left")
      .groupBy(col("a_id"))
      .agg(count(lit(1)).as("deg"),
        min(when(col("b_id") =!= col("a_id"), col("nbr_cluster"))).as("min_nbr"))
    // lazily consumed: every cache stays until the caller's cache scope
    // closes after the output is read — the tail runs
    // exactly once, in the consumer's own action (the former eager
    // truncation here executed the whole tail a second time just so the
    // caches could be released before returning)
    agg
      .join(coreLabels.withColumnRenamed("pid", "a_id"), Seq("a_id"), "left")
      .select(col("a_id").as("pid"),
        when(col("deg") >= minPts, col("cluster"))
          .otherwise(coalesce(col("min_nbr"), lit(-1L))).as("cluster"),
        (col("deg") >= minPts).as("is_core"))
  }
}
