package graft.operators

import graft.core.Checkpointing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (Array[Float]).
  *
  * The dot product is a left-to-right `aggregate` fold over `zip_with`
  * products on double-cast elements — the identical operation sequence the
  * DuckDB oracle performs (list_reduce over a comprehension), so results
  * are bit-identical; ranking keys are additionally rounded to 6 decimals
  * to keep orderings stable across engines.
  *
  * Scale design: brute-force top-k broadcasts the (small) probe set and
  * scans the corpus once — embarrassingly parallel, no shuffle until the
  * final per-probe top-k (a windowed rank over probe partitions; with
  * k<<corpus this is the textbook map-side-rankable pattern). The LSH
  * variant buckets vectors by random-hyperplane sign bits so candidate
  * generation is an equi-join on the bucket key — the 100 TB path.
  */
object Similarity {

  /** Native left fold (graft.plans.FloatDotProduct) — bit-identical to
    * `HofForms.dotHof` (test sources) on equal-length null-free vectors, null otherwise
    * (graft.plans.VectorKernel's contract). */
  def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.FloatDotProduct(expression(a), expression(b)))
  }

  /** Native squared L2 distance (graft.plans.SqL2Dist) — bit-identical to
    * the `aggregate(zip_with(a, b, (x, y) => (x - y)²), 0.0, +)` fold on
    * equal-length null-free vectors, null otherwise. */
  def sqL2(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.SqL2Dist(expression(a), expression(b)))
  }

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Brute-force cosine top-k: for each probe vector the k nearest corpus
    * vectors (self excluded), ranked by (round(cos,6) desc, id). */
  def bruteForceTopK(
      probes: DataFrame, corpus: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // norms once per ROW (not per pair): cos = dot/(pn·cn) is the same
    // expression tree the oracle computes, just factored out of the join
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
      .withColumn("pn", norm(col("pv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.crossJoin(broadcast(p))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos_sim", round(dot(col("pv"), col("cv")) / (col("pn") * col("cn")), 6))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rnk"), col("cos_sim"))
  }

  /** Matryoshka-style coarse-to-fine retrieval (Kusupati et al. 2022):
    * score candidates on the first `prefixDim` dimensions only (MRL
    * embeddings front-load information, so the prefix is a valid cheap
    * index that reads prefixDim/dim of the bytes), keep the `coarseK`
    * best per probe, then rerank the survivors with full-dimension
    * exact cosine — the standard two-stage deployment of
    * matryoshka/truncatable embeddings.
    *
    * Scale shape: the coarse pass is the only corpus-wide scan and its
    * per-probe rank is two-phase salted (the Pq.adcTopK discipline —
    * no task sorts more than corpus/salts rows); the rerank touches
    * only probes × coarseK rows. Both cosines are the engine-exact
    * round(dot/(|a||b|), 6) contract with (sim desc, id) tie-break.
    *
    * Output: (probe_id, rnk, neighbor_id, cos_sim, coarse_rnk) —
    * coarse_rnk > k in a row is a reordering the cheap pass got wrong. */
  def prefixRerank(probes: DataFrame, corpus: DataFrame, k: Int,
      prefixDim: Int, coarseK: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      salts: Int = 32): DataFrame = {
    require(coarseK >= k, s"coarseK ($coarseK) must be >= k ($k)")
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
      .withColumn("pp", slice(col("pv"), 1, prefixDim))
      .withColumn("ppn", norm(col("pp")))
      .withColumn("pn", norm(col("pv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cp", slice(col("cv"), 1, prefixDim))
      .withColumn("cpn", norm(col("cp")))
      .withColumn("cn", norm(col("cv")))
    val coarse = c.crossJoin(broadcast(p))
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("coarse_sim",
        round(dot(col("pp"), col("cp")) / (col("ppn") * col("cpn")), 6))
      .withColumn("_salt", pmod(col("neighbor_id"), lit(salts.toLong)))
    val w1 = Window.partitionBy(col("probe_id"), col("_salt"))
      .orderBy(col("coarse_sim").desc, col("neighbor_id"))
    val w2 = Window.partitionBy(col("probe_id"))
      .orderBy(col("coarse_sim").desc, col("neighbor_id"))
    val survivors = coarse
      .withColumn("_r1", row_number().over(w1)).where(col("_r1") <= coarseK)
      .withColumn("crnk", row_number().over(w2)).where(col("crnk") <= coarseK)
    val w3 = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("neighbor_id"))
    survivors
      .withColumn("cos_sim",
        round(dot(col("pv"), col("cv")) / (col("pn") * col("cn")), 6))
      .withColumn("rnk", row_number().over(w3).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("rnk"), col("neighbor_id"),
        col("cos_sim"), col("crnk").cast("long").as("coarse_rnk"))
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse two
    * per-query rankings — e.g. a BM25 keyword list and an ANN cosine
    * list, the hybrid-search shape — by rrf(d) = Σ_lists 1/(k + rank_d).
    * Inputs are (qCol, idCol, scoreCol) frames; each is ranked per query
    * by (score desc, id), truncated to `listK`, full-outer-joined on
    * (query, id), and the fused candidates re-ranked by (rounded rrf
    * desc, id). A document absent from one list contributes only the
    * present side (the absent rank reports as 0).
    *
    * Scale shape: every window partitions by the query id — per-query
    * candidate lists are the listK-bounded output of upstream retrieval,
    * so no global sort exists anywhere; the fusion meet is a
    * (query, doc) equi-join and queries parallelize freely. */
  def rrfFuse(sparse: DataFrame, dense: DataFrame, qCol: String,
      idCol: String, scoreCol: String, k: Int = 60, listK: Int = 50,
      topN: Int = 20): DataFrame = {
    def ranked(df: DataFrame, nm: String) = {
      val w = Window.partitionBy(col(qCol)).orderBy(col(scoreCol).desc, col(idCol))
      df.select(col(qCol), col(idCol), col(scoreCol))
        .withColumn(nm, row_number().over(w).cast("long"))
        .where(col(nm) <= listK)
        .select(col(qCol), col(idCol), col(nm))
    }
    val fused = ranked(sparse, "rnk_sparse")
      .join(ranked(dense, "rnk_dense"), Seq(qCol, idCol), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(k.toDouble) + col("rnk_sparse").cast("double")),
          lit(0.0)) +
          coalesce(lit(1.0) / (lit(k.toDouble) + col("rnk_dense").cast("double")),
            lit(0.0)), 6))
    val w2 = Window.partitionBy(col(qCol)).orderBy(col("rrf").desc, col(idCol))
    fused.withColumn("rnk", row_number().over(w2).cast("long"))
      .where(col("rnk") <= topN)
      .select(col(qCol), col(idCol), col("rnk"), col("rrf"),
        coalesce(col("rnk_sparse"), lit(0L)).as("rnk_sparse"),
        coalesce(col("rnk_dense"), lit(0L)).as("rnk_dense"))
  }

  /** Deterministic ±1 pseudo-random hyperplane component for (plane i,
    * dim j) — shared with any oracle via pure integer arithmetic. */
  def planeSign(i: Int, j: Int): Int =
    if (((i.toLong * 2654435761L + j.toLong * 40503L) % 7919L) % 2 == 0) 1 else -1

  /** Random-hyperplane LSH bucket id: `nPlanes` sign bits of dot products
    * with fixed ±1 hyperplanes. Vectors in the same bucket are candidate
    * neighbors; probing adjacent buckets (1-bit flips) raises recall. */
  def lshBucket(vec: Column, nPlanes: Int, dim: Int): Column =
    (0 until nPlanes).map { i =>
      val proj = (0 until dim).map { j =>
        element_at(vec, j + 1).cast("double") * planeSign(i, j)
      }.reduce(_ + _)
      when(proj > 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** All buckets within Hamming distance `radius` of bucket `b0`
    * (radius 0 = just b0; 1 adds the nPlanes 1-bit flips; 2 adds the
    * C(nPlanes,2) 2-bit flips). Distinct by construction, so exploding
    * the probe side over them never duplicates a (probe, neighbor) pair —
    * each corpus vector lives in exactly one bucket. */
  def probeBuckets(b0: Column, nPlanes: Int, radius: Int): Seq[Column] = {
    val one = (0 until nPlanes).map(i => b0.bitwiseXOR(lit(1L << i)))
    val two = for { i <- 0 until nPlanes; j <- i + 1 until nPlanes }
      yield b0.bitwiseXOR(lit((1L << i) | (1L << j)))
    radius match {
      case 0 => Seq(b0)
      case 1 => b0 +: one
      case _ => (b0 +: one) ++ two
    }
  }

  /** LSH-bucketed ANN: equi-join probes to corpus on bucket id, then exact
    * cosine rank within candidates. Trades recall for a shuffle-free
    * candidate scan — the scale path when the corpus no longer fits a
    * broadcast×scan budget.
    *
    * Multi-probe: the PROBE side (small) explodes over the Hamming ball of
    * `probeRadius` around its own bucket — candidate generation stays a
    * bucket equi-join (no new shuffle shape) while recall rises steeply,
    * because a near neighbor that missed the exact bucket almost always
    * differs in only one or two marginal sign bits. Candidate growth is
    * bounded by the ball size (1 + n + C(n,2)), NOT by corpus size. */
  def lshTopK(
      probes: DataFrame, corpus: DataFrame, k: Int, nPlanes: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      probeRadius: Int = 1): DataFrame = {
    val p0 = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"),
      lshBucket(col(vecCol), nPlanes, dim).as("b0"))
    val p = p0.select(col("probe_id"), col("pv"),
      explode(array(probeBuckets(col("b0"), nPlanes, probeRadius): _*)).as("bucket"))
      .withColumn("pn", norm(col("pv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      lshBucket(col(vecCol), nPlanes, dim).as("bucket"))
      .withColumn("cn", norm(col("cv")))
    val scored = c.join(broadcast(p), "bucket")
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos_sim", round(dot(col("pv"), col("cv")) / (col("pn") * col("cn")), 6))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rnk"), col("cos_sim"))
  }

  /** IVF (inverted-file) ANN: corpus vectors are assigned once to their
    * nearest of k seeded-KMeans centroids (the index build — one pass,
    * centroids broadcast); each probe scans only the `nProbe` cells
    * whose centroids are nearest to it. Candidate generation is an
    * equi-join on the integer cell id, so the 100 TB shape is identical
    * to the LSH path but with data-adaptive cells: recall degrades
    * gracefully with nProbe instead of with random hyperplane luck.
    *
    * Returns the same schema as [[bruteForceTopK]]. The centroid model
    * is recomputed here for self-containment; a production index would
    * persist it ([[graft.embeddings.Transforms.fitKmeans]] save/load). */
  def ivfTopK(
      probes: DataFrame, corpus: DataFrame, k: Int, nCells: Int, nProbe: Int,
      seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val model = graft.embeddings.Transforms.fitKmeans(corpus, vecCol, nCells, seed)
    ivfTopKWithCentroids(probes, corpus, k,
      model.clusterCenters.map(_.toArray.toSeq).toSeq, nProbe, idCol, vecCol)
  }

  /** (d2, cell) distance structs to every centroid, as ONE array literal
    * walked by higher-order functions: codegen size is constant in
    * nCells (the former per-centroid expression unrolling grew the
    * generated code linearly and would choke janino at nCells ≳ 10³).
    * The index ships inside the serialized plan — effectively a broadcast
    * of the centroid table. d2 is a left-to-right fold, so an oracle can
    * reproduce it bit-for-bit. */
  private[operators] def cellDists(vec: Column, cents: Seq[Seq[Double]]): Column =
    transform(typedlit(cents), (cv, i) => struct(
      aggregate(
        zip_with(vec, cv, (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, v) => acc + v).as("d2"),
      i.cast("int").as("cell")))

  /** Native argmin over [[cellDists]]: struct(d2, cell) of the nearest
    * centroid as ONE loop (graft.plans.CellArgmin) — bit-identical to
    * `array_min(cellDists(...))` on null-free vectors of the centroid
    * dimension, null otherwise; `cents` must be non-empty and
    * rectangular. The HOF form pays K·dim interpreted lambda evals per
    * row (~310 µs/row at K=8, dim=64); assignment-heavy operators (IVF
    * corpus side, SemDeDup blocking, prototype pruning, KMeans E-steps)
    * route through this. */
  def cellArgmin(vec: Column, cents: Seq[Seq[Double]]): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.CellArgmin(expression(vec), cents))
  }

  /** IVF with an EXPLICIT centroid index (the production shape: the index
    * is fit once — [[ivfTopK]] / Transforms.fitKmeans — persisted, and
    * passed to queries). Corpus rows claim their argmin cell per-row
    * (shuffle-free scan), probes explode over their nProbe nearest cells,
    * and candidates meet on the integer cell equi-join. */
  def ivfTopKWithCentroids(
      probes: DataFrame, corpus: DataFrame, k: Int, cents: Seq[Seq[Double]], nProbe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .withColumn("cell", cellArgmin(col("cv"), cents).getField("cell"))
      .withColumn("cn", norm(col("cv")))
    val p = probes.select(col(idCol).as("probe_id"), col(vecCol).as("pv"))
      // struct sort orders by (d2, cell) lexicographically
      .withColumn("near", explode(slice(array_sort(cellDists(col("pv"), cents)), 1, nProbe)))
      .select(col("probe_id"), col("pv"), col("near.cell").as("cell"))
      .withColumn("pn", norm(col("pv")))
    val scored = c.join(broadcast(p), "cell")
      .where(col("neighbor_id") =!= col("probe_id"))
      .withColumn("cos_sim", round(dot(col("pv"), col("cv")) / (col("pn") * col("cn")), 6))
    val w = Window.partitionBy(col("probe_id")).orderBy(col("cos_sim").desc, col("neighbor_id"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col("probe_id"), col("neighbor_id"), col("rnk"), col("cos_sim"))
  }

  /** Element-wise centroid per group as exact scaled-integer sums:
    * (group, dim, sum(round(v*1e6)), n) — FP-order-independent, so safe
    * under any shuffle order AND hash-comparable against the oracle. */
  def centroidScaledSums(df: DataFrame, groupCol: String, vecCol: String): DataFrame =
    df.select(col(groupCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(groupCol), (col("pos") + 1).cast("long").as("dim"))
      .agg(
        sum(round(col("v").cast("double") * 1000000).cast("long")).as("sum_scaled"),
        count(lit(1)).as("n"))

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication over an embedding corpus. Vectors are blocked into
    * KMeans-style cells (an EXPLICIT centroid index — the production
    * shape, fit once and persisted like [[ivfTopKWithCentroids]]'s);
    * near-duplicate pairs are the within-cell pairs with cosine >=
    * `threshold`; duplicate GROUPS are the connected components of those
    * pairs; and each group keeps exactly ONE representative — the member
    * with the LOWEST cosine similarity to its cell centroid (the paper's
    * keep-low-centroid-similarity rule: retain the group's most
    * informative extreme), ties broken by id.
    *
    * Returns one row per input vector:
    * (id, cell, cent_sim, rep_id, kept) — kept = 1 iff the row survives
    * dedup (it is its group's representative, or was never a duplicate).
    *
    * Scale shape: cell assignment and centroid similarity are per-row
    * scans against the plan-embedded centroid literal (no shuffle, no
    * driver loop); pair generation is an integer cell equi-join whose
    * blow-up is bounded by the largest cell — nCells is the knob, and
    * the published pipeline sizes it so cells stay ~10^4 rows even at
    * 10^8-document corpora; components run on alt-star (O(log n)
    * rounds); representative election is one window over components. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      cents: Seq[Seq[Double]], threshold: Double): DataFrame = {
    // in-operator exact assignment is O(N * nCells) — fine for a
    // bounded explicit index; at production scale pass the fit's own
    // assignments through [[semDedupPreAssigned]] instead (SCALE.md F8)
    val assigned = semDedupAssign(df, idCol, vecCol, cents)
    semDedupTail(assigned, threshold)
  }

  /** The production shape (and the paper's): cluster assignments come
    * from the KMeans fit that produced the centroids — a byproduct, not
    * an O(N * nCells) rescan. `cellCol` carries them; `cents` is only
    * consulted for the assigned cell's centroid similarity (O(dim) per
    * row). Same output contract as [[semDedup]]. */
  def semDedupPreAssigned(df: DataFrame, idCol: String, vecCol: String,
      cellCol: String, cents: Seq[Seq[Double]], threshold: Double): DataFrame = {
    val assigned = withCentSim(
      graft.core.Parallelism.floor(
        df.select(col(idCol).as("id"), col(vecCol).as("v"),
          col(cellCol).cast("int").as("cell")), col("id"))
        .withColumn("nv", norm(col("v"))), cents)
    semDedupTail(assigned, threshold)
  }

  /** Stages 2-4 shared by both entry points: `assigned` is checkpointed
    * ONCE (it feeds four scans — both pair sides, the member join, the
    * final join — and recomputing the assignment each time is the
    * dominant cost at scale), then pairs -> components -> election. */
  private def semDedupTail(assignedIn: DataFrame, threshold: Double): DataFrame = {
    val assigned = Checkpointing.truncate(assignedIn)
    val pairs = semDedupPairs(assigned, threshold)
    val comp = Dedup.connectedComponentsAltStar(pairs, "id_a", "id_b")
    // cached: read by the representative election AND the final join,
    // and each read re-ran the labels-to-assigned join (plus the CC
    // labels join above it). Duplicate-member-sized; released when the
    // caller's cache scope closes.
    val members = graft.core.Caching.persist(
      comp.select(col("node").as("id"), col("component"))
        .join(assigned.select(col("id"), col("cent_sim").as("ms")), "id")).df
    // election as one map-side-combined min_by aggregation — the window
    // form paid the same exchange plus a per-partition sort and a
    // filter scan; (ms, id) is unique per member so the argmin is the
    // window's (ms asc, id asc) rank-1 row
    val reps = members.groupBy(col("component"))
      .agg(min_by(col("id"), struct(col("ms"), col("id"))).as("rep_id"))
    assigned.select(col("id"), col("cell").cast("long").as("cell"), col("cent_sim"))
      .join(members.select(col("id"), col("component")), Seq("id"), "left")
      .join(reps, Seq("component"), "left")
      .select(col("id"), col("cell"), col("cent_sim"),
        coalesce(col("rep_id"), col("id")).as("rep_id"))
      .withColumn("kept", (col("id") === col("rep_id")).cast("long"))
  }

  /** [[semDedup]] stage 1: cell assignment + centroid similarity —
    * per-row scans against the plan-embedded centroid literal via the
    * native argmin kernel ([[cellArgmin]]). */
  private[graft] def semDedupAssign(df: DataFrame, idCol: String,
      vecCol: String, cents: Seq[Seq[Double]]): DataFrame =
    // cell argmin + two norms are CPU-dense per-row work (K·dim + dim
    // multiplies each): floor the stage's parallelism at the cluster so a
    // single-split embedding table doesn't assign on one core
    // (Parallelism.floor is a no-op on a many-split production scan)
    withCentSim(
      graft.core.Parallelism.floor(
        df.select(col(idCol).as("id"), col(vecCol).as("v")), col("id"))
        .withColumn("cell", cellArgmin(col("v"), cents).getField("cell"))
        .withColumn("nv", norm(col("v"))), cents)

  /** Cosine of `v` to its assigned cell's centroid: the same
    * left-to-right folds the oracle replays (vector dot centroid,
    * centroid self-dot), rounded 6 dp. Expects columns id/v/cell/nv.
    *
    * Per-ROW cost is one native dot (the float×double [[dot]] kernel —
    * bit-identical to the interpreted zip_with/aggregate fold it
    * replaces) plus two O(1) literal picks: the centroid NORMS are
    * folded once in Scala (the identical left-to-right Σc² + sqrt the
    * HOF computed per row — same IEEE ops, same order, so the same
    * bits) and plan-embedded, where the HOF form re-walked the
    * centroid array twice per corpus row through interpreted lambdas. */
  private def withCentSim(assigned: DataFrame, cents: Seq[Seq[Double]]): DataFrame = {
    val centNorms: Seq[Double] =
      cents.map(c => math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x * x)))
    def centArr = element_at(typedlit(cents), col("cell") + 1)
    assigned.withColumn("cent_sim", round(
      dot(col("v"), centArr)
        / (col("nv") * element_at(typedlit(centNorms), col("cell") + 1)), 6))
  }

  /** [[semDedup]] stage 2: within-cell near-dup pairs — MUST stay an
    * integer cell equi-join (plan-asserted in PlanRegressionSpec). */
  private[graft] def semDedupPairs(assigned: DataFrame,
      threshold: Double): DataFrame = {
    val a = assigned.select(col("id").as("id_a"), col("v").as("va"),
      col("nv").as("na"), col("cell"))
    val b = assigned.select(col("id").as("id_b"), col("v").as("vb"),
      col("nv").as("nb"), col("cell"))
    a.join(b, "cell").where(col("id_a") < col("id_b"))
      .where(round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6)
        >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Embedding-cosine near-duplicate pairs within a blocking column. */
  def cosineNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"), col(blockCol))
      .withColumn("na", norm(col("va")))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"), col(blockCol))
      .withColumn("nb", norm(col("vb")))
    a.join(b, blockCol).where(col("id_a") < col("id_b"))
      .withColumn("cos_sim", round(dot(col("va"), col("vb")) / (col("na") * col("nb")), 6))
      .where(col("cos_sim") >= threshold)
      .select(col("id_a"), col("id_b"), col(blockCol), col("cos_sim"))
  }
}
