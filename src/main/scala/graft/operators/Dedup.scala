package graft.operators

import graft.core.Checkpointing
import graft.functions.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, GraftPartitionedCache}
import org.apache.spark.sql.functions._

/** Document deduplication suite for training-data pipelines:
  * exact (hash-group), n-gram Jaccard, MinHash+LSH banding, SimHash.
  *
  * Scale design:
  *  - exact dedup = one hash aggregation on a digest key (map-side combine).
  *  - pairwise Jaccard is only ever computed inside a *blocking* key
  *    (explicit block columns, or LSH band buckets) — never a global
  *    cross-join. The LSH path is the 100 TB route: signature generation is
  *    per-row (no shuffle), band explosion multiplies rows by #bands, and
  *    candidate pairing is an equi-join on (band, bandHash) that AQE can
  *    re-plan for skewed buckets.
  *  - all hashes are int64 mod 1e9+7 so every product stays < 2^63 and the
  *    DuckDB oracle can reproduce them exactly.
  */
object Dedup {
  val P: Long = TextAnalysis.HashMod

  /** Close the root cache scope ([[graft.core.Caching.root]]): drop
    * every cache the operators built with no scope open. Callers that
    * fully consume a query's result run it inside
    * [[graft.core.Caching.scope]] instead; this stays for the perfbench
    * harness, which releases between passes with it. A cache the caller
    * persisted is never owned, so it survives. */
  def releaseCaches(): Unit = graft.core.Caching.root.close()

  /** MinHash parameter schedule: hash_i(x) = (a_i * x + b_i) mod P with
    * a_i,b_i derived deterministically from i. Shared with the oracle SQL
    * (the literals are interpolated into it from these same functions). */
  def aCoef(i: Int): Long = (i.toLong * 2654435761L) % P + 1
  def bCoef(i: Int): Long = (i.toLong * 40503L * 65537L) % P

  /** Exact dedup: canonical (min) id + copy count per content digest. */
  def exactDedup(df: DataFrame, idCol: Column, textCol: Column): DataFrame =
    df.groupBy(md5(textCol).as("digest"))
      .agg(min(idCol).as("canonical_id"), count(lit(1)).as("n_copies"))

  /** Distinct 3-gram shingles hashed to int64, sorted ascending so pair
    * verification can use the merge-walk intersect. Native single-pass
    * expression (graft.plans.ShingleHashes): identical output to
    * `sort_array(array_distinct(transform(charNgrams(c,n), polyHash)))`
    * (spec-proven) at a fraction of the allocation. */
  def shingleHashes(textCol: Column, n: Int = 3): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.ShingleHashes(expression(textCol), n))
  }

  /** MinHash signature as k scalar columns mh0..mh{k-1} over the hashed
    * shingle set in column `xs`. Native one-pass kernel
    * (graft.plans.MinHashSig): k accumulators in one array walk instead
    * of k transform+array_min passes; bit-identical to `HofForms.minhashColsHof`
    * (spec-proven — shared coefficient schedule). */
  def minhashCols(xs: Column, k: Int): Seq[(String, Column)] = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val sig = column(graft.plans.MinHashSig(expression(xs), k))
    (0 until k).map(i => s"mh$i" -> element_at(sig, i + 1))
  }

  /** LSH band hashes of the shingle set in `xs`: `bands` longs, band b
    * the fold `(h * 31 + m) % P` over minhashes b·r until (b+1)·r of a
    * k-signature. Native one-pass kernel (graft.plans.MinHashBands): the
    * signature never leaves it; bit-identical to `HofForms.bandHash` over
    * [[minhashCols]] (spec-proven). Null for an empty set. */
  def minhashBands(xs: Column, k: Int, bands: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.MinHashBands(expression(xs), k, bands))
  }

  /** Jaccard of two distinct-element arrays via one intersection pass:
    * |A∩B| / (|A| + |B| - |A∩B|) — skips building the union array
    * (int/int division, bit-stable across engines). */
  def jaccard(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b))
    i.cast("double") / (size(a) + size(b) - i).cast("double")
  }

  /** Jaccard over SORTED long-hash sets using the native merge-walk
    * intersect count (graft.plans.SortedLongIntersectCount) — the hot-path
    * form for pair verification. */
  def jaccardSorted(a: Column, b: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val i = column(graft.plans.SortedLongIntersectCount(expression(a), expression(b)))
    i.cast("double") / (size(a) + size(b) - i).cast("double")
  }

  /** [[jaccardSorted]] with a provable-miss early exit for verify passes
    * that immediately filter `>= threshold`: exact jaccard when the pair
    * can reach the threshold, -1.0 (which the same filter drops) as soon
    * as the merge walk proves it cannot — on candidate streams where ~1%
    * of pairs verify, most walks stop partway instead of finishing.
    * [[jaccardSorted]] stays as the unthresholded cross-check oracle
    * (SortedLongIntersectCountSpec pins their equality above threshold
    * and the sentinel's filter-equivalence below). */
  def jaccardSortedGe(a: Column, b: Column, threshold: Double): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.SortedLongJaccardGe(expression(a), expression(b), threshold))
  }

  /** Blocked pairwise n-gram Jaccard near-dup pairs (doc_a < doc_b,
    * jaccard >= threshold). `blockCols` bound the quadratic blow-up; use
    * [[lshNearDupPairs]] when no natural blocking key exists.
    * Shingles travel as hashed int64 sets: long-array intersection beats
    * string-array intersection ~5x and shrinks the shuffle. */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      blockCols: Seq[String], n: Int, threshold: Double): DataFrame = {
    // persist the hashed-shingle table: both sides of the self-join read
    // it, and Spark shares no DAG across join branches — without this the
    // (expensive) shingling runs twice. MEMORY_AND_DISK so a 100 TB corpus
    // degrades to a disk-backed materialization instead of an OOM.
    // Parallelism.floor: shingling is CPU-dense, so its parallelism must
    // come from the cluster, not from the scan's split count (a
    // single-file corpus otherwise shingles on one core).
    val sh = graft.core.Caching.persist(
      graft.core.Parallelism.floor(df, col(idCol)).select(
      (col(idCol).as("doc") +: blockCols.map(col)) :+
        shingleHashes(col(textCol), n).as("shingles"): _*)).df
    val a = sh.select(col("doc").as("doc_a") +: col("shingles").as("sa") +:
      blockCols.map(col): _*)
    val b = sh.select(col("doc").as("doc_b") +: col("shingles").as("sb") +:
      blockCols.map(col): _*)
    verified(a.join(b, blockCols).where(col("doc_a") < col("doc_b")), threshold)
      .select((col("doc_a") +: col("doc_b") +: blockCols.map(col)) :+ col("jaccard"): _*)
  }

  /** The exact verify step of every near-dup operator, over pair rows
    * carrying shingle sets `sa` and `sb`: the size-ratio prefilter
    * (jaccard <= min(|A|,|B|)/max(|A|,|B|), so a pair failing the ratio
    * can never clear the threshold — it prunes before the O(|A|+|B|)
    * merge-walk, exactness preserved), then `jaccard` and its
    * `>= threshold` filter. */
  private def verified(pairs: DataFrame, threshold: Double): DataFrame =
    pairs
      .where(least(size(col("sa")), size(col("sb"))).cast("double")
        >= lit(threshold) * greatest(size(col("sa")), size(col("sb"))).cast("double"))
      .withColumn("jaccard", jaccardSortedGe(col("sa"), col("sb"), threshold))
      .where(col("jaccard") >= threshold)

  /** The LSH operators' verify pass: each distinct candidate pair joins
    * `shA`'s shingles back on `doc_a` and `shB`'s on `doc_b`, then
    * [[verified]]. The joins carry no hint: under
    * `spark.sql.autoBroadcastJoinThreshold` the shingle sides broadcast
    * and the candidate stream flows through two broadcast hash joins; at
    * full-corpus scale (or at `-1`) they plan as shuffled joins. */
  private def verifyCandidates(cand: DataFrame, shA: DataFrame, shB: DataFrame,
      threshold: Double): DataFrame = {
    def side(sh: DataFrame, idAs: String, xsAs: String) =
      sh.select(col("doc_id").as(idAs), col("xs").as(xsAs))
    verified(cand
      .join(side(shA, "doc_a", "sa"), Seq("doc_a"))
      .join(side(shB, "doc_b", "sb"), Seq("doc_b")), threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  /** MinHash signatures (k columns) per document. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val withShingles = df.select(col(idCol).as("doc_id"),
      shingleHashes(col(textCol)).as("xs"))
    withShingles.select(col("doc_id") +: minhashCols(col("xs"), k).map { case (n, c) => c.as(n) }: _*)
  }

  /** The scalable near-dup path: LSH banding over minhash signatures ->
    * candidate pairs sharing >= 1 band -> verified n-gram Jaccard filter.
    * One explode (x bands) + one equi-join on (band, hash); no block scan.
    *
    * Shuffle discipline: the band join and candidate dedup carry ONLY the
    * two 8-byte doc ids — the shingle arrays are joined back exactly once
    * per *distinct* candidate pair for the verify pass. (Carrying the
    * arrays through the band join multiplies them by #shared-bands and
    * makes `distinct()` compare array keys — measured ~10x slower at
    * sf0.1 on a self-similar corpus.)
    */
  def lshNearDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, threshold: Double): DataFrame = {
    // hashed shingle set and band hashes once, inside the cache: the band
    // self-join and both verify joins read it, and under AQE Spark reuses
    // no exchange or broadcast over a cached or checkpointed leaf (the
    // exchange's canonical plan keeps the cache stage's id), so a column
    // derived outside the cache is recomputed by every consumer.
    // Parallelism.floor: the whole shingle -> minhash -> band -> candidate
    // pipeline runs map-side on this frame's partitioning, so a
    // single-split scan would otherwise serialize it onto one core
    // (measured 4.2 s of a 5.9 s q28 in one task at sf0.1).
    // partition-VISIBLE floor cache (hash(doc_id) declared through the
    // cache): the verify joins meet the candidate stream on doc_a/doc_b —
    // when the shingle side is too big to broadcast, its exchange is
    // already satisfied by the declared layout and only the ids-only
    // candidate side shuffles
    val sh = bandedShingles(df, idCol, textCol, k, bands)
    val cand = bandRows(sh, "doc_a").join(bandRows(sh, "doc_b"), Seq("band", "bh"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b")).distinct()
    verifyCandidates(cand, sh, sh, threshold)
  }

  /** The LSH operators' cache: (doc_id, xs = hashed shingle set, bhs =
    * its [[minhashBands]]), hash-partitioned on doc_id through
    * [[graft.core.Caching.persist]]. The narrow step is a projection, so
    * the declared partitioning holds. */
  private def bandedShingles(df: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int): DataFrame =
    graft.core.Caching.persist(
      df.select(col(idCol).as("doc_id"), col(textCol)), Seq("doc_id"),
      narrow = _.select(col("doc_id"), shingleHashes(col(textCol)).as("xs"))
        .select(col("doc_id"), col("xs"), minhashBands(col("xs"), k, bands).as("bhs"))).df

  /** One (idAs, band, bh) row per band of each document of a
    * [[bandedShingles]] cache; none for an empty shingle set. */
  private def bandRows(sh: DataFrame, idAs: String): DataFrame =
    sh.select(col("doc_id").as(idAs), posexplode(col("bhs")).as(Seq("band", "bh")))

  /** Cross-corpus LSH near-dup JOIN — decontamination at full scale. The
    * q94 token-overlap path broadcasts the eval suites (MB-scale, the
    * common case); when the holdout side is itself corpus-sized (a
    * held-out shard, a licensed-content blocklist, yesterday's crawl),
    * the general form is this A x B banding join: both corpora shingle
    * and band independently, candidates meet on the shared (band,
    * bandhash) equi-join — ids-only through the exchange, never
    * all-pairs, a side broadcast only under the size gate — and the
    * verify pass joins each side's shingles back once per distinct
    * candidate pair. Same shuffle discipline and size-ratio prune as
    * [[lshNearDupPairs]]. Output: (doc_a from A, doc_b from B, jaccard
    * >= threshold); ids may overlap across corpora (sides stay
    * distinct). */
  def lshCrossCorpusPairs(dfA: DataFrame, dfB: DataFrame, idCol: String,
      textCol: String, k: Int, bands: Int, threshold: Double): DataFrame = {
    val shA = bandedShingles(dfA, idCol, textCol, k, bands)
    val shB = bandedShingles(dfB, idCol, textCol, k, bands)
    val cand = bandRows(shA, "doc_a").join(bandRows(shB, "doc_b"), Seq("band", "bh"))
      .select(col("doc_a"), col("doc_b")).distinct()
    verifyCandidates(cand, shA, shB, threshold)
  }

  /** Decontaminate by cross-corpus LSH: drop every train doc near-dup
    * (jaccard >= threshold) with ANY eval doc — the anti-join over
    * [[lshCrossCorpusPairs]]'s distinct left ids. */
  def lshDecontaminate(train: DataFrame, evalDf: DataFrame, idCol: String,
      textCol: String, k: Int, bands: Int, threshold: Double): DataFrame = {
    val dirty = lshCrossCorpusPairs(train, evalDf, idCol, textCol, k, bands,
      threshold).select(col("doc_a")).distinct()
    train.join(dirty, train(idCol) === dirty("doc_a"), "left_anti")
  }

  /** Near-dup CLUSTERS from near-dup PAIRS — the dedup post-step every
    * pipeline needs (pairs alone over-count: A~B, B~C must collapse to
    * one canonical document {min id}) — by ALTERNATING
    * large-star/small-star rounds (Kiveris et al. 2014, "Connected
    * Components in MapReduce and Beyond"): converges in O(log n) rounds
    * even on adversarially deep components (a path graph collapses by
    * roughly halving its height every alternation), where min-label
    * propagation needs O(diameter) rounds.
    *
    * Both operations are the same distributed shapes as min-label
    * propagation: a groupBy-min per node plus one equi-join — no new
    * shuffle patterns, just fewer rounds. Edges stay oriented
    * (larger, smaller) and deduped, so the edge set is monotonically
    * star-ified; at fixpoint every non-root points directly at its
    * component minimum.
    *
    * Output: (node, component) with component = min reachable node id,
    * both int64 — label-for-label identical to the min-label fixpoint
    * (AltStarSpec proves equality on random graphs). Self-pairs are
    * ignored: a node appearing only as (a, a) gets no label row. */
  def connectedComponentsAltStar(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame =
    altStarWithRounds(pairs, aCol, bCol, maxIter)._1

  private[operators] def altStarWithRounds(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int): (DataFrame, Int) =
    altStarAnyWithRounds(
      pairs.select(col(aCol).cast("long").as("__a"), col(bCol).cast("long").as("__b")),
      "__a", "__b", maxIter)

  /** [[connectedComponentsAltStar]] over ANY orderable key type (e.g. a
    * `struct(graph_id, node)` composite, which runs the components of
    * many small graphs in ONE iterative job instead of one alt-star loop
    * per graph — Spark orders structs lexicographically, so the
    * component id is `struct(graph_id, min node)`). */
  private[operators] def altStarAny(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame =
    altStarAnyWithRounds(pairs, aCol, bCol, maxIter)._1

  /** Salt fan-out of the skew-safe min-attach (see [[withMin]]). */
  private val MinSaltK = 16L

  /** Both orientations of every edge by EXPLODE, not self-union: one scan
    * of the edge frame emits both map-side, so a star's input is
    * referenced exactly ONCE in the round plan. (The union form scanned
    * it twice, which forced the large-star output to be checkpointed
    * before small-star could read it — a whole extra action per round.) */
  private def symmetric(e: DataFrame): DataFrame =
    e.select(explode(array(struct(col("u"), col("v")),
        struct(col("v").as("u"), col("u").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))

  /** m(u) = min(Γ(u) ∪ {u}), attached to every symmetric-adjacency row.
    *
    * Default (`salted = false`): ONE window exchange on u — the agg+join
    * form paid an aggregation exchange, a join exchange AND a per-round
    * broadcast build for the same information; the window keys the
    * identical shuffle and computes the unordered min in-partition.
    *
    * Salted (`salted = true`, chosen when the measured max degree crosses
    * graft.cc.saltDegreeThreshold): a window partitioned by u lands a
    * giant-degree node's WHOLE adjacency in one task (guide §2.5), so the
    * min is instead computed by a two-level map-side-combined aggregation
    * — partial aggregation shrinks the hot key to one row per map task
    * BEFORE any shuffle — and attached by an equi-join on (u, salt),
    * which spreads the hot node's rows over MinSaltK reduce tasks. The
    * salt is deterministic (pmod of xxhash64(v) — retried tasks reproduce
    * it, SPARK-38388 discipline). Costs one extra full-edge exchange and
    * two node-sized ones per star, so it is degree-gated, not default. */
  private[operators] def withMin(e: DataFrame, salted: Boolean): DataFrame =
    if (!salted)
      symmetric(e).withColumn("m",
        least(col("u"), min(col("v")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("u")))))
    else {
      val sym = symmetric(e)
        .withColumn("salt", pmod(xxhash64(col("v")), lit(MinSaltK)))
      val m = sym.groupBy(col("u"), col("salt")).agg(min(col("v")).as("pm"))
        .groupBy(col("u")).agg(min(col("pm")).as("mv"))
        .select(col("u"), col("mv"),
          explode(sequence(lit(0L), lit(MinSaltK - 1))).as("salt"))
      sym.join(m, Seq("u", "salt"))
        .select(col("u"), col("v"), least(col("u"), col("mv")).as("m"))
    }

  // NO trailing distinct on either star: duplicates cannot change any
  // later min (the only thing a star computes), and the round's tagged
  // aggregation dedups (u, v) in the same exchange that computes the
  // convergence witness. Volume stays O(E): large-star emits exactly
  // one row per oriented input edge (the v > u orientation of each sym
  // pair), so dropping its distinct removes one exchange per round
  // without inflating the next one beyond the edge count the round
  // already shuffles twice.
  private def largeStar(e: DataFrame, salted: Boolean): DataFrame =
    withMin(e, salted).where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .where(col("u") =!= col("v"))

  // The (u, m) self-edge emits once per sym ROW (not per node) — the
  // tagged aggregation absorbs the multiplicity map-side.
  private def smallStarRaw(e: DataFrame, salted: Boolean): DataFrame =
    withMin(e, salted).select(explode(when(col("v") < col("u"),
        array(struct(col("v").as("eu"), col("m").as("ev")),
          struct(col("u").as("eu"), col("m").as("ev"))))
      .otherwise(array(struct(col("u").as("eu"), col("m").as("ev"))))).as("e"))
      .select(col("e.eu").as("u"), col("e.ev").as("v"))
      .where(col("u") =!= col("v"))

  /** One streaming union-find pass per task over the oriented pair list:
    * every node a task sees re-points directly at the minimum of its
    * within-task component (path-compressed, union-by-min), and the task
    * emits exactly that star — (node, taskLocalMin) rows, at most one per
    * node, never more rows than its input. Connectivity is preserved
    * globally: a node split across tasks emits one star edge per task,
    * chaining the task-local components together, and the node universe
    * is computed from the raw pair frame separately. Seeding the alt-star
    * loop with this frame pre-collapses every intra-task path to depth 1,
    * which cuts loop rounds wherever the upstream pair generator left
    * related pairs in the same partition (and collapses the whole graph
    * when it fits one task). Runs BEFORE the distinct so it still sees
    * the generator's locality — and the distinct then shuffles the
    * contracted stars, never the raw pair volume. */
  /** max-merging accumulator: idempotent under task retry/recompute, so
    * it is safe to fill from inside a transformation. */
  private final class MaxAcc extends org.apache.spark.util.AccumulatorV2[Long, Long] {
    private var m = 0L
    override def isZero: Boolean = m == 0L
    override def copy(): MaxAcc = { val a = new MaxAcc; a.m = m; a }
    override def reset(): Unit = m = 0L
    override def add(v: Long): Unit = m = math.max(m, v)
    override def merge(o: org.apache.spark.util.AccumulatorV2[Long, Long]): Unit =
      m = math.max(m, o.value)
    override def value: Long = m
  }

  private def contractPartitions(edges: DataFrame, maxComp: MaxAcc): DataFrame = {
    val ss = edges.sparkSession
    import ss.implicits._
    edges.select(col("u").cast("long"), col("v").cast("long")).as[(Long, Long)]
      .mapPartitions { it =>
        val parent = new java.util.HashMap[Long, Long]()
        val size = new java.util.HashMap[Long, Long]()
        var mx = 1L
        def find(x: Long): Long = {
          var r = x
          while (parent.get(r) != r) r = parent.get(r)
          var c = x
          while (c != r) { val n = parent.get(c); parent.put(c, r); c = n }
          r
        }
        it.foreach { case (a, b) =>
          if (!parent.containsKey(a)) { parent.put(a, a); size.put(a, 1L) }
          if (!parent.containsKey(b)) { parent.put(b, b); size.put(b, 1L) }
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            val (lo, hi) = if (ra < rb) (ra, rb) else (rb, ra)
            parent.put(hi, lo)
            val s = size.get(lo) + size.get(hi)
            size.put(lo, s)
            if (s > mx) mx = s
          }
        }
        if (!parent.isEmpty) maxComp.add(mx)
        val keys = parent.keySet().toArray(new Array[java.lang.Long](0))
        keys.iterator.flatMap { k =>
          val n = k.longValue(); val r = find(n)
          if (r != n) Iterator((n, r)) else Iterator.empty
        }
      }.toDF("u", "v")
  }

  private[operators] def altStarAnyWithRounds(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int): (DataFrame, Int) = {
    // The input pair frame is consumed exactly ONCE (the oriented edge
    // set feeding the seeding contraction): the node universe is no
    // longer scanned out of the input — at the alt-star fixpoint every
    // non-root points directly at its component minimum, so the label
    // set is recoverable from the FINAL edge frame alone (non-roots as
    // u -> v, roots as distinct v; see the labels derivation below).
    // That removes the input cache build, a union+distinct over 2E
    // rows, one eager checkpoint action, and the final nodes-edges
    // join the old shape paid per call. PRECONDITION (held by every
    // caller — near-dup/semDedup/core-edge pairs are strict a < b,
    // HDBSCAN seeds a != b): self-pairs are ignored, so a node
    // appearing ONLY as (a, a) gets no label row.
    //
    // eager lineage truncation each round: iterative self-referencing
    // plans grow exponentially otherwise (each round references the
    // previous edge set several times). Reliable checkpoints when the
    // context has a checkpoint dir (graft.core.Checkpointing).
    val oriented = pairs.select(
        greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .where(col("u") =!= col("v"))
    // union-find seeding only speaks long ids; composite (struct) keys —
    // the per-graph labeling path, whose graphs are bounded by
    // construction — skip it and enter the loop on the plain distinct
    // edge set
    val contractible =
      oriented.schema("u").dataType == org.apache.spark.sql.types.LongType
    val callerSession = pairs.sparkSession
    // filled as a side effect of the contraction pass (max-merge is
    // idempotent under retries): the largest within-task component is the
    // fan-in of the widest star the seeding emits — the round-1 hot-key
    // signal that gates the skew-safe min-attach below, measured for free
    // instead of by an extra degree-aggregation job.
    val maxComp = new MaxAcc
    callerSession.sparkContext.register(maxComp, "graft.cc.maxLocalComponent")
    val edges0 = Checkpointing.truncate(
      (if (contractible) contractPartitions(oriented, maxComp) else oriented)
        .distinct())
    // The rounds run under a loop-scoped session (graft.core.LoopSession):
    // shuffle partitioning is derived ONCE from the measured initial edge
    // count — the same size-adaptive decision AQE re-makes per exchange
    // per round, minus the R·K replanning round-trips — and only frames
    // in lineage-truncated form cross the session boundary. The count is
    // one narrow scan of the just-checkpointed frame; edge counts only
    // shrink over rounds, so the initial count is the conservative bound.
    val salted = maxComp.value > callerSession.conf.get(
      "graft.cc.saltDegreeThreshold",
      graft.core.LoopSession.RowsPerTask.toString).toLong
    val loopSession = graft.core.LoopSession.forRows(callerSession, edges0.count())
    var edges = GraftPartitionedCache.rebind(edges0, loopSession)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      // ONE checkpoint action per round (was two): the round's whole
      // large-star -> small-star -> dedup+witness pipeline is a single
      // linear plan — explode-symmetric references each star's input
      // once, so the large-star output no longer needs its own eager
      // checkpoint before small-star reads it. The small-star dedup and
      // the exact set-equality convergence witness run in ONE tagged
      // aggregation: tag new edges 1, old edges 2, group by (u, v);
      // inNew/inOld flags give both e2 = {inNew} and changed =
      // ∃ inNew ≠ inOld. Per round that is 3 exchanges (two window
      // shuffles on u, one (u, v) aggregation) + one narrow no-shuffle
      // check scan of the checkpointed frame — down from 4 exchanges
      // across 2 checkpoint actions + the check.
      val f = Checkpointing.truncate(
        smallStarRaw(largeStar(edges, salted), salted)
          .select(col("u"), col("v"), lit(1).as("t"))
          .union(edges.select(col("u"), col("v"), lit(2).as("t")))
          .groupBy(col("u"), col("v"))
          .agg(max(col("t") === 1).as("inNew"), max(col("t") === 2).as("inOld")))
      val changed = !f.where(col("inNew") =!= col("inOld")).isEmpty
      edges = f.where(col("inNew")).select(col("u"), col("v"))
      converged = !changed
      it += 1
    }
    require(converged, s"alt-star components did not converge in $maxIter rounds")
    // back onto the caller's session (edges is a filter+project over the
    // round's checkpointed frame — a LogicalRDD leaf, no session state to
    // re-resolve)
    val edgesOut = GraftPartitionedCache.rebind(edges, callerSession)
    // labels straight off the fixpoint star frame: every NON-ROOT node
    // appears exactly once as u (pointing at its component minimum, the
    // property the old nodes-join already relied on), and every root of
    // a >= 2-node component appears as some row's v — so (u -> v) rows
    // plus one self row per distinct v is the complete, duplicate-free
    // label set. The distinct shrinks map-side to one row per component
    // per task (vs. the old union+distinct over BOTH endpoint columns of
    // the raw input plus a join back).
    val labels = edgesOut.select(col("u").as("node"), col("v").as("component"))
      .union(edgesOut.select(col("v").as("node"), col("v").as("component")).distinct())
    (labels, it)
  }

  /** 16-bit SimHash over distinct whitespace tokens: bit j set iff more
    * than half the token hashes have bit j set. Native one-pass majority
    * kernel (graft.plans.SimHash16) — its HOF reference
    * (`HofForms.simhash16Hof`, test sources) walks the hash array
    * once per bit. */
  def simhash16(textCol: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val hs = transform(array_distinct(TextAnalysis.tokens(textCol)),
      t => TextAnalysis.polyHash(t) % 65536)
    column(graft.plans.SimHash16(expression(hs)))
  }

  /** Token n-grams of every position (NOT distinct — spans need each
    * occurrence): 0-based start position + int64 poly-hash. The hashed
    * per-doc arrays are cached pre-explode (parallelism-floored): the
    * occurrence-count side and the mark-back side both read this frame,
    * and without the cache the tokenize+hash pass re-runs per branch —
    * single-task on a one-split corpus. Dropped when the consuming
    * caller's cache scope closes ([[graft.core.Caching]]). */
  private def ngramPositions(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    // partition-VISIBLE floor cache (hash(doc_id) declared through the
    // cache; tokenize+hash runs post-shuffle in `narrow` at cluster
    // parallelism): the span-merge window partitioned by doc_id plans no
    // exchange when the duplicated-gram side broadcasts
    graft.core.Caching.persist(
        df.select(col(idCol).as("doc_id"), col(textCol)), Seq("doc_id"),
        narrow = _.select(col("doc_id"),
          TextAnalysis.tokenNgramHashesAll(col(textCol), n).as("gs")))
      .df.select(col("doc_id"), posexplode(col("gs")).as(Seq("pos", "g")))

  /** Exact-substring duplicated-span detection — the ExactSubstr side of
    * the published training-data dedup recipe (Lee et al. 2021,
    * arXiv:2107.06499, which the reference-style pipelines run with a
    * suffix array): any token span of length >= n occurring more than once
    * in the corpus (across documents or repeated within one) is marked,
    * and overlapping/adjacent marks merge into maximal spans.
    *
    * Token-granular equivalence to the suffix-array formulation: a
    * duplicated substring of >= n tokens contains a duplicated n-gram at
    * every offset, so the union of duplicated n-gram spans [i, i+n) is
    * exactly the token set inside duplicated >= n-token substrings.
    *
    * Scale shape: n-gram hashing is per-row (no shuffle); occurrence
    * counting is one map-side-combinable int64 aggregation; the mark-back
    * join is an int64 equi-join (AQE broadcasts it when the duplicated
    * set is small, the common case); span merging is a per-document
    * window — the same doc_id shuffle any per-doc aggregate pays. Hashes
    * are polyHash mod 1e9+7 so the SQL oracle replays them exactly; a
    * production run would widen to 128 bits (xxhash64 pairs) to make
    * collisions negligible at 10^12 n-grams.
    *
    * @return one row per merged span: doc_id, span_id (0-based per-doc
    *         ordinal by position), s (inclusive), e (exclusive) token
    *         indices. Documents with no duplicated span emit no rows.
    */
  def duplicatedNgramSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minCount: Long = 2L, keepCanonical: Boolean = false): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minCount >= 2L, s"minCount must be >= 2, got $minCount")
    val pos = ngramPositions(df, idCol, textCol, n)
    // keepCanonical = the Lee et al. retention policy: ONE occurrence of
    // each duplicated n-gram survives — the lexicographically lowest
    // (doc_id, pos), elected in the same single aggregation that counts
    // (min over a struct is the lexicographic argmin; deterministic
    // under any partitioning). All other occurrences mark. A canonical
    // position can still fall inside a span marked by a DIFFERENT
    // n-gram's non-canonical occurrence — spans are maximal unions, the
    // same convention as the detection side.
    val marked =
      if (!keepCanonical)
        pos.join(
          pos.groupBy("g").agg(count(lit(1)).as("cnt"))
            .where(col("cnt") >= minCount).select("g"),
          Seq("g")).select(col("doc_id"), col("pos"))
      else
        pos.join(
          pos.groupBy("g")
            .agg(count(lit(1)).as("cnt"),
              min(struct(col("doc_id"), col("pos"))).as("canon"))
            .where(col("cnt") >= minCount)
            .select(col("g"), col("canon")),
          Seq("g"))
          .where(!(col("doc_id") === col("canon.doc_id") &&
            col("pos") === col("canon.pos")))
          .select(col("doc_id"), col("pos"))
    // Island merge in ONE doc_id shuffle: gather each doc's marked
    // positions (bounded by doc length — the per-doc-array invariant
    // every text operator here relies on) and fold them into maximal
    // spans with a HOF aggregate. The windowed formulation pays the same
    // doc_id exchange PLUS a second (doc_id, island) aggregation
    // exchange — measured 1.5x slower at sf0.1.
    val emptySpans = array().cast("array<struct<s:bigint,e:bigint>>")
    marked
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), posexplode(
        aggregate(col("ps"), emptySpans, { (acc, p0) =>
          val p = p0.cast("long")
          val last = element_at(acc, -1)
          when(size(acc) > 0 && p <= last.getField("e"),
            concat(slice(acc, lit(1), size(acc) - 1),
              array(struct(last.getField("s").as("s"),
                greatest(last.getField("e"), p + n).as("e")))))
            .otherwise(concat(acc, array(struct(p.as("s"), (p + n).as("e")))))
        })).as(Seq("span_id", "sp")))
      .select(col("doc_id"), col("span_id").cast("long").as("span_id"),
        col("sp.s").as("s"), col("sp.e").as("e"))
  }

  /** Remove duplicated spans from each document: tokens inside any
    * [[duplicatedNgramSpans]] span are dropped, the rest re-join with
    * single spaces (token-normalized text, as the published recipe edits
    * the tokenized stream). Returns doc_id, n_tok (pre-removal),
    * n_removed, clean_text. Documents with nothing to remove pass through
    * (left join keeps them; span filtering is per-row HOF work). */
  def removeDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int, minCount: Long = 2L, keepCanonical: Boolean = false): DataFrame = {
    val spans = duplicatedNgramSpans(df, idCol, textCol, n, minCount, keepCanonical)
      .groupBy("doc_id")
      .agg(collect_list(struct(col("s"), col("e"))).as("spans"))
    df.select(col(idCol).as("doc_id"), TextAnalysis.tokens(col(textCol)).as("toks"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("spans",
        coalesce(col("spans"), array().cast("array<struct<s:bigint,e:bigint>>")))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tok"),
        aggregate(col("spans"), lit(0L),
          (acc, sp) => acc + sp.getField("e") - sp.getField("s")).as("n_removed"),
        concat_ws(" ", filter(col("toks"), (t, i) =>
          !exists(col("spans"), sp =>
            i.cast("long") >= sp.getField("s") && i.cast("long") < sp.getField("e"))))
          .as("clean_text"))
  }

  /** WITHIN-document line dedup — the intra-doc repetition-removal step
    * the C4/RefinedWeb cleaning stacks run before any cross-document
    * dedup (boilerplate nav bars, cookie banners and footer text repeat
    * inside a page long before they repeat across pages): drop every
    * line whose normalized form (lower+trim) already appeared earlier in
    * the SAME document, preserving the order of first occurrences.
    *
    * Implemented as a PURE PROJECTION via the `aggregate` higher-order
    * function folding a (seen-keys, kept-lines) accumulator over the
    * line array — zero shuffles, in contrast to the explode → window
    * rank → re-aggregate formulation which pays two exchanges and a
    * per-(doc,line-key) window. The fold is O(L²) in a document's LINE
    * count (array_contains per line) — L is tens-to-hundreds for real
    * pages, so the quadratic term is noise next to the shuffle it
    * replaces; a million-line pathological doc belongs to the
    * exact-substring machinery ([[duplicatedNgramSpans]]) instead.
    *
    * Output: (doc_id, text_dedup, n_lines, n_kept). Empty lines dedup
    * like any other (normalized key "") — successive blank lines
    * collapse to the first, which is the C4 behavior for whitespace
    * boilerplate. */
  def dedupLinesWithin(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val emptyAcc = struct(
      array().cast("array<string>").as("seen"),
      array().cast("array<string>").as("kept"))
    val ls = split(col(textCol), "\n")
    val acc = aggregate(ls, emptyAcc, (a, x) => {
      val key = lower(trim(x))
      when(array_contains(a.getField("seen"), key), a)
        .otherwise(struct(
          concat(a.getField("seen"), array(key)).as("seen"),
          concat(a.getField("kept"), array(x)).as("kept")))
    })
    df.select(col(idCol).as("doc_id"), ls.as("ls"), acc.getField("kept").as("kept"))
      .select(col("doc_id"),
        array_join(col("kept"), "\n").as("text_dedup"),
        size(col("ls")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"))
  }

  /** Content-defined chunking + cross-document chunk dedup — the
    * storage-style dedup primitive (LBFS/Venti lineage; rsync's rolling
    * window): cut a document AFTER every position whose trailing w=8
    * character window hashes to 0 mod 64, so boundaries are CONTENT
    * anchors — insert a paragraph and every later chunk realigns
    * identically, where fixed-size blocks would shift and nothing would
    * dedup. Chunk fingerprints then dedup corpus-wide by equality: the
    * coarse complement to token-level exact-substring spans
    * ([[duplicatedNgramSpans]]) that a 100 TB pipeline can afford on
    * EVERY document (hash-keyed counts, no suffix machinery).
    *
    * The window hash is the plain 8-term polynomial Σ ord(c)·31^k —
    * exact in int64 (max < 2.5e17), written literally in the q143
    * oracle. Boundary enumeration is a per-row HOF projection; the only
    * shuffles are the chunk-hash count aggregation and the hash-keyed
    * join back (AQE size-gated), both linear in chunks ≈ chars/64.
    *
    * Output per doc: (doc_id, n_chunks, n_dup_chunks, chunks_fp) where
    * n_dup_chunks counts this doc's chunks whose content occurs more
    * than once corpus-wide and chunks_fp pins the ordered chunk-hash
    * stream. Documents with empty normalized text vanish (no chunks) —
    * mirrored in the oracle. */
  def cdcChunkStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pows = (7 to 0 by -1).map(k => math.pow(31, k).toLong) // 31^7..31^0
    // LAMBDA DISCIPLINE — the two traps this implementation dodges:
    // (1) higher-order lambdas evaluate interpreted, re-running every
    // subtree in the BODY once per element, and CollapseProject inlines
    // staged columns into lambda bodies (lambda-internal references are
    // not counted as multi-use) — so a body touching an O(chars)
    // expression re-walks the document per element; (2) inlining is
    // MULTIPLICATIVE through the expression DAG — every reference to a
    // column re-evaluates its full upstream chain (a zip_with-chain
    // formulation of the window hashes measured 48 s for 500 docs this
    // way). The boundary scan is therefore ONE aggregate fold with the
    // classic O(1) ROLLING update h' = h·31 + c_in − c_out·31^8,
    // accumulating boundary positions directly — a single per-row pass
    // whose body touches two characters, nothing else.
    val pow8 = pows.head * 31L // 31^8
    // per-char codes from ONE split (no per-element substr into s); the
    // outgoing-window char rides each element as a pre-zipped struct so
    // the fold body touches nothing but its element and the accumulator
    val nOr1 = greatest(col("n"), lit(1))
    val codes = transform(slice(split(col("s"), ""), lit(1), nOr1),
      c => ascii(c).cast("long"))
    val cOut = concat(array_repeat(lit(0L), lit(8)),
      slice(codes, lit(1), greatest(col("n") - 8, lit(0))))
    val pairs = zip_with(codes, cOut,
      (a, b) => struct(a.as("cin"), b.as("cout")))
    val withIdx = zip_with(pairs, sequence(lit(1), nOr1),
      (p, i) => struct(i.as("i"),
        p.getField("cin").as("cin"), p.getField("cout").as("cout")))
    val boundaryFold = aggregate(
      when(col("n") >= 8, withIdx)
        .otherwise(array().cast("array<struct<i:int,cin:bigint,cout:bigint>>")),
      struct(lit(0L).as("h"), array().cast("array<int>").as("bp")),
      (a, p) => {
        val h2 = a.getField("h") * 31L + p.getField("cin") -
          p.getField("cout") * pow8
        struct(h2.as("h"),
          when(p.getField("i") >= 8 && h2 % 64 === 0,
            concat(a.getField("bp"), array(p.getField("i"))))
            .otherwise(a.getField("bp")).as("bp"))
      })
    // CODE-UNIT SEMANTICS PINNED: the rolling hash reads char codes via
    // Spark `ascii()`, the q143 oracle via DuckDB `ord()` (codepoints),
    // and the spec reference via UTF-16 charAt — three engines that only
    // agree on ASCII. Project the normalized text onto printable ASCII
    // (everything outside [0x20,0x7e] -> one space) BEFORE chunking, so
    // boundaries are engine-independent on arbitrary web text; the oracle
    // and CdcChunkSpec apply the identical projection (non-ASCII case
    // proven in the spec).
    val staged = df
      .select(col(idCol).as("doc_id"),
        regexp_replace(TextAnalysis.normText(col(textCol)),
          "[^\\x20-\\x7e]", " ").as("s"))
      .withColumn("n", length(col("s")))
      .withColumn("bounds",
        concat(array(lit(0)), boundaryFold.getField("bp"), array(col("n"))))
      // chunk extraction zips two shifted slices of bounds: the heavy
      // subtree sits in input position (evaluated per row, not per
      // element) and the body touches only its elements and `s`
      .withColumn("chunks", filter(
        zip_with(
          slice(col("bounds"), lit(1), size(col("bounds")) - 1),
          slice(col("bounds"), lit(2), size(col("bounds")) - 1),
          (a, b) => col("s").substr(a + 1, b - a)),
        c => length(c) > 0))
    val ex = staged
      .select(col("doc_id"), posexplode(col("chunks")).as(Seq("idx", "chunk")))
      .select(col("doc_id"), col("idx"),
        md5(col("chunk").cast("binary")).as("h"))
    val counts = ex.groupBy("h").agg(count(lit(1)).as("cnt"))
    ex.join(counts, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_chunks"),
        md5(concat_ws("",
          transform(sort_array(collect_list(struct(col("idx"), col("h")))),
            p => p.getField("h"))).cast("binary")).as("chunks_fp"))
  }

  /** CORPUS-WIDE line dedup — the cross-document sibling of
    * [[dedupLinesWithin]] (the CCNet / MassiveText paragraph-dedup step:
    * shared boilerplate — cookie banners, subscribe prompts, nav bars —
    * repeats across *pages*, so within-doc dedup alone leaves one copy
    * per page corpus-wide). Every line whose normalized form
    * (lower+trim) already occurred at an earlier corpus position is
    * dropped; the single FIRST occurrence (ordered by (doc_id, line
    * index)) survives. Empty/whitespace-only lines are never dedup
    * candidates — they are page structure, not content, and a global
    * "first blank line wins" would strip formatting from every document
    * but one.
    *
    * Scale shape (the part that matters at 100 TB): document text never
    * shuffles. The exploded candidate frame carries only (doc_id, idx,
    * md5(norm)) — fixed-width rows; first-occurrence election is ONE
    * map-side-combinable min() on the md5 key (a hot boilerplate line
    * collapses to one row per map partition before the exchange, so
    * key skew is absorbed by partial aggregation); the join back is a
    * fixed-width equi-join on the same key (AQE skew-split eligible);
    * and reconstruction joins a per-doc int-array of DROPPED indexes
    * (small — only actual duplicates) back to the base table on doc_id,
    * rebuilding via a per-row HOF filter. Position packing doc_id·2^20 +
    * idx bounds documents at 2^20 lines and ids at 2^43 — both are
    * checked nowhere hot (a violating corpus wraps the ordering, not
    * the dedup semantics). md5 (not xxhash) keys keep the election
    * bit-replayable in the DuckDB oracle.
    *
    * Output: (doc_id, text_dedup, n_lines, n_kept) — the
    * [[dedupLinesWithin]] shape, so the two compose in either order. */
  def dedupLinesAcross(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ls = split(col(textCol), "\n")
    val base = df.select(col(idCol).cast("long").as("doc_id"), ls.as("ls"))
    val cand = base
      .select(col("doc_id"), posexplode(col("ls")).as(Seq("idx", "line")))
      .withColumn("norm", lower(trim(col("line"))))
      .where(col("norm") =!= "")
      .select(col("doc_id"), col("idx"),
        md5(col("norm").cast("binary")).as("k"),
        (col("doc_id") * 1048576L + col("idx")).as("packed"))
    val firsts = cand.groupBy("k").agg(min(col("packed")).as("first_packed"))
    val dropped = cand.join(firsts, "k")
      .where(col("packed") =!= col("first_packed"))
      .groupBy("doc_id")
      .agg(collect_list(col("idx")).as("drop_idx"))
    base.join(dropped, Seq("doc_id"), "left")
      .withColumn("drop_idx",
        coalesce(col("drop_idx"), array().cast("array<int>")))
      .withColumn("kept", filter(col("ls"),
        (l, i) => !array_contains(col("drop_idx"), i)))
      .select(col("doc_id"),
        array_join(col("kept"), "\n").as("text_dedup"),
        size(col("ls")).cast("long").as("n_lines"),
        size(col("kept")).cast("long").as("n_kept"))
  }
}
