package graft.operators

import graft.functions.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SentencePiece-style unigram-LM tokenizer (Kudo 2018, "Subword
  * Regularization", §3): pieces carry log-probabilities, a word's
  * segmentation is the Viterbi path maximizing Σ log p(piece), and the
  * trainer alternates segmentation with count re-estimation. Completes
  * the subword-scheme triple next to BPE ([[BpeTrainer]], q133/q136)
  * and WordPiece ([[WordPiece]], q141) — the T5/LLaMA-lineage scheme.
  *
  * Spark shapes:
  *  - [[segment]] is ONE Catalyst `aggregate` fold over word positions.
  *    The DP state carries (score, piece-list) per position, so there is
  *    no separate backtrack pass referencing a staged column from inside
  *    a lambda (the multiplicative-inlining trap documented at
  *    [[Dedup.cdcChunkStats]]); the fold body touches only its
  *    accumulator and O(maxPieceLen) substrings. Unreachable positions
  *    hold the absorbing sentinel -1e18 (adding any log-prob leaves it
  *    bit-identical — |lp| << ulp(1e18) — so both engines agree
  *    exactly). Ties break toward the LONGER piece: candidates iterate
  *    length-ascending and replace on `>=`, the convention the oracle's
  *    length-ordered list_reduce replays token for token.
  *  - [[encodeCorpus]] is the q133/q141 shape: segmentation runs once
  *    per DISTINCT pre-token and joins back token-keyed — corpus cost is
  *    vocabulary-bounded (Heaps' law), not document-bounded.
  *  - [[train]] is hard-EM (Viterbi-EM): the E-step re-segments the
  *    distinct-word frame under the current vocab, the M-step
  *    re-estimates counts. A deliberate, documented deviation from
  *    Kudo's soft EM (forward-backward expected counts): hard counts
  *    keep every quantity integral, so the DuckDB oracle replays the
  *    round exactly; the fixture corpora converge to the same pruned
  *    vocabularies. The vocab is MODEL state (config-sized, like the
  *    BPE merge table): each round collects ≤ seedSize+alphabet rows —
  *    bounded driver state, never O(corpus). Single-character pieces
  *    are never pruned and get +1 additive smoothing, so character
  *    coverage (Kudo §4's coverage floor) is structural: no word ever
  *    becomes unsegmentable in a later round.
  *
  * At 100 TB: the corpus is touched once (the word-count aggregation —
  * one map-side-combinable sum); every EM round runs on the distinct-
  * word frame. Encode joins are token-keyed equi-joins; the vocab rides
  * as expression literals (a broadcast-sized model), exactly like the
  * BPE/WordPiece production paths.
  */
object UnigramLM {

  /** The unknown-word sentinel piece (SentencePiece's `<unk>`). */
  val Unk = "<unk>"

  /** One trained piece: surface form, hard-EM count, log-prob rounded
    * to 6 dp (the cross-engine ln bridge, the q137 convention). */
  final case class Piece(piece: String, cnt: Long, lp: Double)

  /** Viterbi segmentation of one word under a literal (piece, lp)
    * vocabulary: the max-total-log-prob piece sequence, or [<unk>] when
    * no position-covering path exists. Pure per-row expression — no
    * UDF, no shuffle. */
  def segment(word: Column, vocab: Seq[(String, Double)]): Column =
    viterbi(word, vocab, None)

  /** Clamp bounds shared with the oracle SQL (avoid log(0)/round(inf)). */
  val SampleClampLo = 1e-12
  val SampleClampHi = 1.0 - 1e-12

  /** Subword-regularization sampling (Kudo 2018 §5) as deterministic
    * perturb-and-MAP: the SAME Viterbi DP over
    * `alpha · lp(piece) + Gumbel(hashUnit(seed|word|endPos|piece))`,
    * so alpha -> inf recovers the exact Viterbi path and alpha = 0
    * draws segmentation-structure-uniform. Per-candidate Gumbel
    * perturbation is the standard perturb-and-MAP APPROXIMATION to
    * exact lattice sampling (exact would need a forward-backward pass
    * with log-sum-exp — cross-engine-fragile); the augmentation purpose
    * needs diverse VALID segmentations biased toward probable ones,
    * which this gives with full determinism: draws are keyed on
    * (seed, word, position, piece), so they are partitioning- and
    * retry-independent, and the DuckDB oracle replays every draw. */
  def segmentSampled(word: Column, vocab: Seq[(String, Double)],
      seed: Long, alpha: Double): Column =
    viterbi(word, vocab, Some((seed, alpha)))

  private def viterbi(word: Column, vocab: Seq[(String, Double)],
      sample: Option[(Long, Double)]): Column = {
    require(vocab.nonEmpty, "unigram vocab must be non-empty")
    val maxLen = vocab.map(_._1.length).max
    val lpMap = typedlit(vocab.toMap)
    val n = length(word)
    val emptyPieces = array().cast("array<string>")
    val acc0 = array(struct(lit(0.0).as("s"), emptyPieces.as("pc")))
    aggregate(
      sequence(lit(1), greatest(n, lit(1))), acc0,
      (bests, i) => {
        val sentinel = struct(lit(-1e18).as("s"), emptyPieces.as("pc"))
        // candidates length-ASCENDING, replace on >= : the longest piece
        // among score-maximal candidates wins — mirrored by the oracle's
        // length-ordered vlist reduce
        val best = (1 to maxLen).foldLeft(sentinel) { (cur, l) =>
          val piece = word.substr(i - l + 1, lit(l))
          val lp = element_at(lpMap, piece)
          val score = sample match {
            case None => lp
            case Some((seed, alpha)) =>
              val u = Triplets.hashUnit(seed, word, i, piece)
              val uc = least(greatest(u, lit(SampleClampLo)), lit(SampleClampHi))
              lit(alpha) * lp + round(-log(-log(uc)), 6)
          }
          // index clamped so the unused branch never evaluates
          // element_at(_, <1) under ANSI; `i >= l` guards correctness
          val prev = element_at(bests, greatest(i - l + 1, lit(1)))
          val cand = struct((prev.getField("s") + score).as("s"),
            concat(prev.getField("pc"), array(piece)).as("pc"))
          when(i >= l && lp.isNotNull
            && cand.getField("s") >= cur.getField("s"), cand).otherwise(cur)
        }
        when(i > n, bests).otherwise(concat(bests, array(best)))
      },
      bests => {
        val fin = element_at(bests, greatest(n, lit(0)) + 1)
        when(n === 0, emptyPieces)
          .otherwise(when(fin.getField("s") <= lit(-1e17), array(lit(Unk)))
            .otherwise(fin.getField("pc")))
      })
  }

  /** Corpus encode, the q133/q141 shape: Viterbi segmentation + id
    * assignment once per DISTINCT pre-token (whitespace words of
    * lower+trim text), token-keyed join back, one group-by-doc
    * reassembling the ordered stream. Ids are vocab-list positions;
    * <unk> takes id vocab.size. Output per doc: n_words, n_pieces
    * (unk words count 1), n_unk, and the order-dependent poly-hash of
    * the id stream. */
  def encodeCorpus(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[(String, Double)],
      sample: Option[(Long, Double)] = None): DataFrame = {
    val unkId = vocab.size.toLong
    val idMap = typedlit(
      vocab.map(_._1).zipWithIndex.map { case (p, i) => p -> i.toLong }.toMap)
    // pre is read TWICE (the distinct-token side and the join-back side)
    // — cached so normalize+split+explode runs once, floored so a
    // single-split corpus doesn't tokenize on one core. The Viterbi DP
    // runs on the distinct output SPREAD back to cluster parallelism:
    // the distinct's bytes are vocab-small, so adaptive coalescing would
    // otherwise fuse the CPU-dense DP into one or two partitions.
    // partition-VISIBLE floor cache (repartition the compact per-doc
    // rows, tokenize post-shuffle, declare hash(doc_id) through the
    // cache): the final per-doc reassembly groupBy(doc_id) then plans
    // no exchange over the join-back's streaming side
    val pre = graft.core.Caching.persist(
      df.select(col(idCol).as("doc_id"), col(textCol)), Seq("doc_id"),
      narrow = _.select(col("doc_id"),
        posexplode(TextAnalysis.tokens(col(textCol)))
          .as(Seq("pos", "tok")))).df
    // spread BELOW the distinct (its aggregation reuses the spread's
    // tok-keyed exchange — one exchange where distinct-then-respread
    // planned two)
    val seg = graft.core.Parallelism.spread(pre.select("tok"), col("tok"))
      .distinct()
      .withColumn("pieces", viterbi(col("tok"), vocab, sample))
      .select(col("tok"),
        transform(col("pieces"),
          p => coalesce(element_at(idMap, p), lit(unkId))).as("ids"),
        (col("pieces") === array(lit(Unk))).cast("long").as("is_unk"))
    pre.join(seg, "tok")
      .groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("pos"), col("ids"), col("is_unk"))))
        .as("ps"))
      .select(col("doc_id"),
        size(col("ps")).cast("long").as("n_words"),
        aggregate(col("ps"), lit(0L),
          (a, p) => a + size(p.getField("ids"))).as("n_pieces"),
        aggregate(col("ps"), lit(0L),
          (a, p) => a + p.getField("is_unk")).as("n_unk"),
        aggregate(flatten(transform(col("ps"), p => p.getField("ids"))), lit(7L),
          (a, x) => (a * 31 + x) % TextAnalysis.HashMod).as("ids_fp"))
  }

  /** Round-trip audit over the trainer's word population: re-segment
    * each distinct pre-token (length-filtered like [[train]]) and check
    * concat(pieces) == word. With the trainer's structural character
    * coverage this holds for EVERY word — the oracle states the
    * identity. Output per doc: n_words, n_roundtrip_ok. */
  def roundTrip(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[(String, Double)], maxWordLen: Int): DataFrame = {
    val pre = df.select(col(idCol).as("doc_id"),
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .where(length(col("tok")).between(1, maxWordLen))
    val seg = pre.select("tok").distinct()
      .withColumn("ok",
        (concat_ws("", segment(col("tok"), vocab)) === col("tok")).cast("long"))
    pre.join(seg, "tok")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("ok")).as("n_roundtrip_ok"))
  }

  /** Config for [[train]]; defaults sized for the oracle fixtures. */
  final case class TrainConfig(
      maxPieceLen: Int = 4, maxWordLen: Int = 10,
      seedMinCnt: Long = 2L, seedSize: Int = 150,
      vocabSize: Int = 100, rounds: Int = 1)

  /** Hard-EM unigram trainer. Seeds with every substring (length <=
    * maxPieceLen) of the length-filtered distinct-word frame, keeps the
    * top seedSize multi-char pieces by (count DESC, piece ASC) plus ALL
    * single characters, then per round: Viterbi-segment the word frame
    * under current log-probs, re-count pieces occurrence-weighted,
    * apply +1 char smoothing, prune multi-char pieces to
    * (vocabSize - alphabet) by (count DESC, piece ASC), re-normalize.
    * Returns the model ordered by (cnt DESC, piece ASC). */
  def train(df: DataFrame, idCol: String, textCol: String,
      cfg: TrainConfig = TrainConfig()): Seq[Piece] = {
    val spark = df.sparkSession
    val wordsC = graft.core.Caching.persist(df.select(
      explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .where(length(col("tok")).between(1, cfg.maxWordLen))
      .groupBy("tok").agg(count(lit(1)).as("wcnt")))
    val words = wordsC.df
    try {
      // seed: all substrings, occurrence-weighted — one explode + one
      // map-side-combinable sum over the word frame
      val allSubs = flatten(transform(sequence(lit(1), length(col("tok"))), i =>
        transform(
          sequence(lit(1), least(lit(cfg.maxPieceLen), length(col("tok")) - i + 1)),
          l => col("tok").substr(i, l))))
      val seedCounts = words.select(col("wcnt"), explode(allSubs).as("piece"))
        .groupBy("piece").agg(sum(col("wcnt")).as("cnt"))
      val chars = seedCounts.where(length(col("piece")) === 1)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      require(chars.size < cfg.vocabSize,
        s"alphabet ${chars.size} must fit under vocabSize ${cfg.vocabSize}")
      val multi = seedCounts
        .where(length(col("piece")) > 1 && col("cnt") >= cfg.seedMinCnt)
        .orderBy(col("cnt").desc, col("piece")).limit(cfg.seedSize)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
      var model = withLp(spark, chars ++ multi)

      for (_ <- 1 to cfg.rounds) {
        val vseq = model.map(p => p.piece -> p.lp)
        val counts = words
          .select(col("wcnt"), explode(segment(col("tok"), vseq)).as("piece"))
          .where(col("piece") =!= Unk) // unreachable words (none, by coverage)
          .groupBy("piece").agg(sum(col("wcnt")).as("cnt"))
          .collect() // <= |vocab| rows — bounded model state, never O(corpus)
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val charSet = model.map(_.piece).filter(_.length == 1)
        val smoothedChars = charSet.map(c => c -> (counts.getOrElse(c, 0L) + 1L))
        val prunedMulti = counts.toSeq
          .filter { case (p, _) => p.length > 1 }
          .sortBy { case (p, c) => (-c, p) }
          .take(cfg.vocabSize - charSet.size)
        model = withLp(spark, smoothedChars ++ prunedMulti)
      }
      model
    } finally wordsC.release()
  }

  /** Normalize counts to 6-dp-rounded log-probs THROUGH Spark
    * expressions (round(log(cnt/tot), 6)) so the ln/rounding pairing is
    * the exact one the q137 oracle precedent proved against DuckDB —
    * not a driver-side libm call. Rows: config-sized. */
  private def withLp(spark: SparkSession, counts: Seq[(String, Long)]): Seq[Piece] = {
    import spark.implicits._
    val tot = counts.map(_._2).sum.toDouble
    counts.toDF("piece", "cnt")
      .withColumn("lp", round(log(col("cnt").cast("double") / tot), 6))
      .as[Piece].collect()
      .sortBy(p => (-p.cnt, p.piece)).toSeq
  }

  /** The trained model as a DataFrame (piece, cnt, lp) for oracle
    * queries. */
  def trainDF(spark: SparkSession, model: Seq[Piece]): DataFrame = {
    import spark.implicits._
    model.toDF()
  }
}
