package graft.operators

import graft.core.Checkpointing
import graft.functions.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge-table TRAINING — the tokenizer-training loop
  * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words with
  * Subword Units", §3.2) that connects the q120 pair statistics to the
  * q122 merge application: each round recomputes occurrence-weighted
  * adjacent-symbol pair counts over the distinct-word vocabulary, takes
  * the top pair, and merges it everywhere.
  *
  * Scale shape: the corpus is touched ONCE (the word-count aggregation);
  * every round after that runs on the VOCABULARY frame — the
  * word-frequency-dict formulation production BPE trainers use (a vocab
  * is orders of magnitude smaller than its corpus, and pair counts
  * weighted by word frequency are identical to counting over the raw
  * corpus). Per round: one pair explode + one map-side-combinable sum +
  * a 1-row collect (the argmax — bounded driver state, the q112/HDBSCAN
  * pattern), then one projection applying the merge. Lineage truncates
  * every round ([[Checkpointing]]: reliable when the context has a
  * checkpoint dir).
  *
  * Determinism: the round winner is (count DESC, left, right) — fully
  * ordered, so the learned table is independent of partitioning. The
  * merge itself is applied as TWO boundary-anchored leftmost-
  * non-overlapping plain replaces on the space-joined symbol string
  * (' a b ' -> ' ab '): pass 1 can consume the leading space of an
  * adjacent occurrence, pass 2 catches the now-isolated rest —
  * equivalent to the canonical symbol-list merge (spec-proven against
  * one) and the identical algorithm in both engines (q122's documented
  * convention).
  */
object BpeTrainer {

  /** One learned merge: 1-based rank, the merged symbol pair, and the
    * occurrence-weighted pair count that won the round. */
  final case class Merge(rnk: Long, l: String, r: String, pcnt: Long)

  /** Spaced symbol string of a word: " w o r d " (each char a symbol,
    * space-separated, boundary spaces so merges anchor on ' a b '). */
  private[operators] def spaced(tok: Column): Column =
    concat(lit(" "), trim(regexp_replace(tok, "(.)", "$1 ")), lit(" "))

  /** GPT-2-style pre-tokenizer regex, lookahead-free so an oracle can
    * replay it under RE2: letter runs, digit runs, and punctuation runs,
    * each with an optional leading space (the space RIDES THE TOKEN —
    * the GPT-2 convention that lets merges learn word boundaries). The
    * contraction alternates and the trailing-whitespace lookahead of the
    * exact GPT-2 pattern are dropped; they only matter for whitespace-
    * preserving decode, not for merge learning. Whitespace is the
    * EXPLICIT ASCII class, not `\s`: Java's `\s` includes vertical tab
    * (0x0B) while RE2's does not, so `\s` would tokenize a \x0B-bearing
    * document differently in Spark vs the DuckDB oracle. */
  val ByteLevelPretokenRegex = """ ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+"""

  /** GPT-2 visible-space symbol: byte 0x20 prints as U+0120 'Ġ' so every
    * symbol is non-blank and the spaced-seg representation stays valid. */
  val VisibleSpace = "Ġ"

  /** GPT-2 bytes_to_unicode as a translate() pair: the UTF-8 bytes of a
    * pre-token, viewed one-char-per-byte via an ISO-8859-1 decode, keep
    * printable latin-1 bytes as themselves and remap the 68 others
    * (controls + space, 0x7F-0xA0, 0xAD) to U+0100+n in ascending byte
    * order — so space is U+0120 'Ġ' and EVERY byte is a visible
    * single-char symbol (Radford et al. 2019 §2.2; the exact table
    * every GPT-2-family tokenizer ships). */
  private val ByteRemap = (0 to 32) ++ (127 to 160) ++ Seq(173)
  private[operators] val ByteMapFrom = ByteRemap.map(_.toChar).mkString
  private[operators] val ByteMapTo =
    ByteRemap.indices.map(i => (0x100 + i).toChar).mkString

  /** Per-BYTE symbol string of a pre-token: UTF-8 bytes -> one latin-1
    * char per byte -> the GPT-2 printable alphabet. ASCII maps to
    * itself (plus space -> 'Ġ'); a multi-byte UTF-8 character splits
    * into one symbol per byte, so merges learn its bytes exactly like
    * any other adjacent pair — true GPT-2 byte fallback, no reject. */
  private[operators] def byteSymbols(tok: Column): Column =
    translate(decode(encode(tok, "UTF-8"), "ISO-8859-1"), ByteMapFrom, ByteMapTo)

  /** Learn the first `nMerges` BPE merges over the word vocabulary of
    * `textCol` (tokens = TextAnalysis.tokens: lower, trim, split \s+).
    * Returns fewer merges only if the vocabulary runs out of adjacent
    * pairs (every word reduced to a single symbol). */
  def learnMerges(df: DataFrame, textCol: String, nMerges: Int): Seq[Merge] = {
    val vocab = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    mergeLoop(vocab.select(spaced(col("tok")).as("seg"), col("cnt")), nMerges)
  }

  /** BYTE-LEVEL variant (the GPT-2 recipe, Radford et al. 2019 §2.2):
    * pre-tokens come from [[ByteLevelPretokenRegex]] over the lowercased
    * text (leading space attached), and the initial symbols are the
    * pre-token's UTF-8 BYTES through [[byteSymbols]] — ASCII chars map
    * to themselves (space -> 'Ġ'), multi-byte characters split into one
    * symbol per byte and merge back byte-by-byte. Any UTF-8 corpus
    * trains; there is no ASCII restriction. */
  def learnByteMerges(df: DataFrame, textCol: String, nMerges: Int): Seq[Merge] = {
    val vocab = df
      .select(explode(regexp_extract_all(lower(col(textCol)),
        lit(ByteLevelPretokenRegex), lit(0))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    mergeLoop(vocab.select(spaced(byteSymbols(col("tok"))).as("seg"), col("cnt")),
      nMerges)
  }

  /** The shared round loop: pair-count argmax + double boundary-anchored
    * replace over a (seg, cnt) vocabulary frame. */
  private def mergeLoop(segInit: DataFrame, nMerges: Int): Seq[Merge] = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    var seg = Checkpointing.truncate(segInit)
    val merges = Seq.newBuilder[Merge]
    var round = 0
    var exhausted = false
    while (round < nMerges && !exhausted) {
      val syms = split(trim(col("seg")), " ")
      // adjacent pairs: CaseWhen evaluates branches lazily, so the
      // sequence() never sees a single-symbol word's 0..-1 range
      val prs = when(size(syms) >= 2,
        transform(sequence(lit(0), size(syms) - lit(2)),
          i => struct(element_at(syms, (i + lit(1)).cast("int")).as("l"),
            element_at(syms, (i + lit(2)).cast("int")).as("r"))))
        .otherwise(array().cast("array<struct<l:string,r:string>>"))
      val top = seg
        .select(explode(prs).as("p"), col("cnt"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("pcnt"))
        .orderBy(col("pcnt").desc, col("l"), col("r"))
        .limit(1)
        .collect() // exactly one row — the round's argmax
      if (top.isEmpty) exhausted = true
      else {
        val row = top.head
        val (l, r, pcnt) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += Merge(round + 1L, l, r, pcnt)
        val pat = lit(s" $l $r ")
        val rep = lit(s" $l$r ")
        def applied(c: Column): Column = call_function("replace", c, pat, rep)
        seg = Checkpointing.truncate(
          seg.select(applied(applied(col("seg"))).as("seg"), col("cnt")))
        round += 1
      }
    }
    merges.result()
  }

  /** Spaced byte-level segmentation of a pre-token under an ORDERED merge
    * table — the tokenizer-APPLY primitive for [[learnByteMerges]] output.
    * Each merge is the trainer's own double boundary-anchored literal
    * replace (' l r ' -> ' lr ', applied twice), so encoding reproduces
    * exactly the segmentation the training loop would leave — the
    * train/encode consistency every BPE tokenizer's contract requires. */
  def byteSegment(tok: Column, merges: Seq[(String, String)]): Column =
    merges.foldLeft(spaced(byteSymbols(tok))) { case (c, (l, r)) =>
      val pat = lit(s" $l $r ")
      val rep = lit(s" $l$r ")
      call_function("replace", call_function("replace", c, pat, rep), pat, rep)
    }

  /** Per-document token statistics under a learned byte-level merge table
    * — the corpus-ENCODE pass (GPT-2-style tokenize) that turns a trained
    * tokenizer into the token accounting every pipeline reports: number
    * of pre-tokens, number of BPE tokens, and an order-free codepoint
    * poly-hash fingerprint of the document's segmentations (value-proves
    * the per-pretoken subword strings, not just their counts).
    *
    * Scale shape: segmentation runs once per DISTINCT pre-token (the
    * vocabulary frame — the cache every production tokenizer keeps), as
    * a pure projection; documents join their segment stats back by a
    * token-keyed equi-join AQE size-gates to a broadcast, and both
    * aggregations partial-combine map-side. The merge table rides the
    * plan as literals (vocab-sized; broadcast territory by construction). */
  def byteEncodeStats(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    // floored (regex pre-tokenization is CPU-dense — single-task on a
    // one-split corpus); perDoc cached: the vocabulary derives from it
    // AND the final join reads it, and without the cache column pruning
    // specializes the exchange per branch so the pre-tokenize runs
    // twice. The merge-replay segmentation runs on the distinct output
    // SPREAD back to cluster parallelism (adaptive coalescing sizes the
    // vocab frame by its bytes, blind to the per-token replay cost).
    // partition-VISIBLE floor cache: the floor's repartition, the
    // pre-tokenize explode AND the (doc_id, tok) aggregation live in ONE
    // plan (the agg clusters on a superset of doc_id, so it reuses the
    // repartition exchange), and the cache declares hash(doc_id) — the
    // final per-doc stats groupBy(doc_id) then plans no exchange over
    // the vocab join's streaming side
    val perDoc = graft.core.Caching.persist(
      df.select(col(idCol).as("doc_id"), col(textCol)), Seq("doc_id"),
      narrow = _.select(col("doc_id"),
          explode(regexp_extract_all(lower(col(textCol)),
            lit(ByteLevelPretokenRegex), lit(0))).as("tok"))
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("occ"))).df
    // spread BELOW the distinct: the distinct's hash aggregation reuses
    // the spread's tok-keyed exchange (one exchange, one stage, where
    // distinct-then-respread planned two)
    val vocab = graft.core.Parallelism.spread(perDoc.select("tok"), col("tok"))
      .distinct()
      .withColumn("seg", trim(byteSegment(col("tok"), merges)))
      .select(col("tok"),
        size(split(col("seg"), " ")).cast("long").as("n_sub"),
        // codepoint-exact HOF hash: segs carry 'Ġ' (U+0120), outside the
        // native byte-loop PolyHash's ASCII-identical range
        TextAnalysis.polyHashHof(col("seg")).as("seg_h"))
    perDoc.join(vocab, "tok")
      .groupBy("doc_id")
      .agg(sum("occ").cast("long").as("n_pretok"),
        sum(col("occ") * col("n_sub")).cast("long").as("n_tok"),
        sum(col("occ") * col("seg_h")).cast("long").as("tok_fp"))
  }

  /** Token-id vocabulary of a byte-level merge table, per the GPT-2
    * recipe: the 256 byte-alphabet symbols take their BYTE VALUE as id
    * (0-255), and merge i's output symbol takes id 256+i — no counting,
    * the table IS the vocabulary. */
  def byteVocabIds(merges: Seq[(String, String)]): Map[String, Long] = {
    val alphabet = (0 until 256).map { bb =>
      val i = ByteRemap.indexOf(bb)
      val ch = if (i >= 0) (0x100 + i).toChar else bb.toChar
      ch.toString -> bb.toLong
    }.toMap
    alphabet ++ merges.zipWithIndex.map { case ((l, r), i) => (l + r) -> (256L + i) }
  }

  /** Full tokenizer contract per document: encode to GPT-2-style token
    * IDS in position order, then DECODE back (symbol concat → inverse
    * alphabet → UTF-8 bytes) and compare against the pre-tokenized
    * input. Emits (doc_id, n_tok, ids_fp, roundtrip_ok) where `ids_fp`
    * is an ORDER-DEPENDENT poly-hash of the id sequence (proving the
    * exact token stream, not a bag) and `roundtrip_ok` is
    * md5(decoded) == md5(lower(text)) — 1 whenever the pre-tokenizer is
    * lossless on the document, which it is for single-spaced text (the
    * regex drops extra whitespace runs; the exact GPT-2 pattern keeps
    * them — documented deviation).
    *
    * Scale shape: segmentation and id assignment once per DISTINCT
    * pre-token (the q133 cache), join-back by token, then ONE group-by
    * doc reassembling the ordered stream — per-doc state is the
    * document's own token list, nothing global. */
  def byteEncodeRoundTrip(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val pre = df.select(col(idCol).as("doc_id"), lower(col(textCol)).as("lt"))
      .select(col("doc_id"), col("lt"),
        posexplode(regexp_extract_all(col("lt"),
          lit(ByteLevelPretokenRegex), lit(0))).as(Seq("pos", "tok")))
    val idMap = typedlit(byteVocabIds(merges))
    val vocab = pre.select("tok").distinct()
      .withColumn("seg", trim(byteSegment(col("tok"), merges)))
      .select(col("tok"),
        transform(split(col("seg"), " "), s => element_at(idMap, s)).as("ids"),
        call_function("replace", col("seg"), lit(" "), lit("")).as("symcat"))
    val ordered = pre.join(vocab, "tok")
      .groupBy("doc_id", "lt")
      .agg(sort_array(collect_list(struct(col("pos"), col("ids"), col("symcat"))))
        .as("ps"))
    val ids = flatten(transform(col("ps"), p => p.getField("ids")))
    val symJoin = concat_ws("", transform(col("ps"), p => p.getField("symcat")))
    // inverse of byteSymbols: alphabet chars -> latin-1 byte chars ->
    // raw bytes -> UTF-8 text
    val decoded = decode(
      encode(translate(symJoin, ByteMapTo, ByteMapFrom), "ISO-8859-1"), "UTF-8")
    ordered.select(col("doc_id"),
      size(ids).cast("long").as("n_tok"),
      aggregate(ids, lit(7L),
        (a, x) => (a * 31 + x) % TextAnalysis.HashMod).as("ids_fp"),
      (md5(encode(decoded, "UTF-8")) === md5(encode(col("lt"), "UTF-8")))
        .cast("long").as("roundtrip_ok"))
  }
}
