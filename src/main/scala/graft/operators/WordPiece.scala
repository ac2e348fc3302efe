package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextAnalysis

/** WordPiece tokenization — the BERT-family greedy longest-match-first
  * subword recipe (Wu et al. 2016 §4.1; Devlin et al. 2019): the first
  * piece of a word matches from its start against the plain vocabulary,
  * every later piece against the `##`-prefixed continuation vocabulary,
  * always taking the LONGEST matching piece; if any position has no
  * match the whole word becomes `[UNK]`. Complements the BPE family
  * ([[BpeTrainer]]) — between them the two dominant subword schemes a
  * training-data pipeline meets are covered.
  *
  * The segmentation is a pure per-row expression: an `aggregate` fold
  * over word positions whose step picks the longest match via a
  * length-descending when-chain of set-membership tests against the
  * vocabulary literals. No UDF, no shuffle — it rides whole-stage
  * codegen like every other scalar here. Membership cost per step is
  * O(maxPieceLen) hash probes at ANY vocab size: each per-length
  * `isInCollection` rewrites to Catalyst InSet (a hash set) past
  * `spark.sql.optimizer.inSetConversionThreshold` — including inside
  * the fold's lambda body (plan-pinned by WordPieceSpec on a 1k-piece
  * vocab), so the 30k-entry production vocab compiles to the same
  * shape. A typedlit-map probe would be strictly worse: GetMapValue
  * on a literal map is a linear key scan. Corpus-scale cost is
  * bounded the q133 way regardless: segmentation runs once per
  * DISTINCT pre-token and joins back token-keyed.
  */
object WordPiece {

  /** Greedy longest-match segmentation of one word. Returns the piece
    * array (`##`-marked continuations) or `["[UNK]"]` on failure. */
  def segment(word: Column, vocab: Seq[String]): Column = {
    require(vocab.nonEmpty, "WordPiece vocab must be non-empty")
    val plainByLen = vocab.filterNot(_.startsWith("##")).groupBy(_.length)
    val contByLen = vocab.filter(_.startsWith("##")).map(_.drop(2))
      .filter(_.nonEmpty).groupBy(_.length)
    val maxLen = (plainByLen.keySet ++ contByLen.keySet).max
    val n = length(word)

    // longest-first: branches ordered by length descending, first hit wins
    def stepMatch(pos: Column): Column = {
      val init = struct(lit(0).as("ml"), lit("").as("piece"))
      val branches: Seq[(Column, Column)] =
        (maxLen to 1 by -1).flatMap { l =>
          val sub = word.substr(pos, lit(l))
          val subOk = length(sub) === l
          val plain = plainByLen.get(l).map(ps =>
            (pos === 1 && subOk && sub.isInCollection(ps),
              struct(lit(l).as("ml"), sub.as("piece"))))
          val cont = contByLen.get(l).map(cs =>
            (pos > 1 && subOk && sub.isInCollection(cs),
              struct(lit(l).as("ml"), concat(lit("##"), sub).as("piece"))))
          plain.toSeq ++ cont.toSeq
        }
      branches.foldRight(init) { case ((cond, value), els) =>
        when(cond, value).otherwise(els)
      }
    }

    val acc0 = struct(lit(1).as("pos"),
      array().cast("array<string>").as("pieces"), lit(false).as("failed"))
    aggregate(
      sequence(lit(1), greatest(n, lit(1))), acc0,
      (a, _) => {
        val active = !a.getField("failed") && a.getField("pos") <= n
        val m = stepMatch(a.getField("pos"))
        when(!active, a).otherwise(
          when(m.getField("ml") === 0,
            struct(a.getField("pos").as("pos"),
              a.getField("pieces").as("pieces"), lit(true).as("failed")))
          .otherwise(
            struct((a.getField("pos") + m.getField("ml")).as("pos"),
              concat(a.getField("pieces"), array(m.getField("piece"))).as("pieces"),
              lit(false).as("failed"))))
      },
      a => when(a.getField("failed"), array(lit("[UNK]")))
        .otherwise(a.getField("pieces")))
  }

  /** Piece ids: position in the vocab list; `[UNK]` takes id vocab.size
    * (the next free slot — the convention real vocab files follow by
    * simply listing [UNK] last or first; fixed here so both engines
    * agree without a file). */
  def vocabIds(vocab: Seq[String]): Map[String, Long] =
    vocab.zipWithIndex.map { case (p, i) => p -> i.toLong }.toMap

  /** Corpus encode, the q133/q136 shape: segmentation + id assignment
    * once per DISTINCT pre-token (whitespace words of lower+trim text),
    * token-keyed join back, one group-by-doc reassembling the ordered
    * stream. Output per doc: n_words, n_pieces (UNK words count 1),
    * n_unk, and an order-dependent poly-hash of the id stream. */
  def encodeCorpus(df: DataFrame, idCol: String, textCol: String,
      vocab: Seq[String]): DataFrame = {
    val unkId = vocab.size.toLong
    val idMap = typedlit(vocabIds(vocab))
    val pre = df.select(col(idCol).as("doc_id"),
      posexplode(TextAnalysis.tokens(col(textCol)))
        .as(Seq("pos", "tok")))
    val seg = pre.select("tok").distinct()
      .withColumn("pieces", segment(col("tok"), vocab))
      .select(col("tok"),
        transform(col("pieces"),
          p => coalesce(element_at(idMap, p), lit(unkId))).as("ids"),
        (col("pieces") === array(lit("[UNK]"))).cast("long").as("is_unk"))
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
}
