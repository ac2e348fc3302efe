package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.UnigramLM
import org.apache.spark.sql.functions._

/** SentencePiece unigram-LM tokenizer surface (Kudo 2018): Viterbi
  * corpus encode under a fixed vocabulary (q148), the hard-EM trainer
  * round (q149), and the coverage round-trip (q150). Completes the
  * subword triple next to BPE (q133/q136) and WordPiece (q141).
  *
  * Oracle strategy: the Viterbi DP is replayed in DuckDB as a recursive
  * CTE whose state carries the per-position (score, piece-list) bests —
  * the same merged-state formulation the Spark fold uses, so candidate
  * enumeration order (length-ascending), the >= longest-wins tie-break,
  * and the absorbing -1e18 unreachable sentinel mirror token for token.
  * q148's log-probs are Scala-computed decimal literals embedded on
  * BOTH sides (no in-engine ln at all); q149's are round(ln(cnt/tot),6)
  * in each engine — the q137-proven pairing.
  */
object UnigramQueries {

  /** q148 fixed vocabulary: common English subwords + the full a-z
    * alphabet (digits/punctuation words exercise the <unk> path). */
  private val UgVocabCnt: Seq[(String, Long)] =
    Seq("the" -> 60L, "ing" -> 45L, "ion" -> 35L, "and" -> 30L,
      "tion" -> 28L, "er" -> 26L, "in" -> 24L, "re" -> 22L, "on" -> 20L,
      "at" -> 18L, "en" -> 16L, "an" -> 15L, "es" -> 14L, "st" -> 13L,
      "te" -> 12L, "or" -> 11L, "ti" -> 10L, "ar" -> 9L, "al" -> 8L,
      "se" -> 8L) ++ ('a' to 'z').map(_.toString -> 5L)

  private val UgVocab: Seq[(String, Double)] = {
    val tot = UgVocabCnt.map(_._2).sum.toDouble
    UgVocabCnt.map { case (p, c) => p -> math.log(c / tot) }
  }

  /** Trainer config shared by q149/q150 and their oracles. */
  private val Cfg = UnigramLM.TrainConfig(
    maxPieceLen = 4, maxWordLen = 10, seedMinCnt = 2L,
    seedSize = 150, vocabSize = 100, rounds = 2)

  /** DuckDB literal of a double that parses back to the identical bits
    * (string -> correctly-rounded parse; a bare 17-digit literal would
    * land in DECIMAL). */
  private def dlit(x: Double): String = s"CAST('${x.toString}' AS DOUBLE)"

  /** Poly-hash unit of an arbitrary SQL string expression — identical
    * tokens to Triplets.hashUnit (seed folded into the string). */
  private def huSqlExpr(sExpr: String): String = {
    val h = s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"[CAST(ord(substr($sExpr, j, 1)) AS BIGINT) FOR j IN range(1, len($sExpr) + 1)]), " +
      s"(a, b) -> (a * 31 + b) % 1000000007)"
    s"(CAST(((($h) * 2654435761) % 1000000007) * ((($h) * 2654435761) % 1000000007) " +
      s"% 1000000007 AS DOUBLE) / 1000000007.0)"
  }

  /** The Viterbi CTEs over `vt(tok)` with vocab relation
    * `$vocabRel(piece, lp)`: emits vl, dp, fin(tok, pieces). Mirrors
    * [[UnigramLM.segment]] exactly — candidates length-ascending via
    * the ordered vlist, replace on >=, absorbing -1e18, empty word ->
    * empty pieces, unreachable -> ['<unk>']. With `sampled`, the
    * candidate score becomes (alpha·lp) + round(Gumbel(hashUnit), 6) —
    * the perturb-and-MAP draw of [[UnigramLM.segmentSampled]], noise
    * keyed on (seed, tok, end position, piece) token for token. */
  private def viterbiCtes(vocabRel: String,
      sampled: Option[(Long, Double)] = None, sfx: String = ""): String = {
    val scoreExpr = sampled match {
      case None => "v.lp"
      case Some((seed, alpha)) =>
        val keyExpr = s"'$seed|' || tok || '|' || CAST(i + 1 AS VARCHAR) || '|' || v.p"
        val u = huSqlExpr(keyExpr)
        val uc = s"least(greatest($u, ${dlit(UnigramLM.SampleClampLo)}), " +
          s"${dlit(UnigramLM.SampleClampHi)})"
        s"((${dlit(alpha)} * v.lp) + round(-ln(-ln($uc)), 6))"
    }
    s"""vl$sfx AS (SELECT list({'p': piece, 'len': length(piece),
       |                    'lp': CAST(lp AS DOUBLE)}
       |                   ORDER BY length(piece), piece) AS vlist
       |       FROM $vocabRel),
       |dp$sfx AS (
       |  SELECT tok, 0 AS i,
       |    [{'s': CAST(0.0 AS DOUBLE), 'pc': CAST([] AS VARCHAR[])}] AS bests
       |  FROM vt
       |  UNION ALL
       |  SELECT tok, i + 1,
       |    list_append(bests, list_reduce(
       |      list_prepend({'s': CAST(-1e18 AS DOUBLE), 'pc': CAST([] AS VARCHAR[])},
       |        [{'s': bests[i + 2 - v.len].s + $scoreExpr,
       |          'pc': list_append(bests[i + 2 - v.len].pc, v.p)}
       |         FOR v IN vlist
       |         IF v.len <= i + 1
       |            AND substr(tok, i + 2 - CAST(v.len AS INT), CAST(v.len AS INT)) = v.p]),
       |      (a, b) -> CASE WHEN b.s >= a.s THEN b ELSE a END)) AS bests
       |  FROM dp$sfx, vl$sfx WHERE i < length(tok)),
       |fin$sfx AS (
       |  SELECT tok,
       |    CASE WHEN length(tok) = 0 THEN CAST([] AS VARCHAR[])
       |         WHEN bests[length(tok) + 1].s <= -1e17 THEN ['<unk>']
       |         ELSE bests[length(tok) + 1].pc END AS pieces
       |  FROM dp$sfx WHERE i = length(tok))""".stripMargin
  }

  /** The full N-round trainer as chained CTEs: seed substring counts,
    * top-`seedSize` multi pieces + all chars, seed log-probs, then per
    * round r: a fresh suffixed Viterbi DP under the previous round's
    * log-probs, occurrence-weighted re-counts, +1 char smoothing,
    * multi-char prune to (vocabSize - alphabet), re-normalized
    * round(ln, 6) log-probs. Ends in lp_<rounds>(piece, cnt, lp). */
  private def trainerCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb.append(
      s"""words AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS wcnt
         |  FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |        FROM documents)
         |  WHERE length(tok) BETWEEN 1 AND ${Cfg.maxWordLen}
         |  GROUP BY tok),
         |subs AS (
         |  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS cnt
         |  FROM (SELECT wcnt, unnest(flatten(
         |          [[substr(tok, i, l)
         |            FOR l IN range(1, least(${Cfg.maxPieceLen}, length(tok) - i + 1) + 1)]
         |           FOR i IN range(1, length(tok) + 1)])) AS piece
         |        FROM words)
         |  GROUP BY piece),
         |seedchars AS (SELECT piece, cnt FROM subs WHERE length(piece) = 1),
         |seedmulti AS (
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
         |    FROM subs WHERE length(piece) > 1 AND cnt >= ${Cfg.seedMinCnt})
         |  WHERE rn <= ${Cfg.seedSize}),
         |seedv AS (SELECT * FROM seedchars UNION ALL SELECT * FROM seedmulti),
         |seedtot AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM seedv),
         |lp_0 AS (SELECT piece, cnt, round(ln(CAST(cnt AS DOUBLE) / tot), 6) AS lp
         |         FROM seedv, seedtot),
         |vt AS (SELECT tok FROM words)""".stripMargin)
    for (r <- 1 to rounds) {
      val charsRel = if (r == 1) "seedchars" else s"chars_${r - 1}"
      sb.append(",\n" + viterbiCtes(s"lp_${r - 1}", sfx = s"_$r"))
      sb.append(
        s""",
           |segp_$r AS (
           |  SELECT f.tok, w.wcnt, unnest(f.pieces) AS piece
           |  FROM fin_$r f JOIN words w ON w.tok = f.tok),
           |cnts_$r AS (
           |  SELECT piece, CAST(sum(wcnt) AS BIGINT) AS cnt
           |  FROM segp_$r WHERE piece <> '<unk>' GROUP BY piece),
           |chars_$r AS (
           |  SELECT s.piece, CAST(coalesce(c.cnt, 0) + 1 AS BIGINT) AS cnt
           |  FROM $charsRel s LEFT JOIN cnts_$r c ON c.piece = s.piece),
           |multi_$r AS (
           |  SELECT piece, cnt FROM (
           |    SELECT piece, cnt, row_number() OVER (ORDER BY cnt DESC, piece) AS rn
           |    FROM cnts_$r WHERE length(piece) > 1)
           |  WHERE rn <= ${Cfg.vocabSize} - (SELECT count(*) FROM chars_$r)),
           |finv_$r AS (SELECT * FROM chars_$r UNION ALL SELECT * FROM multi_$r),
           |tot_$r AS (SELECT CAST(sum(cnt) AS DOUBLE) AS tot FROM finv_$r),
           |lp_$r AS (SELECT piece, cnt,
           |    round(ln(CAST(cnt AS DOUBLE) / tot), 6) AS lp
           |  FROM finv_$r, tot_$r)""".stripMargin)
    }
    sb.toString
  }

  def defs: Seq[QueryDef] = Seq(

    // ---- unigram Viterbi corpus encode ----------------------------------
    QueryDef.sqlBacked(
      "q148_unigram_encode",
      s"""WITH RECURSIVE pre AS (
         |  SELECT doc_id, unnest(toks) AS tok,
         |    CAST(unnest(range(1, len(toks)+1)) AS BIGINT) AS pos
         |  FROM (SELECT doc_id,
         |          string_split_regex(lower(trim(text)), '\\s+') AS toks
         |        FROM documents)),
         |vt AS (SELECT DISTINCT tok FROM pre),
         |vocab0 AS (SELECT * FROM (VALUES
         |  ${UgVocab.map { case (p, lp) => s"('$p', ${dlit(lp)})" }.mkString(",\n  ")})
         |  v(piece, lp)),
         |${viterbiCtes("vocab0")},
         |ids AS (SELECT tok,
         |    CAST(pieces = ['<unk>'] AS BIGINT) AS is_unk, len(pieces) AS n_p,
         |    [CASE WHEN p = '<unk>' THEN ${UgVocab.size}
         |          ELSE list_position(${UgVocab.map(v => s"'${v._1}'").mkString("[", ", ", "]")}, p) - 1 END
         |      FOR p IN pieces] AS idlist
         |  FROM fin)
         |SELECT pre.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_p) AS BIGINT) AS n_pieces,
         |  CAST(sum(is_unk) AS BIGINT) AS n_unk,
         |  CAST(list_reduce(
         |    list_prepend(CAST(7 AS BIGINT),
         |      [CAST(x AS BIGINT) FOR x IN flatten(list(idlist ORDER BY pre.pos))]),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS ids_fp
         |FROM pre JOIN ids ON ids.tok = pre.tok
         |GROUP BY 1""".stripMargin) { (s, d) =>
      UnigramLM.encodeCorpus(Tables.documents(s, d), "doc_id", "text", UgVocab)
    },

    // ---- subword-regularization sampled encode --------------------------
    // Kudo 2018 §5's --sample mode as deterministic perturb-and-MAP:
    // the q148 DP over (alpha·lp) + Gumbel noise keyed on (seed, word,
    // position, piece) — every draw hash-derived, so the segmentation
    // varies per word yet replays exactly in DuckDB; alpha -> inf
    // recovers q148 (spec-pinned). The augmentation every unigram
    // training pipeline runs, with the suite's seeded-determinism
    // contract instead of an RNG.
    QueryDef.sqlBacked(
      "q155_unigram_sampled",
      s"""WITH RECURSIVE pre AS (
         |  SELECT doc_id, unnest(toks) AS tok,
         |    CAST(unnest(range(1, len(toks)+1)) AS BIGINT) AS pos
         |  FROM (SELECT doc_id,
         |          string_split_regex(lower(trim(text)), '\\s+') AS toks
         |        FROM documents)),
         |vt AS (SELECT DISTINCT tok FROM pre),
         |vocab0 AS (SELECT * FROM (VALUES
         |  ${UgVocab.map { case (p, lp) => s"('$p', ${dlit(lp)})" }.mkString(",\n  ")})
         |  v(piece, lp)),
         |${viterbiCtes("vocab0", sampled = Some((42L, 0.3)))},
         |ids AS (SELECT tok,
         |    CAST(pieces = ['<unk>'] AS BIGINT) AS is_unk, len(pieces) AS n_p,
         |    [CASE WHEN p = '<unk>' THEN ${UgVocab.size}
         |          ELSE list_position(${UgVocab.map(v => s"'${v._1}'").mkString("[", ", ", "]")}, p) - 1 END
         |      FOR p IN pieces] AS idlist
         |  FROM fin)
         |SELECT pre.doc_id,
         |  CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(n_p) AS BIGINT) AS n_pieces,
         |  CAST(sum(is_unk) AS BIGINT) AS n_unk,
         |  CAST(list_reduce(
         |    list_prepend(CAST(7 AS BIGINT),
         |      [CAST(x AS BIGINT) FOR x IN flatten(list(idlist ORDER BY pre.pos))]),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS ids_fp
         |FROM pre JOIN ids ON ids.tok = pre.tok
         |GROUP BY 1""".stripMargin) { (s, d) =>
      UnigramLM.encodeCorpus(Tables.documents(s, d), "doc_id", "text", UgVocab,
        sample = Some((42L, 0.3)))
    },

    // ---- unigram hard-EM trainer round ----------------------------------
    QueryDef.sqlBacked(
      "q149_unigram_train",
      s"""WITH RECURSIVE ${trainerCtes(Cfg.rounds)}
         |SELECT piece, cnt, lp FROM lp_${Cfg.rounds}""".stripMargin) { (s, d) =>
      UnigramLM.trainDF(s,
        UnigramLM.train(Tables.documents(s, d), "doc_id", "text", Cfg))
    },

    // ---- coverage round-trip --------------------------------------------
    // concat(pieces) == word for EVERY length-filtered word: character
    // coverage is structural in the trainer (single chars never pruned),
    // so the oracle states the identity — a failed reassembly anywhere
    // breaks n_roundtrip_ok and the hash.
    QueryDef.sqlBacked(
      "q150_unigram_roundtrip",
      s"""SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(count(*) AS BIGINT) AS n_roundtrip_ok
         |FROM (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |      FROM documents)
         |WHERE length(tok) BETWEEN 1 AND ${Cfg.maxWordLen}
         |GROUP BY 1""".stripMargin) { (s, d) =>
      val model = UnigramLM.train(Tables.documents(s, d), "doc_id", "text", Cfg)
      UnigramLM.roundTrip(Tables.documents(s, d), "doc_id", "text",
        model.map(p => p.piece -> p.lp), Cfg.maxWordLen)
    }
  )
}
