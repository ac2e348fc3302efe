package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.TextAnalysis
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over `documents` / `embeddings`:
  * dedup suite (exact, n-gram Jaccard, MinHash+LSH, SimHash), similarity
  * search (brute-force + LSH-bucketed ANN), text analysis (lang-ID,
  * quality, token counting, fingerprinting).
  *
  * The oracle SQL recomputes every hash/fold with the *same* integer
  * arithmetic (coefficients interpolated from the same Scala constants),
  * so the DuckDB comparison is exact.
  */
object LlmQueries {
  private val P = TextAnalysis.HashMod

  /** q143: shared boilerplate planted on every doc (lowercase — survives
    * normText untouched) so chunk-level dedup has guaranteed hits. */
  private val CdcBoiler =
    "subscribe to our newsletter accept all cookies all rights reserved " +
      "terms of service privacy policy follow us on social media"

  /** q143 window hash, generated from the same exponents as
    * `Dedup.cdcChunkStats` (char at i-7+k times 31^(7-k); exact int64). */
  private def cdcWinHashSql: String =
    (0 to 7).map { k =>
      val pow = math.pow(31, 7 - k).toLong
      s"CAST(ord(substr(s, i - ${7 - k}, 1)) AS BIGINT) * $pow"
    }.mkString(" + ")

  /** Per-JVM fixture path for q81: a fresh temp dir per run means
    * concurrent Verify/Bench processes on one host cannot clobber each
    * other's fixture mid-read; the interpolated oracle SQL carries the
    * same path to DuckDB (which the driver runs after the Spark side has
    * written the file). */
  private lazy val q81FixturePath: String =
    java.nio.file.Files.createTempDirectory("graft_q81_")
      .resolve("docs.jsonl.gz").toString

  /** DuckDB: distinct 3-gram shingle list of `text`. */
  private val SHINGLES_SQL =
    "list_distinct([substr(text, i, 3) FOR i IN range(1, len(text) - 1)])"

  /** DuckDB: poly rolling hash of string expr `s` (seed 7, mod P). */
  private def polySql(s: String, len: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"[CAST(ord(substr($s, j, 1)) AS BIGINT) FOR j IN range(1, $len + 1)]), " +
      s"(a, b) -> (a * 31 + b) % $P)"

  /** DuckDB mirror of `Triplets.hashUnit`: poly-hash, avalanche-mixed
    * (salt-multiply + square mod P), divided by P — identical tokens. */
  private def huSql(sExpr: String): String = {
    val h = polySql(sExpr, s"len($sExpr)")
    s"(CAST(((($h) * 2654435761) % $P) * ((($h) * 2654435761) % $P) % $P AS DOUBLE) / $P.0)"
  }

  /** DuckDB: minhash columns mh0..mh{k-1} from hashed-shingle list `xs`. */
  private def minhashSqlCols(k: Int): String =
    (0 until k).map(i =>
      s"list_min([(${Dedup.aCoef(i)} * x + ${Dedup.bCoef(i)}) % $P FOR x IN xs]) AS mh$i")
      .mkString(",\n    ")

  private val SIG_CTE =
    s"""sh AS (SELECT doc_id, $SHINGLES_SQL AS shingles FROM documents),
       |hx AS (SELECT doc_id, [${polySql("s", "len(s)")} FOR s IN shingles] AS xs FROM sh),
       |sig AS (SELECT doc_id, ${minhashSqlCols(8)} FROM hx)""".stripMargin

  /** DuckDB: left-fold dot product of 64-dim float lists (double cast). */
  private def dotSql(a: String, b: String): String =
    s"list_reduce([CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) FOR i IN range(1, 65)], (x, y) -> x + y)"

  /** BM25 CTE triple for probe `i` over literal `terms` — shares the
    * toks/dl/consts CTEs; emits bm{i}(qid, doc_id, score) with the q134
    * expression shapes (so constant folding is IEEE-identical). */
  private def bm25Cte(i: Int, terms: Seq[String]): String = {
    val in = terms.map(t => s"'$t'").mkString(", ")
    s"""tf$i AS (SELECT doc_id, tok, count(*) AS tf FROM toks
       |  WHERE tok IN ($in) GROUP BY 1, 2),
       |df$i AS (SELECT tok, count(*) AS df FROM tf$i GROUP BY 1),
       |bm$i AS (
       |  SELECT CAST($i AS BIGINT) AS qid, tf$i.doc_id,
       |    round(sum(
       |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |          / (CAST(df AS DOUBLE) + 0.5))
       |      * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
       |      / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
       |          + 0.75 * CAST(dl AS DOUBLE)
       |            / (CAST(tot_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 6)
       |      AS score
       |  FROM tf$i JOIN df$i ON df$i.tok = tf$i.tok
       |  JOIN dl ON dl.doc_id = tf$i.doc_id CROSS JOIN consts
       |  GROUP BY 1, 2)""".stripMargin
  }

  /** Sign-LSH bucket mirror: the same ±1 hyperplane signs as
    * `Similarity.planeSign` interpolated as literals, identical left-fold
    * sum order (products by ±1 are FP-exact). */
  private def bucketSql(v: String, nPlanes: Int = 4, dim: Int = 64): String =
    (0 until nPlanes).map { i =>
      val proj = (0 until dim).map { j =>
        s"CAST($v[${j + 1}] AS DOUBLE) * ${graft.operators.Similarity.planeSign(i, j)}"
      }.mkString("(", " + ", ")")
      s"(CASE WHEN $proj > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  def defs: Seq[QueryDef] = Seq(

    // ---- exact dedup: hash-group on content digest ----------------------
    QueryDef.sqlBacked(
      "q22_dedup_exact",
      """SELECT md5(text) AS digest, min(doc_id) AS canonical_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin) { (s, d) =>
      Dedup.exactDedup(Tables.documents(s, d), col("doc_id"), col("text"))
    },

    // ---- text stats: token counts, subword estimate, quality score ------
    QueryDef.sqlBacked(
      "q23_text_stats",
      """SELECT doc_id,
        |  len(string_split_regex(lower(trim(text)), '\s+')) AS n_tok,
        |  len(regexp_extract_all(lower(trim(text)), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_subword,
        |  len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS stop_hits,
        |  CAST(len(list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |        t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
        |    / CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS DOUBLE) * 0.4
        |  + CAST(len(regexp_extract_all(lower(trim(text)), '[a-z]')) AS DOUBLE)
        |    / CAST(length(lower(trim(text))) AS DOUBLE) * 0.4
        |  + (CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 1.0 ELSE 0.0 END) * 0.2
        |    AS quality
        |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"),
        TextAnalysis.subwordCount(col("text")).cast("long").as("n_subword"),
        TextAnalysis.markerHits(TextAnalysis.tokens(col("text")),
          Seq("the", "a", "of", "and", "is")).cast("long").as("stop_hits"),
        TextAnalysis.qualityScore(col("text")).as("quality"))
    },

    // ---- language-ID heuristic (marker-word argmax) ---------------------
    QueryDef.sqlBacked(
      "q24_lang_guess",
      {
        val hitCols = TextAnalysis.LangMarkers.map { case (lang, ms) =>
          val list = ms.map(m => s"'$m'").mkString(", ")
          s"len(list_filter(toks, t -> t IN ($list))) AS h_$lang"
        }.mkString(",\n    ")
        val langs = TextAnalysis.LangMarkers.map(_._1)
        val best = s"greatest(${langs.map("h_" + _).mkString(", ")})"
        val cases = langs.map(l => s"WHEN h_$l = $best AND h_$l > 0 THEN '$l'").mkString(" ")
        s"""SELECT doc_id, lang, CASE $cases ELSE 'und' END AS guessed FROM (
           |  SELECT doc_id, lang, $hitCols
           |  FROM (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents))""".stripMargin
      }) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), col("lang"),
        TextAnalysis.langGuess(TextAnalysis.tokens(col("text"))).as("guessed"))
    },

    // ---- PII detection + redaction --------------------------------------
    // The compliance scrub a training corpus runs before tokenization:
    // count and replace emails / NANP phones / IPv4 literals. The corpus
    // is word salad, so each doc is AUGMENTED with deterministic PII
    // synthesized from doc_id (identical || arithmetic in both engines);
    // the oracle replays the same regexes with DuckDB's 'g' flag, and the
    // full redacted text rides in the hash — a per-character equality
    // proof of the three-pass replacement, not just the counts.
    QueryDef.sqlBacked(
      "q93_pii_redact",
      s"""SELECT doc_id,
         |  len(regexp_extract_all(aug, '${TextAnalysis.PiiEmail}')) AS n_email,
         |  len(regexp_extract_all(aug, '${TextAnalysis.PiiPhone}')) AS n_phone,
         |  len(regexp_extract_all(aug, '${TextAnalysis.PiiIpv4}')) AS n_ip,
         |  regexp_replace(regexp_replace(regexp_replace(aug,
         |    '${TextAnalysis.PiiEmail}', '<EMAIL>', 'g'),
         |    '${TextAnalysis.PiiPhone}', '<PHONE>', 'g'),
         |    '${TextAnalysis.PiiIpv4}', '<IP>', 'g') AS redacted
         |FROM (
         |  SELECT doc_id,
         |    text || ' contact u' || CAST(doc_id AS VARCHAR) || '@ex-'
         |      || CAST(doc_id % 5 AS VARCHAR) || '.org call 555-'
         |      || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-'
         |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
         |      || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.'
         |      || CAST((doc_id * 7) % 256 AS VARCHAR) AS aug
         |  FROM documents)""".stripMargin) { (s, d) =>
      val aug = concat(col("text"),
        lit(" contact u"), col("doc_id").cast("string"),
        lit("@ex-"), (col("doc_id") % 5).cast("string"),
        lit(".org call 555-"),
        lpad((col("doc_id") % 1000).cast("string"), 3, "0"), lit("-"),
        lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
        lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
        lit("."), ((col("doc_id") * 7) % 256).cast("string"))
      val (ne, np, ni) = TextAnalysis.piiCounts(col("aug"))
      Tables.documents(s, d)
        .select(col("doc_id"), aug.as("aug"))
        .select(col("doc_id"),
          ne.cast("long").as("n_email"), np.cast("long").as("n_phone"),
          ni.cast("long").as("n_ip"),
          TextAnalysis.redactPii(col("aug")).as("redacted"))
    },

    // ---- benchmark decontamination --------------------------------------
    // The eval-set overlap scrub (GPT-3 Appendix C / PaLM n-gram
    // collision family): documents sharing any token 3-gram with the
    // "benchmark" slice (doc_id % 97 = 0) are flagged, with the count of
    // distinct colliding grams. The oracle replays the same space-joined
    // token n-grams through the same poly hash.
    QueryDef.sqlBacked(
      "q94_decontam",
      s"""WITH t AS (
         |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
         |  FROM documents),
         |gs AS (
         |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM t)),
         |gh AS (SELECT DISTINCT doc_id, ${polySql("g", "len(g)")} AS gh FROM gs),
         |eg AS (SELECT DISTINCT gh FROM gh WHERE doc_id % 97 = 0),
         |tg AS (SELECT doc_id, gh FROM gh WHERE doc_id % 97 <> 0)
         |SELECT tg.doc_id, CAST(count(eg.gh) AS BIGINT) AS n_hits,
         |  CAST(CASE WHEN count(eg.gh) > 0 THEN 1 ELSE 0 END AS BIGINT) AS contaminated
         |FROM tg LEFT JOIN eg ON tg.gh = eg.gh
         |GROUP BY 1""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      TextAnalysis.decontaminate(
        docs.where(col("doc_id") % 97 =!= 0),
        docs.where(col("doc_id") % 97 === 0),
        "doc_id", "text", n = 3)
    },

    // ---- unigram-LM quality score ---------------------------------------
    // Mean negative log-likelihood under the corpus unigram distribution
    // — the order-1 member of the perplexity-filter family, exactly
    // replayable by the oracle (same ln/total arithmetic, 6-dp rounding
    // for float-sum order stability).
    QueryDef.sqlBacked(
      "q95_unigram_lm",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |pd AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |vocab AS (SELECT tok, count(*) AS vcnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(vcnt) AS BIGINT) AS total FROM vocab)
        |SELECT pd.doc_id, CAST(sum(pd.cnt) AS BIGINT) AS n_tok,
        |  round(sum(pd.cnt * (ln(CAST(total AS DOUBLE)) - ln(CAST(vcnt AS DOUBLE))))
        |    / sum(pd.cnt), 6) AS nll
        |FROM pd JOIN vocab ON vocab.tok = pd.tok CROSS JOIN tot
        |GROUP BY 1""".stripMargin) { (s, d) =>
      TextAnalysis.unigramLmScores(Tables.documents(s, d), "doc_id", "text")
    },

    // ---- stupid-backoff bigram LM quality score -------------------------
    // Brants et al. 2007: S(w2|w1) = c(w1 w2)/c(w1) when the bigram
    // survives the count cutoff, else 0.4 * c(w2)/N. The cutoff (>= 2)
    // both bounds the model table and keeps the backoff branch live on
    // in-sample scoring (every unpruned in-sample bigram has c >= 1).
    // The oracle replays the identical ln arithmetic, including the
    // backoff constant as -ln(0.4) on both sides (0.4 parses to the same
    // IEEE double in both engines; a last-ulp libm divergence is absorbed
    // by the 6-dp rounding, exactly as q95's ln(count) terms are).
    QueryDef.sqlBacked(
      "q131_backoff_lm",
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
        |  FROM documents),
        |big AS (
        |  SELECT doc_id, toks[i] AS w1, toks[i + 1] AS w2
        |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM t)),
        |pd AS (SELECT doc_id, w1, w2, count(*) AS cnt FROM big GROUP BY 1, 2, 3),
        |bc AS (SELECT w1, w2, count(*) AS bcnt FROM big GROUP BY 1, 2
        |       HAVING count(*) >= 2),
        |toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |uni AS (SELECT tok, count(*) AS ucnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(ucnt) AS BIGINT) AS n_total FROM uni)
        |SELECT pd.doc_id, CAST(sum(pd.cnt) AS BIGINT) AS n_big,
        |  round(sum(pd.cnt * CASE WHEN bc.bcnt IS NOT NULL
        |      THEN ln(CAST(u1.ucnt AS DOUBLE)) - ln(CAST(bc.bcnt AS DOUBLE))
        |      ELSE -ln(0.4) + ln(CAST(n_total AS DOUBLE)) - ln(CAST(u2.ucnt AS DOUBLE))
        |    END) / sum(pd.cnt), 6) AS nll
        |FROM pd
        |LEFT JOIN bc ON bc.w1 = pd.w1 AND bc.w2 = pd.w2
        |JOIN uni u1 ON u1.tok = pd.w1
        |JOIN uni u2 ON u2.tok = pd.w2
        |CROSS JOIN tot
        |GROUP BY 1""".stripMargin) { (s, d) =>
      TextAnalysis.stupidBackoffScores(Tables.documents(s, d), "doc_id", "text",
        minBigramCount = 2, alpha = 0.4)
    },

    // ---- Moore-Lewis cross-entropy data selection -----------------------
    // In-domain = source 'src0'; both Laplace-smoothed unigram LMs are
    // replayed token-for-token by the oracle, and the selected flag is
    // decided on the ROUNDED delta in both engines.
    QueryDef.sqlBacked(
      "q132_moore_lewis",
      """WITH toks AS (
        |  SELECT doc_id, source = 'src0' AS in_dom,
        |    unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |pd AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |gen AS (SELECT tok, count(*) AS gcnt FROM toks GROUP BY 1),
        |ind AS (SELECT tok, count(*) AS icnt FROM toks WHERE in_dom GROUP BY 1),
        |consts AS (SELECT CAST(sum(gcnt) AS BIGINT) AS n_gen,
        |           CAST(count(*) AS BIGINT) AS v FROM gen),
        |nin AS (SELECT CAST(count(*) AS BIGINT) AS n_in FROM toks WHERE in_dom)
        |SELECT doc_id, n_tok, nll_in, nll_gen, delta,
        |  CAST(CASE WHEN delta <= 0 THEN 1 ELSE 0 END AS BIGINT) AS selected
        |FROM (
        |  SELECT pd.doc_id, CAST(sum(pd.cnt) AS BIGINT) AS n_tok,
        |    round(sum(pd.cnt * (ln(CAST(n_in + v AS DOUBLE))
        |        - ln(CAST(coalesce(icnt, 0) + 1 AS DOUBLE)))) / sum(pd.cnt), 6)
        |      AS nll_in,
        |    round(sum(pd.cnt * (ln(CAST(n_gen + v AS DOUBLE))
        |        - ln(CAST(gcnt + 1 AS DOUBLE)))) / sum(pd.cnt), 6) AS nll_gen,
        |    round((sum(pd.cnt * (ln(CAST(n_in + v AS DOUBLE))
        |          - ln(CAST(coalesce(icnt, 0) + 1 AS DOUBLE))))
        |        - sum(pd.cnt * (ln(CAST(n_gen + v AS DOUBLE))
        |          - ln(CAST(gcnt + 1 AS DOUBLE))))) / sum(pd.cnt), 6) AS delta
        |  FROM pd
        |  JOIN gen ON gen.tok = pd.tok
        |  LEFT JOIN ind ON ind.tok = pd.tok
        |  CROSS JOIN consts CROSS JOIN nin
        |  GROUP BY 1)""".stripMargin) { (s, d) =>
      TextAnalysis.mooreLewisScores(Tables.documents(s, d), "doc_id", "text",
        col("source") === "src0")
    },

    // ---- Okapi BM25 keyword scoring -------------------------------------
    // Fixed 5-term query probe over the corpus; the oracle replays the
    // Lucene-variant idf and the saturation formula with the SAME
    // float expression shapes ((1.2 + 1.0), (1.0 - 0.75), left-assoc
    // multiply/divide chains), so both engines fold the identical IEEE
    // constants; 6-dp rounding absorbs the cross-engine ln ulp.
    QueryDef.sqlBacked(
      "q134_bm25",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        |consts AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |           CAST(sum(dl) AS BIGINT) AS tot_len FROM dl),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
        |       WHERE tok IN ('spark', 'merge', 'vector', 'customer', 'window')
        |       GROUP BY 1, 2),
        |dfr AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1)
        |SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS n_hit_terms,
        |  round(sum(
        |    ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
        |        / (CAST(df AS DOUBLE) + 0.5))
        |    * (CAST(tf AS DOUBLE) * (1.2 + 1.0))
        |    / (CAST(tf AS DOUBLE) + 1.2 * ((1.0 - 0.75)
        |        + 0.75 * CAST(dl AS DOUBLE)
        |          / (CAST(tot_len AS DOUBLE) / CAST(n_docs AS DOUBLE))))), 6)
        |    AS score
        |FROM tf
        |JOIN dfr ON dfr.tok = tf.tok
        |JOIN dl ON dl.doc_id = tf.doc_id
        |CROSS JOIN consts
        |GROUP BY 1""".stripMargin) { (s, d) =>
      TextAnalysis.bm25Scores(Tables.documents(s, d), "doc_id", "text",
        Seq("spark", "merge", "vector", "customer", "window"))
    },

    // ---- hybrid search: reciprocal-rank fusion --------------------------
    // Cormack et al. 2009: fuse a BM25 keyword ranking with an ANN cosine
    // ranking per query — rrf = 1/(60+r_sparse) + 1/(60+r_dense) over the
    // top-50 of each list, re-ranked. Two query probes (qid 0/1): the
    // keyword sets differ per probe and the dense side is the q30
    // brute-force cosine vs probe embeddings 0/1. Both rankings order by
    // (ROUNDED score desc, doc_id) in both engines, so rank ties resolve
    // identically; the fusion meet is a FULL OUTER join on (qid, doc).
    QueryDef.sqlBacked(
      "q135_rrf_hybrid",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |  FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
         |consts AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
         |           CAST(sum(dl) AS BIGINT) AS tot_len FROM dl),
         |${bm25Cte(0, Seq("spark", "merge", "vector"))},
         |${bm25Cte(1, Seq("customer", "window", "filter"))},
         |sparse AS (SELECT * FROM bm0 UNION ALL SELECT * FROM bm1),
         |p AS (SELECT vec_id AS qid, embedding AS pv FROM embeddings WHERE vec_id < 2),
         |c AS (SELECT vec_id AS doc_id, embedding AS cv FROM embeddings),
         |dense AS (
         |  SELECT qid, doc_id,
         |    round(${dotSql("pv", "cv")}
         |      / (sqrt(${dotSql("pv", "pv")}) * sqrt(${dotSql("cv", "cv")})), 6) AS score
         |  FROM c CROSS JOIN p WHERE doc_id != qid),
         |rs AS (SELECT qid, doc_id, rnk_sparse FROM (
         |  SELECT qid, doc_id, row_number() OVER (
         |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk_sparse
         |  FROM sparse) WHERE rnk_sparse <= 50),
         |rd AS (SELECT qid, doc_id, rnk_dense FROM (
         |  SELECT qid, doc_id, row_number() OVER (
         |    PARTITION BY qid ORDER BY score DESC, doc_id) AS rnk_dense
         |  FROM dense) WHERE rnk_dense <= 50),
         |fused AS (
         |  SELECT coalesce(rs.qid, rd.qid) AS qid,
         |    coalesce(rs.doc_id, rd.doc_id) AS doc_id,
         |    rs.rnk_sparse AS rnk_sparse, rd.rnk_dense AS rnk_dense,
         |    round(coalesce(1.0 / (60.0 + CAST(rnk_sparse AS DOUBLE)), 0.0)
         |      + coalesce(1.0 / (60.0 + CAST(rnk_dense AS DOUBLE)), 0.0), 6) AS rrf
         |  FROM rs FULL OUTER JOIN rd
         |    ON rs.qid = rd.qid AND rs.doc_id = rd.doc_id)
         |SELECT qid, doc_id, CAST(rnk AS BIGINT) AS rnk, rrf,
         |  CAST(coalesce(rnk_sparse, 0) AS BIGINT) AS rnk_sparse,
         |  CAST(coalesce(rnk_dense, 0) AS BIGINT) AS rnk_dense
         |FROM (SELECT *, row_number() OVER (
         |  PARTITION BY qid ORDER BY rrf DESC, doc_id) AS rnk FROM fused)
         |WHERE rnk <= 20""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      val emb = Tables.embeddings(s, d)
      val sparse = Seq(
        (0L, Seq("spark", "merge", "vector")),
        (1L, Seq("customer", "window", "filter")))
        .map { case (qid, terms) =>
          TextAnalysis.bm25Scores(docs, "doc_id", "text", terms)
            .select(lit(qid).as("qid"), col("doc_id"), col("score"))
        }.reduce(_.unionByName(_))
      val dense = Similarity
        .bruteForceTopK(emb.where(col("vec_id") < 2), emb, k = 50)
        .select(col("probe_id").as("qid"), col("neighbor_id").as("doc_id"),
          col("cos_sim").as("score"))
      Similarity.rrfFuse(sparse, dense, "qid", "doc_id", "score")
    },

    // ---- rolling-hash document fingerprint ------------------------------
    QueryDef.sqlBacked(
      "q25_fingerprint",
      s"""SELECT doc_id, ${polySql("lower(trim(text))", "length(lower(trim(text)))")} AS fp,
         |  length(text) AS n_chars_raw
         |FROM documents""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        TextAnalysis.polyHash(TextAnalysis.normText(col("text"))).as("fp"),
        length(col("text")).cast("long").as("n_chars_raw"))
    },

    // ---- blocked n-gram Jaccard near-dup pairs (hashed shingle sets) ----
    QueryDef.sqlBacked(
      "q26_ngram_jaccard",
      s"""WITH hs AS (
         |  SELECT doc_id, lang, source,
         |    list_distinct([${polySql("s", "len(s)")} FOR s IN shingles]) AS s
         |  FROM (SELECT doc_id, lang, source, $SHINGLES_SQL AS shingles FROM documents))
         |SELECT doc_a, doc_b, lang, source, jaccard FROM (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang AS lang, a.source AS source,
         |    CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
         |      / CAST(len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)) AS DOUBLE) AS jaccard
         |  FROM hs a JOIN hs b
         |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
         |WHERE jaccard >= 0.5""".stripMargin) { (s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text",
        Seq("lang", "source"), n = 3, threshold = 0.5)
    },

    // ---- MinHash signatures (k=8) ---------------------------------------
    QueryDef.sqlBacked(
      "q27_minhash_sig",
      s"""WITH $SIG_CTE
         |SELECT * FROM sig""".stripMargin) { (s, d) =>
      Dedup.minhashSignatures(Tables.documents(s, d), "doc_id", "text", k = 8)
    },

    // ---- MinHash + LSH banding near-dup (the 100 TB dedup path) ---------
    QueryDef.sqlBacked(
      "q28_lsh_neardup",
      s"""WITH $SIG_CTE,
         |banded AS (
         |  SELECT doc_id, b,
         |    CASE b WHEN 0 THEN (mh0 * 31 + mh1) % $P
         |           WHEN 1 THEN (mh2 * 31 + mh3) % $P
         |           WHEN 2 THEN (mh4 * 31 + mh5) % $P
         |           ELSE (mh6 * 31 + mh7) % $P END AS bh
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
         |pairs AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id),
         |hxd AS (SELECT doc_id, list_distinct(xs) AS xsd FROM hx)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(len(list_intersect(sa.xsd, sb.xsd)) AS DOUBLE)
         |      / CAST(len(sa.xsd) + len(sb.xsd) - len(list_intersect(sa.xsd, sb.xsd)) AS DOUBLE) AS jaccard
         |  FROM pairs p
         |  JOIN hxd sa ON sa.doc_id = p.doc_a
         |  JOIN hxd sb ON sb.doc_id = p.doc_b)
         |WHERE jaccard >= 0.35""".stripMargin) { (s, d) =>
      // the verify joins follow the broadcast threshold: at sf0.1 the
      // shingle cache's size estimate is under it, so the 5M candidate
      // pairs stream through broadcast joins and the arrays never shuffle
      Dedup.lshNearDupPairs(Tables.documents(s, d), "doc_id", "text",
        k = 8, bands = 4, threshold = 0.35)
    },

    // ---- sentence-aware greedy chunk packing ----------------------------
    // The RAG/packing variant that never splits a sentence (q110's
    // fixed windows do): sentences split on terminal-punctuation + space
    // runs, greedily packed to a 64-token budget; over-budget sentences
    // become their own oversized chunk. One shuffle-free fold per doc;
    // the oracle replays the (done, cur) recurrence in list_reduce.
    QueryDef.sqlBacked(
      "q158_sentence_pack",
      s"""WITH base AS (
         |  SELECT doc_id,
         |    list_filter(string_split_regex(lower(trim(text)), '[.!?]+ +'),
         |                s -> length(s) > 0) AS ss
         |  FROM documents),
         |cnt AS (
         |  SELECT doc_id, ss,
         |    [len(list_filter(string_split_regex(s, ' +'), w -> length(w) > 0))
         |     FOR s IN ss] AS counts
         |  FROM base),
         |packed AS (
         |  SELECT doc_id, ss,
         |    list_reduce(
         |      list_prepend({'done': CAST([] AS BIGINT[]), 'cur': CAST(0 AS BIGINT)},
         |        [{'done': CAST([] AS BIGINT[]), 'cur': CAST(t AS BIGINT)} FOR t IN counts]),
         |      (a, b) -> CASE
         |        WHEN a.cur = 0 THEN {'done': a.done, 'cur': b.cur}
         |        WHEN a.cur + b.cur <= 64 THEN {'done': a.done, 'cur': a.cur + b.cur}
         |        ELSE {'done': list_append(a.done, a.cur), 'cur': b.cur} END) AS st
         |  FROM cnt),
         |fin AS (
         |  SELECT doc_id, ss,
         |    CASE WHEN st.cur > 0 THEN list_append(st.done, st.cur)
         |         ELSE st.done END AS chunks
         |  FROM packed)
         |SELECT doc_id, CAST(len(ss) AS BIGINT) AS n_sentences,
         |  CAST(len(chunks) AS BIGINT) AS n_chunks,
         |  CAST(coalesce(list_max(chunks), 0) AS BIGINT) AS max_chunk_tokens,
         |  CAST(list_reduce(list_prepend(CAST(7 AS BIGINT), chunks),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS sizes_fp
         |FROM fin""".stripMargin) { (s, d) =>
      graft.operators.SequencePrep.sentencePack(
        Tables.documents(s, d), "doc_id", "text", budget = 64)
    },

    // ---- length-bucketed batch assembly ---------------------------------
    // The group_by_length dataloader step: width-16 token-length
    // buckets x 4 id-shards (each shard batches independently — the
    // multi-worker shape, so no global order funnels through one task),
    // longest-first rank cut into 8-row batches; per-batch padding
    // waste is provably < 16 tokens/row. All integer arithmetic.
    QueryDef.sqlBacked(
      "q163_length_batches",
      """WITH w AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |b AS (
        |  SELECT doc_id, n_tok,
        |    CAST((greatest(n_tok, 1) - 1) // 16 AS BIGINT) AS bucket,
        |    CAST(doc_id % 4 AS BIGINT) AS shard
        |  FROM w),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY bucket, shard
        |    ORDER BY n_tok DESC, doc_id) AS rnk
        |  FROM b)
        |SELECT bucket, shard, CAST((rnk - 1) // 8 AS BIGINT) AS batch_idx,
        |  CAST(count(*) AS BIGINT) AS n_docs, max(n_tok) AS max_len,
        |  CAST(sum(n_tok) AS BIGINT) AS sum_tok,
        |  CAST(count(*) * max(n_tok) - sum(n_tok) AS BIGINT) AS waste
        |FROM r GROUP BY 1, 2, 3""".stripMargin) { (s, d) =>
      graft.operators.SequencePrep.lengthBucketBatches(
        Tables.documents(s, d), "doc_id", "text",
        width = 16, batchSize = 8, nShards = 4)
    },

    // ---- robust outliers: median absolute deviation ---------------------
    // The robust per-stratum outlier gate (length/quality screening
    // without a distribution assumption): per-language nearest-rank
    // median of n_chars, MAD = nearest-rank median of |x − med|, and
    // the cross-multiplied robust-z rule |x − med| · 100 > 500 · MAD
    // (z > 5 with no FP division anywhere — everything is exact
    // integers, so the hash is trivial to pin).
    QueryDef.sqlBacked(
      "q179_mad_outliers",
      """WITH w AS (SELECT doc_id, lang, n_chars FROM documents),
        |r1 AS (SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY n_chars, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n FROM w),
        |med AS (SELECT lang, n_chars AS med FROM r1
        |  WHERE rn - 1 = CAST(floor(0.5 * (n - 1)) AS BIGINT)),
        |dev AS (SELECT w.doc_id, w.lang, w.n_chars, m.med,
        |  abs(w.n_chars - m.med) AS adev
        |  FROM w JOIN med m USING (lang)),
        |r2 AS (SELECT *, row_number() OVER (PARTITION BY lang
        |    ORDER BY adev, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY lang) AS n FROM dev),
        |mad AS (SELECT lang, adev AS mad FROM r2
        |  WHERE rn - 1 = CAST(floor(0.5 * (n - 1)) AS BIGINT))
        |SELECT d.doc_id, d.lang, d.n_chars, d.med, d.adev, m2.mad,
        |  CAST(CASE WHEN d.adev * 100 > 500 * m2.mad THEN 1 ELSE 0 END
        |    AS BIGINT) AS outlier
        |FROM dev d JOIN mad m2 USING (lang)""".stripMargin) { (s, d) =>
      import graft.operators.RankStats
      val w = Tables.documents(s, d).select(col("doc_id"), col("lang"),
        col("n_chars"))
      val med = RankStats.nearestRankPercentile(w, Seq("lang"),
        col("n_chars"), 0.5, col("doc_id")).withColumnRenamed("pvalue", "med")
      val dev = w.join(broadcast(med), "lang")
        .withColumn("adev", abs(col("n_chars") - col("med")))
      val mad = RankStats.nearestRankPercentile(dev, Seq("lang"),
        col("adev"), 0.5, col("doc_id")).withColumnRenamed("pvalue", "mad")
      dev.join(broadcast(mad), "lang")
        .select(col("doc_id"), col("lang"), col("n_chars"), col("med"),
          col("adev"), col("mad"),
          when(col("adev") * 100 > lit(500) * col("mad"), 1L).otherwise(0L)
            .as("outlier"))
    },

    // ---- dataset card (corpus datasheet) --------------------------------
    // The per-source statistics block every corpus release ships: doc
    // and token counts, nearest-rank token-length quantiles, language
    // breadth, exact-duplicate mass — all exact integers, one pass plus
    // two rank windows and a digest agg.
    QueryDef.sqlBacked(
      "q178_dataset_card",
      """WITH w AS (
        |  SELECT doc_id, source, lang, md5(text) AS dg,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |r AS (SELECT *,
        |  row_number() OVER (PARTITION BY source ORDER BY n_tok, doc_id) AS rn,
        |  count(*) OVER (PARTITION BY source) AS n FROM w),
        |p50 AS (SELECT source, n_tok AS p50_tok FROM r
        |  WHERE rn - 1 = CAST(floor(0.5 * (n - 1)) AS BIGINT)),
        |p90 AS (SELECT source, n_tok AS p90_tok FROM r
        |  WHERE rn - 1 = CAST(floor(0.9 * (n - 1)) AS BIGINT)),
        |base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_tok) AS BIGINT) AS n_tokens, max(n_tok) AS max_tok,
        |  CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
        |  FROM w GROUP BY 1),
        |dups AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_dup_docs FROM (
        |  SELECT source, dg, count(*) AS c FROM w GROUP BY 1, 2
        |  HAVING count(*) > 1) GROUP BY 1)
        |SELECT b.source, n_docs, n_tokens, p50_tok, p90_tok, max_tok, n_langs,
        |  CAST(coalesce(d.n_dup_docs, 0) AS BIGINT) AS n_dup_docs
        |FROM base b JOIN p50 USING (source) JOIN p90 USING (source)
        |LEFT JOIN dups d USING (source)""".stripMargin) { (s, d) =>
      import graft.operators.RankStats
      val w = Tables.documents(s, d).select(col("doc_id"), col("source"),
        col("lang"), md5(col("text").cast("binary")).as("dg"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
      val base = w.groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"), max(col("n_tok")).as("max_tok"),
        countDistinct(col("lang")).as("n_langs"))
      val p50 = RankStats.nearestRankPercentile(w, Seq("source"),
        col("n_tok"), 0.5, col("doc_id")).withColumnRenamed("pvalue", "p50_tok")
      val p90 = RankStats.nearestRankPercentile(w, Seq("source"),
        col("n_tok"), 0.9, col("doc_id")).withColumnRenamed("pvalue", "p90_tok")
      val dups = w.groupBy("source", "dg").agg(count(lit(1)).as("c"))
        .where(col("c") > 1)
        .groupBy("source").agg(sum(col("c")).as("n_dup_docs"))
      base.join(p50, "source").join(p90, "source")
        .join(dups, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"),
          col("p50_tok"), col("p90_tok"), col("max_tok"), col("n_langs"),
          coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
    },

    // ---- deterministic epoch shuffle ------------------------------------
    // The dataloader "reshuffle every epoch" step with no RNG state:
    // u = hashUnit(77, epoch, doc_id) orders and shards each epoch
    // independently (the epoch rides inside the hash), so every task is
    // retry/partitioning-reproducible and the oracle replays the whole
    // permutation. 2 epochs x 8 shards over the documents corpus.
    QueryDef.sqlBacked(
      "q172_epoch_shuffle",
      {
        val s = "'77|' || CAST(epoch AS VARCHAR) || '|' || CAST(doc_id AS VARCHAR)"
        val h = s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
          s"[CAST(ord(substr($s, j, 1)) AS BIGINT) FOR j IN range(1, len($s) + 1)]), " +
          s"(a, b) -> (a * 31 + b) % 1000000007)"
        val u = s"(CAST(((($h) * 2654435761) % 1000000007) * " +
          s"((($h) * 2654435761) % 1000000007) % 1000000007 AS DOUBLE) / 1000000007.0)"
        s"""WITH e AS (
           |  SELECT doc_id, unnest(range(0, 2)) AS epoch FROM documents),
           |h AS (SELECT CAST(epoch AS BIGINT) AS epoch, doc_id, $u AS u FROM e),
           |sh AS (SELECT epoch, doc_id, u,
           |  CAST(floor(u * 8) AS BIGINT) AS shard FROM h)
           |SELECT epoch, doc_id, shard,
           |  CAST(row_number() OVER (PARTITION BY epoch, shard
           |    ORDER BY u, doc_id) AS BIGINT) AS pos
           |FROM sh""".stripMargin
      }) { (s, d) =>
      graft.operators.Mixing.epochShuffle(
        Tables.documents(s, d), "doc_id", nShards = 8, nEpochs = 2, seed = 77L)
    },

    // ---- composed curation chain: filter -> dedup -> pack ---------------
    // Three operators in ONE plan, the canonical ordering (filter before
    // dedup before packing — dedup after packing would leak duplicate
    // tokens into bins): length gate, exact-dedup keep-canonical
    // (min doc_id per digest), then the q111 packed-stream prefix sum
    // over the SURVIVORS. Proves the operators compose without column
    // clashes and that the packing sees post-dedup token streams.
    QueryDef.sqlBacked(
      "q171_curation_chain",
      """WITH w AS (
        |  SELECT doc_id, source, md5(text) AS digest,
        |    CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |f AS (SELECT * FROM w WHERE n_tok >= 30),
        |d AS (SELECT digest, min(doc_id) AS keep_id FROM f GROUP BY 1),
        |kept AS (SELECT f.doc_id, f.source, f.n_tok
        |  FROM f JOIN d ON f.digest = d.digest AND f.doc_id = d.keep_id),
        |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |  ROWS UNBOUNDED PRECEDING) AS cum FROM kept)
        |SELECT doc_id, source, n_tok,
        |  CAST((cum - n_tok) // 256 AS BIGINT) AS bin,
        |  CAST((cum - n_tok) % 256 AS BIGINT) AS offset,
        |  CAST((cum - 1) // 256 - (cum - n_tok) // 256 + 1 AS BIGINT) AS n_bins
        |FROM c""".stripMargin) { (s, d) =>
      import graft.operators.{Dedup, SequencePrep}
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), col("text"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"))
        .where(col("n_tok") >= 30)
      val canon = Dedup.exactDedup(docs, col("doc_id"), col("text"))
        .select(col("canonical_id").as("doc_id"))
      val kept = docs.join(canon, "doc_id")
        .select(col("doc_id"), col("source"), col("n_tok"))
      SequencePrep.packSequences(kept, "doc_id", "source", "n_tok",
        budget = 256)
    },

    // ---- DSIR hashed importance weights ---------------------------------
    // Xie et al. 2023 data selection: per-doc log importance weight over
    // 64 HASHED unigram+bigram feature buckets (fixed model size at any
    // vocabulary — the method's point vs q132's full-vocab Moore-Lewis),
    // target = src0, Laplace-smoothed bucket distributions, selected =
    // target-leaning (rounded logw > 0). Same ln/6-dp sum discipline as
    // q132; bucket tables are 64-row broadcasts.
    QueryDef.sqlBacked(
      "q168_dsir_weights",
      {
        val term =
          "((ln(CAST(coalesce(tcnt, 0) + 1 AS DOUBLE)) - ln(CAST(n_t + 64 AS DOUBLE)))" +
            " - (ln(CAST(coalesce(scnt, 0) + 1 AS DOUBLE)) - ln(CAST(n_s + 64 AS DOUBLE))))"
        s"""WITH t AS (
           |  SELECT doc_id, source = 'src0' AS in_dom,
           |    string_split_regex(lower(trim(text)), '\\s+') AS toks
           |  FROM documents),
           |g1 AS (SELECT doc_id, in_dom, toks[i] AS g
           |  FROM (SELECT doc_id, in_dom, toks,
           |        unnest(range(1, len(toks) + 1)) AS i FROM t)),
           |g2 AS (SELECT doc_id, in_dom, array_to_string(toks[i:i+1], ' ') AS g
           |  FROM (SELECT doc_id, in_dom, toks,
           |        unnest(range(1, len(toks))) AS i FROM t)),
           |f AS (SELECT doc_id, in_dom, (${polySql("g", "len(g)")}) % 64 AS b
           |  FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)),
           |pd AS (SELECT doc_id, b, count(*) AS cnt FROM f GROUP BY 1, 2),
           |tg AS (SELECT b, count(*) AS tcnt FROM f WHERE in_dom GROUP BY 1),
           |sr AS (SELECT b, count(*) AS scnt FROM f WHERE NOT in_dom GROUP BY 1),
           |cs AS (SELECT sum(CASE WHEN in_dom THEN 1 ELSE 0 END) AS n_t,
           |       sum(CASE WHEN in_dom THEN 0 ELSE 1 END) AS n_s FROM f)
           |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feat,
           |  round(sum(cnt * $term), 6) AS logw,
           |  CAST(CASE WHEN round(sum(cnt * $term), 6) > 0.0
           |    THEN 1 ELSE 0 END AS BIGINT) AS selected
           |FROM pd LEFT JOIN tg USING (b) LEFT JOIN sr USING (b) CROSS JOIN cs
           |GROUP BY doc_id""".stripMargin
      }) { (s, d) =>
      TextAnalysis.dsirWeights(Tables.documents(s, d), "doc_id", "text",
        inDomain = col("source") === "src0", nBuckets = 64)
    },

    // ---- Misra-Gries heavy hitters --------------------------------------
    // Bounded-state frequent-item mining: the MG summary (k=30 < the 31
    // distinct tokens, so the decrement path runs) holds <= 29 counters
    // per task where a group-by holds one per distinct item; merged
    // candidates provably contain every token above N/30, the exact
    // recount + integer cross-multiplied threshold make the OUTPUT
    // deterministic. The oracle is the exact statement the guarantee
    // promises — frequency strictly above N/k.
    QueryDef.sqlBacked(
      "q166_heavy_hitters",
      """WITH toks AS (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS item
        |  FROM documents),
        |tot AS (SELECT count(*) AS n_total FROM toks)
        |SELECT item, CAST(count(*) AS BIGINT) AS n_occur, n_total
        |FROM toks, tot GROUP BY item, n_total
        |HAVING count(*) * 30 > n_total""".stripMargin) { (s, d) =>
      import graft.functions.TextAnalysis
      graft.operators.Sketches.heavyHitters(
        Tables.documents(s, d)
          .select(explode(TextAnalysis.tokens(col("text"))).as("tok")),
        "tok", k = 30)
    },

    // ---- cross-corpus LSH near-dup (decontamination at scale) -----------
    // The A x B banding join: train (source <> 'src0') against a
    // corpus-sized holdout (source = 'src0') — the general form of q94's
    // broadcast decontam for eval sides too big to broadcast. Candidates
    // meet on the shared (band, bandhash) key with ids-only shuffles;
    // the oracle replays both sides' signatures and the unordered A->B
    // pairing exactly.
    QueryDef.sqlBacked(
      "q154_lsh_cross_corpus",
      s"""WITH $SIG_CTE,
         |banded AS (
         |  SELECT doc_id, b,
         |    CASE b WHEN 0 THEN (mh0 * 31 + mh1) % $P
         |           WHEN 1 THEN (mh2 * 31 + mh3) % $P
         |           WHEN 2 THEN (mh4 * 31 + mh5) % $P
         |           ELSE (mh6 * 31 + mh7) % $P END AS bh
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
         |srcs AS (SELECT doc_id, source FROM documents),
         |pairs AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM banded l
         |  JOIN srcs sl ON sl.doc_id = l.doc_id AND sl.source <> 'src0'
         |  JOIN banded r ON l.b = r.b AND l.bh = r.bh
         |  JOIN srcs sr ON sr.doc_id = r.doc_id AND sr.source = 'src0'),
         |hxd AS (SELECT doc_id, list_distinct(xs) AS xsd FROM hx)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(len(list_intersect(sa.xsd, sb.xsd)) AS DOUBLE)
         |      / CAST(len(sa.xsd) + len(sb.xsd) - len(list_intersect(sa.xsd, sb.xsd)) AS DOUBLE) AS jaccard
         |  FROM pairs p
         |  JOIN hxd sa ON sa.doc_id = p.doc_a
         |  JOIN hxd sb ON sb.doc_id = p.doc_b)
         |WHERE jaccard >= 0.35""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
      Dedup.lshCrossCorpusPairs(
        docs.where(col("source") =!= "src0"), docs.where(col("source") === "src0"),
        "doc_id", "text", k = 8, bands = 4, threshold = 0.35)
    },

    // ---- STREAMING LSH near-dup, driver-gate-proven ---------------------
    // The real streaming engine runs the full banding pipeline (stateless
    // signatures -> watermarked band self-join -> inline verify ->
    // watermark-scoped pair dedup) on a 300-doc slice with synthetic
    // event times; the oracle is the batch q28 SQL on the same slice, so
    // the hash match proves streaming == batch for the dedup path.
    QueryDef.sqlBacked(
      "q74_streaming_lsh",
      s"""WITH sh AS (SELECT doc_id, $SHINGLES_SQL AS shingles FROM documents WHERE doc_id < 300),
         |hx AS (SELECT doc_id, [${polySql("s", "len(s)")} FOR s IN shingles] AS xs FROM sh),
         |sig AS (SELECT doc_id, ${minhashSqlCols(8)} FROM hx),
         |banded AS (
         |  SELECT doc_id, b,
         |    CASE b WHEN 0 THEN (mh0 * 31 + mh1) % $P
         |           WHEN 1 THEN (mh2 * 31 + mh3) % $P
         |           WHEN 2 THEN (mh4 * 31 + mh5) % $P
         |           ELSE (mh6 * 31 + mh7) % $P END AS bh
         |  FROM sig CROSS JOIN (SELECT unnest(range(0, 4)) AS b)),
         |pairs AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM banded l JOIN banded r ON l.b = r.b AND l.bh = r.bh AND l.doc_id < r.doc_id),
         |hxd AS (SELECT doc_id, list_distinct(xs) AS xsd FROM hx)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT p.doc_a, p.doc_b,
         |    CAST(len(list_intersect(sa.xsd, sb.xsd)) AS DOUBLE)
         |      / CAST(len(sa.xsd) + len(sb.xsd) - len(list_intersect(sa.xsd, sb.xsd)) AS DOUBLE) AS jaccard
         |  FROM pairs p
         |  JOIN hxd sa ON sa.doc_id = p.doc_a
         |  JOIN hxd sb ON sb.doc_id = p.doc_b)
         |WHERE jaccard >= 0.35""".stripMargin) { (s, d) =>
      import graft.streaming.StreamDedup
      val dir = java.nio.file.Files.createTempDirectory("graft-q74").toString
      Tables.documents(s, d).where(col("doc_id") < 300)
        .select(col("doc_id"), col("text"),
          timestamp_micros(lit(1704067200000000L) + col("doc_id") * 1000000L).as("ts"))
        .write.mode("overwrite").parquet(dir)
      val stream = s.readStream.schema(s.read.parquet(dir).schema).parquet(dir)
      val out = StreamDedup.lshNearDupPairs(stream, "doc_id", "text", "ts",
        k = 8, bands = 4, threshold = 0.35,
        withinUs = 3600L * 1000000, watermark = "0 seconds")
      val q = out.select(col("doc_a"), col("doc_b"), col("jaccard"))
        .writeStream.outputMode("append").format("memory")
        .queryName("q74_stream_sink")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      s.table("q74_stream_sink")
    },

    // ---- 16-bit SimHash --------------------------------------------------
    QueryDef.sqlBacked(
      "q29_simhash",
      s"""SELECT doc_id,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    [CASE WHEN 2 * len(list_filter(hs, h -> (h // CAST(pow(2, j) AS BIGINT)) % 2 = 1)) > n
         |          THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END FOR j IN range(0, 16)]),
         |    (a, b) -> a + b) AS BIGINT) AS simhash
         |FROM (
         |  SELECT doc_id, len(toks) AS n,
         |    [${polySql("t", "len(t)")} % 65536 FOR t IN toks] AS hs
         |  FROM (SELECT doc_id, list_distinct(string_split_regex(lower(trim(text)), '\\s+')) AS toks
         |        FROM documents))""".stripMargin) { (s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"), Dedup.simhash16(col("text")).as("simhash"))
    },

    // ---- group-level mergeable MinHash sketch (single-pass agg) ---------
    QueryDef.sqlBacked(
      "q50_group_minhash",
      {
        val mins = (0 until 4).map(i =>
          s"CAST(min((${Dedup.aCoef(i)} * x + ${Dedup.bCoef(i)}) % $P) AS BIGINT) AS mh$i")
          .mkString(",\n  ")
        s"""SELECT source, $mins
           |FROM (
           |  SELECT source, unnest(list_distinct([${polySql("s", "len(s)")} FOR s IN shingles])) AS x
           |  FROM (SELECT source, $SHINGLES_SQL AS shingles FROM documents))
           |GROUP BY 1""".stripMargin
      }) { (s, d) =>
      // native TypedImperativeAggregate form (plain DataFrame groupBy;
      // the typed-Aggregator twin lives in operators.Sketches)
      Tables.documents(s, d)
        .select(col("source"), Dedup.shingleHashes(col("text")).as("xs"))
        .groupBy(col("source"))
        .agg(graft.plans.MinHashSketchAgg.minhashSketchCol(col("xs"), 4).as("sig"))
        .select(col("source"),
          element_at(col("sig"), 1).as("mh0"), element_at(col("sig"), 2).as("mh1"),
          element_at(col("sig"), 3).as("mh2"), element_at(col("sig"), 4).as("mh3"))
    },

    // ---- §2.11 stack/melt: wide signature -> long form ------------------
    QueryDef.sqlBacked(
      "q51_melt",
      s"""WITH $SIG_CTE
         |SELECT doc_id, mh_idx, mh_val FROM (
         |  SELECT doc_id, unnest(['mh0','mh1','mh2','mh3','mh4','mh5','mh6','mh7']) AS mh_idx,
         |         unnest([mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7]) AS mh_val
         |  FROM sig)""".stripMargin) { (s, d) =>
      Dedup.minhashSignatures(Tables.documents(s, d), "doc_id", "text", k = 8)
        .unpivot(Array(col("doc_id")),
          (0 until 8).map(i => col(s"mh$i")).toArray, "mh_idx", "mh_val")
    },

    // ---- brute-force cosine ANN top-k -----------------------------------
    QueryDef.sqlBacked(
      "q30_ann_topk",
      s"""WITH p AS (SELECT vec_id AS probe_id, embedding AS pv FROM embeddings WHERE vec_id < 20),
         |c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
         |scored AS (
         |  SELECT probe_id, neighbor_id,
         |    round(${dotSql("pv", "cv")}
         |      / (sqrt(${dotSql("pv", "pv")}) * sqrt(${dotSql("cv", "cv")})), 6) AS cos_sim
         |  FROM c CROSS JOIN p WHERE neighbor_id != probe_id)
         |SELECT probe_id, neighbor_id, rnk, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb.where(col("vec_id") < 20), emb, k = 5)
    },

    // ---- multi-probe LSH ANN (the scale path, oracle-backed) ------------
    // The probe side explodes over its radius-1 Hamming ball (xor with
    // 0,1,2,4,8); candidate generation is the bucket equi-join; exact
    // cosine rank within candidates. Every piece mirrors token-for-token.
    QueryDef.sqlBacked(
      "q62_lsh_ann",
      s"""WITH p0 AS (
         |  SELECT vec_id AS probe_id, embedding AS pv,
         |    ${bucketSql("embedding")} AS b0
         |  FROM embeddings WHERE vec_id < 20),
         |p AS (
         |  SELECT probe_id, pv, xor(b0, flip) AS bucket
         |  FROM p0 CROSS JOIN (SELECT unnest([0, 1, 2, 4, 8]) AS flip)),
         |c AS (
         |  SELECT vec_id AS neighbor_id, embedding AS cv,
         |    ${bucketSql("embedding")} AS bucket
         |  FROM embeddings),
         |scored AS (
         |  SELECT probe_id, neighbor_id,
         |    round(${dotSql("pv", "cv")}
         |      / (sqrt(${dotSql("pv", "pv")}) * sqrt(${dotSql("cv", "cv")})), 6) AS cos_sim
         |  FROM c JOIN p USING (bucket) WHERE neighbor_id != probe_id)
         |SELECT probe_id, neighbor_id, rnk, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb.where(col("vec_id") < 20), emb, k = 5,
        nPlanes = 4, dim = 64, probeRadius = 1)
    },

    // ---- IVF ANN with an explicit centroid index ------------------------
    // The inverted-file machinery (per-row argmin cell assign -> probe
    // nProbe-cell explode -> integer cell equi-join -> exact rerank) under
    // a formula-deterministic 8-cell index both engines generate
    // independently: cent(ci,j) = ((ci*31 + j*17) % 13 - 6)/6. d2 is the
    // same left-to-right fold in both dialects, ranked with (d2, cell)
    // tie-break, so cell assignment matches bit-for-bit. (The KMeans-fit
    // path shares this code; its recall floor is AnnRecallSpec.)
    QueryDef.sqlBacked(
      "q73_ivf_ann",
      s"""WITH cells AS (SELECT unnest(range(0, 8)) AS cell),
         |cd AS (
         |  SELECT vec_id, embedding, cell,
         |    list_reduce([(CAST(embedding[j] AS DOUBLE)
         |        - CAST((cell*31 + (j-1)*17) % 13 - 6 AS DOUBLE) / 6.0)
         |      * (CAST(embedding[j] AS DOUBLE)
         |        - CAST((cell*31 + (j-1)*17) % 13 - 6 AS DOUBLE) / 6.0)
         |      FOR j IN range(1, 65)], (x, y) -> x + y) AS d2
         |  FROM embeddings CROSS JOIN cells),
         |ranked AS (
         |  SELECT vec_id, embedding, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |  FROM cd),
         |assign AS (SELECT vec_id AS neighbor_id, embedding AS cv, cell
         |  FROM ranked WHERE rn = 1),
         |probes AS (SELECT vec_id AS probe_id, embedding AS pv, cell
         |  FROM ranked WHERE rn <= 2 AND vec_id < 20),
         |scored AS (
         |  SELECT probe_id, neighbor_id,
         |    round(${dotSql("pv", "cv")}
         |      / (sqrt(${dotSql("pv", "pv")}) * sqrt(${dotSql("cv", "cv")})), 6) AS cos_sim
         |  FROM assign JOIN probes USING (cell) WHERE neighbor_id != probe_id)
         |SELECT probe_id, neighbor_id, rnk, cos_sim FROM (
         |  SELECT *, row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, neighbor_id) AS rnk
         |  FROM scored)
         |WHERE rnk <= 5""".stripMargin) { (s, d) =>
      val cents = Seq.tabulate(8, 64)((ci, j) => ((ci * 31 + j * 17) % 13 - 6) / 6.0)
        .map(_.toSeq)
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopKWithCentroids(emb.where(col("vec_id") < 20), emb,
        k = 5, cents = cents, nProbe = 2)
    },

    // ---- SemDeDup: semantic dedup over embeddings ------------------------
    // The published semantic-dedup pipeline (Abbas et al. 2023): KMeans-
    // cell blocking (the q73 formula-deterministic 8-cell index), within-
    // cell cosine>=0.3 pairs, connected components, keep-one-per-group
    // with the paper's lowest-centroid-similarity representative rule.
    // The oracle replays every stage: the same (d2, cell) argmin
    // assignment, the same rounded folds, an independent recursive-CTE
    // closure for the groups, and the same (cent_sim, id) election — so
    // the hash proves blocking, grouping AND election end-to-end.
    QueryDef.sqlBacked(
      "q96_semdedup",
      s"""WITH RECURSIVE cells AS (SELECT unnest(range(0, 8)) AS cell),
         |cd AS (
         |  SELECT vec_id, embedding, cell,
         |    list_reduce([(CAST(embedding[j] AS DOUBLE)
         |        - CAST((cell*31 + (j-1)*17) % 13 - 6 AS DOUBLE) / 6.0)
         |      * (CAST(embedding[j] AS DOUBLE)
         |        - CAST((cell*31 + (j-1)*17) % 13 - 6 AS DOUBLE) / 6.0)
         |      FOR j IN range(1, 65)], (x, y) -> x + y) AS d2
         |  FROM embeddings CROSS JOIN cells),
         |assign AS (
         |  SELECT vec_id, embedding AS v, cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |    FROM cd)
         |  WHERE rn = 1),
         |cs AS (
         |  SELECT vec_id, cell,
         |    round(list_reduce([CAST(v[j] AS DOUBLE)
         |        * (CAST((cell*31 + (j-1)*17) % 13 - 6 AS DOUBLE) / 6.0)
         |        FOR j IN range(1, 65)], (x, y) -> x + y)
         |      / (sqrt(${dotSql("v", "v")})
         |         * sqrt(list_reduce([(CAST((cell*31 + (j-1)*17) % 13 - 6 AS DOUBLE) / 6.0)
         |             * (CAST((cell*31 + (j-1)*17) % 13 - 6 AS DOUBLE) / 6.0)
         |             FOR j IN range(1, 65)], (x, y) -> x + y))), 6) AS cent_sim
         |  FROM assign),
         |pairsq AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
         |  WHERE round(${dotSql("a.v", "b.v")}
         |    / (sqrt(${dotSql("a.v", "a.v")}) * sqrt(${dotSql("b.v", "b.v")})), 6) >= 0.3),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairsq
         |          UNION ALL SELECT id_b, id_a FROM pairsq),
         |reach(node, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         |compq AS (SELECT node, min(r) AS component FROM reach GROUP BY 1),
         |reps AS (
         |  SELECT component, node AS rep_id FROM (
         |    SELECT c.component, c.node,
         |      row_number() OVER (PARTITION BY c.component ORDER BY cs.cent_sim, c.node) AS rk
         |    FROM compq c JOIN cs ON cs.vec_id = c.node)
         |  WHERE rk = 1)
         |SELECT cs.vec_id, CAST(cs.cell AS BIGINT) AS cell, cs.cent_sim,
         |  coalesce(reps.rep_id, cs.vec_id) AS rep_id,
         |  CAST(CASE WHEN coalesce(reps.rep_id, cs.vec_id) = cs.vec_id THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM cs LEFT JOIN compq ON compq.node = cs.vec_id
         |LEFT JOIN reps ON reps.component = compq.component""".stripMargin) { (s, d) =>
      val cents = Seq.tabulate(8, 64)((ci, j) => ((ci * 31 + j * 17) % 13 - 6) / 6.0)
        .map(_.toSeq)
      Similarity.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        cents = cents, threshold = 0.3)
        .withColumnRenamed("id", "vec_id")
    },

    // ---- multimodal: batch image resize (nearest + bilinear) ------------
    // The pre-tensorization resize every vision pipeline runs, on the
    // q52 quantized 4x4 RGB tensors: nearest 2x downscale (pure index
    // picks) and bilinear 2x upscale (half-pixel centers, edge clamp,
    // fixed term order). Outputs are EXACT scaled integers — pixel
    // values are k/255 and the 2x bilinear weights are sixteenths, so
    // v*65280 is an integer both engines recover exactly (decimal
    // rounding at a fixed dp would tie-break differently on the
    // systematic .5 boundaries these rationals produce).
    QueryDef.sqlBacked(
      "q100_image_resize",
      """WITH px AS (
        |  SELECT vec_id,
        |    [floor(greatest(0.0, least(1.0, (CAST(v AS DOUBLE) + 1.0) / 2.0)) * 255) / 255.0
        |     FOR v IN embedding[1:48]] AS q
        |  FROM embeddings),
        |near AS (
        |  SELECT vec_id, 'near2' AS kind, CAST(idx AS BIGINT) AS idx,
        |    CAST(round(q[CAST((floor(floor(idx / 6) * 4 / 2) * 4
        |                  + floor(floor((idx % 6) / 3) * 4 / 2)) * 3
        |                 + (idx % 3) + 1 AS INT)] * 65280) AS BIGINT) AS v_scaled
        |  FROM px CROSS JOIN range(0, 12) r(idx)),
        |bi AS (
        |  SELECT vec_id, 'bi8' AS kind, CAST(idx AS BIGINT) AS idx,
        |    CAST(round(((1.0 - (fy - floor(fy))) * (1.0 - (fx - floor(fx)))
        |            * q[CAST((least(floor(fy), 3.0) * 4 + least(floor(fx), 3.0)) * 3 + (idx % 3) + 1 AS INT)]
        |        + (1.0 - (fy - floor(fy))) * (fx - floor(fx))
        |            * q[CAST((least(floor(fy), 3.0) * 4 + least(least(floor(fx), 3.0) + 1, 3.0)) * 3 + (idx % 3) + 1 AS INT)]
        |        + (fy - floor(fy)) * (1.0 - (fx - floor(fx)))
        |            * q[CAST((least(least(floor(fy), 3.0) + 1, 3.0) * 4 + least(floor(fx), 3.0)) * 3 + (idx % 3) + 1 AS INT)]
        |        + (fy - floor(fy)) * (fx - floor(fx))
        |            * q[CAST((least(least(floor(fy), 3.0) + 1, 3.0) * 4 + least(least(floor(fx), 3.0) + 1, 3.0)) * 3 + (idx % 3) + 1 AS INT)]) * 65280) AS BIGINT) AS v_scaled
        |  FROM (
        |    SELECT vec_id, q, idx,
        |      greatest(0.0, (floor(idx / 24) + 0.5) * 4 / 8 - 0.5) AS fy,
        |      greatest(0.0, (floor((idx % 24) / 3) + 0.5) * 4 / 8 - 0.5) AS fx
        |    FROM px CROSS JOIN range(0, 192) r(idx)))
        |SELECT * FROM near UNION ALL SELECT * FROM bi""".stripMargin) { (s, d) =>
      import graft.functions.ImageOps
      val q = expr("transform(slice(embedding, 1, 48), v -> " +
        "floor(greatest(0d, least(1d, (cast(v as double) + 1.0) / 2.0)) * 255) / 255.0)")
      val base = Tables.embeddings(s, d).select(col("vec_id"), q.as("q"))
      val near = base.select(col("vec_id"), lit("near2").as("kind"),
        posexplode(ImageOps.resizeRgbNearest(col("q"), 4, 4, 2, 2)).as(Seq("idx", "v")))
      val bi = base.select(col("vec_id"), lit("bi8").as("kind"),
        posexplode(ImageOps.resizeRgbBilinear(col("q"), 4, 4, 8, 8)).as(Seq("idx", "v")))
      near.unionByName(bi)
        .select(col("vec_id"), col("kind"), col("idx").cast("long").as("idx"),
          round(col("v") * 65280).cast("long").as("v_scaled"))
    },

    // ---- multimodal: video frame sampling --------------------------------
    // Temporal subsampling of a frame-stacked tensor (64-dim embeddings
    // read as 4 frames x 16 values): keep every 2nd frame, then
    // per-frame integer-scaled sums — so the hash proves the picks land
    // on exactly the right stripes of the stack.
    QueryDef.sqlBacked(
      "q101_frame_sample",
      """SELECT vec_id, CAST(fr AS BIGINT) AS frame,
        |  CAST(sum(CAST(round(CAST(embedding[fr*16 + j] AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_scaled,
        |  count(*) AS n
        |FROM embeddings
        |CROSS JOIN (SELECT unnest([0, 2]) AS fr)
        |CROSS JOIN range(1, 17) r(j)
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      import graft.functions.ImageOps
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          posexplode(ImageOps.frameSample(col("embedding"), 16, 2)).as(Seq("i", "v")))
        .groupBy(col("vec_id"),
          (floor(col("i").cast("double") / 16) * 2).cast("long").as("frame"))
        .agg(sum(round(col("v").cast("double") * 1000000).cast("long")).as("sum_scaled"),
          count(lit(1)).as("n"))
    },

    // ---- multimodal: audio binary columns (WAV round-trip -> features) ---
    // Audio synthesized from embeddings (first 48 vector elements
    // floor-quantized to int16), carried as real RIFF/WAV PCM16 bytes,
    // decoded back and feature-extracted (peak / energy / zero
    // crossings — all exact integer arithmetic). ORACLE-HASHED: the
    // codec is lossless, so DuckDB reproduces the post-decode features
    // analytically from the embeddings — proving the whole
    // quantize -> encode -> decode -> analyze chain value-exact (the
    // audio leg of the image/q52 pattern).
    QueryDef.sqlBacked(
      "q102_audio_features",
      """WITH s AS (
        |  SELECT vec_id,
        |    [CAST(floor(greatest(0.0, least(1.0, (CAST(v AS DOUBLE) + 1.0) / 2.0)) * 65535) AS BIGINT) - 32768
        |     FOR v IN embedding[1:48]] AS w
        |  FROM embeddings)
        |SELECT vec_id,
        |  CAST(16000 AS BIGINT) AS sample_rate,
        |  CAST(len(w) AS BIGINT) AS n_samples,
        |  CAST(list_max([abs(x) FOR x IN w]) AS BIGINT) AS peak,
        |  CAST(list_sum([x*x FOR x IN w]) AS BIGINT) AS energy,
        |  CAST(len([i FOR i IN range(1, len(w)) IF w[i] * w[i+1] < 0]) AS BIGINT) AS zero_crossings
        |FROM s""".stripMargin) { (s, d) =>
      import graft.functions.AudioOps
      Tables.embeddings(s, d)
        .select(col("vec_id"),
          AudioOps.quantizeI16(expr("slice(embedding, 1, 48)")).as("w"))
        .withColumn("wav", AudioOps.encodeWav(col("w"), lit(16000)))
        .withColumn("dec", AudioOps.decodeWav(col("wav")))
        .select(col("vec_id"),
          col("dec.sample_rate").cast("long").as("sample_rate"),
          size(col("dec.samples")).cast("long").as("n_samples"),
          graft.functions.AudioOps.peakAbs(col("dec.samples")).as("peak"),
          graft.functions.AudioOps.energy(col("dec.samples")).as("energy"),
          graft.functions.AudioOps.zeroCrossings(col("dec.samples")).as("zero_crossings"))
    },

    // ---- audio: linear resample + STFT-grid frame energies ---------------
    // Rate change 2->3 emitted scaled by outRate (pure integer
    // interpolation: v*3 = s[p0]*(3-rem) + s[p1]*rem), plus hop-strided
    // frame energies (len 16, hop 8) — both replayed token-for-token by
    // the oracle, every value an exact BIGINT.
    QueryDef.sqlBacked(
      "q103_audio_resample",
      """WITH s AS (
        |  SELECT vec_id,
        |    [CAST(floor(greatest(0.0, least(1.0, (CAST(v AS DOUBLE) + 1.0) / 2.0)) * 65535) AS BIGINT) - 32768
        |     FOR v IN embedding[1:48]] AS w
        |  FROM embeddings),
        |res AS (
        |  SELECT vec_id, 'res23' AS kind, CAST(idx AS BIGINT) AS idx,
        |    CAST(w[CAST(idx*2 // 3 AS INT) + 1] * (3 - idx*2 % 3)
        |      + w[least(CAST(idx*2 // 3 AS INT) + 2, len(w))] * (idx*2 % 3) AS BIGINT) AS v_scaled
        |  FROM s CROSS JOIN range(0, 71) r(idx)),
        |fen AS (
        |  SELECT vec_id, 'fen' AS kind, CAST(f AS BIGINT) AS idx,
        |    CAST(sum(w[CAST(f*8 + j AS INT)] * w[CAST(f*8 + j AS INT)]) AS BIGINT) AS v_scaled
        |  FROM s CROSS JOIN range(0, 5) rf(f) CROSS JOIN range(1, 17) rr(j)
        |  GROUP BY vec_id, f)
        |SELECT * FROM res UNION ALL SELECT * FROM fen""".stripMargin) { (s, d) =>
      import graft.functions.AudioOps
      val base = Tables.embeddings(s, d)
        .select(col("vec_id"),
          AudioOps.quantizeI16(expr("slice(embedding, 1, 48)")).as("w"))
      val res = base.select(col("vec_id"), lit("res23").as("kind"),
        posexplode(AudioOps.resampleLinearScaled(col("w"), 2, 3)).as(Seq("idx", "v_scaled")))
      val fen = base.select(col("vec_id"), lit("fen").as("kind"),
        posexplode(AudioOps.frameEnergy(col("w"), 16, 8)).as(Seq("idx", "v_scaled")))
      res.unionByName(fen)
        .select(col("vec_id"), col("kind"), col("idx").cast("long").as("idx"),
          col("v_scaled"))
    },

    // ---- exact-substring dedup: duplicated-span detection ----------------
    // The ExactSubstr side of Lee et al. 2021 (arXiv:2107.06499) at token
    // granularity: every 5-token span occurring >= 2 times in the corpus
    // is marked, overlapping/adjacent marks merge into maximal spans.
    // The oracle independently rebuilds the position-hash -> count ->
    // mark -> gaps-and-islands chain, so the hash proves span boundaries
    // exactly.
    QueryDef.sqlBacked(
      "q104_dup_spans",
      s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |gs AS (SELECT doc_id, i - 1 AS pos, ${polySql("g0", "len(g0)")} AS g FROM (
         |  SELECT doc_id, i, array_to_string(toks[i:i+4], ' ') AS g0
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i FROM t))),
         |cnt AS (SELECT g FROM gs GROUP BY g HAVING count(*) >= 2),
         |m AS (SELECT gs.doc_id, gs.pos FROM gs JOIN cnt USING (g)),
         |isl AS (SELECT doc_id, pos,
         |  CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 5 THEN 1 ELSE 0 END AS brk
         |  FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |isl2 AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM isl)
         |SELECT doc_id, CAST(island - 1 AS BIGINT) AS span_id,
         |  CAST(min(pos) AS BIGINT) AS s, CAST(max(pos) + 5 AS BIGINT) AS e
         |FROM isl2 GROUP BY doc_id, island""".stripMargin) { (s, d) =>
      Dedup.duplicatedNgramSpans(Tables.documents(s, d), "doc_id", "text", n = 5)
    },

    // ---- exact-substring dedup: span removal -----------------------------
    // The edit step: tokens inside any duplicated span drop, the survivors
    // re-join. clean_md5 pins the exact post-removal text cross-engine
    // (md5('') for fully-duplicated documents). This variant removes
    // EVERY occurrence; q125 is the keep-canonical variant (Lee et al.'s
    // retention policy).
    QueryDef.sqlBacked(
      "q105_span_removal",
      s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |gs AS (SELECT doc_id, i - 1 AS pos, ${polySql("g0", "len(g0)")} AS g FROM (
         |  SELECT doc_id, i, array_to_string(toks[i:i+4], ' ') AS g0
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i FROM t))),
         |cnt AS (SELECT g FROM gs GROUP BY g HAVING count(*) >= 2),
         |m AS (SELECT gs.doc_id, gs.pos FROM gs JOIN cnt USING (g)),
         |isl AS (SELECT doc_id, pos,
         |  CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 5 THEN 1 ELSE 0 END AS brk
         |  FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |isl2 AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM isl),
         |spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS s, CAST(max(pos) + 5 AS BIGINT) AS e
         |  FROM isl2 GROUP BY doc_id, island),
         |tok AS (SELECT doc_id, toks, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i FROM t),
         |kept AS (SELECT tok.doc_id, tok.tok, tok.i FROM tok WHERE NOT EXISTS
         |  (SELECT 1 FROM spans sp WHERE sp.doc_id = tok.doc_id AND tok.i - 1 >= sp.s AND tok.i - 1 < sp.e)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean FROM kept GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tok,
         |  CAST(coalesce((SELECT sum(sp.e - sp.s) FROM spans sp WHERE sp.doc_id = t.doc_id), 0) AS BIGINT) AS n_removed,
         |  md5(coalesce(agg.clean, '')) AS clean_md5
         |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin) { (s, d) =>
      Dedup.removeDuplicatedSpans(Tables.documents(s, d), "doc_id", "text", n = 5)
        .select(col("doc_id"), col("n_tok"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
    },

    // ---- exact-substring dedup: canonical-copy retention -----------------
    // Lee et al.'s retention policy: ONE occurrence of each duplicated
    // n-gram survives — the lexicographically lowest (doc_id, pos),
    // elected inside the counting aggregation; only the other
    // occurrences mark for removal. The oracle replays the election as a
    // two-step min (min doc, then min pos within it — identical to the
    // struct argmin) and the same islands/removal chain as q105.
    QueryDef.sqlBacked(
      "q125_span_keep_canonical",
      s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
         |gs AS (SELECT doc_id, i - 1 AS pos, ${polySql("g0", "len(g0)")} AS g FROM (
         |  SELECT doc_id, i, array_to_string(toks[i:i+4], ' ') AS g0
         |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i FROM t))),
         |dupg AS (SELECT g FROM gs GROUP BY g HAVING count(*) >= 2),
         |cd AS (SELECT gs.g, min(gs.doc_id) AS cdoc FROM gs JOIN dupg USING (g) GROUP BY gs.g),
         |cp AS (SELECT gs.g, cd.cdoc, min(gs.pos) AS cpos
         |  FROM gs JOIN cd ON cd.g = gs.g AND gs.doc_id = cd.cdoc GROUP BY gs.g, cd.cdoc),
         |m AS (SELECT gs.doc_id, gs.pos FROM gs JOIN cp ON cp.g = gs.g
         |  WHERE NOT (gs.doc_id = cp.cdoc AND gs.pos = cp.cpos)),
         |isl AS (SELECT doc_id, pos,
         |  CASE WHEN lag(pos) OVER w IS NULL OR pos > lag(pos) OVER w + 5 THEN 1 ELSE 0 END AS brk
         |  FROM m WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
         |isl2 AS (SELECT doc_id, pos, sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island FROM isl),
         |spans AS (SELECT doc_id, CAST(min(pos) AS BIGINT) AS s, CAST(max(pos) + 5 AS BIGINT) AS e
         |  FROM isl2 GROUP BY doc_id, island),
         |tok AS (SELECT doc_id, toks, unnest(toks) AS tok, generate_subscripts(toks, 1) AS i FROM t),
         |kept AS (SELECT tok.doc_id, tok.tok, tok.i FROM tok WHERE NOT EXISTS
         |  (SELECT 1 FROM spans sp WHERE sp.doc_id = tok.doc_id AND tok.i - 1 >= sp.s AND tok.i - 1 < sp.e)),
         |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS clean FROM kept GROUP BY 1)
         |SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tok,
         |  CAST(coalesce((SELECT sum(sp.e - sp.s) FROM spans sp WHERE sp.doc_id = t.doc_id), 0) AS BIGINT) AS n_removed,
         |  md5(coalesce(agg.clean, '')) AS clean_md5
         |FROM t LEFT JOIN agg USING (doc_id)""".stripMargin) { (s, d) =>
      Dedup.removeDuplicatedSpans(Tables.documents(s, d), "doc_id", "text",
        n = 5, keepCanonical = true)
        .select(col("doc_id"), col("n_tok"), col("n_removed"),
          md5(col("clean_text")).as("clean_md5"))
    },

    // ---- Bloom filter: mergeable membership sketch -----------------------
    // The membership complement to count-min (q77) and HLL (q80): token
    // 3-gram hashes of the train split (doc_id % 10 <> 0) populate a
    // 65536-bit / 4-hash filter; every corpus gram probes it. No false
    // negatives by construction; false positives at the classic rate —
    // and the oracle rebuilds bit set + every verdict exactly (same
    // (a_i*h + b_i) mod P slot family as CMS).
    QueryDef.sqlBacked(
      "q106_bloom",
      {
        val bitRows = (0 until 4).map(i =>
          s"SELECT khash, ((${Dedup.aCoef(i)} * khash + ${Dedup.bCoef(i)}) % $P) % 65536 AS bit FROM train")
          .mkString("\n    UNION ALL ")
        val probeRows = (0 until 4).map(i =>
          s"SELECT khash, ((${Dedup.aCoef(i)} * khash + ${Dedup.bCoef(i)}) % $P) % 65536 AS bit FROM probe")
          .mkString("\n    UNION ALL ")
        s"""WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks FROM documents),
           |gs AS (SELECT doc_id, ${polySql("g0", "len(g0)")} AS khash FROM (
           |  SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS g0
           |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i FROM t))),
           |train AS (SELECT DISTINCT khash FROM gs WHERE doc_id % 10 <> 0),
           |bits AS (SELECT DISTINCT bit FROM (
           |    $bitRows)),
           |probe AS (SELECT DISTINCT khash FROM gs),
           |pb AS (
           |    $probeRows),
           |mc AS (SELECT pb.khash,
           |  CAST(min(CASE WHEN bits.bit IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS might_contain
           |  FROM pb LEFT JOIN bits ON bits.bit = pb.bit GROUP BY 1)
           |SELECT mc.khash, mc.might_contain,
           |  CAST(CASE WHEN train.khash IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS in_train
           |FROM mc LEFT JOIN train ON train.khash = mc.khash""".stripMargin
      }) { (s, d) =>
      import graft.operators.Sketches
      val gs = Tables.documents(s, d).select(col("doc_id"),
        explode(TextAnalysis.tokenNgramHashes(col("text"), 3)).as("khash"))
      val train = gs.where(col("doc_id") % 10 =!= 0).select("khash").distinct()
      val bits = Sketches.bloomBits(train, "khash", k = 4, m = 65536)
      val probes = gs.select("khash").distinct()
      Sketches.bloomMightContain(bits, probes, "khash", k = 4, m = 65536)
        .join(train.withColumn("in_train", lit(1L)), Seq("khash"), "left")
        .select(col("khash"), col("might_contain"),
          coalesce(col("in_train"), lit(0L)).as("in_train"))
    },

    // ---- corpus mixing: deterministic stratified subsampling -------------
    // The source-reweighting step (SlimPajama/Pile proportions, DoReMi
    // domain weights): per-source target keep rates, decided by the
    // key-derived hash uniform — so the oracle replays every keep/drop
    // decision token-for-token, proving the sample is a pure function of
    // (seed, doc_id) and not of partitioning or shuffle order.
    QueryDef.sqlBacked(
      "q97_data_mixing",
      s"""SELECT doc_id, source, keep_rate,
         |  CAST(CASE WHEN u < keep_rate THEN 1 ELSE 0 END AS BIGINT) AS kept
         |FROM (
         |  SELECT doc_id, source,
         |    CAST(CASE source WHEN 'src0' THEN 0.9 WHEN 'src1' THEN 0.5
         |      WHEN 'src2' THEN 0.1 ELSE 0.25 END AS DOUBLE) AS keep_rate,
         |    ${huSql("'42|' || CAST(doc_id AS VARCHAR)")} AS u
         |  FROM documents)""".stripMargin) { (s, d) =>
      graft.operators.Mixing.sampleDecisions(Tables.documents(s, d),
        "doc_id", "source",
        rates = Seq("src0" -> 0.9, "src1" -> 0.5, "src2" -> 0.1),
        defaultRate = 0.25, seed = 42L)
        .select(col("doc_id"), col("source"), col("keep_rate"), col("kept"))
    },

    // ---- weighted sampling without replacement ---------------------------
    // Efraimidis-Spirakis priorities u^(1/w) (w = token count), top 20
    // per source — the one-pass distributed form of the weighted
    // reservoir. The oracle replays the hash uniform, the pow, the 12-dp
    // ranking round, and the (priority, doc_id) order token-for-token, so
    // the hash proves the exact sample membership AND ranks.
    QueryDef.sqlBacked(
      "q108_weighted_sample",
      s"""WITH w AS (SELECT doc_id, source,
         |    CAST(len(string_split_regex(lower(trim(text)), '\\s+')) AS DOUBLE) AS wt
         |  FROM documents),
         |p AS (SELECT doc_id, source,
         |    round(pow(${huSql("'42|' || CAST(doc_id AS VARCHAR)")}, 1.0 / wt), 12) AS priority_r12
         |  FROM w),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY source ORDER BY priority_r12 DESC, doc_id) AS BIGINT) AS rk FROM p)
         |SELECT doc_id, source, priority_r12, rk FROM r WHERE rk <= 20""".stripMargin) { (s, d) =>
      graft.operators.Mixing.weightedSample(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            TextAnalysis.tokenCount(col("text")).as("n_tok")),
        "doc_id", "source", "n_tok", k = 20, seed = 42L)
        .select(col("doc_id"), col("source"), col("priority_r12"), col("rk"))
    },

    // ---- HDR-histogram quantile sketch -----------------------------------
    // The quantile complement to CMS/HLL/Bloom: log-bucketed cells with
    // 7 significant bits (relative error <= 2^-6 ~ 1.6%) over price
    // cents, nearest-rank estimates from the bounded cell table. Pure
    // integer arithmetic (bin-length log2, shifted-1 division), so the
    // oracle replays cells AND estimates exactly.
    QueryDef.sqlBacked(
      "q109_hdr_quantiles",
      """WITH c AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v FROM lineitem),
        |cells AS (SELECT greatest(0, length(bin(v)) - 7) AS shift,
        |    v // (CAST(1 AS BIGINT) << greatest(0, length(bin(v)) - 7)) AS sub,
        |    count(*) AS cnt FROM c GROUP BY 1, 2),
        |lbs AS (SELECT (sub << CAST(shift AS INT)) AS lb, CAST(sum(cnt) AS BIGINT) AS cnt FROM cells GROUP BY 1),
        |cum AS (SELECT lb, cnt, sum(cnt) OVER (ORDER BY lb ROWS UNBOUNDED PRECEDING) AS cum FROM lbs),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM lbs),
        |qs AS (SELECT unnest([0.5, 0.9, 0.99, 1.0]) AS q)
        |SELECT q, CAST(min(lb) AS BIGINT) AS est, CAST(max(n) AS BIGINT) AS n
        |FROM cum CROSS JOIN tot CROSS JOIN qs
        |WHERE cum >= greatest(1, CAST(ceil(q * n) AS BIGINT))
        |GROUP BY q""".stripMargin) { (s, d) =>
      import graft.operators.Sketches
      val vals = Tables.lineitem(s, d)
        .select(round(col("l_extendedprice") * 100).cast("long").as("cents"))
      Sketches.hdrQuantiles(Sketches.hdrCells(vals, "cents", sBits = 7),
        Seq(0.5, 0.9, 0.99, 1.0))
    },

    // ---- token-window chunking (RAG / pretrain chunker) ------------------
    // Overlapping fixed-size token windows (size 16, overlap 4): the
    // document splitter every pretrain/RAG pipeline runs before
    // embedding or packing. Pure per-row explode; chunk text pinned by
    // md5 so the hash proves every boundary and every token.
    QueryDef.sqlBacked(
      "q110_token_chunks",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks FROM documents),
        |ch AS (SELECT doc_id, c, toks[c*12+1 : least(c*12+16, len(toks))] AS chunk
        |       FROM (SELECT doc_id, toks, unnest(range(0, CAST(ceil(len(toks)/12.0) AS INT))) AS c FROM t))
        |SELECT doc_id, CAST(c AS BIGINT) AS chunk_id, CAST(c*12 AS BIGINT) AS start_tok,
        |  CAST(len(chunk) AS BIGINT) AS n_tok, md5(array_to_string(chunk, ' ')) AS chunk_md5
        |FROM ch""".stripMargin) { (s, d) =>
      graft.operators.SequencePrep.chunkTokens(
        Tables.documents(s, d), "doc_id", "text", size = 16, overlap = 4)
        .select(col("doc_id"), col("chunk_id"), col("start_tok"), col("n_tok"),
          md5(col("chunk_text")).as("chunk_md5"))
    },

    // ---- contiguous sequence packing -------------------------------------
    // The GPT-style packed-stream step: per source shard, documents in
    // id order form one token stream cut into 256-token bins; each doc
    // gets (bin, offset, bins spanned) from a single per-shard prefix
    // sum — all integer arithmetic, replayed exactly.
    QueryDef.sqlBacked(
      "q111_seq_packing",
      """WITH w AS (SELECT doc_id, source, CAST(len(string_split_regex(lower(trim(text)), '\s+')) AS BIGINT) AS n_tok FROM documents),
        |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM w)
        |SELECT doc_id, source, n_tok, CAST((cum - n_tok) // 256 AS BIGINT) AS bin,
        |  CAST((cum - n_tok) % 256 AS BIGINT) AS offset,
        |  CAST((cum - 1) // 256 - (cum - n_tok) // 256 + 1 AS BIGINT) AS n_bins
        |FROM c""".stripMargin) { (s, d) =>
      graft.operators.SequencePrep.packSequences(
        Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            TextAnalysis.tokenCount(col("text")).as("n_tok")),
        "doc_id", "source", "n_tok", budget = 256)
    },

    // ---- integer PageRank (crawl-frontier ranking) -----------------------
    // The Common Crawl host-ranking step over a deterministic 1000-node
    // link graph (ring + event-derived chords, so every node has in- and
    // out-edges): 10 rounds of r' = base + sum(floor(r*85/(100*deg))).
    // Integer contributions make the sum order-independent, so the
    // DuckDB recursive-CTE replay matches bit-for-bit — float PageRank
    // could never cross the hash gate.
    QueryDef.sqlBacked(
      "q112_pagerank",
      """WITH edges AS (
        |  SELECT DISTINCT src, dst FROM (
        |    SELECT event_id % 1000 AS src, (event_id * 37) % 1000 AS dst FROM events
        |    UNION ALL
        |    SELECT i AS src, (i + 1) % 1000 AS dst FROM range(0, 1000) r(i))
        |  WHERE src <> dst),
        |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
        |pr AS (
        |  WITH RECURSIVE p(it, node, r) AS (
        |    SELECT 0, i, CAST(1000000000 AS BIGINT) FROM range(0, 1000) r(i)
        |    UNION ALL
        |    SELECT p.it + 1, e.dst,
        |      CAST(150000000 + sum(p.r * 85 // (100 * deg.deg)) AS BIGINT)
        |    FROM p JOIN deg ON deg.node = p.node JOIN edges e ON e.src = p.node
        |    WHERE p.it < 10
        |    GROUP BY 1, 2)
        |  SELECT node, r FROM p WHERE it = 10)
        |SELECT node, r AS rank FROM pr""".stripMargin) { (s, d) =>
      val chords = Tables.events(s, d)
        .select((col("event_id") % 1000).as("src"),
          ((col("event_id") * 37) % 1000).as("dst"))
      val ring = s.range(0, 1000)
        .select(col("id").as("src"), ((col("id") + 1) % 1000).as("dst"))
      graft.operators.Ranking.integerPageRank(
        chords.unionByName(ring), "src", "dst", iterations = 10)
    },

    // ---- URL canonicalization (crawl frontier dedup) ---------------------
    // The normalization every crawl pipeline runs before URL-level dedup
    // and host aggregation: lowercase scheme/host, default port dropped
    // (:8443 kept), fragment dropped, trailing path slashes stripped,
    // query params sorted. Messy URLs synthesized deterministically;
    // both engines canonicalize from the same split_part primitives, so
    // every byte hashes.
    QueryDef.sqlBacked(
      "q113_url_canon",
      """WITH raw AS (
        |  SELECT doc_id,
        |    'HtTpS://WwW.Site' || CAST(doc_id % 50 AS VARCHAR) || '.ExAmPle.' ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'CoM' ELSE 'OrG' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN ':443' WHEN doc_id % 4 = 1 THEN ':8443' ELSE '' END ||
        |    '/Path' || CAST(doc_id % 7 AS VARCHAR) ||
        |    CASE WHEN doc_id % 3 = 0 THEN '///' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN '?z=9&y=8&x=' || CAST(doc_id % 3 AS VARCHAR) ELSE '' END ||
        |    CASE WHEN doc_id % 2 = 1 THEN '#Frag' ELSE '' END AS u
        |  FROM documents),
        |parts AS (SELECT doc_id, split_part(u, '#', 1) AS fragless FROM raw),
        |p2 AS (SELECT doc_id, lower(split_part(fragless, '://', 1)) AS scheme,
        |    substr(fragless, length(split_part(fragless, '://', 1)) + 4) AS rest FROM parts),
        |p3 AS (SELECT doc_id, scheme, split_part(rest, '?', 1) AS preq,
        |    split_part(rest, '?', 2) AS q FROM p2),
        |p4 AS (SELECT doc_id, scheme, q, split_part(preq, '/', 1) AS hostport,
        |    substr(preq, length(split_part(preq, '/', 1)) + 1) AS raw_path FROM p3),
        |p5 AS (SELECT doc_id, scheme, q, raw_path,
        |    lower(split_part(hostport, ':', 1)) AS host,
        |    split_part(hostport, ':', 2) AS port FROM p4)
        |SELECT doc_id,
        |  scheme || '://' || host ||
        |  CASE WHEN port <> '' AND NOT (scheme = 'http' AND port = '80')
        |            AND NOT (scheme = 'https' AND port = '443')
        |       THEN ':' || port ELSE '' END ||
        |  CASE WHEN regexp_replace(raw_path, '/+$', '') = '' THEN '/'
        |       ELSE regexp_replace(raw_path, '/+$', '') END ||
        |  CASE WHEN q <> '' THEN '?' || array_to_string(list_sort(string_split(q, '&')), '&') ELSE '' END AS canonical,
        |  host,
        |  CASE WHEN len(string_split(host, '.')) >= 2
        |       THEN array_to_string(string_split(host, '.')[-2:], '.') ELSE host END AS domain
        |FROM p5""".stripMargin) { (s, d) =>
      import graft.functions.UrlOps
      val u = concat(
        lit("HtTpS://WwW.Site"), (col("doc_id") % 50).cast("string"), lit(".ExAmPle."),
        when(col("doc_id") % 2 === 0, "CoM").otherwise("OrG"),
        when(col("doc_id") % 4 === 0, ":443")
          .when(col("doc_id") % 4 === 1, ":8443").otherwise(""),
        lit("/Path"), (col("doc_id") % 7).cast("string"),
        when(col("doc_id") % 3 === 0, "///").otherwise(""),
        when(col("doc_id") % 5 === 0,
          concat(lit("?z=9&y=8&x="), (col("doc_id") % 3).cast("string"))).otherwise(""),
        when(col("doc_id") % 2 === 1, "#Frag").otherwise(""))
      Tables.documents(s, d).select(col("doc_id"), u.as("u"))
        .select(col("doc_id"),
          UrlOps.canonicalizeUrl(col("u")).as("canonical"),
          UrlOps.urlHost(col("u")).as("host"),
          UrlOps.registeredDomain(col("u")).as("domain"))
    },

    // ---- per-label centroids as exact scaled-integer sums ---------------
    QueryDef.sqlBacked(
      "q31_centroids",
      """SELECT label, dim, CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS BIGINT) AS sum_scaled,
        |       count(*) AS n
        |FROM (SELECT label, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS dim FROM embeddings)
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Similarity.centroidScaledSums(Tables.embeddings(s, d), "label", "embedding")
    },

    // ---- multimodal binary columns: encode -> decode -> features --------
    // Images synthesized from embeddings (4x4 RGB from the first 48
    // vector elements), carried as PNG bytes, decoded back and
    // feature-extracted. ORACLE-HASHED: PNG is lossless and the uint8
    // quantization is floor(clip(v)*255), so DuckDB reproduces the
    // post-decode channel means analytically from the embeddings — the
    // whole encode->binary-column->decode chain must be value-exact for
    // the hash to match. Only the raw PNG bytes themselves stay outside
    // the output (spec-covered round-trip).
    QueryDef.sqlBacked(
      "q52_multimodal",
      """WITH px AS (
        |  SELECT vec_id, label,
        |    [CAST(floor(greatest(0.0, least(1.0, (CAST(v AS DOUBLE) + 1.0) / 2.0)) * 255) AS BIGINT)
        |     FOR v IN embedding[1:48]] AS q
        |  FROM embeddings)
        |SELECT vec_id, label,
        |  list_reduce([CAST(q[j] AS DOUBLE) / 255.0 FOR j IN range(1, 49) IF (j-1) % 3 = 0],
        |    (x, y) -> x + y) / 16 AS mean_r,
        |  list_reduce([CAST(q[j] AS DOUBLE) / 255.0 FOR j IN range(1, 49) IF (j-1) % 3 = 1],
        |    (x, y) -> x + y) / 16 AS mean_g,
        |  list_reduce([CAST(q[j] AS DOUBLE) / 255.0 FOR j IN range(1, 49) IF (j-1) % 3 = 2],
        |    (x, y) -> x + y) / 16 AS mean_b,
        |  CAST(16 AS BIGINT) AS n_px
        |FROM px""".stripMargin) { (s, d) =>
      import graft.functions.ImageOps
      // 4x4 RGB = 48 values from the 64-dim embedding, squashed to [0,1]
      val rgb = expr("transform(slice(embedding, 1, 48), v -> " +
        "greatest(0d, least(1d, (cast(v as double) + 1.0) / 2.0)))")
      val imgs = Tables.embeddings(s, d)
        .withColumn("ny", lit(4)).withColumn("nx", lit(4))
        .withColumn("png", ImageOps.encodePng(rgb, col("ny"), col("nx")))
      ImageOps.imageFeatures(imgs, "png", "ny", "nx")
        .select(col("vec_id"), col("label"),
          col("mean_r"), col("mean_g"), col("mean_b"), col("n_px"))
    },

    // ---- embedding-cosine near-dup pairs (label-blocked) ----------------
    QueryDef.sqlBacked(
      "q32_cosine_neardup",
      s"""SELECT id_a, id_b, label, cos_sim FROM (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
         |    round(${dotSql("a.embedding", "b.embedding")}
         |      / (sqrt(${dotSql("a.embedding", "a.embedding")})
         |         * sqrt(${dotSql("b.embedding", "b.embedding")})), 6) AS cos_sim
         |  FROM embeddings a JOIN embeddings b
         |    ON a.label = b.label AND a.vec_id < b.vec_id)
         |WHERE cos_sim >= 0.3""".stripMargin) { (s, d) =>
      Similarity.cosineNearDupPairs(Tables.embeddings(s, d), "vec_id", "embedding",
        "label", threshold = 0.3)
    },

    // ---- near-dup clusters: connected components over pair edges --------
    // The dedup post-step (pairs -> canonical doc per cluster); the
    // oracle computes the same components by recursive-CTE transitive
    // closure + min, so the alt-star components are hash-verified
    // against an independent algorithm.
    QueryDef.sqlBacked(
      "q68_dedup_components",
      s"""WITH RECURSIVE pairsq AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |      round(${dotSql("a.embedding", "b.embedding")}
         |        / (sqrt(${dotSql("a.embedding", "a.embedding")})
         |           * sqrt(${dotSql("b.embedding", "b.embedding")})), 6) AS cos_sim
         |    FROM embeddings a JOIN embeddings b
         |      ON a.label = b.label AND a.vec_id < b.vec_id)
         |  WHERE cos_sim >= 0.3),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairsq
         |          UNION ALL SELECT id_b, id_a FROM pairsq),
         |reach(node, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r)
         |SELECT node, min(r) AS component FROM reach GROUP BY 1""".stripMargin) { (s, d) =>
      val pairs = Similarity.cosineNearDupPairs(Tables.embeddings(s, d),
        "vec_id", "embedding", "label", threshold = 0.3)
      Dedup.connectedComponentsAltStar(pairs, "id_a", "id_b")
    },

    // ---- corpus-overlap estimation from group sketches ------------------
    // The q50 sketch's actual USE: pairwise source-vs-source Jaccard
    // estimated as the matching fraction of the two k=8 group signatures
    // — the 100 TB shard-overlap shape (one sketch per shard, k longs
    // through the shuffle, O(#shards^2) tiny comparison at the end).
    QueryDef.sqlBacked(
      "q69_sketch_overlap",
      {
        val mins = (0 until 8).map(i =>
          s"CAST(min((${Dedup.aCoef(i)} * x + ${Dedup.bCoef(i)}) % $P) AS BIGINT) AS mh$i")
          .mkString(",\n  ")
        val matches = (0 until 8).map(i =>
          s"(CASE WHEN a.mh$i = b.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
        s"""WITH sigs AS (
           |  SELECT source, $mins
           |  FROM (
           |    SELECT source, unnest(list_distinct([${polySql("s", "len(s)")} FOR s IN shingles])) AS x
           |    FROM (SELECT source, $SHINGLES_SQL AS shingles FROM documents))
           |  GROUP BY 1)
           |SELECT a.source AS src_a, b.source AS src_b,
           |  CAST($matches AS DOUBLE) / 8 AS est_jaccard
           |FROM sigs a JOIN sigs b ON a.source < b.source""".stripMargin
      }) { (s, d) =>
      val sigs = Tables.documents(s, d)
        .select(col("source"), Dedup.shingleHashes(col("text")).as("xs"))
        .groupBy(col("source"))
        .agg(graft.plans.MinHashSketchAgg.minhashSketchCol(col("xs"), 8).as("sig"))
      val a = sigs.select(col("source").as("src_a"), col("sig").as("sig_a"))
      val b = sigs.select(col("source").as("src_b"), col("sig").as("sig_b"))
      a.join(b, col("src_a") < col("src_b"))
        .select(col("src_a"), col("src_b"),
          (aggregate(
            zip_with(col("sig_a"), col("sig_b"),
              (x, y) => when(x === y, 1L).otherwise(0L)),
            lit(0L), (acc, v) => acc + v).cast("double") / 8).as("est_jaccard"))
    },

    // ---- the canonical quality-filter pipeline --------------------------
    // Compose the text suite the way a training-data run would: keep
    // English docs with sane token counts and quality >= 0.5, report
    // per-source retention. Every predicate is a per-row deterministic
    // chain already hash-proven in q23/q24, so the filtered aggregate
    // hashes too.
    QueryDef.sqlBacked(
      "q70_quality_filter",
      {
        val hitCols = TextAnalysis.LangMarkers.map { case (lang, ms) =>
          val list = ms.map(m => s"'$m'").mkString(", ")
          s"len(list_filter(toks, t -> t IN ($list))) AS h_$lang"
        }.mkString(",\n    ")
        val langs = TextAnalysis.LangMarkers.map(_._1)
        val best = s"greatest(${langs.map("h_" + _).mkString(", ")})"
        val cases = langs.map(l => s"WHEN h_$l = $best AND h_$l > 0 THEN '$l'").mkString(" ")
        s"""SELECT source, count(*) AS n_kept, CAST(sum(n_tok) AS BIGINT) AS sum_tok,
           |  min(doc_id) AS first_doc
           |FROM (
           |  SELECT source, doc_id, len(toks) AS n_tok,
           |    CASE $cases ELSE 'und' END AS guessed,
           |    CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and', 'is'))) AS DOUBLE)
           |      / CAST(len(toks) AS DOUBLE) * 0.4
           |    + CAST(len(regexp_extract_all(lower(trim(text)), '[a-z]')) AS DOUBLE)
           |      / CAST(length(lower(trim(text))) AS DOUBLE) * 0.4
           |    + (CASE WHEN length(text) >= 100 AND length(text) <= 10000 THEN 1.0 ELSE 0.0 END) * 0.2
           |      AS quality
           |  FROM (
           |    SELECT source, doc_id, text, $hitCols, toks
           |    FROM (SELECT source, doc_id, text,
           |            string_split_regex(lower(trim(text)), '\\s+') AS toks
           |          FROM documents)))
           |WHERE guessed = 'en' AND n_tok BETWEEN 20 AND 2000 AND quality >= 0.5
           |GROUP BY 1""".stripMargin
      }) { (s, d) =>
      val doc = Tables.documents(s, d)
      doc.select(col("source"), col("doc_id"), col("text"),
          TextAnalysis.tokenCount(col("text")).cast("long").as("n_tok"),
          TextAnalysis.langGuess(TextAnalysis.tokens(col("text"))).as("guessed"),
          TextAnalysis.qualityScore(col("text")).as("quality"))
        .where(col("guessed") === "en"
          && col("n_tok").between(20, 2000) && col("quality") >= 0.5)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("sum_tok"),
          min(col("doc_id")).as("first_doc"))
    },

    // ---- alternating-star components under the SAME oracle as q68 -------
    // The O(log n)-round large-star/small-star variant (the extreme-scale
    // CC path) must produce label-for-label the labels the recursive-CTE
    // closure derives — proven here in the driver's hash gate, not just
    // by the AltStarSpec equivalence property.
    QueryDef.sqlBacked(
      "q75_altstar_components",
      s"""WITH RECURSIVE pairsq AS (
         |  SELECT id_a, id_b FROM (
         |    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |      round(${dotSql("a.embedding", "b.embedding")}
         |        / (sqrt(${dotSql("a.embedding", "a.embedding")})
         |           * sqrt(${dotSql("b.embedding", "b.embedding")})), 6) AS cos_sim
         |    FROM embeddings a JOIN embeddings b
         |      ON a.label = b.label AND a.vec_id < b.vec_id)
         |  WHERE cos_sim >= 0.3),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairsq
         |          UNION ALL SELECT id_b, id_a FROM pairsq),
         |reach(node, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT reach.node, e.dst FROM reach JOIN edges e ON e.src = reach.r)
         |SELECT node, min(r) AS component FROM reach GROUP BY 1""".stripMargin) { (s, d) =>
      val pairs = Similarity.cosineNearDupPairs(Tables.embeddings(s, d),
        "vec_id", "embedding", "label", threshold = 0.3)
      Dedup.connectedComponentsAltStar(pairs, "id_a", "id_b")
    },

    // ---- chunked tensor representation, gate-proven ---------------------
    // The bounded-row raster form (TensorOps.longToChunkedTensor): a
    // 100x80 events-seeded scene chunked at 32 -> chunk keys, ragged edge
    // dims on BOTH axes, and an order-independent integer checksum that
    // DuckDB reproduces from the long form directly. Hash match = the
    // chunk keying/local-coordinate math is exact, not just spec'd.
    QueryDef.sqlBacked(
      "q76_chunked_tensor",
      """SELECT g.gid // 80 // 32 AS chunk_j, g.gid % 80 // 32 AS chunk_i,
        |  CAST(max(g.gid // 80 % 32) + 1 AS INTEGER) AS cny,
        |  CAST(max(g.gid % 80 % 32) + 1 AS INTEGER) AS cnx,
        |  CAST(count(*) AS BIGINT) AS n_px,
        |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)
        |       * (1 + g.gid // 80 % 32 * 37 + g.gid % 80 % 32 * 101)) AS BIGINT) AS checksum
        |FROM range(0, 8000) g(gid) JOIN events e ON e.event_id = (g.gid * 131 + 7) % 1000
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      import graft.operators.TensorOps
      val px = s.range(8000).select(
        lit("s").as("scene_id"),
        expr("CAST(id div 80 AS INT)").as("y"),
        expr("CAST(id % 80 AS INT)").as("x"),
        col("id").as("gid"))
        .join(Tables.events(s, d).select(col("event_id"), col("value")),
          expr("(gid * 131 + 7) % 1000") === col("event_id"))
        .select(col("scene_id"), col("y"), col("x"), col("value"))
      val chunked = TensorOps.longToChunkedTensor(px, chunk = 32)
      // checksum weights each pixel by its chunk-local (ly, lx) so the
      // hash proves the within-chunk row-major ordering, not just content
      chunked.select(col("chunk_j"), col("chunk_i"), col("cny"), col("cnx"),
          posexplode(col("values")).as(Seq("pos", "v")))
        .groupBy(col("chunk_j"), col("chunk_i"))
        .agg(max(col("cny")).as("cny"), max(col("cnx")).as("cnx"),
          count(lit(1)).as("n_px"),
          sum(round(col("v") * 100).cast("long")
            * (lit(1) + expr("pos div cnx") * 37 + pmod(col("pos"), col("cnx")) * 101)).as("checksum"))
    },

    // ---- count-min frequency sketch, gate-proven ------------------------
    // The frequency complement to the q50/q69 MinHash sketches: token
    // heavy-hitter estimation where the whole corpus reduces to a 4x512
    // integer cell table (mergeable: union of shards = cell-wise sum).
    // The oracle rebuilds the ENTIRE sketch with the same hash schedule
    // and compares per-probe estimates against true counts — exact
    // integer arithmetic end to end, and est >= true_cnt by construction.
    QueryDef.sqlBacked(
      "q77_countmin",
      {
        val rows = (0 until 4).map(i =>
          s"SELECT ${i} AS row, ((${Dedup.aCoef(i)} * khash + ${Dedup.bCoef(i)}) % $P) % 512 AS slot, khash FROM th")
          .mkString("\n    UNION ALL ")
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
           |  FROM documents),
           |th AS (SELECT doc_id, ${polySql("tok", "len(tok)")} AS khash FROM toks),
           |expl AS (
           |    $rows),
           |cms AS (SELECT row, slot, count(*) AS cnt FROM expl GROUP BY 1, 2),
           |probe AS (SELECT DISTINCT khash FROM th WHERE doc_id < 5),
           |pexpl AS (
           |  SELECT p.khash, e.row, e.slot FROM probe p JOIN (
           |    SELECT DISTINCT row, slot, khash FROM expl) e ON e.khash = p.khash),
           |est AS (
           |  SELECT px2.khash, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS est
           |  FROM pexpl px2 LEFT JOIN cms c ON c.row = px2.row AND c.slot = px2.slot
           |  GROUP BY 1),
           |truec AS (SELECT khash, count(*) AS true_cnt FROM th GROUP BY 1)
           |SELECT est.khash, est.est, truec.true_cnt
           |FROM est JOIN truec ON truec.khash = est.khash""".stripMargin
      }) { (s, d) =>
      import graft.operators.Sketches
      val th = Tables.documents(s, d).select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), TextAnalysis.polyHash(col("tok")).as("khash"))
      val sketch = Sketches.countMinSketch(th, "khash", depth = 4, width = 512)
      val probes = th.where(col("doc_id") < 5).select("khash").distinct()
      val est = Sketches.cmsEstimate(sketch, probes, "khash", depth = 4, width = 512)
      val truec = th.groupBy(col("khash")).agg(count(lit(1)).as("true_cnt"))
      est.join(truec, "khash").select(col("khash"), col("est"), col("true_cnt"))
    },

    // ---- Gopher-style repetition quality signals ------------------------
    // The public repetition-filter family (Rae et al. 2021 §A1.1):
    // duplicate-token fraction and top-token dominance per document —
    // int/int ratios, exact across engines without rounding.
    QueryDef.sqlBacked(
      "q78_repetition",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents),
        |pt AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tok, count(*) AS n_distinct,
        |  CAST(max(cnt) AS BIGINT) AS top_cnt,
        |  1.0 - CAST(count(*) AS DOUBLE) / CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE) AS dup_frac,
        |  CAST(CAST(max(cnt) AS BIGINT) AS DOUBLE) / CAST(CAST(sum(cnt) AS BIGINT) AS DOUBLE) AS top_frac
        |FROM pt GROUP BY 1""".stripMargin) { (s, d) =>
      TextAnalysis.repetitionMetrics(Tables.documents(s, d), "doc_id", "text")
    },

    // ---- TF-IDF top terms per document ----------------------------------
    // tf = raw in-doc count, idf = ln(N/df); vocabulary-sized df table
    // broadcast back onto term counts; ranking uses the 6-dp-rounded
    // score with the token HASH as tie-break (see tfidfTopTerms).
    QueryDef.sqlBacked(
      "q79_tfidf",
      s"""WITH toks AS (
         |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |  FROM documents),
         |pt AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
         |dfq AS (SELECT tok, count(*) AS df FROM pt GROUP BY 1),
         |nq AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, tok,
         |    round(CAST(tf AS DOUBLE) * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS score_r6,
         |    ${polySql("tok", "len(tok)")} AS th
         |  FROM pt JOIN dfq USING (tok) CROSS JOIN nq)
         |SELECT doc_id, rnk, tok, score_r6 FROM (
         |  SELECT doc_id, tok, score_r6,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY score_r6 DESC, th) AS rnk
         |  FROM scored)
         |WHERE rnk <= 3""".stripMargin) { (s, d) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, d), "doc_id", "text", k = 3)
    },

    // ---- HyperLogLog cardinality sketch, gate-proven --------------------
    // The third sketch class (cardinality, next to MinHash overlap and
    // count-min frequency): per-source distinct-token estimation from 64
    // integer registers. The oracle rebuilds the registers exactly
    // (minimal-width bin() length = floor(log2)+1 in both engines) and
    // the 2^-rho power sum is exact dyadic arithmetic, so only the final
    // estimate needs 6-dp rounding.
    QueryDef.sqlBacked(
      "q80_hll",
      s"""WITH toks AS (
         |  SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
         |  FROM documents),
         |th AS (SELECT source, tok, ${polySql("tok", "len(tok)")} AS khash FROM toks),
         |regs AS (
         |  SELECT source, khash % 64 AS reg,
         |    CASE WHEN (khash // 64) % 16777216 = 0 THEN 25
         |         ELSE 24 - length(bin((khash // 64) % 16777216)) + 1 END AS rho
         |  FROM th),
         |r2 AS (SELECT source, reg, max(rho) AS maxrho FROM regs GROUP BY 1, 2),
         |agg AS (
         |  SELECT source, sum(1.0 / CAST(1 << maxrho AS DOUBLE)) AS sp,
         |    count(*) AS npresent
         |  FROM r2 GROUP BY 1),
         |fin AS (
         |  SELECT source, CAST(64 AS BIGINT) - npresent AS v0,
         |    0.709 * 64 * 64 / (sp + CAST(CAST(64 AS BIGINT) - npresent AS DOUBLE)) AS raw
         |  FROM agg),
         |truthq AS (SELECT source, count(DISTINCT tok) AS true_distinct FROM toks GROUP BY 1)
         |SELECT fin.source, fin.v0,
         |  round(CASE WHEN raw <= 160.0 AND v0 > 0
         |             THEN 64.0 * ln(64.0 / CAST(v0 AS DOUBLE)) ELSE raw END, 6) AS hll_est_r6,
         |  truthq.true_distinct
         |FROM fin JOIN truthq ON truthq.source = fin.source""".stripMargin) { (s, d) =>
      import graft.operators.Sketches
      val toks = Tables.documents(s, d).select(col("source"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val th = toks.select(col("source"), TextAnalysis.polyHash(col("tok")).as("khash"))
      val regs = Sketches.hllRegisters(th, "khash", Seq("source"), p = 6)
      val est = Sketches.hllEstimate(regs, Seq("source"), p = 6)
        .select(col("source"), col("v0"), round(col("hll_est"), 6).as("hll_est_r6"))
      val truth = toks.groupBy(col("source"))
        .agg(countDistinct(col("tok")).as("true_distinct"))
      est.join(truth, "source")
        .select(col("source"), col("v0"), col("hll_est_r6"), col("true_distinct"))
    },

    // ---- gzipped-JSONL corpus ingest ------------------------------------
    // The de-facto LLM corpus interchange format: one JSON document per
    // line, gzip whole-file compression. The query WRITES a .jsonl.gz
    // fixture (RFC 8259 escaping, deterministic order) from the documents
    // slice, ingests it through spark.read.json's transparent gzip codec,
    // and the oracle reads the SAME file with DuckDB's read_json — so the
    // decompress+parse chain of both engines must agree on every field
    // (text compared via md5 to pin exact string identity).
    QueryDef.sqlBacked(
      "q81_jsonl_gz",
      s"""SELECT doc_id, source, CAST(length(text) AS BIGINT) AS text_len, md5(text) AS text_md5
        |FROM read_json('$q81FixturePath',
        |  format='newline_delimited', compression='gzip',
        |  columns={doc_id: 'BIGINT', source: 'VARCHAR', text: 'VARCHAR'})""".stripMargin) { (s, d) =>
      val docs = Tables.documents(s, d)
        .where(col("doc_id") < 200)
        .select(col("doc_id"), col("source"), col("text"))
        .orderBy(col("doc_id"))
        .collect() // bounded fixture slice (200 rows), not a data path
      def jstr(v: String): String = "\"" + v.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
      val gz = new java.util.zip.GZIPOutputStream(
        java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(q81FixturePath)))
      docs.foreach { r =>
        val line = s"""{"doc_id": ${r.getLong(0)}, "source": ${jstr(r.getString(1))}, "text": ${jstr(r.getString(2))}}\n"""
        gz.write(line.getBytes("UTF-8"))
      }
      gz.close()
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("source", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
      s.read.schema(schema).json(q81FixturePath)
        .select(col("doc_id"), col("source"),
          length(col("text")).cast("long").as("text_len"), md5(col("text")).as("text_md5"))
    },

    // ---- multinomial Naive Bayes source classifier ----------------------
    // fastText-style quality/domain filter's closed-form cousin: train on
    // the q18 hash split, Laplace-smoothed over the train vocab, score all
    // docs, argmax class with (rounded-ll desc, label asc) tie order. Both
    // engines sum cnt·(ln(tcnt+1) − ln(ctoks+V)) with identical expression
    // shapes; 6-dp rounding absorbs the sum-order ulp.
    QueryDef.sqlBacked(
      "q137_nb_classifier",
      """WITH base AS (
        |  SELECT doc_id, source AS label_true,
        |    string_split_regex(lower(trim(text)), '\s+') AS toks,
        |    ((doc_id % 97) * 2654435761 % 97 < 78) AS is_train
        |  FROM documents),
        |tok AS (SELECT doc_id, label_true, is_train, unnest(toks) AS tok FROM base),
        |model AS (SELECT label_true AS label, tok, count(*) AS tcnt
        |          FROM tok WHERE is_train GROUP BY 1, 2),
        |cdocs AS (SELECT label_true AS label, count(*) AS cdocs
        |          FROM base WHERE is_train GROUP BY 1),
        |ctoks AS (SELECT label_true AS label, count(*) AS ctoks
        |          FROM tok WHERE is_train GROUP BY 1),
        |consts AS (SELECT (SELECT count(DISTINCT tok) FROM tok WHERE is_train) AS v,
        |                  (SELECT count(*) FROM base WHERE is_train) AS n_train),
        |cs AS (SELECT cdocs.label, cdocs, coalesce(ctoks, 0) AS ctoks, v, n_train
        |       FROM cdocs LEFT JOIN ctoks ON ctoks.label = cdocs.label
        |       CROSS JOIN consts),
        |vocab AS (SELECT DISTINCT tok FROM tok WHERE is_train),
        |perdoc AS (SELECT doc_id, tok, count(*) AS cnt FROM tok GROUP BY 1, 2),
        |terms AS (
        |  SELECT pd.doc_id, cs.label, CAST(sum(pd.cnt) AS BIGINT) AS n_tok,
        |    sum(CAST(pd.cnt AS DOUBLE)
        |      * (ln(CAST(coalesce(m.tcnt, 0) + 1 AS DOUBLE))
        |        - ln(CAST(cs.ctoks + cs.v AS DOUBLE)))) AS tsum
        |  FROM perdoc pd
        |  JOIN vocab USING (tok)
        |  CROSS JOIN cs
        |  LEFT JOIN model m ON m.label = cs.label AND m.tok = pd.tok
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT b.doc_id, b.label_true, cs.label,
        |    round(ln(CAST(cs.cdocs AS DOUBLE)) - ln(CAST(cs.n_train AS DOUBLE))
        |      + coalesce(t.tsum, 0.0), 6) AS ll,
        |    CAST(coalesce(t.n_tok, 0) AS BIGINT) AS n_tok_invocab
        |  FROM base b CROSS JOIN cs
        |  LEFT JOIN terms t ON t.doc_id = b.doc_id AND t.label = cs.label)
        |SELECT doc_id, label_true, label AS label_pred, ll, n_tok_invocab,
        |  CAST(CASE WHEN label = label_true THEN 1 ELSE 0 END AS BIGINT) AS correct
        |FROM (SELECT *, row_number() OVER (
        |  PARTITION BY doc_id ORDER BY ll DESC, label) AS rnk FROM scored)
        |WHERE rnk = 1""".stripMargin) { (s, d) =>
      TextAnalysis.naiveBayesClassify(Tables.documents(s, d), "doc_id", "text",
        "source", pmod(col("doc_id"), lit(97)) * 2654435761L % 97 < 78)
    },

    // ---- content-defined chunking + chunk-level dedup -------------------
    // Rolling-window CDC (LBFS lineage): boundaries where the trailing
    // 8-char window's Σ ord·31^k hash ≡ 0 mod 64. A shared boilerplate
    // prefix is planted on every doc, so leading chunks dedup corpus-wide
    // and the content-anchored realignment (CDC's point vs fixed blocks)
    // is exercised; the window-hash SQL is generated from the same
    // exponent constants the Spark expression compiles.
    QueryDef.sqlBacked(
      "q143_cdc_chunks",
      s"""WITH t AS (
         |  SELECT doc_id,
         |    regexp_replace(lower(trim('$CdcBoiler ' || text)),
         |                   '[^\\x20-\\x7e]', ' ', 'g') AS s
         |  FROM documents),
         |pos AS (SELECT doc_id, s, unnest(range(8, length(s)+1)) AS i
         |        FROM t WHERE length(s) >= 8),
         |b AS (SELECT doc_id, i FROM pos WHERE ($cdcWinHashSql) % 64 = 0),
         |bl AS (SELECT t.doc_id, s,
         |    list_concat(list_concat([0], coalesce(bb.l, [])), [length(s)]) AS bounds
         |  FROM t LEFT JOIN (SELECT doc_id, list(i ORDER BY i) AS l
         |                    FROM b GROUP BY 1) bb ON bb.doc_id = t.doc_id),
         |ch AS (SELECT doc_id, unnest(cl) AS chunk,
         |    CAST(unnest(range(1, len(cl)+1)) AS BIGINT) AS idx
         |  FROM (SELECT doc_id,
         |      list_filter(
         |        [substr(s, bounds[j]+1, bounds[j+1]-bounds[j])
         |          FOR j IN range(1, len(bounds))],
         |        c -> length(c) > 0) AS cl
         |    FROM bl)),
         |hx AS (SELECT doc_id, idx, md5(chunk) AS h FROM ch),
         |dc AS (SELECT h, count(*) AS cnt FROM hx GROUP BY 1)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup_chunks,
         |  md5(string_agg(h, '' ORDER BY idx)) AS chunks_fp
         |FROM hx JOIN dc USING (h)
         |GROUP BY 1""".stripMargin) { (s, d) =>
      Dedup.cdcChunkStats(
        Tables.documents(s, d).select(col("doc_id"),
          concat(lit(CdcBoiler), lit(" "), col("text")).as("synth")),
        "doc_id", "synth")
    },

    // ---- temperature-based language rebalancing -------------------------
    // mT5-style alpha-sampling at alpha=0.5 (sqrt — correctly-rounded IEEE
    // in both engines; see Mixing.temperatureSample). The oracle ranks with
    // a single global-per-lang row_number; the Spark side computes the SAME
    // rank two-phase (range-bucketed + cumulative offsets) so no stratum
    // funnels through one window partition at scale.
    QueryDef.sqlBacked(
      "q138_temperature_sampling",
      """WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_docs) AS BIGINT) AS n_total,
        |        sum(sqrt(CAST(n_docs AS DOUBLE))) AS w_tot FROM counts),
        |targets AS (SELECT lang,
        |  CAST(floor(floor(CAST(n_total AS DOUBLE) * 0.25)
        |    * round(sqrt(CAST(n_docs AS DOUBLE)) / w_tot, 6) + 0.5) AS BIGINT)
        |    AS n_target
        |  FROM counts CROSS JOIN tot),
        |r AS (SELECT doc_id, lang, row_number() OVER (
        |  PARTITION BY lang ORDER BY (doc_id % 1000003) * 2654435761 % 1000003, doc_id) AS rnk
        |  FROM documents)
        |SELECT r.doc_id, r.lang, CAST(rnk AS BIGINT) AS rnk,
        |  CAST(CASE WHEN rnk <= n_target THEN 1 ELSE 0 END AS BIGINT) AS selected,
        |  n_target
        |FROM r JOIN targets ON targets.lang = r.lang""".stripMargin) { (s, d) =>
      graft.operators.Mixing.temperatureSample(
        Tables.documents(s, d), "doc_id", "lang", sampleFrac = 0.25)
    },

    // ---- SFT sample assembly (chat template + loss spans) ---------------
    // Instruction-data prep: documents fold into synthetic 4-turn
    // conversations (user/assistant alternating by doc_id), rendered
    // through the ChatML-style template with [start, end) character
    // offsets over assistant CONTENT — the loss-mask contract. The
    // oracle replays the render as an ordered string_agg and the
    // offsets as a window cumsum, so the hash pins template bytes AND
    // offset arithmetic. One window + one groupBy, both keyed on
    // conv_id; no UDFs (SftAssembly).
    QueryDef.sqlBacked(
      "q189_sft_chat_template",
      """WITH turns AS (
        |  SELECT doc_id // 4 AS conv_id, doc_id % 4 AS turn_idx,
        |    CASE WHEN doc_id % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
        |    text
        |  FROM documents),
        |r AS (
        |  SELECT conv_id, turn_idx, role, text,
        |    '<|im_start|>' || role || chr(10) || text || '<|im_end|>' || chr(10)
        |      AS rendered,
        |    12 + length(role) + 1 AS hlen, length(text) AS clen
        |  FROM turns),
        |w AS (
        |  SELECT *, COALESCE(SUM(length(rendered)) OVER (
        |    PARTITION BY conv_id ORDER BY turn_idx
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM r)
        |SELECT CAST(conv_id AS BIGINT) AS conv_id,
        |  count(*) AS n_turns,
        |  md5(string_agg(rendered, '' ORDER BY turn_idx)) AS conv_md5,
        |  COALESCE(string_agg(CASE WHEN role = 'assistant'
        |    THEN (off + hlen) || '-' || (off + hlen + clen) END,
        |    ',' ORDER BY turn_idx), '') AS spans,
        |  CAST(sum(CASE WHEN role = 'assistant' THEN clen ELSE 0 END)
        |    AS BIGINT) AS loss_chars
        |FROM w GROUP BY conv_id""".stripMargin) { (s, d) =>
      val turns = Tables.documents(s, d).select(
        expr("doc_id div 4").as("conv_id"),
        expr("doc_id % 4").as("turn_idx"),
        when(col("doc_id") % 2 === 0, "user").otherwise("assistant").as("role"),
        col("text").as("content"))
      graft.operators.SftAssembly.renderChatML(turns)
        .select(col("conv_id"), col("n_turns"),
          md5(col("text").cast("binary")).as("conv_md5"),
          concat_ws(",", expr(
            "transform(spans, s -> concat(s.start, '-', s.end))")).as("spans"),
          col("loss_chars"))
    }
  )
}
