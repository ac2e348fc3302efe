package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Similarity, Sq8}
import org.apache.spark.sql.functions._

/** Compressed / coarse-to-fine retrieval queries over `embeddings`:
  * the SQ8 corpus fit + encode (q160), asymmetric top-k search against
  * the u8 codes (q161), and matryoshka prefix-dim coarse search with
  * full-dim rerank (q165). Unlike PQ's formula-deterministic codebook,
  * the SQ8 model is TRAINED in-query (per-dimension min/max —
  * order-independent, exact in any engine), so the oracle recomputes
  * the identical model from the same parquet and replays the identical
  * affine-floor encode. */
object Sq8Queries {

  private val Dim = 64

  /** Fold-form dot product over dims 1..n (matches Similarity.dot and its
    * test reference `HofForms.dotHof` token-for-token). */
  private def dotN(a: String, b: String, n: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"[CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE) FOR i IN range(1, ${n + 1})]), " +
      s"(x, y) -> x + y)"

  /** Shared CTEs: the min/max model and the per-vector code array,
    * token-matched to Sq8.fitMinMax/encode. */
  private val CODES_CTE: String =
    s"""stats AS (
       |  SELECT j, min(CAST(embedding[j] AS DOUBLE)) AS mn,
       |    max(CAST(embedding[j] AS DOUBLE)) AS mx
       |  FROM embeddings, range(1, ${Dim + 1}) t(j) GROUP BY j),
       |mdl AS (SELECT list(mn ORDER BY j) AS vmins,
       |  list(mx ORDER BY j) AS vmaxs FROM stats),
       |codes AS (
       |  SELECT vec_id,
       |    [ CAST(least(greatest(floor(CASE WHEN vmaxs[j] = vmins[j] THEN 0.0
       |        ELSE (CAST(embedding[j] AS DOUBLE) - vmins[j]) * 255.0
       |          / (vmaxs[j] - vmins[j]) END + 0.5),
       |        CAST(0 AS DOUBLE)), CAST(255 AS DOUBLE)) AS BIGINT)
       |      FOR j IN range(1, ${Dim + 1})] AS codes
       |  FROM embeddings, mdl)""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ---- SQ8 fit + encode ----------------------------------------------
    // 64-dim float -> 64 u8 codes, pinned in position by the
    // order-dependent poly-hash fingerprint.
    QueryDef.sqlBacked(
      "q160_sq8_encode",
      s"""WITH $CODES_CTE
         |SELECT vec_id,
         |  list_reduce(list_prepend(CAST(7 AS BIGINT), codes),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS code_fp,
         |  list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
         |    (a, b) -> a + b) AS code_sum
         |FROM codes""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val m = Sq8.fitMinMax(emb, "embedding", Dim)
      Sq8.encodeDf(emb, "vec_id", "embedding", m)
    },

    // ---- SQ8 asymmetric top-k ------------------------------------------
    // Float probes (vec_id % 101) against the coded corpus: squared-L2
    // with in-fold dequantization, ranked by (micro-scaled d2, id).
    QueryDef.sqlBacked(
      "q161_sq8_adc_topk",
      s"""WITH $CODES_CTE,
         |probes AS (
         |  SELECT vec_id AS probe_id,
         |    [ CAST(embedding[j] AS DOUBLE) FOR j IN range(1, ${Dim + 1})] AS qv
         |  FROM embeddings WHERE vec_id % 101 = 0),
         |scored AS (
         |  SELECT probe_id, c.vec_id AS nid,
         |    CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      [ (qv[j] - (vmins[j] + codes[j] * (vmaxs[j] - vmins[j]) / 255.0))
         |        * (qv[j] - (vmins[j] + codes[j] * (vmaxs[j] - vmins[j]) / 255.0))
         |        FOR j IN range(1, ${Dim + 1})]),
         |      (a, b) -> a + b) * 1e6) AS BIGINT) AS d_u
         |  FROM codes c, mdl, probes WHERE c.vec_id != probe_id)
         |SELECT probe_id,
         |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY d_u, nid)
         |    AS BIGINT) AS rnk,
         |  nid AS neighbor_id, d_u
         |FROM scored QUALIFY rnk <= 10""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val m = Sq8.fitMinMax(emb, "embedding", Dim)
      Sq8.adcTopK(emb, emb.where(col("vec_id") % 101 === 0), m, k = 10)
    },

    // ---- IVF-SQ8: coarse cells + u8 codes ------------------------------
    // The production compressed-ANN composition: the q73-pattern coarse
    // quantizer (formula-deterministic 8-cell index; production = a
    // KMeansLloyd fit) blocks the corpus, vectors store as the q160 u8
    // codes, probes search their 2 nearest cells with the dequantizing
    // distance. The oracle replays assignment, model, codes, the cell
    // equi-join, and the fold — hash-pinning the whole index.
    QueryDef.sqlBacked(
      "q169_ivf_sq8",
      s"""WITH $CODES_CTE,
         |cells AS (SELECT unnest(range(0, 8)) AS cell),
         |cd AS (
         |  SELECT vec_id, cell,
         |    list_reduce([(CAST(embedding[j] AS DOUBLE)
         |        - CAST((cell*41 + (j-1)*13) % 13 - 6 AS DOUBLE) / 6.0)
         |      * (CAST(embedding[j] AS DOUBLE)
         |        - CAST((cell*41 + (j-1)*13) % 13 - 6 AS DOUBLE) / 6.0)
         |      FOR j IN range(1, ${Dim + 1})], (x, y) -> x + y) AS d2
         |  FROM embeddings CROSS JOIN cells),
         |ranked AS (
         |  SELECT vec_id, cell,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY d2, cell) AS rn
         |  FROM cd),
         |assign AS (SELECT vec_id AS nid, cell FROM ranked WHERE rn = 1),
         |pr AS (SELECT vec_id AS probe_id, cell FROM ranked
         |  WHERE rn <= 2 AND vec_id % 89 = 0),
         |pq AS (SELECT vec_id AS probe_id,
         |  [ CAST(embedding[j] AS DOUBLE) FOR j IN range(1, ${Dim + 1})] AS qv
         |  FROM embeddings WHERE vec_id % 89 = 0),
         |scored AS (
         |  SELECT p.probe_id, a.nid, a.cell,
         |    CAST(round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
         |      [ (qv[j] - (vmins[j] + codes[j] * (vmaxs[j] - vmins[j]) / 255.0))
         |        * (qv[j] - (vmins[j] + codes[j] * (vmaxs[j] - vmins[j]) / 255.0))
         |        FOR j IN range(1, ${Dim + 1})]),
         |      (x, y) -> x + y) * 1e6) AS BIGINT) AS d_u
         |  FROM assign a
         |  JOIN pr p USING (cell)
         |  JOIN pq USING (probe_id)
         |  JOIN codes c ON c.vec_id = a.nid
         |  CROSS JOIN mdl
         |  WHERE a.nid != p.probe_id)
         |SELECT probe_id,
         |  CAST(row_number() OVER (PARTITION BY probe_id ORDER BY d_u, nid)
         |    AS BIGINT) AS rnk,
         |  nid AS neighbor_id, d_u, CAST(cell AS BIGINT) AS cell
         |FROM scored QUALIFY rnk <= 10""".stripMargin) { (s, d) =>
      val cents = Seq.tabulate(8, Dim)((c, j) => ((c * 41 + j * 13) % 13 - 6) / 6.0)
        .map(_.toSeq)
      val emb = Tables.embeddings(s, d)
      val m = Sq8.fitMinMax(emb, "embedding", Dim)
      Sq8.ivfAdcTopK(emb, emb.where(col("vec_id") % 89 === 0), m, cents,
        nProbe = 2, k = 10)
    },

    // ---- matryoshka prefix-dim rerank ----------------------------------
    // Coarse cosine on the first 16 dims (1/4 of the bytes) keeps 40
    // candidates per probe; full-64-dim exact cosine reranks them to a
    // top-10. coarse_rnk in the output exposes every reordering the
    // cheap pass got wrong — the hash pins both stages.
    QueryDef.sqlBacked(
      "q165_mrl_rerank",
      s"""WITH p AS (
         |  SELECT vec_id AS probe_id, embedding AS pv
         |  FROM embeddings WHERE vec_id % 103 = 0),
         |coarse AS (
         |  SELECT probe_id, e.vec_id AS nid, e.embedding AS cv, pv,
         |    round(${dotN("pv", "cv", 16)}
         |      / (sqrt(${dotN("pv", "pv", 16)}) * sqrt(${dotN("cv", "cv", 16)})), 6)
         |      AS coarse_sim
         |  FROM embeddings e, p WHERE e.vec_id != probe_id),
         |surv AS (
         |  SELECT * FROM (
         |    SELECT *, row_number() OVER (PARTITION BY probe_id
         |      ORDER BY coarse_sim DESC, nid) AS crnk
         |    FROM coarse)
         |  WHERE crnk <= 40),
         |rr AS (
         |  SELECT probe_id, nid, crnk,
         |    round(${dotN("pv", "cv", Dim)}
         |      / (sqrt(${dotN("pv", "pv", Dim)}) * sqrt(${dotN("cv", "cv", Dim)})), 6)
         |      AS cos_sim
         |  FROM surv)
         |SELECT probe_id,
         |  CAST(row_number() OVER (PARTITION BY probe_id
         |    ORDER BY cos_sim DESC, nid) AS BIGINT) AS rnk,
         |  nid AS neighbor_id, cos_sim, CAST(crnk AS BIGINT) AS coarse_rnk
         |FROM rr QUALIFY rnk <= 10""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      Similarity.prefixRerank(emb.where(col("vec_id") % 103 === 0), emb,
        k = 10, prefixDim = 16, coarseK = 40)
    })
}
