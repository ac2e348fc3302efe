package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.{HtmlOps, TextAnalysis}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Corpus-curation rule sets over `documents`: the C4 line/page cleaning
  * family (Raffel et al. 2020, §2.2) and the Gopher document-quality
  * thresholds (Rae et al. 2021, Appendix A1.1) — the two published filter
  * stacks a crawl-derived pretraining pipeline runs between text
  * extraction and dedup.
  *
  * The corpus's documents are single-line word soup, so each query first
  * builds a deterministic multi-line view (8-word pseudo-lines with
  * formula-chosen decorations) token-identically in both engines — the
  * same synthesize-then-verify pattern q93 (PII) and q99 (WARC) use. All
  * rule math is integer (cross-multiplied ratios); the only division is
  * one floor(int/int) both engines evaluate with the same IEEE ops.
  *
  * Everything here is a pure per-row projection — no shuffle, no UDF —
  * so at 100 TB the filters run at scan speed (plan-asserted).
  */
object CurationQueries {

  /** Spark side of the shared 8-word pseudo-line builder: line i carries
    * a (doc_id + i) % 7 suffix cycling through C4-relevant shapes. */
  private def c4Lines(toks: Column, docId: Column): Column =
    transform(
      sequence(lit(0L), floor((size(toks) - lit(1)) / lit(8)).cast("long")),
      i => concat(
        array_join(slice(toks, (i * 8 + 1).cast("int"), lit(8)), " "),
        when((docId + i) % 7 === 0, ".")
          .when((docId + i) % 7 === 1, "!")
          .when((docId + i) % 7 === 2, " javascript.")
          .when((docId + i) % 7 === 3, "")
          .when((docId + i) % 7 === 4, "?")
          .when((docId + i) % 7 === 5, ".\"")
          .otherwise(",")))

  private val C4_LINES_SQL =
    """[
      |      array_to_string(toks[(i*8+1):(i*8+8)], ' ') ||
      |      CASE (doc_id + i) % 7
      |        WHEN 0 THEN '.' WHEN 1 THEN '!' WHEN 2 THEN ' javascript.'
      |        WHEN 3 THEN '' WHEN 4 THEN '?' WHEN 5 THEN '."' ELSE ',' END
      |      FOR i IN range(0, CAST(floor((len(toks)-1)/8) AS BIGINT) + 1)
      |    ]""".stripMargin

  def defs: Seq[QueryDef] = Seq(

    // ---- C4 cleaning ----------------------------------------------------
    // Line gate: terminal punctuation + >= 3 words + no "javascript".
    // Page gate: >= 5 surviving lines, no lorem ipsum, no curly brace.
    // doc_id % 13 docs get a lorem-ipsum line, % 17 docs a braced code
    // line (line-level survivor, page-level poison) so every branch of
    // both gates fires. clean_md5 pins the exact retained text.
    QueryDef.sqlBacked(
      "q114_c4_clean",
      s"""SELECT doc_id,
         |  CAST(len(ls2) AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  CAST(CASE WHEN len(kept) >= 5
         |      AND NOT contains(array_to_string(ls2, chr(10)), 'lorem ipsum')
         |      AND NOT contains(array_to_string(ls2, chr(10)), '{')
         |    THEN 1 ELSE 0 END AS BIGINT) AS page_keep,
         |  md5(coalesce(array_to_string(kept, chr(10)), '')) AS clean_md5
         |FROM (
         |  SELECT doc_id, ls2,
         |    list_filter(ls2, l -> regexp_matches(l, '[.!?"]$$')
         |      AND len(string_split(l, ' ')) >= 3
         |      AND NOT contains(l, 'javascript')) AS kept
         |  FROM (
         |    SELECT doc_id,
         |      CASE WHEN doc_id % 17 = 0
         |        THEN list_append(ls1, 'function f() { return 1; }.')
         |        ELSE ls1 END AS ls2
         |    FROM (
         |      SELECT doc_id,
         |        CASE WHEN doc_id % 13 = 0
         |          THEN list_append(ls0, 'lorem ipsum dolor sit amet.')
         |          ELSE ls0 END AS ls1
         |      FROM (
         |        SELECT doc_id, $C4_LINES_SQL AS ls0
         |        FROM (SELECT doc_id, string_split(text, ' ') AS toks
         |              FROM documents)))))""".stripMargin) { (s, d) =>
      val toks = split(col("text"), " ")
      val ls0 = c4Lines(toks, col("doc_id"))
      val ls1 = when(col("doc_id") % 13 === 0,
        concat(ls0, array(lit("lorem ipsum dolor sit amet.")))).otherwise(ls0)
      val ls2 = when(col("doc_id") % 17 === 0,
        concat(ls1, array(lit("function f() { return 1; }.")))).otherwise(ls1)
      Tables.documents(s, d)
        .select(col("doc_id"), ls2.as("ls2"))
        .select(col("doc_id"), col("ls2"),
          TextAnalysis.c4KeptLines(col("ls2")).as("kept"))
        .select(col("doc_id"),
          size(col("ls2")).cast("long").as("n_lines"),
          size(col("kept")).cast("long").as("n_kept"),
          TextAnalysis.c4PageKeep(col("ls2"), size(col("kept")))
            .cast("int").cast("long").as("page_keep"),
          md5(array_join(col("kept"), "\n").cast("binary")).as("clean_md5"))
    },

    // ---- Gopher quality rules -------------------------------------------
    // Word rules over the (poisoned) token list, line-shape rules over the
    // pseudo-lines. Poisons: % 23 docs gain 9 numeric words (alpha-ratio
    // rule), % 19 docs gain #/... symbol words (symbol-ratio rule), % 29
    // docs bullet every line, % 31 docs ellipsis-end half their lines.
    QueryDef.sqlBacked(
      "q115_gopher_rules",
      s"""SELECT doc_id, n_words, mw_c, n_sym, n_alpha, n_stop,
         |  n_lines, n_bullet, n_ell,
         |  CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
         |    AND mw_c >= 300 AND mw_c <= 1000
         |    AND n_sym * 10 <= n_words
         |    AND n_alpha * 5 >= n_words * 4
         |    AND n_stop >= 2
         |    AND n_bullet * 10 < n_lines * 9
         |    AND n_ell * 10 <= n_lines * 3
         |    THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM (
         |  SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_words,
         |    CAST(floor((list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        [CAST(len(w) AS BIGINT) FOR w IN toks]), (a, b) -> a + b)
         |      * 100) / len(toks)) AS BIGINT) AS mw_c,
         |    CAST(len(list_filter(toks, w -> w = '#' OR w = '...'))
         |      AS BIGINT) AS n_sym,
         |    CAST(len(list_filter(toks, w -> regexp_matches(w, '[a-z]')))
         |      AS BIGINT) AS n_alpha,
         |    CAST(${TextAnalysis.GopherStops.map(sw =>
               s"CAST(list_contains(toks, '$sw') AS INT)").mkString(" + ")}
         |      AS BIGINT) AS n_stop,
         |    CAST(len(ls) AS BIGINT) AS n_lines,
         |    CAST(len(list_filter(ls, l -> starts_with(l, '- ')))
         |      AS BIGINT) AS n_bullet,
         |    CAST(len(list_filter(ls, l -> ends_with(l, '...')))
         |      AS BIGINT) AS n_ell
         |  FROM (
         |    SELECT doc_id, toks, [
         |      CASE WHEN doc_id % 29 = 0 OR (doc_id + i) % 11 = 0
         |        THEN '- ' ELSE '' END ||
         |      array_to_string(toks[(i*8+1):(i*8+8)], ' ') ||
         |      CASE WHEN (doc_id % 31 = 0 AND i % 2 = 0) OR (doc_id + i) % 9 = 0
         |        THEN '...' ELSE '' END
         |      FOR i IN range(0, CAST(floor((len(toks)-1)/8) AS BIGINT) + 1)
         |    ] AS ls
         |    FROM (
         |      SELECT doc_id,
         |        CASE WHEN doc_id % 19 = 0
         |          THEN list_concat(t1, ['#', '#', '...']) ELSE t1 END AS toks
         |      FROM (
         |        SELECT doc_id,
         |          CASE WHEN doc_id % 23 = 0
         |            THEN list_concat(t0, ['101','202','303','404','505',
         |                                  '606','707','808','909'])
         |            ELSE t0 END AS t1
         |        FROM (SELECT doc_id, string_split(text, ' ') AS t0
         |              FROM documents)))))""".stripMargin) { (s, d) =>
      val t0 = split(col("text"), " ")
      val t1 = when(col("doc_id") % 23 === 0,
        concat(t0, array(Seq("101", "202", "303", "404", "505", "606",
          "707", "808", "909").map(lit): _*))).otherwise(t0)
      val toksC = when(col("doc_id") % 19 === 0,
        concat(t1, array(lit("#"), lit("#"), lit("...")))).otherwise(t1)
      val docs = Tables.documents(s, d)
        .select(col("doc_id"), toksC.as("toks"))
      val ls = transform(
        sequence(lit(0L),
          floor((size(col("toks")) - lit(1)) / lit(8)).cast("long")),
        i => concat(
          when(col("doc_id") % 29 === 0 || (col("doc_id") + i) % 11 === 0,
            "- ").otherwise(""),
          array_join(slice(col("toks"), (i * 8 + 1).cast("int"), lit(8)), " "),
          when((col("doc_id") % 31 === 0 && i % 2 === 0) ||
            (col("doc_id") + i) % 9 === 0, "...").otherwise("")))
      val withCounts = docs
        .select(col("doc_id"), col("toks"), ls.as("ls"))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          floor(aggregate(col("toks"), lit(0L),
            (a, w) => a + length(w).cast("long")) * 100 / size(col("toks")))
            .cast("long").as("mw_c"),
          TextAnalysis.gopherSymbolWords(col("toks")).cast("long").as("n_sym"),
          TextAnalysis.gopherAlphaWords(col("toks")).cast("long").as("n_alpha"),
          TextAnalysis.gopherStopHits(col("toks")).cast("long").as("n_stop"),
          size(col("ls")).cast("long").as("n_lines"),
          size(filter(col("ls"), l => l.startsWith("- ")))
            .cast("long").as("n_bullet"),
          size(filter(col("ls"), l => l.endsWith("...")))
            .cast("long").as("n_ell"))
      withCounts.select(col("doc_id"), col("n_words"), col("mw_c"),
        col("n_sym"), col("n_alpha"), col("n_stop"), col("n_lines"),
        col("n_bullet"), col("n_ell"),
        TextAnalysis.gopherKeep(col("n_words"), col("mw_c"), col("n_sym"),
          col("n_alpha"), col("n_stop"), col("n_lines"), col("n_bullet"),
          col("n_ell")).cast("int").cast("long").as("keep"))
    },

    // ---- HTML text extraction -------------------------------------------
    // The WARC→text step: each doc is wrapped in deterministic HTML (two
    // script blocks — non-greedy matters — a style block, title, nav
    // links), then extracted back. Verifies title pull, link count, and
    // the exact visible text.
    QueryDef.sqlBacked(
      "q119_html_extract",
      s"""SELECT doc_id,
         |  regexp_extract(h, '${HtmlOps.TitleRe}', 1) AS title,
         |  CAST(len(regexp_extract_all(h, '<a[ >]')) AS BIGINT) AS n_links,
         |  md5(trim(regexp_replace(
         |    regexp_replace(
         |      regexp_replace(
         |        regexp_replace(h, '${HtmlOps.ScriptRe}', ' ', 'g'),
         |        '${HtmlOps.StyleRe}', ' ', 'g'),
         |      '${HtmlOps.TagRe}', ' ', 'g'),
         |    ' +', ' ', 'g'))) AS text_md5
         |FROM (
         |  SELECT doc_id,
         |    '<html><head><title>doc ' || CAST(doc_id AS VARCHAR) ||
         |    '</title><script>var x = ' || CAST(doc_id % 7 AS VARCHAR) ||
         |    ';</script><style>p { color: red; }</style></head><body><h1>Doc '
         |    || CAST(doc_id AS VARCHAR) || '</h1><p>' || text ||
         |    '</p><script>t(' || CAST(doc_id AS VARCHAR) ||
         |    ');</script><div class="nav"><a href="/">home</a> ' ||
         |    '<a href="/x">about</a></div></body></html>' AS h
         |  FROM documents)""".stripMargin) { (s, d) =>
      val h = concat(
        lit("<html><head><title>doc "), col("doc_id").cast("string"),
        lit("</title><script>var x = "), (col("doc_id") % 7).cast("string"),
        lit(";</script><style>p { color: red; }</style></head><body><h1>Doc "),
        col("doc_id").cast("string"), lit("</h1><p>"), col("text"),
        lit("</p><script>t("), col("doc_id").cast("string"),
        lit(");</script><div class=\"nav\"><a href=\"/\">home</a> "),
        lit("<a href=\"/x\">about</a></div></body></html>"))
      Tables.documents(s, d)
        .select(col("doc_id"), h.as("h"))
        .select(col("doc_id"),
          HtmlOps.title(col("h")).as("title"),
          HtmlOps.linkCount(col("h")).cast("long").as("n_links"),
          md5(HtmlOps.extractText(col("h")).cast("binary")).as("text_md5"))
    },

    // ---- BPE merge-candidate statistics ---------------------------------
    // The tokenizer-training primitive: global adjacent-character-pair
    // frequencies (space-crossing pairs excluded), top 30 by (count,
    // pair) — one explode + one map-side-combinable count.
    QueryDef.sqlBacked(
      "q120_bpe_pairs",
      """SELECT CAST(row_number() OVER (ORDER BY cnt DESC, pair) AS BIGINT)
        |    AS rnk, pair, cnt
        |FROM (
        |  SELECT pair, CAST(count(*) AS BIGINT) AS cnt
        |  FROM (
        |    SELECT unnest([substr(text, i, 2) FOR i IN range(1, len(text))])
        |      AS pair
        |    FROM documents)
        |  WHERE NOT contains(pair, ' ')
        |  GROUP BY pair)
        |QUALIFY rnk <= 30""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val pairs = Tables.documents(s, d)
        .select(explode(transform(
          sequence(lit(1), length(col("text")) - 1),
          i => col("text").substr(i, lit(2)))).as("pair"))
        .where(!col("pair").contains(" "))
      val counted = pairs.groupBy("pair").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("cnt").desc, col("pair"))
      // rank filter on the RAW row_number (cast after): Spark's
      // WindowGroupLimit pushdown then bounds the global window to 30
      // rows per upstream partition — the cast in between defeated it
      counted.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 30)
        .select(col("rnk").cast("long").as("rnk"), col("pair"), col("cnt"))
    },

    // ---- CCNet perplexity bucketing -------------------------------------
    // The CCNet head/middle/tail split: per-language terciles of the
    // unigram-LM score (q95's nll), deterministic (nll, doc_id) order.
    QueryDef.sqlBacked(
      "q121_ppl_buckets",
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+'))
        |    AS tok
        |  FROM documents),
        |pd AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY 1, 2),
        |vocab AS (SELECT tok, count(*) AS vcnt FROM toks GROUP BY 1),
        |tot AS (SELECT CAST(sum(vcnt) AS BIGINT) AS total FROM vocab),
        |sc AS (
        |  SELECT pd.doc_id,
        |    round(sum(pd.cnt * (ln(CAST(total AS DOUBLE))
        |        - ln(CAST(vcnt AS DOUBLE)))) / sum(pd.cnt), 6) AS nll
        |  FROM pd JOIN vocab ON vocab.tok = pd.tok CROSS JOIN tot
        |  GROUP BY 1)
        |SELECT sc.doc_id, d.lang, sc.nll,
        |  CAST(ntile(3) OVER (PARTITION BY d.lang ORDER BY sc.nll, sc.doc_id)
        |    AS BIGINT) AS bucket
        |FROM sc JOIN documents d ON d.doc_id = sc.doc_id""".stripMargin) {
      (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val sc = TextAnalysis.unigramLmScores(docs, "doc_id", "text")
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("nll"), col("doc_id"))
      sc.join(docs.select(col("doc_id"), col("lang")), "doc_id")
        .withColumn("bucket", ntile(3).over(w).cast("long"))
        .select(col("doc_id"), col("lang"), col("nll"), col("bucket"))
    },

    // ---- BPE trainer loop -----------------------------------------------
    // The tokenizer-TRAINING loop connecting q120's pair stats to q122's
    // merge application (Sennrich et al. 2016): 10 rounds of
    // occurrence-weighted pair counting over the distinct-word vocab,
    // argmax with the (count DESC, l, r) tie-break, merge applied as the
    // double boundary-anchored replace. The oracle unrolls the identical
    // 10 rounds as chained CTEs (DuckDB's plain replace() is the same
    // leftmost-non-overlapping algorithm); the Spark side is the
    // distributed BpeTrainer whose per-round state on the driver is ONE
    // row (the argmax). A hash match proves the whole iterative loop —
    // counts, tie-breaks, merge rewrites — value-for-value.
    QueryDef.sqlBacked("q124_bpe_train", bpeTrainOracleSql(10,
      """unnest(string_split_regex(lower(trim(text)), '\s+'))""",
      """' ' || trim(regexp_replace(tok, '(.)', '\1 ', 'g')) || ' '""")) { (s, d) =>
      import s.implicits._
      graft.operators.BpeTrainer
        .learnMerges(Tables.documents(s, d), "text", nMerges = 10)
        .map(m => (m.rnk, m.l, m.r, m.pcnt))
        .toDF("rnk", "l", "r", "pcnt")
    },

    // ---- byte-level BPE trainer (GPT-2 recipe) --------------------------
    // Pre-tokens from the lookahead-free GPT-2-style regex (the leading
    // space rides the token); initial symbols = UTF-8 bytes through the
    // GPT-2 alphabet. For this ASCII corpus every byte is its own char,
    // so the oracle's per-char split with ' '->'Ġ' IS the byte split
    // (q130 proves the multi-byte path). The oracle replays the same
    // regex under RE2 and the same 10-round argmax/merge chain.
    QueryDef.sqlBacked("q128_bpe_byte_train", bpeTrainOracleSql(10,
      """unnest(regexp_extract_all(lower(text), ' ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+'))""",
      """' ' || trim(regexp_replace(replace(tok, ' ', 'Ġ'), '(.)', '\1 ', 'g')) || ' '""")) { (s, d) =>
      import s.implicits._
      graft.operators.BpeTrainer
        .learnByteMerges(Tables.documents(s, d), "text", nMerges = 10)
        .map(m => (m.rnk, m.l, m.r, m.pcnt))
        .toDF("rnk", "l", "r", "pcnt")
    },

    // ---- byte-level BPE with TRUE UTF-8 byte fallback (q130) ------------
    // The q128 trainer over a corpus slice DECORATED with multi-byte
    // UTF-8 (2-byte accents, 3-byte CJK, a 4-byte emoji — keyed by
    // doc_id so both engines synthesize identical text): pre-tokens
    // split per UTF-8 BYTE through the GPT-2 bytes_to_unicode alphabet
    // (printable latin-1 bytes keep themselves; the 68 others remap to
    // U+0100+n), so merges re-assemble multi-byte characters from their
    // bytes — the byte-fallback property that IS the GPT-2 recipe. The
    // oracle rebuilds the same alphabet in SQL from hex(encode(tok))
    // pairs, sharing no code with the operator's translate() table.
    QueryDef.sqlBacked("q130_bpe_utf8_train", bpeTrainOracleSql(10,
      """unnest(regexp_extract_all(lower(text || CASE doc_id % 5
        |      WHEN 0 THEN ' café crème' WHEN 1 THEN ' naïve zürich'
        |      WHEN 2 THEN ' 東京 データ' WHEN 3 THEN ' straße 🌍'
        |      ELSE ' œuvre déjà' END),
        |    ' ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+'))""".stripMargin,
      """' ' || array_to_string([
        |      CASE WHEN (b BETWEEN 33 AND 126) OR (b BETWEEN 161 AND 172)
        |             OR (b BETWEEN 174 AND 255) THEN chr(b)
        |           WHEN b <= 32 THEN chr(256 + b)
        |           WHEN b = 173 THEN chr(323)
        |           ELSE chr(162 + b) END
        |      FOR b IN [('0x' || hex(encode(tok))[(i*2+1):(i*2+2)])::INT
        |                FOR i IN range(0, octet_length(encode(tok)))]
        |    ], ' ') || ' '""".stripMargin)) { (s, d) =>
      import s.implicits._
      val aug = concat(col("text"), element_at(array(
        lit(" café crème"), lit(" naïve zürich"), lit(" 東京 データ"),
        lit(" straße 🌍"), lit(" œuvre déjà")),
        (col("doc_id") % 5 + 1).cast("int")))
      graft.operators.BpeTrainer
        .learnByteMerges(Tables.documents(s, d).select(aug.as("text")), "text",
          nMerges = 10)
        .map(m => (m.rnk, m.l, m.r, m.pcnt))
        .toDF("rnk", "l", "r", "pcnt")
    },

    // ---- BPE merge application ------------------------------------------
    // The tokenizer-apply primitive: segment the top-100 corpus words by
    // an ordered merge table (fixed literals — in production the table
    // comes from the q120 statistics loop). Symbols are space-separated;
    // each merge is applied as TWO global leftmost-non-overlapping
    // boundary-anchored replaces (' a b ' -> ' ab '): pass 1 can consume
    // the leading space of an adjacent occurrence, pass 2 catches the
    // now-isolated rest — equivalent to the symbol-wise merge, and the
    // identical algorithm in both engines. Segmentation runs once per
    // DISTINCT word (the vocab table), the way production tokenizers
    // cache — not once per occurrence.
    QueryDef.sqlBacked(
      "q122_bpe_apply",
      s"""WITH vocab AS (
         |  SELECT tok, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+'))
         |      AS tok
         |    FROM documents)
         |  GROUP BY tok),
         |top AS (
         |  SELECT CAST(row_number() OVER (ORDER BY cnt DESC, tok) AS BIGINT)
         |      AS rnk, tok, cnt
         |  FROM vocab QUALIFY rnk <= 100)
         |SELECT rnk, tok AS word, cnt,
         |  trim(seg) AS seg,
         |  CAST(len(string_split(trim(seg), ' ')) AS BIGINT) AS n_sub
         |FROM (
         |  SELECT rnk, tok, cnt, ${BpeMerges.foldLeft(
             "' ' || trim(regexp_replace(tok, '(.)', '\\1 ', 'g')) || ' '") {
             case (acc, (a, b)) =>
               s"regexp_replace(regexp_replace($acc, ' $a $b ', ' $a$b ', 'g'), ' $a $b ', ' $a$b ', 'g')"
           }} AS seg
         |  FROM top)""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val toks = Tables.documents(s, d)
        .select(explode(TextAnalysis.tokens(col("text"))).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy(col("cnt").desc, col("tok"))
      // raw-rank filter first (cast after) so WindowGroupLimit bounds the
      // global window to 100 rows per upstream partition
      val top = vocab.withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 100)
      val spaced = concat(lit(" "),
        trim(regexp_replace(col("tok"), "(.)", "$1 ")), lit(" "))
      val seg0 = BpeMerges.foldLeft(spaced) { case (c, (a, b)) =>
        val pat = s" $a $b "
        val rep = s" $a$b "
        regexp_replace(regexp_replace(c, pat, rep), pat, rep)
      }
      top.select(col("rnk").cast("long").as("rnk"), col("tok").as("word"),
        col("cnt"), trim(seg0).as("seg"))
        .withColumn("n_sub", size(split(col("seg"), " ")).cast("long"))
    },

    // ---- byte-level BPE corpus ENCODE (GPT-2-style tokenize) ------------
    // The missing half of the tokenizer loop: q128/q130 TRAIN a byte-level
    // merge table, this query ENCODES the whole corpus with one — per-doc
    // pre-token count, BPE token count, and an order-free codepoint
    // poly-hash of every segmentation (so the subword STRINGS are
    // value-proven per document, not just counted). Segmentation runs once
    // per DISTINCT pre-token and joins back — the production tokenizer
    // cache shape. The oracle replays the GPT-2 alphabet spaced split
    // (ASCII corpus: per-char == per-byte, space -> 'Ġ'; q130 proves the
    // multi-byte path), the identical ordered double-replace merge chain,
    // and the codepoint hash fold ('Ġ' = U+0120 contributes 288 in both
    // engines — the HOF/ord parity the fingerprint family relies on).
    QueryDef.sqlBacked(
      "q133_bpe_encode",
      s"""WITH pre AS (
         |  SELECT doc_id, unnest(regexp_extract_all(lower(text),
         |    ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+')) AS tok
         |  FROM documents),
         |pd AS (SELECT doc_id, tok, count(*) AS occ FROM pre GROUP BY 1, 2),
         |segd AS (
         |  SELECT tok, trim(${ByteBpeMerges.foldLeft(
             "' ' || trim(regexp_replace(replace(tok, ' ', 'Ġ'), '(.)', '\\1 ', 'g')) || ' '") {
             case (acc, (l, r)) =>
               s"replace(replace($acc, ' $l $r ', ' $l$r '), ' $l $r ', ' $l$r ')"
           }}) AS seg
         |  FROM (SELECT DISTINCT tok FROM pd)),
         |stats AS (
         |  SELECT tok, CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_sub,
         |    list_reduce(list_prepend(CAST(7 AS BIGINT),
         |      [CAST(ord(substr(seg, j, 1)) AS BIGINT)
         |       FOR j IN range(1, len(seg) + 1)]),
         |      (a, b) -> (a * 31 + b) % 1000000007) AS seg_h
         |  FROM segd)
         |SELECT pd.doc_id, CAST(sum(occ) AS BIGINT) AS n_pretok,
         |  CAST(sum(occ * n_sub) AS BIGINT) AS n_tok,
         |  CAST(sum(occ * seg_h) AS BIGINT) AS tok_fp
         |FROM pd JOIN stats ON stats.tok = pd.tok
         |GROUP BY 1""".stripMargin) { (s, d) =>
      graft.operators.BpeTrainer.byteEncodeStats(
        Tables.documents(s, d), "doc_id", "text", ByteBpeMerges)
    },

    // ---- byte-level BPE tokenize -> ids -> decode round trip ------------
    // The full tokenizer CONTRACT: per-doc GPT-2-style token ids in
    // position order (byte-alphabet symbols take their byte value,
    // merge i's output takes 256+i — the table IS the vocabulary), an
    // order-dependent id-stream hash, and decode(encode(text)) == text.
    // The oracle rebuilds ids from codepoints ('Ġ' = U+0120 -> byte 32,
    // merge literals -> 256+i) and decodes by the ASCII-corpus inverse
    // (Ġ -> space; q130 proves the multi-byte alphabet separately); the
    // Spark side runs the FULL inverse chain (translate -> latin-1 ->
    // UTF-8). Both engines flag identically because the corpus is
    // single-spaced ASCII — the one shape this pre-tokenizer round-trips
    // losslessly (the exact GPT-2 regex also keeps whitespace runs).
    QueryDef.sqlBacked(
      "q136_bpe_roundtrip",
      s"""WITH base AS (SELECT doc_id, lower(text) AS lt FROM documents),
         |tk AS (SELECT doc_id, lt, regexp_extract_all(lt,
         |    ' ?\\p{L}+| ?\\p{N}+| ?[^ \\t\\n\\x0B\\f\\r\\p{L}\\p{N}]+') AS toks
         |  FROM base),
         |pre AS (SELECT doc_id, lt, i AS pos, toks[i] AS tok
         |  FROM (SELECT doc_id, lt, toks, unnest(range(1, len(toks) + 1)) AS i
         |        FROM tk)),
         |segd AS (
         |  SELECT tok, trim(${ByteBpeMerges.foldLeft(
             "' ' || trim(regexp_replace(replace(tok, ' ', 'Ġ'), '(.)', '\\1 ', 'g')) || ' '") {
             case (acc, (l, r)) =>
               s"replace(replace($acc, ' $l $r ', ' $l$r '), ' $l $r ', ' $l$r ')"
           }}) AS seg
         |  FROM (SELECT DISTINCT tok FROM pre)),
         |idsv AS (SELECT tok,
         |    [CASE ${ByteBpeMerges.zipWithIndex.map { case ((l, r), i) =>
               s"WHEN s = '$l$r' THEN ${256 + i}" }.mkString(" ")}
         |          WHEN ord(s) = 288 THEN 32
         |          ELSE ord(s) END
         |     FOR s IN string_split(seg, ' ')] AS ids,
         |    replace(seg, ' ', '') AS symcat
         |  FROM segd),
         |perdoc AS (
         |  SELECT pre.doc_id, pre.lt,
         |    flatten(list(ids ORDER BY pre.pos)) AS ids,
         |    string_agg(symcat, '' ORDER BY pre.pos) AS symjoin
         |  FROM pre JOIN idsv ON idsv.tok = pre.tok
         |  GROUP BY 1, 2)
         |SELECT doc_id, CAST(len(ids) AS BIGINT) AS n_tok,
         |  CAST(list_reduce(
         |    list_prepend(CAST(7 AS BIGINT), [CAST(x AS BIGINT) FOR x IN ids]),
         |    (a, b) -> (a * 31 + b) % 1000000007) AS BIGINT) AS ids_fp,
         |  CAST(CASE WHEN md5(replace(symjoin, 'Ġ', ' ')) = md5(lt)
         |    THEN 1 ELSE 0 END AS BIGINT) AS roundtrip_ok
         |FROM perdoc""".stripMargin) { (s, d) =>
      graft.operators.BpeTrainer.byteEncodeRoundTrip(
        Tables.documents(s, d), "doc_id", "text", ByteBpeMerges)
    },

    // ---- within-document line dedup -------------------------------------
    // Intra-doc repetition removal (the C4/RefinedWeb step that strips
    // repeated nav/cookie/footer boilerplate INSIDE a page before any
    // cross-doc dedup). Pseudo-lines are synthesized as 6-token chunks
    // (the q114 pattern — the corpus has no newlines); every doc gains a
    // cookie-banner line twice in two casings (exercises lower+trim
    // normalization) and doc_id % 3 docs repeat their first line at the
    // end (exercises order-preserving first-occurrence retention).
    QueryDef.sqlBacked(
      "q139_line_dedup",
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
        |l0 AS (SELECT doc_id,
        |  [array_to_string(toks[(i*6+1):(i*6+6)], ' ')
        |    FOR i IN range(0, CAST(floor((len(toks)-1)/6) AS BIGINT) + 1)] AS ls0
        |  FROM t),
        |l2 AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0
        |    THEN list_append(list_concat(ls0,
        |      ['Accept all cookies', 'accept all cookies']), ls0[1])
        |    ELSE list_concat(ls0, ['Accept all cookies', 'accept all cookies'])
        |  END AS ls FROM l0),
        |lines AS (SELECT doc_id, unnest(ls) AS line,
        |  CAST(unnest(range(1, len(ls)+1)) AS BIGINT) AS pos FROM l2),
        |kept AS (SELECT doc_id, line, pos, row_number() OVER (
        |    PARTITION BY doc_id, lower(trim(line)) ORDER BY pos) AS rn FROM lines),
        |agg AS (SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text_dedup,
        |        count(*) AS n_kept FROM kept WHERE rn = 1 GROUP BY doc_id),
        |tot AS (SELECT doc_id, count(*) AS n_lines FROM lines GROUP BY doc_id)
        |SELECT agg.doc_id, CAST(n_lines AS BIGINT) AS n_lines,
        |  CAST(n_kept AS BIGINT) AS n_kept, md5(text_dedup) AS dedup_md5
        |FROM agg JOIN tot ON tot.doc_id = agg.doc_id""".stripMargin) { (s, d) =>
      val toks = split(col("text"), " ")
      val ls0 = transform(
        sequence(lit(0L), floor((size(toks) - lit(1)) / lit(6)).cast("long")),
        i => array_join(slice(toks, (i * 6 + 1).cast("int"), lit(6)), " "))
      val banner = array(lit("Accept all cookies"), lit("accept all cookies"))
      val ls = when(col("doc_id") % 3 === 0,
          concat(ls0, banner, array(element_at(ls0, 1))))
        .otherwise(concat(ls0, banner))
      graft.operators.Dedup.dedupLinesWithin(
          Tables.documents(s, d).select(col("doc_id"),
            array_join(ls, "\n").as("synth")),
          "doc_id", "synth")
        .select(col("doc_id"), col("n_lines"), col("n_kept"),
          md5(col("text_dedup").cast("binary")).as("dedup_md5"))
    },

    // ---- WordPiece corpus encode ----------------------------------------
    // BERT-family greedy longest-match subword tokenization (the other
    // dominant scheme next to BPE). The oracle replays the greedy loop
    // as a RECURSIVE CTE whose per-step longest-match CASE chain is
    // generated from the SAME Scala vocab constants the Spark fold
    // compiles against; ids are vocab positions, [UNK] takes the next
    // free id, and ids_fp is the q136-style order-dependent poly-hash
    // of the full per-doc id stream.
    QueryDef.sqlBacked(
      "q141_wordpiece_encode",
      s"""WITH RECURSIVE pre AS (
         |  SELECT doc_id, unnest(toks) AS tok,
         |    CAST(unnest(range(1, len(toks)+1)) AS BIGINT) AS pos
         |  FROM (SELECT doc_id,
         |          string_split_regex(lower(trim(text)), '\\s+') AS toks
         |        FROM documents)),
         |vt AS (SELECT DISTINCT tok FROM pre),
         |seg AS (
         |  SELECT tok, 1 AS spos, CAST([] AS VARCHAR[]) AS pieces,
         |    false AS failed FROM vt
         |  UNION ALL
         |  SELECT tok, spos + m.ml AS spos,
         |    CASE WHEN m.ml = 0 THEN pieces
         |         ELSE list_append(pieces, m.piece) END AS pieces,
         |    m.ml = 0 AS failed
         |  FROM (SELECT tok, spos, pieces, $wpMatchCaseSql AS m
         |        FROM seg WHERE NOT failed AND spos <= length(tok))),
         |fin AS (SELECT tok,
         |    CASE WHEN failed THEN ['[UNK]'] ELSE pieces END AS pieces,
         |    CAST(failed AS BIGINT) AS is_unk
         |  FROM seg WHERE failed OR spos > length(tok)),
         |ids AS (SELECT tok, is_unk, len(pieces) AS n_p,
         |    [CASE WHEN p = '[UNK]' THEN ${WpVocab.size}
         |          ELSE list_position($wpVocabListSql, p) - 1 END
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
      graft.operators.WordPiece.encodeCorpus(
        Tables.documents(s, d), "doc_id", "text", WpVocab)
    })

  /** The q124/q128 oracle: the BPE trainer loop unrolled as chained
    * CTEs — round k computes pair counts pc_k over segmentation seg_{k-1}
    * (struct-comprehension adjacent pairs, occurrence-weighted), picks
    * the argmax m_k (count DESC, l, r), and seg_k applies it via the
    * same double boundary-anchored replace the Spark trainer uses.
    * `toksExpr` selects the pre-tokens, `segExpr` builds the spaced
    * initial segmentation from a pre-token. */
  private def bpeTrainOracleSql(n: Int, toksExpr: String, segExpr: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH toks AS (
        |  SELECT $toksExpr AS tok
        |  FROM documents),
        |vocab AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY tok),
        |seg0 AS (SELECT $segExpr AS seg, cnt FROM vocab)""".stripMargin)
    for (k <- 1 to n) {
      sb.append(s""",
        |pc$k AS (
        |  SELECT p.l AS l, p.r AS r, CAST(sum(cnt) AS BIGINT) AS pcnt
        |  FROM (
        |    SELECT cnt, unnest([{'l': syms[i], 'r': syms[i+1]} FOR i IN range(1, len(syms))]) AS p
        |    FROM (SELECT string_split(trim(seg), ' ') AS syms, cnt FROM seg${k - 1}))
        |  GROUP BY p.l, p.r),
        |m$k AS (SELECT l, r, pcnt FROM pc$k ORDER BY pcnt DESC, l, r LIMIT 1)""".stripMargin)
      if (k < n) sb.append(s""",
        |seg$k AS (
        |  SELECT replace(replace(s.seg, ' '||m.l||' '||m.r||' ', ' '||m.l||m.r||' '),
        |                 ' '||m.l||' '||m.r||' ', ' '||m.l||m.r||' ') AS seg, s.cnt
        |  FROM seg${k - 1} s CROSS JOIN m$k m)""".stripMargin)
    }
    sb.append((1 to n).map(k =>
      s"SELECT CAST($k AS BIGINT) AS rnk, l, r, pcnt FROM m$k")
      .mkString("\n", "\nUNION ALL ", ""))
    sb.toString
  }

  /** Ordered merge table for q122 — the classic top English BPE merges
    * as fixed literals (symbols are lowercase letters only, so the
    * merge patterns are regex-inert). Later merges consume earlier
    * outputs (t+h=th, then th+e=the). */
  private val BpeMerges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("i", "n"), ("e", "r"), ("a", "n"),
    ("r", "e"), ("o", "n"), ("s", "t"), ("e", "n"), ("a", "t"))

  /** Ordered BYTE-LEVEL merge table for q133 — GPT-2-alphabet symbols
    * (space rides as 'Ġ'), with a chained merge (Ġ+t, h+e, then Ġt+he)
    * so later merges consume earlier outputs across the space boundary.
    * Fixed literals, as a deployed tokenizer's table is; all symbols are
    * replace()-literal-safe by construction. */
  private val ByteBpeMerges: Seq[(String, String)] = Seq(
    ("Ġ", "t"), ("h", "e"), ("Ġt", "he"), ("i", "n"), ("e", "r"),
    ("a", "n"), ("r", "e"), ("o", "n"), ("Ġ", "a"), ("s", "t"))

  /** WordPiece vocab for q141, tuned to the corpus' vocabulary so the
    * greedy matcher exercises multi-piece splits (customer -> custom
    * ##er, column -> col ##umn, window -> win ##dow, small -> s ##m
    * ##all), single-piece words, and genuine [UNK]s. Ids are list
    * positions (0-based); [UNK] takes the next free id. All pieces are
    * lowercase letters only — SQL-literal inert. */
  private val WpVocab: Seq[String] = Seq(
    // plain (word-initial)
    "join", "hash", "row", "batch", "scan", "custom", "col", "filter",
    "slow", "merge", "order", "vec", "line", "data", "table", "agg",
    "value", "key", "stream", "win", "spark", "a", "group", "part",
    "big", "sort", "query", "fast", "the", "s", "b",
    // continuation
    "##er", "##umn", "##all", "##dow", "##tor", "##s", "##e", "##t",
    "##d", "##y", "##ing", "##ed", "##m", "##o", "##a", "##l", "##n",
    "##r")

  private def wpVocabListSql: String =
    WpVocab.map(p => s"'$p'").mkString("[", ",", "]")

  /** The greedy step's longest-match CASE for the q141 oracle: one
    * branch per (length desc, position class), testing the same
    * membership the Spark fold compiles ([[graft.operators.WordPiece]]).
    * References columns `tok` and `spos` of the recursive CTE. */
  private def wpMatchCaseSql: String = {
    val plainByLen = WpVocab.filterNot(_.startsWith("##")).groupBy(_.length)
    val contByLen = WpVocab.filter(_.startsWith("##")).map(_.drop(2))
      .filter(_.nonEmpty).groupBy(_.length)
    val maxLen = (plainByLen.keySet ++ contByLen.keySet).max
    def l(xs: Seq[String]) = xs.map(p => s"'$p'").mkString("[", ",", "]")
    val branches = (maxLen to 1 by -1).flatMap { n =>
      val sub = s"substr(tok, spos, $n)"
      val plain = plainByLen.get(n).map(ps =>
        s"""WHEN spos = 1 AND length($sub) = $n
           | AND list_contains(${l(ps)}, $sub)
           | THEN {'ml': $n, 'piece': $sub}""".stripMargin.replaceAll("\n", ""))
      val cont = contByLen.get(n).map(cs =>
        s"""WHEN spos > 1 AND length($sub) = $n
           | AND list_contains(${l(cs)}, $sub)
           | THEN {'ml': $n, 'piece': '##' || $sub}""".stripMargin.replaceAll("\n", ""))
      plain.toSeq ++ cont.toSeq
    }
    branches.mkString("CASE ", " ", " ELSE {'ml': 0, 'piece': ''} END")
  }
}
