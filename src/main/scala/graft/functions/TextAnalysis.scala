package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis scalar functions for large-scale training-data pipelines:
  * tokenization, n-gram shingling, rolling-hash fingerprinting, language-ID
  * heuristics and quality scoring.
  *
  * No function is a UDF: each is built from Spark's codegen'd built-ins and
  * higher-order array functions or is one of graft's native expressions
  * (`graft.plans`: the whitespace tokenizer, [[polyHash]],
  * [[nfcNormalize]]), so all stay inside whole-stage codegen and
  * distribute trivially (pure per-row work, no shuffle).
  *
  * Cross-engine determinism notes (the DuckDB oracle recomputes these):
  * integer arithmetic only in hashes (mod 1e9+7 keeps products < 2^63),
  * and ratio outputs are int/int single divisions (bit-stable IEEE).
  */
object TextAnalysis {
  val HashMod = 1000000007L

  def normText(c: Column): Column = lower(trim(c))

  /** Whitespace tokens of the normalized text: exactly
    * `split(normText(c), "\\s+")`, from one native loop over the bytes
    * ([[graft.plans.WhitespaceTokens]]). */
  def tokens(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.WhitespaceTokens(expression(c)))
  }

  def tokenCount(c: Column): Column = size(tokens(c))

  /** Distinct character n-grams (shingles) of the raw text; empty array if
    * the text is shorter than n (guards Spark's descending `sequence`). */
  def charNgrams(c: Column, n: Int): Column =
    when(length(c) >= n,
      array_distinct(transform(sequence(lit(1), length(c) - (n - 1)),
        i => c.substr(i, lit(n)))))
      .otherwise(array().cast("array<string>"))

  /** Polynomial rolling-hash fingerprint: fold (acc*31 + codepoint) % p over
    * characters, seed 7. Deterministic across engines (pure int64 ops).
    * At 100 TB prefer [[fingerprint64]] (xxhash64, one codegen'd call);
    * this form exists because the oracle must reproduce it exactly.
    *
    * Default implementation: the native byte-loop expression
    * (graft.plans.PolyHash, zero-allocation, codegen'd) — byte-identical
    * to [[polyHashHof]] and the DuckDB oracle for ASCII text.
    */
  def polyHash(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.PolyHash(expression(c)))
  }

  /** Unicode NFC normalization (UAX #15) — native codegen'd expression
    * with a zero-copy quick-check fast path; see
    * [[graft.plans.NfcNormalize]]. Run BEFORE any hashing/dedup/
    * tokenization step: decomposed and precomposed forms of the same
    * text must key identically. */
  def nfcNormalize(c: Column): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.NfcNormalize(expression(c)))
  }

  /** Reference HOF form (codepoint-exact for any input): `split(c, "")`
    * yields the char array in one O(n) pass — per-index `substring` would
    * re-seek the UTF8String every call (O(n²)/row, measured 5x slower). */
  def polyHashHof(c: Column): Column =
    aggregate(
      transform(split(c, ""), ch => ascii(ch).cast("long")),
      lit(7L),
      (acc, x) => (acc * 31 + x) % HashMod)

  /** Production-path fingerprint: single codegen'd 64-bit hash. */
  def fingerprint64(c: Column): Column = xxhash64(normText(c))

  /** Count of tokens present in `markers` (with multiplicity). */
  def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(m => m: Any): _*)))

  /** Marker-word language-ID heuristic: argmax of per-language stopword
    * hits, priority-ordered on ties, 'und' when nothing matches. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "es" -> Seq("el", "los", "las", "y", "es"),
    "zh" -> Seq("de", "le", "shi", "zai", "he"))

  def langGuess(toksCol: Column): Column = {
    val hits = LangMarkers.map { case (lang, ms) => lang -> markerHits(toksCol, ms) }
    val best = hits.map(_._2).reduce((a, b) => greatest(a, b))
    hits.foldRight(lit("und")) { case ((lang, h), acc) =>
      when(h === best && h > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Approximate BPE-ish token count: alpha runs + digit runs + isolated
    * non-alnum glyphs each count as one token. */
  def subwordCount(c: Column): Column =
    regexp_count(normText(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))

  /** Simple quality score in [0,1]: mix of stopword ratio, alpha ratio and
    * a length band — deterministic arithmetic over int counts. */
  def qualityScore(c: Column): Column = {
    val toks = tokens(c)
    val nTok = size(toks).cast("double")
    val stopRatio = markerHits(toks, Seq("the", "a", "of", "and", "is")).cast("double") / nTok
    val alphaRatio = regexp_count(normText(c), lit("[a-z]")).cast("double") / length(normText(c)).cast("double")
    val lengthOk = when(length(c) >= 100 && length(c) <= 10000, 1.0).otherwise(0.0)
    stopRatio * 0.4 + alphaRatio * 0.4 + lengthOk * 0.2
  }

  import org.apache.spark.sql.DataFrame

  /** PII surface patterns (emails, NANP-style phone shapes, IPv4
    * literals) — the redaction pass every compliance-scrubbed training
    * corpus runs before tokenization. ASCII-only regexes that Java
    * regex (Spark codegen) and the RE2 family (DuckDB oracle) interpret
    * identically, so redaction is hash-verifiable cross-engine. */
  val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiPhone = "\\d{3}-\\d{3}-\\d{4}"
  val PiiIpv4 = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"

  /** Replace every PII match with a typed placeholder; emails first so
    * their digit runs can't be half-eaten by the phone/IP passes. Three
    * codegen'd regexp_replace calls, no UDF. */
  def redactPii(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(c, PiiEmail, "<EMAIL>"),
        PiiPhone, "<PHONE>"),
      PiiIpv4, "<IP>")

  /** Per-kind PII match counts: (emails, phones, ipv4s). */
  def piiCounts(c: Column): (Column, Column, Column) =
    (regexp_count(c, lit(PiiEmail)),
      regexp_count(c, lit(PiiPhone)),
      regexp_count(c, lit(PiiIpv4)))

  /** Distinct poly-hashes of space-joined token n-grams — the word-level
    * shingle family decontamination uses (GPT-3 Appendix C checks 13-gram
    * overlap; n is a parameter here). Empty array below n tokens (guards
    * Spark's descending `sequence`). */
  def tokenNgramHashes(c: Column, n: Int): Column =
    array_distinct(tokenNgramHashesAll(c, n))

  /** Position-ordered (NON-distinct) n-gram hashes: element i is the
    * hash of the gram starting at token i — a posexplode index IS the
    * position. Native zero-allocation kernel
    * (graft.plans.TokenNgramHashes); `HofForms.tokenNgramHashesAllHof` (test sources)
    * is the spec-proven bit-identical HOF reference. */
  def tokenNgramHashesAll(c: Column, n: Int): Column = {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    column(graft.plans.TokenNgramHashes(expression(tokens(c)), n))
  }

  /** Benchmark decontamination: per train document, the number of its
    * distinct token n-grams that also occur anywhere in `benchmark`, and
    * a 0/1 contaminated flag — the eval-set overlap scrub every serious
    * training corpus runs (the GPT-3/PaLM n-gram-collision family).
    *
    * Scale shape: the benchmark side distincts to a small hash set (eval
    * suites are MBs even when the corpus is 100 TB), so AQE turns the
    * join into a broadcast; the per-doc count partial-aggregates
    * map-side. Documents with fewer than n tokens have no n-grams and no
    * output row (they cannot be contaminated). */
  def decontaminate(train: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, n: Int = 3): DataFrame = {
    val tg = train.select(col(idCol).as("doc_id"),
      explode(tokenNgramHashes(col(textCol), n)).as("g"))
    val eg = benchmark.select(explode(tokenNgramHashes(col(textCol), n)).as("g"))
      .distinct().withColumn("hit", lit(1L))
    tg.join(eg, Seq("g"), "left")
      .groupBy("doc_id")
      .agg(count(col("hit")).as("n_hits"),
        max(coalesce(col("hit"), lit(0L))).as("contaminated"))
  }

  /** Corpus-trained unigram language-model score per document: mean
    * negative log-likelihood of the document's tokens under the corpus
    * unigram distribution p(t) = count(t)/total — the cheap end of the
    * perplexity-filter family (KenLM-style quality scoring with the
    * model order cut to 1 so the oracle can replay it exactly). Low nll
    * = typical text, high = outlier. Rounded to 6 dp for cross-engine
    * float-sum stability.
    *
    * Scale shape: the vocabulary is bounded by type count (millions of
    * rows at 100 TB — size-gated to a broadcast by AQE), the corpus
    * total is a 1-row broadcast, and both aggregations partial-combine
    * map-side. */
  def unigramLmScores(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val perDoc = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("vcnt"))
    val total = vocab.agg(sum("vcnt").cast("long").as("total"))
    perDoc.join(vocab, "tok")
      .crossJoin(broadcast(total)) // bounded: one row
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_tok"),
        round(sum(col("cnt") *
            (log(col("total").cast("double")) - log(col("vcnt").cast("double"))))
          / sum(col("cnt")), 6).as("nll"))
  }

  /** Stupid-backoff bigram language-model score per document — the
    * web-scale LM recipe of Brants et al. 2007 ("Large Language Models in
    * Machine Translation"): no discounting, no normalization, just
    *
    *   S(w2 | w1) = c(w1 w2) / c(w1)          if c(w1 w2) >= minBigramCount
    *              = alpha * c(w2) / N          otherwise (backoff, alpha=0.4)
    *
    * Mean negative log-score over a document's bigram positions is the
    * order-2 member of the perplexity-filter family (CCNet-style corpus
    * quality scoring one order up from [[unigramLmScores]]). The
    * `minBigramCount` cutoff is the paper's count pruning — it bounds the
    * bigram table AND makes the backoff branch live even when scoring the
    * training corpus itself (an unpruned in-sample bigram always has
    * c >= 1). Documents with fewer than two tokens have no bigram and no
    * output row. Rounded to 6 dp for cross-engine float-sum stability.
    *
    * Scale shape: bigram formation is a pure array projection (shifted-
    * slice zip — no self-join, no window shuffle); the bigram/unigram
    * model tables are count aggregations partial-combined map-side, and
    * every scoring join is a token-keyed equi-join AQE size-gates to a
    * broadcast when the pruned model fits (at 100 TB the pruned bigram
    * table shuffles hash-partitioned on (w1, w2) — never collected). */
  def stupidBackoffScores(df: DataFrame, idCol: String, textCol: String,
      minBigramCount: Int = 2, alpha: Double = 0.4): DataFrame = {
    // tokenize ONCE into a cached, parallelism-floored frame: the bigram
    // stream is read by two aggregations (per-doc counts, model counts)
    // and the unigram model re-reads the token arrays — without the
    // cache, column pruning specializes each branch's plan and the
    // tokenizer re-runs per branch, single-task on a one-split corpus.
    // Cache holds tokens packed per doc; every cache here stays until
    // the caller's cache scope closes (graft.core.Caching).
    // partition-VISIBLE floor cache (Caching.persist keyed on doc_id):
    // the per-doc bigram aggregation clusters on (doc_id, w1, w2), which
    // hash(doc_id) satisfies — with a plain cache the AQE wrapper hides
    // the partitioning and the full bigram stream re-shuffles. The
    // tokenize runs in `narrow`, POST-shuffle, so a one-split corpus
    // tokenizes at cluster parallelism instead of on the scan's task
    val t = graft.core.Caching.persist(
      df.select(col(idCol).as("doc_id"), col(textCol)), Seq("doc_id"),
      narrow = _.select(col("doc_id"), tokens(col(textCol)).as("toks"))).df
    // bigram formation as arrays_zip over two shifted slices — native
    // codegen'd expressions end to end (the transform/sequence/element_at
    // lambda form evaluated interpreted, and re-ran per consuming branch:
    // 4 × ~0.7 s of the q131 profile). greatest(...,0) guards the 0/1-
    // token doc (slice length must be >= 0); field names are positional.
    val nb = greatest(size(col("toks")) - 1, lit(0))
    val bigs = t.select(col("doc_id"),
        explode(arrays_zip(slice(col("toks"), lit(1), nb),
          slice(col("toks"), lit(2), nb))).as("b"))
      .select(col("doc_id"), col("b").getField("0").as("w1"),
        col("b").getField("1").as("w2"))
    // per-doc counts are cached, and the pruned bigram MODEL derives from
    // them by a second-level aggregation — the token stream is walked
    // exactly twice (bigrams, unigrams); every model table is a
    // vocab-bounded aggregate over a cached frame. uni is cached too:
    // three scoring branches (w1 side, w2 side, corpus total) read it.
    val perDoc = graft.core.Caching.persist(
      bigs.groupBy("doc_id", "w1", "w2").agg(count(lit(1)).as("cnt"))).df
    val bigram = perDoc.groupBy("w1", "w2").agg(sum(col("cnt")).as("bcnt"))
      .where(col("bcnt") >= minBigramCount)
    val toks = t.select(explode(col("toks")).as("tok"))
    val uni = graft.core.Caching.persist(
      toks.groupBy("tok").agg(count(lit(1)).as("ucnt"))).df
    val total = uni.agg(sum("ucnt").cast("long").as("n_total"))
    val u1 = uni.select(col("tok").as("w1"), col("ucnt").as("ucnt1"))
    val u2 = uni.select(col("tok").as("w2"), col("ucnt").as("ucnt2"))
    val nllTerm = when(col("bcnt").isNotNull,
        log(col("ucnt1").cast("double")) - log(col("bcnt").cast("double")))
      .otherwise(lit(-math.log(alpha)) + log(col("n_total").cast("double"))
        - log(col("ucnt2").cast("double")))
    perDoc
      .join(bigram, Seq("w1", "w2"), "left")
      .join(u1, "w1")
      .join(u2, "w2")
      .crossJoin(broadcast(total)) // bounded: one row
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_big"),
        round(sum(col("cnt") * nllTerm) / sum(col("cnt")), 6).as("nll"))
  }

  /** Multinomial Naive Bayes document classifier — the classic one-pass
    * stand-in for a fastText-style quality/domain filter (Joulin et al.
    * 2017 report linear bag-of-words models match far heavier classifiers
    * on text categorization; NB is its closed-form cousin that trains in
    * ONE aggregation pass, no SGD, no iterations — the only linear text
    * classifier whose training is a pure groupBy at 100 TB).
    *
    * Train on the rows matching `trainPred` (a deterministic hash split in
    * the q137 oracle), Laplace-smoothed over the train vocabulary; score
    * EVERY document (including train — in-sample accuracy is the cheap
    * sanity metric curation pipelines track):
    *
    *   ll(d, c) = ln(docs_c / n_train) + Σ_tok cnt·(ln(tcnt+1) − ln(toks_c + V))
    *
    * with out-of-vocabulary tokens dropped (the standard multinomial-NB
    * treatment; every class sees the same dropped mass so the argmax is
    * unaffected for shared-OOV docs). Prediction = argmax class, ties on
    * the 6-dp-rounded ll broken by label ascending so both engines
    * resolve identically.
    *
    * Scale shape: the model is a (vocab × classes) count table built by
    * one map-side-combined aggregation over the train scan; scoring joins
    * are token-keyed equi-joins AQE size-gates to broadcasts when the
    * model fits (it is vocab-bounded — Heaps' law keeps it MB-to-GB at
    * corpus scale); the class-constant frame is classes-many rows crossed
    * in broadcast (the q79 shape). The per-(doc,class) expansion is a
    * classes-count constant factor on the token stream, not a join blowup.
    *
    * Output: (doc_id, label_true, label_pred, ll, n_tok_invocab, correct). */
  def naiveBayesClassify(df: DataFrame, idCol: String, textCol: String,
      labelCol: String, trainPred: Column): DataFrame = {
    val base = df.withColumn("is_train", trainPred)
      .select(col(idCol).as("doc_id"), col(labelCol).as("label_true"),
        col("is_train"), col(textCol))
    // tokenize-and-explode is the expensive per-row stage: floor its
    // parallelism at the cluster (a single-split scan otherwise runs it
    // on one core), and walk it exactly TWICE — once to build the
    // (label, tok) model, once for the per-doc counts. Class token
    // totals, the vocabulary and its size all DERIVE from the model
    // aggregate (sum / distinct over vocab x classes rows) instead of
    // re-walking the token stream, which the previous shape did three
    // more times.
    // cached: the model branch and the per-doc branch consume DIFFERENT
    // column subsets, so without a cache column pruning specializes the
    // floor exchange per branch and the tokenizer re-runs once per
    // branch (three ~equal-size single-task exchange builds in the q137
    // profile). The cache holds tokens packed per doc (corpus-sized;
    // MEMORY_AND_DISK degrades to disk at scale) and both explodes read
    // it; released by the consuming wrapper.
    // partition-VISIBLE floor cache: the whole scoring tail (per-(doc,
    // tok) counts -> per-(doc, class) term sums -> per-doc argmax)
    // clusters on doc_id; declaring the floor's hash(doc_id) through the
    // cache (Caching.persist keyed on doc_id) is what actually makes the
    // tail exchange-free — a plain cache under AQE reports
    // UnknownPartitioning and every one of those aggregations
    // re-shuffles. Tokenize runs in `narrow`, post-shuffle, at cluster
    // parallelism.
    val floored = graft.core.Caching.persist(base, Seq("doc_id"),
      narrow = _.select(col("doc_id"), col("label_true"), col("is_train"),
        tokens(col(textCol)).as("toks"))).df
    val docTok = floored.select(col("doc_id"), col("label_true"), col("is_train"),
      explode(col("toks")).as("tok"))
    val trainTok = docTok.where(col("is_train"))
    // cached: the model is read by FOUR branches (scoring join, class
    // token totals, vocab, vocab size) and Spark shares no DAG across
    // branches — without the cache each branch re-runs the full token
    // aggregation. vocab x classes rows, orders of magnitude smaller
    // than the corpus; released by the consuming wrapper.
    val model = graft.core.Caching.persist(
      trainTok.groupBy(col("label_true").as("label"), col("tok"))
        .agg(count(lit(1)).as("tcnt"))).df
    // class-doc counts and the train-doc total in ONE linear aggregation
    // chain over the CACHED floored frame (collect_list over classes-many
    // rows is bounded): the previous shape re-scanned + re-pruned the
    // source table for classDocs and again for n_train, and re-evaluated
    // the classDocs subtree once per consumer.
    val classStats = floored.where(col("is_train"))
      .groupBy(col("label_true").as("label")).agg(count(lit(1)).as("cdocs"))
      .agg(collect_list(struct(col("label"), col("cdocs"))).as("cls"),
        sum(col("cdocs")).cast("long").as("n_train"))
      .select(explode(col("cls")).as("c"), col("n_train"))
      .select(col("c.label").as("label"), col("c.cdocs").as("cdocs"),
        col("n_train"))
    val classToks = model.groupBy(col("label"))
      .agg(sum(col("tcnt")).as("ctoks"))
    val consts = model.agg(countDistinct(col("tok")).as("v"))
    // per-class constants: classes-many rows (broadcast below)
    val cs = classStats.join(classToks, Seq("label"), "left")
      .crossJoin(consts)
      .select(col("label"), col("cdocs"),
        coalesce(col("ctoks"), lit(0L)).as("ctoks"), col("v"), col("n_train"))
    // the model re-keyed per TOKEN with a label→count map payload: ONE
    // vocab-bounded frame replaces the previous separate vocab-membership
    // join and (label, tok) model join (map hit ⟺ token in vocab;
    // element_at(tmap, label) ⟺ the model left-join's tcnt). The join is
    // unhinted, exactly like the two it replaces: size estimation / AQE
    // broadcast it while the vocab fits and fall back to shuffle above
    // that (Heaps' law keeps it MB-to-GB at corpus scale).
    val modelByTok = model.groupBy(col("tok"))
      .agg(map_from_entries(collect_list(struct(col("label"), col("tcnt"))))
        .as("tmap"))
    // Scoring stays aligned on the cache's doc_id hash partitioning end
    // to end: the per-(doc, tok) counts, the per-(doc, class) term sums
    // and the per-doc argmax all cluster on doc_id (Spark accepts a
    // subset-key partitioning for the wider groupings), so the whole tail
    // after the cache is ONE exchange-free stage — the previous shape
    // expanded base × classes, sort-merge-joined it with the term sums on
    // (doc_id, label) (two exchanges) and ranked with a windowed
    // row_number (a third). explode_outer keeps zero-token docs in the
    // pipeline (their null tok misses the vocab map and scores
    // prior-only), replacing the join-back to the corpus frame. The
    // argmax is one min_by aggregation ordered by (−ll, label) —
    // identical to the window's (ll desc, label asc) rank-1 row because
    // round() is sign-symmetric (HALF_UP) and labels are unique per
    // (doc, class) row.
    val perDoc = floored
      .select(col("doc_id"), col("label_true"), explode_outer(col("toks")).as("tok"))
      .groupBy("doc_id", "label_true", "tok").agg(count(lit(1)).as("cnt"))
    val inVocab = col("tmap").isNotNull
    val scored = perDoc.join(modelByTok, Seq("tok"), "left")
      .crossJoin(broadcast(cs))
      .groupBy("doc_id", "label_true", "label", "cdocs", "n_train")
      .agg(coalesce(sum(when(inVocab, col("cnt"))), lit(0L)).cast("long")
          .as("n_tok"),
        coalesce(sum(when(inVocab, col("cnt").cast("double") *
          (log((coalesce(element_at(col("tmap"), col("label")), lit(0L)) + 1L)
            .cast("double"))
            - log((col("ctoks") + col("v")).cast("double"))))), lit(0.0))
          .as("tsum"))
      .select(col("doc_id"), col("label_true"), col("label"), col("n_tok"),
        round(log(col("cdocs").cast("double")) - log(col("n_train").cast("double"))
          + col("tsum"), 6).as("ll"))
    scored.groupBy(col("doc_id"), col("label_true"))
      .agg(min_by(struct(col("label"), col("ll"), col("n_tok")),
        struct(negate(col("ll")), col("label"))).as("b"))
      .select(col("doc_id"), col("label_true"), col("b.label").as("label_pred"),
        col("b.ll").as("ll"), col("b.n_tok").as("n_tok_invocab"),
        when(col("b.label") === col("label_true"), 1L).otherwise(0L).as("correct"))
  }

  /** Moore-Lewis cross-entropy-difference data selection (Moore & Lewis
    * 2010, "Intelligent Selection of Language Model Training Data"): score
    * every document by H_in(d) − H_gen(d), its mean per-token negative
    * log-likelihood under an IN-DOMAIN unigram LM minus under the
    * GENERAL-corpus LM. Documents that look more like the target domain
    * than like the background corpus score negative and are selected —
    * the standard recipe for carving a domain-targeted training subset
    * out of a web-scale crawl. Both LMs are add-one (Laplace) smoothed
    * over the SHARED general vocabulary, so out-of-domain-only tokens are
    * scorable under the in-domain model (the paper's OOV handling need).
    *
    * Output: (doc_id, n_tok, nll_in, nll_gen, delta, selected) with all
    * doubles rounded to 6 dp (cross-engine float-sum stability) and
    * `selected` = delta <= 0 as 0/1 BIGINT, decided on the ROUNDED delta
    * so both engines compare the identical value.
    *
    * Scale shape: identical to [[unigramLmScores]] — two token-count
    * aggregations (the in-domain one over a filtered scan), token-keyed
    * equi-joins AQE size-gates to broadcasts, two 1-row constant frames
    * explicitly broadcast; no all-pairs, no driver state. */
  def mooreLewisScores(df: DataFrame, idCol: String, textCol: String,
      inDomain: Column): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"), inDomain.as("in_dom"),
      explode(tokens(col(textCol))).as("tok"))
    val perDoc = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
    val gen = toks.groupBy("tok").agg(count(lit(1)).as("gcnt"))
    val ind = toks.where(col("in_dom")).groupBy("tok").agg(count(lit(1)).as("icnt"))
    val consts = gen.agg(sum("gcnt").cast("long").as("n_gen"),
      count(lit(1)).cast("long").as("v"))
    val nIn = toks.where(col("in_dom")).agg(count(lit(1)).cast("long").as("n_in"))
    val termIn = log((col("n_in") + col("v")).cast("double")) -
      log((coalesce(col("icnt"), lit(0L)) + 1).cast("double"))
    val termGen = log((col("n_gen") + col("v")).cast("double")) -
      log((col("gcnt") + 1).cast("double"))
    val deltaR6 = round(
      (sum(col("cnt") * termIn) - sum(col("cnt") * termGen)) / sum(col("cnt")), 6)
    perDoc
      .join(gen, "tok")
      .join(ind, Seq("tok"), "left")
      .crossJoin(broadcast(consts)) // bounded: one row
      .crossJoin(broadcast(nIn))    // bounded: one row
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_tok"),
        round(sum(col("cnt") * termIn) / sum(col("cnt")), 6).as("nll_in"),
        round(sum(col("cnt") * termGen) / sum(col("cnt")), 6).as("nll_gen"),
        deltaR6.as("delta"),
        (deltaR6 <= 0.0).cast("long").as("selected"))
  }

  /** DSIR importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how target-domain-like its HASHED n-gram features are —
    * log w(d) = Σ_b c_d[b] · (ln p_tgt[b] − ln p_src[b]) over B hash
    * buckets of unigram+bigram features, Laplace-smoothed bucket
    * distributions. The hashing is the method's point: B is FIXED
    * regardless of vocabulary, so the model stays B-sized at 100 TB
    * where Moore-Lewis ([[mooreLewisScores]]) carries the full vocab.
    * `selected` = (rounded log w > 0): target-leaning documents; the
    * published pipeline then Gumbel-resamples by these weights — the
    * q108/q138 machinery, composable downstream.
    *
    * Scale shape: one explode + two B-row bucket aggregations
    * (broadcast back), a 1-row totals broadcast, map-side-combinable
    * per-doc sums. */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      inDomain: Column, nBuckets: Int = 64): DataFrame = {
    val feats = df.select(col(idCol).as("doc_id"), inDomain.as("in_dom"),
      explode(concat(
        tokenNgramHashesAll(col(textCol), 1),
        tokenNgramHashesAll(col(textCol), 2))).as("h"))
      .withColumn("b", pmod(col("h"), lit(nBuckets.toLong)))
    val perDoc = feats.groupBy("doc_id", "b").agg(count(lit(1)).as("cnt"))
    val tgt = feats.where(col("in_dom")).groupBy("b").agg(count(lit(1)).as("tcnt"))
    val src = feats.where(!col("in_dom")).groupBy("b").agg(count(lit(1)).as("scnt"))
    val consts = feats.agg(
      sum(when(col("in_dom"), 1L).otherwise(0L)).cast("long").as("n_t"),
      sum(when(!col("in_dom"), 1L).otherwise(0L)).cast("long").as("n_s"))
    val term =
      (log((coalesce(col("tcnt"), lit(0L)) + 1).cast("double")) -
        log((col("n_t") + nBuckets).cast("double"))) -
      (log((coalesce(col("scnt"), lit(0L)) + 1).cast("double")) -
        log((col("n_s") + nBuckets).cast("double")))
    val logwR6 = round(sum(col("cnt") * term), 6)
    perDoc
      .join(broadcast(tgt), Seq("b"), "left")
      .join(broadcast(src), Seq("b"), "left")
      .crossJoin(broadcast(consts)) // bounded: one row
      .groupBy("doc_id")
      .agg(sum("cnt").cast("long").as("n_feat"),
        logwR6.as("logw"),
        (logwR6 > 0.0).cast("long").as("selected"))
  }

  /** Okapi BM25 document scoring against a fixed query-term set
    * (Robertson et al., TREC-3; the idf form is Lucene's shifted-log
    * variant ln(1 + (N - df + 0.5)/(df + 0.5)), always positive):
    *
    *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) /
    *                        (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    *
    * — the standard lexical relevance scorer, used in pipelines for
    * retrieval-based curation (pulling domain-relevant documents by
    * keyword probes) and as the sparse half of hybrid search next to the
    * ANN operators. Emits (doc_id, n_hit_terms, score) for documents
    * matching at least one query term; score rounded to 6 dp.
    *
    * Scale shape: the query is a bounded literal list (an `isin` filter
    * pushed into the token explode), so the per-doc tf frame holds only
    * query-term hits; df comes from a query-sized aggregation and rides
    * a broadcast; N and avgdl are a 1-row broadcast; doc lengths join
    * back on the id equi-join. Nothing scans more than once. */
  def bm25Scores(df: DataFrame, idCol: String, textCol: String,
      query: Seq[String], k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      explode(tokens(col(textCol))).as("tok"))
    val docLen = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val consts = docLen.agg(count(lit(1)).cast("long").as("n_docs"),
      sum("dl").cast("long").as("tot_len"))
    val hits = toks.where(col("tok").isin(query.map(q => q: Any): _*))
    val tf = hits.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val avgdl = col("tot_len").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + 0.5) /
        (col("df").cast("double") + 0.5))
    val term = idf * (col("tf").cast("double") * (k1 + 1.0)) /
      (col("tf").cast("double") +
        lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / avgdl))
    tf.join(broadcast(dfreq), "tok") // bounded: <= |query| rows
      .join(docLen, "doc_id")
      .crossJoin(broadcast(consts)) // bounded: one row
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_hit_terms"),
        round(sum(term), 6).as("score"))
  }

  /** Gopher-style repetition quality signals per document (Rae et al.
    * 2021 §A1.1 "repetition" filters, the public rule family): duplicate-
    * token fraction (1 − distinct/total) and top-token dominance
    * (most-frequent-token count / total). One groupBy(doc, token) +
    * groupBy(doc) — map-side combinable, no per-doc state beyond counts;
    * ratios are single int/int IEEE divisions, so the oracle hashes them
    * without rounding. */
  def repetitionMetrics(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perTok = df
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("cnt"))
    perTok.groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_tok"), count(lit(1)).as("n_distinct"),
        max(col("cnt")).as("top_cnt"))
      .select(col(idCol), col("n_tok"), col("n_distinct"), col("top_cnt"),
        (lit(1.0) - col("n_distinct").cast("double") / col("n_tok").cast("double"))
          .as("dup_frac"),
        (col("top_cnt").cast("double") / col("n_tok").cast("double")).as("top_frac"))
  }

  /** TF-IDF top terms per document: tf = raw in-doc count, idf =
    * ln(N/df) over the corpus, ranked (score desc, token) within each
    * document; everything else is two hash aggregations.
    *
    * The document-frequency join is SIZE-GATED, not force-broadcast:
    * vocabularies are unbounded (typos, code, UTF soup — a 100 TB corpus
    * has billions of distinct tokens), so an unconditional broadcast of
    * docFreq is a driver/executor OOM at scale. The join is a plain
    * equi-join and AQE picks: it observes the REAL docFreq shuffle size
    * at runtime and converts to broadcast only under
    * `spark.sql.autoBroadcastJoinThreshold` — the byte budget, enforced
    * by the engine. The 100 TB setting is that threshold at `-1`: a
    * shuffled join whose build side is one vocab partition, never a
    * whole-vocab driver copy. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // floored (tokenize is CPU-dense per-row work — single-task on a
    // one-split corpus) and cached: the scoring join reads perTok AND
    // docFreq derives from it, and without the cache column pruning
    // specializes the exchange per branch so tokenize runs twice.
    // perTok is the (doc, tok, tf) aggregate — corpus-vocabulary
    // bounded; released by the consuming wrapper.
    // partition-VISIBLE floor cache: floor repartition + tokenize
    // explode + (doc, tok) aggregation in ONE plan (the agg clusters on
    // a superset of the doc key, reusing the repartition exchange), the
    // cache declaring hash(doc) — the top-k window partitioned by the
    // doc key then plans no exchange over the scoring join's streaming
    // side
    val perTok = graft.core.Caching.persist(
      df.select(col(idCol), col(textCol)), Seq(idCol),
      narrow = _.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
        .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))).df
    val docFreq = perTok.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = df.select(count(lit(1)).as("n_docs"))
    // rank by the ROUNDED score: two tokens with mathematically equal
    // tf·idf via different (tf, df) pairs (2·ln x == ln x²) must order
    // identically across engines, and 6 dp absorbs the libm ln ulp; the
    // tie-break is the token's integer hash, not the string, so no
    // cross-engine collation assumption is needed
    val scored = perTok
      .join(docFreq, "tok")
      .crossJoin(broadcast(n))
      .withColumn("score_r6",
        round(col("tf").cast("double")
          * log(col("n_docs").cast("double") / col("df").cast("double")), 6))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("score_r6").desc, polyHash(col("tok")))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .where(col("rnk") <= k)
      .select(col(idCol), col("rnk"), col("tok"), col("score_r6"))
  }

  // ---- C4-style corpus cleaning (Raffel et al. 2020, §2.2) --------------
  // The line/page rule family every crawl-derived pretraining corpus runs
  // after text extraction. Reference scope: the quality gates of
  // convml_data's per-scene completeness filters generalized to documents
  // (convml_data/pipeline/scene_sources.py gate pattern); rules follow the
  // published C4 heuristics. Pure per-row array work — no shuffle.

  /** A line survives C4 iff it ends in terminal punctuation (period,
    * exclamation, question mark, or closing quote), has >= 3 words, and
    * does not mention javascript. */
  def c4LineKeep(l: Column): Column =
    l.rlike("[.!?\"]$") && (size(split(l, " ")) >= 3) &&
      !l.contains("javascript")

  def c4KeptLines(lines: Column): Column = filter(lines, l => c4LineKeep(l))

  /** Page-level C4 gate: >= 5 surviving lines (the "sentences" proxy), no
    * lorem-ipsum boilerplate, no curly brace (code leakage) anywhere. */
  def c4PageKeep(lines: Column, nKept: Column): Column = {
    val page = array_join(lines, "\n")
    (nKept >= 5) && !page.contains("lorem ipsum") && !page.contains("{")
  }

  // ---- Gopher document-quality rules (Rae et al. 2021, Appendix A1.1) ---
  // Word-level and line-shape thresholds; every comparison below is kept
  // in integer arithmetic (cross-multiplied ratios) so the DuckDB oracle
  // replay is exact with no FP divisions.

  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Number of DISTINCT Gopher stop words present (8-term sum of
    * membership tests — deterministic, no set ops). */
  def gopherStopHits(toks: Column): Column =
    GopherStops.map(s => array_contains(toks, s).cast("int")).reduce(_ + _)

  /** Count of pure symbol words ('#' or '...') — the hash/ellipsis
    * symbol-to-word ratio numerator. */
  def gopherSymbolWords(toks: Column): Column =
    size(filter(toks, w => w === "#" || w === "..."))

  /** Count of words containing at least one alphabetic character. */
  def gopherAlphaWords(toks: Column): Column =
    size(filter(toks, w => w.rlike("[a-z]")))

  /** The assembled Gopher keep decision from pre-computed counts.
    * Thresholds: 50 <= n_words <= 100000; mean word length in [3,10]
    * (scaled-by-100 integer mw_c in [300,1000]); symbol words <= 10% of
    * words; alpha words >= 80%; >= 2 distinct stop words; bullet-started
    * lines < 90%; ellipsis-ended lines <= 30%. */
  def gopherKeep(nWords: Column, mwC: Column, nSym: Column, nAlpha: Column,
      nStop: Column, nLines: Column, nBullet: Column, nEll: Column): Column =
    (nWords >= 50) && (nWords <= 100000) &&
      (mwC >= 300) && (mwC <= 1000) &&
      (nSym * 10 <= nWords) &&
      (nAlpha * 5 >= nWords * 4) &&
      (nStop >= 2) &&
      (nBullet * 10 < nLines * 9) &&
      (nEll * 10 <= nLines * 3)
}
