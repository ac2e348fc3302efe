package graft.operators

import graft.SparkSpec
import graft.functions.TextAnalysis
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("exactDedup groups identical content, keeps min id") {
    val df = Seq((1L, "hello world"), (2L, "hello world"), (3L, "other")).toDF("id", "text")
    val out = Dedup.exactDedup(df, col("id"), col("text"))
      .select("canonical_id", "n_copies").as[(Long, Long)].collect().sortBy(_._1)
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L)))
  }

  test("jaccard is |intersect|/|union| on distinct sets") {
    val df = Seq((Seq("ab", "bc", "cd"), Seq("bc", "cd", "de"))).toDF("a", "b")
    val j = df.select(Dedup.jaccard(col("a"), col("b"))).as[Double].head()
    assert(j == 2.0 / 4.0)
  }

  test("identical docs get identical minhash signatures; near-dup pair found") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "completely different content with zero overlap whatsoever xyzzy")
    ).toDF("doc_id", "text")
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", k = 8).collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(sig(1L) == sig(2L))
    assert(sig(1L) != sig(3L))
    val pairs = Dedup.lshNearDupPairs(docs, "doc_id", "text", k = 8, bands = 4, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect()
    assert(pairs.toSeq == Seq((1L, 2L)))
  }

  test("cross-corpus LSH: finds the A-B near-dup, never pairs within a " +
    "side, and decontaminate drops exactly the dirty train docs") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and once"),
      (3L, "entirely different content about databases and query engines"),
      (4L, "entirely different content about databases and query planes"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again"),
      (102L, "unrelated holdout text mentioning satellites and optics"))
      .toDF("doc_id", "text")
    val pairs = Dedup.lshCrossCorpusPairs(train, eval, "doc_id", "text",
      k = 8, bands = 4, threshold = 0.6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // doc 1 is an exact copy of 101 and must pair; doc 2 is a near-dup;
    // train-train near-dups (3~4) must NOT appear — sides stay distinct
    assert(pairs.contains((1L, 101L)), s"missing exact cross pair: $pairs")
    assert(pairs.forall { case (a, b) => a <= 4L && b >= 101L },
      s"pair outside the A x B contract: $pairs")
    val kept = Dedup.lshDecontaminate(train, eval, "doc_id", "text",
      k = 8, bands = 4, threshold = 0.6)
      .select("doc_id").as[Long].collect().toSet
    val dirty = pairs.map(_._1)
    assert(kept == Set(1L, 2L, 3L, 4L) -- dirty,
      s"decontaminate kept $kept with dirty $dirty")
    assert(!kept.contains(1L))
  }

  test("simhash identical for identical text, differs for disjoint text") {
    val df = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma"), (3L, "qq ww ee rr tt yy uu ii")).toDF("id", "t")
    val out = df.select(col("id"), Dedup.simhash16(col("t")).as("sh")).as[(Long, Long)].collect().toMap
    assert(out(1L) == out(2L))
    assert(out(1L) != out(3L))
  }

  test("cosine: identical=1, orthogonal=0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 2.0f))).toDF("a", "b", "c")
    val (same, orth) = df.select(
      Similarity.cosine(col("a"), col("b")), Similarity.cosine(col("a"), col("c")))
      .as[(Double, Double)].head()
    assert(math.abs(same - 1.0) < 1e-12 && orth == 0.0)
  }

  test("native FloatDotProduct is bit-identical to the HOF fold on the real table") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val mismatches = emb.select(
      Similarity.dot(col("embedding"), col("embedding")).as("native"),
      HofForms.dotHof(col("embedding"), col("embedding")).as("hof"))
      .where(col("native") =!= col("hof")).count()
    assert(mismatches == 0, s"$mismatches rows diverge between native and HOF dot")
  }

  test("float x double dot (the centroid-similarity shape) matches the HOF fold") {
    // float vector against a plan-embedded double centroid — the
    // withCentSim per-row expression; native must stay bit-identical
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("cd", transform(col("embedding"),
        x => x.cast("double") * 1.7 - 0.3))
    val mismatches = emb.select(
      Similarity.dot(col("embedding"), col("cd")).as("native"),
      HofForms.dotHof(col("embedding"), col("cd")).as("hof"))
      .where(col("native") =!= col("hof")).count()
    assert(mismatches == 0, s"$mismatches rows diverge on float x double dot")
  }

  test("withCentSim's literal-norm similarity equals the interpreted HOF form") {
    // the full cent_sim expression: native dot / (nv * precomputed-norm
    // literal) must be bit-identical to the HOF dot / (nv * per-row
    // sqrt-fold) — same left-to-right Σc² + sqrt, folded once in Scala
    val cents: Seq[Seq[Double]] =
      Seq.tabulate(4, 64)((k, j) => ((k * 29 + j * 7) % 11 - 5) / 4.0)
    val centNorms: Seq[Double] =
      cents.map(c => math.sqrt(c.foldLeft(0.0)((acc, x) => acc + x * x)))
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .withColumn("cell", pmod(xxhash64(col("vec_id")), lit(4)).cast("int"))
      .withColumn("nv", Similarity.norm(col("embedding")))
    def centArr = element_at(typedlit(cents), col("cell") + 1)
    val mismatches = emb.select(
      round(Similarity.dot(col("embedding"), centArr)
        / (col("nv") * element_at(typedlit(centNorms), col("cell") + 1)), 6)
        .as("native"),
      HofForms.centSimHof(col("embedding"), centArr, col("nv")).as("hof"))
      .where(col("native") =!= col("hof")).count()
    assert(mismatches == 0, s"$mismatches rows diverge on cent_sim")
  }

  test("bruteForceTopK ranks by cosine desc, excludes self") {
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs.where(col("vec_id") === 1), vecs, k = 2)
      .select("neighbor_id", "rnk").as[(Long, Long)].collect().sortBy(_._2)
    assert(out.toSeq == Seq((2L, 1L), (3L, 2L)))
  }

  test("langGuess picks marker-dominant language") {
    val df = Seq("the cat and the dog is a pet", "der hund und die katze ist da")
      .toDF("text")
    val out = df.select(TextAnalysis.langGuess(TextAnalysis.tokens(col("text"))))
      .as[String].collect()
    assert(out.toSeq == Seq("en", "de"))
  }

  test("charNgrams guards short strings") {
    val df = Seq("ab").toDF("t")
    assert(df.select(TextAnalysis.charNgrams(col("t"), 3)).as[Seq[String]].head().isEmpty)
  }

  test("decontaminate counts distinct colliding token n-grams against the benchmark") {
    // benchmark gram set: {"a b c", "b c d"}; doc 1 shares both, doc 2
    // shares one (twice in text — still ONE distinct gram), doc 3 none,
    // doc 4 is shorter than n and yields no output row
    val train = Seq(
      (1L, "a b c d"),
      (2L, "x b c d y b c d"),
      (3L, "p q r s"),
      (4L, "a b")).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val got = TextAnalysis.decontaminate(train, bench, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((2L, 1L)), 2L -> ((1L, 1L)), 3L -> ((0L, 0L))))
  }

  test("unigramLmScores: hand-computed corpus nll, 6-dp rounded") {
    // corpus: tokens a a b | c -> vocab a:2 b:1 c:1, total 4
    // doc 1: (2 ln(4/2) + ln(4/1)) / 3 = 4 ln 2 / 3; doc 2: ln 4
    val df = Seq((1L, "a a b"), (2L, "c")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLmScores(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((3L, r6(4 * math.log(2) / 3))))
    assert(got(2L) == ((1L, r6(math.log(4)))))
  }

  test("tokenNgramHashes guards texts shorter than n") {
    val df = Seq("a b").toDF("t")
    assert(df.select(TextAnalysis.tokenNgramHashes(col("t"), 3)).as[Seq[Long]].head().isEmpty)
  }

  test("connectedComponents collapses pair chains to min-id clusters") {
    // chain 1-2-3-4 (diameter 3), pair 10-11, self-contained 20-21-20
    val pairs = Seq((2L, 1L), (2L, 3L), (4L, 3L), (10L, 11L), (20L, 21L))
      .toDF("id_a", "id_b")
    val got = MinLabelCc.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    // non-convergence within maxIter fails loudly instead of silently
    // returning partial labels
    val longChain = (0L until 30L).sliding(2).map(s => (s(0), s(1))).toSeq
      .toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      MinLabelCc.connectedComponents(longChain, "id_a", "id_b", maxIter = 3)
    }
  }

  test("semDedup keeps one representative per group: lowest centroid similarity") {
    // 2-d, two explicit cells at (1,0) and (0,1). ids 1,2,3 land in cell
    // 0 and are mutually cosine>=0.9 (one group); 10 and 11 land in cell
    // 1 but their cosine ~0.04 stays below threshold (both kept).
    val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
    val vecs = Seq(
      1L -> Array(1.0f, 0.01f), 2L -> Array(0.9f, 0.02f),
      3L -> Array(0.95f, -0.01f),
      10L -> Array(0.01f, 1.0f), 11L -> Array(-1.0f, 0.05f))
      .toDF("vec_id", "embedding")
    val got = Similarity.semDedup(vecs, "vec_id", "embedding", cents, 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L))
    // group {1,2,3}: id 2 has the LOWEST cosine to (1,0) (its vector is
    // the most off-axis relative to its norm), so it is the survivor
    assert(got(1L)._2 == 2L && got(1L)._3 == 0L)
    assert(got(2L)._2 == 2L && got(2L)._3 == 1L)
    assert(got(3L)._2 == 2L && got(3L)._3 == 0L)
    // cell-1 residents are non-duplicates: each keeps itself
    assert(got(10L) == (1L, 10L, 1L) && got(11L) == (1L, 11L, 1L))
    // exactly one kept row per rep_id
    val keptPerRep = got.values.groupBy(_._2).map { case (rep, ms) =>
      rep -> ms.count(_._3 == 1L) }
    assert(keptPerRep.values.forall(_ == 1))
    // the production entry point (assignments provided by the fit, not
    // recomputed) is result-identical when fed the argmin cells
    val pre = Similarity.semDedupPreAssigned(
      vecs.withColumn("cell", when(col("vec_id") < 10L, 0).otherwise(1)),
      "vec_id", "embedding", "cell", cents, 0.9)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(3), r.getLong(4))).toMap
    assert(pre == got)
  }

  test("stratified mixing: rates apply per stratum, raising a rate keeps a superset") {
    val docs = (0L until 400L).map(i => (i, s"src${i % 4}")).toDF("doc_id", "source")
    def keptSet(rates: Seq[(String, Double)]) =
      Mixing.sampleDecisions(docs, "doc_id", "source", rates,
        defaultRate = 0.0, seed = 42L)
        .where(col("kept") === 1).select("doc_id")
        .collect().map(_.getLong(0)).toSet
    val low = keptSet(Seq("src0" -> 0.2, "src1" -> 1.0))
    val high = keptSet(Seq("src0" -> 0.7, "src1" -> 1.0))
    // monotone: the u per document never changes, so a higher rate can
    // only ADD documents — the property that makes mixture iteration
    // stable instead of a fresh redraw
    assert(low.subsetOf(high))
    assert(low.size < high.size)
    // rate 1.0 keeps everything in its stratum, rate 0.0 (default) drops
    // src2/src3 entirely
    assert(high.count(_ % 4 == 1) == 100)
    assert(high.forall(i => i % 4 == 0 || i % 4 == 1))
    // the kept fraction lands near the target (hash uniformity, exact
    // set pinned by the q97 oracle hash)
    val f0 = high.count(_ % 4 == 0) / 100.0
    assert(f0 > 0.5 && f0 < 0.9, s"src0 kept fraction $f0 far from 0.7")
    // filtered form drops the bookkeeping columns and the dropped rows
    val sampled = Mixing.stratifiedSample(docs, "doc_id", "source",
      Seq("src0" -> 0.7, "src1" -> 1.0), defaultRate = 0.0, seed = 42L)
    assert(sampled.columns.toSeq == Seq("doc_id", "source"))
    assert(sampled.collect().map(_.getLong(0)).toSet == high)
  }

  // naive reference for exact-substring span dedup: mark every position
  // of every >= minCount-occurring n-gram, union the [p, p+n) spans.
  private def naiveSpans(docs: Seq[(Long, String)], n: Int)
      : Map[Long, Seq[(Long, Long)]] = {
    def toks(t: String) = t.trim.toLowerCase.split("\\s+", -1).toSeq
    val grams = docs.flatMap { case (id, t) =>
      toks(t).sliding(n).filter(_.size == n).zipWithIndex
        .map { case (g, i) => (id, i, g.mkString(" ")) }
    }
    val counts = grams.groupBy(_._3).map { case (g, o) => g -> o.size }
    val marked = grams.filter(g => counts(g._3) >= 2)
      .groupBy(_._1).map { case (id, o) => id -> o.map(_._2).sorted }
    marked.map { case (id, ps) =>
      val spans = ps.foldLeft(List.empty[(Int, Int)]) {
        case ((s, e) :: rest, p) if p <= e => (s, math.max(e, p + n)) :: rest
        case (acc, p) => (p, p + n) :: acc
      }.reverse
      id -> spans.map { case (s, e) => (s.toLong, e.toLong) }
    }
  }

  test("duplicatedNgramSpans == naive position-mark-union on seeded corpora") {
    val rnd = new scala.util.Random(7)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    for (round <- 0 until 5) {
      val phrase = Seq.fill(8)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val docs = (0L until 20L).map { id =>
        val body = Seq.fill(6 + rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size)))
        // plant the shared phrase into some docs, repeat it within one
        val t =
          if (id % 3 == 0) (body.take(3) :+ phrase) ++ body.drop(3)
          else if (id == 7L) Seq(phrase, phrase)
          else body
        (id, t.mkString(" "))
      }
      val got = Dedup.duplicatedNgramSpans(docs.toDF("doc_id", "text"),
          "doc_id", "text", n = 4)
        .collect()
        .groupBy(_.getLong(0))
        .map { case (id, rows) =>
          id -> rows.sortBy(_.getLong(1)).map(r => (r.getLong(2), r.getLong(3))).toSeq
        }
      assert(got == naiveSpans(docs, 4), s"round $round")
    }
  }

  test("removeDuplicatedSpans drops exactly the marked tokens") {
    val docs = Seq(
      (1L, "a b c d e unique1 tail1 x"),
      (2L, "front2 a b c d e tail2"),
      (3L, "nothing shared here at all")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    assert(out(1L) == ((8L, 5L, "unique1 tail1 x")))
    assert(out(2L) == ((7L, 5L, "front2 tail2")))
    assert(out(3L) == ((5L, 0L, "nothing shared here at all")))
  }

  test("keepCanonical retains the lowest (doc_id, pos) occurrence of each duplicated span") {
    val docs = Seq(
      (1L, "a b c d e unique1 tail1 x"),
      (2L, "front2 a b c d e tail2"),
      (3L, "nothing shared here at all")).toDF("doc_id", "text")
    val out = Dedup.removeDuplicatedSpans(docs, "doc_id", "text", n = 5,
      keepCanonical = true)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3))))
      .toMap
    // doc 1 holds the canonical (lowest doc_id) copy of "a b c d e" — kept
    assert(out(1L) == ((8L, 0L, "a b c d e unique1 tail1 x")))
    assert(out(2L) == ((7L, 5L, "front2 tail2")))
    assert(out(3L) == ((5L, 0L, "nothing shared here at all")))
    // within one doc: the EARLIER occurrence is canonical
    val rep = Seq((9L, "p q r s t u p q r s t u")).toDF("doc_id", "text")
    val r9 = Dedup.removeDuplicatedSpans(rep, "doc_id", "text", n = 5,
      keepCanonical = true)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).head
    assert(r9 == ((12L, 6L, "p q r s t u")))
  }

  test("weightedSample: k per stratum, partition-invariant, weight-sensitive, rejects w<=0") {
    import org.apache.spark.sql.functions.col
    val rows = (0L until 400L).map(i =>
      (i, if (i % 2 == 0) "a" else "b", if (i < 40) 50.0 else 1.0))
    val df = rows.toDF("id", "stratum", "w")
    val got = Mixing.weightedSample(df, "id", "stratum", "w", k = 10, seed = 7L)
    val byStratum = got.collect().groupBy(_.getString(1))
    assert(byStratum.keySet == Set("a", "b") && byStratum.values.forall(_.length == 10))
    // deterministic under repartition: identical sample + ranks
    val got2 = Mixing.weightedSample(df.repartition(13), "id", "stratum", "w", 10, 7L)
    def keyRanks(d: org.apache.spark.sql.DataFrame) =
      d.select("id", "rk").as[(Long, Long)].collect().toSet
    assert(keyRanks(got2) == keyRanks(got))
    // weight sensitivity: the 40 heavy rows (10% of rows, weight 50x)
    // should dominate the sample across seeds
    val heavyWins = (1L to 5L).map { seed =>
      Mixing.weightedSample(df, "id", "stratum", "w", 10, seed)
        .where(col("id") < 40).count()
    }.sum
    assert(heavyWins > 60, s"heavy rows won only $heavyWins/100 slots")
    val bad = Seq((1L, "a", 0.0)).toDF("id", "stratum", "w")
    val e = intercept[Exception] {
      Mixing.weightedSample(bad, "id", "stratum", "w", 1, 7L).collect()
    }
    assert(e.getMessage.contains("non-positive weight")
      || e.getCause != null && e.getCause.getMessage.contains("non-positive weight"))
  }

  test("connectedComponents of an empty pairs input is an empty labeling") {
    // a corpus with zero near-dup pairs is the COMMON case for a clean
    // shard — must return empty, not NPE on the null sum-over-zero-rows
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(MinLabelCc.connectedComponents(empty, "id_a", "id_b").count() == 0L)
    assert(Dedup.connectedComponentsAltStar(empty, "id_a", "id_b").count() == 0L)
  }
}
