package graft.plans

import graft.SparkSpec
import graft.operators.{Dedup, HofForms}
import org.apache.spark.sql.functions._

class ShingleHashesSpec extends SparkSpec {
  import spark.implicits._

  test("native one-pass kernel equals the HOF reference on corpus text") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001").select("text")
    val diff = docs.select(
      Dedup.shingleHashes(col("text")).as("fast"),
      HofForms.shingleHashesHof(col("text")).as("ref"))
      .where(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("edge cases: short/empty strings, collisions dedup, non-ASCII slow path") {
    val cases = Seq("", "ab", "abc", "abcd", "aaaaaa", "héllo wörld", "日本語テキスト")
    val df = cases.toDF("s")
    val rows = df.select(col("s"),
      Dedup.shingleHashes(col("s")).as("fast"),
      HofForms.shingleHashesHof(col("s")).as("ref")).collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"mismatch for '${r.getString(0)}'")
    }
    // shorter than n -> empty; repeated grams dedup to one sorted entry
    val m = rows.map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(m("").isEmpty && m("ab").isEmpty)
    assert(m("abc").length == 1)
    assert(m("aaaaaa").length == 1) // all grams identical
    assert(m("abcd").length == 2 && m("abcd") == m("abcd").sorted)
  }

  test("native MinHashSig equals the HOF form (incl. empty-set null contract)") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001").select("text")
    val xs = Dedup.shingleHashes(col("text"))
    val fast = Dedup.minhashCols(xs, 8)
    val ref = HofForms.minhashColsHof(xs, 8)
    val diff = docs.select(
      (fast.map { case (n, c) => c.as(n + "_f") } ++
        ref.map { case (n, c) => c.as(n + "_r") }): _*)
      .where((0 until 8).map(i =>
        !(col(s"mh${i}_f") <=> col(s"mh${i}_r"))).reduce(_ || _))
      .count()
    assert(diff == 0)
    // coefficient schedules agree between the expression and the operator
    (0 until 16).foreach { i =>
      assert(graft.plans.MinHashSig.aCoef(i) == Dedup.aCoef(i))
      assert(graft.plans.MinHashSig.bCoef(i) == Dedup.bCoef(i))
    }
    // empty shingle set -> null signature elements, matching the HOF form
    val empty = Seq("ab").toDF("text") // shorter than n=3 -> empty set
    val r = empty.select(
      Dedup.minhashCols(Dedup.shingleHashes(col("text")), 2).map { case (n, c) => c.as(n) }: _*)
      .collect().head
    assert(r.isNullAt(0) && r.isNullAt(1))
  }

  test("native SimHash16 equals the HOF form on corpus text") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001").select("text")
    val diff = docs.select(
      Dedup.simhash16(col("text")).as("fast"),
      HofForms.simhash16Hof(col("text")).as("ref"))
      .where(col("fast") =!= col("ref")).count()
    assert(diff == 0)
    // empty text: split yields [""], so the "majority" is the single
    // empty-token hash (seed 7) — the HOF form agrees
    val z = Seq("").toDF("text")
      .select(Dedup.simhash16(col("text")).as("f"), HofForms.simhash16Hof(col("text")).as("r"))
      .collect().head
    assert(z.getLong(0) == z.getLong(1) && z.getLong(0) == 7L)
  }

  test("interpreted equals codegen and the SQL registration works") {
    graft.plans.Functions.register(spark)
    // full SQL-surface chain: text -> shingles -> signature
    val sqlSig = spark.sql(
      "SELECT minhash_sig(shingle_hashes('abcabc', 3), 4)").as[Seq[Long]].head()
    assert(sqlSig.length == 4)
    val viaSql = spark.sql("SELECT shingle_hashes('abcab', 3)").as[Seq[Long]].head()
    val viaDf = Seq("abcab").toDF("s").select(Dedup.shingleHashes(col("s"))).as[Seq[Long]].head()
    assert(viaSql == viaDf && viaSql.length == 3) // abc, bca, cab
    withoutCodegen {
      val interp = Seq("abcab").toDF("s").select(Dedup.shingleHashes(col("s"))).as[Seq[Long]].head()
      assert(interp == viaDf)
    }
  }
}
