package graft.plans

import graft.SparkSpec
import graft.functions.TextAnalysis
import graft.operators.HofForms
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

class TokenNgramHashesSpec extends SparkSpec {
  import spark.implicits._

  test("native kernel equals the HOF reference on corpus text, n = 3 and 5") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001").select("text")
    for (n <- Seq(3, 5)) {
      val diff = docs.select(
        TextAnalysis.tokenNgramHashesAll(col("text"), n).as("fast"),
        HofForms.tokenNgramHashesAllHof(col("text"), n).as("ref"))
        .where(col("fast") =!= col("ref")).count()
      assert(diff == 0, s"n=$n")
    }
  }

  test("property: random token arrays incl. multi-byte and empties match the HOF form") {
    val params = SCTest.Parameters.default.withMinSuccessfulTests(30)
      .withInitialSeed(org.scalacheck.rng.Seed(61L))
    val tokGen = Gen.oneOf(Gen.alphaNumStr.map(_.take(6)), Gen.const(""),
      Gen.const("héllo"), Gen.const("日本語"))
    val gen = for {
      m <- Gen.choose(0, 25)
      toks <- Gen.listOfN(m, tokGen)
      n <- Gen.choose(1, 6)
    } yield (toks, n)
    val res = SCTest.check(params, Prop.forAll(gen) { case (toks, n) =>
      // drive the expression on a literal token array (bypasses tokens())
      import org.apache.spark.sql.GraftColumnBridge.{column, expression}
      val arr = array(toks.map(lit): _*).cast("array<string>")
      val fast = column(TokenNgramHashes(expression(arr), n))
      val ref =
        if (toks.size >= n)
          transform(sequence(lit(0), lit(toks.size - n)),
            i => TextAnalysis.polyHash(concat_ws(" ", slice(arr, i + lit(1), lit(n)))))
        else array().cast("array<long>")
      val row = spark.range(1).select(fast.as("f"), ref.as("r")).head()
      row.getSeq[Long](0) == row.getSeq[Long](1)
    })
    assert(res.passed, res.status.toString)
  }

  test("null tokens follow concat_ws skip semantics; SQL surface registered") {
    import org.apache.spark.sql.GraftColumnBridge.{column, expression}
    val arr = expr("array('a', cast(null as string), 'b', 'c')")
    val fast = column(TokenNgramHashes(expression(arr), 2))
    val ref = transform(sequence(lit(0), lit(2)),
      i => TextAnalysis.polyHash(concat_ws(" ", slice(arr, i + lit(1), lit(2)))))
    val row = spark.range(1).select(fast.as("f"), ref.as("r")).head()
    assert(row.getSeq[Long](0) == row.getSeq[Long](1))
    Functions.register(spark)
    val viaSql = spark.sql(
      "SELECT token_ngram_hashes(array('x','y','z'), 2) AS h").head().getSeq[Long](0)
    assert(viaSql.size == 2)
  }
}
