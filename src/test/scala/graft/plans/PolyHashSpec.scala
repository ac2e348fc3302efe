package graft.plans

import graft.SparkSpec
import graft.functions.TextAnalysis
import org.apache.spark.sql.functions._

class PolyHashSpec extends SparkSpec {
  import spark.implicits._

  test("native byte loop equals the HOF reference on ASCII corpus text") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001").select("text")
    val diff = docs.select(
      TextAnalysis.polyHash(col("text")).as("fast"),
      TextAnalysis.polyHashHof(col("text")).as("ref"))
      .where(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("interpreted path equals codegen path and a hand computation") {
    // hand: fold over "ab": ((7*31+97)%P)*31+98 % P = (314*31+98) = 9832
    val df = Seq("ab").toDF("s")
    def run(): Long = df.select(TextAnalysis.polyHash(col("s"))).as[Long].head()
    val withCodegen = run()
    assert(withCodegen == (7L * 31 + 'a') * 31 + 'b')
    withoutCodegen(assert(run() == withCodegen))
    // empty string -> seed
    assert(Seq("").toDF("s").select(TextAnalysis.polyHash(col("s"))).as[Long].head() == 7L)
  }
}
