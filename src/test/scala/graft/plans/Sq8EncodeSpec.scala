package graft.plans

import graft.SparkSpec
import graft.operators.{HofForms, Sq8}
import org.apache.spark.sql.functions._

/** Native Sq8Encode vs the HOF reference form (HofForms.sq8EncodeHof): the codes
  * must be bit-identical on every vector the operator can produce,
  * including the degenerate (mx == mn) dimension, clamp edges (values
  * outside the fitted bounds) and non-finite elements, on BOTH the
  * codegen and interpreted evaluation paths. */
class Sq8EncodeSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 8

  private def model: Sq8.Model = Sq8.Model(
    IndexedSeq(-1.0, -0.5, 0.0, 0.25, -2.0, 1.0, -1.0, 0.0),
    IndexedSeq(1.0, 0.5, 2.0, 0.25, 2.0, 3.0, -1.0, 1e-3))

  private def rows: Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(20260819L)
    val random = (0 until 200).map { i =>
      (i.toLong, Array.tabulate(Dim)(_ => rnd.nextFloat() * 6f - 3f))
    }
    val edges = Seq(
      (1000L, Array.fill(Dim)(Float.NaN)),
      (1001L, Array.fill(Dim)(Float.PositiveInfinity)),
      (1002L, Array.fill(Dim)(Float.NegativeInfinity)),
      (1003L, Array.fill(Dim)(0f)),
      (1004L, Array.tabulate(Dim)(j => if (j % 2 == 0) 1e30f else -1e30f)))
    random ++ edges
  }

  private def assertParity(): Unit = {
    val df = rows.toDF("vec_id", "embedding")
    val diff = df.select(
      Sq8.encode(col("embedding"), model).as("fast"),
      HofForms.sq8EncodeHof(col("embedding"), model).as("ref"))
      .where(not(col("fast") <=> col("ref"))).count()
    assert(diff == 0, "native Sq8Encode diverged from the HOF form")
  }

  test("native == HOF on random + edge vectors (codegen path)") {
    assertParity()
  }

  test("native == HOF on random + edge vectors (interpreted path)") {
    withoutCodegen(assertParity())
  }

  test("double-typed input arrays encode identically through both forms") {
    val df = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
    val diff = df.select(
      Sq8.encode(col("embedding"), model).as("fast"),
      HofForms.sq8EncodeHof(col("embedding"), model).as("ref"))
      .where(not(col("fast") <=> col("ref"))).count()
    assert(diff == 0)
  }
}
