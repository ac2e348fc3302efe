package graft.operators

import graft.SparkSpec

import org.apache.spark.sql.functions._

/** Native CellArgmin vs the HOF reference (array_min over cellDists):
  * bit-for-bit equality on float and double inputs including planted
  * exact ties (the (d2, cell) tie-break). */
class CellArgminSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 6
  private def cents: Seq[Seq[Double]] =
    Seq.tabulate(5, Dim)((k, j) => ((k * 7 + j * 3) % 11 - 5) / 4.0).map(_.toSeq)

  test("native == array_min(cellDists) on 80 float vectors") {
    val rows = (0 until 80).map { i =>
      (i.toLong, Array.tabulate(Dim)(j =>
        (((i * 2654435761L + j * 40503L) % 1000L) / 250.0f) - 2.0f))
    }
    val df = rows.toDF("id", "v")
    val got = df.select(col("id"),
      Similarity.cellArgmin(col("v"), cents).as("n"),
      array_min(Similarity.cellDists(col("v"), cents)).as("h"))
      .select(col("id"), col("n.d2"), col("n.cell"), col("h.d2"), col("h.cell"))
      .as[(Long, Double, Int, Double, Int)].collect()
    assert(got.length === 80)
    got.foreach { case (id, nd, nc, hd, hc) =>
      assert(java.lang.Double.doubleToLongBits(nd) ===
        java.lang.Double.doubleToLongBits(hd), s"vec $id d2")
      assert(nc === hc, s"vec $id cell")
    }
  }

  test("native SqL2Dist == the zip_with fold bit-for-bit (float and double)") {
    val rows = (0 until 60).map { i =>
      val a = Array.tabulate(Dim)(j =>
        (((i * 2654435761L + j * 40503L) % 1000L) / 250.0) - 2.0)
      val b = Array.tabulate(Dim)(j =>
        (((i * 48271L + j * 69621L) % 1000L) / 250.0) - 2.0)
      (i.toLong, a, b)
    }
    val df = rows.toDF("id", "a", "b")
    val hof = aggregate(
      zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
    val got = df.select(col("id"),
      Similarity.sqL2(col("a"), col("b")).as("n"), hof.as("h"))
      .as[(Long, Double, Double)].collect()
    got.foreach { case (id, n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ===
        java.lang.Double.doubleToLongBits(h), s"row $id: $n != $h")
    }
    // float side widens per element exactly like x.cast(double)
    val fdf = rows.map { case (id, a, b) =>
      (id, a.map(_.toFloat), b.map(_.toFloat))
    }.toDF("id", "a", "b")
    val fhof = aggregate(
      zip_with(col("a"), col("b"),
        (x, y) => (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    val fgot = fdf.select(col("id"),
      Similarity.sqL2(col("a"), col("b")).as("n"), fhof.as("h"))
      .as[(Long, Double, Double)].collect()
    fgot.foreach { case (id, n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ===
        java.lang.Double.doubleToLongBits(h), s"float row $id: $n != $h")
    }
  }

  test("native == array_min(cellDists) on double vectors with exact ties") {
    // centroids 0 and 1 equidistant from the midpoint -> tie breaks to 0
    val tieCents = Seq(Seq(0.0, 0.0), Seq(2.0, 0.0), Seq(10.0, 10.0))
    val rows = Seq((1L, Array(1.0, 0.0)), (2L, Array(1.0, 5.0)),
      (3L, Array(9.0, 9.0)))
    val df = rows.toDF("id", "v")
    val got = df.select(col("id"),
      Similarity.cellArgmin(col("v"), tieCents).as("n"),
      array_min(Similarity.cellDists(col("v"), tieCents)).as("h"))
      .select(col("id"), col("n.d2"), col("n.cell"), col("h.d2"), col("h.cell"))
      .as[(Long, Double, Int, Double, Int)].collect().sortBy(_._1)
    got.foreach { case (id, nd, nc, hd, hc) =>
      assert(nd === hd, s"vec $id"); assert(nc === hc, s"vec $id")
    }
    assert(got.map(_._3).toSeq === Seq(0, 0, 2)) // ties -> lowest cell
  }
}
