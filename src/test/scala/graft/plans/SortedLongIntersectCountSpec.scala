package graft.plans

import graft.SparkSpec
import graft.operators.Dedup
import org.apache.spark.sql.functions._

class SortedLongIntersectCountSpec extends SparkSpec {
  import spark.implicits._

  test("merge-walk count equals size(array_intersect) on sorted sets") {
    val rows = (1 to 200).map { i =>
      val a = (1 to 50).map(k => (k.toLong * i) % 97).distinct.sorted
      val b = (1 to 50).map(k => (k.toLong * (i + 3)) % 97).distinct.sorted
      (a, b)
    }
    val df = rows.toDF("a", "b")
    val diff = df.select(
      org.apache.spark.sql.GraftColumnBridge.column(
        SortedLongIntersectCount(
          org.apache.spark.sql.GraftColumnBridge.expression(col("a")),
          org.apache.spark.sql.GraftColumnBridge.expression(col("b")))).as("fast"),
      size(array_intersect(col("a"), col("b"))).cast("long").as("ref"))
      .where(col("fast") =!= col("ref")).count()
    assert(diff == 0)
  }

  test("jaccardSorted matches set-jaccard and handles disjoint/identical") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),   // identical -> 1.0
      (Seq(1L, 2L), Seq(3L, 4L)),            // disjoint -> 0.0
      (Seq(1L, 2L, 3L, 4L), Seq(3L, 4L, 5L)) // 2 / 5
    ).toDF("a", "b")
    val out = df.select(Dedup.jaccardSorted(col("a"), col("b"))).as[Double].collect()
    assert(out.toSeq == Seq(1.0, 0.0, 0.4))
  }

  test("jaccardSortedGe: exact above threshold, filter-equivalent below, both eval paths") {
    val rnd = new scala.util.Random(20260819L)
    val rows = (1 to 400).map { _ =>
      val n = 1 + rnd.nextInt(60)
      val m = 1 + rnd.nextInt(60)
      val base = (1 to n).map(_ => rnd.nextInt(80).toLong).distinct.sorted
      val other = (1 to m).map(_ => rnd.nextInt(80).toLong).distinct.sorted
      (base, other)
    } :+ ((Seq(1L, 2L), Seq(1L, 2L)))
    val df = rows.toDF("a", "b")
    // two EMPTY sets: the reference cast-division throws under ANSI;
    // the kernel's NaN never passes the >= filter (strictly more robust)
    val nan = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
      .select(Dedup.jaccardSortedGe(col("a"), col("b"), 0.5)).as[Double].head()
    assert(!(nan >= 0.5))
    for (t <- Seq(0.0, 0.3, 0.7, 1.0)) {
      def check(): Unit = {
        val got = df.select(Dedup.jaccardSortedGe(col("a"), col("b"), t).as("g"),
          Dedup.jaccardSorted(col("a"), col("b")).as("r")).collect()
        got.foreach { r =>
          val g = r.getDouble(0); val ref = r.getDouble(1)
          if (ref >= t) assert(g == ref, s"passing pair must be exact: $g vs $ref @ $t")
          else assert(!(g >= t), s"failing pair must still fail the filter: $g vs $ref @ $t")
        }
      }
      check()
      withoutCodegen(check())
    }
  }

  test("interpreted (no-codegen) path agrees with codegen path") {
    val df = Seq((Seq(1L, 5L, 9L), Seq(5L, 9L, 11L))).toDF("a", "b")
    def run(): Double = df.select(Dedup.jaccardSorted(col("a"), col("b"))).as[Double].head()
    val withCodegen = run()
    withoutCodegen(assert(run() == withCodegen && withCodegen == 0.5))
  }
}
