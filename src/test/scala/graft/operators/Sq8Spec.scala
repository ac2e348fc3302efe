package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Scalar quantization: encode vs a plain-Scala reference, endpoint and
  * degenerate-dimension behavior, reconstruction-error bound, and ADC
  * top-k equality with a brute-force search over dequantized vectors. */
class Sq8Spec extends SparkSpec {
  import spark.implicits._

  private val Dim = 8

  /** Deterministic pseudo-random vectors (plain Scala); dimension 3 is
    * held constant to exercise the degenerate mx == mn branch. */
  private def vec(seed: Int): Array[Float] =
    Array.tabulate(Dim) { j =>
      if (j == 3) 0.25f
      else (((seed * 2654435761L + j * 40503L) % 1000L) / 500.0f) - 1.0f
    }

  private def corpus(n: Int): Seq[(Long, Array[Float])] =
    (0 until n).map(i => (i.toLong, vec(i)))

  private def refModel(rows: Seq[(Long, Array[Float])]): Sq8.Model = {
    val mins = (0 until Dim).map(j => rows.map(_._2(j).toDouble).min)
    val maxs = (0 until Dim).map(j => rows.map(_._2(j).toDouble).max)
    Sq8.Model(mins.toIndexedSeq, maxs.toIndexedSeq)
  }

  private def refEncode(v: Array[Float], m: Sq8.Model): Seq[Long] =
    (0 until Dim).map { j =>
      val mn = m.vmins(j); val mx = m.vmaxs(j)
      val t = if (mx == mn) 0.0 else (v(j).toDouble - mn) * 255.0 / (mx - mn)
      math.min(math.max(math.floor(t + 0.5), 0.0), 255.0).toLong
    }

  test("fitMinMax recovers the exact per-dimension bounds") {
    val rows = corpus(50)
    val m = Sq8.fitMinMax(rows.toDF("vec_id", "embedding"), "embedding", Dim)
    val ref = refModel(rows)
    assert(m.vmins === ref.vmins)
    assert(m.vmaxs === ref.vmaxs)
  }

  test("encode matches the plain-Scala reference on 50 vectors") {
    val rows = corpus(50)
    val m = refModel(rows)
    val got = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), Sq8.encode(col("embedding"), m).as("codes"))
      .as[(Long, Seq[Long])].collect().toMap
    rows.foreach { case (id, v) =>
      assert(got(id) === refEncode(v, m), s"vec $id")
    }
  }

  test("corpus min codes to 0, corpus max to 255, constant dim to 0") {
    val rows = corpus(50)
    val m = refModel(rows)
    val codes = rows.map { case (_, v) => refEncode(v, m) }
    (0 until Dim).foreach { j =>
      if (j == 3) assert(codes.map(_(j)).distinct === Seq(0L)) // degenerate
      else {
        assert(codes.map(_(j)).min === 0L, s"dim $j min")
        assert(codes.map(_(j)).max === 255L, s"dim $j max")
      }
    }
  }

  test("dequantized reconstruction error is within half a step per dim") {
    val rows = corpus(50)
    val m = refModel(rows)
    val dq = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        Sq8.dequant(Sq8.encode(col("embedding"), m), m).as("dq"))
      .as[(Long, Seq[Double])].collect().toMap
    rows.foreach { case (id, v) =>
      (0 until Dim).foreach { j =>
        val step = (m.vmaxs(j) - m.vmins(j)) / 255.0
        val err = math.abs(v(j).toDouble - dq(id)(j))
        if (j == 3) assert(dq(id)(j) === m.vmins(j)) // degenerate dim
        else assert(err <= step / 2 + 1e-12, s"vec $id dim $j err $err")
      }
    }
  }

  test("encodeDf fingerprint matches the reference fold") {
    val rows = corpus(20)
    val m = refModel(rows)
    val got = Sq8.encodeDf(rows.toDF("vec_id", "embedding"), "vec_id",
      "embedding", m)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    rows.foreach { case (id, v) =>
      val cs = refEncode(v, m)
      val fp = cs.foldLeft(7L)((a, c) => (a * 31 + c) % 1000000007L)
      assert(got(id) === ((fp, cs.sum)), s"vec $id")
    }
  }

  test("native Sq8AdcDist == the HOF fold bit-for-bit on 60 pairs") {
    val rows = corpus(60)
    val m = refModel(rows)
    val paired = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"),
        transform(sequence(lit(1), lit(Dim)),
          j => element_at(col("embedding"), j).cast("double")).as("qv"),
        Sq8.encode(col("embedding"), m).as("codes"))
      // pair row i's floats with row (i+7)%60's codes
      .withColumn("pair", pmod(col("vec_id") + 7, lit(60L)))
    val other = paired.select(col("vec_id").as("pair"), col("codes").as("ocodes"))
    val joined = paired.join(other, "pair")
    val got = joined.select(col("vec_id"), Sq8.adcDist(col("qv"), col("ocodes"), m).as("n"),
      HofForms.sq8AdcDistHof(col("qv"), col("ocodes"), m).as("h"))
      .as[(Long, Double, Double)].collect()
    assert(got.length === 60)
    got.foreach { case (id, n, h) =>
      assert(java.lang.Double.doubleToLongBits(n) ===
        java.lang.Double.doubleToLongBits(h), s"vec $id: native $n != hof $h")
    }
  }

  test("ivfAdcTopK == per-cell brute force over dequantized vectors") {
    val rows = corpus(60)
    val m = refModel(rows)
    val cents = Seq.tabulate(3, Dim)((c, j) => ((c * 5 + j * 2) % 7 - 3) / 2.0)
      .map(_.toSeq)
    val df = rows.toDF("vec_id", "embedding")
    val got = Sq8.ivfAdcTopK(df, df.where(col("vec_id") % 11 === 0), m, cents,
      nProbe = 2, k = 4)
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).view
      .mapValues(_.sortBy(_._2).map(r => (r._3, r._4, r._5)).toSeq).toMap
    // local reference
    def d2To(v: Array[Float], c: Seq[Double]): Double =
      (0 until Dim).foldLeft(0.0) { (acc, j) =>
        val d = v(j).toDouble - c(j); acc + d * d
      }
    val cellOf = rows.map { case (id, v) =>
      id -> cents.zipWithIndex.minBy { case (c, i) => (d2To(v, c), i) }._2.toLong
    }.toMap
    val deq = rows.map { case (id, v) =>
      id -> refEncode(v, m).zipWithIndex.map { case (code, j) =>
        m.vmins(j) + code * (m.vmaxs(j) - m.vmins(j)) / 255.0
      }
    }.toMap
    rows.filter(_._1 % 11 == 0).foreach { case (pid, pv) =>
      val near = cents.zipWithIndex
        .map { case (c, i) => (d2To(pv, c), i) }.sorted.take(2).map(_._2.toLong).toSet
      val exp = rows.filter { case (nid, _) => nid != pid && near(cellOf(nid)) }
        .map { case (nid, _) =>
          val d2 = (0 until Dim).foldLeft(0.0) { (acc, j) =>
            val d = pv(j).toDouble - deq(nid)(j); acc + d * d
          }
          (nid, math.round(d2 * 1e6), cellOf(nid))
        }.sortBy(r => (r._2, r._1)).take(4)
      assert(got(pid) === exp, s"probe $pid")
    }
  }

  test("adcTopK equals brute-force search over dequantized vectors") {
    val rows = corpus(60)
    val m = refModel(rows)
    val df = rows.toDF("vec_id", "embedding")
    val got = Sq8.adcTopK(df, df.where(col("vec_id") % 17 === 0), m, k = 5)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq)
      .toMap
    val deq = rows.map { case (id, v) =>
      id -> refEncode(v, m).zipWithIndex.map { case (c, j) =>
        m.vmins(j) + c * (m.vmaxs(j) - m.vmins(j)) / 255.0
      }
    }.toMap
    rows.filter(_._1 % 17 == 0).foreach { case (pid, pv) =>
      val exp = rows.filter(_._1 != pid).map { case (nid, _) =>
        val d2 = (0 until Dim).foldLeft(0.0) { (acc, j) =>
          val diff = pv(j).toDouble - deq(nid)(j)
          acc + diff * diff
        }
        (nid, math.round(d2 * 1e6))
      }.sortBy(r => (r._2, r._1)).take(5)
      assert(got(pid) === exp, s"probe $pid")
    }
  }
}
