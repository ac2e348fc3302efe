package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Product quantization: encode against a brute-force Scala reference,
  * ADC distance identities, tie-breaks, and a recall floor of ADC top-k
  * vs exact nearest neighbors. */
class PqSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic pseudo-random test vectors (plain Scala). */
  private def vec(seed: Int): Array[Float] =
    Array.tabulate(Pq.Dim) { j =>
      (((seed * 2654435761L + j * 40503L) % 1000L) / 500.0f) - 1.0f
    }

  private def bruteCodes(v: Array[Float]): Seq[Int] =
    (0 until Pq.M).map { s =>
      val dists = (0 until Pq.K).map { k =>
        (0 until Pq.SubDim).foldLeft(0.0) { (acc, j) =>
          val d = v(s * Pq.SubDim + j).toDouble - Pq.cent(s, k, j)
          acc + d * d
        }
      }
      dists.indexOf(dists.min)
    }

  test("encode matches the brute-force argmin reference on 40 vectors") {
    val rows = (0 until 40).map(i => (i.toLong, vec(i)))
    val got = rows.toDF("vec_id", "embedding")
      .select(col("vec_id"), Pq.encode(col("embedding")).as("codes"))
      .as[(Long, Seq[Int])].collect().toMap
    rows.foreach { case (id, v) =>
      assert(got(id) === bruteCodes(v), s"vec $id")
    }
  }

  test("codes are within [0, K) and encodeDf emits one column per subspace") {
    val df = Pq.encodeDf((0 until 10).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding")
    assert(df.columns.toSeq === "vec_id" +: (0 until Pq.M).map(s => s"c$s"))
    val mm = df.select((0 until Pq.M).flatMap(s =>
      Seq(min(col(s"c$s")), max(col(s"c$s")))): _*).head()
    (0 until 2 * Pq.M).foreach { i =>
      assert(mm.getLong(i) >= 0 && mm.getLong(i) < Pq.K)
    }
  }

  test("a codebook row encodes to itself with ADC distance 0") {
    // vector whose s-th subvector IS centroid (s, s % K)
    val v = Array.tabulate(Pq.Dim) { i =>
      val s = i / Pq.SubDim
      Pq.cent(s, s % Pq.K, i % Pq.SubDim).toFloat
    }
    val df = Seq((0L, v.toSeq)).toDF("vec_id", "embedding")
    val codes = df.select(Pq.encode(col("embedding"))).as[Seq[Int]].head()
    assert(codes === (0 until Pq.M).map(s => s % Pq.K))
    val adc = df.select(
      Pq.adcDist(Pq.lut(col("embedding")), Pq.encode(col("embedding"))))
      .as[Double].head()
    assert(adc === 0.0)
  }

  test("adcDist equals the sum of the selected distance-matrix entries") {
    val df = Seq((0L, vec(7).toSeq), (1L, vec(11).toSeq))
      .toDF("vec_id", "embedding")
    val rows = df.select(
      Pq.adcDist(Pq.lut(col("embedding")), Pq.encode(col("embedding")))
        .as("adc"),
      Pq.distMat(col("embedding")).as("dm"),
      Pq.encode(col("embedding")).as("codes"))
      .as[(Double, Seq[Seq[Double]], Seq[Int])].collect()
    rows.foreach { case (adc, dm, codes) =>
      val want = (0 until Pq.M).foldLeft(0.0)((a, s) => a + dm(s)(codes(s)))
      assert(adc === want)
    }
  }

  test("ADC top-k recall >= 0.5 vs exact L2 on 200 corpus / 5 probes") {
    val corpus = (0 until 200).map(i => (i.toLong, vec(i)))
    val df = corpus.toDF("vec_id", "embedding")
    val probes = df.where(col("vec_id") % 40 === 0)
    val got = Pq.adcTopK(df, probes, k = 10)
      .groupBy("probe_id").agg(collect_set("neighbor_id").as("ns"))
      .as[(Long, Seq[Long])].collect().toMap
    val byId = corpus.toMap
    (0 until 200 by 40).foreach { p =>
      val pv = byId(p.toLong)
      val exact = corpus.filter(_._1 != p)
        .map { case (id, v) =>
          id -> (0 until Pq.Dim).foldLeft(0.0) { (a, j) =>
            val d = v(j).toDouble - pv(j).toDouble; a + d * d
          }
        }
        .sortBy { case (id, dist) => (dist, id) }.take(10).map(_._1).toSet
      val hit = got(p.toLong).count(exact.contains)
      assert(hit >= 5, s"probe $p recall $hit/10")
    }
  }

  test("native encode is bit-identical to the HOF reference form") {
    val rows = (0 until 60).map(i => (i.toLong, vec(i * 7 + 3)))
    val df = rows.toDF("vec_id", "embedding")
    val both = df.select(col("vec_id"),
        Pq.encode(col("embedding")).as("native"),
        HofForms.pqEncodeHof(col("embedding")).as("hof"))
      .as[(Long, Seq[Int], Seq[Int])].collect()
    both.foreach { case (id, n, h) => assert(n == h, s"vec $id: $n != $h") }
  }

  test("native adcDist is bit-identical to the HOF reference form") {
    val rows = (0 until 40).map(i => (i.toLong, vec(i * 11 + 5)))
    val df = rows.toDF("vec_id", "embedding")
    val coded = df.select(col("vec_id"), Pq.encode(col("embedding")).as("codes"),
      Pq.lut(col("embedding")).as("lut"))
    // pair every row's LUT with every other row's codes (dense cross of
    // the per-pair hot path) and require exact double equality
    val a = coded.select(col("vec_id").as("pid"), col("lut"))
    val b = coded.select(col("vec_id").as("nid"), col("codes"))
    val diff = a.crossJoin(b)
      .select(Pq.adcDist(col("lut"), col("codes")).as("native"),
        HofForms.pqAdcDistHof(col("lut"), col("codes")).as("hof"))
      .where(col("native") =!= col("hof") ||
        col("native").isNull =!= col("hof").isNull)
    assert(diff.isEmpty, "native and HOF adcDist diverged")
  }
}
