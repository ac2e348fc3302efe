package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** Differential properties of the native vector kernels
  * (graft.plans.VectorKernel) against their HOF reference forms.
  *
  * Generated rows mix ragged and empty vectors, null elements, NaN, ±Inf
  * and −0.0, SQ8 clamp edges and out-of-range PQ codes, over float and
  * double arrays. Per row, the kernel under whole-stage codegen must
  * equal the kernel interpreted (`withoutCodegen`) bit for bit, and:
  *  - where the HOF form returns a null-free value and the row is inside
  *    the contract, the kernel returns the same bits;
  *  - where the HOF form returns null (or a value holding a null) or
  *    raises, the kernel returns null, and the row is outside the
  *    contract;
  *  - where the row is outside the contract, the kernel returns null
  *    (this covers the inputs the HOF form still answers: a vector
  *    longer than the model, a PQ code outside [0, K)).
  *
  * Frames are RDD-backed: over a local Seq, ConvertToLocalRelation
  * would evaluate the projection in the optimizer, interpreted, and the
  * codegen path would never run.
  */
class VectorKernelSpec extends SparkSpec {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(6)
    .withInitialSeed(org.scalacheck.rng.Seed(20261017L))

  private val RowsPerBatch = 30

  // ---- generators ----------------------------------------------------

  private val specials: Gen[Double] =
    Gen.oneOf(-0.0, 0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)

  /** Elements of a vector: a clean row holds only `ordinary` values; a
    * noisy one also signed zeros, non-finite values and nulls. */
  private def vector(n: Int, ordinary: Gen[Double]): Gen[Seq[java.lang.Double]] = {
    val noisy = Gen.frequency(
      10 -> ordinary.map(Double.box),
      1 -> specials.map(Double.box),
      1 -> Gen.const(null: java.lang.Double))
    Gen.oneOf(ordinary.map(Double.box), noisy).flatMap(Gen.listOfN(n, _))
  }

  /** A length near `d`: mostly `d`, sometimes empty, one short or one long. */
  private def lengthNear(d: Int): Gen[Int] =
    Gen.frequency(8 -> Gen.const(d), 1 -> Gen.const(0),
      1 -> Gen.const(math.max(d - 1, 0)), 1 -> Gen.const(d + 1))

  private val floating: Gen[DataType] = Gen.oneOf(FloatType, DoubleType)

  /** Spreads `values` into a column of element type `t`. */
  private def as(t: DataType, values: Seq[java.lang.Double]): Seq[Any] = t match {
    case FloatType => values.map(v => if (v == null) null else Float.box(v.floatValue))
    case _ => values
  }

  private def arrays(types: Seq[DataType]): StructType = StructType(
    StructField("id", LongType) +: types.zipWithIndex.map { case (t, i) =>
      StructField(s"v$i", ArrayType(t, containsNull = true)) })

  /** A batch: the schema and its rows (id, then one array per input). */
  private final case class Batch(schema: StructType, rows: Seq[Row])

  private def batch(types: Seq[DataType], row: Gen[Seq[Seq[Any]]]): Gen[Batch] =
    Gen.listOfN(RowsPerBatch, row).map(rs => Batch(arrays(types),
      rs.zipWithIndex.map { case (vs, i) => Row.fromSeq(i.toLong +: vs) }))

  // ---- the three forms ------------------------------------------------

  private def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      java.lang.Double.doubleToLongBits(x) == java.lang.Double.doubleToLongBits(y)
    case (x: Row, y: Row) =>
      x.length == y.length && (0 until x.length).forall(i => same(x.get(i), y.get(i)))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => same(p, q) }
    case _ => a == b
  }

  private def holdsNull(v: Any): Boolean = v match {
    case null => true
    case r: Row => (0 until r.length).exists(i => holdsNull(r.get(i)))
    case s: scala.collection.Seq[_] => s.exists(holdsNull)
    case _ => false
  }

  /** The HOF form per id: its value, or the error it raised. Evaluated
    * over the whole batch and bisected when it raises, so only the
    * raising rows run alone. */
  private def hofOutcomes(df: DataFrame, hof: Column,
      ids: Seq[Long]): Map[Long, Either[String, Any]] =
    try df.where(col("id").isin(ids: _*)).select(col("id"), hof).collect()
      .map(r => r.getLong(0) -> Right(r.get(1))).toMap
    catch {
      case _: Exception if ids.length > 1 =>
        val (a, b) = ids.splitAt(ids.length / 2)
        hofOutcomes(df, hof, a) ++ hofOutcomes(df, hof, b)
      case e: Exception =>
        Map(ids.head -> Left(Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).toSeq.last.getMessage.take(120)))
    }

  /** The first row on which the three forms break the property; `seen`
    * tallies the HOF form's outcomes. */
  private def firstBreak(b: Batch, native: Column, hof: Column,
      inContract: Row => Boolean, seen: String => Unit): Option[String] = {
    val df = spark.createDataFrame(spark.sparkContext.parallelize(b.rows, 2), b.schema)
    def kernel(): Map[Long, Any] =
      df.select(col("id"), native).collect().map(r => r.getLong(0) -> r.get(1)).toMap
    val compiled = kernel()
    val interpreted = withoutCodegen(kernel())
    val ref = hofOutcomes(df, hof, b.rows.map(_.getLong(0)))
    b.rows.iterator.map { row =>
      val id = row.getLong(0)
      val n = compiled(id)
      def at = s"row $id ${row.toSeq.drop(1).mkString("; ")}"
      seen(ref(id) match {
        case Left(err) => s"HOF raised ${err.takeWhile(_ != ']')}]"
        case Right(h) if holdsNull(h) => "HOF null"
        case Right(_) if !inContract(row) => "HOF value outside the contract"
        case Right(_) => "HOF value"
      })
      if (!same(n, interpreted(id)))
        Some(s"$at: codegen $n != interpreted ${interpreted(id)}")
      else ref(id) match {
        case Left(err) if inContract(row) => Some(s"$at: in contract but the HOF raised $err")
        case Left(_) => Option.when(n != null)(s"$at: the HOF raised, native $n")
        case Right(h) if holdsNull(h) && inContract(row) =>
          Some(s"$at: in contract but the HOF returned $h")
        case Right(_) if !inContract(row) => Option.when(n != null)(s"$at: outside the contract, native $n")
        case Right(h) => Option.when(!same(n, h))(s"$at: native $n != HOF $h")
      }
    }.collectFirst { case Some(m) => m }
  }

  private def check(gen: Gen[Batch], native: Column, hof: Column,
      inContract: Row => Boolean): Unit =
    checkWith(gen.map(b => (b, native, hof, inContract)))

  private def checkWith(gen: Gen[(Batch, Column, Column, Row => Boolean)]): Unit = {
    val tally = scala.collection.mutable.TreeMap.empty[String, Int]
    val res = SCTest.check(params, Prop.forAll(gen) { case (b, native, hof, inContract) =>
      val broken = firstBreak(b, native, hof, inContract,
        k => tally(k) = tally.getOrElse(k, 0) + 1)
      Prop(broken.isEmpty) :| broken.getOrElse("")
    })
    info(tally.map { case (k, n) => s"$n x $k" }.mkString(", "))
    assert(res.passed, res.status match {
      case SCTest.Failed(_, labels) => labels.mkString("; ")
      case other => other.toString
    })
  }

  private def vec(r: Row, i: Int): Seq[Any] = r.getSeq[Any](i)
  private def nullFree(r: Row, i: Int): Boolean = !vec(r, i).contains(null)
  private def v(i: Int): Column = col(s"v$i")

  private val ordinary: Gen[Double] = Gen.oneOf(
    Gen.choose(-3.0, 3.0),
    Gen.choose(-8, 8).map(_ / 4.0), // exact quarters: planted ties
    Gen.oneOf(1e30, -1e30, 1e200, -1e200)) // overflow to ±Inf when squared

  // ---- one property per kernel ---------------------------------------

  private def pairGen: Gen[Batch] = for {
    tx <- floating
    ty <- floating
    b <- batch(Seq(tx, ty), for {
      n <- Gen.choose(0, 6)
      m <- Gen.frequency(3 -> Gen.const(n), 1 -> Gen.choose(0, 6))
      x <- vector(n, ordinary)
      y <- vector(m, ordinary)
    } yield Seq(as(tx, x), as(ty, y)))
  } yield b

  private def samePairContract(r: Row): Boolean =
    vec(r, 1).length == vec(r, 2).length && nullFree(r, 1) && nullFree(r, 2)

  test("FloatDotProduct: codegen == interpreted == Similarity.dotHof") {
    check(pairGen, Similarity.dot(v(0), v(1)), HofForms.dotHof(v(0), v(1)),
      samePairContract)
  }

  test("SqL2Dist: codegen == interpreted == the zip_with sq-L2 fold") {
    val hof = aggregate(
      zip_with(v(0), v(1), (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, d) => acc + d)
    check(pairGen, Similarity.sqL2(v(0), v(1)), hof, samePairContract)
  }

  test("CellArgmin: codegen == interpreted == array_min(cellDists)") {
    checkWith(for {
      k <- Gen.choose(1, 4)
      dim <- Gen.choose(1, 5)
      cents <- Gen.listOfN(k, Gen.listOfN(dim, Gen.choose(-8, 8).map(_ / 4.0)))
      t <- floating
      b <- batch(Seq(t), lengthNear(dim).flatMap(vector(_, ordinary)).map(x => Seq(as(t, x))))
    } yield (b, Similarity.cellArgmin(v(0), cents),
      array_min(Similarity.cellDists(v(0), cents)),
      (r: Row) => vec(r, 1).length == dim && nullFree(r, 1)))
  }

  /** Per-dimension SQ8 (min, max), about one in five degenerate. */
  private def sq8Bounds(dim: Int): Gen[List[(Double, Double)]] =
    Gen.listOfN(dim, for {
      mn <- Gen.choose(-8, 8).map(_ / 4.0)
      w <- Gen.frequency(1 -> Gen.const(0.0), 4 -> Gen.choose(1, 16).map(_ / 4.0))
    } yield (mn, mn + w))

  test("Sq8Encode: codegen == interpreted == Sq8.encodeHof, clamp edges included") {
    checkWith(for {
      dim <- Gen.choose(1, 5)
      bounds <- sq8Bounds(dim)
      m = Sq8.Model(bounds.map(_._1).toIndexedSeq, bounds.map(_._2).toIndexedSeq)
      // the bounds themselves, half-steps (t + 0.5 an exact integer) and
      // values far outside: the clamp and rounding edges
      edge = Gen.oneOf(bounds).flatMap { case (mn, mx) =>
        Gen.oneOf(Gen.const(mn), Gen.const(mx), Gen.const(mn - 1.0), Gen.const(mx + 1.0),
          Gen.choose(0, 255).map(c => mn + (mx - mn) * (c + 0.5) / 255.0))
      }
      t <- floating
      b <- batch(Seq(t), lengthNear(dim)
        .flatMap(vector(_, Gen.frequency(2 -> ordinary, 3 -> edge))).map(x => Seq(as(t, x))))
    } yield (b, Sq8.encode(v(0), m), HofForms.sq8EncodeHof(v(0), m),
      (r: Row) => vec(r, 1).length == dim && nullFree(r, 1)))
  }

  test("Sq8AdcDist: codegen == interpreted == Sq8.adcDistHof") {
    checkWith(for {
      dim <- Gen.choose(1, 5)
      bounds <- sq8Bounds(dim)
      m = Sq8.Model(bounds.map(_._1).toIndexedSeq, bounds.map(_._2).toIndexedSeq)
      code = Gen.frequency[java.lang.Long](
        12 -> Gen.choose(0L, 255L).map(Long.box),
        1 -> Gen.oneOf(-1L, 256L, Long.MaxValue).map(Long.box),
        1 -> Gen.const(null: java.lang.Long))
      b <- batch(Seq(DoubleType, LongType), for {
        qv <- lengthNear(dim).flatMap(vector(_, ordinary))
        codes <- lengthNear(dim).flatMap(Gen.listOfN(_, code))
      } yield Seq(qv, codes))
    } yield (b, Sq8.adcDist(v(0), v(1), m), HofForms.sq8AdcDistHof(v(0), v(1), m),
      (r: Row) => vec(r, 1).length == dim && vec(r, 2).length == dim &&
        nullFree(r, 1) && nullFree(r, 2)))
  }

  test("PqEncode: codegen == interpreted == Pq.encodeHof") {
    val gen = for {
      t <- floating
      b <- batch(Seq(t), Gen.frequency(6 -> Gen.const(Pq.Dim), 1 -> Gen.const(0),
          1 -> Gen.const(Pq.Dim - 1), 1 -> Gen.const(Pq.Dim + 1), 1 -> Gen.const(Pq.SubDim))
        .flatMap(vector(_, ordinary)).map(x => Seq(as(t, x))))
    } yield b
    check(gen, Pq.encode(v(0)), HofForms.pqEncodeHof(v(0)),
      r => vec(r, 1).length == Pq.Dim && nullFree(r, 1))
  }

  test("PqAdcDist: codegen == interpreted == Pq.adcDistHof") {
    val code = Gen.frequency[java.lang.Integer](
      12 -> Gen.choose(0, Pq.K - 1).map(Int.box),
      1 -> Gen.oneOf(-1, Pq.K, Pq.K + 1, -Pq.K, Pq.M * Pq.K).map(Int.box),
      1 -> Gen.const(null: java.lang.Integer))
    val gen = batch(Seq(DoubleType, IntegerType), for {
      lut <- lengthNear(Pq.M * Pq.K).flatMap(vector(_, ordinary))
      codes <- lengthNear(Pq.M).flatMap(Gen.listOfN(_, code))
    } yield Seq(lut, codes))
    check(gen, Pq.adcDist(v(0), v(1)), HofForms.pqAdcDistHof(v(0), v(1)), r =>
      vec(r, 1).length == Pq.M * Pq.K && vec(r, 2).length == Pq.M &&
        nullFree(r, 1) && nullFree(r, 2) &&
        vec(r, 2).forall { case c: Int => c >= 0 && c < Pq.K; case _ => false })
  }

  // ---- malformed models ------------------------------------------------

  test("ivfTopKWithCentroids rejects a ragged centroid table before any job runs") {
    import spark.implicits._
    val vecs = Seq((1L, Array(0f, 1f)), (2L, Array(1f, 0f))).toDF("vec_id", "embedding")
    // no action is taken: the rejection comes from building the plan
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKWithCentroids(vecs, vecs, k = 1,
        cents = Seq(Seq(0.0, 1.0), Seq(1.0)), nProbe = 1)
    }
  }

  test("the kernels reject empty or non-rectangular models at construction") {
    import org.apache.spark.sql.GraftColumnBridge.expression
    val x = expression(v(0))
    intercept[IllegalArgumentException](graft.plans.CellArgmin(x, Seq.empty))
    intercept[IllegalArgumentException](graft.plans.CellArgmin(x, Seq(Seq.empty)))
    intercept[IllegalArgumentException](graft.plans.PqEncode(x,
      Seq(Seq(Seq(0.0, 1.0), Seq(1.0)))))
    intercept[IllegalArgumentException](graft.plans.PqEncode(x,
      Seq(Seq(Seq(0.0)), Seq(Seq(0.0), Seq(1.0)))))
    intercept[IllegalArgumentException](graft.plans.Sq8AdcDist(x, x, Seq.empty, Seq.empty))
  }
}
