package graft.operators

import graft.SparkSpec
import graft.plans.{MinHashBands, MinHashSig}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.ElementAt
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashJoin, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** The LSH band kernel (graft.plans.MinHashBands) against its column
  * form, and the plan of the LSH operator that stores it in its cache. */
class MinHashBandsSpec extends SparkSpec {

  private val params = SCTest.Parameters.default
    .withMinSuccessfulTests(6)
    .withInitialSeed(org.scalacheck.rng.Seed(20261019L))

  /** Sorted distinct sets: mostly shingle-hash range, some over all longs
    * (the signature loop's overflow is shared by both forms), some empty. */
  private val set: Gen[Seq[Long]] = Gen.frequency(
    1 -> Gen.const(Seq.empty[Long]),
    6 -> Gen.choose(1, 40).flatMap(Gen.listOfN(_, Gen.choose(0L, Dedup.P - 1))),
    2 -> Gen.choose(1, 12).flatMap(Gen.listOfN(_, Gen.choose(Long.MinValue, Long.MaxValue))))
    .map(_.distinct.sorted)

  private val shapes = Seq((8, 4), (50, 10), (6, 3), (4, 1))

  private val schema = StructType(Seq(StructField("id", LongType),
    StructField("xs", ArrayType(LongType, containsNull = false))))

  test("MinHashBands: codegen == interpreted == HofForms.bandHash over minhashCols") {
    val res = SCTest.check(params, Prop.forAll(Gen.listOfN(30, set)) { sets =>
      // RDD-backed: over a local Seq the optimizer would fold the
      // projection interpreted and codegen would never run
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        sets.zipWithIndex.map { case (s, i) => Row(i.toLong, s) }, 2), schema)
      val broken = shapes.flatMap { case (k, bands) =>
        val r = k / bands
        val sig = Dedup.minhashCols(col("xs"), k).map(_._2)
        val hof = array((0 until bands).map(HofForms.bandHash(sig, _, r)): _*)
        def native(): Map[Long, Any] = df.select(col("id"), Dedup.minhashBands(col("xs"), k, bands))
          .collect().map(x => x.getLong(0) -> x.get(1)).toMap
        val compiled = native()
        val interpreted = withoutCodegen(native())
        val ref = df.select(col("id"), hof).collect().map(x => x.getLong(0) -> x.getSeq[Any](1)).toMap
        val exploded = df.select(col("id"), posexplode(Dedup.minhashBands(col("xs"), k, bands)))
          .groupBy("id").count().collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
        sets.indices.map(_.toLong).flatMap { id =>
          val at = s"(k=$k, bands=$bands) row $id ${sets(id.toInt)}"
          val empty = sets(id.toInt).isEmpty
          if (compiled(id) != interpreted(id)) Some(s"$at: codegen ${compiled(id)} != interpreted ${interpreted(id)}")
          else if (empty && (compiled(id) != null || !ref(id).forall(_ == null)))
            Some(s"$at: empty set gave ${compiled(id)}, HOF ${ref(id)}")
          else if (empty && exploded.contains(id)) Some(s"$at: empty set exploded to band rows")
          else if (!empty && compiled(id).asInstanceOf[scala.collection.Seq[Any]] != ref(id))
            Some(s"$at: native ${compiled(id)} != HOF ${ref(id)}")
          else if (!empty && !exploded.get(id).contains(bands.toLong))
            Some(s"$at: ${exploded.get(id)} band rows, want $bands")
          else None
        }
      }
      Prop(broken.isEmpty) :| broken.headOption.getOrElse("")
    })
    assert(res.passed, res.status match {
      case SCTest.Failed(_, labels) => labels.mkString("; ")
      case other => other.toString
    })
    // unequal bands are rejected when the column is built
    Seq((10, 3), (4, 0), (2, 4)).foreach { case (k, bands) =>
      intercept[IllegalArgumentException](Dedup.minhashBands(col("xs"), k, bands))
    }
  }

  // ---- the operator's plan ------------------------------------------------

  /** Every node of an executed plan: through adaptive plans, query stages
    * and subqueries, and (`caches`) into each distinct cached plan once. */
  private def walk(p: SparkPlan, caches: Boolean): Seq[SparkPlan] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    def go(n: SparkPlan): Seq[SparkPlan] = n +: (n match {
      case a: AdaptiveSparkPlanExec => go(a.executedPlan)
      case s: QueryStageExec => go(s.plan)
      case m: InMemoryTableScanExec if caches && !seen.exists(_ eq m.relation.cachedPlan) =>
        seen += m.relation.cachedPlan
        go(m.relation.cachedPlan)
      case o => o.children.flatMap(go) ++ o.subqueries.flatMap(go)
    })
    go(p)
  }

  private def kernels(nodes: Seq[SparkPlan]) =
    nodes.flatMap(_.expressions.flatMap(_.collect {
      case e: MinHashBands => e; case e: MinHashSig => e; case e: ElementAt => e }))

  private def bandJoins(nodes: Seq[SparkPlan]): Seq[SparkPlan] = nodes.filter {
    case j: HashJoin => j.leftKeys.map(_.sql).exists(_.contains("band"))
    case j: SortMergeJoinExec => j.leftKeys.map(_.sql).exists(_.contains("band"))
    case _ => false
  }

  private def docs(): DataFrame =
    graft.Tables.documents(spark, "/root/testdata/sf0.001").select("doc_id", "text")

  /** Runs `lshNearDupPairs` on `input`; checks its plan and returns the
    * pairs and the band join of the final and the initial plan. */
  private def lshPlan(input: DataFrame, cacheVisible: Boolean)
      : (Set[(Long, Long)], SparkPlan, Option[SparkPlan]) =
    graft.core.Caching.scope(spark) {
      val out = Dedup.lshNearDupPairs(input, "doc_id", "text", k = 8, bands = 4, threshold = 0.35)
      val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val plan = out.queryExecution.executedPlan
      val nodes = walk(plan, caches = true)
      val ks = kernels(nodes)
      val expected = if (cacheVisible) 1 else 0
      assert(ks.count(_.isInstanceOf[MinHashBands]) == expected && ks.size == expected,
        s"want $expected band kernel and no signature or element_at, got $ks")
      assert(!cacheVisible || nodes.exists(_.isInstanceOf[InMemoryTableScanExec]))
      val carried = nodes.collect { case e: Exchange => e }
        .filter(_.output.exists(a => a.name == "xs" || a.name == "bhs"))
      assert(carried.isEmpty, s"exchanges carry the shingle or band arrays: $carried")
      val initial = plan match {
        case a: AdaptiveSparkPlanExec => bandJoins(walk(a.inputPlan, caches = false)).headOption
        case _ => None
      }
      val joins = bandJoins(nodes)
      assert(joins.size == 1, s"want one band join, got $joins")
      (pairs, joins.head, initial)
    }

  test("lshNearDupPairs: bands are computed once inside the cache; the band join " +
    "broadcasts from the start and no exchange carries the arrays") {
    // many splits: plain cache, whose plan the walk reaches; one split:
    // the partition-visible cache, whose plan runs behind an RDD leaf
    val (many, join, initial) = lshPlan(docs().repartition(8), cacheVisible = true)
    val (one, _, _) = lshPlan(docs().coalesce(1), cacheVisible = false)
    assert(many.nonEmpty && one == many)
    assert(join.isInstanceOf[BroadcastHashJoinExec], join)
    assert(initial.exists(_.isInstanceOf[BroadcastHashJoinExec]),
      s"the initial plan's band join is not a broadcast: $initial")
  }

  test("lshNearDupPairs with broadcasts off: identical pairs over a shuffle band join") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val (ref, _, _) = lshPlan(docs().repartition(8), cacheVisible = true)
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    try {
      Seq(docs().repartition(8) -> true, docs().coalesce(1) -> false).foreach { case (in, visible) =>
        val (pairs, join, _) = lshPlan(in, visible)
        assert(pairs == ref)
        assert(!join.isInstanceOf[BroadcastHashJoinExec], join)
      }
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
