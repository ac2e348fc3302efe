package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Alternating large-star/small-star connected components: label-for-label
  * equality with the min-label-propagation fixpoint on random graphs, and
  * O(log n) round convergence on an adversarially deep path graph (the
  * case the simple recurrence needs O(n) rounds for). */
class AltStarSpec extends SparkSpec {

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("alt-star equals min-label fixpoint on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 0 until 6) {
      val n = 10 + rnd.nextInt(40)
      val nEdges = 5 + rnd.nextInt(60)
      val edges = Seq.fill(nEdges)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        val df = edges.toDF("a", "b")
        val expected = labelsOf(MinLabelCc.connectedComponents(df, "a", "b"))
        val got = labelsOf(Dedup.connectedComponentsAltStar(df, "a", "b"))
        assert(got == expected, s"trial $trial: alt-star labels diverge")
        Dedup.releaseCaches()
      }
    }
  }

  test("path graph of 1000 nodes converges in O(log n) rounds with correct labels") {
    import spark.implicits._
    val path = (0L until 999L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, rounds) = Dedup.altStarWithRounds(path, "a", "b", maxIter = 50)
    assert(rounds <= 12, s"alt-star took $rounds rounds on a 1000-node path")
    val got = labelsOf(labels)
    assert(got.size == 1000 && got.values.forall(_ == 0L),
      "all path nodes must collapse to component 0")
    Dedup.releaseCaches()
  }

  test("reliable checkpointDir mode: identical labels, files land in the dir") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val df = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (12L, 10L)).toDF("a", "b")
    val expected = labelsOf(Dedup.connectedComponentsAltStar(df, "a", "b"))
    // the context's checkpoint dir switches lineage truncation to
    // reliable checkpoints; null clears it again so later specs sharing
    // this context stay in local mode
    val sc = spark.sparkContext
    sc.setCheckpointDir(dir)
    try {
      val got = labelsOf(Dedup.connectedComponentsAltStar(df, "a", "b"))
      assert(got == expected, "reliable-checkpoint run must match localCheckpoint run")
      val ccGot = labelsOf(MinLabelCc.connectedComponents(df, "a", "b"))
      assert(ccGot == expected, "min-label CC with checkpointDir must match too")
    } finally sc.setCheckpointDir(null)
    assert(sc.getCheckpointDir.isEmpty)
    // the reliable path actually wrote RDD checkpoint files under dir
    def fileCount(p: java.io.File): Int =
      if (p.isDirectory) p.listFiles().map(fileCount).sum else 1
    assert(fileCount(new java.io.File(dir)) > 0,
      s"no checkpoint files written under $dir — reliable mode not exercised")
    Dedup.releaseCaches()
  }

  test("salted min-attach equals the window form and plans no Window") {
    import spark.implicits._
    // a hub of degree 40 plus side chains — the hot-key shape the window
    // form would land in one task at scale
    val e = ((1L to 40L).map(i => (i + 100L, 0L)) ++
      Seq((150L, 149L), (7L, 3L), (9L, 7L))).toDF("u", "v")
    val win = Dedup.withMin(e, salted = false).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sal = Dedup.withMin(e, salted = true)
    assert(sal.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, "salted min-attach must not plan a window")
    val got = sal.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == win, "salted m(u) diverges from the window form")
  }

  test("degree-gated salted loop: identical labels on hub and random graphs") {
    import spark.implicits._
    spark.conf.set("graft.cc.saltDegreeThreshold", "3")
    try {
      val hub = ((1L to 200L).map(i => (0L, i)) ++
        Seq((300L, 301L), (301L, 302L), (200L, 300L))).toDF("a", "b")
      assert(labelsOf(Dedup.connectedComponentsAltStar(hub, "a", "b")) ==
        labelsOf(MinLabelCc.connectedComponents(hub, "a", "b")))
      Dedup.releaseCaches()
      val rnd = new scala.util.Random(20260819L)
      for (trial <- 0 until 3) {
        val n = 10 + rnd.nextInt(40)
        val edges = Seq.fill(5 + rnd.nextInt(60))(
          (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
          .filter { case (a, b) => a != b }
        if (edges.nonEmpty) {
          val df = edges.toDF("a", "b")
          assert(labelsOf(Dedup.connectedComponentsAltStar(df, "a", "b")) ==
            labelsOf(MinLabelCc.connectedComponents(df, "a", "b")),
            s"salted trial $trial diverges")
          Dedup.releaseCaches()
        }
      }
    } finally spark.conf.unset("graft.cc.saltDegreeThreshold")
  }

  test("releaseCaches clears thread-tracked caches") {
    import spark.implicits._
    val df = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a", "b")
    val labels = Dedup.connectedComponentsAltStar(df, "a", "b")
    assert(labelsOf(labels) == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    Dedup.releaseCaches()
    // idempotent: a second release with nothing tracked is a no-op
    Dedup.releaseCaches()
  }
}
