package graft.operators

import graft.core.Checkpointing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Link-graph ranking — the crawl-frontier prioritization step of a
  * web-scale corpus pipeline (Common Crawl publishes exactly this:
  * PageRank-family ranks over the host graph drive which URLs get
  * fetched and which domains are trusted).
  *
  * The rank recurrence is computed in INTEGER arithmetic: each round
  * r'(v) = base + Σ_{(u,v)∈E} floor(r(u)·dampNum / (dampDen·deg(u)))
  * with base = scale·(dampDen−dampNum)/dampDen. Integer sums are
  * order-independent, so the result is identical under any
  * partitioning/shuffle order AND a SQL oracle replays it bit-for-bit
  * (float PageRank can't cross that bar — summation order changes the
  * low bits). The floor per contribution loses < deg mass per node per
  * round — negligible at scale 10⁹ and fully deterministic.
  *
  * Scale shape: each round is one equi-join (ranks ⋈ edges on src) and
  * one map-side-combinable sum — the canonical distributed PageRank;
  * lineage truncates every round ([[Checkpointing]]: reliable when the
  * context has a checkpoint dir). Dangling nodes (no out-edges)
  * keep receiving and simply forward nothing — their mass decays,
  * the standard "remove dangling mass" variant; nodes with no
  * in-edges hold rank = base.
  */
object Ranking {

  def integerPageRank(edges: DataFrame, srcCol: String, dstCol: String,
      iterations: Int, scale: Long = 1000000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iterations >= 0, s"iterations must be >= 0, got $iterations")
    require(dampNum > 0 && dampNum < dampDen,
      s"need 0 < dampNum < dampDen, got $dampNum/$dampDen")
    val base = scale * (dampDen - dampNum) / dampDen

    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .distinct()
    // the degree-weighted edge list feeds every round: join degrees in
    // ONCE, materialize, and each round pays a single equi-join + agg
    val eT = Checkpointing.truncate(e)
    val deg = eT.groupBy("src").agg(count(lit(1)).as("deg"))
    val eW = Checkpointing.truncate(eT.join(deg, "src"))
    val nodes = Checkpointing.truncate(
      eT.select(col("src").as("node"))
        .union(eT.select(col("dst").as("node"))).distinct())

    var ranks = nodes.withColumn("rank", lit(scale))
    for (_ <- 0 until iterations) {
      val contrib = ranks
        .join(eW, ranks("node") === eW("src"))
        .select(eW("dst").as("node"),
          expr(s"(rank * $dampNum) div ($dampDen * deg)").as("c"))
        .groupBy("node").agg(sum(col("c")).as("c"))
      ranks = Checkpointing.truncate(
        nodes.join(contrib, Seq("node"), "left")
          .select(col("node"), (lit(base) + coalesce(col("c"), lit(0L))).as("rank")))
    }
    ranks
  }
}
