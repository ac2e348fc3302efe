package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Entity resolution (record linkage): find records that denote the
  * same real-world entity despite typos — the tabular-side dedup next
  * to the document operators. The classic pipeline (Fellegi-Sunter
  * blocking tradition):
  *
  *  1. MULTI-PASS BLOCKING: candidate pairs meet on cheap keys (name
  *     prefix, name suffix) — a single key misses pairs whose typo
  *     falls inside it, two complementary passes cover any single
  *     edit; the union NEVER compares all pairs.
  *  2. VERIFY: bounded edit distance (`levenshtein <= maxDist`) on the
  *     candidate stream only.
  *  3. CLUSTER: connected components over verified matches
  *     ([[Dedup.connectedComponentsAltStar]], fed the strict a < b pairs
  *     the blocking emits); the min-id member names the entity;
  *     unmatched records are their own entity.
  *
  * Scale shape: blocking keys are integer/short-string equi-joins
  * (never a cross join — plan-sweep enforced); the verify predicate
  * runs on the blocked candidate stream; components are the
  * lineage-truncated alt-star loop. Block sizes bound task work — skewed
  * blocks (a very common surname) are the q63 salting case.
  *
  * Every step is engine-exact (levenshtein is the classic DP metric in
  * both engines; blocking/substr/min-id all integer/string ops), so
  * a DuckDB oracle replays the whole resolution. */
object Linkage {

  /** Resolve (idCol, nameCol) records. Returns one row per record:
    * (rid, entity_id, n_members) with entity_id = min rid of its
    * cluster and n_members the cluster size. */
  def resolve(rows: DataFrame, idCol: String, nameCol: String,
      blockLen: Int = 4, maxDist: Int = 2): DataFrame = {
    val base = rows.select(col(idCol).as("rid"), col(nameCol).as("nm"))

    def pairsOn(key: Column): DataFrame = {
      val kb = base.withColumn("bk", key)
      kb.select(col("bk"), col("rid").as("a"), col("nm").as("na"))
        .join(kb.select(col("bk"), col("rid").as("b"), col("nm").as("nb")), "bk")
        .where(col("a") < col("b"))
        .select(col("a"), col("b"), col("na"), col("nb"))
    }

    val cands = pairsOn(substring(col("nm"), 1, blockLen))
      .union(pairsOn(expr(s"right(nm, $blockLen)")))
      .distinct()
    val verified = cands
      .where(levenshtein(col("na"), col("nb")) <= maxDist)
      .select(col("a"), col("b"))
    val labels = Dedup.connectedComponentsAltStar(verified, "a", "b")
    val resolved = base
      .join(labels, base("rid") === labels("node"), "left")
      .select(col("rid"),
        coalesce(col("component"), col("rid")).cast("long").as("entity_id"))
    resolved.withColumn("n_members",
      count(lit(1)).over(Window.partitionBy(col("entity_id"))).cast("long"))
  }
}
