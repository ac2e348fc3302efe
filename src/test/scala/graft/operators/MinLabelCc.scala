package graft.operators

import graft.core.Checkpointing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference connected components for the specs: iterative min-label
  * propagation (each node repeatedly adopts the minimum label among
  * itself and its neighbors until fixpoint). An algorithm independent of
  * [[Dedup.connectedComponentsAltStar]], which must match it label for
  * label.
  *
  * Converges in O(component diameter) rounds, each one shuffle (join +
  * min agg), and asserts convergence within `maxIter`.
  *
  * Output: (node, component) with component = min node id reachable. */
object MinLabelCc {

  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val symC = graft.core.Caching.persist(
      pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst"))))
    val sym = symC.df
    // eager lineage truncation per round: each round's plan references the
    // previous labels twice, so without truncation the logical plan
    // doubles every round. Seeded with min(self, neighbors) — the first
    // propagation round folded into initialization
    var labels = Checkpointing.truncate(
      sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src").as("node"), least(col("src"), col("mn")).as("component")))
    // labels only ever DECREASE, so the label sum is a complete
    // convergence witness; sum() over zero rows is SQL NULL — an empty
    // pairs input converges to an empty labeling
    def labelSum(df: DataFrame): java.math.BigDecimal =
      Option(df.agg(sum(col("component").cast("decimal(38,0)"))).head().getDecimal(0))
        .getOrElse(java.math.BigDecimal.ZERO)
    var prevSum = labelSum(labels)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val nbrMin = sym.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("component")).as("nbr_min"))
      val updated = Checkpointing.truncate(
        labels
          .join(nbrMin.withColumnRenamed("src", "node"), Seq("node"), "left")
          .select(col("node"),
            least(col("component"), coalesce(col("nbr_min"), col("component"))).as("component")))
      val newSum = labelSum(updated)
      labels = updated
      converged = newSum.compareTo(prevSum) == 0
      prevSum = newSum
      it += 1
    }
    require(converged, s"connected components did not converge in $maxIter rounds")
    symC.release()
    labels
  }
}
