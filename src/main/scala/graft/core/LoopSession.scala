package graft.core

import org.apache.spark.sql.SparkSession

/** Loop-scoped planning session for iterative operators (connected
  * components and friends).
  *
  * An iterative loop re-plans the SAME shuffle shapes every round. Under
  * adaptive execution each of those exchanges is materialized as its own
  * sub-job with a replanning pause between — for a loop of R rounds with
  * K exchanges per round that is R·K scheduling round-trips deciding the
  * identical thing every time. The loop session makes that decision ONCE,
  * the same way AQE would: the shuffle partition count is derived from
  * the measured size of the loop's frame (scale-adaptive — 1 partition
  * for a KB-scale fixture graph, the session ceiling for a trillion-edge
  * one), and adaptive replanning is disabled for plans built under this
  * session only. The caller's session — and every other thread planning
  * against it — keeps its own conf untouched.
  *
  * Frames cross the boundary via [[org.apache.spark.sql.GraftPartitionedCache.rebind]],
  * and only in lineage-truncated (LogicalRDD) form.
  */
object LoopSession {

  /** Rows per shuffle task inside a loop: fixed-width id rows, so 2M rows
    * ≈ 32–64 MB per task — the AQE advisory-size ballpark. */
  val RowsPerTask: Long = 2L * 1024 * 1024

  /** A sibling session for one loop over a frame of `rows` rows:
    * adaptive off, shuffle partitions = clamp(rows / RowsPerTask,
    * 1, caller's configured partitions). */
  def forRows(caller: SparkSession, rows: Long): SparkSession = {
    val cap = math.max(1,
      caller.conf.get("spark.sql.shuffle.partitions", "200").toInt)
    val p = math.max(1L, math.min(cap.toLong,
      (rows + RowsPerTask - 1) / RowsPerTask)).toInt
    val s = caller.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions", p.toString)
    s
  }
}
