package graft.core

import org.apache.spark.sql.DataFrame

/** Lineage truncation for the iterative operators (connected
  * components, DBSCAN, HDBSCAN's MST, PageRank, BPE training): every
  * round's plan references the previous round's output several times,
  * so without truncation the logical plan doubles per round.
  *
  * The SparkContext's checkpoint dir picks the mode:
  *  - none set (the default): eager `localCheckpoint` — blocks live on
  *    executors and die with them. Correct and fast single-node / dev
  *    setting; an executor loss mid-loop fails the job.
  *  - set (`spark.checkpoint.dir` at startup, or
  *    `SparkContext.setCheckpointDir`): eager RELIABLE `checkpoint` into
  *    that dir (HDFS/S3/posix path) — survives executor loss, the
  *    setting a 1000-executor cluster run wants. Costs a write+read of
  *    each round's frame to shared storage.
  *
  * The only lineage truncation in main code (CachingSpec scans for
  * others). */
private[graft] object Checkpointing {

  def truncate(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)
}
