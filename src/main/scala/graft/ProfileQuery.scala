package graft

import org.apache.spark.scheduler._

import scala.collection.mutable

/** Measurement harness (optimization guide §1): run one registered query
  * under the BENCH session config and print per-stage wall time, task
  * counts and shuffle bytes, so the expensive stage — not the expensive
  * query — is what gets optimized. Jobs are labeled; repeated runs show
  * the steady-state (cache-warm) stage profile the bench medians report.
  *
  * Usage: runMain graft.ProfileQuery <queryName> [runs] [sfDir]
  */
object ProfileQuery {
  private case class StageRow(id: Int, name: String, tasks: Int,
      ms: Long, shufRead: Long, shufWrite: Long, input: Long, records: Long)

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <queryName> [runs] [sfDir]")
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 3
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = LocalSession(cpus, cpus, "WARN",
      "spark.sql.adaptive.enabled" -> "true")

    val stages = mutable.ArrayBuffer.empty[StageRow]
    val taskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
    var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs += 1
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        taskMs.synchronized {
          taskMs.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) +=
            te.taskInfo.duration
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for { s <- si.submissionTime; c <- si.completionTime } yield c - s).getOrElse(-1L)
        val m = si.taskMetrics
        stages += StageRow(si.stageId, si.name.takeWhile(_ != '\n'), si.numTasks,
          wall, m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
          m.inputMetrics.bytesRead, m.outputMetrics.recordsWritten)
      }
    })

    // one cache scope per run, so every run pays its own cache builds
    def once(tag: String): Double = graft.core.Caching.scope(spark) {
      spark.sparkContext.setJobDescription(s"$name $tag")
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    val warm = once("warmup")
    println(f"[profile] $name warmup ${warm}%.3f s; measuring $runs runs")
    (1 to runs).foreach { i =>
      stages.clear(); jobs = 0
      val t = once(s"run$i")
      // stage completion events are posted asynchronously; drain the bus
      Thread.sleep(300)
      println(f"\n[profile] $name run$i%d total ${t}%.3f s, $jobs%d jobs, ${stages.size}%d stages, stage-ms sum ${stages.map(_.ms).sum}%d")
      stages.sortBy(-_.ms).take(20).foreach { s =>
        val ts = taskMs.synchronized(taskMs.get(s.id).map(_.toSeq.sorted))
        val (med, mx, sum) = ts.filter(_.nonEmpty)
          .map(t => (t(t.size / 2), t.last, t.sum)).getOrElse((0L, 0L, 0L))
        println(f"  stage ${s.id}%4d ${s.ms}%6d ms tasks=${s.tasks}%3d taskMed=${med}%5d max=${mx}%6d sum=${sum}%7d shufR=${s.shufRead / 1024}%7d KB shufW=${s.shufWrite / 1024}%7d KB in=${s.input / 1024}%7d KB  ${s.name.take(60)}%s")
      }
      taskMs.synchronized(taskMs.clear())
    }
    spark.stop()
  }
}
