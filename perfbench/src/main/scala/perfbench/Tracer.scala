package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.sources.ByteStore

/** Spans around the benchmark's calls into the program's layers.
  *
  * Untraced (`on = false`) it only runs the bodies, so end-to-end passes
  * pay nothing. Traced, each span sets its own Spark job group (so the
  * [[Probe]] can attribute stages, tasks and shuffle to it), records the
  * store I/O of its body (children included) through `ByteStore`'s
  * recorder, and [[keep]] materializes a step's output inside the step's
  * span, so a span's self time is that step's own work rather than work
  * deferred to the next step. Each pass is a root span `pass` whose
  * children are the steps. Spans stay in memory until the run writes
  * them out. */
final class Tracer(spark: SparkSession, probe: Probe, val on: Boolean) {
  import Tracer.Span

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, mutable.LinkedHashMap[String, Double])]
  private var nextId = 0
  private var pass = -1
  private val kept = mutable.ArrayBuffer.empty[DataFrame]
  private var rec: ByteStore.IoRecorder = _

  /** (opens, MB, metadata operations) recorded in this pass so far. */
  private def ioNow: (Long, Double, Long) =
    if (rec == null) (0L, 0.0, 0L)
    else {
      val paths = rec.pathsTouched.toSeq
      (paths.map(rec.opens).sum, paths.map(rec.bytes).sum / Probe.MB, rec.metaOps)
    }

  /** Counters of the current pass (traced or not). */
  val counters = mutable.LinkedHashMap.empty[String, Double]

  def group(id: Int): String = s"perfbench-span-$id"

  /** Starts a pass: clears the counters and, traced, starts recording
    * store I/O. [[endPass]] stops it and releases the pass's frames. */
  def beginPass(index: Int): Unit = {
    pass = index
    counters.clear()
    if (on) rec = ByteStore.startRecording()
  }

  def endPass(): Unit = {
    if (on) { ByteStore.stopRecording(); rec = null }
    kept.foreach(_.unpersist(blocking = true))
    kept.clear()
  }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val own = mutable.LinkedHashMap.empty[String, Double]
      stack.push((id, own))
      sc.setJobGroup(group(id), null)
      val io0 = ioNow
      val cpu0 = Jvm.cpuS
      val t0 = System.currentTimeMillis()
      try body
      finally {
        val t1 = System.currentTimeMillis()
        val cpu1 = Jvm.cpuS
        val io1 = ioNow
        val io = (io1._1 - io0._1, io1._2 - io0._2, io1._3 - io0._3)
        stack.pop()
        spans += Span(id, name, parent, pass, t0, t1, cpu1 - cpu0, io, own.toMap)
        stack.headOption match {
          case Some((p, _)) => sc.setJobGroup(group(p), null)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Records a counter on the current pass and, traced, on the open span. */
  def count(name: String, value: Double): Unit = {
    counters(name) = value
    stack.headOption.foreach(_._2(name) = value)
  }

  /** Traced: persists `df` and computes it inside the current span.
    * Untraced: returns `df` unchanged. */
  def keep(df: DataFrame): DataFrame =
    if (!on) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      kept += p
      p.count()
      p
    }

  /** Persists `df` in traced and untraced passes alike (the job reads it
    * more than once); released at [[endPass]]. */
  def cache(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    kept += p
    p
  }

  /** SQL executions since `fromMs` whose call site matches `pattern`. */
  def sqlCalls(fromMs: Long, pattern: scala.util.matching.Regex): Int = {
    probe.drain()
    probe.sqlExecutions(fromMs, System.currentTimeMillis(), pattern)
  }

  /** Self time (s) of a span: its wall time minus its children's. */
  def selfS(s: Span): Double =
    (s.endMs - s.startMs - spans.filter(_.parent == s.id)
      .map(c => c.endMs - c.startMs).sum) / 1e3

  /** One span's layer record (call `probe.drain()` first). CPU and store
    * I/O are the span's own: its children's are subtracted. */
  def layerOf(s: Span): Map[String, Double] = {
    val g = probe.group(group(s.id))
    val children = spans.filter(_.parent == s.id)
    Map(
      "self_s" -> selfS(s),
      "cpu_s" -> (s.cpuS - children.map(_.cpuS).sum),
      "jobs" -> g.jobs.toDouble,
      "stages" -> g.stages.toDouble,
      "tasks" -> g.tasks.toDouble,
      "task_cpu_s" -> g.taskCpuS,
      "shuffle_mb" -> (g.shuffleWriteMb + g.shuffleReadMb),
      "input_mb" -> g.inputMb,
      "driver_gap_s" -> (selfS(s) - Probe.unionMs(g.windows) / 1e3),
      "read_opens" -> (s.io._1 - children.map(_.io._1).sum).toDouble,
      "read_mb" -> (s.io._2 - children.map(_.io._2).sum),
      "read_meta_ops" -> (s.io._3 - children.map(_.io._3).sum).toDouble)
  }
}

object Tracer {
  /** One recorded span: `parent` is -1 at a pass's top level; `io` is
    * (opens, MB read, metadata operations). */
  final case class Span(id: Int, name: String, parent: Int, pass: Int,
      startMs: Long, endMs: Long, cpuS: Double, io: (Long, Double, Long),
      counters: Map[String, Double])
}
