package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * }}}
  *
  * A single client drives back-to-back passes on `local[n]` (n = cores,
  * shuffle partitions = n) until `--seconds` have elapsed. With
  * `--trace 0` every pass is untraced and the run reports the end-to-end
  * metrics. With `--trace 1` the first half of the time runs untraced
  * passes and the second half traced ones; the run reports the per-layer
  * metrics, the tracing overhead, and writes every span to
  * `<work>/trace-<workload>-<seed>.json`. The last stdout line is the
  * result object. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", Paths.get(need("work")).toAbsolutePath)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The end-to-end metrics of BENCHMARK.json; the others are printed
    * only (`failed_ratio` reads 0, `process_cpu_s` and `peak_heap_mb`
    * were too unsteady to bound). */
  private val EndToEnd = Set("setup_s", "throughput", "cpu_s", "shuffle_mb")

  /** How many times set-up (input generation, catalog build) repeats;
    * `setup_s` takes the median. */
  private val SetupReps = 3

  final case class PassStats(wallS: Double, items: Long, cpuS: Double, taskCpuS: Double, shuffleMb: Double,
      heapMb: Double, gcS: Double, cacheMb: Double, failures: Seq[String],
      counters: Map[String, Double]) {
    def throughput: Double = items / wallS
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Workload.names.contains(args.workload), s"unknown workload '${args.workload}'")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(args.work)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", args.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", args.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try run(spark, args, cores, jvmStartMs)
    finally spark.stop()
  }

  private def run(spark: SparkSession, args: Args, cores: Int, jvmStartMs: Long): Unit = {
    val sc = spark.sparkContext
    val probe = new Probe(sc)
    sc.addSparkListener(probe)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ctx = Ctx(spark, args.work.resolve(args.workload), args.seed, cores)
    Workload.deleteTree(ctx.work)
    val wl = Workload(args.workload, ctx)
    val plain = new Tracer(spark, probe, on = false)

    def onePass(t: Tracer, index: Int): PassStats = {
      System.gc()
      probe.drain()
      Jvm.resetOldPeak()
      probe.resetCachePeak()
      val before = probe.totals
      val (cpu0, gc0) = (Jvm.cpuS, Jvm.gcS)
      t.beginPass(index)
      val t0 = System.nanoTime()
      val res =
        try t.span("pass")(wl.pass(t, index))
        catch { case e: Exception => PassResult(0, Workload.failed(s"pass threw ${e.getClass.getName}: ${e.getMessage}")) }
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu1, gc1) = (Jvm.cpuS, Jvm.gcS)
      // between passes: drop the operators' caches and the pass's own, so
      // the next pass pays its own cache builds
      t.endPass()
      graft.operators.Dedup.releaseCaches()
      val failures = res.checks.run()
      probe.drain()
      val after = probe.totals
      val stats = PassStats(wall, res.items, cpu1 - cpu0, after.taskCpuS - before.taskCpuS,
        after.shuffleWriteMb - before.shuffleWriteMb, Jvm.oldPeakMb, gc1 - gc0,
        probe.cachePeakMb, failures, t.counters.toMap)
      wl.cleanup(index)
      stats.failures.foreach(f => System.err.println(s"[perfbench] pass $index check failed: $f"))
      stats
    }

    // ---- set-up: repeated input builds, then one warm-up pass ------------
    val prepS = (0 until SetupReps).map { r =>
      val t0 = System.nanoTime()
      wl.prepare(r)
      (System.nanoTime() - t0) / 1e9
    }
    val warm = onePass(plain, 0)
    val setupS = sessionS + median(prepS) + warm.wallS

    // ---- closed loop -----------------------------------------------------
    val budget = args.seconds
    val plainPasses = mutable.ArrayBuffer.empty[PassStats]
    val tracedPasses = mutable.ArrayBuffer.empty[PassStats]
    val tracer = new Tracer(spark, probe, on = true)
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var index = 1
    var last = warm.wallS
    // a pass starts only if it should end within the budget, judged by
    // the previous pass
    def drive(into: mutable.ArrayBuffer[PassStats], t: Tracer, until: Double, min: Int): Unit =
      while (into.size < min || elapsed + last <= until) {
        val s = onePass(t, index)
        into += s; index += 1; last = s.wallS
      }
    if (args.trace) {
      drive(plainPasses, plain, budget / 2, 1)
      drive(tracedPasses, tracer, budget, 1)
    } else drive(plainPasses, plain, budget, 1)

    val all = (warm +: plainPasses.toSeq) ++ tracedPasses
    val attempted = plainPasses.size + tracedPasses.size
    val failed = (plainPasses ++ tracedPasses).count(_.failures.nonEmpty)
    val correct = all.forall(_.failures.isEmpty)
    val storageMb = sc.getExecutorMemoryStatus.values.map(_._1).sum / Probe.MB
    val broadcastMb = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.autoBroadcastJoinThreshold")) / Probe.MB

    val p = plainPasses.toSeq
    val e2e = Seq(
      ("setup_s", setupS, "s", 1),
      ("throughput", median(p.map(_.throughput)), s"${wl.itemName}/s", p.size),
      ("cpu_s", median(p.map(_.taskCpuS)), "s", p.size),
      ("process_cpu_s", median(p.map(_.cpuS)), "s", p.size),
      ("shuffle_mb", median(p.map(_.shuffleMb)), "MB", p.size),
      ("peak_heap_mb", median(p.map(_.heapMb)), "MB", p.size),
      ("failed_ratio", failed.toDouble / attempted, "ratio", attempted))
    println(f"[perfbench] workload=${args.workload} seed=${args.seed} cores=$cores " +
      f"passes=$attempted failed=$failed input_mb=${wl.inputBytes / Probe.MB}%.2f " +
      f"broadcast_threshold_mb=$broadcastMb%.2f storage_memory_mb=$storageMb%.2f " +
      f"session_s=$sessionS%.3f prepare_s=${prepS.map(x => f"$x%.3f").mkString("/")} warmup_s=${warm.wallS}%.3f " +
      s"pass_s=${(plainPasses ++ tracedPasses).map(x => f"${x.wallS}%.3f").mkString("/")} " +
      s"task_cpu_s=${(plainPasses ++ tracedPasses).map(x => f"${x.taskCpuS}%.3f").mkString("/")}")
    e2e.foreach { case (name, v, unit, n) =>
      println(f"[perfbench] ${args.workload} $name%-13s median=$v%.6f $unit (n=$n)")
    }

    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) e2e.filter(x => EndToEnd(x._1)).map { case (n, v, u, _) =>
        (n, v, if (n == "throughput") "items/s" else u)
      }
      else layerMetrics(args, tracer, probe, p, tracedPasses.toSeq)

    val json = new StringBuilder
    json ++= s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {"""
    json ++= metrics.map { case (n, v, u) => s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}""" }.mkString(", ")
    json ++= "}}"
    println(json.result())
  }

  /** The per-layer metrics of a traced run, and the span dump. */
  private def layerMetrics(args: Args, tracer: Tracer, probe: Probe, plain: Seq[PassStats],
      traced: Seq[PassStats]): Seq[(String, Double, String)] = {
    probe.drain()
    val spans = tracer.spans.toSeq
    val layers = spans.map(s => s -> tracer.layerOf(s)).toMap
    val byPass = spans.groupBy(_.pass)
    def perPass(f: Seq[Map[String, Double]] => Double): Double =
      median(byPass.values.map(ss => f(ss.map(layers))).toSeq)
    def sumOf(k: String)(ls: Seq[Map[String, Double]]) = ls.map(_(k)).sum

    // named spans and counters, one line each, medians over traced passes
    spans.map(_.name).distinct.foreach { name =>
      val per = byPass.values.map(ss => ss.filter(_.name == name).map(layers)).filter(_.nonEmpty).toSeq
      val keys = Seq("self_s", "cpu_s", "jobs", "shuffle_mb", "input_mb", "driver_gap_s", "read_opens",
        "read_mb", "read_meta_ops")
      println(s"[perfbench] span $name " + keys.map(k => f"$k=${median(per.map(_.map(_(k)).sum))}%.4f").mkString(" "))
    }
    val counterNames = traced.flatMap(_.counters.keys).distinct
    counterNames.foreach { c =>
      println(f"[perfbench] counter $c=${median(traced.flatMap(_.counters.get(c)))}%.6f")
    }
    // store I/O through ByteStore; the text corpus is read by Spark's
    // parquet scan instead, so these read 0 on text_dedup
    Seq("opens" -> "read_opens", "mb" -> "read_mb", "meta_ops" -> "read_meta_ops").foreach { case (c, k) =>
      println(f"[perfbench] counter sources.read.$c=${perPass(sumOf(k))}%.6f")
    }

    val tracedTput = median(traced.map(_.throughput))
    val plainTput = median(plain.map(_.throughput))
    println(f"[perfbench] tracing overhead: untraced $plainTput%.4f vs traced $tracedTput%.4f items/s " +
      f"(ratio ${plainTput / tracedTput}%.4f)")
    writeSpans(args, tracer, layers)

    Seq(
      ("trace.overhead", plainTput / tracedTput, "ratio"),
      ("trace.self_s", perPass(sumOf("self_s")), "s"),
      ("trace.driver_gap_s", perPass(sumOf("driver_gap_s")), "s"),
      ("trace.task_cpu_s", perPass(sumOf("task_cpu_s")), "s"),
      ("trace.jobs", perPass(sumOf("jobs")), "count"),
      ("trace.stages", perPass(sumOf("stages")), "count"),
      ("trace.tasks", perPass(sumOf("tasks")), "count"),
      ("trace.shuffle_mb", perPass(sumOf("shuffle_mb")), "MB"),
      ("trace.input_mb", perPass(sumOf("input_mb")), "MB"),
      ("core.cache.peak_mb", median(traced.map(_.cacheMb)), "MB"),
      ("spark.gc_s", median(plain.map(_.gcS)), "s"))
  }

  private def writeSpans(args: Args, tracer: Tracer, layers: Map[Tracer.Span, Map[String, Double]]): Unit = {
    val runId = s"${args.workload}-${args.seed}"
    val out = args.work.resolve(s"trace-${args.workload}-${args.seed}.json")
    val body = tracer.spans.map { s =>
      val fields = Seq(
        s""""name": "${s.name}"""", s""""id": ${s.id}""", s""""parent": ${s.parent}""",
        s""""run_id": "$runId-pass${s.pass}"""", s""""start_ms": ${s.startMs}""",
        s""""end_ms": ${s.endMs}""") ++
        layers(s).toSeq.sortBy(_._1).map { case (k, v) => s""""$k": ${Json.num(v)}""" } ++
        Seq(s""""counters": {${s.counters.map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString(", ")}}""")
      fields.mkString("{", ", ", "}")
    }
    Files.writeString(out, body.mkString("[\n", ",\n", "\n]\n"))
    println(s"[perfbench] spans written to $out")
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
