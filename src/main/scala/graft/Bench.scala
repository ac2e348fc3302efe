package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Benchmark main: runs the headline query set against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line for the driver.
  *
  * Headline set = one representative of each heavy operator shape
  * (scan+agg, star join, as-of join, window, binning, text blocking join,
  * vector top-k, dedup, LSH near-dup, fingerprint HOF, sessionization,
  * weights regrid). q28_lsh_neardup joined the headline once the candidate
  * join was cut to id-only pairs (the synthetic word-salad corpus makes
  * every doc a candidate — ~5M verified pairs at sf0.1 — so it is the
  * heaviest query by an order of magnitude and the flagship dedup claim).
  *
  * Timing uses the noop sink so the full plan materializes every output
  * column (`count()` lets Spark prune to metadata-only scans).
  *
  * Measurement (round-4 methodology, after the unexplained q28 7.5->12.9s
  * cross-round jump): each query is timed SPARK_GRAFT_BENCH_RUNS times
  * (default 5) and the MEDIAN reported, with min/max spread in the
  * "runs" field — identical code measured a ~2x total band across runs
  * on this host (every query inflating together: scheduler/frequency
  * noise, not plan variance), and a median over >=5 runs bounds that
  * variance where min-of-2 could not. All runs execute the full plan.
  * Round-21 methodology fix (requested by the round-20 verdict): caches
  * an operator persists (e.g. the q26/q28 shingle frame) are released
  * after EVERY run, not just between queries, so each run pays its own
  * cache materialization and the median reports SINGLE-EXECUTION cost
  * (at steady JIT state) rather than cache-warm steady state. The
  * intra-execution multi-consumer reuse those caches exist for still
  * shows; what no longer shows is run N+1 skipping work run N did.
  * Medians of the cache-sharing queries are HIGHER under this rule on
  * identical code — OPTIMIZATION_r21.md records totals under both rules.
  * SPARK_GRAFT_BENCH_QUERIES (comma-separated) restricts the set for
  * focused measurement; an unknown name fails before the warm-up.
  *
  * Next to the wall times, the runs record holds what host noise does not
  * move, measured through one listener (`Tally`): per query and run,
  * executor CPU-seconds, jobs, stages, tasks, shuffle read/write and
  * input bytes, plus the 20 slowest stages of the run, each with the
  * call site of the action it ran under. Its header holds the local core
  * count, the broadcast threshold and the shuffle partitions, so records
  * taken under different settings are never compared blind.
  *
  * The scale curve is this harness over `tools/scale_gen.py` data
  * (`SPARK_GRAFT_SF_DIR=scaledata/xM`, the scale set in
  * SPARK_GRAFT_BENCH_QUERIES, one run, a SPARK_GRAFT_BENCH_RUNS_OUT file);
  * session settings such as the 100 TB mode's
  * `spark.sql.autoBroadcastJoinThreshold=-1` arrive as `-Dspark.*` JVM
  * properties, which SparkConf loads (SCALE.md has the commands).
  */
object Bench {
  val headline: Seq[String] = Seq(
    "q01_group_agg", "q20_star_revenue", "q05_asof_single", "q15_running_sum",
    "q10_binning2d", "q17_daily_counts", "q26_ngram_jaccard", "q30_ann_topk",
    "q22_dedup_exact", "q25_fingerprint", "q41_sessionize", "q35_regrid",
    "q28_lsh_neardup",
    // round-3 breadth: window physics, curvilinear weights, iterative
    // graph, corpus statistics (TF-IDF double agg + size-gated vocabulary
    // join). Round 4: the CC headline entry is the ALT-STAR variant
    // (q75, O(log n) rounds) — the pipeline default at scale; q68 stays
    // in the correctness gate over the same alt-star operator.
    "q57_bolton_lcl", "q58_curvilinear_regrid", "q75_altstar_components",
    "q79_tfidf",
    // Round 6: time the density-clustering operators every round —
    // n-dim DBSCAN (eps-cell candidate join) and HDBSCAN (core distance
    // -> Boruvka MST -> distributed per-cut labeling).
    "q87_dbscan_vectors", "q89_hdbscan_blobs",
    // Round 6 additions: SemDeDup (cell-blocked cosine pairs + alt-star
    // + election) and deterministic corpus mixing (pure projection —
    // its cost is the floor a stateless operator should sit at).
    "q96_semdedup", "q97_data_mixing",
    // Round 6 late additions: exact-substring span dedup (position-hash
    // count + mark-back join + per-doc islands) and the audio
    // quantize->WAV->decode->analyze chain (the UDF-codec path — times
    // the per-row binary-column cost the multimodal contract pays).
    "q104_dup_spans", "q102_audio_features",
    // Round 6 final additions: the C4 cleaning stack (regex/HOF
    // projection over every document — the filter-at-scan-speed claim,
    // timed) and PQ ADC search (encode projection + broadcast probes +
    // salted two-phase top-k — the compressed-ANN scale path).
    "q114_c4_clean", "q117_pq_adc_topk",
    // Round 7: the transformer-encoder inference path (pure-JVM ONNX
    // executor through mapPartitions batches — times the per-row model
    // cost an embedding-production stage pays).
    "q123_onnx_transformer",
    // Round 8: the foreign-fixture model (python-written protobuf)
    // through the multi-input executor — times the tokenize -> Gather/
    // mask -> pool path a sentence-embedding production stage pays.
    "q127_onnx_foreign_pool",
    // Round 9: chunk-parallel HDF5 ingest (manifest -> positioned-read
    // fan-out) — times the consolidated-store decode path end to end,
    // including the driver-side paged metadata parse.
    "q129_hdf5_chunk_parallel",
    // Round 9: stupid-backoff bigram LM (Brants 2007) — times the
    // order-2 perplexity-filter shape (bigram model build + three
    // token-keyed scoring joins), one order up from q79's corpus stats.
    "q131_backoff_lm",
    // Round 9: byte-level BPE corpus encode — times the full-corpus
    // tokenize pass (distinct-pretoken segmentation cache + join-back),
    // the token-accounting cost every dataset build pays.
    "q133_bpe_encode",
    // Round 9: one-pass Naive Bayes train + score — times the
    // vocab × classes model aggregation and the per-(doc,class)
    // scoring expansion, the quality-classifier shape.
    "q137_nb_classifier",
    // Round 10: unigram-LM Viterbi corpus encode — times the third
    // subword scheme's full-corpus pass (per-distinct-token DP fold +
    // token-keyed join-back), one DP up from q133's merge replay.
    "q148_unigram_encode",
    // Round 10: the from-scratch KMeans fit (init + 2 Lloyd rounds +
    // final E-step over the events-derived point set) — times the
    // cluster-model production shape feeding SemDeDup/IVF.
    "q151_kmeans_fit",
    // Round 10: chunk-parallel netCDF-3 record ingest — the classic-
    // format sibling of q129's consolidated-store decode path.
    "q153_netcdf_chunk_parallel",
    // Round 10: cross-corpus LSH decontamination — the A x B banding
    // join (train vs corpus-sized holdout), the q28 shape with two
    // independent sides; timed so the flagship dedup family's second
    // production entry stays perf-tracked.
    "q154_lsh_cross_corpus",
    // Round 10 (second wave): SQ8 asymmetric search — times the
    // fit + encode + dequantizing distance fold, the 4x-compressed ANN
    // rung between q30's exact scan and q117's PQ codes.
    "q161_sq8_adc_topk",
    // Round 10 (second wave): prototype-distance pruning — times the
    // argmin cell assign + two-phase per-cell hardness rank, the
    // data-pruning sibling of q96's SemDeDup.
    "q162_proto_prune",
    // Round 12: compressed Arrow interchange round-trip — times the
    // sf-scaled documents table through write(lz4 bodies) -> two-phase
    // footer-block read -> per-buffer frame decode -> aggregate, the
    // interchange shape that actually ships at 100 TB (sinks always
    // compress). Sits next to q129/q153's ingest timings.
    "q187_arrow_compressed_roundtrip",
    // Round 16: the catalog-scale entry points — store-pruned
    // time+bbox crop over a multi-store scene catalog (one metadata
    // wave + pushed per-store disjunction + broadcast time decode),
    // and the GenerateTiles-shaped slice running entirely through the
    // turnkey open (crop -> tile gather -> reduce). KB-scale fixture
    // stores, so these time the PLAN + decode machinery itself.
    "q216_zarr_catalog_crop", "q217_turnkey_tile_slice",
    // Round 17: the manifest-planned catalog crop (120 scene stores,
    // plan + decode from the persisted CatalogManifest, zero per-store
    // metadata reads) — times the repeat-query shape a scene DB exists
    // for, next to q216's live-wave sibling.
    "q222_manifest_catalog_crop",
    // Round 18: the BROAD manifest crop (300 stores, 279 surviving —
    // above residualJoinAbove, so the per-store ranges ride a
    // broadcast range join instead of the O(survivors) Or residual).
    "q226_broad_catalog_residual",
    // Round 19: the reference's flagship flow end to end — T1-T5
    // triplet sampling -> J6 tile gather -> G1 reduce, with the
    // pixels planned from the persisted scene DB (zero per-store
    // metadata reads; the excluded scene never touched).
    "q228_manifest_triplet_pipeline",
    // Round 20: the THIRD flagship flow — W1 sliding windows -> J6
    // gather -> M1 ONNX MLP inference -> M2 coord restore -> M3
    // projection, manifest-planned like q228 (same catalog, same
    // excluded-scene zero-I/O contract).
    "q229_manifest_embedding_pipeline")

  /** Fails on a name no registry defines, listing the known ones. */
  def requireKnown(names: Seq[String]): Unit =
    names.foreach(n => require(SparkEntry.queries.contains(n),
      s"unknown query '$n' — known: ${SparkEntry.queries.keys.toSeq.sorted.mkString(", ")}"))

  /** One completed stage of a run: wall ms (submission to completion),
    * task-duration median/max, executor CPU and the stage's bytes.
    * `execution` is the description of the SQL execution its job ran
    * under (the action's call site, e.g. `count at Dedup.scala:472`), ""
    * for a job outside one; it names the operator where `name` cannot,
    * as every stage AQE submits is named after the same Spark frame. */
  private final case class StageRow(id: Int, name: String, execution: String, tasks: Int, ms: Long,
      taskMsMed: Long, taskMsMax: Long, cpuS: Double,
      shuffleReadB: Long, shuffleWriteB: Long, inputB: Long)

  /** What one run did, summed over its tasks. */
  private final case class RunStats(jobs: Long, stages: Long, tasks: Long, cpuS: Double,
      shuffleReadB: Long, shuffleWriteB: Long, inputB: Long, slowest: Seq[StageRow])

  /** Driver-side tally of the jobs, stages and tasks since the last
    * [[take]], through public listener events only. [[take]] first runs a
    * one-task marker job and waits until its stage completes: the listener
    * bus delivers events in order, so every event posted before the
    * marker has been counted. The marker's own job, stage and task are
    * not. Each stage takes the description of its job's root SQL
    * execution, posted before the job starts. */
  private final class Tally(sc: SparkContext) extends SparkListener {
    private val lock = new Object
    private var jobs, stages, tasks, cpuNs, shufR, shufW, inputB = 0L
    private val rows = mutable.ArrayBuffer.empty[StageRow]
    private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    private val markerStages = mutable.HashMap.empty[Int, String]
    private val executions = mutable.HashMap.empty[Long, String]
    private val stageExecution = mutable.HashMap.empty[Int, String]
    private var markersSeen = Set.empty[String]
    private var markerSeq = 0
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(Tally.MarkerPrefix)) match {
        case Some(marker) => e.stageIds.foreach(markerStages(_) = marker)
        case None =>
          jobs += 1
          val root = Option(e.properties).flatMap(p =>
            Option(p.getProperty(SQLExecution.EXECUTION_ROOT_ID_KEY))
              .orElse(Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))))
          val desc = root.flatMap(id => executions.get(id.toLong)).getOrElse("")
          e.stageIds.foreach(stageExecution(_) = desc)
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        lock.synchronized(executions(s.executionId) = s.description)
      case _ =>
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      if (!markerStages.contains(e.stageId)) {
        tasks += 1
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          cpuNs += m.executorCpuTime
          shufR += m.shuffleReadMetrics.totalBytesRead
          shufW += m.shuffleWriteMetrics.bytesWritten
          inputB += m.inputMetrics.bytesRead
        }
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      val si = e.stageInfo
      markerStages.remove(si.stageId) match {
        case Some(marker) =>
          markersSeen += marker
          lock.notifyAll()
        case None =>
          stages += 1
          val ts = taskMs.remove(si.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
          val m = si.taskMetrics
          rows += StageRow(si.stageId, si.name.takeWhile(_ != '\n'),
            stageExecution.remove(si.stageId).getOrElse(""), si.numTasks,
            (for (s <- si.submissionTime; c <- si.completionTime) yield c - s).getOrElse(-1L),
            if (ts.isEmpty) 0L else ts(ts.size / 2), ts.lastOption.getOrElse(0L),
            m.executorCpuTime / 1e9, m.shuffleReadMetrics.totalBytesRead,
            m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead)
      }
    }

    /** Drains the bus, returns the tally since the last call and restarts it. */
    def take(): RunStats = {
      val name = lock.synchronized { markerSeq += 1; s"${Tally.MarkerPrefix}$markerSeq" }
      sc.setJobGroup(name, null)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.clearJobGroup()
      val deadline = System.currentTimeMillis() + 60000L
      lock.synchronized {
        while (!markersSeen(name)) {
          val left = deadline - System.currentTimeMillis()
          require(left > 0, "listener bus did not drain within 60 s")
          lock.wait(left)
        }
        markersSeen -= name
        val out = RunStats(jobs, stages, tasks, cpuNs / 1e9, shufR, shufW, inputB,
          rows.sortBy(-_.ms).take(20).toSeq)
        jobs = 0; stages = 0; tasks = 0; cpuNs = 0; shufR = 0; shufW = 0; inputB = 0
        rows.clear(); taskMs.clear(); executions.clear(); stageExecution.clear()
        out
      }
    }
  }

  private object Tally { private val MarkerPrefix = "graft.bench.marker." }

  private def jstr(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  private def r3(v: Double): Double = if (v < 0) -1.0 else math.round(v * 1000) / 1000.0

  private def runJson(wall: Double, st: RunStats): String = {
    val stages = st.slowest.map { r =>
      s"""{"id":${r.id},"ms":${r.ms},"tasks":${r.tasks},"task_ms_med":${r.taskMsMed},""" +
        s""""task_ms_max":${r.taskMsMax},"cpu_s":${r3(r.cpuS)},"shuffle_read_b":${r.shuffleReadB},""" +
        s""""shuffle_write_b":${r.shuffleWriteB},"input_b":${r.inputB},"name":${jstr(r.name)},""" +
        s""""execution":${jstr(r.execution)}}"""
    }.mkString("[", ",", "]")
    s"""{"wall_s":${r3(wall)},"cpu_s":${r3(st.cpuS)},"jobs":${st.jobs},"stages":${st.stages},""" +
      s""""tasks":${st.tasks},"shuffle_read_b":${st.shuffleReadB},""" +
      s""""shuffle_write_b":${st.shuffleWriteB},"input_b":${st.inputB},"slowest_stages":$stages}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "5").toInt
    val set = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(headline)
    requireKnown(set)
    val spark = LocalSession(cpus, cpus, "WARN",
      "spark.sql.adaptive.enabled" -> "true")
    val tally = new Tally(spark.sparkContext)

    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      try SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); return -1.0
      }
      (System.nanoTime() - t0) / 1e9
    }

    // one cache scope per run: the operator-persisted caches drop after
    // EVERY run (round-21 methodology fix), so each run executes the
    // complete plan including cache materialization — the median is
    // per-execution cost. The tally is taken after the scope closed, so
    // a run's record holds its own jobs only.
    def scopedRun(n: String): (Double, RunStats) = {
      val t = graft.core.Caching.scope(spark)(runOnce(n))
      (t, tally.take())
    }
    scopedRun(set.head) // JIT/session warmup, not reported
    val firstPass = set.map { n =>
      val runs = (1 to nRuns).map(_ => scopedRun(n))
      n -> runs
    }
    // Spread guard (round-7, after BENCH_r06's load-contaminated medians):
    // a query whose within-run spread exceeds 2x was almost certainly hit
    // by transient host load, not plan variance — measure it again and
    // take the median over ALL its runs. Both arrays are disclosed.
    val runs = firstPass.map { case (n, rs) =>
      val ts = rs.map(_._1)
      val ok = ts.forall(_ >= 0)
      if (ok && ts.min > 0 && ts.max / ts.min > 2.0 && nRuns > 1) {
        val more = (1 to nRuns).map(_ => scopedRun(n))
        n -> (rs ++ more)
      } else n -> rs
    }
    val results = runs.map { case (n, rs) =>
      val ts = rs.map(_._1)
      // any run failing poisons the query (-1): a flaky query must be
      // visible, not masked by its surviving runs
      n -> (if (ts.exists(_ < 0)) -1.0
            else ts.sorted.apply(ts.size / 2)) // upper median
    }
    // The driver keeps only a 4 KB tail of stdout: the printed line is
    // MEDIANS-ONLY (values rounded to ms) so all headline entries always
    // survive; the full per-run arrays and metrics go to BENCH_RUNS.json
    // alongside the repo for the snapshot commit (spread disclosure lives
    // there).
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val rs = runs.map { case (k, ts) => "\"" + k + "\":[" + ts.map(t => r3(t._1)).mkString(",") + "]" }
      .mkString("{", ",", "}")
    val ms = runs.map { case (k, ts) =>
      "\"" + k + "\":" + ts.map { case (t, st) => runJson(t, st) }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val conf = spark.conf
    val record = s"""{"timing":"median_of_$nRuns","runs":$rs,"sf":${jstr(sfDir)},""" +
      s""""cores":${spark.sparkContext.defaultParallelism},"host_cores":${Runtime.getRuntime.availableProcessors},""" +
      s""""broadcast_threshold":${jstr(conf.get("spark.sql.autoBroadcastJoinThreshold"))},""" +
      s""""shuffle_partitions":${jstr(conf.get("spark.sql.shuffle.partitions"))},""" +
      s""""initial_partitions":${jstr(conf.getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum").getOrElse(""))},""" +
      s""""metrics":$ms}"""
    val total = results.map(_._2).filter(_ >= 0).sum
    // only a FULL-headline run may refresh the committed run arrays — a
    // focused SPARK_GRAFT_BENCH_QUERIES measurement writes only to the
    // SPARK_GRAFT_BENCH_RUNS_OUT side file (when set), so the
    // full-headline snapshot is never clobbered; merging into
    // BENCH_RUNS.json is an explicit, documented step
    val out =
      if (sys.env.get("SPARK_GRAFT_BENCH_QUERIES").isEmpty) Some("BENCH_RUNS.json")
      else sys.env.get("SPARK_GRAFT_BENCH_RUNS_OUT")
    out.foreach { p =>
      try java.nio.file.Files.write(java.nio.file.Paths.get(p), record.getBytes("UTF-8"))
      catch { case e: Exception => System.err.println(s"[bench] runs file $p: ${e.getMessage}") }
    }
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","timing":"median_of_$nRuns","queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
