package graft

import org.apache.spark.sql.functions._

/** Plan-regression harness: the invariants the code comments claim,
  * asserted on the ACTUAL executed plans of the bench headline at
  * sf0.001 — so a future change cannot silently regress a broadcast
  * into a shuffle or introduce a nested loop on a data-sized side.
  *
  * Allowed BroadcastNestedLoopJoins (each a documented broadcast of a
  * config/probe-sized frame, the moral equivalent of
  * crossJoin(broadcast(...))):
  *  - q30_ann_topk: brute-force ANN scans the corpus against ~20
  *    broadcast probes (the intended exact path)
  *  - q48_e2e_slice / q36_triplet_specs: triplet pairing joins the
  *    triplet list to the one-row-per-collection counts frame; with a
  *    single collection the key constant-folds and the (explicitly
  *    broadcast) 1-row side nested-loops
  *  - q79_tfidf: the corpus size N is a one-row count frame explicitly
  *    broadcast-cross-joined onto the term table (idf needs N on every
  *    row; a 1-row broadcast nested loop IS the right plan)
  */
class PlanRegressionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val bnljAllowed =
    Set("q30_ann_topk", "q48_e2e_slice", "q36_triplet_specs", "q79_tfidf",
      // q228: the same triplet-pairing 1-row counts broadcast as q36/q48,
      // fed by the manifest-planned catalog open.
      "q228_manifest_triplet_pipeline",
      // q117: ADC probe LUTs are a bounded broadcast frame cross-joined
      // onto the coded corpus (operators/Pq.scala) — the q30 shape; the
      // dedicated "q117" test below asserts the BNLJ is present.
      "q117_pq_adc_topk",
      // q131: the corpus token total N is a one-row count frame
      // explicitly broadcast-cross-joined onto the scored bigram table
      // (the backoff term needs N on every row) — the q79 shape.
      "q131_backoff_lm",
      // q132/q134: the same 1-row constant broadcasts (N+V / N+avgdl).
      "q132_moore_lewis", "q134_bm25",
      // q135: the dense retrieval side IS q30's brute-force probe
      // broadcast (documented BNLJ), plus the q134 constants.
      "q135_rrf_hybrid",
      // q137: the classes-sized constant frame (and the 1-row V/n_train
      // frame folded into it) is explicitly broadcast-cross-joined onto
      // the token stream — the q79 shape with classes-many rows.
      "q137_nb_classifier",
      // q138: the 1-row (n_total, w_tot) totals frame is explicitly
      // broadcast-cross-joined onto the strata-sized counts frame.
      "q138_temperature_sampling",
      // q161: SQ8 asymmetric search broadcast-cross-joins the bounded
      // probe set onto the coded corpus — the q117 shape.
      "q161_sq8_adc_topk",
      // q165: the matryoshka coarse pass is the same bounded-probe
      // broadcast cross-join (operators/Similarity.prefixRerank).
      "q165_mrl_rerank",
      // q166: the 1-row n_total frame is explicitly broadcast-cross-
      // joined onto the (<= k-1)-row exact recount — the q79 shape.
      "q166_heavy_hitters",
      // q168: the 1-row (n_t, n_s) totals frame is explicitly broadcast-
      // cross-joined onto the per-doc bucket counts — the q132 shape.
      "q168_dsir_weights")

  /** Queries whose RETURNED frame is a driver-side model materialized
    * as a LocalTableScan (no `*(` marker possible): the heavy work runs
    * as separate Spark jobs inside the operator (trainer loops), and
    * those jobs' shapes are asserted by their own operator specs. */
  private val codegenExempt = Set("q149_unigram_train")

  /** Plan with AQE off: the static plan exposes codegen stages and join
    * strategies directly (AQE only re-plans at runtime from this shape). */
  private def planOf(q: String): String = {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(q)(spark, sf).queryExecution.executedPlan.toString
    finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("headline plans: codegen everywhere, no cartesian, BNLJ only where documented") {
    // failure-resilient sweep: collect every query's violations and report
    // them together, so one throwing query cannot blind the rest of the
    // headline (the round-7 NTZ incident masked every query after q41)
    val failures = (Bench.headline :+ "q48_e2e_slice" :+ "q36_triplet_specs" :+ "q71_iorg_objects"
      :+ "q132_moore_lewis" :+ "q134_bm25" :+ "q135_rrf_hybrid"
      :+ "q138_temperature_sampling" :+ "q139_line_dedup"
      :+ "q141_wordpiece_encode" :+ "q142_hilbert_stats"
      :+ "q143_cdc_chunks"
      :+ "q144_hydrostatic_recurrence" :+ "q145_image_math"
      :+ "q146_tile_gather" :+ "q147_optical_flow"
      :+ "q149_unigram_train" :+ "q150_unigram_roundtrip"
      :+ "q152_avro_roundtrip" :+ "q154_lsh_cross_corpus"
      :+ "q155_unigram_sampled" :+ "q156_zarr3_roundtrip"
      :+ "q157_json_extract" :+ "q158_sentence_pack"
      :+ "q159_zarr_chunk_parallel"
      :+ "q160_sq8_encode" :+ "q161_sq8_adc_topk"
      :+ "q162_proto_prune" :+ "q163_length_batches"
      :+ "q164_csv_roundtrip" :+ "q165_mrl_rerank"
      :+ "q166_heavy_hitters" :+ "q167_tfrecord_roundtrip"
      :+ "q168_dsir_weights" :+ "q169_ivf_sq8"
      :+ "q170_entity_resolution" :+ "q171_curation_chain"
      :+ "q172_epoch_shuffle" :+ "q173_funnel" :+ "q174_rollup"
      :+ "q175_npy_roundtrip" :+ "q176_npy_chunk_parallel"
      :+ "q177_safetensors_roundtrip" :+ "q178_dataset_card"
      :+ "q179_mad_outliers"
      :+ "q180_corpus_line_dedup" :+ "q181_nfc_normalize"
      :+ "q182_domain_blocklist" :+ "q183_arrow_roundtrip"
      :+ "q184_arrow_uint_roundtrip" :+ "q185_zarr_blosc_roundtrip"
      :+ "q186_zarr3_sharded_roundtrip" :+ "q187_arrow_compressed_roundtrip"
      :+ "q188_zarr3_shard_inner_parallel" :+ "q189_sft_chat_template"
      :+ "q190_arrow_ext_roundtrip" :+ "q191_hdf5_dsv2_pruned"
      :+ "q192_hdf5_scaleoffset"
      :+ "q193_arrow_struct_roundtrip" :+ "q194_zarr_dsv2_pruned"
      :+ "q195_arrow_uint64_roundtrip" :+ "q196_zarr_blosc_zstd_roundtrip"
      :+ "q197_arrow_map_roundtrip" :+ "q198_netcdf3_dsv2_pruned"
      :+ "q199_npy_dsv2" :+ "q200_zarr_idx_range"
      :+ "q201_netcdf3_file_uri_mount"
      :+ "q202_hdf5_bbox_crop" :+ "q203_zarr_bbox_crop"
      :+ "q204_zarr_coord_crop" :+ "q205_netcdf3_coord_crop"
      :+ "q206_hdf5_coord_crop"
      :+ "q207_hdf5_dimscale_crop" :+ "q208_hdf5_cf_mask_scale"
      :+ "q209_netcdf3_cf_mask_scale" :+ "q210_zarr_cf_mask_scale"
      :+ "q211_hdf5_time_crop" :+ "q212_hdf5_group_mount"
      :+ "q213_zarr_time_crop" :+ "q214_netcdf3_time_crop"
      :+ "q215_netcdf3_cdf5_mount"
      :+ "q216_zarr_catalog_crop" :+ "q217_turnkey_tile_slice"
      :+ "q218_netcdf3_calendar_crop" :+ "q219_multivar_derived"
      :+ "q220_multivar_catalog"
      :+ "q221_perstore_pack_attrs" :+ "q222_manifest_catalog_crop"
      :+ "q223_materialized_scene_table" :+ "q224_manifest_vars_catalog"
      :+ "q225_manifest_tile_slice" :+ "q226_broad_catalog_residual"
      :+ "q227_manifest_vars_materialized"
      :+ "q228_manifest_triplet_pipeline"
      :+ "q229_manifest_embedding_pipeline")
      .flatMap { q =>
        scala.util.Try(planOf(q)) match {
          case scala.util.Failure(e) =>
            Seq(s"$q: plan construction threw ${e.getClass.getSimpleName}: ${e.getMessage.take(200)}")
          case scala.util.Success(plan) =>
            val errs = scala.collection.mutable.Buffer[String]()
            // codegen'd operators print with the `*(n)` stage marker
            if (!plan.contains("*(") && !codegenExempt(q))
              errs += s"$q lost whole-stage codegen"
            if (plan.contains("CartesianProduct")) errs += s"$q plans a cartesian product"
            if (!bnljAllowed(q) && plan.contains("BroadcastNestedLoopJoin"))
              errs += s"$q plans an undocumented nested-loop join:\n${plan.take(1500)}"
            errs.toSeq
        }
      }
    assert(failures.isEmpty, failures.mkString("\n---\n"))
  }

  test("q127: foreign-model inference is shuffle-free and prunes the scan") {
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries("q127_onnx_foreign_pool")(spark, sf)
        .queryExecution.executedPlan
      val plan = exec.toString
      assert(!plan.contains("Exchange"), s"q127 introduced a shuffle:\n${plan.take(1500)}")
      val scanCols = exec.collectLeaves().flatMap(_.output.map(_.name)).toSet
      assert(scanCols == Set("doc_id", "text"),
        s"q127 scan lost its projection — reads $scanCols")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q123: transformer inference is shuffle-free and prunes the scan") {
    // the encoder runs inside mapPartitions: per-tile work only, so the
    // plan must introduce no Exchange; and the embeddings scan must read
    // only (vec_id, embedding) — not any other column of the table
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries("q123_onnx_transformer")(spark, sf)
        .queryExecution.executedPlan
      val plan = exec.toString
      assert(!plan.contains("Exchange"), s"q123 introduced a shuffle:\n${plan.take(1500)}")
      val scanCols = exec.collectLeaves().flatMap(_.output.map(_.name)).toSet
      assert(scanCols == Set("vec_id", "embedding"),
        s"q123 scan lost its projection — reads $scanCols")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q129: the chunk-parallel HDF5 read plans no exchange") {
    // q191's contract for the chunk-parallel path: split planning IS
    // the fan-out (the manifest's chunk map sliced into partitions), so
    // decode introduces no shuffle and the plan carries no exchange at
    // all — neither a range partitioning of the chunk map nor any other
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val exec = SparkEntry.queries("q129_hdf5_chunk_parallel")(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!exec.contains("Exchange"), s"expected no exchange:\n${exec.take(1200)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q191: DSv2 HDF5 scan is exchange-free with the dataset filter pushed") {
    // the DSv2 contract: split planning IS the fan-out (one partition
    // per byte-adjacent chunk run), so the scan->filter->project plan
    // carries no exchange at all, and the pushed dataset filter is
    // visible in the scan description (pruned at plan time)
    val plan = planOf("q191_hdf5_dsv2_pruned")
    assert(!plan.contains("Exchange"), s"DSv2 scan must not shuffle:\n${plan.take(1200)}")
    assert(plan.contains("pushed=") && plan.contains("EqualTo"),
      s"dataset filter must reach the scan:\n${plan.take(1200)}")
  }

  test("q194: DSv2 zarr scan is exchange-free with the dataset filter pushed") {
    // same contract as q191 for the zarr mount: the chunk grid is the
    // fan-out (sharded arrays at inner-chunk granularity), so
    // scan->filter->project carries no exchange and the pushed dataset
    // filter shows in the scan description
    val plan = planOf("q194_zarr_dsv2_pruned")
    assert(!plan.contains("Exchange"), s"DSv2 zarr scan must not shuffle:\n${plan.take(1200)}")
    assert(plan.contains("pushed=") && plan.contains("EqualTo"),
      s"dataset filter must reach the scan:\n${plan.take(1200)}")
  }

  test("q198: DSv2 netCDF-3 scan is exchange-free with the dataset filter pushed") {
    val plan = planOf("q198_netcdf3_dsv2_pruned")
    assert(!plan.contains("Exchange"), s"DSv2 nc3 scan must not shuffle:\n${plan.take(1200)}")
    assert(plan.contains("pushed=") && plan.contains("EqualTo"),
      s"dataset filter must reach the scan:\n${plan.take(1200)}")
  }

  test("q200: the idx range pushes to the zarr scan and PLANS fewer partitions") {
    val plan = planOf("q200_zarr_idx_range")
    assert(!plan.contains("Exchange"), s"DSv2 zarr scan must not shuffle:\n${plan.take(1200)}")
    assert(plan.contains("GreaterThanOrEqual(idx,18)") &&
      plan.contains("LessThanOrEqual(idx,41)"),
      s"idx range must reach the scan:\n${plan.take(1200)}")
    // the prune is observable in the fan-out: chunkRows=4 on two 9x6
    // stores -> 3 row-band chunks each spanning [24r, 24r+23]; the
    // [18, 41] crop keeps bands 0-1 per store (4 tasks), band 2 never
    // plans — vs 6 lwp tasks unfiltered
    val df = graft.SparkEntry.queries("q200_zarr_idx_range")(spark, sf)
    assert(df.rdd.getNumPartitions == 4,
      s"expected 4 planned partitions, got ${df.rdd.getNumPartitions}")
  }

  test("q202: the 2-D bbox pushes to the HDF5 scan and PLANS only intersecting chunks") {
    val plan = planOf("q202_hdf5_bbox_crop")
    assert(!plan.contains("Exchange"), s"DSv2 hdf5 scan must not shuffle:\n${plan.take(1200)}")
    // both coordinate ranges reach the scan (and stay residual above it)
    assert(plan.contains("GreaterThanOrEqual(d0,4)") &&
      plan.contains("LessThanOrEqual(d0,7)") &&
      plan.contains("GreaterThanOrEqual(d1,3)") &&
      plan.contains("LessThanOrEqual(d1,8)"),
      s"d0/d1 ranges must reach the scan:\n${plan.take(1500)}")
    // (8,12) in (4,3) chunks = 2x4 grid; d0 4-7 keeps chunk row 1,
    // d1 3-8 keeps chunk cols 1-2 -> 2 of 8 chunks plan (the decoy's
    // chunks are pruned by the dataset filter)
    val df = graft.SparkEntry.queries("q202_hdf5_bbox_crop")(spark, sf)
    assert(df.rdd.getNumPartitions == 2,
      s"expected 2 planned partitions, got ${df.rdd.getNumPartitions}")
  }

  test("q203: the bbox's chunked dimension prunes zarr row bands at plan time") {
    val plan = planOf("q203_zarr_bbox_crop")
    assert(!plan.contains("Exchange"), s"DSv2 zarr scan must not shuffle:\n${plan.take(1200)}")
    assert(plan.contains("GreaterThanOrEqual(d0,3)") &&
      plan.contains("LessThanOrEqual(d1,3)"),
      s"d0/d1 ranges must reach the scan:\n${plan.take(1500)}")
    // two scenes x 3 row-band chunks; d0 3-6 intersects bands 0-1 only
    // -> 4 of 6 tasks plan (d1 spans the full band width — residual)
    val df = graft.SparkEntry.queries("q203_zarr_bbox_crop")(spark, sf)
    assert(df.rdd.getNumPartitions == 4,
      s"expected 4 planned partitions, got ${df.rdd.getNumPartitions}")
  }

  test("q204: the coordinate-VALUE crop pushes the mapped index ranges to the zarr scan") {
    val plan = planOf("q204_zarr_coord_crop")
    assert(!plan.contains("Exchange"), s"DSv2 zarr scan must not shuffle:\n${plan.take(1200)}")
    // y in [300, 600] maps through the coord array (j*100) to d0 3-6
    assert(plan.contains("GreaterThanOrEqual(d0,3)") &&
      plan.contains("LessThanOrEqual(d0,6)") &&
      plan.contains("GreaterThanOrEqual(d1,1)") &&
      plan.contains("LessThanOrEqual(d1,3)"),
      s"mapped d0/d1 ranges must reach the scan:\n${plan.take(1500)}")
    // single scene x 3 row-band chunks; d0 3-6 keeps bands 0-1
    val df = graft.SparkEntry.queries("q204_zarr_coord_crop")(spark, sf)
    assert(df.rdd.getNumPartitions == 2,
      s"expected 2 planned partitions, got ${df.rdd.getNumPartitions}")
  }

  test("q205: the record-dim coordinate crop prunes netCDF-3 record batches") {
    val plan = planOf("q205_netcdf3_coord_crop")
    assert(!plan.contains("Exchange"), s"DSv2 nc3 scan must not shuffle:\n${plan.take(1200)}")
    // time in [120, 155] maps through the time record variable to d0 2-5
    assert(plan.contains("GreaterThanOrEqual(d0,2)") &&
      plan.contains("LessThanOrEqual(d0,5)"),
      s"mapped d0 range must reach the scan:\n${plan.take(1500)}")
  }

  test("q206: the descending-coordinate crop maps and pushes on the HDF5 mount") {
    val plan = planOf("q206_hdf5_coord_crop")
    assert(!plan.contains("Exchange"), s"DSv2 hdf5 scan must not shuffle:\n${plan.take(1200)}")
    // y = j*1.5 in [6, 10.5] -> d0 4-7; x DESCENDING (11-i)*0.25 in
    // [0.75, 2.0] -> d1 3-8: the q202 crop reached through values
    assert(plan.contains("GreaterThanOrEqual(d0,4)") &&
      plan.contains("LessThanOrEqual(d0,7)") &&
      plan.contains("GreaterThanOrEqual(d1,3)") &&
      plan.contains("LessThanOrEqual(d1,8)"),
      s"mapped d0/d1 ranges must reach the scan:\n${plan.take(1500)}")
    // same prune as q202: (8,12) in (4,3) chunks -> 2 of 8 plan
    val df = graft.SparkEntry.queries("q206_hdf5_coord_crop")(spark, sf)
    assert(df.rdd.getNumPartitions == 2,
      s"expected 2 planned partitions, got ${df.rdd.getNumPartitions}")
  }

  test("q207: the AUTO-discovered dimension-scale crop pushes and prunes like an explicit one") {
    val plan = planOf("q207_hdf5_dimscale_crop")
    assert(!plan.contains("Exchange"), s"DSv2 hdf5 scan must not shuffle:\n${plan.take(1200)}")
    // DIMENSION_LIST names y/x; y = 10+10j in [20, 40] -> d0 1-3,
    // x = 5+10i in [35, 75] -> d1 3-7
    assert(plan.contains("GreaterThanOrEqual(d0,1)") &&
      plan.contains("LessThanOrEqual(d0,3)") &&
      plan.contains("GreaterThanOrEqual(d1,3)") &&
      plan.contains("LessThanOrEqual(d1,7)"),
      s"auto-mapped d0/d1 ranges must reach the scan:\n${plan.take(1500)}")
    // (6,10) in (2,5) chunks = 3x2 grid; d0 1-3 keeps chunk rows 0-1,
    // d1 3-7 keeps both chunk cols -> 4 of 6 chunks plan
    val df = graft.SparkEntry.queries("q207_hdf5_dimscale_crop")(spark, sf)
    assert(df.rdd.getNumPartitions == 4,
      s"expected 4 planned partitions, got ${df.rdd.getNumPartitions}")
  }

  test("q208: CF mask-and-scale is a projection on top of an unshuffled, unweakened scan") {
    val plan = planOf("q208_hdf5_cf_mask_scale")
    assert(!plan.contains("Exchange"), s"DSv2 hdf5 scan must not shuffle:\n${plan.take(1200)}")
    // the dataset filter still pushes; the decode is a plain Project
    assert(plan.contains("EqualTo(dataset,tair)"),
      s"dataset filter must reach the scan:\n${plan.take(1500)}")
    assert(plan.contains("Project"),
      s"mask-and-scale should stay a projection:\n${plan.take(1500)}")
  }

  test("q211: the TIMESTAMP-bounded crop maps through CF units and prunes chunk rows") {
    val plan = planOf("q211_hdf5_time_crop")
    assert(!plan.contains("Exchange"), s"DSv2 hdf5 scan must not shuffle:\n${plan.take(1200)}")
    // "hours since 2020-01-01": [06:00, 18:00] -> d0 6-18
    assert(plan.contains("GreaterThanOrEqual(d0,6)") &&
      plan.contains("LessThanOrEqual(d0,18)"),
      s"time-mapped d0 range must reach the scan:\n${plan.take(1500)}")
    // (24,4) in (6,4) chunks: d0 6-18 keeps chunk rows 1-3 of 4
    val df = graft.SparkEntry.queries("q211_hdf5_time_crop")(spark, sf)
    assert(df.rdd.getNumPartitions == 3,
      s"expected 3 planned partitions, got ${df.rdd.getNumPartitions}")
  }

  test("q212: the grouped mount pushes the path-qualified dataset filter and prunes") {
    val plan = planOf("q212_hdf5_group_mount")
    assert(!plan.contains("Exchange"), s"DSv2 hdf5 scan must not shuffle:\n${plan.take(1200)}")
    assert(plan.contains("EqualTo(dataset,model/t2m)"),
      s"group-path dataset filter must reach the scan:\n${plan.take(1500)}")
    assert(plan.contains("GreaterThanOrEqual(d0,1)") &&
      plan.contains("LessThanOrEqual(d0,3)") &&
      plan.contains("GreaterThanOrEqual(d1,3)") &&
      plan.contains("LessThanOrEqual(d1,7)"),
      s"in-group mapped d0/d1 ranges must reach the scan:\n${plan.take(1500)}")
    // (6,10) in (2,5) chunks: d0 1-3 x d1 3-7 -> 4 of 6 chunks; the
    // root 'surface' decoy and 'model/deep/bias' prune on dataset
    val df = graft.SparkEntry.queries("q212_hdf5_group_mount")(spark, sf)
    assert(df.rdd.getNumPartitions == 4,
      s"expected 4 planned partitions, got ${df.rdd.getNumPartitions}")
  }

  test("q213/q214: TIMESTAMP bounds map through CF units on the zarr and nc3 mounts") {
    val pz = planOf("q213_zarr_time_crop")
    assert(!pz.contains("Exchange"))
    assert(pz.contains("GreaterThanOrEqual(d0,3)") &&
      pz.contains("LessThanOrEqual(d0,5)"),
      s"time-mapped d0 range must reach the zarr scan:\n${pz.take(1500)}")
    // (6,4) in 3-row bands: d0 3-5 keeps band 1 of 2
    val dfz = graft.SparkEntry.queries("q213_zarr_time_crop")(spark, sf)
    assert(dfz.rdd.getNumPartitions == 1,
      s"expected 1 planned partition, got ${dfz.rdd.getNumPartitions}")
    val pn = planOf("q214_netcdf3_time_crop")
    assert(!pn.contains("Exchange"))
    // 30-minute steps: [00:45, 02:30] -> records 2-5
    assert(pn.contains("GreaterThanOrEqual(d0,2)") &&
      pn.contains("LessThanOrEqual(d0,5)"),
      s"time-mapped d0 range must reach the nc3 scan:\n${pn.take(1500)}")
  }

  test("q216: the catalog crop pushes the PER-STORE disjunction (path set + dK ranges)") {
    val plan = planOf("q216_zarr_catalog_crop")
    // the pushed filter carries both surviving stores' branches: each
    // names its path AND its own time-index range (sA rows 2-3, sB
    // rows 0-1) plus the shared x range — the store-pruning shape
    assert(plan.contains("Or(And("), s"no per-store disjunction pushed:\n${plan.take(2000)}")
    assert(plan.contains("sA.zarr") && plan.contains("sB.zarr"),
      s"surviving store paths must be in the pushed branches:\n${plan.take(2000)}")
    assert(!plan.contains("sC.zarr"),
      "the provably-missing store must NOT appear in any branch")
    assert(plan.contains("GreaterThanOrEqual(d0,2)") && // sA's range
      plan.contains("LessThanOrEqual(d0,1)"),           // sB's range
      s"per-store d0 ranges must reach the scan:\n${plan.take(2000)}")
    assert(plan.contains("GreaterThanOrEqual(d1,1)") &&
      plan.contains("LessThanOrEqual(d1,2)"),
      s"the shared x range must reach the scan:\n${plan.take(2000)}")
    // plan-level store pruning: only the 2 surviving stores' single
    // chunks plan (1 task each)
    val df = graft.SparkEntry.queries("q216_zarr_catalog_crop")(spark, sf)
    assert(df.rdd.getNumPartitions <= 2,
      s"expected <= 2 planned partitions, got ${df.rdd.getNumPartitions}")
  }

  test("q217: the turnkey slice's coordinate decode is broadcast, scan unshuffled until the reduce") {
    val plan = planOf("q217_turnkey_tile_slice")
    assert(plan.contains("BroadcastHashJoin"), s"decode not broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"coordinate decode must not shuffle or cross:\n${plan.take(1500)}")
    // exactly ONE exchange: the per-tile groupBy (the reduce itself)
    val exchanges = "Exchange".r.findAllIn(plan.replace("BroadcastExchange", "BX")).size
    assert(exchanges == 1, s"expected 1 shuffle exchange (the tile reduce), got $exchanges:\n${plan.take(2000)}")
    // the time bound prunes the [1,6,8] chunk grid: 1 of 2 time chunks
    // per surviving store -> 2 tasks
    val df = graft.SparkEntry.queries("q217_turnkey_tile_slice")(spark, sf)
    assert(df.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
  }

  test("q219: the multi-variable open is one scan + one pivot exchange, no joins") {
    val plan = planOf("q219_multivar_derived")
    assert(plan.contains("In(dataset"), s"dataset IN must push:\n${plan.take(1200)}")
    assert(!plan.contains("Join"), s"multi-open must not self-join:\n${plan.take(1200)}")
    assert(plan.contains("GreaterThanOrEqual(d0,1)") &&
      plan.contains("LessThanOrEqual(d0,3)"),
      s"the y crop must reach the scan for BOTH variables:\n${plan.take(1500)}")
    val exchanges = "Exchange".r.findAllIn(plan.replace("BroadcastExchange", "BX")).size
    assert(exchanges == 1, s"expected exactly 1 exchange (the pivot), got $exchanges")
  }

  test("q220: the vars-catalog open prunes stores, pivots once, never sort-merges") {
    val plan = planOf("q220_multivar_catalog")
    assert(plan.contains("In(dataset"), s"dataset IN must push:\n${plan.take(1500)}")
    assert(plan.contains("cs1.zarr") && !plan.contains("cs0.zarr"),
      s"only the intersecting store may appear in the pushed branches:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"decode must not shuffle-join:\n${plan.take(1500)}")
    val exchanges = "Exchange".r.findAllIn(plan.replace("BroadcastExchange", "BX")).size
    assert(exchanges == 1, s"expected exactly 1 shuffle exchange (the pivot), got $exchanges")
  }

  test("q221: per-store pack attrs decode via broadcast, never a shuffle join") {
    val plan = planOf("q221_perstore_pack_attrs")
    assert(plan.contains("BroadcastHashJoin"),
      s"per-store attrs must broadcast:\n${plan.take(1500)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"attrs decode must not shuffle:\n${plan.take(1500)}")
    // one broadcast exchange (the attrs table), zero shuffle exchanges
    val shuffles = "Exchange".r.findAllIn(plan.replace("BroadcastExchange", "BX")).size
    assert(shuffles == 0, s"expected no shuffle exchange, got $shuffles:\n${plan.take(2000)}")
  }

  test("q222: the manifest plan pushes only SURVIVING stores; no store listing, no shuffle join") {
    val plan = planOf("q222_manifest_catalog_crop")
    // the pushed disjunction names the 10 surviving scenes (i%28 in
    // {4,5}) and none of the 110 excluded ones
    for (i <- Seq(4, 5, 32, 33))
      assert(plan.contains(f"sc$i%03d.zarr"),
        s"surviving sc$i%03d missing from the pushed branches:\n${plan.take(2000)}")
    for (i <- Seq(0, 6, 27, 119))
      assert(!plan.contains(f"sc$i%03d.zarr"),
        s"excluded sc$i%03d leaked into the plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"decode must not shuffle-join:\n${plan.take(1500)}")
    // per-store epochs differ -> the time decode is a broadcast table
    assert(plan.contains("BroadcastHashJoin"), s"decode not broadcast:\n${plan.take(1500)}")
    // store pruning reached task planning: only surviving chunks plan
    val df = graft.SparkEntry.queries("q222_manifest_catalog_crop")(spark, sf)
    assert(df.rdd.getNumPartitions <= 10,
      s"expected <= 10 planned partitions (one chunk per surviving scene), " +
        s"got ${df.rdd.getNumPartitions}")
  }

  test("q224: the manifest vars-catalog pushes only the member-surviving store, pivots once") {
    val plan = planOf("q224_manifest_vars_catalog")
    assert(plan.contains("In(dataset"), s"dataset IN must push:\n${plan.take(1500)}")
    assert(plan.contains("mv1.zarr") && !plan.contains("mv0.zarr") &&
      !plan.contains("mv2.zarr"),
      s"only the member-surviving store may appear:\n${plan.take(2000)}")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"),
      s"decode must not shuffle-join:\n${plan.take(1500)}")
    val exchanges = "Exchange".r.findAllIn(plan.replace("BroadcastExchange", "BX")).size
    assert(exchanges == 1, s"expected exactly 1 shuffle exchange (the pivot), got $exchanges")
  }

  test("q225: the manifest-planned tile slice pushes survivors only, end to end") {
    // the reference's full pipeline shape (scene DB -> crop -> tiles):
    // the pushed branches name the two surviving scenes, never the
    // excluded day-5 one; the tile reduction is the only exchange
    val plan = planOf("q225_manifest_tile_slice")
    assert(plan.contains("sA.zarr") && plan.contains("sB.zarr"),
      s"surviving scenes missing from the pushed branches:\n${plan.take(2000)}")
    assert(!plan.contains("sC.zarr"), "the excluded scene leaked into the plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
    val exchanges = "Exchange".r
      .findAllIn(plan.replace("BroadcastExchange", "BX")).size
    assert(exchanges == 1,
      s"expected exactly 1 shuffle exchange (the tile groupBy), got $exchanges")
    // and the crop reached task planning: only in-window chunks plan
    val df = graft.SparkEntry.queries("q225_manifest_tile_slice")(spark, sf)
    assert(df.rdd.getNumPartitions <= 2,
      s"expected <= 2 planned partitions, got ${df.rdd.getNumPartitions}")
    // the excluded scene costs NOTHING: plan + execute touches no sC byte
    val r = graft.sources.ByteStore.startRecording()
    try {
      graft.SparkEntry.queries("q225_manifest_tile_slice")(spark, sf).collect()
      val sC = r.pathsTouched.filter(_.contains("sC.zarr"))
      assert(sC.isEmpty, s"excluded scene touched: $sC")
    } finally graft.sources.ByteStore.stopRecording()
  }

  test("q228: the manifest-planned triplet pipeline costs the excluded scene nothing") {
    // the reference's flagship flow (T1-T5 sampling -> J6 gather -> G1
    // reduce) planned from the scene DB end to end: the pushed branches
    // name only the four member scenes; the excluded day-9 scene is
    // never read — not at plan time, not at execution
    val plan = planOf("q228_manifest_triplet_pipeline")
    assert(plan.contains("e2.zarr") && plan.contains("e5.zarr"),
      s"surviving scenes missing from the pushed branches:\n${plan.take(2000)}")
    assert(!plan.contains("e7.zarr"), "the excluded scene leaked into the plan")
    val r = graft.sources.ByteStore.startRecording()
    try {
      graft.SparkEntry.queries("q228_manifest_triplet_pipeline")(spark, sf)
        .collect()
      val e7 = r.pathsTouched.filter(_.contains("e7.zarr"))
      assert(e7.isEmpty, s"excluded scene touched: $e7")
    } finally graft.sources.ByteStore.stopRecording()
  }

  test("q229: the manifest-planned embeddings pipeline costs the excluded scene nothing") {
    // the reference's THIRD flagship flow (W1 sliding windows -> J6
    // gather -> M1 ONNX inference -> M2 coord restore -> M3 projection)
    // planned from the scene DB end to end: the pushed branches name
    // only the four member scenes; the excluded day-9 scene is never
    // read — not at plan time, not at execution
    val plan = planOf("q229_manifest_embedding_pipeline")
    assert(plan.contains("e2.zarr") && plan.contains("e5.zarr"),
      s"surviving scenes missing from the pushed branches:\n${plan.take(2000)}")
    assert(!plan.contains("e7.zarr"), "the excluded scene leaked into the plan")
    val r = graft.sources.ByteStore.startRecording()
    try {
      graft.SparkEntry.queries("q229_manifest_embedding_pipeline")(spark, sf)
        .collect()
      val e7 = r.pathsTouched.filter(_.contains("e7.zarr"))
      assert(e7.isEmpty, s"excluded scene touched: $e7")
    } finally graft.sources.ByteStore.stopRecording()
  }

  test("q226: above the threshold the catalog crop is path-IN + broadcast range join") {
    val plan = planOf("q226_broad_catalog_residual")
    // the O(survivors) Or is gone: the scan filter is the IN set (+
    // union envelope) and the exact ranges ride the __lo/__hi join
    assert(plan.contains("__lo0"),
      s"broad crop must take the range-join form:\n${plan.take(1500)}")
    assert(!plan.contains("bc000.zarr) OR"),
      "the per-store Or leaked into the broad form")
    // excluded stores (i%28 in 26..27) appear NOWHERE, even in the IN
    for (i <- Seq(26, 27, 54, 55))
      assert(!plan.contains(f"bc$i%03d.zarr"), s"excluded bc$i%03d leaked")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"))
  }

  test("q215: the CDF-5 mount pushes the record crop like CDF-1") {
    val plan = planOf("q215_netcdf3_cdf5_mount")
    assert(!plan.contains("Exchange"), s"DSv2 nc3 scan must not shuffle:\n${plan.take(1200)}")
    assert(plan.contains("EqualTo(dataset,counts)") &&
      plan.contains("GreaterThanOrEqual(d0,2)") &&
      plan.contains("LessThanOrEqual(d0,5)"),
      s"dataset + d0 range must reach the scan:\n${plan.take(1500)}")
  }

  test("q201: the file:// URI mount plans exactly like the plain-path mount") {
    val plan = planOf("q201_netcdf3_file_uri_mount")
    assert(!plan.contains("Exchange"), s"DSv2 nc3 scan must not shuffle:\n${plan.take(1200)}")
    assert(plan.contains("pushed=") && plan.contains("EqualTo"),
      s"dataset filter must reach the scan:\n${plan.take(1200)}")
    val viaUri = graft.SparkEntry.queries("q201_netcdf3_file_uri_mount")(spark, sf)
    val plain = graft.SparkEntry.queries("q198_netcdf3_dsv2_pruned")(spark, sf)
    assert(viaUri.rdd.getNumPartitions == plain.rdd.getNumPartitions)
  }

  test("q35: regrid weights are broadcast, never shuffled") {
    val plan = planOf("q35_regrid")
    assert(plan.contains("BroadcastHashJoin"), s"weights join must broadcast:\n${plan.take(1200)}")
    assert(!plan.contains("SortMergeJoin"), "weights join regressed to a shuffle join")
  }

  test("q20: every dimension of the star joins as a broadcast hash join") {
    val plan = planOf("q20_star_revenue")
    val nBroadcast = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(nBroadcast >= 3, s"expected >=3 broadcast dims, got $nBroadcast")
  }

  test("q28: LSH candidate join carries no array columns through the exchange") {
    // the round-1 scale bug: shingle arrays riding the band join. The
    // exchanges between banding and candidate-distinct must move only
    // (band, bh, doc ids) — no array-typed attribute
    val plan = planOf("q28_lsh_neardup")
    val exchangeLines = plan.linesIterator.filter(_.contains("Exchange hashpartitioning")).toSeq
    val arrayCarrying = exchangeLines.filter(l => l.contains("xs#") || l.contains("sa#") || l.contains("sb#"))
    assert(arrayCarrying.isEmpty,
      s"shingle arrays must not ride the candidate exchange:\n${arrayCarrying.mkString("\n")}")
  }

  test("q58/q59: spatial regrids join on integer bins — no cartesian, no nested loop") {
    Seq("q58_curvilinear_regrid", "q59_greatcircle_nearest").foreach { q =>
      val plan = planOf(q)
      assert(!plan.contains("CartesianProduct"), s"$q plans a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q plans a nested-loop join")
      assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin"),
        s"$q lost its bucketed equi-join:\n${plan.take(1200)}")
    }
  }

  test("q62/q73: ANN candidate generation broadcasts the probe side") {
    Seq("q62_lsh_ann", "q73_ivf_ann").foreach { q =>
      val plan = planOf(q)
      assert(plan.contains("BroadcastHashJoin"), s"$q probe join must broadcast")
      assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
        s"$q candidate join regressed to a non-equi join")
    }
  }

  test("q67: bucketed join inputs are never re-shuffled") {
    // the single permitted hashpartitioning exchange feeds the final
    // aggregation; the scan->join path must stay exchange-free (that is
    // the entire point of write-time bucketing)
    val plan = planOf("q67_bucketed_join")
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles <= 1,
      s"bucketed join re-shuffles its inputs ($shuffles exchanges):\n${plan.take(1200)}")
  }

  test("q68: component labels resolve through joins and aggregates only") {
    val plan = planOf("q68_dedup_components")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q68 label join regressed:\n${plan.take(1200)}")
  }

  test("tfidf vocabulary join honors the size gate in both forced modes") {
    // the unconditional-broadcast scale bug (round-3 verdict): docFreq is
    // vocabulary-sized and vocabularies are unbounded, so the join carries
    // no hint and the broadcast threshold alone decides. A high threshold
    // must broadcast the vocabulary; -1 (the 100 TB setting) must not.
    import graft.functions.TextAnalysis
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    def plan(threshold: String): String = {
      spark.conf.set(key, threshold)
      TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", 3).queryExecution.executedPlan.toString
    }
    try {
      val b = plan("1g")
      assert(b.contains("BroadcastHashJoin"), s"vocab join not broadcast under a high threshold:\n${b.take(1200)}")
      val sh = plan("-1")
      assert(!sh.contains("BroadcastHashJoin"),
        s"vocab must not broadcast at threshold -1 (the 100 TB setting):\n${sh.take(1200)}")
    } finally {
      saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      spark.conf.set("spark.sql.adaptive.enabled", "true")
    }
  }

  test("q28 and q154: the verify joins broadcast under the default threshold, " +
    "shuffle at -1, and return the same pairs") {
    // the LSH verify joins carry no hint: the broadcast threshold decides,
    // as for the vocabulary join above. Read from each final adaptive plan.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, HashJoin, SortMergeJoinExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case s: QueryStageExec => nodes(s.plan)
      case o => o.children.flatMap(nodes)
    })
    def onIds(keys: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      keys.map(_.sql).exists(k => k.contains("doc_a") || k.contains("doc_b"))
    def run(q: String): (Set[(Long, Long)], Seq[SparkPlan]) = graft.core.Caching.scope(spark) {
      val out = SparkEntry.queries(q)(spark, sf)
      val pairs = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (pairs, nodes(out.queryExecution.executedPlan).filter {
        case j: HashJoin => onIds(j.leftKeys)
        case j: SortMergeJoinExec => onIds(j.leftKeys)
        case _ => false
      })
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    Seq("q28_lsh_neardup", "q154_lsh_cross_corpus").foreach { q =>
      val (ref, bc) = run(q)
      assert(ref.nonEmpty, s"$q returned no pairs")
      assert(bc.size == 2 && bc.forall(_.isInstanceOf[BroadcastHashJoinExec]),
        s"$q: want two broadcast verify joins, got $bc")
      val saved = spark.conf.getOption(key)
      spark.conf.set(key, "-1")
      try {
        val (pairs, sh) = run(q)
        assert(sh.size == 2 && !sh.exists(_.isInstanceOf[BroadcastHashJoinExec]),
          s"$q at -1: want two shuffled verify joins, got $sh")
        assert(pairs == ref, s"$q: pairs differ at -1")
      } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("density-clustering candidate generation plans as an equi-join on cells") {
    // the n-dim DBSCAN / HDBSCAN candidate join (Dbscan.candidateJoin,
    // shared by clusterVectors and Hdbscan) must stay an integer-cell
    // equi-join: a cartesian or nested loop here is the all-pairs
    // regression the eps-grid blocking exists to prevent. Asserted on
    // the join frame itself — the public operators materialize eagerly,
    // so their returned plans would not show it.
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val pts = (0L until 100L).map(i => (i, Seq(i * 0.7 % 13, i * 1.3 % 17, i % 5 * 1.0)))
        .toDF("pid", "vec")
        .select(col("pid"), expr("transform(vec, x -> cast(x as double))").as("vec"))
      for (binDims <- Seq(2, 3)) {
        val (joined, dist2, binned) = graft.operators.Dbscan.candidateJoin(pts, 2.5, binDims)
        val plan = joined.where(dist2 <= 6.25).queryExecution.executedPlan.toString
        binned.release()
        assert(!plan.contains("CartesianProduct"),
          s"binDims=$binDims candidate join plans a cartesian product")
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"binDims=$binDims candidate join plans a nested loop:\n${plan.take(1200)}")
        assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
          s"binDims=$binDims candidate join lost its equi-join:\n${plan.take(1200)}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("semDedup candidate generation plans as an equi-join on cells") {
    // stage 2 of SemDeDup must meet on the integer cell key: a cartesian
    // or nested loop is the all-pairs regression the KMeans-cell
    // blocking exists to prevent. Asserted on the pair frame itself —
    // the public operator runs it inside the alt-star loop.
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val cents = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))
      val vecs = (0L until 100L).map(i =>
        (i, Array((i % 7).toFloat / 7 + 0.1f, (i % 5).toFloat / 5 + 0.1f)))
        .toDF("vec_id", "embedding")
      val pairs = graft.operators.Similarity.semDedupPairs(
        graft.operators.Similarity.semDedupAssign(vecs, "vec_id", "embedding", cents),
        threshold = 0.9)
      val plan = pairs.queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        "semDedup pair join plans a cartesian product")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"semDedup pair join plans a nested loop:\n${plan.take(1200)}")
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
        s"semDedup pair join lost its equi-join:\n${plan.take(1200)}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("q102/q103: audio feature extraction never shuffles") {
    // quantize -> WAV encode -> decode -> peak/energy/crossings is pure
    // per-row work; frame energies and resampling likewise. An Exchange
    // in these plans means a per-row op silently became an aggregation.
    for (q <- Seq("q102_audio_features")) {
      val plan = planOf(q)
      assert(!plan.contains("Exchange"), s"$q introduced a shuffle:\n${plan.take(1200)}")
    }
    // q103 ends in a posexplode union (still shuffle-free)
    val plan103 = planOf("q103_audio_resample")
    assert(!plan103.contains("Exchange"), s"q103 introduced a shuffle:\n${plan103.take(1200)}")
  }

  test("q104: duplicated-span marking meets on an int64 hash equi-join") {
    // the mark-back join of the exact-substring dedup must stay an
    // equi-join on g — a nested loop here is the all-positions-cross-
    // all-hashes regression. (The window after it legitimately shuffles
    // by doc_id.)
    val plan = planOf("q104_dup_spans")
    assert(!plan.contains("CartesianProduct"), "q104 plans a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q104 plans a nested loop:\n${plan.take(1200)}")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"q104 lost its equi-join:\n${plan.take(1200)}")
  }

  test("q110/q113: chunking and URL canonicalization are pure projections") {
    for (q <- Seq("q110_token_chunks", "q113_url_canon")) {
      val plan = planOf(q)
      assert(!plan.contains("Exchange"), s"$q introduced a shuffle:\n${plan.take(1200)}")
    }
  }

  test("q114/q115: curation rule stacks are pure projections") {
    for (q <- Seq("q114_c4_clean", "q115_gopher_rules")) {
      val plan = planOf(q)
      assert(!plan.contains("Exchange"), s"$q introduced a shuffle:\n${plan.take(1200)}")
    }
  }

  test("q180: corpus line-dedup election meets on equi-joins only") {
    // the md5-key election and the dropped-index join-back must both be
    // hash/merge equi-joins — a nested loop here is the all-lines-cross-
    // all-keys regression; the doc text itself must never be a join key
    val plan = planOf("q180_corpus_line_dedup")
    assert(!plan.contains("CartesianProduct"), "q180 plans a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q180 plans a nested loop:\n${plan.take(1200)}")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"q180 lost its equi-joins:\n${plan.take(1200)}")
  }

  test("q181: NFC normalization is a pure codegen'd projection") {
    // the native expression must stay inside whole-stage codegen over
    // one scan; an Exchange means a per-row op became an aggregation,
    // and a missing `*(` marker means the expression broke codegen
    val plan = planOf("q181_nfc_normalize")
    assert(!plan.contains("Exchange"), s"q181 introduced a shuffle:\n${plan.take(1200)}")
    assert(plan.contains("*("), s"q181 lost whole-stage codegen:\n${plan.take(1200)}")
  }

  test("q145: the image-math chain is a pure projection") {
    // true-green -> clip -> gamma -> contrast -> quantize -> stack ->
    // resize is all higher-order array math over one scan; an Exchange
    // here means per-row raster math silently became an aggregation
    val plan = planOf("q145_image_math")
    assert(!plan.contains("Exchange"), s"q145 introduced a shuffle:\n${plan.take(1200)}")
  }

  test("q146: tile gather joins on spatial cells, never a nested loop") {
    // the J6 claim: the bbox range join is rewritten as an equi-join on
    // (scene_id, cx, cy) — a BNLJ/cartesian here is the O(N·M) regression
    val plan = planOf("q146_tile_gather")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"q146 lost the cell-bucketed equi-join:\n${plan.take(1200)}")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"q146 lost its equi-join:\n${plan.take(1200)}")
  }

  test("q160: SQ8 encode is a pure projection over one scan") {
    // the fit runs as its own bounded job inside fitMinMax; the RETURNED
    // encode frame must be shuffle-free per-row work (an Exchange means
    // the model stopped being plan-embedded)
    val plan = planOf("q160_sq8_encode")
    assert(!plan.contains("Exchange"), s"q160 introduced a shuffle:\n${plan.take(1200)}")
  }

  test("q162: proto-prune joins are broadcasts on integer keys") {
    // widths/offsets/targets are cells(-x-buckets)-sized frames: each
    // must reach the big side as a BroadcastHashJoin — a SortMergeJoin
    // here shuffles the corpus three extra times
    val plan = planOf("q162_proto_prune")
    assert(!plan.contains("SortMergeJoin"),
      s"q162 shuffles a bounded side:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"q162 lost its broadcast joins:\n${plan.take(1500)}")
  }

  test("q158: sentence packing is a pure projection") {
    // sentence split + greedy fold + size hash all ride one scan; an
    // Exchange means the per-doc fold silently became an aggregation
    val plan = planOf("q158_sentence_pack")
    assert(!plan.contains("Exchange"), s"q158 introduced a shuffle:\n${plan.take(1200)}")
  }

  test("q119: HTML extraction is a pure projection") {
    val plan = planOf("q119_html_extract")
    assert(!plan.contains("Exchange"), s"q119 introduced a shuffle:\n${plan.take(1200)}")
  }

  test("q116: PQ encoding is a pure projection") {
    val plan = planOf("q116_pq_encode")
    assert(!plan.contains("Exchange"), s"q116 introduced a shuffle:\n${plan.take(1200)}")
  }

  test("q117: ADC search broadcasts the probe side") {
    // crossJoin(broadcast(probes)) — the q30 shape: corpus scanned once,
    // bounded probe frame broadcast; no shuffle before the top-k window
    val plan = planOf("q117_pq_adc_topk")
    assert(plan.contains("BroadcastNestedLoopJoin"), "expected broadcast probe join")
    assert(!plan.contains("CartesianProduct"), "q117 plans a cartesian product")
  }

  test("q112: every PageRank round joins hash/merge — no cartesian, no nested loop") {
    val plan = planOf("q112_pagerank")
    assert(!plan.contains("CartesianProduct"), "q112 plans a cartesian product")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"q112 plans a nested loop:\n${plan.take(1200)}")
  }

  test("no declared query plans an unbounded partition-less window") {
    // A WindowExec with an empty partition spec runs its whole input in
    // ONE task — a scale-killer on a data-sized frame (the source of
    // Verify's "No Partition Defined for Window operation" warnings).
    // Allowed here only when the single task provably sees a bounded row
    // count, in one of two ways:
    //  - a WindowGroupLimitExec below it (Spark's rank-filter pushdown:
    //    the global window sees at most k rows per upstream partition —
    //    q120's top-30 pairs, q122's top-100 tokens), detected
    //    structurally, or
    //  - the input is a bounded-domain dimension, allowlisted:
    val boundedDim = Set(
      // q63: row_number over DISTINCT event_type — the event-type enum
      // (single-digit cardinality at any corpus size)
      "q63_salted_join",
      // q109: the cumulative sum runs over the MERGED HDR cell table —
      // bounded by sketch construction (<= 2^sBits sub-buckets x 57
      // shifts regardless of data volume; Sketches.hdrQuantiles)
      "q109_hdr_quantiles")
    val sfDir = sf
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { q =>
      val planned = scala.util.Try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        try SparkEntry.queries(q)(spark, sfDir).queryExecution.executedPlan
        finally {
          spark.conf.set("spark.sql.adaptive.enabled", "true")
          graft.operators.Dedup.releaseCaches()
        }
      }
      planned match {
        case scala.util.Failure(e) =>
          Seq(s"$q: plan construction threw ${e.getClass.getSimpleName}")
        case scala.util.Success(plan) =>
          plan.collect {
            case w: org.apache.spark.sql.execution.window.WindowExec
                if w.partitionSpec.isEmpty =>
              val grouplimited = w.find {
                case g: org.apache.spark.sql.execution.window.WindowGroupLimitExec =>
                  g.partitionSpec.isEmpty
                // LimitPushDownThroughWindow turns a raw-rank filter into
                // a global top-k below the window — per-partition top-k
                // then a k-row merge: equally bounded
                case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
                case _: org.apache.spark.sql.execution.BaseLimitExec => true
                case _ => false
              }.isDefined
              if (grouplimited || boundedDim(q)) None
              else Some(s"$q: partition-less Window with no group limit")
          }.flatten
      }
    }
    assert(bad.isEmpty, s"unbounded global windows:\n${bad.mkString("\n")}")
  }

  test("q53: time filter pushes into the DSv2 scan (residual-free)") {
    val plan = planOf("q53_dsv2_calendar")
    assert(plan.contains("graft-calendar scan"), "expected the custom calendar scan")
    // the pushed bounds narrow the scan to Feb 2024 (within the table's
    // full-year t0/t1): the scan description carries the pushed [lo..hi]
    val us0 = java.time.LocalDateTime.parse("2024-02-01T00:00")
      .toInstant(java.time.ZoneOffset.UTC).getEpochSecond * 1000000L
    assert(plan.contains(s"[${us0}us"), s"scan lower bound not pushed:\n${plan.take(800)}")
  }
}
