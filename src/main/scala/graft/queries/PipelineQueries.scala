package graft.queries

import graft.{QueryDef, Tables}
import graft.core.Projection.{DegPerRad, RadPerDeg}
import graft.functions.{DerivedVariables, Solar, TextAnalysis, UserFunctions}
import graft.operators.{RankStats, Sessionize}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Pipeline-compilation operator surface: the C10 derived-variable DAG,
  * C11 filter DSL, G2 layer means, C5 solar geometry, and gap
  * sessionization (the batch dual of streaming session windows).
  */
object PipelineQueries {

  /** The q82 MLP restated as SQL: hidden_j = relu(Σ_i x_i·w1[i,j] + b1_j),
    * out_k = Σ_j hidden_j·w2[j,k] + b2_k — summation written term-by-term
    * LEFT TO RIGHT so DuckDB's double arithmetic replays the executor's
    * accumulation order bit-for-bit (weights are exact eighths, so their
    * decimal literals are exact doubles). */
  private def q82OracleSql: String = {
    import graft.embeddings.OnnxWriter
    val (d, h, e) = (64, 8, 4)
    val w1 = OnnxWriter.w1(d, h); val b1 = OnnxWriter.b1(h)
    val w2 = OnnxWriter.w2(h, e); val b2 = OnnxWriter.b2(e)
    val hidden = (0 until h).map { j =>
      val terms = (0 until d)
        .map(i => s"CAST(embedding[${i + 1}] AS DOUBLE) * ${w1(i * h + j)}")
        .mkString(" + ")
      s"CASE WHEN $terms + ${b1(j)} > 0 THEN $terms + ${b1(j)} ELSE 0.0 END AS h$j"
    }.mkString(",\n    ")
    val outs = (0 until e).map { k =>
      val terms = (0 until h).map(j => s"h$j * ${w2(j * e + k)}").mkString(" + ")
      s"SELECT vec_id, CAST($k AS BIGINT) AS k, CAST($terms + ${b2(k)} AS REAL) AS v FROM hid"
    }.mkString("\n  UNION ALL ")
    s"""WITH hid AS (
       |  SELECT vec_id,
       |    $hidden
       |  FROM embeddings)
       |$outs""".stripMargin
  }

  /** The q86 conv chain restated as SQL. The model is the OnnxWriter conv
    * fixture (Conv 3x3 -> Relu -> MaxPool 2x2 -> BatchNorm -> GAP ->
    * Flatten -> Gemm) over a 1x6x6 image taken from the first 36
    * embedding components. Every accumulation is restated in the
    * executor's exact order (conv: ky then kx left-to-right, bias last;
    * GAP: scan order then one division; Gemm: inner-dim order), weights
    * are exact eighths, and the BN variances are chosen so var+eps is a
    * perfect square — the whole chain is deterministic double arithmetic
    * on both engines. */
  private def q86OracleSql: String = {
    import graft.embeddings.OnnxWriter
    val (m, e) = (2, 4)
    val cw = OnnxWriter.convW(m, 1); val cb = OnnxWriter.convB(m)
    val bs = OnnxWriter.bnScale(m); val bb = OnnxWriter.bnBias(m)
    val bm = OnnxWriter.bnMean(m); val bv = OnnxWriter.bnVar(m)
    val gw = OnnxWriter.gemmW(m, e); val gb = OnnxWriter.gemmB(e)
    // Conv(pads=0, strides=1) + Relu: 6x6 -> 4x4 per output channel
    val convCols = (for (co <- 0 until m; y <- 0 until 4; x <- 0 until 4) yield {
      val terms = (for (ky <- 0 until 3; kx <- 0 until 3) yield
        s"CAST(embedding[${(y + ky) * 6 + (x + kx) + 1}] AS DOUBLE) * ${cw(co * 9 + ky * 3 + kx)}")
        .mkString(" + ")
      val expr = s"$terms + ${cb(co)}"
      s"CASE WHEN $expr > 0 THEN $expr ELSE 0.0 END AS r${co}_${y}_$x"
    }).mkString(",\n    ")
    // MaxPool 2x2 (stride = kernel): 4x4 -> 2x2; relu'd values are >= 0
    // and non-NaN so greatest() == the executor's scan-order max
    val poolCols = (for (co <- 0 until m; y <- 0 until 2; x <- 0 until 2) yield
      s"greatest(r${co}_${2 * y}_${2 * x}, r${co}_${2 * y}_${2 * x + 1}, " +
        s"r${co}_${2 * y + 1}_${2 * x}, r${co}_${2 * y + 1}_${2 * x + 1}) AS p${co}_${y}_$x")
      .mkString(",\n    ")
    // BatchNorm (exact: sqrt(var+eps) is 1.0 or 1.5) then GlobalAveragePool
    val gapCols = (0 until m).map { co =>
      def bn(y: Int, x: Int) =
        s"((p${co}_${y}_$x - ${bm(co)}) * ${bs(co)} / sqrt(${bv(co)} + 0.25) + ${bb(co)})"
      s"(${bn(0, 0)} + ${bn(0, 1)} + ${bn(1, 0)} + ${bn(1, 1)}) / 4.0 AS g$co"
    }.mkString(",\n    ")
    val outs = (0 until e).map { k =>
      val terms = (0 until m).map(co => s"g$co * ${gw(co * e + k)}").mkString(" + ")
      s"SELECT vec_id, CAST($k AS BIGINT) AS k, CAST($terms + ${gb(k)} AS REAL) AS v FROM gap"
    }.mkString("\n  UNION ALL ")
    s"""WITH conv AS (
       |  SELECT vec_id,
       |    $convCols
       |  FROM embeddings),
       |pool AS (
       |  SELECT vec_id,
       |    $poolCols
       |  FROM conv),
       |gap AS (
       |  SELECT vec_id,
       |    $gapCols
       |  FROM pool)
       |$outs""".stripMargin
  }

  /** The q123 one-block transformer ENCODER restated as SQL, stage by
    * stage in the executor's exact arithmetic order (OnnxWriter
    * .transformerModelBytes over the first 16 embedding components as 4
    * tokens x 4 dims): decomposed LayerNorm (sum/4, centered squares/4,
    * sqrt(var+0.25) — eps an exact quarter), single-head attention with
    * max-subtracted softmax, pre-LN residuals, fused LayerNorm, tanh-Gelu
    * MLP (x^3 parenthesized (x*x)*x, the executor's grouping), mean pool,
    * Gemm head. Weights are exact eighths; every reduction is written
    * term-by-term LEFT TO RIGHT; exp/tanh are the only correctly-rounded-
    * but-not-identical steps cross-engine, so both engines cast to
    * float32 (the model's output dtype) and round to 6 decimals — ulp
    * noise ~1e-15 collapses at either gate. */
  private def q123OracleSql: String = {
    import graft.embeddings.OnnxWriter._
    val S = 4; val H = 4; val F = 8; val E = 4
    val g1v = tfGamma(H, 0); val be1v = tfBeta(H, 0)
    val g2v = tfGamma(H, 1); val be2v = tfBeta(H, 1)
    val wqv = tfW(H, H, 1); val wkv = tfW(H, H, 2)
    val wvv = tfW(H, H, 3); val wov = tfW(H, H, 4)
    val w1v = tfW(H, F, 5); val b1v = tfBeta(F, 2)
    val w2v = tfW(F, H, 6); val b2v = tfBeta(H, 3)
    val whv = tfW(H, E, 7); val bhv = tfBeta(E, 4)
    val ij = for (i <- 0 until S; j <- 0 until H) yield (i, j)
    def sum4(f: Int => String) = (0 until 4).map(f).mkString(" + ")
    val xC = ij.map { case (i, j) =>
      s"CAST(embedding[${i * H + j + 1}] AS DOUBLE) AS x${i}_$j" }.mkString(", ")
    val muC = (0 until S).map(i =>
      s"(${sum4(d => s"x${i}_$d")}) / 4.0 AS m$i").mkString(", ")
    val ccC = ij.map { case (i, j) => s"x${i}_$j - m$i AS c${i}_$j" }.mkString(", ")
    val sdC = (0 until S).map(i =>
      s"sqrt((${sum4(d => s"c${i}_$d*c${i}_$d")}) / 4.0 + 0.25) AS sd$i").mkString(", ")
    val lnC = ij.map { case (i, j) =>
      s"c${i}_$j / sd$i * ${g1v(j)} + ${be1v(j)} AS l${i}_$j" }.mkString(", ")
    def projC(w: Array[Float], name: String) = ij.map { case (i, j) =>
      s"(${sum4(d => s"l${i}_$d * ${w(d * H + j)}")}) AS $name${i}_$j" }
    val qkvC = (projC(wqv, "q") ++ projC(wkv, "k") ++ projC(wvv, "v")).mkString(", ")
    val scC = ij.map { case (i, j) =>
      s"(${sum4(d => s"q${i}_$d * k${j}_$d")}) * 0.5 AS s${i}_$j" }.mkString(", ")
    val mxC = (0 until S).map(i =>
      s"greatest(${(0 until H).map(d => s"s${i}_$d").mkString(", ")}) AS mx$i").mkString(", ")
    val exC = ij.map { case (i, j) => s"exp(s${i}_$j - mx$i) AS e${i}_$j" }.mkString(", ")
    val atC = ij.map { case (i, j) =>
      s"e${i}_$j / (${sum4(d => s"e${i}_$d")}) AS a${i}_$j" }.mkString(", ")
    val aoC = ij.map { case (i, j) =>
      s"(${sum4(d => s"a${i}_$d * v${d}_$j")}) AS ao${i}_$j" }.mkString(", ")
    val r1C = ij.map { case (i, j) =>
      s"x${i}_$j + (${sum4(d => s"ao${i}_$d * ${wov(d * H + j)}")}) AS r${i}_$j" }.mkString(", ")
    val mu2C = (0 until S).map(i =>
      s"(${sum4(d => s"r${i}_$d")}) / 4.0 AS n$i").mkString(", ")
    val sd2C = (0 until S).map(i =>
      s"sqrt((${sum4(d => s"(r${i}_$d - n$i)*(r${i}_$d - n$i)")}) / 4.0 + 0.25) AS t$i").mkString(", ")
    val ln2C = ij.map { case (i, j) =>
      s"(r${i}_$j - n$i) / t$i * ${g2v(j)} + ${be2v(j)} AS l2_${i}_$j" }.mkString(", ")
    val hhC = (for (i <- 0 until S; m <- 0 until F) yield
      s"((${sum4(d => s"l2_${i}_$d * ${w1v(d * F + m)}")}) + ${b1v(m)}) AS h${i}_$m")
      .mkString(", ")
    // DuckDB ships no tanh(): restate it through exp as
    // 1 - 2/(e^{2z}+1) — abs error ~2e-16 vs Java's Math.tanh (the 1-w
    // cancellation costs RELATIVE precision near z=0 but absolute error
    // stays at the ulp of 1.0), far under the float32 cast quantum the
    // final gate applies
    val ggC = (for (i <- 0 until S; m <- 0 until F) yield {
      val h = s"h${i}_$m"
      val z = s"0.7978845608028654 * ($h + 0.044715 * ($h*$h*$h))"
      s"0.5 * $h * (1.0 + (1.0 - 2.0 / (exp(2.0 * ($z)) + 1.0))) AS gl${i}_$m"
    }).mkString(", ")
    val r2C = ij.map { case (i, j) =>
      s"r${i}_$j + ((${(0 until F).map(m => s"gl${i}_$m * ${w2v(m * H + j)}").mkString(" + ")}) + ${b2v(j)}) AS rr${i}_$j"
    }.mkString(", ")
    val poolC = (0 until H).map(j =>
      s"(${sum4(i => s"rr${i}_$j")}) / 4.0 AS pl$j").mkString(", ")
    val outs = (0 until E).map { k =>
      val terms = (0 until H).map(j => s"pl$j * ${whv(j * E + k)}").mkString(" + ")
      s"SELECT vec_id, CAST($k AS BIGINT) AS k, " +
        s"round(CAST(CAST(($terms) + ${bhv(k)} AS REAL) AS DOUBLE), 6) AS v FROM pool"
    }.mkString("\n  UNION ALL ")
    s"""WITH x AS (SELECT vec_id, $xC FROM embeddings),
       |mu AS (SELECT *, $muC FROM x),
       |cc AS (SELECT *, $ccC FROM mu),
       |sdv AS (SELECT *, $sdC FROM cc),
       |ln1 AS (SELECT *, $lnC FROM sdv),
       |qkv AS (SELECT *, $qkvC FROM ln1),
       |sco AS (SELECT *, $scC FROM qkv),
       |mxv AS (SELECT *, $mxC FROM sco),
       |exv AS (SELECT *, $exC FROM mxv),
       |att AS (SELECT *, $atC FROM exv),
       |aov AS (SELECT *, $aoC FROM att),
       |res1 AS (SELECT *, $r1C FROM aov),
       |mu2 AS (SELECT *, $mu2C FROM res1),
       |sdv2 AS (SELECT *, $sd2C FROM mu2),
       |ln2 AS (SELECT *, $ln2C FROM sdv2),
       |mlph AS (SELECT *, $hhC FROM ln2),
       |mlpg AS (SELECT *, $ggC FROM mlph),
       |res2 AS (SELECT *, $r2C FROM mlpg),
       |pool AS (SELECT *, $poolC FROM res2)
       |$outs""".stripMargin
  }

  def defs: Seq[QueryDef] = Seq(

    // ---- C11: filter mini-DSL compiled to predicates + percentile -------
    QueryDef.sqlBacked(
      "q37_filter_dsl",
      """WITH f AS (SELECT event_id, value FROM events WHERE value >= 10 AND value < 400),
        |ranked AS (
        |  SELECT *, row_number() OVER (ORDER BY value, event_id) AS rn,
        |         count(*) OVER () AS n
        |  FROM f),
        |p AS (SELECT value AS p75 FROM ranked WHERE rn - 1 = CAST(floor(0.75 * (n - 1)) AS BIGINT))
        |SELECT f.event_id, f.value FROM f, p WHERE f.value > p.p75""".stripMargin) { (s, d) =>
      // "value__gte=10,value__lt=400,value__upper_percentile=75"
      val spec = "value__gte=10,value__lt=400,value__upper_percentile=75"
      val parsed = UserFunctions.parseFilterDsl(spec)
      val simple = UserFunctions.applySimpleFilters(
        Tables.events(s, d).select(col("event_id"), col("value")), spec)
      val pct = parsed.collectFirst { case p: UserFunctions.PercentileFilter => p }.get
      // scale-safe global rank (the lit-group window constant-folded to a
      // partition-less window over the whole filtered frame — one task)
      val thresh = RankStats.globalNearestRankPercentile(
        simple, col(pct.prop), pct.p, col("event_id"))
        .select(col("pvalue").as("__p75"))
      // explicit broadcast of the 1-row threshold frame: the scalar-attach
      // cross join must never build the scan side
      simple.crossJoin(broadcast(thresh)).where(col("value") > col("__p75"))
        .select(col("event_id"), col("value"))
    },

    // ---- G2: layer mean over a level slice per column -------------------
    QueryDef.sqlBacked(
      "q38_layer_mean",
      """SELECT l_orderkey, avg(l_quantity) AS qty_layer_mean, count(*) AS n_levels
        |FROM lineitem WHERE l_linenumber BETWEEN 2 AND 4
        |GROUP BY 1""".stripMargin) { (s, d) =>
      // quantities are integral doubles: sum exact in both engines, so the
      // avg (sum/count) is bit-stable cross-engine
      Tables.lineitem(s, d)
        .where(col("l_linenumber").between(2, 4))
        .groupBy(col("l_orderkey"))
        .agg(avg(col("l_quantity")).as("qty_layer_mean"), count(lit(1)).as("n_levels"))
    },

    // ---- C4/C10: derived-variable DAG resolved to one expression --------
    QueryDef.sqlBacked(
      "q39_derived_vars",
      """SELECT vec_id,
        |  sqrt(CAST(embedding[1] AS DOUBLE) * CAST(embedding[1] AS DOUBLE)
        |     + CAST(embedding[2] AS DOUBLE) * CAST(embedding[2] AS DOUBLE)) AS umag,
        |  round(exp(CAST(embedding[3] AS DOUBLE)), 6) AS p_r6
        |FROM embeddings""".stripMargin) { (s, d) =>
      val reg = DerivedVariables.era5Registry()
      val u = element_at(col("embedding"), 1).cast("double")
      val v = element_at(col("embedding"), 2).cast("double")
      val lnsp = element_at(col("embedding"), 3).cast("double")
      Tables.embeddings(s, d).select(
        col("vec_id"),
        reg.resolve("umag", Map("u" -> u, "v" -> v)).as("umag"),
        round(reg.resolve("p", Map("lnsp" -> lnsp)), 6).as("p_r6"))
    },

    // ---- C5: solar geometry (declination, elevation, TOA SW) ------------
    QueryDef.sqlBacked(
      "q40_solar_geometry",
      s"""SELECT event_id,
         |  round(decl, 6) AS decl_r6, round(elev, 6) AS elev_r6,
         |  round(greatest(0.0, ${Solar.S0} * sin(elev * $RadPerDeg)), 6) AS toa_r6
         |FROM (
         |  SELECT event_id, decl,
         |    asin(sin(lat * $RadPerDeg) * sin(decl * $RadPerDeg)
         |       + cos(lat * $RadPerDeg) * cos(decl * $RadPerDeg) * cos((sh - 12.0) * 15.0 * $RadPerDeg))
         |      * $DegPerRad AS elev
         |  FROM (
         |    SELECT event_id,
         |      23.45 * sin(${Solar.TwoPi} * (284.0 + dayofyear(ts)) / 365.0) AS decl,
         |      ((hour(ts) + minute(ts) / 60.0 + (((user_id % 360) - 180) + 360.0) / 15.0) % 24.0) AS sh,
         |      (user_id % 120) / 2.0 - 30 AS lat
         |    FROM events))""".stripMargin) { (s, d) =>
      val lat = (col("user_id") % 120) / 2.0 - 30
      val lon = (col("user_id") % 360) - 180
      Tables.events(s, d).select(
        col("event_id"),
        round(Solar.declinationDeg(col("ts")), 6).as("decl_r6"),
        round(Solar.elevationDeg(col("ts"), lat, lon), 6).as("elev_r6"),
        round(Solar.toaIncomingSw(col("ts"), lat, lon), 6).as("toa_r6"))
    },

    // ---- config-driven pipeline: meta.yaml semantics -> plan ------------
    QueryDef.sqlBacked(
      "q49_config_pipeline",
      """SELECT event_id, ts FROM events
        |WHERE (ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-20')
        |  AND minute(ts) IN (0, 30)
        |  AND abs(((hour(ts) + minute(ts) / 60.0 + (-57.5 + 360.0) / 15.0) % 24.0) - 12.0) <= 3.0""".stripMargin) { (s, d) =>
      val cfg = graft.core.DataSourceConfig.fromJson(
        """{"source": "events", "product": "stream",
          |  "time": {"t_start": "2024-01-03 00:00:00", "t_end": "2024-01-20 00:00:00",
          |           "filters": {"minutes": "0|30", "N_hours_from_zenith": "3.0"}},
          |  "domain": {"central_latitude": 13.3, "central_longitude": -57.5,
          |             "l_zonal": 400.0e3, "l_meridional": 400.0e3},
          |  "sampling": {"resolution": 1000.0, "tile_N": 256}}""".stripMargin)
      Tables.events(s, d)
        .where(graft.core.DataSourceConfig.timePredicate(cfg, col("ts")))
        .select(col("event_id"), col("ts"))
    },

    // ---- session windows (gaps-and-islands; streaming dual) -------------
    QueryDef.sqlBacked(
      "q41_sessionize",
      """SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts) AS t_start, max(ts) AS t_end
        |FROM (
        |  SELECT user_id, ts,
        |    CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - prev > 3600000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS session_id
        |  FROM (
        |    SELECT user_id, ts, event_id,
        |      lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |    FROM events))
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Sessionize.sessionStats(Tables.events(s, d), "user_id", "ts",
        col("event_id"), gapUs = 3600L * 1000000)
    },

    // ---- M1: batched-inference plumbing, oracle-backed ------------------
    // The stub model is a deterministic linear map (emb_k = mean * (k+1)
    // / dim) over integral-cents tiles, so the FULL mapPartitions /
    // batch-32 / per-partition-init path — tensor assembly included — is
    // hash-verified: the oracle recomputes the embeddings analytically.
    // (The model itself stays the declared seam: swap LinearStubModel for
    // an ONNX session and nothing else changes.)
    QueryDef.sqlBacked(
      "q64_inference_plumbing",
      """SELECT tile_id, k, CAST(m * (k + 1) / 8 AS REAL) AS v
        |FROM (
        |  SELECT event_id % 50 AS tile_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / count(*) AS m
        |  FROM events GROUP BY 1)
        |CROSS JOIN range(0, 8) r(k)""".stripMargin) { (s, d) =>
      import graft.embeddings.Inference
      val tiles = Tables.events(s, d)
        .select((col("event_id") % 50).as("tile_id"), col("event_id"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("tile_id"))
        .agg(sort_array(collect_list(struct(col("event_id"), col("cents")))).as("c"))
        .withColumn("values", expr("transform(c, x -> cast(x.cents as double))"))
        .drop("c")
      val emb = Inference.embedTiles(tiles, "tile_id", "values",
        new Inference.LinearStubModel(8))
      emb.select(col("tile_id"), posexplode(col("emb")).as(Seq("k", "v")))
        .select(col("tile_id"), col("k").cast("long").as("k"), col("v"))
    },

    // ---- M1 closed: REAL ONNX model file through the inference path -----
    // The model is a genuine serialized ONNX ModelProto (written by the
    // independent OnnxWriter encoder, loaded by the pure-JVM wire-format
    // reader) — Gemm+Relu+MatMul+Add over the 64-d embedding vectors.
    // Weights are exact-in-float32 eighths, accumulation is double with
    // one final float cast, and the oracle restates the whole MLP as
    // explicit left-to-right SQL arithmetic — so the hash match proves
    // the ONNX decode + executor chain value-for-value, not just shape.
    QueryDef.sqlBacked("q82_onnx_inference", q82OracleSql) { (s, d) =>
      import graft.embeddings.{Inference, Onnx, OnnxWriter}
      val model = new Onnx.OnnxModel(OnnxWriter.mlpModelBytes(64, 8, 4))
      val tiles = Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(x as double))").as("values"))
      Inference.embedTiles(tiles, "vec_id", "values", model)
        .select(col("tile_id").as("vec_id"),
          posexplode(col("emb")).as(Seq("k", "v")))
        .select(col("vec_id"), col("k").cast("long").as("k"), col("v"))
    },

    // ---- M1 depth: the reference's ACTUAL model family (a CNN) ----------
    // Conv 3x3 -> Relu -> MaxPool 2x2 -> BatchNormalization -> GAP ->
    // Flatten -> Gemm, serialized as a genuine ONNX ModelProto (repeated-
    // ints attributes in BOTH packed and unpacked encodings) and executed
    // by the pure-JVM NCHW executor through the same mapPartitions
    // inference path as q82. The oracle restates every op term-by-term in
    // the executor's accumulation order — the hash match proves the conv
    // chain value-for-value.
    QueryDef.sqlBacked("q86_onnx_conv", q86OracleSql) { (s, d) =>
      import graft.embeddings.{Inference, Onnx, OnnxWriter}
      val model = new Onnx.OnnxModel(OnnxWriter.convModelBytes(c = 1, m = 2, e = 4),
        tileDims = Some(Seq(1, 6, 6)))
      val tiles = Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(slice(embedding, 1, 36), x -> cast(x as double))").as("values"))
      Inference.embedTiles(tiles, "vec_id", "values", model)
        .select(col("tile_id").as("vec_id"),
          posexplode(col("emb")).as(Seq("k", "v")))
        .select(col("vec_id"), col("k").cast("long").as("k"), col("v"))
    },

    // ---- M1 completed: a TRANSFORMER encoder through the ONNX executor --
    // The model a text-embedding pipeline actually runs (SemDeDup / ANN
    // upstream): one pre-LN encoder block — decomposed LayerNorm
    // (ReduceMean/Sub/Mul/Add/Sqrt/Div chain, the opset<17 export shape),
    // batched rank-3 MatMul attention with softmax, fused opset-17
    // LayerNormalization, tanh-Gelu MLP, mean pooling, Gemm head —
    // serialized as a genuine ONNX ModelProto and executed by the
    // pure-JVM executor through the same mapPartitions inference path as
    // q82/q86. The oracle restates all 19 stages term-by-term in the
    // executor's accumulation order; both engines cast to float32 and
    // round to 6 decimals (exp/tanh are correctly-rounded-but-not-
    // bit-identical cross-engine; everything else is exact).
    QueryDef.sqlBacked("q123_onnx_transformer", q123OracleSql) { (s, d) =>
      import graft.embeddings.{Inference, Onnx, OnnxWriter}
      val model = new Onnx.OnnxModel(OnnxWriter.transformerModelBytes(),
        tileDims = Some(Seq(16)))
      val tiles = Tables.embeddings(s, d)
        .select(col("vec_id"),
          expr("transform(slice(embedding, 1, 16), x -> cast(x as double))").as("values"))
      Inference.embedTiles(tiles, "vec_id", "values", model)
        .select(col("tile_id").as("vec_id"),
          posexplode(col("emb")).as(Seq("k", "v")))
        .select(col("vec_id"), col("k").cast("long").as("k"),
          round(col("v").cast("double"), 6).as("v"))
    },

    // ---- foreign ONNX model through the multi-input inference path ------
    // The model bytes are the PYTHON-written fixture (tools/
    // make_fixtures.py, hand-encoded protobuf — an independent writer, no
    // shared code with OnnxWriter): a masked-mean-pooling encoder head
    // carrying the exact op surface a real HF sentence-transformer export
    // wraps around its attention blocks — int64 input_ids +
    // attention_mask data inputs, Gather embedding lookup, Cast/
    // Unsqueeze/Expand/Equal/Where mask plumbing, ReduceSum pooling,
    // Div, Slice. Tokenization is arithmetic both engines share: first 8
    // whitespace tokens, id = (17*len + ascii(first)) % 64. All embedding
    // values are exact eighths, so sums are exact and the only rounding
    // is the final 6-decimal gate.
    QueryDef.sqlBacked(
      "q127_onnx_foreign_pool",
      """WITH t AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS tk FROM documents),
        |p AS (SELECT doc_id, tk, unnest(range(1, 9)) AS s FROM t),
        |tok AS (SELECT doc_id, s, CASE WHEN s <= len(tk) THEN tk[s] END AS tok FROM p),
        |ids AS (SELECT doc_id, (17 * length(tok) + ascii(tok)) % 64 AS tid
        |        FROM tok WHERE tok IS NOT NULL),
        |emb AS (SELECT i.doc_id, k.h,
        |          CAST((i.tid * 31 + k.h * 7) % 13 - 6 AS DOUBLE) / 8.0 AS e
        |        FROM ids i CROSS JOIN (SELECT unnest(range(0, 8)) AS h) k),
        |pool AS (SELECT doc_id, h, sum(e) / count(*) AS pv FROM emb GROUP BY 1, 2)
        |SELECT doc_id, CAST(h AS BIGINT) AS k, round(pv, 6) AS v FROM pool""".stripMargin) { (s, d) =>
      import graft.embeddings.Onnx
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val modelBytes = {
        val in = getClass.getResourceAsStream("/graft/fixtures/pool_encoder.onnx")
        require(in != null, "pool_encoder.onnx fixture missing")
        try in.readAllBytes() finally in.close()
      }
      val S = 8
      val prepped = Tables.documents(s, d).select(col("doc_id"),
        transform(slice(TextAnalysis.tokens(col("text")), 1, S),
          t => (lit(17) * length(t) + ascii(t)) % 64).as("ids"))
        // parity with the oracle's `WHERE tok IS NOT NULL`: a null/empty
        // text row yields no tokens there and must yield no row here
        // (otherwise getSeq returns null -> NPE, and an all-zero mask
        // would make the pooled mean NaN). Non-empty ids => mask has at
        // least one 1, so the in-graph divide is always live.
        .where(col("ids").isNotNull && size(col("ids")) > 0)
      val outSchema = StructType(Seq(
        StructField("doc_id", LongType), StructField("k", LongType),
        StructField("v", DoubleType)))
      prepped.mapPartitions { it =>
        val g = Onnx.parseModel(modelBytes) // parsed once per partition
        it.grouped(32).flatMap { batch =>
          val b = batch.size
          val ids = new Array[Double](b * S)
          val mask = new Array[Double](b * S)
          batch.zipWithIndex.foreach { case (r, i) =>
            val tid = r.getSeq[Int](1)
            tid.indices.foreach { j => ids(i * S + j) = tid(j); mask(i * S + j) = 1.0 }
          }
          val out = Onnx.runNd(g, Map(
            "input_ids" -> Onnx.Nd(Seq(b, S), ids),
            "attention_mask" -> Onnx.Nd(Seq(b, S), mask)))
          val e = out.dims.last
          batch.zipWithIndex.flatMap { case (r, i) =>
            (0 until e).map(k => Row(r.getLong(0), k.toLong,
              BigDecimal(out.a(i * e + k)).setScale(6, BigDecimal.RoundingMode.HALF_UP)
                .toDouble))
          }
        }
      }(org.apache.spark.sql.Encoders.row(outSchema))
    },

    // ---- HDBSCAN slot: density clustering on the bucketed spatial join --
    // DBSCAN over a deterministic 400-point lattice derived from events:
    // candidate generation is the eps-grid bin join (never all pairs),
    // clusters are alt-star components over core-core edges, border
    // points adopt the min neighbor cluster, noise is -1. The oracle
    // brute-forces all pairs and replays the same conventions through a
    // recursive-CTE closure — two independent algorithms, one labeling.
    QueryDef.sqlBacked(
      "q85_dbscan",
      """WITH RECURSIVE
        |pts AS (
        |  SELECT event_id AS pid,
        |    CAST((event_id * 37) % 1000 AS DOUBLE) / 10.0 AS x,
        |    CAST((event_id * 73) % 1000 AS DOUBLE) / 10.0 AS y
        |  FROM events WHERE event_id < 400),
        |nbr AS (
        |  SELECT a.pid AS a_id, b.pid AS b_id
        |  FROM pts a JOIN pts b
        |    ON (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= 36.0),
        |deg AS (SELECT a_id, count(*) AS d FROM nbr GROUP BY a_id),
        |core AS (SELECT a_id AS pid FROM deg WHERE d >= 5),
        |ce AS (
        |  SELECT n.a_id AS u, n.b_id AS v FROM nbr n
        |  JOIN core ca ON ca.pid = n.a_id
        |  JOIN core cb ON cb.pid = n.b_id
        |  WHERE n.a_id <> n.b_id),
        |reach(p, q) AS (
        |  SELECT pid, pid FROM core
        |  UNION
        |  SELECT r.p, e.v FROM reach r JOIN ce e ON e.u = r.q),
        |lbl AS (SELECT p AS pid, min(q) AS cluster FROM reach GROUP BY p),
        |border AS (
        |  SELECT n.a_id AS pid, min(l.cluster) AS cluster
        |  FROM nbr n
        |  JOIN lbl l ON l.pid = n.b_id
        |  LEFT JOIN core c ON c.pid = n.a_id
        |  WHERE n.a_id <> n.b_id AND c.pid IS NULL
        |  GROUP BY n.a_id)
        |SELECT l.pid, l.cluster, TRUE AS is_core FROM lbl l
        |UNION ALL SELECT b.pid, b.cluster, FALSE AS is_core FROM border b
        |UNION ALL
        |SELECT p.pid, CAST(-1 AS BIGINT) AS cluster, FALSE AS is_core
        |FROM pts p
        |LEFT JOIN lbl ON lbl.pid = p.pid
        |LEFT JOIN border ON border.pid = p.pid
        |WHERE lbl.pid IS NULL AND border.pid IS NULL""".stripMargin) { (s, d) =>
      val pts = Tables.events(s, d)
        .where(col("event_id") < 400)
        .select(col("event_id").as("pid"),
          (((col("event_id") * 37) % 1000).cast("double") / 10.0).as("x"),
          (((col("event_id") * 73) % 1000).cast("double") / 10.0).as("y"))
      graft.operators.Dbscan.cluster(pts, "pid", "x", "y", eps = 6.0, minPts = 5)
    },

    // ---- embedding-space (n-dim) DBSCAN ---------------------------------
    // clusterVectors over a deterministic 4-d point set (20 planted
    // centers from pid % 20, integer jitter): candidate generation bins
    // the first 2 coordinates into eps-cells (lossless blocking — a true
    // ε-pair is within eps on EVERY coordinate), distance is the full
    // 4-d squared-diff fold. All coordinates are integers-as-doubles, so
    // both engines compute exact arithmetic; the oracle brute-forces all
    // pairs + recursive-CTE closure exactly like q85.
    QueryDef.sqlBacked(
      "q87_dbscan_vectors",
      """WITH RECURSIVE
        |pts AS (
        |  SELECT event_id AS pid,
        |    CAST(((event_id % 20) * 17) % 100 + ((event_id * 13) % 9) - 4 AS DOUBLE) AS x0,
        |    CAST(((event_id % 20) * 29) % 100 + ((event_id * 7) % 9) - 4 AS DOUBLE) AS x1,
        |    CAST(((event_id % 20) * 41) % 100 + ((event_id * 11) % 9) - 4 AS DOUBLE) AS x2,
        |    CAST(((event_id % 20) * 53) % 100 + ((event_id * 3) % 9) - 4 AS DOUBLE) AS x3
        |  FROM events WHERE event_id < 400),
        |nbr AS (
        |  SELECT a.pid AS a_id, b.pid AS b_id
        |  FROM pts a JOIN pts b
        |    ON (a.x0 - b.x0) * (a.x0 - b.x0) + (a.x1 - b.x1) * (a.x1 - b.x1)
        |     + (a.x2 - b.x2) * (a.x2 - b.x2) + (a.x3 - b.x3) * (a.x3 - b.x3) <= 100.0),
        |deg AS (SELECT a_id, count(*) AS d FROM nbr GROUP BY a_id),
        |core AS (SELECT a_id AS pid FROM deg WHERE d >= 5),
        |ce AS (
        |  SELECT n.a_id AS u, n.b_id AS v FROM nbr n
        |  JOIN core ca ON ca.pid = n.a_id
        |  JOIN core cb ON cb.pid = n.b_id
        |  WHERE n.a_id <> n.b_id),
        |reach(p, q) AS (
        |  SELECT pid, pid FROM core
        |  UNION
        |  SELECT r.p, e.v FROM reach r JOIN ce e ON e.u = r.q),
        |lbl AS (SELECT p AS pid, min(q) AS cluster FROM reach GROUP BY p),
        |border AS (
        |  SELECT n.a_id AS pid, min(l.cluster) AS cluster
        |  FROM nbr n
        |  JOIN lbl l ON l.pid = n.b_id
        |  LEFT JOIN core c ON c.pid = n.a_id
        |  WHERE n.a_id <> n.b_id AND c.pid IS NULL
        |  GROUP BY n.a_id)
        |SELECT l.pid, l.cluster, TRUE AS is_core FROM lbl l
        |UNION ALL SELECT b.pid, b.cluster, FALSE AS is_core FROM border b
        |UNION ALL
        |SELECT p.pid, CAST(-1 AS BIGINT) AS cluster, FALSE AS is_core
        |FROM pts p
        |LEFT JOIN lbl ON lbl.pid = p.pid
        |LEFT JOIN border ON border.pid = p.pid
        |WHERE lbl.pid IS NULL AND border.pid IS NULL""".stripMargin) { (s, d) =>
      def dim(p: Int, q: Int) =
        ((((col("event_id") % 20) * p) % 100) + ((col("event_id") * q) % 9) - 4).cast("double")
      val pts = Tables.events(s, d)
        .where(col("event_id") < 400)
        .select(col("event_id").as("pid"),
          array(dim(17, 13), dim(29, 7), dim(41, 11), dim(53, 3)).as("vec"))
      graft.operators.Dbscan.clusterVectors(pts, "pid", "vec",
        eps = 10.0, minPts = 5, binDims = 2)
    },

    // ---- HDBSCAN: min_cluster_size semantics on planted blobs -----------
    // Hdbscan.cluster (mutual-reachability MST + condensed-tree stability
    // selection) on 20 well-separated 20-point blobs with distinct
    // intra-blob coordinates: the correct flat clustering is exactly the
    // blob partition with min-pid labels, which the oracle states
    // analytically. A regression anywhere in the chain (core distances,
    // Boruvka MST, condensed falls, stability selection) splits or
    // merges a blob and breaks the hash.
    QueryDef.sqlBacked(
      "q89_hdbscan_blobs",
      """SELECT event_id AS pid, CAST(event_id % 20 AS BIGINT) AS cluster
        |FROM events WHERE event_id < 400""".stripMargin) { (s, d) =>
      val c = col("event_id") % 20
      val pts = Tables.events(s, d)
        .where(col("event_id") < 400)
        .select(col("event_id").as("pid"),
          ((c % 5) * 100 + ((col("event_id") * 13) % 41).cast("double") / 10.0 - 2.0).as("x"),
          (floor(c / 5) * 100 + ((col("event_id") * 7) % 43).cast("double") / 10.0 - 2.0).as("y"))
      graft.operators.Hdbscan.cluster(pts, "pid", "x", "y",
        minClusterSize = 5, minSamples = 3, epsMax = 20.0)
    },

    // ---- Structured Streaming == batch, proven by the driver gate -------
    // The query runs the REAL streaming engine (file source -> watermark
    // -> windowed stateful agg -> AvailableNow -> memory sink) to
    // completion and returns the sink table; the oracle is the plain
    // batch SQL. A hash match is the streaming/batch-equivalence claim
    // verified end-to-end, not just spec'd.
    QueryDef.sqlBacked(
      "q65_streaming_counts",
      """SELECT date_trunc('day', ts) AS ws, event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
      import graft.streaming.StreamOps
      val dir = java.nio.file.Files.createTempDirectory("graft-q65").toString
      Tables.events(s, d).write.mode("overwrite").parquet(dir)
      val stream = s.readStream.schema(s.read.parquet(dir).schema).parquet(dir)
      val counted = StreamOps.windowedCounts(stream, "1 day", "2 hours")
        .select(col("window.start").as("ws"), col("event_type"),
          col("n"), col("sum_cents"))
      val q = StreamOps.runToMemory(counted, "q65_stream_sink",
        org.apache.spark.sql.streaming.OutputMode.Complete())
      q.stop()
      s.table("q65_stream_sink")
    },

    // ---- streaming as-of join, driver-gate-proven -----------------------
    // Two REAL streams (view probes, purchase builds) through the
    // watermarked bucketed range join + chained min_by; the oracle is the
    // batch nearest-within SQL. Hash match = the SURVEY §7.3 claim ("the
    // as-of survives streaming") verified end-to-end.
    QueryDef.sqlBacked(
      "q66_streaming_asof",
      """SELECT probe_id, matched_ts, dt_us FROM (
        |  SELECT p.probe_id, b.build_ts AS matched_ts,
        |         abs(epoch_us(p.probe_ts) - epoch_us(b.build_ts)) AS dt_us,
        |         row_number() OVER (PARTITION BY p.probe_id
        |             ORDER BY abs(epoch_us(p.probe_ts) - epoch_us(b.build_ts)), b.build_ts) AS rn
        |  FROM (SELECT event_id AS probe_id, ts AS probe_ts FROM events WHERE event_type = 'view') p
        |  JOIN (SELECT ts AS build_ts FROM events WHERE event_type = 'purchase') b
        |    ON abs(epoch_us(p.probe_ts) - epoch_us(b.build_ts)) <= 900000000)
        |WHERE rn = 1""".stripMargin) { (s, d) =>
      import graft.streaming.StreamAsOf
      val dir = java.nio.file.Files.createTempDirectory("graft-q66").toString
      val e = Tables.events(s, d)
      // watermark sentinels: one row per stream 1h past max ts pushes the
      // (min-of-streams) watermark beyond every real probe so Append mode
      // finalizes ALL groups; 1h >> the 15-min window, so the sentinels
      // only match each other, and the probe sentinel is filtered below
      // type-robust: works whether max(ts) materializes as java.sql.Timestamp
      // (TIMESTAMP) or java.time.LocalDateTime (TIMESTAMP_NTZ)
      val maxTsMillis = e.agg(max(col("ts"))).head().get(0) match {
        case t: java.sql.Timestamp => t.getTime
        case i: java.time.Instant  => i.toEpochMilli
        case l: java.time.LocalDateTime =>
          l.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
        case o => sys.error(s"unexpected max(ts) type: ${o.getClass}")
      }
      val sentinelTs = new java.sql.Timestamp(maxTsMillis + 3600000L)
      import s.implicits._
      e.where(col("event_type") === "view")
        .select(col("event_id").as("probe_id"), col("ts").as("probe_ts"))
        .unionByName(Seq((-1L, sentinelTs)).toDF("probe_id", "probe_ts"))
        .write.mode("overwrite").parquet(s"$dir/probe")
      e.where(col("event_type") === "purchase")
        .select(col("ts").as("build_ts"))
        .unionByName(Seq(Tuple1(sentinelTs)).toDF("build_ts"))
        .write.mode("overwrite").parquet(s"$dir/build")
      val out = StreamAsOf.nearestWithin(
        s.readStream.schema(s.read.parquet(s"$dir/probe").schema).parquet(s"$dir/probe"),
        s.readStream.schema(s.read.parquet(s"$dir/build").schema).parquet(s"$dir/build"),
        "probe_id", "probe_ts", "build_ts",
        halfWindowUs = 900L * 1000000, watermark = "0 seconds")
      val q = out.writeStream.outputMode("append").format("memory")
        .queryName("q66_stream_sink")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      s.table("q66_stream_sink")
        .where(col("probe_id") >= 0) // drop the watermark sentinel
        .select("probe_id", "matched_ts", "dt_us")
    },

    // ---- streaming session windows, driver-gate-proven ------------------
    // The REAL streaming engine's session_window (gap-merged intervals,
    // boundary-exclusive close) run to completion, with session ordinals
    // ranked afterwards; the oracle is the batch gaps-and-islands SQL
    // with the matching >=-gap split. Hash match = q41's sessionization
    // survives streaming, end-to-end and value-exact.
    QueryDef.sqlBacked(
      "q98_streaming_sessions",
      """SELECT user_id, session_id, count(*) AS n_events,
        |       min(ts) AS t_start, max(ts) AS t_end
        |FROM (
        |  SELECT user_id, ts,
        |    CAST(sum(CASE WHEN prev IS NULL OR epoch_us(ts) - prev >= 3600000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - 1 AS session_id
        |  FROM (
        |    SELECT user_id, ts,
        |      lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts) AS prev
        |    FROM events))
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      import graft.streaming.StreamOps
      import s.implicits._
      val dir = java.nio.file.Files.createTempDirectory("graft-q98").toString
      val e = Tables.events(s, d)
      // watermark sentinel 3h past max ts (its own session never
      // finalizes and is filtered below; every real session's close +
      // 1h gap sits under the final watermark, so Append emits them all)
      val sentinelTs = new java.sql.Timestamp(
        e.agg(max(col("ts"))).head().getTimestamp(0).getTime + 3L * 3600000L)
      e.select(col("user_id"), col("ts"))
        .unionByName(Seq((-1L, sentinelTs)).toDF("user_id", "ts"))
        .write.mode("overwrite").parquet(dir)
      val sess = StreamOps.sessionWindows(
        s.readStream.schema(s.read.parquet(dir).schema).parquet(dir),
        "user_id", "ts", gap = "1 hour", watermark = "0 seconds")
      val q = sess.writeStream.outputMode("append").format("memory")
        .queryName("q98_stream_sink")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.processAllAvailable(); q.stop()
      s.table("q98_stream_sink")
        .where(col("user_id") >= 0)
        .withColumn("session_id", row_number().over(
          Window.partitionBy(col("user_id")).orderBy(col("t_start")))
          .cast("long") - 1)
        .select(col("user_id"), col("session_id"), col("n_events"),
          col("t_start"), col("t_end"))
    },

    // ---- bucketed co-located join, gate-proven --------------------------
    // Both sides are written bucketBy(orderkey) so the join plans with NO
    // exchange (asserted, not just hoped); the oracle computes the plain
    // join — the hash match proves the bucketed path is result-identical.
    QueryDef.sqlBacked(
      "q67_bucketed_join",
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM lineitem JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1""".stripMargin) { (s, d) =>
      import graft.pipeline.Bucketing
      // managed-table hygiene: a previous session's warehouse dir may
      // linger without a catalog entry — drop both before writing
      Seq("q67_lineitem_b", "q67_orders_b").foreach { t =>
        s.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new java.io.File(
          new java.net.URI(s.conf.get("spark.sql.warehouse.dir")).getPath, t)
        if (loc.exists()) {
          def rm(f: java.io.File): Unit = {
            if (f.isDirectory) f.listFiles().foreach(rm)
            f.delete()
          }
          rm(loc)
        }
      }
      Bucketing.writeBucketed(
        Tables.lineitem(s, d).select(col("l_orderkey"), col("l_extendedprice")),
        "q67_lineitem_b", "l_orderkey", nBuckets = 16)
      Bucketing.writeBucketed(
        Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority")),
        "q67_orders_b", "l_orderkey", nBuckets = 16)
      val joined = Bucketing.bucketedJoin(s, "q67_lineitem_b", "q67_orders_b", "l_orderkey")
      // the JOIN itself must be exchange-free (the post-join groupBy
      // legitimately shuffles on its own key)
      require(!Bucketing.hasShuffle(joined),
        "bucketed join must plan without a pre-join exchange")
      joined
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
    }
  )
}
