package graft.queries

import graft.{QueryDef, Tables}
import graft.functions.Solar
import graft.operators.{AsOfJoin, Binning, RankStats, SceneAssembly}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Core relational operator surface (SURVEY.md §2.2-§2.7) expressed over
  * the driver testdata tables, each with a DuckDB oracle.
  *
  * Operator coverage per query is cited inline as (Sx/Ax/Fx/Jx/Gx/Wx/Ox/Cx)
  * referring to SURVEY.md §2's inventory ids.
  */
object CoreQueries {

  /** Exact cents as BIGINT: per-row round(x*100) then integer sum — immune
    * to cross-engine FP summation-order differences. */
  private val REV_CENTS_SQL =
    "CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT)"

  def defs: Seq[QueryDef] = Seq(

    // ---- G1/G7: grouped reduction + min/max normalization scan ----------
    QueryDef.sqlBacked(
      "q01_group_agg",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        |  count(*) AS n_rows,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
        |FROM lineitem GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).cast("long").as("sum_qty"),
          count(lit(1)).as("n_rows"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"),
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
            .as("revenue_cents"))
    },

    // ---- A1/A2/A3 + C1: scene assembly w/ completeness gate -------------
    QueryDef.sqlBacked(
      "q02_scene_assembly",
      """SELECT 'ev__' || strftime(scene_time, '%Y%m%d%H%M') AS scene_id, scene_time, n_events
        |FROM (SELECT date_trunc('hour', ts) AS scene_time,
        |             count(DISTINCT event_type) AS n_types, count(*) AS n_events
        |      FROM events GROUP BY 1)
        |WHERE n_types = 5""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("hour", col("ts")).as("scene_time"))
        .agg(countDistinct(col("event_type")).as("n_types"), count(lit(1)).as("n_events"))
        .where(col("n_types") === 5)
        .select(
          SceneAssembly.makeSceneId("ev", col("scene_time")).as("scene_id"),
          col("scene_time"), col("n_events"))
    },

    // ---- F1/F2: multi-interval + datetime-attribute time filters --------
    QueryDef.sqlBacked(
      "q03_time_filter",
      """SELECT event_id, ts, event_type, value FROM events
        |WHERE ((ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-10')
        |    OR (ts >= TIMESTAMP '2024-01-20' AND ts < TIMESTAMP '2024-01-22'))
        |  AND minute(ts) < 15""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .where(
          ((col("ts") >= lit("2024-01-05").cast("timestamp") && col("ts") < lit("2024-01-10").cast("timestamp"))
            || (col("ts") >= lit("2024-01-20").cast("timestamp") && col("ts") < lit("2024-01-22").cast("timestamp")))
            && minute(col("ts")) < 15)
        .select(col("event_id"), col("ts"), col("event_type"), col("value"))
    },

    // ---- F3: N-hours-from-zenith solar filter ---------------------------
    QueryDef.sqlBacked(
      "q04_zenith_filter",
      """SELECT event_id, ts, user_id, sh AS solar_hour FROM (
        |  SELECT event_id, ts, user_id,
        |    ((hour(ts) + minute(ts) / 60.0 + (((user_id % 360) - 180) + 360.0) / 15.0) % 24.0) AS sh
        |  FROM events)
        |WHERE abs(sh - 12.0) <= 1.5""".stripMargin) { (s, d) =>
      val lon = (col("user_id") % 360) - 180
      Tables.events(s, d)
        .withColumn("solar_hour", Solar.solarHour(col("ts"), lon))
        .where(abs(col("solar_hour") - 12.0) <= 1.5)
        .select(col("event_id"), col("ts"), col("user_id"), col("solar_hour"))
    },

    // ---- J1/O2: as-of join, single_scene_per_aux_time (±15 min) ---------
    QueryDef.sqlBacked(
      "q05_asof_single",
      """SELECT aux_id, aux_ts, scene_event_id, scene_ts, dt_us FROM (
        |  SELECT p.aux_id, p.aux_ts, b.scene_event_id, b.scene_ts,
        |         abs(epoch_us(p.aux_ts) - epoch_us(b.scene_ts)) AS dt_us,
        |         row_number() OVER (PARTITION BY p.aux_id
        |             ORDER BY abs(epoch_us(p.aux_ts) - epoch_us(b.scene_ts)), b.scene_ts) AS rn
        |  FROM (SELECT event_id AS aux_id, ts AS aux_ts FROM events WHERE event_type = 'view') p
        |  JOIN (SELECT event_id AS scene_event_id, ts AS scene_ts FROM events WHERE event_type = 'purchase') b
        |    ON abs(epoch_us(p.aux_ts) - epoch_us(b.scene_ts)) <= 900000000)
        |WHERE rn = 1""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val aux = e.where(col("event_type") === "view")
        .select(col("event_id").as("aux_id"), col("ts").as("aux_ts"))
      val scenes = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("scene_event_id"), col("ts").as("scene_ts"))
      AsOfJoin.singleScenePerAuxTime(aux, scenes, "aux_ts", "scene_ts",
          dtAuxUs = 30L * 60 * 1000000, auxKey = Seq("aux_id"))
        .select(col("aux_id"), col("aux_ts"), col("scene_event_id"), col("scene_ts"), col("dt_us"))
    },

    // ---- J2: as-of join, all_scenes_within_dt_aux (±5 min, drops) -------
    QueryDef.sqlBacked(
      "q06_asof_all",
      """SELECT scene_event_id, scene_ts, aux_id, aux_ts, dt_us FROM (
        |  SELECT p.scene_event_id, p.scene_ts, b.aux_id, b.aux_ts,
        |         abs(epoch_us(p.scene_ts) - epoch_us(b.aux_ts)) AS dt_us,
        |         row_number() OVER (PARTITION BY p.scene_event_id
        |             ORDER BY abs(epoch_us(p.scene_ts) - epoch_us(b.aux_ts)), b.aux_ts) AS rn
        |  FROM (SELECT event_id AS scene_event_id, ts AS scene_ts FROM events WHERE event_type = 'click') p
        |  JOIN (SELECT event_id AS aux_id, ts AS aux_ts FROM events WHERE event_type = 'purchase') b
        |    ON abs(epoch_us(p.scene_ts) - epoch_us(b.aux_ts)) <= 300000000)
        |WHERE rn = 1""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val scenes = e.where(col("event_type") === "click")
        .select(col("event_id").as("scene_event_id"), col("ts").as("scene_ts"))
      val aux = e.where(col("event_type") === "purchase")
        .select(col("event_id").as("aux_id"), col("ts").as("aux_ts"))
      AsOfJoin.allScenesWithinDtAux(scenes, aux, "scene_ts", "aux_ts",
          dtAuxUs = 10L * 60 * 1000000, sceneKey = Seq("scene_event_id"))
        .select(col("scene_event_id"), col("scene_ts"), col("aux_id"), col("aux_ts"), col("dt_us"))
    },

    // ---- J3: semi-join (aux∩primary scene gate) -------------------------
    QueryDef.sqlBacked(
      "q07_semi_join",
      """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
        |WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem WHERE l_quantity >= 48)""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d).where(col("l_quantity") >= 48)
      o.join(li, o("o_orderkey") === li("l_orderkey"), "left_semi")
        .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"))
    },

    // ---- J4/J7: equi-join embeddings ⨝ documents ------------------------
    QueryDef.sqlBacked(
      "q08_equi_join",
      """SELECT doc_id, lang, source, n_chars, label
        |FROM documents JOIN embeddings ON doc_id = vec_id""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .join(Tables.embeddings(s, d), col("doc_id") === col("vec_id"))
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("label"))
    },

    // ---- G9/W3: dt_aux inference (min successive gap) -------------------
    QueryDef.sqlBacked(
      "q09_dt_infer",
      """SELECT event_type, min(dus) AS dt_min_us FROM (
        |  SELECT event_type,
        |         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY event_type ORDER BY epoch_us(ts)) AS dus
        |  FROM events)
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("us"))
      Tables.events(s, d)
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
        .withColumn("dus", col("us") - lag(col("us"), 1).over(w))
        .groupBy(col("event_type"))
        .agg(min(col("dus")).as("dt_min_us"))
    },

    // ---- G6: 2-D equal-width binned statistics --------------------------
    QueryDef.sqlBacked(
      "q10_binning2d",
      """SELECT ubin, vbin, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
        |  min(value) AS v_min, max(value) AS v_max
        |FROM (SELECT user_id // 10 AS ubin, CAST(floor(value / 25.0) AS BIGINT) AS vbin, value FROM events)
        |GROUP BY 1, 2 HAVING count(*) >= 3""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(expr("user_id div 10").as("ubin"), Binning.binId(col("value"), 25.0).as("vbin"))
        .agg(
          count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("sum_cents"),
          min(col("value")).as("v_min"),
          max(col("value")).as("v_max"))
        .where(col("n") >= 3)
    },

    // ---- G10: nearest-rank percentile + threshold filter ----------------
    QueryDef.sqlBacked(
      "q11_percentile",
      """WITH ranked AS (
        |  SELECT event_type, value,
        |         row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
        |         count(*) OVER (PARTITION BY event_type) AS n
        |  FROM events),
        |p AS (SELECT event_type, value AS p90 FROM ranked
        |      WHERE rn - 1 = CAST(floor(0.9 * (n - 1)) AS BIGINT))
        |SELECT e.event_type AS event_type, p.p90 AS p90, count(*) AS n_above
        |FROM events e JOIN p ON e.event_type = p.event_type
        |WHERE e.value > p.p90
        |GROUP BY 1, 2""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val p90 = RankStats.nearestRankPercentile(e, Seq("event_type"), col("value"), 0.9, col("event_id"))
        .withColumnRenamed("pvalue", "p90")
      e.join(p90, "event_type")
        .where(col("value") > col("p90"))
        .groupBy(col("event_type"), col("p90"))
        .agg(count(lit(1)).as("n_above"))
    },

    // ---- C1: scene-id codec round-trip ----------------------------------
    QueryDef.sqlBacked(
      "q12_codec_roundtrip",
      """SELECT date_trunc('month', o_orderdate) AS month, count(*) AS n_ok,
        |  min('ord__' || strftime(o_orderdate, '%Y%m%d%H%M')) AS first_id
        |FROM orders
        |WHERE strptime('ord__' || strftime(o_orderdate, '%Y%m%d%H%M'), 'ord__%Y%m%d%H%M') = o_orderdate
        |GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .withColumn("scene_id", SceneAssembly.makeSceneId("ord", col("o_orderdate")))
        .where(SceneAssembly.parseSceneTime(col("scene_id")) === col("o_orderdate"))
        .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
        .agg(count(lit(1)).as("n_ok"), min(col("scene_id")).as("first_id"))
    },

    // ---- O3/O4: union across sources + dedup ----------------------------
    QueryDef.sqlBacked(
      "q13_union_dedup",
      """SELECT event_type, count(*) AS n_users FROM (
        |  SELECT DISTINCT user_id, event_type FROM (
        |    SELECT user_id, event_type FROM events WHERE ts < TIMESTAMP '2024-01-20'
        |    UNION ALL
        |    SELECT user_id, event_type FROM events WHERE ts >= TIMESTAMP '2024-01-10'))
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val e = Tables.events(s, d)
      val a = e.where(col("ts") < lit("2024-01-20").cast("timestamp")).select(col("user_id"), col("event_type"))
      val b = e.where(col("ts") >= lit("2024-01-10").cast("timestamp")).select(col("user_id"), col("event_type"))
      a.unionByName(b).dropDuplicates()
        .groupBy(col("event_type")).agg(count(lit(1)).as("n_users"))
    },

    // ---- O5: regex scene filter -----------------------------------------
    QueryDef.sqlBacked(
      "q14_regex_filter",
      """SELECT source, count(*) AS n_docs FROM documents
        |WHERE regexp_matches(source, '^src1[0-9]$') AND lang = 'en'
        |GROUP BY 1""".stripMargin) { (s, d) =>
      SceneAssembly.sceneFilter(Tables.documents(s, d).where(col("lang") === "en"), "source", "^src1[0-9]$")
        .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    },

    // ---- W5-analog: running (cumulative) sum per key --------------------
    QueryDef.sqlBacked(
      "q15_running_sum",
      """SELECT event_id, user_id, ts,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_cents
        |FROM events""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .withColumn("running_cents", sum(round(col("value") * 100).cast("long")).over(w))
        .select(col("event_id"), col("user_id"), col("ts"), col("running_cents"))
    },

    // ---- W3: lag-derivative (differentiate over ordered axis) -----------
    QueryDef.sqlBacked(
      "q16_lag_delta",
      """SELECT event_id, user_id, event_type, value - prev_value AS dvalue FROM (
        |  SELECT event_id, user_id, event_type, value,
        |         lag(value) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_value
        |  FROM events)
        |WHERE prev_value IS NOT NULL""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("user_id"), col("event_type")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, d)
        .withColumn("prev_value", lag(col("value"), 1).over(w))
        .where(col("prev_value").isNotNull)
        .select(col("event_id"), col("user_id"), col("event_type"),
          (col("value") - col("prev_value")).as("dvalue"))
    },

    // ---- G8: completion stats (1-day buckets) ---------------------------
    QueryDef.sqlBacked(
      "q17_daily_counts",
      """SELECT date_trunc('day', ts) AS day, count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    },

    // ---- O6/T1: deterministic hash split into collections ---------------
    QueryDef.sqlBacked(
      "q18_split_assign",
      """SELECT CASE WHEN (event_id % 97) * 2654435761 % 97 < 78 THEN 'train' ELSE 'study' END AS collection,
        |       event_type, count(*) AS n
        |FROM events GROUP BY 1, 2""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("collection",
          when(pmod(col("event_id"), lit(97)) * 2654435761L % 97 < 78, "train").otherwise("study"))
        .groupBy(col("collection"), col("event_type"))
        .agg(count(lit(1)).as("n"))
    },

    // ---- semi-structured: typed JSON extraction over events.props -------
    // The one semi-structured column in the testdata goes through the
    // production-typed route: from_json with an explicit schema (codegen
    // JsonToStructs, no UDF), then a plain aggregation — the shape every
    // event pipeline uses for property bags. Oracle extracts the same
    // path with DuckDB's JSON functions.
    QueryDef.sqlBacked(
      "q157_json_extract",
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(min(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS min_k,
        |  CAST(max(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS max_k,
        |  CAST(count(CASE WHEN CAST(props->>'$.k' AS BIGINT) % 7 = 0
        |                  THEN 1 END) AS BIGINT) AS n_div7
        |FROM events GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.events(s, d)
        .withColumn("k",
          from_json(col("props"), lit("k LONG")).getField("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"),
          count(when(col("k") % 7 === 0, 1)).as("n_div7"))
    },

    // ---- G3/W3: per-column vertical integral Σ q·dp ---------------------
    QueryDef.sqlBacked(
      "q19_profile_integral",
      """SELECT l_orderkey, CAST(sum(q * dp) AS BIGINT) AS integral FROM (
        |  SELECT l_orderkey, q,
        |         lead(l_linenumber) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - l_linenumber AS dp
        |  FROM (SELECT l_orderkey, l_linenumber, sum(l_quantity) AS q
        |        FROM lineitem GROUP BY 1, 2))
        |WHERE dp IS NOT NULL GROUP BY 1""".stripMargin) { (s, d) =>
      // "level" = l_linenumber; aggregate per level first (the raw table can
      // carry several rows per level) so the lead() ordering is deterministic
      val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
      Tables.lineitem(s, d)
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(sum(col("l_quantity")).as("q"))
        .withColumn("dp", lead(col("l_linenumber"), 1).over(w) - col("l_linenumber"))
        .where(col("dp").isNotNull)
        .groupBy(col("l_orderkey"))
        .agg(sum(col("q") * col("dp")).cast("long").as("integral"))
    },

    // ---- star-schema join + agg (J4 chain at bench scale) ---------------
    QueryDef.sqlBacked(
      "q20_star_revenue",
      s"""SELECT r_name, $REV_CENTS_SQL AS revenue_cents, count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(
          sum(round(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * 100).cast("long"))
            .as("revenue_cents"),
          count(lit(1)).as("n_items"))
    },

    // ---- A1 pivot form: per-input columns from the long event table -----
    QueryDef.sqlBacked(
      "q55_pivot_assembly",
      """SELECT user_id,
        |  count(*) FILTER (WHERE event_type = 'click') AS n_click,
        |  count(*) FILTER (WHERE event_type = 'view') AS n_view,
        |  count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
        |  count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
        |  count(*) FILTER (WHERE event_type = 'error') AS n_error
        |FROM events GROUP BY 1
        |HAVING count(*) FILTER (WHERE event_type = 'purchase') > 0""".stripMargin) { (s, d) =>
      // groupBy().pivot() materializes the same shape; the explicit
      // conditional-agg form keeps the column set static for the oracle
      val e = Tables.events(s, d)
      def cnt(t: String) = count(when(col("event_type") === t, 1)).as(s"n_$t")
      e.groupBy(col("user_id"))
        .agg(cnt("click"), cnt("view"), cnt("purchase"), cnt("signup"), cnt("error"))
        .where(col("n_purchase") > 0)
    },

    // ---- F1 interval-table form: bucketed point-in-interval join --------
    QueryDef.sqlBacked(
      "q54_range_join",
      """SELECT o_orderkey, count(*) AS n_shipped_first_week,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents
        |FROM orders JOIN lineitem
        |  ON l_orderkey = o_orderkey
        | AND l_shipdate >= o_orderdate
        | AND l_shipdate <= o_orderdate + INTERVAL 7 DAY
        |GROUP BY 1""".stripMargin) { (s, d) =>
      // intervals = [o_orderdate, +7d] per order; points = shipdates of the
      // order's items. The equi-key (orderkey) joins WITH the time bucket —
      // candidates pair per order, never globally by bucket (the scale
      // shape; a post-join equi-filter would pair all co-bucketed rows).
      val points = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("okey"), col("l_shipdate"), col("l_extendedprice"))
      val intervals = Tables.orders(s, d)
        .select(col("o_orderkey").as("okey"), col("o_orderdate"),
          (col("o_orderdate") + expr("INTERVAL 7 DAY")).as("o_weekend"))
      graft.operators.RangeJoin.tsInInterval(points, intervals,
          "l_shipdate", "o_orderdate", "o_weekend",
          bucketWidthUs = 7L * 86400 * 1000000, equiKeys = Seq("okey"))
        .groupBy(col("okey").as("o_orderkey"))
        .agg(count(lit(1)).as("n_shipped_first_week"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"))
    },

    // ---- O1/O2: deterministic top-k per group ---------------------------
    QueryDef.sqlBacked(
      "q21_topk_per_group",
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey) AS rk
        |  FROM orders)
        |WHERE rk <= 3""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"), col("rk"))
    },

    // ---- skew-salted join == plain join (the equality IS the oracle) ----
    // The fat side salts on a row-content discriminator, the thin side
    // explodes across salts; DuckDB computes the UNSALTED join + agg, so
    // the hash-match proves result equivalence of the salting rewrite.
    QueryDef.sqlBacked(
      "q63_salted_join",
      """SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents,
        |  min(t.type_code) AS type_code
        |FROM events e JOIN (
        |  SELECT event_type, row_number() OVER (ORDER BY event_type) AS type_code
        |  FROM (SELECT DISTINCT event_type FROM events)) t
        |  ON t.event_type = e.event_type
        |GROUP BY 1""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val dim = ev.select("event_type").distinct()
        .withColumn("type_code",
          row_number().over(Window.orderBy(col("event_type"))).cast("long"))
      graft.operators.Skew.saltedJoin(ev, dim, "event_type",
          leftDiscriminator = col("event_id"), nSalts = 8)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(round(col("value") * 100).cast("long")).as("cents"),
          min(col("type_code")).as("type_code"))
    },

    // ---- entity resolution (record linkage) -----------------------------
    // The tabular-side dedup: deterministic synthesized person names
    // over `customer` with PLANTED single-char typos (head typo breaks
    // the prefix block, tail typo breaks the suffix block — the two
    // complementary blocking passes must both run to resolve every
    // variant), levenshtein<=2 verify, alt-star components. Name
    // parts are pairwise edit-distance >= 3, so distinct names never
    // merge; identical synthesized names do (the intended semantics).
    // The oracle replays blocking, the DP metric, and the closure.
    QueryDef.sqlBacked(
      "q170_entity_resolution",
      {
        val fns = Seq("albert", "bridget", "carolyn", "douglas", "eleanor",
          "frederic", "georgina", "harrison", "isabelle", "jonathan",
          "katherine", "leonardo", "margaret", "nicholas", "octavia", "penelope")
        val lns = Seq("anderson", "brockman", "castillo", "davidson",
          "ellsworth", "ferguson", "galloway", "hendricks", "ibarra",
          "jameson", "kowalski", "lancaster", "mitchell", "novak",
          "osborne", "petrov")
        val fnsSql = fns.map(n => s"'$n'").mkString("[", ",", "]")
        val lnsSql = lns.map(n => s"'$n'").mkString("[", ",", "]")
        s"""WITH RECURSIVE named AS (
           |  SELECT c_custkey AS ck,
           |    ($fnsSql)[CAST(c_custkey % 16 AS INT) + 1] || ' ' ||
           |    ($lnsSql)[CAST((c_custkey // 16) % 16 AS INT) + 1] AS nm
           |  FROM customer),
           |ents AS (
           |  SELECT ck * 10 AS rid, nm FROM named
           |  UNION ALL
           |  SELECT ck * 10 + 1 AS rid, 'x' || substr(nm, 2) AS nm
           |  FROM named WHERE ck % 3 = 0
           |  UNION ALL
           |  SELECT ck * 10 + 2 AS rid, substr(nm, 1, length(nm) - 1) || 'x' AS nm
           |  FROM named WHERE ck % 5 = 0),
           |cands AS (
           |  SELECT DISTINCT a.rid AS a, b.rid AS b, a.nm AS na, b.nm AS nb
           |  FROM (SELECT substr(nm, 1, 4) AS bk, rid, nm FROM ents) a
           |  JOIN (SELECT substr(nm, 1, 4) AS bk, rid, nm FROM ents) b USING (bk)
           |  WHERE a.rid < b.rid
           |  UNION
           |  SELECT DISTINCT a.rid AS a, b.rid AS b, a.nm AS na, b.nm AS nb
           |  FROM (SELECT right(nm, 4) AS bk, rid, nm FROM ents) a
           |  JOIN (SELECT right(nm, 4) AS bk, rid, nm FROM ents) b USING (bk)
           |  WHERE a.rid < b.rid),
           |verified AS (SELECT a, b FROM cands WHERE levenshtein(na, nb) <= 2),
           |edges AS (SELECT a AS src, b AS dst FROM verified
           |  UNION ALL SELECT b, a FROM verified),
           |reach AS (
           |  SELECT rid AS node, rid AS lbl FROM ents
           |  UNION
           |  SELECT e.dst AS node, r.lbl FROM reach r JOIN edges e ON e.src = r.node),
           |labels AS (SELECT node, min(lbl) AS entity_id FROM reach GROUP BY 1)
           |SELECT ents.rid, l.entity_id,
           |  CAST(count(*) OVER (PARTITION BY l.entity_id) AS BIGINT) AS n_members
           |FROM ents JOIN labels l ON l.node = ents.rid""".stripMargin
      }) { (s, d) =>
      val fns = Seq("albert", "bridget", "carolyn", "douglas", "eleanor",
        "frederic", "georgina", "harrison", "isabelle", "jonathan",
        "katherine", "leonardo", "margaret", "nicholas", "octavia", "penelope")
      val lns = Seq("anderson", "brockman", "castillo", "davidson",
        "ellsworth", "ferguson", "galloway", "hendricks", "ibarra",
        "jameson", "kowalski", "lancaster", "mitchell", "novak",
        "osborne", "petrov")
      val named = Tables.customer(s, d).select(col("c_custkey").as("ck"),
        concat(
          element_at(typedlit(fns), (col("c_custkey") % 16 + 1).cast("int")),
          lit(" "),
          element_at(typedlit(lns),
            (expr("c_custkey div 16") % 16 + 1).cast("int"))).as("nm"))
      val ents = named.select((col("ck") * 10).as("rid"), col("nm"))
        .unionAll(named.where(col("ck") % 3 === 0)
          .select((col("ck") * 10 + 1).as("rid"),
            concat(lit("x"), expr("substr(nm, 2)")).as("nm")))
        .unionAll(named.where(col("ck") % 5 === 0)
          .select((col("ck") * 10 + 2).as("rid"),
            concat(expr("substr(nm, 1, length(nm) - 1)"), lit("x")).as("nm")))
      graft.operators.Linkage.resolve(ents, "rid", "nm",
        blockLen = 4, maxDist = 2)
    },

    // ---- ordered-funnel analysis ----------------------------------------
    // The MATCH_RECOGNIZE-shaped sequential pattern: per user, strict
    // view -> click -> purchase within a 48h window of the arming view;
    // 'view' always re-arms, completion counts a conversion and resets.
    // One fold over the per-user (ts, event_id)-sorted history; the
    // oracle replays the identical state machine as a recursive CTE.
    QueryDef.sqlBacked(
      "q173_funnel",
      // Oracle formulation note (round 21): the original fold used
      // list_reduce over struct accumulators, which DuckDB 1.0.0
      // mis-evaluates DETERMINISTICALLY for some grouped-vector layouts
      // (sf0.001 users 7/14 and sf0.1 user 848 returned conv=0 from the
      // full query, while the same engine folding the same per-user list
      // standalone — and a scalar replay of duck's own sorted list —
      // both give the Spark answer). Same step machine expressed as a
      // recursive CTE instead; verified row-identical to the scalar
      // reference at sf0.001/sf0.01/sf0.1.
      """WITH RECURSIVE e AS (SELECT user_id, epoch_us(ts) AS tus,
        |  event_id AS tb, event_type AS ty FROM events),
        |r AS (SELECT user_id, CAST(row_number() OVER (PARTITION BY user_id
        |    ORDER BY tus, tb, ty) AS BIGINT) AS i, tus, ty FROM e),
        |n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        |  FROM e GROUP BY 1),
        |walk AS (
        |  SELECT user_id, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS stage,
        |    CAST(0 AS BIGINT) AS t0, CAST(0 AS BIGINT) AS conv FROM n
        |  UNION ALL
        |  SELECT w.user_id, w.i + 1,
        |    CASE WHEN r.ty = 'view' THEN CAST(1 AS BIGINT)
        |      WHEN r.ty = 'purchase' AND w.stage = 2
        |        AND r.tus - w.t0 <= 172800000000 THEN CAST(0 AS BIGINT)
        |      WHEN r.ty = 'click' AND w.stage = 1
        |        AND r.tus - w.t0 <= 172800000000 THEN CAST(2 AS BIGINT)
        |      ELSE w.stage END,
        |    CASE WHEN r.ty = 'view' THEN r.tus
        |      WHEN r.ty = 'purchase' AND w.stage = 2
        |        AND r.tus - w.t0 <= 172800000000 THEN CAST(0 AS BIGINT)
        |      ELSE w.t0 END,
        |    w.conv + CASE WHEN r.ty = 'purchase' AND w.stage = 2
        |      AND r.tus - w.t0 <= 172800000000 THEN CAST(1 AS BIGINT)
        |      ELSE CAST(0 AS BIGINT) END
        |  FROM walk w JOIN r ON r.user_id = w.user_id AND r.i = w.i + 1),
        |fin AS (SELECT user_id, max_by(stage, i) AS final_stage,
        |  max_by(conv, i) AS n_conversions FROM walk GROUP BY 1)
        |SELECT n.user_id, n.n_events, fin.n_conversions, fin.final_stage
        |FROM n JOIN fin ON fin.user_id = n.user_id""".stripMargin) { (s, d) =>
      graft.operators.Sessionize.funnel(Tables.events(s, d), "user_id", "ts",
        "event_type", steps = Seq("view", "click", "purchase"),
        windowSec = 172800L)
    },

    // ---- ROLLUP grouping sets -------------------------------------------
    // The OLAP subtotal surface: corpus counts by (lang, source) with
    // per-language and grand-total rows, grouping id composed the same
    // way in both engines (first column = high bit).
    QueryDef.sqlBacked(
      "q174_rollup",
      """SELECT lang, source, CAST(GROUPING(lang, source) AS BIGINT) AS gid,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY ROLLUP(lang, source)""".stripMargin) { (s, d) =>
      Tables.documents(s, d)
        .rollup("lang", "source")
        .agg(grouping_id().cast("long").as("gid"),
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast("long").as("sum_chars"))
        .select(col("lang"), col("source"), col("gid"),
          col("n_docs"), col("sum_chars"))
    }
  )
}
