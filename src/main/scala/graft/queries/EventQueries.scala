package graft.queries

import graft.{Checkpoint, Tables}
import graft.fns.Fns
import graft.ops.Intervals
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2 operator inventory instantiated over the `events` table —
  * the Redset query-log analog (FIXTURES.md §1 mapping):
  * entity key `user_id` ↔ (instance_id, write_table_id); ingest event
  * `event_type = 'purchase'` ↔ `query_type IN ('insert','copy')`; probe
  * events (view/click/error/signup) ↔ select/update/delete; `value` ↔
  * duration/mbytes metrics.
  *
  * Every query: one shuffle per groupBy/join on the natural key, all
  * expressions codegen'd, filters/projections pushed into the parquet scan.
  */
object EventQueries {

  private def ev(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** Shared oracle prelude: truncate ns→µs once so both engines see the
    * identical microsecond timeline Spark reads from parquet.
    */
  private val E =
    "WITH e AS (SELECT event_id, user_id, event_type, value, CAST(ts AS TIMESTAMP) AS ts FROM events)"

  /** Ingestion intervals per user (J2/W2: lead() replaces the reference's
    * correlated-subquery self-join, update_tables.py:45-78).
    */
  private def intervals(s: SparkSession, dir: String): DataFrame =
    Intervals.ingestionIntervals(
      ev(s, dir).filter(col("event_type") === "purchase"),
      Seq("user_id"), "ts", "event_id")

  /** J4 output: every probe event matched to the ingestion interval
    * containing it (Dashboard_Historical_Final.py:283-296 analog).
    */
  private[queries] def matchedProbes(s: SparkSession, dir: String): DataFrame = {
    val probes = ev(s, dir)
      .filter(col("event_type") =!= "purchase")
      .select("event_id", "user_id", "ts", "event_type")
    Intervals.intervalJoin(
      probes, intervals(s, dir).drop("event_id"), Seq("user_id"), "ts")
  }

  private val ivSql =
    s"""$E, i AS (
       |  SELECT user_id, event_id, ts AS current_ts,
       |         lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
       |  FROM e WHERE event_type = 'purchase'),
       |iv AS (
       |  SELECT user_id, current_ts AS last_ingest_ts, next_ts AS interval_end
       |  FROM i),
       |matched AS (
       |  SELECT p.event_id, p.user_id, p.ts, p.event_type,
       |         iv.last_ingest_ts, iv.interval_end,
       |         epoch_ms(p.ts) - epoch_ms(iv.last_ingest_ts) AS time_since_last_ingest_ms,
       |         epoch_ms(iv.interval_end) - epoch_ms(p.ts) AS time_to_next_ingest_ms
       |  FROM e p JOIN iv
       |    ON p.user_id = iv.user_id
       |   AND p.ts >= iv.last_ingest_ts
       |   AND p.ts <= COALESCE(iv.interval_end, TIMESTAMP '2999-12-31 00:00:00')
       |  WHERE p.event_type <> 'purchase')
       |""".stripMargin

  /** The j2/j2b intervals oracle — ONE definition for the window-exact
    * gate and its bucketed-lead scale twin.
    */
  private lazy val J2OracleSql =
    s"""$E SELECT user_id, event_id, ts AS current_ts,
       |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_ts
       |FROM e WHERE event_type = 'purchase'
       |ORDER BY user_id, current_ts, event_id""".stripMargin

  val defs: Seq[QDef] = Seq(

    // ---- historical pipeline core (SURVEY §2.3/§2.5/§2.7) ----

    QDef("j2_ingestion_intervals", J2OracleSql) { (s, dir) =>
      intervals(s, dir).orderBy(col("user_id"), col("current_ts"), col("event_id"))
    },

    // j2's SCALE twin (round 15): the per-user lead window funnels a
    // mega entity's whole history into one task; the bucketed form
    // leads within (user, time-bucket) and stitches bucket boundaries
    // with the broadcast carry (next non-empty bucket's first event).
    // Same oracle; 10-minute buckets so the gate corpus actually
    // exercises the carry path.
    QDef("j2b_ingestion_intervals_scalable", J2OracleSql) { (s, dir) =>
      Intervals.ingestionIntervalsScalable(
          ev(s, dir).filter(col("event_type") === "purchase"),
          Seq("user_id"), "ts", "event_id", bucketWidthMs = 600000L)
        .orderBy(col("user_id"), col("current_ts"), col("event_id"))
    },

    QDef("j4_interval_join",
      s"""$ivSql SELECT event_id, user_id, ts, event_type, last_ingest_ts,
         |  interval_end, time_since_last_ingest_ms, time_to_next_ingest_ms
         |FROM matched ORDER BY event_id, last_ingest_ts""".stripMargin) { (s, dir) =>
      matchedProbes(s, dir).orderBy(col("event_id"), col("last_ingest_ts"))
    },

    // J4 scale variant gate-checked against the SAME oracle: the skew-safe
    // time-bucketed interval join (hot keys spread over their time range)
    // must bit-match the plain plan, not just its Spark twin.
    QDef("j4b_interval_join_bucketed",
      s"""$ivSql SELECT event_id, user_id, ts, event_type, last_ingest_ts,
         |  interval_end, time_since_last_ingest_ms, time_to_next_ingest_ms
         |FROM matched ORDER BY event_id, last_ingest_ts""".stripMargin) { (s, dir) =>
      val probes = ev(s, dir)
        .filter(col("event_type") =!= "purchase")
        .select("event_id", "user_id", "ts", "event_type")
      Intervals.intervalJoinBucketed(
          probes, intervals(s, dir).drop("event_id"), Seq("user_id"), "ts")
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"),
          col("last_ingest_ts"), col("interval_end"),
          col("time_since_last_ingest_ms"), col("time_to_next_ingest_ms"))
        .orderBy(col("event_id"), col("last_ingest_ts"))
    },

    // U1: re-attach the ingest rows themselves (their interval starts at
    // their own timestamp), Dashboard_Historical_Final.py:297-312.
    QDef("u1_output_table",
      s"""$ivSql SELECT event_id, user_id, ts, event_type, last_ingest_ts,
         |       time_since_last_ingest_ms
         |FROM matched
         |UNION ALL
         |SELECT event_id, user_id, ts, event_type, ts AS last_ingest_ts,
         |       CAST(0 AS BIGINT) AS time_since_last_ingest_ms
         |FROM e WHERE event_type = 'purchase'
         |ORDER BY event_id, last_ingest_ts""".stripMargin) { (s, dir) =>
      val matched = matchedProbes(s, dir).select(
        col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("last_ingest_ts"), col("time_since_last_ingest_ms"))
      val ingests = ev(s, dir).filter(col("event_type") === "purchase").select(
        col("event_id"), col("user_id"), col("ts"), col("event_type"),
        col("ts").as("last_ingest_ts"),
        lit(0L).as("time_since_last_ingest_ms"))
      matched.unionByName(ingests).orderBy(col("event_id"), col("last_ingest_ts"))
    },

    // J5 + A6: per-entity read-vs-write workload counts, FULL OUTER JOIN
    // with COALESCEd keys (Dashboard_Historical_Final.py:69-99).
    QDef("j5_workload_full_outer",
      s"""$E SELECT COALESCE(s.user_id, t.user_id) AS user_id,
         |  COALESCE(s.select_count, 0) AS select_count,
         |  COALESCE(t.transform_count, 0) AS transform_count
         |FROM (SELECT user_id, count(*) AS select_count FROM e
         |      WHERE event_type = 'view' GROUP BY user_id) s
         |FULL OUTER JOIN
         |     (SELECT user_id, count(*) AS transform_count FROM e
         |      WHERE event_type = 'purchase' GROUP BY user_id) t
         |ON s.user_id = t.user_id
         |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val e = ev(s, dir)
      // distinct key names sidestep self-join column ambiguity
      val sel = e.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("user_id_s")).agg(count(lit(1)).as("select_count"))
      val tra = e.filter(col("event_type") === "purchase")
        .groupBy(col("user_id").as("user_id_t")).agg(count(lit(1)).as("transform_count"))
      sel.join(tra, col("user_id_s") === col("user_id_t"), "full_outer")
        .select(
          coalesce(col("user_id_s"), col("user_id_t")).as("user_id"),
          coalesce(col("select_count"), lit(0L)).as("select_count"),
          coalesce(col("transform_count"), lit(0L)).as("transform_count"))
        .orderBy(col("user_id"))
    },

    // A10: ratio-of-aggregates classification ("analytical table"),
    // Dashboard_Historical_Final.py:354-357.
    QDef("a10_analytical_ratio",
      s"""$E SELECT user_id,
         |  round(CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE)
         |        / NULLIF(SUM(CASE WHEN event_type IN ('view','purchase') THEN 1 ELSE 0 END), 0), 6) AS view_ratio,
         |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS DOUBLE)
         |        / NULLIF(SUM(CASE WHEN event_type IN ('view','purchase') THEN 1 ELSE 0 END), 0) > 0.48 AS is_analytical
         |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val viewCnt = sum(when(col("event_type") === "view", 1L).otherwise(0L))
      val bothCnt = sum(when(col("event_type").isin("view", "purchase"), 1L).otherwise(0L))
      val ratio = viewCnt.cast("double") / nullif(bothCnt, lit(0L))
      ev(s, dir).groupBy(col("user_id"))
        .agg(round(ratio, 6).as("view_ratio"), (ratio > 0.48).as("is_analytical"))
        .orderBy(col("user_id"))
    },

    // J6: semi join against an aggregate-derived dimension
    // (Dashboard_Historical_Final.py:365-368 IN-subquery).
    QDef("j6_semi_analytical_users",
      s"""$E SELECT user_id, count(*) AS n_events FROM e
         |WHERE user_id IN (
         |  SELECT user_id FROM e GROUP BY user_id
         |  HAVING CAST(SUM(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END) AS DOUBLE)
         |         / count(*) > 0.7)
         |GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val e = ev(s, dir)
      val heavy = e.groupBy(col("user_id"))
        .agg((sum(when(col("event_type") =!= "purchase", 1L).otherwise(0L)).cast("double")
          / count(lit(1))).as("ratio"))
        .filter(col("ratio") > 0.7)
        .select("user_id")
      e.join(heavy, Seq("user_id"), "left_semi")
        .groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("user_id"))
    },

    // A7: grouped average of the derived interval metric
    // (Dashboard_Historical_Final.py:353-372).
    QDef("a7_avg_interval_per_user",
      s"""$ivSql SELECT user_id,
         |  count(*) AS n_matched,
         |  round(CAST(SUM(time_since_last_ingest_ms) AS DOUBLE) / count(*), 0) AS avg_since_ms
         |FROM matched GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      matchedProbes(s, dir).groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_matched"),
          round(sum(col("time_since_last_ingest_ms")).cast("double") / count(lit(1)), 0)
            .as("avg_since_ms"))
        .orderBy(col("user_id"))
    },

    // A8: HAVING on aggregates — data-freshness flags
    // (Dashboard/update_tables.py:242-264).
    QDef("a8_having_freshness",
      s"""$ivSql SELECT user_id,
         |  round(CAST(SUM(time_since_last_ingest_ms) AS DOUBLE) / count(*), 3) AS avg_since_ms,
         |  round(CAST(SUM(time_to_next_ingest_ms) AS DOUBLE) / count(*), 3) AS avg_to_next_ms
         |FROM matched
         |WHERE interval_end IS NOT NULL
         |GROUP BY user_id
         |HAVING CAST(SUM(time_since_last_ingest_ms) AS DOUBLE) / count(*)
         |     > CAST(SUM(time_to_next_ingest_ms) AS DOUBLE) / count(*)
         |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val since = sum(col("time_since_last_ingest_ms")).cast("double") / count(lit(1))
      val toNext = sum(col("time_to_next_ingest_ms")).cast("double") / count(lit(1))
      matchedProbes(s, dir)
        .filter(col("interval_end").isNotNull)
        .groupBy(col("user_id"))
        .agg(round(since, 3).as("avg_since_ms"), round(toNext, 3).as("avg_to_next_ms"),
          (since > toNext).as("_keep"))
        .filter(col("_keep")).drop("_keep")
        .orderBy(col("user_id"))
    },

    // W1 + A10: NTILE(10) decile histogram of query placement between
    // ingests (Dashboard_Historical_Final.py:428-463). Global window as in
    // the reference; at scale, partition by entity key (SURVEY §2.5 note).
    QDef("w1_ntile_decile",
      s"""$ivSql, rel AS (
         |  SELECT event_id,
         |    CAST(time_since_last_ingest_ms AS DOUBLE)
         |      / NULLIF(time_since_last_ingest_ms + time_to_next_ingest_ms, 0) AS rel_pos
         |  FROM matched WHERE interval_end IS NOT NULL)
         |SELECT bin, count(*) AS n FROM (
         |  SELECT CAST(ntile(10) OVER (ORDER BY rel_pos, event_id) AS BIGINT) AS bin FROM rel)
         |GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      val rel = matchedProbes(s, dir)
        .filter(col("interval_end").isNotNull)
        .select(col("event_id"),
          (col("time_since_last_ingest_ms").cast("double") /
            nullif(col("time_since_last_ingest_ms") + col("time_to_next_ingest_ms"), lit(0L)))
            .as("rel_pos"))
      rel.select(ntile(10).over(Window.orderBy(col("rel_pos"), col("event_id")))
          .cast("long").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
        .orderBy(col("bin"))
    },

    // W1 scale path: the same decile histogram with the window PARTITIONED
    // by the entity key — every partition sorts independently (no single-
    // task global sort), the plan that survives 100×. Gate-checked here so
    // the scale-safe variant is verified, not just available (mirrors
    // RedsetPipeline.ingestDecileHistogram(perTable = true)).
    QDef("w1b_ntile_decile_per_key",
      s"""$ivSql, rel AS (
         |  SELECT event_id, user_id,
         |    CAST(time_since_last_ingest_ms AS DOUBLE)
         |      / NULLIF(time_since_last_ingest_ms + time_to_next_ingest_ms, 0) AS rel_pos
         |  FROM matched WHERE interval_end IS NOT NULL)
         |SELECT bin, count(*) AS n FROM (
         |  SELECT CAST(ntile(10) OVER (
         |    PARTITION BY user_id ORDER BY rel_pos, event_id) AS BIGINT) AS bin
         |  FROM rel)
         |GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      val rel = matchedProbes(s, dir)
        .filter(col("interval_end").isNotNull)
        .select(col("event_id"), col("user_id"),
          (col("time_since_last_ingest_ms").cast("double") /
            nullif(col("time_since_last_ingest_ms") + col("time_to_next_ingest_ms"), lit(0L)))
            .as("rel_pos"))
      rel.select(ntile(10).over(
          Window.partitionBy(col("user_id")).orderBy(col("rel_pos"), col("event_id")))
          .cast("long").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
        .orderBy(col("bin"))
    },

    // A9: global MAX(ts) — the reference's hand-rolled watermark probe
    // (Dashboard_Historical_Final.py:190-198).
    QDef("a9_max_watermark",
      s"$E SELECT max(ts) AS max_ts, min(ts) AS min_ts, count(*) AS n FROM e") { (s, dir) =>
      ev(s, dir).agg(max(col("ts")).as("max_ts"), min(col("ts")).as("min_ts"),
        count(lit(1)).as("n"))
    },

    // ---- live "Aggregate View" metrics (SURVEY §2.4) ----

    // A1/A2: one-pass conditional counts (replaces the reference's 4
    // separate scalar queries, Dashboard_Live_Final.py:230-233).
    QDef("a1_scalar_counts",
      s"""$E SELECT count(*) AS total_events,
         |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
         |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         |  CAST(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_value
         |FROM e""".stripMargin) { (s, dir) =>
      ev(s, dir).agg(
        count(lit(1)).as("total_events"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchase"),
        sum(when(col("value") > 100, 1L).otherwise(0L)).as("n_high_value"))
    },

    QDef("a2_conditional_per_user",
      s"""$E SELECT user_id,
         |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
         |  CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
         |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      ev(s, dir).groupBy(col("user_id")).agg(
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
        sum(when(col("event_type") =!= "error", 1L).otherwise(0L)).as("n_ok"))
        .orderBy(col("user_id"))
    },

    // A3: global sums of the metric columns (Dashboard_Live_Final.py:234-237)
    // — decimal-exact so the result is partitioning-independent.
    QDef("a3_global_sums",
      s"""$E SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
         |  max(value) AS max_value, min(value) AS min_value, count(*) AS n
         |FROM e""".stripMargin) { (s, dir) =>
      ev(s, dir).agg(
        Fns.sumMoney(col("value")).as("total_value"),
        max(col("value")).as("max_value"),
        min(col("value")).as("min_value"),
        count(lit(1)).as("n"))
    },

    // A4/O3: top-5 users by event count (Dashboard_Live_Final.py:404-410),
    // deterministic tie-break on user_id.
    QDef("a4_top_users",
      s"""$E SELECT user_id, count(*) AS n_events FROM e
         |GROUP BY user_id ORDER BY n_events DESC, user_id LIMIT 5""".stripMargin) { (s, dir) =>
      ev(s, dir).groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("n_events").desc, col("user_id")).limit(5)
    },

    // A5: query-type distribution (Dashboard_Live_Final.py:452-459).
    QDef("a5_type_distribution",
      s"""$E SELECT event_type, count(*) AS n FROM e
         |GROUP BY event_type ORDER BY n DESC, event_type""".stripMargin) { (s, dir) =>
      ev(s, dir).groupBy(col("event_type")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("event_type"))
    },

    // A11: hour-of-day histogram (Dashboard/historic_testing.py:185-189).
    QDef("a11_hourly_histogram",
      s"""$E SELECT CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n FROM e
         |GROUP BY hr ORDER BY hr""".stripMargin) { (s, dir) =>
      ev(s, dir).groupBy(hour(col("ts")).cast("long").as("hr"))
        .agg(count(lit(1)).as("n")).orderBy(col("hr"))
    },

    // A12: hit/miss per hour (Dashboard_updated.py:213-227).
    QDef("a12_error_rate_hourly",
      s"""$E SELECT CAST(hour(ts) AS BIGINT) AS hr,
         |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
         |  CAST(SUM(CASE WHEN event_type <> 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
         |FROM e GROUP BY hr ORDER BY hr""".stripMargin) { (s, dir) =>
      ev(s, dir).groupBy(hour(col("ts")).cast("long").as("hr")).agg(
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_error"),
        sum(when(col("event_type") =!= "error", 1L).otherwise(0L)).as("n_ok"))
        .orderBy(col("hr"))
    },

    // A13: value-distribution histogram (Dashboard_updated.py:231-233).
    QDef("a13_value_distribution",
      s"""$E SELECT CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS n
         |FROM e GROUP BY bucket ORDER BY bucket""".stripMargin) { (s, dir) =>
      ev(s, dir).groupBy(floor(col("value") / 50).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n")).orderBy(col("bucket"))
    },

    // A14: multi-column grouped sums per hour (Dashboard/streamlit_app.py:393-400).
    QDef("a14_hourly_multi_sums",
      s"""$E SELECT CAST(hour(ts) AS BIGINT) AS hr,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
         |  CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value,
         |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup
         |FROM e GROUP BY hr ORDER BY hr""".stripMargin) { (s, dir) =>
      ev(s, dir).groupBy(hour(col("ts")).cast("long").as("hr")).agg(
        Fns.sumMoney(col("value")).as("sum_value"),
        Fns.sumMoney(when(col("event_type") === "purchase", col("value")).otherwise(lit(0.0)))
          .as("purchase_value"),
        sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("n_signup"))
        .orderBy(col("hr"))
    },

    // A15: grouped means (streamlit_app.py:322-323) — explicit decimal
    // sum / count so both engines divide the same exact operands.
    QDef("a15_grouped_means",
      s"""$E SELECT event_type,
         |  round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(value), 6) AS avg_value
         |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      ev(s, dir).groupBy(col("event_type"))
        .agg(round(Fns.avgMoney(col("value")), 6).as("avg_value"))
        .orderBy(col("event_type"))
    },

    // A16: distinct-count per group (live_updates_duckdb.py:124-126). At
    // 100 TB swap for approx_count_distinct (documented scale path).
    QDef("a16_distinct_users_per_type",
      s"""$E SELECT event_type, count(DISTINCT user_id) AS n_users FROM e
         |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      ev(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("event_type"))
    },

    // A18: argmax row (streamlit_app.py:269) — total order, not idxmax.
    QDef("a18_argmax",
      s"""$E SELECT event_id, user_id, value FROM e
         |ORDER BY value DESC, event_id LIMIT 1""".stripMargin) { (s, dir) =>
      ev(s, dir).select(col("event_id"), col("user_id"), col("value"))
        .orderBy(col("value").desc, col("event_id")).limit(1)
    },

    // A19: derived scalar "stress level" (streamlit_app.py:364-366).
    QDef("a19_stress_scalar",
      s"""$E SELECT round(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
         |  / (max(value) * count(*)) * 100, 6) AS stress_pct FROM e""".stripMargin) { (s, dir) =>
      ev(s, dir).agg(
        round(Fns.sumMoney(col("value")) / (max(col("value")) * count(lit(1))) * 100, 6)
          .as("stress_pct"))
    },

    // A20: conditional success-rate ratio (streamlit_app.py:378).
    QDef("a20_conditional_rate",
      s"""$E SELECT round(CAST(SUM(CASE WHEN value > 100 AND event_type = 'error' THEN 1 ELSE 0 END) AS DOUBLE)
         |  / NULLIF(SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END), 0), 6) AS high_value_error_rate
         |FROM e""".stripMargin) { (s, dir) =>
      ev(s, dir).agg(
        round(
          sum(when(col("value") > 100 && col("event_type") === "error", 1L).otherwise(0L)).cast("double")
            / nullif(sum(when(col("value") > 100, 1L).otherwise(0L)), lit(0L)),
          6).as("high_value_error_rate"))
    },

    // ---- sorts / limits / set ops (SURVEY §2.6/§2.7) ----

    // O2: top-10 leaderboard over DISTINCT pairs (Dashboard_Live_Final.py:339-346).
    QDef("o2_leaderboard_topk",
      s"""$E SELECT DISTINCT user_id, value FROM e
         |ORDER BY value DESC, user_id LIMIT 10""".stripMargin) { (s, dir) =>
      ev(s, dir).select(col("user_id"), col("value")).dropDuplicates()
        .orderBy(col("value").desc, col("user_id")).limit(10)
    },

    // O6: bounded top-k via the custom typed Aggregator (partial aggregation
    // ships only k rows per partition — the streaming-safe top-k shape).
    QDef("o6_topk_aggregator",
      s"""$E SELECT CAST(rn AS BIGINT) AS rank, value, event_id FROM (
         |  SELECT value, event_id,
         |    row_number() OVER (ORDER BY value DESC, event_id) AS rn FROM e)
         |WHERE rn <= 10 ORDER BY rank""".stripMargin) { (s, dir) =>
      val topk = udaf(new graft.ops.TopK.BoundedTopK(10))
      ev(s, dir)
        .agg(topk(col("value"), col("event_id")).as("tk"))
        .select(posexplode(col("tk")).as(Seq("pos", "s")))
        .select((col("pos") + 1).cast("long").as("rank"),
          col("s.value").as("value"), col("s.id").as("event_id"))
        .orderBy(col("rank"))
    },

    // O4: recent-N scan (Dashboard_updated_with_kafka_duckdb_ver3.py:250).
    QDef("o4_recent_events",
      s"""$E SELECT event_id, ts, event_type FROM e
         |ORDER BY ts DESC, event_id LIMIT 100""".stripMargin) { (s, dir) =>
      ev(s, dir).select(col("event_id"), col("ts"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id")).limit(100)
    },

    // O1: global event-time sort (producer_Final.py:105) — full range
    // partitioned sort, no driver collect.
    QDef("o1_global_sort",
      s"""$E SELECT event_id, ts FROM e
         |ORDER BY ts, event_id""".stripMargin) { (s, dir) =>
      ev(s, dir).select(col("event_id"), col("ts"))
        .orderBy(col("ts"), col("event_id"))
    },

    // F7/F9: recency slice with an injectable clock (fixed here so the
    // oracle is deterministic; production passes current_timestamp()).
    QDef("f9_recency_slice",
      s"""$E SELECT event_id, ts FROM e
         |WHERE ts >= TIMESTAMP '2024-01-25 00:00:00' - INTERVAL 1 DAY
         |ORDER BY event_id""".stripMargin) { (s, dir) =>
      ev(s, dir)
        .filter(Fns.recencyFilter(col("ts"),
          now = lit("2024-01-25 00:00:00").cast("timestamp")))
        .select(col("event_id"), col("ts"))
        .orderBy(col("event_id"))
    },

    // U2: DISTINCT projection (Dashboard_Historical_Final.py:224,272).
    QDef("u2_distinct_pairs",
      s"""$E SELECT DISTINCT user_id, event_type FROM e
         |ORDER BY user_id, event_type""".stripMargin) { (s, dir) =>
      ev(s, dir).select(col("user_id"), col("event_type")).dropDuplicates()
        .orderBy(col("user_id"), col("event_type"))
    },

    // U3: INTERSECT — users who both clicked AND purchased (set
    // semantics: distinct rows present on both sides).
    QDef("u3_intersect_users",
      s"""$E SELECT user_id FROM e WHERE event_type = 'click'
         |INTERSECT
         |SELECT user_id FROM e WHERE event_type = 'purchase'
         |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val e = ev(s, dir)
      e.filter(col("event_type") === "click").select(col("user_id"))
        .intersect(
          e.filter(col("event_type") === "purchase").select(col("user_id")))
        .orderBy(col("user_id"))
    },

    // U4: EXCEPT — (user, value-bucket) combinations seen in views but
    // never in signups (distinct left rows absent from the right; the
    // single-column form is empty on this dense fixture, so the gate
    // uses the pair form to keep a non-trivial result set).
    QDef("u4_except_pairs",
      s"""$E SELECT user_id, CAST(floor(value / 200) AS BIGINT) AS bucket
         |FROM e WHERE event_type = 'view'
         |EXCEPT
         |SELECT user_id, CAST(floor(value / 200) AS BIGINT) AS bucket
         |FROM e WHERE event_type = 'signup'
         |ORDER BY user_id, bucket""".stripMargin) { (s, dir) =>
      val e = ev(s, dir)
      def pairs(t: String) = e.filter(col("event_type") === t)
        .select(col("user_id"),
          floor(col("value") / 200).cast("long").as("bucket"))
      pairs("view").except(pairs("signup"))
        .orderBy(col("user_id"), col("bucket"))
    },

    // U3b: INTERSECT ALL — multiset semantics: each (user) click row
    // survives once per matched purchase multiplicity (min of the two
    // per-key counts). Duplicate output rows are identical, so sorting
    // on user_id is content-deterministic for the hash gate.
    QDef("u3b_intersect_all",
      s"""$E SELECT user_id FROM e WHERE event_type = 'click'
         |INTERSECT ALL
         |SELECT user_id FROM e WHERE event_type = 'purchase'
         |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val e = ev(s, dir)
      e.filter(col("event_type") === "click").select(col("user_id"))
        .intersectAll(
          e.filter(col("event_type") === "purchase").select(col("user_id")))
        .orderBy(col("user_id"))
    },

    // U4b: EXCEPT ALL — multiset difference: view rows minus one per
    // matching signup row (left multiplicity minus right multiplicity,
    // floored at zero), the bag-semantics sibling of u4.
    QDef("u4b_except_all",
      s"""$E SELECT user_id FROM e WHERE event_type = 'view'
         |EXCEPT ALL
         |SELECT user_id FROM e WHERE event_type = 'signup'
         |ORDER BY user_id""".stripMargin) { (s, dir) =>
      val e = ev(s, dir)
      e.filter(col("event_type") === "view").select(col("user_id"))
        .exceptAll(
          e.filter(col("event_type") === "signup").select(col("user_id")))
        .orderBy(col("user_id"))
    },

    // ---- filters & scalar functions (SURVEY §2.2/§2.9) ----

    // F3+F5+F6: event-time range + IN-list predicates, pushed to the scan.
    QDef("f3_f5_time_type_filter",
      s"""$E SELECT strftime(ts, '%Y-%m-%d') AS day, count(*) AS n FROM e
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
         |  AND event_type IN ('view','click')
         |GROUP BY day ORDER BY day""".stripMargin) { (s, dir) =>
      ev(s, dir)
        .filter(col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
          col("ts") < lit("2024-01-20 00:00:00").cast("timestamp") &&
          col("event_type").isin("view", "click"))
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(count(lit(1)).as("n")).orderBy(col("day"))
    },

    // X5: mm:ss display format as pure expressions (Kafka/ddb_wrappers.py:355-358).
    QDef("x5_mmss_format",
      s"""$E SELECT event_id,
         |  CAST(FLOOR((value * 1000) / 60000) AS BIGINT) || ':' ||
         |  lpad(CAST(CAST(FLOOR(((value * 1000) % 60000) / 1000) AS BIGINT) AS VARCHAR), 2, '0') AS mmss
         |FROM e ORDER BY event_id LIMIT 500""".stripMargin) { (s, dir) =>
      ev(s, dir).select(col("event_id"), Fns.mmss(col("value") * 1000).as("mmss"))
        .orderBy(col("event_id")).limit(500)
    },

    // X11: threshold binning (live_updates_duckdb.py:128-136).
    QDef("x11_binning",
      s"""$E SELECT CASE WHEN value < 50 THEN 'small'
         |            WHEN value < 150 THEN 'medium' ELSE 'large' END AS bin,
         |  count(*) AS n
         |FROM e GROUP BY bin ORDER BY bin""".stripMargin) { (s, dir) =>
      ev(s, dir)
        .groupBy(Fns.bin3(col("value"), 50, 150, ("small", "medium", "large")).as("bin"))
        .agg(count(lit(1)).as("n")).orderBy(col("bin"))
    },

    // X13: ISO-8601 serialization (producer_Final.py:70).
    QDef("x13_iso_serialization",
      s"""$E SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS iso_ts
         |FROM e ORDER BY event_id LIMIT 500""".stripMargin) { (s, dir) =>
      ev(s, dir).select(col("event_id"), Fns.isoTs(col("ts")).as("iso_ts"))
        .orderBy(col("event_id")).limit(500)
    },

    // ---- event-time windows (SURVEY §2.8 batch twins) ----

    // ST3: tumbling event-time window — the principled version of the 60 s
    // TRUNCATE cycle (Dashboard_Live_Final.py:129-135).
    QDef("st3_tumbling_window_1h",
      s"""$E SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
         |  count(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
         |FROM e GROUP BY window_start ORDER BY window_start""".stripMargin) { (s, dir) =>
      ev(s, dir)
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"), Fns.sumMoney(col("value")).as("sum_value"))
        .select(col("window.start").as("window_start"), col("n"), col("sum_value"))
        .orderBy(col("window_start"))
    },

    // ST3c: per-window HDR quantile read-off — the batch twin of the
    // streaming windowed sketch (Streams.hdrBuckets): hour windows ×
    // value-cents buckets (sk6's exact integer bucketing), p50/p99 read
    // off the cumulative histogram per window. What a live latency
    // dashboard serves; the stream emits the mergeable sketch, this gate
    // pins the window + bucket + rank arithmetic end to end.
    QDef("st3c_window_hdr_p99",
      s"""$E, v AS (
         |  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
         |    CAST(round(value * 100) AS BIGINT) AS v FROM e),
         |b AS (
         |  SELECT window_start,
         |    CASE WHEN v < 8 THEN v
         |      ELSE CAST(length(bin(v)) - 4 AS BIGINT) * 8
         |           + (v >> (length(bin(v)) - 4)) END AS bucket
         |  FROM v),
         |h AS (SELECT window_start, bucket, count(*) AS n FROM b GROUP BY 1, 2),
         |c AS (
         |  SELECT window_start, bucket, n,
         |    sum(n) OVER (PARTITION BY window_start ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(n) OVER (PARTITION BY window_start) AS total
         |  FROM h),
         |p AS (
         |  SELECT c.*, t.q, (total * t.q + 999) // 1000 AS rk
         |  FROM c CROSS JOIN (VALUES (500), (990)) t(q)),
         |s AS (SELECT * FROM p WHERE cum >= rk AND cum - n < rk)
         |SELECT window_start, q,
         |  CAST(CASE WHEN bucket < 8 THEN bucket
         |    ELSE (bucket - ((bucket >> 3) - 1) * 8) << ((bucket >> 3) - 1)
         |    END AS BIGINT) AS est_low,
         |  CAST(total AS BIGINT) AS n_rows
         |FROM s ORDER BY window_start, q""".stripMargin) { (s, dir) =>
      val windowed = ev(s, dir).select(
        window(col("ts"), "1 hour").getField("start").as("window_start"),
        round(col("value") * 100).cast("long").as("__cents"))
      graft.ops.HdrHist.quantiles(windowed, col("__cents"),
          Seq("window_start"), Seq(500, 990), subBits = 3)
        .select(col("window_start"), col("q"), col("est_low"), col("n_rows"))
        .orderBy(col("window_start"), col("q"))
    },

    // W3: ranking for display (Dashboard_Live_Final.py:357) — top-3 per type.
    QDef("w3_rank_per_type",
      s"""$E SELECT event_type, CAST(rn AS BIGINT) AS rn, event_id, value FROM (
         |  SELECT event_type, event_id, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rn
         |  FROM e)
         |WHERE rn <= 3 ORDER BY event_type, rn""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("value").desc, col("event_id"))
      ev(s, dir)
        .select(col("event_type"), col("event_id"), col("value"),
          row_number().over(w).cast("long").as("rn"))
        .filter(col("rn") <= 3)
        .select(col("event_type"), col("rn"), col("event_id"), col("value"))
        .orderBy(col("event_type"), col("rn"))
    },

    // W6: relative-position window functions — percent_rank + cume_dist
    // per event type over a UNIQUE (value, event_id) order, so both
    // ratios are exact rn-derived fractions on each engine. Top-5 per
    // type keeps the gate small while exercising the full partition.
    QDef("w6_percent_cume",
      s"""$E SELECT event_type, event_id, value,
         |  round(percent_rank() OVER (PARTITION BY event_type ORDER BY value, event_id), 6) AS pr,
         |  round(cume_dist() OVER (PARTITION BY event_type ORDER BY value, event_id), 6) AS cd
         |FROM e QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY value, event_id) <= 5
         |ORDER BY event_type, value, event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      ev(s, dir)
        .select(col("event_type"), col("event_id"), col("value"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"),
          row_number().over(w).as("__rn"))
        .filter(col("__rn") <= 5).drop("__rn")
        .orderBy(col("event_type"), col("value"), col("event_id"))
    },

    // W7: sliding ROWS-frame aggregate — 3-event moving average per user
    // in exact integer cents (floor(value·100) on identical doubles),
    // so the running sum is engine-exact regardless of how each engine
    // walks the frame; the average is one rounded division at the end.
    QDef("w7_sliding_mean",
      s"""$E SELECT user_id, event_id, CAST(n_win AS BIGINT) AS n_win, sum_cents,
         |  round(CAST(sum_cents AS DOUBLE) / (100.0 * n_win), 6) AS avg_value
         |FROM (
         |  SELECT user_id, event_id,
         |    count(*) OVER w AS n_win,
         |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) OVER w AS BIGINT) AS sum_cents
         |  FROM e
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))
         |ORDER BY user_id, event_id""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-2, Window.currentRow)
      ev(s, dir)
        .select(col("user_id"), col("event_id"),
          count(lit(1)).over(w).cast("long").as("n_win"),
          sum(floor(col("value") * 100).cast("long")).over(w)
            .cast("long").as("sum_cents"))
        .withColumn("avg_value",
          round(col("sum_cents").cast("double") / (lit(100.0) * col("n_win")), 6))
        .orderBy(col("user_id"), col("event_id"))
    },

    // W4/ST5: EWMA (α=0.02) per user over the event-time-ordered series,
    // as a strict left fold (aggregate HOF) — bit-identical to DuckDB's
    // list_reduce. Streaming twin: graft.streaming EWMA state op.
    QDef("w4_ewma_per_user",
      s"""$E SELECT user_id,
         |  round(list_reduce(list(value ORDER BY ts, event_id),
         |                    (a, b) -> 0.02 * b + 0.98 * a), 6) AS ewma
         |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      val xs = ev(s, dir).groupBy(col("user_id"))
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"), col("value"))))
          .as("xs"))
      xs.select(col("user_id"),
        round(
          aggregate(
            slice(col("xs"), lit(2), size(col("xs")) - 1),
            element_at(col("xs"), 1).getField("value"),
            (acc, x) => lit(0.02) * x.getField("value") + lit(0.98) * acc),
          6).as("ewma"))
        .orderBy(col("user_id"))
    },

    // W4 scale variant gate-checked against the SAME oracle: the
    // mapPartitions streaming fold (O(1) state per key, no per-key array)
    // must bit-match the list_reduce oracle, not just the collect_list twin.
    QDef("w4b_ewma_per_user_scalable",
      s"""$E SELECT user_id,
         |  round(list_reduce(list(value ORDER BY ts, event_id),
         |                    (a, b) -> 0.02 * b + 0.98 * a), 6) AS ewma
         |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
      graft.ops.Ewma.perKey(ev(s, dir), "user_id", Seq("ts", "event_id"),
          "value", Seq("ewma" -> 0.02))
        .select(col("user_id"), round(col("ewma"), 6).as("ewma"))
        .orderBy(col("user_id"))
    },

    // W5 (extension): gap-based sessionization — lag + running sum + session
    // aggregate, one shuffle on the entity key (ops/Sessionize).
    QDef("w5_sessionization",
      s"""$E, l AS (SELECT user_id, event_id, ts,
         |  epoch_ms(ts) - epoch_ms(lag(ts) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
         |  FROM e),
         |s AS (SELECT user_id, event_id, ts,
         |  SUM(CASE WHEN gap_ms IS NULL OR gap_ms > 3600000 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY user_id ORDER BY ts, event_id
         |          ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM l)
         |SELECT user_id AS key, CAST(session_id AS BIGINT) AS session_id,
         |  min(ts) AS session_start, count(*) AS n_events,
         |  epoch_ms(max(ts)) - epoch_ms(min(ts)) AS duration_ms
         |FROM s GROUP BY user_id, session_id
         |ORDER BY key, session_id""".stripMargin) { (s, dir) =>
      graft.ops.Sessionize.byGap(ev(s, dir), col("user_id"), col("ts"),
          col("event_id"), maxGapMs = 3600000L)
        .orderBy(col("key"), col("session_id"))
    },

    // J7: enrich rows with their group's aggregate (live_updates_duckdb.py:139).
    QDef("j7_enrich_with_counts",
      s"""$E SELECT e.event_id, e.user_id, c.n_user_events FROM e
         |JOIN (SELECT user_id, count(*) AS n_user_events FROM e GROUP BY user_id) c
         |  ON e.user_id = c.user_id
         |ORDER BY e.event_id LIMIT 1000""".stripMargin) { (s, dir) =>
      val e = ev(s, dir)
      val counts = e.groupBy(col("user_id")).agg(count(lit(1)).as("n_user_events"))
      e.join(counts, Seq("user_id"), "inner")
        .select(col("event_id"), col("user_id"), col("n_user_events"))
        .orderBy(col("event_id")).limit(1000)
    },

    // Hierarchical ROLLUP totals (type, hour) -> type subtotals -> grand
    // total, with an explicit grouping-level id so aggregate rows are
    // unambiguous even if a grouping column could be NULL in the data.
    // NULLS FIRST pinned on both engines (Spark's ASC default).
    QDef("a21_rollup_totals",
      s"""$E SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
         |  CAST(grouping(event_type) * 2 + grouping(hour(ts)) AS BIGINT) AS gid,
         |  count(*) AS n
         |FROM e GROUP BY ROLLUP(event_type, hour(ts))
         |ORDER BY event_type NULLS FIRST, hr NULLS FIRST""".stripMargin) { (s, dir) =>
      ev(s, dir)
        .withColumn("hr", hour(col("ts")))
        .rollup(col("event_type"), col("hr"))
        .agg((grouping(col("event_type")) * 2 +
          grouping(col("hr"))).cast("long").as("gid"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("hr").cast("long").as("hr"),
          col("gid"), col("n"))
        .orderBy(col("event_type").asc_nulls_first, col("hr").asc_nulls_first)
    },

    // GROUPING SETS: the general form a21's ROLLUP is a special case of —
    // an arbitrary list of grouping keys computed in ONE pass (Spark
    // expands to a single Expand + hash aggregate, not one scan per
    // set). Same engine-neutral gid convention as a21.
    QDef("a23_grouping_sets",
      s"""$E SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr,
         |  CAST(grouping(event_type) * 2 + grouping(hour(ts)) AS BIGINT) AS gid,
         |  count(*) AS n_events, count(DISTINCT user_id) AS n_users
         |FROM e
         |GROUP BY GROUPING SETS ((event_type, hour(ts)), (event_type), (hour(ts)), ())
         |ORDER BY gid, event_type NULLS FIRST, hr NULLS FIRST""".stripMargin) { (s, dir) =>
      val e = ev(s, dir).withColumn("hr", hour(col("ts")))
      e.groupingSets(
          Seq(Seq(col("event_type"), col("hr")), Seq(col("event_type")),
            Seq(col("hr")), Seq.empty),
          col("event_type"), col("hr"))
        .agg((grouping(col("event_type")) * 2 +
          grouping(col("hr"))).cast("long").as("gid"),
          count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"))
        .select(col("event_type"), col("hr").cast("long").as("hr"),
          col("gid"), col("n_events"), col("n_users"))
        .orderBy(col("gid"), col("event_type").asc_nulls_first,
          col("hr").asc_nulls_first)
    },

    // Exact discrete percentiles (p25/p50/p90/p99) per type over integer
    // cents: smallest value whose cume_dist reaches p — rank selection,
    // no float interpolation, so the gate has no rounding knife-edge.
    // The oracle uses DuckDB's NATIVE percentile_disc, so two independent
    // implementations must agree on the tie/boundary semantics.
    // Scale shape: aggregate to per-(type, cents) counts FIRST (map-side
    // partial agg compresses to the distinct-value domain), then window
    // over the compact frame — never a per-type sort of raw rows — and
    // test thresholds in exact integers (4*cum >= tot ⇔ cume_dist >= .25).
    QDef("a24_percentile_disc",
      s"""$E, c AS (
         |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents FROM e)
         |SELECT event_type,
         |  percentile_disc(0.25) WITHIN GROUP (ORDER BY cents) AS p25,
         |  percentile_disc(0.5)  WITHIN GROUP (ORDER BY cents) AS p50,
         |  percentile_disc(0.9)  WITHIN GROUP (ORDER BY cents) AS p90,
         |  percentile_disc(0.99) WITHIN GROUP (ORDER BY cents) AS p99
         |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
      val counts = ev(s, dir)
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy(col("event_type"), col("cents"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      val cum = counts
        .withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("tot", sum(col("cnt")).over(
          Window.partitionBy(col("event_type"))))
      cum.groupBy(col("event_type"))
        .agg(
          min(when(col("cum") * 4 >= col("tot"), col("cents"))).as("p25"),
          min(when(col("cum") * 2 >= col("tot"), col("cents"))).as("p50"),
          min(when(col("cum") * 10 >= col("tot") * 9, col("cents"))).as("p90"),
          min(when(col("cum") * 100 >= col("tot") * 99, col("cents"))).as("p99"))
        .orderBy(col("event_type"))
    },

    // A25: z-score anomaly detection with an EXACT integer test — an
    // event is an outlier when |x - mean| > 3*stddev, decided without
    // ever computing a float mean or stddev: z^2 > 9 is algebraically
    // (n*x - Σx)^2 > 9*(n*Σx^2 - (Σx)^2), all DECIMAL(38,0)-exact
    // integers in cents (~1e18 at sf0.1, far under 38 digits; both
    // engines keep (38,0)x(38,0) products exact at this magnitude), so
    // the outlier SET is hash-gateable — no stddev rounding knife-edge.
    // Scale shape: one grouped-moments pass, 5-row broadcast back, one
    // grouped reduce. Two scans, no sort, no window.
    QDef("a25_anomaly_zscore",
      s"""$E, c AS (
         |  SELECT event_type, event_id,
         |    CAST(round(value * 100) AS BIGINT) AS x FROM e),
         |s AS (SELECT event_type, CAST(count(*) AS DECIMAL(38,0)) AS n,
         |    CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         |    CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
         |  FROM c GROUP BY 1),
         |f AS (SELECT c.event_type, c.x,
         |    (s.n * c.x - s.sx) * (s.n * c.x - s.sx) AS lhs,
         |    9 * (s.n * s.sxx - s.sx * s.sx) AS rhs
         |  FROM c JOIN s ON c.event_type = s.event_type)
         |SELECT event_type,
         |  CAST(count(CASE WHEN lhs > rhs THEN 1 END) AS BIGINT) AS n_outliers,
         |  CAST(min(CASE WHEN lhs > rhs THEN x END) AS BIGINT)
         |    AS min_outlier_cents,
         |  CAST(max(CASE WHEN lhs > rhs THEN x END) AS BIGINT)
         |    AS max_outlier_cents
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val c = ev(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("x"))
      val stats = c.groupBy(col("event_type")).agg(
        count(lit(1)).cast("decimal(38,0)").as("n"),
        sum(col("x")).cast("decimal(38,0)").as("sx"),
        sum(col("x").cast("decimal(38,0)") * col("x")).cast("decimal(38,0)")
          .as("sxx"))
      val dev = col("n") * col("x") - col("sx")
      c.join(broadcast(stats), "event_type")
        .withColumn("lhs", dev * dev)
        .withColumn("rhs",
          lit(9) * (col("n") * col("sxx") - col("sx") * col("sx")))
        .groupBy(col("event_type"))
        .agg(
          count(when(col("lhs") > col("rhs"), lit(1)))
            .as("n_outliers"),
          min(when(col("lhs") > col("rhs"), col("x")))
            .cast("long").as("min_outlier_cents"),
          max(when(col("lhs") > col("rhs"), col("x")))
            .cast("long").as("max_outlier_cents"))
        .orderBy(col("event_type"))
    },

    // A26: Pearson correlation with NO floating point — the r^2 value is
    // an exact integer rational: r^2 = cov^2 / (var_x * var_y) with
    // cov = n*Σxy - Σx*Σy etc., all DECIMAL(38,0)-exact (max term
    // ~1e34 < 1e38), reported as sign(r) plus r^2 in ppm via integral
    // division. The usual corr() float can't be hash-gated across
    // engines; this can. Zero-variance groups report 0 (guarded both
    // sides — DuckDB // errors on zero where Spark nulls). The oracle
    // divides in HUGEINT: DuckDB's // on DECIMAL operands computes in
    // DOUBLE (and doesn't floor), which is off-by-one at 1e30 scale.
    // One grouped-moments pass; 5-row result.
    QDef("a26_correlation",
      s"""$E, c AS (
         |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x,
         |    CAST(hour(ts) AS BIGINT) AS y FROM e),
         |s AS (SELECT event_type,
         |    CAST(count(*) AS DECIMAL(38,0)) AS n,
         |    CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         |    CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         |    CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         |    CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
         |    CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
         |  FROM c GROUP BY 1)
         |SELECT event_type,
         |  CAST(CASE WHEN (n*sxy - sx*sy) > 0 THEN 1
         |    WHEN (n*sxy - sx*sy) < 0 THEN -1 ELSE 0 END AS BIGINT) AS r_sign,
         |  CAST(CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) = 0 THEN 0
         |    ELSE CAST((n*sxy - sx*sy) * (n*sxy - sx*sy) * 1000000 AS HUGEINT)
         |      // CAST((n*sxx - sx*sx) * (n*syy - sy*sy) AS HUGEINT)
         |    END AS BIGINT) AS r2_ppm
         |FROM s ORDER BY event_type""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val c = ev(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("x"),
        hour(col("ts")).cast("long").as("y"))
      val stats = c.groupBy(col("event_type")).agg(
        dec(count(lit(1))).as("n"),
        dec(sum(col("x"))).as("sx"), dec(sum(col("y"))).as("sy"),
        dec(sum(dec(col("x")) * col("x"))).as("sxx"),
        dec(sum(dec(col("y")) * col("y"))).as("syy"),
        dec(sum(dec(col("x")) * col("y"))).as("sxy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val vxvy = (col("n") * col("sxx") - col("sx") * col("sx")) *
        (col("n") * col("syy") - col("sy") * col("sy"))
      stats
        .withColumn("cov", cov).withColumn("vxvy", vxvy)
        .select(col("event_type"),
          when(col("cov") > 0, 1L).when(col("cov") < 0, -1L).otherwise(0L)
            .cast("long").as("r_sign"),
          when(col("vxvy") === 0, 0L)
            .otherwise(expr("cov * cov * 1000000 DIV vxvy"))
            .cast("long").as("r2_ppm"))
        .orderBy(col("event_type"))
    },

    // SK1: KMV (k-minimum-values) distinct sketch, k=64 — per-type
    // distinct-user estimate from the k smallest distinct multiplicative
    // hashes (graft.ops.Kmv). Deterministic for the fixed hash family,
    // so the estimate itself is hash-gated, alongside the exact count
    // and the per-mille error (all-integer arithmetic end to end).
    // This portable form materializes the distinct hash set per group
    // (the oracle-expressible shape); sk1b is the O(k)-state scale form.
    QDef("sk1_kmv_distinct",
      s"""$E, h AS (
         |  SELECT DISTINCT event_type,
         |    (user_id * 2654435761 + 987654321) % 2147483647 AS hv FROM e),
         |r AS (
         |  SELECT event_type, hv,
         |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS nd
         |  FROM h),
         |k AS (
         |  SELECT event_type, max(nd) AS nd,
         |    max(CASE WHEN rn = 64 THEN hv END) AS h64
         |  FROM r WHERE rn <= 64 GROUP BY event_type)
         |SELECT event_type, CAST(nd AS BIGINT) AS exact_distinct,
         |  CAST(CASE WHEN nd < 64 THEN nd
         |    ELSE (CAST(63 AS BIGINT) * 2147483647) // h64 END AS BIGINT)
         |    AS kmv_estimate,
         |  CAST(abs((CASE WHEN nd < 64 THEN nd
         |    ELSE (CAST(63 AS BIGINT) * 2147483647) // h64 END) - nd) * 1000
         |    // nd AS BIGINT) AS err_permille
         |FROM k ORDER BY event_type""".stripMargin) { (s, dir) =>
      val h = ev(s, dir).select(col("event_type"),
        ((col("user_id") * lit(2654435761L) + lit(987654321L))
          % lit(graft.ops.Kmv.M)).as("hv")).distinct()
      val r = h
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("hv"))))
        .withColumn("nd", count(lit(1)).over(
          Window.partitionBy(col("event_type"))))
      val k = r.filter(col("rn") <= 64).groupBy(col("event_type"))
        .agg(max(col("nd")).as("nd"),
          max(when(col("rn") === 64, col("hv"))).as("h64"))
      val est = when(col("nd") < 64, col("nd"))
        .otherwise(expr("(CAST(63 AS BIGINT) * CAST(2147483647 AS BIGINT)) DIV h64"))
      k.select(col("event_type"), col("nd").cast("long").as("exact_distinct"),
          est.cast("long").as("kmv_estimate"),
          expr("abs(" +
            "(CASE WHEN nd < 64 THEN nd ELSE (CAST(63 AS BIGINT) * CAST(2147483647 AS BIGINT)) DIV h64 END) - nd" +
            ") * 1000 DIV nd").cast("long").as("err_permille"))
        .orderBy(col("event_type"))
    },

    // SK1b: the same sketch as a mergeable typed Aggregator
    // (Kmv.MinKDistinct): O(k) state per group, partial aggregation
    // ships ≤ k longs per partition, no per-group distinct
    // materialization or window sort — the shape that holds when
    // distinct keys per group no longer fit memory. Shares sk1's
    // oracle verbatim: the Aggregator must reproduce the SQL-window
    // sketch bit-exactly. (exact_distinct stays a separate
    // countDistinct here because the gate output requires it; the
    // sketch itself never needs it.)
    QDef("sk1b_kmv_aggregator",
      s"""$E, h AS (
         |  SELECT DISTINCT event_type,
         |    (user_id * 2654435761 + 987654321) % 2147483647 AS hv FROM e),
         |r AS (
         |  SELECT event_type, hv,
         |    row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS nd
         |  FROM h),
         |k AS (
         |  SELECT event_type, max(nd) AS nd,
         |    max(CASE WHEN rn = 64 THEN hv END) AS h64
         |  FROM r WHERE rn <= 64 GROUP BY event_type)
         |SELECT event_type, CAST(nd AS BIGINT) AS exact_distinct,
         |  CAST(CASE WHEN nd < 64 THEN nd
         |    ELSE (CAST(63 AS BIGINT) * 2147483647) // h64 END AS BIGINT)
         |    AS kmv_estimate,
         |  CAST(abs((CASE WHEN nd < 64 THEN nd
         |    ELSE (CAST(63 AS BIGINT) * 2147483647) // h64 END) - nd) * 1000
         |    // nd AS BIGINT) AS err_permille
         |FROM k ORDER BY event_type""".stripMargin) { (s, dir) =>
      val minK = udaf(new graft.ops.Kmv.MinKDistinct(64))
      val hv = (col("user_id") * lit(2654435761L) + lit(987654321L)) %
        lit(graft.ops.Kmv.M)
      ev(s, dir).select(col("event_type"), hv.as("hv"))
        .groupBy(col("event_type"))
        .agg(minK(col("hv")).as("mins"),
          countDistinct(col("hv")).as("nd"))
        .select(col("event_type"), col("nd").cast("long").as("exact_distinct"),
          when(size(col("mins")) < 64, col("nd"))
            .otherwise(expr(
              "(CAST(63 AS BIGINT) * CAST(2147483647 AS BIGINT)) DIV element_at(mins, 64)"))
            .cast("long").as("kmv_estimate"),
          expr("abs(" +
            "(CASE WHEN size(mins) < 64 THEN nd ELSE (CAST(63 AS BIGINT) * CAST(2147483647 AS BIGINT)) DIV element_at(mins, 64) END) - nd" +
            ") * 1000 DIV nd").cast("long").as("err_permille"))
        .orderBy(col("event_type"))
    },

    // SK2: count-min sketch heavy hitters — per-user event counts from a
    // 4x1024 counter matrix (4 pairwise-distinct multiplicative hashes),
    // probed for the exact top-20 users. CM guarantees estimate >= exact
    // (overestimate is the collision mass sharing the user's min-counter
    // bucket), so the gate pins both the estimates and the one-sided
    // error. Scale shape: the build is ONE hash aggregate over (i, bkt)
    // — map-side partial agg collapses every partition to <= 4096 rows
    // regardless of input size — and the probe joins two tiny frames
    // (top-20 x 4 hashes against the 4096-row sketch), both broadcast.
    QDef("sk2_count_min_topk",
      s"""$E, hashes AS (
         |  SELECT * FROM (VALUES (0, 2654435761, 1013904223),
         |    (1, 2246822519, 374761393), (2, 3266489917, 2654435769),
         |    (3, 668265263, 1540483477)) AS t(i, a, b)),
         |cm AS (
         |  SELECT h.i, (e.user_id * h.a + h.b) % 2147483647 % 1024 AS bkt,
         |    count(*) AS c
         |  FROM e CROSS JOIN hashes h GROUP BY 1, 2),
         |exact AS (SELECT user_id, count(*) AS n FROM e GROUP BY 1),
         |top AS (SELECT user_id, n FROM exact ORDER BY n DESC, user_id LIMIT 20),
         |probe AS (
         |  SELECT t.user_id, max(t.n) AS exact_count, min(cm.c) AS cm_estimate
         |  FROM top t CROSS JOIN hashes h
         |  JOIN cm ON cm.i = h.i
         |    AND cm.bkt = (t.user_id * h.a + h.b) % 2147483647 % 1024
         |  GROUP BY t.user_id)
         |SELECT CAST(user_id AS BIGINT) AS user_id,
         |  CAST(exact_count AS BIGINT) AS exact_count,
         |  CAST(cm_estimate AS BIGINT) AS cm_estimate,
         |  CAST(cm_estimate - exact_count AS BIGINT) AS overestimate
         |FROM probe ORDER BY exact_count DESC, user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      val hs = Seq((0L, 2654435761L, 1013904223L), (1L, 2246822519L, 374761393L),
        (2L, 3266489917L, 2654435769L), (3L, 668265263L, 1540483477L))
        .toDF("i", "a", "b")
      def bkt(key: Column) =
        (key * col("a") + col("b")) % lit(2147483647L) % lit(1024L)
      val e = ev(s, dir)
      val cm = e.select(col("user_id")).crossJoin(broadcast(hs))
        .groupBy(col("i"), bkt(col("user_id")).as("bkt"))
        .agg(count(lit(1)).as("c"))
      val top = e.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("user_id")).limit(20)
      top.crossJoin(broadcast(hs))
        .withColumn("bkt", bkt(col("user_id")))
        .join(cm, Seq("i", "bkt"))
        .groupBy(col("user_id"))
        .agg(max(col("n")).as("exact_count"), min(col("c")).as("cm_estimate"))
        .select(col("user_id"), col("exact_count"), col("cm_estimate"),
          (col("cm_estimate") - col("exact_count")).as("overestimate"))
        .orderBy(col("exact_count").desc, col("user_id"))
    },

    // SK3: bloom-filter membership audit — a 65536-bit / 3-hash bloom
    // built over purchase event ids, probed with EVERY distinct event id.
    // The single audit row pins the bloom contract exactly: every member
    // passes (n_true_accept = member count, zero false negatives) and
    // the false-positive count is deterministic for the fixed hash
    // family. Scale shape: the bit set is <= 3*65536 (i, bkt) rows NO
    // MATTER how many members — a broadcastable prune for shuffle-join
    // avoidance — and the probe is hash-join + hash-agg, no sort.
    QDef("sk3_bloom_membership",
      s"""$E, hashes AS (
         |  SELECT * FROM (VALUES (0, 2654435761, 1013904223),
         |    (1, 2246822519, 374761393), (2, 3266489917, 2654435769))
         |    AS t(i, a, b)),
         |members AS (SELECT DISTINCT event_id AS k FROM e
         |  WHERE event_type = 'purchase'),
         |bits AS (SELECT DISTINCT h.i,
         |    (m.k * h.a + h.b) % 2147483647 % 65536 AS bkt
         |  FROM members m CROSS JOIN hashes h),
         |probe AS (SELECT DISTINCT event_id AS k FROM e),
         |hits AS (
         |  SELECT p.k, count(*) AS nbits
         |  FROM probe p CROSS JOIN hashes h
         |  JOIN bits b ON b.i = h.i
         |    AND b.bkt = (p.k * h.a + h.b) % 2147483647 % 65536
         |  GROUP BY p.k),
         |pass AS (SELECT h.k, CASE WHEN m.k IS NOT NULL THEN 1 END AS m
         |  FROM hits h LEFT JOIN members m ON h.k = m.k
         |  WHERE h.nbits = 3)
         |SELECT
         |  CAST((SELECT count(*) FROM probe) AS BIGINT) AS n_probe,
         |  CAST(count(*) AS BIGINT) AS n_pass,
         |  CAST(count(m) AS BIGINT) AS n_true_accept,
         |  CAST(count(*) - count(m) AS BIGINT) AS n_false_pos
         |FROM pass""".stripMargin) { (s, dir) =>
      import s.implicits._
      val hs = Seq((0L, 2654435761L, 1013904223L), (1L, 2246822519L, 374761393L),
        (2L, 3266489917L, 2654435769L)).toDF("i", "a", "b")
      def bkt(key: Column) =
        (key * col("a") + col("b")) % lit(2147483647L) % lit(65536L)
      val e = ev(s, dir)
      val members = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("k")).distinct()
      val bits = members.crossJoin(broadcast(hs))
        .select(col("i"), bkt(col("k")).as("bkt")).distinct()
      val probe = e.select(col("event_id").as("k")).distinct()
      val pass = probe.crossJoin(broadcast(hs))
        .withColumn("bkt", bkt(col("k")))
        .join(broadcast(bits), Seq("i", "bkt"))
        .groupBy(col("k")).agg(count(lit(1)).as("nbits"))
        .filter(col("nbits") === 3)
        .join(members.withColumn("m", lit(1)), Seq("k"), "left")
      val stats = pass.agg(count(lit(1)).as("n_pass"),
        count(col("m")).as("n_true_accept"),
        (count(lit(1)) - count(col("m"))).as("n_false_pos"))
      probe.agg(count(lit(1)).as("n_probe")).crossJoin(stats)
        .select(col("n_probe"), col("n_pass"), col("n_true_accept"),
          col("n_false_pos"))
    },

    // ---- product analytics (funnel / cohort / transitions) ----

    // FA1: ordered funnel with a 24h step window — users whose first view
    // is followed by a click within 24h, then a purchase within 24h of
    // that click (strict event-time ordering at each step). Conversion
    // ratios in exact integer permille, zero-guarded because DuckDB `//`
    // errors on zero where Spark DIV nulls. Scale shape: three per-user
    // hash aggregates chained by shuffle joins on the SAME key
    // (user_id), so the exchange is reusable; no window sort, no
    // broadcast of the (unbounded) per-user frames.
    QDef("fa1_funnel_24h",
      s"""$E, s1 AS (
         |  SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view'
         |  GROUP BY 1),
         |s2 AS (
         |  SELECT e.user_id, min(e.ts) AS t2 FROM e
         |  JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = 'click' AND e.ts > s1.t1
         |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1),
         |s3 AS (
         |  SELECT e.user_id, min(e.ts) AS t3 FROM e
         |  JOIN s2 ON e.user_id = s2.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
         |    AND e.ts <= s2.t2 + INTERVAL 24 HOUR GROUP BY 1)
         |SELECT CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_view,
         |  CAST((SELECT count(*) FROM s2) AS BIGINT) AS n_view_click,
         |  CAST((SELECT count(*) FROM s3) AS BIGINT) AS n_view_click_purchase,
         |  CAST(CASE WHEN (SELECT count(*) FROM s1) = 0 THEN 0
         |    ELSE (SELECT count(*) FROM s2) * 1000 // (SELECT count(*) FROM s1)
         |    END AS BIGINT) AS conv2_permille,
         |  CAST(CASE WHEN (SELECT count(*) FROM s2) = 0 THEN 0
         |    ELSE (SELECT count(*) FROM s3) * 1000 // (SELECT count(*) FROM s2)
         |    END AS BIGINT) AS conv3_permille""".stripMargin) { (s, dir) =>
      val e = ev(s, dir)
      val s1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      s1.agg(count(lit(1)).as("n_view"))
        .crossJoin(s2.agg(count(lit(1)).as("n_view_click")))
        .crossJoin(s3.agg(count(lit(1)).as("n_view_click_purchase")))
        .select(col("n_view"), col("n_view_click"),
          col("n_view_click_purchase"),
          when(col("n_view") === 0, lit(0L))
            .otherwise(expr("n_view_click * 1000 DIV n_view"))
            .cast("long").as("conv2_permille"),
          when(col("n_view_click") === 0, lit(0L))
            .otherwise(expr("n_view_click_purchase * 1000 DIV n_view_click"))
            .cast("long").as("conv3_permille"))
    },

    // FA2: cohort retention — cohort = a user's first active calendar
    // day; for offsets 0..7 count the distinct users of each cohort
    // active again exactly that many days later. Calendar-day diff of
    // pure DATEs is engine-identical (Spark datediff == DuckDB
    // date_diff('day')). One distinct-pruned activity frame joined to
    // the per-user cohort on user_id, then a grouped distinct count.
    QDef("fa2_retention_cohorts",
      s"""$E, c AS (
         |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM e
         |  GROUP BY 1),
         |a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM e),
         |r AS (
         |  SELECT c.cohort_day, date_diff('day', c.cohort_day, a.d)
         |    AS offset_days, a.user_id
         |  FROM a JOIN c ON a.user_id = c.user_id
         |  WHERE date_diff('day', c.cohort_day, a.d) BETWEEN 0 AND 7)
         |SELECT CAST(cohort_day AS TIMESTAMP) AS cohort_day,
         |  CAST(offset_days AS BIGINT) AS offset_days,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
         |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val e = ev(s, dir)
      val c = e.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("cohort_day"))
      val a = e.select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      a.join(c, "user_id")
        .withColumn("offset_days",
          datediff(col("d"), col("cohort_day")).cast("long"))
        .filter(col("offset_days").between(0, 7))
        .groupBy(col("cohort_day"), col("offset_days"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        // DATE carries as midnight TIMESTAMP: pyarrow hands DuckDB DATE and
        // parquet date32 to the driver as different py types (datetime64 vs
        // date objects), which hash apart even when values agree
        .withColumn("cohort_day", col("cohort_day").cast("timestamp"))
        .orderBy(col("cohort_day"), col("offset_days"))
    },

    // FA3: event-type transition matrix — per-user next-event via lead()
    // over the (ts, event_id) total order, then a global pair count: the
    // first-order Markov transition counts behind "what do users do
    // after X" panels. One window shuffle on user_id, one hash agg over
    // at most |types|^2 groups.
    QDef("fa3_transition_matrix",
      s"""$E, o AS (
         |  SELECT event_type, lead(event_type) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS next_type
         |  FROM e)
         |SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n
         |FROM o WHERE next_type IS NOT NULL
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .select(col("event_type"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type"), col("next_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("event_type"), col("next_type"))
    },

    // FA4: DAU / trailing-7-day WAU / stickiness — each active (user,
    // day) pair is EXPLODED to the 7 window-end days it contributes to,
    // then a grouped distinct count per window day: bounded 7x row
    // amplification on an already day-distinct frame, instead of a
    // sliding RANGE-frame distinct (which Spark cannot do without a
    // per-day re-scan or a giant state). Stickiness = DAU/WAU in exact
    // integer permille. Window days are inner-joined back to real
    // activity days, so no phantom trailing days appear.
    QDef("fa4_dau_wau",
      s"""$E, a AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM e),
         |off AS (SELECT * FROM (VALUES (0),(1),(2),(3),(4),(5),(6)) t(o)),
         |dau AS (SELECT d, count(DISTINCT user_id) AS dau FROM a GROUP BY d),
         |wau AS (
         |  SELECT a.d + o.o AS wd, count(DISTINCT a.user_id) AS wau
         |  FROM a CROSS JOIN off o GROUP BY 1)
         |SELECT CAST(dau.d AS TIMESTAMP) AS day, CAST(dau.dau AS BIGINT) AS dau,
         |  CAST(wau.wau AS BIGINT) AS wau,
         |  CAST(dau.dau * 1000 // wau.wau AS BIGINT) AS stickiness_permille
         |FROM dau JOIN wau ON wau.wd = dau.d ORDER BY day""".stripMargin) {
      (s, dir) =>
      val a = ev(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
      val dau = a.groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("dau"))
      val wau = a
        .select(col("user_id"),
          explode(sequence(lit(0), lit(6))).as("o"), col("d"))
        .select(col("user_id"), date_add(col("d"), col("o")).as("wd"))
        .groupBy(col("wd")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, col("d") === col("wd"))
        // timestamp, not date, for the same driver-hash parity reason as fa2
        .select(col("d").cast("timestamp").as("day"), col("dau"), col("wau"),
          expr("dau * 1000 DIV wau").cast("long").as("stickiness_permille"))
        .orderBy(col("day"))
    },

    // FA5: longest same-type streak per user — classic gaps-and-islands
    // via the double-row_number difference (rn over all events minus rn
    // within the type is constant exactly along a run). Both windows
    // partition by user_id, so ONE shuffle feeds two sorts; the island
    // key (rn - rnt) is pure integer arithmetic. Top-20 by (streak,
    // user_id) total order.
    QDef("fa5_longest_streak",
      s"""$E, o AS (
         |  SELECT user_id, event_type,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS rn,
         |    row_number() OVER (PARTITION BY user_id, event_type
         |      ORDER BY ts, event_id) AS rnt
         |  FROM e),
         |g AS (SELECT user_id, event_type, rn - rnt AS grp, count(*) AS len
         |      FROM o GROUP BY 1, 2, 3),
         |m AS (SELECT user_id, max(len) AS max_streak FROM g GROUP BY 1)
         |SELECT user_id, CAST(max_streak AS BIGINT) AS max_streak
         |FROM m ORDER BY max_streak DESC, user_id LIMIT 20""".stripMargin) {
      (s, dir) =>
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val byUserType = Window.partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
      ev(s, dir)
        .select(col("user_id"), col("event_type"),
          row_number().over(byUser).as("rn"),
          row_number().over(byUserType).as("rnt"))
        .groupBy(col("user_id"), col("event_type"),
          (col("rn") - col("rnt")).as("grp"))
        .agg(count(lit(1)).as("len"))
        .groupBy(col("user_id")).agg(max(col("len")).as("max_streak"))
        .orderBy(col("max_streak").desc, col("user_id")).limit(20)
    },

    // A27: median absolute deviation — the robust spread statistic, both
    // medians by exact rank selection (the a24 aggregate-first shape:
    // per-(type, value) counts, window over the compact frame, integer
    // threshold 2*cum >= tot). No floats anywhere, so median AND mad
    // hash-gate against DuckDB's native percentile_disc.
    QDef("a27_mad",
      s"""$E, c AS (
         |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS x FROM e),
         |med AS (SELECT event_type,
         |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY x) AS BIGINT)
         |    AS med
         |  FROM c GROUP BY 1),
         |dev AS (SELECT c.event_type, med.med, abs(c.x - med.med) AS d
         |        FROM c JOIN med ON c.event_type = med.event_type)
         |SELECT event_type, CAST(max(med) AS BIGINT) AS median_cents,
         |  CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY d) AS BIGINT)
         |    AS mad_cents
         |FROM dev GROUP BY event_type ORDER BY event_type""".stripMargin) {
      (s, dir) =>
      def discMedian(df: DataFrame, out: String): DataFrame = {
        val counts = df.groupBy(col("event_type"), col("v"))
          .agg(count(lit(1)).as("cnt"))
        val cum = counts
          .withColumn("cum", sum(col("cnt")).over(
            Window.partitionBy(col("event_type")).orderBy(col("v"))))
          .withColumn("tot", sum(col("cnt")).over(
            Window.partitionBy(col("event_type"))))
        cum.groupBy(col("event_type"))
          .agg(min(when(col("cum") * 2 >= col("tot"), col("v"))).as(out))
      }
      val c = ev(s, dir).select(col("event_type"),
        round(col("value") * 100).cast("long").as("v"))
      val med = discMedian(c, "median_cents")
      val dev = c.join(broadcast(med), "event_type")
        .select(col("event_type"), col("median_cents"),
          abs(col("v") - col("median_cents")).as("v"))
      dev.groupBy(col("event_type"))
        .agg(max(col("median_cents")).as("median_cents"))
        .join(discMedian(dev, "mad_cents"), "event_type")
        .select(col("event_type"), col("median_cents"), col("mad_cents"))
        .orderBy(col("event_type"))
    },

    // FA6: Gini coefficient of per-user event share — the inequality
    // panel ("how concentrated is activity"), exact to the permille:
    // gini = (2*Σ(i*x_i) - (n+1)*Σx) / (n*Σx) over ascending-ranked
    // per-user counts. Ties rank by (cnt, user_id) but Σ(i*x_i) is
    // tie-order invariant, so the value is deterministic. The rank
    // window runs over the per-user AGGREGATE (one row per user), never
    // raw events; sums go through DECIMAL(38,0)/HUGEINT because at 1e9
    // users the rank-weighted sum exceeds int64.
    QDef("fa6_gini",
      s"""$E, u AS (
         |  SELECT event_type, user_id, count(*) AS cnt FROM e GROUP BY 1, 2),
         |r AS (SELECT event_type, cnt,
         |  row_number() OVER (PARTITION BY event_type ORDER BY cnt, user_id)
         |    AS i
         |  FROM u),
         |s AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
         |  CAST(sum(cnt) AS HUGEINT) AS tot,
         |  CAST(sum(CAST(i AS HUGEINT) * cnt) AS HUGEINT) AS s1
         |  FROM r GROUP BY 1)
         |SELECT event_type, CAST(n AS BIGINT) AS n_users,
         |  CAST(tot AS BIGINT) AS n_events,
         |  CAST((2*s1 - (n+1)*tot) * 1000 // (n*tot) AS BIGINT)
         |    AS gini_permille
         |FROM s ORDER BY event_type""".stripMargin) { (s, dir) =>
      val u = ev(s, dir).groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("cnt"))
      val r = u.withColumn("i", row_number().over(
        Window.partitionBy(col("event_type"))
          .orderBy(col("cnt"), col("user_id"))))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      r.groupBy(col("event_type"))
        .agg(dec(count(lit(1))).as("n"), dec(sum(col("cnt"))).as("tot"),
          dec(sum(dec(col("i")) * col("cnt"))).as("s1"))
        .select(col("event_type"), col("n").cast("long").as("n_users"),
          col("tot").cast("long").as("n_events"),
          expr("(2*s1 - (n+1)*tot) * 1000 DIV (n*tot)")
            .cast("long").as("gini_permille"))
        .orderBy(col("event_type"))
    },

    // PIVOT: hour x event_type count matrix with an explicit (stable)
    // column list — the dashboard-facing wide shape. Missing cells are
    // 0, not NULL, so the frame is directly chartable.
    QDef("a22_pivot_matrix",
      s"""$E SELECT CAST(hour(ts) AS BIGINT) AS hr,
         |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
         |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
         |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
         |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
         |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
         |FROM e GROUP BY hr ORDER BY hr""".stripMargin) { (s, dir) =>
      val types = Seq("click", "error", "purchase", "signup", "view")
      val wide = ev(s, dir)
        .groupBy(hour(col("ts")).cast("long").as("hr"))
        .pivot("event_type", types)
        .agg(count(lit(1)))
      wide.select(col("hr") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
        .orderBy(col("hr"))
    },

    // As-of join: every click carries the latest preceding view of the
    // same user (backward-inclusive). Oracle is DuckDB's NATIVE ASOF
    // JOIN — the Spark side must reproduce the dedicated operator's
    // semantics from the union+window plan. The right side is
    // pre-aggregated per (user, ts) so timestamp ties can't make the
    // carried payload order-dependent (the operator's documented
    // determinism contract).
    QDef("j9_asof_join",
      s"""$E, l AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'click'),
         |r2 AS (SELECT user_id, ts, max(event_id) AS r_event, max(value) AS r_value
         |       FROM e WHERE event_type = 'view' GROUP BY user_id, ts)
         |SELECT l.event_id, l.user_id, l.ts, r2.ts AS asof_ts,
         |  r2.r_event AS asof_r_event, r2.r_value AS asof_r_value
         |FROM l ASOF LEFT JOIN r2
         |  ON l.user_id = r2.user_id AND l.ts >= r2.ts
         |ORDER BY l.event_id""".stripMargin) { (s, dir) =>
      val e = ev(s, dir)
      val l = e.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val r2 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("r_event"),
          max(col("value")).as("r_value"))
      graft.ops.AsOf.asOfJoin(l, r2, "user_id", "ts", "ts",
          Seq("r_event", "r_value"))
        .orderBy(col("event_id"))
    },

    // A28: Spearman rank correlation between per-user activity (event
    // count) and per-user spend (cents), with NO floating point: ranks
    // are tie-averaged and doubled to stay integral (2*avg_rank =
    // 2*min_rank + ties - 1), then the a26 exact-rational Pearson
    // machinery runs on the doubled ranks — sign + rho^2 in ppm via
    // integral division (HUGEINT on the oracle side; DuckDB's // on
    // DECIMAL is unfloored DOUBLE). Bounds: doubled ranks <= 2n, so
    // vxvy <= (n * n * 4n^2)^... stays under DECIMAL(38,0) up to
    // n ~ 1e6 users; beyond that, permille-bucket the ranks first
    // (rank DIV (n DIV 1000)) — same statistic to 3 digits, same plan.
    // The rank windows are global but run over the per-user AGGREGATE
    // (|users| rows, not |events|) — the only full-data shuffle is the
    // groupBy(user_id).
    QDef("a28_spearman",
      s"""$E, u AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS x,
         |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
         |  FROM e GROUP BY 1),
         |r AS (
         |  SELECT user_id,
         |    2 * rank() OVER (ORDER BY x) + count(*) OVER (PARTITION BY x) - 1 AS rx,
         |    2 * rank() OVER (ORDER BY y) + count(*) OVER (PARTITION BY y) - 1 AS ry
         |  FROM u),
         |s AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         |    CAST(sum(rx) AS DECIMAL(38,0)) AS sx,
         |    CAST(sum(ry) AS DECIMAL(38,0)) AS sy,
         |    CAST(sum(CAST(rx AS DECIMAL(38,0)) * rx) AS DECIMAL(38,0)) AS sxx,
         |    CAST(sum(CAST(ry AS DECIMAL(38,0)) * ry) AS DECIMAL(38,0)) AS syy,
         |    CAST(sum(CAST(rx AS DECIMAL(38,0)) * ry) AS DECIMAL(38,0)) AS sxy
         |  FROM r)
         |SELECT CAST(n AS BIGINT) AS n_users,
         |  CAST(CASE WHEN (n*sxy - sx*sy) > 0 THEN 1
         |    WHEN (n*sxy - sx*sy) < 0 THEN -1 ELSE 0 END AS BIGINT) AS rho_sign,
         |  CAST(CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) = 0 THEN 0
         |    ELSE CAST((n*sxy - sx*sy) * (n*sxy - sx*sy) * 1000000 AS HUGEINT)
         |      // CAST((n*sxx - sx*sx) * (n*syy - sy*sy) AS HUGEINT)
         |    END AS BIGINT) AS rho2_ppm
         |FROM s""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val u = ev(s, dir).groupBy(col("user_id")).agg(
        count(lit(1)).cast("long").as("x"),
        sum(round(col("value") * 100).cast("long")).cast("long").as("y"))
      def dblRank(c: String) =
        (lit(2) * rank().over(Window.orderBy(col(c))) +
          count(lit(1)).over(Window.partitionBy(col(c))) - 1).cast("long")
      val r = u.select(dblRank("x").as("rx"), dblRank("y").as("ry"))
      val st = r.agg(
        dec(count(lit(1))).as("n"),
        dec(sum(col("rx"))).as("sx"), dec(sum(col("ry"))).as("sy"),
        dec(sum(dec(col("rx")) * col("rx"))).as("sxx"),
        dec(sum(dec(col("ry")) * col("ry"))).as("syy"),
        dec(sum(dec(col("rx")) * col("ry"))).as("sxy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val vxvy = (col("n") * col("sxx") - col("sx") * col("sx")) *
        (col("n") * col("syy") - col("sy") * col("sy"))
      st.withColumn("cov", cov).withColumn("vxvy", vxvy)
        .select(col("n").cast("long").as("n_users"),
          when(col("cov") > 0, 1L).when(col("cov") < 0, -1L).otherwise(0L)
            .cast("long").as("rho_sign"),
          when(col("vxvy") === 0, 0L)
            .otherwise(expr("cov * cov * 1000000 DIV vxvy"))
            .cast("long").as("rho2_ppm"))
    },

    // FA7: RFM customer segmentation over `orders` (recency in days vs
    // the corpus max date, frequency, monetary cents), quartiled by
    // NTILE with a unique custkey tie-break so the segmentation is
    // deterministic on both engines. The three quartile windows are
    // global but run over the per-customer AGGREGATE (|customers| <<
    // |orders|); at 1e9+ customers the thresholds would come from the
    // a24 aggregate-first percentile machinery instead (same cells,
    // distributed plan). Day arithmetic goes through DATE on both
    // sides — timestamp-granularity day_diff differs between engines.
    QDef("fa7_rfm_segments",
      """WITH o AS (SELECT o_custkey, CAST(o_orderdate AS DATE) AS d,
        |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
        |mx AS (SELECT max(d) AS mxd FROM o),
        |c AS (
        |  SELECT o_custkey,
        |    date_diff('day', max(d), (SELECT mxd FROM mx)) AS rec_days,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(cents) AS BIGINT) AS monetary
        |  FROM o GROUP BY 1),
        |q AS (
        |  SELECT o_custkey,
        |    ntile(4) OVER (ORDER BY rec_days ASC, o_custkey) AS r_q,
        |    ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS f_q,
        |    ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS m_q,
        |    monetary
        |  FROM c)
        |SELECT CAST(r_q AS INTEGER) AS r_q, CAST(f_q AS INTEGER) AS f_q,
        |  CAST(m_q AS INTEGER) AS m_q,
        |  CAST(count(*) AS BIGINT) AS n_customers,
        |  CAST(sum(monetary) AS BIGINT) AS total_cents
        |FROM q GROUP BY 1,2,3 ORDER BY 1,2,3""".stripMargin) { (s, dir) =>
      val o = Tables.orders(s, dir).select(col("o_custkey"),
        to_date(col("o_orderdate")).as("d"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val mx = o.agg(max(col("d")).as("mxd"))
      val c = o.groupBy(col("o_custkey"))
        .agg(max(col("d")).as("lastd"),
          count(lit(1)).cast("long").as("freq"),
          sum(col("cents")).cast("long").as("monetary"))
        .crossJoin(broadcast(mx))
        .select(col("o_custkey"),
          datediff(col("mxd"), col("lastd")).as("rec_days"),
          col("freq"), col("monetary"))
      val q = c.select(col("o_custkey"),
        ntile(4).over(Window.orderBy(col("rec_days").asc, col("o_custkey")))
          .as("r_q"),
        ntile(4).over(Window.orderBy(col("freq").desc, col("o_custkey")))
          .as("f_q"),
        ntile(4).over(Window.orderBy(col("monetary").desc, col("o_custkey")))
          .as("m_q"),
        col("monetary"))
      q.groupBy(col("r_q"), col("f_q"), col("m_q"))
        .agg(count(lit(1)).cast("long").as("n_customers"),
          sum(col("monetary")).cast("long").as("total_cents"))
        .orderBy(col("r_q"), col("f_q"), col("m_q"))
    },

    // FA8: activity concentration curve (Lorenz points) — what share of
    // all events the top 1/5/10/25% most-active users own, permille via
    // integral division; cutoff k = ceil(p*n/100) in pure integers.
    // Complements fa6 (Gini is the area summary; this is the curve).
    // The cumulative window is global but over the per-user aggregate —
    // at 1e9 users this becomes a two-pass range-partitioned prefix sum
    // (partition boundaries from a sampled CDF), same semantics.
    QDef("fa8_concentration",
      s"""$E, u AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS nu,
         |    CAST(sum(cnt) AS BIGINT) AS tot FROM u),
         |r AS (
         |  SELECT cnt, row_number() OVER (ORDER BY cnt DESC, user_id) AS rn
         |  FROM u),
         |cum AS (SELECT rn, sum(cnt) OVER (ORDER BY rn) AS ccnt FROM r),
         |p AS (SELECT * FROM (VALUES (1),(5),(10),(25)) AS v(pct))
         |SELECT CAST(p.pct AS INTEGER) AS pct,
         |  CAST((p.pct * t.nu + 99) // 100 AS BIGINT) AS top_users,
         |  CAST(c.ccnt AS BIGINT) AS events_covered,
         |  CAST(c.ccnt * 1000 // t.tot AS BIGINT) AS share_permille
         |FROM p, t JOIN cum c ON c.rn = (p.pct * t.nu + 99) // 100
         |ORDER BY pct""".stripMargin) { (s, dir) =>
      import s.implicits._
      val u = ev(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val t = u.agg(count(lit(1)).cast("long").as("nu"),
        sum(col("cnt")).cast("long").as("tot"))
      val r = u.select(col("cnt"),
        row_number().over(Window.orderBy(col("cnt").desc, col("user_id")))
          .as("rn"))
      val cum = r.select(col("rn"),
        sum(col("cnt")).over(Window.orderBy(col("rn"))).as("ccnt"))
      val p = Seq(1, 5, 10, 25).toDF("pct")
      broadcast(p).crossJoin(broadcast(t))
        .withColumn("k", expr("(pct * nu + 99) DIV 100"))
        .join(cum, col("rn") === col("k"))
        .select(col("pct").cast("int").as("pct"),
          col("k").cast("long").as("top_users"),
          col("ccnt").cast("long").as("events_covered"),
          expr("ccnt * 1000 DIV tot").cast("long").as("share_permille"))
        .orderBy(col("pct"))
    },

    // W8: time-RANGE window frame — per-user trailing-1h event count at
    // every event (RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW over
    // epoch millis, peers included identically on both engines), then
    // the per-user maximum burst with earliest-ts tie-break. One shuffle
    // on user_id; both windows share the partition key so Spark plans a
    // single Exchange. This is the frame type F3's BETWEEN predicates
    // cannot express — a true sliding aggregate, not a bucketed one.
    QDef("w8_burst_1h",
      s"""$E, w AS (
         |  SELECT user_id, ts,
         |    count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts)
         |      RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS c1h
         |  FROM e),
         |m AS (
         |  SELECT user_id, c1h, ts,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY c1h DESC, ts ASC) AS rn
         |  FROM w)
         |SELECT user_id, CAST(c1h AS BIGINT) AS max_burst_1h, ts AS burst_ts
         |FROM m WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      val w = ev(s, dir).select(col("user_id"), col("ts"))
        .withColumn("c1h", count(lit(1)).over(
          Window.partitionBy(col("user_id")).orderBy(unix_millis(col("ts")))
            .rangeBetween(-3600000L, 0L)))
      val m = w.withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("c1h").desc, col("ts").asc)))
      m.filter(col("rn") === 1)
        .select(col("user_id"), col("c1h").cast("long").as("max_burst_1h"),
          col("ts").as("burst_ts"))
        .orderBy(col("user_id"))
    },

    // A29: chi-squared independence machinery for event_type × iso-dow,
    // over the FULL grid (zero cells included via a broadcast
    // rowtotals×coltotals cross join — a groupBy alone would drop
    // them and silently understate the statistic). All-integer output:
    // expected counts in milli, the exact signed residual numerator
    // O·N − rt·ct, and the per-cell chi-squared contribution in micro
    // units via one DECIMAL(38,0) integral division per cell (resid²
    // overflows int64 at 1e10 events — hence the decimal). The cell
    // frame is materialized once (it feeds both margins, the total and
    // the join — the multi-consumer contract); everything downstream of
    // the single groupBy is margin-sized.
    QDef("a29_chi2_independence",
      s"""$E, c AS (
         |  SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
         |    CAST(count(*) AS BIGINT) AS o
         |  FROM e GROUP BY 1, 2),
         |rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS rt FROM c GROUP BY 1),
         |ct AS (SELECT dow, CAST(sum(o) AS BIGINT) AS ct FROM c GROUP BY 1),
         |n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c),
         |grid AS (SELECT rt.event_type, ct.dow, rt.rt, ct.ct FROM rt, ct),
         |f AS (
         |  SELECT g.event_type, g.dow, COALESCE(c.o, 0) AS o, g.rt, g.ct, n.n
         |  FROM grid g LEFT JOIN c ON g.event_type = c.event_type
         |    AND g.dow = c.dow, n)
         |SELECT event_type, dow, CAST(o AS BIGINT) AS observed,
         |  CAST(CAST(rt AS HUGEINT) * ct * 1000 // n AS BIGINT) AS expected_milli,
         |  CAST(o * n - rt * ct AS BIGINT) AS resid_num,
         |  CAST(CAST(o*n - rt*ct AS HUGEINT) * (o*n - rt*ct) * 1000000
         |    // (CAST(rt AS HUGEINT) * ct * n) AS BIGINT) AS chi2_micro
         |FROM f ORDER BY event_type, dow""".stripMargin) { (s, dir) =>
      // cell-sized; feeds margins, total, join
      val c = Checkpoint(ev(s, dir)
        .groupBy(col("event_type"),
          (expr("weekday(ts)") + 1).cast("long").as("dow"))
        .agg(count(lit(1)).cast("long").as("o")))
      val rt = c.groupBy(col("event_type")).agg(sum(col("o")).cast("long").as("rt"))
      val ct = c.groupBy(col("dow")).agg(sum(col("o")).cast("long").as("ct"))
      val n = c.agg(sum(col("o")).cast("long").as("n"))
      broadcast(rt).crossJoin(broadcast(ct))
        .join(c, Seq("event_type", "dow"), "left")
        .withColumn("o", coalesce(col("o"), lit(0L)))
        .crossJoin(broadcast(n))
        .select(col("event_type"), col("dow"),
          col("o").as("observed"),
          expr("rt * ct * 1000 DIV n").cast("long").as("expected_milli"),
          (col("o") * col("n") - col("rt") * col("ct")).cast("long")
            .as("resid_num"),
          expr("CAST(o*n - rt*ct AS DECIMAL(38,0)) * (o*n - rt*ct) * 1000000" +
            " DIV (CAST(rt AS DECIMAL(38,0)) * ct * n)")
            .cast("long").as("chi2_micro"))
        .orderBy(col("event_type"), col("dow"))
    },

    // SK4: AMS F2 sketch — the second frequency moment of user activity
    // (Σ count²_u, the self-join size / skew indicator) estimated by 64
    // ±1-sign estimators (sign = md5 parity of `user:j`, the portable
    // hash family of d2b), reported beside the exact moment and the
    // permille error. Completes the sketch family: KMV (distinct),
    // count-min (point freq), bloom (membership), AMS (F2). Plan: one
    // shuffle to per-user counts (materialized once — it feeds the
    // exact moment AND the 64-way explode), then the estimator frame is
    // 64 rows. Expected relative error 1/√32 ≈ 18%; the sketch value
    // itself is deterministic for the fixed family, hence hash-gated.
    QDef("sk4_ams_f2",
      s"""$E, u AS (
         |  SELECT user_id, CAST(count(*) AS BIGINT) AS cnt FROM e GROUP BY 1),
         |ex AS (SELECT CAST(sum(CAST(cnt AS DECIMAL(38,0)) * cnt)
         |    AS DECIMAL(38,0)) AS f2 FROM u),
         |j AS (SELECT unnest(range(64)) AS j),
         |sgn AS (
         |  SELECT j.j, u.cnt,
         |    CASE WHEN substr(md5(CAST(u.user_id AS VARCHAR) || ':'
         |        || CAST(j.j AS VARCHAR)), 32, 1)
         |      IN ('1','3','5','7','9','b','d','f') THEN -1 ELSE 1 END AS s
         |  FROM u, j),
         |x AS (SELECT j, CAST(sum(cnt * s) AS BIGINT) AS z FROM sgn GROUP BY j),
         |est AS (SELECT CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT)
         |    // 64 AS estv FROM x)
         |SELECT CAST(ex.f2 AS BIGINT) AS exact_f2,
         |  CAST(est.estv AS BIGINT) AS ams_estimate,
         |  CAST(CAST(abs(CAST(est.estv AS DECIMAL(38,0)) - ex.f2) * 1000
         |      AS HUGEINT) // CAST(ex.f2 AS HUGEINT)
         |    AS BIGINT) AS err_permille
         |FROM ex, est""".stripMargin) { (s, dir) =>
      // |users| rows; exact moment + explode
      val u = Checkpoint(ev(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).cast("long").as("cnt")))
      val ex = u.agg(
        sum(col("cnt").cast("decimal(38,0)") * col("cnt"))
          .cast("decimal(38,0)").as("f2"))
      val sgn = u.select(col("user_id"), col("cnt"),
          explode(sequence(lit(0), lit(63))).as("j"))
        .withColumn("s",
          when(substring(md5(concat(col("user_id").cast("string"), lit(":"),
              col("j").cast("string"))), 32, 1)
            .isin("1", "3", "5", "7", "9", "b", "d", "f"), lit(-1L))
            .otherwise(lit(1L)))
      val x = sgn.groupBy(col("j")).agg(sum(col("cnt") * col("s")).as("z"))
      val est = x.agg(
        expr("CAST(sum(CAST(z AS DECIMAL(38,0)) * z) AS DECIMAL(38,0)) DIV 64")
          .as("estv"))
      ex.crossJoin(broadcast(est))
        .select(col("f2").cast("long").as("exact_f2"),
          col("estv").cast("long").as("ams_estimate"),
          expr("abs(estv - f2) * 1000 DIV f2").cast("long")
            .as("err_permille"))
    },

    // G1: weighted PageRank over the event-type transition graph (the
    // fa3 edge frame), 3 iterations in EXACT integer arithmetic
    // (graft.ops.PageRank: pico-scaled ranks, damping 17/20, integral
    // divisions) — which is what lets an ITERATIVE graph operator be
    // hash-gated: the oracle unrolls the identical three rounds as CTEs.
    // The graph here is label-sized (|V| = #event types), but the module
    // plan is the generic one: per iteration one edges⋈ranks join + one
    // groupBy(dst), rank lineage checkpoint-truncated (the d7 contract).
    QDef("g1_pagerank",
      s"""$E, o AS (
         |  SELECT event_type AS src, lead(event_type) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM e),
         |ed0 AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |        FROM o WHERE dst IS NOT NULL GROUP BY 1, 2),
         |ow AS (SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM ed0 GROUP BY 1),
         |ed AS (SELECT ed0.src, ed0.dst, ed0.w, ow.outw
         |       FROM ed0 JOIN ow ON ed0.src = ow.src),
         |nodes AS (SELECT DISTINCT src AS node FROM ed0
         |          UNION SELECT DISTINCT dst FROM ed0),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM nodes),
         |nd AS (SELECT node, nn FROM nodes, nn),
         |r0 AS (SELECT node, 1000000000000 // nn AS r FROM nd),
         |r1 AS (
         |  SELECT n.node,
         |    (3000000000000 // (20 * n.nn)) + COALESCE(sum(
         |      ((17 * r.r // 20) * ed.w) // ed.outw), 0) AS r
         |  FROM nd n
         |  LEFT JOIN (ed JOIN r0 r ON ed.src = r.node) ON ed.dst = n.node
         |  GROUP BY n.node, n.nn),
         |r2 AS (
         |  SELECT n.node,
         |    (3000000000000 // (20 * n.nn)) + COALESCE(sum(
         |      ((17 * r.r // 20) * ed.w) // ed.outw), 0) AS r
         |  FROM nd n
         |  LEFT JOIN (ed JOIN r1 r ON ed.src = r.node) ON ed.dst = n.node
         |  GROUP BY n.node, n.nn),
         |r3 AS (
         |  SELECT n.node,
         |    (3000000000000 // (20 * n.nn)) + COALESCE(sum(
         |      ((17 * r.r // 20) * ed.w) // ed.outw), 0) AS r
         |  FROM nd n
         |  LEFT JOIN (ed JOIN r2 r ON ed.src = r.node) ON ed.dst = n.node
         |  GROUP BY n.node, n.nn)
         |SELECT node AS event_type, CAST(r AS BIGINT) AS pagerank_pico
         |FROM r3 ORDER BY node""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val edges = ev(s, dir)
        .select(col("event_type").as("src"),
          lead(col("event_type"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).cast("long").as("w"))
      graft.ops.PageRank.ranks(edges, iters = 3)
        .select(col("node").as("event_type"),
          col("rank_scaled").as("pagerank_pico"))
        .orderBy(col("event_type"))
    },

    // A30: OLS trend line of hourly event volume vs epoch-hour — the
    // a26 exact-moment machinery reporting REGRESSION coefficients:
    // slope as sign + abs milli-events/hour² via one integral division
    // (sign split off because DIV truncates toward zero while // floors
    // — negative quotients would disagree), plus the fit r² in ppm.
    // Hours with zero events are absent buckets (trend over observed
    // support — document the bucket-join densification if zeros must
    // count). One groupBy(epoch-hour), then a single 1-row aggregate.
    QDef("a30_ols_trend",
      s"""$E, h AS (
         |  SELECT CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS x,
         |    CAST(count(*) AS BIGINT) AS y
         |  FROM e GROUP BY 1),
         |s AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         |    CAST(sum(x) AS DECIMAL(38,0)) AS sx,
         |    CAST(sum(y) AS DECIMAL(38,0)) AS sy,
         |    CAST(sum(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
         |    CAST(sum(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy,
         |    CAST(sum(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy
         |  FROM h)
         |SELECT CAST(n AS BIGINT) AS n_hours,
         |  CAST(CASE WHEN (n*sxy - sx*sy) > 0 THEN 1
         |    WHEN (n*sxy - sx*sy) < 0 THEN -1 ELSE 0 END AS BIGINT) AS slope_sign,
         |  CAST(CASE WHEN (n*sxx - sx*sx) = 0 THEN 0
         |    ELSE CAST(abs(n*sxy - sx*sy) * 1000 AS HUGEINT)
         |      // CAST(n*sxx - sx*sx AS HUGEINT) END AS BIGINT) AS slope_abs_milli,
         |  CAST(CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) = 0 THEN 0
         |    ELSE CAST((n*sxy - sx*sy) * (n*sxy - sx*sy) * 1000000 AS HUGEINT)
         |      // CAST((n*sxx - sx*sx) * (n*syy - sy*sy) AS HUGEINT)
         |    END AS BIGINT) AS r2_ppm
         |FROM s""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val h = ev(s, dir)
        .groupBy(expr("unix_millis(ts) DIV 3600000").cast("long").as("x"))
        .agg(count(lit(1)).cast("long").as("y"))
      val st = h.agg(
        dec(count(lit(1))).as("n"),
        dec(sum(col("x"))).as("sx"), dec(sum(col("y"))).as("sy"),
        dec(sum(dec(col("x")) * col("x"))).as("sxx"),
        dec(sum(dec(col("y")) * col("y"))).as("syy"),
        dec(sum(dec(col("x")) * col("y"))).as("sxy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val varx = col("n") * col("sxx") - col("sx") * col("sx")
      val vxvy = varx * (col("n") * col("syy") - col("sy") * col("sy"))
      st.withColumn("cov", cov).withColumn("varx", varx)
        .withColumn("vxvy", vxvy)
        .select(col("n").cast("long").as("n_hours"),
          when(col("cov") > 0, 1L).when(col("cov") < 0, -1L).otherwise(0L)
            .cast("long").as("slope_sign"),
          when(col("varx") === 0, 0L)
            .otherwise(expr("abs(cov) * 1000 DIV varx"))
            .cast("long").as("slope_abs_milli"),
          when(col("vxvy") === 0, 0L)
            .otherwise(expr("cov * cov * 1000000 DIV vxvy"))
            .cast("long").as("r2_ppm"))
    },

    // FA9: session-size histogram — the w5 sessionization frame rolled
    // up into product-analytics buckets (bounce / short / medium / long)
    // with exact integer mean duration per bucket (sum DIV count — all
    // nonneg, so truncate == floor on both engines). Same single
    // user_id shuffle as w5; the histogram is bucket-sized.
    QDef("fa9_session_histogram",
      s"""$E, l AS (SELECT user_id, event_id, ts,
         |  epoch_ms(ts) - epoch_ms(lag(ts) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
         |  FROM e),
         |s AS (SELECT user_id, event_id, ts,
         |  SUM(CASE WHEN gap_ms IS NULL OR gap_ms > 3600000 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY user_id ORDER BY ts, event_id
         |          ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM l),
         |sess AS (SELECT user_id, session_id, CAST(count(*) AS BIGINT) AS n_events,
         |  epoch_ms(max(ts)) - epoch_ms(min(ts)) AS duration_ms
         |  FROM s GROUP BY 1, 2),
         |b AS (SELECT CASE WHEN n_events = 1 THEN '1'
         |    WHEN n_events <= 4 THEN '2-4' WHEN n_events <= 9 THEN '5-9'
         |    ELSE '10+' END AS size_bucket, n_events, duration_ms FROM sess)
         |SELECT size_bucket, CAST(count(*) AS BIGINT) AS n_sessions,
         |  CAST(sum(n_events) AS BIGINT) AS n_events,
         |  CAST(CAST(sum(duration_ms) AS HUGEINT) // count(*) AS BIGINT)
         |    AS mean_duration_ms
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      val sess = graft.ops.Sessionize.byGap(ev(s, dir), col("user_id"),
        col("ts"), col("event_id"), maxGapMs = 3600000L)
      sess.select(
          when(col("n_events") === 1, "1")
            .when(col("n_events") <= 4, "2-4")
            .when(col("n_events") <= 9, "5-9")
            .otherwise("10+").as("size_bucket"),
          col("n_events"), col("duration_ms"))
        .groupBy(col("size_bucket"))
        .agg(count(lit(1)).cast("long").as("n_sessions"),
          sum(col("n_events")).cast("long").as("n_events"),
          sum(col("duration_ms")).cast("long").as("sum_dur"),
          count(lit(1)).cast("long").as("cnt"))
        .select(col("size_bucket"), col("n_sessions"), col("n_events"),
          expr("sum_dur DIV cnt").cast("long").as("mean_duration_ms"))
        .orderBy(col("size_bucket"))
    },

    // W9: first_value / last_value / nth_value over the full partition
    // frame (ROWS UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING — last_value
    // under the DEFAULT frame is a classic wrong-answer trap: it returns
    // the CURRENT row). One user_id shuffle; all four window functions
    // share the frame, the row_number picker shares the partition key.
    QDef("w9_first_last_nth",
      s"""$E, w AS (
         |  SELECT user_id,
         |    first_value(event_type) OVER uw AS first_type,
         |    last_value(event_type) OVER uw AS last_type,
         |    nth_value(CAST(round(value * 100) AS BIGINT), 2) OVER uw
         |      AS second_value_cents,
         |    count(*) OVER uw AS n_events,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM e
         |  WINDOW uw AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING))
         |SELECT user_id, first_type, last_type, second_value_cents,
         |  CAST(n_events AS BIGINT) AS n_events
         |FROM w WHERE rn = 1 ORDER BY user_id""".stripMargin) { (s, dir) =>
      val uw = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ev(s, dir)
        .select(col("user_id"),
          first(col("event_type")).over(uw).as("first_type"),
          last(col("event_type")).over(uw).as("last_type"),
          nth_value(round(col("value") * 100).cast("long"), 2).over(uw)
            .as("second_value_cents"),
          count(lit(1)).over(uw).cast("long").as("n_events"),
          row_number().over(Window.partitionBy(col("user_id"))
            .orderBy(col("ts"), col("event_id"))).as("rn"))
        .filter(col("rn") === 1)
        .drop("rn")
        .orderBy(col("user_id"))
    },

    // CUBE: all four margins of (event_type, iso-dow) in one pass —
    // completes the multi-dimensional aggregation triple (a21 ROLLUP,
    // a23 GROUPING SETS, a31 CUBE), same engine-neutral gid convention.
    QDef("a31_cube",
      s"""$E SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow,
         |  CAST(grouping(event_type) * 2 + grouping(isodow(ts)) AS BIGINT) AS gid,
         |  count(*) AS n
         |FROM e GROUP BY CUBE(event_type, isodow(ts))
         |ORDER BY gid, event_type NULLS FIRST, dow NULLS FIRST""".stripMargin) {
      (s, dir) =>
      ev(s, dir)
        .withColumn("dow", (expr("weekday(ts)") + 1).cast("long"))
        .cube(col("event_type"), col("dow"))
        .agg((grouping(col("event_type")) * 2 + grouping(col("dow")))
          .cast("long").as("gid"),
          count(lit(1)).as("n"))
        .select(col("event_type"), col("dow"), col("gid"), col("n"))
        .orderBy(col("gid"), col("event_type").asc_nulls_first,
          col("dow").asc_nulls_first)
    },

    // A32: Benford first-significant-digit distribution of the value
    // column in cents (the classic fraud/anomaly screen) — digit via
    // one string head (no log10 float), share in exact permille.
    QDef("a32_benford",
      s"""$E, c AS (
         |  SELECT CAST(left(CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR), 1)
         |    AS BIGINT) AS d
         |  FROM e WHERE round(value * 100) >= 1),
         |t AS (SELECT CAST(count(*) AS BIGINT) AS tot FROM c)
         |SELECT d AS digit, CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(*) * 1000 // t.tot AS BIGINT) AS permille
         |FROM c, t GROUP BY d, t.tot ORDER BY d""".stripMargin) { (s, dir) =>
      val c = ev(s, dir)
        .filter(round(col("value") * 100) >= 1)
        .select(substring(round(col("value") * 100).cast("long")
          .cast("string"), 1, 1).cast("long").as("d"))
      val t = c.agg(count(lit(1)).cast("long").as("tot"))
      c.groupBy(col("d"))
        .agg(count(lit(1)).cast("long").as("n"))
        .crossJoin(broadcast(t))
        .select(col("d").as("digit"), col("n"),
          expr("n * 1000 DIV tot").cast("long").as("permille"))
        .orderBy(col("digit"))
    },

    // J10: interval OVERLAP join (interval × interval — the shape J4
    // point-in-interval and J9 as-of cannot express): every ingestion
    // interval paired with every same-user session whose span
    // intersects it, with exact overlap duration. Runs through
    // Intervals.overlapJoin — both sides bucket-exploded, each pair
    // kept only in the bucket of its overlap start, so the skew-safe
    // equi-join emits every overlapping pair exactly once with NO
    // dedup shuffle. The oracle is the direct inequality join (fine at
    // oracle scale; the bucketed plan must reproduce it row-for-row).
    QDef("j10_overlap_join",
      s"""$E, iv AS (
         |  SELECT user_id, ts AS a,
         |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS b,
         |    event_id AS iv_id
         |  FROM e WHERE event_type = 'purchase'),
         |l AS (SELECT user_id, event_id, ts,
         |  epoch_ms(ts) - epoch_ms(lag(ts) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id)) AS gap_ms
         |  FROM e),
         |s AS (SELECT user_id, event_id, ts,
         |  SUM(CASE WHEN gap_ms IS NULL OR gap_ms > 3600000 THEN 1 ELSE 0 END)
         |    OVER (PARTITION BY user_id ORDER BY ts, event_id
         |          ROWS UNBOUNDED PRECEDING) AS session_id
         |  FROM l),
         |sess AS (SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
         |  min(ts) AS s_start, max(ts) AS s_end
         |  FROM s GROUP BY 1, 2),
         |ov AS (
         |  SELECT iv.user_id, iv.iv_id, sess.session_id,
         |    epoch_ms(least(COALESCE(iv.b, TIMESTAMP '2999-12-31 00:00:00'),
         |        sess.s_end))
         |      - epoch_ms(greatest(iv.a, sess.s_start)) AS overlap_ms
         |  FROM iv JOIN sess ON iv.user_id = sess.user_id
         |    AND iv.a <= sess.s_end
         |    AND sess.s_start < COALESCE(iv.b, TIMESTAMP '2999-12-31 00:00:00'))
         |SELECT user_id, CAST(iv_id AS BIGINT) AS iv_id, session_id,
         |  CAST(overlap_ms AS BIGINT) AS overlap_ms
         |FROM ov ORDER BY user_id, iv_id, session_id""".stripMargin) { (s, dir) =>
      val e = ev(s, dir)
      val iv = Intervals.ingestionIntervals(
          e.filter(col("event_type") === "purchase"),
          Seq("user_id"), "ts", "event_id")
        .select(col("user_id"), col("event_id").as("iv_id"),
          col("current_ts").as("a"), col("next_ts").as("b"))
      val uw = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val sess = e
        .withColumn("gap_ms",
          Fns.epochMsBetween(lag(col("ts"), 1).over(uw), col("ts")))
        .withColumn("new_s",
          when(col("gap_ms").isNull || col("gap_ms") > 3600000L, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(
          uw.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
      Intervals.overlapJoin(iv, sess, Seq("user_id"),
          "a", "b", "s_start", "s_end", bucketSeconds = 86400L)
        .select(col("user_id"), col("iv_id"),
          col("session_id").cast("long").as("session_id"),
          col("overlap_ms").cast("long").as("overlap_ms"))
        .orderBy(col("user_id"), col("iv_id"), col("session_id"))
    },

    // A33: lag-1 autocorrelation of the hourly volume series — the a26
    // exact-moment machinery over (y_t, y_{t+1}) pairs of CONSECUTIVE
    // hours only (dx = 1 guard: a gap hour must break the pair, not
    // silently correlate across it). The lead window is global but runs
    // over the hour AGGREGATE (≤ 24·days rows).
    QDef("a33_autocorrelation",
      s"""$E, h AS (
         |  SELECT CAST(epoch_ms(ts) // 3600000 AS BIGINT) AS x,
         |    CAST(count(*) AS BIGINT) AS y
         |  FROM e GROUP BY 1),
         |p AS (
         |  SELECT y AS a, lead(y) OVER (ORDER BY x) AS b,
         |    lead(x) OVER (ORDER BY x) - x AS dx
         |  FROM h),
         |c AS (SELECT a, b FROM p WHERE b IS NOT NULL AND dx = 1),
         |s AS (SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
         |    CAST(sum(a) AS DECIMAL(38,0)) AS sx,
         |    CAST(sum(b) AS DECIMAL(38,0)) AS sy,
         |    CAST(sum(CAST(a AS DECIMAL(38,0)) * a) AS DECIMAL(38,0)) AS sxx,
         |    CAST(sum(CAST(b AS DECIMAL(38,0)) * b) AS DECIMAL(38,0)) AS syy,
         |    CAST(sum(CAST(a AS DECIMAL(38,0)) * b) AS DECIMAL(38,0)) AS sxy
         |  FROM c)
         |SELECT CAST(n AS BIGINT) AS n_pairs,
         |  CAST(CASE WHEN (n*sxy - sx*sy) > 0 THEN 1
         |    WHEN (n*sxy - sx*sy) < 0 THEN -1 ELSE 0 END AS BIGINT) AS rho_sign,
         |  CAST(CASE WHEN (n*sxx - sx*sx) * (n*syy - sy*sy) = 0 THEN 0
         |    ELSE CAST((n*sxy - sx*sy) * (n*sxy - sx*sy) * 1000000 AS HUGEINT)
         |      // CAST((n*sxx - sx*sx) * (n*syy - sy*sy) AS HUGEINT)
         |    END AS BIGINT) AS rho2_ppm
         |FROM s""".stripMargin) { (s, dir) =>
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val h = ev(s, dir)
        .groupBy(expr("unix_millis(ts) DIV 3600000").cast("long").as("x"))
        .agg(count(lit(1)).cast("long").as("y"))
      val gw = Window.orderBy(col("x"))
      val c = h.select(col("y").as("a"),
          lead(col("y"), 1).over(gw).as("b"),
          (lead(col("x"), 1).over(gw) - col("x")).as("dx"))
        .filter(col("b").isNotNull && col("dx") === 1)
      val st = c.agg(
        dec(count(lit(1))).as("n"),
        dec(sum(col("a"))).as("sx"), dec(sum(col("b"))).as("sy"),
        dec(sum(dec(col("a")) * col("a"))).as("sxx"),
        dec(sum(dec(col("b")) * col("b"))).as("syy"),
        dec(sum(dec(col("a")) * col("b"))).as("sxy"))
      val cov = col("n") * col("sxy") - col("sx") * col("sy")
      val vxvy = (col("n") * col("sxx") - col("sx") * col("sx")) *
        (col("n") * col("syy") - col("sy") * col("sy"))
      st.withColumn("cov", cov).withColumn("vxvy", vxvy)
        .select(col("n").cast("long").as("n_pairs"),
          when(col("cov") > 0, 1L).when(col("cov") < 0, -1L).otherwise(0L)
            .cast("long").as("rho_sign"),
          when(col("vxvy") === 0, 0L)
            .otherwise(expr("cov * cov * 1000000 DIV vxvy"))
            .cast("long").as("rho2_ppm"))
    },

    // ST3b: SLIDING windows (1h length / 15min slide) as a batch twin of
    // Structured Streaming's window(ts, len, slide) — Spark's NATIVE
    // sliding-window generator on the engine side, the bounded 4-way
    // explode (ceil(len/slide) windows per event) on the oracle side;
    // both align window starts to epoch multiples of the slide. st3's
    // tumbling gate is the slide == len special case.
    QDef("st3b_sliding_window",
      s"""$E, k AS (SELECT * FROM (VALUES (0),(1),(2),(3)) v(k)),
         |w AS (
         |  SELECT make_timestamp(((epoch_ms(ts) // 900000) - k.k) * 900000
         |      * 1000) AS window_start, event_type
         |  FROM e, k)
         |SELECT window_start, event_type, CAST(count(*) AS BIGINT) AS n
         |FROM w GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      ev(s, dir)
        .select(window(col("ts"), "1 hour", "15 minutes")
          .getField("start").as("window_start"), col("event_type"))
        .groupBy(col("window_start"), col("event_type"))
        .agg(count(lit(1)).cast("long").as("n"))
        .orderBy(col("window_start"), col("event_type"))
    },

    // A34: two-sample Kolmogorov–Smirnov statistic between the weekday
    // and weekend value distributions — EXACT: the sup of the CDF gap is
    // max |cumA·nB − cumB·nA| over the merged support (integer cross-
    // products, no per-point division), reported in ppm by ONE integral
    // division at the end. Completes the distribution-comparison kit
    // (t11 total-variation drift = L1; KS = L∞). The cumulative window
    // is global but runs over the distinct-value support (≤ |value
    // domain| rows after the first groupBy) — two-pass range-partitioned
    // prefix sums at open-domain scale.
    QDef("a34_ks_statistic",
      s"""$E, c AS (
         |  SELECT CAST(round(value * 100) AS BIGINT) AS x,
         |    CASE WHEN isodow(ts) <= 5 THEN 1 ELSE 0 END AS wk
         |  FROM e),
         |g AS (SELECT x,
         |    CAST(count(CASE WHEN wk = 1 THEN 1 END) AS BIGINT) AS ca,
         |    CAST(count(CASE WHEN wk = 0 THEN 1 END) AS BIGINT) AS cb
         |  FROM c GROUP BY x),
         |t AS (SELECT CAST(sum(ca) AS BIGINT) AS na,
         |    CAST(sum(cb) AS BIGINT) AS nb FROM g),
         |cum AS (
         |  SELECT x,
         |    sum(ca) OVER (ORDER BY x) AS cuma,
         |    sum(cb) OVER (ORDER BY x) AS cumb
         |  FROM g),
         |d AS (SELECT max(abs(CAST(cuma AS HUGEINT) * t.nb
         |    - CAST(cumb AS HUGEINT) * t.na)) AS dmax FROM cum, t)
         |SELECT CAST(t.na AS BIGINT) AS n_weekday,
         |  CAST(t.nb AS BIGINT) AS n_weekend,
         |  CAST(CAST(d.dmax * 1000000 AS HUGEINT)
         |    // (CAST(t.na AS HUGEINT) * t.nb) AS BIGINT) AS ks_ppm
         |FROM d, t""".stripMargin) { (s, dir) =>
      val c = ev(s, dir).select(
        round(col("value") * 100).cast("long").as("x"),
        when(expr("weekday(ts)") <= 4, 1).otherwise(0).as("wk"))
      val g = c.groupBy(col("x")).agg(
        count(when(col("wk") === 1, lit(1))).cast("long").as("ca"),
        count(when(col("wk") === 0, lit(1))).cast("long").as("cb"))
      val t = g.agg(sum(col("ca")).cast("long").as("na"),
        sum(col("cb")).cast("long").as("nb"))
      val gw = Window.orderBy(col("x"))
      val cum = g.select(
        sum(col("ca")).over(gw).as("cuma"),
        sum(col("cb")).over(gw).as("cumb"))
      val d = cum.crossJoin(broadcast(t))
        .agg(max(abs(col("cuma").cast("decimal(38,0)") * col("nb") -
          col("cumb").cast("decimal(38,0)") * col("na"))).as("dmax"))
      d.crossJoin(broadcast(t))
        .select(col("na").cast("long").as("n_weekday"),
          col("nb").cast("long").as("n_weekend"),
          expr("dmax * 1000000 DIV (CAST(na AS DECIMAL(38,0)) * nb)")
            .cast("long").as("ks_ppm"))
    },

    // SK5: KMV sketch SET ALGEBRA — the mergeability that makes KMV the
    // distributed distinct sketch: the union sketch is just the k
    // smallest hashes of A ∪ B, Jaccard ≈ the fraction of those present
    // in both sides, intersection ≈ J · |A∪B|-estimate. Sets are
    // (user, day) activity pairs of two event types (user-level sets
    // are degenerate in this fixture — every user does everything).
    // Exact union/intersection reported beside the estimates; the
    // flagged-hash frame is materialized once (it feeds the exact
    // aggregate AND the sketch window — the multi-consumer contract).
    // Portable window form; ops/Kmv.MinKDistinct (sk1b) is the O(k)
    // aggregator for the distributed path.
    QDef("sk5_kmv_set_ops",
      s"""$E, keyed AS (
         |  SELECT user_id * 100 + CAST(day(ts) AS BIGINT) AS k, event_type
         |  FROM e),
         |a AS (SELECT DISTINCT k FROM keyed WHERE event_type = 'purchase'),
         |b AS (SELECT DISTINCT k FROM keyed WHERE event_type = 'error'),
         |h AS (
         |  SELECT k,
         |    (k * 2654435761 + 987654321) % 2147483647 AS hv,
         |    max(CASE WHEN src = 'a' THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN src = 'b' THEN 1 ELSE 0 END) AS in_b
         |  FROM (SELECT k, 'a' AS src FROM a
         |        UNION ALL SELECT k, 'b' AS src FROM b)
         |  GROUP BY k),
         |ex AS (SELECT CAST(count(*) AS BIGINT) AS exact_union,
         |    CAST(sum(in_a * in_b) AS BIGINT) AS exact_inter FROM h),
         |r AS (SELECT hv, in_a, in_b,
         |    row_number() OVER (ORDER BY hv) AS rn, count(*) OVER () AS nu
         |  FROM h),
         |kk AS (SELECT max(nu) AS nu, max(CASE WHEN rn = 64 THEN hv END) AS h64,
         |    CAST(count(CASE WHEN rn <= 64 AND in_a = 1 AND in_b = 1 THEN 1 END)
         |      AS BIGINT) AS both_cnt,
         |    CAST(count(CASE WHEN rn <= 64 THEN 1 END) AS BIGINT) AS topk
         |  FROM r),
         |est AS (SELECT
         |    CASE WHEN nu < 64 THEN nu
         |      ELSE (CAST(63 AS BIGINT) * 2147483647) // h64 END AS est_union,
         |    both_cnt, topk FROM kk)
         |SELECT ex.exact_union, ex.exact_inter,
         |  CAST(est.est_union AS BIGINT) AS kmv_union,
         |  CAST(est.both_cnt * est.est_union // est.topk AS BIGINT)
         |    AS kmv_intersection,
         |  CAST(est.both_cnt * 1000 // est.topk AS BIGINT)
         |    AS jaccard_permille_est
         |FROM ex, est""".stripMargin) { (s, dir) =>
      val keyed = ev(s, dir).select(
        (col("user_id") * 100 + dayofmonth(col("ts"))).cast("long").as("k"),
        col("event_type"))
      val a = keyed.filter(col("event_type") === "purchase")
        .select(col("k")).distinct()
      val b = keyed.filter(col("event_type") === "error")
        .select(col("k")).distinct()
      // feeds the exact aggregate AND the sketch
      val h = Checkpoint(a.select(col("k"), lit("a").as("src"))
        .unionAll(b.select(col("k"), lit("b").as("src")))
        .groupBy(col("k"))
        .agg(max(when(col("src") === "a", 1).otherwise(0)).as("in_a"),
          max(when(col("src") === "b", 1).otherwise(0)).as("in_b"))
        .withColumn("hv",
          (col("k") * lit(2654435761L) + lit(987654321L)) %
            lit(graft.ops.Kmv.M)))
      val ex = h.agg(count(lit(1)).cast("long").as("exact_union"),
        sum(col("in_a") * col("in_b")).cast("long").as("exact_inter"))
      val r = h.select(col("hv"), col("in_a"), col("in_b"),
        row_number().over(Window.orderBy(col("hv"))).as("rn"),
        count(lit(1)).over(Window.partitionBy()).as("nu"))
      val kk = r.agg(max(col("nu")).as("nu"),
        max(when(col("rn") === 64, col("hv"))).as("h64"),
        count(when(col("rn") <= 64 && col("in_a") === 1 && col("in_b") === 1,
          lit(1))).cast("long").as("both_cnt"),
        count(when(col("rn") <= 64, lit(1))).cast("long").as("topk"))
      val est = kk.select(
        when(col("nu") < 64, col("nu"))
          .otherwise(expr(
            "(CAST(63 AS BIGINT) * CAST(2147483647 AS BIGINT)) DIV h64"))
          .as("est_union"),
        col("both_cnt"), col("topk"))
      ex.crossJoin(broadcast(est))
        .select(col("exact_union"), col("exact_inter"),
          col("est_union").cast("long").as("kmv_union"),
          expr("both_cnt * est_union DIV topk").cast("long")
            .as("kmv_intersection"),
          expr("both_cnt * 1000 DIV topk").cast("long")
            .as("jaccard_permille_est"))
    },

    // SK6: HDR-histogram log-linear quantile sketch (ops/HdrHist) — the
    // mergeable quantile summary (p50/p90/p99 per event type over value
    // cents). O(subBuckets·log range) state per group, counts add under
    // merge, and EVERY bucket boundary is exact integer bit arithmetic
    // (msb via bin-string length, dynamic shifts) — no log()/pow(), so
    // the oracle reproduces each bucket id and lower bound bit-for-bit.
    // Relative error ≤ 2^-3 = 12.5% by construction; the gate pins the
    // exact bucket, its lower bound, and the per-type row totals.
    QDef("sk6_hdr_quantiles",
      s"""$E, v AS (
         |  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM e),
         |b AS (
         |  SELECT event_type,
         |    CASE WHEN v < 8 THEN v
         |      ELSE CAST(length(bin(v)) - 4 AS BIGINT) * 8
         |           + (v >> (length(bin(v)) - 4)) END AS bucket
         |  FROM v),
         |h AS (SELECT event_type, bucket, count(*) AS n FROM b GROUP BY 1, 2),
         |c AS (
         |  SELECT event_type, bucket, n,
         |    sum(n) OVER (PARTITION BY event_type ORDER BY bucket
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(n) OVER (PARTITION BY event_type) AS total
         |  FROM h),
         |p AS (
         |  SELECT c.*, t.q, (total * t.q + 999) // 1000 AS rk
         |  FROM c CROSS JOIN (VALUES (500), (900), (990)) t(q)),
         |s AS (SELECT * FROM p WHERE cum >= rk AND cum - n < rk)
         |SELECT event_type, q, CAST(bucket AS BIGINT) AS bucket,
         |  CAST(CASE WHEN bucket < 8 THEN bucket
         |    ELSE (bucket - ((bucket >> 3) - 1) * 8) << ((bucket >> 3) - 1)
         |    END AS BIGINT) AS est_low,
         |  CAST(total AS BIGINT) AS n_rows
         |FROM s ORDER BY event_type, q""".stripMargin) { (s, dir) =>
      graft.ops.HdrHist.quantiles(
          ev(s, dir).withColumn("__cents",
            round(col("value") * 100).cast("long")),
          col("__cents"), Seq("event_type"), Seq(500, 900, 990), subBits = 3)
        .select(col("event_type"), col("q"), col("bucket"), col("est_low"),
          col("n_rows"))
        .orderBy(col("event_type"), col("q"))
    },

    // G2: single-source shortest path (3 min-plus relaxation rounds,
    // ops/ShortestPath) over the transition graph from 'view', edge
    // cost = 1e6 DIV weight — the "likeliest funnel path" reading:
    // frequent transitions are cheap. Exact integers + NULL-skipping
    // least() (identical semantics on both engines) make the iterative
    // relaxation hash-gatable against three unrolled oracle rounds.
    QDef("g2_shortest_path",
      s"""$E, o AS (
         |  SELECT event_type AS src, lead(event_type) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id) AS dst
         |  FROM e),
         |ed0 AS (SELECT src, dst, CAST(count(*) AS BIGINT) AS w
         |        FROM o WHERE dst IS NOT NULL GROUP BY 1, 2),
         |ed AS (SELECT src, dst, 1000000 // w AS cost FROM ed0),
         |nodes AS (SELECT DISTINCT src AS node FROM ed0
         |          UNION SELECT DISTINCT dst FROM ed0),
         |nd AS (SELECT node FROM nodes),
         |r0 AS (SELECT node, CASE WHEN node = 'view' THEN 0 ELSE NULL END AS d
         |       FROM nd),
         |r1 AS (
         |  SELECT n.node, least(p.d, m.md) AS d
         |  FROM nd n JOIN r0 p ON p.node = n.node
         |  LEFT JOIN (
         |    SELECT ed.dst AS node, min(r.d + ed.cost) AS md
         |    FROM ed JOIN r0 r ON ed.src = r.node WHERE r.d IS NOT NULL
         |    GROUP BY ed.dst) m ON m.node = n.node),
         |r2 AS (
         |  SELECT n.node, least(p.d, m.md) AS d
         |  FROM nd n JOIN r1 p ON p.node = n.node
         |  LEFT JOIN (
         |    SELECT ed.dst AS node, min(r.d + ed.cost) AS md
         |    FROM ed JOIN r1 r ON ed.src = r.node WHERE r.d IS NOT NULL
         |    GROUP BY ed.dst) m ON m.node = n.node),
         |r3 AS (
         |  SELECT n.node, least(p.d, m.md) AS d
         |  FROM nd n JOIN r2 p ON p.node = n.node
         |  LEFT JOIN (
         |    SELECT ed.dst AS node, min(r.d + ed.cost) AS md
         |    FROM ed JOIN r2 r ON ed.src = r.node WHERE r.d IS NOT NULL
         |    GROUP BY ed.dst) m ON m.node = n.node)
         |SELECT node AS event_type, CAST(d AS BIGINT) AS min_cost_micro
         |FROM r3 ORDER BY node""".stripMargin) { (s, dir) =>
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val edges = ev(s, dir)
        .select(col("event_type").as("src"),
          lead(col("event_type"), 1).over(w).as("dst"))
        .filter(col("dst").isNotNull)
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).cast("long").as("w"))
        .select(col("src"), col("dst"), expr("1000000 DIV w").as("cost"))
      graft.ops.ShortestPath.sssp(edges, lit("view"), iters = 3)
        .select(col("node").as("event_type"),
          col("min_cost").as("min_cost_micro"))
        .orderBy(col("event_type"))
    },

    // O8: keyset pagination — the scalable cursor pattern (WHERE
    // (ts, id) > cursor ORDER BY LIMIT) that replaces OFFSET at scale:
    // the composite-key predicate pushes into the scan and the plan is
    // TakeOrderedAndProject, independent of page depth (OFFSET n scans
    // and discards n rows — unusable at page 10⁶). Spark has no
    // row-value comparison, so the predicate is the expanded disjunction.
    QDef("o8_keyset_page",
      s"""$E SELECT event_id, user_id, ts, event_type FROM e
         |WHERE (ts, event_id) > (TIMESTAMP '2024-01-05 00:00:00', 0)
         |ORDER BY ts, event_id LIMIT 20""".stripMargin) { (s, dir) =>
      val cTs = lit("2024-01-05 00:00:00").cast("timestamp")
      val cId = lit(0L)
      ev(s, dir)
        .filter(col("ts") > cTs || (col("ts") === cTs && col("event_id") > cId))
        .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
        .orderBy(col("ts"), col("event_id"))
        .limit(20)
    },

    // FA10: funnel latency — median and p90 time-to-convert per funnel
    // step (the fa1 24h funnel's "how fast", beside its "how many").
    // Durations are exact epoch-ms integers; percentiles by the a24
    // aggregate-first rank selection (oracle: native percentile_disc).
    // One extra join per step to carry the previous step's timestamp.
    QDef("fa10_funnel_latency",
      s"""$E, s1 AS (
         |  SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view'
         |  GROUP BY 1),
         |s2 AS (
         |  SELECT e.user_id, s1.t1, min(e.ts) AS t2 FROM e
         |  JOIN s1 ON e.user_id = s1.user_id
         |  WHERE e.event_type = 'click' AND e.ts > s1.t1
         |    AND e.ts <= s1.t1 + INTERVAL 24 HOUR GROUP BY 1, 2),
         |s3 AS (
         |  SELECT e.user_id, s2.t2, min(e.ts) AS t3 FROM e
         |  JOIN s2 ON e.user_id = s2.user_id
         |  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
         |    AND e.ts <= s2.t2 + INTERVAL 24 HOUR GROUP BY 1, 2),
         |d AS (
         |  SELECT 'click_to_purchase' AS step,
         |    epoch_ms(t3) - epoch_ms(t2) AS ms FROM s3
         |  UNION ALL
         |  SELECT 'view_to_click' AS step, epoch_ms(t2) - epoch_ms(t1) AS ms
         |  FROM s2)
         |SELECT step, CAST(count(*) AS BIGINT) AS n_converted,
         |  percentile_disc(0.5) WITHIN GROUP (ORDER BY ms) AS p50_ms,
         |  percentile_disc(0.9) WITHIN GROUP (ORDER BY ms) AS p90_ms
         |FROM d GROUP BY step ORDER BY step""".stripMargin) { (s, dir) =>
      val e = ev(s, dir)
      val s1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("ts") > col("t1") &&
          col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id"), col("t1")).agg(min(col("ts")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase")
        .join(s2.select(col("user_id"), col("t2")), "user_id")
        .filter(col("ts") > col("t2") &&
          col("ts") <= col("t2") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id"), col("t2")).agg(min(col("ts")).as("t3"))
      val d = s3.select(lit("click_to_purchase").as("step"),
          (unix_millis(col("t3")) - unix_millis(col("t2"))).as("ms"))
        .unionAll(s2.select(lit("view_to_click").as("step"),
          (unix_millis(col("t2")) - unix_millis(col("t1"))).as("ms")))
      val counts = d.groupBy(col("step"), col("ms"))
        .agg(count(lit(1)).as("cnt"))
      val w = Window.partitionBy(col("step")).orderBy(col("ms"))
      counts
        .withColumn("cum", sum(col("cnt")).over(w))
        .withColumn("tot",
          sum(col("cnt")).over(Window.partitionBy(col("step"))))
        .groupBy(col("step"))
        .agg(max(col("tot")).cast("long").as("n_converted"),
          min(when(col("cum") * 2 >= col("tot"), col("ms"))).as("p50_ms"),
          min(when(col("cum") * 10 >= col("tot") * 9, col("ms"))).as("p90_ms"))
        .orderBy(col("step"))
    },

    // FA11: week-over-week engagement accounting — per calendar week, the
    // active set decomposed into new (first week ever), retained (also
    // active the prior week) and resurrected (seen before, but not last
    // week), plus forward churn (active now, absent next week; NULL on
    // the last week, where "next" is unobservable). The weekly-active
    // frame is |users|·|weeks| — the prev/next self-joins key on
    // (user_id, week±7) so they shuffle the compact distinct frame, not
    // raw events, and the max-week guard is a broadcast single row.
    QDef("fa11_wow_churn",
      s"""$E, wa AS (
         |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
         |  FROM e),
         |f AS (SELECT user_id, min(wk) AS first_wk FROM wa GROUP BY 1),
         |mx AS (SELECT max(wk) AS max_wk FROM wa),
         |j AS (SELECT a.wk, a.user_id, f.first_wk,
         |        p.user_id IS NOT NULL AS had_prev,
         |        n.user_id IS NOT NULL AS has_next
         |      FROM wa a JOIN f ON f.user_id = a.user_id
         |      LEFT JOIN wa p ON p.user_id = a.user_id AND p.wk = a.wk - 7
         |      LEFT JOIN wa n ON n.user_id = a.user_id AND n.wk = a.wk + 7)
         |SELECT CAST(j.wk AS TIMESTAMP) AS wk, CAST(count(*) AS BIGINT) AS n_active,
         |  CAST(sum(CASE WHEN j.first_wk = j.wk THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_new,
         |  CAST(sum(CASE WHEN j.had_prev THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_retained,
         |  CAST(sum(CASE WHEN NOT j.had_prev AND j.first_wk < j.wk
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
         |  CASE WHEN j.wk = mx.max_wk THEN NULL
         |       ELSE CAST(sum(CASE WHEN NOT j.has_next THEN 1 ELSE 0 END)
         |         AS BIGINT) END AS n_churn_out
         |FROM j, mx GROUP BY j.wk, mx.max_wk ORDER BY j.wk""".stripMargin) {
      (s, dir) =>
      // consumed by firsts, prev, next, max
      val wa = Checkpoint(ev(s, dir)
        .select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("wk"))
        .distinct())
      val f = wa.groupBy(col("user_id")).agg(min(col("wk")).as("first_wk"))
      val mx = wa.agg(max(col("wk")).as("max_wk"))
      val prev = wa.select(col("user_id").as("p_uid"), col("wk").as("p_wk"))
      val next = wa.select(col("user_id").as("n_uid"), col("wk").as("n_wk"))
      wa.join(f, Seq("user_id"))
        .join(prev, col("user_id") === col("p_uid") &&
          col("p_wk") === date_sub(col("wk"), 7), "left")
        .join(next, col("user_id") === col("n_uid") &&
          col("n_wk") === date_add(col("wk"), 7), "left")
        .crossJoin(broadcast(mx))
        .groupBy(col("wk"), col("max_wk"))
        .agg(count(lit(1)).cast("long").as("n_active"),
          sum(when(col("first_wk") === col("wk"), 1L).otherwise(0L))
            .cast("long").as("n_new"),
          sum(when(col("p_uid").isNotNull, 1L).otherwise(0L))
            .cast("long").as("n_retained"),
          sum(when(col("p_uid").isNull && col("first_wk") < col("wk"), 1L)
            .otherwise(0L)).cast("long").as("n_resurrected"),
          sum(when(col("n_uid").isNull, 1L).otherwise(0L))
            .cast("long").as("churn_raw"))
        // timestamp, not date, for the same driver-hash parity reason as fa2
        .select(col("wk").cast("timestamp").as("wk"), col("n_active"),
          col("n_new"), col("n_retained"), col("n_resurrected"),
          when(col("wk") === col("max_wk"), lit(null).cast("long"))
            .otherwise(col("churn_raw")).as("n_churn_out"))
        .orderBy(col("wk"))
    }
  )
}
