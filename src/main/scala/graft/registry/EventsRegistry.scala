package graft.registry

import graft.Graft
import graft.core.{Tables, Timeframe}
import graft.ohlcv.{Analytics, Candles, Microstructure, Studies}
import graft.operators.AsofJoin
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Query
import graft.SparkEntry._

/** Event analytics: sessions, funnels, cohorts, transitions, ASOF joins (SURVEY §2.B).
  *
  * Each `Query` holds a Spark build next to its DuckDB oracle;
  * `SparkEntry.queries` indexes the eight registries by name. Shared
  * oracle fragments stay in SparkEntry (imported above).
  */
private[graft] object EventsRegistry {

  val queries: Seq[Query] = Seq(
    Query("sessionize", (s, dir) =>
      graft.ops.Sessionize.byUser(Tables.events(s, dir), 1800000000L),
      s"WITH $sessionCtes " +
        "SELECT user_id, session_id, session_start, session_end, n_events FROM sess"),
    Query("session_stats", (s, dir) =>
      // daily engagement rollup over the sessionized stream: all-integer
      // arithmetic (microsecond duration sums), so exact in any engine
      graft.ops.Sessionize.byUser(Tables.events(s, dir), 1800000000L)
        .groupBy(date_trunc("day", col("session_start")).as("day"))
        .agg(count(lit(1)).as("n_sessions"),
          countDistinct(col("user_id")).as("n_users"),
          sum(col("n_events")).as("n_events"),
          sum(unix_micros(col("session_end")) - unix_micros(col("session_start")))
            .as("total_duration_us"),
          max(col("n_events")).as("max_session_events")),
      s"WITH $sessionCtes " +
        "SELECT date_trunc('day', session_start) AS day, count(*) AS n_sessions, " +
        "count(DISTINCT user_id) AS n_users, CAST(sum(n_events) AS BIGINT) AS n_events, " +
        "CAST(sum(epoch_us(session_end) - epoch_us(session_start)) AS BIGINT) AS total_duration_us, " +
        "max(n_events) AS max_session_events FROM sess GROUP BY 1"),
    Query("session_percentiles", (s, dir) =>
      // session-duration distribution per day: exact interpolated
      // percentiles over integer microsecond durations, surfaced as
      // WHOLE microseconds — durations are ~1e9 µs, where a 6-decimal
      // round cannot absorb the interpolation's last-ulp engine
      // difference, but integer µs rounding trivially does
      graft.ops.Sessionize.byUser(Tables.events(s, dir), 1800000000L)
        .select(date_trunc("day", col("session_start")).as("day"),
          (unix_micros(col("session_end")) - unix_micros(col("session_start")))
            .as("dur_us"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("n_sessions"),
          round(expr("percentile(dur_us, 0.5)"), 0).cast("long").as("p50_us"),
          round(expr("percentile(dur_us, 0.9)"), 0).cast("long").as("p90_us"),
          round(expr("percentile(dur_us, 0.99)"), 0).cast("long").as("p99_us")),
      s"WITH $sessionCtes, " +
        "d AS (SELECT CAST(date_trunc('day', session_start) AS TIMESTAMP) AS day, " +
        "epoch_us(session_end) - epoch_us(session_start) AS dur_us FROM sess) " +
        "SELECT day, count(*) AS n_sessions, " +
        "CAST(round(quantile_cont(dur_us, 0.5), 0) AS BIGINT) AS p50_us, " +
        "CAST(round(quantile_cont(dur_us, 0.9), 0) AS BIGINT) AS p90_us, " +
        "CAST(round(quantile_cont(dur_us, 0.99), 0) AS BIGINT) AS p99_us " +
        "FROM d GROUP BY 1"),
    Query("asof_join", (s, dir) => {
      val e = Tables.events(s, dir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      AsofJoin.joinNative(p, c, "user_id", "ts", "ts", "click_")
    },
      "WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click') " +
        "SELECT p.event_id, p.user_id, p.ts, p.value, " +
        "c.user_id AS click_user_id, c.ts AS click_ts, c.value AS click_value " +
        "FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts"),
    Query("asof_join_sql", (s, dir) => {
      // the SQL surface itself: the SAME statement the DuckDB oracle runs,
      // parsed by GraftSqlParser and planned onto the native AsofJoinExec
      // (requires a GraftExtensions session — Verify/Bench/GraftSession
      // all build one)
      Graft.registerViews(s, dir)
      s.sql(
        "WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
          "c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click') " +
          "SELECT p.event_id, p.user_id, p.ts, p.value, " +
          "c.user_id AS click_user_id, c.ts AS click_ts, c.value AS click_value " +
          "FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts")
    },
      "WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click') " +
        "SELECT p.event_id, p.user_id, p.ts, p.value, " +
        "c.user_id AS click_user_id, c.ts AS click_ts, c.value AS click_value " +
        "FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts"),
    Query("asof_join_left", (s, dir) => {
      // ASOF LEFT JOIN: purchases with no prior click stay visible with
      // null click columns (the attribution shape where "no touchpoint
      // yet" is itself the signal) — same native single-sweep operator
      val e = Tables.events(s, dir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      AsofJoin.joinNative(p, c, "user_id", "ts", "ts", "click_", leftOuter = true)
    },
      "WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click') " +
        "SELECT p.event_id, p.user_id, p.ts, p.value, " +
        "c.user_id AS click_user_id, c.ts AS click_ts, c.value AS click_value " +
        "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts"),
    Query("asof_join_fwd", (s, dir) => {
      // forward as-of: each purchase matched to the EARLIEST click
      // at-or-after it (next touchpoint after conversion) — same native
      // operator, direction flipped
      val e = Tables.events(s, dir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      AsofJoin.joinNative(p, c, "user_id", "ts", "ts", "click_", forward = true)
    },
      "WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click') " +
        "SELECT p.event_id, p.user_id, p.ts, p.value, " +
        "c.user_id AS click_user_id, c.ts AS click_ts, c.value AS click_value " +
        "FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts"),
    Query("asof_join_near", (s, dir) => {
      // nearest as-of: the click closest in time on EITHER side of each
      // purchase (ties go backward) — sensor-alignment semantics, same
      // native single-sweep operator
      val e = Tables.events(s, dir)
      val p = e.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("value"))
      AsofJoin.joinNative(p, c, "user_id", "ts", "ts", "click_", nearest = true)
    },
      "WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'), " +
        "b AS (SELECT p.event_id, c.user_id AS b_uid, c.ts AS b_ts, c.value AS b_val " +
        "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts), " +
        "f AS (SELECT p.event_id, c.user_id AS f_uid, c.ts AS f_ts, c.value AS f_val " +
        "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts), " +
        "j AS (SELECT p.event_id, p.user_id, p.ts, p.value, b_uid, b_ts, b_val, f_uid, f_ts, f_val, " +
        "(b_ts IS NOT NULL AND (f_ts IS NULL OR " +
        "epoch_us(p.ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(p.ts))) AS pick_b " +
        "FROM p JOIN b ON b.event_id = p.event_id JOIN f ON f.event_id = p.event_id) " +
        "SELECT event_id, user_id, ts, value, " +
        "CASE WHEN pick_b THEN b_uid ELSE f_uid END AS click_user_id, " +
        "CASE WHEN pick_b THEN b_ts ELSE f_ts END AS click_ts, " +
        "CASE WHEN pick_b THEN b_val ELSE f_val END AS click_value " +
        "FROM j WHERE b_ts IS NOT NULL OR f_ts IS NOT NULL"),
    Query("asof_join_multikey", (s, dir) => {
      // COMPOSITE-key as-of: latest prior click by the same user on the
      // SAME CALENDAR DAY (within-day attribution) — the operator clusters
      // on the (user_id, day) tuple and sweeps tuples lexicographically;
      // exercised through the SQL surface so the multi-key condition walks
      // GraftSqlParser → ResolveAsofJoin → AsofJoinExec
      Graft.registerViews(s, dir)
      s.sql(
        "WITH p AS (SELECT event_id, user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts, value " +
          "FROM events WHERE event_type = 'purchase'), " +
          "c AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts, value " +
          "FROM events WHERE event_type = 'click') " +
          "SELECT p.event_id, p.user_id, p.ts, p.value, " +
          "c.ts AS click_ts, c.value AS click_value " +
          "FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.day = c.day AND p.ts >= c.ts")
    },
      "WITH p AS (SELECT event_id, user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts, value " +
        "FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day, ts, value " +
        "FROM events WHERE event_type = 'click') " +
        "SELECT p.event_id, p.user_id, p.ts, p.value, " +
        "c.ts AS click_ts, c.value AS click_value " +
        "FROM p ASOF JOIN c ON p.user_id = c.user_id AND p.day = c.day AND p.ts >= c.ts"),
    Query("asof_join_near_sql", (s, dir) => {
      // the NEAREST SQL surface: same native single-sweep operator as
      // asof_join_near, reached through GraftSqlParser's `ASOF NEAREST
      // JOIN` extension syntax (the inequality only names the two ts
      // columns; NEAREST overrides the direction)
      Graft.registerViews(s, dir)
      s.sql(
        "WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
          "c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click') " +
          "SELECT p.event_id, p.user_id, p.ts, p.value, " +
          "c.user_id AS click_user_id, c.ts AS click_ts, c.value AS click_value " +
          "FROM p ASOF NEAREST JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts")
    },
      // DuckDB has no NEAREST variant, so the oracle replays nearest as the
      // same two-directional ASOF LEFT JOIN distance pick as asof_join_near
      "WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
        "c AS (SELECT user_id, ts, value FROM events WHERE event_type = 'click'), " +
        "b AS (SELECT p.event_id, c.user_id AS b_uid, c.ts AS b_ts, c.value AS b_val " +
        "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts >= c.ts), " +
        "f AS (SELECT p.event_id, c.user_id AS f_uid, c.ts AS f_ts, c.value AS f_val " +
        "FROM p ASOF LEFT JOIN c ON p.user_id = c.user_id AND p.ts <= c.ts), " +
        "j AS (SELECT p.event_id, p.user_id, p.ts, p.value, b_uid, b_ts, b_val, f_uid, f_ts, f_val, " +
        "(b_ts IS NOT NULL AND (f_ts IS NULL OR " +
        "epoch_us(p.ts) - epoch_us(b_ts) <= epoch_us(f_ts) - epoch_us(p.ts))) AS pick_b " +
        "FROM p JOIN b ON b.event_id = p.event_id JOIN f ON f.event_id = p.event_id) " +
        "SELECT event_id, user_id, ts, value, " +
        "CASE WHEN pick_b THEN b_uid ELSE f_uid END AS click_user_id, " +
        "CASE WHEN pick_b THEN b_ts ELSE f_ts END AS click_ts, " +
        "CASE WHEN pick_b THEN b_val ELSE f_val END AS click_value " +
        "FROM j WHERE b_ts IS NOT NULL OR f_ts IS NOT NULL"),
    Query("funnel_1h", (s, dir) => {
      // click→purchase attribution within 1h: forward interval join
      // (equi-join on user + interval residual — a hash join, never a
      // nested loop), then one aggregate per day
      val e = Tables.events(s, dir)
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("value"))
      graft.operators.IntervalJoin
        .forward(clicks, purchases, "user_id", "ts", "ts", 3600000000L, "p_")
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(countDistinct(col("event_id")).as("n_converting_clicks"),
          count(lit(1)).as("n_attributed_purchases"),
          sum(col("p_value").cast(DecimalType(18, 2))).cast("double").as("attributed_value"))
    },
      "WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'), " +
        "j AS (SELECT c.ts, c.event_id, p.value FROM c JOIN p ON c.user_id = p.user_id " +
        "AND p.ts > c.ts AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000) " +
        "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " +
        "count(DISTINCT event_id) AS n_converting_clicks, " +
        "count(*) AS n_attributed_purchases, " +
        "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS attributed_value " +
        "FROM j GROUP BY 1"),
    Query("funnel_3stage", (s, dir) => {
      // view → click (≤24h) → purchase (≤24h after the click): two chained
      // forward interval joins — both plain equi hash joins with interval
      // residuals — then one distinct-count rollup per day. The classic
      // multi-stage conversion funnel.
      val e = graft.core.Materialize.once(Tables.events(s, dir)
        .select(col("event_type"), col("user_id"), col("ts"), col("event_id")))
      val views = e.where(col("event_type") === "view")
        .select(col("user_id"), col("ts"), col("event_id"))
      val clicks = e.where(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"))
      val purchases = e.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"))
      val vc = graft.operators.IntervalJoin
        .forward(views, clicks, "user_id", "ts", "ts", 86400000000L, "c_")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("c_ts"), col("c_event_id"))
      val vcp = graft.operators.IntervalJoin
        .forward(vc, purchases, "user_id", "c_ts", "ts", 86400000000L, "p_")
      vcp.groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(countDistinct(col("event_id")).as("n_converting_views"),
          countDistinct(col("c_event_id")).as("n_converting_clicks"),
          countDistinct(col("p_event_id")).as("n_purchases"))
    },
      "WITH v AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view'), " +
        "c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'), " +
        "vc AS (SELECT v.user_id, v.ts, v.event_id, c.ts AS c_ts, c.event_id AS c_event_id " +
        "FROM v JOIN c ON v.user_id = c.user_id AND c.ts > v.ts AND epoch_us(c.ts) <= epoch_us(v.ts) + 86400000000), " +
        "vcp AS (SELECT vc.ts, vc.event_id, vc.c_event_id, p.event_id AS p_event_id " +
        "FROM vc JOIN p ON vc.user_id = p.user_id AND p.ts > vc.c_ts AND epoch_us(p.ts) <= epoch_us(vc.c_ts) + 86400000000) " +
        "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, " +
        "count(DISTINCT event_id) AS n_converting_views, " +
        "count(DISTINCT c_event_id) AS n_converting_clicks, " +
        "count(DISTINCT p_event_id) AS n_purchases " +
        "FROM vcp GROUP BY 1"),
    Query("attribution_linear", (s, dir) =>
      // linear multi-touch attribution: IntervalJoin pairing, one
      // per-purchase count window, exact DECIMAL(18,6) credit sums
      graft.ops.Events.linearAttribution(Tables.events(s, dir)),
      // linear attribution replay: same interval pairing, same rounded
      // share -> exact decimal sum
      "WITH c AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, ts, event_id AS p_event_id, value FROM events WHERE event_type = 'purchase'), " +
        "j AS (SELECT c.event_id, p.p_event_id, p.value FROM c JOIN p ON c.user_id = p.user_id " +
        "AND p.ts > c.ts AND epoch_us(p.ts) <= epoch_us(c.ts) + 86400000000), " +
        "s AS (SELECT event_id, CAST(round(value / CAST(count(*) OVER (PARTITION BY p_event_id) AS DOUBLE), 6) AS DECIMAL(18,6)) AS share FROM j) " +
        "SELECT event_id, count(*) AS n_purchases, CAST(sum(share) AS DOUBLE) AS credit FROM s GROUP BY 1"),
    Query("retention_cohorts", (s, dir) => {
      // classic cohort retention: users grouped by first-active day,
      // counted per day-offset they return. Two shuffles total (cohort
      // agg + the final rollup); the activity join is a broadcast of the
      // per-user cohort table at dim scale, a shuffle join at 100 TB.
      val e = Tables.events(s, dir)
      // activity feeds the cohort aggregation AND the join probe side:
      // one materialized distinct instead of two events scans
      val activity = graft.core.Materialize.once(e.select(col("user_id"),
        date_trunc("day", col("ts")).as("day")).distinct())
      val cohort = activity.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      activity.join(cohort, "user_id")
        .groupBy(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    },
      "WITH a AS (SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day FROM events), " +
        "c AS (SELECT user_id, min(day) AS cohort_day FROM a GROUP BY 1) " +
        "SELECT c.cohort_day, CAST(date_diff('day', c.cohort_day, a.day) AS BIGINT) AS day_offset, " +
        "count(DISTINCT a.user_id) AS n_users " +
        "FROM a JOIN c ON a.user_id = c.user_id GROUP BY 1, 2"),
    Query("ltv_cohorts", (s, dir) =>
      // cumulative purchase revenue per signup cohort by account age:
      // user-dim shrink + broadcast sizes, dim-scale cumulative window
      graft.ops.Events.ltvCohorts(Tables.events(s, dir)),
      // LTV replay: same first-day cohorts, purchase revenue in exact
      // DECIMAL(18,2) sums, exact-decimal cumulative over age, per-user
      // division rounded at emission
      "WITH e AS (SELECT user_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, value FROM events), " +
        "c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1), " +
        "sz AS (SELECT cohort_day, count(*) AS n_users FROM c GROUP BY 1), " +
        "r AS (SELECT c.cohort_day, CAST(date_diff('day', c.cohort_day, e.day) AS BIGINT) AS age_days, " +
        "sum(CAST(value AS DECIMAL(18,2))) AS rev_d FROM e JOIN c ON e.user_id = c.user_id " +
        "WHERE e.event_type = 'purchase' GROUP BY 1, 2), " +
        "cum AS (SELECT cohort_day, age_days, rev_d, CAST(sum(rev_d) OVER (" +
        "PARTITION BY cohort_day ORDER BY age_days ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DECIMAL(38,2)) AS cum_d FROM r) " +
        "SELECT cum.cohort_day, age_days, n_users, CAST(rev_d AS DOUBLE) AS revenue, " +
        "CAST(cum_d AS DOUBLE) AS cum_revenue, " +
        "round(CAST(cum_d AS DOUBLE) / CAST(n_users AS DOUBLE), 6) AS ltv_per_user " +
        "FROM cum JOIN sz ON cum.cohort_day = sz.cohort_day"),
    Query("stickiness", (s, dir) =>
      graft.ops.Events.stickiness(Tables.events(s, dir)),
      "WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id FROM events), " +
        "mx AS (SELECT max(day) AS max_day FROM du), " +
        "dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM du GROUP BY 1), " +
        "e AS (SELECT user_id, unnest(generate_series(day, day + INTERVAL 29 DAY, INTERVAL 1 DAY)) AS day FROM du), " +
        "mau AS (SELECT e.day, count(DISTINCT user_id) AS mau FROM e, mx " +
        "WHERE e.day <= mx.max_day GROUP BY 1) " +
        "SELECT dau.day, dau.dau, mau.mau, " +
        "round(CAST(dau.dau AS DOUBLE) / mau.mau, 6) AS stickiness " +
        "FROM dau JOIN mau ON dau.day = mau.day"),
    Query("session_paths", (s, dir) =>
      graft.ops.Events.sessionPaths(Tables.events(s, dir)),
      "WITH x AS (SELECT user_id, ts, event_id, event_type, " +
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), " +
        "y AS (SELECT user_id, ts, event_id, event_type, CASE WHEN prev_ts IS NULL OR " +
        "epoch_us(ts) - epoch_us(prev_ts) > 1800000000 THEN 1 ELSE 0 END AS brk FROM x), " +
        "s AS (SELECT user_id, ts, event_id, event_type, " +
        "CAST(sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM y), " +
        "r AS (SELECT user_id, session_id, event_type, " +
        "row_number() OVER (PARTITION BY user_id, session_id ORDER BY ts, event_id) AS pos FROM s), " +
        "pth AS (SELECT user_id, session_id, " +
        "array_to_string(list(event_type ORDER BY pos), '>') AS path FROM r WHERE pos <= 3 GROUP BY 1, 2), " +
        "agg AS (SELECT path, count(*) AS n_sessions FROM pth GROUP BY 1) " +
        "SELECT path, n_sessions FROM agg ORDER BY n_sessions DESC, path LIMIT 20"),
    Query("event_transitions", (s, dir) =>
      graft.ops.Events.transitions(Tables.events(s, dir)),
      "WITH p AS (SELECT user_id, event_type, lag(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events), " +
        "a AS (SELECT prev_type, event_type, count(*) AS n_transitions, " +
        "count(DISTINCT user_id) AS n_users FROM p WHERE prev_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT prev_type, event_type, n_transitions, n_users, " +
        "round(CAST(n_transitions AS DOUBLE) / " +
        "CAST(sum(n_transitions) OVER (PARTITION BY prev_type) AS DOUBLE), 6) AS p FROM a"),
    Query("active_users_7d", (s, dir) =>
      graft.ops.Events.rollingActiveUsers(Tables.events(s, dir)),
      "WITH du AS (SELECT DISTINCT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, user_id FROM events), " +
        "mx AS (SELECT max(day) AS max_day FROM du), " +
        "e AS (SELECT user_id, unnest(generate_series(day, day + INTERVAL 6 DAY, INTERVAL 1 DAY)) AS day FROM du) " +
        "SELECT e.day, count(DISTINCT e.user_id) AS n_active FROM e, mx " +
        "WHERE e.day <= mx.max_day GROUP BY 1"),
    Query("inter_event_times", (s, dir) =>
      graft.ops.Events.interEventTimes(Tables.events(s, dir)),
      "WITH x AS (SELECT user_id, ts, event_id, event_type, " +
        "lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), " +
        "g AS (SELECT event_type, epoch_us(ts) - epoch_us(prev_ts) AS gap_us FROM x " +
        "WHERE prev_ts IS NOT NULL) " +
        "SELECT event_type, count(*) AS n_gaps, " +
        "CAST(round(CAST(sum(gap_us) AS DOUBLE) / count(*), 0) AS BIGINT) AS mean_gap_us, " +
        "CAST(round(quantile_cont(gap_us, 0.5), 0) AS BIGINT) AS p50_gap_us, " +
        "CAST(round(quantile_cont(gap_us, 0.9), 0) AS BIGINT) AS p90_gap_us " +
        "FROM g GROUP BY 1"),
    Query("bounce_rate", (s, dir) =>
      graft.ops.Events.bounceRate(Tables.events(s, dir)),
      s"WITH $sessionCtes " +
        "SELECT date_trunc('day', session_start) AS day, count(*) AS n_sessions, " +
        "CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounces, " +
        "round(CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS bounce_rate " +
        "FROM sess GROUP BY 1"),
    Query("drift_psi", (s, dir) =>
      // population stability index of order values, pre-1998 reference vs
      // after: equal-width global bins, exact-decimal term sums
      graft.ops.Dq.psiDrift(Tables.table(s, dir, "orders"), "o_totalprice",
        col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00"))),
      // PSI replay: identical global-bin float expressions, exact-decimal
      // term sums, shared-libm ln (the zipf precedent)
      "WITH b AS (SELECT CAST(o_totalprice AS DOUBLE) AS v, " +
        "o_orderdate < TIMESTAMP '1998-01-01' AS is_ref FROM orders WHERE o_totalprice IS NOT NULL), " +
        "bounds AS (SELECT min(v) AS lo, max(v) AS hi FROM b), " +
        "counts AS (SELECT least(CAST(floor((v - lo) * 20.0 / (CASE WHEN hi <> lo THEN hi - lo END)) AS BIGINT), 19) AS bin, " +
        "CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS nref, CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS ncur " +
        "FROM b CROSS JOIN bounds GROUP BY 1), " +
        "tot AS (SELECT CAST(sum(nref) AS BIGINT) AS tref, CAST(sum(ncur) AS BIGINT) AS tcur FROM counts), " +
        "terms AS (SELECT CAST(round((CAST(nref AS DOUBLE) / CAST(tref AS DOUBLE) - CAST(ncur AS DOUBLE) / CAST(tcur AS DOUBLE)) * " +
        "ln(CAST(nref AS DOUBLE) / CAST(tref AS DOUBLE) / (CAST(ncur AS DOUBLE) / CAST(tcur AS DOUBLE))), 12) AS DECIMAL(28,12)) AS term, " +
        "tref, tcur FROM counts CROSS JOIN tot WHERE nref > 0 AND ncur > 0) " +
        "SELECT round(CAST(sum(term) AS DOUBLE), 6) AS psi, count(*) AS n_bins_used, " +
        "tref AS n_ref, tcur AS n_cur FROM terms GROUP BY tref, tcur"),
    Query("event_transitions2", (s, dir) =>
      // second-order Markov transitions: P(next | two previous events) —
      // both lags in one user window, dim-scale conditional shares
      graft.ops.Events.transitions2(Tables.events(s, dir)),
      // second-order transition replay: two lags in the same user window,
      // dim-scale conditional shares
      "WITH p AS (SELECT user_id, event_type, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type, " +
        "lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev2_type FROM events), " +
        "a AS (SELECT prev2_type, prev_type, event_type, count(*) AS n_transitions, " +
        "count(DISTINCT user_id) AS n_users FROM p WHERE prev2_type IS NOT NULL GROUP BY 1, 2, 3) " +
        "SELECT prev2_type, prev_type, event_type, n_transitions, n_users, " +
        "round(CAST(n_transitions AS DOUBLE) / " +
        "CAST(sum(n_transitions) OVER (PARTITION BY prev2_type, prev_type) AS DOUBLE), 6) AS p FROM a")
  )
}
