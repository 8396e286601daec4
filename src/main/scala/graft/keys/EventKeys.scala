package graft
package keys

import graft.operators._
import graft.sources.Tables

import OracleFragments._

/** The event keys (`events_*`): clickstream sessions, funnels, A/B tests,
  * drift and sketch calibrations. */
private[graft] object EventKeys extends Family("events_") {

  lazy val eventsHeavyHitters: Key = Key("events_heavy_hitters")((s, dir) =>
    Analytics.heavyHitters(Tables.events(s, dir)))(
    """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
      | FROM events GROUP BY 1)
      |SELECT user_id, n_events FROM c
      |WHERE n_events > (SELECT avg(n_events) * 1.25 FROM c)""")

  lazy val eventsBotFlag: Key = Key("events_bot_flag")((s, dir) =>
    EventOps.burstFlags(Tables.events(s, dir)))(
    // tightest 20-event span per user, exact integer microseconds
    """WITH g AS (SELECT user_id, epoch_us(ts) AS us,
      | lag(epoch_us(ts), 19) OVER
      |  (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |FROM events)
      |SELECT user_id, count(*) AS n_events,
      | min(us - prev) AS min_burst_span_us,
      | coalesce(min(us - prev) <= 60000000, false) AS is_bot
      |FROM g GROUP BY user_id""")

  lazy val eventsAttribution: Key = Key("events_attribution")((s, dir) =>
    EventOps.lastTouchAttribution(Tables.events(s, dir)))(
    """WITH ev AS (SELECT event_id, ts, user_id, event_type FROM events
      |  WHERE event_type IN ('click', 'purchase')),
      |a AS (SELECT *, max(CASE WHEN event_type = 'click' THEN ts END)
      |  OVER (PARTITION BY user_id ORDER BY ts, event_id
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
      | FROM ev)
      |SELECT CAST(ts AS DATE) AS day,
      | CAST(count(*) AS BIGINT) AS n_purchases,
      | CAST(sum(CASE WHEN last_click_ts IS NOT NULL
      |   AND last_click_ts >= ts - INTERVAL 1 HOUR THEN 1 ELSE 0 END)
      |  AS BIGINT) AS n_attributed,
      | round(CAST(sum(CASE WHEN last_click_ts IS NOT NULL
      |   AND last_click_ts >= ts - INTERVAL 1 HOUR THEN 1 ELSE 0 END)
      |  AS BIGINT) / CAST(count(*) AS BIGINT), 6) AS attribution_rate
      |FROM a WHERE event_type = 'purchase'
      |GROUP BY CAST(ts AS DATE)""")

  lazy val keys: Seq[Key] = Seq(
    eventsHeavyHitters,
    Key("events_heavy_hitters_mg")((s, dir) =>
      EventOps.approxHeavyHitters(Tables.events(s, dir)))(
      // exact (no evictions) while distinct keys per partition <= k
      eventsHeavyHitters.sql),
    Key("events_rolling_active_users")((s, dir) =>
      Analytics.rollingActiveUsers(Tables.events(s, dir)))(
      // exact sliding COUNT DISTINCT via bounded fan-out of the
      // deduplicated user-day relation to its 7 target days; the
      // day-0 marker yields DAU from the same collapse
      s"""WITH $stickinessCtes
        |SELECT target_day AS day, count(*) AS wau,
        | CAST(sum(active_today) AS BIGINT) AS dau,
        | round(CAST(sum(active_today) AS BIGINT) * 1.0 / count(*), 6)
        |  AS stickiness
        |FROM g GROUP BY 1"""),
    // the sketch twin, graduated r16 via the calibration pattern:
    // exact WAU/DAU anchors + the engine's-own-HLL-within-5%
    // booleans (the sketch route still runs inside the booleans)
    Key("events_rolling_active_approx")((s, dir) =>
      Analytics.rollingActiveCalibration(Tables.events(s, dir)))(
      // calibration form (r16): the exact rolling WAU/DAU anchor
      // (events_rolling_active_users' fan-out collapse) + within-5%
      // claims over DuckDB's OWN approx_count_distinct of the same
      // fan-out; tolerance max(2, exact·5%) in floored integers
      s"""WITH $stickinessCtes,
        |ex AS (SELECT target_day AS day, count(*) AS wau,
        |  CAST(sum(active_today) AS BIGINT) AS dau,
        |  round(CAST(sum(active_today) AS BIGINT) * 1.0 / count(*), 6)
        |   AS stickiness
        | FROM g GROUP BY 1),
        |ap AS (SELECT target_day AS day,
        |  approx_count_distinct(user_id) AS wau_apx,
        |  approx_count_distinct(CASE WHEN is_today = 1 THEN user_id END)
        |   AS dau_apx
        | FROM fan GROUP BY 1)
        |SELECT ex.day, ex.wau, ex.dau, ex.stickiness,
        | abs(ap.wau_apx - ex.wau) <= greatest(2, (ex.wau * 5) // 100)
        |  AS wau_within_tol,
        | abs(ap.dau_apx - ex.dau) <= greatest(2, (ex.dau * 5) // 100)
        |  AS dau_within_tol
        |FROM ex JOIN ap ON ap.day = ex.day"""),
    Key("events_cohort_retention")((s, dir) =>
      EventOps.cohortRetention(Tables.events(s, dir)))(
      // offsets exact: both dates are week starts, day gap always a
      // multiple of seven; retention = one division of exact longs
      """WITH w AS (SELECT DISTINCT user_id,
        |  CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1),
        |s AS (SELECT cohort_week, count(*) AS cohort_size FROM c GROUP BY 1),
        |a AS (SELECT c.cohort_week,
        |  CAST(date_diff('day', c.cohort_week, w.week) // 7 AS BIGINT)
        |   AS week_offset,
        |  count(DISTINCT w.user_id) AS n_active
        | FROM w JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_size,
        | CAST(a.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
        |  AS retention
        |FROM a JOIN s USING (cohort_week)"""),
    eventsBotFlag,
    Key("events_deseasonalized_anomaly")((s, dir) =>
      EventOps.deseasonalizedAnomaly(Tables.events(s, dir)))(
      // LEAVE-ONE-OUT slot stats from exact integer sums; mean/
      // variance/z are the identical fixed expression in both
      // engines — bit-exact, no rounding. dayofweek: DuckDB
      // Sunday=0 → +1 to match Spark.
      s"""WITH $hourSlotCtes,
        |j AS (SELECT f.hb, CAST(f.n AS BIGINT) AS n_events, f.dow,
        |  f.hour_of_day,
        |  CAST(s1 - n AS DOUBLE) / CAST(cnt - 1 AS DOUBLE) AS m,
        |  (CAST(s2 - n * n AS DOUBLE) - CAST(s1 - n AS DOUBLE)
        |    * CAST(s1 - n AS DOUBLE) / CAST(cnt - 1 AS DOUBLE))
        |   / CAST(cnt - 1 AS DOUBLE) AS v
        | FROM f JOIN p USING (dow, hour_of_day) WHERE cnt > 1)
        |SELECT hb AS hour_bucket, n_events, dow, hour_of_day,
        | m AS profile_mean, (n_events - m) / sqrt(v) AS z
        |FROM j WHERE v > 0 AND abs((n_events - m) / sqrt(v)) > 3.0"""),
    Key("events_session_entry_exit")((s, dir) =>
      EventOps.sessionEntryExit(Tables.events(s, dir)))(
      // the sessionize CTE chain, endpoints picked by row_number on
      // the (ts, event_id) total order — mirrors min_by/max_by
      s"""WITH flagged AS (
        | SELECT user_id, ts, event_id, event_type,
        |  $newSessionSql),
        |numbered AS (
        | SELECT user_id, event_type, ts, event_id,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        | FROM flagged),
        |r AS (
        | SELECT user_id, session_seq, event_type,
        |  row_number() OVER (PARTITION BY user_id, session_seq
        |    ORDER BY ts, event_id) AS ra,
        |  row_number() OVER (PARTITION BY user_id, session_seq
        |    ORDER BY ts DESC, event_id DESC) AS rd,
        |  count(*) OVER (PARTITION BY user_id, session_seq) AS n
        | FROM numbered),
        |sess AS (
        | SELECT user_id, session_seq,
        |  max(CASE WHEN ra = 1 THEN event_type END) AS entry_type,
        |  max(CASE WHEN rd = 1 THEN event_type END) AS exit_type,
        |  max(n) AS n FROM r GROUP BY 1, 2)
        |SELECT entry_type, exit_type, count(*) AS n_sessions,
        | CAST(sum(n) AS BIGINT) AS total_events
        |FROM sess GROUP BY 1, 2"""),
    // data-driven Markov attribution beside the rule-based key
    Key("events_attribution_markov")((s, dir) =>
      EventOps.markovAttribution(Tables.events(s, dir))) {
      // the 12 clamped value-iteration rounds unrolled as CTEs over
      // the (removal × state) grid — same truncation point as the
      // Scala fold, so only float summation order differs (driver
      // tolerance class); journey truncation, START/NULL edges and
      // the transition probabilities replay the Spark windows 1:1
      val iterCtes = (1 to 12).map { k =>
        val prev = if (k == 1) "v0" else s"v${k - 1}"
        s"""v$k AS MATERIALIZED (SELECT g.rm, g.s,
           | CASE WHEN g.s = 'CONV' THEN 1.0 WHEN g.s = 'NULL' THEN 0.0
           |  WHEN g.s = g.rm THEN 0.0 ELSE coalesce(g.acc, 0.0) END AS v
           | FROM (SELECT b.rm, b.s, sum(pr.p * pv.v) AS acc
           |  FROM (SELECT rm, s FROM v0) b
           |  LEFT JOIN probs pr ON pr.f = b.s
           |  LEFT JOIN $prev pv ON pv.rm = b.rm AND pv.s = pr.t
           |  GROUP BY 1, 2) g)"""
      }.mkString(",")
      s"""WITH st AS (SELECT user_id, ts, event_id,
         |  CASE WHEN event_type = 'purchase' THEN 'CONV'
         |   ELSE event_type END AS state
         | FROM events WHERE ts IS NOT NULL),
         |kept AS MATERIALIZED (SELECT user_id, ts, event_id, state FROM (
         |  SELECT *, count(CASE WHEN state = 'CONV' THEN 1 END) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc
         |  FROM st) x WHERE coalesce(pc, 0) = 0),
         |pairs AS (SELECT coalesce(lag(state) OVER (
         |   PARTITION BY user_id ORDER BY ts, event_id), 'START') AS f,
         |  state AS t FROM kept
         | UNION ALL
         | SELECT state AS f, 'NULL' AS t FROM (
         |  SELECT state, row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS rrn FROM kept) e
         | WHERE rrn = 1 AND state != 'CONV'),
         |probs AS MATERIALIZED (SELECT f, t,
         |  CAST(count(*) AS DOUBLE) /
         |   CAST(sum(count(*)) OVER (PARTITION BY f) AS DOUBLE) AS p
         | FROM pairs GROUP BY 1, 2),
         |chans AS (SELECT DISTINCT f AS ch FROM probs
         | WHERE f NOT IN ('START', 'CONV', 'NULL')),
         |rms AS (SELECT ch FROM chans UNION ALL SELECT '__all__'),
         |sts AS (SELECT DISTINCT s FROM (
         | SELECT f AS s FROM probs UNION SELECT t FROM probs
         | UNION SELECT 'CONV' UNION SELECT 'NULL') u),
         |v0 AS MATERIALIZED (SELECT rm.ch AS rm, s.s,
         |  CASE WHEN s.s = 'CONV' THEN 1.0 ELSE 0.0 END AS v
         | FROM rms rm, sts s),
         |$iterCtes,
         |fin AS (SELECT v.rm AS channel, v.v AS p_removed,
         |  (SELECT b.v FROM v12 b
         |   WHERE b.rm = '__all__' AND b.s = 'START') AS p_conv
         | FROM v12 v WHERE v.s = 'START' AND v.rm != '__all__')
         |SELECT channel, p_conv, p_removed,
         | 1.0 - p_removed / p_conv AS removal_effect,
         | CASE WHEN sum(1.0 - p_removed / p_conv) OVER () = 0.0 THEN 0.0
         |  ELSE (1.0 - p_removed / p_conv) /
         |   sum(1.0 - p_removed / p_conv) OVER () END AS share
         |FROM fin WHERE p_conv > 0"""
    },
    eventsAttribution,
    Key("events_common_paths")((s, dir) =>
      EventOps.commonSessionPaths(Tables.events(s, dir)))(
      s"""WITH $sessionSeqCtes,
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY user_id,
        |  session_seq ORDER BY ts, event_id) AS step FROM numbered),
        |paths AS (SELECT user_id, session_seq,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        | FROM ranked WHERE step <= 8 GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM paths
        |GROUP BY 1 HAVING count(*) >= 5"""),
    Key("events_dow_hour_profile")((s, dir) =>
      EventOps.dowHourProfile(Tables.events(s, dir)))(
      // DuckDB dayofweek: Sunday=0; Spark: Sunday=1 → +1. Calendar
      // spine: zero-event hours count in the slot denominator
      s"""WITH $hourSpineCtes,
        |f AS (SELECT spine.hb, coalesce(h.n, 0) AS n
        |  FROM spine LEFT JOIN h USING (hb))
        |SELECT CAST(dayofweek(hb) + 1 AS BIGINT) AS dow,
        | CAST(hour(hb) AS BIGINT) AS hour_of_day,
        | CAST(sum(n) AS BIGINT) AS n_events, count(*) AS n_slots,
        | round(avg(n), 6) AS avg_events
        |FROM f GROUP BY 1, 2"""),
    Key("events_inter_event_gaps")((s, dir) =>
      EventOps.interEventGaps(Tables.events(s, dir)))(
      """WITH g AS (SELECT epoch_us(ts - lag(ts) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id)) // 1000000 AS gap_s
        | FROM events)
        |SELECT count(*) AS n_gaps,
        | quantile_cont(gap_s, 0.5) AS p50_s,
        | quantile_cont(gap_s, 0.9) AS p90_s,
        | quantile_cont(gap_s, 0.99) AS p99_s
        |FROM g WHERE gap_s IS NOT NULL"""),
    Key("events_key_skew")((s, dir) =>
      operators.Skew.keySkewProfile(Tables.events(s, dir), "user_id"))(
      """WITH c AS (SELECT user_id AS key, count(*) AS n_rows
        |  FROM events GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(n_rows) AS BIGINT) AS n_rows_total,
        |  CAST(max(n_rows) AS BIGINT) AS max_rows FROM c)
        |SELECT n_keys, n_rows_total, max_rows,
        | (SELECT min(key) FROM c WHERE n_rows = s.max_rows) AS top_key,
        | round(CAST(n_rows_total AS DOUBLE) / n_keys, 6) AS avg_rows,
        | round(CAST(max_rows * n_keys AS DOUBLE) / n_rows_total, 6) AS skew_ratio
        |FROM s"""),
    // graduated r16 via the calibration pattern: exact anchors +
    // each-engine's-own-sketch booleans (HLL ratio; percentiles by
    // tie-safe rank containment — the only cross-engine-fair
    // criterion for GK vs t-digest internals)
    Key("events_approx_stats")((s, dir) =>
      EventOps.typeStatsCalibration(Tables.events(s, dir)))(
      // calibration form (r16): DuckDB scores its OWN
      // approx_count_distinct + t-digest approx_quantile against the
      // same exact anchors and rank-containment rule
      """WITH apx AS (SELECT event_type,
        |  approx_count_distinct(user_id) AS au,
        |  approx_quantile(value, 0.5) AS p50,
        |  approx_quantile(value, 0.9) AS p90
        | FROM events GROUP BY 1),
        |ex AS (SELECT event_type,
        |  count(DISTINCT user_id) AS eu, count(*) AS n
        | FROM events GROUP BY 1),
        |r AS (SELECT e.event_type,
        |  sum(CASE WHEN e.value < a.p50 THEN 1 ELSE 0 END) * 1.0
        |   / count(*) AS lt50,
        |  sum(CASE WHEN e.value <= a.p50 THEN 1 ELSE 0 END) * 1.0
        |   / count(*) AS le50,
        |  sum(CASE WHEN e.value < a.p90 THEN 1 ELSE 0 END) * 1.0
        |   / count(*) AS lt90,
        |  sum(CASE WHEN e.value <= a.p90 THEN 1 ELSE 0 END) * 1.0
        |   / count(*) AS le90
        | FROM events e JOIN apx a USING (event_type) GROUP BY 1)
        |SELECT ex.event_type, CAST(ex.eu AS BIGINT) AS exact_users,
        | CAST(ex.n AS BIGINT) AS n_values,
        | abs(CAST(a.au AS DOUBLE) / ex.eu - 1.0) <= 0.05
        |  AS users_within_tol,
        | (r.lt50 <= 0.52 AND r.le50 >= 0.48) AS p50_within_tol,
        | (r.lt90 <= 0.92 AND r.le90 >= 0.88) AS p90_within_tol
        |FROM ex JOIN apx a USING (event_type)
        | JOIN r USING (event_type)"""),
    // r16: graduated from rows-only to a full oracle via the
    // sketch-calibration pattern — exact anchor columns + the
    // engine's-own-sketch-within-tol boolean (the sketch
    // inclusion–exclusion route still runs inside the boolean)
    Key("events_audience_overlap")((s, dir) =>
      EventOps.overlapCalibration(Tables.events(s, dir)))(
      // calibration form (r16): exact anchors + the within-tol claim
      // over DuckDB's OWN approx_count_distinct inclusion–exclusion —
      // each engine checks its own sketches against the same exact
      // intersection; tolerance max(3, union·18%) in floored integers
      """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |pt AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |ta AS (SELECT event_type,
        |  approx_count_distinct(user_id) AS apx FROM ut GROUP BY 1),
        |iv AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS ov
        | FROM ut a JOIN ut b ON a.user_id = b.user_id
        |  AND a.event_type < b.event_type GROUP BY 1, 2),
        |uni AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |  approx_count_distinct(u.user_id) AS apx_union
        | FROM pt x JOIN pt y ON x.event_type < y.event_type
        | JOIN ut u ON u.event_type = x.event_type
        |  OR u.event_type = y.event_type
        | GROUP BY 1, 2)
        |SELECT pa.event_type AS type_a, pb.event_type AS type_b,
        | pa.n AS users_a, pb.n AS users_b,
        | coalesce(iv.ov, 0) AS overlap,
        | abs(greatest(aa.apx + ab.apx - u.apx_union, 0)
        |   - coalesce(iv.ov, 0))
        |  <= greatest(3, ((pa.n + pb.n - coalesce(iv.ov, 0)) * 18) // 100)
        |  AS ov_within_tol
        |FROM pt pa JOIN pt pb ON pa.event_type < pb.event_type
        | LEFT JOIN iv ON iv.type_a = pa.event_type
        |  AND iv.type_b = pb.event_type
        | JOIN ta aa ON aa.event_type = pa.event_type
        | JOIN ta ab ON ab.event_type = pb.event_type
        | JOIN uni u ON u.type_a = pa.event_type
        |  AND u.type_b = pb.event_type"""),
    // graduated r16 via the calibration pattern, through the LONGER
    // compacted route (day store → month compaction → merged reach):
    // exact month-window anchor + the engine's-own-lifecycle-
    // within-5% boolean — additionally gates compaction losslessness
    Key("events_sketch_reach")((s, dir) =>
      EventOps.reachCalibration(Tables.events(s, dir),
        "2024-01-01", "2024-02-01"))(
      // calibration form (r16, the compacted-lifecycle route): each
      // engine checks its OWN sketch pipeline against the same exact
      // month-window anchor — DuckDB's approx_count_distinct stands
      // in for its day-sketch→compact→merge (its HLL union is
      // equally lossless), and the boolean + exact columns hash
      approxUsersSql("2024-01-01", "2024-02-01")),
    // the ORACLED calibration claim over the same sketch-store route:
    // exact anchor + each engine's own-sketch-within-5% boolean —
    // bit-comparable where the raw estimate can never be
    Key("events_sketch_calibration")((s, dir) =>
      EventOps.sketchCalibration(Tables.events(s, dir),
        "2024-01-05", "2024-01-15"))(
      // the calibration CLAIM is engine-agnostic even though the raw
      // sketch estimate is not: DuckDB checks ITS approx_count_distinct
      // against the same exact anchor Spark checks its HLL++ store
      // against — the boolean and the exact columns hash-match, and a
      // decalibrated sketch on either side fails the row
      approxUsersSql("2024-01-05", "2024-01-15")),
    Key("events_user_lifespan")((s, dir) =>
      EventOps.userLifespan(Tables.events(s, dir)))(
      """WITH u AS (SELECT user_id,
        |  date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS ld,
        |  count(DISTINCT CAST(ts AS DATE)) AS ad,
        |  count(*) AS n
        | FROM events GROUP BY 1)
        |SELECT count(*) AS n_users,
        | quantile_cont(ld, 0.5) AS p50_lifespan_days,
        | quantile_cont(ld, 0.9) AS p90_lifespan_days,
        | quantile_cont(ld, 0.99) AS p99_lifespan_days,
        | round(CAST(sum(ad) AS DOUBLE) / count(*), 6) AS mean_active_days,
        | round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS mean_events_per_user,
        | round(CAST(sum(CASE WHEN ld = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |  / count(*), 6) AS single_day_frac
        |FROM u"""),
    // bounded-state percentile_approx twin, graduated r16 via the
    // calibration pattern: exact rollup anchors + tie-safe
    // rank-containment booleans for the engine's own sketch
    Key("events_user_lifespan_approx")((s, dir) =>
      EventOps.lifespanCalibration(Tables.events(s, dir)))(
      // calibration form (r16): exact rollup anchors + DuckDB's OWN
      // approx_quantile scored by the tie-safe rank-containment rule
      // against the same exact lifespan distribution
      """WITH u AS (SELECT user_id,
        |  date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS ld,
        |  count(DISTINCT CAST(ts AS DATE)) AS ad,
        |  count(*) AS n
        | FROM events GROUP BY 1),
        |apx AS (SELECT
        |  CAST(approx_quantile(ld, 0.5) AS DOUBLE) AS p50,
        |  CAST(approx_quantile(ld, 0.9) AS DOUBLE) AS p90,
        |  CAST(approx_quantile(ld, 0.99) AS DOUBLE) AS p99 FROM u)
        |SELECT count(*) AS n_users,
        | round(CAST(sum(ad) AS DOUBLE) / count(*), 6) AS mean_active_days,
        | round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS mean_events_per_user,
        | round(CAST(sum(CASE WHEN ld = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |  / count(*), 6) AS single_day_frac,
        | (sum(CASE WHEN ld < apx.p50 THEN 1 ELSE 0 END) * 1.0 / count(*)
        |   <= 0.52 AND
        |  sum(CASE WHEN ld <= apx.p50 THEN 1 ELSE 0 END) * 1.0 / count(*)
        |   >= 0.48) AS p50_within_tol,
        | (sum(CASE WHEN ld < apx.p90 THEN 1 ELSE 0 END) * 1.0 / count(*)
        |   <= 0.92 AND
        |  sum(CASE WHEN ld <= apx.p90 THEN 1 ELSE 0 END) * 1.0 / count(*)
        |   >= 0.88) AS p90_within_tol,
        | (sum(CASE WHEN ld < apx.p99 THEN 1 ELSE 0 END) * 1.0 / count(*)
        |   <= 1.01 AND
        |  sum(CASE WHEN ld <= apx.p99 THEN 1 ELSE 0 END) * 1.0 / count(*)
        |   >= 0.97) AS p99_within_tol
        |FROM u, apx GROUP BY apx.p50, apx.p90, apx.p99"""),
    Key("events_type_psi")((s, dir) =>
      EventOps.typePsi(Tables.events(s, dir)))(
      // categorical drift: the types ARE the buckets; Laplace term
      // count is data-dependent (count(*) OVER ()), same half split
      s"""WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |m AS (SELECT min(day) + CAST(floor(
        |  date_diff('day', min(day), max(day)) / 2) AS INTEGER) AS mid
        | FROM e),
        |g AS (SELECT event_type,
        |  CAST(sum(CASE WHEN day <= m.mid THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_a,
        |  CAST(sum(CASE WHEN day <= m.mid THEN 0 ELSE 1 END) AS BIGINT)
        |   AS n_b
        | FROM e, m GROUP BY 1),
        |${laplaceShareCte("event_type")},
        |${psiTermsSql("event_type")}"""),
    Key("events_ab_ttest")((s, dir) =>
      EventOps.abTest(Tables.events(s, dir)))(
      // identical op tree to the Spark side: same md5 coin, same
      // (1, value, value²) conditional sums, same closed-form Welch
      // expressions — only summation order can differ (last-ulp, the
      // q_events_anomaly class); moments ship unrounded
      s"""WITH $abMomentsCtes,
        |$welchSql"""),
    Key("events_ab_sequential")((s, dir) =>
      EventOps.abTestSequential(Tables.events(s, dir)))(
      // same coin + expression tree as events_ab_ttest, cumulated by
      // day: daily partials of the six sufficient statistics, then a
      // per-type ROWS UNBOUNDED PRECEDING fold in day order — both
      // engines sum the partials in the same order, so only
      // within-day order can differ (same last-ulp class)
      s"""WITH $abDailyMomentsCtes,
        |c AS (SELECT event_type, day,
        |  CAST(sum(d_na) OVER cw AS BIGINT) AS n_a,
        |  CAST(sum(d_nb) OVER cw AS BIGINT) AS n_b,
        |  sum(d_sa) OVER cw AS s_a, sum(d_sb) OVER cw AS s_b,
        |  sum(d_qa) OVER cw AS q_a, sum(d_qb) OVER cw AS q_b
        | FROM d WINDOW cw AS (PARTITION BY event_type ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |w AS (SELECT event_type, day, n_a, n_b,
        |  CAST(n_a AS DOUBLE) / (n_a + n_b) AS share_a,
        |  s_a / n_a AS mean_a, s_b / n_b AS mean_b,
        |  greatest((q_a - s_a * s_a / n_a) / (n_a - 1), 0) / n_a AS se_a,
        |  greatest((q_b - s_b * s_b / n_b) / (n_b - 1), 0) / n_b AS se_b
        | FROM c WHERE n_a > 1 AND n_b > 1)
        |SELECT event_type, day, n_a, n_b, share_a, mean_a, mean_b,
        | (mean_a - mean_b) / sqrt(se_a + se_b) AS welch_t,
        | (se_a + se_b) * (se_a + se_b) / (se_a * se_a / (n_a - 1)
        |   + se_b * se_b / (n_b - 1)) AS welch_df
        |FROM w WHERE se_a + se_b > 0"""),
    Key("events_ab_cuped")((s, dir) =>
      EventOps.abTestCuped(Tables.events(s, dir)))(
      // same coin; per-user (pre, post) means at the typePsi calendar
      // midpoint, pooled moments in one conditional aggregate, then
      // the same closed-form scalar tree (theta = cov/var_pre,
      // var_reduction = rho^2) — unrounded, abTest exactness class
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day, value
        | FROM events WHERE ts IS NOT NULL),
        |m AS (SELECT min(day) + CAST(floor(
        |  date_diff('day', min(day), max(day)) / 2) AS INTEGER) AS mid
        | FROM e),
        |u AS (SELECT user_id,
        |  substring(md5(CAST(user_id AS VARCHAR) || ':ab42'), 1, 8)
        |    < '80000000' AS is_a,
        |  CAST(sum(CASE WHEN day <= m.mid THEN 1 ELSE 0 END) AS BIGINT)
        |   AS pre_n,
        |  sum(CASE WHEN day <= m.mid THEN value ELSE CAST(0 AS DOUBLE) END)
        |   AS pre_s,
        |  CAST(sum(CASE WHEN day > m.mid THEN 1 ELSE 0 END) AS BIGINT)
        |   AS post_n,
        |  sum(CASE WHEN day > m.mid THEN value ELSE CAST(0 AS DOUBLE) END)
        |   AS post_s
        | FROM e, m GROUP BY 1, 2 HAVING pre_n > 0 AND post_n > 0),
        |p AS (SELECT is_a, pre_s / pre_n AS pre, post_s / post_n AS post
        | FROM u),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  sum(CASE WHEN is_a THEN pre ELSE CAST(0 AS DOUBLE) END) AS spre_a,
        |  sum(CASE WHEN NOT is_a THEN pre ELSE CAST(0 AS DOUBLE) END) AS spre_b,
        |  sum(CASE WHEN is_a THEN post ELSE CAST(0 AS DOUBLE) END) AS spost_a,
        |  sum(CASE WHEN NOT is_a THEN post ELSE CAST(0 AS DOUBLE) END) AS spost_b,
        |  sum(CASE WHEN is_a THEN pre ELSE CAST(0 AS DOUBLE) END * pre)
        |   AS qpre_a,
        |  sum(CASE WHEN NOT is_a THEN pre ELSE CAST(0 AS DOUBLE) END * pre)
        |   AS qpre_b,
        |  sum(CASE WHEN is_a THEN post ELSE CAST(0 AS DOUBLE) END * post)
        |   AS qpost_a,
        |  sum(CASE WHEN NOT is_a THEN post ELSE CAST(0 AS DOUBLE) END * post)
        |   AS qpost_b,
        |  sum(CASE WHEN is_a THEN pre ELSE CAST(0 AS DOUBLE) END * post)
        |   AS cpp_a,
        |  sum(CASE WHEN NOT is_a THEN pre ELSE CAST(0 AS DOUBLE) END * post)
        |   AS cpp_b
        | FROM p HAVING n_a > 1 AND n_b > 1),
        |s AS (SELECT *, n_a + n_b AS n,
        |  (spre_a + spre_b) / (n_a + n_b) AS mean_pre,
        |  ((cpp_a + cpp_b) - (spre_a + spre_b) * (spost_a + spost_b)
        |    / (n_a + n_b)) / (n_a + n_b - 1) AS cov_pp,
        |  ((qpre_a + qpre_b) - (spre_a + spre_b) * (spre_a + spre_b)
        |    / (n_a + n_b)) / (n_a + n_b - 1) AS var_pre,
        |  ((qpost_a + qpost_b) - (spost_a + spost_b) * (spost_a + spost_b)
        |    / (n_a + n_b)) / (n_a + n_b - 1) AS var_post
        | FROM a)
        |SELECT n_a, n_b,
        | spost_a / n_a AS mean_post_a, spost_b / n_b AS mean_post_b,
        | spost_a / n_a - (cov_pp / var_pre) * (spre_a / n_a - mean_pre)
        |  AS cuped_mean_a,
        | spost_b / n_b - (cov_pp / var_pre) * (spre_b / n_b - mean_pre)
        |  AS cuped_mean_b,
        | cov_pp / var_pre AS theta,
        | cov_pp * cov_pp / (var_pre * var_post) AS var_reduction
        |FROM s WHERE var_pre > 0 AND var_post > 0"""),
    Key("events_ab_mannwhitney")((s, dir) =>
      EventOps.abTestMannWhitney(Tables.events(s, dir)))(
      // rank-sum robustness twin of events_ab_ttest: same md5 coin,
      // midrank ties via the cumulative-count window over the
      // (type, value) tie groups; midranks are exact half-integers →
      // order-independent sums, bit-reproducible (unlike the Welch
      // raw-float class); tie term t³−t in doubles on both engines
      """WITH g AS (SELECT event_type, value,
        | CAST(count(*) AS BIGINT) AS t,
        | CAST(sum(CASE WHEN
        |   substring(md5(CAST(user_id AS VARCHAR) || ':ab42'), 1, 8)
        |     < '80000000' THEN 1 ELSE 0 END) AS BIGINT) AS t_a
        | FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT event_type, t, t_a,
        |  coalesce(CAST(sum(t) OVER (PARTITION BY event_type ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |   + (t + 1) / 2.0 AS midrank
        | FROM g),
        |a AS (SELECT event_type,
        |  CAST(sum(t_a) AS BIGINT) AS n_a,
        |  CAST(sum(t - t_a) AS BIGINT) AS n_b,
        |  sum(midrank * t_a) AS r_a,
        |  sum(CAST(t AS DOUBLE) * CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
        |    - CAST(t AS DOUBLE)) AS ties
        | FROM r GROUP BY 1),
        |s AS (SELECT event_type, n_a, n_b, r_a,
        |  r_a - CAST(n_a AS DOUBLE) * (n_a + 1.0) / 2.0 AS u_a,
        |  CAST(n_a AS DOUBLE) * n_b / 12.0 * ((n_a + n_b + 1.0)
        |    - ties / (CAST(n_a + n_b AS DOUBLE)
        |      * (n_a + n_b - 1.0))) AS var_u
        | FROM a WHERE n_a > 0 AND n_b > 0)
        |SELECT event_type, n_a, n_b, r_a AS rank_sum_a, u_a,
        | (u_a - CAST(n_a AS DOUBLE) * n_b / 2.0) / sqrt(var_u) AS z_u
        |FROM s WHERE var_u > 0"""),
    Key("events_ab_mde")((s, dir) =>
      EventOps.abTestMde(Tables.events(s, dir))) {
      // same six sufficient statistics + clamps as events_ab_ttest;
      // the z-quantile sum is ONE pre-added double literal on both
      // engines (adding two literals engine-side could differ in
      // constant-folding order)
      val z = (1.959963984540054 + 0.8416212335729143).toString
      s"""WITH $abMomentsCtes,
         |w AS (SELECT event_type, n_a, n_b, s_b,
         |  greatest((q_a - s_a * s_a / n_a) / (n_a - 1), 0) / n_a
         |   + greatest((q_b - s_b * s_b / n_b) / (n_b - 1), 0) / n_b AS se2
         | FROM a)
         |SELECT event_type, n_a, n_b,
         | $z * sqrt(se2) AS mde_abs,
         | ($z * sqrt(se2)) / (s_b / n_b) AS mde_rel
         |FROM w WHERE se2 > 0 AND s_b != 0"""
    },
    Key("events_ab_srm")((s, dir) =>
      EventOps.abSrmCheck(Tables.events(s, dir)))(
      // distinct USERS per arm (the randomization unit), chi-square
      // GOF vs 50/50, flag at the fixed χ²₁(0.95) literal — exact
      // integer inputs make the flag deterministic on both engines
      s"""WITH g AS (SELECT event_type, user_id,
        | $abCoinSql
        | FROM events),
        |a AS (SELECT event_type,
        |  CAST(count(DISTINCT CASE WHEN is_a THEN user_id END) AS BIGINT)
        |   AS n_a,
        |  CAST(count(DISTINCT CASE WHEN NOT is_a THEN user_id END) AS BIGINT)
        |   AS n_b
        | FROM g GROUP BY 1 HAVING n_a + n_b > 0),
        |c AS (SELECT event_type, n_a, n_b,
        |  (n_a - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |   * (n_a - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |   / (CAST(n_a + n_b AS DOUBLE) / 2.0)
        |  + (n_b - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |   * (n_b - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |   / (CAST(n_a + n_b AS DOUBLE) / 2.0) AS chi2
        | FROM a)
        |SELECT event_type, n_a, n_b, chi2,
        | chi2 > 3.841458820694124 AS srm_flag
        |FROM c"""),
    Key("events_disorder_profile")((s, dir) =>
      EventOps.disorderProfile(Tables.events(s, dir)))(
      // per-user running-max lateness in exact µs, ingest order =
      // event_id; O(buckets) histogram with one share quotient
      """WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS us
        | FROM events),
        |l AS (SELECT max(us) OVER (PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us
        |  AS late_us FROM t),
        |b AS (SELECT late_us,
        |  CASE WHEN late_us = 0 THEN 0 WHEN late_us < 60000000 THEN 1
        |       WHEN late_us < 600000000 THEN 2
        |       WHEN late_us < 3600000000 THEN 3 ELSE 4 END AS bucket_idx,
        |  CASE WHEN late_us = 0 THEN 'in_order'
        |       WHEN late_us < 60000000 THEN 'lt_1m'
        |       WHEN late_us < 600000000 THEN 'lt_10m'
        |       WHEN late_us < 3600000000 THEN 'lt_1h'
        |       ELSE 'ge_1h' END AS bucket
        | FROM l),
        |h AS (SELECT CAST(bucket_idx AS BIGINT) AS bucket_idx, bucket,
        |  count(*) AS n_events, max(late_us) AS max_late_us
        | FROM b GROUP BY 1, 2),
        |tt AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM h)
        |SELECT bucket_idx, bucket, n_events,
        | round(CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
        | max_late_us
        |FROM h, tt"""),
    Key("events_audience_overlap_exact")((s, dir) =>
      EventOps.audienceOverlapExact(Tables.events(s, dir)))(
      // distinct (type,user) self-join, every pair emits (zero
      // overlap included); Jaccard = one quotient of exact longs
      """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |pt AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |iv AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS ov
        | FROM ut a JOIN ut b ON a.user_id = b.user_id
        |  AND a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT pa.event_type AS type_a, pb.event_type AS type_b,
        | pa.n AS users_a, pb.n AS users_b,
        | coalesce(iv.ov, 0) AS overlap,
        | round(CAST(coalesce(iv.ov, 0) AS DOUBLE)
        |  / CAST(pa.n + pb.n - coalesce(iv.ov, 0) AS DOUBLE), 6) AS jaccard
        |FROM pt pa JOIN pt pb ON pa.event_type < pb.event_type
        | LEFT JOIN iv ON iv.type_a = pa.event_type
        |  AND iv.type_b = pb.event_type"""),
    Key("events_value_psi")((s, dir) =>
      EventOps.valuePsi(Tables.events(s, dir))) {
      val probs = (1 to 9).map(_ / 10.0)
      val bucketExpr = probs.indices.map(i =>
        s"CASE WHEN value > cs[${i + 1}] THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH e AS (SELECT value, CAST(ts AS DATE) AS day FROM events),
         |m AS (SELECT min(day) + CAST(floor(
         |  date_diff('day', min(day), max(day)) / 2) AS INTEGER) AS mid
         | FROM e),
         |t AS (SELECT value, day <= m.mid AS is_a FROM e, m),
         |c AS (SELECT quantile_cont(value,
         |  [${probs.mkString(", ")}]) AS cs FROM t WHERE is_a),
         |b AS (SELECT CAST($bucketExpr AS BIGINT) AS bucket, is_a
         | FROM t, c),
         |g AS (SELECT bucket,
         |  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
         | FROM b GROUP BY 1),
         |p AS (SELECT bucket, n_a, n_b,
         |  (n_a + 0.5) / (CAST(sum(n_a) OVER () AS BIGINT) + 5.0) AS p_a,
         |  (n_b + 0.5) / (CAST(sum(n_b) OVER () AS BIGINT) + 5.0) AS p_b
         | FROM g),
         |${psiTermsSql("bucket")}"""
    },
    Key("events_markov_stationary")((s, dir) =>
      EventOps.markovStationary(Tables.events(s, dir))) {
      // the power iterations unrolled as CTEs (the pagerank oracle
      // pattern); identical frac/seed expressions, rounded 1e-9
      val steps = 6
      val body = (1 to steps).map(i =>
        s"s$i AS (SELECT f.next_type AS state, sum(s${i - 1}.p * f.frac) AS p " +
          s"FROM frac f JOIN s${i - 1} ON f.prev_type = s${i - 1}.state " +
          "GROUP BY 1)").mkString(", ")
      """WITH tr AS (SELECT prev_type, next_type, count(*) AS n FROM (
        | SELECT user_id, event_type AS next_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev_type
        | FROM events) x WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |deg AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS d
        | FROM tr GROUP BY 1),
        |frac AS (SELECT tr.prev_type AS prev_type, tr.next_type AS next_type,
        |  CAST(tr.n AS DOUBLE) / CAST(deg.d AS DOUBLE) AS frac
        | FROM tr JOIN deg ON tr.prev_type = deg.prev_type),
        |s0 AS (SELECT prev_type AS state,
        |  1.0 / (SELECT count(*) FROM deg) AS p FROM deg),
        |""" + body +
        s" SELECT state, round(p, 9) AS p_stationary FROM s$steps"
    },
    Key("events_activity_powerlaw")((s, dir) =>
      EventOps.activityPowerlaw(Tables.events(s, dir)))(
      // Clauset–Shalizi–Newman continuous-approx MLE at xmin=2
      """WITH pu AS (SELECT user_id, count(*) AS x FROM events GROUP BY 1),
        |a AS (SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN x >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
        |  sum(CASE WHEN x >= 2 THEN ln(x * 1.0 / 1.5) ELSE 0.0 END)
        |   AS logsum,
        |  max(x) AS max_events FROM pu)
        |SELECT n_users, n_tail, max_events,
        | round(n_tail * 1.0 / n_users, 6) AS tail_frac,
        | CASE WHEN logsum = 0.0 THEN NULL
        |  ELSE round(1.0 + n_tail / logsum, 6) END AS alpha
        |FROM a"""),
    Key("events_session_cooccur")((s, dir) =>
      EventOps.sessionCooccur(Tables.events(s, dir)))(
      // the shared lag+cumsum session CTE, then distinct
      // session×type sets self-joined (type alphabet bounds the
      // fan-out); lift = n_together·N / (n_a·n_b) on exact longs
      s"""WITH flagged AS (
        | SELECT user_id, ts, event_id, event_type,
        |  $newSessionSql),
        |numbered AS (
        | SELECT user_id, event_type,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        | FROM flagged),
        |st AS (SELECT DISTINCT user_id, session_seq, event_type FROM numbered),
        |ns AS (SELECT count(*) AS n_sessions FROM
        |  (SELECT DISTINCT user_id, session_seq FROM st)),
        |pt AS (SELECT event_type, count(*) AS n FROM st GROUP BY 1),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS n_together
        | FROM st a JOIN st b ON a.user_id = b.user_id
        |  AND a.session_seq = b.session_seq AND a.event_type < b.event_type
        | GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT type_a, type_b, n_together, pa.n AS n_a, pb.n AS n_b,
        | round(CAST(n_together * n_sessions AS DOUBLE)
        |  / CAST(pa.n * pb.n AS DOUBLE), 6) AS lift
        |FROM pr JOIN pt pa ON pa.event_type = pr.type_a
        | JOIN pt pb ON pb.event_type = pr.type_b, ns"""),
  )
}
