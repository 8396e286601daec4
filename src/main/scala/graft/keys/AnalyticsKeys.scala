package graft
package keys

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import OracleFragments._
import Shared._

/** The analytics keys (`q*`, `sketch_*`): relational queries over the
  * retail and event tables. */
private[graft] object AnalyticsKeys extends Family("q", "sketch_") {

  lazy val q3TopUnshipped: Key = Key("q3_top_unshipped")((s, dir) =>
    Analytics.topRevenueOrders(Tables.customer(s, dir), Tables.orders(s, dir),
      Tables.lineitem(s, dir)))(
    """SELECT o_orderkey, o_orderdate,
      | sum(l_extendedprice * (1 - l_discount)) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |GROUP BY o_orderkey, o_orderdate
      |ORDER BY revenue DESC, o_orderkey LIMIT 10""")

  lazy val qTopnPerGroup: Key = Key("q_topn_per_group")((s, dir) =>
    Analytics.topCustomersPerSegment(Tables.customer(s, dir))
      .withColumn("rank_in_segment", col("rank_in_segment").cast("long")))(
    """SELECT c_mktsegment, rank_in_segment, c_custkey, c_name, c_acctbal FROM (
      | SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
      |  row_number() OVER (PARTITION BY c_mktsegment
      |    ORDER BY c_acctbal DESC, c_custkey) AS rank_in_segment
      | FROM customer) r WHERE rank_in_segment <= 5""")

  lazy val qBrandRevenue: Key = Key("q_brand_revenue")((s, dir) =>
    Analytics.brandRevenue(Tables.lineitem(s, dir), Tables.part(s, dir)))(
    """SELECT p_brand, p_type,
      | sum(l_extendedprice * (1 - l_discount)) AS revenue,
      | sum(l_quantity) AS total_qty, count(*) AS num_lines
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |GROUP BY p_brand, p_type""")

  lazy val qEventsSessionize: Key = Key("q_events_sessionize")((s, dir) =>
    EventOps.sessionize(Tables.events(s, dir)))(
    s"""WITH flagged AS (
      | SELECT user_id, ts, event_id, value,
      |  $newSessionSql),
      |numbered AS (
      | SELECT user_id, ts, value,
      |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
      | FROM flagged)
      |SELECT user_id, session_seq, min(ts) AS session_start,
      | max(ts) AS session_end, count(*) AS num_events, sum(value) AS total_value
      |FROM numbered GROUP BY user_id, session_seq""")

  lazy val qSessionWindow: Key = Key("q_session_window")((s, dir) =>
    EventOps.sessionWindows(Tables.events(s, dir)))(
    """WITH flagged AS (
      | SELECT user_id, ts, event_id, value,
      |  CASE WHEN lag(ts) OVER w IS NULL
      |       OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |numbered AS (
      | SELECT user_id, ts, value,
      |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
      | FROM flagged)
      |SELECT user_id, min(ts) AS session_start,
      | max(ts) + INTERVAL 30 MINUTE AS session_end,
      | count(*) AS num_events, sum(value) AS total_value
      |FROM numbered GROUP BY user_id, session_seq""")

  lazy val qEventsFunnel: Key = Key("q_events_funnel")((s, dir) =>
    EventOps.funnel(Tables.events(s, dir)))(
    """WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
      |  WHERE event_type = 'signup' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
      |  JOIN s ON e.user_id = s.user_id AND e.ts > s.signup_ts
      |  WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
      |  JOIN c ON e.user_id = c.user_id AND e.ts > c.click_ts
      |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT (SELECT count(*) FROM s) AS n_signup,
      | (SELECT count(*) FROM c) AS n_click_after,
      | (SELECT count(*) FROM p) AS n_purchase_after""")

  lazy val qNewVsReturning: Key = Key("q_new_vs_returning")((s, dir) =>
    EventOps.newVsReturning(Tables.events(s, dir)))(
    """WITH daily AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      |  FROM events),
      |f AS (SELECT user_id, CAST(min(ts) AS DATE) AS first_day
      |  FROM events GROUP BY 1)
      |SELECT day,
      | CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      | CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT)
      |  AS n_returning,
      | count(*) AS n_active
      |FROM daily JOIN f USING (user_id) GROUP BY 1""")

  lazy val keys: Seq[Key] = Seq(
    Key("q1_pricing_summary")((s, dir) => Analytics.pricingSummary(Tables.lineitem(s, dir)))(
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | sum(l_extendedprice) AS sum_base_price,
        | sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        | sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
        | avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price,
        | avg(l_discount) AS avg_disc, count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
    q3TopUnshipped,
    Key("q3_bloom_pruned")((s, dir) =>
      Analytics.topRevenueOrdersBloom(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir)))(
      // Bloom pruning changes the physical plan, never the result
      q3TopUnshipped.sql),
    Key("q5_regional_revenue")((s, dir) =>
      Analytics.regionalRevenue(Tables.region(s, dir), Tables.nation(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), regionName = "ASIA"))(
      """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY n_name"""),
    Key("q_customer_enrich")((s, dir) =>
      Analytics.enrichOrders(Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir)))(
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
        | c_name AS customer_name, c_mktsegment AS segment, n_name AS nation
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey"""),
    qTopnPerGroup,
    Key("q_topn_per_group_agg")((s, dir) =>
      Analytics.topCustomersPerSegmentAgg(Tables.customer(s, dir)))(
      qTopnPerGroup.sql),
    Key("q_running_totals")((s, dir) => Analytics.runningTotals(Tables.orders(s, dir)))(
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        | sum(o_totalprice) OVER w AS running_total,
        | avg(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg_3
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"""),
    Key("q_rolling_revenue")((s, dir) =>
      Analytics.rollingRevenue(Tables.lineitem(s, dir)))(
      // revenue as exact integer (cents × integer discount-percent)
      // so the sliding RANGE-frame sum is order-independent; one
      // division at the end
      """WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
        | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |   * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS c,
        | count(*) AS n FROM lineitem GROUP BY 1)
        |SELECT day, c / 10000.0 AS day_revenue,
        | CAST(sum(c) OVER w AS BIGINT) / 10000.0 AS rev_window,
        | CAST(sum(n) OVER w AS BIGINT) AS lines_window,
        | count(*) OVER w AS active_days
        |FROM d WINDOW w AS (ORDER BY day
        | RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)"""),
    Key("q_copurchase_pagerank")((s, dir) =>
      Analytics.copurchasePagerank(sharedBasketPairs(s, dir)))(
      // the three power iterations unrolled as CTEs; every engine-
      // crossing expression is written identically (frac, teleport,
      // damped sum), final score rounded at 1e-9 vs ~1e-17 error
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ok AS (SELECT l_orderkey FROM b GROUP BY 1 HAVING count(*) <= 20),
        |g AS (SELECT b.* FROM b JOIN ok USING (l_orderkey)),
        |up AS (SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
        |  count(*) AS w FROM g x JOIN g y ON x.l_orderkey = y.l_orderkey
        |  AND x.l_partkey < y.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT part_a AS src, part_b AS dst, w FROM up
        |  UNION ALL SELECT part_b, part_a, w FROM up),
        |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM e GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM deg),
        |f AS (SELECT e.src, e.dst,
        |  CAST(e.w AS DOUBLE) / CAST(d.wdeg AS DOUBLE) AS frac
        | FROM e JOIN deg d ON d.src = e.src),
        |p0 AS (SELECT src AS id, 1.0 / nn AS pr FROM deg, n),
        |p1 AS (SELECT f.dst AS id,
        |  (1.0 - 0.85) / max(n.nn) + 0.85 * sum(p.pr * f.frac) AS pr
        | FROM f JOIN p0 p ON p.id = f.src, n GROUP BY f.dst),
        |p2 AS (SELECT f.dst AS id,
        |  (1.0 - 0.85) / max(n.nn) + 0.85 * sum(p.pr * f.frac) AS pr
        | FROM f JOIN p1 p ON p.id = f.src, n GROUP BY f.dst),
        |p3 AS (SELECT f.dst AS id,
        |  (1.0 - 0.85) / max(n.nn) + 0.85 * sum(p.pr * f.frac) AS pr
        | FROM f JOIN p2 p ON p.id = f.src, n GROUP BY f.dst)
        |SELECT id AS part_id, round(pr, 9) AS pagerank FROM p3"""),
    Key("q_copurchase_triangles")((s, dir) =>
      Analytics.copurchaseTriangles(sharedBasketPairs(s, dir)))(
      // oriented a<b edges generate each triangle a<b<c exactly once
      // ((a,b)⋈(b,c) closed by (a,c)); wedges from the degree sums,
      // integer `//` halving (both even by construction); DuckDB
      // BIGINT sums CAST back from HUGEINT
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ok AS (SELECT l_orderkey FROM b GROUP BY 1 HAVING count(*) <= 20),
        |g AS (SELECT b.* FROM b JOIN ok USING (l_orderkey)),
        |e AS (SELECT x.l_partkey AS a, y.l_partkey AS c
        |  FROM g x JOIN g y ON x.l_orderkey = y.l_orderkey
        |  AND x.l_partkey < y.l_partkey GROUP BY 1, 2
        |  HAVING count(*) >= 2),
        |tri AS (SELECT count(*) AS n_tri FROM e e1
        |  JOIN e e2 ON e2.a = e1.c
        |  JOIN e e3 ON e3.a = e1.a AND e3.c = e2.c),
        |deg AS (SELECT v, count(*) AS d FROM (
        |  SELECT a AS v FROM e UNION ALL SELECT c FROM e) GROUP BY 1)
        |SELECT count(*) AS n_nodes,
        | CAST(sum(d) // 2 AS BIGINT) AS n_edges,
        | (SELECT n_tri FROM tri) AS n_triangles,
        | CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges,
        | CASE WHEN CAST(sum(d * (d - 1)) // 2 AS BIGINT) = 0 THEN NULL
        |  ELSE round(3.0 * (SELECT n_tri FROM tri)
        |   / CAST(CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS DOUBLE), 9)
        | END AS global_clustering
        |FROM deg"""),
    Key("q_basket_chi2")((s, dir) =>
      Analytics.basketChi2(sharedBasketTrunk(s, dir)))(
      // 2×2 contingency per guarded pair; delta exact in BIGINT,
      // then ONE float expression in the same multiply order
      """WITH bb AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ok AS (SELECT l_orderkey FROM bb GROUP BY 1 HAVING count(*) <= 20),
        |g AS (SELECT bb.* FROM bb JOIN ok USING (l_orderkey)),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM g),
        |po AS (SELECT l_partkey, count(*) AS n_orders_part FROM g GROUP BY 1),
        |pr AS (SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
        |  count(*) AS n_together
        | FROM g x JOIN g y ON x.l_orderkey = y.l_orderkey
        |  AND x.l_partkey < y.l_partkey GROUP BY 1, 2
        | HAVING count(*) >= 2),
        |j AS (SELECT part_a, part_b, n_together,
        |  pa.n_orders_part AS n_a, pb.n_orders_part AS n_b, n_orders
        | FROM pr JOIN po pa ON pa.l_partkey = pr.part_a
        |  JOIN po pb ON pb.l_partkey = pr.part_b, n)
        |SELECT part_a, part_b, n_together, n_a, n_b,
        | CASE WHEN CAST(n_a AS DOUBLE) * CAST((n_orders - n_a - n_b
        |     + n_together) + n_b - n_together AS DOUBLE)
        |    * CAST(n_b AS DOUBLE) * CAST(n_orders - n_b AS DOUBLE) = 0.0
        |  THEN NULL
        |  ELSE round(CAST(n_orders AS DOUBLE)
        |   * CAST(n_together * (n_orders - n_a - n_b + n_together)
        |      - (n_a - n_together) * (n_b - n_together) AS DOUBLE)
        |   * CAST(n_together * (n_orders - n_a - n_b + n_together)
        |      - (n_a - n_together) * (n_b - n_together) AS DOUBLE)
        |   / (CAST(n_a AS DOUBLE) * CAST(n_orders - n_a AS DOUBLE)
        |    * CAST(n_b AS DOUBLE) * CAST(n_orders - n_b AS DOUBLE)), 6)
        | END AS chi2,
        | n_together * n_orders > n_a * n_b AS positive
        |FROM j"""),
    Key("q_revenue_autocorr")((s, dir) =>
      Analytics.revenueAutocorr(Tables.lineitem(s, dir)))(
      // Pearson r per calendar lag from exact integer sum identities
      // (HUGEINT — cents² crosses 2^63); identical expression shape
      // both engines: ints → double casts → one quotient → round
      s"""WITH $dailyRevenueCte,
        |d AS (SELECT date_diff('day', DATE '1970-01-01', day) AS ed, x
        | FROM daily),
        |l AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 8)),
        |p AS (SELECT l.lag, a.x AS a, b.x AS b
        | FROM d a CROSS JOIN l JOIN d b ON b.ed = a.ed + l.lag),
        |s AS (SELECT lag, count(*) AS n_pairs, sum(a) AS sa, sum(b) AS sb,
        | sum(a * b) AS sab, sum(a * a) AS saa, sum(b * b) AS sbb
        | FROM p GROUP BY 1)
        |SELECT lag, n_pairs,
        | CASE WHEN CAST(n_pairs * saa - sa * sa AS DOUBLE) <= 0.0
        |   OR CAST(n_pairs * sbb - sb * sb AS DOUBLE) <= 0.0 THEN NULL
        |  ELSE round(CAST(n_pairs * sab - sa * sb AS DOUBLE)
        |   / sqrt(CAST(n_pairs * saa - sa * sa AS DOUBLE)
        |        * CAST(n_pairs * sbb - sb * sb AS DOUBLE)), 9)
        | END AS autocorr
        |FROM s"""),
    Key("q_purchase_streaks")((s, dir) =>
      Analytics.purchaseStreaks(Tables.orders(s, dir)))(
      // gaps-and-islands: month_index − row_number is constant
      // within a consecutive-month run on both engines
      """WITH months AS (SELECT DISTINCT o_custkey,
        |  year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS m
        | FROM orders),
        |runs AS (SELECT o_custkey,
        |  m - row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
        | FROM months),
        |islands AS (SELECT o_custkey, grp, count(*) AS len
        | FROM runs GROUP BY 1, 2)
        |SELECT o_custkey, CAST(sum(len) AS BIGINT) AS n_active_months,
        | count(*) AS n_streaks, max(len) AS longest_streak
        |FROM islands GROUP BY 1"""),
    Key("q_survival_curve")((s, dir) =>
      Analytics.survivalCurve(Tables.orders(s, dir)))(
      // KM product via DuckDB's windowed product() in ascending-t
      // order — the same multiply order as the Spark-side fold;
      // censoring reduces n_risk, never the product
      """WITH per AS (SELECT o_custkey,
        |  min(CAST(o_orderdate AS DATE)) AS f,
        |  max(CAST(o_orderdate AS DATE)) AS l
        | FROM orders GROUP BY 1),
        |e AS (SELECT max(l) AS end_day FROM per),
        |g AS (SELECT date_diff('day', f, l) AS t,
        |  CAST(sum(CASE WHEN date_diff('day', l, end_day) > 90
        |    THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |  CAST(sum(CASE WHEN date_diff('day', l, end_day) > 90
        |    THEN 0 ELSE 1 END) AS BIGINT) AS c
        | FROM per, e GROUP BY 1),
        |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM g),
        |r AS (SELECT t, d, c,
        |  n - CAST(coalesce(sum(d + c) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS BIGINT) AS n_risk
        | FROM g, tot)
        |SELECT t AS t_days, n_risk, d AS n_events, c AS n_censored,
        | round(product(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |     AND CURRENT ROW), 9) AS survival
        |FROM r"""),
    Key("q_holt_forecast")((s, dir) =>
      Analytics.holtForecast(Tables.lineitem(s, dir)))(
      // the identical recursion as a recursive CTE; (1 - 0.3) left
      // unevaluated — the literal 0.7 is a DIFFERENT double
      s"""WITH RECURSIVE $monthlyRevenueCte,
        |s AS (SELECT mth, CAST(c AS DOUBLE) / 10000.0 AS x,
        |  row_number() OVER (ORDER BY mth) AS i FROM m),
        |r AS (
        | SELECT i, mth, x, x AS lvl, CAST(0.0 AS DOUBLE) AS tr,
        |  CAST(NULL AS DOUBLE) AS fitted FROM s WHERE i = 1
        | UNION ALL
        | SELECT s.i, s.mth, s.x,
        |  0.3 * s.x + (1 - 0.3) * (r.lvl + r.tr),
        |  0.1 * ((0.3 * s.x + (1 - 0.3) * (r.lvl + r.tr)) - r.lvl)
        |   + (1 - 0.1) * r.tr,
        |  r.lvl + r.tr
        | FROM r JOIN s ON s.i = r.i + 1)
        |SELECT mth AS month, round(x, 6) AS revenue,
        | round(lvl, 6) AS level, round(tr, 6) AS trend,
        | round(fitted, 6) AS fitted
        |FROM r"""),
    // seasonal extension (r15): level + trend + rotating 12-slot
    // seasonal index; init from exact cent sums, recursion unrolled
    // in the oracle with the seasonal LIST as recursive state
    Key("q_holtwinters_forecast")((s, dir) =>
      Analytics.holtWintersForecast(Tables.lineitem(s, dir)))(
      // the triple-smoothing recursion with the rotating seasonal
      // LIST as recursive state: sl[1] is the current month's index,
      // consumed from the head, re-appended updated at the tail; the
      // l2 expression repeats inline in t2/s2/tail (a recursive CTE
      // step cannot name intermediates) and every (1 - k) stays
      // unevaluated — the holtForecast double-identity convention
      s"""WITH RECURSIVE $monthlyRevenueCte,
        |s AS (SELECT mth, c, CAST(c AS DOUBLE) / 10000.0 AS x,
        |  row_number() OVER (ORDER BY mth) AS i FROM m),
        |$holtWintersInitCtes,
        |r AS (
        | SELECT CAST(12 AS BIGINT) AS i, CAST(NULL AS DATE) AS mth,
        |  CAST(NULL AS DOUBLE) AS x,
        |  (SELECT m1 FROM init) AS lvl,
        |  (SELECT (m2 - m1) / 12.0 FROM init) AS tr,
        |  CAST(NULL AS DOUBLE) AS snew, CAST(NULL AS DOUBLE) AS fitted,
        |  (SELECT sl FROM seas0) AS sl
        | UNION ALL
        | SELECT s.i, s.mth, s.x,
        |  0.3 * (s.x - r.sl[1]) + (1 - 0.3) * (r.lvl + r.tr),
        |  0.1 * ((0.3 * (s.x - r.sl[1]) + (1 - 0.3) * (r.lvl + r.tr))
        |    - r.lvl) + (1 - 0.1) * r.tr,
        |  0.2 * (s.x - (0.3 * (s.x - r.sl[1])
        |    + (1 - 0.3) * (r.lvl + r.tr))) + (1 - 0.2) * r.sl[1],
        |  r.lvl + r.tr + r.sl[1],
        |  r.sl[2:12] || [0.2 * (s.x - (0.3 * (s.x - r.sl[1])
        |    + (1 - 0.3) * (r.lvl + r.tr))) + (1 - 0.2) * r.sl[1]]
        | FROM r JOIN s ON s.i = r.i + 1)
        |SELECT mth AS month, round(x, 4) AS revenue,
        | round(lvl, 4) AS level, round(tr, 4) AS trend,
        | round(snew, 4) AS seasonal, round(fitted, 4) AS fitted
        |FROM r WHERE i > 12"""),
    // the model-selection readout: one-step-ahead MAE/MAPE per
    // smoother, computed on the published (rounded) fitted columns
    Key("q_forecast_backtest")((s, dir) =>
      Analytics.forecastBacktest(Tables.lineitem(s, dir)))(
      // BOTH recursion chains composed verbatim (the holt and
      // holt-winters oracles' CTEs side by side over one monthly
      // series), errors on the ROUNDED published columns
      s"""WITH RECURSIVE $monthlyRevenueCte,
        |s AS (SELECT mth, c, CAST(c AS DOUBLE) / 10000.0 AS x,
        |  row_number() OVER (ORDER BY mth) AS i FROM m),
        |rh AS (
        | SELECT i, x, x AS lvl, CAST(0.0 AS DOUBLE) AS tr,
        |  CAST(NULL AS DOUBLE) AS fitted FROM s WHERE i = 1
        | UNION ALL
        | SELECT s.i, s.x,
        |  0.3 * s.x + (1 - 0.3) * (rh.lvl + rh.tr),
        |  0.1 * ((0.3 * s.x + (1 - 0.3) * (rh.lvl + rh.tr)) - rh.lvl)
        |   + (1 - 0.1) * rh.tr,
        |  rh.lvl + rh.tr
        | FROM rh JOIN s ON s.i = rh.i + 1),
        |$holtWintersInitCtes,
        |rw AS (
        | SELECT CAST(12 AS BIGINT) AS i, CAST(NULL AS DOUBLE) AS x,
        |  (SELECT m1 FROM init) AS lvl,
        |  (SELECT (m2 - m1) / 12.0 FROM init) AS tr,
        |  CAST(NULL AS DOUBLE) AS fitted,
        |  (SELECT sl FROM seas0) AS sl
        | UNION ALL
        | SELECT s.i, s.x,
        |  0.3 * (s.x - rw.sl[1]) + (1 - 0.3) * (rw.lvl + rw.tr),
        |  0.1 * ((0.3 * (s.x - rw.sl[1]) + (1 - 0.3) * (rw.lvl + rw.tr))
        |    - rw.lvl) + (1 - 0.1) * rw.tr,
        |  rw.lvl + rw.tr + rw.sl[1],
        |  rw.sl[2:12] || [0.2 * (s.x - (0.3 * (s.x - rw.sl[1])
        |    + (1 - 0.3) * (rw.lvl + rw.tr))) + (1 - 0.2) * rw.sl[1]]
        | FROM rw JOIN s ON s.i = rw.i + 1),
        |u AS (SELECT 'holt' AS model, round(x, 6) AS revenue,
        |  round(fitted, 6) AS fitted FROM rh
        |  WHERE fitted IS NOT NULL AND i > 12
        | UNION ALL SELECT 'holt_winters', round(x, 4), round(fitted, 4)
        | FROM rw WHERE i > 12)
        |SELECT model, count(*) AS n_months,
        | round(avg(abs(revenue - fitted)), 2) AS mae,
        | round(avg(abs(revenue - fitted) / revenue), 6) AS mape
        |FROM u GROUP BY model"""),
    Key("q_decile_lift")((s, dir) =>
      Analytics.decileLift(Tables.orders(s, dir)))(
      // plain ntile here; the Spark side reproduces ANSI ntile
      // arithmetically over its banded exact rank
      """WITH spend AS (SELECT o_custkey,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS c
        | FROM orders GROUP BY 1),
        |d AS (SELECT o_custkey, c,
        |  ntile(10) OVER (ORDER BY c DESC, o_custkey) AS decile
        | FROM spend),
        |g AS (SELECT decile, count(*) AS n_customers,
        |  CAST(sum(c) AS BIGINT) AS dc FROM d GROUP BY 1)
        |SELECT CAST(decile AS BIGINT) AS decile, n_customers,
        | CAST(dc AS DOUBLE) / 100.0 AS revenue,
        | round(dc * 1.0 / CAST(sum(dc) OVER () AS BIGINT), 6)
        |  AS revenue_share,
        | round(CAST(sum(dc) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   * 1.0 / CAST(sum(dc) OVER () AS BIGINT), 6) AS cum_share
        |FROM g"""),
    Key("q_revenue_changepoint")((s, dir) =>
      Analytics.revenueChangepoint(Tables.lineitem(s, dir)))(
      // cusum kept in the scaled integer form prefix·nd − rn·total
      // (int128 / decimal(38,0)) so the peak compare is exact; both
      // engines convert the SAME integer to double at the end
      """WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS day,
        | sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |   * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS c
        | FROM lineitem GROUP BY 1),
        |s AS (SELECT day, c,
        |  sum(c) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |   AND CURRENT ROW) AS prefix,
        |  row_number() OVER (ORDER BY day) AS rn,
        |  sum(c) OVER () AS total, count(*) OVER () AS nd FROM daily),
        |cu AS (SELECT day, c, nd,
        |  prefix * nd - rn * total AS cusum_scaled FROM s),
        |pk AS (SELECT *, max(abs(cusum_scaled)) OVER () AS peak FROM cu)
        |SELECT day, CAST(c AS DOUBLE) / 10000.0 AS day_revenue,
        | CAST(cusum_scaled AS DOUBLE)
        |  / (CAST(nd AS DOUBLE) * 10000.0) AS cusum,
        | abs(cusum_scaled) = peak AS is_changepoint
        |FROM pk"""),
    Key("q_supplier_reliability")((s, dir) =>
      Analytics.supplierReliability(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.supplier(s, dir)))(
      // the Wilson bound is a fixed closed form over the exact
      // (n_lines, n_late) integers — written with the identical
      // sub-expression shapes as the Spark side, so no rounding
      """WITH st AS (SELECT l_suppkey, count(*) AS n_lines,
        | CAST(sum(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) > 90 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_late
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1)
        |SELECT s_suppkey, s_name, n_lines, n_late,
        | CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE) AS late_rate,
        | ((CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE)
        |    + 1.96 * 1.96 / (2.0 * CAST(n_lines AS DOUBLE)))
        |  - 1.96 * sqrt((CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE)
        |     * (1.0 - CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE))
        |     + 1.96 * 1.96 / (4.0 * CAST(n_lines AS DOUBLE)))
        |    / CAST(n_lines AS DOUBLE)))
        | / (1.0 + 1.96 * 1.96 / CAST(n_lines AS DOUBLE))
        |  AS late_rate_wilson_lb
        |FROM st JOIN supplier ON l_suppkey = s_suppkey"""),
    Key("q_semi_anti")((s, dir) =>
      Analytics.customerOrderPresence(Tables.customer(s, dir), Tables.orders(s, dir)))(
      """SELECT c_custkey, c_name, 'has_order' AS status FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, c_name, 'no_order' AS status FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)"""),
    Key("q_rollup_revenue")((s, dir) =>
      Analytics.rollupRevenue(Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir)))(
      """SELECT n_name, c_mktsegment,
        | sum(o_totalprice) AS revenue, count(*) AS num_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment)"""),
    Key("q_cube_revenue")((s, dir) =>
      Analytics.cubeRevenue(Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir)))(
      """SELECT n_name, c_mktsegment,
        | sum(o_totalprice) AS revenue, count(*) AS num_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE (n_name, c_mktsegment)"""),
    Key("q_order_gaps")((s, dir) => Analytics.orderGaps(Tables.orders(s, dir)))(
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        | date_diff('day',
        |  lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey),
        |  CAST(o_orderdate AS DATE)) AS days_since_prev
        |FROM orders"""),
    Key("q_set_ops")((s, dir) =>
      Analytics.segmentSpenderSets(Tables.orders(s, dir), Tables.customer(s, dir)))(
      """WITH big AS (SELECT o_custkey AS c_custkey FROM orders
        |  GROUP BY o_custkey HAVING sum(o_totalprice) > 2500000.0),
        |seg AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |SELECT c_custkey, 'segment_and_big' AS tag
        | FROM (SELECT c_custkey FROM seg INTERSECT SELECT c_custkey FROM big) i
        |UNION ALL
        |SELECT c_custkey, 'segment_only' AS tag
        | FROM (SELECT c_custkey FROM seg EXCEPT SELECT c_custkey FROM big) e"""),
    qBrandRevenue,
    Key("q_percentiles")((s, dir) =>
      Analytics.orderValuePercentiles(Tables.orders(s, dir), Tables.customer(s, dir)))(
      """SELECT c_mktsegment,
        | quantile_cont(o_totalprice, 0.5) AS p50,
        | quantile_cont(o_totalprice, 0.9) AS p90,
        | quantile_cont(o_totalprice, 0.99) AS p99
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment"""),
    Key("q_interval_join")((s, dir) =>
      operators.RangeJoin.eventImpactWindows(Tables.events(s, dir), "error", 300L))(
      """SELECT e.event_id AS window_id, p.event_type,
        | count(*) AS n_events
        |FROM events e JOIN events p
        | ON p.ts >= e.ts AND p.ts < e.ts + INTERVAL 300 SECONDS
        |WHERE e.event_type = 'error'
        |GROUP BY 1, 2"""),
    Key("q_profit_nation_year")((s, dir) =>
      Analytics.profitByNationYear(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir)))(
      """SELECT n_name AS nation,
        | CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
        | sum(l_extendedprice * (1 - l_discount)) AS profit
        |FROM lineitem
        | JOIN part ON p_partkey = l_partkey AND p_type = 'STANDARD'
        | JOIN supplier ON s_suppkey = l_suppkey
        | JOIN nation ON n_nationkey = s_nationkey
        | JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1, 2"""),
    Key("q_events_hourly")((s, dir) =>
      EventOps.hourlyStats(Tables.events(s, dir), withApproxUsers = false))(
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | count(*) AS num_events, sum(value) AS total_value,
        | avg(value) AS avg_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type"""),
    qEventsSessionize,
    Key("q_events_pivot")((s, dir) => EventOps.eventTypePivot(Tables.events(s, dir)))(
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'error') AS error,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id"""),
    Key("q_events_json")((s, dir) => EventOps.jsonPropStats(Tables.events(s, dir)))(
      """SELECT k % 10 AS k_bucket, count(*) AS num_events,
        | avg(value) AS avg_value, max(k) AS max_k
        |FROM (SELECT CAST(props->>'$.k' AS BIGINT) AS k, value FROM events) e
        |WHERE k IS NOT NULL GROUP BY k % 10"""),
    Key("q_events_retention")((s, dir) =>
      EventOps.hourlyRetention(Tables.events(s, dir)))(
      """WITH uh AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events)
        |SELECT a.h AS hour, count(*) AS retained_users
        |FROM uh a JOIN uh b ON a.user_id = b.user_id
        | AND b.h = a.h + INTERVAL 1 HOUR
        |GROUP BY a.h"""),
    qSessionWindow,
    Key("q_events_funnel_windowed")((s, dir) =>
      EventOps.funnelWindowed(Tables.events(s, dir)))(
      """WITH s AS (SELECT user_id, min(ts) AS sts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS cts
        |  FROM events e JOIN s ON s.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s.sts
        |   AND e.ts <= s.sts + INTERVAL 60 MINUTE GROUP BY 1),
        |p AS (SELECT e.user_id
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.cts
        |   AND e.ts <= c.cts + INTERVAL 60 MINUTE GROUP BY 1)
        |SELECT (SELECT count(*) FROM s) AS n_signup,
        | (SELECT count(*) FROM c) AS n_click_within,
        | (SELECT count(*) FROM p) AS n_purchase_within"""),
    Key("q_events_unpivot")((s, dir) =>
      EventOps.eventTypeUnpivot(Tables.events(s, dir)))(
      Seq("click", "purchase", "error", "signup", "view").map(t =>
        s"""SELECT user_id, '$t' AS event_type,
           | count(*) FILTER (WHERE event_type = '$t') AS n_events
           |FROM events GROUP BY user_id""")
        .mkString(" UNION ALL ")),
    Key("q_asof_join")((s, dir) => {
      val ev = Tables.events(s, dir)
      AsOf.join(
        left = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value"),
        right = ev.filter(col("event_type") === "click"),
        keys = Seq("user_id"), timeCol = "ts",
        rightValues = Seq("value"), tieBreak = Some("event_id"))
    })(
      """SELECT p.event_id, p.user_id, p.ts, p.value, c.value AS asof_value
        |FROM (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'click') c
        |ON p.user_id = c.user_id AND p.ts >= c.ts"""),
    qEventsFunnel,
    Key("q_events_anomaly")((s, dir) => EventOps.hourlyAnomalies(Tables.events(s, dir)))(
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS hour,
        |  count(*) AS n_events FROM events GROUP BY date_trunc('hour', ts)),
        |g AS (SELECT avg(n_events) AS mean_events,
        |  stddev_samp(n_events) AS sd_events FROM hourly)
        |SELECT hour, n_events,
        | (n_events - mean_events) / sd_events AS z_score
        |FROM hourly, g
        |WHERE abs((n_events - mean_events) / sd_events) > 2.0"""),
    Key("q_mad_outliers")((s, dir) => EventOps.madOutliers(Tables.events(s, dir)))(
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |  count(*) AS n_events FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, median(n_events) AS med
        |  FROM hourly GROUP BY 1),
        |dev AS (SELECT h.event_type, h.hour, h.n_events, m.med,
        |  abs(h.n_events - m.med) AS abs_dev
        | FROM hourly h JOIN m USING (event_type)),
        |mad AS (SELECT event_type, median(abs_dev) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, d.hour, d.n_events, d.med, mad.mad
        |FROM dev d JOIN mad USING (event_type)
        |WHERE mad.mad > 0 AND d.abs_dev > 3.0 * mad.mad"""),
    Key("q_conversion_latency")((s, dir) =>
      EventOps.conversionLatency(Tables.events(s, dir)))(
      """WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts
        |  FROM events e JOIN s USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s.signup_ts GROUP BY 1),
        |l AS (SELECT epoch_us(purchase_ts - signup_ts) // 60000000
        |   AS latency_min FROM s JOIN p USING (user_id))
        |SELECT count(*) AS n_converted,
        | quantile_cont(latency_min, 0.5) AS p50_min,
        | quantile_cont(latency_min, 0.9) AS p90_min,
        | quantile_cont(latency_min, 0.99) AS p99_min
        |FROM l"""),
    Key("q_cart_abandonment")((s, dir) =>
      EventOps.cartAbandonment(Tables.events(s, dir)))(
      s"""WITH $sessionSeqCtes,
        |sess AS (SELECT user_id, session_seq, CAST(min(ts) AS DATE) AS day,
        |  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
        | FROM numbered GROUP BY 1, 2)
        |SELECT day, count(*) AS n_click_sessions,
        | CAST(sum(1 - purchased) AS BIGINT) AS n_abandoned,
        | round(sum(1 - purchased) * 1.0 / count(*), 6) AS abandonment_rate
        |FROM sess WHERE clicked = 1 GROUP BY 1"""),
    Key("q_embedding_centroids")((s, dir) =>
      Similarity.labelCentroids(Tables.embeddings(s, dir)))(
      """SELECT label, CAST(i AS INT) AS pos, avg(embedding[i + 1]) AS avg_val
        |FROM embeddings, range(64) t(i)
        |GROUP BY label, i"""),
    Key("q_forecast_revenue")((s, dir) =>
      Analytics.forecastRevenue(Tables.lineitem(s, dir)))(
      """SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_year,
        | sum(l_extendedprice * l_discount) AS forecast_revenue,
        | count(*) AS n_lines
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |GROUP BY 1"""),
    Key("q_priority_check")((s, dir) =>
      Analytics.orderPriorityCheck(Tables.orders(s, dir), Tables.lineitem(s, dir)))(
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1"""),
    Key("q_customer_distribution")((s, dir) =>
      Analytics.customerDistribution(Tables.customer(s, dir), Tables.orders(s, dir)))(
      """SELECT c_count, count(*) AS custdist FROM (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        | GROUP BY 1) pc
        |GROUP BY 1"""),
    Key("q_promo_share")((s, dir) =>
      Analytics.promoShare(Tables.lineitem(s, dir), Tables.part(s, dir)))(
      """SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS ship_month,
        | sum(CASE WHEN p_type = 'PROMO'
        |   THEN l_extendedprice * (1 - l_discount) ELSE 0 END) AS promo_revenue,
        | sum(l_extendedprice * (1 - l_discount)) AS total_revenue,
        | round(sum(CASE WHEN p_type = 'PROMO'
        |   THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
        |  sum(l_extendedprice * (1 - l_discount)), 6) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1"""),
    Key("q_disjunctive_revenue")((s, dir) =>
      Analytics.disjunctiveRevenue(Tables.lineitem(s, dir), Tables.part(s, dir)))(
      """SELECT p_brand,
        | sum(l_extendedprice * (1 - l_discount)) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)
        |GROUP BY 1"""),
    Key("q_sole_blame_supplier")((s, dir) =>
      Analytics.soleBlameSuppliers(Tables.lineitem(s, dir), Tables.supplier(s, dir)))(
      """WITH per AS (
        | SELECT l_orderkey, l_suppkey,
        |  max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_return
        | FROM lineitem GROUP BY 1, 2),
        |flagged AS (
        | SELECT l_suppkey, has_return,
        |  count(*) OVER (PARTITION BY l_orderkey) AS n_suppliers,
        |  sum(has_return) OVER (PARTITION BY l_orderkey) AS n_with_returns
        | FROM per)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM flagged JOIN supplier ON l_suppkey = s_suppkey
        |WHERE has_return = 1 AND n_suppliers > 1 AND n_with_returns = 1
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey ASC LIMIT 100"""),
    Key("q_idle_rich_customers")((s, dir) =>
      Analytics.idleRichCustomers(Tables.customer(s, dir), Tables.orders(s, dir)))(
      """SELECT c_mktsegment, count(*) AS n_customers,
        | sum(c_acctbal) AS total_acctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey AND o_orderdate >= DATE '2000-01-01')
        |GROUP BY 1"""),
    Key("q_returned_customers")((s, dir) =>
      Analytics.returnedCustomers(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.nation(s, dir)))(
      """WITH rev AS (
        | SELECT o_custkey,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT c_custkey, c_name, n_name, c_acctbal, revenue
        |FROM rev JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20"""),
    Key("q_priority_mix")((s, dir) => Analytics.priorityMix(Tables.orders(s, dir)))(
      """SELECT date_trunc('month', o_orderdate) AS month, o_orderpriority,
        | count(*) AS num_orders, sum(o_totalprice) AS revenue
        |FROM orders GROUP BY date_trunc('month', o_orderdate), o_orderpriority"""),
    Key("q_segment_migration")((s, dir) =>
      Analytics.segmentMigration(Tables.orders(s, dir)))(
      """WITH a AS (SELECT o_custkey,
        |  CASE WHEN count(*) = 1 THEN 'one_time'
        |       WHEN count(*) <= 3 THEN 'repeat' ELSE 'loyal' END AS tier_from
        | FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        |b AS (SELECT o_custkey,
        |  CASE WHEN count(*) = 1 THEN 'one_time'
        |       WHEN count(*) <= 3 THEN 'repeat' ELSE 'loyal' END AS tier_to
        | FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
        |m AS (SELECT coalesce(tier_from, 'absent') AS tier_from,
        |  coalesce(tier_to, 'absent') AS tier_to, count(*) AS n_customers
        | FROM a FULL OUTER JOIN b USING (o_custkey) GROUP BY 1, 2)
        |SELECT tier_from, tier_to, n_customers,
        | round(CAST(n_customers AS DOUBLE)
        |  / CAST(sum(n_customers) OVER (PARTITION BY tier_from) AS DOUBLE), 6)
        |  AS from_share
        |FROM m"""),
    Key("q_rfm_segments")((s, dir) =>
      Analytics.rfmSegments(Tables.orders(s, dir)))(
      // quintile cuts via quantile_cont (≡ Spark percentile); score =
      // 1 + #(cuts strictly below), recency inverted
      """WITH per AS (SELECT o_custkey,
        |  CAST(date_diff('day', max(o_orderdate),
        |   (SELECT max(o_orderdate) FROM orders)) AS BIGINT) AS recency_days,
        |  count(*) AS frequency, sum(o_totalprice) AS monetary
        | FROM orders GROUP BY 1),
        |c AS (SELECT
        |  quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rc,
        |  quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fc,
        |  quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mc FROM per)
        |SELECT o_custkey, recency_days, frequency, monetary,
        | 5 - ((recency_days > rc[1])::BIGINT + (recency_days > rc[2])::BIGINT
        |   + (recency_days > rc[3])::BIGINT + (recency_days > rc[4])::BIGINT)
        |  AS r_score,
        | 1 + ((frequency > fc[1])::BIGINT + (frequency > fc[2])::BIGINT
        |   + (frequency > fc[3])::BIGINT + (frequency > fc[4])::BIGINT)
        |  AS f_score,
        | 1 + ((monetary > mc[1])::BIGINT + (monetary > mc[2])::BIGINT
        |   + (monetary > mc[3])::BIGINT + (monetary > mc[4])::BIGINT)
        |  AS m_score,
        | (5 - ((recency_days > rc[1])::BIGINT + (recency_days > rc[2])::BIGINT
        |   + (recency_days > rc[3])::BIGINT + (recency_days > rc[4])::BIGINT)) * 100
        |  + (1 + ((frequency > fc[1])::BIGINT + (frequency > fc[2])::BIGINT
        |   + (frequency > fc[3])::BIGINT + (frequency > fc[4])::BIGINT)) * 10
        |  + (1 + ((monetary > mc[1])::BIGINT + (monetary > mc[2])::BIGINT
        |   + (monetary > mc[3])::BIGINT + (monetary > mc[4])::BIGINT)) AS rfm
        |FROM per, c"""),
    // the shared pair relation IS the affinity result — consume the
    // cache instead of re-deriving it
    Key("q_basket_affinity")((s, dir) => sharedBasketPairs(s, dir))(
      // distinct parts per order, giant-order guard (≤20 parts),
      // unordered pair counts with support ≥ 2
      """WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |small AS (SELECT l_orderkey FROM po
        | GROUP BY 1 HAVING count(*) <= 20),
        |g AS (SELECT po.l_orderkey, po.l_partkey FROM po
        | JOIN small USING (l_orderkey))
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        | count(*) AS n_orders_together
        |FROM g a JOIN g b ON a.l_orderkey = b.l_orderkey
        | AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 2"""),
    Key("q_basket_rules")((s, dir) =>
      Analytics.basketRules(sharedBasketTrunk(s, dir)))(
      // directed confidence/lift over the same guarded pairs
      """WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |small AS (SELECT l_orderkey FROM po
        | GROUP BY 1 HAVING count(*) <= 20),
        |g AS (SELECT po.l_orderkey, po.l_partkey FROM po
        | JOIN small USING (l_orderkey)),
        |tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM g),
        |pc AS (SELECT l_partkey, count(*) AS n_orders_part FROM g GROUP BY 1),
        |pr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  count(*) AS n_together
        | FROM g a JOIN g b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |dir AS (SELECT part_a AS antecedent, part_b AS consequent, n_together FROM pr
        | UNION ALL
        | SELECT part_b, part_a, n_together FROM pr)
        |SELECT d.antecedent, d.consequent, d.n_together,
        | CAST(d.n_together AS DOUBLE) / pa.n_orders_part AS confidence,
        | CAST(d.n_together AS DOUBLE) * tot.n_orders
        |  / (pa.n_orders_part * pb.n_orders_part) AS lift
        |FROM dir d JOIN pc pa ON pa.l_partkey = d.antecedent
        | JOIN pc pb ON pb.l_partkey = d.consequent, tot"""),
    Key("q_cohort_ltv")((s, dir) => Analytics.cohortLtv(Tables.orders(s, dir)))(
      """WITH cohorts AS (SELECT o_custkey,
        |  date_trunc('month', min(o_orderdate)) AS cohort_month
        | FROM orders GROUP BY o_custkey)
        |SELECT cohort_month,
        | date_diff('month', cohort_month,
        |   date_trunc('month', o_orderdate)) AS month_offset,
        | sum(o_totalprice) AS revenue,
        | count(DISTINCT o.o_custkey) AS active_customers
        |FROM orders o JOIN cohorts c ON o.o_custkey = c.o_custkey
        |GROUP BY cohort_month, month_offset"""),
    Key("q_segment_quartiles")((s, dir) =>
      Analytics.segmentQuartiles(Tables.customer(s, dir)))(
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        | dense_rank() OVER (PARTITION BY c_mktsegment
        |   ORDER BY c_acctbal DESC) AS balance_rank,
        | ntile(4) OVER (PARTITION BY c_mktsegment
        |   ORDER BY c_acctbal DESC, c_custkey) AS quartile
        |FROM customer"""),
    Key("q_min_cost_supplier")((s, dir) =>
      Analytics.minCostSupplier(Tables.lineitem(s, dir), Tables.supplier(s, dir),
        Tables.part(s, dir)))(
      """WITH ps AS (
        | SELECT l_partkey, l_suppkey,
        |  min(l_extendedprice / l_quantity) AS min_unit_price
        | FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY l_partkey ORDER BY min_unit_price, l_suppkey) AS rn FROM ps)
        |SELECT p_partkey, p_name, s_suppkey, s_name, min_unit_price
        |FROM r JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rn = 1"""),
    Key("q_nation_volume")((s, dir) =>
      Analytics.nationVolume(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir)))(
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        | year(l_shipdate) AS ship_year,
        | sum(l_extendedprice * (1 - l_discount)) AS volume
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation sn ON s_nationkey = sn.n_nationkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3"""),
    Key("q_important_parts")((s, dir) =>
      Analytics.importantParts(Tables.lineitem(s, dir), Tables.part(s, dir)))(
      """WITH pp AS (SELECT l_partkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |    (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |   AS DOUBLE) / 10000.0 AS revenue
        | FROM lineitem GROUP BY 1),
        |m AS (SELECT avg(revenue) AS mean_revenue FROM pp)
        |SELECT p_partkey, p_name, p_brand, revenue
        |FROM pp CROSS JOIN m JOIN part ON l_partkey = p_partkey
        |WHERE revenue > 1.5 * mean_revenue"""),
    Key("q_large_orders")((s, dir) =>
      Analytics.largeOrders(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir)))(
      """WITH s AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        | FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 200)
        |SELECT o_orderkey, c_custkey, c_name, o_orderdate, o_totalprice, sum_qty
        |FROM orders JOIN s ON o_orderkey = l_orderkey
        | JOIN customer ON o_custkey = c_custkey"""),
    Key("q_window_features")((s, dir) =>
      Analytics.windowFeatures(Tables.orders(s, dir)))(
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        | lead(o_totalprice) OVER w AS next_price,
        | percent_rank() OVER w AS pct_rank,
        | cume_dist() OVER w AS cume_dist,
        | first_value(o_orderdate) OVER wf AS first_order_date,
        | last_value(o_orderdate) OVER wf AS last_order_date
        |FROM orders WINDOW
        | w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        | wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)"""),
    Key("sketch_compact")((s, dir) =>
      EventOps.compactSketches(
        EventOps.dailyAudienceSketches(Tables.events(s, dir)))
        .select("month", "event_type", "n_day_rows", "n_events"))(
      """SELECT date_trunc('month', CAST(ts AS DATE)) AS month, event_type,
        | count(DISTINCT CAST(ts AS DATE)) AS n_day_rows,
        | count(*) AS n_events
        |FROM events GROUP BY 1, 2"""),
    Key("q_event_transitions")((s, dir) =>
      EventOps.eventTransitions(Tables.events(s, dir)))(
      """WITH s AS (SELECT event_type, lag(event_type) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events),
        |c AS (SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
        | FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n_transitions,
        | round(n_transitions / CAST(sum(n_transitions) OVER (
        |  PARTITION BY prev_type) AS BIGINT), 6) AS p_transition
        |FROM c"""),
    Key("q_above_avg_orders")((s, dir) =>
      Analytics.aboveAvgOrders(Tables.orders(s, dir)))(
      """WITH a AS (SELECT *,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
        |   PARTITION BY o_custkey) AS DOUBLE) /
        |  (count(*) OVER (PARTITION BY o_custkey) * 100.0)
        |  AS cust_avg FROM orders)
        |SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, cust_avg
        |FROM a WHERE o_totalprice > cust_avg"""),
    Key("q_brand_revenue_salted")((s, dir) =>
      Analytics.brandRevenueSalted(Tables.lineitem(s, dir), Tables.part(s, dir)))(
      // (or, for stream_dedup_within_wm, the batch degenerate form)
      qBrandRevenue.sql),
    Key("q_events_engagement")((s, dir) =>
      EventOps.engagement(Tables.events(s, dir)))(
      """WITH ud AS (SELECT DISTINCT user_id,
        |  CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
        |contrib AS (SELECT user_id,
        |  CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
        |   CAST(day + 6 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM ud),
        |wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM contrib GROUP BY 1)
        |SELECT day, dau, wau FROM dau JOIN wau USING (day)"""),
    Key("q_grouping_sets")((s, dir) =>
      Analytics.groupingSetsRevenue(Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir)))(
      """SELECT n_name, c_mktsegment,
        | CAST(grouping(n_name) AS BIGINT) AS g_nation,
        | CAST(grouping(c_mktsegment) AS BIGINT) AS g_segment,
        | sum(o_totalprice) AS revenue, count(*) AS num_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment))"""),
    Key("q_yoy_growth")((s, dir) =>
      Analytics.yoyGrowth(Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir)))(
      """WITH y AS (SELECT n_name, year(o_orderdate) AS order_year,
        |  sum(o_totalprice) AS revenue
        | FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY 1, 2)
        |SELECT n_name, order_year, revenue,
        | round(revenue / lag(revenue) OVER (
        |  PARTITION BY n_name ORDER BY order_year) - 1, 6) AS yoy_growth
        |FROM y"""),
    Key("q_market_share")((s, dir) =>
      Analytics.marketShare(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir)))(
      """SELECT year(o_orderdate) AS order_year,
        | sum(CASE WHEN sn.n_name = 'NATION_3'
        |  THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) AS nation_volume,
        | sum(l_extendedprice * (1 - l_discount)) AS total_volume,
        | round(sum(CASE WHEN sn.n_name = 'NATION_3'
        |   THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |  / sum(l_extendedprice * (1 - l_discount)), 6) AS market_share
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation cn ON c_nationkey = cn.n_nationkey
        | JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation sn ON s_nationkey = sn.n_nationkey
        |GROUP BY 1"""),
    Key("q_supplier_variety")((s, dir) =>
      Analytics.supplierVariety(Tables.lineitem(s, dir), Tables.part(s, dir)))(
      """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2"""),
    Key("q_heavy_suppliers")((s, dir) =>
      Analytics.heavySuppliers(Tables.lineitem(s, dir), Tables.supplier(s, dir)))(
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem
        | GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 90)"""),
    Key("q_status_priority")((s, dir) =>
      Analytics.statusPriorityMatrix(Tables.orders(s, dir)))(
      """SELECT o_orderstatus, o_orderpriority, count(*) AS num_orders,
        | sum(o_totalprice) AS revenue, avg(o_totalprice) AS avg_price
        |FROM orders GROUP BY 1, 2"""),
    Key("q_skyline")((s, dir) =>
      Analytics.skyline(Tables.part(s, dir)))(
      """SELECT p_partkey, p_retailprice, p_size FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        | WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
        |  AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))"""),
    Key("q_price_fill")((s, dir) =>
      Analytics.priceFill(Tables.lineitem(s, dir), Tables.part(s, dir)))(
      """WITH prods AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#11'),
        |m AS (SELECT l_partkey AS product_id,
        |  CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |  CAST((2 * sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    + count(*)) // (2 * count(*)) AS DOUBLE) / 100.0 AS avg_price
        | FROM lineitem JOIN prods ON l_partkey = p_partkey GROUP BY 1, 2),
        |b AS (SELECT min(month) AS lo, max(month) AS hi FROM m),
        |spine AS (SELECT p_partkey AS product_id,
        |  CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE)
        |   AS month FROM prods, b)
        |SELECT s.product_id, s.month,
        | last_value(m.avg_price IGNORE NULLS) OVER (PARTITION BY s.product_id
        |  ORDER BY s.month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS price_filled,
        | m.avg_price IS NOT NULL AS is_observed
        |FROM spine s LEFT JOIN m USING (product_id, month)"""),
    Key("q_brand_trend")((s, dir) =>
      Analytics.brandTrend(Tables.lineitem(s, dir), Tables.part(s, dir)))(
      """WITH m AS (SELECT p_brand,
        |  CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        | FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2)
        |SELECT p_brand,
        | round(regr_slope(revenue, 12 * year(month) + month(month)), 4)
        |  AS slope,
        | round(regr_intercept(revenue, 12 * year(month) + month(month)), 2)
        |  AS intercept,
        | round(regr_r2(revenue, 12 * year(month) + month(month)), 6) AS r2,
        | CAST(regr_count(revenue, 12 * year(month) + month(month)) AS BIGINT)
        |  AS n_months
        |FROM m GROUP BY 1"""),
    Key("q_abc_class")((s, dir) =>
      Analytics.abcClass(Tables.lineitem(s, dir)))(
      """WITH rev AS (SELECT l_partkey,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        | FROM lineitem GROUP BY 1),
        |rk AS (SELECT l_partkey,
        |  round(sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   / sum(revenue) OVER (), 9) AS cum_share
        | FROM rev)
        |SELECT l_partkey AS product_id,
        | CASE WHEN cum_share <= 0.8 THEN 'A'
        |  WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
        |FROM rk"""),
    Key("q_order_backlog")((s, dir) =>
      Analytics.orderBacklog(Tables.orders(s, dir), Tables.lineitem(s, dir)))(
      """WITH ls AS (SELECT l_orderkey, CAST(max(l_shipdate) AS DATE)
        |   AS last_ship FROM lineitem GROUP BY 1),
        |spans AS (SELECT
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS open_m,
        |  CAST(date_trunc('month', last_ship) AS DATE) AS close_m
        | FROM orders JOIN ls ON o_orderkey = l_orderkey),
        |o AS (SELECT open_m AS month, count(*) AS opened
        |  FROM spans GROUP BY 1),
        |c AS (SELECT close_m AS month, count(*) AS closed
        |  FROM spans GROUP BY 1),
        |b AS (SELECT min(open_m) AS lo, max(close_m) AS hi FROM spans),
        |spine AS (SELECT CAST(unnest(generate_series(lo, hi,
        |  INTERVAL 1 MONTH)) AS DATE) AS month FROM b)
        |SELECT month, coalesce(opened, 0) AS opened,
        | coalesce(closed, 0) AS closed,
        | CAST(sum(coalesce(opened, 0) - coalesce(closed, 0)) OVER
        |  (ORDER BY month
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS backlog
        |FROM spine LEFT JOIN o USING (month) LEFT JOIN c USING (month)"""),
    Key("q_gini_revenue")((s, dir) =>
      Analytics.giniRevenue(Tables.lineitem(s, dir)))(
      """WITH rev AS (SELECT l_partkey,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        | FROM lineitem GROUP BY 1),
        |rk AS (SELECT revenue, CAST(row_number() OVER (ORDER BY revenue,
        |   l_partkey) AS DOUBLE) AS rank FROM rev)
        |SELECT count(*) AS n_products,
        | round(2.0 * sum(rank * revenue) / (count(*) * sum(revenue))
        |  - (count(*) + 1.0) / count(*), 6) AS gini
        |FROM rk"""),
    Key("q_supplier_hhi")((s, dir) =>
      Analytics.supplierHhi(Tables.lineitem(s, dir), Tables.part(s, dir)))(
      """WITH s AS (SELECT p_type, l_suppkey,
        |  sum(l_extendedprice * (1 - l_discount)) AS supp_rev
        | FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |t AS (SELECT p_type, sum(supp_rev) AS type_rev,
        |  count(*) AS n_suppliers FROM s GROUP BY 1)
        |SELECT s.p_type, t.n_suppliers,
        | round(sum(pow(s.supp_rev / t.type_rev, 2)), 6) AS hhi
        |FROM s JOIN t USING (p_type) GROUP BY 1, 2"""),
    Key("q_discount_elasticity")((s, dir) =>
      Analytics.discountElasticity(Tables.lineitem(s, dir),
        Tables.part(s, dir)))(
      """SELECT p_brand, count(*) AS n_lines,
        | round(regr_slope(l_quantity, l_discount), 4)
        |  AS qty_per_discount_unit,
        | round(regr_slope(l_quantity, l_discount) / 100.0, 6)
        |  AS qty_per_discount_pct,
        | round(regr_r2(l_quantity, l_discount), 6) AS r2
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1"""),
    Key("q_basket_sizes")((s, dir) =>
      Analytics.basketSizes(Tables.lineitem(s, dir)))(
      """WITH b AS (SELECT l_orderkey,
        |  count(DISTINCT l_partkey) AS n_parts FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_orders,
        | quantile_cont(n_parts, 0.5) AS p50_parts,
        | quantile_cont(n_parts, 0.9) AS p90_parts,
        | quantile_cont(n_parts, 0.99) AS p99_parts,
        | max(n_parts) AS max_parts FROM b"""),
    Key("q_part_size_stats")((s, dir) =>
      Analytics.partSizeStats(Tables.part(s, dir)))(
      """SELECT p_brand, CAST(p_size // 10 AS BIGINT) AS size_band,
        | count(*) AS num_parts, avg(p_retailprice) AS avg_retail,
        | min(p_retailprice) AS min_retail, max(p_retailprice) AS max_retail
        |FROM part GROUP BY 1, 2"""),
    Key("q_shipping_delay")((s, dir) =>
      Analytics.shippingDelay(Tables.lineitem(s, dir), Tables.orders(s, dir)))(
      """SELECT o_orderpriority, count(*) AS n_lines,
        | avg(datediff('day', o_orderdate, CAST(l_shipdate AS DATE))) AS avg_delay,
        | min(datediff('day', o_orderdate, CAST(l_shipdate AS DATE))) AS min_delay,
        | max(datediff('day', o_orderdate, CAST(l_shipdate AS DATE))) AS max_delay
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1"""),
    Key("q_return_rate")((s, dir) =>
      Analytics.returnRateByBrand(Tables.lineitem(s, dir), Tables.part(s, dir)))(
      """SELECT p_brand, count(*) AS n_lines,
        | CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_returned,
        | round(CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |  / count(*), 6) AS return_rate,
        | round(sum(CASE WHEN l_returnflag = 'R'
        |   THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |  / sum(l_extendedprice * (1 - l_discount)), 6) AS returned_revenue_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1"""),
    Key("q_top_supplier")((s, dir) =>
      Analytics.topSupplier(Tables.lineitem(s, dir), Tables.supplier(s, dir)))(
      """WITH rev AS (SELECT l_suppkey,
        |  sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        | FROM lineitem
        | WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        | GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)"""),
    Key("q_small_qty_revenue")((s, dir) =>
      Analytics.smallQtyRevenue(Tables.lineitem(s, dir), Tables.part(s, dir)))(
      """SELECT sum(l_extendedprice) / 7.0 AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        | AND l_quantity < (SELECT 0.2 * avg(l_quantity)
        |  FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)"""),
    Key("q_pareto_revenue")((s, dir) =>
      Analytics.paretoRevenue(Tables.lineitem(s, dir)))(
      """WITH rev AS (SELECT l_partkey,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        | FROM lineitem GROUP BY 1),
        |rk AS (SELECT
        |  row_number() OVER (ORDER BY revenue DESC, l_partkey) AS rank,
        |  sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   / sum(revenue) OVER () AS cum_share
        | FROM rev)
        |SELECT CAST(threshold AS DOUBLE) AS threshold,
        | min(rank) AS n_products
        |FROM rk JOIN (VALUES (0.5), (0.8), (0.9), (0.95), (0.99)) t(threshold)
        | ON cum_share >= threshold
        |GROUP BY 1"""),
    qNewVsReturning,
    // AQP: Horvitz–Thompson sum estimate from the 10% hash sample,
    // exact answer + realized error beside it (the self-audit form)
    Key("q_revenue_sample_estimate")((s, dir) =>
      Sampling.sampleEstimate(Tables.lineitem(s, dir), "l_orderkey",
        col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        "l_returnflag")) {
      val thr = operators.Sampling.hexThreshold(0.1)
      s"""WITH f AS (SELECT l_returnflag,
         |  l_extendedprice * (1.0 - l_discount) AS rev,
         |  substring(md5(CAST(l_orderkey AS VARCHAR) || ':aqp42'), 1, 8)
         |   AS k
         | FROM lineitem),
         |a AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
         |  sum(rev) AS exact_value,
         |  sum(CASE WHEN k < '$thr' THEN rev END) AS s_rev,
         |  sum(CASE WHEN k < '$thr' THEN rev * rev END) AS q_rev,
         |  CAST(sum(CASE WHEN k < '$thr' THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_sampled
         | FROM f GROUP BY 1)
         |SELECT l_returnflag, n_rows, n_sampled,
         | coalesce(s_rev, 0.0) / 0.1 AS est_value,
         | 1.959963984540054 * sqrt(coalesce(q_rev, 0.0)
         |   * ${(1.0 - 0.1) / (0.1 * 0.1)}) AS ci95_halfwidth,
         | n_sampled >= 30 AS ci_nominal,
         | exact_value,
         | CASE WHEN exact_value != 0.0 THEN
         |  abs(coalesce(s_rev, 0.0) / 0.1 - exact_value) / exact_value
         | END AS rel_err
         |FROM a"""
    },
    Key("q_seasonality_strength")((s, dir) =>
      Analytics.seasonalityStrength(Tables.lineitem(s, dir)))(
      // ANOVA sum identities on exact integers (S, Q, per-group
      // S_g/n_g); dow LABELS differ across engines (Spark 1–7,
      // DuckDB 0–6) but only the grouping partition matters
      s"""WITH $dailyRevenueCte,
        |g AS (SELECT dayofweek(day) AS dow, count(*) AS n_g,
        |  sum(x) AS s_g, sum(x * x) AS q_g FROM daily GROUP BY 1),
        |t AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s,
        |  sum(q_g) AS q,
        |  sum(CAST(s_g * s_g AS DOUBLE) / CAST(n_g AS DOUBLE)) AS b
        | FROM g)
        |SELECT n AS n_days,
        | round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0, 2)
        |  AS avg_daily_revenue,
        | CASE WHEN CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
        |    * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) = 0.0 THEN NULL
        |  ELSE round((b - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |     / CAST(n AS DOUBLE))
        |   / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |     / CAST(n AS DOUBLE)), 6) END AS seasonality_r2
        |FROM t"""),
    Key("q_concurrent_sessions")((s, dir) =>
      EventOps.sessionConcurrency(Tables.events(s, dir)))(
      s"""WITH flagged AS (
        | SELECT user_id, ts, event_id,
        |  $newSessionSql),
        |numbered AS (
        | SELECT user_id, ts,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        | FROM flagged),
        |s AS (SELECT user_id, session_seq, min(ts) AS session_start,
        |  max(ts) AS session_end FROM numbered GROUP BY 1, 2),
        |b AS (SELECT session_start AS ts, 1 AS delta FROM s
        |  UNION ALL SELECT session_end, -1 FROM s),
        |c AS (SELECT ts, sum(delta) OVER (ORDER BY ts, delta DESC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc FROM b)
        |SELECT date_trunc('hour', ts) AS hour,
        | CAST(max(conc) AS BIGINT) AS max_concurrent
        |FROM c GROUP BY 1"""),
  )
}
