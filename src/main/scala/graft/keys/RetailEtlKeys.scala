package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import OracleFragments._
import Shared._

/** The retail ETL keys (`etl_*`, `rtbf_*`): the reference's sales job
  * and its incremental, data-quality, entity-resolution and
  * right-to-be-forgotten variants. */
private[graft] object RetailEtlKeys extends Family("etl_", "rtbf_") {

  private def onlineSales(s: SparkSession, dir: String) =
    RetailEtl.salesFromLineitem(Tables.lineitem(s, dir), Some("O"))
  private def storeSales(s: SparkSession, dir: String) =
    RetailEtl.salesFromLineitem(Tables.lineitem(s, dir), Some("F"))

  private def extractTyped(s: SparkSession, dir: String): DataFrame =
    RetailEtl.convertTyped(
      RetailEtl.asTransportStrings(
        RetailEtl.validateColumns(storeSales(s, dir))))

  private def unionSources(s: SparkSession, dir: String): DataFrame =
    RetailEtl.combine(
      onlineSales(s, dir).withColumn("source", lit("online")),
      storeSales(s, dir).withColumn("source", lit("store")))

  private def cleanSales(s: SparkSession, dir: String): DataFrame =
    RetailEtl.clean(RetailEtl.combine(onlineSales(s, dir), storeSales(s, dir)))

  private[graft] def salesSummary(s: SparkSession, dir: String): DataFrame =
    RetailEtl.pipeline(onlineSales(s, dir), storeSales(s, dir))

  private def dailySummary(s: SparkSession, dir: String): DataFrame =
    RetailEtl.dailySummary(cleanSales(s, dir))

  private def loadValidated(s: SparkSession, dir: String): DataFrame =
    RetailEtl.validateSummary(RetailEtl.aggregate(cleanSales(s, dir)))

  private def sourceSummary(s: SparkSession, dir: String, status: String): DataFrame =
    RetailEtl.aggregate(RetailEtl.clean(
      RetailEtl.salesFromLineitem(Tables.lineitem(s, dir), Some(status))))

  private def upsertSummaries(s: SparkSession, dir: String): DataFrame =
    RetailEtl.upsertSummary(
      existing = sourceSummary(s, dir, "F"),
      updates = sourceSummary(s, dir, "O"))

  /** Incremental maintenance: "history" (pre-cutoff, standing in for
    * yesterday's stored summary) merged with the post-cutoff delta —
    * associative re-aggregation, result-identical to the full
    * recompute (shares `etl_sales_summary`'s oracle). */
  private def incrementalSummary(s: SparkSession, dir: String,
                                 cutoff: String = "1999-01-01"): DataFrame = {
    val clean = cleanSales(s, dir)
    RetailEtl.mergeSummaries(
      RetailEtl.aggregate(clean.filter(col("sale_date") < lit(cutoff))),
      RetailEtl.aggregate(clean.filter(col("sale_date") >= lit(cutoff))))
  }

  // the RTBF ML-store inputs: subject docs and vectors (id % 53 == 3),
  // the shared fingerprint and winnow stores, and the ANN vector ids
  private def rtbfMlInputs[T](s: SparkSession, dir: String)(
      f: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) => T): T = {
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    f(docs.filter(col("doc_id") % 53 === 3),
      emb.filter(col("vec_id") % 53 === 3),
      sharedFingerprintRows(s, dir),
      sharedWinnowFps(s, dir),
      emb.select("vec_id"))
  }

  // the arriving delta: the web/legacy feeds plus brand-new base
  // records (k % 7 == 0 ⇔ rec_id % 28 == 0) with no history trace
  private[keys] def crmDelta(s: SparkSession, dir: String): DataFrame =
    sharedCrmRecs(s, dir)
      .filter((col("rec_id") % 4).isin(1L, 3L) || col("rec_id") % 28 === 0)

  lazy val etlSalesSummary: Key = Key("etl_sales_summary")((s, dir) => salesSummary(s, dir))(
    s"""SELECT product_id, sum(quantity) AS total_quantity,
       | sum(sale_amount) AS total_sale_amount
       |FROM ($cleanSalesSql) c GROUP BY product_id""")

  // incremental attach (r15): the daily delta (web/legacy feeds +
  // brand-new customers) matches the PERSISTED history store only —
  // delta × store-within-block, the store never re-pairs; unmatched
  // records found new entities (is_new)
  lazy val etlEntityIncremental: Key = Key("etl_entity_incremental")((s, dir) =>
    operators.EntityResolution.attachToStore(crmDelta(s, dir),
      sharedEntityHistStore(s, dir)))(
    // history = base (k%7≠0) + pos feeds resolved by their OWN
    // closure (never touching the delta); delta = web/legacy +
    // brand-new base records; attach = min matched store entity
    // within block/band/lev≤1, else found a new entity
    (crmPairsCte.replace("WITH ", "WITH RECURSIVE ") + """,
      |hist AS (SELECT * FROM nb
      |  WHERE rec_id % 4 IN (0, 2) AND rec_id % 28 <> 0),
      |hp AS (SELECT a.rec_id AS rec_a, b.rec_id AS rec_b
      | FROM hist a JOIN hist b ON a.block = b.block
      |  AND a.rec_id < b.rec_id AND abs(a.len - b.len) <= 1
      | WHERE levenshtein(a.norm, b.norm) <= 1),
      |he AS (SELECT rec_a AS src, rec_b AS dst FROM hp
      |  UNION ALL SELECT rec_b, rec_a FROM hp),
      |hreach AS (SELECT rec_id, rec_id AS r FROM hist
      |  UNION
      |  SELECT hreach.rec_id, he.dst FROM hreach
      |   JOIN he ON he.src = hreach.r),
      |hlab AS (SELECT rec_id, min(r) AS entity_id
      | FROM hreach GROUP BY 1),
      |st AS (SELECT h.rec_id, h.norm, h.block, h.len, l.entity_id
      | FROM hist h JOIN hlab l USING (rec_id)),
      |dl AS (SELECT * FROM nb
      |  WHERE rec_id % 4 IN (1, 3) OR rec_id % 28 = 0),
      |stk AS (SELECT * FROM (SELECT *, row_number() OVER (
      |   PARTITION BY block ORDER BY rec_id) AS bn FROM st) c
      | WHERE bn <= 256),
      |att AS (SELECT d.rec_id, min(s.entity_id) AS matched
      | FROM dl d LEFT JOIN stk s ON s.block = d.block
      |  AND abs(d.len - s.len) <= 1
      |  AND levenshtein(d.norm, s.norm) <= 1
      | GROUP BY 1)
      |SELECT rec_id, coalesce(matched, rec_id) AS entity_id,
      | matched IS NULL AS is_new
      |FROM att"""))

  lazy val etlCdcApply: Key = Key("etl_cdc_apply")((s, dir) =>
    operators.EventOps.cdcApply(Tables.events(s, dir)))(
    """WITH last AS (SELECT user_id, event_type, value, ts,
      |  row_number() OVER (PARTITION BY user_id
      |    ORDER BY ts DESC, event_id DESC) AS rn
      | FROM events)
      |SELECT user_id, event_type AS state, value, ts
      |FROM last WHERE rn = 1 AND event_type <> 'error'""")

  lazy val etlScd2UserState: Key = Key("etl_scd2_user_state")((s, dir) =>
    EventOps.scd2UserState(Tables.events(s, dir)))(
    s"""WITH ${scdVersionCtes()},
      |g AS (SELECT user_id, CAST(version AS BIGINT) AS version,
      |  event_type AS state, min(ts) AS valid_from, count(*) AS n_events
      | FROM v GROUP BY 1, 2, 3)
      |SELECT user_id, version, state, valid_from,
      | lead(valid_from) OVER w AS valid_to, n_events,
      | lead(valid_from) OVER w IS NULL AS is_current
      |FROM g WINDOW w AS (PARTITION BY user_id ORDER BY version)""")

  lazy val keys: Seq[Key] = Seq(
    Key("etl_extract_typed")((s, dir) => extractTyped(s, dir))(
      salesSql("WHERE l_linestatus = 'F'")),
    Key("etl_union_sources")((s, dir) => unionSources(s, dir))(
      """SELECT l_orderkey * 10 + l_linenumber AS sale_id, l_partkey AS product_id,
         | l_quantity AS quantity, l_extendedprice AS sale_amount,
         | CAST(l_shipdate AS DATE) AS sale_date,
         | CASE WHEN l_linestatus = 'O' THEN 'online' ELSE 'store' END AS source
         |FROM lineitem"""),
    Key("etl_clean")((s, dir) => cleanSales(s, dir))(cleanSalesSql),
    etlSalesSummary,
    Key("etl_daily_product_summary")((s, dir) => dailySummary(s, dir))(
      s"""SELECT product_id, sale_date, sum(quantity) AS total_quantity,
         | sum(sale_amount) AS total_sale_amount, count(*) AS num_sales,
         | avg(sale_amount) AS avg_sale_amount
         |FROM ($cleanSalesSql) c GROUP BY product_id, sale_date"""),
    Key("etl_load_validated")((s, dir) => loadValidated(s, dir))(
      // validation passes or fails the whole summary, so its rows
      // are the summary's
      etlSalesSummary.sql),
    Key("etl_upsert")((s, dir) => upsertSummaries(s, dir)) {
      def src(status: String) =
        s"""SELECT product_id, sum(quantity) AS total_quantity,
           | sum(sale_amount) AS total_sale_amount
           |FROM (${salesSql(s"WHERE l_linestatus = '$status'")}) s
           |WHERE quantity > 0 AND sale_amount > 0
           |GROUP BY product_id"""
      s"""WITH f AS (${src("F")}), o AS (${src("O")})
         |SELECT * FROM o UNION ALL
         |SELECT f.* FROM f WHERE NOT EXISTS
         | (SELECT 1 FROM o WHERE o.product_id = f.product_id)"""
    },
    Key("etl_incremental_summary")((s, dir) => incrementalSummary(s, dir))(
      // associative partial-merge == full recompute
      etlSalesSummary.sql),
    Key("etl_backfill_plan")((s, dir) =>
      RetailEtl.backfillPlan(cleanSales(s, dir)))(
      s"""WITH d AS (SELECT sale_date AS day, count(*) AS n_rows
         |  FROM ($cleanSalesSql) c GROUP BY 1),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
         |s AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
         |  AS DATE) AS day FROM b)
         |SELECT s.day, coalesce(d.n_rows, 0) AS n_rows,
         | d.n_rows IS NULL AS is_gap
         |FROM s LEFT JOIN d ON d.day = s.day"""),
    // entity resolution over the customer dimension (r15): the MDM
    // layer the reference's per-row cleaning stops short of —
    // normalize → block → bounded-Levenshtein match → transitive
    // closure → survivorship, each stage a driver key. The dirty-CRM
    // corpus derives deterministically from `customer`
    // (EntityResolution.synthCrmCorpus), so all three keys replay
    // bit-for-bit in DuckDB including the fuzzy distances.
    Key("etl_entity_pairs")((s, dir) => sharedEntityPairs(s, dir))(
      // entity resolution: the dirty-CRM derivation (syllable-encoded
      // custkey names + deterministic deletion typos), normalization,
      // prefix blocking with the length band, and the thresholded
      // Levenshtein all replay verbatim — crmPairsCte is the shared
      // front half of all three oracles
      (crmPairsCte + """
        |SELECT rec_a, rec_b, lev,
        | CASE WHEN lev = 0 THEN 'exact_norm' ELSE 'fuzzy' END AS rule
        |FROM pr""")),
    Key("etl_entity_groups")((s, dir) => sharedEntityGroups(s, dir))(
      (crmEntityCtes + """
        |SELECT rec_id, entity_id, rec_id = entity_id AS keep
        |FROM lab""")),
    Key("etl_entity_golden")((s, dir) =>
      operators.EntityResolution.goldenRecords(sharedCrmRecs(s, dir),
        sharedEntityGroups(s, dir)))(
      (crmEntityCtes + """,
        |m AS (SELECT l.rec_id, l.entity_id, nb.src, nb.nationkey,
        |  nb.acctbal, nb.norm,
        |  CASE nb.src WHEN 'crm' THEN 0 WHEN 'web' THEN 1
        |   WHEN 'pos' THEN 2 ELSE 3 END AS prio
        | FROM lab l JOIN nb ON nb.rec_id = l.rec_id),
        |rn AS (SELECT *, row_number() OVER (PARTITION BY entity_id
        |  ORDER BY prio, rec_id) AS rk FROM m),
        |ag AS (SELECT entity_id, count(*) AS n_members,
        |  count(DISTINCT src) AS n_sources,
        |  max(nationkey) <> min(nationkey) AS nation_conflict,
        |  round(max(acctbal), 2) AS acctbal_max FROM m GROUP BY 1)
        |SELECT r.entity_id, r.rec_id AS golden_rec, r.norm AS name,
        | r.nationkey, round(r.acctbal, 2) AS acctbal, a.n_members,
        | a.n_sources, a.nation_conflict, a.acctbal_max
        |FROM rn r JOIN ag a USING (entity_id)
        |WHERE r.rk = 1""")),
    etlEntityIncremental,
    // right-to-be-forgotten cascade (r15): plan = per-request row
    // counts through customer → orders → lineitem; apply = per-table
    // before/removed/after with structural referential integrity
    // (requests: every 53rd customer — the deterministic stand-in
    // for the day's deletion queue)
    Key("etl_rtbf_plan")((s, dir) =>
      RetailEtl.rtbfPlan(
        Tables.customer(s, dir).filter(col("c_custkey") % 53 === 3),
        Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir)))(
      """WITH r AS (SELECT DISTINCT c_custkey FROM customer
        |  WHERE c_custkey % 53 = 3),
        |o AS (SELECT r.c_custkey, o_orderkey FROM orders
        | JOIN r ON o_custkey = r.c_custkey),
        |oc AS (SELECT c_custkey, count(*) AS n_orders FROM o GROUP BY 1),
        |lc AS (SELECT o.c_custkey, count(*) AS n_lineitems
        | FROM o JOIN lineitem ON l_orderkey = o.o_orderkey GROUP BY 1)
        |SELECT r.c_custkey, coalesce(oc.n_orders, 0) AS n_orders,
        | coalesce(lc.n_lineitems, 0) AS n_lineitems,
        | 1 + coalesce(oc.n_orders, 0) + coalesce(lc.n_lineitems, 0)
        |  AS n_rows_total
        |FROM r LEFT JOIN oc USING (c_custkey)
        | LEFT JOIN lc USING (c_custkey)"""),
    Key("etl_rtbf_apply")((s, dir) =>
      RetailEtl.rtbfApply(
        Tables.customer(s, dir).filter(col("c_custkey") % 53 === 3),
        Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir)))(
      """WITH r AS (SELECT DISTINCT c_custkey FROM customer
        |  WHERE c_custkey % 53 = 3),
        |ca AS (SELECT count(*) AS a FROM customer
        | WHERE c_custkey NOT IN (SELECT c_custkey FROM r)),
        |oa AS (SELECT count(*) AS a FROM orders
        | WHERE o_custkey NOT IN (SELECT c_custkey FROM r)),
        |la AS (SELECT count(*) AS a FROM lineitem
        | WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM r))),
        |cb AS (SELECT count(*) AS b FROM customer),
        |ob AS (SELECT count(*) AS b FROM orders),
        |lb AS (SELECT count(*) AS b FROM lineitem)
        |SELECT 'customer' AS "table", cb.b AS rows_before,
        | cb.b - ca.a AS rows_removed, ca.a AS rows_after FROM cb, ca
        |UNION ALL SELECT 'orders', ob.b, ob.b - oa.a, oa.a FROM ob, oa
        |UNION ALL SELECT 'lineitem', lb.b, lb.b - la.a, la.a
        |FROM lb, la"""),
    // RTBF reaches the ML stores (r16): the subject's derived rows in
    // the dedup-fingerprint store, the winnow fp store and the ANN
    // vector rows — plan counts, apply = anti-join erasure readout;
    // the physical index path (deleteIvf tombstones) is spec-driven
    // on a scratch index so the shared fixtures stay untouched
    Key("rtbf_ml_plan")((s, dir) =>
      rtbfMlInputs(s, dir)(operators.MlErasure.rtbfMlPlan))(
      // per ML store: total rows + the subject's rows (fingerprints
      // 1/doc; winnow fps replayed through the shared MOSS CTE;
      // vectors 1/vec) — all exact integer counts
      s"""WITH $rtbfStoreCtes
         |SELECT 'fingerprints' AS store, f.t AS rows_total,
         | f.e AS rows_to_erase FROM f
         |UNION ALL SELECT 'winnow_fps', wn.t, wn.e FROM wn
         |UNION ALL SELECT 'ann_vectors', av.t, av.e FROM av"""),
    Key("rtbf_ml_apply")((s, dir) =>
      rtbfMlInputs(s, dir)(operators.MlErasure.rtbfMlApply(_, _, _, _, _)))(
      s"""WITH $rtbfStoreCtes
         |SELECT 'fingerprints' AS store, f.t AS rows_before,
         | f.e AS rows_removed, f.t - f.e AS rows_after FROM f
         |UNION ALL SELECT 'winnow_fps', wn.t, wn.e, wn.t - wn.e FROM wn
         |UNION ALL SELECT 'ann_vectors', av.t, av.e, av.t - av.e
         |FROM av"""),
    // privacy-release audit (r15): k-anonymity + l-diversity per
    // (nation, balance-band) class with the market segment as the
    // sensitive attribute — the band makes classes fine enough that
    // both failure modes actually occur at every SF; one
    // partial-aggregable groupBy, O(classes) rows
    Key("etl_anonymity_audit")((s, dir) =>
      RetailEtl.anonymityAudit(
        Tables.customer(s, dir).withColumn("bal_band",
          floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment"))(
      """SELECT c_nationkey,
        | CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        | count(*) AS class_size,
        | count(DISTINCT c_mktsegment) AS n_sensitive,
        | count(*) >= 5 AS k_anonymous,
        | count(DISTINCT c_mktsegment) >= 2 AS l_diverse,
        | CASE WHEN count(*) < 5 THEN 're_identification'
        |  WHEN count(DISTINCT c_mktsegment) < 2
        |   THEN 'attribute_disclosure'
        |  ELSE 'none' END AS risk
        |FROM customer GROUP BY 1, 2"""),
    Key("etl_quarantine")((s, dir) =>
      RetailEtl.quarantine(RetailEtl.combine(onlineSales(s, dir), storeSales(s, dir))))(
      s"""SELECT *, CASE
         | WHEN sale_id IS NULL OR product_id IS NULL OR quantity IS NULL
         |   OR sale_amount IS NULL OR sale_date IS NULL
         |   OR isnan(quantity) OR isnan(sale_amount) THEN 'missing_field'
         | WHEN quantity <= 0 THEN 'nonpositive_quantity'
         | WHEN sale_amount <= 0 THEN 'nonpositive_amount' END AS reject_reason
         |FROM (${salesSql("")}) s
         |WHERE sale_id IS NULL OR product_id IS NULL OR quantity IS NULL
         |  OR sale_amount IS NULL OR sale_date IS NULL
         |  OR isnan(quantity) OR isnan(sale_amount)
         |  OR quantity <= 0 OR sale_amount <= 0"""),
    Key("etl_run_report")((s, dir) =>
      RetailEtl.runReport(onlineSales(s, dir), storeSales(s, dir)))(
      s"""WITH c AS ($cleanSalesSql),
         |ca AS (SELECT count(*) AS n_clean, min(sale_date) AS lo,
         |  max(sale_date) AS hi, count(DISTINCT sale_date) AS nd FROM c),
         |ta AS (SELECT count(*) AS n_total FROM (${salesSql("")}) u)
         |SELECT n_clean, n_total - n_clean AS n_quarantined,
         | round((n_total - n_clean) * 1.0 / n_total, 6) AS quarantine_frac,
         | CAST(date_diff('day', lo, hi) + 1 - nd AS BIGINT) AS n_gap_days,
         | n_clean > 0
         |  AND round((n_total - n_clean) * 1.0 / n_total, 6) <= 0.05
         |  AND date_diff('day', lo, hi) + 1 - nd = 0 AS ok
         |FROM ca, ta"""),
    Key("etl_freshness")((s, dir) =>
      RetailEtl.feedFreshness(Seq(
        "online" -> onlineSales(s, dir),
        "in_store" -> storeSales(s, dir))))(
      // per-feed day-grain collapse → max_by scalars → cross-feed
      // global max; lag vs the freshest sibling feed, not wall-clock
      s"""WITH d AS (
         |  SELECT 'online' AS feed, sale_date AS day, count(*) AS n
         |   FROM (${salesSql("WHERE l_linestatus = 'O'")}) s GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'in_store' AS feed, sale_date AS day, count(*) AS n
         |   FROM (${salesSql("WHERE l_linestatus = 'F'")}) s GROUP BY 1, 2),
         |f AS (SELECT feed, max(day) AS last_day,
         |  CAST(sum(n) AS BIGINT) AS n_rows,
         |  max_by(n, day) AS rows_last_day FROM d GROUP BY 1),
         |g AS (SELECT max(last_day) AS global_day FROM f)
         |SELECT feed, last_day,
         | CAST(date_diff('day', last_day, global_day) AS BIGINT)
         |  AS days_behind,
         | n_rows, rows_last_day,
         | date_diff('day', last_day, global_day) > 2 AS stale
         |FROM f, g"""),
    Key("etl_grain_check")((s, dir) =>
      RetailEtl.grainCheck(
        RetailEtl.salesFromLineitem(Tables.lineitem(s, dir)),
        Seq("sale_id" -> Seq("sale_id"),
          "product_day" -> Seq("product_id", "sale_date"))))(
      // one hash aggregate per grain claim, collapsed to one row
      s"""WITH s AS (${salesSql("")}),
         |g1 AS (SELECT sale_id, count(*) AS m FROM s GROUP BY 1),
         |r1 AS (SELECT ${grainStatsSql("'sale_id'", "g1")}),
         |g2 AS (SELECT product_id, sale_date, count(*) AS m FROM s
         |  GROUP BY 1, 2),
         |r2 AS (SELECT ${grainStatsSql("'product_day'", "g2")})
         |SELECT *, n_dup_keys = 0 AS grain_ok FROM r1
         |UNION ALL SELECT *, n_dup_keys = 0 AS grain_ok FROM r2"""),
    etlCdcApply,
    Key("etl_dq_profile")((s, dir) =>
      operators.RetailEtl.dqProfile(Tables.lineitem(s, dir),
        Seq("l_partkey", "l_returnflag", "l_shipdate", "l_quantity")))(
      """SELECT col_name, n_rows, n_nulls,
        | n_distinct, round(n_nulls * 1.0 / n_rows, 6) AS null_frac
        |FROM (
        | SELECT 'l_partkey' AS col_name, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_nulls,
        |  count(DISTINCT l_partkey) AS n_distinct FROM lineitem
        | UNION ALL SELECT 'l_returnflag', count(*),
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT l_returnflag) FROM lineitem
        | UNION ALL SELECT 'l_shipdate', count(*),
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT l_shipdate) FROM lineitem
        | UNION ALL SELECT 'l_quantity', count(*),
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT l_quantity) FROM lineitem) p"""),
    // the single-pass HLL twin, graduated r16 via the calibration
    // pattern: exact profile anchors + the engine's-own-HLL-
    // within-5% boolean (the HLL route still runs inside it)
    Key("etl_dq_profile_approx")((s, dir) =>
      operators.RetailEtl.dqCalibration(Tables.lineitem(s, dir),
        Seq("l_partkey", "l_returnflag", "l_shipdate", "l_quantity")))(
      // calibration form (r16): the exact profile anchor + a
      // within-5% claim over DuckDB's OWN approx_count_distinct per
      // column; tolerance max(2, n_distinct·5%) in floored integers
      s"""$dqCalibrationHead
        | SELECT 'l_partkey' AS col_name, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_nulls,
        |  count(DISTINCT l_partkey) AS n_distinct,
        |  approx_count_distinct(l_partkey) AS apx FROM lineitem
        | UNION ALL SELECT 'l_returnflag', count(*),
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT l_returnflag),
        |  approx_count_distinct(l_returnflag) FROM lineitem
        | UNION ALL SELECT 'l_shipdate', count(*),
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT l_shipdate),
        |  approx_count_distinct(l_shipdate) FROM lineitem
        | UNION ALL SELECT 'l_quantity', count(*),
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT l_quantity),
        |  approx_count_distinct(l_quantity) FROM lineitem) p"""),
    Key("etl_check_constraints")((s, dir) =>
      operators.RetailEtl.checkConstraints(Tables.lineitem(s, dir), Seq(
        ("qty_in_range", col("l_quantity") >= 1 && col("l_quantity") <= 50),
        ("qty_le_30", col("l_quantity") <= 30), // deliberately failing
        ("discount_in_range",
          col("l_discount") >= 0.0 && col("l_discount") <= 0.1),
        ("price_positive", col("l_extendedprice") > 0),
        ("returnflag_enum", col("l_returnflag").isin("A", "N", "R")),
        ("ship_in_horizon",
          col("l_shipdate") >= lit("1992-01-01") &&
            col("l_shipdate") < lit("1999-01-01"))))) {
      // CASE … THEN 0 ELSE 1 sends NULL predicates to ELSE —
      // matching the Spark side's coalesce(pred, false)
      val rules = Seq(
        "qty_in_range" -> "l_quantity >= 1 AND l_quantity <= 50",
        "qty_le_30" -> "l_quantity <= 30",
        "discount_in_range" -> "l_discount >= 0.0 AND l_discount <= 0.1",
        "price_positive" -> "l_extendedprice > 0",
        "returnflag_enum" -> "l_returnflag IN ('A', 'N', 'R')",
        "ship_in_horizon" ->
          "l_shipdate >= '1992-01-01' AND l_shipdate < '1999-01-01'")
      val agg = "SELECT count(*) AS n_rows, " + rules.zipWithIndex.map {
        case ((_, p), i) =>
          s"CAST(sum(CASE WHEN $p THEN 0 ELSE 1 END) AS BIGINT) AS v$i"
      }.mkString(", ") + " FROM lineitem"
      s"WITH a AS ($agg) " + rules.zipWithIndex.map { case ((n, _), i) =>
        s"SELECT '$n' AS rule, n_rows, v$i AS n_violations, " +
          s"round(v$i * 1.0 / n_rows, 6) AS violation_frac, " +
          s"v$i = 0 AS passes FROM a"
      }.mkString(" UNION ALL ")
    },
    Key("etl_fd_violations")((s, dir) =>
      operators.RetailEtl.fdAudit(Tables.lineitem(s, dir), Seq(
        // the composite PK determines everything (holds); a part is
        // multi-sourced and an order multi-line, so the other two are
        // the documented BROKEN claims the audit exists to expose
        ("pk_determines_part", Seq("l_orderkey", "l_linenumber"), "l_partkey"),
        ("part_determines_supplier", Seq("l_partkey"), "l_suppkey"),
        ("order_determines_linestatus", Seq("l_orderkey"), "l_linestatus")))) {
      def fd(name: String, det: String, dep: String): String =
        s"SELECT '$name' AS fd, count(*) AS n_keys, " +
          "CAST(sum(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
          "AS n_violating_keys, " +
          "round(CAST(sum(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
          "* 1.0 / count(*), 6) AS violation_frac, " +
          "max(variants) AS max_variants, " +
          "CAST(sum(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0 " +
          s"AS holds FROM (SELECT count(DISTINCT $dep) AS variants " +
          s"FROM lineitem GROUP BY $det) g"
      fd("pk_determines_part", "l_orderkey, l_linenumber", "l_partkey") +
        " UNION ALL " +
        fd("part_determines_supplier", "l_partkey", "l_suppkey") +
        " UNION ALL " +
        fd("order_determines_linestatus", "l_orderkey", "l_linestatus")
    },
    Key("etl_referential_integrity")((s, dir) =>
      operators.RetailEtl.riAudit(Seq(
        ("lineitem_orders", Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey"),
        ("lineitem_part", Tables.lineitem(s, dir), "l_partkey",
          Tables.part(s, dir), "p_partkey"),
        ("orders_customer", Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey"),
        ("customer_nation", Tables.customer(s, dir), "c_nationkey",
          Tables.nation(s, dir), "n_nationkey")))) {
      def rel(name: String, child: String, fk: String,
              parent: String, pk: String): String =
        s"""(WITH ck AS (SELECT $fk AS k, count(*) AS n FROM $child
           | WHERE $fk IS NOT NULL GROUP BY 1),
           |orph AS (SELECT coalesce(CAST(sum(n) AS BIGINT), 0)
           |  AS n_orphan_rows, count(*) AS n_orphan_keys
           | FROM ck WHERE k NOT IN (SELECT $pk FROM $parent)),
           |tot AS (SELECT count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $fk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |  AS n_null_fk FROM $child)
           |SELECT '$name' AS relationship, tot.n_rows, tot.n_null_fk,
           | orph.n_orphan_rows, orph.n_orphan_keys,
           | orph.n_orphan_rows = 0 AS intact FROM tot, orph)"""
      Seq(
        rel("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        rel("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
        rel("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        rel("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"))
        .mkString(" UNION ALL ")
    },
    Key("etl_dq_drift")((s, dir) => {
      val li = Tables.lineitem(s, dir)
      operators.RetailEtl.dqDrift(
        li.filter(year(col("l_shipdate")) === 1995),
        li.filter(year(col("l_shipdate")) === 1996),
        Seq("l_partkey", "l_returnflag", "l_shipdate", "l_quantity"))
    }) {
      def prof(year: Int): String =
        Seq("l_partkey", "l_returnflag", "l_shipdate", "l_quantity").map(c =>
          s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
            s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
            s"count(DISTINCT $c) AS n_distinct " +
            s"FROM lineitem WHERE year(l_shipdate) = $year")
          .mkString(" UNION ALL ")
      s"""WITH a AS (${prof(1995)}), b AS (${prof(1996)})
         |SELECT col_name, a.n_rows AS n_rows_a, a.n_distinct AS n_distinct_a,
         | round(a.n_nulls * 1.0 / a.n_rows, 6) AS null_frac_a,
         | b.n_rows AS n_rows_b, b.n_distinct AS n_distinct_b,
         | round(b.n_nulls * 1.0 / b.n_rows, 6) AS null_frac_b,
         | round(round(b.n_nulls * 1.0 / b.n_rows, 6)
         |  - round(a.n_nulls * 1.0 / a.n_rows, 6), 6) AS null_frac_delta,
         | CASE WHEN a.n_distinct = 0 THEN NULL
         |  ELSE round(CAST(b.n_distinct AS DOUBLE)
         |   / CAST(a.n_distinct AS DOUBLE), 6) END AS distinct_ratio
         |FROM a JOIN b USING (col_name)"""
    },
    Key("etl_table_diff")((s, dir) => {
      val li = Tables.lineitem(s, dir)
      // two period snapshots of the product summary; quantities are
      // integer-valued and prices cent-precision, so both sums run on
      // exact integers — the changed/unchanged classification is
      // engine-stable with no rounding step at all
      def snap(yr: Int) = li.filter(year(col("l_shipdate")) === yr)
        .groupBy(col("l_partkey").as("product_id"))
        .agg(sum(col("l_quantity").cast("long")).cast("double")
          .as("total_quantity"),
          (sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .cast("double") / 100.0).as("total_sale_amount"))
      operators.RetailEtl.tableDiff(snap(1995), snap(1996),
        Seq("product_id"), Seq("total_quantity", "total_sale_amount"))
    })(
      """WITH o AS (SELECT l_partkey AS product_id,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS q,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |   AS DOUBLE) / 100.0 AS a
        | FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1),
        |n AS (SELECT l_partkey AS product_id,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS q,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |   AS DOUBLE) / 100.0 AS a
        | FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1)
        |SELECT * FROM (
        | SELECT coalesce(o.product_id, n.product_id) AS product_id,
        |  CASE WHEN o.product_id IS NULL THEN 'added'
        |   WHEN n.product_id IS NULL THEN 'removed'
        |   WHEN o.q IS DISTINCT FROM n.q OR o.a IS DISTINCT FROM n.a
        |    THEN 'changed' END AS diff_type,
        |  o.q AS old_total_quantity, n.q AS new_total_quantity,
        |  o.a AS old_total_sale_amount, n.a AS new_total_sale_amount
        | FROM o FULL OUTER JOIN n ON o.product_id = n.product_id) d
        |WHERE diff_type IS NOT NULL"""),
    etlScd2UserState,
    Key("etl_dim_asof_enrich")((s, dir) =>
      EventOps.enrichPointInTime(Tables.events(s, dir)))(
      s"""WITH ${scdVersionCtes("events WHERE event_type <> 'purchase'")},
        |g0 AS (SELECT user_id, CAST(version AS BIGINT) AS version,
        |  event_type AS state, min(ts) AS valid_from
        | FROM v GROUP BY 1, 2, 3),
        |g AS (SELECT * FROM g0 QUALIFY row_number() OVER (
        |  PARTITION BY user_id, valid_from ORDER BY version DESC) = 1)
        |SELECT f.event_id, f.user_id, f.ts, f.value,
        | d.version AS dim_version, d.state AS dim_state
        |FROM (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase') f
        |ASOF LEFT JOIN g d
        | ON f.user_id = d.user_id AND f.ts >= d.valid_from"""),
    Key("etl_dim_asof_coverage")((s, dir) =>
      EventOps.asofCoverage(Tables.events(s, dir)))(
      // the enrichment CTE chain aggregated to the per-day coverage
      // report; n_early sum CAST to BIGINT (HUGEINT trap), rate on
      // the 1e-6 grid from exact long division
      s"""WITH ${scdVersionCtes("events WHERE event_type <> 'purchase'")},
        |g0 AS (SELECT user_id, CAST(version AS BIGINT) AS version,
        |  min(ts) AS valid_from
        | FROM v GROUP BY 1, 2, event_type),
        |g AS (SELECT * FROM g0 QUALIFY row_number() OVER (
        |  PARTITION BY user_id, valid_from ORDER BY version DESC) = 1),
        |enr AS (SELECT f.ts, d.version AS dim_version
        | FROM (SELECT event_id, user_id, ts FROM events
        |   WHERE event_type = 'purchase') f
        | ASOF LEFT JOIN g d
        |  ON f.user_id = d.user_id AND f.ts >= d.valid_from)
        |SELECT CAST(ts AS DATE) AS day, count(*) AS n_facts,
        | CAST(sum(CASE WHEN dim_version IS NULL THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_early,
        | round(sum(CASE WHEN dim_version IS NULL THEN 1 ELSE 0 END)
        |  * 1.0 / count(*), 6) AS early_rate
        |FROM enr GROUP BY 1"""),
    Key("etl_benford_check")((s, dir) =>
      operators.RetailEtl.benfordCheck(Tables.orders(s, dir), "o_totalprice"))(
      // leading digit from the STRING rendering of exact cents —
      // no float log10 boundary hazards; χ² over the 9-row relation
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
        |   AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        | FROM orders WHERE o_totalprice > 0
        |  AND CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS total,
        |  log10(1.0 + 1.0 / digit) AS e FROM g),
        |c AS (SELECT digit, n, n * 1.0 / total AS share, e,
        |  pow(n - total * e, 2) / (total * e) AS chi2_term FROM t)
        |SELECT digit, n, round(share, 6) AS share,
        | round(e, 6) AS benford_p, round(chi2_term, 6) AS chi2_term,
        | round(sum(chi2_term) OVER (), 6) AS chi2_total FROM c"""),
  )
}
