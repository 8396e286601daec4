package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** OLAP query library over the TPC-H-ish star schema — the analytic
  * surface a retail warehouse needs beyond the reference's single
  * summary (SURVEY.md §2.B).
  *
  * Scale posture: every dimension side is explicitly `broadcast()`
  * (region/nation/supplier/customer are tiny relative to the facts),
  * so only fact-fact joins shuffle; aggregates are all
  * partial-aggregation friendly; windows partition by high-cardinality
  * keys so no single partition collects the world.
  */
object Analytics {

  /** TPC-H Q1-style pricing summary: wide multi-aggregate grouped on
    * a low-cardinality key — exercises map-side partial aggregation.
    */
  def pricingSummary(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum("l_quantity").as("sum_qty"),
        sum("l_extendedprice").as("sum_base_price"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))
          .as("sum_charge"),
        avg("l_quantity").as("avg_qty"),
        avg("l_extendedprice").as("avg_price"),
        avg("l_discount").as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** TPC-H Q3-style: segment filter → join → revenue per order →
    * deterministic top-N. Customer side is broadcast; lineitem only
    * shuffles once for the groupBy.
    */
  def topRevenueOrders(customer: DataFrame, orders: DataFrame, lineitem: DataFrame,
                       segment: String = "BUILDING", n: Int = 10): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer.filter(col("c_mktsegment") === segment)),
        col("o_custkey") === col("c_custkey"))
      .groupBy("o_orderkey", "o_orderdate")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(n)

  /** [[topRevenueOrders]] with an explicit Bloom runtime filter: the
    * segment predicate qualifies ~1/5 of customers, so the qualifying
    * order keys are Bloom-compacted and lineitem is pruned BEFORE its
    * join shuffle. Same result (false positives die in the real
    * join — shares the q3 oracle); the win is the shuffle writing
    * ~selectivity of the fact instead of all of it. The extra
    * `count()` job prices the filter's size honestly — at scale you'd
    * take it from table statistics instead.
    */
  def topRevenueOrdersBloom(customer: DataFrame, orders: DataFrame,
                            lineitem: DataFrame,
                            segment: String = "BUILDING", n: Int = 10): DataFrame = {
    val qualOrders = orders
      .join(broadcast(customer.filter(col("c_mktsegment") === segment)
        .select("c_custkey")), col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "o_orderdate", "o_custkey")
    val bf = BloomPrune.keyFilter(qualOrders, "o_orderkey",
      expectedItems = qualOrders.count())
    BloomPrune.prune(lineitem.select("l_orderkey", "l_extendedprice", "l_discount"),
      "l_orderkey", bf)
      .join(qualOrders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderkey", "o_orderdate")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(n)
  }

  /** Exact heavy hitters over the event stream: users whose event
    * count exceeds `factor`× the per-user mean. Two aggregates — the
    * per-user count (one shuffle) and a one-row mean over those
    * counts (broadcast back as a scalar) — so the fact is read once.
    * At 100 TB with too many users for an exact per-key count,
    * the swap is a Misra-Gries / Count-Min summary per partition
    * merged on the driver; this exact form is also the oracle for
    * validating that sketch's error bound.
    */
  def heavyHitters(events: DataFrame, factor: Double = 1.25): DataFrame = {
    val counts = events.groupBy("user_id").agg(count(lit(1)).as("n_events"))
    val thr = counts.agg((avg("n_events") * factor).as("thr"))
    counts.crossJoin(broadcast(thr))
      .filter(col("n_events") > col("thr"))
      .select(col("user_id"), col("n_events"))
  }

  /** TPC-H Q4-style order priority check: orders in a date window
    * with at least one returned line, counted per priority. The
    * EXISTS is a left-semi join — no fact row ever duplicates, and
    * the lineitem side is pre-filtered to returned lines so the
    * semi-join state holds the qualifying slice only.
    */
  def orderPriorityCheck(orders: DataFrame, lineitem: DataFrame,
                         lo: String = "1996-01-01",
                         hi: String = "1997-01-01"): DataFrame =
    orders
      .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      .join(lineitem.filter(col("l_returnflag") === "R").select("l_orderkey"),
        col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))

  /** TPC-H Q13-style customer distribution: how many customers
    * placed 0, 1, 2, … orders — the left-join double-aggregate
    * shape. The first aggregate shuffles on c_custkey (the join
    * key, so AQE can often collapse join+agg into one exchange);
    * the second groups the per-customer counts, a |customers|-row
    * input with map-side partials. Zero-order customers survive via
    * the left join's null o_orderkey, which `count(col)` skips.
    */
  def customerDistribution(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.select("c_custkey")
      .join(orders.select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  /** TPC-H Q5-style: six-way join with all dims broadcast, revenue by
    * nation (supplier and customer in the same nation).
    */
  def regionalRevenue(region: DataFrame, nation: DataFrame, customer: DataFrame,
                      supplier: DataFrame, orders: DataFrame, lineitem: DataFrame,
                      regionName: String = "REGION#0"): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region.filter(col("r_name") === regionName)),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))

  /** Star-join enrichment: orders decorated with customer + nation
    * attributes. Pure broadcast joins — the fact table never shuffles,
    * which is the only viable plan when orders is 100 TB and the dims
    * are megabytes.
    */
  def enrichOrders(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderstatus"), col("c_name").as("customer_name"),
        col("c_mktsegment").as("segment"), col("n_name").as("nation"))

  /** Top-N per group via row_number window — tie-broken on the key so
    * the result is deterministic.
    */
  def topCustomersPerSegment(customer: DataFrame, n: Int = 5): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    customer
      .withColumn("rank_in_segment", row_number().over(w))
      .filter(col("rank_in_segment") <= n)
      .select("c_mktsegment", "rank_in_segment", "c_custkey", "c_name", "c_acctbal")
  }

  /** [[topCustomersPerSegment]] through the bounded-memory
    * [[graft.functions.TopKAgg]] aggregator: map tasks pre-reduce
    * each segment to ≤ n candidates, so the exchange carries
    * |segments|·n rows where the window variant sort-shuffles every
    * customer. Result-identical (shares the oracle).
    */
  def topCustomersPerSegmentAgg(customer: DataFrame, n: Int = 5): DataFrame =
    customer
      .groupBy(col("c_mktsegment"))
      .agg(graft.functions.TopKAgg.largestKWithPayload(
        col("c_acctbal"), col("c_custkey"), col("c_name"), n).as("top"))
      .select(col("c_mktsegment"), posexplode(col("top")))
      .select(col("c_mktsegment"),
        (col("pos") + 1).cast("long").as("rank_in_segment"),
        col("col._2").as("c_custkey"),
        col("col._3").as("c_name"),
        col("col._1").as("c_acctbal"))

  /** Running total + 3-row moving average of order value per
    * customer, ordered by date (event-time ordering tie-broken by
    * key). Partitioned by customer → parallel across the cluster.
    */
  def runningTotals(orders: DataFrame): DataFrame = {
    val ord = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders.select(
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
      sum("o_totalprice").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("running_total"),
      avg("o_totalprice").over(ord.rowsBetween(-2, Window.currentRow))
        .as("moving_avg_3"))
  }

  /** Left-semi (EXISTS) and left-anti (NOT EXISTS) in one relation:
    * customers with vs without orders. Semi/anti joins shuffle only
    * keys, never materialize the probe payload.
    */
  def customerOrderPresence(customer: DataFrame, orders: DataFrame): DataFrame = {
    val keys = orders.select(col("o_custkey"))
    val has = customer.join(keys, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), lit("has_order").as("status"))
    val not = customer.join(keys, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"), lit("no_order").as("status"))
    has.unionByName(not)
  }

  /** Revenue by part brand/type: fact⋈dim broadcast join + two-key
    * aggregate, touching the `part` dimension.
    */
  def brandRevenue(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type")
      .agg(
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        sum("l_quantity").as("total_qty"),
        count(lit(1)).as("num_lines"))

  /** [[brandRevenue]] through [[Skew.saltedJoin]] — result-identical
    * (oracle-checked against the same SQL), but the fact side fans
    * each part key over salt buckets first. The defense for when one
    * part dominates the fact table and even a broadcast join's
    * downstream aggregate would hot-spot; result parity is the point
    * of the driver check.
    */
  def brandRevenueSalted(lineitem: DataFrame, part: DataFrame,
                         saltBuckets: Int = 16): DataFrame =
    Skew.saltedJoin(
      lineitem.select("l_partkey", "l_extendedprice", "l_discount", "l_quantity"),
      part.withColumnRenamed("p_partkey", "l_partkey")
        .select("l_partkey", "p_brand", "p_type"),
      keys = Seq("l_partkey"), saltBuckets = saltBuckets)
      .groupBy("p_brand", "p_type")
      .agg(
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        sum("l_quantity").as("total_qty"),
        count(lit(1)).as("num_lines"))

  /** Exact interpolated percentiles of order value per segment
    * (Spark `percentile` ≡ ANSI `quantile_cont`). At 100 TB swap for
    * `percentile_approx` — same plan shape, bounded memory.
    */
  def orderValuePercentiles(orders: DataFrame, customer: DataFrame): DataFrame =
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(
        expr("percentile(o_totalprice, 0.5)").as("p50"),
        expr("percentile(o_totalprice, 0.9)").as("p90"),
        expr("percentile(o_totalprice, 0.99)").as("p99"))

  /** Cohort LTV: revenue by acquisition-month cohort × months since
    * acquisition. The cohort assignment is a per-customer min — one
    * aggregate + one broadcast-back join, no window over the fact.
    */
  def cohortLtv(orders: DataFrame): DataFrame = {
    val cohorts = orders.groupBy("o_custkey")
      .agg(date_trunc("month", min("o_orderdate")).as("cohort_month"))
    orders
      .join(cohorts, "o_custkey")
      .groupBy(col("cohort_month"),
        months_between(date_trunc("month", col("o_orderdate")), col("cohort_month"))
          .cast("long").as("month_offset"))
      .agg(
        sum("o_totalprice").as("revenue"),
        countDistinct("o_custkey").as("active_customers"))
  }

  /** dense_rank + ntile quartiles per segment — the ranking-window
    * family beyond row_number. */
  def segmentQuartiles(customer: DataFrame): DataFrame = {
    val byBal = Window.partitionBy("c_mktsegment").orderBy(col("c_acctbal").desc)
    val total = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    customer.select(
      col("c_mktsegment"), col("c_custkey"), col("c_acctbal"),
      dense_rank().over(byBal).cast("long").as("balance_rank"),
      ntile(4).over(total).cast("long").as("quartile"))
  }

  /** RFM customer segmentation — recency / frequency / monetary
    * quintile scores, the classic retail marketing cut. The global
    * quintile boundaries are computed EXACTLY on the |customers|-row
    * aggregate with interpolated percentiles and collected — 12
    * scalars — then applied as broadcast cut-point comparisons: a
    * `ntile(5) OVER (ORDER BY …)` would funnel every customer
    * through one task, three times. Scores are
    * `1 + #(cuts strictly below the value)` (recency inverted —
    * fresher is better), so boundary semantics are explicit and
    * replay identically in the oracle (`quantile_cont` ≡ Spark's
    * `percentile`, the q_percentiles-proven pairing).
    */
  /** Customer lifecycle migration between two periods — where did
    * each tier's customers GO (the question RFM snapshots can't
    * answer alone): activity tiers from fixed order-count bands
    * (1 → one_time, 2–3 → repeat, 4+ → loyal; integer thresholds, so
    * the tiering replays in any engine with no percentile state),
    * `absent` filled in on either side by the full-outer join —
    * churn is (tier → absent), acquisition (absent → tier). Two
    * year-pruned aggregates (partition pruning reaches the scan),
    * one co-partitioned full-outer join on the customer key, and the
    * per-from-tier share window runs over the ≤ 16-cell matrix,
    * never the fact.
    */
  def segmentMigration(orders: DataFrame, yearA: Int = 1995,
                       yearB: Int = 1996): DataFrame = {
    def tiers(yr: Int, alias: String) = orders
      .filter(year(col("o_orderdate")) === yr)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"))
      .select(col("o_custkey"),
        when(col("n") === 1, "one_time")
          .when(col("n") <= 3, "repeat")
          .otherwise("loyal").as(alias))
    val moved = tiers(yearA, "tier_from")
      .join(tiers(yearB, "tier_to"), Seq("o_custkey"), "full_outer")
      .select(
        coalesce(col("tier_from"), lit("absent")).as("tier_from"),
        coalesce(col("tier_to"), lit("absent")).as("tier_to"))
      .groupBy("tier_from", "tier_to")
      .agg(count(lit(1)).as("n_customers"))
    moved.withColumn("from_share",
      round(col("n_customers") /
        sum("n_customers").over(Window.partitionBy("tier_from")), 6))
  }

  def rfmSegments(orders: DataFrame): DataFrame = {
    // corpus max date rides in as a broadcast 1-row frame (no typed
    // driver collect — the column may be date or ntz timestamp)
    val per = orders
      .crossJoin(broadcast(orders.agg(max("o_orderdate").as("corpus_max"))))
      .groupBy("o_custkey").agg(
        datediff(max("corpus_max"), max("o_orderdate"))
          .cast("long").as("recency_days"),
        count(lit(1)).as("frequency"),
        sum("o_totalprice").as("monetary"))
      .localCheckpoint(true) // percentile pass + scoring pass share it
    val cuts = per.agg(
      expr("percentile(recency_days, array(0.2, 0.4, 0.6, 0.8))").as("rc"),
      expr("percentile(frequency, array(0.2, 0.4, 0.6, 0.8))").as("fc"),
      expr("percentile(monetary, array(0.2, 0.4, 0.6, 0.8))").as("mc")).head()
    def above(v: Column, cs: Seq[Double]): Column =
      cs.map(c => when(v > c, 1L).otherwise(0L)).reduce(_ + _)
    // empty input → null percentile arrays: no customers to score
    if (cuts.isNullAt(0)) return per.select(
      col("o_custkey"), col("recency_days"), col("frequency"),
      col("monetary"), lit(0L).as("r_score"), lit(0L).as("f_score"),
      lit(0L).as("m_score"), lit(0L).as("rfm")).limit(0)
    val rc = cuts.getSeq[Double](0); val fc = cuts.getSeq[Double](1)
    val mc = cuts.getSeq[Double](2)
    per.select(col("o_custkey"), col("recency_days"), col("frequency"),
      col("monetary"),
      (lit(5L) - above(col("recency_days"), rc)).as("r_score"),
      (lit(1L) + above(col("frequency"), fc)).as("f_score"),
      (lit(1L) + above(col("monetary"), mc)).as("m_score"))
      .withColumn("rfm",
        col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
  }

  /** Market-basket affinity: part pairs co-purchased in the same
    * order, with support counts — the retail association-rules
    * input. The pair fan-out is the quadratic hazard: it's bounded
    * per order by (distinct parts choose 2), so orders with more
    * than `maxParts` distinct parts are excluded FIRST (standard
    * basket hygiene — a 10k-line procurement order would contribute
    * 50M pairs and no signal). After the guard, the self-join on
    * l_orderkey fans out ≤ maxParts²/2 per order: linear in orders,
    * one shuffle for the join, one for the pair count.
    */
  /** The shared basket core: (order, part) distinct rows surviving
    * the giant-order guard. Lazy: [[basketAffinity]]'s lone
    * self-join gets exchange reuse for free, and callers with several
    * independent consumers ([[basketRules]]: pairs, per-part counts,
    * order total) read it pinned ([[guardedBasketsShared]]). */
  private def guardedBaskets(lineitem: DataFrame, maxParts: Int): DataFrame = {
    val perOrder = lineitem.select("l_orderkey", "l_partkey").distinct()
    val small = perOrder.groupBy("l_orderkey")
      .agg(count(lit(1)).as("n_parts"))
      .filter(col("n_parts") <= maxParts)
      .select("l_orderkey")
    perOrder.join(small, Seq("l_orderkey"), "left_semi")
  }

  /** Guarded co-purchase pair counts ≥ minOrders — the shared pair
    * engine of [[basketAffinity]] and [[basketRules]]. */
  private def guardedPairs(guarded: DataFrame, minOrders: Long): DataFrame =
    guarded.select(col("l_orderkey"), col("l_partkey").as("part_a"))
      .join(guarded.select(col("l_orderkey"), col("l_partkey").as("part_b")),
        Seq("l_orderkey"))
      .filter(col("part_a") < col("part_b"))
      .groupBy("part_a", "part_b")
      .agg(count(lit(1)).as("n_orders_together"))
      .filter(col("n_orders_together") >= minOrders)

  def basketAffinity(lineitem: DataFrame, minOrders: Long = 2,
                     maxParts: Int = 20): DataFrame =
    guardedPairs(guardedBaskets(lineitem, maxParts), minOrders)

  /** [[basketAffinity]] from an already-built (typically pinned)
    * [[guardedBasketsShared]] relation — the driver's shared cache
    * builds the trunk once and derives the pair engine from it
    * instead of paying a second guarded-basket pass. */
  def basketAffinityOf(baskets: DataFrame, minOrders: Long = 2): DataFrame =
    guardedPairs(baskets, minOrders)

  /** The pinned guarded (order, part) basket relation at the family
    * defaults — built once by the driver's shared cache and passed
    * into [[basketRules]]/[[basketChi2]] as their `baskets` input
    * (the pair relation alone is not enough for them: both also
    * need per-part order counts and the guarded order total from
    * the SAME trunk). */
  def guardedBasketsShared(lineitem: DataFrame,
                           maxParts: Int = 20): DataFrame =
    guardedBaskets(lineitem, maxParts)

  /** Association rules over [[basketAffinity]]'s pairs: directed
    * confidence(a→b) = together/orders(a) and lift =
    * confidence / P(b) — the ranking a recommender actually uses.
    * Per-part order counts and the guarded order total are
    * broadcast-sized joins on the pair frame; both directions emit
    * from one pair row (a union of two projections, no second
    * self-join).
    */
  def basketRules(baskets: DataFrame, minOrders: Long = 2): DataFrame = {
    val nOrders = baskets.select("l_orderkey").distinct().count()
    val partOrders = baskets.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_orders_part"))
    val pairs = guardedPairs(baskets, minOrders)
      .withColumnRenamed("n_orders_together", "n_together")
    val directed = pairs.select(col("part_a").as("antecedent"),
        col("part_b").as("consequent"), col("n_together"))
      .unionByName(pairs.select(col("part_b").as("antecedent"),
        col("part_a").as("consequent"), col("n_together")))
    directed
      .join(partOrders.select(col("l_partkey").as("antecedent"),
        col("n_orders_part").as("n_ante")), Seq("antecedent"))
      .join(partOrders.select(col("l_partkey").as("consequent"),
        col("n_orders_part").as("n_cons")), Seq("consequent"))
      .select(col("antecedent"), col("consequent"), col("n_together"),
        (col("n_together") / col("n_ante")).as("confidence"),
        (col("n_together") * lit(nOrders.toDouble) /
          (col("n_ante") * col("n_cons"))).as("lift"))
  }

  /** Order-priority mix per month — covers the priority dimension
    * with a two-key count/sum aggregate. */
  def priorityMix(orders: DataFrame): DataFrame =
    orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"),
        col("o_orderpriority"))
      .agg(count(lit(1)).as("num_orders"), sum("o_totalprice").as("revenue"))

  /** Days since each customer's previous order — lag window +
    * day-difference, the order-cadence feature. */
  def orderGaps(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    orders.select(
      col("o_custkey"), col("o_orderkey"),
      col("o_orderdate").cast("date").as("order_date"),
      // long: DuckDB/ANSI date_diff is BIGINT, Spark datediff is int
      datediff(col("o_orderdate").cast("date"),
        lag(col("o_orderdate").cast("date"), 1).over(w)).cast("long")
        .as("days_since_prev"))
  }

  /** Set operators: customers who are both big spenders AND in the
    * segment (INTERSECT) vs in the segment but not big spenders
    * (EXCEPT), unioned with a tag. Set semantics — both engines
    * deduplicate.
    */
  def segmentSpenderSets(orders: DataFrame, customer: DataFrame,
                         segment: String = "BUILDING",
                         minSpend: Double = 2500000.0): DataFrame = {
    val bigSpenders = orders.groupBy("o_custkey")
      .agg(sum("o_totalprice").as("spend"))
      .filter(col("spend") > minSpend)
      .select(col("o_custkey").as("c_custkey"))
    val inSegment = customer.filter(col("c_mktsegment") === segment)
      .select("c_custkey")
    inSegment.intersect(bigSpenders)
      .withColumn("tag", lit("segment_and_big"))
      .unionByName(
        inSegment.except(bigSpenders).withColumn("tag", lit("segment_only")))
  }

  /** ROLLUP revenue by (nation, segment) with subtotals at each
    * level; NULL group markers kept as-is (standard ROLLUP output).
    *
    * Goes through `spark.sql`: in Spark 4.1 the Dataset `rollup` API
    * over a joined input trips the ambiguous-self-join check (the
    * Expand node duplicates the grouping attributes and the
    * dataset-id detection flags them); the SQL path carries no
    * dataset-id metadata and plans the identical single-pass
    * Expand + partial aggregate.
    */
  def rollupRevenue(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    groupingSetRevenue(orders, customer, nation, "ROLLUP")

  /** CUBE variant of [[rollupRevenue]] — every grouping-set
    * combination including the segment-only slice ROLLUP lacks. */
  def cubeRevenue(orders: DataFrame, customer: DataFrame, nation: DataFrame): DataFrame =
    groupingSetRevenue(orders, customer, nation, "CUBE")

  private def groupingSetRevenue(orders: DataFrame, customer: DataFrame,
                                 nation: DataFrame, op: String): DataFrame = {
    val spark = orders.sparkSession
    orders.createOrReplaceTempView("graft_gs_orders")
    customer.createOrReplaceTempView("graft_gs_customer")
    nation.createOrReplaceTempView("graft_gs_nation")
    spark.sql(
      s"""SELECT n_name, c_mktsegment,
         |       sum(o_totalprice) AS revenue, count(*) AS num_orders
         |FROM graft_gs_orders
         |JOIN graft_gs_customer ON o_custkey = c_custkey
         |JOIN graft_gs_nation ON c_nationkey = n_nationkey
         |GROUP BY $op (n_name, c_mktsegment)""".stripMargin)
  }

  /** Explicit GROUPING SETS (the asymmetric cousin of
    * rollup/cube): per-nation and per-segment slices in one pass
    * over the join, with `grouping()` flags marking which dimension
    * each output row aggregates away. One shuffle; the expand
    * operator fans each input row into its grouping sets before the
    * partial aggregate, so no second scan.
    */
  def groupingSetsRevenue(orders: DataFrame, customer: DataFrame,
                          nation: DataFrame): DataFrame = {
    val spark = orders.sparkSession
    orders.createOrReplaceTempView("graft_gs2_orders")
    customer.createOrReplaceTempView("graft_gs2_customer")
    nation.createOrReplaceTempView("graft_gs2_nation")
    spark.sql(
      """SELECT n_name, c_mktsegment,
        |       CAST(grouping(n_name) AS BIGINT) AS g_nation,
        |       CAST(grouping(c_mktsegment) AS BIGINT) AS g_segment,
        |       sum(o_totalprice) AS revenue, count(*) AS num_orders
        |FROM graft_gs2_orders
        |JOIN graft_gs2_customer ON o_custkey = c_custkey
        |JOIN graft_gs2_nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment))""".stripMargin)
  }

  /** TPC-H Q2-flavored: per part, the supplier offering the lowest
    * observed unit price (extendedprice/quantity), ties broken by
    * supplier key. Aggregate-then-rank: the window runs over the
    * (part, supplier) aggregate — |parts|·|suppliers-per-part| rows,
    * never raw lineitem. Dimensions broadcast.
    */
  def minCostSupplier(lineitem: DataFrame, supplier: DataFrame,
                      part: DataFrame): DataFrame = {
    val perSupp = lineitem
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("min_unit_price"))
    val w = Window.partitionBy("l_partkey")
      .orderBy(col("min_unit_price").asc, col("l_suppkey").asc)
    perSupp
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("p_partkey"), col("p_name"), col("s_suppkey"), col("s_name"),
        col("min_unit_price"))
  }

  /** TPC-H Q9-flavored product-line profit: revenue for parts of one
    * type, by supplier nation × ORDER year. The part filter
    * broadcasts and prunes the fact before anything else touches it;
    * supplier→nation folds into one broadcast map; the only shuffle
    * is the fact-fact lineitem ⋈ orders for the order year. (The
    * schema has no partsupp, so profit is revenue-only — the join
    * tree and group shape are Q9's.)
    */
  def profitByNationYear(lineitem: DataFrame, orders: DataFrame,
                         part: DataFrame, supplier: DataFrame,
                         nation: DataFrame, pType: String = "STANDARD"): DataFrame = {
    val typedParts = broadcast(
      part.filter(col("p_type") === pType).select("p_partkey"))
    val suppNation = broadcast(
      supplier.join(nation, col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name").as("nation")))
    lineitem
      .join(typedParts, col("l_partkey") === col("p_partkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .join(orders.select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("profit"))
  }

  /** TPC-H Q7-flavored: shipped revenue between distinct
    * (supplier-nation → customer-nation) pairs by ship year. One
    * fact-fact shuffle (lineitem ⋈ orders); all dims broadcast.
    */
  def nationVolume(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                   supplier: DataFrame, nation: DataFrame): DataFrame = {
    val suppNation = broadcast(supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    val custNation = broadcast(customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation")))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(suppNation, col("l_suppkey") === col("s_suppkey"))
      .join(custNation, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("volume"))
  }

  /** TPC-H Q11-flavored: parts whose revenue exceeds `factor` × the
    * mean per-part revenue. The threshold is scale-free (a global
    * mean, not an absolute), computed as a one-row aggregate and
    * broadcast — no second scan of the fact.
    */
  def importantParts(lineitem: DataFrame, part: DataFrame,
                     factor: Double = 1.5): DataFrame = {
    // exact revenue: prices are cent-precision and discounts
    // percent-precision, so cents * (100 - pct) sums as an exact
    // integer (ten-thousandths of a currency unit) in any order;
    // dividing once yields the same double on every engine. The
    // threshold comparison is then raw — only the mean is a float
    // sum, and a membership flip needs an exact revenue within ulps
    // of factor*mean (see docs/ORACLE_NOTES.md).
    val scaled = round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))
    val perPart = lineitem
      .groupBy("l_partkey")
      .agg((sum(scaled).cast("double") / 10000.0).as("revenue"))
    val meanRev = perPart.agg(avg("revenue").as("mean_revenue"))
    perPart
      .crossJoin(broadcast(meanRev))
      .filter(col("revenue") > lit(factor) * col("mean_revenue"))
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .select(col("p_partkey"), col("p_name"), col("p_brand"), col("revenue"))
  }

  /** TPC-H Q18-flavored: orders whose total line quantity exceeds
    * `minQty`, with their customer. Aggregate-then-semi-join: the
    * grouped HAVING runs first, and only qualifying keys join back —
    * orders/customer sides never see disqualified rows.
    */
  def largeOrders(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                  minQty: Double = 200.0): DataFrame = {
    val bigKeys = lineitem
      .groupBy("l_orderkey")
      .agg(sum("l_quantity").as("sum_qty"))
      .filter(col("sum_qty") > minQty)
    orders
      .join(bigKeys, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
  }

  /** Correlated-subquery pattern — orders above their own customer's
    * average — decorrelated into a per-customer window (one shuffle,
    * no self-join). The average is rounded to a fixed 1e-6 grid
    * before the comparison so the row set is identical across
    * engines (double summation order differs).
    */
  def aboveAvgOrders(orders: DataFrame): DataFrame = {
    val byCust = Window.partitionBy("o_custkey")
    // exact per-customer average: o_totalprice is cent-precision, so
    // sum integer cents and divide once — a float avg sums in
    // partition order and the rounded grid can flip at boundaries
    val cents = round(col("o_totalprice") * 100, 0).cast("long")
    orders
      .withColumn("cust_avg", sum(cents).over(byCust).cast("double") /
        (count(lit(1)).over(byCust) * lit(100.0)))
      .filter(col("o_totalprice") > col("cust_avg"))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice", "cust_avg")
  }

  /** TPC-H Q16-flavored supplier variety: distinct suppliers
    * observed shipping each (brand, type). Exact distinct here —
    * a two-key shuffle of (brand, type, suppkey) triples; swap for
    * `approx_count_distinct` at 100 TB (same plan, sketch state).
    */
  def supplierVariety(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand", "p_type")
      .agg(countDistinct("l_suppkey").as("supplier_cnt"))

  /** TPC-H Q20-flavored heavy suppliers: suppliers that shipped more
    * than `minQty` of at least one part — grouped-HAVING on the
    * (supplier, part) aggregate, then a semi-join into the supplier
    * dim. The aggregate runs first, so the dim only ever joins
    * against qualifying keys.
    */
  def heavySuppliers(lineitem: DataFrame, supplier: DataFrame,
                     minQty: Double = 90.0): DataFrame = {
    val heavy = lineitem
      .groupBy("l_suppkey", "l_partkey")
      .agg(sum("l_quantity").as("qty"))
      .filter(col("qty") > minQty)
      .select("l_suppkey").distinct()
    supplier.join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name", "s_acctbal")
  }

  /** Order-to-ship delay distribution per priority: one fact-fact
    * join (lineitem⋈orders), then integer day-diffs aggregated on a
    * 5-value key — map-side partials collapse almost everything.
    */
  def shippingDelay(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(to_date(col("l_shipdate")), col("o_orderdate"))
          .cast("long").as("delay_days"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        avg("delay_days").as("avg_delay"),
        min("delay_days").as("min_delay"),
        max("delay_days").as("max_delay"))

  /** Return-rate by brand: returned-line share and revenue share as
    * conditional-sum ratios inside one aggregate (the
    * [[marketShare]] pattern on the returns dimension). */
  def returnRateByBrand(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val returned = when(col("l_returnflag") === "R", 1L).otherwise(0L)
    val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_lines"),
        sum(returned).as("n_returned"),
        round(sum(returned) / count(lit(1)), 6).as("return_rate"),
        round(sum(when(col("l_returnflag") === "R", revenue).otherwise(lit(0.0))) /
          sum(revenue), 6).as("returned_revenue_share"))
  }

  /** Order status × priority matrix — a two-low-cardinality-key
    * aggregate (map-side partials collapse it almost entirely before
    * the exchange). Covers the status dimension of the order
    * lifecycle. */
  def statusPriorityMatrix(orders: DataFrame): DataFrame =
    orders.groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("num_orders"),
        sum("o_totalprice").as("revenue"),
        avg("o_totalprice").as("avg_price"))

  /** Part catalog stats by brand and size band — covers the size /
    * retail-price dimensions. Pure dimension-table aggregate (no
    * fact scan). */
  def partSizeStats(part: DataFrame, sizeBand: Int = 10): DataFrame =
    part
      .withColumn("size_band", expr(s"p_size div $sizeBand"))
      .groupBy("p_brand", "size_band")
      .agg(count(lit(1)).as("num_parts"),
        avg("p_retailprice").as("avg_retail"),
        min("p_retailprice").as("min_retail"),
        max("p_retailprice").as("max_retail"))

  /** Year-over-year revenue growth per nation: yearly aggregate,
    * then a lag ratio within each nation's year sequence. The window
    * runs over the aggregate (|nations|·|years| rows), never the
    * fact. Growth rounded to the 1e-6 grid (double division).
    */
  def yoyGrowth(orders: DataFrame, customer: DataFrame,
                nation: DataFrame): DataFrame = {
    val yearly = orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(sum("o_totalprice").as("revenue"))
    val w = Window.partitionBy("n_name").orderBy("order_year")
    yearly.withColumn("yoy_growth",
      round(col("revenue") / lag("revenue", 1).over(w) - 1, 6))
  }

  /** TPC-H Q8-flavored market share: one nation's suppliers' share
    * of a region's yearly delivered revenue — a conditional-sum /
    * total-sum ratio inside a single aggregate (no second pass, no
    * self-join). */
  def marketShare(lineitem: DataFrame, orders: DataFrame, customer: DataFrame,
                  supplier: DataFrame, nation: DataFrame, region: DataFrame,
                  suppNation: String = "NATION_3", custRegion: String = "ASIA"): DataFrame = {
    val custInRegion = broadcast(customer
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === custRegion)
      .select("c_custkey"))
    val suppNations = broadcast(supplier
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation")))
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(custInRegion, col("o_custkey") === col("c_custkey"))
      .join(suppNations, col("l_suppkey") === col("s_suppkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("order_year"))
      .agg(
        sum(when(col("supp_nation") === suppNation,
          col("l_extendedprice") * (lit(1) - col("l_discount"))).otherwise(lit(0.0)))
          .as("nation_volume"),
        sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("total_volume"))
      .withColumn("market_share",
        round(col("nation_volume") / col("total_volume"), 6))
  }

  /** Window-function feature pack over each customer's order
    * sequence: next order price (lead), percent_rank / cume_dist
    * within the customer, and the first/last order dates via
    * explicit full-partition frames (default frames differ between
    * engines; spelling them out keeps every engine honest).
    */
  def windowFeatures(orders: DataFrame): DataFrame = {
    val seq = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    val full = seq.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    orders.select(
      col("o_custkey"), col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
      lead("o_totalprice", 1).over(seq).as("next_price"),
      percent_rank().over(seq).as("pct_rank"),
      cume_dist().over(seq).as("cume_dist"),
      first_value(col("o_orderdate")).over(full).as("first_order_date"),
      last_value(col("o_orderdate")).over(full).as("last_order_date"))
  }

  /** TPC-H Q6-style forecast-revenue delta: tight conjunctive filter
    * (discount band × quantity cap) then one sum per ship-year. The
    * whole predicate pushes to the parquet scan — at 100 TB this is
    * the query that should read almost nothing (row-group min/max
    * stats skip non-matching files entirely).
    */
  def forecastRevenue(lineitem: DataFrame,
                      discLo: Double = 0.05, discHi: Double = 0.07,
                      maxQty: Double = 24.0): DataFrame =
    lineitem
      .filter(col("l_discount").between(discLo, discHi) && col("l_quantity") < maxQty)
      .groupBy(year(to_date(col("l_shipdate"))).cast("long").as("ship_year"))
      .agg(sum(col("l_extendedprice") * col("l_discount")).as("forecast_revenue"),
        count(lit(1)).as("n_lines"))

  /** TPC-H Q14-style promo share: monthly conditional-sum ratio over
    * the part-type dimension. Part is broadcast; one shuffle on the
    * month key; the ratio is computed from two partial-agg-friendly
    * sums, never a second pass.
    */
  def promoShare(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .groupBy(date_trunc("month", to_date(col("l_shipdate"))).cast("date").as("ship_month"))
      .agg(
        sum(when(col("p_type") === "PROMO", revenue).otherwise(lit(0.0)))
          .as("promo_revenue"),
        sum(revenue).as("total_revenue"))
      .withColumn("promo_share",
        round(col("promo_revenue") / col("total_revenue"), 6))
  }

  /** TPC-H Q19-style disjunctive predicate: OR-of-ANDs over
    * (brand, quantity band). Spelled as one Column expression so
    * Catalyst can push the common `p_brand IN (...)` prefix into the
    * broadcast-dim filter and the quantity bounds into the fact scan
    * — disjunctions are where naive planners fall back to full scans.
    */
  def disjunctiveRevenue(lineitem: DataFrame, part: DataFrame,
                         bands: Seq[(String, Double, Double)] =
                         Seq(("Brand#1", 1, 11), ("Brand#2", 10, 20), ("Brand#3", 20, 30)))
  : DataFrame = {
    val pred = bands.map { case (brand, lo, hi) =>
      col("p_brand") === brand && col("l_quantity").between(lo, hi)
    }.reduce(_ || _)
    lineitem
      .join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .filter(pred)
      .groupBy("p_brand")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** TPC-H Q21-flavored sole-blame suppliers: in orders served by
    * more than one supplier, the supplier who is the ONLY one with
    * returned lines. The classic double-correlated EXISTS/NOT EXISTS
    * decorrelates into two aggregates: per-(order, supplier) return
    * flags, then per-order supplier/return counts — both shuffle on
    * l_orderkey once, and no self-join ever replicates the fact.
    */
  def soleBlameSuppliers(lineitem: DataFrame, supplier: DataFrame,
                         topN: Int = 100): DataFrame = {
    // one explicit l_orderkey shuffle up front: hash-partitioning on
    // l_orderkey alone satisfies BOTH the (orderkey, suppkey) group
    // and the per-order window, so neither re-exchanges. The per-pair
    // key is near-unique in lineitem, so the map-side combine a
    // groupBy-first plan would add has almost nothing to combine —
    // this shape shuffles the fact once instead of ~twice.
    val perSupp = lineitem
      .select("l_orderkey", "l_suppkey", "l_returnflag")
      .repartition(col("l_orderkey"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("has_return"))
    val perOrder = Window.partitionBy("l_orderkey")
    val blamed = perSupp
      .withColumn("n_suppliers", count(lit(1)).over(perOrder))
      .withColumn("n_with_returns", sum("has_return").over(perOrder))
      .filter(col("has_return") === 1 && col("n_suppliers") > 1 &&
        col("n_with_returns") === 1)
    blamed
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_suppkey").asc)
      .limit(topN)
  }

  /** TPC-H Q22-flavored idle rich customers: above-global-average
    * balance and no orders since `cutoff`, rolled up per segment.
    * The global mean is a one-row broadcast (scalar subquery shape);
    * the "no recent orders" is a left-anti join against only the
    * post-cutoff slice of orders — the anti side is pre-filtered so
    * the join state is months, not history.
    */
  def idleRichCustomers(customer: DataFrame, orders: DataFrame,
                        cutoff: String = "2000-01-01"): DataFrame = {
    val avgBal = customer.agg(avg("c_acctbal").as("avg_bal"))
    val recent = orders.filter(col("o_orderdate") >= lit(cutoff))
      .select("o_custkey").distinct()
    customer
      .crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        sum("c_acctbal").as("total_acctbal"))
  }

  /** TPC-H Q10-style returned-revenue customers: revenue lost to
    * returns per customer, top-N. The fact filters to returned lines
    * BEFORE the orders join (smallest side into the shuffle);
    * customer and nation enrich the small aggregated result, not the
    * fact.
    */
  def returnedCustomers(lineitem: DataFrame, orders: DataFrame,
                        customer: DataFrame, nation: DataFrame,
                        n: Int = 20): DataFrame =
    lineitem
      .filter(col("l_returnflag") === "R")
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        col("c_acctbal"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(n)

  /** TPC-H Q15-style top supplier: per-supplier revenue over a
    * shipdate quarter, keeping every supplier tied at the maximum.
    * The max is a one-row scalar aggregate of the (already tiny)
    * supplier rollup, joined back as a broadcast — no global window,
    * no single-partition sort, so the shape survives any supplier
    * count.
    */
  def topSupplier(lineitem: DataFrame, supplier: DataFrame,
                  from: String = "1996-01-01", until: String = "1996-04-01"): DataFrame = {
    val rev = lineitem
      .filter(col("l_shipdate") >= lit(from) && col("l_shipdate") < lit(until))
      .groupBy("l_suppkey")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("total_revenue"))
    rev
      .join(broadcast(rev.agg(max("total_revenue").as("max_revenue"))),
        col("total_revenue") === col("max_revenue"))
      .join(broadcast(supplier), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
  }

  /** TPC-H Q17-style small-quantity revenue: average yearly revenue
    * that would be lost by refusing orders below 20% of a part's mean
    * order quantity, for one brand. The correlated subquery is
    * decorrelated into a per-part aggregate joined back to the same
    * brand-pruned fact slice; the brand's part keys broadcast, so the
    * fact is filtered map-side before any shuffle.
    */
  def smallQtyRevenue(lineitem: DataFrame, part: DataFrame,
                      brand: String = "Brand#23"): DataFrame = {
    val brandParts = broadcast(
      part.filter(col("p_brand") === brand).select("p_partkey"))
    val li = lineitem.join(brandParts, col("l_partkey") === col("p_partkey"))
      .select("l_partkey", "l_quantity", "l_extendedprice")
    val limits = li.groupBy("l_partkey")
      .agg((avg("l_quantity") * 0.2).as("qty_limit"))
    li.join(limits, "l_partkey")
      .filter(col("l_quantity") < col("qty_limit"))
      .agg((sum("l_extendedprice") / 7.0).as("avg_yearly"))
  }

  /** Pareto concentration of revenue: for each coverage threshold,
    * the number of top products (ranked by revenue) needed to reach
    * that share of total revenue.
    *
    * The global rank + running sum over the product aggregate uses
    * the same two-phase distributed prefix sum as
    * [[graft.operators.Packing.prefixSum]] — a bare
    * `Window.orderBy(revenue)` would funnel every product (~20M rows
    * at sf100) through ONE task. Instead:
    *
    *  1. band products by a log-spaced revenue bucket — a pure
    *     projection (no sampling), deterministic across jobs and
    *     retries, and monotone: ascending band = descending revenue,
    *     so band order extends the rank order exactly;
    *  2. per-band (count, revenue) totals are collected — O(#bands),
    *     ≤ a few hundred rows at ANY corpus size (quarter-octave
    *     bands over the double exponent range) — and turned into
    *     exclusive rank/revenue offsets plus the grand total;
    *  3. rank and running revenue run as per-band windows, all bands
    *     in parallel, plus the broadcast band offsets.
    */
  def paretoRevenue(lineitem: DataFrame,
                    thresholds: Seq[Double] = Seq(0.5, 0.8, 0.9, 0.95, 0.99)): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    // |parts| rows, bounded; checkpointed because the band-total
    // collect and the final ranking both consume it (recomputing
    // would rescan + reshuffle the whole fact twice)
    val rev = lineitem.groupBy("l_partkey")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .localCheckpoint(true)
    // quarter-octave bands: each spans a 2^(1/4) revenue ratio, so a
    // band can't degenerate into "most of the corpus" unless revenues
    // are near-constant (in which case any split is balanced anyway)
    val banded = rev.withColumn("band",
      (-floor(log2(greatest(col("revenue"), lit(java.lang.Double.MIN_VALUE))) * 4))
        .cast("long"))
    val totals = banded.groupBy("band")
      .agg(count(lit(1)).as("cnt"), sum("revenue").as("brev"))
      .as[(Long, Long, Double)].collect().sortBy(_._1)
    val totalRev = totals.map(_._3).sum
    var cAcc = 0L; var rAcc = 0.0
    val offsets = totals.map { case (b, c, r) =>
      val off = (b, cAcc, rAcc); cAcc += c; rAcc += r; off }
    val offsetsDf = spark.createDataFrame(offsets.toSeq)
      .toDF("band", "rank_offset", "rev_offset")
    val w = Window.partitionBy("band")
      .orderBy(col("revenue").desc, col("l_partkey").asc)
    val ranked = banded.join(broadcast(offsetsDf), Seq("band"))
      .select(
        (col("rank_offset") + row_number().over(w)).cast("long").as("rank"),
        ((col("rev_offset") +
          sum("revenue").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))) /
          lit(totalRev)).as("cum_share"))
    val ths = thresholds.toDF("threshold")
    ranked.join(broadcast(ths), col("cum_share") >= col("threshold"))
      .groupBy("threshold")
      .agg(min("rank").as("n_products"))
  }

  /** Per-brand revenue TREND: ordinary least squares of monthly
    * revenue against a month index, per brand — "which product lines
    * are growing" as one aggregation pass. The regression runs on
    * Spark's codegen'd `regr_slope/intercept/r2` aggregates (sums of
    * x, y, xy, x² — partial-agg friendly, one shuffle on brand after
    * the monthly rollup), not a collected time series per brand; the
    * month index is `12·year + month` so x is exact integer-valued
    * and the only float accumulation is over revenue. Outputs are
    * rounded for cross-engine stability (the regression sums divide
    * to ~1e-12 relative agreement; rounding pins the grid).
    */
  def brandTrend(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val monthly = lineitem
      .join(broadcast(part.select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"),
        date_trunc("month", col("l_shipdate")).cast("date").as("month"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("revenue"))
    val x = (year(col("month")) * 12 + month(col("month"))).cast("double")
    monthly
      .groupBy("p_brand")
      .agg(
        round(regr_slope(col("revenue"), x), 4).as("slope"),
        round(regr_intercept(col("revenue"), x), 2).as("intercept"),
        round(regr_r2(col("revenue"), x), 6).as("r2"),
        regr_count(col("revenue"), x).as("n_months"))
  }

  /** Calendar-spine resampling with forward fill — the time-series
    * "as-of price for every (product, month), observed or not" gap
    * filler. Three bounded steps:
    *
    *  1. observed grain: per-(product, month) average price, one
    *     partial-agg shuffle over the (brand-pruned) fact;
    *  2. spine: products × `sequence(lo, hi, 1 month)` — the month
    *     range is a 1-row global aggregate broadcast into a
    *     generator, so the "cross join" is a broadcast nested loop
    *     whose output is linear in |products|·|months|, never a
    *     shuffle;
    *  3. fill: `last(_, ignoreNulls)` over a per-product ordered
    *     rows-frame — partitioned by product, so every product fills
    *     in parallel and no global order exists anywhere.
    *
    * Months before a product's first observation stay null (there is
    * nothing to carry); `is_observed` distinguishes carried from
    * measured values downstream.
    */
  def priceFill(lineitem: DataFrame, part: DataFrame,
                brand: String = "Brand#11"): DataFrame = {
    val prods = part.filter(col("p_brand") === brand).select("p_partkey")
    // Exact-before-round: prices are cent-precision doubles, so sum
    // them as integer cents (order-independent) and round the exact
    // average with integer half-up arithmetic — a float `avg` sums in
    // partition order, and even round(double, 2) ties break
    // differently across engines at exact half-cent averages.
    val cents = round(col("l_extendedprice") * 100, 0).cast("long")
    val monthly = lineitem
      .join(broadcast(prods), col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey").as("product_id"),
        date_trunc("month", col("l_shipdate")).cast("date").as("month"))
      .agg(sum(cents).as("c"), count(lit(1)).as("n"))
      .select(col("product_id"), col("month"),
        (expr("(2*c + n) div (2*n)").cast("double") / 100.0).as("avg_price"))
      .localCheckpoint(true) // consumed by the bounds agg AND the fill join
    val bounds = monthly.agg(min("month").as("lo"), max("month").as("hi"))
    val spine = prods.crossJoin(broadcast(bounds))
      .select(col("p_partkey").as("product_id"),
        explode(sequence(col("lo"), col("hi"),
          expr("interval 1 month"))).as("month"))
    val w = Window.partitionBy("product_id").orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(monthly, Seq("product_id", "month"), "left")
      .select(col("product_id"), col("month"),
        last("avg_price", ignoreNulls = true).over(w).as("price_filled"),
        col("avg_price").isNotNull.as("is_observed"))
  }

  /** Discount ELASTICITY per brand: least-squares slope of line-item
    * quantity against discount — "does discounting move volume for
    * this product line" — plus the slope scaled to percentage terms
    * (unit response per discount point) and r². Same codegen'd
    * `regr_*` partial-aggregation shape as [[brandTrend]], on the
    * (discount, quantity) relationship instead of the time series:
    * one broadcast dim join, one shuffle on brand, sums of products
    * all the way down.
    */
  def discountElasticity(lineitem: DataFrame, part: DataFrame): DataFrame =
    lineitem
      .join(broadcast(part.select("p_partkey", "p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        count(lit(1)).as("n_lines"),
        round(regr_slope(col("l_quantity"), col("l_discount")), 4)
          .as("qty_per_discount_unit"),
        round(regr_slope(col("l_quantity"), col("l_discount")) / 100.0, 6)
          .as("qty_per_discount_pct"),
        round(regr_r2(col("l_quantity"), col("l_discount")), 6).as("r2"))

  /** Herfindahl–Hirschman index per product type: Σ(share²) of
    * supplier revenue within each type — the GROUP-grain market
    * concentration companion to the global [[giniRevenue]] (>0.25 ≈
    * "highly concentrated" in the antitrust convention). Shares live
    * entirely inside their group, so this is two partial-agg
    * shuffles ((type, supplier) rollup → per-type total joined back)
    * and no ranking at all.
    */
  def supplierHhi(lineitem: DataFrame, part: DataFrame): DataFrame = {
    val bySupp = lineitem
      .join(broadcast(part.select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .groupBy("p_type", "l_suppkey")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("supp_rev"))
      // |types|·|suppliers| rows, consumed by the per-type total AND
      // the share join — without pinning, the fact scans twice
      .localCheckpoint(true)
    val byType = bySupp.groupBy("p_type")
      .agg(sum("supp_rev").as("type_rev"),
        count(lit(1)).as("n_suppliers"))
    bySupp.join(byType, Seq("p_type"))
      .groupBy(col("p_type"), col("n_suppliers"))
      .agg(round(sum(pow(col("supp_rev") / col("type_rev"), 2)), 6).as("hhi"))
      .select("p_type", "n_suppliers", "hhi")
  }

  /** Basket-size distribution: exact percentiles of distinct parts
    * per order — the fan-out profile that justifies
    * [[basketAffinity]]'s giant-order guard (maxParts should sit
    * above p99). One rollup, one count-map percentile over small
    * integers.
    */
  def basketSizes(lineitem: DataFrame): DataFrame =
    lineitem
      .groupBy("l_orderkey")
      .agg(countDistinct("l_partkey").as("n_parts"))
      .agg(
        count(lit(1)).as("n_orders"),
        percentile(col("n_parts"), lit(0.5)).as("p50_parts"),
        percentile(col("n_parts"), lit(0.9)).as("p90_parts"),
        percentile(col("n_parts"), lit(0.99)).as("p99_parts"),
        max("n_parts").as("max_parts"))

  /** GINI coefficient of product revenue — the single-number
    * concentration companion to [[paretoRevenue]]/[[abcClass]]:
    * G = 2·Σ(iᵢ·xᵢ)/(n·Σx) − (n+1)/n with revenues ranked
    * ascending. The global ascending rank runs as the same banded
    * two-phase prefix pattern (ascending quarter-octave bands this
    * time), so no single-task window; the weighted sum, n and Σx are
    * then one aggregate. Rounded to 6 dp (rank·revenue sums agree
    * cross-engine to ~1e-12 relative).
    */
  def giniRevenue(lineitem: DataFrame): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val rev = lineitem.groupBy("l_partkey")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .localCheckpoint(true)
    val banded = rev.withColumn("band",
      floor(log2(greatest(col("revenue"), lit(java.lang.Double.MIN_VALUE))) * 4)
        .cast("long"))
    val totals = banded.groupBy("band")
      .agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect().sortBy(_._1)
    var acc = 0L
    val offsets = totals.map { case (b, c) => val off = (b, acc); acc += c; off }
    val offsetsDf = spark.createDataFrame(offsets.toSeq)
      .toDF("band", "rank_offset")
    val w = Window.partitionBy("band")
      .orderBy(col("revenue").asc, col("l_partkey").asc)
    banded.join(broadcast(offsetsDf), Seq("band"))
      .select(col("revenue"),
        (col("rank_offset") + row_number().over(w)).cast("double").as("rank"))
      .agg(
        count(lit(1)).as("n_products"),
        round(
          lit(2.0) * sum(col("rank") * col("revenue")) /
            (count(lit(1)) * sum(col("revenue"))) -
            (count(lit(1)) + lit(1.0)) / count(lit(1)), 6).as("gini"))
  }

  /** Order BACKLOG time series: orders open (placed, not yet fully
    * shipped) at each month end. The naive spine×orders interval
    * join is |orders|·|months| rows; the +1/−1 event encoding is two
    * per-month counts instead — backlog(m) = Σ opened(≤m) −
    * Σ closed(≤m), where an order closes in the month its LAST line
    * ships. The running sum is a global-order window over the
    * month relation, which is CALENDAR-BOUNDED (decades ≈ hundreds
    * of rows) — the one place a partition-less window is correct by
    * construction.
    */
  def orderBacklog(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val lastShip = lineitem.groupBy("l_orderkey")
      .agg(max(to_date(col("l_shipdate"))).as("last_ship"))
    val spans = orders
      .join(lastShip, col("o_orderkey") === col("l_orderkey"))
      .select(
        date_trunc("month", col("o_orderdate")).cast("date").as("open_m"),
        date_trunc("month", col("last_ship")).cast("date").as("close_m"))
      // consumed by BOTH the opened and closed counts — without
      // pinning, the orders⋈lineitem join runs twice
      .localCheckpoint(true)
    val opened = spans.groupBy(col("open_m").as("month"))
      .agg(count(lit(1)).as("opened"))
    val closed = spans.groupBy(col("close_m").as("month"))
      .agg(count(lit(1)).as("closed"))
    // month SPINE from the span bounds: a quiet month still carries
    // its (nonzero) backlog — without it the series silently skips
    // months with no open/close events
    val bounds = spans.agg(min("open_m").as("lo"), max("close_m").as("hi"))
    val spine = bounds
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 month"))).as("month"))
    val w = Window.orderBy("month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(opened, Seq("month"), "left")
      .join(closed, Seq("month"), "left")
      .select(col("month"),
        coalesce(col("opened"), lit(0L)).as("opened"),
        coalesce(col("closed"), lit(0L)).as("closed"))
      .withColumn("backlog",
        sum(col("opened") - col("closed")).over(w))
  }

  /** ABC (Pareto-class) product classification — the inventory-
    * management standard: label each product A/B/C by where it falls
    * in cumulative revenue share (A carries the first `aShare`,
    * B up to `bShare`, C the tail). Where [[paretoRevenue]] answers
    * "how many products make X%", this emits the per-product label a
    * planner joins against — same banded two-phase prefix sum
    * (quarter-octave revenue bands, O(#bands) driver totals,
    * broadcast exclusive offsets, within-band windows in parallel),
    * no single-task global window.
    */
  def abcClass(lineitem: DataFrame, aShare: Double = 0.8,
               bShare: Double = 0.95): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val rev = lineitem.groupBy("l_partkey")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .localCheckpoint(true)
    val banded = rev.withColumn("band",
      (-floor(log2(greatest(col("revenue"), lit(java.lang.Double.MIN_VALUE))) * 4))
        .cast("long"))
    val totals = banded.groupBy("band")
      .agg(sum("revenue").as("brev"))
      .as[(Long, Double)].collect().sortBy(_._1)
    val totalRev = totals.map(_._2).sum
    var acc = 0.0
    val offsets = totals.map { case (b, r) => val off = (b, acc); acc += r; off }
    val offsetsDf = spark.createDataFrame(offsets.toSeq)
      .toDF("band", "rev_offset")
    val w = Window.partitionBy("band")
      .orderBy(col("revenue").desc, col("l_partkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded.join(broadcast(offsetsDf), Seq("band"))
      .select(col("l_partkey").as("product_id"),
        // 9-dp rounding pins the classification grid: the cumulative
        // double sums agree cross-engine to ~1e-12 relative, and a
        // raw compare could flip a product sitting ulps from a
        // boundary (same convention as gini/trend/hhi outputs)
        round((col("rev_offset") + sum("revenue").over(w)) / lit(totalRev), 9)
          .as("cum_share"))
      .select(col("product_id"),
        when(col("cum_share") <= aShare, "A")
          .when(col("cum_share") <= bShare, "B")
          .otherwise("C").as("abc_class"))
  }

  /** 2-D skyline (Pareto frontier) of parts on (retailprice ↓,
    * size ↓): a part survives iff no other part is ≤ on both and <
    * on one — the classic "cheapest for its size class" query.
    * Equal (price, size) pairs don't dominate each other, so
    * duplicates co-survive.
    *
    * A self-join skyline is O(n²); the sorted formulation ("walk by
    * price, keep rows that beat the running size minimum") needs a
    * global order, and a bare `Window.orderBy` would funnel every
    * part through one task. So: the same banded two-phase prefix
    * pattern as [[paretoRevenue]], on MIN instead of SUM —
    *
    *  1. collapse to one row per distinct price (min size) — one
    *     shuffle, output ≤ |distinct prices|;
    *  2. band by `floor(price)` (bounded: one band per currency
    *     unit), per-band minima to the driver (O(#bands)), exclusive
    *     prefix-min broadcast back;
    *  3. within-band strict-predecessor minima via a rows-frame
    *     window — all bands in parallel.
    *
    * A row is dominated iff `min size over strictly-cheaper prices
    * ≤ size` (that side is already strict on price) or `min size at
    * the same price < size`. Dominance classification then joins
    * back to parts by price — broadcast-sized in practice (the
    * per-price table is ≤ the frontier's price spread, but even
    * unpruned it's one equi-join, never a pair join).
    */
  def skyline(part: DataFrame): DataFrame = {
    val spark = part.sparkSession
    import spark.implicits._
    val sentinel = Int.MaxValue.toLong
    val perPrice = part.groupBy(col("p_retailprice").as("price"))
      .agg(min(col("p_size").cast("long")).as("grp_min"))
      .withColumn("band", floor(col("price")).cast("long"))
      .localCheckpoint(true)
    val bandMins = perPrice.groupBy("band")
      .agg(min("grp_min").as("bmin"))
      .as[(Long, Long)].collect().sortBy(_._1)
    var acc = sentinel
    val offsets = bandMins.map { case (b, m) =>
      val off = (b, acc); acc = math.min(acc, m); off }
    val offsetsDf = spark.createDataFrame(offsets.toSeq)
      .toDF("band", "prefix_min")
    val w = Window.partitionBy("band").orderBy("price")
      .rowsBetween(Window.unboundedPreceding, -1)
    val stats = perPrice.join(broadcast(offsetsDf), Seq("band"))
      .select(col("price"), col("grp_min"),
        least(coalesce(min("grp_min").over(w), lit(sentinel)),
          col("prefix_min")).as("m1"))
    part.join(stats, part("p_retailprice") === stats("price"))
      .filter(!(col("m1") <= col("p_size") || col("grp_min") < col("p_size")))
      .select("p_partkey", "p_retailprice", "p_size")
  }

  /** Supplier reliability under uncertainty — late-shipment rate per
    * supplier with a WILSON lower confidence bound, the ranking a
    * procurement planner actually sorts by: a raw rate ranks a
    * 1-for-1 supplier above a 95-of-100 one; the Wilson bound
    * penalizes thin evidence. One fact-side join (orders broadcast
    * or shuffled on the key — Catalyst's call), one hash aggregate
    * to (n, k) per supplier, then the bound is a FIXED closed-form
    * expression over those two exact integers — identical in any
    * engine, no rounding needed (the lateness test itself is integer
    * `datediff`).
    */
  def supplierReliability(lineitem: DataFrame, orders: DataFrame,
                          supplier: DataFrame, lateDays: Int = 90,
                          z: Double = 1.96): DataFrame = {
    val z2 = z * z
    val stats = lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .select(col("l_suppkey"),
        when(datediff(to_date(col("l_shipdate")),
          to_date(col("o_orderdate"))) > lateDays, 1L).otherwise(0L).as("late"))
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("n_lines"), sum("late").as("n_late"))
    val nD = col("n_lines").cast("double")
    val p = col("n_late").cast("double") / nD
    val center = p + lit(z2) / (lit(2.0) * nD)
    val radius = lit(z) *
      sqrt((p * (lit(1.0) - p) + lit(z2) / (lit(4.0) * nD)) / nD)
    val denom = lit(1.0) + lit(z2) / nD
    stats
      .join(broadcast(supplier.select(col("s_suppkey"), col("s_name"))),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_lines"), col("n_late"),
        p.as("late_rate"),
        ((center - radius) / denom).as("late_rate_wilson_lb"))
  }

  /** Weighted PageRank over the co-purchase graph — "which products
    * sit at the center of the catalog": nodes are parts, edges the
    * [[basketAffinity]] pair counts (giant-order guard + support
    * floor bound the graph build exactly like the basket family),
    * power iteration with damping. Spark-first iteration shape: the
    * static per-edge contribution fraction `w/wdeg` is materialized
    * ONCE, each iteration is then one equi-join + one hash aggregate
    * (shuffles on part ids only — never the basket relation), and
    * `localCheckpoint` truncates lineage so the plan does not grow
    * with `iters`. The symmetric edge list means every node has both
    * in- and out-edges — no dangling-mass term needed. Only the node
    * COUNT reaches the driver (one scalar, like the SQ grid). The
    * oracle unrolls the same three iterations as CTEs; the final
    * score is rounded (1e-9 grid vs ~1e-17 summation-order error —
    * docs/ORACLE_NOTES.md).
    */
  def copurchasePagerank(pairs: DataFrame, iters: Int = 3,
                         damping: Double = 0.85): DataFrame = {
    // `pairs` (a pinned [[basketAffinityOf]] relation) is ONE
    // pair-engine build shared across the whole basket family —
    // affinity, rules, pagerank, triangles, chi2 all ride the same
    // guarded pair counts, and at 100 TB building it once is the
    // difference between one shuffle of the fact and five
    val edges = pairs.select(col("part_a").as("src"),
        col("part_b").as("dst"), col("n_orders_together").as("w"))
      .unionByName(pairs.select(col("part_b").as("src"),
        col("part_a").as("dst"), col("n_orders_together").as("w")))
      .localCheckpoint(true) // deg + frac both consume it
    // deg doubles as the node relation: one row per src by
    // construction — no extra distinct over the edge list
    val deg = edges.groupBy("src").agg(sum("w").as("wdeg"))
      .localCheckpoint(true) // node seed + count + frac join share it
    val n = deg.count()
    val frac = edges.join(deg, "src")
      .select(col("src"), col("dst"),
        (col("w").cast("double") / col("wdeg").cast("double")).as("frac"))
      .localCheckpoint(true) // re-joined every iteration
    var pr = deg.select(col("src").as("id"))
      .withColumn("pr", lit(1.0) / n.toDouble)
    for (_ <- 1 to iters) {
      pr = frac.join(pr, col("src") === col("id"))
        .groupBy("dst")
        .agg(sum(col("pr") * col("frac")).as("s"))
        .select(col("dst").as("id"),
          (lit((1.0 - damping) / n.toDouble) + lit(damping) * col("s")).as("pr"))
        .localCheckpoint(true)
    }
    pr.select(col("id").as("part_id"), round(col("pr"), 9).as("pagerank"))
  }

  /** Chi-square association test over the co-purchase pairs — the
    * statistical-significance layer [[basketRules]]'s lift alone
    * lacks: lift 3.0 on 2 co-orders is noise, lift 1.3 on 10k
    * co-orders is real signal, and the χ² statistic (one degree of
    * freedom, 2×2 contingency per pair: together / only-a / only-b /
    * neither) is the standard way to rank them on the same scale.
    * The contingency cells come from the shared guarded-pair engine
    * plus per-part order counts (the [[basketRules]] join shape);
    * `delta = a·d − b·c` is computed in exact longs (products ≤ N²;
    * exact for N < 3·10⁹ orders — document a decimal swap beyond),
    * then ONE float expression — delta²·N over the four margin
    * products, multiplied in a fixed order both engines replay —
    * rounded once. `positive` disambiguates the direction χ²
    * deliberately ignores.
    */
  def basketChi2(baskets: DataFrame, minOrders: Long = 2): DataFrame = {
    val nOrders = baskets.select("l_orderkey").distinct().count()
    val partOrders = baskets.groupBy(col("l_partkey"))
      .agg(count(lit(1)).as("n_orders_part"))
    val a = col("n_together")
    val b = col("n_a") - col("n_together")
    val c = col("n_b") - col("n_together")
    val d = lit(nOrders) - col("n_a") - col("n_b") + col("n_together")
    val delta = (a * d - b * c).cast("double")
    val denom = (a + b).cast("double") * (c + d).cast("double") *
      (a + c).cast("double") * (b + d).cast("double")
    guardedPairs(baskets, minOrders)
      .withColumnRenamed("n_orders_together", "n_together")
      .join(partOrders.select(col("l_partkey").as("part_a"),
        col("n_orders_part").as("n_a")), Seq("part_a"))
      .join(partOrders.select(col("l_partkey").as("part_b"),
        col("n_orders_part").as("n_b")), Seq("part_b"))
      .select(col("part_a"), col("part_b"), col("n_together"),
        col("n_a"), col("n_b"),
        when(denom === 0.0, lit(null).cast("double"))
          .otherwise(round(lit(nOrders.toDouble) * delta * delta / denom, 6))
          .as("chi2"),
        (a * lit(nOrders) > col("n_a") * col("n_b")).as("positive"))
  }

  /** Triangle census of the co-purchase graph — triangle count,
    * wedge count and the global clustering coefficient
    * (3·triangles / wedges): how "cliquey" the catalog is, the
    * one-number gauge of whether [[copurchasePagerank]] runs on a
    * hub-and-spoke graph or on dense communities (clustering ≈ 0
    * means pair counts are independent purchases; high clustering
    * means basket themes, which is what a recommender can exploit).
    * Triangle counting is the canonical "quadratic unless oriented"
    * graph op, done the distributed way: edges keep their
    * `part_a < part_b` orientation from [[basketAffinity]]'s pair
    * engine, so each triangle a<b<c is generated EXACTLY once by
    * joining (a,b)⋈(b,c) on the shared middle node and closing with
    * a left-semi probe on (a,c) — two equi-join shuffles on node
    * ids, no direction blow-up, no per-node adjacency list held in
    * memory. Wedges come from the degree aggregate
    * (Σ d·(d−1)/2, exact integers). All counts are exact longs; the
    * single float quotient is rounded once. Scale: the giant-order
    * guard bounds the edge list linearly in orders, the oriented
    * join bounds wedge fan-out by the oriented out-degree, and the
    * output is ONE row.
    */
  def copurchaseTriangles(pairs: DataFrame): DataFrame = {
    val edges = pairs
      .select(col("part_a").as("a"), col("part_b").as("b"))
      .localCheckpoint(true) // wedge join (twice), closure probe, degrees
    val paths = edges
      .join(edges.select(col("a").as("b"), col("b").as("c")), Seq("b"))
    val nTriangles = paths
      .join(edges.select(col("a"), col("b").as("c")), Seq("a", "c"),
        "left_semi")
      .count()
    val deg = edges.select(col("a").as("v"))
      .unionByName(edges.select(col("b").as("v")))
      .groupBy("v").agg(count(lit(1)).as("d"))
    // `div` keeps the halving in exact integer arithmetic (both
    // quantities are even by construction; `/` would detour through
    // double and lose exactness past 2^53)
    deg.agg(
        count(lit(1)).as("n_nodes"),
        expr("sum(d) div 2").as("n_edges"),
        expr("sum(d * (d - 1)) div 2").as("n_wedges"))
      .select(col("n_nodes"), col("n_edges"),
        lit(nTriangles).as("n_triangles"), col("n_wedges"),
        when(col("n_wedges") === 0, lit(null).cast("double"))
          .otherwise(round(lit(3.0) * nTriangles.toDouble /
            col("n_wedges").cast("double"), 9)).as("global_clustering"))
  }

  /** Holt linear (double-exponential) smoothing over the monthly
    * revenue series — level + trend state per month and the
    * one-step-ahead `fitted` forecast, the actual forecasting
    * primitive this library's Q6-style `forecastRevenue` (a revenue
    * WHAT-IF, not a predictor) does not provide. The recursion
    * `l_t = αx_t + (1−α)(l_{t−1}+b_{t−1})`,
    * `b_t = β(l_t−l_{t−1}) + (1−β)b_{t−1}` is inherently sequential
    * — but sequential in MONTHS, not rows: the fact table collapses
    * to the O(months) calendar-bounded series (one shuffle), which
    * then folds driver-side (the [[decileLift]] collect class); the
    * oracle replays the identical recursion as a `WITH RECURSIVE`
    * CTE, every float expression spelled the same (including
    * `(1 − α)` left as an expression — the literal 0.7 is NOT the
    * double `1 − 0.3`). Init: l₁ = x₁, b₁ = 0. Revenue is exact
    * cents until the single division; outputs rounded once.
    */
  /** The shared exact-cents monthly series both smoothers fold over:
    * one distributed aggregate, one O(months) collect. Extracted
    * (r18 optimization round) so [[forecastBacktest]] scans lineitem
    * ONCE for its two recursions instead of once per smoother — the
    * collected array is bit-identical to what each smoother computed
    * for itself, so the recursions (and the keys' oracles) are
    * untouched. */
  private[graft] def monthlyRevenueCents(
      lineitem: DataFrame): Array[(java.sql.Date, Long)] = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val centsX = round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))
    lineitem
      .groupBy(date_trunc("month", to_date(col("l_shipdate"))).cast("date")
        .as("mth"))
      .agg(sum(centsX).as("c"))
      .orderBy("mth")
      .as[(java.sql.Date, Long)].collect() // O(months), calendar-bounded
  }

  def holtForecast(lineitem: DataFrame, alpha: Double = 0.3,
                   beta: Double = 0.1,
                   series: Option[Array[(java.sql.Date, Long)]] = None): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val monthly = series.getOrElse(monthlyRevenueCents(lineitem))
    var lvl = 0.0
    var tr = 0.0
    val rows = monthly.zipWithIndex.map { case ((m, c), i) =>
      val x = c.toDouble / 10000.0
      val fitted = if (i == 0) None else Some(lvl + tr)
      if (i == 0) { lvl = x; tr = 0.0 }
      else {
        val l2 = alpha * x + (1 - alpha) * (lvl + tr)
        tr = beta * (l2 - lvl) + (1 - beta) * tr
        lvl = l2
      }
      (m, x, lvl, tr, fitted)
    }
    rows.toSeq.toDF("month", "revenue", "level", "trend", "fitted")
      .select(col("month"), round(col("revenue"), 6).as("revenue"),
        round(col("level"), 6).as("level"), round(col("trend"), 6).as("trend"),
        round(col("fitted"), 6).as("fitted"))
  }

  /** Additive HOLT–WINTERS (triple exponential smoothing) — the
    * seasonal extension of [[holtForecast]]: level + trend + a
    * rotating 12-slot seasonal index, the standard monthly-revenue
    * forecaster when the series has a repeating annual shape the
    * level/trend pair systematically laggs. Classical
    * initialization: level₀ = mean of year 1, trend₀ = (mean of
    * year 2 − mean of year 1)/12, seasonal₀ = year-1 deviations from
    * its mean — all three derived from EXACT integer cent sums (one
    * double division chain each), so the whole recursion starts from
    * bit-identical state in both engines and every subsequent update
    * is a fixed-order double expression (the `(1 - 0.3)` unevaluated
    * literal convention from holtForecast). The oracle unrolls the
    * recursion as a recursive CTE whose state carries the rotating
    * seasonal LIST — `sl[1]` is always the current month's index,
    * consumed from the head and re-appended updated at the tail.
    *
    * Scale: identical to holtForecast — the monthly series is
    * calendar-bounded (83 rows here; ~1200 for a century), so the
    * driver-side fold is O(months) after ONE distributed exact-cents
    * aggregate; nothing else leaves the cluster.
    */
  def holtWintersForecast(lineitem: DataFrame, alpha: Double = 0.3,
                          beta: Double = 0.1, gamma: Double = 0.2,
                          period: Int = 12,
                          series: Option[Array[(java.sql.Date, Long)]] = None): DataFrame = {
    val spark = lineitem.sparkSession
    import spark.implicits._
    val monthly = series.getOrElse(monthlyRevenueCents(lineitem))
    require(monthly.length >= 2 * period,
      s"Holt-Winters needs >= ${2 * period} months, got ${monthly.length}")
    val xs = monthly.map(_._2.toDouble / 10000.0)
    // init from exact integer cent sums (one division chain each)
    val mean1 = (monthly.take(period).map(_._2).sum.toDouble / 10000.0) /
      period.toDouble
    val mean2 = (monthly.slice(period, 2 * period).map(_._2).sum.toDouble /
      10000.0) / period.toDouble
    var lvl = mean1
    var tr = (mean2 - mean1) / period.toDouble
    val seas = scala.collection.mutable.Queue(
      xs.take(period).map(_ - mean1): _*)
    val rows = (period until monthly.length).map { i =>
      val x = xs(i)
      val sOld = seas.dequeue()
      val fitted = lvl + tr + sOld
      val l2 = alpha * (x - sOld) + (1 - alpha) * (lvl + tr)
      val t2 = beta * (l2 - lvl) + (1 - beta) * tr
      val s2 = gamma * (x - l2) + (1 - gamma) * sOld
      lvl = l2; tr = t2
      seas.enqueue(s2)
      (monthly(i)._1, x, l2, t2, s2, fitted)
    }
    // grid 1e-4, not holtForecast's 1e-6: these columns sit at 1e7
    // scale, where a 1e-6 grid leaves only ~130 ulps of headroom to
    // the rounding boundary and the two engines' round() algorithms
    // CAN disagree on the same double (observed: 1 of 71 rows at
    // sf0.01) — 1e-4 restores the ~1e6-ulp margin the rounded-column
    // ledger's flip bound assumes (docs/ORACLE_NOTES.md r15)
    rows.toDF("month", "revenue", "level", "trend", "seasonal", "fitted")
      .select(col("month"), round(col("revenue"), 4).as("revenue"),
        round(col("level"), 4).as("level"), round(col("trend"), 4).as("trend"),
        round(col("seasonal"), 4).as("seasonal"),
        round(col("fitted"), 4).as("fitted"))
  }

  /** Forecast BACKTEST — the model-selection readout over the two
    * smoothers: per model, the one-step-ahead fit errors (MAE, MAPE)
    * from each recursion's own fitted column, on the months both
    * models score. This is the ops question the forecasts exist to
    * answer ("which one do I trust for capacity planning"), and the
    * seasonal model must EARN its extra state here: on a seasonal
    * series its MAPE beats the level/trend pair's, and the spec
    * plants exactly that. "Months both models score" is enforced
    * LITERALLY (r16, ADVICE): holt fits from month 2 but
    * holt-winters only from period+1, so both error windows
    * restrict to the seasonal model's scored months — without the
    * restriction the comparison is biased by the first 11 months
    * only holt scores. Errors are computed on the keys' ROUNDED
    * outputs (the published numbers, not internal state), so the
    * oracle composes the two existing recursion chains verbatim.
    * Cost: both driver folds are calendar-bounded; the comparison
    * itself is an O(months) union + one aggregate. */
  def forecastBacktest(lineitem: DataFrame): DataFrame = {
    // ONE lineitem scan feeds both recursions (r18 optimization
    // round, guide §2.4): the smoothers consumed the identical
    // monthly exact-cents series, each paying its own aggregate +
    // collect — the shared array is what each would have computed,
    // so both recursion chains (and the oracle) are bit-unchanged.
    val monthly = Some(monthlyRevenueCents(lineitem))
    val h = holtForecast(lineitem, series = monthly)
      .select(lit("holt").as("model"), col("month"), col("revenue"),
        col("fitted"))
    val w = holtWintersForecast(lineitem, series = monthly)
      .select(lit("holt_winters").as("model"), col("month"), col("revenue"),
        col("fitted"))
    // the shared window = the stricter model's scored months
    val scored = w.filter(col("fitted").isNotNull).select("month")
    h.unionByName(w)
      .filter(col("fitted").isNotNull)
      .join(broadcast(scored), Seq("month"), "left_semi")
      .groupBy("model")
      .agg(count(lit(1)).as("n_months"),
        // mae sits at 1e6 scale → 1e-2 grid (the scale-aware rule);
        // mape is O(1e-1) and keeps the fine grid
        round(avg(abs(col("revenue") - col("fitted"))), 2).as("mae"),
        round(avg(abs(col("revenue") - col("fitted")) / col("revenue")), 6)
          .as("mape"))
  }

  /** Kaplan–Meier customer survival curve — the censoring-aware
    * answer to "how long does a customer stay", where a naive
    * average lifetime is biased DOWN by every customer who is still
    * active (their lifetime isn't over; treating it as ended is the
    * textbook error KM exists to fix). Lifetime = days between a
    * customer's first and last order; a customer whose last order is
    * more than `churnDays` before the observation end is an EVENT
    * (churned at t), anyone else is CENSORED at t (still alive —
    * they reduce the at-risk pool for later t but never the survival
    * product). Per distinct lifetime t: n_risk (suffix count),
    * events, censored, and `S(t) = Π_{s≤t} (1 − d/n_risk)`. The
    * whole curve lives on the O(distinct lifetimes) grid — bounded
    * by the calendar span — so the ordered suffix window and the
    * driver-side product fold both run on a provably small relation
    * (the [[decileLift]] collect class); the oracle's windowed
    * `product()` multiplies in the same ascending-t order. Scale:
    * one customer-grain aggregate (single shuffle of key+two dates),
    * everything after is calendar-bounded.
    */
  def survivalCurve(orders: DataFrame, churnDays: Int = 90): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val per = orders.groupBy("o_custkey").agg(
      min(to_date(col("o_orderdate"))).as("first_day"),
      max(to_date(col("o_orderdate"))).as("last_day"))
    val endRow = per.agg(max("last_day").as("end_day"))
    val grid = per.crossJoin(broadcast(endRow)) // 1-row scalar frame
      .select(
        datediff(col("last_day"), col("first_day")).cast("long").as("t"),
        (datediff(col("end_day"), col("last_day")) > churnDays).as("event"))
      .groupBy("t")
      .agg(
        sum(when(col("event"), 1L).otherwise(0L)).as("d"),
        sum(when(col("event"), 0L).otherwise(1L)).as("c"))
    val wPrev = Window.orderBy("t") // calendar-bounded relation
      .rowsBetween(Window.unboundedPreceding, -1)
    val risk = grid
      .crossJoin(broadcast(grid.agg(sum(col("d") + col("c")).as("n"))))
      .withColumn("n_risk",
        col("n") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
      .select("t", "n_risk", "d", "c")
    // O(lifetimes) rows: fold the product in ascending-t order (the
    // oracle's windowed product() multiplies in the same order)
    val rows = risk.orderBy("t")
      .as[(Long, Long, Long, Long)].collect()
    var s = 1.0
    val curve = rows.map { case (t, n, d, c) =>
      s *= (1.0 - d.toDouble / n.toDouble)
      (t, n, d, c, s)
    }
    curve.toSeq.toDF("t_days", "n_risk", "n_events", "n_censored", "surv")
      .select(col("t_days"), col("n_risk"), col("n_events"),
        col("n_censored"), round(col("surv"), 9).as("survival"))
  }

  /** Lag-k autocorrelation of the daily revenue series (k = 1..
    * maxLag) — the memory profile behind every forecasting choice:
    * a high lag-7 with low lag-1 says "weekly cycle, use
    * [[seasonalityStrength]]-style slot profiles"; a slow geometric
    * decay says "momentum, use exponential smoothing"
    * ([[forecastRevenue]]); all-near-zero says the daily series is
    * noise and only aggregates forecast. Lags are CALENDAR lags
    * (pairs join on `epoch_day + k`, so a calendar gap drops the
    * pair instead of silently comparing non-adjacent days —
    * `n_pairs` exposes coverage). Per lag the Pearson r comes from
    * the exact integer sum identities (n, Σa, Σb, Σab, Σa², Σb² in
    * decimal(38,0) — cents² crosses 2^63) with ONE float quotient,
    * rounded once. Scale: the fact table collapses to day grain
    * (one shuffle, O(days) rows); the ×maxLag fan-out and the
    * self-join run on the day-grain relation, so everything after
    * the first aggregate is calendar-bounded.
    */
  def revenueAutocorr(lineitem: DataFrame, maxLag: Int = 7): DataFrame = {
    val spark = lineitem.sparkSession
    val centsX = round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))
    val daily = lineitem
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(centsX).as("x"))
      .select(datediff(col("day"), lit("1970-01-01")).cast("long").as("ed"),
        col("x").cast("decimal(38,0)").as("x"))
      .localCheckpoint(true) // both sides of the lag join
    val lags = broadcast(spark.range(1, maxLag + 1L).select(col("id").as("lag")))
    val sums = daily.select(col("ed"), col("x").as("a"))
      .crossJoin(lags) // O(days·maxLag) rows — day grain, not fact grain
      .join(daily.select(col("ed").as("ed_b"), col("x").as("b")),
        col("ed_b") === col("ed") + col("lag"))
      .groupBy("lag")
      .agg(
        count(lit(1)).as("n_pairs"),
        sum("a").as("sa"), sum("b").as("sb"),
        sum(col("a") * col("b")).as("sab"),
        sum(col("a") * col("a")).as("saa"),
        sum(col("b") * col("b")).as("sbb"))
    val n = col("n_pairs").cast("decimal(38,0)")
    val varA = (n * col("saa") - col("sa") * col("sa")).cast("double")
    val varB = (n * col("sbb") - col("sb") * col("sb")).cast("double")
    sums.select(
        col("lag"), col("n_pairs"),
        // a constant-revenue stretch has no variance to correlate:
        // null, not NaN/div-by-zero
        when(varA <= 0.0 || varB <= 0.0, lit(null).cast("double"))
          .otherwise(round(
            (n * col("sab") - col("sa") * col("sb")).cast("double") /
              sqrt(varA * varB), 9)).as("autocorr"))
      .orderBy("lag")
  }

  /** Rolling `days`-day revenue series — the trailing-window KPI
    * (7-day revenue, line volume, active-day coverage per day). The
    * frame is a RANGE frame over epoch-day, not a ROWS frame: a gap
    * in the calendar narrows the window's contents instead of
    * silently reaching further back, so no spine join is needed —
    * `active_days` makes the coverage explicit. Revenue is summed as
    * exact integer (cents × integer discount-percent, the
    * [[discountElasticity]] trick) and divided once at the end, so
    * the sliding sum is order-independent — engines disagree on
    * sliding-frame float summation (segment trees vs recompute).
    * Scale: one shuffle to day grain (lineitem count → O(days)
    * rows); the partition-less ordered window then runs over a
    * CALENDAR-BOUNDED relation (decades ≈ thousands of rows), the
    * same correct-by-construction case as [[orderBacklog]].
    */
  def rollingRevenue(lineitem: DataFrame, days: Int = 7): DataFrame = {
    val centsX = round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))
    val daily = lineitem
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(centsX).as("c"), count(lit(1)).as("n"))
      .withColumn("epoch_day", datediff(col("day"), lit("1970-01-01")))
    val w = Window.orderBy("epoch_day").rangeBetween(-(days - 1L), 0L)
    daily.select(
      col("day"),
      (col("c").cast("double") / 10000.0).as("day_revenue"),
      (sum("c").over(w).cast("double") / 10000.0).as("rev_window"),
      sum("n").over(w).as("lines_window"),
      count(lit(1)).over(w).as("active_days"))
  }

  /** Purchase streaks — gaps-and-islands over each customer's active
    * order months: consecutive-month runs collapse via the classic
    * `month_index − row_number` group key (a run of consecutive
    * months shares one difference), then per customer the active
    * month count, number of distinct streaks, and longest streak.
    * The engagement-consistency feature a raw frequency count can't
    * see (12 orders in one month ≠ one order a month for a year).
    * Scale: orders collapse to distinct (customer, month) first —
    * O(customers × months) — and both windows partition BY CUSTOMER
    * (bounded partitions), then two hash aggregates. No self-join,
    * no spine.
    */
  def purchaseStreaks(orders: DataFrame): DataFrame = {
    val months = orders
      .select(col("o_custkey"),
        (year(col("o_orderdate")) * 12 +
          (month(col("o_orderdate")) - 1)).cast("long").as("m"))
      .distinct()
    val w = Window.partitionBy("o_custkey").orderBy("m")
    months
      .withColumn("grp", col("m") - row_number().over(w))
      .groupBy("o_custkey", "grp")
      .agg(count(lit(1)).as("len"))
      .groupBy("o_custkey")
      .agg(
        sum("len").as("n_active_months"),
        count(lit(1)).as("n_streaks"),
        max("len").as("longest_streak"))
  }

  /** Daily + trailing-window distinct actives (DAU / WAU /
    * stickiness) — the hard sliding op done the scale-safe way:
    * exact sliding COUNT DISTINCT cannot ride a window frame
    * (distinct state isn't subtractable), so each distinct
    * (user, day) row fans out to the `days` target days it makes
    * active — a BOUNDED ×days replication of the deduplicated
    * user-day relation, not of the raw events — and two ordinary
    * hash aggregates do the rest ((target_day, user) collapse
    * carrying a day-0 marker, then day grain). Target days are
    * semi-joined to days actually present so the series matches the
    * observed calendar. Everything is partial-agg friendly; no
    * global window, no state. At 100 TB swap the exact inner
    * collapse for per-day HLL sketches merged across the window
    * ([[EventOps.sketchReach]]'s pattern) — same fan-out shape.
    */
  def rollingActiveUsers(events: DataFrame, days: Int = 7): DataFrame = {
    // fan-out + present-days spine share the pinned relation
    val userDays = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint(true)
    val present = userDays.select(col("day").as("target_day")).distinct()
    userDays
      .select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(days - 1))).as("i"))
      .select(col("user_id"), col("day"),
        date_add(col("day"), col("i")).as("target_day"),
        when(col("i") === 0, 1L).otherwise(0L).as("is_today"))
      .join(present, Seq("target_day"), "left_semi")
      .groupBy("target_day", "user_id")
      .agg(max("is_today").as("active_today"))
      .groupBy(col("target_day").as("day"))
      .agg(
        count(lit(1)).as("wau"),
        sum("active_today").as("dau"))
      .withColumn("stickiness", round(col("dau") / col("wau"), 6))
  }

  /** Day-of-week seasonality strength — the one-way ANOVA R² of the
    * daily revenue series against its weekday: what fraction of
    * daily variance the weekly cycle explains (the readout that says
    * whether [[EventOps.deseasonalizedAnomaly]]-style slot profiles
    * are worth maintaining for a KPI). Everything up to the final
    * division is EXACT integer on the ANOVA sum identities —
    * `SSB = Σ_g S_g²/n_g − S²/n`, `SST = Q − S²/n` with S (cents),
    * Q (= Σx², decimal — ~1e26 at sf1) and per-group (S_g, n_g)
    * exact; only the ≤7 per-group quotient terms and the final ratio
    * are floats, rounded once. Plan: fact → day grain (one shuffle)
    * → 7-row weekday grain → single row.
    */
  def seasonalityStrength(lineitem: DataFrame): DataFrame = {
    val centsX = round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))
    val daily = lineitem
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(centsX).as("x"))
      .select(dayofweek(col("day")).cast("long").as("dow"),
        col("x").cast("decimal(38,0)").as("x"))
    val byDow = daily.groupBy("dow").agg(
      count(lit(1)).as("n_g"),
      sum("x").as("s_g"),
      sum(col("x") * col("x")).as("q_g"))
    byDow.agg(
      sum("n_g").as("n"),
      sum("s_g").as("s"),
      sum("q_g").as("q"),
      sum((col("s_g") * col("s_g")).cast("double") /
        col("n_g").cast("double")).as("b"))
      .select(
        col("n").as("n_days"),
        round((col("s").cast("double") / col("n").cast("double")) / 10000.0, 2)
          .as("avg_daily_revenue"),
        {
          val sst = col("q").cast("double") - col("s").cast("double") *
            col("s").cast("double") / col("n").cast("double")
          val ssb = col("b") - col("s").cast("double") *
            col("s").cast("double") / col("n").cast("double")
          // a flat series has no variance to explain: null, not NaN
          when(sst === 0.0, lit(null).cast("double"))
            .otherwise(round(ssb / sst, 6)).as("seasonality_r2")
        })
  }

  /** Customer decile lift/gains table — "the top 10% of customers
    * carry X% of revenue", the targeting readout behind every
    * campaign-sizing decision (and the per-decile generalization of
    * [[paretoRevenue]]'s 80/20 point): customers rank by exact spend
    * (cents) into `ntile(10)` deciles — ANSI ntile semantics on a
    * (spend desc, custkey) total order, so bucket boundaries replay
    * cross-engine — then per decile count, revenue, share and
    * cumulative share. Bucket assignment needs the GLOBAL spend
    * rank, but no global sort runs: customers band into
    * quarter-octave spend buckets,
    * band counts collect (O(bands) scalars — the [[paretoRevenue]]
    * two-phase idiom), and `band_offset + within-band row_number`
    * IS the exact global rank with every window partitioned by
    * band. The ANSI ntile formula (first n%10 buckets take the
    * extra row) then maps rank → decile arithmetically, replaying
    * the oracle's `ntile(10)` bit-for-bit. Spend is exact cents;
    * shares divide exact integers, rounded once.
    */
  def decileLift(orders: DataFrame, buckets: Int = 10): DataFrame = {
    val spark = orders.sparkSession
    import spark.implicits._
    val spend = orders
      .groupBy("o_custkey")
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long")).as("c"))
      .localCheckpoint(true) // band totals + ranking both consume it
    val banded = spend.withColumn("band",
      (-floor(log2(greatest(col("c").cast("double"), lit(1.0))) * 4))
        .cast("long"))
    // descending-spend global order = ascending band order (bigger
    // spend → more-negative band), rank offsets from band counts
    val counts = banded.groupBy("band").agg(count(lit(1)).as("cnt"))
      .as[(Long, Long)].collect().sortBy(_._1)
    val n = counts.map(_._2).sum
    var acc = 0L
    val offsets = counts.map { case (b, cHere) =>
      val off = (b, acc); acc += cHere; off }
    val offsetsDf = spark.createDataFrame(offsets.toSeq)
      .toDF("band", "rank_offset")
    val q = n / buckets; val r = n % buckets
    val wBand = Window.partitionBy("band")
      .orderBy(col("c").desc, col("o_custkey").asc)
    val rank = col("rank_offset") + row_number().over(wBand)
    // ANSI ntile: buckets 1..r hold q+1 rows, the rest q
    val decile =
      if (q == 0L) rank
      else when(rank <= lit(r * (q + 1)), ceil(rank / lit((q + 1).toDouble)))
        .otherwise(lit(r) + ceil((rank - lit(r * (q + 1))) / lit(q.toDouble)))
    val byDecile = banded.join(broadcast(offsetsDf), Seq("band"))
      .withColumn("decile", decile.cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum("c").as("dc"))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    byDecile
      .withColumn("total", sum("dc").over(all))
      .withColumn("cum", sum("dc").over(w))
      .select(
        col("decile"), col("n_customers"),
        (col("dc").cast("double") / 100.0).as("revenue"),
        round(col("dc") / col("total"), 6).as("revenue_share"),
        round(col("cum") / col("total"), 6).as("cum_share"))
  }

  /** [[rollingActiveUsers]]'s 100 TB twin as a FIRST-CLASS key, not
    * a comment: the same bounded ×days fan-out of the deduplicated
    * user-day relation, but the exact (target_day, user) collapse —
    * whose shuffle carries every user-day pair — is replaced by
    * per-day HLL sketches (`approx_count_distinct`, rsd ~2%) built
    * directly from the fan-out's map-side partials: ONE aggregate
    * with two fixed-size sketch states per day, nothing user-grained
    * ever shuffles. Same output shape (day, wau, dau); ApproxSpec
    * bounds the error against the exact key. The day-0 marker
    * becomes a null-gated second sketch (nulls don't enter HLL).
    */
  def rollingActiveUsersApprox(events: DataFrame, days: Int = 7,
                               rsd: Double = 0.02): DataFrame = {
    val userDays = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint(true)
    val present = userDays.select(col("day").as("target_day")).distinct()
    userDays
      .select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(days - 1))).as("i"))
      .select(col("user_id"),
        date_add(col("day"), col("i")).as("target_day"), col("i"))
      .join(present, Seq("target_day"), "left_semi")
      .groupBy(col("target_day").as("day"))
      .agg(
        approx_count_distinct(col("user_id"), rsd).as("wau_approx"),
        approx_count_distinct(
          when(col("i") === 0, col("user_id")), rsd).as("dau_approx"))
  }

  /** Rolling-actives CALIBRATION — [[EventOps.sketchCalibration]]'s
    * pattern over the WAU/DAU tier, graduating the approx key from
    * rows-only to a full oracle: per day, the EXACT anchor columns
    * ([[rollingActiveUsers]] — wau, dau) plus engine-agnostic
    * boolean claims that the engine's OWN per-day HLL route
    * ([[rollingActiveUsersApprox]], the no-user-grain-shuffle 100 TB
    * path) lands within tolerance of each. Raw estimates can never
    * hash across engines; the claims can, because each engine checks
    * ITS sketches against the SAME exact anchor. Tolerance
    * `max(2, exact·tolPct/100)` integer-exact on both engines;
    * tolPct=5 is ApproxSpec's bound (~2.5σ at rsd 2%) made portable.
    */
  def rollingActiveCalibration(events: DataFrame, days: Int = 7,
                               rsd: Double = 0.02,
                               tolPct: Int = 5): DataFrame = {
    // ONE fan-out, ONE (target_day, user) collapse, ONE day-grain
    // aggregate carrying the exact WAU/DAU anchors AND the engine's
    // own HLL estimates side by side. The sketches read the COLLAPSED
    // relation, which changes nothing: HLL register updates are
    // idempotent, so the sketch of the deduplicated (day, user) set
    // is bit-identical to rollingActiveUsersApprox's over the raw
    // fan-out — the boolean still scores the sketch route. Fusing
    // drops the approx tier's second fan-out chain and the day join
    // a naive twin-query composition pays.
    val userDays = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
      .localCheckpoint(true)
    val present = userDays.select(col("day").as("target_day")).distinct()
    userDays
      .select(col("user_id"), col("day"),
        explode(sequence(lit(0), lit(days - 1))).as("i"))
      .select(col("user_id"), col("day"),
        date_add(col("day"), col("i")).as("target_day"),
        when(col("i") === 0, 1L).otherwise(0L).as("is_today"))
      .join(present, Seq("target_day"), "left_semi")
      .groupBy("target_day", "user_id")
      .agg(max("is_today").as("active_today"))
      .groupBy(col("target_day").as("day"))
      .agg(
        count(lit(1)).as("wau"),
        sum("active_today").as("dau"),
        approx_count_distinct(col("user_id"), rsd).as("wau_approx"),
        approx_count_distinct(
          when(col("active_today") === 1L, col("user_id")), rsd)
          .as("dau_approx"))
      .select(col("day"), col("wau"), col("dau"),
        round(col("dau") / col("wau"), 6).as("stickiness"),
        (abs(col("wau_approx") - col("wau")) <=
          greatest(lit(2L), expr(s"wau * $tolPct div 100")))
          .as("wau_within_tol"),
        (abs(col("dau_approx") - col("dau")) <=
          greatest(lit(2L), expr(s"dau * $tolPct div 100")))
          .as("dau_within_tol"))
  }

  /** CUSUM mean-shift changepoint over the daily revenue series —
    * the level-shift detector for a KPI feed (did revenue move
    * regime on some day, and which day): cumulative sum of
    * deviations from the global mean peaks exactly at the shift
    * point. All series arithmetic is EXACT integer — revenue in
    * cents × integer discount-percent ([[rollingRevenue]]'s trick),
    * and the cusum is kept in the scaled form
    * `prefix·n_days − rank·total` (decimal — ~1e18 at sf0.1, past
    * long range at sf1) so peak detection compares integers, not
    * accumulated floats; the reported dollar cusum divides once at
    * the end, both engines converting the SAME exact integer.
    * Scale: one shuffle collapses the fact table to day grain; the
    * partition-less ordered windows then run over the
    * calendar-bounded day relation (thousands of rows — the
    * [[orderBacklog]] correct-by-construction case).
    */
  def revenueChangepoint(lineitem: DataFrame): DataFrame = {
    val centsX = round(col("l_extendedprice") * 100, 0).cast("long") *
      (lit(100L) - round(col("l_discount") * 100, 0).cast("long"))
    val daily = lineitem
      .groupBy(to_date(col("l_shipdate")).as("day"))
      .agg(sum(centsX).as("c"))
    val ordered = Window.orderBy("day")
    val all = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val scaled = daily
      .withColumn("prefix", sum("c").over(
        ordered.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(ordered).cast("long"))
      .withColumn("total", sum("c").over(all))
      .withColumn("nd", count(lit(1)).over(all))
      .withColumn("cusum_scaled",
        col("prefix").cast("decimal(38,0)") * col("nd") -
          col("rn").cast("decimal(38,0)") * col("total"))
    scaled
      .withColumn("peak", max(abs(col("cusum_scaled"))).over(all))
      .select(
        col("day"),
        (col("c").cast("double") / 10000.0).as("day_revenue"),
        // UNROUNDED on purpose: both engines divide the SAME exact
        // integers (identical IEEE operands → identical quotient),
        // so the raw double is bit-equal cross-engine — a round(6)
        // here would REINTRODUCE divergence via the engines'
        // different decimal-rounding implementations
        (col("cusum_scaled").cast("double") /
          (col("nd").cast("double") * 10000.0)).as("cusum"),
        (abs(col("cusum_scaled")) === col("peak")).as("is_changepoint"))
  }
}
