package graft

import graft.operators.Analytics
import org.apache.spark.sql.functions._

/** Crafted-input specs for the round-4 relational operators (the
  * TPC-H Q6/Q10/Q14/Q19/Q21/Q22-flavored queries). Each test builds
  * the smallest dataset where the operator's distinguishing branch
  * matters — the oracle gate covers the full-table semantics.
  */
class AnalyticsSpec extends SparkSpec {
  import spark.implicits._

  private def li(rows: (Long, Long, Long, Double, Double, Double, String, String)*) =
    rows.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_quantity",
      "l_extendedprice", "l_discount", "l_returnflag", "l_shipdate")

  test("forecastRevenue keeps only the discount band and quantity cap") {
    val l = li(
      (1L, 1L, 1L, 10.0, 100.0, 0.06, "N", "1995-03-01"), // kept
      (2L, 1L, 1L, 30.0, 100.0, 0.06, "N", "1995-04-01"), // qty too high
      (3L, 1L, 1L, 10.0, 100.0, 0.02, "N", "1995-05-01"), // discount below band
      (4L, 1L, 1L, 10.0, 200.0, 0.07, "N", "1996-01-01")) // kept, other year
    val out = Analytics.forecastRevenue(l).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out.keySet == Set(1995L, 1996L))
    assert(math.abs(out(1995L)._1 - 6.0) < 1e-9 && out(1995L)._2 == 1L)
    assert(math.abs(out(1996L)._1 - 14.0) < 1e-9 && out(1996L)._2 == 1L)
  }

  test("topSupplier keeps every supplier tied at the window maximum") {
    val l = li(
      (1L, 1L, 10L, 1.0, 100.0, 0.0, "N", "1996-02-01"),
      (2L, 1L, 20L, 1.0, 60.0, 0.0, "N", "1996-02-01"),
      (3L, 1L, 20L, 1.0, 40.0, 0.0, "N", "1996-03-01"), // 20 ties 10 at 100
      (4L, 1L, 30L, 1.0, 999.0, 0.0, "N", "1995-01-01")) // outside window
    val sup = Seq((10L, "S10"), (20L, "S20"), (30L, "S30"))
      .toDF("s_suppkey", "s_name")
    val out = Analytics.topSupplier(l, sup).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out == Map(10L -> 100.0, 20L -> 100.0))
  }

  test("smallQtyRevenue counts only lines below 20% of the part's mean") {
    val l = li(
      (1L, 1L, 1L, 1.0, 70.0, 0.0, "N", "1995-01-01"),  // avg qty 10.5 -> 1 < 2.1
      (2L, 1L, 1L, 20.0, 999.0, 0.0, "N", "1995-01-01"),
      (3L, 2L, 1L, 1.0, 999.0, 0.0, "N", "1995-01-01")) // other brand
    val part = Seq((1L, "Brand#23"), (2L, "Brand#1")).toDF("p_partkey", "p_brand")
    val out = Analytics.smallQtyRevenue(l, part).collect()
    assert(out.length == 1)
    assert(math.abs(out(0).getDouble(0) - 10.0) < 1e-9) // 70 / 7
  }

  test("paretoRevenue counts top products per coverage threshold") {
    val l = li(
      (1L, 1L, 1L, 1.0, 50.0, 0.0, "N", "1995-01-01"),
      (2L, 2L, 1L, 1.0, 30.0, 0.0, "N", "1995-01-01"),
      (3L, 3L, 1L, 1.0, 20.0, 0.0, "N", "1995-01-01"))
    val out = Analytics.paretoRevenue(l).collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(out == Map(0.5 -> 1L, 0.8 -> 2L, 0.9 -> 3L, 0.95 -> 3L, 0.99 -> 3L))
  }

  test("promoShare is promo revenue over total revenue per month") {
    val l = li(
      (1L, 1L, 1L, 1.0, 100.0, 0.0, "N", "1995-03-05"),
      (2L, 2L, 1L, 1.0, 300.0, 0.0, "N", "1995-03-20"))
    val part = Seq((1L, "PROMO"), (2L, "STANDARD")).toDF("p_partkey", "p_type")
    val r = Analytics.promoShare(l, part).collect()
    assert(r.length == 1)
    assert(r(0).getAs[Double]("promo_share") == 0.25)
    assert(r(0).getAs[Double]("total_revenue") == 400.0)
  }

  test("disjunctiveRevenue applies each band to its own brand only") {
    val l = li(
      (1L, 1L, 1L, 5.0, 100.0, 0.0, "N", "1995-01-01"),  // Brand#1 qty 5: in [1,11]
      (2L, 2L, 1L, 5.0, 100.0, 0.0, "N", "1995-01-01"),  // Brand#2 qty 5: NOT in [10,20]
      (3L, 2L, 1L, 15.0, 50.0, 0.0, "N", "1995-01-01"))  // Brand#2 qty 15: in band
    val part = Seq((1L, "Brand#1"), (2L, "Brand#2")).toDF("p_partkey", "p_brand")
    val out = Analytics.disjunctiveRevenue(l, part).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(out == Map("Brand#1" -> (100.0, 1L), "Brand#2" -> (50.0, 1L)))
  }

  test("soleBlameSuppliers: only supplier with returns in a multi-supplier order") {
    val l = li(
      // order 1: two suppliers, only supplier 10 has a return -> blamed
      (1L, 1L, 10L, 1.0, 1.0, 0.0, "R", "1995-01-01"),
      (1L, 2L, 20L, 1.0, 1.0, 0.0, "N", "1995-01-01"),
      // order 2: both suppliers have returns -> nobody is solely to blame
      (2L, 1L, 10L, 1.0, 1.0, 0.0, "R", "1995-01-01"),
      (2L, 2L, 20L, 1.0, 1.0, 0.0, "R", "1995-01-01"),
      // order 3: single-supplier order with a return -> excluded (no peers)
      (3L, 1L, 30L, 1.0, 1.0, 0.0, "R", "1995-01-01"))
    val supplier = Seq((10L, "s10"), (20L, "s20"), (30L, "s30"))
      .toDF("s_suppkey", "s_name")
    val out = Analytics.soleBlameSuppliers(l, supplier).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((10L, "s10", 1L)))
  }

  test("idleRichCustomers needs above-average balance AND no recent orders") {
    val customer = Seq(
      (1L, 1000.0, "A"), // rich, idle -> counted
      (2L, 1000.0, "A"), // rich, but ordered recently -> dropped
      (3L, 10.0, "B"))   // poor -> dropped (avg is 670)
      .toDF("c_custkey", "c_acctbal", "c_mktsegment")
    val orders = Seq(
      (2L, "2001-05-01"), (1L, "1999-01-01")) // cust 1's order predates cutoff
      .toDF("o_custkey", "o_orderdate_s")
      .select($"o_custkey", $"o_orderdate_s".cast("date").as("o_orderdate"))
    val out = Analytics.idleRichCustomers(customer, orders).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("A", 1L, 1000.0)))
  }

  test("heavyHitters keeps only users above factor×mean count") {
    val events = (Seq.fill(10)(1L) ++ Seq.fill(10)(2L) ++ Seq.fill(40)(3L))
      .zipWithIndex.map { case (u, i) => (i.toLong, u) }
      .toDF("event_id", "user_id")
    // mean count = 20; only user 3 (40 events) clears 1.25×20 = 25
    val out = Analytics.heavyHitters(events).collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(out.toSeq == Seq(3L -> 40L))
  }

  test("aggregator top-k matches the window formulation exactly") {
    val dir = "/root/testdata/sf0.001"
    val cust = graft.sources.Tables.customer(spark, dir)
    // the window formulation, kept here as the reference
    val w = org.apache.spark.sql.expressions.Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    val win = cust
      .withColumn("rank_in_segment", row_number().over(w).cast("long"))
      .filter(col("rank_in_segment") <= 5)
      .select("c_mktsegment", "rank_in_segment", "c_custkey", "c_name", "c_acctbal")
      .collect().map(_.toSeq).toSet
    val agg = Analytics.topCustomersPerSegment(cust)
      .collect().map(_.toSeq).toSet
    assert(win == agg)
  }

  /** Heavy hitters from per-partition Misra–Gries summaries of at
    * most `k` counters ([[graft.operators.EventOps.mgFold]], the fold
    * the streaming heavy-hitters key runs), merged by summing. */
  private def mgHeavyHitters(events: org.apache.spark.sql.DataFrame, k: Int,
                             factor: Double = 1.25): Map[Long, Long] = {
    val merged = events.select(col("user_id").cast("long")).as[Long]
      .mapPartitions { it =>
        val counters = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
        graft.operators.EventOps.mgFold(counters, it, k)
        counters.iterator
      }
      .collect().groupMapReduce(_._1)(_._2)(_ + _)
    val thr = merged.values.sum.toDouble / merged.size * factor
    merged.filter(_._2 > thr)
  }

  test("misra-gries matches the exact heavy hitters when k covers the keys") {
    val dir = "/root/testdata/sf0.001"
    val events = graft.sources.Tables.events(spark, dir)
    val exact = Analytics.heavyHitters(events).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == mgHeavyHitters(events, k = 2048))
  }

  test("misra-gries under eviction still surfaces true heavies within N/k") {
    // one dominant key among 500 singletons, k far below cardinality
    val ids = (Seq.fill(1000)(7L) ++ (100L until 600L)).zipWithIndex
      .map { case (u, i) => (i.toLong, u) }
    val events = ids.toDF("event_id", "user_id").repartition(4)
    val out = mgHeavyHitters(events, k = 10)
    val n = 1500.0
    assert(out.contains(7L), s"true heavy key must survive: $out")
    assert(out(7L) >= 1000L - (n / 10).toLong && out(7L) <= 1000L,
      s"estimate ${out(7L)} outside the N/k bound")
  }

  test("returnedCustomers ranks by returned revenue with deterministic ties") {
    val l = li(
      (1L, 1L, 1L, 1.0, 100.0, 0.0, "R", "1995-01-01"),
      (2L, 1L, 1L, 1.0, 500.0, 0.5, "R", "1995-01-01"), // cust 2: 250
      (3L, 1L, 1L, 1.0, 999.0, 0.0, "N", "1995-01-01")) // not returned
    val orders = Seq((1L, 1L), (2L, 2L), (3L, 2L)).toDF("o_orderkey", "o_custkey")
    val customer = Seq((1L, "c1", 1L, 5.0), (2L, "c2", 1L, 6.0))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal")
    val nation = Seq((1L, "FRANCE")).toDF("n_nationkey", "n_name")
    val out = Analytics.returnedCustomers(l, orders, customer, nation)
      .select("c_custkey", "revenue").as[(Long, Double)].collect()
    assert(out.toSeq == Seq((2L, 250.0), (1L, 100.0)))
  }

  test("basket affinity counts distinct co-purchases, giant orders excluded") {
    // orders 1-3 share parts {1,2}; order 1 also has part 3; order 9
    // is a 25-part giant that CONTAINS {1,2} but must not count;
    // duplicate lines within an order must not double-count
    val rows =
      Seq((1L, 1L), (1L, 2L), (1L, 2L), (1L, 3L), (2L, 1L), (2L, 2L),
        (3L, 1L), (3L, 2L)) ++ (1L to 25L).map(p => (9L, p))
    val li = rows.toDF("l_orderkey", "l_partkey")
    val out = Analytics.basketAffinity(
        Analytics.guardedBaskets(li, maxParts = 20), minOrders = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out == Map((1L, 2L) -> 3L),
      s"expected only (1,2)->3 (giant order excluded, dup line ignored): $out")

    // rules: both directions of the surviving pair; parts 1 and 2
    // each appear in all 3 guarded orders → confidence 1, lift
    // 3·3/(3·3) = 1
    val rules = Analytics.basketRules(SharedTrunks.baskets(li), minOrders = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(rules.keySet == Set((1L, 2L), (2L, 1L)))
    rules.values.foreach { case (n, conf, lift) =>
      assert(n == 3L && math.abs(conf - 1.0) < 1e-12 &&
        math.abs(lift - 1.0) < 1e-12, s"unexpected rule stats ($n,$conf,$lift)")
    }
  }

  test("RFM scores are quintiles: in range, balanced on the continuous dim") {
    val orders = graft.sources.Tables.orders(spark, "/root/testdata/sf0.001")
    val rows = Analytics.rfmSegments(orders).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7)))
    assert(rows.nonEmpty)
    rows.foreach { case (c, rS, fS, mS, rfm) =>
      assert(rS >= 1 && rS <= 5 && fS >= 1 && fS <= 5 && mS >= 1 && mS <= 5,
        s"customer $c out-of-range scores ($rS,$fS,$mS)")
      assert(rfm == rS * 100 + fS * 10 + mS, s"customer $c rfm code $rfm")
    }
    // monetary is continuous (no tie mass) → each quintile holds
    // ~20% of customers
    val n = rows.length.toDouble
    val mShare = rows.groupBy(_._4).view.mapValues(_.length / n)
    (1L to 5L).foreach { q =>
      val share = mShare.getOrElse(q, 0.0)
      assert(share > 0.10 && share < 0.30,
        s"monetary quintile $q holds ${share * 100}%% of customers") }
  }

  test("discountElasticity recovers a crafted quantity-vs-discount slope") {
    val part = Seq((1L, "Resp"), (2L, "Flat")).toDF("p_partkey", "p_brand")
    val li = Seq(
      // Resp: qty = 100*discount + 5 exactly → slope 100, r2 1
      (1L, 0.00, 5.0), (1L, 0.05, 10.0), (1L, 0.10, 15.0),
      // Flat: constant qty regardless of discount → slope 0
      (2L, 0.00, 7.0), (2L, 0.05, 7.0), (2L, 0.10, 7.0))
      .toDF("l_partkey", "l_discount", "l_quantity")
    val out = Analytics.discountElasticity(li, part).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out("Resp") == (3L, 100.0), s"responsive brand: ${out("Resp")}")
    assert(out("Flat") == (3L, 0.0), s"flat brand: ${out("Flat")}")
  }

  test("supplierHhi: monopoly scores 1, even split scores 1/n") {
    val part = Seq((1L, "widget"), (2L, "gadget")).toDF("p_partkey", "p_type")
    val li = Seq(
      // widget: one supplier → HHI 1.0
      (1L, 10L, 100.0),
      // gadget: two equal suppliers → HHI 0.5
      (2L, 20L, 50.0), (2L, 21L, 50.0))
      .toDF("l_partkey", "l_suppkey", "l_extendedprice")
      .withColumn("l_discount", lit(0.0))
    val out = Analytics.supplierHhi(li, part).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(out == Map("widget" -> (1L, 1.0), "gadget" -> (2L, 0.5)), s"$out")
  }

  test("basketSizes: distinct parts per order, exact percentiles") {
    val li = Seq(
      (1L, 10L), (1L, 10L), (1L, 11L), // order 1: 2 distinct (10 repeats)
      (2L, 10L),                       // order 2: 1
      (3L, 10L), (3L, 11L), (3L, 12L)) // order 3: 3
      .toDF("l_orderkey", "l_partkey")
    val r = Analytics.basketSizes(li).collect().head
    assert(r.getLong(0) == 3L && r.getDouble(1) == 2.0 && r.getLong(4) == 3L,
      s"sizes {1,2,3}: $r")
  }

  test("banded-prefix operators survive empty input (no driver-collect crash)") {
    val noLi = Seq.empty[(Long, Double, Double)]
      .toDF("l_partkey", "l_extendedprice", "l_discount")
    assert(Analytics.paretoRevenue(noLi).collect().isEmpty)
    assert(Analytics.abcClass(noLi).collect().isEmpty)
    val noPart = Seq.empty[(Long, Double, Int)]
      .toDF("p_partkey", "p_retailprice", "p_size")
    assert(Analytics.skyline(noPart).collect().isEmpty)
    // gini of nothing: one aggregate row, zero products, null ratio
    val g = Analytics.giniRevenue(noLi).collect().head
    assert(g.getLong(0) == 0L && g.isNullAt(1))
    // percentile-cut operators: empty in, empty out (not an NPE on
    // the null percentile row)
    val noOrders = Seq.empty[(Long, java.sql.Timestamp, Double)]
      .toDF("o_custkey", "o_orderdate", "o_totalprice")
    assert(Analytics.rfmSegments(noOrders).collect().isEmpty)
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.operators.TextAnalysis.perplexityFilter(noDocs)
      .collect().isEmpty)
    // round-6 operators: empty in → empty (or single-null-row) out
    assert(graft.operators.TextAnalysis.pmiBigrams(noDocs)
      .collect().isEmpty)
    val noEvents = Seq.empty[(Long, java.sql.Timestamp, Long, String)]
      .toDF("event_id", "ts", "user_id", "event_type")
    assert(graft.operators.EventOps.lastTouchAttribution(noEvents)
      .collect().isEmpty)
    assert(graft.streaming.EventStream.funnelState(noEvents)
      .collect().isEmpty)
    // key-skew summary of nothing: one row, zero keys, null extrema
    val sk = graft.operators.Skew.keySkewProfile(noEvents, "user_id")
      .collect().head
    assert(sk.getLong(0) == 0L && sk.isNullAt(2), s"empty skew: $sk")
  }

  test("giniRevenue: 0 for equality, known value for crafted inequality") {
    def li(revs: Double*) = revs.zipWithIndex
      .map { case (r, i) => (i.toLong, r) }
      .toDF("l_partkey", "l_extendedprice")
      .withColumn("l_discount", lit(0.0))
    val equal = Analytics.giniRevenue(li(10, 10, 10, 10)).collect().head
    assert(equal.getDouble(1) == 0.0, s"perfect equality: $equal")
    // revenues 1, 1, 1, 7: G = 2*(1+2+3+28)/(4*10) - 5/4 = 0.45
    val skewed = Analytics.giniRevenue(li(1, 1, 1, 7)).collect().head
    assert(skewed.getLong(0) == 4L && skewed.getDouble(1) == 0.45,
      s"crafted gini: $skewed")
    // the banded rank path is partition-independent
    val again = Analytics.giniRevenue(
      li(1, 1, 1, 7).repartition(7)).collect().head
    assert(again.getDouble(1) == 0.45)
  }

  test("orderBacklog: +1/-1 encoding equals a naive open-interval count") {
    val orders = Seq(
      (1L, "1995-01-10"), (2L, "1995-01-20"), (3L, "1995-02-05"),
      (4L, "1995-04-01"))
      .toDF("o_orderkey", "d")
      .withColumn("o_orderdate", $"d".cast("timestamp")).drop("d")
    val li = Seq( // last ship per order: 1→Mar, 2→Jan, 3→Feb, 4→Apr
      (1L, "1995-02-10"), (1L, "1995-03-15"),
      (2L, "1995-01-25"),
      (3L, "1995-02-20"),
      (4L, "1995-04-20"))
      .toDF("l_orderkey", "d")
      .withColumn("l_shipdate", $"d".cast("timestamp")).drop("d")
    val got = Analytics.orderBacklog(orders, li).collect()
      .map(r => r.getDate(0).toString.take(7) -> r.getLong(3)).toMap
    // end of Jan: 1 open (order 1; 2 closed same month). Feb: order 3
    // opened AND closed, so still just order 1. Mar: order 1 closes → 0.
    // Apr: order 4 opens and closes → 0.
    assert(got == Map("1995-01" -> 1L, "1995-02" -> 1L,
      "1995-03" -> 0L, "1995-04" -> 0L), s"backlog series: $got")
    // a QUIET month still reports its open backlog: one order spans
    // Jan..May with zero activity in between → Feb/Mar/Apr rows exist
    val lone = Seq((9L, "1995-01-15")).toDF("o_orderkey", "d")
      .withColumn("o_orderdate", $"d".cast("timestamp")).drop("d")
    val loneLi = Seq((9L, "1995-05-20")).toDF("l_orderkey", "d")
      .withColumn("l_shipdate", $"d".cast("timestamp")).drop("d")
    val spine = Analytics.orderBacklog(lone, loneLi).collect()
      .map(r => r.getDate(0).toString.take(7) -> r.getLong(3)).toMap
    assert(spine == Map("1995-01" -> 1L, "1995-02" -> 1L, "1995-03" -> 1L,
      "1995-04" -> 1L, "1995-05" -> 0L), s"spine-filled series: $spine")
  }

  test("abcClass labels products by cumulative revenue share") {
    // revenues 50, 30, 15, 4, 1 (total 100): cum shares .50 .80 .95 .99 1.0
    // → A, A (exactly at .8), B (exactly at .95), C, C
    val li = Seq(
      (1L, 50.0), (2L, 30.0), (3L, 15.0), (4L, 4.0), (5L, 1.0))
      .toDF("l_partkey", "l_extendedprice")
      .withColumn("l_discount", lit(0.0))
    val out = Analytics.abcClass(li).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "A", 2L -> "A", 3L -> "B", 4L -> "C", 5L -> "C"),
      s"boundary products belong to the straddled class: $out")
  }

  test("brandTrend recovers an exact linear monthly trend per brand") {
    val part = Seq((1L, "Up"), (2L, "Flat")).toDF("p_partkey", "p_brand")
    // brand Up: revenue 100, 200, 300 over consecutive months (slope
    // 100/month, perfect fit); brand Flat: constant 50 (slope 0)
    val li = Seq(
      (1L, "1995-01-10", 100.0), (1L, "1995-02-10", 200.0),
      (1L, "1995-03-10", 300.0),
      (2L, "1995-01-05", 50.0), (2L, "1995-02-05", 50.0),
      (2L, "1995-03-05", 50.0))
      .toDF("l_partkey", "d", "l_extendedprice")
      .withColumn("l_shipdate", $"d".cast("timestamp"))
      .withColumn("l_discount", lit(0.0)).drop("d")
    val out = Analytics.brandTrend(li, part).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(3), r.getLong(4))).toMap
    assert(out("Up") == (100.0, 1.0, 3L), s"perfect line: ${out("Up")}")
    val (slopeF, _, nF) = out("Flat")
    assert(slopeF == 0.0 && nF == 3L, s"flat series: ${out("Flat")}")
  }

  test("priceFill: gaps carry the last observation, leading months stay null") {
    val part = Seq((1L, "Brand#11"), (2L, "Brand#11"), (3L, "Brand#55"))
      .toDF("p_partkey", "p_brand")
    val li = Seq(
      // product 1: observed Jan + Apr; Feb/Mar must carry Jan's price
      (1L, "1995-01-15", 10.0), (1L, "1995-01-20", 20.0),
      (1L, "1995-04-02", 40.0),
      // product 2: first observed Mar → Jan/Feb stay null
      (2L, "1995-03-10", 99.0),
      // product 3: other brand → excluded entirely
      (3L, "1995-02-01", 1.0))
      .toDF("l_partkey", "d", "l_extendedprice")
      .withColumn("l_shipdate", $"d".cast("timestamp")).drop("d")
    val out = Analytics.priceFill(li, part, "Brand#11").collect()
      .map(r => (r.getLong(0), r.getDate(1).toString) ->
        (Option(r.get(2)), r.getBoolean(3))).toMap
    assert(out.size == 8, s"2 products x 4 spine months: ${out.keys}")
    assert(out((1L, "1995-01-01")) == (Some(15.0), true)) // avg of 10, 20
    assert(out((1L, "1995-02-01")) == (Some(15.0), false)) // carried
    assert(out((1L, "1995-03-01")) == (Some(15.0), false))
    assert(out((1L, "1995-04-01")) == (Some(40.0), true))
    assert(out((2L, "1995-01-01")) == (None, false), "nothing to carry yet")
    assert(out((2L, "1995-02-01")) == (None, false))
    assert(out((2L, "1995-03-01")) == (Some(99.0), true))
    assert(out((2L, "1995-04-01")) == (Some(99.0), false))
  }

  test("skyline keeps exactly the non-dominated parts; equal pairs co-survive") {
    def parts(rows: (Long, Double, Int)*) =
      rows.toDF("p_partkey", "p_retailprice", "p_size")
    val crafted = parts(
      (1L, 100.0, 10), // frontier
      (2L, 100.0, 10), // exact duplicate of 1 → co-survives
      (3L, 100.0, 12), // same price, larger size → dominated by 1
      (4L, 150.0, 5),  // frontier (bigger price, smaller size)
      (5L, 150.0, 10), // dominated by 1 (cheaper, same size)
      (6L, 90.0, 20),  // frontier (cheapest)
      (7L, 200.0, 5),  // dominated by 4 (same size, pricier)
      (8L, 80.5, 30),  // frontier
      (9L, 80.7, 30))  // dominated by 8 within the same floor() band
    val got = Analytics.skyline(crafted).collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 4L, 6L, 8L), s"crafted frontier: $got")

    // randomized cross-check against the O(n²) definition
    val rnd = new scala.util.Random(7)
    val rows = (1L to 400L).map(i =>
      (i, 900.0 + rnd.nextInt(1100) + rnd.nextInt(100) / 100.0,
        1 + rnd.nextInt(50)))
    val naive = rows.filter { case (_, p, s) =>
      !rows.exists { case (_, p2, s2) =>
        p2 <= p && s2 <= s && (p2 < p || s2 < s) }
    }.map(_._1).toSet
    val dist = Analytics.skyline(parts(rows: _*).repartition(7))
      .collect().map(_.getLong(0)).toSet
    assert(dist == naive, "banded prefix-min must equal the pairwise definition")
  }

  test("segmentMigration: churn, acquisition and tier moves, shares per from-tier") {
    def d(s: String) = java.sql.Timestamp.valueOf(s + " 00:00:00")
    val orders = Seq(
      // cust 1: one order in 1995, none in 1996 → one_time → absent
      (1L, d("1995-03-01")),
      // cust 2: 2 orders in 1995, 4 in 1996 → repeat → loyal
      (2L, d("1995-01-01")), (2L, d("1995-06-01")),
      (2L, d("1996-01-01")), (2L, d("1996-02-01")),
      (2L, d("1996-03-01")), (2L, d("1996-04-01")),
      // cust 3: none in 1995, 1 in 1996 → absent → one_time
      (3L, d("1996-07-01")),
      // cust 4: one in each → one_time → one_time
      (4L, d("1995-05-01")), (4L, d("1996-05-01")),
      // a 1994 order must not leak into either period
      (5L, d("1994-12-31"))).toDF("o_custkey", "o_orderdate")
    val out = Analytics.segmentMigration(orders).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      ("one_time", "absent") -> (1L, 0.5),
      ("one_time", "one_time") -> (1L, 0.5),
      ("repeat", "loyal") -> (1L, 1.0),
      ("absent", "one_time") -> (1L, 1.0)), s"got $out")
  }

  test("rollingRevenue: RANGE frame narrows over calendar gaps") {
    // days 1,2,3 then a jump to day 10: the day-10 frame [4..10]
    // must contain ONLY day 10 — a ROWS frame would wrongly reach
    // back to days 1-3
    val l = Seq(
      ("1995-01-01", 100.0), ("1995-01-02", 200.0), ("1995-01-03", 400.0),
      ("1995-01-10", 800.0))
      .toDF("d", "l_extendedprice")
      .withColumn("l_shipdate", $"d".cast("timestamp")).drop("d")
      .withColumn("l_discount", lit(0.0))
    val got = Analytics.rollingRevenue(l, days = 7).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getDouble(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got("1995-01-03") == ((700.0, 3L, 3L)), s"got $got")
    assert(got("1995-01-10") == ((800.0, 1L, 1L)),
      s"gap must narrow the frame: $got")
    // a 50% discount halves exact revenue: 100 * 0.5
    val disc = Analytics.rollingRevenue(
      Seq(("1995-01-01", 100.0)).toDF("d", "l_extendedprice")
        .withColumn("l_shipdate", $"d".cast("timestamp")).drop("d")
        .withColumn("l_discount", lit(0.5))).collect().head
    assert(disc.getDouble(1) == 50.0 && disc.getDouble(2) == 50.0)
  }

  test("supplierReliability: Wilson bound flips the thin-evidence ranking") {
    // supplier 1: one line, late (raw rate 1.0). supplier 2: 100
    // lines, 95 late (raw 0.95). Raw ranks s1 worse; the lower
    // bound must rank s2 worse — evidence beats a single bad sample.
    val orders = Seq((1L, "1995-01-01")).toDF("o_orderkey", "d")
      .withColumn("o_orderdate", $"d".cast("timestamp")).drop("d")
    def line(supp: Long, late: Boolean, i: Int) =
      (1L, supp, if (late) "1995-06-01" else "1995-01-15", i)
    val li = (Seq(line(1L, late = true, 0)) ++
      (0 until 95).map(i => line(2L, late = true, i)) ++
      (0 until 5).map(i => line(2L, late = false, 100 + i)))
      .toDF("l_orderkey", "l_suppkey", "d", "i")
      .withColumn("l_shipdate", $"d".cast("timestamp")).drop("d", "i")
    val supp = Seq((1L, "one_bad"), (2L, "consistently_bad"))
      .toDF("s_suppkey", "s_name")
    val got = Analytics.supplierReliability(li, orders, supp).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(4), r.getDouble(5)))).toMap
    val (rate1, lb1) = got(1L); val (rate2, lb2) = got(2L)
    assert(rate1 == 1.0 && rate2 == 0.95, s"raw rates: $got")
    assert(rate1 > rate2 && lb1 < lb2, s"wilson must flip the order: $got")
    // hand-computed closed form for (n=1, k=1), z=1.96
    val z = 1.96; val z2 = z * z
    val expect1 = ((1.0 + z2 / 2.0) - z * math.sqrt((0.0 + z2 / 4.0) / 1.0)) /
      (1.0 + z2)
    assert(math.abs(lb1 - expect1) < 1e-12, s"lb1 $lb1 vs $expect1")
    assert(got.values.forall { case (p, lb) => lb >= 0.0 && lb <= p },
      s"bound must sit in [0, p]: $got")
  }

  test("copurchasePagerank: mass conserved, hub ranks highest, partition-invariant") {
    // star: part 1 co-purchased with 2, 3, 4 (each pair in two
    // orders to clear minOrders); no leaf-leaf edges
    val rows = for {
      (leaf, orders) <- Seq(2L -> Seq(10L, 11L), 3L -> Seq(20L, 21L),
        4L -> Seq(30L, 31L))
      o <- orders
      p <- Seq(1L, leaf)
    } yield (o, p)
    val li = rows.toDF("l_orderkey", "l_partkey")
    val pr = Analytics.copurchasePagerank(SharedTrunks.basketPairs(li))
      .collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // teleport + damped redistribution conserves total mass at 1
    assert(math.abs(pr.values.sum - 1.0) < 1e-6, s"mass: ${pr.values.sum}")
    assert(pr(1L) > pr(2L) && pr(2L) == pr(3L) && pr(3L) == pr(4L),
      s"hub must dominate symmetric leaves: $pr")
    val again = Analytics.copurchasePagerank(
        SharedTrunks.basketPairs(li.repartition(7))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(again == pr, "partition-dependent pagerank")
  }

  test("purchaseStreaks: consecutive months merge, gaps split, year boundary spans") {
    val orders = Seq(
      // cust 1: 1995-11, 1995-12, 1996-01 (one streak across the
      // year boundary), 1996-04 (isolated) — two orders in 1995-12
      // must not double-count the month
      (1L, "1995-11-15"), (1L, "1995-12-01"), (1L, "1995-12-20"),
      (1L, "1996-01-05"), (1L, "1996-04-01"),
      // cust 2: single month
      (2L, "1995-06-10"))
      .toDF("o_custkey", "d")
      .select(col("o_custkey"), col("d").cast("date").as("o_orderdate"))
    val got = Analytics.purchaseStreaks(orders).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got(1L) == ((4L, 2L, 3L)), s"cust 1: ${got(1L)}")
    assert(got(2L) == ((1L, 1L, 1L)), s"cust 2: ${got(2L)}")
  }

  test("rollingActiveUsers: WAU windows over trailing days, DAU exact, dedup within day") {
    val events = Seq(
      // day 1: users a, b (a twice — dedup); day 2: a; day 9: c
      ("a", "1995-01-01 01:00:00"), ("a", "1995-01-01 02:00:00"),
      ("b", "1995-01-01 03:00:00"),
      ("a", "1995-01-02 01:00:00"),
      ("c", "1995-01-09 01:00:00"))
      .toDF("user_id", "t")
      .select(col("user_id"), col("t").cast("timestamp").as("ts"))
    val got = Analytics.rollingActiveUsers(events).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // only days present in the data appear
    assert(got.keySet == Set("1995-01-01", "1995-01-02", "1995-01-09"))
    assert(got("1995-01-01") == ((2L, 2L, 1.0)), s"d1: ${got("1995-01-01")}")
    // day 2: a active today; window holds {a, b}
    assert(got("1995-01-02") == ((2L, 1L, 0.5)), s"d2: ${got("1995-01-02")}")
    // day 9's window is [Jan 3, Jan 9]: all of a and b's activity
    // fell out — only c remains
    assert(got("1995-01-09") == ((1L, 1L, 1.0)), s"d9: ${got("1995-01-09")}")
  }

  test("seasonalityStrength: pure weekly cycle reads 1, flat series reads null") {
    def series(rev: Int => Double) = (0 until 28).map { i =>
      (1L, rev(i), 0.0, java.sql.Date.valueOf(
        java.time.LocalDate.of(1995, 1, 2).plusDays(i.toLong)))
    }.toDF("l_orderkey", "l_extendedprice", "l_discount", "l_shipdate")
    // revenue a pure function of weekday → ALL variance is between
    val cyclic = Analytics.seasonalityStrength(
      series(i => 100.0 + (i % 7) * 10.0)).collect().head
    assert(cyclic.getLong(0) == 28L, s"days: $cyclic")
    assert(cyclic.getDouble(2) == 1.0, s"pure cycle r2: $cyclic")
    // flat series: no variance to explain → null, never NaN
    val flat = Analytics.seasonalityStrength(series(_ => 100.0)).collect().head
    assert(flat.isNullAt(2), s"flat series must be null: $flat")
    // aperiodic trend: weekday explains little
    val trend = Analytics.seasonalityStrength(
      series(i => 100.0 + i * 13.0)).collect().head
    assert(trend.getDouble(2) < 0.15, s"trend must not read seasonal: $trend")
  }

  test("decileLift: banded rank reproduces ANSI ntile on a non-divisible count") {
    // 23 customers with distinct spends: ntile(10) puts 3 rows in
    // buckets 1..3 and 2 in 4..10
    val orders = (1 to 23).map(i => (i.toLong, i * 100.0))
      .toDF("o_custkey", "o_totalprice")
    val got = Analytics.decileLift(orders).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(4)))).toMap
    assert(got.keySet == (1L to 10L).toSet, s"all deciles: $got")
    assert((1L to 3L).forall(got(_)._1 == 3L) &&
      (4L to 10L).forall(got(_)._1 == 2L), s"ANSI ntile fill: $got")
    // parity with Spark's own ntile over the same total order
    val viaNtile = orders
      .withColumn("decile", ntile(10).over(org.apache.spark.sql.expressions
        .Window.orderBy(col("o_totalprice").desc, col("o_custkey"))).cast("long"))
      .groupBy("decile").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.view.mapValues(_._1).toMap == viaNtile, "ntile parity")
    // gains curve: cum_share strictly increasing, ends at 1
    val cum = got.toSeq.sortBy(_._1).map(_._2._2)
    assert(cum.zip(cum.drop(1)).forall { case (a, b) => b > a }, s"cum: $cum")
    assert(math.abs(cum.last - 1.0) < 1e-9, s"last cum share: ${cum.last}")
  }

  test("revenueChangepoint: cusum peaks at the level shift, exact peak tie set") {
    // 10 days at ~100.00/day then 10 days at ~300.00/day: |cusum|
    // maxes exactly at the last low day
    val rows = (1 to 20).map { i =>
      val day = f"1995-01-$i%02d"
      val price = if (i <= 10) 100.0 else 300.0
      (1L, price, 0.0, day)
    }
    val li = rows.toDF("l_orderkey", "l_extendedprice", "l_discount", "d")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
        col("d").cast("date").as("l_shipdate"))
    val got = Analytics.revenueChangepoint(li).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getDouble(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(got.size == 20)
    val peaks = got.filter(_._2._3).keys.toSeq
    assert(peaks == Seq("1995-01-10"), s"peak at the shift, got $peaks")
    // cusum at the peak: 10 days × (100 − 200) = −1000.00
    assert(math.abs(got("1995-01-10")._2 + 1000.0) < 1e-6,
      s"cusum: ${got("1995-01-10")}")
    // series sums to zero at the last day (deviations from the mean)
    assert(math.abs(got("1995-01-20")._2) < 1e-6)
  }

  test("holtForecast: level/trend recursion and one-step fitted values") {
    val li = Seq(
      ("1995-01-15", 100.0), ("1995-02-15", 200.0), ("1995-03-15", 300.0))
      .toDF("d", "l_extendedprice")
      .select(col("l_extendedprice"), lit(0.0).as("l_discount"),
        col("d").cast("date").as("l_shipdate"))
    val got = Analytics.holtForecast(li).collect()
      .map(r => r.getDate(0).toString ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4))))).toMap
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-6
    // m1 initializes: l=x, b=0, no fitted
    val m1 = got("1995-01-01")
    assert(m1._1 == 100.0 && m1._2 == 100.0 && m1._3 == 0.0 &&
      m1._4.isEmpty, s"init: $m1")
    // m2: fitted=100; l=0.3·200+0.7·100=130; b=0.1·30=3
    val m2 = got("1995-02-01")
    assert(close(m2._2, 130.0) && close(m2._3, 3.0) &&
      m2._4.exists(close(_, 100.0)), s"m2: $m2")
    // m3: fitted=133; l=0.3·300+0.7·133=183.1; b=0.1·53.1+0.9·3=8.01
    val m3 = got("1995-03-01")
    assert(close(m3._2, 183.1) && close(m3._3, 8.01) &&
      m3._4.exists(close(_, 133.0)), s"m3: $m3")
  }

  test("survivalCurve: censoring shrinks the risk pool, never the product") {
    val orders = Seq(
      (1L, "2023-01-01"),                      // t=0, long-gone → event
      (2L, "2023-01-01"), (2L, "2023-01-11"),  // t=10, event
      (3L, "2024-01-01"), (3L, "2024-01-11"),  // t=10, 81d from end → censored
      (4L, "2023-06-01"), (4L, "2024-04-01"))  // t=305, defines end → censored
      .toDF("o_custkey", "d")
      .select(col("o_custkey"), col("d").cast("date").as("o_orderdate"))
    val got = Analytics.survivalCurve(orders).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet == Set(0L, 10L, 305L), s"grid: $got")
    assert(got(0L) == ((4L, 1L, 0L, 0.75)), s"t=0: ${got(0L)}")
    // t=10 holds one event AND one censor: S drops by (1−1/3) only —
    // the censored customer leaves the pool without killing survival
    assert(got(10L) == ((3L, 1L, 1L, 0.5)), s"t=10: ${got(10L)}")
    assert(got(305L) == ((1L, 0L, 1L, 0.5)), s"t=305: ${got(305L)}")
  }

  test("basketChi2: exact contingency, degenerate margin reads null") {
    val rows = Seq(
      10L -> Seq(1L, 2L, 5L, 6L), 11L -> Seq(1L, 2L, 5L, 6L),
      12L -> Seq(1L, 5L, 6L), 13L -> Seq(2L, 5L, 6L))
      .flatMap { case (o, ps) => ps.map(p => (o, p)) }
    val got = Analytics.basketChi2(
        SharedTrunks.baskets(rows.toDF("l_orderkey", "l_partkey")))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), if (r.isNullAt(5)) None else Some(r.getDouble(5)),
          r.getBoolean(6)))).toMap
    // (1,2): a=2 n_a=3 n_b=3 d=0 → χ² = 4·(0−1)²/(3·1·3·1) = 4/9;
    // observed 2 < expected 9/4 → negative association
    val (n12, chi12, pos12) = got((1L, 2L))
    assert(n12 == 2L && pos12 == false, s"(1,2): ${got((1L, 2L))}")
    assert(math.abs(chi12.get - 0.444444) < 1e-9, s"chi2: $chi12")
    // (5,6) sit in EVERY order: zero-variance margin → null, not NaN
    assert(got((5L, 6L))._2.isEmpty, s"degenerate: ${got((5L, 6L))}")
  }

  test("copurchaseTriangles: oriented closure counts once, guard drops giants") {
    // orders 10,11 = {1,2,3} (triangle, each edge ×2); 12,13 = {1,4}
    // (pendant edge — wedge at 1, no closure); order 99 has 25
    // distinct parts → giant-order guard must exclude it entirely
    val rows =
      (for (o <- Seq(10L, 11L); p <- Seq(1L, 2L, 3L)) yield (o, p)) ++
      (for (o <- Seq(12L, 13L); p <- Seq(1L, 4L)) yield (o, p)) ++
      (for (o <- Seq(99L, 98L); p <- 100L until 125L) yield (o, p))
    val li = rows.toDF("l_orderkey", "l_partkey")
    val r = Analytics.copurchaseTriangles(SharedTrunks.basketPairs(li))
      .collect().head
    // graph: edges (1,2)(1,3)(2,3)(1,4); degrees 3,2,2,1 →
    // wedges 3+1+1+0 = 5; one triangle; clustering 3·1/5
    assert(r.getLong(0) == 4L, s"nodes: $r")
    assert(r.getLong(1) == 4L, s"edges: $r")
    assert(r.getLong(2) == 1L, s"triangles: $r")
    assert(r.getLong(3) == 5L, s"wedges: $r")
    assert(r.getDouble(4) == 0.6, s"clustering: $r")
  }

  test("revenueAutocorr: alternating series reads -1/+1, flat reads null") {
    def series(rev: Int => Double, days: Seq[Int]) = days.map { i =>
      (1L, rev(i), 0.0, f"1995-01-$i%02d")
    }.toDF("l_orderkey", "l_extendedprice", "l_discount", "d")
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
        col("d").cast("date").as("l_shipdate"))
    val alt = Analytics.revenueAutocorr(
      series(i => if (i % 2 == 0) 100.0 else 200.0, 1 to 10), maxLag = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(alt(1L) == ((9L, -1.0)), s"lag1: $alt")
    assert(alt(2L) == ((8L, 1.0)), s"lag2: $alt")
    // a calendar gap DROPS the pair (never compares non-adjacent
    // days): removing day 5 costs each lag its two straddling pairs
    val gapped = Analytics.revenueAutocorr(
      series(i => if (i % 2 == 0) 100.0 else 200.0,
        (1 to 10).filterNot(_ == 5)), maxLag = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gapped(1L) == 7L && gapped(2L) == 6L, s"gapped pairs: $gapped")
    // constant series: zero variance → null, never NaN
    val flat = Analytics.revenueAutocorr(series(_ => 100.0, 1 to 10),
      maxLag = 1).collect().head
    assert(flat.isNullAt(2), s"flat must be null: $flat")
  }

  test("holtWinters: a perfectly periodic series fits EXACTLY — zero " +
    "trend, constant seasonal indices, fitted == revenue") {
    // 36 months, revenue(t) = 100 + 10·(t mod 12): the annual shape
    // the level/trend pair cannot represent but triple smoothing
    // nails. Classical init on exact cent sums makes every update a
    // fixed point: lvl stays at the year mean (155), trend at 0,
    // seasonal at the true deviation — so fitted must equal revenue
    // to the bit, not approximately.
    val rows = (0 until 36).map { t =>
      val price = 100.0 + 10.0 * (t % 12)
      val m = java.sql.Date.valueOf(f"${1995 + t / 12}%04d-${t % 12 + 1}%02d-15")
      (price, 0.0, m)
    }
    val li = rows.toDF("l_extendedprice", "l_discount", "l_shipdate")
    val out = Analytics.holtWintersForecast(li).collect()
      .map(r => (r.getDouble(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    assert(out.length === 24)
    out.foreach { case (revenue, level, trend, seasonal, fitted) =>
      assert(fitted === revenue, s"periodic series must fit exactly: " +
        s"fitted $fitted vs revenue $revenue")
      assert(level === 155.0 && trend === 0.0)
      assert(seasonal === revenue - 155.0)
    }
    // and the guard: too short a series fails fast, not garbage-fits
    val short = rows.take(20).toDF("l_extendedprice", "l_discount",
      "l_shipdate")
    intercept[IllegalArgumentException] {
      Analytics.holtWintersForecast(short)
    }

    // the backtest makes the seasonal model EARN its state: on this
    // periodic series holt_winters fits exactly (mae 0) while the
    // level/trend pair chases the season and pays real error — the
    // readout that justifies picking the bigger model (on the
    // non-seasonal shipped corpus the same readout favors holt,
    // which is the point of having it)
    val bt = Analytics.forecastBacktest(li).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3))).toMap
    assert(bt("holt_winters") === ((24L, 0.0, 0.0)))
    // r16: both error windows restrict to the months BOTH models
    // score (i > period) — the comparison is no longer biased by the
    // first 11 months only holt fits
    assert(bt("holt")._1 === 24L,
      s"holt must score the same window as the seasonal model: $bt")
    assert(bt("holt")._3 > bt("holt_winters")._3,
      s"seasonal series must favor the seasonal model: $bt")
  }
}
