package graft

import org.apache.spark.sql.functions._

import graft.operators.EventOps
import graft.sources.Tables

/** Sketch-accuracy specs: approximate stats must stay within their
  * declared error of exact computation on the driver testdata.
  */
class ApproxSpec extends SparkSpec {

  private lazy val events = Tables.events(spark, "/root/testdata/sf0.01")

  test("approx distinct users within 10% of exact per event type") {
    val approx = EventOps.approxTypeStats(events).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("n")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (t, n) =>
      val a = approx(t)
      assert(math.abs(a - n) <= math.max(1L, (n * 0.10).toLong),
        s"$t: approx $a vs exact $n")
    }
  }

  test("approx percentiles within 10% of exact per event type") {
    val approx = EventOps.approxTypeStats(events).collect()
      .map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val exact = events.groupBy("event_type")
      .agg(expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90")).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    exact.foreach { case (t, (p50, p90)) =>
      val (a50, a90) = approx(t)
      assert(math.abs(a50 - p50) / p50 < 0.10, s"$t p50: $a50 vs $p50")
      assert(math.abs(a90 - p90) / p90 < 0.10, s"$t p90: $a90 vs $p90")
    }
  }

  test("dqProfileApprox: HLL cardinalities within 5% of the exact profile") {
    import graft.operators.RetailEtl
    val li = Tables.lineitem(spark, "/root/testdata/sf0.01")
    val cols = Seq("l_partkey", "l_returnflag", "l_shipdate", "l_quantity")
    def byCol(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val exact = byCol(RetailEtl.dqProfile(li, cols))
    val approx = byCol(RetailEtl.dqProfileApprox(li, cols))
    assert(approx.keySet == exact.keySet)
    exact.foreach { case (c, (nRows, nNulls, nDistinct)) =>
      val (aRows, aNulls, aDistinct) = approx(c)
      // rows and nulls are EXACT in both forms — only distinct sketches
      assert(aRows == nRows && aNulls == nNulls, s"$c: non-sketch columns must be exact")
      assert(math.abs(aDistinct - nDistinct) <= math.max(2L, (nDistinct * 0.05).toLong),
        s"$c: approx distinct $aDistinct vs exact $nDistinct")
    }
  }

  test("sketch store: range merge is lossless and within HLL error of exact") {
    val sketches = EventOps.dailyAudienceSketches(events)
    val (lo, hi) = ("2024-01-05", "2024-01-15")
    val fromStore = EventOps.reachFromSketches(sketches, lo, hi).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fromStore.nonEmpty)

    // lossless merge: the store answer equals a sketch built
    // DIRECTLY over the range — exactly, not approximately (HLL
    // union is bit-faithful). This is the property that justifies
    // persisting sketches instead of ids.
    val ranged = events.filter(
      to_date(col("ts")) >= lit(lo) && to_date(col("ts")) < lit(hi))
    val direct = ranged.groupBy("event_type")
      .agg(hll_sketch_estimate(
        hll_sketch_agg(col("user_id"), lit(12))).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromStore.view.mapValues(_._1).toMap == direct,
      "merged-from-store must equal direct sketch of the range")

    // error bound vs exact distinct users in the range
    val exact = ranged.groupBy("event_type")
      .agg(countDistinct("user_id").as("u"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fromStore.keySet == exact.keySet)
    fromStore.foreach { case (t, (approxUsers, nEvents)) =>
      val (exactUsers, exactEvents) = exact(t)
      assert(nEvents == exactEvents, s"$t: event counts are exact by construction")
      assert(math.abs(approxUsers - exactUsers) <= math.max(3L, (0.05 * exactUsers).toLong),
        s"$t: approx $approxUsers vs exact $exactUsers")
    }
  }

  test("sketchCalibration: claim true at 5% tol, flips under an impossible tol") {
    val (lo, hi) = ("2024-01-05", "2024-01-15")
    val got = EventOps.sketchCalibration(events, lo, hi).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(got.nonEmpty)
    // the oracled claim: every type's own-sketch estimate within 5%
    got.foreach { case (t, (exactUsers, ok)) =>
      assert(exactUsers > 0, s"$t: exact anchor must be positive")
      assert(ok, s"$t: sketch must be within 5% of exact=$exactUsers")
    }
    // non-vacuity: an impossibly tight bound must flip at least one
    // group UNLESS the sketch is exactly right everywhere (HLL++
    // sparse mode IS exact at tiny cardinalities) — in that case
    // tighten the check to estimates literally equalling exact
    val strict = EventOps.sketchCalibration(events, lo, hi, tol = 0.0)
      .collect().map(r => r.getBoolean(3))
    val est = EventOps.reachFromSketches(
        EventOps.dailyAudienceSketches(events), lo, hi)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val allExact = got.forall { case (t, (ex, _)) => est(t) == ex }
    assert(strict.forall(identity) == allExact,
      "tol=0 must agree exactly with estimate==exact per group")
  }

  test("sketch compaction is lossless: month rows answer like day rows") {
    val daily = EventOps.dailyAudienceSketches(events)
    val monthly = EventOps.compactSketches(daily)
    // the store shrinks to one row per (month, type) and the manifest
    // accounts for every merged day row
    val nDaily = daily.count()
    assert(monthly.count() < nDaily, "compaction must shrink the store")
    assert(monthly.agg(sum("n_day_rows")).collect()(0).getLong(0) == nDaily)
    // a month-aligned range answers IDENTICALLY from either grain —
    // estimates and exact counts both (HLL union is lossless, so
    // compaction loses nothing for month-or-coarser queries)
    val (lo, hi) = ("2024-01-01", "2024-02-01")
    val fromDaily = EventOps.reachFromSketches(daily, lo, hi).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fromMonthly = EventOps.reachFromCompacted(monthly, lo, hi).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fromDaily == fromMonthly,
      "compacted store must answer month ranges identically to the daily store")
  }

  test("sketch store survives a parquet round trip (the lake layout)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sketches").toString
    // nightly-append layout: one partition per day, binary sketch col
    EventOps.dailyAudienceSketches(events)
      .write.partitionBy("day").mode("overwrite").parquet(dir)
    val reloaded = spark.read.parquet(dir)
    val fromDisk = EventOps.reachFromSketches(reloaded, "2024-01-05", "2024-01-15")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val fromMemory = EventOps.reachFromSketches(
      EventOps.dailyAudienceSketches(events), "2024-01-05", "2024-01-15")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fromDisk == fromMemory,
      "persisted sketches must answer identically to freshly built ones")
    // range pruning works off the day partition column after reload
    val p = EventOps.reachFromSketches(reloaded, "2024-01-05", "2024-01-15")
      .queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") || p.contains("day#"),
      s"day range should prune partitions on the reloaded store:\n$p")
  }

  test("audience overlap within compounded HLL error of the exact anchor") {
    val approx = EventOps.approxAudienceOverlap(events).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(4)).toMap
    // the oracle-checked exact tier IS the calibration reference
    val exact = EventOps.audienceOverlapExact(events).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(approx.nonEmpty && approx.keySet == exact.keySet,
      s"tiers must emit the same pair set: ${approx.keySet} vs ${exact.keySet}")
    approx.foreach { case (pair, got) =>
      val (ua, ub, ov) = exact(pair)
      // three 2%-rsd sketches compound through inclusion–exclusion:
      // |A|+|B|−|A∪B| error is bounded by the sum of the absolute
      // errors, each ~2% of a set that can be much larger than A∩B
      val union = ua + ub - ov
      val tolerance = math.max(3L, (3 * 0.02 * 3 * union).toLong)
      assert(math.abs(got - ov) <= tolerance,
        s"$pair: approx $got vs exact $ov (tol $tolerance)")
    }
  }

  test("stream_dq_profile batch fold: HLL within 5% of exact per-column distincts") {
    val cols = Seq("user_id", "event_type", "value")
    val got = graft.streaming.EventStream.dqProfileState(events, cols)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == cols.toSet)
    cols.foreach { c =>
      val exact = events.agg(
        count(lit(1)), sum(when(col(c).isNull, 1L).otherwise(0L)),
        countDistinct(col(c))).head()
      val (n, nulls, dist) = got(c)
      assert(n == exact.getLong(0), s"$c rows")
      assert(nulls == exact.getLong(1), s"$c nulls")
      assert(math.abs(dist - exact.getLong(2)) <=
        math.max(2L, (exact.getLong(2) * 0.05).toLong),
        s"$c distinct: $dist vs ${exact.getLong(2)}")
    }
  }

  test("dq-state stack normalizes floats: -0.0/0.0 collapse so the " +
    "stringified distinct equals the native distinct (r17, ADVICE)") {
    import spark.implicits._
    val df = Seq(0.0, -0.0, Double.NaN, 1.5, 1.5).toDF("value")
    val native = df.agg(countDistinct(col("value"))).head().getLong(0)
    val row = graft.streaming.EventStream
      .dqStateCalibration(df, Seq("value")).head()
    assert(row.getAs[Long]("n_distinct") === native,
      "a double column holding both zeros must not inflate the " +
        "stringified distinct past the native count both engines use")
    assert(row.getAs[Boolean]("distinct_within_tol"))
    // the HLL fold twin sees the same normalized values
    val fold = graft.streaming.EventStream
      .dqProfileState(df, Seq("value")).head()
    assert(fold.getAs[Long]("n_distinct") === native)
  }

  test("slidingActives: each 7d window within 5% of the exact trailing WAU") {
    import graft.operators.Analytics
    val exact = Analytics.rollingActiveUsers(events).collect()
      .map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    // align window_end − 1 day to the exact key's `day`
    val windows = graft.streaming.EventStream.slidingActives(events)
      .select(date_sub(col("window_end").cast("date"), 1).as("day"),
        col("active_users"))
      .collect().map(r => r.getDate(0).toString -> r.getLong(1)).toMap
    val shared = exact.keySet intersect windows.keySet
    assert(shared.size >= 20, s"window/day alignment broke: ${windows.keySet}")
    shared.foreach { d =>
      val (e, a) = (exact(d), windows(d))
      assert(math.abs(a - e) <= math.max(2L, (e * 0.05).toLong),
        s"$d: sliding $a vs exact $e")
    }
  }
}
