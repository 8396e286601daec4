package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.EventOps

/** Crafted-input specs for the event-derived warehouse operators
  * (SCD2 dimension build, new-vs-returning actives). The oracle gate
  * covers full-table semantics; these pin the distinguishing branches
  * — run collapsing, interval chaining, first-day classification.
  */
class EventOpsSpec extends SparkSpec {
  import spark.implicits._

  private def events(rows: (Long, String, Long, String)*): DataFrame =
    rows.toDF("event_id", "ts", "user_id", "event_type")
      .withColumn("ts", col("ts").cast("timestamp"))
      .withColumn("value", lit(1.0))

  test("interEventGaps: per-user consecutive gaps only, first events excluded") {
    val e = events(
      (1L, "2024-01-01 10:00:00", 1L, "click"),  // first for user 1 → no gap
      (2L, "2024-01-01 10:00:10", 1L, "view"),   // 10 s
      (3L, "2024-01-01 10:00:40", 1L, "click"),  // 30 s
      (4L, "2024-01-01 09:00:00", 2L, "view"),   // first for user 2 → no gap
      (5L, "2024-01-01 09:00:20", 2L, "click"))  // 20 s
    val r = EventOps.interEventGaps(e).collect().head
    assert(r.getLong(0) == 3L, "three gaps across two users")
    assert(r.getDouble(1) == 20.0, s"median of {10, 20, 30}: $r")
  }

  test("cartAbandonment: clicking sessions without purchase, by start day") {
    val e = events(
      // session A (user 1, Jan 1): click, no purchase → abandoned
      (1L, "2024-01-01 10:00:00", 1L, "click"),
      (2L, "2024-01-01 10:05:00", 1L, "view"),
      // session B (user 1, same day after gap): click → purchase
      (3L, "2024-01-01 14:00:00", 1L, "click"),
      (4L, "2024-01-01 14:10:00", 1L, "purchase"),
      // session C (user 2, Jan 2): view only → NOT a clicking session
      (5L, "2024-01-02 09:00:00", 2L, "view"),
      // session D (user 2, Jan 2, later): click, no purchase
      (6L, "2024-01-02 12:00:00", 2L, "click"))
    val out = EventOps.cartAbandonment(e).collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      "2024-01-01" -> (2L, 1L, 0.5),
      "2024-01-02" -> (1L, 1L, 1.0)), s"abandonment: $out")
  }

  test("lastTouchAttribution: window cutoff, tie rule, organic purchases") {
    val e = events(
      // user 1: click 10:00 → purchase 10:30 (within 1h, attributed)
      (1L, "2024-01-01 10:00:00", 1L, "click"),
      (2L, "2024-01-01 10:30:00", 1L, "purchase"),
      // user 2: click 08:00 → purchase 10:00 (stale, organic) — the
      // intervening view must not reset anything
      (3L, "2024-01-01 08:00:00", 2L, "click"),
      (4L, "2024-01-01 09:00:00", 2L, "view"),
      (5L, "2024-01-01 10:00:00", 2L, "purchase"),
      // user 3: purchase with no click ever → organic
      (6L, "2024-01-02 12:00:00", 3L, "purchase"),
      // user 4: click at the SAME ts as the purchase, smaller
      // event_id → counts as earlier → attributed
      (7L, "2024-01-02 15:00:00", 4L, "click"),
      (8L, "2024-01-02 15:00:00", 4L, "purchase"),
      // user 5: click only AFTER the purchase → organic
      (9L, "2024-01-02 16:00:00", 5L, "purchase"),
      (10L, "2024-01-02 16:05:00", 5L, "click"))
    val out = EventOps.lastTouchAttribution(e).collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      "2024-01-01" -> (2L, 1L, 0.5),
      "2024-01-02" -> (3L, 1L, 0.333333)), s"attribution: $out")
  }

  test("dowHourProfile averages per slot occurrence, not per calendar hour") {
    // span 2024-01-07 09:00 .. 2024-01-15 09:00 (193 calendar hours,
    // > one week → all 168 slots exist). Mondays at 09:00 carry 3+1
    // events over 2 calendar occurrences; Sunday 09:00 has 1 event
    // but TWO calendar occurrences (Jan 7 and the quiet Jan 14)
    val e = events(
      (1L, "2024-01-08 09:05:00", 1L, "click"),
      (2L, "2024-01-08 09:10:00", 2L, "click"),
      (3L, "2024-01-08 09:15:00", 3L, "click"),
      (4L, "2024-01-15 09:30:00", 1L, "click"),
      (5L, "2024-01-07 09:45:00", 1L, "view"))
    val out = EventOps.dowHourProfile(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out.size == 168, s"full-week span covers every slot: ${out.size}")
    // Spark dayofweek: Sunday=1, Monday=2. Averages are per CALENDAR
    // slot occurrence — the quiet Sunday hour halves Sunday's average
    assert(out((2L, 9L)) == (4L, 2L, 2.0), s"monday 9: ${out((2L, 9L))}")
    assert(out((1L, 9L)) == (1L, 2L, 0.5), s"sunday 9: ${out((1L, 9L))}")
    // a never-active slot reports zero over its calendar occurrences
    assert(out((3L, 3L)) == (0L, 1L, 0.0), s"tuesday 3am: ${out((3L, 3L))}")
  }

  test("conversionLatency: strictly-after purchases, exact minute percentiles") {
    val e = events(
      // user 1: signup 10:00, purchase BEFORE it (ignored), then 10:30 → 30 min
      (1L, "2024-01-01 09:00:00", 1L, "purchase"),
      (2L, "2024-01-01 10:00:00", 1L, "signup"),
      (3L, "2024-01-01 10:30:00", 1L, "purchase"),
      // user 2: converts in 90 min
      (4L, "2024-01-01 08:00:00", 2L, "signup"),
      (5L, "2024-01-01 09:30:00", 2L, "purchase"),
      // user 3: signup, never purchases → not counted
      (6L, "2024-01-01 07:00:00", 3L, "signup"))
    val r = EventOps.conversionLatency(e).collect().head
    assert(r.getLong(0) == 2L, "two converters")
    assert(r.getDouble(1) == 60.0, s"p50 of {30, 90} interpolates to 60: $r")
  }

  test("commonSessionPaths: ordered, gap-split, step-capped, support-floored") {
    val e = events(
      // user 7, one session: click > view > purchase (ordered by ts)
      (1L, "2024-01-01 10:00:00", 7L, "click"),
      (2L, "2024-01-01 10:05:00", 7L, "view"),
      (3L, "2024-01-01 10:10:00", 7L, "purchase"),
      // same user, NEW session after the 30-min gap: same path again
      (4L, "2024-01-01 12:00:00", 7L, "click"),
      (5L, "2024-01-01 12:05:00", 7L, "view"),
      (6L, "2024-01-01 12:10:00", 7L, "purchase"),
      // user 9 walks it once more
      (7L, "2024-01-01 09:00:00", 9L, "click"),
      (8L, "2024-01-01 09:01:00", 9L, "view"),
      (9L, "2024-01-01 09:02:00", 9L, "purchase"),
      // a lone path below the support floor
      (10L, "2024-01-01 08:00:00", 11L, "signup"))
    val out = EventOps.commonSessionPaths(e, minSessions = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("click>view>purchase" -> 3L),
      s"three sessions walked the path; the lone signup is floored out: $out")
    // step cap truncates long sessions BEFORE the path forms
    val long = events((1L to 12L).map(i =>
      (i, f"2024-01-01 10:${i - 1}%02d:00", 5L, if (i <= 11) "view" else "click")): _*)
    val capped = EventOps.commonSessionPaths(long, maxSteps = 4, minSessions = 1)
      .collect().map(_.getString(0))
    assert(capped.toSeq == Seq("view>view>view>view"),
      s"the 12-step session truncates to its first 4 steps: ${capped.toSeq}")
  }

  test("madOutliers flags spikes against a varied baseline; mad=0 types stay silent") {
    def burst(hour: Int, n: Int, typ: String, base: Long) =
      (1 to n).map(i => (base + i, f"2024-01-01 $hour%02d:0${i % 6}:00", 7L, typ))
    val rows =
      // 'click': varied baseline 8..12 per hour, then a 90-count spike
      burst(0, 8, "click", 0) ++ burst(1, 9, "click", 100) ++
        burst(2, 10, "click", 200) ++ burst(3, 11, "click", 300) ++
        burst(4, 12, "click", 400) ++ burst(5, 90, "click", 500) ++
        // 'view': constant 5 per hour plus one 50-spike → mad = 0 → silent
        burst(0, 5, "view", 1000) ++ burst(1, 5, "view", 1100) ++
        burst(2, 5, "view", 1200) ++ burst(3, 5, "view", 1300) ++
        burst(4, 50, "view", 1400)
    val out = EventOps.madOutliers(events(rows: _*)).collect()
      .map(r => (r.getString(0), r.getTimestamp(1).toString.take(13)))
    assert(out.toSeq == Seq(("click", "2024-01-01 05")),
      s"only click's spike flags; view's mad is 0: ${out.toSeq}")
  }

  test("cdcApply: latest change wins, deletes drop keys, re-inserts resurrect") {
    val log = events(
      // user 1: insert → delete → RE-INSERT: must resurrect with the new state
      (1L, "2024-01-01 10:00:00", 1L, "signup"),
      (2L, "2024-01-02 10:00:00", 1L, "error"),
      (3L, "2024-01-03 10:00:00", 1L, "purchase"),
      // user 2: latest change is the delete marker: key leaves the table
      (4L, "2024-01-01 10:00:00", 2L, "click"),
      (5L, "2024-01-05 10:00:00", 2L, "error"),
      // user 3: same-ts tie broken by event_id (7 beats 6)
      (6L, "2024-01-01 10:00:00", 3L, "view"),
      (7L, "2024-01-01 10:00:00", 3L, "click"))
    val out = EventOps.cdcApply(log).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "purchase", 3L -> "click"),
      s"delete must drop user 2, re-insert must resurrect user 1: $out")
  }

  test("cdcApply equals a naive driver-side replay on random logs") {
    val rnd = new scala.util.Random(11)
    val types = Seq("signup", "click", "purchase", "error", "view")
    val rows = (1L to 2000L).map { i =>
      (i, f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00",
        rnd.nextInt(80).toLong, types(rnd.nextInt(types.length)))
    }
    val got = EventOps.cdcApply(events(rows: _*).repartition(13)).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val naive = rows
      .groupBy(_._3)
      .view.mapValues(_.maxBy(e => (e._2, e._1))._4) // latest by (ts, id)
      .filter(_._2 != "error").toMap
    assert(got == naive)
  }

  test("scd2UserState collapses runs and chains validity intervals") {
    val e = events(
      (1L, "2024-01-01 10:00:00", 7L, "click"),
      (2L, "2024-01-01 11:00:00", 7L, "click"),   // same run
      (3L, "2024-01-02 09:00:00", 7L, "purchase"), // version 2
      (4L, "2024-01-03 09:00:00", 7L, "click"),   // back to click: version 3
      (5L, "2024-01-01 08:00:00", 9L, "signup"))  // other user
    val out = EventOps.scd2UserState(e).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getString(2), r.getTimestamp(3), Option(r.getTimestamp(4)),
          r.getLong(5), r.getBoolean(6))).toMap
    assert(out.size == 4)
    val (s1, from1, to1, n1, cur1) = out((7L, 1L))
    assert(s1 == "click" && n1 == 2L && !cur1)
    assert(from1.toString.startsWith("2024-01-01 10:00"))
    assert(to1.get.toString.startsWith("2024-01-02 09:00")) // next version's start
    val (s3, _, to3, _, cur3) = out((7L, 3L))
    assert(s3 == "click" && to3.isEmpty && cur3) // reverting opens a NEW version
    val (_, _, to9, _, cur9) = out((9L, 1L))
    assert(to9.isEmpty && cur9)
  }

  test("scd2 versions within a user are contiguous and half-open") {
    val e = events(
      (1L, "2024-01-01 10:00:00", 1L, "a"),
      (2L, "2024-01-02 10:00:00", 1L, "b"),
      (3L, "2024-01-03 10:00:00", 1L, "c"))
    val rows = EventOps.scd2UserState(e).orderBy("version").collect()
    assert(rows.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L))
    // each valid_to equals the next version's valid_from (half-open chain)
    rows.sliding(2).foreach {
      case Array(prev, next) =>
        assert(prev.getTimestamp(4) == next.getTimestamp(3))
      case _ =>
    }
    assert(rows.last.getTimestamp(4) == null)
  }

  test("enrichPointInTime: version at fact time, [from,to) boundary, early facts") {
    val e = events(
      // user 1 dimension stream: click@10:00 (v1) → view@12:00 (v2)
      (1L, "2024-01-01 10:00:00", 1L, "click"),
      (2L, "2024-01-01 12:00:00", 1L, "view"),
      // facts:
      (10L, "2024-01-01 09:00:00", 1L, "purchase"), // early-arriving → null dim
      (11L, "2024-01-01 11:00:00", 1L, "purchase"), // inside v1
      (12L, "2024-01-01 12:00:00", 1L, "purchase"), // AT v2.valid_from → v2
      (20L, "2024-01-01 10:00:00", 2L, "purchase")) // user unseen by dim → null
    val out = EventOps.enrichPointInTime(e).collect()
      .map(r => r.getLong(0) ->
        (Option(r.get(4)).map(_.asInstanceOf[Long]), Option(r.getString(5))))
      .toMap
    assert(out.size == 4)
    assert(out(10L) == ((None, None)), s"early-arriving fact: ${out(10L)}")
    assert(out(11L) == ((Some(1L), Some("click"))))
    assert(out(12L) == ((Some(2L), Some("view"))),
      "a fact at valid_from belongs to the NEW version")
    assert(out(20L) == ((None, None)), "never-seen user keeps null dim")
  }

  test("enrichPointInTime collapses same-instant version ties to max(version)") {
    // two dim changes at the SAME ts: v1 (click) is zero-width, v2 (view)
    // is the version actually in effect from 10:00 on — facts at and
    // after 10:00 must see v2, deterministically on both engines
    val e = events(
      (1L, "2024-01-01 10:00:00", 1L, "click"),
      (2L, "2024-01-01 10:00:00", 1L, "view"),
      (3L, "2024-01-01 10:00:00", 1L, "purchase"),
      (4L, "2024-01-01 10:30:00", 1L, "purchase"))
    val out = EventOps.enrichPointInTime(e).collect()
      .map(r => r.getLong(0) -> (r.getLong(4), r.getString(5))).toMap
    assert(out(3L) == ((2L, "view")), s"boundary fact on tied versions: $out")
    assert(out(4L) == ((2L, "view")), s"later fact on tied versions: $out")
  }

  test("asofCoverage counts early-arriving facts per day") {
    val e = events(
      // user 1 dimension opens at Jan 1 12:00
      (1L, "2024-01-01 12:00:00", 1L, "click"),
      // Jan 1: one early fact (09:00), one enriched (13:00)
      (10L, "2024-01-01 09:00:00", 1L, "purchase"),
      (11L, "2024-01-01 13:00:00", 1L, "purchase"),
      // Jan 2: user 2 has no dimension at all → early
      (20L, "2024-01-02 10:00:00", 2L, "purchase"))
    val out = EventOps.asofCoverage(e).collect()
      .map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out == Map(
      "2024-01-01" -> ((2L, 1L, 0.5)),
      "2024-01-02" -> ((1L, 1L, 1.0))), s"coverage: $out")
  }

  test("sessionConcurrency peaks where sessions overlap, closed-interval") {
    val e = events(
      // user 1: one session 10:00–10:10
      (1L, "2024-01-01 10:00:00", 1L, "click"),
      (2L, "2024-01-01 10:10:00", 1L, "click"),
      // user 2: session 10:05–10:20 (overlaps user 1 → concurrency 2)
      (3L, "2024-01-01 10:05:00", 2L, "click"),
      (4L, "2024-01-01 10:20:00", 2L, "click"),
      // user 3: session starting exactly at user 2's end — closed
      // intervals, so 10:20 counts both (concurrency 2 again)
      (5L, "2024-01-01 10:20:00", 3L, "click"),
      // user 3 continues into the next hour alone
      (6L, "2024-01-01 11:40:00", 3L, "click"),
      (7L, "2024-01-01 11:50:00", 3L, "click"))
    val out = EventOps.sessionConcurrency(e)
      .select(date_format(col("hour"), "HH:mm"), col("max_concurrent"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // 11:40 session is user 3's second (10:20→11:40 exceeds the 30-min gap)
    assert(out == Map("10:00" -> 2L, "11:00" -> 1L))
  }

  test("sessionConcurrency matches a naive driver-side sweep on random data") {
    val rnd = new scala.util.Random(5)
    val rows = (1 to 300).map { i =>
      val ts = f"2024-01-01 ${rnd.nextInt(24)}%02d:${rnd.nextInt(60)}%02d:00"
      (i.toLong, ts, rnd.nextInt(8).toLong, "e")
    }
    val e = events(rows: _*)
    // naive: sessionize per user in memory, sweep boundaries globally
    // (epochs computed explicitly in UTC — the Spark session timezone —
    // so the reference is JVM-default-tz independent)
    def epoch(s: String): Long =
      java.time.LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    val byUser = rows.groupBy(_._3).view.mapValues(_.map(r => epoch(r._2)).sorted)
    val sessions = byUser.values.flatMap { times =>
      val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      var start = times.head; var last = times.head
      times.tail.foreach { t =>
        if (t - last > 30 * 60000L) { out += ((start, last)); start = t }
        last = t
      }
      out += ((start, last)); out
    }.toSeq
    val bounds = sessions.flatMap { case (s, en) => Seq((s, 1), (en, -1)) }
      .sortBy { case (t, d) => (t, -d) }
    var conc = 0
    val perHour = scala.collection.mutable.Map.empty[Long, Int]
    bounds.foreach { case (t, d) =>
      conc += d
      val hour = t - (t % 3600000L)
      perHour(hour) = math.max(perHour.getOrElse(hour, Int.MinValue), conc)
    }
    val got = EventOps.sessionConcurrency(e)
      .select(unix_millis(col("hour").cast("timestamp")), col("max_concurrent"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == perHour.map { case (k, v) => k -> v.toLong }.toMap)
  }

  test("newVsReturning classifies a user as new only on the first day") {
    val e = events(
      (1L, "2024-01-01 10:00:00", 1L, "click"),
      (2L, "2024-01-01 12:00:00", 1L, "click"), // same day, still one active
      (3L, "2024-01-02 10:00:00", 1L, "click"), // returning
      (4L, "2024-01-02 11:00:00", 2L, "click")) // new on day 2
    val out = EventOps.newVsReturning(e).collect()
      .map(r => r.getDate(0).toString -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    assert(out == Map(
      "2024-01-01" -> (1L, 0L, 1L),
      "2024-01-02" -> (1L, 1L, 2L)))
  }

  test("userLifespan: spans, active days, single-day share") {
    val e = events(
      (1L, "2024-01-01 10:00:00", 1L, "click"),
      (2L, "2024-01-11 10:00:00", 1L, "view"),  // user 1: 10-day span, 2 active days
      (3L, "2024-01-05 09:00:00", 2L, "click"),
      (4L, "2024-01-05 21:00:00", 2L, "view"),  // user 2: single day, 2 events
      (5L, "2024-01-03 08:00:00", 3L, "view"))  // user 3: single event
    val r = EventOps.userLifespan(e).collect().head
    assert(r.getLong(0) == 3L, "three users")
    assert(r.getDouble(1) == 0.0, s"median lifespan of {10, 0, 0}: $r")
    // p90 of {0, 0, 10} interpolated: 0.9·(n-1)=1.8 → 0.8 between 0 and 10
    assert(math.abs(r.getDouble(2) - 8.0) < 1e-9, s"p90: $r")
    assert(math.abs(r.getDouble(3) - 9.8) < 1e-9, s"p99: $r")
    assert(r.getDouble(4) == round6(4.0 / 3), s"mean active days: $r")
    assert(r.getDouble(5) == round6(5.0 / 3), s"mean events: $r")
    assert(r.getDouble(6) == round6(2.0 / 3), s"single-day share: $r")
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("burstFlags: tightest w-event span per user, short-history users unflagged") {
    val e = events(
      // user 1: three events in 2 s → burst
      (1L, "2024-01-01 10:00:00", 1L, "click"),
      (2L, "2024-01-01 10:00:01", 1L, "click"),
      (3L, "2024-01-01 10:00:02", 1L, "click"),
      // user 2: three events spread over 200 s → clean
      (4L, "2024-01-01 10:00:00", 2L, "click"),
      (5L, "2024-01-01 10:01:40", 2L, "view"),
      (6L, "2024-01-01 10:03:20", 2L, "click"),
      // user 3: only two events → no 3-window exists, never flagged
      (7L, "2024-01-01 10:00:00", 3L, "click"),
      (8L, "2024-01-01 10:00:01", 3L, "click"))
    val got = EventOps.burstFlags(e, burstEvents = 3, maxSpanSeconds = 60L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)), r.getBoolean(3)))).toMap
    assert(got(1L) == ((3L, Some(2000000L), true)), s"bursty user: $got")
    assert(got(2L) == ((3L, Some(200000000L), false)), s"slow user: $got")
    assert(got(3L) == ((2L, None, false)), s"short-history user: $got")
  }

  test("sessionEntryExit: min_by/max_by endpoints per session, matrix rollup") {
    val e = events(
      // user 1, session 1: click → view → purchase
      (1L, "2024-01-01 10:00:00", 1L, "click"),
      (2L, "2024-01-01 10:05:00", 1L, "view"),
      (3L, "2024-01-01 10:10:00", 1L, "purchase"),
      // user 1, session 2 (gap > 30 min): lone error
      (4L, "2024-01-01 12:00:00", 1L, "error"),
      // user 2: same (click, purchase) endpoint pair → matrix count 2
      (5L, "2024-01-01 09:00:00", 2L, "click"),
      (6L, "2024-01-01 09:01:00", 2L, "purchase"))
    val got = EventOps.sessionEntryExit(e).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    assert(got == Map(
      ("click", "purchase") -> ((2L, 5L)),
      ("error", "error") -> ((1L, 1L))), s"entry/exit matrix: $got")
  }

  test("cohortRetention: triangular matrix with exact rates") {
    // 2024-01-01 is a Monday. Cohort A (users 1, 2) starts week 1;
    // user 1 returns in weeks 2 and 3, user 2 only in week 3.
    // Cohort B (user 3) starts week 2 and returns in week 3.
    val e = events(
      (1L, "2024-01-01 10:00:00", 1L, "click"),
      (2L, "2024-01-02 10:00:00", 2L, "click"),
      (3L, "2024-01-08 10:00:00", 1L, "click"),
      (4L, "2024-01-15 10:00:00", 1L, "click"),
      (5L, "2024-01-16 10:00:00", 2L, "click"),
      (6L, "2024-01-10 10:00:00", 3L, "click"),
      (7L, "2024-01-17 10:00:00", 3L, "click"))
    val got = EventOps.cohortRetention(e).collect()
      .map(r => (r.getDate(0).toString, r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got == Map(
      ("2024-01-01", 0L) -> ((2L, 2L, 1.0)),
      ("2024-01-01", 1L) -> ((1L, 2L, 0.5)),
      ("2024-01-01", 2L) -> ((2L, 2L, 1.0)),
      ("2024-01-08", 0L) -> ((1L, 1L, 1.0)),
      ("2024-01-08", 1L) -> ((1L, 1L, 1.0))), s"retention matrix: $got")
  }

  test("funnelWindowed: only prompt conversions count") {
    val e = events(
      // user 1: signup → click 10 min later → purchase 10 min after
      (1L, "2024-01-01 10:00:00", 1L, "signup"),
      (2L, "2024-01-01 10:10:00", 1L, "click"),
      (3L, "2024-01-01 10:20:00", 1L, "purchase"),
      // user 2: click 2 h after signup — outside the 60-min window,
      // so the later purchase can never count either
      (4L, "2024-01-01 10:00:00", 2L, "signup"),
      (5L, "2024-01-01 12:00:00", 2L, "click"),
      (6L, "2024-01-01 12:05:00", 2L, "purchase"),
      // user 3: prompt click, purchase 2 h after the click — click
      // stage counts, purchase stage does not
      (7L, "2024-01-01 10:00:00", 3L, "signup"),
      (8L, "2024-01-01 10:05:00", 3L, "click"),
      (9L, "2024-01-01 12:30:00", 3L, "purchase"))
    val r = EventOps.funnelWindowed(e).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((3L, 2L, 1L)),
      s"windowed funnel counts: $r")
    // the unbounded funnel sees all three users convert fully
    val u = EventOps.funnel(e).collect().head
    assert((u.getLong(0), u.getLong(1), u.getLong(2)) == ((3L, 3L, 3L)),
      s"unbounded funnel: $u")
    // degenerate-window property: a window wider than the corpus
    // span makes the windowed form collapse to the unbounded one
    val wide = EventOps.funnelWindowed(e, windowMinutes = 100000).collect().head
    assert((wide.getLong(0), wide.getLong(1), wide.getLong(2)) ==
      ((u.getLong(0), u.getLong(1), u.getLong(2))),
      s"huge window must equal the unbounded funnel: $wide vs $u")
  }

  test("burstFlags is partition-invariant") {
    val e = events((0 until 40).map(i =>
      (i.toLong, f"2024-01-01 10:${i / 30}%02d:${(i * 7) % 60}%02d",
        (i % 3).toLong, "click")): _*)
    def run(df: org.apache.spark.sql.DataFrame) =
      EventOps.burstFlags(df, burstEvents = 5, maxSpanSeconds = 120L)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)), r.getBoolean(3))).toSet
    assert(run(e) == run(e.repartition(7)), "partition-dependent burst flags")
  }

  test("deseasonalizedAnomaly: leave-one-out catches the outlier week, peers stay") {
    // the same Monday-10:00 slot across four weeks with counts
    // 2, 2, 4, 20 — week 4 is the outage-spike; leave-one-out for it:
    // m = 8/3, v = ((4+4+16) − 64/3)/3 = 8/9 → z ≈ 18.4. Every other
    // slot in the spine is all-zero → variance 0 → guarded out.
    def burst(day: String, k: Int, idBase: Long) =
      (0 until k).map(i => (idBase + i, s"$day 10:00:${i % 60}", 7L, "click"))
    val e = events(
      burst("2024-01-01", 2, 100L) ++ burst("2024-01-08", 2, 200L) ++
        burst("2024-01-15", 4, 300L) ++ burst("2024-01-22", 20, 400L): _*)
    val got = EventOps.deseasonalizedAnomaly(e).collect()
    assert(got.length == 1, s"exactly the spike hour: ${got.toSeq}")
    val r = got.head
    assert(r.getTimestamp(0).toString.startsWith("2024-01-22 10:00") &&
      r.getLong(1) == 20L, s"spike row: $r")
    assert(r.getDouble(4) == 8.0 / 3 && r.getDouble(5) > 3.0, s"loo stats: $r")
    // weeks 1-3 are unflagged even though 4 > their slot-mean — the
    // spike inflates the leave-one-out variance for THEM
    assert(!got.exists(_.getLong(1) == 4L))
  }

  test("burstFlags ties: same-ts events ordered by event_id, span stays exact") {
    // two events share ts; the (ts, event_id) total order must make
    // the 2-window span 0 µs, not nondeterministic
    val e = events(
      (10L, "2024-01-01 10:00:00", 7L, "click"),
      (11L, "2024-01-01 10:00:00", 7L, "click"))
    val r = EventOps.burstFlags(e, burstEvents = 2, maxSpanSeconds = 1L)
      .collect().head
    assert(r.getLong(2) == 0L && r.getBoolean(3), s"tie span: $r")
  }

  test("markovStationary: two-state chain converges toward the analytic fixed point") {
    // sequence A B B A B realizes counts A→B:2, B→B:1, B→A:1, i.e.
    // P(A→B)=1, P(B→A)=P(B→B)=0.5 — stationary point (1/3, 2/3)
    val e = events(
      (1L, "2024-01-01 10:00:00", 1L, "A"),
      (2L, "2024-01-01 10:00:01", 1L, "B"),
      (3L, "2024-01-01 10:00:02", 1L, "B"),
      (4L, "2024-01-01 10:00:03", 1L, "A"),
      (5L, "2024-01-01 10:00:04", 1L, "B"))
    val got = EventOps.markovStationary(e, steps = 40).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // chain is stochastic (no terminal state): mass conserved
    assert(math.abs(got.values.sum - 1.0) < 1e-6, s"mass: $got")
    assert(math.abs(got("A") - 1.0 / 3) < 1e-3 &&
      math.abs(got("B") - 2.0 / 3) < 1e-3, s"fixed point: $got")
    // partition invariance (windowed trunk + joins, no order leaks)
    val again = EventOps.markovStationary(e.repartition(7), steps = 40)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(again == got, "partition-dependent stationary distribution")
  }

  test("markovStationary: the driver fold matches a reordered power iteration " +
    "within the 9th-decimal envelope") {
    // the envelope in docs/ORACLE_NOTES.md: summing the same per-step
    // contributions in another order moves an unrounded mass by a few
    // ulps, so round(p, 9) may differ by at most one unit in the 9th
    // decimal, and the state set never changes
    val rnd = new scala.util.Random(19)
    val types = Seq("view", "click", "cart", "buy", "exit")
    for (_ <- 0 until 4) {
      var id = 0L
      val rows = for {
        u <- 1L to 12L
        k <- 0 until 2 + rnd.nextInt(9)
      } yield {
        id += 1
        (id, f"2024-01-01 10:00:$k%02d", u, types(rnd.nextInt(types.size)))
      }
      val steps = 1 + rnd.nextInt(8)
      val got = EventOps.markovStationary(events(rows: _*), steps).collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      // reference: the same chain off the raw rows, its contributions
      // summed in DESCENDING (next, prev) order
      val counts = rows.groupBy(_._3).values
        .map(_.sortBy(r => (r._2, r._1)).map(_._4))
        .flatMap(s => s.zip(s.tail))
        .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val deg = counts.groupBy(_._1._1).map { case (p, m) => p -> m.values.sum }
      val order = counts.toSeq.sortBy { case ((p, n), _) => (n, p) }.reverse
      var pi = deg.keys.map(_ -> 1.0 / deg.size).toMap
      for (_ <- 1 to steps) {
        val next = scala.collection.mutable.Map.empty[String, Double]
        for (((p, n), c) <- order; m <- pi.get(p))
          next(n) = next.getOrElse(n, 0.0) + m * (c.toDouble / deg(p))
        pi = next.toMap
      }
      assert(got.keySet == pi.keySet, s"state sets differ: $got vs $pi")
      pi.foreach { case (st, p) =>
        val want = BigDecimal(p).setScale(9, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
        assert(math.abs(got(st) - want) <= 1e-9 + 1e-15,
          s"$st: fold ${got(st)} vs reordered $want (steps $steps)")
      }
    }
  }

  test("activityPowerlaw: MLE matches the closed form; all-light users read null") {
    // users with 1, 2, 4, 8 events (xmin=2 → tail {2, 4, 8})
    val rows = Seq(1L -> 1, 2L -> 2, 3L -> 4, 4L -> 8).flatMap {
      case (u, n) => (1 to n).map(i =>
        (u * 100 + i, "2024-01-01 10:00:00", u, "click")) }
    val r = EventOps.activityPowerlaw(events(rows: _*)).collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 3L && r.getLong(2) == 8L,
      s"censors: $r")
    val want = 1.0 + 3.0 / (math.log(2 / 1.5) + math.log(4 / 1.5) +
      math.log(8 / 1.5))
    assert(math.abs(r.getDouble(4) - want) < 1e-6, s"alpha: $r vs $want")
    // every user below xmin: no tail, alpha undefined → null not NaN
    val light = EventOps.activityPowerlaw(
      events((1L, "2024-01-01 10:00:00", 1L, "click"))).collect().head
    assert(light.isNullAt(4), s"no-tail alpha must be null: $light")
  }

  test("valuePsi: stationary halves read ~0, a level shift clears the 0.25 alarm") {
    def half(dayOff: Int, vs: Seq[Double]): Seq[(Long, String, Long, String, Double)] =
      vs.zipWithIndex.map { case (v, i) =>
        (dayOff * 1000L + i, f"2024-01-${dayOff + 1}%02d 10:00:00", 1L, "e", v) }
    def df(rows: Seq[(Long, String, Long, String, Double)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("ts", col("ts").cast("timestamp"))
    val base = (1 to 200).map(_ % 50 * 1.0)
    // days 1-2 = baseline, days 3-4 = comparison (mid = day 2)
    val stationary = df(half(0, base) ++ half(1, base) ++
      half(2, base) ++ half(3, base))
    val stable = EventOps.valuePsi(stationary).collect()
    val psiStable = stable.head.getDouble(6)
    assert(stable.map(_.getDouble(6)).distinct.length == 1,
      "psi_total must be constant across bucket rows")
    assert(math.abs(psiStable) < 0.01, s"stationary psi: $psiStable")
    assert(stable.map(_.getLong(1)).sum == 400L &&
      stable.map(_.getLong(2)).sum == 400L, "halves must partition rows")
    // second half shifted +200: mass leaves every baseline decile
    val shifted = df(half(0, base) ++ half(1, base) ++
      half(2, base.map(_ + 200)) ++ half(3, base.map(_ + 200)))
    val psiShift = EventOps.valuePsi(shifted).collect().head.getDouble(6)
    assert(psiShift > 0.25, s"shifted psi must alarm: $psiShift")
  }

  test("disorderProfile: lateness vs per-user running max, all buckets hit") {
    val e = events(
      (1L, "2024-01-01 10:00:00", 1L, "a"), // in order
      (2L, "2024-01-01 11:00:00", 1L, "a"), // in order (new max)
      (3L, "2024-01-01 10:59:30", 1L, "a"), // 30 s      → lt_1m
      (4L, "2024-01-01 10:55:00", 1L, "a"), // 5 min     → lt_10m
      (5L, "2024-01-01 10:10:00", 1L, "a"), // 50 min    → lt_1h
      (6L, "2023-12-31 11:00:00", 1L, "a"), // a day     → ge_1h
      (7L, "2024-01-01 09:00:00", 2L, "a")) // other user: in order
    val got = EventOps.disorderProfile(e).collect()
      .map(r => r.getString(1) -> ((r.getLong(2), r.getDouble(3),
        r.getLong(4)))).toMap
    assert(got("in_order") == ((3L, 0.428571, 0L)), s"in_order: $got")
    assert(got("lt_1m") == ((1L, 0.142857, 30L * 1000000)), s"lt_1m: $got")
    assert(got("lt_10m")._3 == 300L * 1000000 &&
      got("lt_1h")._3 == 50L * 60 * 1000000, s"mid buckets: $got")
    assert(got("ge_1h")._3 == 24L * 3600 * 1000000, s"ge_1h: $got")
  }

  test("typePsi: stable mix reads ~0, a dying/appearing type alarms finitely") {
    // halves split at the calendar midpoint (Jan 2 of Jan 1..4):
    // X lives in both halves, Z dies after A, W appears in B
    val e = events(
      (1L, "2024-01-01 10:00:00", 1L, "X"), (2L, "2024-01-02 10:00:00", 1L, "X"),
      (3L, "2024-01-03 10:00:00", 1L, "X"), (4L, "2024-01-04 10:00:00", 1L, "X"),
      (5L, "2024-01-01 11:00:00", 1L, "Z"), (6L, "2024-01-02 11:00:00", 1L, "Z"),
      (7L, "2024-01-03 11:00:00", 1L, "W"), (8L, "2024-01-04 11:00:00", 1L, "W"))
    val got = EventOps.typePsi(e).collect()
      .map(r => r.getString(0) -> ((r.getDouble(5), r.getDouble(6)))).toMap
    // Laplace smoothing keeps the absent-half terms FINITE — this is
    // the alarm the monitor exists for, not a division blow-up
    assert(got.values.forall(v => !v._1.isNaN && !v._1.isInfinite),
      s"terms must be finite: $got")
    assert(got("X")._1 == 0.0, s"stable type must not contribute: $got")
    assert(got("Z")._1 > 0.4 && got("W")._1 > 0.4, s"drift terms: $got")
    assert(got("X")._2 > 1.0, s"total must alarm: $got")
    // the two symmetric movers contribute identically
    assert(got("Z")._1 == got("W")._1, s"symmetry: $got")
  }

  test("sessionCooccur: lift from distinct session sets, minSessions prunes") {
    val e = events(
      // user 1, session 1: A+B; session 2 (>30 min later): A+B again
      // — B twice in session 2 must not double-count the session
      (1L, "2024-01-01 10:00:00", 1L, "A"),
      (2L, "2024-01-01 10:10:00", 1L, "B"),
      (3L, "2024-01-01 12:00:00", 1L, "A"),
      (4L, "2024-01-01 12:10:00", 1L, "B"),
      (5L, "2024-01-01 12:11:00", 1L, "B"),
      // user 2, one session: A+C — together only once → pruned
      (6L, "2024-01-01 10:00:00", 2L, "A"),
      (7L, "2024-01-01 10:05:00", 2L, "C"))
    val got = EventOps.sessionCooccur(e).collect()
    assert(got.length == 1, s"only (A,B) survives minSessions: ${got.toSeq}")
    val r = got.head
    // N=3 sessions, n_A=3, n_B=2, together=2 → lift = 2·3/(3·2) = 1
    assert((r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
      r.getLong(4), r.getDouble(5)) == (("A", "B", 2L, 3L, 2L, 1.0)),
      s"cooccur row: $r")
  }

  test("abTest: planted lift drives Welch t, moments match a reference replay") {
    // replicate the portable md5 coin driver-side to plant a real
    // effect: arm-a users get value 10+u%3, arm-b users 5+u%3
    def isA(u: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$u:ab42".getBytes("UTF-8"))
      d.take(4).map(b => f"$b%02x").mkString < "80000000"
    }
    val users = (1L to 60L)
    val rows = users.map(u =>
      (u, "2024-01-01 10:00:00", u, "exp",
        (if (isA(u)) 10.0 else 5.0) + (u % 3).toDouble))
    val e = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = EventOps.abTest(e).collect()
    assert(r.length == 1)
    val row = r.head
    val (nA, nB) = (row.getLong(1), row.getLong(2))
    assert(nA == users.count(isA) && nB == users.size - nA, s"coin split: $row")
    // reference means via the same coin
    val refA = rows.filter(t => isA(t._3)).map(_._5)
    val refB = rows.filterNot(t => isA(t._3)).map(_._5)
    assert(math.abs(row.getDouble(4) - refA.sum / refA.size) < 1e-9)
    assert(math.abs(row.getDouble(5) - refB.sum / refB.size) < 1e-9)
    // planted +5 shift with sub-1 variances: t must be large positive,
    // and Welch df bounded by min(n)-1 below, n_a+n_b-2 above
    assert(row.getDouble(6) > 10, s"planted lift must be significant: $row")
    val df = row.getDouble(7)
    assert(df >= math.min(nA, nB) - 1 - 1e-9 && df <= nA + nB - 2 + 1e-9,
      s"Welch df bounds: $df")
    // share_a is the SRM gauge: exact ratio of the coin counts
    assert(row.getDouble(3) == nA.toDouble / (nA + nB))
  }

  test("abTestCuped: perfect covariate gives theta=2, full variance kill") {
    // every user appears in both halves with post = 2·pre exactly:
    // theta must be exactly 2 (integer-double sums, rounding commutes
    // with ×2), var_reduction exactly 1, and both arms' CUPED means
    // collapse to the global post mean — zero residual arm difference
    val rows = (1L to 30L).flatMap { u =>
      val pre = (u % 7 + 1).toDouble
      Seq((u, "2024-01-01 10:00:00", u, "exp", pre),
        (u + 100L, "2024-01-10 10:00:00", u, "exp", 2.0 * pre))
    }
    val e = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = EventOps.abTestCuped(e).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getDouble(6) == 2.0, s"theta: $row")
    assert(row.getDouble(7) == 1.0, s"var_reduction: $row")
    val posts = rows.filter(_._2.startsWith("2024-01-10")).map(_._5)
    val globalPost = posts.sum / posts.size
    assert(math.abs(row.getDouble(4) - globalPost) < 1e-12, s"cuped_a: $row")
    assert(math.abs(row.getDouble(5) - globalPost) < 1e-12, s"cuped_b: $row")
    // user counts split by the coin over all 30 users
    assert(row.getLong(0) + row.getLong(1) == 30L)
  }

  test("abSrmCheck: balanced coin consistent, planted imbalance flags") {
    def isA(u: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$u:ab42".getBytes("UTF-8"))
      d.take(4).map(b => f"$b%02x").mkString < "80000000"
    }
    def mk(users: Seq[Long]) = users.zipWithIndex.map { case (u, i) =>
      (i.toLong, "2024-01-01 10:00:00", u, "exp", 1.0) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    // natural coin over 1..200: chi2 must equal the driver replay
    val all = (1L to 200L)
    val r = EventOps.abSrmCheck(mk(all)).head()
    val (nA, nB) = (all.count(isA).toLong, all.count(!isA(_)).toLong)
    assert((r.getLong(1), r.getLong(2)) == ((nA, nB)), s"arm counts: $r")
    val e = (nA + nB) / 2.0
    val chi2 = (nA - e) * (nA - e) / e + (nB - e) * (nB - e) / e
    assert(math.abs(r.getDouble(3) - chi2) < 1e-12)
    assert(r.getBoolean(4) == (chi2 > 3.841458820694124))
    // planted SRM: drop almost all of arm B (the "bots filtered one
    // arm" bug) — must flag loudly
    val biased = all.filter(isA) ++ all.filterNot(isA).take(5)
    val b = EventOps.abSrmCheck(mk(biased)).head()
    assert(b.getBoolean(4), s"planted mismatch must flag: $b")
    assert(b.getDouble(3) > 50, s"chi2 magnitude: $b")
  }

  test("abTestMde: matches the closed form, shrinks with sample size") {
    def isA(u: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$u:ab42".getBytes("UTF-8"))
      d.take(4).map(b => f"$b%02x").mkString < "80000000"
    }
    def mk(users: Range) = users.map(u =>
      (u.toLong, "2024-01-01 10:00:00", u.toLong, "exp", (u % 7).toDouble))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val small = EventOps.abTestMde(mk(1 to 60)).head()
    // reference replay
    val vals = (1 to 60).map(u => ((u % 7).toDouble, isA(u.toLong)))
    def stats(arm: Boolean) = {
      val v = vals.filter(_._2 == arm).map(_._1)
      val mean = v.sum / v.size
      (v.size, v.map(x => (x - mean) * (x - mean)).sum / (v.size - 1), v.sum)
    }
    val ((nA, varA, _), (nB, varB, sB)) = (stats(true), stats(false))
    val want = (1.959963984540054 + 0.8416212335729143) *
      math.sqrt(varA / nA + varB / nB)
    assert(small.getLong(1) == nA && small.getLong(2) == nB)
    assert(math.abs(small.getDouble(3) - want) < 1e-9,
      s"mde_abs ${small.getDouble(3)} vs $want")
    assert(math.abs(small.getDouble(4) - want / (sB / nB)) < 1e-9)
    // 4x the users (same value distribution) ≈ halves the MDE
    val big = EventOps.abTestMde(mk(1 to 240)).head()
    assert(big.getDouble(3) < small.getDouble(3) * 0.65,
      s"MDE must shrink ~1/sqrt(n): ${big.getDouble(3)} vs ${small.getDouble(3)}")
  }

  test("markovAttribution: sole-path channels carry all credit, bystander none") {
    // users 1,2: A → B → purchase; user 3: C → (no conversion).
    // Removing A or B kills every conversion (effect 1); C touches
    // only the null path (effect 0). p_conv = 2/3 of START mass.
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "A", 0.0),
      (2L, "2024-01-01 10:01:00", 1L, "B", 0.0),
      (3L, "2024-01-01 10:02:00", 1L, "purchase", 1.0),
      (4L, "2024-01-01 11:00:00", 2L, "A", 0.0),
      (5L, "2024-01-01 11:01:00", 2L, "B", 0.0),
      (6L, "2024-01-01 11:02:00", 2L, "purchase", 1.0),
      (7L, "2024-01-01 12:00:00", 3L, "C", 0.0))
    val e = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = EventOps.markovAttribution(e).collect()
      .map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      .toMap
    assert(got.keySet == Set("A", "B", "C"))
    got.values.foreach { case (pAll, _, _, _) =>
      assert(math.abs(pAll - 2.0 / 3) < 1e-12, s"base conversion: $got") }
    assert(math.abs(got("A")._3 - 1.0) < 1e-12, s"A removal effect: $got")
    assert(math.abs(got("B")._3 - 1.0) < 1e-12, s"B removal effect: $got")
    assert(math.abs(got("C")._3) < 1e-12, s"C is a bystander: $got")
    assert(math.abs(got("A")._4 - 0.5) < 1e-12 &&
      math.abs(got("B")._4 - 0.5) < 1e-12, s"credit splits A/B: $got")
  }

  test("markovAttribution: events after the first conversion are ignored") {
    // user converts then wanders: post-conversion D must not appear
    val rows = Seq(
      (1L, "2024-01-01 10:00:00", 1L, "A", 0.0),
      (2L, "2024-01-01 10:01:00", 1L, "purchase", 1.0),
      (3L, "2024-01-01 10:02:00", 1L, "D", 0.0))
    val e = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val got = EventOps.markovAttribution(e).collect().map(_.getString(0)).toSet
    assert(got == Set("A"), s"post-conversion states must vanish: $got")
  }

  test("abTestMannWhitney: U and z match a driver-side midrank replay") {
    def isA(u: Long): Boolean = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$u:ab42".getBytes("UTF-8"))
      d.take(4).map(b => f"$b%02x").mkString < "80000000"
    }
    // planted shift with deliberate ties (u % 5 collides across arms)
    val users = (1L to 60L)
    val rows = users.map(u =>
      (u, "2024-01-01 10:00:00", u, "exp",
        (if (isA(u)) 3.0 else 0.0) + (u % 5).toDouble))
    val e = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    val r = EventOps.abTestMannWhitney(e).collect()
    assert(r.length == 1)
    val row = r.head
    // reference replay: midranks over the pooled sample
    val vals = rows.map(t => (t._5, isA(t._3)))
    val byVal = vals.groupBy(_._1).toSeq.sortBy(_._1)
    var cum = 0L
    var rA = 0.0; var ties = 0.0
    byVal.foreach { case (_, g) =>
      val t = g.size.toLong
      val midrank = cum + (t + 1) / 2.0
      rA += midrank * g.count(_._2)
      ties += t.toDouble * t * t - t
      cum += t
    }
    val nA = vals.count(_._2).toLong
    val nB = vals.size - nA
    val u = rA - nA * (nA + 1.0) / 2.0
    val n = (nA + nB).toDouble
    val varU = nA.toDouble * nB / 12.0 * ((n + 1.0) - ties / (n * (n - 1.0)))
    val z = (u - nA.toDouble * nB / 2.0) / math.sqrt(varU)
    assert((row.getLong(1), row.getLong(2)) == ((nA, nB)), s"arm counts: $row")
    assert(row.getDouble(3) == rA, s"rank_sum_a: $row vs $rA")
    assert(row.getDouble(4) == u, s"u_a: $row vs $u")
    assert(math.abs(row.getDouble(5) - z) < 1e-12, s"z_u: $row vs $z")
    // planted +3 shift dominates the within-arm spread → z large
    assert(row.getDouble(5) > 3, s"planted shift must be significant: $row")
    // rank-sum identity: R_a + R_b = N(N+1)/2 ⇒ R_a bounded by it
    assert(rA < n * (n + 1.0) / 2.0)
  }

  test("abTestMannWhitney: constant metric has no readout (var_u = 0)") {
    val rows = (1L to 40L).map(u => (u, "2024-01-01 10:00:00", u, "exp", 7.0))
    val e = rows.toDF("event_id", "ts", "user_id", "event_type", "value")
      .withColumn("ts", col("ts").cast("timestamp"))
    // all 40 values tie in one group: ties term kills var_u exactly —
    // the guard must drop the row, not emit z = 0/0
    assert(EventOps.abTestMannWhitney(e).collect().isEmpty)
  }

  test("abTestSequential: curve ends at the batch readout, n monotone") {
    val e = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val end = EventOps.abTest(e).collect()
      .map(r => r.getString(0) -> r).toMap
    val curve = EventOps.abTestSequential(e).collect()
      .groupBy(_.getString(0)).view.mapValues(_.sortBy(_.getDate(1).getTime))
    assert(curve.keySet == end.keySet, "same significant types")
    curve.foreach { case (tpe, rows) =>
      // counts accumulate monotonically along the curve
      val ns = rows.map(r => (r.getLong(2), r.getLong(3))).toSeq
      assert(ns == ns.sorted, s"$tpe: cumulative n must be monotone")
      // the last cumulative point IS the end-of-experiment readout
      // (same sufficient statistics, summed in a different order)
      val (last, ref) = (rows.last, end(tpe))
      assert(last.getLong(2) == ref.getLong(1) && last.getLong(3) == ref.getLong(2))
      Seq(4 -> 3, 5 -> 4, 6 -> 5, 7 -> 6, 8 -> 7).foreach { case (ci, ri) =>
        val (a, b) = (last.getDouble(ci), ref.getDouble(ri))
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
          s"$tpe col $ci: $a vs $b")
      }
    }
  }
}
