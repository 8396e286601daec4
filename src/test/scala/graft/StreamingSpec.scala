package graft

import java.time.LocalDateTime

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStream
import graft.streaming.EventStream.Event

/** Structured-Streaming specs: the same transforms that serve the
  * batch oracle keys, driven through MemoryStream micro-batches.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(h: Int, m: Int): LocalDateTime =
    LocalDateTime.of(2024, 1, 1, h, m, 0)

  private val sampleEvents = Seq(
    Event(1L, ts(0, 5), 1L, "click", 1.0),
    Event(2L, ts(0, 20), 1L, "click", 2.0),
    Event(3L, ts(1, 10), 1L, "view", 3.0),
    Event(4L, ts(0, 30), 2L, "click", 4.0),
    Event(2L, ts(0, 20), 1L, "click", 2.0)) // duplicate event_id

  test("hourlyWindow over a MemoryStream matches batch semantics") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.hourlyWindow(mem.toDF())
      .writeStream.format("memory").queryName("hourly_test")
      .outputMode("complete").start()
    try {
      mem.addData(sampleEvents: _*)
      q.processAllAvailable()
      // streaming path carries ltz timestamps (watermark requirement);
      // extract the hour engine-side to stay type-agnostic
      val rows = spark.table("hourly_test")
        .select(hour($"window_start"), $"event_type", $"num_events", $"total_value")
        .collect()
        .map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assert(rows((0, "click")) == (4L, 9.0))
      assert(rows((1, "view")) == (1L, 3.0))
    } finally q.stop()
  }

  test("enrichedSegmentStats joins the static dim and merges across batches") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "BUILDING"), (2L, "MACHINERY"))
      .toDF("c_custkey", "c_mktsegment")
    val mem = MemoryStream[Event]
    val q = EventStream.enrichedSegmentStats(mem.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_test")
      .outputMode("complete").start()
    try {
      mem.addData(Event(1L, ts(0, 5), 1L, "click", 1.0))
      q.processAllAvailable()
      // second micro-batch must merge into the same (segment, type) key
      mem.addData(
        Event(2L, ts(0, 10), 1L, "click", 2.0),
        Event(3L, ts(0, 15), 2L, "view", 5.0),
        Event(4L, ts(0, 20), 9L, "click", 7.0)) // user 9: no dim row, dropped
      q.processAllAvailable()
      val rows = spark.table("enrich_test").collect()
        .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assert(rows == Map(
        ("BUILDING", "click") -> (2L, 3.0),
        ("MACHINERY", "view") -> (1L, 5.0)))
    } finally q.stop()
  }

  test("dedupEvents drops duplicate event ids in-stream") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.dedupEvents(mem.toDF())
      .writeStream.format("memory").queryName("dedup_test")
      .outputMode("append").start()
    try {
      mem.addData(sampleEvents: _*)
      q.processAllAvailable()
      val ids = spark.table("dedup_test").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("signature dedup: streamed first-arrival drops the same dupes as batch min-id") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = graft.operators.Dedup.signatureDedup(docs).collect()
    val batchKept = batch.map(_.getLong(0)).toSet
    val nSigs = batch.length
    assert(nSigs < docs.count(), "sf0.001 plants signature-identical copies")

    val mem = MemoryStream[StreamingSpec.Doc]
    val q = graft.operators.Dedup.signatureDedupStream(mem.toDF())
      .writeStream.format("memory").queryName("sig_dedup_test")
      .outputMode("append").start()
    try {
      val rows = docs.collect()
        .map(r => StreamingSpec.Doc(r.getLong(0), r.getString(1)))
        .sortBy(_.doc_id)
      // feed in id order across two micro-batches: first-arrival ==
      // min-id, so the survivor SETS must agree exactly
      mem.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("sig_dedup_test")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamed == batchKept,
        s"stream (id-ordered) must keep the min-id survivors: " +
          s"${streamed.size} vs ${batchKept.size}")
    } finally q.stop()
  }

  test("signature dedup: non-default knobs thread identically to both twins") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    // shared signature expression: the SAME (shingleSize, numPerms,
    // seed) must reach both forms, or batch/stream equivalence holds
    // only at the defaults
    val batchKept = graft.operators.Dedup
      .signatureDedup(docs, shingleSize = 2, numPerms = 16, seed = 7L)
      .collect().map(_.getLong(0)).toSet
    val defaultKept = graft.operators.Dedup.signatureDedup(docs)
      .collect().map(_.getLong(0)).toSet
    val mem = MemoryStream[StreamingSpec.Doc]
    val q = graft.operators.Dedup
      .signatureDedupStream(mem.toDF(), shingleSize = 2, numPerms = 16,
        seed = 7L)
      .writeStream.format("memory").queryName("sig_dedup_knobs_test")
      .outputMode("append").start()
    try {
      mem.addData(docs.collect()
        .map(r => StreamingSpec.Doc(r.getLong(0), r.getString(1)))
        .sortBy(_.doc_id): _*)
      q.processAllAvailable()
      val streamed = spark.table("sig_dedup_knobs_test")
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(streamed == batchKept,
        "non-default knobs must produce the batch twin's survivor set")
      // the knobs actually changed the signature space (2-shingles at
      // 16 perms collapse more docs than the default 3/64)
      assert(batchKept != defaultKept,
        "fixture must distinguish the knob settings")
    } finally q.stop()
  }

  test("abDailyPartials over MemoryStream: state merges, readout = batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.abDailyPartials(mem.toDF())
      .writeStream.format("memory").queryName("ab_partials_test")
      .outputMode("complete").start()
    // 40 users, one event each, split across two days
    val evts = (1L to 40L).map(u => Event(u, ts(if (u % 2 == 0) 1 else 13, 0),
      u, "exp", u.toDouble))
    try {
      mem.addData(evts.take(20): _*)
      q.processAllAvailable()
      mem.addData(evts.drop(20): _*) // second batch merges into day state
      q.processAllAvailable()
      val partials = spark.table("ab_partials_test")
      // one day (all ts on 2024-01-01), both batches merged
      assert(partials.count() == 1, s"one (day, type) row")
      val r = partials.head()
      assert(r.getAs[Long]("d_na") + r.getAs[Long]("d_nb") == 40L,
        s"all events counted: $r")
      // the streamed partial store folds to the SAME readout as the
      // batch operator over the same events (shared welchReadout)
      val streamed = EventStream.abReadoutFromPartials(partials).collect()
      val batch = EventStream.abReadout(evts.toDF()).collect()
      assert(streamed.map(_.toString).toSeq == batch.map(_.toString).toSeq,
        s"streamed $streamed vs batch $batch")
    } finally q.stop()
  }

  test("abReadout two-level fold matches the one-pass abTest math") {
    val e = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val direct = graft.operators.EventOps.abTest(e).collect()
      .map(r => r.getString(0) -> r).toMap
    val folded = EventStream.abReadout(e).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(folded.keySet == direct.keySet)
    folded.foreach { case (tpe, f) =>
      val d = direct(tpe)
      assert(f.getLong(1) == d.getLong(1) && f.getLong(2) == d.getLong(2))
      (3 to 7).foreach { i =>
        val (a, b) = (f.getDouble(i), d.getDouble(i))
        // identical sufficient statistics summed day-first vs direct:
        // only float association differs
        assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)),
          s"$tpe col $i: $a vs $b")
      }
    }
  }

  test("batch twin of hourlyWindow equals streaming result") {
    val batch = EventStream.hourlyWindow(sampleEvents.toDF())
      .collect()
      .map(r => (r.getAs[LocalDateTime]("window_start").getHour,
        r.getAs[String]("event_type")) -> r.getAs[Long]("num_events")).toMap
    assert(batch((0, "click")) == 4L)
    assert(batch((1, "view")) == 1L)
  }

  test("file source → watermarked window agg → parquet sink, end to end") {
    val base = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val (in, out, chk) = (s"$base/in", s"$base/out", s"$base/chk")

    // first file: events in hours 0 and 1
    Seq(
      Event(1L, ts(0, 10), 1L, "click", 1.0),
      Event(2L, ts(0, 40), 2L, "click", 2.0),
      Event(3L, ts(1, 15), 1L, "view", 3.0))
      .toDS().write.parquet(in)

    val stream = spark.readStream
      .schema(Seq.empty[Event].toDS().schema)
      .parquet(in)
    val q = EventStream.hourlyWindow(stream, watermark = "2 hours")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append")
      .start()
    try {
      q.processAllAvailable()
      // append mode: nothing can be final until the watermark passes
      // the window end — a later file advances event time past it
      Seq(Event(99L, ts(10, 0), 9L, "click", 0.0))
        .toDS().write.mode("append").parquet(in)
      q.processAllAvailable()
    } finally q.stop()

    val result = spark.read.parquet(out)
      .select(hour($"window_start"), $"event_type", $"num_events", $"total_value")
      .collect()
      .map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(result((0, "click")) == (2L, 3.0))
    assert(result((1, "view")) == (1L, 3.0))
  }

  test("stream-stream join pairs purchases with recent clicks") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.purchaseClickJoin(mem.toDF(), windowMinutes = 30)
      .writeStream.format("memory").queryName("ssj_test")
      .outputMode("append").start()
    try {
      mem.addData(
        Event(1L, ts(1, 0), 1L, "click", 0.0),
        Event(2L, ts(1, 10), 1L, "purchase", 9.0), // 10 min after click → joins
        Event(3L, ts(5, 0), 2L, "click", 0.0),
        Event(4L, ts(7, 0), 2L, "purchase", 5.0))  // 2h after click → no join
      q.processAllAvailable()
      val rows = spark.table("ssj_test")
        .select("purchase_id", "click_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.toSeq == Seq((2L, 1L)))
    } finally q.stop()
  }

  test("stream-stream interval join scopes impact windows per user") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.impactJoin(mem.toDF(), "error", 300L)
      .writeStream.format("memory").queryName("impact_test")
      .outputMode("append").start()
    try {
      mem.addData(
        Event(1L, ts(1, 0), 1L, "error", 0.0),
        Event(2L, ts(1, 2), 1L, "click", 1.0),  // same user, +2 min → joins
        Event(3L, ts(1, 3), 2L, "click", 1.0),  // other user → no join
        Event(4L, ts(1, 10), 1L, "view", 1.0))  // +10 min → outside window
      q.processAllAvailable()
      val rows = spark.table("impact_test")
        .select("window_id", "event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      // the trigger joins itself (ts >= w_lo) plus the in-window click
      assert(rows == Set((1L, 1L), (1L, 2L)))
    } finally q.stop()
  }

  test("streaming heavy hitters accumulate counts across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.heavyHittersState(mem.toDF(), k = 4, buckets = 2)
      .writeStream.format("memory").queryName("hh_test")
      .outputMode("update").start()
    try {
      mem.addData(
        Event(1L, ts(1, 0), 7L, "click", 0.0),
        Event(2L, ts(1, 1), 7L, "click", 0.0),
        Event(3L, ts(1, 2), 8L, "view", 0.0))
      q.processAllAvailable()
      mem.addData( // second batch: state must carry the earlier counts
        Event(4L, ts(1, 3), 7L, "click", 0.0),
        Event(5L, ts(1, 4), 9L, "view", 0.0))
      q.processAllAvailable()
      // update mode re-emits summaries; the LAST emission per user is
      // the current state
      val rows = spark.table("hh_test").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val latest = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (u, occ) => u -> occ.maxBy(_._2)._1._2 }
      assert(latest == Map(7L -> 3L, 8L -> 1L, 9L -> 1L),
        s"counts must accumulate across batches, got ${rows.toSeq}")
    } finally q.stop()
  }

  test("token budget carries the running sum across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val q = graft.streaming.DocStream.tokenBudgetState(
        mem.toDF().toDF("doc_id", "source", "text"), budget = 5L)
      .writeStream.format("memory").queryName("budget_test")
      .outputMode("append").start()
    try {
      mem.addData((0L, "s1", "a b c"))        // used 3 -> admit
      q.processAllAvailable()
      mem.addData(
        (1L, "s1", "d e"),                    // used 5 -> admit (boundary)
        (2L, "s1", "f"),                      // used 6 -> over, rejected
        (3L, "s1", "g"))                      // sum only grows -> rejected
      q.processAllAvailable()
      val rows = spark.table("budget_test").collect()
        .map(r => (r.getLong(1), r.getLong(3))).toMap
      assert(rows == Map(0L -> 3L, 1L -> 5L),
        s"budget must carry across batches and never re-admit: $rows")
    } finally q.stop()
  }

  test("compaction monitor accumulates file commits across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val q = graft.streaming.DocStream.compactionMonitorState(
        mem.toDF().toDF("part", "file_id", "bytes"),
        smallBytes = 300L, minSmall = 2L)
      .writeStream.format("memory").queryName("compact_test")
      .outputMode("update").start()
    try {
      mem.addData(("p1", 0L, 100L), ("p1", 1L, 500L), ("p2", 0L, 100L))
      q.processAllAvailable()
      mem.addData( // second batch: p1 crosses the trigger only now
        ("p1", 2L, 120L), ("p2", 1L, 800L))
      q.processAllAvailable()
      val rows = spark.table("compact_test").collect()
        .map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4))))
      val latest = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (p, occ) => p -> occ.maxBy(_._2)._1._2 }
      assert(latest == Map(
        "p1" -> ((3L, 720L, 2L, true)),
        "p2" -> ((2L, 900L, 1L, false))),
        s"counters must accumulate across batches: ${rows.toSeq}")
      // the first batch must NOT have triggered p1 yet
      val p1First = rows.collect { case ("p1", t) => t }.head
      assert(!p1First._4, s"p1 pre-trigger emission must be false: $p1First")
    } finally q.stop()
  }

  test("streaming upsert sink merges micro-batches by key") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_upsert").toString
    val mem = MemoryStream[(Long, Double, Double)]
    val q = graft.streaming.StreamingLoad.upsertSink(
      mem.toDF().toDF("product_id", "total_quantity", "total_sale_amount"),
      path = s"$base/summary", checkpoint = s"$base/chk")
    try {
      mem.addData((101L, 1.0, 10.0), (102L, 2.0, 20.0))
      q.processAllAvailable()
      mem.addData((102L, 9.0, 90.0), (103L, 3.0, 30.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$base/summary").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out == Map(
      101L -> (1.0, 10.0),   // untouched by batch 2
      102L -> (9.0, 90.0),   // replaced by batch 2
      103L -> (3.0, 30.0)))  // inserted by batch 2
  }

  test("streaming upsert sink keeps the last good summary when a batch fails") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_upsert_fail").toString
    val mem = MemoryStream[(Long, Double, Double)]
    // a negative product_id fails its batch at run time
    val updates = mem.toDF().toDF("product_id", "total_quantity", "total_sale_amount")
      .withColumn("total_quantity", when($"product_id" < 0,
        raise_error(lit("poisoned batch"))).otherwise($"total_quantity"))
    // AQE off for the query (its session is cloned at start): every
    // stage of the merge then runs inside the write job, after an
    // overwrite has deleted the files it replaces; AQE would run the
    // merge's shuffle stage, and fail, before the write begins
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val q = try graft.streaming.StreamingLoad.upsertSink(updates,
      path = s"$base/summary", checkpoint = s"$base/chk")
      finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
    try {
      mem.addData((101L, 1.0, 10.0), (102L, 2.0, 20.0))
      q.processAllAvailable()
      mem.addData((102L, 9.0, 90.0), (-1L, 0.0, 0.0))
      intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      assert(!q.isActive, "a failed batch must stop the query")
    } finally q.stop()
    val out = spark.read.parquet(s"$base/summary").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out == Map(101L -> (1.0, 10.0), 102L -> (2.0, 20.0)),
      s"the summary must still hold the first batch: $out")
  }

  test("streaming upsert sink restarted on its checkpoint equals one uninterrupted run") {
    val first = Seq((101L, 1.0, 10.0), (102L, 2.0, 20.0))
    val second = Seq((102L, 9.0, 90.0), (103L, 3.0, 30.0))
    def frame(rows: Seq[(Long, Double, Double)]) =
      rows.toDF("product_id", "total_quantity", "total_sale_amount")
    def write(rows: Seq[(Long, Double, Double)], in: String): Unit =
      frame(rows).coalesce(1).write.mode("append").parquet(in)
    /** The summary rows after both file batches, with the query
      * stopped and started again on the same checkpoint between them
      * or not, and the ids of the batches the last query ran on data. */
    def run(restart: Boolean): (Seq[(Long, Double, Double)], Seq[Long]) = {
      val base = java.nio.file.Files.createTempDirectory("graft_restart").toString
      val in = s"$base/in"
      def start() = graft.streaming.StreamingLoad.upsertSink(
        spark.readStream.schema(frame(first).schema).parquet(in),
        path = s"$base/summary", checkpoint = s"$base/chk")
      write(first, in)
      var q = start()
      val batchIds = try {
        q.processAllAvailable()
        if (restart) { q.stop(); write(second, in); q = start() }
        else write(second, in)
        q.processAllAvailable()
        q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).toSeq
      } finally q.stop()
      val out = spark.read.parquet(s"$base/summary").as[(Long, Double, Double)]
        .collect().toSeq.sorted
      (out, batchIds)
    }
    val (once, _) = run(restart = false)
    val (restarted, resumedBatches) = run(restart = true)
    assert(once == Seq((101L, 1.0, 10.0), (102L, 9.0, 90.0), (103L, 3.0, 30.0)))
    assert(restarted == once, s"the restarted run's summary: $restarted")
    assert(resumedBatches == Seq(1L),
      s"the restarted query must run only the batch after the committed one: $resumedBatches")
  }

  test("continuous hourly rollup materializes via the upsert sink") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_rollup").toString
    val mem = MemoryStream[Event]
    val q = graft.streaming.StreamingLoad.upsertSink(
      EventStream.hourlyWindow(mem.toDF()),
      path = s"$base/rollup", checkpoint = s"$base/chk",
      keys = Seq("window_start", "event_type"))
    try {
      mem.addData(Event(1L, ts(0, 10), 1L, "click", 1.0))
      q.processAllAvailable()
      // second batch updates hour 0 and adds hour 1 — the sink must
      // merge, not append
      mem.addData(
        Event(2L, ts(0, 50), 2L, "click", 2.0),
        Event(3L, ts(1, 5), 1L, "view", 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(s"$base/rollup")
      .select(hour($"window_start"), $"event_type", $"num_events", $"total_value")
      .collect()
      .map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out((0, "click")) == (2L, 3.0), s"hour-0 rollup must merge: $out")
    assert(out((1, "view")) == (1L, 3.0))
    assert(out.size == 2)
  }

  test("stateful sessionize (batch mode) splits on gap") {
    val events = Seq(
      Event(1L, ts(0, 0), 1L, "click", 1.0),
      Event(2L, ts(0, 10), 1L, "click", 1.0),
      Event(3L, ts(2, 0), 1L, "view", 2.0), // >30min gap → new session
      Event(4L, ts(0, 0), 2L, "view", 5.0))
    val out = EventStream.sessionize(events.toDS(), gapMinutes = 30)
      .collect().sortBy(s => (s.user_id, s.session_start))
    assert(out.length == 3)
    assert(out(0).num_events == 2 && out(0).total_value == 2.0)
    assert(out(1).num_events == 1 && out(1).session_start == ts(2, 0))
    assert(out(2).user_id == 2L)
  }

  test("sessionize over a stream emits closed sessions") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_test")
      .outputMode("append").start()
    try {
      mem.addData(Event(1L, ts(0, 0), 1L, "click", 1.0))
      q.processAllAvailable()
      // a later event past the gap closes the first session
      mem.addData(Event(2L, ts(3, 0), 1L, "view", 2.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_test").as[EventStream.Session].collect()
      assert(sessions.length == 1)
      assert(sessions(0).num_events == 1L)
      assert(sessions(0).session_start == ts(0, 0))
    } finally q.stop()
  }

  test("sessionize disorder: a within-gap straggler merges without regressing last") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_chaos_merge")
      .outputMode("append").start()
    try {
      mem.addData(
        Event(1L, ts(0, 40), 1L, "click", 1.0),
        Event(2L, ts(0, 50), 1L, "click", 1.0))
      q.processAllAvailable()
      // cross-batch straggler 0:35 — within gap of the open session's
      // last (0:50): merges where the batch sort would have put it
      mem.addData(Event(3L, ts(0, 35), 1L, "click", 1.0))
      q.processAllAvailable()
      // on-time event at 1:15 is within 30 min of the TRUE last
      // (0:50); if the straggler had regressed last to 0:35 this
      // would silently split a live session — the chaos case
      mem.addData(Event(4L, ts(1, 15), 1L, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(5L, ts(4, 0), 1L, "view", 1.0)) // closes it
      q.processAllAvailable()
      val sessions = spark.table("sess_chaos_merge").as[EventStream.Session]
        .collect().sortBy(_.session_start)
      assert(sessions.length == 1,
        s"straggler must not split the live session: ${sessions.toSeq}")
      assert(sessions(0).session_start == ts(0, 35), "start extends backward")
      assert(sessions(0).session_end == ts(1, 15), "last never regresses")
      assert(sessions(0).num_events == 4L)
    } finally q.stop()
  }

  test("sessionize disorder: a stale-beyond-gap straggler is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_chaos_drop")
      .outputMode("append").start()
    try {
      mem.addData(Event(1L, ts(2, 0), 1L, "click", 1.0))
      q.processAllAvailable()
      // 0:10 is older than last − gap (1:30): it belongs to an
      // already-flushed session — documented drop, NOT a merge that
      // would stretch session_start back two hours
      mem.addData(Event(2L, ts(0, 10), 1L, "click", 7.0))
      q.processAllAvailable()
      mem.addData(Event(3L, ts(5, 0), 1L, "view", 1.0)) // closes it
      q.processAllAvailable()
      val sessions = spark.table("sess_chaos_drop").as[EventStream.Session]
        .collect()
      assert(sessions.length == 1, s"got ${sessions.toSeq}")
      assert(sessions(0).session_start == ts(2, 0) &&
        sessions(0).num_events == 1L && sessions(0).total_value == 1.0,
        s"stale straggler must be dropped, got ${sessions(0)}")
    } finally q.stop()
  }

  test("firstSeenState disorder: first-observed day is frozen against older stragglers") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.firstSeenState(mem.toDF()).writeStream
      .format("memory").queryName("fs_chaos").outputMode("append").start()
    def rows(): Seq[(String, Boolean)] = {
      q.processAllAvailable()
      spark.table("fs_chaos").collect()
        .map(r => (String.valueOf(r.get(1)), r.getBoolean(2))).toSeq
    }
    try {
      mem.addData(Event(1L, LocalDateTime.of(2024, 1, 5, 9, 0), 1L, "click", 0.0))
      assert(rows() == Seq(("2024-01-05", true)))
      // cross-batch straggler two days earlier: its active-day row is
      // emitted, but is_new=true for Jan 5 is already appended and
      // cannot be retracted — a second is_new=true day would
      // double-count the user in every downstream new-users rollup
      mem.addData(Event(2L, LocalDateTime.of(2024, 1, 3, 9, 0), 1L, "click", 0.0))
      assert(rows().toSet == Set(("2024-01-05", true), ("2024-01-03", false)),
        "older straggler day must emit is_new=false (first-OBSERVED is frozen)")
      assert(rows().count(_._2) == 1, "exactly one is_new=true day per user")
    } finally q.stop()
  }

  test("funnelState disorder: a cross-batch straggler cannot lower a set stage") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.funnelState(mem.toDF()).writeStream
      .format("memory").queryName("funnel_chaos").outputMode("update").start()
    def last(): (String, String, String) = {
      q.processAllAvailable()
      val r = spark.table("funnel_chaos").collect().zipWithIndex
        .filter(_._1.getLong(0) == 1L).maxBy(_._2)._1
      (String.valueOf(r.get(1)), String.valueOf(r.get(2)), String.valueOf(r.get(3)))
    }
    try {
      mem.addData(
        Event(1L, ts(0, 10), 1L, "signup", 0.0),
        Event(2L, ts(0, 30), 1L, "click", 0.0))
      val before = last()
      assert(before._2 == String.valueOf(ts(0, 30)), s"click stage set: $before")
      // straggler click at 0:20 (valid per signup, older than the set
      // stage): each stage is set exactly once — must not rewrite
      mem.addData(Event(3L, ts(0, 20), 1L, "click", 0.0))
      assert(last() == before, "set stage must not move for a straggler")
      // and the chain keeps operating off the ORIGINAL stage ts: a
      // purchase at 0:25 is before click_ts=0:30 → still rejected
      mem.addData(Event(4L, ts(0, 25), 1L, "purchase", 0.0))
      assert(last()._3 == "null", "purchase before the set click stage rejected")
    } finally q.stop()
  }

  test("sessionize is batch-split invariant on in-order streams (randomized)") {
    // the documented contract's positive half: when per-user arrival
    // is ts-ordered ACROSS micro-batches, the streaming fold must
    // equal the batch run EXACTLY, wherever the batch boundaries
    // fall. Seeded random events, globally ts-sorted, chunked into
    // uneven micro-batches; a far-future sentinel per user closes
    // every real trailing session so append mode emits it.
    implicit val sqlCtx = spark.sqlContext
    val rnd = new scala.util.Random(13)
    val real = Seq.tabulate(120) { i =>
      Event(i.toLong, ts(rnd.nextInt(5), rnd.nextInt(12) * 5),
        rnd.nextLong(3), "click", rnd.nextInt(5).toDouble)
    }
    val sentinels = (0L until 3L).map(u =>
      Event(1000L + u, LocalDateTime.of(2024, 1, 2, 12, 0), u, "end", 0.0))
    val ordered = real.sortBy(e => (e.ts, e.event_id))
    val mem = MemoryStream[Event]
    val q = EventStream.sessionize(mem.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sess_split_inv")
      .outputMode("append").start()
    try {
      var rest = ordered
      while (rest.nonEmpty) {
        val take = 1 + rnd.nextInt(40) // uneven boundaries
        mem.addData(rest.take(take): _*)
        q.processAllAvailable()
        rest = rest.drop(take)
      }
      mem.addData(sentinels: _*)
      q.processAllAvailable()
      def key(s: EventStream.Session) =
        (s.user_id, s.session_start, s.session_end, s.num_events, s.total_value)
      val streamed = spark.table("sess_split_inv").as[EventStream.Session]
        .collect().map(key).toSet
      val batch = EventStream.sessionize(real.toDS(), gapMinutes = 30)
        .collect().map(key).toSet
      assert(streamed == batch,
        s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark dedups in-stream with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.dedupEventsWithinWatermark(mem.toDF())
      .writeStream.format("memory").queryName("dedup_wm_test")
      .outputMode("append").start()
    try {
      mem.addData(sampleEvents: _*) // contains a duplicate event_id=2
      q.processAllAvailable()
      mem.addData(Event(2L, ts(0, 20), 1L, "click", 2.0)) // dup again, within wm
      q.processAllAvailable()
      val ids = spark.table("dedup_wm_test").select("event_id").as[Long].collect().sorted
      assert(ids.toSeq == Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("native session_window emits closed sessions in append mode") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.sessionWindowAgg(mem.toDF(), gapMinutes = 30)
      .writeStream.format("memory").queryName("swin_test")
      .outputMode("append").start()
    try {
      mem.addData(
        Event(1L, ts(0, 0), 1L, "click", 1.0),
        Event(2L, ts(0, 10), 1L, "click", 2.0))
      q.processAllAvailable()
      // watermark must pass session end (0:40) before append emits
      mem.addData(Event(3L, ts(3, 0), 2L, "view", 9.0))
      q.processAllAvailable()
      mem.addData(Event(4L, ts(3, 5), 2L, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("swin_test")
        .filter($"user_id" === 1L)
        .select($"num_events", $"total_value").collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      assert(rows.toSeq == Seq((2L, 3.0)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("sessionize event-time timeout flushes idle users without new events") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.sessionize(mem.toDS(), gapMinutes = 30, watermark = "1 hour")
      .writeStream.format("memory").queryName("sess_timeout_test")
      .outputMode("append").start()
    try {
      mem.addData(Event(1L, ts(0, 0), 1L, "click", 1.0))
      q.processAllAvailable()
      // OTHER users advance the watermark past user 1's last+gap;
      // user 1 never sends another event
      mem.addData(Event(2L, ts(5, 0), 2L, "view", 2.0))
      q.processAllAvailable()
      mem.addData(Event(3L, ts(5, 10), 2L, "view", 3.0))
      q.processAllAvailable()
      val sessions = spark.table("sess_timeout_test")
        .as[EventStream.Session].collect().filter(_.user_id == 1L)
      assert(sessions.length == 1, "idle user session must flush via timeout")
      assert(sessions(0).session_start == ts(0, 0))
      assert(sessions(0).session_end == ts(0, 0))
      assert(sessions(0).num_events == 1L)
    } finally q.stop()
  }

  test("latestUserState keeps the newest state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.latestUserState(mem.toDF())
      .writeStream.format("memory").queryName("user_state_test")
      .outputMode("update").start()
    try {
      mem.addData(
        Event(1L, ts(0, 5), 1L, "signup", 0.0),
        Event(2L, ts(0, 10), 1L, "click", 0.0))
      q.processAllAvailable()
      // batch 2: user 1 advances; an OUT-OF-ORDER event (earlier ts)
      // must lose to the state carried from batch 1
      mem.addData(
        Event(3L, ts(0, 30), 1L, "purchase", 0.0),
        Event(4L, ts(0, 1), 2L, "signup", 0.0))
      q.processAllAvailable()
      mem.addData(Event(5L, ts(0, 7), 1L, "view", 0.0)) // stale, ignored
      q.processAllAvailable()
      // update-mode memory sink appends a row per emission — the
      // LAST row per user is the maintained dimension value
      val last = spark.table("user_state_test").collect()
        .map(r => (r.getLong(0), r.getString(1)))
        .zipWithIndex
        .groupBy(_._1._1).view.mapValues(_.maxBy(_._2)._1._2).toMap
      assert(last(1L) == "purchase")
      assert(last(2L) == "signup")
    } finally q.stop()
  }

  test("latestUserState batch run equals the window arg-max") {
    val batch = sampleEvents.toDF()
    val got = EventStream.latestUserState(batch).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3))).toMap
    assert(got == Map(1L -> ("view", 3L), 2L -> ("click", 4L)))
  }

  test("cdcState streams deletes as tombstones; re-insert revives the key") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.cdcState(mem.toDF()).writeStream
      .format("memory").queryName("cdc_rows").outputMode("update").start()
    def snapshot(): Map[Long, (String, Boolean)] = {
      q.processAllAvailable()
      // latest emission per user wins (memory sink appends updates)
      spark.table("cdc_rows").collect().zipWithIndex
        .groupBy(_._1.getLong(0)).view.mapValues { rows =>
          val r = rows.maxBy(_._2)._1; (r.getString(1), r.getBoolean(4))
        }.toMap
    }
    try {
      mem.addData(Event(1L, ts(0, 5), 1L, "signup", 1.0))
      assert(snapshot()(1L) == ("signup", true))
      mem.addData(Event(2L, ts(0, 10), 1L, "error", 0.0))
      assert(snapshot()(1L) == ("error", false), "delete emits a tombstone")
      mem.addData(Event(3L, ts(0, 15), 1L, "purchase", 9.0))
      assert(snapshot()(1L) == ("purchase", true), "re-insert revives the key")
      // an out-of-order older change must lose to current state
      mem.addData(Event(4L, ts(0, 12), 1L, "error", 0.0))
      assert(snapshot()(1L) == ("purchase", true), "stale delete loses")
    } finally q.stop()
  }

  test("scd2State streams version closes and opens across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.scd2State(mem.toDF()).writeStream
      .format("memory").queryName("scd2_rows").outputMode("update").start()
    // latest emission per (user, version) wins (memory sink appends)
    def snapshot(): Map[(Long, Long), (String, Boolean, Long, Option[LocalDateTime])] = {
      q.processAllAvailable()
      spark.table("scd2_rows").collect().zipWithIndex
        .groupBy { case (r, _) => (r.getLong(0), r.getLong(1)) }
        .view.mapValues { rows =>
          val r = rows.maxBy(_._2)._1
          (r.getString(2), r.getBoolean(6), r.getLong(5),
            Option(r.getAs[LocalDateTime](4)))
        }.toMap
    }
    try {
      mem.addData(Event(1L, ts(0, 5), 1L, "click", 1.0))
      assert(snapshot() == Map((1L, 1L) -> (("click", true, 1L, None))))
      // same state extends the open run (n_events grows, still v1)
      mem.addData(Event(2L, ts(0, 10), 1L, "click", 1.0))
      assert(snapshot() == Map((1L, 1L) -> (("click", true, 2L, None))))
      // state change: v1 closes at the new valid_from, v2 opens
      mem.addData(Event(3L, ts(0, 20), 1L, "view", 1.0))
      val s = snapshot()
      assert(s((1L, 1L)) == (("click", false, 2L, Some(ts(0, 20)))),
        s"v1 must close at v2's valid_from: $s")
      assert(s((1L, 2L)) == (("view", true, 1L, None)), s"v2 open: $s")
      // a cross-batch straggler older than the open run is dropped
      mem.addData(Event(4L, ts(0, 15), 1L, "click", 1.0))
      assert(snapshot() == s, "stale straggler must not rewrite history")
    } finally q.stop()
  }

  test("scd2State batch run equals EventOps.scd2UserState") {
    val batch = sampleEvents.toDF()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1))
    def value(r: org.apache.spark.sql.Row) =
      (r.getString(2), String.valueOf(r.get(3)), String.valueOf(r.get(4)),
        r.getLong(5), r.getBoolean(6))
    val got = EventStream.scd2State(batch).collect()
      .map(r => key(r) -> value(r)).toMap
    val relational = graft.operators.EventOps.scd2UserState(batch).collect()
      .map(r => key(r) -> value(r)).toMap
    assert(got == relational,
      "shared path: stream code batch-run ≡ relational SCD2 build")
  }

  test("cdcState batch run (live rows) equals EventOps.cdcApply") {
    val batch = sampleEvents.toDF()
    val live = EventStream.cdcState(batch)
      .filter(col("is_live")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    val applied = graft.operators.EventOps.cdcApply(batch).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    assert(live == applied, "shared path: stream code batch-run ≡ relational apply")
  }

  test("streaming sketch store: appended partials answer like one batch build") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.EventOps
    val base = java.nio.file.Files.createTempDirectory("graft_sk").toString
    val (store, chk) = (s"$base/store", s"$base/chk")
    val mem = MemoryStream[Event]
    val q = graft.streaming.StreamingLoad.sketchStoreSink(mem.toDF(), store, chk)
    try {
      // user 1 appears in BOTH micro-batches on the same day — the
      // partial-row merge must still count them once
      mem.addData(
        Event(1L, ts(0, 5), 1L, "click", 1.0),
        Event(2L, ts(0, 20), 2L, "click", 2.0))
      q.processAllAvailable()
      mem.addData(
        Event(3L, ts(1, 10), 1L, "click", 3.0),
        Event(4L, ts(2, 30), 3L, "view", 4.0))
      q.processAllAvailable()
    } finally q.stop()
    val fromStore = EventOps.reachFromSketches(
      spark.read.parquet(store), "2024-01-01", "2024-01-02")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val allEvents = Seq(
      Event(1L, ts(0, 5), 1L, "click", 1.0),
      Event(2L, ts(0, 20), 2L, "click", 2.0),
      Event(3L, ts(1, 10), 1L, "click", 3.0),
      Event(4L, ts(2, 30), 3L, "view", 4.0)).toDF()
    val direct = EventOps.reachFromSketches(
      EventOps.dailyAudienceSketches(allEvents), "2024-01-01", "2024-01-02")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fromStore == direct,
      s"partial sketch rows must merge losslessly: $fromStore vs $direct")
    assert(fromStore("click")._1 == 2L, "user 1 double-appended, counted once")
    // the store really is multi-row per (day, type) before compaction
    assert(spark.read.parquet(store)
      .filter(col("event_type") === "click").count() == 2L)

    // --- the composed maintenance pipeline: stream-append → compact.
    // Month-grain compaction of the STREAMED store (partial rows and
    // all) must answer exactly like the day-grain store — HLL union
    // is lossless and associative, so merge order (micro-batch
    // partials vs day rows vs month rows) can never show through.
    val compactedPath = s"$base/compacted"
    EventOps.compactSketches(spark.read.parquet(store))
      .write.mode("overwrite").parquet(compactedPath)
    val monthly = spark.read.parquet(compactedPath)
    assert(monthly.count() == 2L, "one month-grain row per event_type")
    val fromCompacted = EventOps.reachFromCompacted(
      monthly, "2024-01-01", "2024-02-01")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val fullRange = EventOps.reachFromSketches(
      spark.read.parquet(store), "2024-01-01", "2024-02-01")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(fromCompacted == fullRange,
      s"compacted store must answer like the daily one: $fromCompacted vs $fullRange")
    // exact companions survive compaction: n_events sums, day rows counted
    val dayRows = monthly.collect()
      .map(r => r.getString(1) -> (r.getLong(3), r.getLong(4))).toMap
    assert(dayRows == Map("click" -> (3L, 2L), "view" -> (1L, 1L)),
      "n_events sums and store rows count through compaction")
  }

  test("curateGate streams append-mode with ZERO state, matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val bench = docs.filter($"doc_id" % 97 === 0)
    val batchKept = graft.streaming.DocStream.curateGate(docs, bench)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(batchKept.nonEmpty, "gate should keep something at sf0.001")

    val mem = MemoryStream[StreamingSpec.Doc]
    val q = graft.streaming.DocStream.curateGate(mem.toDF(), bench)
      .writeStream.format("memory").queryName("gate_test")
      .outputMode("append").start()
    try {
      val rows = docs.collect()
        .map(r => StreamingSpec.Doc(r.getLong(0), r.getString(1)))
      // two micro-batches to prove per-batch independence
      mem.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("gate_test").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(streamed == batchKept,
        "streaming gate must admit exactly the batch gate's documents")
      // the architectural claim: NO state store anywhere in the query
      val ops = q.lastProgress.stateOperators
      assert(ops == null || ops.isEmpty,
        s"gate must be stateless, found state operators: ${ops.mkString(",")}")
    } finally q.stop()
  }

  test("dupSpanScrub: store-matched spans cut at intake, ZERO state, matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"
    val corpus = Seq(
      StreamingSpec.LinedDoc(0L, s"pre0a pre0b $shared post0a", "s0"),
      StreamingSpec.LinedDoc(1L, shared, "s0"),
      StreamingSpec.LinedDoc(2L,
        "unique2 words2 here2 nothing2 repeats2 at2 all2 ever2", "s1"),
      StreamingSpec.LinedDoc(3L, s"lead3 $shared tail3a tail3b", "s1"))
    val docs = corpus.toDF()
    val store = SharedTrunks.dupStore(docs)
    def fold(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    val batch = fold(graft.streaming.DocStream.dupSpanScrub(docs, store)
      .collect())
    // the batch run IS docs_dup_spans_apply's relation
    val applyTwin = fold(graft.operators.TextAnalysis.dupSpansApply(docs,
      SharedTrunks.dupStarts(docs))
      .collect())
    assert(batch == applyTwin, s"$batch\nvs\n$applyTwin")
    assert(batch(1L) == ((8L, 8L, "")), s"fully covered: ${batch(1L)}")
    assert(batch(0L)._3 == "pre0a pre0b post0a", s"${batch(0L)}")

    val mem = MemoryStream[StreamingSpec.LinedDoc]
    val q = graft.streaming.DocStream.dupSpanScrub(mem.toDF(), store)
      .writeStream.format("memory").queryName("scrub_test")
      .outputMode("append").start()
    try {
      mem.addData(corpus.take(2): _*)
      q.processAllAvailable()
      mem.addData(corpus.drop(2): _*)
      q.processAllAvailable()
      val streamed = fold(spark.table("scrub_test").collect())
      assert(streamed == batch,
        s"cross-batch scrub must match the batch form: $streamed")
      val ops = q.lastProgress.stateOperators
      assert(ops != null && ops.nonEmpty && ops.forall(_.numRowsTotal == 0),
        s"fold must never write state: ${ops.mkString(",")}")
    } finally q.stop()
  }

  test("qualityDriftState: histogram accumulates across batches, state stays grid-bounded") {
    implicit val sqlCtx = spark.sqlContext
    // PRE-lined texts (the intake gate sees line structure): 2-token
    // lines, the stop words leading — the bullet variant's lines all
    // start with '-' except that first one
    def linedText(words: Seq[String]): String =
      ("the" +: "and" +: words).grouped(2).map(_.mkString(" "))
        .mkString("\n")
    val healthy = linedText((1 to 60).map(i => s"w$i$i"))
    val bullets = linedText((1 to 60).map(i => s"-b$i"))
    // baseline = 20 healthy docs; stream = 10 bullet-heavy + 10
    // healthy, split ACROSS two micro-batches
    val baseDocs = (0L until 20L).map(id => (id, healthy)).toDF("doc_id", "text")
    val streamRows = ((100L until 110L).map(id =>
      StreamingSpec.LinedDoc(id, bullets, "s")) ++
      (110L until 120L).map(id => StreamingSpec.LinedDoc(id, healthy, "s")))
    val baseline = graft.operators.TextAnalysis.qualityBaseline(
      graft.operators.TextAnalysis.gopherQualityCols(baseDocs))
      .localCheckpoint(true)
    // batch twin: the SAME fold over the whole stream side at once
    val streamDf = streamRows.toDF().select(col("doc_id"), col("text"))
    val want = graft.streaming.DocStream.qualityDriftState(streamDf, baseline)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(7), r.getBoolean(8))).toMap
    assert(want.exists { case ((m, _), (_, _, _, drifted)) =>
      m == "bullet_line_fraction" && drifted },
      s"the planted bullet shift must read drifted: $want")

    val mem = MemoryStream[StreamingSpec.LinedDoc]
    val q = graft.streaming.DocStream.qualityDriftState(
        mem.toDF().select(col("doc_id"), col("text")), baseline)
      .writeStream.format("memory").queryName("qdrift_test")
      .outputMode("update").start()
    try {
      mem.addData(streamRows.take(10): _*)
      q.processAllAvailable()
      mem.addData(streamRows.drop(10): _*)
      q.processAllAvailable()
      val rows = spark.table("qdrift_test").collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3), r.getDouble(7), r.getBoolean(8)))
      val latest = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (k, occ) => k -> occ.maxBy(_._2)._1._2 }
      assert(latest == want,
        s"cross-batch histogram must land on the batch fold:\n$latest\nvs\n$want")
      // state is the grid, nothing more: per-metric bucket counters
      val ops = q.lastProgress.stateOperators
      assert(ops.map(_.numRowsTotal).sum <=
        graft.operators.TextAnalysis.QualityDriftBins.size,
        s"state must stay one histogram per metric: ${ops.mkString(",")}")
    } finally q.stop()
  }

  test("dupNgramGate: store probe streams with ZERO persisted state, matches batch") {
    implicit val sqlCtx = spark.sqlContext
    // crafted corpus: doc 1 is mostly a verbatim copy of doc 0
    // (dup fraction > 0.5 -> drop), docs 0/2 share only a minority
    // run (keep), doc 3 is gram-less (keep trivially)
    val shared = (1 to 20).map(i => s"sh$i").mkString(" ")
    val minor = (1 to 8).map(i => s"mn$i").mkString(" ")
    val corpus = Seq(
      StreamingSpec.LinedDoc(0L, s"$shared $minor " +
        (1 to 45).map(i => s"alpha$i").mkString(" "), "s0"),
      StreamingSpec.LinedDoc(1L, s"$shared x1 x2", "s0"),
      StreamingSpec.LinedDoc(2L, s"$minor " +
        (1 to 30).map(i => s"c$i").mkString(" "), "s1"),
      StreamingSpec.LinedDoc(3L, "tiny doc here", "s1"))
    val docs = corpus.toDF()
    val store = SharedTrunks.dupStore(docs)
    def fold(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(5))).toMap
    val batch = fold(graft.streaming.DocStream.dupNgramGate(docs, store)
      .collect())
    // the batch run IS docs_dup_ngram_apply's relation
    val applyTwin = fold(graft.operators.TextAnalysis.dupNgramApply(
      SharedTrunks.dupDocs(docs)).collect())
    assert(batch == applyTwin, s"store probe must reproduce the " +
      s"coverage chain:\n$batch\nvs\n$applyTwin")
    assert(!batch(1L)._3 && batch(0L)._3 && batch(2L)._3 && batch(3L)._3,
      s"the mostly-copied doc drops, the rest keep: $batch")
    assert(batch(2L)._2 > 0L, "the minority run must still bill chars")

    val mem = MemoryStream[StreamingSpec.LinedDoc]
    val q = graft.streaming.DocStream.dupNgramGate(mem.toDF(), store)
      .writeStream.format("memory").queryName("dup_gate_test")
      .outputMode("append").start()
    try {
      mem.addData(corpus.take(2): _*)
      q.processAllAvailable()
      mem.addData(corpus.drop(2): _*)
      q.processAllAvailable()
      val streamed = fold(spark.table("dup_gate_test").collect())
      assert(streamed == batch,
        s"cross-batch intake must match the batch gate: $streamed")
      // the architectural claim: the group operator persists NOTHING
      val ops = q.lastProgress.stateOperators
      assert(ops != null && ops.nonEmpty && ops.forall(_.numRowsTotal == 0),
        s"fold must never write state: ${ops.mkString(",")}")
    } finally q.stop()
  }

  test("bloomPruneGrams: clean documents' grams die map-side, matches survive") {
    // the r14 intake cut: a mostly-clean batch's gram rows must be
    // dropped by the broadcast Bloom BEFORE the store join — only
    // true matches (+ ≤1% FPP) reach it. 60 all-unique-vocab docs +
    // one planted shared run against a store built from the corpus.
    val shared = (1 to 15).map(i => s"dup$i").mkString(" ")
    val docs = ((0L until 60L).map(d =>
      (d, (1 to 40).map(i => s"u${d}x$i").mkString(" "), "s")) ++ Seq(
      (60L, s"$shared " + (1 to 25).map(i => s"a$i").mkString(" "), "s"),
      (61L, s"$shared " + (1 to 25).map(i => s"b$i").mkString(" "), "s")))
      .toDF("doc_id", "text", "source")
    val store = SharedTrunks.dupStore(docs)
    val grams = docs
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.explode(
          graft.functions.gf.tokenNgrams(
            org.apache.spark.sql.functions.col("text"), 8)).as("ng"))
    val total = grams.count()
    val pruned = graft.streaming.DocStream.bloomPruneGrams(grams, store)
    val survivors = pruned.count()
    val trueMatches = grams.join(store, Seq("ng"), "left_semi").count()
    assert(survivors >= trueMatches,
      "the Bloom must never drop a true match (join input would lose rows)")
    assert(survivors <= trueMatches + (total * 0.02).toLong + 2,
      s"pre-filter must cut the join input to matches + ~1% FPP: " +
        s"$survivors of $total (true $trueMatches)")
    assert(trueMatches < total / 10,
      s"fixture sanity: the batch must be mostly clean ($trueMatches/$total)")
  }

  test("semanticGate streams with ZERO state, matches the batch decontaminator") {
    implicit val sqlCtx = spark.sqlContext
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bench = emb.filter($"vec_id" % 97 === 0)
    val corpus = emb.filter($"vec_id" % 97 =!= 0)
    def fold(rows: Array[org.apache.spark.sql.Row]) = rows
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4))).toMap
    val batch = fold(graft.operators.Dedup
      .semanticDecontaminate(emb, benchMod = 97, tau = 0.4).collect())
    val gateBatch = fold(graft.streaming.DocStream
      .semanticGate(corpus, bench, tau = 0.4).collect())
    assert(gateBatch == batch,
      "the closure-matrix gate must reproduce the broadcast-join batch relation")
    val corpusRows = corpus.select($"vec_id", $"embedding")
      .collect().map(r => StreamingSpec.Vec(r.getLong(0),
        r.getSeq[Float](1)))
    val mem = MemoryStream[StreamingSpec.Vec]
    val q = graft.streaming.DocStream.semanticGate(mem.toDF(), bench, tau = 0.4)
      .writeStream.format("memory").queryName("sem_gate_test")
      .outputMode("append").start()
    try {
      mem.addData(corpusRows.take(20): _*)
      q.processAllAvailable()
      mem.addData(corpusRows.drop(20): _*)
      q.processAllAvailable()
      val streamed = fold(spark.table("sem_gate_test").collect())
      assert(streamed == batch,
        s"cross-batch intake must match the batch decontaminator")
      // stateless by construction: a pure map plans NO state operator
      val ops = q.lastProgress.stateOperators
      assert(ops == null || ops.isEmpty || ops.forall(_.numRowsTotal == 0),
        s"gate must carry no state: ${ops.mkString(",")}")
    } finally q.stop()
  }

  test("fullIntakeGate: ALL gate families in one stream, ZERO state, matches batch") {
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.operators.TextAnalysis.synthIntakeCorpus(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"))
      .localCheckpoint(true)
    val bench = docs.filter($"doc_id" % 97 === 0)
    val store = SharedTrunks.dupStore(docs)
    val batch = graft.streaming.DocStream
      .fullIntakeGate(docs, bench, store)
      .collect().map(_.getLong(0)).toSet
    assert(batch.nonEmpty && batch.size < docs.count(),
      s"the composed gate must keep a proper nonempty subset: ${batch.size}")
    // every single-family gate bounds the composition from above
    val gopherKeep = graft.streaming.DocStream.repetitionGate(docs)
      .collect().map(_.getLong(0)).toSet
    assert(batch.subsetOf(gopherKeep),
      "a gopher-dropped doc must never pass the composition")
    val dupKeep = graft.streaming.DocStream.dupNgramGate(docs, store)
      .filter($"keep").collect().map(_.getLong(0)).toSet
    assert(batch.subsetOf(dupKeep),
      "a dup-gated doc must never pass the composition")
    val corpusRows = docs.select($"doc_id", $"text", $"source")
      .collect().map(r => StreamingSpec.LinedDoc(
        r.getLong(0), r.getString(1), r.getString(2)))
    val mem = MemoryStream[StreamingSpec.LinedDoc]
    val q = graft.streaming.DocStream.fullIntakeGate(mem.toDF(), bench, store)
      .writeStream.format("memory").queryName("intake_gate_test")
      .outputMode("append").start()
    try {
      mem.addData(corpusRows.take(25): _*)
      q.processAllAvailable()
      mem.addData(corpusRows.drop(25): _*)
      q.processAllAvailable()
      val streamed = spark.table("intake_gate_test")
        .collect().map(_.getLong(0)).toSet
      assert(streamed == batch,
        s"cross-batch intake must match the batch composition")
      val ops = q.lastProgress.stateOperators
      assert(ops == null || ops.isEmpty || ops.forall(_.numRowsTotal == 0),
        s"the composed gate must persist nothing: ${ops.mkString(",")}")
    } finally q.stop()
  }

  test("repetitionGate streams append-mode with ZERO state, matches batch") {
    implicit val sqlCtx = spark.sqlContext
    // the combined fixture: quality plants + planted dup paragraphs
    // (the plain lined corpus would fail the stop-word rule on EVERY
    // doc — the synthetic text's natural deficiency the tail repairs)
    val lined = graft.operators.TextAnalysis.synthQualityCorpus(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet"),
      keep = Seq("source"))
    val batchKept = graft.streaming.DocStream.repetitionGate(lined)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(batchKept.nonEmpty && batchKept.size < lined.count(),
      "the gate must keep some docs and drop some (planted repeats)")

    val mem = MemoryStream[StreamingSpec.LinedDoc]
    val q = graft.streaming.DocStream.repetitionGate(mem.toDF())
      .writeStream.format("memory").queryName("rep_gate_test")
      .outputMode("append").start()
    try {
      val rows = lined.collect().map(r =>
        StreamingSpec.LinedDoc(r.getLong(0), r.getString(1), r.getString(2)))
      mem.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      val streamed = spark.table("rep_gate_test").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(streamed == batchKept,
        "streaming gate must admit exactly the batch gate's documents")
      val ops = q.lastProgress.stateOperators
      assert(ops == null || ops.isEmpty,
        s"gate must be stateless, found state operators: ${ops.mkString(",")}")
    } finally q.stop()
  }

  // event set exercising every funnel edge: in-batch disorder, a
  // click at EXACTLY the signup ts (strict inequality must reject),
  // a purchase before its click (rejected), a user who never signs up
  private val funnelEvents = Seq(
    Event(1L, ts(0, 10), 1L, "signup", 0.0),
    Event(2L, ts(0, 10), 1L, "click", 0.0), // equal ts: NOT after
    Event(3L, ts(0, 20), 1L, "click", 0.0),
    Event(4L, ts(0, 15), 1L, "purchase", 0.0), // before click_ts
    Event(5L, ts(0, 25), 1L, "purchase", 0.0),
    Event(6L, ts(0, 5), 2L, "click", 0.0), // clicks, never signs up
    Event(7L, ts(0, 30), 2L, "signup", 0.0),
    Event(8L, ts(0, 40), 3L, "signup", 0.0),
    Event(9L, ts(0, 50), 3L, "click", 0.0))

  test("funnelState batch run equals EventOps.funnel's min-chain") {
    def counts(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
    val viaState = EventStream.funnelState(funnelEvents.toDF())
      .agg(count($"signup_ts").as("n_signup"),
        count($"click_ts").as("n_click_after"),
        count($"purchase_ts").as("n_purchase_after"))
    val viaAgg = graft.operators.EventOps.funnel(funnelEvents.toDF())
    assert(counts(viaState) == counts(viaAgg))
    assert(counts(viaState) == ((3L, 2L, 1L)),
      "u1 completes, u2's pre-signup click doesn't count, u3 stops at click")
  }

  test("attributionState batch run equals the relational window form") {
    val e = Seq(
      Event(1L, ts(0, 0), 1L, "click", 0.0),
      Event(2L, ts(0, 30), 1L, "purchase", 0.0), // within 1h → attributed
      Event(3L, ts(3, 0), 1L, "purchase", 0.0),  // stale → organic
      Event(4L, ts(1, 0), 2L, "purchase", 0.0),  // never clicked
      Event(5L, ts(2, 0), 2L, "click", 0.0),     // click after the fact
      Event(6L, ts(4, 0), 3L, "click", 0.0),
      Event(7L, ts(4, 0), 3L, "purchase", 0.0))  // same-ts, click id lower
    val viaState = graft.operators.EventOps
      .attributionDaily(EventStream.attributionState(e.toDF()))
      .collect().map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val viaWindow = graft.operators.EventOps.lastTouchAttribution(e.toDF())
      .collect().map(r => r.getDate(0).toString ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(viaState == viaWindow, s"$viaState vs $viaWindow")
    assert(viaState("2024-01-01") == ((4L, 2L, 0.5)), s"got $viaState")
  }

  test("attributionState equals the window form on random event sets") {
    // seeded random events over a SMALL (user, second) domain so
    // same-timestamp click/purchase collisions — the frame-edge tie
    // cases — occur constantly; the state fold and the relational
    // window must agree on every one of them
    val rnd = new scala.util.Random(7)
    val types = Seq("click", "purchase", "view", "signup")
    for (round <- 1 to 6) {
      val e = Seq.tabulate(60)(i => Event(
        i.toLong,
        ts(rnd.nextInt(4), rnd.nextInt(3) * 20),
        rnd.nextLong(3),
        types(rnd.nextInt(types.length)),
        0.0)).toDF()
      def m(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getDate(0).toString ->
          (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
      val viaState = m(graft.operators.EventOps
        .attributionDaily(EventStream.attributionState(e)))
      val viaWindow = m(graft.operators.EventOps.lastTouchAttribution(e))
      assert(viaState == viaWindow,
        s"round $round: $viaState vs $viaWindow")
    }
  }

  test("attributionState carries click state across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.attributionState(mem.toDF()).writeStream
      .format("memory").queryName("attr_rows").outputMode("append").start()
    def rows(): Seq[(Long, Boolean)] = {
      q.processAllAvailable()
      spark.table("attr_rows").collect()
        .map(r => (r.getLong(0), r.getBoolean(2))).toSeq
    }
    try {
      mem.addData(Event(1L, ts(0, 10), 1L, "click", 0.0))
      assert(rows().isEmpty, "clicks alone emit nothing")
      // the purchase arrives in a LATER batch — state must remember
      mem.addData(Event(2L, ts(0, 40), 1L, "purchase", 0.0))
      assert(rows() == Seq((1L, true)), "cross-batch click attributes")
      mem.addData(Event(3L, ts(5, 0), 1L, "purchase", 0.0))
      assert(rows().toSet == Set((1L, true), (1L, false)),
        "a stale click no longer attributes")
    } finally q.stop()
  }

  test("funnelState progresses stages across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.funnelState(mem.toDF()).writeStream
      .format("memory").queryName("funnel_rows").outputMode("update").start()
    def stage(): (Boolean, Boolean, Boolean) = {
      q.processAllAvailable()
      // update-mode memory sink appends; last emission per user wins
      val r = spark.table("funnel_rows").collect().zipWithIndex
        .filter(_._1.getLong(0) == 1L).maxBy(_._2)._1
      (!r.isNullAt(1), !r.isNullAt(2), !r.isNullAt(3))
    }
    try {
      // batch 1 arrives out of order WITHIN the batch: the sort puts
      // the signup first, so the click still chains off it
      mem.addData(
        Event(2L, ts(0, 20), 1L, "click", 0.0),
        Event(1L, ts(0, 10), 1L, "signup", 0.0))
      assert(stage() == ((true, true, false)))
      // purchase at exactly click_ts fails the STRICT transition
      mem.addData(Event(3L, ts(0, 20), 1L, "purchase", 0.0))
      assert(stage() == ((true, true, false)))
      mem.addData(Event(4L, ts(0, 45), 1L, "purchase", 0.0))
      assert(stage() == ((true, true, true)), "stage completes batch 3")
    } finally q.stop()
  }

  test("sessionize batch run equals the lag+cumsum assignment at µs boundaries") {
    // seeded events whose gaps land ON and 1 µs around the 30-min
    // boundary — the cases a truncated-precision fold would misfile;
    // integer values keep the per-session sums float-exact so the
    // comparison is equality, not tolerance
    val rnd = new scala.util.Random(11)
    val gapUs = 30L * 60000000L
    for (round <- 1 to 5) {
      val events = Seq.tabulate(60) { i =>
        val us = rnd.nextInt(6).toLong * gapUs + (rnd.nextInt(3) - 1).toLong
        Event(i.toLong,
          LocalDateTime.of(2024, 1, 1, 0, 0).plusNanos(us * 1000L),
          rnd.nextLong(3), "click", rnd.nextInt(5).toDouble)
      }
      def m(df: org.apache.spark.sql.DataFrame) = df
        .select("user_id", "session_seq", "session_start", "session_end",
          "num_events", "total_value")
        .collect().map(_.toSeq).toSet
      val byStart = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("session_start")
      val viaState = m(EventStream.sessionize(events.toDS()).toDF()
        .withColumn("session_seq", row_number().over(byStart).cast("long")))
      val viaWindow = m(graft.operators.EventOps.sessionize(events.toDF()))
      assert(viaState == viaWindow, s"round $round: $viaState vs $viaWindow")
    }
  }

  test("firstSeenState batch run equals the relational first-seen join") {
    val rnd = new scala.util.Random(23)
    for (round <- 1 to 5) {
      val events = Seq.tabulate(80)(i => Event(
        i.toLong,
        LocalDateTime.of(2024, 1, 1 + rnd.nextInt(5), rnd.nextInt(24), rnd.nextInt(60), 0),
        rnd.nextLong(6), "view", 0.0)).toDF()
      def m(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getDate(0).toString ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      val viaState = m(graft.operators.EventOps.activeDayDaily(
        EventStream.firstSeenState(events)))
      val viaJoin = m(graft.operators.EventOps.newVsReturning(events))
      assert(viaState == viaJoin, s"round $round: $viaState vs $viaJoin")
    }
  }

  test("firstSeenState keeps is_new stable across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.firstSeenState(mem.toDF()).writeStream
      .format("memory").queryName("fs_rows").outputMode("append").start()
    def rows(): Set[(Long, String, Boolean)] = {
      q.processAllAvailable()
      spark.table("fs_rows").collect()
        .map(r => (r.getLong(0), r.getDate(1).toString, r.getBoolean(2))).toSet
    }
    try {
      mem.addData(Event(1L, ts(10, 0), 1L, "view", 0.0))
      assert(rows() == Set((1L, "2024-01-01", true)), "first day is new")
      // same day again in a later batch: re-emitted with the SAME flag
      mem.addData(Event(2L, ts(11, 0), 1L, "view", 0.0))
      assert(rows() == Set((1L, "2024-01-01", true)),
        "re-emission collapses under distinct with a stable flag")
      // a later day is returning; a fresh user starts new
      mem.addData(
        Event(3L, LocalDateTime.of(2024, 1, 2, 9, 0, 0), 1L, "view", 0.0),
        Event(4L, LocalDateTime.of(2024, 1, 2, 9, 0, 0), 2L, "view", 0.0))
      assert(rows() == Set(
        (1L, "2024-01-01", true), (1L, "2024-01-02", false),
        (2L, "2024-01-02", true)), "returning vs new split per user")
    } finally q.stop()
  }

  test("botState: window spanning micro-batches closes; batch run matches lag form") {
    implicit val sqlCtx = spark.sqlContext
    val events = Seq(
      Event(1L, ts(0, 5), 1L, "click", 1.0),
      Event(2L, ts(0, 6), 1L, "click", 1.0),
      Event(3L, ts(0, 7), 1L, "click", 1.0), // 3-window span 120 s
      Event(4L, ts(0, 30), 2L, "click", 1.0),
      Event(5L, ts(2, 30), 2L, "click", 1.0),
      Event(6L, ts(4, 30), 2L, "click", 1.0)) // span 4 h — clean
    val mem = MemoryStream[Event]
    val q = EventStream.botState(mem.toDF(), burstEvents = 3,
        maxSpanSeconds = 150L)
      .writeStream.format("memory").queryName("bot_state")
      .outputMode("update").start()
    try {
      mem.addData(events.take(2): _*)
      q.processAllAvailable()
      mem.addData(events.drop(2): _*) // the tight window spans batches
      q.processAllAvailable()
      // n_events is monotone — the max-n row per user is final state
      val fin = spark.table("bot_state").collect()
        .map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3)))
        .groupBy(_._1).map { case (u, rs) => u -> rs.maxBy(_._2) }
      assert(fin(1L) == ((1L, 3L, Some(120000000L), true)), s"got $fin")
      assert(fin(2L) == ((2L, 3L, Some(14400000000L), false)), s"got $fin")
      // batch run of the SAME code path equals the lag-window operator
      val batchDf = events.toDF()
      val a = EventStream.botState(batchDf, burstEvents = 3, maxSpanSeconds = 150L)
        .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3))).toSet
      val b = graft.operators.EventOps.burstFlags(batchDf, burstEvents = 3,
          maxSpanSeconds = 150L)
        .collect().map(r => (r.getLong(0), r.getLong(1), Option(r.get(2)), r.getBoolean(3))).toSet
      assert(a == b, s"stream/batch divergence: $a vs $b")
    } finally q.stop()
  }

  test("deseasonalizedGate scores streamed hours against the static profile") {
    implicit val sqlCtx = spark.sqlContext
    // history: the Monday-10:00 slot across four weeks with counts
    // 1, 2, 3, 2 → m = 2, v = 0.5; every other slot is all-zero in
    // the spine → v = 0 → never scored
    val hist = Seq(
      (1L, LocalDateTime.of(2024, 1, 1, 10, 30, 0)),
      (2L, LocalDateTime.of(2024, 1, 8, 10, 10, 0)),
      (3L, LocalDateTime.of(2024, 1, 8, 10, 40, 0)),
      (4L, LocalDateTime.of(2024, 1, 15, 10, 5, 0)),
      (5L, LocalDateTime.of(2024, 1, 15, 10, 25, 0)),
      (6L, LocalDateTime.of(2024, 1, 15, 10, 45, 0)),
      (7L, LocalDateTime.of(2024, 1, 22, 10, 15, 0)),
      (8L, LocalDateTime.of(2024, 1, 22, 10, 35, 0)))
      .map { case (id, t) => Event(id, t, 1L, "click", 1.0) }
      .toDF()
    val profile = graft.operators.EventOps.slotProfile(hist)
    val mem = MemoryStream[Event]
    val q = EventStream.deseasonalizedGate(mem.toDF(), profile)
      .writeStream.format("memory").queryName("deseason_gate")
      .outputMode("append").start()
    try {
      // next Monday 10:00 spikes to 10 events; the 14:00 straggler
      // advances the watermark past the window end so it emits
      val spike = (0 until 10).map(i => Event(100L + i,
        LocalDateTime.of(2024, 1, 29, 10, i, 0), 1L, "click", 1.0))
      mem.addData(spike: _*)
      q.processAllAvailable()
      mem.addData(Event(200L, LocalDateTime.of(2024, 1, 29, 14, 0, 0),
        1L, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("deseason_gate").collect()
      assert(rows.length == 1, s"exactly the spike hour: ${rows.toSeq}")
      val r = rows.head
      assert(r.getLong(1) == 10L && r.getDouble(4) == 2.0, s"spike row: $r")
      assert(math.abs(r.getDouble(5) - 8.0 / math.sqrt(0.5)) < 1e-9,
        s"z = (10-2)/sqrt(0.5): $r")
    } finally q.stop()
  }

  test("sampleState: bounded reservoir converges to the batch sample") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocStream
    val allDocs = (1L to 40L).map(id =>
      StreamingSpec.SrcDoc(id, if (id % 2 == 0) "even" else "odd"))
    val mem = MemoryStream[StreamingSpec.SrcDoc]
    val q = DocStream.sampleState(mem.toDF(), k = 3)
      .writeStream.format("memory").queryName("sample_state")
      .outputMode("update").start()
    try {
      mem.addData(allDocs.take(10): _*)
      q.processAllAvailable()
      // mid-stream the sample is already a valid k-sample of what
      // arrived: the batch operator over the same prefix agrees
      def current(): Set[(String, Long, Long)] = {
        // update mode re-emits; latest emission per (source, rank) wins
        val rows = spark.table("sample_state").collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        rows.zipWithIndex.groupBy { case ((s, rank, _), _) => (s, rank) }
          .map { case (_, vs) => vs.maxBy(_._2)._1 }.toSet
      }
      val prefixBatch = graft.operators.Sampling.uniformKPerStratum(
        allDocs.take(10).toDF(), "doc_id", "source", k = 3)
        .select("source", "sample_rank", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(current() == prefixBatch, s"mid-stream sample invalid: ${current()}")
      // the rest arrives (plus a duplicate — set semantics absorb it)
      mem.addData(allDocs.drop(10) :+ allDocs.head: _*)
      q.processAllAvailable()
      val fullBatch = graft.operators.Sampling.uniformKPerStratum(
        allDocs.toDF(), "doc_id", "source", k = 3)
        .select("source", "sample_rank", "doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(current() == fullBatch, s"final sample diverged: ${current()}")
    } finally q.stop()
  }

  test("slidingActives: a user reaches every window covering its day, refined across batches") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.slidingActives(mem.toDF(), windowDays = 3,
        slideDays = 1)
      .writeStream.format("memory").queryName("sliding_actives")
      .outputMode("update").start()
    try {
      mem.addData(Event(1L, ts(0, 0), 1L, "click", 1.0))
      q.processAllAvailable()
      mem.addData(Event(2L, ts(0, 30), 2L, "click", 1.0))
      q.processAllAvailable()
      // update mode re-emits; latest emission per window wins
      val rows = spark.table("sliding_actives").collect()
        .map(r => (r.getTimestamp(0), r.getLong(2)))
      val latest = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (w, vs) => w -> vs.maxBy(_._2)._1._2 }
      // day-grain slide over a 3-day window: both events fall on one
      // day → exactly 3 windows, each now counting BOTH users
      assert(latest.size == 3, s"3 covering windows expected: $latest")
      assert(latest.values.forall(_ == 2L),
        s"second batch must refine every window to 2: $latest")
    } finally q.stop()
  }

  test("dqProfileState: counters accumulate across batches, nulls counted") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Option[Double])]
    val q = EventStream.dqProfileState(
        mem.toDF().toDF("event_id", "event_type", "value"),
        Seq("event_type", "value"))
      .writeStream.format("memory").queryName("dq_live")
      .outputMode("update").start()
    try {
      mem.addData((1L, "click", Some(1.0)), (2L, "view", Some(2.0)))
      q.processAllAvailable()
      mem.addData((3L, "click", None), (4L, "buy", Some(1.0)))
      q.processAllAvailable()
      // update mode re-emits; the latest emission per column wins
      val rows = spark.table("dq_live").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val latest = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (_, vs) => vs.maxBy(t => (t._1._2, t._2))._1 }
        .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
      assert(latest("event_type") == ((4L, 0L, 3L)),
        s"type profile after two batches: $latest")
      // value: 4 rows, 1 null, 2 distinct non-null values (1.0, 2.0)
      assert(latest("value") == ((4L, 1L, 2L)), s"value profile: $latest")
    } finally q.stop()
  }

  // r18 chaos specs (verdict #7): the streaming calibration family —
  // the one family whose bench moved in r17 — must survive a
  // kill-and-recover. The query stops with a batch IN FLIGHT (data
  // added, never processed), a NEW query resumes from the same
  // checkpoint, and the recovered state must make the final emission
  // equal the BATCH twin over all data — including the HLL state,
  // whose sketch recovery has to be bit-faithful for the counts to
  // match exactly.

  test("dqProfileState: kill with a batch in flight, recover from " +
    "checkpoint — final rows equal the batch twin, exactly once") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Option[Double])]
    val src = mem.toDF().toDF("event_id", "event_type", "value")
    val chk = java.nio.file.Files
      .createTempDirectory("graft_dq_chaos").toString
    // the memory sink refuses checkpoint recovery; foreachBatch is
    // the restartable sink — latest emission per column wins
    val got = scala.collection.concurrent.TrieMap
      .empty[String, (Long, Long, Long, Double)]
    def start() = EventStream.dqProfileState(src,
        Seq("event_type", "value"))
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got(r.getString(0)) =
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      }
      .option("checkpointLocation", chk)
      .outputMode("update").start()
    val batch1 = Seq((1L, "click", Some(1.0)), (2L, "view", Some(2.0)))
    val batch2 = Seq((3L, "click", None), (4L, "buy", Some(1.0)),
      (5L, "view", Some(2.0)))
    val q1 = start()
    try {
      mem.addData(batch1: _*)
      q1.processAllAvailable()
    } finally q1.stop()
    // the crash: batch2 lands while NO query runs — on restart it is
    // unprocessed input the recovered query must fold exactly once
    mem.addData(batch2: _*)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val batchTwin = EventStream.dqProfileState(
          (batch1 ++ batch2).toDF("event_id", "event_type", "value"),
          Seq("event_type", "value"))
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          r.getLong(3), r.getDouble(4)))).toMap
      assert(got.toMap == batchTwin,
        s"recovered fold must equal the batch twin (HLL state " +
          s"included): stream=${got.toMap} batch=$batchTwin")
    } finally q2.stop()
  }

  test("slidingActives: kill with a batch in flight, recover from " +
    "checkpoint — per-window actives equal the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val chk = java.nio.file.Files
      .createTempDirectory("graft_sla_chaos").toString
    val got = scala.collection.concurrent.TrieMap.empty[String, Long]
    def start() = EventStream.slidingActives(mem.toDF(),
        windowDays = 3, slideDays = 1)
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        // CAST normalizes the window key's rendering (the stream
        // plans ts as TimestampType, the batch twin as ntz)
        b.selectExpr("CAST(window_start AS STRING) AS w", "active_users")
          .collect().foreach(r => got(r.getString(0)) = r.getLong(1))
      }
      .option("checkpointLocation", chk)
      .outputMode("update").start()
    val batch1 = Seq(Event(1L, ts(0, 0), 1L, "click", 1.0),
      Event(2L, ts(0, 30), 2L, "click", 1.0))
    val batch2 = Seq(Event(3L, ts(1, 0), 3L, "view", 1.0),
      Event(4L, ts(2, 0), 1L, "buy", 1.0))
    val q1 = start()
    try {
      mem.addData(batch1: _*)
      q1.processAllAvailable()
    } finally q1.stop()
    mem.addData(batch2: _*)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val batchTwin = EventStream.slidingActives(
          (batch1 ++ batch2).toDF(), windowDays = 3, slideDays = 1)
        .selectExpr("CAST(window_start AS STRING) AS w", "active_users")
        .collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // update mode re-emits refined windows; batch-1-only windows
      // keep their recovered HLL counts — every window the batch
      // twin knows must match, and no extra windows may exist
      assert(got.toMap == batchTwin,
        s"recovered windows must equal the batch twin: " +
          s"stream=${got.toMap} batch=$batchTwin")
    } finally q2.stop()
  }

  test("feedLastSeen: per-feed watermark accumulates; dead feed flags on poll") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, String)]
    val src = mem.toDF().toDF("event_id", "t", "event_type")
      .withColumn("ts", col("t").cast("timestamp"))
    val q = EventStream.feedLastSeen(src)
      .writeStream.format("memory").queryName("feed_seen")
      .outputMode("update").start()
    try {
      mem.addData((1L, "2024-01-01 10:00:00", "click"),
        (2L, "2024-01-01 11:00:00", "buy"))
      q.processAllAvailable()
      // batch 2: only click advances — buy's state must persist
      mem.addData((3L, "2024-01-05 09:00:00", "click"))
      q.processAllAvailable()
      val rows = spark.table("feed_seen").collect()
        .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
      val latest = rows.zipWithIndex.groupBy(_._1._1)
        .map { case (_, vs) => vs.maxBy(_._2)._1 }
        .map(t => t._1 -> ((t._2, t._3))).toMap
      assert(latest("click") == (("2024-01-05", 2L)), s"click: $latest")
      assert(latest("buy") == (("2024-01-01", 1L)), s"buy: $latest")
    } finally q.stop()
    // the poll-side comparison over the same data: buy is 4 days
    // behind click → stale at the 2-day default, click is fresh
    import spark.implicits._
    val batch = Seq((1L, "2024-01-01 10:00:00", "click"),
      (2L, "2024-01-01 11:00:00", "buy"), (3L, "2024-01-05 09:00:00", "click"))
      .toDF("event_id", "t", "event_type")
      .withColumn("ts", col("t").cast("timestamp"))
    val cmp = EventStream.feedFreshnessState(batch).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getBoolean(4)))).toMap
    assert(cmp("click") == ((0L, false)) && cmp("buy") == ((4L, true)),
      s"poll comparison: $cmp")
  }

  test("capState: quota spans batches, straggler dropped after fill, batch ≡ window") {
    implicit val sqlCtx = spark.sqlContext
    import graft.streaming.DocStream
    val mem = MemoryStream[StreamingSpec.SrcDoc]
    val q = DocStream.capState(mem.toDF(), cap = 3L)
      .writeStream.format("memory").queryName("cap_state")
      .outputMode("append").start()
    try {
      // batch 1: two 'a' docs admitted (ranks 1, 2), one 'b'
      mem.addData(StreamingSpec.SrcDoc(10L, "a"), StreamingSpec.SrcDoc(5L, "a"),
        StreamingSpec.SrcDoc(7L, "b"))
      q.processAllAvailable()
      // batch 2: 'a' fills its third slot with id 20; id 30 is over
      // quota; the straggler id 1 (smaller than every admitted id)
      // arrives after the fill and must be DROPPED, not reshuffled in
      mem.addData(StreamingSpec.SrcDoc(20L, "a"), StreamingSpec.SrcDoc(30L, "a"))
      q.processAllAvailable()
      mem.addData(StreamingSpec.SrcDoc(1L, "a"), StreamingSpec.SrcDoc(2L, "b"))
      q.processAllAvailable()
      val got = spark.table("cap_state").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == Set(
        ("a", 1L, 5L), ("a", 2L, 10L), ("a", 3L, 20L),
        ("b", 1L, 7L), ("b", 2L, 2L)), s"admissions: $got")
    } finally q.stop()
    // batch fold over an in-order corpus reproduces the window form
    val docs = (1L to 25L).map(id =>
      StreamingSpec.SrcDoc(id, if (id % 2 == 0) "even" else "odd")).toDF()
    val fold = DocStream.capState(docs, cap = 4L).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    import org.apache.spark.sql.expressions.Window
    val win = docs.withColumn("admit_rank", row_number().over(
        Window.partitionBy("source").orderBy("doc_id")).cast("long"))
      .filter(col("admit_rank") <= 4)
      .select("source", "admit_rank", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(fold == win, s"batch fold diverged from the window form: $fold")
  }

  test("botState disorder: a straggler at or before the cursor is dropped") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = EventStream.botState(mem.toDF(), burstEvents = 3,
        maxSpanSeconds = 150L)
      .writeStream.format("memory").queryName("bot_chaos")
      .outputMode("update").start()
    try {
      mem.addData(Event(1L, ts(0, 5), 1L, "click", 1.0),
        Event(2L, ts(0, 6), 1L, "click", 1.0))
      q.processAllAvailable()
      // straggler OLDER than the cursor (0:06): documented drop — it
      // must not count, and must not corrupt the ascending tail
      mem.addData(Event(9L, ts(0, 3), 1L, "click", 1.0))
      q.processAllAvailable()
      val afterStraggler = spark.table("bot_chaos").collect()
        .map(r => (r.getLong(1), Option(r.get(2)))).maxBy(_._1)
      assert(afterStraggler == ((2L, None)),
        s"straggler must be dropped, not folded: $afterStraggler")
      // the next on-time event closes the window over TRUE history
      mem.addData(Event(3L, ts(0, 7), 1L, "click", 1.0))
      q.processAllAvailable()
      val fin = spark.table("bot_chaos").collect()
        .map(r => (r.getLong(1), Option(r.get(2)), r.getBoolean(3))).maxBy(_._1)
      assert(fin == ((3L, Some(120000000L), true)), s"final: $fin")
    } finally q.stop()
  }

  test("stream ANN probe: per-micro-batch index probe = batch probe, zero state") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val base = java.nio.file.Files.createTempDirectory("graft_ann_stream").toString
    val corpus = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    graft.operators.AnnIndex.buildIvf(corpus, s"$base/ivf")
    val queries = corpus.filter(col("vec_id") % 10 === 0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = pairs(graft.operators.AnnIndex.probeIvf(
      spark, s"$base/ivf", queries, k = 10, nprobe = 12))
    assert(batch.nonEmpty)
    // the driver key's replay (two hash-split micro-batches, unioned)
    // is row-identical — batch-split invariance
    assert(pairs(graft.streaming.AnnStream.probeReplay(
      spark, s"$base/ivf", queries, k = 10, nprobe = 12)) == batch)
    // the live path: MemoryStream batches through the foreachBatch
    // kernel, including a deliberately EMPTY final micro-batch (a
    // quiet serving interval must not break the probe)
    val mem = MemoryStream[StreamingSpec.Vec]
    val got = scala.collection.mutable.Set.empty[(Long, Long)]
    val q = graft.streaming.AnnStream.probeSink(
      mem.toDF(), s"$base/ivf", k = 10, nprobe = 12) { b =>
        got ++= b.collect().map(r => (r.getLong(0), r.getLong(1)))
      }
    try {
      val rows = queries.select("vec_id", "embedding").collect()
        .map(r => StreamingSpec.Vec(r.getLong(0), r.getSeq[Float](1)))
      mem.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      assert(got.toSet == batch,
        s"stream must reproduce the batch probe: ${got.size} vs ${batch.size}")
      val ops = q.lastProgress.stateOperators
      assert(ops == null || ops.isEmpty || ops.forall(_.numRowsTotal == 0),
        s"the probe must keep zero state: ${Option(ops).map(_.mkString(",")).getOrElse("")}")
    } finally q.stop()
  }

  test("stream entity intake: per-micro-batch attach = batch attach, zero state") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    import graft.operators.EntityResolution
    val customer = spark.read
      .parquet("/root/testdata/sf0.001/customer.parquet")
    val recs = EntityResolution.synthCrmCorpus(customer).localCheckpoint(true)
    val hist = recs
      .filter((col("rec_id") % 4).isin(0L, 2L) && col("rec_id") % 28 =!= 0)
    val store = EntityResolution.entityStore(hist,
      EntityResolution.entityGroups(hist, EntityResolution.entityPairs(hist)))
      .localCheckpoint(true)
    val delta = recs
      .filter((col("rec_id") % 4).isin(1L, 3L) || col("rec_id") % 28 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val batch = rows(EntityResolution.attachToStore(delta, store))
    assert(batch.nonEmpty && batch.exists(_._3) && batch.exists(!_._3),
      "fixture must exercise both attach and found-new paths")
    // the driver key's two-batch replay is row-identical
    assert(rows(graft.streaming.EntityStream.attachReplay(delta, store)) == batch)
    // the live path, with an empty final micro-batch (quiet intake)
    val mem = MemoryStream[StreamingSpec.CrmRec]
    val got = scala.collection.mutable.Set.empty[(Long, Long, Boolean)]
    val q = graft.streaming.EntityStream.attachSink(mem.toDF(), store) { b =>
      got ++= b.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    }
    try {
      val drows = delta.collect().map(r => StreamingSpec.CrmRec(
        r.getLong(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getDouble(4)))
      mem.addData(drows.take(drows.length / 2): _*)
      q.processAllAvailable()
      mem.addData(drows.drop(drows.length / 2): _*)
      q.processAllAvailable()
      q.processAllAvailable()
      assert(got.toSet == batch,
        s"stream must reproduce the batch attach: ${got.size} vs ${batch.size}")
      val ops = q.lastProgress.stateOperators
      assert(ops == null || ops.isEmpty || ops.forall(_.numRowsTotal == 0),
        s"the attach must keep zero state: ${Option(ops).map(_.mkString(",")).getOrElse("")}")
    } finally q.stop()
  }

  test("stream rtbf gate: forgotten users' arriving events never pass, " +
    "zero state, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val events = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    val forgotten = events.filter(col("user_id") % 53 === 3)
      .select("user_id").localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.getLong(0)).toSet
    val batch = rows(graft.streaming.EventStream.rtbfGate(events, forgotten))
    assert(batch.nonEmpty && batch.size < events.count(),
      "fixture must both pass and drop events")
    assert(rows(graft.streaming.EventStream.rtbfGateReplay(events, forgotten))
      == batch)
    // the live path: a real stream-static anti-join
    val mem = MemoryStream[StreamingSpec.GateEvent]
    val q = graft.streaming.EventStream.rtbfGate(mem.toDF(), forgotten)
      .writeStream.format("memory").queryName("rtbf_gate")
      .outputMode("append").start()
    try {
      val evs = events.select("event_id", "user_id", "event_type", "value")
        .collect().map(r => StreamingSpec.GateEvent(r.getLong(0),
          r.getLong(1), r.getString(2), r.getDouble(3)))
      mem.addData(evs.take(evs.length / 2): _*)
      q.processAllAvailable()
      mem.addData(evs.drop(evs.length / 2): _*)
      q.processAllAvailable()
      assert(rows(spark.table("rtbf_gate")) == batch,
        "stream must pass exactly the batch survivors")
      val ops = q.lastProgress.stateOperators
      assert(ops == null || ops.isEmpty || ops.forall(_.numRowsTotal == 0),
        "the gate must keep zero state")
    } finally q.stop()
  }

  test("stream CMS: live counters equal the batch sketch, state is " +
    "CAPPED at depth x width no matter the vocabulary") {
    implicit val sqlCtx = spark.sqlContext
    import graft.operators.CountMin
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    def counters(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    val batch = counters(CountMin.sketch(docs))
    assert(batch.nonEmpty)
    // the driver key's replay (two partial sketches, summed) is
    // counter-identical — the state-update rule is associative
    assert(counters(graft.streaming.SketchStream.sketchReplay(docs)) == batch)
    // the live path: a real streaming aggregation in complete mode
    val mem = MemoryStream[StreamingSpec.Doc]
    val q = CountMin.sketch(mem.toDF())
      .writeStream.format("memory").queryName("cms_live")
      .outputMode("complete").start()
    try {
      val rows = docs.select("doc_id", "text").collect()
        .map(r => StreamingSpec.Doc(r.getLong(0), r.getString(1)))
      mem.addData(rows.take(rows.length / 2): _*)
      q.processAllAvailable()
      mem.addData(rows.drop(rows.length / 2): _*)
      q.processAllAvailable()
      assert(counters(spark.table("cms_live")) == batch,
        "live counters must equal the one-pass batch sketch")
      val ops = q.lastProgress.stateOperators
      assert(ops != null && ops.nonEmpty, "the sketch IS stateful")
      val cap = (CountMin.Depth * CountMin.Width).toLong
      assert(ops.forall(_.numRowsTotal <= cap),
        s"state must stay within depth*width = $cap rows: " +
          ops.map(_.numRowsTotal).mkString(","))
    } finally q.stop()
  }

  test("orphan chaos: a doc split across micro-batches emits at most " +
    "once per gate, and every dropped orphan row is counted") {
    // simulate the atomicity violation directly against the extracted
    // folds (r16): batch 1 carries only the doc's MATCHED rows (its
    // base row went elsewhere), batch 2 carries the base row. The
    // guard must (a) emit ZERO rows for the orphan batch — no
    // duplicate doc_id under the violated contract — (b) count every
    // dropped row, (c) still emit exactly once when the base arrives.
    import graft.streaming.DocStream
    val gateOrphans = spark.sparkContext.longAccumulator("chaos_gate")
    val orphanBatch = Array(
      DocStream.DupGateEv(7L, "web", 0L, 0, Seq(3, 3, 3)),
      DocStream.DupGateEv(7L, "web", 0L, 4, Seq(3, 3, 3)))
    assert(DocStream.dupGateFold(7L, orphanBatch, 0.5, gateOrphans).isEmpty,
      "matched-only group must not emit a duplicate doc_id row")
    assert(gateOrphans.value === 2L, "both orphan rows must be counted")
    val baseBatch = Array(
      DocStream.DupGateEv(7L, "web", 30L, -1, Nil),
      DocStream.DupGateEv(7L, "web", 30L, 0, Seq(3, 3, 3)))
    val emitted = DocStream.dupGateFold(7L, baseBatch, 0.5, gateOrphans).toSeq
    assert(emitted.map(r => (r.doc_id, r.dup_chars, r.keep)) ===
      Seq((7L, 9L, true)), s"base batch emits exactly once: $emitted")
    assert(gateOrphans.value === 2L,
      "a complete group must not touch the orphan counter")
    // the scrub twin: same guard, same accounting
    val scrubOrphans = spark.sparkContext.longAccumulator("chaos_scrub")
    assert(DocStream.dupScrubFold(7L,
        Array(DocStream.ScrubEv(7L, "web", Nil, 0)), 2, scrubOrphans).isEmpty)
    assert(scrubOrphans.value === 1L)
    val scrubbed = DocStream.dupScrubFold(7L, Array(
        DocStream.ScrubEv(7L, "web", Seq("a", "b", "c", "d"), -1),
        DocStream.ScrubEv(7L, "web", Nil, 1)), 2, scrubOrphans).toSeq
    assert(scrubbed.map(r => (r.n_toks, r.n_toks_removed, r.clean_text)) ===
      Seq((4L, 2L, "a d")), s"scrub emits once with the covered cut: $scrubbed")
    assert(scrubOrphans.value === 1L)
  }
}

object StreamingSpec {
  final case class Doc(doc_id: Long, text: String)
  final case class Vec(vec_id: Long, embedding: Seq[Float])
  final case class SrcDoc(doc_id: Long, source: String)
  final case class LinedDoc(doc_id: Long, text: String, source: String)
  final case class CrmRec(rec_id: Long, raw_name: String, src: String,
                          nationkey: Long, acctbal: Double)
  final case class GateEvent(event_id: Long, user_id: Long,
                             event_type: String, value: Double)
}
