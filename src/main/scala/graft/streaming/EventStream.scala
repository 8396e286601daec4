package graft.streaming

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured-Streaming operators over the events stream
  * (SURVEY.md §2.G). Each transform is written against a plain
  * DataFrame so the SAME code path serves batch backfill (driver
  * oracle checks) and the live stream (MemoryStream specs) —
  * watermarking is the only streaming-specific step and is applied
  * only when the input is actually streaming.
  */
object EventStream extends Serializable {

  private def withWatermarkIfStreaming(events: DataFrame, watermark: String): DataFrame =
    if (events.isStreaming) {
      // watermarks require TIMESTAMP (ltz); sessions run in UTC so the
      // ntz→ltz cast is value-preserving
      events.withColumn("ts", col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
    } else events

  /** Watermarked tumbling 1-hour aggregate: window start/end kept as
    * plain columns. Batch twin of a `writeStream` hourly rollup.
    */
  def hourlyWindow(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    withWatermarkIfStreaming(events, watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("num_events"), sum("value").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("event_type"), col("num_events"), col("total_value"))

  /** Sliding-window distinct actives — the §2.G spelling of the
    * trailing-WAU series: `window(ts, 7d, 1d)` assigns each event to
    * the 7 epoch-aligned windows it keeps the user active for (the
    * engine-native form of the rolling-actives fan-out) and an HLL
    * sketch per window counts distinct users with FIXED state —
    * exact sliding distinct is impossible in a stream (the state
    * would be every user seen per window), so the approx form IS
    * the streaming contract, not a downgrade. State: one sketch ×
    * (windowDays/slideDays + 1) open windows; the watermark closes
    * windows and evicts. Batch fold over the corpus gives the full
    * window series (rows-only; ApproxSpec ties it to the exact
    * [[graft.operators.Analytics.rollingActiveUsers]] by aligning
    * `window_end − 1 day` to that key's `day`).
    */
  def slidingActives(events: DataFrame, windowDays: Int = 7,
                     slideDays: Int = 1, rsd: Double = 0.02,
                     watermark: String = "1 day"): DataFrame =
    withWatermarkIfStreaming(events, watermark)
      .groupBy(window(col("ts"), s"$windowDays days", s"$slideDays days"))
      .agg(approx_count_distinct(col("user_id"), rsd).as("active_users"),
        count(lit(1)).as("n_events"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("active_users"), col("n_events"))

  /** Watermarked daily partials of the A/B sufficient statistics —
    * the streaming STATE of the experimentation monitor. This is
    * exactly the two-level plan
    * [[graft.operators.EventOps.abTestSequential]] documents as its
    * streaming shape: events collapse to one row per (event_type,
    * day window) carrying the six conditional sums (n, Σv, Σv²) per
    * arm; the watermark closes a day and evicts its state, update
    * mode re-emits a day's row as late events land inside the
    * watermark. State is O(types · open days) — bounded, never the
    * fact stream. Arm assignment is the same portable md5 coin, so
    * the stream and the batch oracle agree bit-for-bit on WHO is in
    * which arm.
    */
  def abDailyPartials(events: DataFrame, salt: String = "ab42",
                      watermark: String = "1 day"): DataFrame = {
    val isA = graft.operators.Sampling
      .sampleKey(col("user_id"), salt) < lit("80000000")
    val va = when(col("is_a"), col("value")).otherwise(lit(0.0))
    val vb = when(!col("is_a"), col("value")).otherwise(lit(0.0))
    withWatermarkIfStreaming(events, watermark)
      .filter(col("ts").isNotNull)
      .select(col("ts"), col("event_type"), isA.as("is_a"), col("value"))
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("d_na"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("d_nb"),
        sum(va).as("d_sa"), sum(vb).as("d_sb"),
        sum(va * col("value")).as("d_qa"), sum(vb * col("value")).as("d_qb"))
      .select(col("window.start").cast("date").as("day"),
        col("event_type"),
        col("d_na"), col("d_nb"), col("d_sa"), col("d_sb"),
        col("d_qa"), col("d_qb"))
  }

  /** Consumer-side readout over the partial store: fold the daily
    * sufficient statistics per type and apply the SHARED Welch
    * closed form ([[graft.operators.EventOps.welchReadout]] — one
    * definition of the math for batch, sequential, and streaming).
    * The fold is O(types · days); the readout can run at any cadence
    * against the partials sink without touching an event.
    */
  def abReadoutFromPartials(partials: DataFrame): DataFrame =
    graft.operators.EventOps.welchReadout(
      partials.groupBy("event_type")
        .agg(sum("d_na").as("n_a"), sum("d_nb").as("n_b"),
          sum("d_sa").as("s_a"), sum("d_sb").as("s_b"),
          sum("d_qa").as("q_a"), sum("d_qb").as("q_b")),
      keyCols = Seq(col("event_type")))

  /** Batch fold of the full monitor: partials → readout, the driver
    * key / oracle twin of the streaming deployment. */
  def abReadout(events: DataFrame, salt: String = "ab42"): DataFrame =
    abReadoutFromPartials(abDailyPartials(events, salt))

  /** Stream-static enrichment: the event stream joined against a
    * slowly-changing dimension (customer segment), aggregated per
    * (segment, event_type). The static side broadcasts, so the
    * streaming micro-batches never shuffle for the join — the only
    * stateful piece is the running aggregate, whose key space is
    * |segments|×|event types| (tiny, bounded). Batch form is the
    * oracle twin; streaming runs in update mode.
    */
  def enrichedSegmentStats(events: DataFrame, customer: DataFrame): DataFrame =
    events
      .join(broadcast(customer.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy("c_mktsegment", "event_type")
      .agg(count(lit(1)).as("n_events"), sum("value").as("total_value"))

  /** ERASURE gate at stream intake (r15 — the prevention half of the
    * right-to-be-forgotten family: `etl_rtbf_apply` removes history,
    * this keeps an already-forgotten user's NEW events from ever
    * entering the lake, which the erasure obligation requires).
    * Stream-static broadcast ANTI-join against the deletion registry
    * — zero streaming state, no shuffle (the registry broadcasts;
    * at 100 TB the registry is user-grain and registry-sized, never
    * event-sized), and per-row independence gives batch-split
    * invariance, so the batch form is the oracle twin verbatim.
    */
  def rtbfGate(events: DataFrame, forgotten: DataFrame): DataFrame =
    events
      .join(broadcast(forgotten.select(col("user_id")).distinct()),
        Seq("user_id"), "left_anti")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"))

  /** Batch replay of [[rtbfGate]] as deterministic micro-batches
    * (the attachReplay convention) — exercises the batch-split
    * invariance that lets the stream share the batch oracle. */
  def rtbfGateReplay(events: DataFrame, forgotten: DataFrame,
                     batches: Int = 2): DataFrame =
    (0 until batches).map { i =>
      rtbfGate(events.filter(
        pmod(xxhash64(col("event_id")), lit(batches)) === i), forgotten)
    }.reduce(_ unionByName _)

  /** Watermark + dropDuplicates on event_id — exactly-once style
    * dedup with bounded state in streaming; plain distinct-by-key in
    * batch.
    */
  def dedupEvents(events: DataFrame, watermark: String = "2 hours"): DataFrame =
    withWatermarkIfStreaming(events, watermark)
      .dropDuplicates("event_id")
      .select("event_id", "ts", "user_id", "event_type", "value")

  /** Deduplication with bounded state via
    * `dropDuplicatesWithinWatermark`: duplicates are only guaranteed
    * dropped if they arrive within the watermark delay of the first
    * sighting — in exchange the state store evicts keys as the
    * watermark passes, so state is O(events per watermark window),
    * not O(all keys ever). The right dedup for infinite streams
    * where duplicates are produced close together (retries,
    * at-least-once sources). Batch form degenerates to exact
    * dropDuplicates (no watermark in batch).
    */
  def dedupEventsWithinWatermark(events: DataFrame,
                                 watermark: String = "2 hours"): DataFrame = {
    val src = withWatermarkIfStreaming(events, watermark)
    val deduped =
      if (src.isStreaming) src.dropDuplicatesWithinWatermark("event_id")
      else src.dropDuplicates("event_id")
    deduped.select("event_id", "ts", "user_id", "event_type", "value")
  }

  /** Stream-stream inner join: purchases enriched with the clicks
    * that preceded them within `windowMinutes` per user. Both sides
    * watermarked so the state store evicts — the interval condition
    * bounds how long a click stays buffered. Works identically in
    * batch (the watermarks no-op).
    */
  def purchaseClickJoin(events: DataFrame, windowMinutes: Int = 30,
                        watermark: String = "1 hour"): DataFrame = {
    val purchases = withWatermarkIfStreaming(
      events.filter(col("event_type") === "purchase"), watermark)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    val clicks = withWatermarkIfStreaming(
      events.filter(col("event_type") === "click"), watermark)
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
    purchases.join(clicks,
      col("user_id") === col("click_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES"))
      .select("purchase_id", "user_id", "purchase_ts", "purchase_value",
        "click_id", "click_ts")
  }

  /** Keyed stream-stream INTERVAL join: every event a user produces
    * within `windowSeconds` after their own `triggerType` event —
    * the streaming twin of
    * [[graft.operators.RangeJoin.eventImpactWindows]], scoped per
    * user so the join has an equi key (the stream-stream state store
    * partitions on it) and the interval condition bounds how long
    * either side stays buffered past the watermark. Works
    * identically in batch (watermarks no-op), which is what the
    * driver oracle checks.
    */
  def impactJoin(events: DataFrame, triggerType: String = "error",
                 windowSeconds: Long = 300L, watermark: String = "1 hour"): DataFrame = {
    val triggers = withWatermarkIfStreaming(
      events.filter(col("event_type") === triggerType), watermark)
      .select(col("event_id").as("window_id"), col("user_id").as("t_user"),
        col("ts").as("w_lo"))
    val points = withWatermarkIfStreaming(events, watermark)
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    triggers.join(points,
        col("user_id") === col("t_user") &&
          col("ts") >= col("w_lo") &&
          col("ts") < col("w_lo") + expr(s"INTERVAL $windowSeconds SECONDS"))
      .select(col("window_id"), col("event_id"), col("event_type"))
  }

  /** Native `session_window` aggregate (gap-based; window end = last
    * event + gap), watermarked when streaming — Catalyst merges
    * session state natively, so this is the declarative twin of
    * [[sessionize]]'s explicit state machine. Batch form matches
    * [[graft.operators.EventOps.sessionWindows]] exactly.
    */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int = 30,
                       watermark: String = "1 hour"): DataFrame =
    graft.operators.EventOps.sessionWindows(
      withWatermarkIfStreaming(events, watermark), gapMinutes)

  case class Event(event_id: Long, ts: LocalDateTime, user_id: Long,
                   event_type: String, value: Double)
  /** Internal event-time-in-MICROS form shared by batch and streaming
    * (public: encoder codegen needs an accessible constructor).
    * Full µs precision so the batch run of this code path is
    * value-identical to the lag+cumsum assignment — `unix_millis`
    * would truncate and flip sub-millisecond gap boundaries. */
  case class Ev(event_id: Long, ts_us: Long, user_id: Long, value: Double)
  case class SessionState(startUs: Long, lastUs: Long, n: Long, total: Double)
  case class Session(user_id: Long, session_start: LocalDateTime,
                     session_end: LocalDateTime, num_events: Long, total_value: Double)

  /** Stateful sessionization with `flatMapGroupsWithState`: a
    * session closes after `gapMinutes` of user inactivity. In
    * streaming the gap is enforced with `EventTimeTimeout` — the
    * watermark passing `last event + gap` flushes the trailing
    * session AND evicts the user's state, so the state store is
    * bounded by concurrently-active users, not by every user ever
    * seen. In batch, end-of-group flushes instead (timeouts never
    * fire in batch execution). State per user is O(1) —
    * start/last/count/sum. Event times are handled at full µs
    * precision (`unix_micros`; the state-store timeout API is ms, so
    * timeouts are registered at the ceiling millisecond).
    *
    * Cross-batch disorder contract (chaos-spec'd in StreamingSpec):
    * a straggler within `gap` of the open session's last event
    * merges exactly where the batch sort would have placed it
    * (start may extend backward; `last` never regresses — regressing
    * it would let the next on-time event silently split a live
    * session); a straggler older than `last − gap` belongs to an
    * already-flushed session, unreconstructable from O(1) state, and
    * is dropped — the same at-watermark contract as
    * [[scd2State]]/[[cdcState]].
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30,
                 watermark: String = "1 hour"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val gapUs = gapMinutes * 60000000L
    // hoisted: capturing the Dataset itself in the closure would fail
    // task serialization
    val isStreamingInput = events.isStreaming

    def toSession(userId: Long, s: SessionState): Session =
      Session(userId, usToLdt(s.startUs), usToLdt(s.lastUs), s.n, s.total)

    def fn(userId: Long, it: Iterator[Ev],
           state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        // watermark passed last+gap with no new events: flush + evict
        val s = state.get
        state.remove()
        return Iterator.single(toSession(userId, s))
      }
      val sorted = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
      var cur = state.getOption
      val out = scala.collection.mutable.ArrayBuffer.empty[Session]
      sorted.foreach { e =>
        cur match {
          // cross-batch straggler older than the open session's reach
          // minus the gap: it belongs to an already-flushed session —
          // unreconstructable from O(1) state — DROPPED, the same
          // documented at-watermark contract as scd2State/cdcState.
          // (In batch the group arrives in one sorted call, so this
          // arm never fires and the lag+cumsum equality is untouched.)
          case Some(s) if e.ts_us < s.lastUs - gapUs => ()
          case Some(s) if e.ts_us - s.lastUs <= gapUs =>
            // a WITHIN-gap straggler merges exactly as the batch sort
            // would have placed it: start may extend backward, but
            // lastUs must NOT regress — `lastUs = e.ts_us` here would
            // let the next on-time event measure its gap from the
            // straggler and silently split a live session
            cur = Some(s.copy(startUs = math.min(s.startUs, e.ts_us),
              lastUs = math.max(s.lastUs, e.ts_us),
              n = s.n + 1, total = s.total + e.value))
          case Some(s) =>
            out += toSession(userId, s)
            cur = Some(SessionState(e.ts_us, e.ts_us, 1L, e.value))
          case None =>
            cur = Some(SessionState(e.ts_us, e.ts_us, 1L, e.value))
        }
      }
      cur match {
        case Some(s) if !isStreamingInput =>
          // batch: end-of-group flushes the trailing session
          out += toSession(userId, s)
          state.remove()
        case Some(s) if state.getCurrentWatermarkMs * 1000L >= s.lastUs + gapUs =>
          // already expired by event time: flush NOW — deferring to a
          // timeout would strand the session if the stream idles
          out += toSession(userId, s)
          state.remove()
        case Some(s) =>
          state.update(s)
          // ceil to ms: the branch above guarantees last+gap (µs) is
          // past the watermark, so the rounded-up millisecond is too —
          // Spark's timeout-after-watermark requirement holds
          state.setTimeoutTimestamp(Math.floorDiv(s.lastUs + gapUs + 999L, 1000L))
        case None => if (state.exists) state.remove()
      }
      out.iterator
    }

    // watermark needs an ltz TIMESTAMP column; UTC session makes the
    // ntz→ltz cast value-preserving
    val withTs = events.toDF().withColumn("ts", col("ts").cast("timestamp"))
    val watermarked =
      if (isStreamingInput) withTs.withWatermark("ts", watermark) else withTs
    // withColumn (not select): the watermarked ts attribute must stay
    // in the child plan or the streaming checker rejects EventTimeTimeout
    val typed = watermarked
      .withColumn("ts_us", unix_micros(col("ts")))
      .as[Ev]
    val timeoutConf =
      if (isStreamingInput) GroupStateTimeout.EventTimeTimeout()
      else GroupStateTimeout.NoTimeout()

    typed
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), timeoutConf)(fn)
  }

  case class StateEv(event_id: Long, ts_us: Long, user_id: Long, event_type: String)
  case class LatestState(ts_us: Long, event_id: Long, state: String)
  case class UserStateRow(user_id: Long, state: String,
                          state_ts: LocalDateTime, state_event_id: Long)

  private def usToLdt(us: Long): LocalDateTime =
    java.time.Instant.ofEpochSecond(
      Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L)
      .atOffset(java.time.ZoneOffset.UTC).toLocalDateTime

  /** Continuously-maintained latest-state-per-user dimension via
    * `mapGroupsWithState` — the streaming materialization of "current
    * user state" that [[graft.operators.EventOps.scd2UserState]]
    * reconstructs historically. State per user is O(1) (latest
    * (ts, event_id, type) triple, arg-max by event time with
    * event_id tiebreak at full µs precision); it deliberately never
    * expires because the state IS the product — a dimension row per
    * user, emitted in update mode whenever it changes. The same code
    * path runs batch (driver oracle: window arg-max over history)
    * and streaming (MemoryStream spec: later micro-batches overwrite
    * earlier state, out-of-order events lose to newer state).
    */
  case class CdcEv(event_id: Long, ts_us: Long, user_id: Long,
                   event_type: String, value: Double)
  case class CdcState(ts_us: Long, event_id: Long, state: String, value: Double)
  case class CdcRow(user_id: Long, state: String, value: Double,
                    ts: LocalDateTime, is_live: Boolean)

  /** Streaming twin of [[graft.operators.EventOps.cdcApply]] — the
    * continuously-maintained CDC table with DELETE semantics, via the
    * same latest-wins arg-max state as [[latestUserState]] (O(1) per
    * key, (ts, event_id)-ordered so out-of-order micro-batches lose
    * to newer state, and a delete followed by a re-insert
    * resurrects). Streams can't silently retract an emitted row, so
    * a key whose latest change is the delete marker emits a TOMBSTONE
    * (`is_live = false`) for downstream appliers; the batch run of
    * this same code path filtered to live rows equals `cdcApply`
    * exactly — which is how it shares that query's oracle.
    */
  def cdcState(changes: DataFrame, deleteType: String = "error"): DataFrame = {
    val spark = changes.sparkSession
    import spark.implicits._

    def fn(userId: Long, it: Iterator[CdcEv],
           st: GroupState[CdcState]): CdcRow = {
      var cur = st.getOption
      it.foreach { e =>
        val newer = cur.forall(c =>
          e.ts_us > c.ts_us || (e.ts_us == c.ts_us && e.event_id > c.event_id))
        if (newer) cur = Some(CdcState(e.ts_us, e.event_id, e.event_type, e.value))
      }
      val s = cur.get // the group has at least one input row or prior state
      st.update(s)
      CdcRow(userId, s.state, s.value, usToLdt(s.ts_us), s.state != deleteType)
    }

    changes.toDF()
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .select("event_id", "ts_us", "user_id", "event_type", "value")
      .as[CdcEv]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }

  case class Scd2Ev(event_id: Long, ts_us: Long, user_id: Long,
                    event_type: String)
  case class Scd2St(version: Long, state: String, from_us: Long,
                    last_us: Long, n: Long)
  case class Scd2Row(user_id: Long, version: Long, state: String,
                     valid_from: LocalDateTime,
                     valid_to: Option[LocalDateTime],
                     n_events: Long, is_current: Boolean)

  /** Streaming twin of [[graft.operators.EventOps.scd2UserState]] —
    * continuous maintenance of the SCD Type-2 dimension via
    * `flatMapGroupsWithState`. State per user is O(1): only the OPEN
    * version (number, state, valid_from, last_seen, run length);
    * closed versions are immutable history and leave state the
    * moment they close. Each micro-batch folds its group's events in
    * (ts, event_id) order: a same-state event extends the open run,
    * a state change CLOSES the open version (emitted once, with
    * `valid_to` = the new version's `valid_from` — the half-open
    * interval chain) and opens the next. The open version re-emits
    * whenever it changes (update-mode semantics: downstream keys on
    * (user_id, version), newer emission wins — same contract as
    * [[cdcState]]'s dimension rows). State never expires because the
    * open version IS the product.
    *
    * Batch run of this code path ≡ the relational build exactly
    * (folding sorted history replays the run-collapse:
    * version k's `valid_from` is its first event, `valid_to` the
    * next run's first event, `n_events` the run length, the last run
    * open) — which is how it shares `etl_scd2_user_state`'s oracle.
    * Streaming run assumes per-user event-time-ordered arrival
    * ACROSS micro-batches (in-batch disorder is handled by the
    * sort), the same at-watermark contract [[funnelState]] and the
    * sessionization ops document: a cross-batch straggler older than
    * the open run's `last_seen` would split an already-closed run —
    * unreconstructable from O(1) state — and is dropped.
    */
  def scd2State(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._

    def fn(userId: Long, it: Iterator[Scd2Ev],
           st: GroupState[Scd2St]): Iterator[Scd2Row] = {
      val evs = it.toArray.sortBy(e => (e.ts_us, e.event_id))
      val closed = scala.collection.mutable.ArrayBuffer.empty[Scd2Row]
      var cur = st.getOption
      evs.foreach { e =>
        cur match {
          case None =>
            cur = Some(Scd2St(1L, e.event_type, e.ts_us, e.ts_us, 1L))
          case Some(c) if e.ts_us < c.last_us =>
            () // stale cross-batch straggler: dropped (documented)
          case Some(c) if e.event_type == c.state =>
            cur = Some(c.copy(last_us = e.ts_us, n = c.n + 1))
          case Some(c) =>
            closed += Scd2Row(userId, c.version, c.state, usToLdt(c.from_us),
              Some(usToLdt(e.ts_us)), c.n, is_current = false)
            cur = Some(Scd2St(c.version + 1, e.event_type, e.ts_us, e.ts_us, 1L))
        }
      }
      val c = cur.get // the group has at least one input row or prior state
      st.update(c)
      (closed :+ Scd2Row(userId, c.version, c.state, usToLdt(c.from_us),
        None, c.n, is_current = true)).iterator
    }

    events.toDF()
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .select("event_id", "ts_us", "user_id", "event_type")
      .as[Scd2Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }

  case class FunnelEv(ts_us: Long, user_id: Long, event_type: String)
  case class FunnelState(signup_us: Option[Long], click_us: Option[Long],
                         purchase_us: Option[Long])
  case class FunnelRow(user_id: Long, signup_ts: Option[LocalDateTime],
                       click_ts: Option[LocalDateTime],
                       purchase_ts: Option[LocalDateTime])

  /** Continuously-maintained conversion-funnel stage per user — the
    * streaming twin of [[graft.operators.EventOps.funnel]]'s
    * first-completion chain (signup → first click strictly after it →
    * first purchase strictly after that). State per user is O(1): the
    * three stage timestamps, each set exactly once and never
    * rewritten. Each micro-batch folds its group's events in
    * event-time order; tie order within a timestamp is irrelevant
    * because every transition requires a STRICTLY later timestamp
    * than the previous stage, so an equal-ts event fails whether it
    * is folded before or after the stage it would chain off.
    *
    * Batch run of this code path ≡ the three-aggregate min-chain
    * (each stage's first qualifying event IS the min qualifying ts
    * when folded in ts order) — counting the non-null stage columns
    * therefore shares `q_events_funnel`'s oracle. Streaming run
    * assumes per-user event-time-ordered arrival ACROSS micro-batches
    * (in-batch disorder is handled by the sort): an event older than
    * an already-set stage can no longer lower that stage's timestamp,
    * the same at-watermark contract the sessionization ops document.
    */
  def funnelState(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._

    def fn(userId: Long, it: Iterator[FunnelEv],
           st: GroupState[FunnelState]): FunnelRow = {
      var s = st.getOption.getOrElse(FunnelState(None, None, None))
      it.toArray.sortBy(_.ts_us).foreach { e =>
        e.event_type match {
          case "signup" if s.signup_us.isEmpty =>
            s = s.copy(signup_us = Some(e.ts_us))
          case "click" if s.click_us.isEmpty &&
            s.signup_us.exists(e.ts_us > _) =>
            s = s.copy(click_us = Some(e.ts_us))
          case "purchase" if s.purchase_us.isEmpty &&
            s.click_us.exists(e.ts_us > _) =>
            s = s.copy(purchase_us = Some(e.ts_us))
          case _ => ()
        }
      }
      st.update(s)
      FunnelRow(userId, s.signup_us.map(usToLdt),
        s.click_us.map(usToLdt), s.purchase_us.map(usToLdt))
    }

    events.toDF()
      // only stage events shuffle into the state fold — everything
      // else would just hit the no-op arm after a pointless shuffle,
      // and stage-less users would hold state and emit null rows
      .filter(col("event_type").isin("signup", "click", "purchase"))
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .select("ts_us", "user_id", "event_type")
      .as[FunnelEv]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }

  case class AttrEv(event_id: Long, ts_us: Long, user_id: Long,
                    event_type: String)
  case class AttrState(last_click_us: Long)
  case class AttrRow(user_id: Long, ts: LocalDateTime, attributed: Boolean)

  /** Streaming last-touch attribution — the continuous twin of
    * [[graft.operators.EventOps.lastTouchAttribution]]: per user,
    * O(1) state (the latest click timestamp so far), and every
    * purchase emits an attributed/organic row the moment its
    * micro-batch folds. Events fold in (ts, event_id) order inside
    * each batch, so a same-timestamp click with the smaller id
    * lands before the purchase — the exact frame-edge tie rule of
    * the batch window ((ts, event_id) order, frame to 1 PRECEDING).
    * A batch run of this path aggregated by day therefore equals
    * the relational form row-for-row and shares its oracle; the
    * streaming run assumes per-user event-time-ordered arrival
    * across micro-batches, the same at-watermark contract as
    * [[funnelState]].
    */
  def attributionState(events: DataFrame, windowHours: Int = 1): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val windowUs = windowHours * 3600L * 1000000L

    def fn(userId: Long, it: Iterator[AttrEv],
           st: GroupState[AttrState]): Iterator[AttrRow] = {
      var last = st.getOption.map(_.last_click_us).getOrElse(Long.MinValue)
      val out = Seq.newBuilder[AttrRow]
      it.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        e.event_type match {
          case "click" => last = math.max(last, e.ts_us)
          case "purchase" => out += AttrRow(userId, usToLdt(e.ts_us),
            last != Long.MinValue && last >= e.ts_us - windowUs)
          case _ => ()
        }
      }
      st.update(AttrState(last))
      out.result().iterator
    }

    events.toDF()
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .select("event_id", "ts_us", "user_id", "event_type")
      .as[AttrEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }

  case class FsEv(event_id: Long, ts_us: Long, user_id: Long)
  case class FirstSeenState(first_day: Int)
  case class ActiveDayRow(user_id: Long, day: java.time.LocalDate, is_new: Boolean)

  /** Continuously-maintained new-vs-returning activity via
    * `flatMapGroupsWithState` — the FIRST-touch state primitive next
    * to [[latestUserState]]'s last-touch arg-max. State per user is
    * O(1): the epoch day of their first event — min-fold WITHIN a
    * batch, then FROZEN: a cross-batch straggler from an earlier day
    * emits its active-day row with `is_new = false` rather than
    * re-minning state, because the true first day's `is_new = true`
    * row is already emitted (append mode — it cannot be retracted),
    * and a second `is_new = true` day would double-count the user in
    * every downstream new-users rollup. First-seen is first-OBSERVED:
    * the same at-watermark disorder contract as scd2State/cdcState,
    * chaos-spec'd in StreamingSpec. A day spanning micro-batches
    * re-emits with the SAME flag, so downstream daily rollups
    * `distinct` before counting. The batch run sees all history
    * in one group pass (the freeze arm never fires), making it
    * value-identical to the relational first-seen join
    * ([[graft.operators.EventOps.newVsReturning]]), whose oracle it
    * shares.
    */
  def firstSeenState(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._

    def fn(userId: Long, it: Iterator[FsEv],
           st: GroupState[FirstSeenState]): Iterator[ActiveDayRow] = {
      val days = it.map(e => Math.floorDiv(e.ts_us, 86400000000L).toInt)
        .toArray.distinct.sorted
      if (days.isEmpty) return Iterator.empty
      // frozen once set — see the disorder contract in the scaladoc
      val first = st.getOption.map(_.first_day).getOrElse(days.head)
      st.update(FirstSeenState(first))
      days.iterator.map(d =>
        ActiveDayRow(userId, java.time.LocalDate.ofEpochDay(d.toLong), d == first))
    }

    events.toDF()
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .select("event_id", "ts_us", "user_id")
      .as[FsEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }

  /** Streaming volume-anomaly gate against a STATIC slot profile —
    * the production monitoring shape: [[graft.operators.EventOps
    * .slotProfile]] trains (dow × hour-of-day) statistics on
    * yesterday's log, this scores today's stream against them. The
    * stream side is a watermarked tumbling-hour count (bounded
    * state); the 168-row profile BROADCASTS, so micro-batches never
    * shuffle for the join, and mean/variance/z are the same fixed
    * exact-integer expressions as the batch operator. Two documented
    * deltas vs [[graft.operators.EventOps.deseasonalizedAnomaly]]:
    * a stream cannot emit absent hours, so zero-event hours are not
    * scored (the profile still counts them); and the profile is
    * EXTERNAL — when the batch degenerate scores the same log the
    * profile was trained on, the scored hour sits inside its own
    * slot statistics and |z| is bounded by √(cnt−1) (the
    * self-masking effect the batch operator's leave-one-out design
    * removes), which is why the driver key gates at 1.5σ while a
    * production deploy with a disjoint profile uses 3σ.
    */
  def deseasonalizedGate(events: DataFrame, profile: DataFrame,
                         sigmas: Double = 1.5): DataFrame = {
    val slotted = withWatermarkIfStreaming(events, "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_bucket"), col("n"))
      .withColumn("dow", dayofweek(col("hour_bucket")).cast("long"))
      .withColumn("hour_of_day", hour(col("hour_bucket")).cast("long"))
    val m = col("s1").cast("double") / col("cnt").cast("double")
    val v = (col("s2").cast("double") -
      col("s1").cast("double") * col("s1").cast("double") /
        col("cnt").cast("double")) / col("cnt").cast("double")
    graft.operators.EventOps.slotZScores(
      slotted.join(broadcast(profile), Seq("dow", "hour_of_day")), m, v, sigmas)
  }

  case class BotEv(event_id: Long, ts_us: Long, user_id: Long)
  case class BotState(tail: List[Long], last_us: Long, last_id: Long,
                      n_events: Long, min_span_us: Option[Long])
  case class BotRow(user_id: Long, n_events: Long,
                    min_burst_span_us: Option[Long], is_bot: Boolean)

  /** Streaming twin of [[graft.operators.EventOps.burstFlags]] — the
    * continuously-maintained bot/abuse flag: per user, the tightest
    * span covered by any `burstEvents` consecutive events, re-emitted
    * each batch (update mode). State is O(w): the last `w−1` event
    * timestamps (the only history any future window can reach), the
    * running minimum span, and the last-seen (ts, event_id) cursor.
    * Disorder contract (same as scd2State/cdcState, chaos-spec'd):
    * events are folded in (ts, event_id) order within a batch, and a
    * cross-batch straggler at or before the cursor is DROPPED — its
    * true window membership is unrecoverable once the tail rolled
    * past it, and a silently wrong (over-wide) span is worse than a
    * documented drop. The batch run sees all history in one sorted
    * group pass (the drop arm never fires), making it value-identical
    * to the lag-window form — it shares `events_bot_flag`'s oracle.
    */
  def botState(events: DataFrame, burstEvents: Int = 20,
               maxSpanSeconds: Long = 60L): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val maxSpanUs = maxSpanSeconds * 1000000L

    def fn(userId: Long, it: Iterator[BotEv],
           st: GroupState[BotState]): BotRow = {
      var s = st.getOption.getOrElse(
        BotState(Nil, Long.MinValue, Long.MinValue, 0L, None))
      it.toArray.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
        val fresh = e.ts_us > s.last_us ||
          (e.ts_us == s.last_us && e.event_id > s.last_id)
        if (fresh) {
          // tail is ascending and ≤ w−1 long; its head is exactly
          // the (w−1)-back event, closing a w-event window with e
          val span =
            if (s.tail.length == burstEvents - 1) Some(e.ts_us - s.tail.head)
            else None
          val best = (s.min_span_us.toList ++ span.toList)
            .reduceOption(math.min(_: Long, _: Long))
          s = BotState((s.tail :+ e.ts_us).takeRight(burstEvents - 1),
            e.ts_us, e.event_id, s.n_events + 1, best)
        }
      }
      st.update(s)
      BotRow(userId, s.n_events, s.min_span_us,
        s.min_span_us.exists(_ <= maxSpanUs))
    }

    events.toDF()
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .select("event_id", "ts_us", "user_id")
      .as[BotEv]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }

  case class MgState(users: Map[Long, Long])
  case class UserCount(user_id: Long, n_events: Long)

  /** Streaming Misra-Gries heavy hitters: the event stream folds
    * into `buckets` MG summaries of ≤ `k` counters each, keyed by
    * `user_id % buckets` — total state is buckets·k counters, FIXED
    * regardless of user cardinality or stream length (the classic
    * unbounded-keys problem of a naive streaming count). Each
    * micro-batch updates its buckets' summaries and re-emits them
    * (update mode); users live in exactly one bucket, so no
    * cross-bucket merge is needed. While a bucket tracks ≤ k
    * distinct users there are no evictions and counts are exact —
    * which is how the batch form of this SAME code path carries a
    * plain GROUP BY oracle at test scale; past eviction the
    * per-bucket guarantee degrades gracefully to the MG bound
    * (underestimate ≤ N_bucket/k).
    */
  def heavyHittersState(events: DataFrame, k: Int = 256,
                        buckets: Int = 16): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._

    val typed = events.toDF()
      .select(col("user_id").cast("long").as("u"))
      .filter(col("u").isNotNull).as[Long]
      .groupByKey(_ % buckets)
    if (events.isStreaming) {
      def fn(bucket: Long, it: Iterator[Long],
             state: GroupState[MgState]): Iterator[UserCount] = {
        val counters = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
        state.getOption.foreach(_.users.foreach { case (u, c) => counters.update(u, c) })
        graft.operators.EventOps.mgFold(counters, it, k)
        state.update(MgState(counters.toMap))
        counters.iterator.map { case (u, c) => UserCount(u, c) }
      }
      typed.flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout())(fn)
        .toDF()
    } else {
      typed.flatMapGroups { (_: Long, it: Iterator[Long]) =>
        val counters = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
        graft.operators.EventOps.mgFold(counters, it, k)
        counters.iterator.map { case (u, c) => UserCount(u, c) }
      }.toDF()
    }
  }

  def latestUserState(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._

    def fn(userId: Long, it: Iterator[StateEv],
           state: GroupState[LatestState]): UserStateRow = {
      var cur = state.getOption
      it.foreach { e =>
        val newer = cur.forall(c =>
          e.ts_us > c.ts_us || (e.ts_us == c.ts_us && e.event_id > c.event_id))
        if (newer) cur = Some(LatestState(e.ts_us, e.event_id, e.event_type))
      }
      val s = cur.get // the group has at least one input row or prior state
      state.update(s)
      UserStateRow(userId, s.state, usToLdt(s.ts_us), s.event_id)
    }

    events.toDF()
      .withColumn("ts_us", unix_micros(col("ts").cast("timestamp")))
      .select("event_id", "ts_us", "user_id", "event_type")
      .as[StateEv]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }

  /** The streaming half of the feed-freshness monitor
    * ([[graft.operators.RetailEtl.feedFreshness]]'s always-on
    * spelling, feeds keyed by event_type): ONE streaming aggregate
    * maintains per feed its last-seen day and running row count —
    * state is O(feeds) (a date + a counter per feed), update mode
    * re-emits refreshed rows, which is what the monitor polls.
    */
  def feedLastSeen(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type").as("feed"))
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("n_rows"))

  /** Batch fold of the live freshness monitor: [[feedLastSeen]]'s
    * aggregate plus the poll-side cross-feed comparison (days behind
    * the freshest sibling + stale flag). The comparison joins the
    * O(feeds) emission against its own 1-row max — in production it
    * runs per trigger on the polled output (a streaming aggregate
    * can't self-join its result mid-query), which is exactly the
    * shape here since the input relation IS the emitted table.
    */
  def feedFreshnessState(events: DataFrame, staleDays: Int = 2): DataFrame = {
    val agg = feedLastSeen(events)
    agg.crossJoin(broadcast(agg.agg(max("last_day").as("global_day"))))
      .select(col("feed"), col("last_day"),
        datediff(col("global_day"), col("last_day")).cast("long")
          .as("days_behind"),
        col("n_rows"),
        (datediff(col("global_day"), col("last_day")) > staleDays)
          .as("stale"))
  }

  /** Stringified stack-unpivot for the dq-state family — the ONE
    * shared implementation lives in
    * [[graft.operators.RetailEtl.stackStringified]] (float
    * normalization + case-tolerant resolution; r17 ADVICE +
    * review), because the normalization rule exists to keep
    * cross-engine distinct counts aligned and a second drifting
    * copy would undo it. */
  private def stackStringified(events: DataFrame,
                               cols: Seq[String]): DataFrame =
    graft.operators.RetailEtl.stackStringified(events, cols)

  /** Live data-quality profile — the always-on spelling of
    * [[graft.operators.RetailEtl.dqProfileApprox]]: per monitored
    * column, running row count, null count/fraction and HLL distinct
    * cardinality, maintained as ONE streaming aggregate keyed on
    * column name. Rows unpivot with `stack` before the aggregate, so
    * adding a column adds one state row (count + sum + fixed-size
    * HLL sketch — state is O(cols), never data-sized); update mode
    * re-emits the refreshed profile each trigger, which is exactly
    * what a feed monitor polls. Values stringify for a uniform
    * sketch domain — cardinality semantics match the batch profile
    * (distinct VALUES, not distinct bytes). Batch fold of the whole
    * corpus is the driver key (rows-only; ApproxSpec bounds the HLL
    * error vs the exact profile, StreamingSpec holds cross-batch
    * accumulation).
    */
  def dqProfileState(events: DataFrame, cols: Seq[String],
                     rsd: Double = 0.02): DataFrame = {
    stackStringified(events, cols)
      .groupBy("col_name")
      .agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_nulls"),
        approx_count_distinct(col("v"), rsd).as("n_distinct"))
      .withColumn("null_frac", round(col("n_nulls") / col("n_rows"), 6))
  }

  /** DQ-state CALIBRATION (r16) — what graduates `stream_dq_profile`
    * from rows-only: the fold's exact columns (rows/nulls/null_frac,
    * already order-independent) ride through, the exact distinct
    * anchor is computed beside them, and the boolean claims the
    * engine's OWN live HLL state ([[dqProfileState]], still running
    * inside) sits within tolerance. Tolerance is the integer-exact
    * `max(2, n_distinct·tolPct/100)` of the batch dq calibration. */
  def dqStateCalibration(events: DataFrame, cols: Seq[String],
                         rsd: Double = 0.02, tolPct: Int = 5): DataFrame = {
    // ONE unpivot scan still feeds everything, but via the TWO-LEVEL
    // GRAIN (r18): collapse to (col_name, v) with a plain count,
    // then roll up exact distinct (a plain count over the grain) and
    // the HLL side by side. The r16 fusion that put countDistinct
    // and the HLL in ONE aggregate was the measured Expand×HLL trap
    // (the one-distinct plan carries the sketch's partial per
    // VALUE through the exchange): it landed AFTER the r16 band run
    // and doubled this key, 1.09 s fused vs 0.43 s two-level at
    // sf0.1 (the r18 adjudication that closed the r17 "host noise"
    // question). The roll-up HLL reads deduplicated values —
    // bit-identical sketch, HLL updates are idempotent — so the
    // boolean still scores [[dqProfileState]]'s update rule.
    stackStringified(events, cols)
      .groupBy("col_name", "v")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("col_name")
      .agg(
        sum("cnt").as("n_rows"),
        sum(when(col("v").isNull, col("cnt")).otherwise(0L)).as("n_nulls"),
        count(col("v")).as("n_distinct"),
        approx_count_distinct(col("v"), rsd).as("apx"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"),
        round(col("n_nulls") / col("n_rows"), 6).as("null_frac"),
        (abs(col("apx") - col("n_distinct")) <=
          greatest(lit(2L), expr(s"n_distinct * $tolPct div 100")))
          .as("distinct_within_tol"))
  }

  /** Sliding-actives CALIBRATION (r16) — what graduates
    * `stream_sliding_actives` from rows-only: per sliding window,
    * the exact trailing distinct-user anchor and event count, plus
    * the boolean claim that the engine's OWN windowed HLL
    * ([[slidingActives]]' aggregation, still running inside) sits
    * within tolerance. Batch form of the monitor; the stream twin
    * keeps its watermarked update path spec-held. */
  def slidingActivesCalibration(events: DataFrame, windowDays: Int = 7,
                                slideDays: Int = 1, rsd: Double = 0.02,
                                tolPct: Int = 5): DataFrame =
    // ONE window fan-out still feeds everything, but via the
    // TWO-LEVEL GRAIN (r18): collapse to (window, user) with a plain
    // count, then roll up the exact anchor (a plain count over the
    // grain) and the engine's own windowed HLL side by side. The r16
    // fusion that put countDistinct and the HLL in ONE windowed
    // aggregate was the measured Expand×HLL trap (sketch partials
    // per (window, user) through the exchange): it landed AFTER the
    // r16 band run and doubled this key, 1.29 s fused vs 0.51 s
    // two-level at sf0.1 (the r18 adjudication that closed the r17
    // "host noise" question). The roll-up HLL reads each window's
    // deduplicated users — bit-identical sketch, HLL updates are
    // idempotent — so the boolean still scores [[slidingActives]]'
    // aggregation.
    events
      .groupBy(window(col("ts"), s"$windowDays days", s"$slideDays days"),
        col("user_id"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy("window")
      .agg(count(col("user_id")).as("active_users"),
        sum("cnt").as("n_events"),
        approx_count_distinct(col("user_id"), rsd).as("apx"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("active_users"), col("n_events"),
        (abs(col("apx") - col("active_users")) <=
          greatest(lit(2L), expr(s"active_users * $tolPct div 100")))
          .as("users_within_tol"))
}
