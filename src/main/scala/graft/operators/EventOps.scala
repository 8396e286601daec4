package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Event-log operators over the `events` table (event_id, ts,
  * user_id, event_type, value, props-json). The batch forms here are
  * transform-for-transform identical to the streaming versions in
  * [[graft.streaming.EventStream]] — same column logic, so batch
  * backfill and the live stream can never disagree.
  */
object EventOps {

  /** Tumbling 1-hour aggregate. `date_trunc` keeps the result a plain
    * timestamp column (portable); the streaming twin uses
    * `window()` with a watermark. `withApproxUsers` adds an HLL
    * distinct-user sketch — the 100 TB default, but engine-specific,
    * so the oracle-checked entry leaves it off.
    */
  def hourlyStats(events: DataFrame, withApproxUsers: Boolean = true): DataFrame = {
    val base = Seq(
      count(lit(1)).as("num_events"),
      sum("value").as("total_value"),
      avg("value").as("avg_value"))
    val aggs = if (withApproxUsers)
      base :+ approx_count_distinct("user_id").as("approx_users")
    else base
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Sketch-based per-type stats — the 100 TB shapes: HLL distinct
    * users (fixed-size state vs shuffling every user id) and
    * approximate percentiles (bounded memory vs full sort). Spec
    * bounds the error against exact computation; no SQL oracle
    * (sketches are engine-specific).
    */
  def approxTypeStats(events: DataFrame, relativeError: Double = 0.05): DataFrame =
    events.groupBy("event_type").agg(
      approx_count_distinct("user_id", rsd = relativeError).as("approx_users"),
      percentile_approx(col("value"), lit(0.5), lit(1000)).as("approx_p50"),
      percentile_approx(col("value"), lit(0.9), lit(1000)).as("approx_p90"))

  /** Type-stats CALIBRATION (r16) — what graduates
    * `events_approx_stats` from rows-only: per type, the exact
    * distinct-user and row-count anchors plus engine-agnostic
    * boolean claims that the engine's OWN approximate tier
    * ([[approxTypeStats]]: HLL users + quantile-sketch p50/p90)
    * is calibrated. The HLL claim is the usual within-`tol` ratio;
    * the PERCENTILE claims use RANK CONTAINMENT, the only
    * cross-engine-fair criterion for sketches with different
    * internals (GK here, t-digest in DuckDB): a value v is an
    * ε-valid q-quantile iff `frac(value < v) ≤ q+ε` and
    * `frac(value ≤ v) ≥ q−ε` — each engine scores its own v against
    * the SAME exact distribution, and the two-sided form is
    * tie-safe on discrete data. ε=0.02 is ~20× the GK bound at
    * accuracy 1000 and comfortably above t-digest mid-quantile
    * error. */
  def typeStatsCalibration(events: DataFrame, tol: Double = 0.05,
                           rankEps: Double = 0.02,
                           rsd: Double = 0.02): DataFrame = {
    // rsd 0.02 (the suite-wide HLL dial), NOT approxTypeStats'
    // coarser 0.05 default: the 5% claim must sit ≥ 2.5σ from the
    // sketch's rsd or it false-fails on ordinary draws (observed at
    // sf0.1 with rsd 0.05 — 1σ against its own tolerance)
    val apx = approxTypeStats(events, relativeError = rsd)
    val exact = events.groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"),
        count(lit(1)).as("n_values"))
    def frac(cmp: Column): Column =
      sum(when(cmp, 1L).otherwise(0L)).cast("double") / count(lit(1))
    val ranks = events
      .join(broadcast(apx), Seq("event_type"))
      .groupBy("event_type")
      .agg(
        first("approx_users").as("approx_users"),
        frac(col("value") < col("approx_p50")).as("lt50"),
        frac(col("value") <= col("approx_p50")).as("le50"),
        frac(col("value") < col("approx_p90")).as("lt90"),
        frac(col("value") <= col("approx_p90")).as("le90"))
    exact.join(ranks, Seq("event_type"))
      .select(col("event_type"), col("exact_users"), col("n_values"),
        (abs(col("approx_users").cast("double") /
          col("exact_users").cast("double") - lit(1.0)) <= lit(tol))
          .as("users_within_tol"),
        (col("lt50") <= lit(0.5 + rankEps) &&
          col("le50") >= lit(0.5 - rankEps)).as("p50_within_tol"),
        (col("lt90") <= lit(0.9 + rankEps) &&
          col("le90") >= lit(0.9 - rankEps)).as("p90_within_tol"))
  }

  /** Misra–Gries update of `counters` (at most `k`) by every key
    * of `it`. */
  private[graft] def mgFold(counters: scala.collection.mutable.LinkedHashMap[Long, Long],
                            it: Iterator[Long], k: Int): Unit =
    it.foreach { u =>
      counters.get(u) match {
        case Some(c) => counters.update(u, c + 1)
        case None if counters.size < k => counters.update(u, 1L)
        case None =>
          // decrement-all: one shared "charge" against every
          // counter and the incoming key; zeros evict
          val dead = List.newBuilder[Long]
          counters.foreach { case (key, c) =>
            if (c == 1L) dead += key else counters.update(key, c - 1)
          }
          dead.result().foreach(counters.remove)
      }
    }

  /** Approximate audience overlap between event-type pairs:
    * |A∩B| ≈ |A| + |B| − |A∪B| via HLL sketch ALGEBRA — one scan
    * builds one mergeable sketch per type (`hll_sketch_agg`), then
    * every pairwise union is computed by merging the already-built
    * sketches (`hll_union`), never by rescanning the fact. The fact
    * pays exactly one sketch update per row; the pair join runs over
    * |types| rows. This merge-don't-rescan shape is the whole point
    * of sketches at 100 TB (per-day sketches roll up to any window
    * the same way). Inclusion–exclusion compounds the HLL error —
    * the spec bounds it against exact counts.
    */
  def approxAudienceOverlap(events: DataFrame,
                            lgConfigK: Int = 12): DataFrame = {
    val sketches = events.groupBy("event_type")
      .agg(hll_sketch_agg(col("user_id"), lit(lgConfigK)).as("sk"))
    val a = sketches.select(col("event_type").as("type_a"), col("sk").as("sk_a"))
    val b = sketches.select(col("event_type").as("type_b"), col("sk").as("sk_b"))
    val est = (c: org.apache.spark.sql.Column) => hll_sketch_estimate(c)
    a.join(b, col("type_a") < col("type_b"))
      .select(col("type_a"), col("type_b"),
        est(col("sk_a")).as("users_a"),
        est(col("sk_b")).as("users_b"),
        greatest(est(col("sk_a")) + est(col("sk_b"))
          - est(hll_union(col("sk_a"), col("sk_b"))), lit(0L))
          .as("approx_overlap"))
      .withColumn("approx_jaccard",
        round(col("approx_overlap") /
          (col("users_a") + col("users_b") - col("approx_overlap")), 6))
  }

  /** EXACT audience overlap — the oracle-checked anchor tier for
    * [[approxAudienceOverlap]] (the same relationship every
    * approximate tier here has to an exact twin): distinct
    * (type, user) rows self-join on the user — fan-out bounded by
    * the type alphabet per user, like [[sessionCooccur]] — and every
    * type pair emits (zero-overlap pairs included, from the
    * broadcast types² frame; the sketch tier also emits them). At
    * 100 TB the sketch tier is the default — this is the audit pass
    * run on samples/slices to calibrate it. One shuffle for the
    * user-level join, pair counts at types² grain, one Jaccard
    * quotient rounded once.
    */
  def audienceOverlapExact(events: DataFrame,
                           utOpt: Option[DataFrame] = None): DataFrame = {
    // per-type counts + intersection join share the deduped relation;
    // utOpt lets the calibration tier thread an already-pinned one
    val ut = utOpt.getOrElse(
      events.select(col("event_type"), col("user_id")).distinct()
        .localCheckpoint(true))
    val perType = ut.groupBy("event_type").agg(count(lit(1)).as("n"))
    val inter = ut.select(col("user_id"), col("event_type").as("type_a"))
      .join(ut.select(col("user_id"), col("event_type").as("type_b")),
        Seq("user_id"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("ov"))
    broadcast(perType.select(col("event_type").as("type_a"),
        col("n").as("users_a")))
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("n").as("users_b"))), col("type_a") < col("type_b"))
      .join(inter, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"), col("users_a"), col("users_b"),
        coalesce(col("ov"), lit(0L)).as("overlap"))
      .withColumn("jaccard",
        round(col("overlap").cast("double") /
          (col("users_a") + col("users_b") - col("overlap")).cast("double"),
          6))
  }

  /** The incremental sketch STORE: one HLL sketch per (day, type),
    * built in a single pass and meant to be persisted (parquet
    * binary column). This is the layout that makes distinct-count
    * questions O(|days|·|types|) forever after: any date-range reach
    * query merges stored sketches ([[reachFromSketches]]) instead of
    * rescanning the fact — the nightly job appends one day's row
    * group, history is never touched.
    */
  def dailyAudienceSketches(events: DataFrame, lgConfigK: Int = 12): DataFrame =
    events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(
        hll_sketch_agg(col("user_id"), lit(lgConfigK)).as("sk"),
        count(lit(1)).as("n_events"))

  /** Distinct-user reach per type over `[lo, hi)` from STORED
    * sketches — pure sketch algebra (`hll_union_agg`), no fact
    * access. HLL union is LOSSLESS (the merged sketch is
    * bit-identical to one built over the concatenated input), so
    * range-from-store equals direct-sketch-of-range exactly —
    * spec-asserted, which is what justifies storing sketches instead
    * of raw ids.
    */
  def reachFromSketches(sketches: DataFrame, lo: String, hi: String): DataFrame =
    reachOver(sketches, "day", lo, hi)

  /** Per type, the union of the sketch rows whose `grain` column
    * lies in `[lo, hi)`: estimated distinct users and event count. */
  private def reachOver(sketches: DataFrame, grain: String,
                        lo: String, hi: String): DataFrame =
    sketches
      .filter(col(grain) >= lit(lo) && col(grain) < lit(hi))
      .groupBy("event_type")
      .agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("approx_users"),
        sum("n_events").as("n_events"))

  /** Sketch-store COMPACTION — the lake-maintenance job that keeps
    * the store O(|months|·|types|) instead of O(|days|·|types|):
    * day-grain rows merge into month-grain via `hll_union_agg`,
    * which is LOSSLESS (the merged sketch is bit-identical to one
    * built over the concatenated days), so month-or-coarser range
    * queries read 30× fewer rows and lose nothing — spec-held via
    * [[reachFromCompacted]] parity against the daily store. Exact
    * companions (`n_events`, `n_day_rows`) ride along, so the
    * compaction manifest itself is oracle-checked.
    */
  def compactSketches(daily: DataFrame): DataFrame =
    daily
      .groupBy(date_trunc("month", col("day")).cast("date").as("month"),
        col("event_type"))
      .agg(
        hll_union_agg(col("sk"), lit(false)).as("sk"),
        sum("n_events").as("n_events"),
        count(lit(1)).as("n_day_rows"))

  /** [[reachFromSketches]] against the COMPACTED store, for
    * month-aligned `[lo, hi)` ranges — same sketch algebra, month
    * rows in place of day rows. */
  def reachFromCompacted(monthly: DataFrame, lo: String, hi: String): DataFrame =
    reachOver(monthly, "month", lo, hi)

  /** Per type over `[lo, hi)`: the exact distinct-user anchor and
    * event count, joined to the sketch route's `approx_users`, with
    * the claim that the estimate lands within `tol` of the anchor.
    */
  private def calibrated(events: DataFrame, lo: String, hi: String,
                         tol: Double, reach: DataFrame): DataFrame = {
    val approx = reach.select(col("event_type"), col("approx_users"))
    events
      .filter(to_date(col("ts")) >= lit(lo) && to_date(col("ts")) < lit(hi))
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        count(lit(1)).as("n_events"))
      .join(approx, Seq("event_type"))
      .select(col("event_type"), col("exact_users"), col("n_events"),
        (abs(col("approx_users").cast("double") /
          col("exact_users").cast("double") - lit(1.0)) <= lit(tol))
          .as("est_within_tol"))
  }

  /** Sketch CALIBRATION audit — the oracled bridge into the
    * rows-only sketch family: per type over `[lo, hi)`, the exact
    * distinct-user anchor plus a boolean claim that the engine's OWN
    * sketch estimate (the [[dailyAudienceSketches]] →
    * [[reachFromSketches]] store route, the same path
    * `events_sketch_reach` serves) lands within `tol` of it. The
    * raw estimate itself can never hash-match across engines
    * (sketch internals are implementation-specific — see
    * docs/ORACLE_NOTES.md), but the calibration CLAIM is
    * engine-agnostic: each engine checks its own sketch against the
    * SAME exact anchor, so the row is bit-comparable, and the oracle
    * fails exactly when one engine's sketch drifts out of bound —
    * a real gate on approximation quality, not a weaker rows-only
    * count. Margin: HLL++ at lgConfigK=12 has rsd ≈ 1.6% (and is
    * EXACT in sparse mode at small cardinalities), so tol=0.05 is
    * ≈ 3σ.
    */
  def sketchCalibration(events: DataFrame, lo: String, hi: String,
                        tol: Double = 0.05): DataFrame =
    calibrated(events, lo, hi, tol,
      reachFromSketches(dailyAudienceSketches(events), lo, hi))

  /** Reach CALIBRATION through the COMPACTED store route (r16) —
    * what graduates `events_sketch_reach` from rows-only: per type
    * over a MONTH-ALIGNED `[lo, hi)`, the exact distinct-user anchor
    * and event count, plus the boolean claim that the engine's OWN
    * full store lifecycle — [[dailyAudienceSketches]] →
    * [[compactSketches]] → [[reachFromCompacted]] — lands within
    * `tol`. This is a strictly LONGER route than
    * [[sketchCalibration]]'s (which probes the day store directly):
    * the boolean additionally gates the compaction's union
    * losslessness cross-engine, the property that justifies keeping
    * a month-grain store at all. Tolerance integer-free (HLL++ at
    * lgConfigK=12, rsd ≈ 1.6% → 5% ≈ 3σ; sparse-exact at small
    * cardinalities). */
  def reachCalibration(events: DataFrame, lo: String, hi: String,
                       tol: Double = 0.05): DataFrame =
    calibrated(events, lo, hi, tol, reachFromCompacted(
      compactSketches(dailyAudienceSketches(events)), lo, hi))

  /** Overlap CALIBRATION — [[sketchCalibration]]'s pattern applied
    * to the pairwise-audience tier, which is what graduates the
    * overlap key from rows-only to a full oracle: per type pair, the
    * EXACT anchor columns ([[audienceOverlapExact]] — users_a,
    * users_b, overlap) plus one engine-agnostic boolean claim that
    * the engine's OWN sketch route ([[approxAudienceOverlap]], the
    * same inclusion–exclusion over merged sketches the 100 TB path
    * runs) lands within tolerance of the exact intersection. The
    * raw estimate can never hash-match across engines; the claim
    * can, because each engine checks ITS sketches against the SAME
    * exact anchor. Tolerance is integer-exact on both engines —
    * `max(3, union·tolPct/100)` with floored integer division —
    * and sized for inclusion–exclusion compounding: three ~2%-rsd
    * estimates of sets as large as the UNION bound the intersection
    * error by ~3·3σ·2% of the union (ApproxSpec's measured bound),
    * so tolPct=18 is the spec bound made portable. */
  def overlapCalibration(events: DataFrame, lgConfigK: Int = 12,
                         tolPct: Int = 18): DataFrame = {
    // ONE deduplicated (type, user) relation feeds both tiers: HLL
    // is idempotent on duplicates (sketch of a multiset == sketch of
    // its set), so the sketch route loses nothing by reading the
    // distinct rows the exact tier needs anyway — one events scan,
    // one distinct shuffle, instead of two scans
    val ut = events.select(col("event_type"), col("user_id")).distinct()
      .localCheckpoint(true)
    val approx = approxAudienceOverlap(ut, lgConfigK)
      .select(col("type_a"), col("type_b"), col("approx_overlap"))
    audienceOverlapExact(ut, utOpt = Some(ut))
      .join(approx, Seq("type_a", "type_b"))
      .select(col("type_a"), col("type_b"), col("users_a"), col("users_b"),
        col("overlap"),
        (abs(col("approx_overlap") - col("overlap")) <=
          greatest(lit(3L),
            expr(s"(users_a + users_b - overlap) * $tolPct div 100")))
          .as("ov_within_tol"))
  }

  /** The SHARED session-assignment core: every event gains its
    * `session_seq` via the classic lag+cumsum over one user_id
    * shuffle. Native timestamp comparison at full µs precision —
    * `unix_timestamp` truncates to whole seconds and flips
    * sub-second gap boundaries — which is why this exists ONCE and
    * [[sessionize]]/[[commonSessionPaths]]/[[cartAbandonment]] all
    * call it instead of re-typing the boundary comparison.
    */
  private def assignSessions(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val gap = make_dt_interval(lit(0), lit(0), lit(gapMinutes), lit(0))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts") > col("prev_ts") + gap, 1L)
          .otherwise(0L))
      .withColumn("session_seq", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Sessionization: a new session starts after `gapMinutes` of
    * inactivity per user. Classic lag+cumsum — one shuffle on
    * user_id, session assignment is then per-partition.
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    assignSessions(events, gapMinutes)
      .groupBy("user_id", "session_seq")
      .agg(
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        count(lit(1)).as("num_events"),
        sum("value").as("total_value"))

  /** Within-session event-type co-occurrence lift — the behavioral
    * twin of [[Analytics.basketAffinity]]: which event types show up
    * in the SAME session more often than their solo frequencies
    * predict (`lift = n_together·N / (n_a·n_b)` over exact session
    * counts). Lift > 1 pairs are the flow edges a product funnel is
    * built from; lift < 1 pairs are segregated usage modes. Sessions
    * come from the shared [[assignSessions]] core (one user_id
    * shuffle); the session×type relation is DISTINCT before the
    * self-join, so pair fan-out is bounded by types²/2 per session —
    * the event-type alphabet plays the role of the basket guard, no
    * separate cap needed. Per-type counts broadcast onto the pair
    * frame; only the session-count scalar reaches the driver. One
    * float quotient, rounded once.
    */
  def sessionCooccur(events: DataFrame, gapMinutes: Int = 30,
                     minSessions: Long = 2): DataFrame = {
    val st = assignSessions(events, gapMinutes)
      .select(col("user_id"), col("session_seq"), col("event_type"))
      .distinct()
      .localCheckpoint(true) // self-join sides + per-type counts + N
    val nSessions = st.select("user_id", "session_seq").distinct().count()
    val perType = st.groupBy("event_type").agg(count(lit(1)).as("n"))
    st.select(col("user_id"), col("session_seq"),
        col("event_type").as("type_a"))
      .join(st.select(col("user_id"), col("session_seq"),
        col("event_type").as("type_b")), Seq("user_id", "session_seq"))
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("n_together"))
      .filter(col("n_together") >= minSessions)
      .join(broadcast(perType.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(perType.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_together"),
        col("n_a"), col("n_b"),
        round((col("n_together") * lit(nSessions)).cast("double") /
          (col("n_a") * col("n_b")).cast("double"), 6).as("lift"))
  }

  /** Session aggregation via Spark's built-in `session_window`
    * (gap-based, window end = last event + gap). Same shuffle shape
    * as [[sessionize]] but expressed declaratively — Catalyst plans
    * the session merge natively, and the identical code runs under
    * Structured Streaming with a watermark.
    */
  def sessionWindows(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(count(lit(1)).as("num_events"), sum("value").as("total_value"))
      .select(
        col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("num_events"), col("total_value"))

  /** Event-type transition matrix (first-order Markov view of user
    * journeys): count and probability of each (prev → next) event
    * pair within a user's time-ordered stream. One shuffle on
    * user_id for the lag; the transition aggregate is tiny
    * (|types|²) and its per-prev_type normalizing window runs over
    * that tiny aggregate, never the raw events.
    */
  def eventTransitions(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_transitions"))
      .withColumn("p_transition",
        round(col("n_transitions") /
          sum("n_transitions").over(Window.partitionBy("prev_type")), 6))
  }

  /** DAU/WAU engagement: daily active users and trailing-7-day
    * weekly active users per observed day. WAU without a sliding
    * self-join: each distinct (user, day) contributes itself to the
    * 7 target days it keeps the user "weekly active" for (a ×7
    * explode of the ALREADY-distinct pairs, not raw events), then a
    * distinct count per target day. Exact counts here; at 100 TB
    * swap `countDistinct` for `approx_count_distinct` — same plan,
    * sketch-sized state.
    */
  def engagement(events: DataFrame): DataFrame = {
    val ud = events.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = ud.groupBy("day").agg(countDistinct("user_id").as("dau"))
    val contrib = ud.select(col("user_id"),
      explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
    val wau = contrib.groupBy("day").agg(countDistinct("user_id").as("wau"))
    // inner join drops the ramp-past-the-data trailing days
    dau.join(wau, Seq("day"))
  }

  /** Unpivot (melt): the per-type count matrix back to long form —
    * `Dataset.unpivot` is a zero-shuffle row-local expansion.
    */
  def eventTypeUnpivot(events: DataFrame,
                       types: Seq[String] = Seq("click", "purchase", "error", "signup", "view")): DataFrame =
    eventTypePivot(events, types)
      .unpivot(
        ids = Array(col("user_id")),
        values = types.map(col).toArray,
        variableColumnName = "event_type",
        valueColumnName = "n_events")

  /** Per-user event-type counts — a pivot with the value set pinned
    * up front (no extra distinct pass over 100 TB to discover it).
    */
  def eventTypePivot(events: DataFrame,
                     types: Seq[String] = Seq("click", "purchase", "error", "signup", "view")): DataFrame = {
    val counts = events.groupBy("user_id").pivot("event_type", types).count()
    types.foldLeft(counts)((df, t) => df.withColumn(t, coalesce(col(t), lit(0L))))
  }

  /** Volume anomaly detection: hours whose event count deviates more
    * than `sigmas` standard deviations from the corpus mean. The
    * global mean/stddev is a one-row aggregate broadcast back over
    * the hourly counts — two passes over counts, not events.
    */
  def hourlyAnomalies(events: DataFrame, sigmas: Double = 2.0): DataFrame = {
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"))
    val global = hourly.agg(
      avg("n_events").as("mean_events"),
      stddev_samp("n_events").as("sd_events"))
    hourly.crossJoin(broadcast(global))
      .withColumn("z_score", (col("n_events") - col("mean_events")) / col("sd_events"))
      .filter(abs(col("z_score")) > sigmas)
      .select("hour", "n_events", "z_score")
  }

  /** Inter-event time distribution: per-user gaps between
    * consecutive events (lag over the per-user shuffle — the same
    * exchange sessionization rides), summarized as exact
    * percentiles of integer-second gaps. The engagement-cadence
    * metric behind session-gap tuning: p90 here is what a
    * `gapMinutes` choice should dominate.
    */
  def interEventGaps(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .filter(col("prev_ts").isNotNull)
      .withColumn("us_gap",
        unix_micros(col("ts").cast("timestamp")) -
          unix_micros(col("prev_ts").cast("timestamp")))
      .select(expr("us_gap div 1000000").as("gap_s"))
      .agg(
        count(lit(1)).as("n_gaps"),
        percentile(col("gap_s"), lit(0.5)).as("p50_s"),
        percentile(col("gap_s"), lit(0.9)).as("p90_s"),
        percentile(col("gap_s"), lit(0.99)).as("p99_s"))
  }

  /** Cart abandonment per day: sessions that clicked but never
    * purchased, as a share of clicking sessions — the funnel's
    * session-grain complement. Session assignment is the shared
    * lag+cumsum; flags are one boolean aggregate per session, the
    * daily rate one more tiny aggregate. A session belongs to the
    * day it starts.
    */
  def cartAbandonment(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    assignSessions(events, gapMinutes)
      .groupBy("user_id", "session_seq")
      .agg(
        to_date(min("ts")).as("day"),
        max(when(col("event_type") === "click", 1L).otherwise(0L)).as("clicked"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purchased"))
      .filter(col("clicked") === 1L)
      .groupBy("day")
      .agg(
        count(lit(1)).as("n_click_sessions"),
        sum(lit(1L) - col("purchased")).as("n_abandoned"))
      .withColumn("abandonment_rate",
        round(col("n_abandoned") / col("n_click_sessions"), 6))

  /** Weekly seasonality profile — the (day-of-week × hour-of-day)
    * activity heatmap: average events per CALENDAR occurrence of
    * each slot — total slot events / calendar hours of the span that
    * fell in the slot, zero-event hours included (the spine comes
    * from a 1-row bounds aggregate exploded through a generator, the
    * [[graft.operators.Analytics.priceFill]] pattern). Counting only
    * active hours would overstate quiet slots; counting the calendar
    * keeps partial weeks honest too. Output ≤ 168 rows, always.
    */
  def dowHourProfile(events: DataFrame): DataFrame = {
    filledHours(events)
      .select(col("hour_bucket"), coalesce(col("n"), lit(0L)).as("n"))
      .groupBy(
        dayofweek(col("hour_bucket")).cast("long").as("dow"),
        hour(col("hour_bucket")).cast("long").as("hour_of_day"))
      .agg(
        sum("n").as("n_events"),
        count(lit(1)).as("n_slots"),
        round(avg("n"), 6).as("avg_events"))
  }

  /** Conversion LATENCY distribution: per user, first signup → first
    * purchase strictly after it; then exact interpolated percentiles
    * of the latency in minutes. Two filtered min-aggregates over one
    * scan shape (the [[funnel]] discipline — no window over raw
    * events), a broadcast-sized join on user, and a 4-value
    * percentile aggregate. Latency is integer minutes (truncated) so
    * the percentile interpolation replays exactly cross-engine.
    */
  def conversionLatency(events: DataFrame): DataFrame = {
    val signup = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("signup_ts"))
      // |users| rows, consumed by the purchase join AND the final
      // pairing — pin it or the signup scan runs twice
      .localCheckpoint(true)
    val purchase = events.filter(col("event_type") === "purchase")
      .join(signup, "user_id")
      .filter(col("ts") > col("signup_ts"))
      .groupBy("user_id").agg(min("ts").as("purchase_ts"))
    signup.join(purchase, "user_id")
      .withColumn("us_diff",
        unix_micros(col("purchase_ts").cast("timestamp")) -
          unix_micros(col("signup_ts").cast("timestamp")))
      // `div`: integer division — no double rounding at minute edges
      .select(expr("us_diff div 60000000").as("latency_min"))
      .agg(
        count(lit(1)).as("n_converted"),
        percentile(col("latency_min"), lit(0.5)).as("p50_min"),
        percentile(col("latency_min"), lit(0.9)).as("p90_min"),
        percentile(col("latency_min"), lit(0.99)).as("p99_min"))
  }

  /** Common session PATHS — product-analytics path analysis: the
    * ordered event-type sequence of each session (truncated to its
    * first `maxSteps` steps), kept when at least `minSessions`
    * sessions walked it. Thresholded, NOT top-N — a support floor
    * needs no global rank, so there is no corpus-wide ordering
    * anywhere; and steps are rank-filtered BEFORE the path
    * aggregate, so a pathological million-event session buffers
    * `maxSteps` rows, not the session. Reuses [[sessionize]]'s
    * lag+cumsum assignment (both windows ride the same user_id
    * shuffle).
    */
  def commonSessionPaths(events: DataFrame, gapMinutes: Int = 30,
                         maxSteps: Int = 8,
                         minSessions: Long = 5): DataFrame = {
    val bySession = Window.partitionBy("user_id", "session_seq")
      .orderBy(col("ts"), col("event_id"))
    assignSessions(events, gapMinutes)
      .withColumn("step", row_number().over(bySession))
      .filter(col("step") <= maxSteps)
      .groupBy("user_id", "session_seq")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .filter(col("n_sessions") >= minSessions)
  }

  /** Robust per-type anomaly detection — the median/MAD twin of
    * [[hourlyAnomalies]]: flag (type, hour) buckets whose count
    * deviates from the type's MEDIAN by more than `k` median
    * absolute deviations. Mean/σ break when the anomalies themselves
    * inflate the spread (a 100× traffic spike drags the mean toward
    * itself and hides sibling spikes); the median/MAD pair has a 50%
    * breakdown point. One fact pass (the hourly rollup); the two
    * median aggregates and the classification all run on the tiny
    * |types|·|hours| relation, with the per-type stats broadcast
    * back. `mad = 0` types (over-half-constant counts) flag nothing
    * — every deviation would be infinite σ-equivalents, which is
    * noise, not signal.
    */
  def madOutliers(events: DataFrame, k: Double = 3.0): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
      .agg(count(lit(1)).as("n_events"))
      .localCheckpoint(true) // consumed by the median agg AND the join
    val med = hourly.groupBy("event_type")
      .agg(median(col("n_events")).as("med"))
    val dev = hourly.join(broadcast(med), Seq("event_type"))
      .withColumn("abs_dev", abs(col("n_events") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(median(col("abs_dev")).as("mad"))
    dev.join(broadcast(mad), Seq("event_type"))
      .filter(col("mad") > 0 && col("abs_dev") > lit(k) * col("mad"))
      .select("event_type", "hour", "n_events", "med", "mad")
  }

  /** Conversion funnel signup → click → purchase: users who
    * completed each stage in order (each stage strictly after the
    * previous one's first completion). Three aggregates over the
    * same scan, joined on user — no window over raw events.
    */
  def funnel(events: DataFrame): DataFrame = {
    val signup = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("signup_ts"))
    val click = events.filter(col("event_type") === "click")
      .join(signup, "user_id")
      .filter(col("ts") > col("signup_ts"))
      .groupBy("user_id").agg(min("ts").as("click_ts"))
    val purchase = events.filter(col("event_type") === "purchase")
      .join(click, "user_id")
      .filter(col("ts") > col("click_ts"))
      .groupBy("user_id").agg(min("ts").as("purchase_ts"))
    signup.agg(count(lit(1)).as("n_signup"))
      .crossJoin(click.agg(count(lit(1)).as("n_click_after")))
      .crossJoin(purchase.agg(count(lit(1)).as("n_purchase_after")))
  }

  /** Time-bounded conversion funnel — [[funnel]] with a conversion
    * WINDOW: a click only counts within `windowMinutes` of the
    * signup, a purchase within `windowMinutes` of that click. The
    * unbounded funnel answers "did they ever convert"; campaign and
    * UX analysis needs "did they convert promptly", and at 100 TB
    * the bound also caps how much history any user comparison can
    * reach. Same three-aggregate min-chain shape (each stage one
    * shuffle on user_id), native timestamp + interval comparison at
    * full µs precision.
    */
  def funnelWindowed(events: DataFrame, windowMinutes: Int = 60): DataFrame = {
    val win = make_dt_interval(lit(0), lit(0), lit(windowMinutes), lit(0))
    val signup = events.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("signup_ts"))
    val click = events.filter(col("event_type") === "click")
      .join(signup, "user_id")
      .filter(col("ts") > col("signup_ts") && col("ts") <= col("signup_ts") + win)
      .groupBy("user_id").agg(min("ts").as("click_ts"))
    val purchase = events.filter(col("event_type") === "purchase")
      .join(click, "user_id")
      .filter(col("ts") > col("click_ts") && col("ts") <= col("click_ts") + win)
      .groupBy("user_id").agg(min("ts").as("purchase_ts"))
    signup.agg(count(lit(1)).as("n_signup"))
      .crossJoin(click.agg(count(lit(1)).as("n_click_within")))
      .crossJoin(purchase.agg(count(lit(1)).as("n_purchase_within")))
  }

  /** Last-touch attribution: each purchase is attributed to the
    * user's most recent click no older than `windowHours` before it;
    * per purchase day, how many purchases were click-attributed vs
    * organic. One window over the (click, purchase)-pruned event
    * stream — partitioned by user, so no global ordering anywhere —
    * carrying the running "latest click so far" (`max` of a
    * click-only CASE is the latest because the frame is ts-ordered).
    * The frame ends at 1 PRECEDING on a (ts, event_id) order: at an
    * equal timestamp the smaller event_id counts as earlier, a
    * deterministic tie rule the oracle spells identically.
    * Timestamps compare natively at µs precision (the
    * unix_timestamp second-truncation trap — see assignSessions).
    */
  def lastTouchAttribution(events: DataFrame,
                           windowHours: Int = 1): DataFrame = {
    val ev = events
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    attributionDaily(ev
      .withColumn("last_click_ts",
        max(when(col("event_type") === "click", col("ts"))).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("attributed",
        col("last_click_ts").isNotNull &&
          col("last_click_ts") >= col("ts") -
            make_dt_interval(lit(0), lit(windowHours), lit(0), lit(0))))
  }

  /** The day-grain attribution rollup — ONE spelling shared by
    * [[lastTouchAttribution]] and the streaming twin's batch run
    * (`stream_attribution`), so the attributed/organic accounting
    * can never drift between the two forms. Input: one row per
    * purchase with `ts` and boolean `attributed`. */
  def attributionDaily(purchases: DataFrame): DataFrame =
    purchases
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_purchases"),
        sum(when(col("attributed"), 1L).otherwise(0L)).as("n_attributed"))
      .withColumn("attribution_rate",
        round(col("n_attributed") / col("n_purchases"), 6))

  /** Daily new-vs-returning rollup over (user, day, is_new) activity
    * rows — the aggregation end of the streaming first-seen state
    * ([[graft.streaming.EventStream.firstSeenState]]). `distinct`
    * first: the stream re-emits a (user, day) pair in every
    * micro-batch the user is active, with a stable flag, so the
    * rollup must be idempotent to re-emission.
    */
  def activeDayDaily(activeDays: DataFrame): DataFrame =
    activeDays.select("user_id", "day", "is_new").distinct()
      .groupBy("day")
      .agg(
        sum(when(col("is_new"), 1L).otherwise(0L)).as("n_new"),
        sum(when(!col("is_new"), 1L).otherwise(0L)).as("n_returning"),
        count(lit(1)).as("n_active"))

  /** Per-user lifetime profile rolled up to one corpus row — the
    * across-sessions companion to [[interEventGaps]]' within-session
    * cadence: how long users stay (exact interpolated p50/p90/p99 of
    * first→last day span), how densely they return (mean distinct
    * active days), and how much they do (mean events), plus the
    * single-day share — the churn-before-return mass. One hash
    * aggregate to user grain (count-distinct on day runs inside the
    * same shuffle), then one tiny aggregate over |users| rows; the
    * percentile buffer holds |users| integers, swap to
    * `percentile_approx` when the user base itself won't sit on one
    * node. Ratios are exact-integer divisions rounded to the 1e-6
    * grid by contract.
    */
  def userLifespan(events: DataFrame): DataFrame =
    userLifespans(events)
      .agg(
        count(lit(1)).as("n_users"),
        Seq(
          expr("percentile(lifespan_days, 0.5)").as("p50_lifespan_days"),
          expr("percentile(lifespan_days, 0.9)").as("p90_lifespan_days"),
          expr("percentile(lifespan_days, 0.99)").as("p99_lifespan_days"))
          ++ lifespanMeans: _*)

  /** Per user: days from first to last event, distinct active days
    * and event count. */
  private def userLifespans(events: DataFrame): DataFrame =
    events
      .groupBy("user_id")
      .agg(
        datediff(to_date(max("ts")), to_date(min("ts"))).as("lifespan_days"),
        countDistinct(to_date(col("ts"))).as("active_days"),
        count(lit(1)).as("n_events"))

  /** The exact per-user means and single-day fraction over
    * [[userLifespans]]. */
  private def lifespanMeans: Seq[Column] = Seq(
        round(sum("active_days").cast("double") / count(lit(1)), 6)
          .as("mean_active_days"),
        round(sum("n_events").cast("double") / count(lit(1)), 6)
          .as("mean_events_per_user"),
        round(sum(when(col("lifespan_days") === 0, 1L).otherwise(0L))
          .cast("double") / count(lit(1)), 6).as("single_day_frac"))

  private def approxLifespan(q: Double, accuracy: Int): Column =
    percentile_approx(col("lifespan_days"), lit(q), lit(accuracy)).cast("double")

  /** Lifespan CALIBRATION (r16) — what graduates
    * `events_user_lifespan_approx` from rows-only: the exact rollup
    * anchors (user count, means, single-day fraction — already
    * order-independent exact integers/quotients) plus rank-
    * containment booleans for the engine's OWN
    * quantile-sketch p50/p90/p99 ([[typeStatsCalibration]]'s
    * tie-safe two-sided rule, essential here: `lifespan_days` is a
    * small-integer column with massive ties, where a value-distance
    * criterion would be meaningless and a one-sided rank check would
    * false-fail on every cdf jump). One user-grain collapse feeds
    * the sketch pass and the rank pass (pinned). */
  def lifespanCalibration(events: DataFrame, accuracy: Int = 10000,
                          rankEps: Double = 0.02): DataFrame = {
    val per = userLifespans(events).localCheckpoint(true)
    val apx = per.agg(
      approxLifespan(0.5, accuracy).as("p50"),
      approxLifespan(0.9, accuracy).as("p90"),
      approxLifespan(0.99, accuracy).as("p99"))
    def frac(cmp: Column): Column =
      sum(when(cmp, 1L).otherwise(0L)).cast("double") / count(lit(1))
    def contained(q: Double, lo: Column, hi: Column): Column =
      lo <= lit(q + rankEps) && hi >= lit(q - rankEps)
    per.crossJoin(broadcast(apx))
      .agg(
        count(lit(1)).as("n_users"),
        lifespanMeans ++ Seq(
          frac(col("lifespan_days") < col("p50")).as("lt50"),
          frac(col("lifespan_days") <= col("p50")).as("le50"),
          frac(col("lifespan_days") < col("p90")).as("lt90"),
          frac(col("lifespan_days") <= col("p90")).as("le90"),
          frac(col("lifespan_days") < col("p99")).as("lt99"),
          frac(col("lifespan_days") <= col("p99")).as("le99")): _*)
      .select(col("n_users"), col("mean_active_days"),
        col("mean_events_per_user"), col("single_day_frac"),
        contained(0.5, col("lt50"), col("le50")).as("p50_within_tol"),
        contained(0.9, col("lt90"), col("le90")).as("p90_within_tol"),
        contained(0.99, col("lt99"), col("le99")).as("p99_within_tol"))
  }

  /** Weekly cohort retention matrix — THE product-analytics
    * artifact: users cohorted by first-activity week, each
    * (cohort_week, week_offset) cell carrying how many of the
    * cohort were active that many weeks later. Complements
    * [[hourlyRetention]] (adjacent-period continuation) and the
    * revenue-side cohort LTV with the canonical triangular
    * user-retention view. The distinct (user, week) relation is
    * built once and pinned (cohort assignment + activity both
    * consume it); cohort sizes are O(weeks) rows, broadcast; the
    * retention rate is one division of two exact longs. Offsets are
    * exact — both dates are week starts, so the day gap is always a
    * multiple of seven.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val weekly = events.select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("week"))
      .distinct()
      .localCheckpoint(true) // cohort assignment + activity share it
    val cohort = weekly.groupBy("user_id").agg(min("week").as("cohort_week"))
    val sizes = cohort.groupBy("cohort_week").agg(count(lit(1)).as("cohort_size"))
    weekly.join(cohort, "user_id")
      .withColumn("week_offset",
        (datediff(col("week"), col("cohort_week")) / 7).cast("long"))
      .groupBy("cohort_week", "week_offset")
      .agg(countDistinct("user_id").as("n_active"))
      .join(broadcast(sizes), "cohort_week")
      .withColumn("retention",
        col("n_active").cast("double") / col("cohort_size").cast("double"))
  }

  /** Hour-over-hour retention: per hour, how many of its active
    * users are active again in the following hour. Two-column
    * distinct + a self-equi-join on (user, hour+1) — both sides
    * prune to the same shuffle key, no windowing over raw events.
    */
  def hourlyRetention(events: DataFrame): DataFrame = {
    val userHours = events
      .select(col("user_id"), date_trunc("hour", col("ts")).as("h"))
      .distinct()
    userHours.as("a")
      .join(userHours.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("b.h") === col("a.h") + expr("INTERVAL 1 HOUR"))
      .groupBy(col("a.h").as("hour"))
      .agg(count(lit(1)).as("retained_users"))
  }

  /** JSON prop extraction + aggregate: parse `props.k` (string JSON)
    * without a UDF — `get_json_object` is codegen'd.
    */
  def jsonPropStats(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k").isNotNull)
      .withColumn("k_bucket", col("k") % 10)
      .groupBy("k_bucket")
      .agg(
        count(lit(1)).as("num_events"),
        avg("value").as("avg_value"),
        max("k").as("max_k"))

  /** Peak concurrent sessions per hour — an interval sweep-line over
    * the sessionized stream. Each session contributes +1 at its start
    * and −1 at its end (closed intervals: starts sort before ends at
    * the same instant); the running sum of deltas at each boundary is
    * the live concurrency, and the per-hour max of it is the
    * capacity-planning number.
    *
    * The global time-ordered running sum uses the same two-phase
    * distributed prefix-sum as [[graft.operators.Packing]]: bucket
    * boundaries by hour (deterministic projection), collect only the
    * per-hour delta totals (O(hours), bounded — a year is ~9k rows at
    * any corpus size), broadcast exclusive offsets back, and run the
    * within-hour sweep as per-bucket windows in parallel. No global
    * single-partition window anywhere.
    *
    * Hours with no session boundary don't emit a row (concurrency
    * can't peak without a change point); per-row prefix values inside
    * a tied (ts, delta) group are permutation-dependent but their MAX
    * is not, so the output is deterministic in any engine.
    */
  def sessionConcurrency(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val s = sessionize(events, gapMinutes)
    // ONE sessionize pass (r18 optimization round): the old
    // union-of-two-selects evaluated the whole sessionize subtree
    // once per side, and the two consumers below (the O(hours)
    // totals collect and the offset-join sweep) doubled it again —
    // four sessionize passes in the plan. The explode emits the
    // identical (ts, delta) multiset from a single pass, and the
    // pinned boundary relation (two tiny rows per session) feeds
    // both consumers. Same rows, same results.
    val bounds = s
      .select(explode(array(
        struct(col("session_start").as("ts"), lit(1L).as("delta")),
        struct(col("session_end").as("ts"), lit(-1L).as("delta")))).as("b"))
      .select(col("b.ts").as("ts"), col("b.delta").as("delta"))
    val bucketed = bounds
      .withColumn("bucket", date_trunc("hour", col("ts")))
      .withColumn("bucket_us", unix_micros(col("bucket").cast("timestamp")))
      .localCheckpoint(true)
    val totals = bucketed.groupBy("bucket_us").agg(sum("delta").as("bdelta"))
      .as[(Long, Long)].collect().sortBy(_._1)
    var acc = 0L
    val exclusive = totals.map { case (b, d) => val off = acc; acc += d; (b, off) }
    val offsets = spark.createDataFrame(exclusive.toSeq)
      .toDF("bucket_us", "bucket_offset")
    val inBucket = Window.partitionBy("bucket_us")
      .orderBy(col("ts"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bucketed
      .join(broadcast(offsets), Seq("bucket_us"))
      .withColumn("conc", col("bucket_offset") + sum("delta").over(inBucket))
      .groupBy(col("bucket").as("hour"))
      .agg(max("conc").as("max_concurrent"))
  }

  /** SCD Type-2 dimension build from a change stream: collapse each
    * user's consecutive runs of the same event_type into versioned
    * validity intervals — `[valid_from, valid_to)`, open-ended for
    * the current version. This is the warehouse pattern for deriving
    * a slowly-changing dimension from raw events: one shuffle on the
    * natural key, two windows over it (run detection + interval
    * chaining), no self-join, no fact re-scan. Ties broken by
    * event_id so the versioning is deterministic in every engine.
    */
  def scd2UserState(events: DataFrame): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val runs = events
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .withColumn("chg",
        when(lag("event_type", 1).over(byUser) === col("event_type"), 0)
          .otherwise(1))
      .withColumn("version",
        sum("chg").over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val versions = runs.groupBy("user_id", "version", "event_type")
      .agg(min("ts").as("valid_from"),
        max("ts").as("last_seen"),
        count(lit(1)).as("n_events"))
    val byVersion = Window.partitionBy("user_id").orderBy("version")
    versions
      .withColumn("valid_to", lead("valid_from", 1).over(byVersion))
      .select(col("user_id"), col("version"),
        col("event_type").as("state"),
        col("valid_from"), col("valid_to"),
        col("n_events"), col("valid_to").isNull.as("is_current"))
  }

  /** Point-in-time (as-of) dimension enrichment — the temporal-join
    * half of the SCD2 pattern [[scd2UserState]] builds the dimension
    * for: each fact row picks up the dimension VERSION that was valid
    * at its event time, not today's. Facts are one event type (e.g.
    * purchases); the dimension derives from the rest of the stream,
    * so "the user's state when they bought" is well-defined and not
    * circular. Because SCD2 versions tile each user's timeline
    * contiguously from the first change onward, "version valid at
    * ts" ≡ "latest version with `valid_from` ≤ ts" — an as-of join
    * ([[AsOf.join]]: union + one ordered window, single shuffle on
    * user_id, no interval explosion), never a per-fact interval
    * probe. A fact before its user's first version — or from a user
    * the dimension has never seen — keeps null state/version: the
    * classic early-arriving-fact row, surfaced rather than dropped.
    * Boundary semantics: a fact AT `valid_from` belongs to the new
    * version (intervals are `[valid_from, valid_to)`; AsOf's
    * inclusive `<=` matches). Two versions CAN share a `valid_from`
    * (run-boundary events at the same instant): such a zero-width
    * older version is collapsed away — max(version) per
    * (user_id, valid_from) — BEFORE the join, because an engine's
    * ASOF tie choice is otherwise unspecified (DuckDB picks an
    * arbitrary tied row; this pins both engines to the same,
    * SCD2-correct answer: the version actually in effect at that
    * instant). The collapse is a hash aggregate that reuses the
    * window's existing user_id partitioning — no extra shuffle.
    */
  def enrichPointInTime(events: DataFrame, factType: String = "purchase")
      : DataFrame = {
    val facts = events.filter(col("event_type") === factType)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    val dim = scd2UserState(events.filter(col("event_type") =!= factType))
      .groupBy(col("user_id"), col("valid_from").as("ts"))
      .agg(max_by(struct(col("version"), col("state")), col("version")).as("v"))
      .select(col("user_id"), col("ts"),
        col("v.version").as("version"), col("v.state").as("state"))
    AsOf.join(
      left = facts, right = dim,
      keys = Seq("user_id"), timeCol = "ts",
      rightValues = Seq("version", "state"), tieBreak = Some("version"))
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("asof_version").as("dim_version"),
        col("asof_state").as("dim_state"))
  }

  /** Temporal-join coverage report — the operational alarm for the
    * [[enrichPointInTime]] pipeline: per fact day, how many facts
    * found a dimension version valid at their event time and how
    * many arrived EARLY (before their user's first dimension
    * version, or from a user the dimension has never seen). A
    * rising early rate means the dimension feed is lagging the fact
    * feed — the thing to alert on before downstream consumers train
    * on null-enriched rows. One O(days) aggregate over the
    * enrichment output; shares its two-shuffle plan.
    */
  def asofCoverage(events: DataFrame, factType: String = "purchase")
      : DataFrame =
    enrichPointInTime(events, factType)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(
        count(lit(1)).as("n_facts"),
        sum(when(col("dim_version").isNull, 1L).otherwise(0L)).as("n_early"),
        round(sum(when(col("dim_version").isNull, 1L).otherwise(0L)) /
          count(lit(1)).cast("double"), 6).as("early_rate"))

  /** New-vs-returning daily actives: split each day's active users by
    * whether that day is their first-ever activity. The first-seen
    * date is a per-user aggregate (partial-agg friendly), joined to
    * the per-(user, day) distinct actives — both sides shuffle on
    * user_id once; no window, no self-join over time.
    */
  def newVsReturning(events: DataFrame): DataFrame = {
    val daily = events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val firstSeen = events.groupBy("user_id")
      .agg(to_date(min("ts")).as("first_day"))
    daily.join(firstSeen, "user_id")
      .groupBy("day")
      .agg(
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L)).as("n_returning"),
        count(lit(1)).as("n_active"))
  }

  /** CDC log apply — materialize the current table from a change
    * stream with DELETES: per key, the latest change wins (ordered by
    * ts, then event_id so replays are deterministic), and a key whose
    * latest change is the delete marker leaves the table entirely.
    * The lakehouse MERGE primitive, as one partial-agg-friendly
    * `max_by` hash aggregate: map tasks pre-reduce each key to its
    * in-partition latest, the exchange carries one row per key — a
    * window (`row_number` desc = 1) would sort-shuffle every change.
    * At 100 TB the log is far larger than the keyset, which is
    * exactly when pre-aggregation pays. Delete handling AFTER the
    * arg-max is the correctness point: a delete followed by a
    * re-insert must resurrect the key, so deletes can't be filtered
    * out up front.
    */
  def cdcApply(changes: DataFrame, deleteType: String = "error"): DataFrame =
    changes
      .groupBy("user_id")
      .agg(max_by(
        struct(col("event_type"), col("value"), col("ts")),
        struct(col("ts"), col("event_id"))).as("last"))
      .filter(col("last.event_type") =!= deleteType)
      .select(col("user_id"),
        col("last.event_type").as("state"),
        col("last.value").as("value"),
        col("last.ts").as("ts"))

  /** Deseasonalized volume anomaly — [[hourlyAnomalies]] with the
    * weekly rhythm removed: each hour's count is scored against the
    * (day-of-week × hour-of-day) PROFILE, so a quiet Sunday 3am is
    * not "anomalous" merely for being Sunday 3am, and a weekday-peak
    * outage that still clears the global mean IS caught. Spine-filled
    * like [[dowHourProfile]] (a zero-event hour both feeds the slot
    * statistics and can itself be the anomaly). The score is
    * LEAVE-ONE-OUT: each hour is compared to the OTHER weeks in its
    * slot — with the point included, |z| is bounded by √(cnt−1)
    * (≈1.9 at a month of data), so a self-masked z-score can never
    * clear a 2σ threshold no matter how extreme the hour; excluding
    * it needs no second scan, just `(Σn − n, Σn² − n²)` arithmetic
    * on the same slot sums. Every derived number is a FIXED
    * expression over exact integer sums (count, Σn, Σn²), so
    * mean/variance/z replay bit-for-bit in any engine — no rounding,
    * and the guards cannot flip. The profile is 168 rows, broadcast
    * back onto the hour series.
    */
  def deseasonalizedAnomaly(events: DataFrame, sigmas: Double = 3.0): DataFrame = {
    val slotted = slottedHours(events)
    val profile = slotProfileOf(slotted)
    val rest = (col("cnt") - lit(1L)).cast("double")
    val m = (col("s1") - col("n")).cast("double") / rest
    val v = ((col("s2") - col("n") * col("n")).cast("double") -
      (col("s1") - col("n")).cast("double") *
        (col("s1") - col("n")).cast("double") / rest) / rest
    slotZScores(
      slotted.join(broadcast(profile), Seq("dow", "hour_of_day"))
        .filter(col("cnt") > 1L), m, v, sigmas)
  }

  /** Hours of a slot-profile join whose z-score against the slot
    * mean `m` and variance `v` exceeds `sigmas`; zero-variance slots
    * never score. */
  private[graft] def slotZScores(joined: DataFrame, m: Column, v: Column,
                                 sigmas: Double): DataFrame =
    joined
      .select(col("hour_bucket"), col("n").as("n_events"),
        col("dow"), col("hour_of_day"),
        m.as("profile_mean"), v.as("variance"),
        ((col("n").cast("double") - m) / sqrt(v)).as("z"))
      .filter(col("variance") > 0.0 && abs(col("z")) > sigmas)
      .drop("variance")

  /** The spine-filled hourly series with (dow, hour-of-day) slot
    * keys — shared by [[deseasonalizedAnomaly]] (profile + residual
    * join) and [[slotProfile]]. Pinned: both consumers would
    * otherwise re-aggregate the event log. */
  private def slottedHours(events: DataFrame): DataFrame =
    filledHours(events)
      .select(col("hour_bucket"), coalesce(col("n"), lit(0L)).as("n"),
        dayofweek(col("hour_bucket")).cast("long").as("dow"),
        hour(col("hour_bucket")).cast("long").as("hour_of_day"))
      .localCheckpoint(true) // profile agg + residual join share it

  /** Hourly event counts left-joined onto the spine of every hour
    * between the first and the last event; empty hours carry a null
    * `n`. */
  private def filledHours(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(date_trunc("hour", col("ts")).as("hour_bucket"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // bounds agg + spine join share it
    val bounds = hourly.agg(
      min("hour_bucket").as("lo"), max("hour_bucket").as("hi"))
    val spine = bounds.select(explode(
      sequence(col("lo"), col("hi"), expr("interval 1 hour")))
      .as("hour_bucket"))
    spine.join(hourly, Seq("hour_bucket"), "left")
  }

  private def slotProfileOf(slotted: DataFrame): DataFrame =
    slotted.groupBy("dow", "hour_of_day")
      .agg(count(lit(1)).as("cnt"), sum("n").as("s1"),
        sum(col("n") * col("n")).as("s2"))

  /** The exported (dow × hour-of-day) slot statistics — the MODEL a
    * streaming scorer ([[graft.streaming.EventStream
    * .deseasonalizedGate]]) broadcasts against live hourly counts:
    * (cnt, Σn, Σn²) per slot over the spine-filled series, 168 rows,
    * exact integers. Train on yesterday's log, score today's stream.
    */
  def slotProfile(events: DataFrame): DataFrame =
    slotProfileOf(slottedHours(events))

  /** Burst (bot/abuse) detection — the training-data-pipeline intake
    * gate that flags automated traffic before events feed any
    * downstream aggregate: a user is flagged when some `burstEvents`
    * consecutive events span ≤ `maxSpanSeconds`. The sliding span is
    * `ts − lag(ts, burstEvents−1)` over one user_id shuffle — O(1)
    * state per row, no self-join, exact µs integer arithmetic (the
    * sub-second precision point [[assignSessions]] documents).
    * Emits every user with their tightest burst so the threshold can
    * be re-cut downstream without rescanning the log.
    */
  def burstFlags(events: DataFrame, burstEvents: Int = 20,
                 maxSpanSeconds: Long = 60L): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    events
      .withColumn("us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("span_us",
        col("us") - lag(col("us"), burstEvents - 1).over(byUser))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        min("span_us").as("min_burst_span_us"))
      .withColumn("is_bot",
        coalesce(col("min_burst_span_us") <= maxSpanSeconds * 1000000L,
          lit(false)))
  }

  /** Session entry/exit matrix — which event type opens a session ×
    * which closes it (landing/exit-page analysis). Rides the shared
    * [[assignSessions]] core, then ONE hash aggregate per session
    * picks both endpoints via `min_by`/`max_by` on the (ts, event_id)
    * total order — partial-agg-friendly, where the textbook
    * first/last-value window would sort-shuffle every event twice.
    * The rollup to the (entry, exit) matrix is a second, tiny
    * aggregate.
    */
  def sessionEntryExit(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    assignSessions(events, gapMinutes)
      .groupBy("user_id", "session_seq")
      .agg(
        min_by(col("event_type"), struct(col("ts"), col("event_id"))).as("entry_type"),
        max_by(col("event_type"), struct(col("ts"), col("event_id"))).as("exit_type"),
        count(lit(1)).as("n"))
      .groupBy("entry_type", "exit_type")
      .agg(count(lit(1)).as("n_sessions"),
        sum("n").as("total_events"))

  /** Power-law fit of the per-user activity distribution — the
    * discrete MLE `α = 1 + n / Σ ln(x_i / (xmin − ½))` (Clauset-
    * Shalizi-Newman continuous approximation) over users with
    * ≥ xmin events, plus the tail mass the fit implies. Heavy-tail
    * activity is why this engine salts keys and caps buckets: α
    * near 2 means the hottest user is a constant fraction of the
    * corpus at ANY scale (skew never averages out), α ≥ 3 means
    * uniform partitioning is fine. Two hash aggregates (user grain,
    * then one row); the log-sum is the only float accumulation,
    * rounded once.
    */
  def activityPowerlaw(events: DataFrame, xmin: Long = 2L): DataFrame = {
    require(xmin >= 1L, s"xmin must be >= 1, got $xmin")
    val perUser = events.groupBy("user_id").agg(count(lit(1)).as("x"))
    perUser
      .agg(
        count(lit(1)).as("n_users"),
        sum(when(col("x") >= xmin, 1L).otherwise(0L)).as("n_tail"),
        sum(when(col("x") >= xmin,
          log(col("x").cast("double") / (xmin - 0.5))).otherwise(0.0))
          .as("logsum"),
        max("x").as("max_events"))
      .select(
        col("n_users"), col("n_tail"), col("max_events"),
        round(col("n_tail") / col("n_users"), 6).as("tail_frac"),
        when(col("logsum") === 0.0, lit(null).cast("double"))
          .otherwise(round(lit(1.0) + col("n_tail") / col("logsum"), 6))
          .as("alpha"))
  }

  /** k-step forward distribution of the event-type Markov chain —
    * where user behavior CONVERGES: starting uniform over the
    * observed prev-states, push the distribution through the
    * row-normalized transition matrix `steps` times (the
    * [[Analytics.copurchasePagerank]] power-iteration shape on the
    * [[eventTransitions]] edge relation). For an ergodic chain this
    * approximates the stationary distribution — the long-run share
    * of each event type, the "where does a session settle" readout;
    * states with no outgoing transitions shed mass (sub-stochastic
    * readout, deliberate and documented — a terminal state's inflow
    * is visible in the step before it drains). Every relation here
    * is ≤ |event types|² rows after one windowed pass over the fact
    * table, so iterations are latency, not data volume; only the
    * O(types²) edge-count matrix reaches the driver (r19: the six
    * join+aggregate+checkpoint rounds over that matrix were pure
    * scheduling latency — the forecast-family discipline applies:
    * ONE distributed aggregate, then a model-sized driver fold.
    * Degree sums are integer (order-independent); the per-step
    * double products fold in ascending (prev, next) state order.
    *
    * Envelope: any other summation order (the oracle's, or the former
    * distributed sum's) moves an unrounded mass by a few ulps — at
    * most about steps · |types| · 2^-52 relative — so the reported
    * `round(p, 9)` can differ by at most ONE unit in the 9th decimal
    * (|Δ| ≤ 1e-9), and only for a mass within that distance of a
    * rounding midpoint; the state set never changes. EventOpsSpec
    * checks the fold against a reordered power iteration within this
    * bound; docs/ORACLE_NOTES.md carries the same statement.
    */
  def markovStationary(events: DataFrame, steps: Int = 6): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val edges = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(byUser))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .sortBy(e => (e._1, e._2))
    val deg: Map[String, Long] =
      edges.groupBy(_._1).map { case (p, es) => p -> es.map(_._3).sum }
    // seed: uniform over states WITH outgoing edges (deg's states) —
    // the sub-stochastic readout sheds terminal-state mass exactly
    // as the relational form did
    var pi: Map[String, Double] =
      deg.keys.map(_ -> 1.0 / deg.size).toMap
    for (_ <- 1 to steps) {
      val next = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      for ((p, nx, n) <- edges; mass <- pi.get(p))
        next(nx) = next.getOrElse(nx, 0.0) + mass * (n.toDouble / deg(p))
      pi = next.toMap
    }
    pi.toSeq.sortBy(_._1).toDF("state", "p")
      .select(col("state"), round(col("p"), 9).as("p_stationary"))
  }

  /** The day halfway between the first and last event day, `mid`:
    * days up to it form the baseline half. */
  private def midDay(events: DataFrame): DataFrame =
    events
      .agg(date_add(min(to_date(col("ts"))),
        floor(datediff(max(to_date(col("ts"))), min(to_date(col("ts")))) / 2)
          .cast("int")).as("mid"))

  /** Population-stability index of the event `value` distribution
    * between the corpus's first and second half (by day) — the
    * standard model-monitoring drift score: decile cut-points come
    * from the BASELINE half (exact interpolated percentiles, 9
    * scalars collected — the [[Analytics.rfmSegments]] pattern, so
    * the bucketing replays with no percentile state), both halves
    * bucket by broadcast comparisons, and
    * `PSI = Σ (p_b − p_a)·ln(p_b/p_a)` runs over the ≤ bucket-count
    * relation. Probabilities are Laplace-smoothed
    * (`(c + ½)/(n + ½·buckets)`) so an empty bucket on one side —
    * where raw PSI is undefined — degrades gracefully instead of
    * emitting ±∞; the smoothing is part of the contract and the
    * oracle replays it. Conventional read: < 0.1 stable, 0.1–0.25
    * drifting, > 0.25 shifted. One fact scan after the split tag,
    * one percentile pass over the baseline, two tiny aggregates.
    */
  def valuePsi(events: DataFrame): DataFrame = {
    val probs = (1 to 9).map(_ / 10.0)
    val tagged = events
      .select(col("value"), to_date(col("ts")).as("day"))
      .crossJoin(broadcast(midDay(events)))
      .withColumn("is_a", col("day") <= col("mid"))
      .localCheckpoint(true) // percentile pass + bucketing share it
    val cuts = tagged.filter(col("is_a"))
      .agg(expr(s"percentile(value, array(${probs.mkString(", ")}))").as("cs"))
      .head().getSeq[Double](0)
    val bucket = cuts.map(c => when(col("value") > c, 1L).otherwise(0L))
      .reduce(_ + _)
    val nBuckets = cuts.length + 1
    val counts = tagged
      .groupBy(bucket.as("bucket"))
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("n_b"))
    psi(counts, "bucket")(_ => lit(0.5 * nBuckets))
  }

  /** Out-of-order (disorder) profile of the event feed — the
    * watermark-sizing diagnostic every stateful streaming op in this
    * library depends on: per user (the key the stateful ops group
    * by), an event's LATENESS is how far its timestamp sits behind
    * the running max already seen in ingest order (`event_id` is the
    * ingest sequence), and the bucketed histogram of that lateness
    * IS the answer to "how big must the watermark be" / "how many
    * rows would the documented cursor-drop contract actually drop".
    * A feed that reads 99.9% `in_order` can run a tight watermark;
    * mass in `ge_1h` means the disorder contract is load-bearing.
    * Exact µs arithmetic end to end (`unix_micros`, the
    * [[botFlag]] precedent); one user_id shuffle for the window,
    * then an O(buckets) aggregate. Share divides exact longs,
    * rounded once.
    */
  def disorderProfile(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lateUs = max(unix_micros(col("ts").cast("timestamp"))).over(w) -
      unix_micros(col("ts").cast("timestamp"))
    val bucketIdx = when(lateUs === 0L, 0L)
      .when(lateUs < 60L * 1000000, 1L)
      .when(lateUs < 600L * 1000000, 2L)
      .when(lateUs < 3600L * 1000000, 3L)
      .otherwise(4L)
    val labels = Seq("in_order", "lt_1m", "lt_10m", "lt_1h", "ge_1h")
    val label = labels.zipWithIndex.foldRight(lit(labels.last)) {
      case ((name, i), fb) => when(bucketIdx === i.toLong, name).otherwise(fb)
    }
    val hist = events
      .select(bucketIdx.as("bucket_idx"), label.as("bucket"),
        lateUs.as("late_us"))
      .groupBy("bucket_idx", "bucket")
      .agg(count(lit(1)).as("n_events"), max("late_us").as("max_late_us"))
    hist.crossJoin(broadcast(hist.agg(sum("n_events").as("total"))))
      .select(col("bucket_idx"), col("bucket"), col("n_events"),
        round(col("n_events").cast("double") / col("total").cast("double"), 6)
          .as("share"),
        col("max_late_us"))
  }

  /** A/B experiment readout: Welch's unequal-variance t-test of
    * `value` between two user cohorts, per event type. Assignment is
    * the portable salted-md5 coin ([[DataSplit.assignPortable]]'s
    * key): deterministic per user (a user is never split across
    * arms), uniform by md5 avalanche, uncorrelated with any data
    * column, and replayable bit-for-bit in any engine — so the whole
    * readout, assignment included, is oracle-checkable.
    *
    * One pass: conditional sums of (1, value, value²) per arm in a
    * single hash aggregate (partial map-side combine; no pivot join,
    * no second scan), then closed-form Welch t and
    * Welch–Satterthwaite df from the six sufficient statistics.
    * `share_a` doubles as the sample-ratio-mismatch gauge — an
    * assignment bug shows up as share_a drifting off 0.5 long before
    * any treatment effect is real. Moments ship UNROUNDED (raw float
    * sums — the q_events_anomaly exactness class, see
    * docs/ORACLE_NOTES.md). Scale: the aggregate carries O(types)
    * groups of 6 doubles; nothing else leaves the map side.
    */
  def abTest(events: DataFrame, salt: String = "ab42"): DataFrame =
    welchReadout(armMoments(events, salt), keyCols = Seq(col("event_type")))

  /** Per event type, the sufficient statistics (n, Σv, Σv²) of each
    * arm of the `salt`-keyed 50/50 user coin, in one aggregate. */
  private def armMoments(events: DataFrame, salt: String): DataFrame = {
    val isA = Sampling.sampleKey(col("user_id"), salt) < lit("80000000")
    val va = when(col("is_a"), col("value")).otherwise(lit(0.0))
    val vb = when(!col("is_a"), col("value")).otherwise(lit(0.0))
    events.select(col("event_type"), isA.as("is_a"), col("value"))
      .groupBy("event_type")
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
        sum(va).as("s_a"), sum(vb).as("s_b"),
        sum(va * col("value")).as("q_a"), sum(vb * col("value")).as("q_b"))
  }

  /** Closed-form Welch t / Welch–Satterthwaite df over the six
    * sufficient statistics (n, Σv, Σv²) per arm — shared by the
    * end-of-experiment readout ([[abTest]]) and the sequential curve
    * ([[abTestSequential]]), so both driver keys and both oracles
    * carry the identical expression tree. Shared with the streaming
    * monitor ([[graft.streaming.EventStream.abReadoutFromPartials]]):
    * the readout math must be ONE definition wherever the sufficient
    * statistics come from. */
  private[graft] def welchReadout(stats: DataFrame, keyCols: Seq[Column]): DataFrame = {
    val meanA = col("s_a") / col("n_a")
    val meanB = col("s_b") / col("n_b")
    // clamp at 0: Σv² − (Σv)²/n can go a last-ulp negative under
    // cancellation with near-constant data, and Spark's sqrt(neg)
    // yields NaN while DuckDB's raises — the clamp (mirrored in the
    // oracle) keeps both engines on the same branch
    val varA = greatest((col("q_a") - col("s_a") * col("s_a") / col("n_a")) /
      (col("n_a") - lit(1)), lit(0.0))
    val varB = greatest((col("q_b") - col("s_b") * col("s_b") / col("n_b")) /
      (col("n_b") - lit(1)), lit(0.0))
    val seA = varA / col("n_a")
    val seB = varB / col("n_b")
    val se2 = seA + seB
    stats
      // se2 > 0 drops zero-variance arms (welch_t would divide by 0)
      .filter(col("n_a") > 1 && col("n_b") > 1 && se2 > 0)
      .select(keyCols ++ Seq(col("n_a"), col("n_b"),
        (col("n_a").cast("double") / (col("n_a") + col("n_b"))).as("share_a"),
        meanA.as("mean_a"), meanB.as("mean_b"),
        ((meanA - meanB) / sqrt(se2)).as("welch_t"),
        (se2 * se2 / (seA * seA / (col("n_a") - lit(1)) +
          seB * seB / (col("n_b") - lit(1)))).as("welch_df")): _*)
  }

  /** Sequential (cumulative-by-day) spelling of [[abTest]] — the
    * peeking curve an experimentation platform actually monitors:
    * for each (event_type, day), the Welch readout AS OF that day.
    * Two-level aggregation keeps it scale-safe: events collapse to
    * O(types·days) daily partials of the six sufficient statistics
    * (map-side combine does the heavy lifting), then a cumulative
    * window PER TYPE ordered by day folds the partials — the window
    * rides on the tiny partial relation, never the fact table, and
    * each type's days are one modest partition. The same shape is
    * the streaming plan: the daily partials are exactly the state a
    * watermarked `groupBy(type, window(day))` maintains, and the
    * cumulative fold is the consumer-side readout. Assignment coin,
    * expression tree, and exactness class are [[abTest]]'s.
    */
  def abTestSequential(events: DataFrame, salt: String = "ab42"): DataFrame = {
    val isA = Sampling.sampleKey(col("user_id"), salt) < lit("80000000")
    val va = when(col("is_a"), col("value")).otherwise(lit(0.0))
    val vb = when(!col("is_a"), col("value")).otherwise(lit(0.0))
    // null ts → null day, which Spark's window sorts NULLS FIRST but
    // DuckDB NULLS LAST — drop before the cumulative fold so both
    // engines see identical day sequences
    val daily = events
      .filter(col("ts").isNotNull)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        isA.as("is_a"), col("value"))
      .groupBy("event_type", "day")
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("d_na"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("d_nb"),
        sum(va).as("d_sa"), sum(vb).as("d_sb"),
        sum(va * col("value")).as("d_qa"), sum(vb * col("value")).as("d_qb"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    welchReadout(
      daily.select(col("event_type"), col("day"),
        sum("d_na").over(w).as("n_a"), sum("d_nb").over(w).as("n_b"),
        sum("d_sa").over(w).as("s_a"), sum("d_sb").over(w).as("s_b"),
        sum("d_qa").over(w).as("q_a"), sum("d_qb").over(w).as("q_b")),
      keyCols = Seq(col("event_type"), col("day")))
  }

  /** Sample-ratio-mismatch guard — the A/B family's VALIDITY check:
    * a chi-square goodness-of-fit of the observed per-arm USER
    * counts against the designed 50/50 split, flagged at the χ²₁
    * 95% cut. SRM is the assignment-bug detector (biased bucketing,
    * bot filtering one arm, redirect loss): a significant mismatch
    * invalidates every downstream readout, which is why this runs
    * before any of them. Users, not events, are the randomization
    * unit — the coin is per-user, so the distinct count per arm is
    * what the design fixed. One distinct-aggregate per type; the
    * chi-square is a pure projection of two exact integers, so the
    * flag is deterministic on both engines.
    */
  def abSrmCheck(events: DataFrame, salt: String = "ab42"): DataFrame = {
    val isA = Sampling.sampleKey(col("user_id"), salt) < lit("80000000")
    val e = (col("n_a") + col("n_b")).cast("double") / lit(2.0)
    val chi2 = (col("n_a") - e) * (col("n_a") - e) / e +
      (col("n_b") - e) * (col("n_b") - e) / e
    events.select(col("event_type"), isA.as("is_a"), col("user_id"))
      .groupBy("event_type")
      .agg(
        countDistinct(when(col("is_a"), col("user_id"))).as("n_a"),
        countDistinct(when(!col("is_a"), col("user_id"))).as("n_b"))
      .filter(col("n_a") + col("n_b") > 0)
      .select(col("event_type"), col("n_a"), col("n_b"),
        chi2.as("chi2"),
        // χ²₁(0.95): fixed literal on both engines
        (chi2 > lit(3.841458820694124)).as("srm_flag"))
  }

  /** Minimum-detectable-effect readout — the experiment-SIZING
    * member of the A/B family: given the observed per-arm variances
    * and counts, the smallest true mean shift the running experiment
    * could declare at α=0.05 (two-sided) with 80% power:
    * MDE = (z₀.₉₇₅ + z₀.₈) · √(s²ₐ/nₐ + s²ᵦ/nᵦ). The platform
    * answer to "why is my experiment still grey" — if the observed
    * lift sits under the MDE, the test is underpowered, not null.
    * Same one-pass sufficient statistics, coin, and clamps as
    * [[abTest]]; the z quantiles are fixed literals on both engines.
    */
  def abTestMde(events: DataFrame, salt: String = "ab42"): DataFrame = {
    val zAlpha = 1.959963984540054 // Φ⁻¹(0.975)
    val zBeta = 0.8416212335729143 // Φ⁻¹(0.80)
    val varA = greatest((col("q_a") - col("s_a") * col("s_a") / col("n_a")) /
      (col("n_a") - lit(1)), lit(0.0))
    val varB = greatest((col("q_b") - col("s_b") * col("s_b") / col("n_b")) /
      (col("n_b") - lit(1)), lit(0.0))
    val se2 = varA / col("n_a") + varB / col("n_b")
    val mde = lit(zAlpha + zBeta) * sqrt(se2)
    armMoments(events, salt)
      .filter(col("n_a") > 1 && col("n_b") > 1 && se2 > 0 &&
        col("s_b") =!= 0.0)
      .select(col("event_type"), col("n_a"), col("n_b"),
        mde.as("mde_abs"),
        (mde / (col("s_b") / col("n_b"))).as("mde_rel"))
  }

  /** Markov (removal-effect) attribution — the data-driven member of
    * the attribution family (beside the rule-based window key): user
    * journeys become a first-order Markov chain over states
    * {START} ∪ channels ∪ {CONV, NULL} (path truncated at the first
    * conversion; a non-converting path ends in NULL), and a
    * channel's credit is its REMOVAL EFFECT — how much absorption
    * probability into CONV the chain loses when entering that
    * channel yields nothing (Anderl et al.'s formulation, clamped
    * value iteration: v(removed) ≡ 0).
    *
    * Plan: one per-user window pass folds the fact table to
    * O(states²) transition counts; the `iters` value-iteration
    * rounds run on the COLLECTED matrix driver-side (the Holt/
    * Kaplan–Meier pattern — O(channels·states²·iters) on a
    * ~7-state alphabet, never the events). The oracle unrolls the
    * identical iterations as CTEs; all float outputs ride the
    * driver tolerance (value iteration is a contraction — 12
    * rounds put the truncation error far below 1e-9 on chains
    * whose per-step continuation mass ≤ ~0.9).
    */
  def markovAttribution(events: DataFrame, convType: String = "purchase",
                        iters: Int = 12): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val st = events
      .filter(col("ts").isNotNull)
      .select(col("user_id"), col("ts"), col("event_id"),
        when(col("event_type") === convType, lit("CONV"))
          .otherwise(col("event_type")).as("state"))
    val kept = st
      .withColumn("prior_conv",
        count(when(col("state") === "CONV", 1))
          .over(byUser.rowsBetween(Window.unboundedPreceding, -1)))
      .filter(col("prior_conv") === 0)
    val pairs = kept
      .withColumn("f", coalesce(lag(col("state"), 1).over(byUser), lit("START")))
      .select(col("f"), col("state").as("t"))
      .unionByName(kept
        .withColumn("rrn", row_number().over(Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)))
        .filter(col("rrn") === 1 && col("state") =!= "CONV")
        .select(col("state").as("f"), lit("NULL").as("t")))
    val counts = pairs.groupBy("f", "t").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val fromTotals = counts.groupBy(_._1._1).map { case (f, m) => f -> m.values.sum }
    val probs: Map[String, Seq[(String, Double)]] = counts.toSeq
      .map { case ((f, t), n) => (f, t, n.toDouble / fromTotals(f)) }
      .groupBy(_._1).map { case (f, s) =>
        f -> s.map(x => (x._2, x._3)).sortBy(_._1) }
    val states = (counts.keys.flatMap(k => Seq(k._1, k._2)) ++
      Seq("CONV", "NULL")).toSeq.distinct.sorted
    val channels = states.filterNot(Set("START", "CONV", "NULL")).sorted
    def absorb(removed: Option[String]): Double = {
      var v = states.map(s => s -> (if (s == "CONV") 1.0 else 0.0)).toMap
      for (_ <- 0 until iters) {
        v = states.map { s =>
          s -> (if (s == "CONV") 1.0
          else if (s == "NULL") 0.0
          else if (removed.contains(s)) 0.0
          else probs.getOrElse(s, Nil).map { case (t, p) => p * v(t) }.sum)
        }.toMap
      }
      v.getOrElse("START", 0.0)
    }
    val pAll = absorb(None)
    val effects = channels.map(c => (c, absorb(Some(c))))
    val totalEffect = effects.map { case (_, p) => 1.0 - p / pAll }.sum
    if (pAll <= 0.0) Seq.empty[(String, Double, Double, Double, Double)]
      .toDF("channel", "p_conv", "p_removed", "removal_effect", "share")
    else effects.map { case (c, p) =>
      // share guard: when every conversion path bypasses all
      // channels (START→CONV directly), every removal effect — and
      // their sum — is 0, and 0/0 would emit NaN rows whose
      // comparison semantics differ across engines. Attribution of
      // nothing is 0, not NaN.
      val eff = 1.0 - p / pAll
      (c, pAll, p, eff,
        if (totalEffect == 0.0) 0.0 else eff / totalEffect)
    }.toDF("channel", "p_conv", "p_removed", "removal_effect", "share")
  }

  /** Mann-Whitney U (Wilcoxon rank-sum) readout — the A/B family's
    * distribution-free robustness check beside [[abTest]]'s Welch t:
    * ranks are immune to the heavy tails and outliers that dominate
    * a mean-scale comparison on revenue-like metrics. Same portable
    * md5 coin, so the whole readout is replayable in any engine.
    *
    * Midrank treatment of ties with the standard tie-corrected
    * normal approximation: z = (U_a − n_a·n_b/2) / sqrt(var_U),
    * var_U = n_a·n_b/12 · ((N+1) − Σ(t³−t)/(N·(N−1))).
    *
    * Plan: facts collapse to O(types · distinct values) of
    * (tie-count, arm-A count) partials — map-side combine does the
    * heavy lifting; the rank window runs over THAT relation,
    * partitioned by type (ranking fundamentally needs a per-type
    * sort, but of value-groups, never raw events). Midranks are
    * exact half-integers and the counts exact longs, so every sum is
    * IEEE-exact below 2^52 — unlike the Welch keys this readout is
    * order-INdependent, bit-reproducible across engines. The tie
    * term t³−t is computed in doubles on both engines (t³ would
    * overflow int64 once a single (type, value) bucket passes ~2M
    * rows at 100 TB; the term is divided by N(N−1) anyway).
    */
  def abTestMannWhitney(events: DataFrame, salt: String = "ab42"): DataFrame = {
    val isA = Sampling.sampleKey(col("user_id"), salt) < lit("80000000")
    val grouped = events
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value"), isA.as("is_a"))
      .groupBy("event_type", "value")
      .agg(count(lit(1)).as("t"),
        sum(when(col("is_a"), 1L).otherwise(0L)).as("t_a"))
    val byVal = Window.partitionBy("event_type").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = grouped
      .withColumn("midrank",
        coalesce(sum("t").over(byVal), lit(0L)) +
          (col("t") + lit(1)) / lit(2.0))
    val nA = col("n_a").cast("double")
    val nB = col("n_b").cast("double")
    val nT = nA + nB
    val uA = col("r_a") - nA * (nA + lit(1.0)) / lit(2.0)
    val varU = nA * nB / lit(12.0) *
      ((nT + lit(1.0)) - col("ties") / (nT * (nT - lit(1.0))))
    ranked
      .groupBy("event_type")
      .agg(
        sum("t_a").as("n_a"),
        sum(col("t") - col("t_a")).as("n_b"),
        sum(col("midrank") * col("t_a")).as("r_a"),
        sum(col("t").cast("double") * col("t").cast("double") *
          col("t").cast("double") - col("t").cast("double")).as("ties"))
      .filter(col("n_a") > 0 && col("n_b") > 0 && varU > 0)
      .select(col("event_type"), col("n_a"), col("n_b"),
        col("r_a").as("rank_sum_a"), uA.as("u_a"),
        ((uA - nA * nB / lit(2.0)) / sqrt(varU)).as("z_u"))
  }

  /** CUPED variance reduction for the A/B readout ([[abTest]]'s
    * third member): each user's PRE-period mean value (calendar
    * first half, the [[typePsi]] midpoint) is the covariate for
    * their experiment-period mean (second half), θ =
    * cov(pre, post)/var(pre) is fit on the POOLED users (standard
    * practice — the coin makes arm ⟂ pre, so pooling is unbiased),
    * and each arm's mean is adjusted by θ·(arm pre-mean − global
    * pre-mean). `var_reduction` is the closed form ρ² =
    * cov²/(var_pre·var_post) — the fraction of metric variance the
    * covariate removes (a perfect covariate collapses both arms'
    * CUPED means to the global post mean; spec-held).
    *
    * Plan: one fact scan into an O(users) relation of per-user
    * (pre, post) moments, then ONE global conditional aggregate into
    * a single row of sufficient statistics — every closed form is a
    * scalar projection of that row; nothing but the user relation
    * ever shuffles, and θ never requires a second pass. Only users
    * observed in BOTH halves count (the paired-covariate contract).
    * Exactness class is [[abTest]]'s (raw float sums, unrounded).
    */
  def abTestCuped(events: DataFrame, salt: String = "ab42"): DataFrame = {
    val isA = Sampling.sampleKey(col("user_id"), salt) < lit("80000000")
    // null ts has no calendar half — drop before the midpoint split
    val evts = events.filter(col("ts").isNotNull)
    val users = evts
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
      .crossJoin(broadcast(evts
        .agg(date_add(min(to_date(col("ts"))),
          floor(datediff(max(to_date(col("ts"))), min(to_date(col("ts")))) / 2)
            .cast("int")).as("mid"))))
      .groupBy("user_id")
      .agg(
        sum(when(col("day") <= col("mid"), 1L).otherwise(0L)).as("pre_n"),
        sum(when(col("day") <= col("mid"), col("value")).otherwise(lit(0.0)))
          .as("pre_s"),
        sum(when(col("day") > col("mid"), 1L).otherwise(0L)).as("post_n"),
        sum(when(col("day") > col("mid"), col("value")).otherwise(lit(0.0)))
          .as("post_s"))
      .filter(col("pre_n") > 0 && col("post_n") > 0)
      .select(isA.as("is_a"),
        (col("pre_s") / col("pre_n")).as("pre"),
        (col("post_s") / col("post_n")).as("post"))
    val n = col("n_a") + col("n_b")
    val meanPre = (col("spre_a") + col("spre_b")) / n
    val covPP = ((col("cpp_a") + col("cpp_b")) -
      (col("spre_a") + col("spre_b")) * (col("spost_a") + col("spost_b")) / n) /
      (n - lit(1))
    val varPre = ((col("qpre_a") + col("qpre_b")) -
      (col("spre_a") + col("spre_b")) * (col("spre_a") + col("spre_b")) / n) /
      (n - lit(1))
    val varPost = ((col("qpost_a") + col("qpost_b")) -
      (col("spost_a") + col("spost_b")) * (col("spost_a") + col("spost_b")) / n) /
      (n - lit(1))
    val theta = covPP / varPre
    users
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("n_b"),
        sum(when(col("is_a"), col("pre")).otherwise(lit(0.0))).as("spre_a"),
        sum(when(!col("is_a"), col("pre")).otherwise(lit(0.0))).as("spre_b"),
        sum(when(col("is_a"), col("post")).otherwise(lit(0.0))).as("spost_a"),
        sum(when(!col("is_a"), col("post")).otherwise(lit(0.0))).as("spost_b"),
        sum(when(col("is_a"), col("pre") * col("pre")).otherwise(lit(0.0)))
          .as("qpre_a"),
        sum(when(!col("is_a"), col("pre") * col("pre")).otherwise(lit(0.0)))
          .as("qpre_b"),
        sum(when(col("is_a"), col("post") * col("post")).otherwise(lit(0.0)))
          .as("qpost_a"),
        sum(when(!col("is_a"), col("post") * col("post")).otherwise(lit(0.0)))
          .as("qpost_b"),
        sum(when(col("is_a"), col("pre") * col("post")).otherwise(lit(0.0)))
          .as("cpp_a"),
        sum(when(!col("is_a"), col("pre") * col("post")).otherwise(lit(0.0)))
          .as("cpp_b"))
      // var_pre > 0 guards theta's division; var_post > 0 guards
      // var_reduction — a constant pre or post metric has no CUPED
      // readout (mirrored in the oracle)
      .filter(col("n_a") > 1 && col("n_b") > 1 &&
        varPre > 0 && varPost > 0)
      .select(col("n_a"), col("n_b"),
        (col("spost_a") / col("n_a")).as("mean_post_a"),
        (col("spost_b") / col("n_b")).as("mean_post_b"),
        (col("spost_a") / col("n_a") -
          theta * (col("spre_a") / col("n_a") - meanPre)).as("cuped_mean_a"),
        (col("spost_b") / col("n_b") -
          theta * (col("spre_b") / col("n_b") - meanPre)).as("cuped_mean_b"),
        theta.as("theta"),
        (covPP * covPP / (varPre * varPost)).as("var_reduction"))
  }

  /** Categorical PSI over the event-type mix — [[valuePsi]]'s
    * sibling for the OTHER drift axis: the VALUE distribution can be
    * rock-stable while the type mix shifts under it (a new event
    * type ships, an old one dies, a client update reroutes traffic),
    * and categorical drift needs no cut-points — the types ARE the
    * buckets. Same half-split convention (calendar midpoint), same
    * Laplace smoothing — which here is doing real work: a type
    * absent from one half (the "new type appeared" / "type died"
    * alarm this monitor exists for) degrades to a large finite term
    * instead of ±∞. One fact scan into an O(types) relation; the
    * windows run over that bounded relation only.
    */
  def typePsi(events: DataFrame): DataFrame = {
    val counts = events
      .select(col("event_type"), to_date(col("ts")).as("day"))
      .crossJoin(broadcast(midDay(events)))
      .groupBy("event_type")
      .agg(
        sum(when(col("day") <= col("mid"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("day") <= col("mid"), 0L).otherwise(1L)).as("n_b"))
    categoricalPsi(counts, "event_type")
  }

  /** Population-stability index over per-`key` half counts
    * (`n_a`, `n_b`): Laplace-smoothed shares `(c + ½)/(n + smoothing)`,
    * the smoothing term built over the whole-relation window; then
    * each key's `(p_b − p_a)·ln(p_b/p_a)` term and their total. The
    * windows run over the bounded key relation only.
    */
  private[graft] def psi(counts: DataFrame, key: String)(
      smoothing: WindowSpec => Column): DataFrame = {
    val all = Window.orderBy(key)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pa = (col("n_a") + lit(0.5)) /
      (sum("n_a").over(all) + smoothing(all))
    val pb = (col("n_b") + lit(0.5)) /
      (sum("n_b").over(all) + smoothing(all))
    counts
      .withColumn("p_a", pa).withColumn("p_b", pb)
      .withColumn("psi_term", (col("p_b") - col("p_a")) *
        log(col("p_b") / col("p_a")))
      .withColumn("psi_total", sum("psi_term").over(all))
      .select(col(key), col("n_a"), col("n_b"),
        round(col("p_a"), 6).as("p_a"), round(col("p_b"), 6).as("p_b"),
        round(col("psi_term"), 6).as("psi_term"),
        round(col("psi_total"), 6).as("psi_total"))
  }

  /** [[psi]] smoothed over the categories present: ½ per key row. */
  private[graft] def categoricalPsi(counts: DataFrame, key: String): DataFrame =
    psi(counts, key)(all => lit(0.5) * count(lit(1)).over(all))
}
