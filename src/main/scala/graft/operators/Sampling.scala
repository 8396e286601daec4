package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic sampling operators for training-data curation
  * (SURVEY.md §2.E). Everything here is hash-driven, never
  * `rand()`-driven: a sample must be reproducible across retries,
  * partitionings, and cluster sizes, or downstream training runs
  * aren't comparable. (The reference pipeline has no sampling stage;
  * these are the curation ops a 100 TB corpus needs on top —
  * cf. /root/reference/scripts/transformation.py:64-93 which keeps
  * or drops rows only by validity, never by rate.)
  *
  * The hash is `md5(id:salt)` compared through its first 8 hex chars
  * — portable (identical in Spark, DuckDB, Postgres, …, so the
  * oracle can replay it bit-for-bit) and uniform. Lowercase hex
  * compares lexicographically in numeric order, so a rate maps to a
  * plain string threshold.
  */
object Sampling {

  /** First-8-hex-chars threshold for a keep-rate in [0,1]:
    * `floor(rate · 16^8)` zero-padded — `md5hex8 < threshold` keeps
    * ~rate of rows.
    */
  def hexThreshold(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0,1], got $rate")
    val v = math.min(math.floor(rate * 4294967296.0).toLong, 0xffffffffL)
    f"$v%08x"
  }

  /** The portable sampling key: `substr(md5(id:salt), 1, 8)`. */
  def sampleKey(id: Column, salt: String): Column =
    substring(md5(concat(id.cast("string"), lit(":" + salt))), 1, 8)

  /** Bernoulli sample at `rate` — a pure filter: no shuffle, no
    * state, embarrassingly parallel, stable under retries and
    * repartitioning (unlike `DataFrame.sample`, whose output depends
    * on partition layout).
    */
  def hashSample(df: DataFrame, idCol: String, rate: Double,
                 salt: String = "s42"): DataFrame =
    if (rate >= 1.0) df
    else df.filter(sampleKey(col(idCol), salt) < lit(hexThreshold(rate)))

  /** Approximate-query-processing estimator: a grouped SUM estimated
    * from the `rate` hash sample with Horvitz–Thompson expansion
    * (est = sample-sum / rate), emitted BESIDE the exact answer and
    * the realized relative error — the self-audit form. At 100 TB
    * the exact column is what you drop: the sampled scan reads
    * `rate` of the rows (with the md5 filter pushed to the scan) and
    * the estimate is the product; here both ride one pass so the
    * error column is an oracle-checked fact, not a promise. The
    * hash coin (not `DataFrame.sample`) makes the estimate stable
    * under retries/partitioning and bit-replayable cross-engine.
    */
  def sampleEstimate(df: DataFrame, idCol: String, valueExpr: Column,
                     groupCol: String, rate: Double = 0.1,
                     salt: String = "aqp42"): DataFrame = {
    val thr = hexThreshold(rate)
    val flagged = df.select(col(groupCol), valueExpr.as("rev"),
      sampleKey(col(idCol), salt).as("k"))
    // 95% half-width of the HT total under Bernoulli(rate) sampling:
    // Var(est) = Σᵢ vᵢ²·(1−rate)/rate over ALL rows; estimated from
    // the sample by Σ_{i∈S} vᵢ²·(1−rate)/rate² (each sampled v²/rate
    // estimates the population Σv²). Inclusion coins are independent
    // per row, so (1−rate) is the whole correction.
    val varEst = coalesce(col("q_rev"), lit(0.0)) *
      lit((1.0 - rate) / (rate * rate))
    flagged.groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_rows"),
        sum("rev").as("exact_value"),
        sum(when(col("k") < lit(thr), col("rev"))).as("s_rev"),
        sum(when(col("k") < lit(thr), col("rev") * col("rev")))
          .as("q_rev"),
        sum(when(col("k") < lit(thr), 1L).otherwise(0L)).as("n_sampled"))
      .select(col(groupCol), col("n_rows"), col("n_sampled"),
        (coalesce(col("s_rev"), lit(0.0)) / lit(rate)).as("est_value"),
        (lit(1.959963984540054) * sqrt(varEst)).as("ci95_halfwidth"),
        // the normal-theory half-width is NOMINAL only when enough
        // sampled rows back the variance estimate (CLT regime); a
        // group with < 30 sampled rows still gets a number, but the
        // consumer must treat it as indicative — the flag makes that
        // one boolean instead of a footnote
        (col("n_sampled") >= lit(30L)).as("ci_nominal"),
        col("exact_value"),
        // guarded: a group whose exact sum is 0 has no meaningful
        // relative error (Spark NULL, DuckDB would inf/NaN — the
        // nullif mirrors the guard cross-engine)
        when(col("exact_value") =!= lit(0.0),
          abs(coalesce(col("s_rev"), lit(0.0)) / lit(rate) -
            col("exact_value")) / col("exact_value")).as("rel_err"))
  }

  /** Threshold literal for a stratum: rate 1.0 maps to "g", which is
    * greater than every lowercase-hex key, so a full-keep stratum
    * keeps the 2^-32 tail ("ffffffff" keys) a strict `< "ffffffff"`
    * compare would drop. */
  private[operators] def thresholdLit(rate: Double): String =
    if (rate >= 1.0) "g" else hexThreshold(rate)

  /** Stratified Bernoulli sample: per-stratum keep-rates (e.g.
    * up-sample rare high-quality sources, down-sample crawl bulk).
    * Still a pure filter — the per-stratum threshold is a CASE
    * expression, so no join and no shuffle at any corpus size.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       rates: Map[String, Double], defaultRate: Double,
                       salt: String = "s42"): DataFrame = {
    val threshold = rates.foldLeft(lit(thresholdLit(defaultRate))) {
      case (acc, (stratum, r)) =>
        when(col(stratumCol) === stratum, lit(thresholdLit(r))).otherwise(acc)
    }
    df.filter(sampleKey(col(idCol), salt) < threshold)
  }

  /** Exactly-k-per-stratum uniform sample: rank rows inside each
    * stratum by sampling key (hash order ≈ uniform random order, but
    * deterministic) and keep the first k. One shuffle on the stratum
    * key; skew is bounded by the largest stratum — for a pathological
    * mega-stratum, pre-thin with [[hashSample]] at ~10·k/|stratum|
    * first so the per-stratum sort stays small. The window beats a
    * partial-merge aggregator form here: that form was slower at
    * sf0.1 and wrote 6% more shuffle bytes (docs/SCALING.md, "One
    * key per result").
    */
  def uniformKPerStratum(df: DataFrame, idCol: String, stratumCol: String,
                         k: Int, salt: String = "s42"): DataFrame = {
    val w = Window.partitionBy(stratumCol)
      .orderBy(sampleKey(col(idCol), salt), col(idCol))
    df.withColumn("sample_rank", row_number().over(w).cast("long"))
      .filter(col("sample_rank") <= k)
  }

  /** Rebalance a corpus to target source proportions — the
    * data-MIXTURE step of a training run ("50% web, 30% wiki, 20%
    * code"). Per-source keep-rates are derived to hit the target
    * shares while retaining the maximum possible volume: no source
    * can be up-sampled past its actual size, so the achievable total
    * is `T = min_s n_s / p_s` and `keep_s = p_s · T / n_s` (the
    * binding source keeps everything). Sources outside the target
    * map drop entirely. The only non-filter work is the per-source
    * count — one aggregate, O(|sources|) rows to the driver; the
    * sample itself is the usual deterministic stratified hash filter
    * (portable md5 threshold, so the whole computation — rate
    * derivation included — replays bit-for-bit in the oracle).
    */
  def sampleToMixture(df: DataFrame, idCol: String, stratumCol: String,
                      targetShares: Map[String, Double],
                      salt: String = "m42"): DataFrame = {
    require(targetShares.nonEmpty && targetShares.values.forall(_ > 0.0),
      "target shares must be positive")
    val shareSum = targetShares.values.sum
    val shares = targetShares.map { case (s, p) => s -> p / shareSum }
    val inMix = df.filter(col(stratumCol).isin(shares.keys.toSeq: _*))
    val counts = inMix.groupBy(stratumCol).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = shares.keySet -- counts.keySet
    require(missing.isEmpty, s"no rows for target sources: $missing")
    val total = shares.map { case (s, p) => counts(s) / p }.min
    val rates = shares.map { case (s, p) =>
      s -> math.min(p * total / counts(s), 1.0) }
    stratifiedSample(inMix, idCol, stratumCol, rates, defaultRate = 0.0, salt)
  }

  /** Temperature-scaled source rebalancing — the multilingual /
    * multi-source mixing rule from the mBERT/XLM-R/mT5 line of work:
    * sample source `s` with probability ∝ `n_s^τ`, τ ∈ (0, 1), so
    * head sources are flattened and tail sources are (relatively)
    * boosted without ever up-sampling past a source's actual size.
    * As per-source Bernoulli keep-rates at maximum retained volume:
    * `rate_s = (n_min / n_s)^(1-τ)` — the smallest source keeps
    * everything (rate 1), a source c× larger keeps `c^(τ-1)` of
    * itself, and retained counts land ∝ n_s^τ exactly.
    *
    * τ is fixed at 1/2 (the common default): the rate is then
    * `sqrt(n_min / n_s)`, and both the division and `sqrt` are
    * correctly-rounded single IEEE-754 ops — the rate, its hex
    * threshold, and therefore the selected SET replay bit-for-bit in
    * any engine (a general `pow(x, 1-τ)` is libm-dependent and would
    * break the oracle, the same trap [[poissonK]] documents for
    * Efraimidis-Spirakis keys). The only non-filter work is the
    * per-stratum count — one aggregate, O(|sources|) rows to the
    * driver; the sample itself is the zero-shuffle stratified hash
    * filter.
    */
  def sampleTemperature(df: DataFrame, idCol: String, stratumCol: String,
                        salt: String = "t42"): DataFrame = {
    val counts = df.filter(col(stratumCol).isNotNull)
      .groupBy(stratumCol).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "no strata to rebalance")
    val nMin = counts.values.min
    val rates = counts.map { case (s, n) =>
      s -> math.sqrt(nMin.toDouble / n.toDouble) }
    stratifiedSample(df.filter(col(stratumCol).isNotNull),
      idCol, stratumCol, rates, defaultRate = 0.0, salt)
  }

  /** Sequential Poisson (Ohlsson) sample: exactly k rows drawn with
    * probability ∝ `weight` (without replacement, to first order) —
    * the survey-sampling standard for "k docs, longer ones more
    * likely". Each row's rank is ξ = u/w with u a deterministic
    * uniform from the id hash (`(h+1)/2^32` over the first 8 md5 hex
    * digits — +1 keeps u > 0); the k smallest ξ win. Only exact IEEE
    * ops (hash-int + 1, two divisions), so ranks — and therefore the
    * selected SET — replay bit-for-bit in any engine; an
    * Efraimidis-Spirakis `u^(1/w)` key would hit cross-libm `pow`
    * divergence. The k-smallest runs on the bounded-heap
    * [[graft.functions.TopKAgg]] (negated rank): map tasks pre-reduce
    * to ≤ k candidates, the exchange carries O(k) rows — no global
    * sort of the corpus. Non-positive weights can't be ranked and
    * are excluded (portably: `WHERE w > 0`).
    */
  def poissonK(df: DataFrame, idCol: String, weight: Column, k: Int,
               salt: String = "p42"): DataFrame = {
    val u = (conv(sampleKey(col(idCol), salt), 16, 10).cast("double") + 1.0) /
      lit(4294967296.0)
    val xi = u / weight
    df.filter(weight > 0)
      .select(col(idCol), xi.as("xi"))
      .agg(graft.functions.TopKAgg.largestKWithPayload(
        -col("xi"), col(idCol), lit(""), k).as("top"))
      .select(posexplode(col("top")))
      .select((col("pos") + 1).cast("long").as("sample_rank"),
        col("col._2").as(idCol), (-col("col._1")).as("xi"))
  }

  /** Per-row weighted Bernoulli sample: each row keeps with
    * probability `weight` (a Column in [0,1], e.g. a quality score) —
    * up/down-weighting sources by quality without a shuffle or any
    * sampling state. The row-wise hex threshold is
    * `printf("%08x", floor(w·16^8))`, so the decision stays portable
    * (the oracle replays it); weights ≥ 1 compare against "g", which
    * clears every hex key ([[thresholdLit]]'s full-keep rule), and
    * weights ≤ 0 yield "00000000", which no key is below. A null or
    * NaN weight yields a null threshold and the row is dropped —
    * rows without a usable quality score don't sample in.
    */
  def weightedSample(df: DataFrame, idCol: String, weight: Column,
                     salt: String = "w42"): DataFrame = {
    val threshold = when(weight >= 1.0, lit("g"))
      .otherwise(format_string("%08x",
        floor(greatest(weight, lit(0.0)) * lit(4294967296.0)).cast("long")))
    df.filter(sampleKey(col(idCol), salt) < threshold)
  }
}
