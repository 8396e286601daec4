package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-data curation: the composed pass a user runs
  * nightly — C4-style quality filter → exact dedup (min-id survivor
  * per canonical text) → benchmark-slice exclusion + n-gram
  * decontamination — producing the training-eligible document set.
  * Every stage is one of the library's deterministic operators, so
  * the WHOLE pipeline is oracle-checked end to end, and every stage
  * is a filter/semi-join over the previous one (no stage ever
  * re-widens the data).
  *
  * Composition order matters and is deliberate: dedup runs on the
  * quality-kept corpus (a low-quality copy must not steal
  * survivorship from a high-quality one), and if a duplicate group's
  * min-id survivor is itself benchmark/contaminated the whole group
  * drops — re-instating a junior copy would train on the same
  * contaminated content under a different id.
  */
object Curation {

  /** Per-doc (doc_id, n_tokens, quality_score) used by several gates.
    * Quality stats are PURE per-document (length/punct/stopword
    * ratios — no corpus dependence), so one tokenization scan can
    * feed every stage of a composed pipeline; [[curateFlags]] and
    * [[curateCapped]] thread this through instead of re-tokenizing
    * the corpus once per gate.
    */
  private def scoreDocs(docs: DataFrame): DataFrame =
    TextAnalysis.stats(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))

  def curate(docs: DataFrame, minTokens: Long = 20L, maxTokens: Long = 100000L,
             minQuality: Double = 0.2, benchMod: Int = 97,
             scored: Option[DataFrame] = None): DataFrame = {
    val quality = scored.getOrElse(scoreDocs(docs))
      .filter(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
        col("quality_score") >= minQuality)
      .select("doc_id")
    val kept = docs.join(quality, Seq("doc_id"), "left_semi")
    val survivors = Dedup.exact(kept).select("doc_id")
    val contaminated = TextAnalysis
      .decontaminate(docs, n = 3, benchMod = benchMod).select("doc_id")
    kept
      .join(survivors, Seq("doc_id"), "left_semi")
      .filter(col("doc_id") % benchMod =!= 0) // the benchmark never trains
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** INCREMENTAL curation — the daily-ingest twin of [[curate]]: only
    * the new batch is scored, gated, and deduplicated; history is
    * consulted, never re-curated. The gates, in order: the
    * 20-threshold Gopher gate (r14 — per-doc pure, so gating the
    * delta alone is exact), per-doc
    * quality/token bounds (pure per-document — scoring the delta
    * alone is exact, not an approximation), batch-internal exact
    * dedup (keep-min within the delta), exact-vs-history
    * ([[Dedup.incrementalExact]] — history reduces to distinct
    * fingerprints; production reads the [[DedupStore]] instead of
    * text), the corpus-duplication gate vs the PERSISTED dup-gram
    * store (r14 — delta grams broadcast-probe what the nightly batch
    * wrote, history never re-explodes), near-dup-vs-history
    * ([[Dedup.incrementalNearDupPairs]] —
    * new×corpus candidates only, old×old pairs never form), benchmark
    * slice exclusion, and decontamination against the STATIC
    * benchmark (history text is touched only for its benchmark
    * slice — the gram side of history never rescans). Every gate is
    * deterministic, so the whole composition is oracle-checked; at
    * 100 TB the nightly cost is O(delta) + fingerprint-sized history
    * reads, vs [[curateFull]]'s O(corpus) full rebuild.
    */
  def curateIncremental(newDocs: DataFrame, corpus: DataFrame,
                        gopherFlags: DataFrame, dupStore: DataFrame,
                        embeddings: DataFrame,
                        minTokens: Long = 20L, maxTokens: Long = 100000L,
                        minQuality: Double = 0.2, benchMod: Int = 97,
                        tau: Double = 0.5,
                        maxDupFrac: Double = 0.5,
                        semTau: Double = 0.4): DataFrame = {
    // r14 gate parity with the recomposed [[curateFull]]: the
    // 20-threshold Gopher gate leads (per-doc pure, so gating the
    // DELTA alone is exact — the same reason delta-only quality
    // scoring is), and the corpus-duplication gate probes the
    // PERSISTED dup-gram store the nightly batch wrote (delta grams
    // broadcast-semi-join the store; history never re-explodes)
    // r18 optimization round: the delta is consumed by FIVE gates
    // (quality scoring, the gated semi-join, the dup-gram probe, the
    // decontamination union, the semantic corpus-id slice) plus the
    // final projection — each re-ran the parquet scan + %-filter.
    // Pin it once; the daily delta is ingest-sized by contract, so
    // the materialization is the cheap side at any scale.
    val delta = newDocs.localCheckpoint(true)
    val gopherDrop = gopherFlags
      .filter(TextAnalysis.gopherAnyFlag)
      .select("doc_id")
    val quality = scoreDocs(delta)
      .filter(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
        col("quality_score") >= minQuality)
      .select("doc_id")
      .join(gopherDrop, Seq("doc_id"), "left_anti")
    val gated = delta.join(quality, Seq("doc_id"), "left_semi")
    val dupDrop = TextAnalysis
      .dupNgramApply(TextAnalysis.dupNgramDocsVsStore(delta, dupStore),
        maxDupFrac)
      .filter(!col("keep")).select("doc_id")
    // exact: within-batch keep-min, then anti-join history fingerprints
    val batchKeep = Dedup.exact(gated).select("doc_id")
    val fresh = Dedup.incrementalExact(
      gated.join(batchKeep, Seq("doc_id"), "left_semi"), corpus)
      .select("doc_id")
    // near-dup drop list: quality-gated delta × history only
    val nearDup = Dedup.incrementalNearDupPairs(gated, corpus, tau = tau)
      .select(col("new_id").as("doc_id")).distinct()
    // decontamination vs the static benchmark: history contributes
    // ONLY its benchmark slice (tiny) — never a full text rescan
    val contaminated = TextAnalysis.decontaminate(
      delta.unionByName(corpus.filter(col("doc_id") % benchMod === 0)),
      n = 3, benchMod = benchMod)
      .select("doc_id")
    // SEMANTIC decontamination of the DELTA only (r15 — full-pipeline
    // parity with [[curateFull]]'s r14 gate): the static benchmark
    // slice broadcasts, only the delta's vectors score against it —
    // the daily cost is O(delta), history is never re-scored
    val semContaminated = Dedup.semanticDecontaminate(embeddings, benchMod,
        semTau, corpusIds = Some(delta.select(col("doc_id").as("vec_id"))))
      .filter(col("contaminated"))
      .select(col("vec_id").as("doc_id"))
    gated
      .join(fresh, Seq("doc_id"), "left_semi")
      .join(dupDrop, Seq("doc_id"), "left_anti")
      .filter(col("doc_id") % benchMod =!= 0)
      .join(nearDup, Seq("doc_id"), "left_anti")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .join(semContaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Per-source document cap — the "no domain dominates the corpus"
    * curation gate: keep at most `cap` docs per source, ranked by the
    * shared quality score (desc; ties → doc_id asc). The rank engine
    * is the bounded-heap [[graft.functions.TopKAgg]] aggregation:
    * map tasks pre-reduce each source to ≤ cap candidates, so the
    * exchange carries |sources|·cap rows — a crawl where one domain
    * is 30% of 100 TB costs O(cap) aggregation state, where a window
    * formulation would sort-shuffle that whole domain through one
    * task. Deterministic → oracle-checked; CurationSpec holds it
    * equal to the `row_number` window formulation.
    */
  def sourceCap(docs: DataFrame, cap: Int = 40,
                scored: Option[DataFrame] = None): DataFrame =
    docs
      .join(scored.getOrElse(scoreDocs(docs))
        .select("doc_id", "quality_score"), Seq("doc_id"))
      .groupBy("source")
      .agg(graft.functions.TopKAgg.largestKWithPayload(
        col("quality_score"), col("doc_id"), lit(""), cap).as("top"))
      .select(col("source"), posexplode(col("top")))
      .select(col("source"),
        (col("pos") + 1).cast("long").as("rank_in_source"),
        col("col._2").as("doc_id"),
        col("col._1").as("quality_score"))

  /** The full nightly pass with domain balancing: [[curate]]'s
    * survivors, then [[sourceCap]] applied to the CURATED corpus —
    * cap order matters and is deliberate (capping before dedup would
    * let a duplicate burn a source's budget slot). One more
    * |sources|·cap-row aggregate on top of curate's cost; the whole
    * composition stays deterministic and oracle-checked end to end.
    */
  def curateCapped(docs: DataFrame, cap: Int = 40, minTokens: Long = 20L,
                   maxTokens: Long = 100000L, minQuality: Double = 0.2,
                   benchMod: Int = 97): DataFrame = {
    // one tokenization scan feeds both the quality gate and the cap
    // ranking (scores are per-doc pure; see scoreDocs)
    val scored = Some(scoreDocs(docs).localCheckpoint(true))
    sourceCap(
      docs.join(curate(docs, minTokens, maxTokens, minQuality, benchMod, scored)
        .select("doc_id"), Seq("doc_id"), "left_semi"),
      cap, scored)
  }

  /** THE full nightly pipeline, every gate family in one
    * oracle-checked query, in the papers' order: the 20-threshold
    * Gopher gate (quality + repetition,
    * [[TextAnalysis.gopherAnyFlag]] over the gate family's pinned
    * flag pass — Rae et al. filter BEFORE dedup) → C4-style score
    * bounds → exact dedup (keep-min survivor) → the
    * corpus-duplication gate (RefinedWeb-style: docs whose
    * corpus-duplicated 8-gram coverage exceeds `maxDupFrac` drop
    * outright) → benchmark exclusion → n-gram decontamination →
    * [[graft.operators.Dedup.nearDupSuppress]] (quality-dominated
    * near-dups; pairs and gram df scoped to the survivors) →
    * [[sourceCap]] (domain balancing) → [[selectToBudget]] over
    * RESIDUAL tokens: survivors are billed at their post-span-scrub
    * token count (the Lee-et-al exact-substring cut,
    * [[TextAnalysis.dupSpansApply]]'s covered-position union), so
    * the budget buys unique training tokens, not re-counted
    * boilerplate. Output carries both counts (`n_tokens` raw,
    * `n_tokens_kept` residual).
    *
    * Stage order is the policy: quality gates before dedup (a
    * low-quality copy must not steal survivorship), dedup before
    * capping (a duplicate never holds a budget slot), balancing
    * before the budget. Every per-doc gate — its thresholds and the
    * benchmark slice included — is decided once, in the `flags`
    * relation ([[curateFlags]], pinned); this function runs only the
    * set-shaped stages over it and the pinned `shingles`
    * ([[Dedup.blockingTrunk]]'s sets), so the composition adds NO
    * corpus scans beyond those stages' own.
    */
  def curateFull(docs: DataFrame, flags: DataFrame, shingles: DataFrame,
                 cap: Int = 10, tokenBudget: Long = 5000L): DataFrame = {
    def restrict(ids: DataFrame): DataFrame =
      docs.join(ids.select("doc_id"), Seq("doc_id"), "left_semi")
    val scored = Some(flags.select("doc_id", "n_tokens", "quality_score"))
    val residual = flags.select(col("doc_id"), col("n_res").as("n_tokens"),
      col("quality_score"))
    val survivors = restrict(curatedIdsOf(flags))
    val suppressed = restrict(Dedup.nearDupSuppress(survivors,
      survivorPairs(survivors, shingles), scored = scored))
    // pin the post-cap survivors: the budget walk consumes its input
    // twice (band totals + final window), and without this pin both
    // consumers would re-run the whole gate chain incl. the near-dup
    // blocking joins (selectToBudget does not pin a given preScored)
    val capped = restrict(sourceCap(suppressed, cap, scored))
      .localCheckpoint(true)
    selectToBudget(capped, tokenBudget, Some(residual))
      .withColumnRenamed("n_tokens", "n_tokens_kept")
      .join(flags.select("doc_id", "n_tokens"), Seq("doc_id"))
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .select("doc_id", "source", "n_tokens", "n_tokens_kept",
        "quality_score")
  }

  /** Verified near-dup pairs among `survivors`, off the pinned
    * corpus `shingles`: sets are per-doc pure, so restricting them to
    * the survivors is exactly re-shingling the survivors, and the
    * gram df caps count over the survivors alone. */
  private def survivorPairs(survivors: DataFrame,
                            shingles: DataFrame): DataFrame = {
    val sets = shingles.join(survivors.select("doc_id"), Seq("doc_id"),
      "left_semi")
    Dedup.blockedJaccardPairs(
      Dedup.BlockingTrunk(sets, Dedup.blockedCandidates(sets)))
  }

  /** The fused per-doc gate relation under [[curateFull]] and
    * [[curateFunnel]] (r15): ONE row per document carrying the
    * tokenization scores, every per-doc gate decision as a boolean/
    * marker column and the residual token billing (`n_res`).
    * Evaluating the gates as COLUMNS of one pass — instead of a
    * chain of per-gate semi/anti-join stages — is what a nightly
    * pipeline persists as its intake gate table: every downstream
    * consumer (the curated set, the funnel readout, the budget walk)
    * is then a filter or aggregate over this relation, and the gate
    * chain's corpus work runs exactly once. Every gate parameter is
    * decided here and nowhere else.
    *
    * The columns: `f_quality` (C4 score bounds), `f_bench` (the
    * held-out benchmark slice, `doc_id % benchMod = 0`), `f_goph`
    * (any of the 20 Gopher thresholds, off the gate family's pinned
    * metric+flag pass `gopherFlags`), `f_keeper` (exact-dedup
    * survivor among the quality-kept docs — a low-quality copy must
    * not steal survivorship), `f_dg` (over the corpus-duplication
    * fraction cut, off the doc-grain coverage `dupDocs`), `f_contam`
    * (n-gram contamination) and `f_sem` (semantic contamination:
    * embeddings align 1:1 with documents, vec_id ≡ doc_id, so the
    * benchMod slice is the same slice). Marker columns are null
    * when the gate does not fire. `n_res` rebills `n_tokens` to the
    * post-span-scrub residual (raw − covered positions, the exact
    * [[TextAnalysis.dupSpansApply]] union), folded row-locally off
    * the duplicated-occurrence starts `dupStarts` — proportional to
    * duplicated positions, never a corpus scan. */
  def curateFlags(docs: DataFrame, gopherFlags: DataFrame,
                  dupDocs: DataFrame, dupStarts: DataFrame,
                  embeddings: DataFrame,
                  minTokens: Long = 20L, maxTokens: Long = 100000L,
                  minQuality: Double = 0.2,
                  maxDupFrac: Double = 0.5, dupN: Int = 8,
                  semTau: Double = 0.4, benchMod: Int = 97): DataFrame = {
    val scored = scoreDocs(docs)
    val qualityPred = col("n_tokens") >= minTokens &&
      col("n_tokens") <= maxTokens && col("quality_score") >= minQuality
    val gopherDrop = gopherFlags
      .filter(TextAnalysis.gopherAnyFlag)
      .select("doc_id")
    val qualityIds = scored.filter(qualityPred).select("doc_id")
      .join(gopherDrop, Seq("doc_id"), "left_anti")
    val keeperIds = Dedup.exact(
      docs.join(qualityIds, Seq("doc_id"), "left_semi")).select("doc_id")
    val dupDrop = TextAnalysis.dupNgramApply(dupDocs, maxDupFrac)
      .filter(!col("keep")).select("doc_id")
    val contaminated = TextAnalysis
      .decontaminate(docs, n = 3, benchMod = benchMod).select("doc_id")
    val semContaminated = Dedup.semanticDecontaminate(embeddings, benchMod, semTau)
      .filter(col("contaminated"))
      .select(col("vec_id").as("doc_id"))
    val nCov = dupStarts
      .select(col("doc_id"), expr(
        s"size(array_distinct(flatten(transform(starts," +
          s" s -> sequence(s, s + ${dupN - 1})))))").cast("long").as("n_cov"))
    val residual = scored
      .join(nCov, Seq("doc_id"), "left")
      .select(col("doc_id"),
        (col("n_tokens") - coalesce(col("n_cov"), lit(0L))).as("n_res"))
    scored
      .withColumn("f_quality", qualityPred)
      .withColumn("f_bench", col("doc_id") % benchMod === 0)
      .join(gopherDrop.withColumn("f_goph", lit(true)), Seq("doc_id"), "left")
      .join(keeperIds.withColumn("f_keeper", lit(true)), Seq("doc_id"), "left")
      .join(dupDrop.withColumn("f_dg", lit(true)), Seq("doc_id"), "left")
      .join(contaminated.withColumn("f_contam", lit(true)),
        Seq("doc_id"), "left")
      .join(semContaminated.withColumn("f_sem", lit(true)),
        Seq("doc_id"), "left")
      .join(residual, Seq("doc_id"))
  }

  /** The per-doc gate chain of [[curateFlags]], in funnel order —
    * shared by the curated-set filter and the funnel's prefix
    * counts so the two can never disagree. */
  private[graft] val curateChain: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    ("gopher", col("f_goph").isNull),
    ("quality", col("f_quality")),
    ("exact_dedup", col("f_keeper").isNotNull),
    ("dup_gram", col("f_dg").isNull),
    ("decontam", !col("f_bench") && col("f_contam").isNull),
    ("decontam_semantic", col("f_sem").isNull))

  /** Training-eligible ids off the flags relation: the full gate
    * conjunction as one filter. */
  private[graft] def curatedIdsOf(flags: DataFrame): DataFrame =
    flags.filter(curateChain.map(_._2).reduce(_ && _)).select("doc_id")

  /** Per-gate funnel of [[curateFull]] — the "which gate ate my
    * corpus" readout: docs surviving after each stage (quality →
    * exact dedup → benchmark exclusion + decontamination → near-dup
    * suppression → source cap → token budget) with the per-stage
    * drop count. An end-count alone can't distinguish "quality gate
    * too harsh" from "one source got capped to dust", and re-running
    * the pipeline N times with gates toggled costs N corpus scans —
    * this emits the whole diagnosis in one composition over the same
    * pinned `flags` and `shingles` [[curateFull]] reads. Output is
    * O(#stages) driver-built rows; every count is exact and the
    * stage set mirrors the oracle's CTE chain one-for-one.
    */
  def curateFunnel(docs: DataFrame, flags: DataFrame, shingles: DataFrame,
                   cap: Int = 10, tokenBudget: Long = 5000L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // measured at sf0.1: the funnel's floor is its serial actions
    // (flags pin → near-dup pin → counting aggregate), each fanned
    // by AQE into many small stage-materialization jobs. Pinning AQE
    // off was tried and REGRESSED (17 jobs but more task overhead
    // per stage); dropping the near-dup pin was tried and REGRESSED
    // (the gate re-runs once per downstream consumer). r15: the
    // flags relation is [[curateFlags]], shared with [[curateFull]]
    // as a pinned per-(session, dir) artifact, so BOTH keys read one
    // materialization of the whole gate chain.
    def restrict(ids: DataFrame): DataFrame =
      docs.join(ids.select("doc_id"), Seq("doc_id"), "left_semi")
    val scored = Some(flags.select("doc_id", "n_tokens", "quality_score"))
    val residual = flags
      .select(col("doc_id"), col("n_res").as("n_tokens"),
        col("quality_score"))
    // the near-dup gate is the one remaining expensive relation
    // consumed by two downstreams (cap chain + counts) — pin its
    // OUTPUT so the blocking joins run exactly once. capped/budgeted
    // stay lazy: off the pinned suppressed + flags they are one
    // aggregate + one banded fold, cheaper to recompute than a
    // checkpoint job's fixed overhead.
    val survivors = restrict(curatedIdsOf(flags))
    val suppressed = restrict(Dedup.nearDupSuppress(survivors,
        survivorPairs(survivors, shingles), scored = scored))
      .localCheckpoint(true)
    val capped = restrict(sourceCap(suppressed, cap, scored))
    val budgeted = selectToBudget(capped, tokenBudget, Some(residual))
    // the stage id-sets are a strict chain (each ⊆ its predecessor),
    // so every doc's deepest-surviving stage is recoverable from
    // membership flags — the first six stages are ALREADY columns
    // of the pinned flags relation, so the count spine joins only
    // the three post-gate id sets: ONE aggregate action total
    val prefixes = curateChain.inits.toSeq.reverse.tail // chain[0..k], k=1..5
    val row = flags
      .join(suppressed.select("doc_id").withColumn("f_nd", lit(1L)),
        Seq("doc_id"), "left")
      .join(capped.select("doc_id").withColumn("f_cap", lit(1L)),
        Seq("doc_id"), "left")
      .join(budgeted.select("doc_id").withColumn("f_bud", lit(1L)),
        Seq("doc_id"), "left")
      .agg(count(lit(1)).as("input"),
        prefixes.map(pre =>
          sum(when(pre.map(_._2).reduce(_ && _), 1L).otherwise(0L))
            .as(pre.last._1)) ++ Seq(
          sum(coalesce(col("f_nd"), lit(0L))).as("near_dup"),
          sum(coalesce(col("f_cap"), lit(0L))).as("source_cap"),
          sum(coalesce(col("f_bud"), lit(0L))).as("token_budget")): _*)
      .head()
    val names = curateChain.map(_._1) ++
      Seq("near_dup", "source_cap", "token_budget")
    val counts = ("input" -> row.getAs[Long]("input")) +:
      names.map(n => n -> row.getAs[Long](n))
    counts.zipWithIndex.map { case ((stage, n), i) =>
      (i.toLong, stage, n,
        if (i == 0) None else Some(counts(i - 1)._2 - n))
    }.toDF("stage_idx", "stage", "n_docs", "n_dropped")
  }

  /** Curation composed with MIXTURE rebalancing: [[curate]]'s
    * survivors re-sampled to target source proportions
    * ([[Sampling.sampleToMixture]]) — the step between "what is
    * trainable" and "what the run actually consumes". Order is the
    * point: keep-rates must derive from POST-curation counts (a
    * source that loses half its docs to quality gates needs a
    * different rate than its raw size suggests), so the per-source
    * count runs over the curated set. Cost on top of curate is one
    * O(|sources|) aggregate + a stateless hash filter; the rate
    * derivation replays in the oracle, so the whole composition
    * stays hash-checked end to end.
    */
  def curateMixture(docs: DataFrame, targetShares: Map[String, Double],
                    minTokens: Long = 20L, maxTokens: Long = 100000L,
                    minQuality: Double = 0.2, benchMod: Int = 97): DataFrame = {
    val curated = docs.join(
      curate(docs, minTokens, maxTokens, minQuality, benchMod)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      // sampleToMixture consumes its input twice (per-source counts,
      // then the rate filter) — pin the survivors or the whole
      // curation chain runs twice
      .localCheckpoint(true)
    Sampling.sampleToMixture(curated, "doc_id", "source", targetShares)
      .select("doc_id", "source")
  }

  /** Curation composed with TEMPERATURE rebalancing
    * ([[Sampling.sampleTemperature]], τ=1/2): [[curateMixture]]'s
    * sibling for the case where no explicit target shares exist —
    * the corpus is flattened toward uniform by sampling each source
    * at `sqrt(n_min/n_s)`, the multilingual mixing default. Same
    * composition rule as mixture: rates derive from POST-curation
    * per-source counts (quality gates reshape the source histogram,
    * so pre-curation counts would mis-set every rate), the count is
    * one O(|sources|) aggregate over the pinned survivors, and the
    * exact-IEEE rate math replays in the oracle so the composed
    * pass stays hash-checked end to end.
    */
  def curateTemperature(docs: DataFrame, minTokens: Long = 20L,
                        maxTokens: Long = 100000L, minQuality: Double = 0.2,
                        benchMod: Int = 97): DataFrame = {
    val curated = docs.join(
      curate(docs, minTokens, maxTokens, minQuality, benchMod)
        .select("doc_id"), Seq("doc_id"), "left_semi")
      // sampleTemperature consumes its input twice (per-source
      // counts, then the rate filter) — pin the survivors or the
      // whole curation chain runs twice
      .localCheckpoint(true)
    Sampling.sampleTemperature(curated, "doc_id", "source")
      .select("doc_id", "source")
  }

  /** SEMANTIC-cluster temperature rebalancing (r15 — the
    * cluster-balance idea from the SemDeDup/DoReMi line applied at
    * the sampling layer): the stratum is not the source LABEL but
    * the k-means CELL of the document's embedding, so an
    * over-represented topic is flattened even when it spans sources
    * (and a rare topic inside a big source survives the flattening
    * that a source-keyed rate would apply to it). Composition:
    * [[Similarity.kmeansAssign]]'s deterministic spherical k-means
    * (vectors never shuffle; the model is k·dim floats on the
    * driver) labels each document, then the τ=1/2 temperature
    * sampler runs with the cell as the stratum — `sqrt(n_min/n_c)`
    * keep-rates, the exact-IEEE rule that replays in the oracle.
    * Cost on top of the assignment is one O(k)-row aggregate and a
    * stateless hash filter — the same economics as the source-keyed
    * twin at any corpus size. */
  def clusterTemperature(docs: DataFrame, embeddings: DataFrame): DataFrame = {
    val cells = Similarity.kmeansAssign(embeddings)
      .select(col("vec_id").as("doc_id"), col("cell"))
    // sampleTemperature consumes its input twice (per-stratum
    // counts, then the rate filter) — pin the assignment join
    val clustered = docs.select("doc_id").join(cells, "doc_id")
      .withColumn("cluster", col("cell").cast("string"))
      .localCheckpoint(true)
    Sampling.sampleTemperature(clustered, "doc_id", "cluster")
      .select("doc_id", "cell")
  }

  /** Token-budget corpus selection: walk the corpus in quality order
    * (desc; ties → doc_id) and keep documents while the cumulative
    * token count stays under `tokenBudget` — "the best `B` tokens",
    * the final sizing gate before training. A bare
    * `Window.orderBy(quality)` would funnel every doc through one
    * task, so the global rank+cumsum runs as the same banded
    * two-phase prefix sum as `Analytics.paretoRevenue` /
    * `Packing.prefixSum`:
    *
    *  1. band by quantized quality (monotone: ascending band =
    *     descending quality, and band is a pure function of the
    *     score, so band order extends the global order exactly);
    *  2. per-band token totals → exclusive prefix offsets via ONE
    *     single-partition window over the band totals (O(#bands),
    *     ≤ 4097 rows at ANY corpus size — a bounded relation, so
    *     the "global window" anti-pattern doesn't apply) →
    *     broadcast back into the scan;
    *  3. within-band windows run all bands in parallel.
    *
    * Fully lazy: no driver collect, no action — the band offsets
    * ride the same job as the final filter, so callers can compose
    * this gate without paying a scheduling round-trip.
    *
    * Keeps the doc whose EXCLUSIVE cumulative tokens are below
    * budget (the doc that crosses the line is kept — "fill then
    * stop", matching the oracle's `cum - tokens < budget`).
    */
  def selectToBudget(docs: DataFrame, tokenBudget: Long,
                     preScored: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bands = 4096
    // the scored relation is consumed twice (band totals + the final
    // window). Self-built, that's two tokenization scans — pin it.
    // Thread-in callers already pin their scored trunk, so for them
    // the semi-join recompute is cheap and the extra checkpoint job
    // would cost more than it saves.
    val scored = preScored
      .map(_.join(docs.select("doc_id"), Seq("doc_id"), "left_semi"))
      .getOrElse(scoreDocs(docs).localCheckpoint(true))
      // quality ∈ [0,1]: quantize; negate so ascending band =
      // descending quality
      .withColumn("band",
        -floor(least(col("quality_score"), lit(1.0)) * bands).cast("long"))
    val wBands = org.apache.spark.sql.expressions.Window
      .orderBy("band")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val offsetsDf = scored.groupBy("band")
      .agg(sum("n_tokens").as("btok"))
      .withColumn("tok_offset",
        coalesce(sum("btok").over(wBands), lit(0L)))
      .select("band", "tok_offset")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("band")
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    scored
      .join(broadcast(offsetsDf), Seq("band"))
      .withColumn("cum_excl",
        col("tok_offset") + coalesce(sum("n_tokens").over(w), lit(0L)))
      .filter(col("cum_excl") < tokenBudget)
      .select("doc_id", "n_tokens", "quality_score")
  }

  /** Per-(source, drop-reason) accounting of the SAME pass — the
    * report a pipeline owner reads before shipping a corpus: how much
    * of each source was lost to which gate. Reasons apply with
    * [[curate]]'s exact precedence (quality → duplicate → benchmark →
    * contaminated → kept), so summing `kept` here equals
    * `curate(docs)` row-for-row — spec- and oracle-held.
    */
  def manifest(docs: DataFrame, minTokens: Long = 20L, maxTokens: Long = 100000L,
               minQuality: Double = 0.2, benchMod: Int = 97): DataFrame = {
    val quality = TextAnalysis
      .qualityFilter(docs, minTokens, maxTokens, minQuality)
      .select(col("doc_id"), lit(true).as("q"))
    val kept = docs.join(quality.select("doc_id"), Seq("doc_id"), "left_semi")
    val survivors = Dedup.exact(kept)
      .select(col("doc_id"), lit(true).as("surv"))
    val contaminated = TextAnalysis
      .decontaminate(docs, n = 3, benchMod = benchMod)
      .select(col("doc_id"), lit(true).as("cont"))
    docs
      .join(quality, Seq("doc_id"), "left")
      .join(survivors, Seq("doc_id"), "left")
      .join(contaminated, Seq("doc_id"), "left")
      .select(col("source"),
        when(col("q").isNull, "quality")
          .when(col("surv").isNull, "duplicate")
          .when(col("doc_id") % benchMod === 0, "benchmark")
          .when(col("cont").isNotNull, "contaminated")
          .otherwise("kept").as("reason"))
      .groupBy("source", "reason")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Source-level curation policy: the decision the per-source
    * diagnostics exist to drive. A source whose near-dup
    * contamination rate ([[Dedup.nearDupRateBySource]]) reaches
    * `dropDupRate` is DROPPED outright (mirror/template crawls —
    * cheaper than deduping it pair by pair); otherwise a source
    * whose mean quality score falls below `capQuality` is CAPPED
    * (contribute, but through [[sourceCap]]'s per-source budget);
    * everything else is kept as-is. Drop outranks cap: a mirrored
    * source's quality is irrelevant once its content is redundant.
    * Both inputs are deterministic, so the policy table itself is
    * oracle-checked; output is O(|sources|) rows. Thresholds are
    * corpus-calibration knobs — rates/qualities are rounded to 6 dp
    * BEFORE comparison, so the cut is reproducible cross-engine.
    */
  def sourcePolicy(docs: DataFrame, pairs: DataFrame,
                   dropDupRate: Double = 0.3,
                   capQuality: Double = 0.35): DataFrame = {
    // the near-dup pair list (the expensive half) comes in built — a
    // pipeline running several of the source-diagnostic operators
    // blocks the corpus once ([[Dedup.blockedJaccardPairs]])
    val rate = Dedup.nearDupRateBySource(pairs, docs)
      .select("source", "n_docs", "near_dup_rate")
    val qual = TextAnalysis.stats(docs, keep = Seq("source"))
      .groupBy("source")
      .agg(round(avg("quality_score"), 6).as("avg_quality"))
    rate.join(qual, Seq("source"))
      .withColumn("policy",
        when(col("near_dup_rate") >= dropDupRate, lit("drop"))
          .when(col("avg_quality") < capQuality, lit("cap"))
          .otherwise(lit("keep")))
  }

  /** Quality-band × near-dup cross diagnostic: the corpus bucketed
    * by quality score (`buckets` equal bands over [0,1], top band
    * closed) with each band's near-dup contamination rate. The
    * curation question it answers — "are the low-quality documents
    * also the duplicated ones?" — decides whether a quality gate
    * alone already removes most duplication (cheap) or dedup must
    * run on the full corpus (expensive). One stats scan + the
    * materialized pair list `pairs` (cf. [[sourcePolicy]]); bucket assignment is floor on the identical
    * quality expression both engines compute (rule-2 determinism,
    * same argument as [[curate]]'s threshold). Output is O(buckets)
    * rows.
    */
  def qualityDupProfile(docs: DataFrame, pairs: DataFrame,
                        buckets: Int = 10): DataFrame = {
    val dupIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
      .withColumn("dup", lit(1L))
    TextAnalysis.stats(docs)
      .select(col("doc_id"), col("quality_score"))
      .withColumn("q_bucket",
        least(floor(col("quality_score") * buckets),
          lit(buckets - 1L)).cast("long"))
      .join(dupIds, Seq("doc_id"), "left")
      .groupBy("q_bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("dup"), lit(0L))).as("n_near_dup"))
      .withColumn("near_dup_rate",
        round(col("n_near_dup") / col("n_docs"), 6))
  }

  /** [[sourcePolicy]] APPLIED: the post-policy corpus. Dropped
    * sources vanish, capped sources keep their top-`cap` docs by
    * (quality desc, doc_id), kept sources pass through whole —
    * diagnose → decide → apply as one operator.
    *
    * Two corpus scans total, the floor for these semantics: one
    * stats scan carries quality AND the output metadata (the `keep`
    * passthrough — no second lookup join against documents), and the
    * policy's blocked-pair generation is the other. The policy table
    * is |sources| rows → broadcast; the cap window partitions by
    * source and only ever ranks capped sources' rows.
    */
  def applySourcePolicy(docs: DataFrame, pairs: DataFrame,
                        dropDupRate: Double = 0.3,
                        capQuality: Double = 0.35,
                        cap: Int = 40): DataFrame = {
    // stats' computed n_chars IS length(text) — identical to the
    // table column, so no metadata lookup join is needed for it
    val scored = TextAnalysis
      .stats(docs, keep = Seq("source", "lang"))
      .select("doc_id", "source", "lang", "n_chars", "quality_score")
    val policy = sourcePolicy(docs, pairs, dropDupRate, capQuality)
      .select("source", "policy")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(col("quality_score").desc, col("doc_id"))
    scored.join(broadcast(policy), Seq("source"))
      .filter(col("policy") =!= "drop")
      .withColumn("rk", row_number().over(w))
      .filter(col("policy") === "keep" || col("rk") <= cap)
      .select("doc_id", "lang", "source", "n_chars")
  }
}
