package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, GroupState, OutputMode}
import org.apache.spark.util.sketch.BloomFilter

import graft.operators.TextAnalysis

/** Streaming document intake (SURVEY.md §2.G): the STATELESS prefix
  * of the curation pipeline, applied at ingest.
  */
object DocStream extends Serializable {

  /** Stateless streaming curation gate: C4-style quality filter +
    * benchmark-slice exclusion + n-gram decontamination against a
    * STATIC benchmark slice. Every rule is a row-local
    * projection/filter or a stream-static broadcast join (the
    * benchmark's distinct grams fold to ONE array row), so the
    * stream query runs in append mode with ZERO state stores —
    * spec-asserted via `lastProgress.stateOperators`. The stateful
    * stage of curation (exact dedup, first-copy-wins across the
    * whole corpus) deliberately stays OUT of the intake path: it
    * belongs to the nightly batch compaction
    * ([[graft.operators.Curation.curate]]), where min-id
    * survivorship is well-defined. Batch form is the oracle twin
    * (reference dags/etl_pipeline.py:23-31 runs the same gate as a
    * scheduled batch; this is the always-on spelling).
    */
  def curateGate(docs: DataFrame, bench: DataFrame, n: Int = 3,
                 minTokens: Long = 20L, maxTokens: Long = 100000L,
                 minQuality: Double = 0.2, benchMod: Int = 97): DataFrame = {
    // |bench grams| is bounded by the tiny-benchmark contract, so the
    // static side folds to an ARRAY LITERAL at plan time — no join
    // node at all (a 1-row cross join would break whole-stage codegen
    // on the corpus path), and the gate plan is scan → filter →
    // project with zero exchanges. The set is pinned per (re)start,
    // exactly like a broadcast would pin it per batch query.
    val benchGrams = bench
      .select(explode(graft.functions.gf.tokenNgrams(col("text"), n)).as("gram"))
      .distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    TextAnalysis.stats(docs, keep = Seq("text"))
      .filter(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
        col("quality_score") >= minQuality &&
        col("doc_id") % benchMod =!= 0)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        graft.functions.gf.tokenNgrams(col("text"), n).as("grams"))
      .filter(!arrays_overlap(col("grams"), typedlit(benchGrams)))
      .select("doc_id", "n_tokens", "quality_score")
  }

  /** Streaming Gopher gate — all 20 thresholds (13 repetition + 7
    * quality, Rae et al. 2021 A1) applied at ingest: the whole
    * metric computation is ONE row-local projection
    * ([[TextAnalysis.gopherMetricCols]] + the quality metrics
    * sharing its token/line arrays — two fused native kernels +
    * segment folds, one tokenization), so the stream query runs in
    * append mode with ZERO state stores, the same contract as
    * [[curateGate]]. Emits surviving (doc_id, source); the dropped
    * docs' family attribution is the batch diagnostics' job
    * (`docs_gopher_gate` / `docs_gopher_apply`). The batch run is
    * the oracle twin — same expressions, same thresholds.
    */
  def repetitionGate(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val qualFlags = TextAnalysis.GopherQualityThresholds
      .map(t => col(s"f_q_${t._1}"))
    // the keep decision applies through a TYPED filter, deliberately:
    // a Column predicate here pushes below the metric projection and
    // inlines the whole 20-metric tree into a scan-level Filter —
    // Filter evaluation has no subexpression elimination, so the
    // fused kernels re-evaluate once PER THRESHOLD BRANCH (measured
    // 0.9 s → 5.6 s at sf0.1). The object boundary is a fence
    // predicate pushdown cannot cross; it costs one ser/de of
    // (long, string, bool) rows against the metric pass it protects.
    TextAnalysis.gopherQualityFlags(TextAnalysis.gopherQualityCols(
        TextAnalysis.gopherFlagCols(TextAnalysis.gopherMetricCols(docs))))
      .select(col("doc_id"), col("source"),
        (!col("f_line") && !col("f_para") && !col("f_top") &&
          !col("f_dup") && !qualFlags.reduce(_ || _)).as("keep"))
      .as[(Long, String, Boolean)]
      .filter(_._3)
      .map(t => (t._1, t._2))
      .toDF("doc_id", "source")
  }

  /** THE WHOLE INTAKE PIPELINE as one stream — every intake gate the
    * r12–r14 rounds built, composed in the batch flagship's order
    * over a single arriving-document pass: C4 quality bounds +
    * benchmark-slice exclusion + n-gram decontamination (the
    * [[curateGate]] rules — static bench grams fold to a plan-time
    * literal), the 20-threshold Gopher gate (the [[repetitionGate]]
    * metric pass, behind the same typed fence so the fused kernels
    * evaluate once, not once per threshold branch), and the
    * corpus-duplication gate probing the PERSISTED dup-gram store
    * ([[dupNgramGate]] — Bloom pre-filter, broadcast probe,
    * zero-state fold). Emits the surviving (doc_id, source).
    *
    * State contract: ZERO persisted rows end to end — the first two
    * stages are row-local filters, and the store probe's fold is
    * micro-batch-local by the documented atomicity contract. The
    * batch composition of the same gate relations is the oracle.
    */
  def fullIntakeGate(docs: DataFrame, bench: DataFrame, store: DataFrame,
                     bloom: BloomFilter, n: Int = 8, minTokens: Long = 20L,
                     maxTokens: Long = 100000L, minQuality: Double = 0.2,
                     benchMod: Int = 97,
                     maxDupFrac: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val benchGrams = bench
      .select(explode(graft.functions.gf.tokenNgrams(col("text"), 3)).as("gram"))
      .distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    val s1 = TextAnalysis.stats(docs, keep = Seq("text", "source"))
      .filter(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
        col("quality_score") >= minQuality &&
        col("doc_id") % benchMod =!= 0)
      .filter(!arrays_overlap(
        graft.functions.gf.tokenNgrams(col("text"), 3),
        typedlit(benchGrams)))
      .select("doc_id", "source", "text")
    // gopher metrics behind the TYPED fence ([[repetitionGate]]'s
    // lesson): a Column predicate would inline the fused kernels
    // once per threshold branch
    val qualFlags = TextAnalysis.GopherQualityThresholds
      .map(t => col(s"f_q_${t._1}"))
    val s2 = TextAnalysis.gopherQualityFlags(TextAnalysis.gopherQualityCols(
        TextAnalysis.gopherFlagCols(TextAnalysis.gopherMetricCols(
          s1.withColumn("keep_text", col("text"))))))
      .select(col("doc_id"), col("source"), col("keep_text"),
        (!col("f_line") && !col("f_para") && !col("f_top") &&
          !col("f_dup") && !qualFlags.reduce(_ || _)).as("keep"))
      .as[(Long, String, String, Boolean)]
      .filter(_._4)
      .map(t => (t._1, t._2, t._3))
      .toDF("doc_id", "source", "text")
    dupNgramGate(s2, store, bloom, n, maxDupFrac)
      .filter(col("keep"))
      .select("doc_id", "source")
  }

  case class SemGateRow(vec_id: Long, n_bench_matches: Long,
                        bench_id: Long, best_cosine: Double,
                        contaminated: Boolean)

  /** SEMANTIC decontamination at stream intake — the live twin of
    * [[graft.operators.Dedup.semanticDecontaminate]]: the benchmark
    * slice's embeddings are collected ONCE at plan time (bounded by
    * the eval-set contract, the [[curateGate]] convention) and ride
    * the closure; each arriving vector compares against the matrix
    * row-locally in the EXACT arithmetic of the batch kernel
    * ([[graft.functions.VectorOps.cosine]] — double accumulation in
    * element order, 1e-6 HALF_UP rounding for the best-match cut),
    * so the batch key's oracle is shared VERBATIM. Pure stateless
    * map: zero state stores, zero joins, zero shuffles at intake.
    */
  def semanticGate(vecs: DataFrame, bench: DataFrame,
                   tau: Double = 0.4): DataFrame = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val benchArr: Array[(Long, Array[Float])] = bench
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def r6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    vecs.select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])]
      .map { case (id, emb) =>
        var nM = 0L
        var bestId = -1L
        var bestCos = -1.0
        var bestR = Double.NegativeInfinity
        var i = 0
        while (i < benchArr.length) {
          val c = cos(emb, benchArr(i)._2)
          if (c >= tau) {
            nM += 1
            val cr = r6(c)
            // same discrete cut as the batch window: rounded cosine
            // DESC, then bench_id ASC (benchArr is id-sorted, so the
            // strict > keeps the smaller id on ties)
            if (cr > bestR) { bestR = cr; bestId = benchArr(i)._1; bestCos = c }
          }
          i += 1
        }
        SemGateRow(id, nM, bestId, if (nM == 0) -1.0 else bestCos, nM > 0)
      }.toDF()
  }

  /** The learned quality filter at stream intake — the live twin of
    * [[graft.operators.QualityLr.score]]: the nightly-trained 5-float
    * model rides the plan as literals (the semanticGate convention:
    * model state is plan-time constants, NOT a join side), each
    * arriving document's exact-rational features score row-locally.
    * Pure stateless projection — zero state, zero shuffles; the
    * batch key's oracle is shared verbatim because the arithmetic is
    * the batch kernel's, weights included. */
  def qualityLrGate(docs: DataFrame, weights: Array[Float]): DataFrame = {
    import org.apache.spark.sql.functions._
    val f = graft.operators.QualityLr.featureLabel(docs)
    val margin = weights.indices
      .map(j => lit(weights(j).toDouble) * col(s"x$j")).reduce(_ + _)
    f.withColumn("margin", margin)
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("margin"))), 6).as("score"),
        (col("margin") >= 0.0).as("predicted"),
        (col("y") === 1.0).as("label"),
        ((col("margin") >= 0.0) === (col("y") === 1.0)).as("correct"))
  }

  case class DupGateEv(doc_id: Long, source: String, tok_chars: Long,
                       start: Int, lens: Seq[Int])
  case class DupGateRow(doc_id: Long, source: String, tok_chars: Long,
                        dup_chars: Long, dup_char_fraction: Double,
                        keep: Boolean)

  /** The Bloom key of one space-joined n-gram string: the SAME
    * separator-mixed shingle hash [[graft.functions.gf.shingleHashes]]
    * computes over a token array — so the document side can probe
    * straight off its fused per-doc shingle-hash pass without ever
    * building a gram string for clean positions. Splitting the store
    * gram on ' ' reproduces the token array exactly (tokens are
    * whitespace-split upstream, so they contain no spaces). */
  private def gramHash(ng: org.apache.spark.sql.Column, n: Int) =
    element_at(graft.functions.gf.shingleHashes(split(ng, " "), n), 1)

  /** Build the store's Bloom (two driver actions over the gram set):
    * FNV-1a gram hashes at 1% FPP, ~1.2 bytes/gram, ~100× smaller
    * than the gram strings, so it keeps broadcasting at store sizes
    * where the strings would already have fallen to a shuffle. An
    * empty store's Bloom rejects everything — correct: nothing can
    * match an empty store. Production persists this next to the
    * store itself — a nightly artifact, not a per-batch cost — which
    * is exactly how the driver keys consume it (built once per
    * (session, dir)); every gate takes it as an argument, built with
    * the gate's `n`. */
  def storeBloom(store: DataFrame, n: Int = 8): BloomFilter = {
    val nGrams = store.count()
    store
      .select(gramHash(col("ng"), n).as("h"))
      .stat.bloomFilter("h", math.max(nGrams, 1L), 0.01)
  }

  private def tokenized(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      TextAnalysis.tokens(col("text")).as("toks"))

  /** The docs of `base` with at least `n` tokens, each with `cand`:
    * the start positions whose n-gram hash might be in `bf`. */
  private def bloomCandidates(base: DataFrame, n: Int,
                              bf: BloomFilter): DataFrame =
    base
      .filter(size(col("toks")) >= n)
      // the hash array is the HOF's INPUT child (evaluated once per
      // row, then iterated) — binding it as a separate column and
      // probing element_at(hs, i) inside the lambda lets
      // CollapseProject inline the kernel into the lambda body and
      // re-run it per position, O(len²) (measured 6.4 s at sf0.1)
      .withColumn("cand",
        org.apache.spark.sql.functions.filter(
          org.apache.spark.sql.functions.transform(
            graft.functions.gf.shingleHashes(col("toks"), n),
            (h, i) => when(
              graft.functions.gf.bloomMightContain(h, bf), i)
              .otherwise(lit(-1))),
          x => x >= 0))

  /** Corpus-duplication gate at STREAM intake — the
    * `docs_dup_ngram_apply` twin probing the PERSISTED dup-gram
    * store ([[TextAnalysis.dupNgramStore]], built by the nightly
    * batch): each arriving document's n-grams meet the store in a
    * stream-static equi-join (the store broadcasts — history never
    * re-explodes or re-shuffles at intake time), matched occurrences
    * regroup per doc, and covered positions union into the exact
    * duplicated-character fraction — the SAME definition, so the
    * batch gate's oracle is this key's oracle verbatim.
    *
    * State contract: ZERO persisted state. The per-doc fold runs in
    * [[org.apache.spark.sql.KeyValueGroupedDataset
    * .flatMapGroupsWithState]] but NEVER writes its state store —
    * a document's rows are atomic within one micro-batch (every
    * file/row-grain source commits documents whole), so the fold is
    * batch-local by contract and the group operator reports 0 state
    * rows (spec-asserted). A base row per doc (start = −1) rides the
    * union so gram-less and match-less documents still emit
    * keep = true.
    */
  def dupNgramGate(docs: DataFrame, store: DataFrame, bloom: BloomFilter,
                   n: Int = 8, maxDupFrac: Double = 0.5): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    val base = tokenized(docs)
      .withColumn("tok_chars",
        expr("aggregate(toks, 0L, (a, t) -> a + length(t))"))
    val baseRows = base.select(col("doc_id"), col("source"),
      col("tok_chars"), lit(-1).as("start"),
      expr("CAST(array() AS ARRAY<INT>)").as("lens"))
    // matched duplicated occurrences: (start, the n token lengths) —
    // enough to union covered positions exactly, nothing else moves.
    // r14: candidate positions filter INSIDE the array against the
    // store's Bloom, keyed on the fused per-doc shingle-hash pass —
    // a clean document's positions die before any gram STRING, any
    // lens array, or any exploded row exists; only might-match
    // positions (true matches + ~1% FPP) materialize, and the store
    // join then drops the false positives, so results are exactly
    // unchanged and the batch twin's oracle still applies verbatim.
    val pruned = bloomCandidates(base, n, bloom)
      .select(col("doc_id"), col("source"), col("tok_chars"),
        explode(org.apache.spark.sql.functions.transform(col("cand"),
          i => struct(
            i.cast("int").as("start"),
            array_join(slice(col("toks"), i + 1, lit(n)), " ").as("ng"),
            org.apache.spark.sql.functions.transform(
              slice(col("toks"), i + 1, lit(n)),
              t => length(t).cast("int")).as("lens")))).as("o"))
      .select(col("doc_id"), col("source"), col("tok_chars"),
        col("o.start").as("start"), col("o.ng").as("ng"),
        col("o.lens").as("lens"))
      .join(broadcast(store.select("ng")), Seq("ng"))
      .drop("ng")
    // observable orphan accounting (r14 ADVICE): rows dropped under a
    // violated atomicity contract must not vanish silently
    val orphanRows = spark.sparkContext
      .longAccumulator("graft.dupNgramGate.orphanRowsDropped")
    def fn(id: Long, it: Iterator[DupGateEv],
           st: GroupState[Long]): Iterator[DupGateRow] =
      // st deliberately untouched: zero state rows ever persist
      dupGateFold(id, it.toArray, maxDupFrac, orphanRows)
    baseRows.unionByName(pruned)
      .as[DupGateEv]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }

  /** The per-group fold of [[dupNgramGate]], extracted so the orphan
    * guard is directly chaos-testable (r16). A matched-only group
    * means a source split a document's rows across micro-batches,
    * violating the documented atomicity contract. Best-effort
    * semantics under the violation: drop the orphan rows (counted in
    * the accumulator) so the doc emits at most ONCE — when its base
    * row's batch arrives — rather than emitting a second, duplicate
    * doc_id row. The matched rows dropped here never reappear, so
    * that one emission may UNDER-count the doc's duplication; the
    * accumulator is the audit signal that it happened. */
  private[graft] def dupGateFold(id: Long, evs: Array[DupGateEv],
      maxDupFrac: Double,
      orphanRows: org.apache.spark.util.LongAccumulator): Iterator[DupGateRow] = {
    val baseOpt = evs.find(_.start < 0)
    if (baseOpt.isEmpty) { orphanRows.add(evs.length); return Iterator.empty }
    val posLen = scala.collection.mutable.HashMap.empty[Int, Int]
    evs.foreach { e =>
      if (e.start >= 0) {
        var i = 0
        while (i < e.lens.length) {
          posLen.update(e.start + i, e.lens(i)); i += 1
        }
      }
    }
    val dup = posLen.valuesIterator.map(_.toLong).sum
    val tokChars = baseOpt.get.tok_chars
    val frac = if (tokChars > 0) dup.toDouble / tokChars else 0.0
    Iterator.single(DupGateRow(id, baseOpt.get.source, tokChars, dup,
      frac, frac <= maxDupFrac))
  }

  case class ScrubEv(doc_id: Long, source: String, toks: Seq[String],
                     start: Int)
  case class ScrubRow(doc_id: Long, source: String, n_toks: Long,
                      n_toks_removed: Long, clean_text: String)

  /** Exact-substring SCRUB at stream intake — the live twin of
    * [[TextAnalysis.dupSpansApply]]: arriving documents' n-grams
    * probe the persisted dup-gram store (the [[dupNgramGate]]
    * mechanics — broadcast stream-static equi-join, history never
    * re-explodes), and every store-matched span is CUT from the
    * emitted text. Output is `docs_dup_spans_apply`'s relation by
    * definition (same covered-position union against the same
    * store), so that key's oracle is shared verbatim.
    *
    * Same zero-persisted-state contract as [[dupNgramGate]]: the
    * per-doc fold never writes its store (documents are atomic per
    * micro-batch). The base row carries the token array ONCE per
    * doc (the scrub has to ship the text it rewrites — that is the
    * operator's payload, not overhead); matched rows carry only
    * (start).
    */
  def dupSpanScrub(docs: DataFrame, store: DataFrame, bloom: BloomFilter,
                   n: Int = 8): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.functions.broadcast
    val base = tokenized(docs)
    val baseRows = base.select(col("doc_id"), col("source"), col("toks"),
      lit(-1).as("start"))
    // r14: same in-array Bloom position filter as [[dupNgramGate]] —
    // clean documents' positions never build a gram string or an
    // exploded row; the store join drops the ~1% FPP survivors
    val matched = bloomCandidates(base, n, bloom)
      .select(col("doc_id"), col("source"),
        explode(org.apache.spark.sql.functions.transform(col("cand"),
          i => struct(
            i.cast("int").as("start"),
            array_join(slice(col("toks"), i + 1, lit(n)), " ").as("ng"))))
          .as("o"))
      .select(col("doc_id"), col("source"),
        expr("CAST(array() AS ARRAY<STRING>)").as("toks"),
        col("o.start").as("start"), col("o.ng").as("ng"))
      .join(broadcast(store.select("ng")), Seq("ng"))
      .drop("ng")
    // observable orphan accounting (r14 ADVICE): rows dropped under a
    // violated atomicity contract must not vanish silently
    val orphanRows = spark.sparkContext
      .longAccumulator("graft.dupSpanScrub.orphanRowsDropped")
    def fn(id: Long, it: Iterator[ScrubEv],
           st: GroupState[Long]): Iterator[ScrubRow] =
      // st deliberately untouched: zero state rows ever persist
      dupScrubFold(id, it.toArray, n, orphanRows)
    baseRows.unionByName(matched)
      .as[ScrubEv]
      .groupByKey(_.doc_id)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }

  /** The per-group fold of [[dupSpanScrub]], extracted so the orphan
    * guard is directly chaos-testable (r16). A matched-only group
    * means a source split a document's rows across micro-batches,
    * violating the documented atomicity contract. Best-effort
    * semantics under the violation: the orphan match rows drop
    * (counted in the accumulator) and the doc emits ONCE when its
    * base row's batch arrives — with possibly UNDER-counted scrub
    * coverage, because the dropped matches never reappear. The
    * accumulator is the audit signal; killing the query was the
    * rejected alternative. */
  private[graft] def dupScrubFold(id: Long, evs: Array[ScrubEv], n: Int,
      orphanRows: org.apache.spark.util.LongAccumulator): Iterator[ScrubRow] = {
    val baseOpt = evs.find(_.start < 0)
    if (baseOpt.isEmpty) { orphanRows.add(evs.length); return Iterator.empty }
    val baseRow = baseOpt.get
    val covered = new scala.collection.mutable.BitSet()
    evs.foreach { e =>
      if (e.start >= 0) { var p = e.start; val end = e.start + n
        while (p < end) { covered += p; p += 1 } }
    }
    val toks = baseRow.toks
    val clean = toks.iterator.zipWithIndex
      .collect { case (t, i) if !covered(i) => t }.mkString(" ")
    Iterator.single(ScrubRow(id, baseRow.source, toks.length.toLong,
      covered.size.toLong, clean))
  }

  case class QDriftEv(metric: String, bucket: Long)
  case class QDriftRow(metric: String, bucket: Long, n_a: Long, n_b: Long,
                       p_a: Double, p_b: Double, psi_term: Double,
                       psi_total: Double, drifted: Boolean)

  /** Streaming quality-drift monitor — the live twin of
    * [[TextAnalysis.qualityDrift]]: arriving documents' 7 quality
    * metrics bucket into the FIXED [[TextAnalysis.QualityDriftBins]]
    * grid row-locally, and per metric a running histogram compares
    * against the persisted BASELINE snapshot
    * ([[TextAnalysis.qualityBaseline]], the nightly batch's
    * artifact) by the same Laplace-0.5 PSI — "did today's crawl
    * shift" as a continuously-updated readout instead of a nightly
    * one.
    *
    * State is the per-metric bucket histogram: O(|metrics| ·
    * |buckets|) longs TOTAL (≤ ~40 counters — the histogram IS the
    * model), accumulated across micro-batches and spec-asserted
    * bounded. The baseline relation is collected once at plan time
    * (bounded by the same grid) and rides the closure, so arriving
    * documents never join anything. Emits every (metric, bucket)
    * row with recomputed PSI each time a metric's histogram moves
    * (update mode); the batch run of [[TextAnalysis.qualityDrift]]
    * over (baseline ∪ stream) is the oracle — identical counters,
    * identical float ops, identical rounding.
    */
  def qualityDriftState(docs: DataFrame, baseline: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base: Map[String, Map[Long, Long]] = baseline.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (m, rows) =>
        m -> rows.map(r => r._2 -> r._3).toMap }
    val binsMap = TextAnalysis.QualityDriftBins.toMap
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def fn(metric: String, it: Iterator[QDriftEv],
           st: GroupState[Map[Long, Long]]): Iterator[QDriftRow] = {
      val upd = it.foldLeft(st.getOption.getOrElse(Map.empty[Long, Long])) {
        (m, e) => m.updated(e.bucket, m.getOrElse(e.bucket, 0L) + 1L)
      }
      st.update(upd)
      val aCounts = base.getOrElse(metric, Map.empty)
      val halfN = (binsMap(metric).size + 1) * 0.5
      val buckets = (upd.keySet ++ aCounts.keySet).toSeq.sorted
      val sumA = aCounts.values.sum
      val sumB = upd.values.sum
      val rows = buckets.map { b =>
        val nA = aCounts.getOrElse(b, 0L)
        val nB = upd.getOrElse(b, 0L)
        val pA = (nA + 0.5) / (sumA + halfN)
        val pB = (nB + 0.5) / (sumB + halfN)
        (b, nA, nB, pA, pB, (pB - pA) * math.log(pB / pA))
      }
      val psiRaw = rows.map(_._6).sum
      rows.iterator.map { case (b, nA, nB, pA, pB, term) =>
        QDriftRow(metric, b, nA, nB, round6(pA), round6(pB),
          round6(term), round6(psiRaw), psiRaw > 0.2)
      }
    }
    val metricsDf =
      if (docs.columns.contains("n_words")) docs
      else TextAnalysis.gopherQualityCols(docs)
    TextAnalysis.qualityBuckets(metricsDf)
      .select(col("metric"), col("bucket"))
      .as[QDriftEv]
      .groupByKey(_.metric)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }

  case class SampEv(doc_id: Long, source: String, skey: String)
  case class SampState(keep: List[(String, Long)])
  case class SampleRow(source: String, sample_rank: Long, doc_id: Long)

  /** Streaming deterministic k-per-stratum sample — the continuous
    * twin of [[graft.operators.Sampling.uniformKPerStratum]]: per
    * source, the running k smallest salted-md5 keys (hash order ≈
    * uniform random order, fully deterministic and replayable).
    * State is O(k) per stratum — exactly the current sample — and a
    * new doc either displaces the current maximum or touches
    * nothing, so the sample is ALWAYS valid mid-stream (the
    * bounded-state reservoir property; a true random reservoir
    * would need a seeded RNG whose replay semantics break on
    * micro-batch retries — the hash rank is retry-idempotent by
    * construction). Duplicate arrivals collapse via the (key, id)
    * set semantics. Batch run folds the whole corpus in one group
    * pass, making it row-identical to the window/aggregate forms —
    * it shares `sample_uniform_k`'s oracle.
    */
  def sampleState(docs: DataFrame, k: Int = 5, salt: String = "s42"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    def fn(source: String, it: Iterator[SampEv],
           st: GroupState[SampState]): Iterator[SampleRow] = {
      val merged = (st.getOption.map(_.keep).getOrElse(Nil) ++
        it.map(e => (e.skey, e.doc_id)))
        .distinct.sorted.take(k)
      st.update(SampState(merged))
      merged.iterator.zipWithIndex.map { case ((_, id), i) =>
        SampleRow(source, i + 1L, id)
      }
    }

    docs.select(col("doc_id"), col("source"),
        graft.operators.Sampling.sampleKey(col("doc_id"), salt).as("skey"))
      .as[SampEv]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Update(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }

  case class BudEv(doc_id: Long, source: String, n_tokens: Long)
  case class BudUsed(used: Long)
  case class BudRow(source: String, doc_id: Long, n_tokens: Long,
                    used_tokens: Long)

  /** Streaming TOKEN-budget admission — [[capState]]'s sibling in
    * the budget currency that matters for a training mix: per
    * source, docs admit in doc_id order while the RUNNING token sum
    * stays within the budget; once the sum crosses, nothing later
    * admits (the sum only grows), so the batch twin is exactly the
    * cumulative-sum window `sum(n_tokens) OVER (ORDER BY doc_id) ≤
    * budget` — the oracle. State is ONE long per source; per-batch
    * events fold in doc_id order, and the emitted `used_tokens`
    * (cumulative including the doc) makes every admission decision
    * auditable downstream.
    *
    * In-order-ingest contract (shared with [[capState]]): doc_id
    * order is pinned WITHIN each micro-batch only. A cross-batch
    * straggler with a smaller doc_id than an already-billed doc
    * folds at arrival position, so its admission (and everyone
    * after) can diverge from the batch cumulative-sum oracle —
    * the documented price of O(1) state; sources that can reorder
    * across batches need the nightly batch form, not the meter.
    */
  def tokenBudgetState(docs: DataFrame, budget: Long = 800L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    def fn(source: String, it: Iterator[BudEv],
           st: GroupState[BudUsed]): Iterator[BudRow] = {
      var used = st.getOption.map(_.used).getOrElse(0L)
      val out = Vector.newBuilder[BudRow]
      it.toArray.sortBy(_.doc_id).foreach { e =>
        used += e.n_tokens
        if (used <= budget) out += BudRow(source, e.doc_id, e.n_tokens, used)
      }
      st.update(BudUsed(used))
      out.result().iterator
    }

    docs.select(col("doc_id"), col("source"),
        size(TextAnalysis.tokens(col("text"))).cast("long").as("n_tokens"))
      .as[BudEv]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }

  case class CapEv(doc_id: Long, source: String)
  case class CapCount(admitted: Long)
  case class CapRow(source: String, admit_rank: Long, doc_id: Long)

  /** Continuously-maintained compaction MONITOR over a stream of
    * file-commit events (part, file_id, bytes) — the live trigger
    * feeding the nightly [[graft.sources.Lake.compactionPlan]]:
    * per partition, files/bytes so far, how many landed under the
    * small-file threshold, and `compact_now` once `minSmall` of
    * them accumulate. A plain streaming aggregate (update mode,
    * state O(parts) — three longs each, never file-grain); the
    * batch run of the same code path over the full commit log IS
    * the oracle, and the spec shows cross-batch accumulation:
    * commits split across micro-batches reach the same counters.
    */
  def compactionMonitorState(manifest: DataFrame, smallBytes: Long = 300L,
                             minSmall: Long = 12L): DataFrame =
    manifest.groupBy("part").agg(
        count(lit(1)).as("n_files"),
        sum(col("bytes")).as("total_bytes"),
        sum(when(col("bytes") < smallBytes, 1L).otherwise(0L))
          .as("n_small"))
      .withColumn("compact_now", col("n_small") >= minSmall)

  /** Streaming per-source admission quota — the intake-side spelling
    * of [[graft.operators.Curation.sourceCap]]: admit at most `cap`
    * documents per source, deciding AT ARRIVAL (the quality-ranked
    * cap needs the whole day's corpus and stays in the nightly
    * batch; an always-on intake can only meter). State is ONE
    * counter per source — O(1), strictly smaller than the
    * reservoir's O(k) — and an admitted doc emits exactly once, so
    * the query runs in append mode. Admission order is pinned to
    * doc_id WITHIN each micro-batch (ingest order across batches),
    * which makes a failed-batch replay fold identically from the
    * rolled-back state version; a cross-batch straggler with a
    * smaller doc_id than an admitted doc is DROPPED once the quota
    * filled — the documented disorder contract (StreamingSpec), the
    * price of O(1) state. A batch run folds the whole corpus as one
    * sorted group pass, reproducing `row_number() OVER (PARTITION BY
    * source ORDER BY doc_id) <= cap` — the driver oracle.
    */
  def capState(docs: DataFrame, cap: Long = 10L): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    def fn(source: String, it: Iterator[CapEv],
           st: GroupState[CapCount]): Iterator[CapRow] = {
      var admitted = st.getOption.map(_.admitted).getOrElse(0L)
      val out = Vector.newBuilder[CapRow]
      it.toArray.sortBy(_.doc_id).foreach { e =>
        if (admitted < cap) {
          admitted += 1
          out += CapRow(source, admitted, e.doc_id)
        }
      }
      st.update(CapCount(admitted))
      out.result().iterator
    }

    docs.select(col("doc_id"), col("source"))
      .as[CapEv]
      .groupByKey(_.source)
      .flatMapGroupsWithState(OutputMode.Append(),
        GroupStateTimeout.NoTimeout())(fn)
      .toDF()
  }
}
