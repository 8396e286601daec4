package graft

import org.apache.spark.sql.functions.{col, length, lit}

import graft.operators.Curation

/** The composed curation pass drops each failure class for its own
  * reason and keeps the clean survivor. */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches " +
      "from a warm window sill and the birds sing in the morning light"
  private val other =
    "completely different content about databases indexes partitions " +
      "shuffles joins aggregates and the relational algebra of query engines"
  // ≥ 27 tokens so the C4 length factor clears minQuality
  private val good = base + " " + base
  private val benchText = other + " " + other

  test("quality, dedup, benchmark and contamination drops compose") {
    val docs = Seq(
      (0L, benchText),                       // benchMod slice: held-out benchmark
      (10L, good),                           // unique, clean → the one survivor
      // whitespace-only variant: canonical duplicate of 10 that still
      // PASSES quality (uppercasing would fail the stopword check
      // first and be attributed to 'quality', not 'duplicate')
      (11L, good.replace(" ", "  ")),
      (12L, "tiny low quality doc"),         // fails the quality filter
      (13L, "extra words here " + benchText)) // shares bench 3-grams → contaminated
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length($"text").cast("long"))

    val kept = Curation.curate(docs).collect().map(_.getLong(0)).toSet
    assert(kept == Set(10L), s"expected only the clean survivor, got $kept")

    // the manifest attributes every doc to exactly one reason, with
    // curate's precedence, and its 'kept' bucket matches curate
    val reasons = Curation.manifest(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(reasons.values.sum == 5L, "every doc appears exactly once")
    assert(reasons(("s", "kept")) == 1L)
    assert(reasons(("s", "quality")) == 1L)      // doc 12
    assert(reasons(("s", "duplicate")) == 1L)    // doc 11
    assert(reasons(("s", "benchmark")) == 1L)    // doc 0
    assert(reasons(("s", "contaminated")) == 1L) // doc 13
  }

  test("capped curation: cap applies AFTER dedup, never to a duplicate") {
    // four docs in one source: a good doc, its whitespace-variant
    // duplicate, and two distinct lower-value docs. cap=2.
    val third = "numbers and letters mixed in a long plain sentence " +
      "about nothing in particular that still reads like prose to the filter"
    val docs = Seq(
      (10L, good),                     // survivor of the dup pair
      (11L, good.replace(" ", "  ")),  // duplicate — high quality score
      (20L, benchText),                // distinct (no bench ids here → no contamination)
      (30L, third + " " + third))      // distinct, lowest value
      .toDF("doc_id", "text")
      .withColumn("lang", org.apache.spark.sql.functions.lit("en"))
      .withColumn("source", org.apache.spark.sql.functions.lit("s"))
      .withColumn("n_chars",
        org.apache.spark.sql.functions.length($"text").cast("long"))

    // capping the RAW corpus would spend a budget slot on the
    // duplicate (both copies outscore the shorter docs)…
    val rawCap = Curation.sourceCap(docs, cap = 2)
      .collect().map(_.getLong(2)).toSet
    assert(rawCap == Set(10L, 11L),
      s"precondition: the dup pair should top the raw ranking, got $rawCap")
    // …curateCapped dedups first, so the freed slot goes to real content
    val kept = Curation.curateCapped(docs, cap = 2)
      .collect().map(_.getLong(2)).toSet
    assert(!kept.contains(11L), "a duplicate must never hold a cap slot")
    assert(kept.size == 2 && kept.contains(10L),
      s"expected the dup survivor plus one distinct doc, got $kept")
    assert(kept.subsetOf(
      Curation.curate(docs).collect().map(_.getLong(0)).toSet),
      "capped output must be a subset of the curated corpus")
  }

  test("curateFull narrows through every gate; all gate invariants hold at once") {
    import org.apache.spark.sql.functions._
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val (cap, budget) = (5, 2000L)
    val full = Curation.curateFull(docs, SharedTrunks.curateFlags(docs, emb,
        SharedTrunks.gopherFlagged(docs)),
        SharedTrunks.shingles(docs), cap = cap, tokenBudget = budget)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(full.nonEmpty, "the composed pipeline should keep something")
    val keptIds = full.map(_._1).toSet
    // the r14 gate families bite: no survivor is Gopher-flagged or
    // over the corpus-duplication fraction cut
    val gflagged = graft.operators.TextAnalysis.gopherFlagged(
        graft.operators.TextAnalysis.synthQualityCorpus(docs))
      .filter(graft.operators.TextAnalysis.gopherAnyFlag)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptIds.intersect(gflagged).isEmpty,
      "a Gopher-flagged doc must never survive the composition")
    val dupDropped = graft.operators.TextAnalysis.dupNgramApply(docs)
      .filter(!col("keep")).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(keptIds.intersect(dupDropped).isEmpty,
      "a corpus-duplication-gated doc must never survive")
    val semDropped = graft.operators.Dedup.semanticDecontaminate(emb)
      .filter(col("contaminated"))
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(keptIds.intersect(semDropped).isEmpty,
      "a semantically contaminated doc must never survive")
    // residual billing: n_tokens_kept = raw − covered positions, ≤ raw
    assert(full.forall(r => r._4 <= r._3 && r._4 >= 0L),
      "residual tokens must sit in [0, raw]")
    // domain cap holds
    full.groupBy(_._2).foreach { case (src, rows) =>
      assert(rows.length <= cap, s"source $src exceeds cap: ${rows.length}") }
    // budget holds on the RESIDUAL billing, fill-then-stop
    val total = full.map(_._4).sum
    assert(total - full.map(_._4).max < budget,
      s"kept $total residual tokens for budget $budget")
  }

  test("benchMod is decided once, in the flags: full and funnel exclude its slice") {
    // clean, mutually distinct prose: ≥ 50 alphabetic words with a
    // stop word every third position, so each doc passes the Gopher
    // suite over its own text, the C4 bounds, both dedup tiers, the
    // dup-gram gate and n-gram decontamination — only the benchmark
    // slice can drop one
    val stops = Seq("the", "of", "and", "to", "with", "that")
    def word(n: Int): String =
      Iterator.iterate(n)(_ / 26).takeWhile(_ > 0)
        .map(k => ('a' + k % 26).toChar).mkString
    def prose(id: Int): String = (0 until 60).map(j =>
      if (j % 3 == 0) stops(j / 3 % stops.size)
      else word(20000 + id * 100 + j)).mkString(" ")
    val ids = Seq(49L, 50L, 51L, 52L, 100L, 101L)
    val docs = ids.map(id => (id, prose(id.toInt)))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val emb = Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")
    val gopher = SharedTrunks.pin(
      graft.operators.TextAnalysis.gopherFlagged(docs))
    val shingles = SharedTrunks.shingles(docs)
    def kept(benchMod: Int): (Set[Long], Map[String, Long]) = {
      val flags = SharedTrunks.curateFlags(docs, emb, gopher, benchMod)
      val full = Curation.curateFull(docs, flags, shingles,
          tokenBudget = 100000L)
        .collect().map(_.getLong(0)).toSet
      val funnel = Curation.curateFunnel(docs, flags, shingles,
          tokenBudget = 100000L)
        .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
      (full, funnel)
    }
    // control: no id of this corpus is in the default slice, and
    // every doc survives every gate
    val (all, allFunnel) = kept(97)
    assert(all == ids.toSet, s"every doc must survive the gates: $all")
    assert(allFunnel("token_budget") == ids.size.toLong, s"$allFunnel")
    // the slice the flags were built with is the slice both exclude
    val (full50, funnel50) = kept(50)
    assert(full50 == Set(49L, 51L, 52L, 101L), s"got $full50")
    assert(funnel50("decontam") == allFunnel("decontam") - 2L,
      s"the funnel's decontam stage must drop the slice: $funnel50")
    assert(funnel50("token_budget") == full50.size.toLong, s"$funnel50")
  }

  test("curateFunnel: stage counts tie to the pipeline, drops reconcile") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val flags = SharedTrunks.curateFlags(docs, emb,
        SharedTrunks.gopherFlagged(docs))
    val shingles = SharedTrunks.shingles(docs)
    val rows = Curation.curateFunnel(docs, flags, shingles, cap = 5,
        tokenBudget = 2000L)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        if (r.isNullAt(3)) None else Some(r.getLong(3))))
      .sortBy(_._1)
    assert(rows.map(_._2).toSeq == Seq("input", "gopher", "quality",
      "exact_dedup", "dup_gram", "decontam", "decontam_semantic",
      "near_dup", "source_cap", "token_budget"), s"stages: ${rows.toSeq}")
    // monotone narrowing, and each drop reconciles with its neighbor
    rows.sliding(2).foreach { case Array(prev, cur) =>
      assert(cur._3 <= prev._3, s"stage must narrow: $prev -> $cur")
      assert(cur._4.contains(prev._3 - cur._3), s"drop mismatch: $prev -> $cur")
    }
    assert(rows.head._4.isEmpty, "input row carries no drop")
    assert(rows.head._3 == docs.count(), "input count is the corpus")
    // endpoints tie to the real pipeline
    val end = Curation.curateFull(docs, flags, shingles, cap = 5,
      tokenBudget = 2000L).count()
    assert(rows.last._3 == end, s"funnel end ${rows.last._3} != pipeline $end")
  }

  test("token budget: banded prefix sum equals the global window, budget holds") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val budget = 5000L
    val kept = Curation.selectToBudget(docs, budget).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(kept.nonEmpty)
    // reference: the naive single-window global prefix sum
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(org.apache.spark.sql.functions.col("quality_score").desc,
        org.apache.spark.sql.functions.col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    import org.apache.spark.sql.functions._
    val naive = graft.operators.TextAnalysis.stats(docs)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .withColumn("cum_excl", coalesce(sum("n_tokens").over(w), lit(0L)))
      .filter(col("cum_excl") < budget)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(kept.sortBy(_._1).toSeq == naive.sortBy(_._1).toSeq,
      "banded two-phase selection must equal the global-window selection")
    // fill-then-stop: total minus the crossing doc stays under budget
    val total = kept.map(_._2).sum
    val maxDoc = kept.map(_._2).max
    assert(total - maxDoc < budget, s"kept $total tokens for budget $budget")
    // the kept set is a quality prefix: every dropped doc ranks below
    // the worst kept doc in (quality desc, doc_id) order
    val keptIds = kept.map(_._1).toSet
    val (worstQ, worstId) = kept.map(t => (t._3, t._1))
      .minBy { case (q, id) => (q, -id.toDouble) }
    val scores = graft.operators.TextAnalysis.stats(docs)
      .select(col("doc_id"), col("quality_score")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1))
    scores.filterNot(s => keptIds(s._1)).foreach { case (id, q) =>
      assert(q < worstQ || (q == worstQ && id > worstId),
        s"dropped doc $id (q=$q) outranks kept doc $worstId (q=$worstQ)")
    }
  }

  test("source cap: bounded-heap agg equals the window twin, cap holds") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    def keyed(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val agg = keyed(Curation.sourceCap(docs, cap = 7))
    val win = keyed(Curation.sourceCapWindow(docs, cap = 7))
    assert(agg == win, "agg and window formulations must be result-identical")
    // at most `cap` docs per source, ranks dense from 1
    val bySource = agg.keys.groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted)
    assert(bySource.values.forall(rs => rs.size <= 7 && rs == (1L to rs.size)))
    // survivors really are each source's highest-quality docs: every
    // kept score >= every dropped score within the source
    val scored = graft.operators.TextAnalysis.stats(docs)
      .select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val allBySource = docs.select("doc_id", "source").collect()
      .map(r => r.getString(1) -> r.getLong(0)).groupBy(_._1)
    bySource.foreach { case (src, _) =>
      val keptIds = agg.keys.filter(_._1 == src)
        .map(k => agg(k)._1).toSet
      val minKept = keptIds.map(scored).min
      val dropped = allBySource(src).map(_._2).filterNot(keptIds)
      assert(dropped.forall(d => scored(d) <= minKept + 1e-12),
        s"source $src kept a lower-quality doc over a higher one")
    }
  }

  test("curateMixture: rates derive from POST-curation counts, output ⊆ curated") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val shares = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25)
    val got = Curation.curateMixture(docs, shares)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val curatedIds = Curation.curate(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.keySet.subsetOf(curatedIds), "mixture must sample the curated set")
    assert(got.values.forall(shares.keySet), "out-of-mixture sources must drop")
    // identical to composing the two operators by hand — the rate
    // derivation must see curated (not raw) per-source counts
    val curated = docs.join(
      Curation.curate(docs).select("doc_id"), Seq("doc_id"), "left_semi")
    val direct = graft.operators.Sampling
      .sampleToMixture(curated, "doc_id", "source", shares)
      .select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == direct)
    // the binding source keeps ALL its curated docs (rate 1.0): the
    // achieved mixture can't be improved without up-sampling
    import org.apache.spark.sql.functions.col
    val curBySource = curated.filter(col("source").isin(shares.keys.toSeq: _*))
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val binding = curBySource.keys.minBy(s => curBySource(s) / shares(s))
    val keptBySource = got.toSeq.groupBy(_._2).view.mapValues(_.size).toMap
    assert(keptBySource(binding) == curBySource(binding),
      s"binding source $binding must keep everything")
  }

  test("curateTemperature: τ=1/2 rates from POST-curation counts, output ⊆ curated") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    val got = Curation.curateTemperature(docs)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val curated = docs.join(
      Curation.curate(docs).select("doc_id"), Seq("doc_id"), "left_semi")
    val curatedIds = curated.select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(got.keySet.subsetOf(curatedIds), "temperature must sample the curated set")
    // identical to composing the two operators by hand — the rate
    // derivation must see curated (not raw) per-source counts
    val direct = graft.operators.Sampling
      .sampleTemperature(curated, "doc_id", "source")
      .select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == direct)
    // the smallest curated source is binding: rate 1.0, keeps all
    import org.apache.spark.sql.functions.col
    val curBySource = curated.filter(col("source").isNotNull)
      .groupBy("source").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val binding = curBySource.minBy(_._2)._1
    val keptBySource = got.toSeq.groupBy(_._2).view.mapValues(_.size).toMap
    assert(keptBySource(binding) == curBySource(binding),
      s"smallest source $binding must keep everything")
  }

  test("source policy: drop mirrors, cap low quality, keep the rest, drop wins") {
    // stopword-free (quality floor) AND token-disjoint, so the two
    // junk docs never become a near-dup pair of each other
    val junkA = "zz qq xx ww vv " * 12
    val junkB = "kk ll mm nn oo " * 12
    val fresh =
      "the curious engineer walks to the harbor and watches the boats " +
        "while the gulls circle over the water in the evening breeze"
    val docs = Seq(
      // srcDup: two of three docs are near-dup pair members (rate 2/3)
      (0L, good, "srcDup"), (1L, good.replace("morning", "evening"), "srcDup"),
      (2L, other + " " + other, "srcDup"),
      // srcJunk: clean of dups but scores at the quality floor
      (3L, junkA, "srcJunk"), (4L, junkB, "srcJunk"),
      // srcOk: unique (gram-disjoint from srcDup) and high quality
      (5L, fresh + " " + fresh, "srcOk"))
      .toDF("doc_id", "text", "source")
    val got = graft.operators.Curation
      .sourcePolicy(docs, SharedTrunks.blockedPairs(docs),
        dropDupRate = 0.5, capQuality = 0.3)
      .collect()
      .map(r => r.getString(0) -> r.getAs[String]("policy")).toMap
    assert(got == Map(
      "srcDup" -> "drop", "srcJunk" -> "cap", "srcOk" -> "keep"), s"got $got")

    // applied: srcDup gone, srcJunk trimmed to cap=1 (its best doc —
    // junkA and junkB tie on every quality factor except length, so
    // the min-id tiebreak keeps doc 3), srcOk intact
    val metaDocs = docs.withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val applied = graft.operators.Curation
      .applySourcePolicy(metaDocs, SharedTrunks.blockedPairs(metaDocs),
        dropDupRate = 0.5, capQuality = 0.3, cap = 1)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(applied == Set(3L, 5L), s"got $applied")
  }

  test("qualityDupProfile: bands by score, rates count injected pair members") {
    // docs 1, 2: 4 stopword-free tokens → q = (4/128)·1·0.3 ≈ 0.009
    // → band 0. doc 3: 128 tokens, every 4th a stopword → all three
    // quality factors saturate at 1.0·1.0·1.0 → clamped top band 9
    val docs = Seq(
      (1L, "xq yq zq wq"),
      (2L, "aq bq cq dq"),
      (3L, Seq.fill(32)("the xa ya za").mkString(" ")))
      .toDF("doc_id", "text")
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val out = Curation.qualityDupProfile(docs, pairs)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(out == Map(
      0L -> (2L, 2L, 1.0),
      9L -> (1L, 0L, 0.0)), s"profile: $out")
  }

  /** [[Curation.curateIncremental]] over the trunks the driver key
    * reads: the Gopher pass over the whole corpus (delta ∪ history)
    * and the dup-gram store of the history. */
  private def incremental(delta: org.apache.spark.sql.DataFrame,
                          history: org.apache.spark.sql.DataFrame,
                          embeddings: org.apache.spark.sql.DataFrame,
                          minTokens: Long = 20L, minQuality: Double = 0.2,
                          tau: Double = 0.5) =
    Curation.curateIncremental(delta, history,
      gopherFlags = SharedTrunks.gopherFlagged(delta.unionByName(history)),
      dupStore = SharedTrunks.pin(
        graft.operators.TextAnalysis.dupNgramStore(history)),
      embeddings = embeddings,
      minTokens = minTokens, minQuality = minQuality, tau = tau)

  private def noEmbeddings =
    Seq.empty[(Long, Seq[Float])].toDF("vec_id", "embedding")

  test("curateIncremental gates the delta against history, never rescores it") {
    def doc(id: Long, text: String) = (id, text, "en", "src", text.length.toLong)
    val history = Seq(
      doc(100L, "alpha beta gamma delta epsilon zeta"),
      doc(101L, "totally different historic content words here"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val delta = Seq(
      // near-dup of history 100: shares 3 rare grams, jaccard 3/5.
      // id 16, not 10: the r14 Gopher gate runs on the quality
      // fixture, whose lined twin plants a duplicate paragraph on
      // doc_id % 5 == 0 — id 10 would drop for repetition before
      // the near-dup gate ever saw it
      doc(16L, "alpha beta gamma delta epsilon eta"),
      // exact dup of history 101
      doc(11L, "totally different historic content words here"),
      // batch-internal dup pair: min id 12 survives, 13 dies
      doc(12L, "fresh unique sentence one two three"),
      doc(13L, "fresh unique sentence one two three"),
      // quality kill: below minTokens
      doc(14L, "x"))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val kept = incremental(delta, history, noEmbeddings,
      minTokens = 2L, minQuality = 0.0).collect().map(_.getLong(0)).toSet
    assert(kept == Set(12L),
      s"only the fresh unique batch winner survives: $kept")
    // the near-dup threshold is live: loosening tau above the crafted
    // pair's jaccard (0.6) lets doc 16 back in
    val loose = incremental(delta, history, noEmbeddings,
      minTokens = 2L, minQuality = 0.0, tau = 0.7)
      .collect().map(_.getLong(0)).toSet
    assert(loose == Set(16L, 12L), s"tau gate must be the dropper: $loose")
  }

  test("curateIncremental: the semantic gate drops a paraphrase-poisoned delta doc") {
    // the r15 parity gate, pinned at spec grain because the driver's
    // sf0.01 delta happens to be semantically clean (the gate bites
    // at sf0.1: 2 delta docs): poison a kept delta doc's VECTOR to
    // match a benchmark vector — token-disjoint, so every n-gram
    // gate passes it — and only the embeddings-threaded run drops it
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val delta = docs.filter(col("doc_id") % 10 === 0)
    val hist = docs.filter(col("doc_id") % 10 =!= 0)
    val base = incremental(delta, hist, emb.filter(lit(false)))
      .collect().map(_.getLong(0)).toSet
    assert(base.nonEmpty, "need a kept delta doc to poison")
    val victim = base.min
    // clean-table sanity: over an empty embedding table the gate is
    // vacuous, and the real table drops nothing more
    assert(incremental(delta, hist, emb)
      .collect().map(_.getLong(0)).toSet == base,
      "the sf0.001 vectors must be semantically clean (else pick another victim)")
    val benchVec = emb.filter(col("vec_id") === 0L)
      .select("embedding").head().getSeq[Float](0)
    import org.apache.spark.sql.functions.{typedlit, when}
    val poisoned = emb.withColumn("embedding",
      when(col("vec_id") === victim, typedlit(benchVec))
        .otherwise(col("embedding")))
    val gated = incremental(delta, hist, poisoned)
      .collect().map(_.getLong(0)).toSet
    assert(gated == base - victim,
      s"only the poisoned doc may drop: base=$base gated=$gated victim=$victim")
  }

  test("curateIncremental with empty history degenerates to gopher-gated curate") {
    // day-zero bootstrap: with nothing in history, every
    // history-facing gate is vacuous (the dup-gram store is empty —
    // nothing can match it), so the incremental pass must equal the
    // batch curation of the same delta MINUS the r14 Gopher gate's
    // drops (curateIncremental carries the gate; plain curate does
    // not — docs_curate_full is the batch twin that does)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.collect().map(_.getLong(0)).toSet
    val gflagged = graft.operators.TextAnalysis.gopherFlagged(
        graft.operators.TextAnalysis.synthQualityCorpus(docs))
      .filter(graft.operators.TextAnalysis.gopherAnyFlag)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val full = ids(Curation.curate(docs)) -- gflagged
    val incr = ids(incremental(docs, docs.filter(lit(false)),
      graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
        .filter(lit(false))))
    assert(full == incr, s"day-zero mismatch: ${(full -- incr, incr -- full)}")
    assert(full.nonEmpty, "vacuously-equal empty results prove nothing")
  }

  test("clusterTemperature: strata are the kmeans cells, the smallest " +
    "cell keeps everything, bigger cells flatten at sqrt(n_min/n)") {
    val dir = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, dir)
    val embs = graft.sources.Tables.embeddings(spark, dir)
    val cells = graft.operators.Similarity.kmeansAssign(embs)
      .select(col("vec_id").as("doc_id"), col("cell"))
      .localCheckpoint(true)
    val kept = Curation.clusterTemperature(docs, embs)
      .localCheckpoint(true)
    // every kept doc carries ITS OWN cell label
    assert(kept.join(cells.withColumnRenamed("cell", "expected"), "doc_id")
      .filter(col("cell") =!= col("expected")).count() === 0L)
    val sizes = cells.groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val keptSizes = kept.groupBy("cell").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nMin = sizes.values.min
    // rate-1 strata (n == n_min) keep every member
    sizes.filter(_._2 == nMin).keys.foreach { c =>
      assert(keptSizes.getOrElse(c, 0L) === sizes(c),
        s"minimum cell $c must keep all its members")
    }
    // brute-force replay: kept set == the per-cell hash filter at
    // sqrt(n_min/n) exactly (the sampler is deterministic, so this
    // is equality, not a statistical bound)
    val expect = cells.collect().filter { r =>
      val rate = math.sqrt(nMin.toDouble / sizes(r.getLong(1)).toDouble)
      val key = java.security.MessageDigest.getInstance("MD5")
        .digest(s"${r.getLong(0)}:t42".getBytes("UTF-8"))
        .take(4).map("%02x".format(_)).mkString
      val thr = if (rate >= 1.0) "g"
        else "%08x".format(math.floor(rate * 4294967296.0).toLong)
      key < thr
    }.map(_.getLong(0)).toSet
    assert(kept.collect().map(_.getLong(0)).toSet === expect)
  }
}
