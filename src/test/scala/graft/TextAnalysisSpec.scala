package graft

import graft.operators.TextAnalysis

/** Text-analysis specs on known strings. */
class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("gopherRepetition: dup line/para fractions + top-n-gram mass, hand-computed") {
    val docs = Seq(
      (0L, "x y\nx y\n\nz w"),
      (1L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetition(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val a = out(0L)
    // lines: [x y, x y, z w]; paras: [x y\nx y, z w]
    assert(a.getLong(1) == 3L && a.getLong(2) == 2L)
    assert(math.abs(a.getDouble(3) - (1.0 - 2.0 / 3)) < 1e-15, "dup_line_fraction")
    assert(a.getDouble(4) == 0.0, "dup_para_fraction")
    assert(math.abs(a.getDouble(5) - 6.0 / 9) < 1e-15, "dup_line_char_fraction")
    assert(a.getDouble(6) == 0.0, "dup_para_char_fraction")
    // toks = x y x y z w -> tok_chars 11; top bigram "x y" (2 hits, 3 chars)
    assert(math.abs(a.getDouble(7) - 6.0 / 11) < 1e-15, "top2gram mass")
    // all trigrams unique -> lexicographic min "x y x" (5 chars)
    assert(math.abs(a.getDouble(8) - 5.0 / 11) < 1e-15, "top3gram tie-break")
    assert(math.abs(a.getDouble(9) - 7.0 / 11) < 1e-15, "top4gram mass")
    // empty doc: every counter zero, no NaN/null
    val b = out(1L)
    assert(b.getLong(1) == 0L && b.getLong(2) == 0L &&
      (3 to 9).forall(i => b.getDouble(i) == 0.0))
  }

  test("synthLinedCorpus plants a duplicated first paragraph on doc_id % 5 == 0") {
    val ten = (0 to 9).map(i => s"t$i").mkString(" ")
    val docs = Seq((5L, ten), (1L, ten)).toDF("doc_id", "text")
    val out = TextAnalysis.gopherRepetition(
      TextAnalysis.synthLinedCorpus(docs)).collect()
      .map(r => r.getLong(0) -> r).toMap
    val planted = out(5L)
    // 8 lined tokens + re-appended first para: 9 lines (5 distinct),
    // 3 paras (2 distinct)
    assert(planted.getLong(1) == 9L && planted.getLong(2) == 3L)
    assert(math.abs(planted.getDouble(3) - 4.0 / 9) < 1e-15)
    assert(math.abs(planted.getDouble(4) - 1.0 / 3) < 1e-15)
    val clean = out(1L)
    assert(clean.getLong(2) == 2L && clean.getDouble(4) == 0.0 &&
      clean.getDouble(3) == 0.0)
  }

  test("dupNgramMass: interval-merged coverage of duplicated n-grams, hand-computed") {
    val docs = Seq(
      // "a b c d e" repeats at starts 0 and 5 -> 5-gram coverage
      // tokens 0..9 of 11; all 6-grams distinct -> zero
      (0L, "a b c d e a b c d e f"),
      // fully periodic: every 5-gram duplicated, overlapping
      // intervals merge to the whole doc -> exactly 1.0
      (1L, "p q r s t p q r s t p q r s t"),
      (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.dupNgramMass(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    val a = out(0L)
    assert(a.getLong(1) == 11L, "tok_chars excludes separators")
    assert(math.abs(a.getDouble(2) - 10.0 / 11) < 1e-15, "dup5 coverage")
    assert((3 to 7).forall(i => a.getDouble(i) == 0.0), "6..10 all unique")
    val b = out(1L)
    assert(b.getDouble(2) == 1.0, "overlapping dups merge to full coverage")
    assert(b.getDouble(3) == 1.0 && b.getDouble(4) == 1.0,
      "periodic doc stays fully covered while n-grams still repeat")
    val c = out(2L)
    assert(c.getLong(1) == 0L && (2 to 7).forall(i => c.getDouble(i) == 0.0))
  }

  test("dupNgramCorpus: cross-doc 8-grams only, within-doc repeats don't count") {
    val docs = Seq(
      // "a b c d e f g h" shared by docs 0 and 1 -> corpus-duplicated
      (0L, "s1", "a b c d e f g h x"),
      (1L, "s1", "z a b c d e f g h"),
      // too short for any 8-gram
      (2L, "s2", "p q r"),
      // 8-gram repeated WITHIN one doc only -> 1 distinct doc, ignored
      (3L, "s2", "m n o p q r s t m n o p q r s t"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.dupNgramCorpus(SharedTrunks.dupDocs(docs)).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5))).toMap
    // s1: both docs covered on the shared gram's 8 positions
    assert(out("s1") == ((2L, 2L, 18L, 16L, 16.0 / 18)), s"${out("s1")}")
    // s2: the within-doc repeat contributes nothing
    assert(out("s2") == ((2L, 0L, 19L, 0L, 0.0)), s"${out("s2")}")
  }

  test("dupNgramApply: the shared-gram docs cross the 0.5 cut, others keep") {
    val docs = Seq(
      (0L, "s1", "a b c d e f g h x"),
      (1L, "s1", "z a b c d e f g h"),
      (2L, "s2", "p q r"),
      (3L, "s2", "m n o p q r s t m n o p q r s t"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.dupNgramApply(SharedTrunks.dupDocs(docs)).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getBoolean(5))).toMap
    // docs 0/1: 8 of 9 single-char tokens covered -> 8/9 > 0.5 -> drop
    assert(out(0L) == ((9L, 8L, 8.0 / 9, false)), s"${out(0L)}")
    assert(out(1L) == ((9L, 8L, 8.0 / 9, false)), s"${out(1L)}")
    // doc 2 too short, doc 3 within-doc repeat only -> keep
    assert(out(2L) == ((3L, 0L, 0.0, true)), s"${out(2L)}")
    assert(out(3L) == ((16L, 0L, 0.0, true)), s"${out(3L)}")
  }

  test("dupLineRemoval: keep-first corpus-wide, later occurrences billed") {
    val lined = Seq(
      (0L, "s1", "a b\nc d"),        // both lines first occurrences
      (1L, "s1", "c d\ne f"),        // "c d" seen at (0,1) -> removed
      (2L, "s2", "g h\ng h"),        // within-doc repeat: 2nd removed
      (3L, "s2", ""))                // empty doc: zero lines
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.dupLineRemoval(lined).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getDouble(7))).toMap
    assert(out("s1") == ((2L, 1L, 4L, 1L, 12L, 3L, 9.0 / 12)),
      s"${out("s1")}")
    assert(out("s2") == ((2L, 1L, 2L, 1L, 6L, 3L, 0.5)), s"${out("s2")}")
  }

  // a doc that genuinely passes ALL 20 thresholds: ≥50 distinct
  // mid-length words, ≥2 stop words, no symbols/bullets/ellipses,
  // distinct lines and grams
  private val healthyLined: String =
    ("the and " + (1 to 60).map(i => f"word$i%02dx").mkString(" "))
      .split(" ").grouped(2).map(_.mkString(" ")).mkString("\n")

  test("gopherGate: gate families fire exactly where their metrics cross") {
    val lined = Seq(
      // para duplicated verbatim -> para + line + dup-gram gates;
      // ALSO fails quality (20 one-char words: count, length, stops)
      (0L, "a b c d e\na b c d e\n\na b c d e\na b c d e"),
      (1L, healthyLined)).toDF("doc_id", "text")
    val docs = Seq((0L, "dirty"), (1L, "clean")).toDF("doc_id", "source")
    val cols = Seq("n_docs", "n_quality_gate", "n_dup_line_gate",
      "n_dup_para_gate", "n_dup_gram_gate", "n_flagged", "flag_share")
    val out = TextAnalysis.gopherGate(docs, TextAnalysis.gopherFlagged(lined))
      .collect()
      .map(r => r.getString(0) -> cols.map(r.getAs[Any])).toMap
    assert(out("dirty") == Seq(1L, 1L, 1L, 1L, 1L, 1L, 1.0),
      s"${out("dirty")}")
    assert(out("clean") == Seq(1L, 0L, 0L, 0L, 0L, 0L, 0.0),
      s"${out("clean")}")
  }

  test("gopherGateApply: quality precedes repetition; line > para > top > dup") {
    val dupLine = "alpha beta gamma delta epsilon"
    val lined = Seq(
      // passes every QUALITY rule (62 words, stop words present,
      // mid-length tokens) but repeats one line 12x -> 'line'
      (0L, "the and\n" + Seq.fill(12)(dupLine).mkString("\n")),
      // fails quality AND repetition -> quality family wins, and
      // word_count (first in table order) beats word_len/stop_word
      (2L, "a b c d e\na b c d e\na b c d e\nz z z z z"),
      (1L, healthyLined)).toDF("doc_id", "text")
    val docs = Seq((0L, "s"), (1L, "s"), (2L, "s")).toDF("doc_id", "source")
    val out = TextAnalysis.gopherGateApply(docs,
        TextAnalysis.gopherFlagged(lined)).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), Option(r.getString(3)))).toMap
    assert(out(0L) == ((false, Some("line"))), s"${out(0L)}")
    assert(out(2L) == ((false, Some("word_count"))), s"${out(2L)}")
    assert(out(1L) == ((true, None)), s"${out(1L)}")
  }

  test("gopherGateCost charges dropped docs' raw tokens to the source") {
    val lined = Seq(
      (0L, "a b c d e\na b c d e\n\na b c d e\na b c d e"),
      (1L, healthyLined)).toDF("doc_id", "text")
    // RAW corpus: doc 0 has 4 raw tokens, doc 1 has 26
    val docs = Seq((0L, "s", "w x y z"),
      (1L, "s", ('a' to 'z').map(_.toString).mkString(" ")))
      .toDF("doc_id", "source", "text")
    val r = TextAnalysis.gopherGateCost(docs, TextAnalysis.gopherFlagged(lined))
      .collect()(0)
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)) ==
      ((2L, 1L, 30L, 26L)), s"$r")
    assert(math.abs(r.getDouble(5) - 26.0 / 30) < 1e-15)
  }

  test("synthQualityCorpus: every planted class fires exactly its quality family") {
    // raw docs: 10 distinct tokens each (healthy once the tail lands)
    val docs = (0L until 17L).map(id =>
      (id, (1 to 10).map(i => s"tok${id}x$i").mkString(" "), s"s${id % 2}"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.gopherGateApply(
        docs.select("doc_id", "source"),
        SharedTrunks.gopherFlagged(docs)).collect()
      .map(r => r.getLong(0) -> (r.getBoolean(2), Option(r.getString(3)))).toMap
    val want = Map(1L -> "word_count", 2L -> "word_len", 3L -> "word_len",
      4L -> "symbol", 5L -> "bullet", 6L -> "ellipsis_line",
      7L -> "alpha", 8L -> "stop_word")
    want.foreach { case (id, fam) =>
      assert(out(id) == ((false, Some(fam))),
        s"class $id must attribute to $fam: ${out(id)}")
    }
    // healthy classes keep — except doc_id % 5 == 0, where the LINED
    // fixture's planted duplicate paragraph fires a repetition family
    Seq(9L, 11L, 12L, 13L, 14L, 16L).foreach(id =>
      assert(out(id) == ((true, None)), s"healthy $id: ${out(id)}"))
    Seq(0L, 10L, 15L).foreach { id =>
      val (keep, fam) = out(id)
      assert(!keep && fam.exists(Set("line", "para", "top_gram", "dup_gram")),
        s"dup-para plant on $id must fire a repetition family: ${out(id)}")
    }
  }

  test("gopherQuality: metrics replay the planted defects exactly") {
    val docs = (0L until 17L).map(id =>
      (id, (1 to 10).map(i => s"tok${id}x$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherQuality(SharedTrunks.gopherFlagged(docs))
      .collect()
      .map(r => r.getLong(0) -> r).toMap
    // class 1: exactly 3 words survive the truncation
    assert(out(1L).getAs[Long]("n_words") == 3L)
    // class 2/3: mean word length lands outside [3, 10] on the
    // planted side
    assert(out(2L).getAs[Double]("mean_word_len") > 10.0)
    assert(out(3L).getAs[Double]("mean_word_len") < 3.0)
    // class 4: exactly tagWords '#' chars over the word count
    val r4 = out(4L)
    assert(r4.getAs[Double]("symbol_word_ratio") ===
      20.0 / r4.getAs[Long]("n_words"))
    assert(r4.getAs[Double]("symbol_word_ratio") > 0.1)
    // class 5/6: line-shape fractions cross their thresholds
    assert(out(5L).getAs[Double]("bullet_line_fraction") > 0.9)
    assert(out(6L).getAs[Double]("ellipsis_line_fraction") > 0.3)
    // class 7: 44 alphabetic tail words over 344 total
    assert(out(7L).getAs[Double]("alpha_word_fraction") < 0.8)
    // class 8: the raw corpus's natural stop-word deficiency, kept
    assert(out(8L).getAs[Long]("stop_word_hits") < 2L)
    // healthy: all 8 paper stop words arrive with the tail
    assert(out(9L).getAs[Long]("stop_word_hits") == 8L)
    assert(out(9L).getAs[Long]("n_words") == 54L)
  }

  test("quality fixture at driver scale: every class-4 doc trips the SYMBOL rule") {
    // the class-4 plant appends a FIXED 20 tag# words, which only
    // pushes symbol_word_ratio over the 0.1 threshold while the raw
    // doc stays under ~136 words — this pins that the driver corpus'
    // length distribution keeps the plant effective (per-class
    // discrimination would otherwise weaken silently as the corpus
    // grows longer docs)
    val docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    val class4 = TextAnalysis.gopherQuality(SharedTrunks.gopherFlagged(docs))
      .filter($"doc_id" % 17 === 4)
    val n = class4.count()
    val firing = class4.filter($"symbol_word_ratio" > 0.1).count()
    assert(n > 0 && firing == n,
      s"only $firing of $n class-4 docs fire the symbol rule at sf0.01")
  }

  test("dupSpans: a planted repeated paragraph yields ONE maximal span") {
    // 12 shared tokens: five overlapping duplicated 8-grams must
    // CHAIN into a single maximal span, not five fragments
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel " +
      "india juliet kilo lima"
    val sharedChars = shared.split(" ").map(_.length).sum
    val docs = Seq(
      (0L, "s", s"zero0 zero1 $shared tail0a tail0b"),
      (1L, "s", s"one0 $shared tail1a"),
      (2L, "s", "unrelated distinct words nothing here repeats across " +
        "any document at all ever"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.dupSpans(docs, SharedTrunks.dupStarts(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6))).toMap
    assert(out.keySet == Set((0L, 1L), (1L, 1L)),
      s"exactly one span per sharing doc: ${out.keySet}")
    // doc 0: tokens 2..13; char offset = len(zero0)+len(zero1)
    assert(out((0L, 1L)) == ((2L, 13L, 12L, 10L, sharedChars.toLong)),
      s"${out((0L, 1L))}")
    // doc 1: tokens 1..12; char offset = len(one0)
    assert(out((1L, 1L)) == ((1L, 12L, 12L, 4L, sharedChars.toLong)),
      s"${out((1L, 1L))}")
  }

  test("dupSpans: separated duplicated runs stay separate spans") {
    val runA = "aa1 aa2 aa3 aa4 aa5 aa6 aa7 aa8"       // 8 tokens
    val runB = "bb1 bb2 bb3 bb4 bb5 bb6 bb7 bb8 bb9"   // 9 tokens
    val docs = Seq(
      (0L, "s", s"$runA mid01 mid02 mid03 $runB"),
      (1L, "s", s"pre1a $runA post1a"),
      (2L, "s", s"pre2a $runB post2a"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.dupSpans(docs, SharedTrunks.dupStarts(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    // doc 0 carries BOTH runs, split by the undup'd middle
    assert(out((0L, 1L)) == ((0L, 7L)), s"${out((0L, 1L))}")
    assert(out((0L, 2L)) == ((11L, 19L)), s"${out((0L, 2L))}")
    assert(out((1L, 1L)) == ((1L, 8L)) && out((2L, 1L)) == ((1L, 9L)),
      s"$out")
  }

  test("dupSpansApply: spans cut, residual text exact, full coverage empties") {
    val shared = "alpha bravo charlie delta echo foxtrot golf hotel"  // 8 toks
    val docs = Seq(
      (0L, "s", s"pre0a pre0b $shared post0a"),
      (1L, "s", shared),                      // fully covered -> ''
      (2L, "s", "unique2 words2 here2 nothing2 repeats2 at2 all2 ever2"))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.dupSpansApply(docs, SharedTrunks.dupStarts(docs)).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(out(0L) == ((11L, 8L, "pre0a pre0b post0a")), s"${out(0L)}")
    assert(out(1L) == ((8L, 8L, "")), s"fully-covered doc: ${out(1L)}")
    assert(out(2L) == ((8L, 0L,
      "unique2 words2 here2 nothing2 repeats2 at2 all2 ever2")),
      s"untouched doc passes through verbatim: ${out(2L)}")
  }

  test("qualityDrift: identical snapshots read no drift; a planted shift flags its metric") {
    def mk(id: Long, text: String) = (id, text)
    // snapshot A (even ids) = healthy prose; snapshot B (odd ids)
    // HALF healthy, HALF bullet-heavy -> only the bullet metric's
    // distribution moves
    val healthy = "the and " + (1 to 60).map(i => s"w$i$i").mkString(" ")
    val bullets = "the and " +
      (1 to 60).map(i => s"-b$i").mkString(" ")
    val docs = ((0L until 40L by 2).map(id => mk(id, healthy)) ++
      (1L until 40L by 2).map(id =>
        mk(id, if (id < 20) bullets else healthy)))
      .toDF("doc_id", "text")
    val lined = TextAnalysis.synthLinedCorpus(docs, dupMod = 1000000)
    val out = TextAnalysis.qualityDrift(
        TextAnalysis.gopherFlagged(lined)).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getDouble(7), r.getBoolean(8))).toMap
    val byMetric = out.groupBy(_._1._1).view
      .mapValues(_.values.head._2).toMap
    assert(byMetric("bullet_line_fraction"),
      s"the planted bullet shift must flag: $out")
    Seq("n_words", "stop_word_hits", "alpha_word_fraction",
      "ellipsis_line_fraction").foreach(m =>
      assert(!byMetric(m), s"$m must not drift: ${out.filter(_._1._1 == m)}"))
  }

  test("dupNgramMass counts code points, not UTF-16 units") {
    // 𝄞 is an astral char: String.length 2, SQL length 1 — the
    // kernel must agree with the oracle's length()
    val docs = Seq((0L, "𝄞 a 𝄞 a 𝄞 a"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.dupNgramMass(docs, minN = 2, maxN = 2).collect()(0)
    assert(r.getLong(1) == 6L, s"tok_chars must be code points: ${r.getLong(1)}")
    assert(r.getDouble(2) == 1.0, "fully periodic -> full coverage")
  }

  test("zipfSpectrum counts tokens per occurrence count, case-folded") {
    val docs = Seq(
      (0L, "a a B"),
      (1L, "b c")).toDF("doc_id", "text")
    // corpus counts: a->2, b->2 (B folds), c->1
    val out = TextAnalysis.zipfSpectrum(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(2L -> 2L, 1L -> 1L))
  }

  test("tokenEntropy: uniform tokens hit log2(n), constant docs hit 0") {
    val docs = Seq(
      (0L, "a b c d"), // 4 distinct -> 2 bits
      (1L, "x x x x"), // constant -> 0 bits
      (2L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenEntropy(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(math.abs(out(0L)._2 - 2.0) < 1e-12 && out(0L)._1 == 4L)
    assert(math.abs(out(1L)._2 - 0.0) < 1e-12)
    assert(!out.contains(2L)) // tokenless docs produce no entropy row
  }

  test("token counts: whitespace vs BPE-ish") {
    val docs = Seq(
      (0L, "hello world"),
      (1L, "  spaced   out  "),
      (2L, "punct, heavy! text."),
      (3L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.tokenCounts(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(0L) == (2L, 2L))
    assert(out(1L) == (2L, 2L))
    assert(out(2L) == (3L, 6L)) // punct, heavy! text. → 3 ws, 6 bpe
    assert(out(3L) == (0L, 0L))
  }

  test("stats computes ratios and bounded quality score") {
    val docs = Seq(
      (0L, "the cat and the dog in the house"),
      (1L, "!!! ??? ..."),
      (2L, "x")).toDF("doc_id", "text")
    val rows = TextAnalysis.stats(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d0 = rows(0L)
    assert(d0.getAs[Long]("n_tokens") == 8L)
    assert(d0.getAs[Long]("stopword_count") == 5L) // the×3, and, in
    assert(d0.getAs[Long]("punct_count") == 0L)
    val q0 = d0.getAs[Double]("quality_score")
    assert(q0 > 0.0 && q0 <= 1.0)
    val d1 = rows(1L)
    assert(d1.getAs[Long]("punct_count") == 9L)
    assert(d1.getAs[Double]("quality_score") == 0.0) // punct_ratio 0.75 → clamped
    assert(rows(2L).getAs[Double]("stopword_ratio") == 0.0)
  }

  test("langId picks profile with most hits, und on none") {
    val docs = Seq(
      (0L, "the cat and the dog of to in"),
      (1L, "le chat et la mer les des"),
      (2L, "der hund die katze und das haus ist"),
      (3L, "zzz qqq www")).toDF("doc_id", "text")
    val out = TextAnalysis.langId(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("predicted_lang")).toMap
    assert(out == Map(0L -> "en", 1L -> "fr", 2L -> "de", 3L -> "und"))
  }

  test("vocabGrowth: first occurrences band into checkpoints, curve accumulates") {
    // 10 docs; each doc d introduces word w_d and repeats w_0 —
    // vocabulary grows by exactly one type per doc
    val docs = (0L until 10L).map(d => (d, s"w$d w0 w0")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabGrowth(docs, checkpoints = 5).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 5 checkpoints of 2 docs each → 2 new types per checkpoint,
    // vocab_size accumulating 2, 4, 6, 8, 10
    assert(out == Map(
      0L -> (2L, 2L), 1L -> (2L, 4L), 2L -> (2L, 6L),
      3L -> (2L, 8L), 4L -> (2L, 10L)), s"growth curve: $out")
  }

  test("augmentTokenDropout: deterministic per (doc, position, salt)") {
    val docs = (1L to 200L).map(i =>
      (i, "alpha bravo charlie delta echo foxtrot golf hotel india juliett"))
      .toDF("doc_id", "text")
    val a = TextAnalysis.augmentTokenDropout(docs, rate = 0.3).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = TextAnalysis.augmentTokenDropout(docs.repartition(13), rate = 0.3)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b, "same doc must augment identically on any layout")
    // ~30% of the 2000 (doc, position) slots drop
    val dropped = 2000 - a.values.map(_.split(" ").count(_.nonEmpty)).sum
    assert(dropped > 450 && dropped < 750, s"~600 of 2000 expected, got $dropped")
    // rate edges: 0 keeps every token, 1 empties the doc
    val keep0 = TextAnalysis.augmentTokenDropout(docs, rate = 0.0)
      .collect().map(_.getLong(2)).toSet
    assert(keep0 == Set(10L))
    val keep1 = TextAnalysis.augmentTokenDropout(docs, rate = 1.0)
      .collect().map(_.getLong(2)).toSet
    assert(keep1 == Set(0L))
    // a new salt is an independent re-draw
    val c = TextAnalysis.augmentTokenDropout(docs, rate = 0.3, salt = "aug1")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a != c, "epoch salt must change the draw")
  }

  test("perplexityFilter drops the highest-surprisal tail at the percentile cut") {
    // 9 docs of stereotyped text and one doc that pairs the COMMON
    // first-token "the" with continuations seen nowhere else — that
    // is what high surprisal means under a corpus-trained bigram LM
    // (a doc of purely unique vocabulary would score ZERO: singleton
    // first tokens make every continuation certain)
    val stereotyped = (0L until 9L).map(i =>
      (i, "the cat sat on the mat and the cat sat on the mat again"))
    val weird = Seq((9L, "the zephyr the quixotic the brambles"))
    val docs = (stereotyped ++ weird).toDF("doc_id", "text")
    val kept = TextAnalysis.perplexityFilter(docs, pct = 0.89)
      .collect().map(_.getLong(0)).toSet
    assert(kept == (0L until 9L).toSet,
      s"only the unique-vocab doc exceeds the cut: $kept")
    // pct = 1.0 keeps everything (<= max)
    assert(TextAnalysis.perplexityFilter(docs, pct = 1.0).count() == 10L)
  }

  test("langConfusion: diagonal counts hits, off-diagonal shows the miss") {
    val docs = Seq(
      (0L, "the cat and the dog of to in", "en"),  // correct → (en, en)
      (1L, "the other english text of the day", "en"),
      (2L, "le chat et la mer les des", "en"),     // mislabeled → (en, fr)
      (3L, "zzz qqq www", "de"))                   // no hits → (de, und)
      .toDF("doc_id", "text", "lang")
    val out = TextAnalysis.langConfusion(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out == Map(
      ("en", "en") -> 2L, ("en", "fr") -> 1L, ("de", "und") -> 1L))
  }

  test("piiScrub counts and redacts emails, urls, phone numbers") {
    val docs = Seq(
      (0L, "contact alice@example.com or visit https://example.com/x now"),
      (1L, "call +1 (555) 123-4567 today"),
      (2L, "nothing sensitive here")).toDF("doc_id", "text")
    val out = TextAnalysis.piiScrub(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(0L) == (1L, 1L, 0L))
    assert(out(1L) == (0L, 0L, 1L))
    assert(out(2L) == (0L, 0L, 0L))
    // clean doc's scrubbed text is unchanged → md5 equals original md5
    val clean = TextAnalysis.piiScrub(docs).filter($"doc_id" === 2L)
      .select("scrubbed_md5").head().getString(0)
    val orig = docs.filter($"doc_id" === 2L)
      .select(org.apache.spark.sql.functions.md5($"text")).head().getString(0)
    assert(clean == orig)
  }

  test("qualityFilter applies token band and quality threshold") {
    val good = (1 to 60).map(_ => "the cat and dog").mkString(" ") // long, stopword-rich
    val docs = Seq((0L, good), (1L, "too short"), (2L, "")).toDF("doc_id", "text")
    val kept = TextAnalysis.qualityFilter(docs).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L))
  }

  test("fingerprints are canonicalization-invariant") {
    val docs = Seq(
      (0L, "Hello   World"),
      (1L, "  hello world "),
      (2L, "different")).toDF("doc_id", "text")
    val out = TextAnalysis.fingerprints(docs).collect()
      .map(r => (r.getString(1), r.getLong(2)))
    assert(out(0) == out(1))
    assert(out(0) != out(2))
  }

  test("chunkDedup finds cross-document shared chunks only") {
    val eight = "a b c d e f g h"
    val other = "p q r s t u v w"
    val docs = Seq(
      (1L, s"$eight $other"),        // chunk1 shared, chunk2 unique
      (2L, s"$eight x y z q w e r t"), // repeats chunk1
      (3L, "only seven tokens here not more no")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDedup(docs).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 1, s"only the shared chunk qualifies: ${out.toSeq}")
    assert(out(0)._2 == 2L && out(0)._3 == 2L)
  }

  test("winnowDedup catches a shared run at ANY alignment (where chunks miss it)") {
    // a 6-token run (>= n+w-1 = 3+4-1) shared at different offsets
    val run = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (1L, s"one two $run"),                    // run starts at offset 2
      (2L, s"$run nine ten eleven twelve"),     // run starts at offset 0
      (3L, "totally unrelated words only here today")).toDF("doc_id", "text")
    val winnowed = TextAnalysis.winnowDedup(docs).collect()
    assert(winnowed.nonEmpty, "winnowing must find the misaligned shared run")
    assert(winnowed.forall(r => r.getLong(1) == 2L), "only docs 1 and 2 share")
    // the fixed-stride chunker (8-token chunks) cannot see this overlap
    assert(TextAnalysis.chunkDedup(docs).collect().isEmpty)
  }

  test("winnowPairs pairs docs sharing two independent runs, not one") {
    val runA = "alpha beta gamma delta epsilon zeta"
    val runB = "red orange yellow green blue indigo"
    val docs = Seq(
      (1L, s"one two $runA padding here $runB"),
      (2L, s"$runA nine ten eleven $runB twelve"), // shares BOTH runs with 1
      (3L, s"start $runA finish stop end now"),    // shares only run A
      (4L, "totally unrelated words only here today"))
      .toDF("doc_id", "text")
    val pairs = TextAnalysis.winnowPairs(docs, minShared = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.contains((1L, 2L)), "two shared runs must pair")
    assert(pairs((1L, 2L)) >= 2L)
    assert(!pairs.keySet.exists(p => p._1 == 4L || p._2 == 4L),
      "unrelated doc never pairs")
    // single-run overlap stays below minShared=2 unless the run is
    // long enough to select two fingerprints — allowed either way for
    // (1,3)/(2,3); the guarantee under test is the (1,2) detection
  }

  test("decontaminate counts distinct benchmark n-grams per corpus doc") {
    val docs = Seq(
      (0L, "alpha beta gamma delta"),          // benchmark (0 % 97 == 0)
      (1L, "x alpha beta gamma y"),            // shares "alpha beta gamma"
      (2L, "beta gamma delta alpha beta gamma delta"), // shares 2 distinct grams
      (3L, "nothing in common here at all"),
      (4L, "too short")).toDF("doc_id", "text")
    val out = TextAnalysis.decontaminate(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 2L),
      s"doc 2 repeats grams but must count each distinct gram once: $out")
  }

  test("sampled trigram profile stays faithful to the full profile") {
    val docs = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
    def affinities(rate: Double): Map[Long, Double] =
      TextAnalysis.charTrigramAffinity(docs, profileRate = rate)
        .collect().map(r => r.getLong(0) -> r.getDouble(4)).toMap
    val full = affinities(1.0)
    val sampled = affinities(0.25)
    assert(full.keySet == sampled.keySet)
    // .toSeq: a bare keys.map would dedup equal per-doc |Δ| values
    // (Set semantics) and silently understate the mean drift
    val meanAbsDiff = full.keys.toSeq.map(k =>
      math.abs(full(k) - sampled(k))).sum / full.size
    assert(meanAbsDiff < 0.1,
      f"a quarter-sample profile drifted too far: mean |Δaffinity| = $meanAbsDiff%.4f")
  }

  test("contaminationBySource: only the copying source shows overlap") {
    // doc 0 (id % 97 == 0) is the benchmark slice; srcCopy's doc 5
    // shares its grams, srcClean's doc 1 is token-disjoint
    val bench = "alpha beta gamma delta epsilon zeta"
    val docs = Seq(
      (0L, bench, "whatever"),
      (5L, bench + " extra tail tokens here", "srcCopy"),
      (1L, "one two three four five six seven", "srcClean"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.contaminationBySource(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("srcCopy") == ((1L, 1L, 4L, 1.0)),
      s"four shared 3-grams from the copied span: $out")
    assert(out("srcClean") == ((1L, 0L, 0L, 0.0)), s"clean: $out")
    assert(!out.contains("whatever"), "the benchmark slice is not corpus")
  }

  test("pmiBigrams ranks the exclusive collocation above the chance pair") {
    // "aa bb" always co-occur and appear nowhere else: p(ab) =
    // p(a) = p(b) -> maximal pmi. "cc" and "dd" are frequent but
    // pair up only sometimes -> lower pmi. "ee ff" occurs once,
    // below the support floor -> excluded entirely.
    val base = Seq.fill(6)("aa bb cc dd") ++ Seq.fill(6)("cc dd") ++
      Seq("ee ff")
    val docs = base.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = TextAnalysis.pmiBigrams(docs, n = 10, minCount = 5L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    val byBigram = out.map(t => t._1 -> t).toMap
    assert(!byBigram.contains("ee ff"), "support floor excludes singletons")
    assert(byBigram.contains("aa bb") && byBigram.contains("cc dd"))
    assert(byBigram("aa bb")._3 > byBigram("cc dd")._3,
      s"exclusive pair must out-score the chance pair: $out")
    // hand check: pmi(aa,bb) = ln(c_ab) - ln(Nb) - ln(c_a) - ln(c_b)
    //                          + 2 ln(Nt)
    val (nt, nb) = (38.0, 25.0) // 6*4 + 6*2 + 2 tokens; 6*3 + 6 + 1 bigrams
    val exp = math.log(6) - math.log(nb) - math.log(6) - math.log(6) +
      2 * math.log(nt)
    assert(math.abs(byBigram("aa bb")._3 - exp) < 1e-5)
  }

  test("contextChunks tile every doc: strided starts, full overlap coverage") {
    // 0 tokens, sub-window, exact window, window+1, and a long doc
    val docs = Seq(
      (0L, ""),
      (1L, (1 to 5).mkString(" ")),
      (2L, (1 to 8).mkString(" ")),
      (3L, (1 to 9).mkString(" ")),
      (4L, (1 to 100).mkString(" "))).toDF("doc_id", "text")
    val rows = TextAnalysis.contextChunks(docs, window = 8, stride = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byDoc = rows.groupBy(_._1)
    assert(!byDoc.contains(0L), "empty doc yields no chunks")
    val nToks = Map(1L -> 5L, 2L -> 8L, 3L -> 9L, 4L -> 100L)
    nToks.foreach { case (id, n) =>
      val cs = byDoc(id).sortBy(_._2)
      // expected count: 1 + ceil(max(0, n-window)/stride)
      val expected = 1 + (math.max(0, n - 8) + 4) / 5
      assert(cs.length == expected, s"doc $id: ${cs.length} vs $expected chunks")
      // dense indices, strided starts
      assert(cs.map(_._2).toSeq == (0L until expected).map(_.toLong), s"doc $id indices")
      assert(cs.forall { case (_, i, st, _) => st == i * 5 }, s"doc $id starts")
      // full window everywhere except possibly the tail, which ends at n
      assert(cs.init.forall(_._4 == 8L), s"doc $id: non-tail chunk not full")
      val (_, _, lastStart, lastLen) = cs.last
      assert(lastStart + lastLen == n, s"doc $id: tail must end at $n")
      // coverage: consecutive chunks overlap (stride < window), no gaps
      cs.sliding(2).foreach {
        case Array((_, _, s1, l1), (_, _, s2, _)) =>
          assert(s2 <= s1 + l1, s"doc $id: gap between chunks at $s2")
        case _ =>
      }
    }
  }

  test("boilerplatePrefix: hottest-prefix share per source, prefix-grain identity") {
    val docs = Seq(
      // templated source: same 8-token prefix, different tails
      (1L, "Welcome to our site the best deals page one", "tmpl"),
      (2L, "Welcome to our site the best deals page two extra", "tmpl"),
      (3L, "Welcome to our site the best deals page three", "tmpl"),
      (4L, "something completely different here for a change now", "tmpl"),
      // varied source: all prefixes distinct
      (5L, "alpha beta gamma delta epsilon zeta eta theta", "varied"),
      (6L, "one two three four five six seven eight", "varied"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis.boilerplatePrefix(docs).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    // docs 1–3 share their first 8 tokens exactly; doc 4 differs
    assert(out("tmpl") == (4L, 2L, 3L, 0.75), s"got $out")
    assert(out("varied") == (2L, 2L, 1L, 0.5), s"got $out")
    // a tail past the 8th token must not split the fingerprint:
    // CASE-only difference must (lowercasing) also collapse
    val cased = Seq(
      (1L, "A b c d e f g h tail-one", "s"),
      (2L, "a B c d e f g h tail-two", "s")).toDF("doc_id", "text", "source")
    val c = TextAnalysis.boilerplatePrefix(cased).collect().head
    assert(c.getLong(2) == 1L && c.getLong(3) == 2L,
      s"case/tail variants share one prefix: $c")
  }

  test("compressionCalibration (r17): both claims hold on real docs, " +
    "and the copy claim is DISCRIMINATING — random tails cost full " +
    "price where planted copies cost back-references") {
    // doc_id 0/5/10 get the planted first-paragraph copy (dupMod 5)
    val docs = (0L to 11L).map(i => (i,
      (1 to 60).map(j => s"w${(i * 131 + j * 7919) % 997}t$j").mkString(" "),
      "s")).toDF("doc_id", "text", "source")
    val got = TextAnalysis.compressionCalibration(docs).collect()
    assert(got.length === 12)
    assert(got.forall(_.getBoolean(3)),
      "format band must hold for every doc (it is a deflate theorem)")
    assert(got.forall(_.getBoolean(4)),
      "the planted copy must compress to back-references")
    // falsifiability probe: appending INCOMPRESSIBLE text of the
    // same length as a typical copy costs ~its full byte price —
    // the claim's max(12, len/2) budget would be blown, so a kernel
    // that passes the claim is genuinely exploiting the repetition
    val base = (1 to 60).map(j => s"w${j * 7919 % 997}t$j").mkString(" ")
    val tail = "\n\n" + (1 to 8).map(j => s"z${j * 104729 % 9973}q").mkString(" ")
    def bytes(s: String): Long = math.round(
      graft.functions.TextChars.deflateRatio(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)) *
        s.getBytes("UTF-8").length)
    val overheadFresh = bytes(base + tail) - bytes(base)
    assert(overheadFresh > math.max(12L, tail.getBytes("UTF-8").length / 2),
      s"fresh-text tail must cost more than the copy budget " +
        s"($overheadFresh vs ${tail.length}B tail) — otherwise the " +
        "claim could not distinguish a working window from a broken one")
    // deterministic across partitionings (pure per-row kernel)
    val again = TextAnalysis.compressionCalibration(docs.repartition(5))
      .collect().sortBy(_.getLong(0))
    assert(again.map(_.toString).toSeq ===
      got.sortBy(_.getLong(0)).map(_.toString).toSeq)
  }

  test("ngramDiversity: template source scores low, unique source scores 1") {
    val docs = Seq(
      // template: two identical 4-token docs → each contributes 2
      // distinct grams, vocab stays 2 → diversity 2/4 = 0.5
      (1L, "the same boiler plate", "template"),
      (2L, "the same boiler plate", "template"),
      // unique: disjoint texts → vocab == total → diversity 1.0
      (3L, "one two three four", "unique"),
      (4L, "five six seven eight", "unique"),
      // too short for a 3-gram → contributes nothing, source absent
      (5L, "tiny doc", "empty"))
      .toDF("doc_id", "text", "source")
    val got = TextAnalysis.ngramDiversity(docs).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got("template") == ((2L, 4L, 2L, 0.5)), s"template: $got")
    assert(got("unique") == ((2L, 4L, 4L, 1.0)), s"unique: $got")
    assert(!got.contains("empty"), s"gramless source must be absent: $got")
  }

  test("sourceDivergence: corpus-identical sources read 0, alien vocab reads high") {
    import org.apache.spark.sql.functions.col
    // a and b share one token distribution → each equals the corpus
    val same = Seq(
      (1L, "x y z", "a"), (2L, "x y z", "b"))
      .toDF("doc_id", "text", "source")
    val zero = graft.operators.TextAnalysis.sourceDivergence(same).collect()
      .map(r => r.getString(0) -> ((r.getDouble(3), r.getDouble(4)))).toMap
    assert(zero("a") == ((0.0, 1.0)) && zero("b") == ((0.0, 1.0)),
      s"identical distributions must not diverge: $zero")
    // c's vocabulary is disjoint from d's: JS must be symmetric,
    // bounded by 1 bit, and far above the identical case
    val alien = Seq(
      (1L, "x x y y", "c"), (2L, "p p q q", "d"))
      .toDF("doc_id", "text", "source")
    val far = graft.operators.TextAnalysis.sourceDivergence(alien).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(far("c") == far("d"), s"symmetric halves: $far")
    assert(far("c") > 0.25 && far("c") <= 1.0, s"disjoint vocab: $far")
  }

  test("tokenizerFertility: ratio of sums, punctuation fragments, empty guard") {
    val docs = Seq(
      (1L, "ab cd", "en", "s"),        // 2 ws, 2 bpe
      (2L, "a-b c!", "en", "s"),       // 2 ws, 5 bpe (a,-,b,c,!)
      (3L, "", "fr", "s"))             // 0 ws, 0 bpe → guard
      .toDF("doc_id", "text", "lang", "source")
    val got = graft.operators.TextAnalysis.tokenizerFertility(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // ratio of SUMS: (2+5)/(2+2) — the per-doc mean would read 1.75?
    // no: (2/2 + 5/2)/2 = 1.75 too here, but sums weight by length
    assert(got(("s", "en")) == ((2L, 4L, 7L, 1.75)), s"en: $got")
    assert(got(("s", "fr")) == ((1L, 0L, 0L, 0.0)), s"empty guard: $got")
  }

  test("readability: exact counters and Flesch scores, empty-doc guards") {
    val docs = Seq(
      (1L, "The cat sat. The dog ran!"),
      (2L, ""))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.readability(docs).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4),
          r.getDouble(5)))).toMap
    // 6 words, 2 sentence runs, 6 vowel groups →
    // flesch = 206.835 − 1.015·3 − 84.6·1 = 119.19; fk = −2.62
    val (w, s, sy, fe, fk) = got(1L)
    assert((w, s, sy) == ((6L, 2L, 6L)), s"counters: ${got(1L)}")
    assert(math.abs(fe - 119.19) < 1e-9 && math.abs(fk + 2.62) < 1e-9,
      s"scores: ${got(1L)}")
    // empty doc: both divisors guard to 1, syllables 0 — finite score
    assert(got(2L) == ((1L, 1L, 0L, 205.82, -15.2)), s"empty: ${got(2L)}")
  }

  test("bpeTrain replays the classic low/lower/lowest merge sequence") {
    // word counts: low×3, lower×1, lowest×1. Hand-derived merges:
    //  1: (l,o)=5  — TIE with (o,w)=5, lexicographic rule picks (l,o)
    //  2: (lo,w)=5   3: (low,e)=2
    //  4: (lowe,r)=1 — three-way tie at 1, (lowe,r) < (lowe,s) < (s,t)
    //  5: (lowe,s)=1 (the 'lowes' branch: step 4 consumed 'lower')
    //  6: (lowes,t)=1
    val docs = Seq((1L, "low low lower"), (2L, "lowest low"))
      .toDF("doc_id", "text")
    val got = graft.operators.TextAnalysis.bpeTrain(docs, merges = 6)
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    val want = Seq(
      (1L, "l", "o", "lo", 5L),
      (2L, "lo", "w", "low", 5L),
      (3L, "low", "e", "lowe", 2L),
      (4L, "lowe", "r", "lower", 1L),
      (5L, "lowe", "s", "lowes", 1L),
      (6L, "lowes", "t", "lowest", 1L))
    assert(got.toSeq == want, s"merge table: ${got.toSeq}")
    // the trained vocabulary at 5 merges (one short of full): 'low'
    // and 'lower' already collapse to single tokens, 'lowest' still
    // splits as [lowes, t] — its final merge is iteration 6
    val vocab = graft.operators.TextAnalysis.bpeVocab(docs, merges = 5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(3), r.getString(4))).toMap
    // at 5 merges, 'lowest' is still [lowes, t]
    assert(vocab("low") == ((1L, "low")), s"low: ${vocab("low")}")
    assert(vocab("lower") == ((1L, "lower")), s"lower: ${vocab("lower")}")
    assert(vocab("lowest") == ((2L, "lowes t")), s"lowest: ${vocab("lowest")}")
  }

  test("bpeApply: corpus budget under the learned tokenizer, hand-computed") {
    // same classic corpus, two sources; at 5 merges the per-word
    // splits are low→1, lower→1, lowest→2 tokens
    val docs = Seq(
      (1L, "a", "low low lower"),
      (2L, "b", "lowest low")).toDF("doc_id", "source", "text")
    val out = TextAnalysis.bpeApply(docs, merges = 5).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getDouble(5), r.getDouble(6))).toMap
    // source a: 3 words, 3+3+5=11 chars, 1+1+1=3 bpe tokens
    assert(out("a") == ((1L, 3L, 11L, 3L, 1.0, 3.666667)), s"a: ${out("a")}")
    // source b: 2 words, 6+3=9 chars, 2+1=3 bpe tokens
    assert(out("b") == ((1L, 2L, 9L, 3L, 1.5, 3.0)), s"b: ${out("b")}")
  }

  test("knScore: hand-checked smoothing — discounted mass routes to " +
    "continuation, unseen pairs hit the backoff chain, never log 0") {
    import org.apache.spark.sql.functions.col
    // train slice (ids 0..2): bigrams (a,b)x2, (a,c)x1 → B = 2
    // distinct bigrams; context a: c1 = 3, follows 2; continuation
    // counts: b → 1, c → 1.
    //   P(b|a) = (2 − .75)/3 + (.75·2)/3 · (1/2) = 2/3
    //   P(c|a) = (1 − .75)/3 + .25 · 1/2     = 1/3   (sums to 1!)
    // held-out doc 7 "a b a d x y":
    //   (a,b) seen → 2/3
    //   (b,a) context b unseen in train → pure continuation of a = 0
    //        → OOV floor 1/(2B) = 1/4
    //   (a,d) seen context, unseen word → λ(a)·0 = 0 → floor 1/4
    //   (d,x),(x,y) all unseen → floor 1/4
    val docs = Seq((0L, "a b"), (1L, "a b"), (2L, "a c"),
      (7L, "a b a d x y")).toDF("doc_id", "text")
    val out = TextAnalysis.knScore(docs).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))
      .toMap
    def sur(ps: Seq[Double]) =
      BigDecimal(ps.map(p => -math.log(p)).sum / ps.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(0L) === ((1L, sur(Seq(2.0 / 3)), 0.0, false)))
    assert(out(2L) === ((1L, sur(Seq(1.0 / 3)), 0.0, false)))
    val exp7 = sur(Seq(2.0 / 3, 0.25, 0.25, 0.25, 0.25))
    assert(out(7L) === ((5L, exp7, 0.8, true)),
      s"held-out doc: ${out(7L)} vs $exp7")
    // in-train docs can never see an unseen bigram
    assert(out.collect { case (id, v) if id != 7L => v._3 }.forall(_ == 0.0))
    // smoothing property on the real corpus: the held-out slice is
    // scorable (no log-0 NaN/Inf anywhere) and strictly oov-pressured
    val real = TextAnalysis.knScore(spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet"))
      .localCheckpoint(true)
    assert(real.filter(col("avg_surprisal").isNull ||
      org.apache.spark.sql.functions.isnan(col("avg_surprisal"))).count() === 0L)
    assert(real.filter(col("held_out") && col("oov_rate") > 0.0).count() > 0L)
  }

  /** A corpus whose word dict exercises merges, ties and repeats:
    * adjacent-pair runs ("aaaa"), cross-word shared pairs, and a
    * deterministic tie on the best-pair count. */
  private def bpeDocs = Seq(
    (1L, "abab abab cdcd"),
    (2L, "aaaa abab cdcd cd"),
    (3L, "zzq abab ababab"),
    (4L, "cdcd cdab")
  ).toDF("doc_id", "text")

  test("bpe driver fold ≡ distributed loop: identical merge table and final vocab state") {
    import org.apache.spark.sql.functions._
    val docs = bpeDocs
    // driver branch (dict ≪ the 64k switch)
    val (mergesFold, vocabFold) = TextAnalysis.bpeLoop(docs, merges = 6)
    // distributed branch, forced by calling it directly on the same dict
    val dict = docs
      .select(explode(TextAnalysis.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val (mergesDist, vocabDist) = TextAnalysis.bpeLoopDistributed(dict, merges = 6)
    assert(mergesFold === mergesDist)
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("word"), col("n"), concat_ws("", col("syms")))
      .as[(String, Long, String)].collect().sortBy(_._1).toSeq
    assert(rows(vocabFold) === rows(vocabDist))
  }
}
