package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.gf

/** Text-analysis operators over a documents table (doc_id, text, …) —
  * the per-document scoring pass of an LLM training-data pipeline
  * (SURVEY.md §2.E).
  *
  * Everything here is a narrow per-row projection built from
  * codegen'd builtins (split/filter/regexp) + graft native
  * expressions — no shuffle, no UDF, scales linearly with the scan.
  */
object TextAnalysis {

  /** Whitespace tokens with empties dropped (leading/trailing
    * separators produce empty strings in every engine).
    * `array_remove` rather than a `filter` lambda: identical
    * semantics, but it stays inside whole-stage codegen while
    * higher-order functions run interpreted.
    */
  def tokens(text: Column): Column =
    array_remove(split(text, "\\s+"), "")

  /** BPE-ish subword proxy: word runs + single non-word-non-space
    * chars. The ASCII `\w` class matches Java and RE2 semantics. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("\\w+|[^\\w\\s]"), lit(0))).cast("long")

  /** English-ish default stopword list (tiny on purpose: it must be
    * replicable in the SQL oracle). */
  val DefaultStopwords: Seq[String] =
    Seq("the", "a", "and", "of", "to", "in", "is", "it", "for", "on")

  /** Per-language stopword profiles for the language-ID heuristic. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in"),
    "fr" -> Seq("le", "la", "et", "les", "des"),
    "es" -> Seq("el", "los", "de", "que", "y"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("的", "是", "在", "了", "和"))

  private def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isInCollection(words))).cast("long")

  /** Token counting: whitespace tokens + BPE-ish regex tokens. */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).cast("long").as("n_ws_tokens"),
      bpeTokenCount(col("text")).as("n_bpe_tokens"))

  /** Quality statistics + a deterministic [0,1] quality score
    * (length / punctuation / stopword-density heuristics — the
    * C4/Gopher-style cheap filters).
    */
  def stats(docs: DataFrame, stopwords: Seq[String] = DefaultStopwords,
            idCol: String = "doc_id", keep: Seq[String] = Nil): DataFrame = {
    // tokenize once into its own projection: `toks` is non-cheap and
    // referenced by three stats, so CollapseProject keeps it
    // materialized instead of re-running split() per derived column
    val toks = col("toks")
    val passthrough = keep.filterNot(Set(idCol, "text")).map(col)
    docs.select(col(idCol) +: col("text") +:
        tokens(col("text")).as("toks") +: passthrough: _*)
      .select(Seq(
        col(idCol),
        length(col("text")).cast("long").as("n_chars"),
        size(toks).cast("long").as("n_tokens"),
        (length(col("text")) - length(regexp_replace(col("text"), "\\p{Punct}", "")))
          .cast("long").as("punct_count"),
        countIn(toks, stopwords).as("stopword_count"),
        aggregate(toks, lit(0L), (acc, t) => acc + length(t)).as("token_chars")) ++
        (if (keep.contains("text")) Seq(col("text")) else Nil) ++ passthrough: _*)
      .withColumn("punct_ratio", col("punct_count") / greatest(col("n_chars"), lit(1L)))
      .withColumn("stopword_ratio", col("stopword_count") / greatest(col("n_tokens"), lit(1L)))
      .withColumn("avg_token_len", col("token_chars") / greatest(col("n_tokens"), lit(1L)))
      .withColumn("quality_score",
        least(lit(1.0), col("n_tokens") / 128.0)
          * (lit(1.0) - least(lit(1.0), col("punct_ratio") * 4.0))
          * (lit(0.3) + lit(0.7) * least(lit(1.0), col("stopword_ratio") * 5.0)))
      .drop("token_chars")
  }

  /** Stopword-profile language ID: count profile hits per language,
    * pick the argmax (ties broken by profile order, zero hits →
    * 'und'). Pure column arithmetic — replicable in ANSI SQL, which
    * is exactly why the heuristic is this simple.
    */
  def langId(docs: DataFrame): DataFrame = {
    val toks = col("toks")
    val withHits = docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(
        col("doc_id") +: LangProfiles.map { case (lang, words) =>
          countIn(toks, words).as(s"hits_$lang")
        }: _*)
    val hitCols = LangProfiles.map { case (l, _) => col(s"hits_$l") }
    val best = LangProfiles.foldRight(lit("und")) { case ((lang, _), fallback) =>
      // first profile (in order) that attains the max wins
      when(col(s"hits_$lang") === greatest(hitCols: _*), lit(lang)).otherwise(fallback)
    }
    withHits.withColumn("predicted_lang",
      when(greatest(hitCols: _*) === 0, lit("und")).otherwise(best))
  }

  /** Lang-ID CONFUSION MATRIX — the eval harness for [[langId]]:
    * labeled language × predicted language × doc count. One extra
    * aggregate over the per-doc prediction (the id never leaves the
    * map side un-reduced); the diagonal mass is the classifier's
    * accuracy, off-diagonal cells say which profile pairs confuse.
    */
  def langConfusion(docs: DataFrame): DataFrame =
    langId(docs)
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .groupBy(col("lang").as("labeled"), col("predicted_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** Repetition metrics (Gopher-style): fraction of duplicate
    * token bigrams per document — high values flag boilerplate /
    * degenerate text. Pure per-row array arithmetic.
    */
  def repetition(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        // sequence(0, n) DESCENDS when n < 0, so guard short docs
        expr("CASE WHEN size(toks) < 2 THEN array() " +
          "ELSE transform(sequence(0, size(toks) - 2), " +
          "i -> concat(toks[i], ' ', toks[i + 1])) END").as("bigrams"))
      .select(
        col("doc_id"),
        size(col("bigrams")).cast("long").as("n_bigrams"),
        size(array_distinct(col("bigrams"))).cast("long").as("n_distinct_bigrams"))
      .withColumn("dup_bigram_fraction",
        when(col("n_bigrams") > 0,
          lit(1.0) - col("n_distinct_bigrams") / col("n_bigrams"))
          .otherwise(lit(0.0)))

  /** The lining recipe DECOMPOSED — (doc_id, base, copy, keep...)
    * where `base` is the lined text and `copy` the planted
    * first-paragraph duplicate ('' for non-planted docs). The ONE
    * source of the recipe both [[synthLinedCorpus]] (base ++ copy)
    * and [[compressionCalibration]] (needs the parts separately to
    * price the copy) consume — the oracle replays this via the
    * shared lined CTEs, so a second Scala copy drifting from the
    * first would break parity in a way no compiler catches (r17
    * review). */
  private[operators] def linedParts(docs: DataFrame, lineTok: Int = 2,
                                    paraTok: Int = 8, dupMod: Int = 5,
                                    keep: Seq[String] = Nil): DataFrame =
    Spread.spread(docs.select(col("doc_id") +: tokens(col("text")).as("toks")
        +: keep.map(col): _*))
      .withColumn("pieces", expr(
        s"transform(toks, (t, i) -> CASE WHEN i = 0 THEN t " +
          s"WHEN i % $paraTok = 0 THEN '\\n\\n' || t " +
          s"WHEN i % $lineTok = 0 THEN '\\n' || t ELSE ' ' || t END)"))
      .withColumn("base", concat_ws("", col("pieces")))
      .withColumn("copy",
        when(col("doc_id") % dupMod === 0 && size(col("pieces")) > 0,
          concat(lit("\n\n"), concat_ws("", slice(col("pieces"), 1, paraTok))))
          .otherwise(lit("")))
      .select((Seq("doc_id", "base", "copy") ++ keep).map(col): _*)

  /** Line/paragraph structure synthesized onto the flat test corpus —
    * the fixture [[gopherRepetition]] needs: the synthetic documents
    * carry no newlines, so Gopher's line/paragraph counters would be
    * degenerate (every doc one line, every fraction zero). This
    * rebuilds each doc's text with a `\n` before every `lineTok`-th
    * token and `\n\n` before every `paraTok`-th, and PLANTS a
    * duplicated paragraph (a verbatim copy of the first paragraph
    * appended) on docs with `doc_id % dupMod == 0` so the
    * paragraph-dup counters have deterministic nonzero signal. Pure
    * per-row string arithmetic, replayed verbatim by the oracle.
    */
  def synthLinedCorpus(docs: DataFrame, lineTok: Int = 2, paraTok: Int = 8,
                       dupMod: Int = 5, keep: Seq[String] = Nil): DataFrame =
    linedParts(docs, lineTok, paraTok, dupMod, keep)
      .withColumn("text", concat(col("base"), col("copy")))
      .select((Seq("doc_id", "text") ++ keep).map(col): _*)

  /** Healthy-tail sentence the quality fixture appends to
    * undefected documents: 44 distinct words (all token bigrams
    * distinct, so no repetition metric moves), all 8
    * [[GopherQualityStopWords]] present, mean word length mid-band,
    * no `#`/`…`/bullet/ellipsis — it repairs the SYNTHETIC corpus's
    * natural quality failures (every raw doc carries ≤ 1 stop word;
    * ~45 % sit under 50 words) so the paper thresholds have a
    * healthy baseline to discriminate against. Shared verbatim with
    * the oracle. */
  val GopherQualityTail: String =
    "the analysts reviewed forty unique telemetry snapshots and " +
      "compiled a concise digest of operational findings that " +
      "engineers have requested with measured optimism to guide " +
      "upcoming maintenance windows be they routine or exceptional " +
      "across distributed ingestion clusters while preserving " +
      "throughput headroom during seasonal demand peaks"

  /** Plant sizes of the quality-defect fixture — one constant per
    * doc_id % mod class, shared operator ↔ oracle. */
  private[graft] object QualityPlant {
    val mod = 17
    val longWords = 60     // class 2: >10-char mean word length
    val shortWords = 200   // class 3: <3-char mean word length
    val tagWords = 20      // class 4: '#' symbol ratio > 0.1
    val bulletWords = 600  // class 5: >90 % bullet-initial lines
    val ellipsisWords = 200 // class 6: >30 % ellipsis-terminal lines
    val digitWords = 300   // class 7: <80 % alphabetic words
    val padWords = 50      // class 8: <2 stop words at healthy length
  }

  /** Quality-defect plants over the RAW corpus — the fixture the
    * quality half of the gate needs, exactly as [[synthLinedCorpus]]
    * plants duplicated paragraphs for the repetition half: each
    * `doc_id % 17` class 1–8 REWRITES its text to fail exactly one
    * quality rule while passing the rest (all planted words are
    * distinct, so no repetition threshold fires from a plant), and
    * every other class appends [[GopherQualityTail]] so the healthy
    * baseline genuinely passes all 7 rules. Pure per-row string
    * arithmetic, replayed verbatim by the oracle. Classes:
    * 1 = truncate to 3 words (word count); 2 = 60 ~28-char words
    * (mean length high); 3 = 200 2-char words (mean length low);
    * 4 = 20 `tag#i` words (symbol ratio); 5 = 600 `-b i` words
    * (bullet lines); 6 = 200 `w i...` words (ellipsis lines);
    * 7 = 300 digit words (alpha share); 8 = raw + 50 pad words, NO
    * tail (stop words — the corpus's natural deficiency, kept).
    */
  def synthQualityDefects(docs: DataFrame,
                          keep: Seq[String] = Nil): DataFrame = {
    import QualityPlant._
    val tail = GopherQualityTail
    def gen(n: Int, word: String) =
      expr(s"array_join(transform(sequence(1, $n), i -> $word), ' ')")
    val cls = col("doc_id") % mod
    docs.select(col("doc_id") +: col("text") +: keep.map(col): _*)
      .withColumn("toks0", tokens(col("text")))
      .withColumn("text",
        when(cls === 1, expr("array_join(slice(toks0, 1, 3), ' ')"))
          .when(cls === 2, concat(gen(longWords,
            "concat('verylongsyntheticword', CAST(doc_id AS STRING), 'x'," +
              " CAST(i AS STRING))"), lit(" " + tail)))
          .when(cls === 3, concat(gen(shortWords,
            "concat(chr(97 + i % 26), chr(97 + (i div 26) % 26))"),
            lit(" " + tail)))
          .when(cls === 4, concat(col("text"), lit(" "),
            gen(tagWords, "concat('tag#', CAST(i AS STRING))"),
            lit(" " + tail)))
          .when(cls === 5, concat(gen(bulletWords,
            "concat('-b', CAST(i AS STRING))"), lit(" " + tail)))
          .when(cls === 6, concat(gen(ellipsisWords,
            "concat('w', CAST(i AS STRING), '...')"), lit(" " + tail)))
          .when(cls === 7, concat(gen(digitWords,
            "CAST(90000 + i AS STRING)"), lit(" " + tail)))
          .when(cls === 8, concat(col("text"), lit(" "),
            gen(padWords, "concat('pad', CAST(i AS STRING))")))
          .otherwise(concat(col("text"), lit(" " + tail))))
      .select((Seq("doc_id", "text") ++ keep).map(col): _*)
  }

  /** The composed-intake-gate fixture: raw text + a PER-DOC-UNIQUE
    * stop-word tail — each of the 8 [[GopherQualityStopWords]]
    * interleaved with a doc-specific token (`the s{id}x0 be s{id}x1
    * …`), then lined. The interleaving is the point: the tail
    * repairs the synthetic corpus's natural stop-word deficiency
    * (the Gopher stop-word rule would otherwise fire on EVERY raw
    * doc) WITHOUT creating any cross-doc 3-gram or 8-gram — every
    * gram window contains a doc-specific token — so the
    * decontamination and corpus-duplication gates keep their raw
    * discrimination instead of seeing one globally-shared tail.
    * The [[synthQualityCorpus]] fixture deliberately makes the
    * opposite trade (shared tail, per-class defects) for the
    * per-rule gate keys; this one exists for gate COMPOSITION. */
  def synthIntakeCorpus(docs: DataFrame): DataFrame = {
    val tail = GopherQualityStopWords.zipWithIndex.flatMap {
      case (w, i) =>
        Seq(lit(s" $w"), lit(s" s"), col("doc_id"), lit(s"x$i"))
    }
    synthLinedCorpus(
      docs.select(col("doc_id"), col("source"),
        concat(col("text") +: tail: _*).as("text")),
      keep = Seq("source"))
  }

  /** The COMBINED Gopher fixture: quality plants at token level
    * ([[synthQualityDefects]]) then line/paragraph structure with
    * planted duplicate paragraphs ([[synthLinedCorpus]]) — the input
    * the full 20-threshold gate family runs on. */
  def synthQualityCorpus(docs: DataFrame,
                         keep: Seq[String] = Nil): DataFrame =
    synthLinedCorpus(synthQualityDefects(docs, keep), keep = keep)

  /** ALL 13 Gopher repetition metrics as ONE row-local projection
    * over (…, text) — the single definition the batch profile pair,
    * the gate keys, and the streaming intake gate share, so the
    * metric expressions can never drift between them. Segment
    * multiplicity runs as SORTED-RUN folds (O(L log L); the naive
    * count-per-distinct nest is quadratic in interpreted lambda
    * evaluation), gram work rides the two fused native kernels.
    * Adds the metric columns; passes every input column through.
    */
  private[graft] def gopherMetricCols(docs: DataFrame): DataFrame = {
    def dupChars(c: String) = expr(
      // runs in the sorted array: entering a run's 2nd element bills
      // BOTH occurrences, each further element bills itself
      s"""aggregate(array_sort($c),
         | struct(CAST('' AS STRING) AS prev, 0 AS run, 0L AS dup),
         | (a, x) -> CASE WHEN x = a.prev
         |  THEN struct(x AS prev, a.run + 1 AS run,
         |   a.dup + IF(a.run = 1, 2L, 1L) * length(x) AS dup)
         |  ELSE struct(x AS prev, 1 AS run, a.dup AS dup) END,
         | a -> a.dup)""".stripMargin)
    def totChars(c: String) = expr(
      s"aggregate($c, 0L, (acc, s) -> acc + length(s))")
    def frac(num: Column, den: Column): Column =
      when(den > 0, num / den).otherwise(lit(0.0))
    // TWO stacked projections, deliberately: the first materializes
    // every NON-CHEAP base (token/segment arrays, both fused
    // kernels, the sorted-run fold sums) exactly once per row; the
    // second derives the fraction columns from those bases. The
    // bases are multi-referenced non-cheap aliases, which is
    // precisely the shape CollapseProject refuses to inline — so a
    // downstream consumer that folds all 13 metrics into ONE
    // predicate (the streaming gate) cannot trigger a re-expansion
    // of the kernels per reference (measured: the collapsed
    // single-tree spelling re-evaluated the coverage kernel 7x and
    // the splits ~15x, 0.9 s -> 5.6 s).
    val bases = docs
      .withColumn("toks", tokens(col("text")))
      .withColumn("lines", expr("filter(split(text, '\\n'), x -> x <> '')"))
      .withColumn("paras", expr("filter(split(text, '\\n\\n'), x -> x <> '')"))
      .select(col("*"),
        length(concat_ws(" ", col("toks"))).cast("long").as("tok_chars"),
        gf.topNgramStats(col("toks"), 2, 4).as("tg"),
        gf.dupNgramCoverage(col("toks"), 5, 10).as("cov"),
        size(col("lines")).cast("long").as("n_lines"),
        size(col("paras")).cast("long").as("n_paras"),
        size(array_distinct(col("lines"))).as("n_dist_lines"),
        size(array_distinct(col("paras"))).as("n_dist_paras"),
        dupChars("lines").as("dup_line_chars"),
        totChars("lines").as("line_chars"),
        dupChars("paras").as("dup_para_chars"),
        totChars("paras").as("para_chars"))
    bases
      .withColumns((2 to 4).map(k => s"top${k}gram_char_fraction" ->
        when(col("tok_chars") > 0 && col("tg")(2 * (k - 2)) > 0,
          (col("tg")(2 * (k - 2)) * col("tg")(2 * (k - 2) + 1)) /
            col("tok_chars"))
          .otherwise(lit(0.0))).toMap)
      .withColumns((5 to 10).map(n => s"dup${n}gram_char_fraction" ->
        when(col("cov")(0) > 0, col("cov")(n - 5 + 1) / col("cov")(0))
          .otherwise(lit(0.0))).toMap)
      .withColumn("dup_line_fraction",
        when(col("n_lines") > 0,
          lit(1.0) - col("n_dist_lines") / col("n_lines"))
          .otherwise(lit(0.0)))
      .withColumn("dup_para_fraction",
        when(col("n_paras") > 0,
          lit(1.0) - col("n_dist_paras") / col("n_paras"))
          .otherwise(lit(0.0)))
      .withColumn("dup_line_char_fraction",
        frac(col("dup_line_chars"), col("line_chars")))
      .withColumn("dup_para_char_fraction",
        frac(col("dup_para_chars"), col("para_chars")))
  }

  /** The gate-family flag columns (f_line/f_para/f_top/f_dup) over a
    * [[gopherMetricCols]] projection — the [[GopherGateThresholds]]
    * applied once, shared by every gate consumer. */
  private[graft] def gopherFlagCols(df: DataFrame): DataFrame = {
    def fam(names: String*) =
      names.map(n => col(n) > lit(GopherGateThresholds.toMap.apply(n)))
        .reduce(_ || _)
    df.withColumn("f_line",
        fam("dup_line_fraction", "dup_line_char_fraction"))
      .withColumn("f_para",
        fam("dup_para_fraction", "dup_para_char_fraction"))
      .withColumn("f_top", fam("top2gram_char_fraction",
        "top3gram_char_fraction", "top4gram_char_fraction"))
      .withColumn("f_dup", fam((5 to 10).map(n =>
        s"dup${n}gram_char_fraction"): _*))
  }

  /** The REST of the Gopher repetition suite (Rae et al. 2021,
    * table A1) beside [[repetition]]'s duplicate-bigram fraction:
    * duplicate-LINE and duplicate-PARAGRAPH fractions (1 −
    * distinct/total over `\n` / `\n\n` segments), the CHARACTER mass
    * trapped in duplicated lines/paragraphs (chars of every segment
    * whose in-doc count ≥ 2, over total segment chars), and the
    * top-{2,3,4}-gram mass (occurrences × chars of the single most
    * frequent token n-gram, over the token-stream chars; ties break
    * to the lexicographically smallest gram so the readout is
    * discrete-deterministic). Every fraction is ONE division of
    * exact integer counters — bit-replayable cross-engine — and the
    * whole profile is per-row array arithmetic over one tokenize +
    * two splits: no shuffle, scales with the scan like the sibling.
    */
  def gopherRepetition(docs0: DataFrame): DataFrame =
    gopherMetricCols(Spread.spread(docs0.select("doc_id", "text")))
      .select("doc_id", "n_lines", "n_paras", "dup_line_fraction",
        "dup_para_fraction", "dup_line_char_fraction",
        "dup_para_char_fraction", "top2gram_char_fraction",
        "top3gram_char_fraction", "top4gram_char_fraction")

  /** The dup-n-gram half of the Gopher repetition table (Rae et al.
    * 2021, A1) beside [[gopherRepetition]]'s top-n-gram mass: for
    * each n ∈ [minN, maxN], the fraction of token characters lying
    * inside ANY occurrence of a within-doc duplicated n-gram
    * (position-coverage semantics — overlapping occurrences union,
    * they don't double-count; denominator is the summed token
    * lengths, separators excluded). The counters come from the FUSED
    * native kernel [[graft.functions.gf.dupNgramCoverage]] — one
    * codegen'd JVM pass per row producing
    * `[tok_chars, cov_minN..cov_maxN]` (exact string identity via a
    * hash map, duplicated starts interval-merged so each covered
    * token bills once) — replacing the interpreted sort/fold HOF
    * spelling that evaluated a lambda per element per n (measured
    * 1.7 s → ~0.3 s at sf0.1). Every output is one division of
    * exact integer counters, oracled against the quadratic textbook
    * definition; one scan, no shuffle.
    */
  def dupNgramMass(docs0: DataFrame, minN: Int = 5, maxN: Int = 10): DataFrame = {
    val docs = Spread.spread(docs0)
    docs
      .select(col("doc_id"),
        gf.dupNgramCoverage(tokens(col("text")), minN, maxN).as("cov"))
      .select(col("doc_id") +: col("cov")(0).as("tok_chars") +:
        (minN to maxN).map(n =>
          when(col("cov")(0) > 0, col("cov")(n - minN + 1) / col("cov")(0))
            .otherwise(lit(0.0)).as(s"dup${n}gram_char_fraction")): _*)
  }

  /** CORPUS-grain duplicate-n-gram coverage (per source): the
    * cross-document complement of [[dupNgramMass]]'s within-doc
    * table. An n-gram is corpus-duplicated iff it occurs in ≥ 2
    * DISTINCT documents; each source reports the fraction of its
    * token characters lying inside any occurrence of such an n-gram
    * (position-coverage union, separators excluded — the same
    * billing rule as the within-doc kernel). This is the dataset
    *-level repetition stat (the "how much of my corpus is shared
    * boilerplate" readout of C4/RealNews-style analyses) that no
    * per-doc metric can see.
    *
    * Distributed shape, sized for the 100 TB corpus: one scan
    * explodes n-gram occurrences, which shuffle ONCE on the n-gram
    * key; "occurs in ≥ 2 distinct documents" is decided in place by
    * a `min(doc_id) ≠ max(doc_id)` window over that exchange (exact
    * for the ≥2 test, no count-distinct expand, no second scan, no
    * self-join — the naive dup-set + semi-join plan re-explodes the
    * corpus and was measurably rejected, see the plan dump). Covered
    * positions then fold row-locally per doc (position-union
    * billing), and the final rollup is a source-grain sum of exact
    * integer counters + one division — the only shuffles are the
    * n-gram key, the doc_id regroup, and the source rollup, all on
    * natural keys. A boilerplate n-gram shared by millions of docs
    * lands in one window partition; that is the same skew any
    * per-n-gram aggregate carries, and it sorts — never joins —
    * so the hot key costs O(occ log occ), not O(occ²).
    *
    * The rollup reads a prebuilt [[dupNgramDocs]] relation (rollup
    * and gate read one pinned doc-grain pass instead of re-running
    * the corpus window).
    */
  def dupNgramCorpus(perDoc: DataFrame): DataFrame =
    perDoc
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(coalesce(col("dup_chars"), lit(0L)) > 0, 1L)
          .otherwise(0L)).as("n_docs_with_dup"),
        sum(col("tok_chars")).as("tok_chars"),
        sum(coalesce(col("dup_chars"), lit(0L))).as("dup_chars"))
      .withColumn("dup_char_fraction",
        when(col("tok_chars") > 0, col("dup_chars") / col("tok_chars"))
          .otherwise(lit(0.0)))

  /** Token projection under the corpus-duplication family — cheap
    * and row-local, re-derived per consumer; the expensive piece
    * ([[dupNgramDupOcc]]'s corpus window) is what callers pin. */
  def dupNgramToks(docs0: DataFrame): DataFrame =
    Spread.spread(docs0.select(col("doc_id"), col("source"), col("text")))
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .withColumn("tok_chars",
        expr("aggregate(toks, 0L, (a, t) -> a + length(t))"))

  /** Every n-gram occurrence of a [[dupNgramToks]] projection, one
    * row per (doc_id, o) with `o` the struct (start, ng). */
  private def ngramStructs(docs: DataFrame, n: Int): DataFrame =
    docs
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(expr(
        s"""transform(sequence(0, size(toks) - $n),
           |  i -> struct(i AS start,
           |    array_join(slice(toks, i + 1, $n), ' ') AS ng))"""
          .stripMargin.replace("\n", " "))).as("o"))

  /** Corpus-DUPLICATED n-gram occurrences (doc_id, start, ng) — the
    * ONE n-gram-key shuffle the whole family (rollup, per-doc gate,
    * span extraction, intake store) rides: occurrences explode off
    * one scan, "occurs in ≥ 2 distinct docs" is decided in place by
    * a `min(doc_id) ≠ max(doc_id)` window over that exchange. Input
    * is a [[dupNgramToks]] projection; output is proportional to
    * DUPLICATED occurrences, the relation callers pin. */
  def dupNgramDupOcc(docs: DataFrame, n: Int = 8): DataFrame = {
    val occ = ngramStructs(docs, n)
      .select(col("doc_id"), col("o.start"), col("o.ng"))
    val w = Window.partitionBy("ng")
    occ
      .withColumn("cross_doc",
        min("doc_id").over(w) =!= max("doc_id").over(w))
      .filter(col("cross_doc"))
      .select("doc_id", "start", "ng")
  }

  /** Per-doc duplicated start positions folded from a
    * [[dupNgramDupOcc]] relation (cheap — dup rows only). */
  def startsOfOcc(occ: DataFrame): DataFrame =
    occ.groupBy("doc_id").agg(collect_list(col("start")).as("starts"))

  /** The persisted dup-gram STORE a streaming intake gate probes:
    * the distinct corpus-duplicated n-grams of the nightly corpus —
    * what [[graft.streaming.DocStream.dupNgramGate]] joins new
    * documents against (history never re-explodes at intake time),
    * read off the corpus's [[dupNgramDupOcc]] occurrences. */
  def dupNgramStore(occ: DataFrame): DataFrame =
    occ.select("ng").distinct()

  /** Doc-grain relation under [[dupNgramCorpus]] — one row per
    * document with its exact corpus-duplicated character coverage
    * (`dup_chars` already coalesced to 0 for untouched docs), folded
    * row-locally over a [[dupNgramToks]] projection and its
    * duplicated start positions ([[startsOfOcc]] of
    * [[dupNgramDupOcc]]). The source rollup and the per-doc gate
    * readout ([[dupNgramApply]]) both derive from this single
    * definition.
    */
  def dupNgramDocs(docs: DataFrame, starts: DataFrame,
                   n: Int = 8): DataFrame = {
    val coveredChars = starts
      .join(docs.select("doc_id", "toks"), Seq("doc_id"))
      .select(col("doc_id"), expr(
        s"""aggregate(
           |  array_distinct(flatten(transform(starts,
           |    s -> sequence(s, s + ${n - 1})))),
           |  0L, (a, p) -> a + length(element_at(toks, p + 1)))"""
          .stripMargin.replace("\n", " ")).as("dup_chars"))
    docs.join(coveredChars, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("tok_chars"),
        coalesce(col("dup_chars"), lit(0L)).as("dup_chars"))
  }

  /** Maximal duplicate-SPAN extraction (Lee et al. 2022's
    * exact-substring dedup target, at token grain): chain ADJACENT
    * corpus-duplicated n-gram positions — the per-doc `starts` folded
    * off the pinned [[dupNgramDupOcc]] trunk — into maximal per-doc
    * spans. A position is duplicated iff it lies inside ANY
    * occurrence of an n-gram shared by ≥ 2 distinct docs (the same
    * position-union billing as [[dupNgramDocs]]); a span is a
    * maximal run of consecutive duplicated positions. One row per
    * span: token bounds, token/char mass, the char offset where the
    * span starts (separator-free token-stream chars — the family's
    * `tok_chars` convention), and the doc-level removal fraction it
    * would reclaim.
    *
    * Distributed shape: positions explode off the pinned trunk
    * (array rows, not the corpus), islands form with the classic
    * gaps-and-islands rule (`pos − row_number` over the doc
    * exchange — the `q_purchase_streaks` skeleton); the island
    * group-by and the span-index window ride the SAME doc_id
    * exchange (subset-key reuse), and the token join is doc-grain.
    * Everything downstream of the trunk is proportional to
    * duplicated positions, not corpus size.
    */
  def dupSpans(docs0: DataFrame, starts: DataFrame, n: Int = 8): DataFrame = {
    val d = dupNgramToks(docs0)
    val pos = starts.select(col("doc_id"), explode(expr(
      s"array_distinct(flatten(transform(starts," +
        s" s -> sequence(s, s + ${n - 1}))))")).as("pos"))
    val wd = Window.partitionBy("doc_id").orderBy("pos")
    val spans = pos
      .withColumn("island", col("pos") - row_number().over(wd))
      .groupBy("doc_id", "island")
      .agg(min("pos").cast("long").as("start_pos"),
        max("pos").cast("long").as("end_pos"),
        count(lit(1)).as("span_tokens"))
    val wspan = Window.partitionBy("doc_id").orderBy("start_pos")
    spans
      .withColumn("span_idx", row_number().over(wspan).cast("long"))
      .join(d.select("doc_id", "toks", "tok_chars"), Seq("doc_id"))
      .withColumn("char_start", expr(
        "aggregate(slice(toks, 1, CAST(start_pos AS INT)), 0L," +
          " (a, t) -> a + length(t))"))
      .withColumn("span_chars", expr(
        "aggregate(slice(toks, CAST(start_pos AS INT) + 1," +
          " CAST(span_tokens AS INT)), 0L, (a, t) -> a + length(t))"))
      .withColumn("removal_fraction",
        when(col("tok_chars") > 0, col("span_chars") / col("tok_chars"))
          .otherwise(lit(0.0)))
      .select("doc_id", "span_idx", "start_pos", "end_pos",
        "span_tokens", "char_start", "span_chars", "removal_fraction")
  }

  /** APPLY the span extraction — the Lee-et-al exact-substring
    * dedup's actual OUTPUT: each document's corpus-duplicated spans
    * are CUT and the residual text emitted (untouched docs pass
    * through verbatim), alongside the before/after token counts a
    * billing pass consumes. Removal is at token grain over the same
    * covered-position union as [[dupSpans]]/[[dupNgramDocs]] — the
    * three keys can never disagree about WHAT is duplicated. Pure
    * row-local array surgery over the pinned trunk (one left join;
    * the rewrite is transform + filter + join, codegen'd — no
    * shuffle beyond the trunk's).
    */
  def dupSpansApply(docs0: DataFrame, starts: DataFrame,
                    n: Int = 8): DataFrame = {
    val d = dupNgramToks(docs0)
    // O(len) mask/merge walk (the stream twin's BitSet shape): sorted
    // starts → merged spans (intervals [s, s+n) chain into one island
    // iff the next start is within n of the previous — exactly the
    // consecutive-covered-position islands) → the KEPT inter-span
    // segments slice out in one indexed transform. The former
    // array_contains(covered, i) rewrite paid O(len · |covered|) per
    // doc — quadratic on the long fully-duplicated documents this
    // operator exists to cut.
    d.join(starts, Seq("doc_id"), "left")
      .withColumn("ss", expr(
        "array_sort(coalesce(starts, CAST(array() AS ARRAY<INT>)))"))
      .withColumn("bnds", expr(
        s"""IF(size(ss) = 0, CAST(array() AS ARRAY<INT>),
           |  filter(sequence(0, size(ss) - 1),
           |    i -> i = 0 OR element_at(ss, i + 1)
           |      > element_at(ss, i) + $n))"""
          .stripMargin.replace("\n", " ")))
      .withColumn("spans", expr(
        s"""transform(bnds, (b, j) -> struct(
           |  element_at(ss, b + 1) AS s,
           |  element_at(ss, IF(j + 1 < size(bnds),
           |    element_at(bnds, j + 2), size(ss))) + $n AS e))"""
          .stripMargin.replace("\n", " ")))
      .select(col("doc_id"), col("source"),
        size(col("toks")).cast("long").as("n_toks"),
        expr("aggregate(spans, 0L, (a, sp) -> a + sp.e - sp.s)")
          .as("n_toks_removed"),
        expr(
          """array_join(flatten(transform(sequence(0, size(spans)),
            |  j -> slice(toks,
            |    IF(j = 0, 0, element_at(spans, j).e) + 1,
            |    IF(j < size(spans), element_at(spans, j + 1).s, size(toks))
            |      - IF(j = 0, 0, element_at(spans, j).e)))), ' ')"""
            .stripMargin.replace("\n", " ")).as("clean_text"))
  }

  /** Delta-vs-STORE coverage — the batch spelling of the intake
    * gate's relation ([[graft.streaming.DocStream.dupNgramGate]]):
    * only the NEW docs explode; their n-grams probe the persisted
    * dup-gram store (broadcast semi-join — history never re-explodes)
    * and covered positions union into the exact duplicated-char
    * coverage per delta doc. The incremental member of the
    * corpus-duplication family, consumed by
    * [[Curation.curateIncremental]]'s r14 gate. */
  def dupNgramDocsVsStore(newDocs0: DataFrame, store: DataFrame,
                          n: Int = 8): DataFrame = {
    val d = dupNgramToks(newDocs0)
    val occ = ngramStructs(d, n)
      .select(col("doc_id"), col("o.start").as("start"), col("o.ng").as("ng"))
      .join(org.apache.spark.sql.functions.broadcast(store.select("ng")),
        Seq("ng"), "left_semi")
      .select("doc_id", "start")
    dupNgramDocs(d, startsOfOcc(occ), n)
  }

  /** The per-doc KEEP/DROP readout of the corpus-duplication gate —
    * [[dupNgramCorpus]]'s `docs_gopher_apply`-shaped twin: each doc
    * carries its exact duplicated-character fraction and drops iff
    * the fraction crosses `maxDupFrac` (the RefinedWeb-style "mostly
    * shared boilerplate" cut). Reads the same prebuilt
    * [[dupNgramDocs]] relation as the rollup, so gate and audit can
    * never drift.
    */
  def dupNgramApply(perDoc: DataFrame,
                    maxDupFrac: Double = 0.5): DataFrame =
    perDoc
      .withColumn("dup_char_fraction",
        when(col("tok_chars") > 0, col("dup_chars") / col("tok_chars"))
          .otherwise(lit(0.0)))
      .withColumn("keep", col("dup_char_fraction") <= maxDupFrac)

  /** C4-style cross-document LINE dedup, applied and audited at
    * corpus grain: every non-empty line is keyed exactly; of all
    * occurrences of an identical line anywhere in the corpus, the
    * FIRST (smallest `(doc_id, line_idx)`) is kept and every later
    * one — same doc or not — is removed (the C4 "dedup repeated
    * lines across the dataset" recipe; Raffel et al. 2020 §2.2).
    * Output is the per-source billing readout: docs, lines and line
    * characters before/after, and the character retention as one
    * division of exact integer counters.
    *
    * Distributed shape: lines explode off one scan and shuffle ONCE
    * on the line text; keep-first is a `row_number` over that
    * exchange ordered by the natural `(doc_id, line_idx)` key —
    * discrete and tie-free, so bit-stable cross-engine. Per-doc
    * counters regroup on doc_id, sources roll up exact longs. A
    * boilerplate line repeated across millions of docs is one
    * window partition that sorts, never joins — the same hot-key
    * posture as [[dupNgramCorpus]].
    */
  def dupLineRemoval(lined: DataFrame): DataFrame = {
    val lines = lined
      .select(col("doc_id"), posexplode(
        filter(split(col("text"), "\n"), x => x =!= lit(""))))
      .withColumnRenamed("pos", "idx").withColumnRenamed("col", "line")
    val w = Window.partitionBy("line").orderBy(col("doc_id"), col("idx"))
    val perDoc = lines
      .withColumn("removed", row_number().over(w) > 1)
      .groupBy("doc_id").agg(
        count(lit(1)).as("lines_total"),
        sum(when(col("removed"), 1L).otherwise(0L)).as("lines_removed"),
        sum(length(col("line")).cast("long")).as("line_chars"),
        sum(when(col("removed"), length(col("line")).cast("long"))
          .otherwise(0L)).as("chars_removed"))
    lined.select("doc_id", "source").join(perDoc, Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(when(coalesce(col("lines_removed"), lit(0L)) > 0, 1L)
          .otherwise(0L)).as("n_docs_affected"),
        sum(coalesce(col("lines_total"), lit(0L))).as("lines_total"),
        sum(coalesce(col("lines_removed"), lit(0L))).as("lines_removed"),
        sum(coalesce(col("line_chars"), lit(0L))).as("line_chars"),
        sum(coalesce(col("chars_removed"), lit(0L))).as("chars_removed"))
      .withColumn("char_retention",
        when(col("line_chars") > 0,
          (col("line_chars") - col("chars_removed")) / col("line_chars"))
          .otherwise(lit(1.0)))
  }

  /** The Gopher repetition thresholds (Rae et al. 2021, table A1)
    * as data: metric column → removal threshold. Public paper
    * constants, shared by the operator and the oracle so they can
    * never drift. */
  val GopherGateThresholds: Seq[(String, Double)] = Seq(
    "dup_line_fraction" -> 0.30, "dup_para_fraction" -> 0.30,
    "dup_line_char_fraction" -> 0.20, "dup_para_char_fraction" -> 0.20,
    "top2gram_char_fraction" -> 0.20, "top3gram_char_fraction" -> 0.18,
    "top4gram_char_fraction" -> 0.16,
    "dup5gram_char_fraction" -> 0.15, "dup6gram_char_fraction" -> 0.14,
    "dup7gram_char_fraction" -> 0.13, "dup8gram_char_fraction" -> 0.12,
    "dup9gram_char_fraction" -> 0.11, "dup10gram_char_fraction" -> 0.10)

  /** The Gopher QUALITY thresholds (Rae et al. 2021, table A1 — the
    * quality-filter half beside [[GopherGateThresholds]]'s
    * repetition half) as data: metric column → inclusive [lo, hi]
    * KEEP band; a document fails a rule iff its metric falls
    * outside the band. Public paper constants (word count
    * 50–100 000; mean word length 3–10; symbol-to-word ratio ≤ 0.1
    * for `#`/`…`; ≤ 90 % of lines bullet-initial; ≤ 30 % of lines
    * ellipsis-terminal; ≥ 80 % of words with an alphabetic char;
    * ≥ 2 of the paper's 8 required stop words), shared by the
    * operator and the oracle so they can never drift. */
  val GopherQualityStopWords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  val GopherQualityThresholds: Seq[(String, Double, Double)] = Seq(
    ("n_words", 50.0, 100000.0),
    ("mean_word_len", 3.0, 10.0),
    ("symbol_word_ratio", 0.0, 0.1),
    ("bullet_line_fraction", 0.0, 0.9),
    ("ellipsis_line_fraction", 0.0, 0.3),
    ("alpha_word_fraction", 0.8, 1.0),
    ("stop_word_hits", 2.0, 1e18))

  /** The 7 Gopher quality metrics as ONE row-local projection over
    * (…, text[, toks, lines]) — the single definition the profile
    * key, the gate keys, and the streaming intake gate share.
    * Reuses `toks`/`lines` when a [[gopherMetricCols]] pass already
    * materialized them (the combined-gate shape — tokenize once);
    * derives them otherwise. Every fraction is one division of
    * exact integer counters — bit-replayable cross-engine.
    */
  private[graft] def gopherQualityCols(df0: DataFrame): DataFrame = {
    val df =
      if (df0.columns.contains("toks")) df0
      else df0
        .withColumn("toks", tokens(col("text")))
        .withColumn("lines",
          expr("filter(split(text, '\\n'), x -> x <> '')"))
    val nWords = size(col("toks")).cast("long")
    val nLines = size(col("lines")).cast("long")
    def frac(num: Column, den: Column): Column =
      when(den > 0, num / den).otherwise(lit(0.0))
    df.withColumn("n_words", nWords)
      .withColumn("mean_word_len",
        frac(expr("aggregate(toks, 0L, (a, t) -> a + length(t))"), nWords))
      // '#' and the one-char '…' only; the three-dot spelling is the
      // LINE-ending rule's job, so the two rules stay independent
      .withColumn("symbol_word_ratio",
        frac(expr("CAST(2 * length(text) - length(replace(text, '#', ''))" +
          " - length(replace(text, '…', '')) AS BIGINT)"), nWords))
      .withColumn("bullet_line_fraction",
        frac(size(expr("filter(lines, l -> startswith(l, '-') OR " +
          "startswith(l, '*') OR startswith(l, '•'))")).cast("long"), nLines))
      .withColumn("ellipsis_line_fraction",
        frac(size(expr("filter(lines, l -> endswith(l, '...') OR " +
          "endswith(l, '…'))")).cast("long"), nLines))
      .withColumn("alpha_word_fraction",
        frac(size(expr("filter(toks, t -> t rlike '[A-Za-z]')")).cast("long"),
          nWords))
      .withColumn("stop_word_hits",
        size(array_intersect(transform(col("toks"), gf.lowerText(_)),
          typedlit(GopherQualityStopWords))).cast("long"))
  }

  /** The quality-family flag columns (one per threshold row) over a
    * [[gopherQualityCols]] projection — [[GopherQualityThresholds]]
    * applied once, shared by every gate consumer. */
  private[graft] def gopherQualityFlags(df: DataFrame): DataFrame =
    GopherQualityThresholds.foldLeft(df) { case (d, (name, lo, hi)) =>
      d.withColumn(s"f_q_$name", col(name) < lit(lo) || col(name) > lit(hi))
    }

  /** Per-doc Gopher QUALITY profile — the driver key's shape: one
    * row per document with the 7 paper metrics, projected from any
    * relation carrying the [[gopherQualityCols]] metric columns (the
    * pinned [[gopherFlagged]] pass over the quality fixture,
    * [[synthQualityCorpus]], qualifies). Pure row-local projection,
    * scales with the scan. */
  def gopherQuality(metrics: DataFrame): DataFrame =
    metrics
      .select("doc_id", "n_words", "mean_word_len", "symbol_word_ratio",
        "bullet_line_fraction", "ellipsis_line_fraction",
        "alpha_word_fraction", "stop_word_hits")

  /** Fixed bin edges per quality metric for drift monitoring —
    * value-independent grids (no quantile training, so two corpus
    * snapshots bucket identically and the comparison needs no model
    * state); integer-valued metrics get half-integer edges so no
    * value can straddle a cut. Shared operator ↔ oracle. */
  val QualityDriftBins: Seq[(String, Seq[Double])] = Seq(
    ("n_words", Seq(25, 50, 100, 200, 500)),
    ("mean_word_len", Seq(2, 3, 5, 7, 10, 15)),
    ("symbol_word_ratio", Seq(0.01, 0.05, 0.1, 0.2)),
    ("bullet_line_fraction", Seq(0.1, 0.5, 0.9)),
    ("ellipsis_line_fraction", Seq(0.1, 0.3)),
    ("alpha_word_fraction", Seq(0.5, 0.8, 0.95)),
    ("stop_word_hits", Seq(0.5, 1.5, 3.5, 7.5)))

  /** Quality-distribution DRIFT between two corpus snapshots — the
    * "did today's crawl shift under me" monitor every intake
    * pipeline wants next to its gates: for each of the 7 quality
    * metrics, the two snapshots' populations histogram into the
    * FIXED [[QualityDriftBins]] grid and compare by Population
    * Stability Index (the [[EventOps.valuePsi]] convention —
    * Laplace-0.5 smoothing over the metric's theoretical bucket
    * count, `psi = Σ (p_b − p_a)·ln(p_b/p_a)`, drift flag at the
    * classic 0.2). Input is any relation carrying the
    * [[gopherQualityCols]] metric columns (the pinned pass
    * qualifies); `isA` splits the snapshots. One stack projection,
    * one (metric, bucket) aggregate, one metric-partitioned window
    * — counts shuffle, never documents. Fixed bins are the scale
    * decision: quantile cuts would need a training pass per
    * snapshot and drift with it.
    */
  def qualityDrift(metrics: DataFrame,
                   isA: Column = col("doc_id") % 2 === 0): DataFrame = {
    val halfN = QualityDriftBins.foldRight(lit(0.0): Column) {
      case ((m, edges), acc) =>
        when(col("metric") === m, lit((edges.size + 1) * 0.5)).otherwise(acc)
    }
    val counts = qualityBuckets(metrics)
      .withColumn("is_a", isA)
      .groupBy(col("metric"), col("bucket"))
      .agg(
        sum(when(col("is_a"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("is_a"), 0L).otherwise(1L)).as("n_b"))
    val wAll = Window.partitionBy("metric")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val pa = (col("n_a") + lit(0.5)) / (sum("n_a").over(wAll) + halfN)
    val pb = (col("n_b") + lit(0.5)) / (sum("n_b").over(wAll) + halfN)
    counts
      .withColumn("p_a", pa).withColumn("p_b", pb)
      .withColumn("psi_term",
        (col("p_b") - col("p_a")) * log(col("p_b") / col("p_a")))
      .withColumn("psi_raw", sum("psi_term").over(wAll))
      .select(col("metric"), col("bucket"), col("n_a"), col("n_b"),
        round(col("p_a"), 6).as("p_a"), round(col("p_b"), 6).as("p_b"),
        round(col("psi_term"), 6).as("psi_term"),
        round(col("psi_raw"), 6).as("psi_total"),
        (col("psi_raw") > 0.2).as("drifted"))
  }

  /** Per-doc (metric, bucket) assignment under [[QualityDriftBins]]
    * — the shared projection under the drift monitor's batch and
    * streaming forms. Keeps doc_id for snapshot splitting. */
  private[graft] def qualityBuckets(metrics: DataFrame): DataFrame = {
    val stackExpr = s"stack(${QualityDriftBins.size}, " +
      QualityDriftBins.map { case (m, _) => s"'$m', CAST($m AS DOUBLE)" }
        .mkString(", ") + ") AS (metric, value)"
    val bucket = QualityDriftBins.foldRight(lit(-1L): Column) {
      case ((m, edges), acc) =>
        when(col("metric") === m,
          edges.map(e => when(col("value") > lit(e), 1L).otherwise(0L))
            .reduce(_ + _)).otherwise(acc)
    }
    metrics.select(col("doc_id"), expr(stackExpr))
      .select(col("doc_id"), col("metric"), bucket.as("bucket"))
  }

  /** Baseline snapshot histogram — what a nightly batch persists
    * and the streaming drift monitor probes: exact (metric, bucket)
    * doc counts, |metrics|·|buckets| rows total (the histogram IS
    * the model; no quantile state). */
  def qualityBaseline(metrics: DataFrame): DataFrame =
    qualityBuckets(metrics)
      .groupBy("metric", "bucket").agg(count(lit(1)).as("n_a"))

  private def anyQualityFlag: Column =
    GopherQualityThresholds.map(t => col(s"f_q_${t._1}")).reduce(_ || _)

  /** The any-of-20-thresholds DROP decision over a [[gopherFlagged]]
    * relation — the one boolean the composed curation pipeline
    * ([[Curation.curateFull]]) consumes from the gate family's
    * pinned pass. */
  def gopherAnyFlag: Column =
    anyQualityFlag || col("f_line") || col("f_para") ||
      col("f_top") || col("f_dup")

  /** The ONE metric-and-flag pass all three batch gate keys read —
    * all 20 thresholds' flag columns over a single tokenization.
    * The driver pins this per (session, dir) so gate/apply/cost
    * never recompute the fused kernels. */
  def gopherFlagged(linedDocs: DataFrame): DataFrame =
    gopherQualityFlags(gopherQualityCols(gopherFlagCols(gopherMetricCols(
      Spread.spread(linedDocs.select("doc_id", "text"))))))

  /** Per-document APPLY form of [[gopherGate]] — the decision a
    * curation pipeline actually consumes: one row per doc with
    * `keep` and, for dropped docs, the FIRST firing gate family in
    * fixed precedence (the 7 quality families in table order, then
    * line → para → top-gram → dup-gram — quality before repetition,
    * the paper's filter order; a deterministic CASE both engines
    * evaluate identically). Same threshold tables, same
    * single-projection metric pass (quality metrics reuse the
    * repetition pass's token/line arrays — one tokenization), read
    * from a prebuilt [[gopherFlagged]] relation.
    */
  def gopherGateApply(docs: DataFrame, flagged: DataFrame): DataFrame =
    flagged
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
      .withColumn("gate_family",
        when(col("f_q_n_words"), "word_count")
          .when(col("f_q_mean_word_len"), "word_len")
          .when(col("f_q_symbol_word_ratio"), "symbol")
          .when(col("f_q_bullet_line_fraction"), "bullet")
          .when(col("f_q_ellipsis_line_fraction"), "ellipsis_line")
          .when(col("f_q_alpha_word_fraction"), "alpha")
          .when(col("f_q_stop_word_hits"), "stop_word")
          .when(col("f_line"), "line").when(col("f_para"), "para")
          .when(col("f_top"), "top_gram").when(col("f_dup"), "dup_gram"))
      .withColumn("keep", col("gate_family").isNull)
      .select("doc_id", "source", "keep", "gate_family")

  /** The FULL Gopher suite (13 repetition + 7 quality thresholds)
    * applied as an actual per-source GATE — the fleet-scale readout
    * the per-doc profiles feed: for each source, how many documents
    * the paper's thresholds would REMOVE, grouped by gate family
    * (the 7 quality rules rolled into one counter; line dup,
    * paragraph dup, top-n-gram mass, dup-n-gram mass individually)
    * plus the any-gate total and its share. Every threshold
    * comparison is a double computed as ONE division of exact
    * integers compared to a shared literal — deterministic
    * cross-engine — so all outputs are integer counts and one final
    * single division. Plan: ONE row-local metric projection (both
    * fused kernels + the segment folds — [[gopherMetricCols]] +
    * [[gopherQualityCols]] sharing its arrays, the stream-safe
    * shape, the prebuilt [[gopherFlagged]] relation) joined to
    * sources, one hash aggregate.
    */
  def gopherGate(docs: DataFrame, flagged0: DataFrame): DataFrame = {
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    val flagged = flagged0
      .join(docs.select("doc_id", "source"), Seq("doc_id"))
    flagged.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        cnt(anyQualityFlag).as("n_quality_gate"),
        cnt(col("f_line")).as("n_dup_line_gate"),
        cnt(col("f_para")).as("n_dup_para_gate"),
        cnt(col("f_top")).as("n_top_gram_gate"),
        cnt(col("f_dup")).as("n_dup_gram_gate"),
        cnt(anyQualityFlag || col("f_line") || col("f_para") ||
          col("f_top") || col("f_dup")).as("n_flagged"))
      .withColumn("flag_share", col("n_flagged") / col("n_docs"))
  }

  /** Budget COST of the Gopher gate, per source — what the
    * repetition thresholds charge the training mix: docs and
    * whitespace tokens of the RAW corpus (the budget currency; the
    * lined fixture exists only to exercise the gate) split into kept
    * vs total, with retention as one division of exact sums. The
    * gate decision joins back to the raw token counts on doc_id —
    * 8-byte keys, one aggregate. Reads a prebuilt [[gopherFlagged]]
    * relation.
    */
  def gopherGateCost(docs: DataFrame, flagged: DataFrame): DataFrame =
    gopherGateApply(docs, flagged).select("doc_id", "source", "keep")
      .join(docs.select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("n_toks")), Seq("doc_id"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_toks")).as("tokens_total"),
        sum(when(col("keep"), col("n_toks")).otherwise(0L)).as("tokens_kept"))
      .withColumn("token_retention",
        when(col("tokens_total") > 0,
          col("tokens_kept") / col("tokens_total")).otherwise(lit(0.0)))

  /** Corpus-wide top token bigrams — vocabulary/boilerplate
    * analysis. Explode + count + deterministic top-N (ties broken
    * lexically). The explode stays partition-local; only (bigram,
    * partial count) pairs shuffle.
    */
  def topBigrams(docs: DataFrame, n: Int = 100): DataFrame =
    docs.select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(explode(expr(
        "CASE WHEN size(toks) < 2 THEN array() " +
          "ELSE transform(sequence(0, size(toks) - 2), " +
          "i -> concat(toks[i], ' ', toks[i + 1])) END")).as("bigram"))
      .groupBy("bigram")
      .agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("bigram"))
      .limit(n)

  /** Corpus-wide PMI collocations: pointwise mutual information of
    * adjacent token pairs, `ln p(ab) − ln p(a) − ln p(b)` with
    * `p(ab) = c_ab/N_bigrams` and `p(w) = c_w/N_tokens` — the
    * standard "which bigrams occur far more than their unigram
    * frequencies predict" collocation score, with a support floor
    * (`minCount`) so singleton pairs can't top the list on noise.
    *
    * The unigram and bigram count relations are vocabulary-sized
    * (≪ corpus) and each consumed twice (totals + join), so both
    * are pinned once (localCheckpoint) — two corpus tokenization
    * scans total, the floor for unigram+bigram counting without
    * fusing the two explodes. The count joins broadcast (vocab ≪
    * corpus; at web scale a token vocabulary still broadcasts —
    * hundreds of MB at worst — and if it ever didn't, both sides
    * are already keyed for a plain shuffle join). PMI itself is
    * ln/arithmetic on exact integer counts, identical expression
    * shape in the oracle, snapped to the 1e-6 grid BEFORE ranking
    * (the libm rule — docs/ORACLE_NOTES.md); ties break on the
    * bigram text, which is unique per row, so the top-N cut is a
    * total order.
    */
  def pmiBigrams(docs: DataFrame, n: Int = 100,
                 minCount: Long = 5L): DataFrame = {
    val toks = docs.select(tokens(col("text")).as("toks"))
    val uni = toks.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c_w"))
      .localCheckpoint(true)
    val bi = toks.select(explode(expr(
        "CASE WHEN size(toks) < 2 THEN array() " +
          "ELSE transform(sequence(0, size(toks) - 2), " +
          "i -> concat(toks[i], ' ', toks[i + 1])) END")).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n_ab"))
      .localCheckpoint(true)
    val totals = uni.agg(sum("c_w").as("n_tokens"))
      .crossJoin(bi.agg(sum("n_ab").as("n_bigrams")))
    bi.filter(col("n_ab") >= minCount)
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
      .join(broadcast(uni.select(col("w").as("w1"), col("c_w").as("c_a"))),
        Seq("w1"))
      .join(broadcast(uni.select(col("w").as("w2"), col("c_w").as("c_b"))),
        Seq("w2"))
      .crossJoin(broadcast(totals))
      .withColumn("pmi", round(
        log(col("n_ab")) - log(col("n_bigrams")) - log(col("c_a")) -
          log(col("c_b")) + lit(2.0) * log(col("n_tokens")), 6))
      .select(col("bigram"), col("n_ab"), col("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(n)
  }

  /** Per-source quality rollup: corpus-health dashboard numbers
    * (mean quality/length/stopword-density by provenance).
    */
  def sourceStats(docs: DataFrame, stopwords: Seq[String] = DefaultStopwords): DataFrame =
    stats(docs, stopwords, idCol = "source")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        avg("n_chars").as("avg_chars"),
        avg("n_tokens").as("avg_tokens"),
        avg("stopword_ratio").as("avg_stopword_ratio"),
        avg("quality_score").as("avg_quality"))

  /** Per-source TEMPLATE-prefix profile — the "is this crawl one
    * boilerplate page stamped N times" check that doc-grain dedup
    * only answers after paying for pairs: documents fingerprint by
    * the md5 of their first `k` lowercase tokens, and each source
    * reports its distinct-prefix count plus the share of docs behind
    * the single hottest prefix. A share near 1 with many docs means
    * a templated/mirrored source — cap or drop it at the source
    * level. Pure projection + two narrowing aggregates ((source,
    * prefix) then source); only 16-byte digests shuffle, never text.
    */
  def boilerplatePrefix(docs: DataFrame, k: Int = 8): DataFrame =
    docs
      .select(col("source"),
        md5(concat_ws(" ",
          slice(tokens(gf.lowerText(col("text"))), 1, k))).as("pfx"))
      .groupBy("source", "pfx")
      .agg(count(lit(1)).as("n"))
      .groupBy("source")
      .agg(
        sum("n").as("n_docs"),
        count(lit(1)).as("n_prefixes"),
        max("n").as("top_prefix_docs"))
      .withColumn("top_share",
        round(col("top_prefix_docs").cast("double") / col("n_docs"), 6))

  /** PII patterns — ASCII-only so Java and RE2 agree byte-for-byte. */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val UrlRe = "https?://[^\\s]+"
  val PhoneRe = "\\+?[0-9][0-9()\\- ]{7,}[0-9]"

  /** PII scan + redaction: counts per category and the md5 of the
    * scrubbed text (emails → `<EMAIL>`, then URLs → `<URL>`, then
    * phone-like runs → `<PHONE>`; order matters for overlaps and is
    * part of the contract). Pure regexp projections — codegen'd,
    * no shuffle.
    */
  def piiScrub(docs: DataFrame): DataFrame = {
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col("text"), EmailRe, "<EMAIL>"),
        UrlRe, "<URL>"),
      PhoneRe, "<PHONE>")
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long")
        .as("n_emails"),
      size(regexp_extract_all(col("text"), lit(UrlRe), lit(0))).cast("long")
        .as("n_urls"),
      size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("long")
        .as("n_phones"),
      md5(scrubbed).as("scrubbed_md5"))
  }

  /** C4-style hard filter: keep documents inside the token-count
    * band with at least the minimum quality score. The filter
    * composes with the scan — pushdown-friendly, no extra pass.
    */
  def qualityFilter(docs: DataFrame, minTokens: Long = 20L,
                    maxTokens: Long = 100000L, minQuality: Double = 0.2): DataFrame =
    stats(docs)
      .filter(col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens &&
        col("quality_score") >= minQuality)
      .select("doc_id", "n_tokens", "quality_score")

  /** Canonical form used for fingerprinting/exact dedup: lowercase,
    * collapsed whitespace, trimmed. */
  def canonical(text: Column): Column =
    trim(regexp_replace(gf.lowerText(text), "\\s+", " "))

  /** Document fingerprints: md5 of the canonical text (portable) and
    * a 64-bit FNV-1a (graft native, join-friendly). */
  def fingerprints(docs: DataFrame): DataFrame = {
    val canon = canonical(col("text"))
    docs.select(
      col("doc_id"),
      md5(canon).as("fingerprint_md5"),
      gf.hash64(canon).as("fingerprint64"))
  }

  /** Top-k TF-IDF terms per document. tf = in-doc term count,
    * idf = ln((N+1)/(df+1)); the score is rounded to 6 decimals
    * BEFORE ranking so the ordering is identical across engines
    * (ln differs in the last ulp between libm implementations; the
    * integer-ratio inputs and the 1e-6 grid make that invisible).
    * Plan shape: one explode + two hash aggregations (doc-term, then
    * term) + a term-keyed join — the doc-frequency side is
    * broadcast-small only for tiny corpora, so it stays a shuffle
    * join on `term`; at 100 TB df has |vocab| rows, which Spark
    * hash-partitions fine.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    // NOT the [[lmScore]] pinned-model shape, deliberately (r18
    // optimization round, measured): pinning the (doc, term) tf
    // relation and deriving df from it read +8% contention-adjusted
    // at sf0.1 — unlike lmScore's vocab²-bounded bigram counts, tf
    // is postings-sized, and its materialization costs more than the
    // second explode+distinct pass it saves. Spark's one-distinct
    // countDistinct plan already collapses to the (term, doc) grain
    // map-side, so the two shapes shuffle the same bytes.
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = toks.groupBy("term").agg(countDistinct("doc_id").as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("term"))
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + 1) / (col("df") + 1)), 6))
      .withColumn("term_rank", row_number().over(w).cast("long"))
      .filter(col("term_rank") <= k)
      .select("doc_id", "term_rank", "term", "tf", "df", "score")
  }

  /** (doc_id, w1, w2) bigram instances — the shared postings shape
    * under both LM scorers. */
  private def bigramPairs(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(expr(
        "CASE WHEN size(toks) < 2 THEN array() " +
          "ELSE transform(sequence(0, size(toks) - 2), " +
          "i -> struct(toks[i] AS w1, toks[i + 1] AS w2)) END")).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))

  /** Per-document bigram-LM surprisal (CCNet/KenLM-style perplexity
    * filtering, with the corpus as its own model): score(doc) =
    * mean over its bigrams of −ln p(w2|w1), where p(w2|w1) =
    * count(w1 w2) / count(w1 ·). Low = stereotypical text, high =
    * unusual token sequences. Docs with <2 tokens drop out.
    *
    * Plan: one explode into (doc, w1, w2) pairs, two hash aggregates
    * for the model (bigram and first-token counts), two
    * vocabulary-keyed shuffle joins back, one per-doc aggregate. The
    * model stays distributed — nothing driver-side — so vocabulary
    * size is unbounded. Score rounded to 6 decimals (ln differs in
    * the last ulp across engines).
    */
  def lmScore(docs: DataFrame): DataFrame = {
    val pairs = bigramPairs(docs)
    // the [[knScore]] model shape, back-ported (r18 optimization
    // round): pin the bigram-count relation (two consumers — the
    // score join and the context-total roll-up), and derive
    // c_first(w1) = Σ_w2 c_bigram(w1,w2) from it instead of a second
    // corpus-wide explode+aggregate — the counts are identical
    // integers by definition, so scores (and the oracle) are
    // untouched; the tokenize+explode pass runs twice instead of
    // three times and the w1 aggregate reads |vocab²| rows, not the
    // corpus.
    val bigramCounts = pairs.groupBy("w1", "w2")
      .agg(count(lit(1)).as("c_bigram"))
      .localCheckpoint(true)
    val firstCounts = bigramCounts.groupBy("w1")
      .agg(sum("c_bigram").as("c_first"))
    pairs
      .join(bigramCounts, Seq("w1", "w2"))
      .join(firstCounts, Seq("w1"))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(-log(col("c_bigram") / col("c_first"))), 6).as("avg_surprisal"))
  }

  /** Kneser–Ney smoothed bigram scoring against a HELD-OUT model —
    * the reference-LM perplexity filter in its production shape
    * (CCNet trains KenLM on a reference corpus and scores the crawl;
    * [[lmScore]] is the self-scored MLE degenerate). The model
    * trains on the corpus MINUS the held-out slice (`doc_id %
    * holdoutMod == holdoutRes`); EVERY document then scores against
    * it, and the held-out docs exercise the smoothing paths a
    * self-scored MLE never reaches: an unseen bigram in a seen
    * context falls to the discounted continuation backoff
    * `λ(w1)·P_cont(w2)`, an unseen context falls to `P_cont(w2)`
    * alone, and a fully-unseen pair lands on the `1/(2B)` OOV floor
    * (never log 0). Absolute discount D = 0.75 — exactly
    * representable, so every probability is fixed-order IEEE
    * arithmetic; only `ln` needs the 6-decimal round (the
    * [[lmScore]] precedent).
    *
    * Plan: the lmScore postings shape with the model aggregates
    * restricted to the training slice — the bigram-count relation is
    * pinned (three consumers: context totals, continuation counts,
    * the score join), joins stay vocabulary-keyed and distributed,
    * and the only driver-sized state is the scalar distinct-bigram
    * total riding a broadcast. Output per doc: bigram count, mean
    * surprisal, the unseen-bigram fraction (the OOV-pressure
    * diagnostic), and the held-out flag.
    */
  def knScore(docs: DataFrame, holdoutMod: Int = 10, holdoutRes: Int = 7,
              discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"absolute discount must be in (0,1), got $discount")
    val pairs = bigramPairs(docs)
    val b = pairs.filter(col("doc_id") % holdoutMod =!= holdoutRes)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_bigram"))
      .localCheckpoint(true)
    val f = b.groupBy("w1").agg(sum("c_bigram").as("c_first"),
      count(lit(1)).as("n_follow"))
    val pc = b.groupBy("w2").agg(count(lit(1)).as("n_prec"))
    val tot = b.agg(count(lit(1)).cast("double").as("b_total"))
    pairs
      .join(b, Seq("w1", "w2"), "left")
      .join(f, Seq("w1"), "left")
      .join(pc, Seq("w2"), "left")
      .crossJoin(broadcast(tot))
      .withColumn("cont", coalesce(col("n_prec"), lit(0L)) / col("b_total"))
      .withColumn("p0",
        when(col("c_first").isNotNull,
          greatest(coalesce(col("c_bigram"), lit(0L)) - lit(discount),
            lit(0.0)) / col("c_first") +
            (lit(discount) * col("n_follow")) / col("c_first") * col("cont"))
          .otherwise(col("cont")))
      .withColumn("p", when(col("p0") > 0.0, col("p0"))
        .otherwise(lit(1.0) / (lit(2.0) * col("b_total"))))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(-log(col("p"))), 6).as("avg_surprisal"),
        round(avg(when(col("c_bigram").isNull, 1.0).otherwise(0.0)), 6)
          .as("oov_rate"))
      .withColumn("held_out", col("doc_id") % holdoutMod === holdoutRes)
  }

  /** Vocabulary GROWTH curve (Heaps' law): distinct token types seen
    * after each corpus checkpoint, in doc_id order. The naive form
    * (distinct-count per prefix) rescans the corpus per checkpoint;
    * this computes each type's FIRST occurrence (one min-aggregate —
    * a type is "new" exactly once), bands first occurrences into
    * `checkpoints` equal doc_id ranges with pure integer arithmetic,
    * and prefix-sums new-type counts over the checkpoint relation
    * (≤ `checkpoints` rows — bounded by construction, like the
    * calendar windows). One corpus scan total, any corpus size.
    */
  def vocabGrowth(docs: DataFrame, checkpoints: Int = 10): DataFrame = {
    val firstSeen = docs
      .select(col("doc_id"), explode(array_distinct(tokens(col("text"))))
        .as("word"))
      .groupBy("word").agg(min("doc_id").as("first_doc"))
    val maxId = docs.agg(max("doc_id").as("max_id"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("checkpoint")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    firstSeen.crossJoin(broadcast(maxId))
      .select(expr(s"first_doc * $checkpoints div (max_id + 1)")
        .as("checkpoint"))
      .groupBy("checkpoint")
      .agg(count(lit(1)).as("new_types"))
      .withColumn("vocab_size", sum("new_types").over(w))
  }

  /** Deterministic augmentation — token dropout at `rate`, keyed on
    * (doc_id, position, salt): the same document augments
    * IDENTICALLY on every run and engine (reproducible training
    * data), and a new salt is the next epoch's independent re-draw.
    * Runs on the fused codegen'd kernel (one pass over the document
    * bytes — tokenize, per-position md5 key, filter, rejoin), with
    * the indexed-lambda SQL spelling as the oracle twin. Output
    * whitespace is canonicalized to single spaces by construction.
    */
  def augmentTokenDropout(docs: DataFrame, rate: Double = 0.1,
                          salt: String = "aug0"): DataFrame =
    docs.select(col("doc_id"),
      gf.tokenDropout(col("text"), col("doc_id"), rate, salt).as("text_aug"))
      .withColumn("n_kept", size(tokens(col("text_aug"))).cast("long"))

  /** Perplexity curation gate (CCNet-style): keep documents whose
    * [[lmScore]] surprisal is at or below the corpus's `pct`
    * percentile — "drop the weirdest 10%". The cut-point is ONE
    * exact interpolated percentile collected to the driver and
    * applied as a broadcast comparison (the RFM pattern — no global
    * sort, no ntile window); the comparison runs on the 6-dp-rounded
    * score, so the kept SET replays across engines (ln differs in
    * the last ulp; the rounded grid doesn't).
    */
  def perplexityFilter(docs: DataFrame, pct: Double = 0.9): DataFrame = {
    val scored = lmScore(docs)
      .localCheckpoint(true) // consumed by the percentile agg AND the filter
    val cutRow = scored
      .agg(percentile(col("avg_surprisal"), lit(pct))).head
    // no scorable docs (every doc < 2 tokens) → null percentile →
    // nothing to keep, not an NPE
    if (cutRow.isNullAt(0)) scored.limit(0)
    else scored.filter(col("avg_surprisal") <= cutRow.getDouble(0))
  }

  /** Char-trigram language affinity (fastText-style profile check,
    * with the corpus as its own training set): each language's
    * profile is its top-`profileSize` char trigrams by corpus count
    * (ties broken lexically); a document's score is the fraction of
    * its DISTINCT trigrams found in its own language's profile — low
    * affinity flags mislabeled or code-mixed documents.
    *
    * Plan: one explode into (doc, lang, trigram), distinct, a tiny
    * (|langs|·profileSize) profile aggregate broadcast back as a
    * semi-joinable set, one per-doc aggregate. Integer counts + one
    * division (rounded) — fully oracle-portable.
    */
  def charTrigramAffinity(docs: DataFrame, profileSize: Int = 200,
                          profileRate: Double = 1.0): DataFrame = {
    require(profileRate > 0.0 && profileRate <= 1.0,
      s"profileRate must be in (0,1], got $profileRate")
    // per-doc dedupe happens MAP-SIDE (array_distinct before the
    // explode), so no corpus-wide distinct shuffle ever runs
    def withGrams = docs
      .select(col("doc_id"), col("lang"),
        array_distinct(gf.charTrigrams(col("text"))).as("grams"))
    // pass 1: the per-lang profile — |langs|·profileSize rows total,
    // folded to |langs| array rows and broadcast. profileRate < 1
    // builds it from a deterministic portable hash sample of docs
    // (the 100 TB default: a top-200 trigram profile converges on a
    // small fraction of the corpus; the oracle replays the same md5
    // filter, so sampling costs no checkability)
    val profileDocs =
      Sampling.hashSample(withGrams, "doc_id", profileRate, "trigram_profile")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n").desc, col("trigram"))
    val profile = profileDocs
      .select(col("lang"), explode(col("grams")).as("trigram"))
      .groupBy("lang", "trigram")
      .agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= profileSize)
      .groupBy("lang").agg(collect_list("trigram").as("profile"))
    // pass 2: scoring is fully row-local — array_intersect against
    // the broadcast profile array; no explode, no shuffle, no pinned
    // intermediate state
    withGrams
      .join(broadcast(profile), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"),
        size(col("grams")).cast("long").as("n_trigrams"),
        coalesce(size(array_intersect(col("grams"), col("profile"))).cast("long"),
          lit(0L)).as("n_profile_hits"))
      .filter(col("n_trigrams") > 0) // <3-char docs have no trigrams to score
      .withColumn("affinity",
        round(col("n_profile_hits") / col("n_trigrams"), 6))
  }

  /** Benchmark decontamination: flag corpus documents sharing any
    * token n-gram with a held-out benchmark set (here: a deterministic
    * doc_id slice standing in for an eval suite). The real-world
    * contract — tiny benchmark, vast corpus — is what makes this
    * scale: the benchmark's distinct n-grams broadcast, so the corpus
    * side is a map-side hash semi-join with no shuffle; only matched
    * (doc, gram) rows reach the per-doc count exchange. N-grams are
    * kept as plain strings so any engine can replay the check
    * bit-for-bit; at 100 TB you'd hash them to 8 bytes first (same
    * plan shape, smaller broadcast).
    */
  def decontaminate(docs: DataFrame, n: Int = 3, benchMod: Int = 97): DataFrame = {
    // gram extraction runs as the fused codegen'd kernel
    // (gf.tokenNgrams); TextPropertySpec holds it equal to the
    // interpreted SQL-HOF spelling
    def grams(d: DataFrame): DataFrame =
      d.select(col("doc_id"),
        explode(graft.functions.gf.tokenNgrams(col("text"), n)).as("gram"))
    val bench = broadcast(
      grams(docs.filter(col("doc_id") % benchMod === 0)).select("gram").distinct())
    grams(docs.filter(col("doc_id") % benchMod =!= 0))
      .join(bench, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Benchmark contamination rolled up BY SOURCE — which provenance
    * carries the benchmark-overlapping documents [[decontaminate]]
    * flags. A source whose contamination rate is an outlier scraped
    * the benchmark (or its mirrors) wholesale and is a drop/refetch
    * candidate at the source level, far cheaper than doc-by-doc
    * excision. One extra |corpus|-row left join + an O(|sources|)
    * aggregate on top of the decontamination semi-join; rate is an
    * exact integer ratio rounded once.
    */
  def contaminationBySource(docs: DataFrame, n: Int = 3,
                            benchMod: Int = 97): DataFrame = {
    val overlap = decontaminate(docs, n, benchMod) // (doc_id, n_overlap)
    docs.filter(col("doc_id") % benchMod =!= 0)
      .select("doc_id", "source")
      .join(overlap, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_overlap").isNotNull, 1L).otherwise(0L))
          .as("n_contaminated"),
        sum(coalesce(col("n_overlap"), lit(0L))).as("total_overlap"))
      .withColumn("contamination_rate",
        round(col("n_contaminated") / col("n_docs"), 6))
  }

  /** Sub-document (chunk-level) dedup: split every document into
    * non-overlapping `n`-token chunks, hash each, and report chunks
    * shared across documents — the boilerplate/copied-span detector
    * that document-level dedup can't see (a doc that is 95% unique
    * still carries the shared header). Only 16-byte digests ever
    * shuffle; the chunk text stays in the map task. Same explode →
    * two-level count shape at any corpus size.
    */
  def chunkDedup(docs: DataFrame, n: Int = 8): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.functions.gf.chunkMd5s(col("text"), n)).as("chunk_md5"))
      .groupBy("chunk_md5")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") > 1)

  /** Context-window chunking — the RAG / pretraining chunker:
    * overlapping windows of `window` tokens advancing by `stride`
    * (stride < window ⇒ window−stride tokens of overlap, so no
    * span longer than the overlap is ever split across a boundary
    * without also appearing whole in some chunk). Chunk count is
    * `1 + ⌈max(0, n−window)/stride⌉` — the last window is taken
    * early enough to cover the tail, never beyond it. Pure
    * per-row projection + explode: embarrassingly parallel, no
    * shuffle at all; emits the chunk manifest (offsets, sizes,
    * md5) — the md5 keys feed [[chunkDedup]]-style cross-doc
    * matching and the (doc_id, chunk_idx) keys a downstream
    * embedding pass.
    */
  def contextChunks(docs: DataFrame, window: Int = 32,
                    stride: Int = 24): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      s"need 1 <= stride <= window, got window=$window stride=$stride")
    docs
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("n_chunks", expr(
        s"CASE WHEN size(toks) = 0 THEN 0 " +
          s"ELSE 1 + ((greatest(0, size(toks) - $window) + ${stride - 1}) div $stride) END"))
      // empty docs produce no chunks (sequence(0,-1) would DESCEND)
      .filter(col("n_chunks") > 0)
      .select(col("doc_id"), col("toks"),
        posexplode(expr("sequence(0, n_chunks - 1)")))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_idx"),
        (col("col") * stride).cast("long").as("start_token"),
        expr(s"slice(toks, col * $stride + 1, $window)").as("chunk"))
      .select(col("doc_id"), col("chunk_idx"), col("start_token"),
        size(col("chunk")).cast("long").as("n_tokens"),
        md5(array_join(col("chunk"), " ")).as("chunk_md5"))
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS algorithm): hash every token n-gram, slide a window of
    * `window` consecutive hashes, keep each window's minimum. Any
    * shared run of ≥ n+window−1 tokens is GUARANTEED to share a
    * fingerprint regardless of where it starts — the
    * alignment-robustness that fixed-stride [[chunkDedup]] lacks —
    * while storing ~1/window of the n-gram hashes. Same
    * explode→count plan shape; tokenize→gram-md5→windowed-min runs
    * as ONE fused codegen'd kernel per document
    * ([[graft.functions.TextMd5.winnowMd5Fingerprints]]) — md5 keeps
    * the fingerprints engine-portable (the DuckDB oracle recomputes
    * the identical values), without the interpreted higher-order
    * `transform` and per-gram joined-string allocation of the pure
    * SQL spelling.
    */
  def winnowDedup(docs: DataFrame, n: Int = 3, window: Int = 4): DataFrame =
    docs
      .select(col("doc_id"),
        explode(graft.functions.gf.winnowFingerprints(col("text"), n, window)).as("fp"))
      .groupBy("fp")
      .agg(countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_occurrences"))
      .filter(col("n_docs") > 1)

  /** Winnowing PAIR detection — the MOSS pairing step on top of
    * [[winnowDedup]]'s fingerprints: documents sharing at least
    * `minShared` winnow fingerprints, with the per-fingerprint
    * document frequency capped at `maxDf` (a fingerprint every doc
    * carries — boilerplate — is not evidence of copying and would
    * quadratically explode the bucket). Same bounded single-pass
    * posting collection as the blocked dedup family; any shared run
    * of ≥ n+window−1 tokens guarantees ≥ 1 shared fingerprint, so
    * `minShared = 2` already demands two independent shared runs.
    * Fully deterministic (md5 selection) → oracle-checked.
    */
  def winnowPairs(docs: DataFrame, n: Int = 3, window: Int = 4,
                  maxDf: Int = 64, minShared: Int = 2): DataFrame = {
    val inv = docs.select(col("doc_id"),
      explode(graft.functions.gf.winnowFingerprints(col("text"), n, window)).as("fp"))
    Dedup.sharedPostings(inv, "fp", maxDf, col("id_a") < col("id_b"), "n_shared")
      .filter(col("n_shared") >= minShared)
  }

  /** Zipf frequency spectrum: for each corpus-wide token occurrence
    * count, how many distinct tokens occur exactly that often — the
    * frequency-of-frequencies curve used to sanity-check corpus
    * naturalness (Zipfian decay) and spot synthetic/templated text.
    * Two hash aggregations; the second runs over the vocabulary, not
    * the corpus, and its output is at most |distinct counts| rows.
    */
  def zipfSpectrum(docs: DataFrame): DataFrame =
    docs
      .select(explode(tokens(canonical(col("text")))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("occurrences"))
      .groupBy("occurrences")
      .agg(count(lit(1)).as("n_tokens"))

  /** Per-source Jensen–Shannon divergence against the corpus unigram
    * distribution — the text analog of embedding centroid drift: a
    * source whose token distribution diverges is boilerplate, a
    * different language, or template spam, and JS (unlike KL) is
    * bounded [0, 1 bit] and defined when a term is missing on either
    * side. Closed form that never materializes the corpus-sized
    * "terms NOT in this source" complement: terms absent from a
    * source contribute exactly `0.5·p_c` to its divergence, so
    * JS_s = Σ_{t∈s} [½·p_s·log2(2p_s/(p_s+p_c)) +
    * ½·p_c·log2(2p_c/(p_s+p_c))] + ½·(1 − Σ_{t∈s} p_c). Cost: one
    * (source, term) count (the TF-IDF shuffle), term totals derived
    * FROM it by re-aggregation (the corpus is scanned once), the
    * join at (source, term) grain, one per-source reduce. Output is
    * O(sources) rows; log-sums cross row order → rounded 1e-6.
    */
  def sourceDivergence(docs: DataFrame): DataFrame = {
    val st = docs
      .select(col("source"), explode(tokens(canonical(col("text")))).as("token"))
      .groupBy("source", "token")
      .agg(count(lit(1)).as("c_st"))
      .localCheckpoint(true) // term totals + source totals + join share it
    val tot = st.groupBy("token").agg(sum("c_st").as("c_t"))
    val nSource = st.groupBy("source").agg(sum("c_st").as("n_s"))
    val nAll = st.agg(sum("c_st").as("n"))
    val ps = col("c_st") / col("n_s")
    val pc = col("c_t") / col("n")
    st.join(tot, "token")
      .join(nSource, "source")
      .crossJoin(broadcast(nAll))
      .select(col("source"), col("n_s"), pc.as("pc"),
        (lit(0.5) * ps * log2(lit(2.0) * ps / (ps + pc)) +
          lit(0.5) * pc * log2(lit(2.0) * pc / (ps + pc))).as("contrib"))
      .groupBy("source")
      .agg(
        max("n_s").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum("contrib").as("core"),
        sum("pc").as("cov"))
      .select(
        col("source"), col("n_tokens"), col("vocab"),
        round(col("core") + lit(0.5) * (lit(1.0) - col("cov")), 6)
          .as("js_divergence"),
        round(col("cov"), 6).as("corpus_coverage"))
  }

  /** Per-document Shannon entropy over whitespace tokens (bits/token)
    * — low entropy flags repetitive/templated documents that length
    * and punctuation heuristics miss. One explode + one two-key
    * aggregate + one per-doc aggregate; H = log2(n) − Σc·log2(c)/n
    * keeps everything partial-aggregation friendly (no p=c/n division
    * before the final combine).
    */
  def tokenEntropy(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(canonical(col("text")))).as("token"))
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_tokens"),
        sum(col("c") * log2(col("c"))).as("clog"))
      .select(col("doc_id"), col("n_tokens"),
        (log2(col("n_tokens")) - col("clog") / col("n_tokens")).as("entropy_bits"))

  /** Token-length histogram per language: fixed-width buckets of the
    * whitespace token count. Integer-only arithmetic (portable), one
    * narrow projection + one aggregation.
    */
  def lengthHistogram(docs: DataFrame, bucketWidth: Int = 16): DataFrame =
    docs
      .select(col("lang"),
        size(tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"n_tokens div $bucketWidth"))
      .groupBy("lang", "bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"))

  /** Compressibility quality signal — the Gopher/RefinedWeb-style
    * low-entropy filter's deflate compressed÷raw byte ratio
    * ([[graft.functions.gf.deflateRatio]], SQL `deflate_ratio`) in
    * CALIBRATION form (r17), which gives the driver key a full
    * oracle. zlib itself will never replay in DuckDB, but the
    * calibration pattern doesn't need it to: the key runs over the
    * [[synthLinedCorpus]] fixture (the dup-mass machinery —
    * `doc_id % dupMod = 0` docs carry an EXACT copy of their first
    * paragraph), emits exact anchors both engines compute (doc_id,
    * source, final-text char length via the shared lined-corpus
    * replay) and two boolean claims about the engine's OWN deflate
    * kernel, TRUE by construction on a working zlib and falsified
    * by a broken one:
    *
    *  - `ratio_format_band`: the compressed size sits inside raw
    *    deflate's FEASIBLE band — `[max(2, n/1100), n + 16 +
    *    5·(n div 65535)]` bytes (1032:1 is deflate's hard maximum
    *    compression; stored blocks bound expansion at 5 bytes per
    *    64 KiB block + slack). A theorem over input of ANY size,
    *    not a fixture fit.
    *  - `copy_compresses`: on planted-copy docs whose base+copy
    *    fits deflate's 32 KiB window (≤30 KB with margin; beyond
    *    it the window cannot see the paragraph and the claim is
    *    vacuously true), compressing base+copy costs at most
    *    `max(12, copy_bytes/2)` more than the base alone — the
    *    window finds the repeat and emits back-references, never
    *    the copy's bytes (fixture overhead measures 3-10 bytes vs
    *    36-54-byte copies). A stored-block or wrong-input kernel
    *    fails this.
    *
    * Byte counts are reconstructed as `round(ratio · octet_length)`
    * — exact for any document under ~4 PB, far past the 2 GiB
    * column limit. Two kernel invocations per planted row, still a
    * pure per-row map: no shuffle at any scale. */
  def compressionCalibration(docs: DataFrame, lineTok: Int = 2,
                             paraTok: Int = 8, dupMod: Int = 5): DataFrame =
    linedParts(docs, lineTok, paraTok, dupMod, keep = Seq("source"))
      .withColumn("text", concat(col("base"), col("copy")))
      .select(col("doc_id"), col("source"),
        length(col("text")).cast("long").as("n_chars_text"),
        round(graft.functions.gf.deflateRatio(col("base"))
          * octet_length(col("base"))).cast("long").as("c_base"),
        round(graft.functions.gf.deflateRatio(col("text"))
          * octet_length(col("text"))).cast("long").as("c_with"),
        octet_length(col("text")).cast("long").as("nb"),
        octet_length(col("copy")).cast("long").as("copy_bytes"))
      .select(col("doc_id"), col("source"), col("n_chars_text"),
        // upper bound scales with the stored-block count (5 bytes
        // per 64 KiB block), so the theorem holds for documents of
        // ANY size, not just ones under two blocks (r17 review)
        (col("nb") === 0 ||
          (col("c_with") >= greatest(lit(2L), expr("nb div 1100")) &&
            col("c_with") <= col("nb") + lit(16L) +
              lit(5L) * expr("nb div 65535")))
          .as("ratio_format_band"),
        // the back-reference claim is only a theorem while the
        // copy's SOURCE sits inside deflate's 32 KiB window at the
        // copy position — i.e. base+copy fits the window (with
        // margin); beyond that the window cannot see the paragraph
        // and the claim is vacuously true (r17 review: a >32 KiB
        // healthy doc must not fail the driver contract)
        (col("copy_bytes") === 0 || col("nb") > 30000 ||
          col("c_with") <= col("c_base") +
            greatest(lit(12L), expr("copy_bytes div 2")))
          .as("copy_compresses"))

  /** Per-source n-gram diversity — the corpus-variety diagnostic a
    * data-mixture designer reads next to the dup rate: a source
    * whose gram vocabulary is tiny relative to its gram volume is
    * template/boilerplate text even when no two documents are
    * near-dups (within-doc repetition is [[repetitionProfile]]'s
    * job; this catches CROSS-doc sameness below the dedup
    * threshold). Grams are per-doc distinct via the fused
    * [[graft.functions.gf.tokenNgrams]] kernel (SQL-spelling parity
    * twin spec-held), so `total_grams` counts each doc's vocabulary
    * contribution once. `diversity` is one division of two exact
    * longs. Scale note: the per-source distinct-gram count is the
    * expensive half at 100 TB — the documented swap is
    * `approx_count_distinct`, the `etl_dq_profile_approx` pattern.
    */
  def ngramDiversity(docs: DataFrame, n: Int = 3): DataFrame =
    docs
      .select(col("source"), col("doc_id"),
        explode(graft.functions.gf.tokenNgrams(col("text"), n)).as("gram"))
      .groupBy("source")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("total_grams"),
        countDistinct(col("gram")).as("vocab"),
        (countDistinct(col("gram")).cast("double") /
          count(lit(1)).cast("double")).as("diversity"))

  /** Tokenizer fertility per (source, lang) — subword tokens per
    * whitespace word (the BPE-proxy [[bpeTokenCount]] over the
    * shared [[tokens]] count): the LLM-budget exchange rate that
    * decides what a "1T-token mix" actually contains, since the same
    * document budget buys very different token counts across
    * languages and sources (code and non-Latin scripts fragment
    * harder). Fertility is the ratio of two exact SUMS (not the mean
    * of ratios — short docs would dominate), one quotient rounded
    * once. Pure per-row counters into one hash aggregate; no
    * shuffle beyond the group-by.
    */
  def tokenizerFertility(docs: DataFrame): DataFrame =
    docs
      .select(col("source"), col("lang"),
        size(tokens(col("text"))).cast("long").as("ws"),
        bpeTokenCount(col("text")).as("bpe"))
      .groupBy("source", "lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("ws").as("ws_tokens"),
        sum("bpe").as("bpe_tokens"))
      .withColumn("fertility",
        round(col("bpe_tokens").cast("double") /
          greatest(col("ws_tokens"), lit(1L)).cast("double"), 6))

  /** Per-document readability: word / sentence / syllable counts and
    * the Flesch reading-ease + Flesch–Kincaid grade scores — the
    * classic audience-level signal a curation mix balances on (an
    * all-grade-16 corpus trains a model that can't write simply;
    * all-grade-4 caps its register). Heuristic counters chosen for
    * exact cross-engine replay: sentences = runs of `[.!?]`, words =
    * the shared whitespace [[tokens]], syllables = vowel-group runs
    * `[aeiouy]+` of the lowercased text (the standard approximation;
    * whitespace separates tokens, so counting over the whole text ≡
    * summing per word). All three counts are exact longs; each score
    * is one float expression over them, rounded once. Like every
    * §2.E projection: narrow per-row work, no shuffle, no UDF.
    */
  def readability(docs: DataFrame): DataFrame = {
    val words = greatest(size(tokens(col("text"))).cast("long"), lit(1L))
    val sentences = greatest(
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"),
      lit(1L))
    val syllables = size(
      regexp_extract_all(gf.lowerText(col("text")), lit("[aeiouy]+"), lit(0)))
      .cast("long")
    docs.select(
      col("doc_id"),
      words.as("n_words"),
      sentences.as("n_sentences"),
      syllables.as("n_syllables"),
      round(lit(206.835)
        - lit(1.015) * (words.cast("double") / sentences.cast("double"))
        - lit(84.6) * (syllables.cast("double") / words.cast("double")), 6)
        .as("flesch_ease"),
      round(lit(0.39) * (words.cast("double") / sentences.cast("double"))
        + lit(11.8) * (syllables.cast("double") / words.cast("double"))
        - lit(15.59), 6).as("fk_grade"))
  }

  /** Byte-pair-encoding MERGE TRAINING — the tokenizer-building
    * step itself, not a proxy: learn `merges` greedy merges from the
    * corpus (most frequent adjacent symbol pair, weighted by word
    * frequency; ties by (pair) lexicographically) and emit the merge
    * table. This is the Sennrich et al. subword algorithm that
    * [[bpeTokenCount]] approximates from the consumer side.
    *
    * Plan shape per iteration: adjacent pairs explode from the
    * VOCABULARY relation (distinct words × their current symbol
    * split — O(|vocab| · word length) rows, never the corpus; the
    * corpus is touched exactly once to count words), one weighted
    * aggregate, a 1-row argmax to the driver, then the merge applies
    * as a pure leftmost-greedy array fold (same-symbol runs merge
    * non-overlapping: "aaa" + (a,a) → [aa, a]). The vocabulary
    * relation is checkpointed between iterations — the kmeans
    * posture: iterations are sequential scans of a bounded relation,
    * and the plan never nests one iteration's fold inside the next.
    * Fully deterministic (integer counts, lexicographic ties), so
    * the whole training loop is oracle-checkable by unrolling
    * iterations as CTEs.
    */
  def bpeTrain(docs: DataFrame, merges: Int = 6): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    bpeLoop(docs, merges)._1.toSeq
      .toDF("merge_idx", "left_sym", "right_sym", "merged", "pair_count")
  }

  /** The TRAINED vocabulary: [[bpeTrain]]'s merges applied back to
    * every word — the fertility readout of the learned tokenizer
    * (chars per word vs BPE tokens per word is the compression the
    * merge table buys; compare [[tokenizerFertility]]'s fixed-rule
    * proxy). Same loop, the final symbol state emitted instead of
    * the merge table; `token_seq` is the words' actual subword
    * split, joined for a hash-stable scalar column.
    */
  def bpeVocab(docs: DataFrame, merges: Int = 6): DataFrame =
    bpeLoop(docs, merges)._2
      .select(col("word"), col("n"),
        length(col("word")).cast("long").as("n_chars"),
        size(col("syms")).cast("long").as("n_tokens"),
        concat_ws(" ", col("syms")).as("token_seq"))

  /** The trained tokenizer APPLIED at corpus grain — the budget
    * question itself ("how many tokens is this corpus under the
    * LEARNED tokenizer"), which [[tokenizerFertility]] only proxies
    * with a fixed rule and [[bpeVocab]] answers at vocabulary grain.
    * [[bpeLoop]]'s final state is a bounded word → subword-split
    * model (O(|vocab|) rows — BPE vocabularies are small by
    * construction), so application is ONE corpus scan: explode
    * words, BROADCAST-join the vocabulary, aggregate per source; the
    * corpus never shuffles on anything but the final source keys.
    * Words outside the training vocabulary fall back to their
    * character split (`length(word)` tokens) — the no-merges-apply
    * identity, unreachable when train and apply corpora coincide but
    * the right contract for applying a stored tokenizer to new data.
    * Fertility (subwords per whitespace word) and compression (chars
    * per subword) are ratios of exact SUMS, each rounded once.
    */
  def bpeApply(docs: DataFrame, merges: Int = 6): DataFrame = {
    val vocab = bpeLoop(docs, merges)._2
      .select(col("word"), size(col("syms")).cast("long").as("n_sub"))
    docs.select(col("source"), col("doc_id"),
        explode(tokens(col("text"))).as("word"))
      .join(broadcast(vocab), Seq("word"), "left")
      .groupBy("source")
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("ws_tokens"),
        sum(length(col("word"))).cast("long").as("n_chars"),
        sum(coalesce(col("n_sub"), length(col("word")).cast("long")))
          .as("bpe_tokens"))
      .withColumn("fertility",
        round(col("bpe_tokens").cast("double") /
          greatest(col("ws_tokens"), lit(1L)).cast("double"), 6))
      .withColumn("compression",
        round(col("n_chars").cast("double") /
          greatest(col("bpe_tokens"), lit(1L)).cast("double"), 6))
  }

  /** Word dicts at or under this row count run the BPE merge loop as
    * a driver fold; bigger dicts keep the distributed loop. 64k words
    * × ~40 bytes is single-digit MB of driver state — far under any
    * broadcast this engine already ships — while a 100 TB crawl's
    * distinct-word dict (URLs, typos — NOT vocab-bounded) stays out
    * of the driver. Adaptive plan choice, bm25MaxScore's pattern:
    * both branches produce bit-identical merges (integer counts,
    * UTF8-binary tie-breaks), only cost differs. */
  private val BpeDriverFoldMaxWords = 65536L

  private[graft] def bpeLoop(docs: DataFrame, merges: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE corpus aggregate builds the word-frequency dict — the
    // classic BPE training state. When the dict is driver-sized the
    // merge loop folds on the DRIVER (r19): every round is integer
    // pair counts and string re-splits over O(|dict|) rows, and
    // running it as `merges` aggregate+orderBy+checkpoint rounds was
    // pure scheduling latency — the markov/forecast driver-fold
    // discipline. Arithmetic is exact (long sums, string equality),
    // so the learned merge table is bit-identical; the tie-break
    // comparator mirrors Spark's UTF8String BINARY order so the
    // chosen pair matches the relational `orderBy(a, b)` even on
    // non-ASCII symbols.
    // per-CODE-POINT split, matching SQL substring's character grain
    def charSplit(w: String): List[String] = {
      val out = scala.collection.mutable.ListBuffer.empty[String]
      var i = 0
      while (i < w.length) {
        val cp = w.codePointAt(i)
        out += new String(Character.toChars(cp))
        i += Character.charCount(cp)
      }
      out.toList
    }
    val dict = docs
      .select(explode(tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    if (dict.count() <= BpeDriverFoldMaxWords) {
      var state: Array[(String, Long, List[String])] = dict
        .collect()
        .map(r => (r.getString(0), r.getLong(1), charSplit(r.getString(0))))
      val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
      var i = 1
      var exhausted = false
      while (i <= merges && !exhausted) {
        val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
        for ((_, n, syms) <- state) {
          var j = 0
          val arr = syms.toArray
          while (j < arr.length - 1) {
            val k = (arr(j), arr(j + 1))
            counts(k) = counts.getOrElse(k, 0L) + n
            j += 1
          }
        }
        if (counts.isEmpty) exhausted = true
        else {
          val ((a, b), cnt) = counts.minBy { case ((a, b), c) => (c, a, b) }(
            Ordering.Tuple3(Ordering.Long.reverse,
              Ordering.fromLessThan(Unigram.u8lt),
              Ordering.fromLessThan(Unigram.u8lt)))
          out += ((i.toLong, a, b, a + b, cnt))
          // left-to-right adjacent-pair merge — the exact fold the SQL
          // `aggregate(...)` expression ran: a freshly merged symbol
          // can itself be the left side of the next comparison
          state = state.map { case (w, n, syms) =>
            (w, n, syms.foldLeft(List.empty[String])((acc, x) =>
              if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
              else acc :+ x))
          }
        }
        i += 1
      }
      (out.toSeq, state.toSeq.map { case (w, n, syms) => (w, n, syms) }
        .toDF("word", "n", "syms"))
    } else bpeLoopDistributed(dict, merges)
  }

  /** The distributed merge loop — the pre-r19 form, kept as the
    * big-dict branch of [[bpeLoop]]'s adaptive choice: per round, one
    * pair-count aggregate + orderBy(1) over the dict and one re-split
    * checkpoint; only the best pair ever reaches the driver. */
  private[graft] def bpeLoopDistributed(dict: DataFrame, merges: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame) = {
    def esc(s: String): String = s.replace("\\", "\\\\").replace("'", "\\'")
    var syms = dict
      .withColumn("syms", expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
      .localCheckpoint(true)
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    var i = 1
    var exhausted = false
    while (i <= merges && !exhausted) {
      val best = syms.filter(size(col("syms")) >= 2)
        .select(col("n"), explode(expr(
          "transform(sequence(0, size(syms) - 2), " +
            "j -> struct(syms[j] AS a, syms[j + 1] AS b))")).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("n").as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        out += ((i.toLong, a, b, a + b, cnt))
        syms = syms.withColumn("syms", expr(
          s"""aggregate(syms, cast(array() as array<string>),
             | (acc, x) -> CASE WHEN size(acc) > 0
             |  AND element_at(acc, -1) = '${esc(a)}' AND x = '${esc(b)}'
             | THEN concat(slice(acc, 1, size(acc) - 1),
             |   array('${esc(a + b)}'))
             | ELSE concat(acc, array(x)) END)""".stripMargin))
          .localCheckpoint(true)
      }
      i += 1
    }
    (out.toSeq, syms)
  }
}
