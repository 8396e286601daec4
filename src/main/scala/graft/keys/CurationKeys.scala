package graft
package keys

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import OracleFragments._
import Shared._

/** The curation keys (`docs_*`): the LLM-data curation gates and
  * pipelines, their source policies, packing and token budgets. */
private[graft] object CurationKeys extends Family("docs_") {

  // per-doc keep/drop under the corpus-duplication gate (same
  // pinned doc-grain relation docs_dup_ngram_corpus aggregates)
  lazy val docsDupNgramApply: Key = Key("docs_dup_ngram_apply")((s, dir) =>
    TextAnalysis.dupNgramApply(sharedDupNgramDocs(s, dir)))(
    // Doc-grain coverage gate oracle — the coverage chain at doc
    // grain, keep iff the exact duplicated-char fraction stays under
    // the 0.5 gate; shared VERBATIM by `docs_dup_ngram_apply` and its
    // intake twin `stream_dup_ngram_gate` (same relation by
    // definition).
    toksCte + ", " + dupNgramCoverageCtes +
      """SELECT dd.doc_id, dd.source,
        | tc.tok_chars,
        | CAST(coalesce(cc.dup_chars, 0) AS BIGINT) AS dup_chars,
        | CASE WHEN tc.tok_chars > 0 THEN
        |  CAST(coalesce(cc.dup_chars, 0) AS BIGINT) / tc.tok_chars
        |  ELSE 0.0 END AS dup_char_fraction,
        | CASE WHEN tc.tok_chars > 0 THEN
        |  CAST(coalesce(cc.dup_chars, 0) AS BIGINT) / tc.tok_chars
        |  ELSE 0.0 END <= 0.5 AS keep
        |FROM documents dd JOIN tc USING (doc_id)
        |LEFT JOIN cc USING (doc_id)""")

  // APPLY the span extraction (r13): spans CUT, residual text
  // emitted per doc — the Lee-et-al dedup's actual output, same
  // covered-position union as spans/coverage, same pinned trunk
  lazy val docsDupSpansApply: Key = Key("docs_dup_spans_apply")((s, dir) =>
    TextAnalysis.dupSpansApply(Tables.documents(s, dir),
      TextAnalysis.startsOfOcc(sharedDupNgramOcc(s, dir))))(
    // Residual-text span removal oracle — shared VERBATIM by
    // `docs_dup_spans_apply` and its intake twin
    // `stream_dup_span_scrub` (the store probe reproduces the
    // covered-position union exactly).
      // residual text after cutting covered positions — the same
      // cpos relation, rebuilt row-locally via an indexed transform
      (toksCte + ", " + dupNgramCoverageCtes +
        """, cv AS (SELECT doc_id, list(p) AS cov FROM cpos GROUP BY 1)
          |SELECT t.doc_id, d.source,
          | CAST(len(t.toks) AS BIGINT) AS n_toks,
          | CAST(coalesce(len(cv.cov), 0) AS BIGINT) AS n_toks_removed,
          | coalesce(array_to_string(list_filter(list_transform(
          |   range(1, len(t.toks) + 1),
          |   i -> CASE WHEN cv.cov IS NOT NULL AND
          |     list_contains(cv.cov, i - 1) THEN NULL
          |    ELSE t.toks[i] END), x -> x IS NOT NULL), ' '), '')
          |  AS clean_text
          |FROM t JOIN documents d USING (doc_id)
          |LEFT JOIN cv USING (doc_id)"""))

  // quality-distribution drift between corpus snapshots (r13):
  // fixed-bin PSI per quality metric off the pinned metric pass
  lazy val docsQualityDrift: Key = Key("docs_quality_drift")((s, dir) =>
    TextAnalysis.qualityDrift(sharedGopherFlagged(s, dir)))(
    // Fixed-bin PSI per quality metric over the qprof chain —
    // shared VERBATIM by `docs_quality_drift` and its streaming twin
    // `stream_quality_drift` (the stream folds the same counters
    // against the same baseline split, so the relation is identical
    // by construction).
      // fixed-bin PSI per metric over the qprof chain: Laplace-0.5
      // smoothing over each metric's theoretical bucket count, the
      // events_value_psi convention
      s"""WITH $qualCorpusCte, ${linedCtesFrom("qd")}, $qualProfileCtes,
         |st AS (__STACK__),
         |tg AS (SELECT metric, value, doc_id % 2 = 0 AS is_a FROM st),
         |bk AS (SELECT metric, is_a, __BUCKET__ AS bucket FROM tg),
         |ct AS (SELECT metric, bucket,
         |  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
         | FROM bk GROUP BY 1, 2),
         |pr AS (SELECT metric, bucket, n_a, n_b,
         |  (n_a + 0.5) / (CAST(sum(n_a) OVER (PARTITION BY metric)
         |    AS DOUBLE) + (__HALFN__)) AS p_a,
         |  (n_b + 0.5) / (CAST(sum(n_b) OVER (PARTITION BY metric)
         |    AS DOUBLE) + (__HALFN__)) AS p_b FROM ct),
         |ps AS (SELECT *, (p_b - p_a) * ln(p_b / p_a) AS psi_term
         | FROM pr),
         |tt AS (SELECT *, sum(psi_term) OVER (PARTITION BY metric)
         |  AS psi_raw FROM ps)
         |SELECT metric, bucket, n_a, n_b,
         | round(p_a, 6) AS p_a, round(p_b, 6) AS p_b,
         | round(psi_term, 6) AS psi_term,
         | round(psi_raw, 6) AS psi_total, psi_raw > 0.2 AS drifted
         |FROM tt"""
        .replace("__STACK__", "SELECT doc_id, 'n_words' AS metric, CAST(n_words AS DOUBLE) AS value FROM qprof UNION ALL SELECT doc_id, 'mean_word_len' AS metric, CAST(mean_word_len AS DOUBLE) AS value FROM qprof UNION ALL SELECT doc_id, 'symbol_word_ratio' AS metric, CAST(symbol_word_ratio AS DOUBLE) AS value FROM qprof UNION ALL SELECT doc_id, 'bullet_line_fraction' AS metric, CAST(bullet_line_fraction AS DOUBLE) AS value FROM qprof UNION ALL SELECT doc_id, 'ellipsis_line_fraction' AS metric, CAST(ellipsis_line_fraction AS DOUBLE) AS value FROM qprof UNION ALL SELECT doc_id, 'alpha_word_fraction' AS metric, CAST(alpha_word_fraction AS DOUBLE) AS value FROM qprof UNION ALL SELECT doc_id, 'stop_word_hits' AS metric, CAST(stop_word_hits AS DOUBLE) AS value FROM qprof")
        .replace("__BUCKET__", "CASE metric WHEN 'n_words' THEN CAST((CASE WHEN value > 25 THEN 1 ELSE 0 END) + (CASE WHEN value > 50 THEN 1 ELSE 0 END) + (CASE WHEN value > 100 THEN 1 ELSE 0 END) + (CASE WHEN value > 200 THEN 1 ELSE 0 END) + (CASE WHEN value > 500 THEN 1 ELSE 0 END) AS BIGINT) WHEN 'mean_word_len' THEN CAST((CASE WHEN value > 2 THEN 1 ELSE 0 END) + (CASE WHEN value > 3 THEN 1 ELSE 0 END) + (CASE WHEN value > 5 THEN 1 ELSE 0 END) + (CASE WHEN value > 7 THEN 1 ELSE 0 END) + (CASE WHEN value > 10 THEN 1 ELSE 0 END) + (CASE WHEN value > 15 THEN 1 ELSE 0 END) AS BIGINT) WHEN 'symbol_word_ratio' THEN CAST((CASE WHEN value > 0.01 THEN 1 ELSE 0 END) + (CASE WHEN value > 0.05 THEN 1 ELSE 0 END) + (CASE WHEN value > 0.1 THEN 1 ELSE 0 END) + (CASE WHEN value > 0.2 THEN 1 ELSE 0 END) AS BIGINT) WHEN 'bullet_line_fraction' THEN CAST((CASE WHEN value > 0.1 THEN 1 ELSE 0 END) + (CASE WHEN value > 0.5 THEN 1 ELSE 0 END) + (CASE WHEN value > 0.9 THEN 1 ELSE 0 END) AS BIGINT) WHEN 'ellipsis_line_fraction' THEN CAST((CASE WHEN value > 0.1 THEN 1 ELSE 0 END) + (CASE WHEN value > 0.3 THEN 1 ELSE 0 END) AS BIGINT) WHEN 'alpha_word_fraction' THEN CAST((CASE WHEN value > 0.5 THEN 1 ELSE 0 END) + (CASE WHEN value > 0.8 THEN 1 ELSE 0 END) + (CASE WHEN value > 0.95 THEN 1 ELSE 0 END) AS BIGINT) WHEN 'stop_word_hits' THEN CAST((CASE WHEN value > 0.5 THEN 1 ELSE 0 END) + (CASE WHEN value > 1.5 THEN 1 ELSE 0 END) + (CASE WHEN value > 3.5 THEN 1 ELSE 0 END) + (CASE WHEN value > 7.5 THEN 1 ELSE 0 END) AS BIGINT) END")
        .replace("__HALFN__", "CASE metric WHEN 'n_words' THEN 3.0 WHEN 'mean_word_len' THEN 3.5 WHEN 'symbol_word_ratio' THEN 2.5 WHEN 'bullet_line_fraction' THEN 2.0 WHEN 'ellipsis_line_fraction' THEN 1.5 WHEN 'alpha_word_fraction' THEN 2.0 WHEN 'stop_word_hits' THEN 2.5 END"))

  lazy val keys: Seq[Key] = Seq(
    Key("docs_perplexity_filter")((s, dir) =>
      TextAnalysis.perplexityFilter(Tables.documents(s, dir)))(
      (toksCte +
        """, p AS (SELECT doc_id,
          |  unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
          | FROM t WHERE len(toks) >= 2),
          |b AS (SELECT w1, w2, count(*) AS c_bigram FROM p GROUP BY 1, 2),
          |f AS (SELECT w1, count(*) AS c_first FROM p GROUP BY 1),
          |s AS (SELECT doc_id, count(*) AS n_bigrams,
          |  round(avg(-ln(c_bigram / c_first)), 6) AS avg_surprisal
          | FROM p JOIN b USING (w1, w2) JOIN f USING (w1) GROUP BY doc_id),
          |c AS (SELECT quantile_cont(avg_surprisal, 0.9) AS cut FROM s)
          |SELECT s.doc_id, s.n_bigrams, s.avg_surprisal
          |FROM s, c WHERE s.avg_surprisal <= c.cut""")),
    Key("docs_augment_dropout")((s, dir) =>
      TextAnalysis.augmentTokenDropout(Tables.documents(s, dir)))(
      // drop token i of doc d iff md5('d:i:aug0')[:8] < 0x19999999
      // (rate 0.1); DuckDB lambda index is 1-based → i - 1
      (toksCte +
        """, kept AS (SELECT doc_id, list_filter(toks, (x, i) ->
          |  substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
          |    CAST(i - 1 AS VARCHAR) || ':aug0'), 1, 8) >= '19999999')
          |  AS ktoks FROM t)
          |SELECT doc_id, array_to_string(ktoks, ' ') AS text_aug,
          | CAST(len(ktoks) AS BIGINT) AS n_kept
          |FROM kept""")),
    Key("docs_vocab_growth")((s, dir) =>
      TextAnalysis.vocabGrowth(Tables.documents(s, dir)))(
      (toksCte +
        """, f AS (SELECT unnest(list_distinct(toks)) AS word,
          |  doc_id FROM t),
          |fs AS (SELECT word, min(doc_id) AS first_doc FROM f GROUP BY 1),
          |m AS (SELECT max(doc_id) AS max_id FROM documents),
          |b AS (SELECT first_doc * 10 // (max_id + 1) AS checkpoint
          |  FROM fs, m)
          |SELECT checkpoint, count(*) AS new_types,
          | CAST(sum(count(*)) OVER (ORDER BY checkpoint
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
          |  AS vocab_size
          |FROM b GROUP BY 1""")),
    // all 20 Gopher thresholds (13 repetition + 7 quality, r13)
    // applied as a per-source removal gate over the combined fixture
    // (quality plants per doc_id % 17 class + planted dup paragraphs)
    Key("docs_gopher_gate")((s, dir) =>
      TextAnalysis.gopherGate(Tables.documents(s, dir),
        sharedGopherFlagged(s, dir))) {
      // all three per-doc profile chains joined to sources, then the
      // 20 paper thresholds as CASE counters - every comparison is a
      // deterministic double (one exact-integer division) against a
      // shared literal, every output an integer count or one final
      // division
      val fAny = s"($qualAnySql OR $repLineSql OR $repParaSql OR $repTopSql OR $repDupSql)"
      def cnt(f: String, as: String) =
        s"CAST(sum(CASE WHEN $f THEN 1 ELSE 0 END) AS BIGINT) AS $as"
      s"""WITH $qualCorpusCte, ${linedCtesFrom("qd")},
         |$gopherProfileCtes, $dupMassCtes, $qualProfileCtes,
         |j AS (SELECT d.source, r.dup_line_fraction, r.dup_para_fraction,
         |  r.dup_line_char_fraction, r.dup_para_char_fraction,
         |  r.top2gram_char_fraction, r.top3gram_char_fraction,
         |  r.top4gram_char_fraction, g.dup5gram_char_fraction,
         |  g.dup6gram_char_fraction, g.dup7gram_char_fraction,
         |  g.dup8gram_char_fraction, g.dup9gram_char_fraction,
         |  g.dup10gram_char_fraction, q.n_words, q.mean_word_len,
         |  q.symbol_word_ratio, q.bullet_line_fraction,
         |  q.ellipsis_line_fraction, q.alpha_word_fraction,
         |  q.stop_word_hits
         | FROM rep_profile r JOIN dng g ON g.doc_id = r.doc_id
         | JOIN qprof q ON q.doc_id = r.doc_id
         | JOIN documents d ON d.doc_id = r.doc_id)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         | ${cnt(qualAnySql, "n_quality_gate")},
         | ${cnt(repLineSql, "n_dup_line_gate")},
         | ${cnt(repParaSql, "n_dup_para_gate")},
         | ${cnt(repTopSql, "n_top_gram_gate")},
         | ${cnt(repDupSql, "n_dup_gram_gate")},
         | ${cnt(fAny, "n_flagged")},
         | CAST(sum(CASE WHEN $fAny THEN 1 ELSE 0 END) AS BIGINT)
         |  / CAST(count(*) AS BIGINT) AS flag_share
         |FROM j GROUP BY 1"""
    },
    Key("docs_gopher_apply")((s, dir) =>
      TextAnalysis.gopherGateApply(Tables.documents(s, dir),
        sharedGopherFlagged(s, dir))) {
      // per-doc CASE in fixed family precedence (7 quality families
      // in table order, then the repetition four) over the same
      // joined profile relations; keep = no family fired
      s"""WITH $qualCorpusCte, ${linedCtesFrom("qd")},
         |$gopherProfileCtes, $dupMassCtes, $qualProfileCtes,
         |j AS (SELECT d.doc_id, d.source,
         |  CASE WHEN ${qualFlagSql("n_words")} THEN 'word_count'
         |   WHEN ${qualFlagSql("mean_word_len")} THEN 'word_len'
         |   WHEN ${qualFlagSql("symbol_word_ratio")} THEN 'symbol'
         |   WHEN ${qualFlagSql("bullet_line_fraction")} THEN 'bullet'
         |   WHEN ${qualFlagSql("ellipsis_line_fraction")} THEN 'ellipsis_line'
         |   WHEN ${qualFlagSql("alpha_word_fraction")} THEN 'alpha'
         |   WHEN ${qualFlagSql("stop_word_hits")} THEN 'stop_word'
         |   WHEN $repLineSql THEN 'line'
         |   WHEN $repParaSql THEN 'para'
         |   WHEN $repTopSql THEN 'top_gram'
         |   WHEN $repDupSql THEN 'dup_gram' END AS gate_family
         | FROM rep_profile r JOIN dng g ON g.doc_id = r.doc_id
         | JOIN qprof q ON q.doc_id = r.doc_id
         | JOIN documents d ON d.doc_id = r.doc_id)
         |SELECT doc_id, source, gate_family IS NULL AS keep, gate_family
         |FROM j"""
    },
    // what the gate costs the budget: per-source kept docs/tokens
    Key("docs_gopher_cost")((s, dir) =>
      TextAnalysis.gopherGateCost(Tables.documents(s, dir),
        sharedGopherFlagged(s, dir)))(
      // survivors chain joined to RAW token counts; all sums exact
      s"""WITH $qualCorpusCte, ${linedCtesFrom("qd")},
         |$gopherProfileCtes, $dupMassCtes, $qualProfileCtes,
         |k AS (SELECT r.doc_id, NOT ($repAnySql OR $qualAnySql) AS keep
         | FROM rep_profile r JOIN dng g ON g.doc_id = r.doc_id
         | JOIN qprof q ON q.doc_id = r.doc_id),
         |tc AS (SELECT doc_id, CAST(len(list_filter(
         |  regexp_split_to_array(text, '\\s+'), x -> x <> ''))
         |  AS BIGINT) AS n_toks FROM documents)
         |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
         | CAST(sum(CASE WHEN k.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         | CAST(sum(tc.n_toks) AS BIGINT) AS tokens_total,
         | CAST(sum(CASE WHEN k.keep THEN tc.n_toks ELSE 0 END) AS BIGINT)
         |  AS tokens_kept,
         | CASE WHEN sum(tc.n_toks) > 0 THEN
         |  CAST(sum(CASE WHEN k.keep THEN tc.n_toks ELSE 0 END) AS BIGINT)
         |   / CAST(sum(tc.n_toks) AS BIGINT)
         |  ELSE 0.0 END AS token_retention
         |FROM documents d JOIN k ON k.doc_id = d.doc_id
         |JOIN tc ON tc.doc_id = d.doc_id
         |GROUP BY 1"""),
    // the QUALITY half's per-doc metric profile (r13): the 7 paper
    // metrics over the combined fixture, off the same pinned pass
    Key("docs_gopher_quality")((s, dir) =>
      TextAnalysis.gopherQuality(sharedGopherFlagged(s, dir)))(
      // the 7 quality metrics straight off the qprof chain
      s"""WITH $qualCorpusCte, ${linedCtesFrom("qd")}, $qualProfileCtes
         |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
         | bullet_line_fraction, ellipsis_line_fraction,
         | alpha_word_fraction, stop_word_hits
         |FROM qprof"""),
    // corpus-grain dup n-grams: char coverage of n-grams occurring
    // in >= 2 distinct docs, rolled up per source (n=8)
    Key("docs_dup_ngram_corpus")((s, dir) =>
      TextAnalysis.dupNgramCorpus(sharedDupNgramDocs(s, dir)))(
      // cross-doc dup 8-grams over the RAW documents table: the
      // textbook definition (distinct-doc count >= 2, position
      // coverage union, exact integer counters, one division)
      (toksCte + ", " + dupNgramCoverageCtes +
        """SELECT dd.source, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(CASE WHEN coalesce(cc.dup_chars, 0) > 0 THEN 1
          |   ELSE 0 END) AS BIGINT) AS n_docs_with_dup,
          | CAST(sum(tc.tok_chars) AS BIGINT) AS tok_chars,
          | CAST(sum(coalesce(cc.dup_chars, 0)) AS BIGINT) AS dup_chars,
          | CASE WHEN sum(tc.tok_chars) > 0 THEN
          |  CAST(sum(coalesce(cc.dup_chars, 0)) AS BIGINT)
          |   / CAST(sum(tc.tok_chars) AS BIGINT)
          |  ELSE 0.0 END AS dup_char_fraction
          |FROM documents dd JOIN tc USING (doc_id)
          |LEFT JOIN cc USING (doc_id)
          |GROUP BY 1""")),
    docsDupNgramApply,
    // maximal duplicate SPANS (r13, Lee et al. exact-substring
    // target): adjacent corpus-duplicated positions chain into
    // per-doc spans via gaps-and-islands over the SAME pinned trunk
    Key("docs_dup_spans")((s, dir) =>
      TextAnalysis.dupSpans(Tables.documents(s, dir),
        TextAnalysis.startsOfOcc(sharedDupNgramOcc(s, dir))))(
      // gaps-and-islands over the SAME covered-position relation the
      // coverage chain derives: island = p - row_number, spans =
      // per-island min/max/count, char masses from the token arrays
      (toksCte + ", " + dupNgramCoverageCtes +
        """, isl AS (SELECT doc_id, p,
          |  p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
          |   AS island FROM cpos),
          |sp AS (SELECT doc_id, CAST(min(p) AS BIGINT) AS start_pos,
          |  CAST(max(p) AS BIGINT) AS end_pos,
          |  CAST(count(*) AS BIGINT) AS span_tokens
          | FROM isl GROUP BY doc_id, island)
          |SELECT sp.doc_id,
          | CAST(row_number() OVER (PARTITION BY sp.doc_id
          |  ORDER BY sp.start_pos) AS BIGINT) AS span_idx,
          | sp.start_pos, sp.end_pos, sp.span_tokens,
          | CAST(coalesce(list_sum(list_transform(
          |  t.toks[1:sp.start_pos], x -> length(x))), 0) AS BIGINT)
          |  AS char_start,
          | CAST(list_sum(list_transform(
          |  t.toks[sp.start_pos + 1:sp.end_pos + 1], x -> length(x)))
          |  AS BIGINT) AS span_chars,
          | CASE WHEN tc.tok_chars > 0 THEN
          |  CAST(list_sum(list_transform(
          |   t.toks[sp.start_pos + 1:sp.end_pos + 1], x -> length(x)))
          |   AS BIGINT) / tc.tok_chars
          |  ELSE 0.0 END AS removal_fraction
          |FROM sp JOIN t USING (doc_id) JOIN tc USING (doc_id)""")),
    docsDupSpansApply,
    docsQualityDrift,
    // C4 cross-document line dedup: keep the first occurrence of
    // every identical line corpus-wide, bill the rest per source
    Key("docs_dup_line_removal")((s, dir) =>
      TextAnalysis.dupLineRemoval(
        TextAnalysis.synthLinedCorpus(Tables.documents(s, dir),
          keep = Seq("source"))))(
      // keep-first over identical lines corpus-wide: row_number on
      // the natural (doc_id, idx) order — discrete, tie-free; the
      // lined replay's t2.lines IS the operator's filtered line list
      s"""WITH $linedCtes,
        |lp AS (SELECT doc_id, u.i - 1 AS idx, lines[u.i] AS line
        | FROM t2, LATERAL (SELECT unnest(generate_series(1,
        |   len(lines))) AS i) u),
        |fl AS (SELECT doc_id, idx, line, row_number() OVER
        |  (PARTITION BY line ORDER BY doc_id, idx) AS rn FROM lp),
        |pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS lines_total,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS lines_removed,
        |  CAST(sum(length(line)) AS BIGINT) AS line_chars,
        |  CAST(sum(CASE WHEN rn > 1 THEN length(line) ELSE 0 END)
        |   AS BIGINT) AS chars_removed
        | FROM fl GROUP BY 1)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN coalesce(pd.lines_removed, 0) > 0 THEN 1
        |   ELSE 0 END) AS BIGINT) AS n_docs_affected,
        | CAST(sum(coalesce(pd.lines_total, 0)) AS BIGINT) AS lines_total,
        | CAST(sum(coalesce(pd.lines_removed, 0)) AS BIGINT)
        |  AS lines_removed,
        | CAST(sum(coalesce(pd.line_chars, 0)) AS BIGINT) AS line_chars,
        | CAST(sum(coalesce(pd.chars_removed, 0)) AS BIGINT)
        |  AS chars_removed,
        | CASE WHEN sum(coalesce(pd.line_chars, 0)) > 0 THEN
        |  CAST(sum(coalesce(pd.line_chars, 0))
        |    - sum(coalesce(pd.chars_removed, 0)) AS BIGINT)
        |   / CAST(sum(coalesce(pd.line_chars, 0)) AS BIGINT)
        |  ELSE 1.0 END AS char_retention
        |FROM documents d LEFT JOIN pd USING (doc_id)
        |GROUP BY 1"""),
    Key("docs_shuffle_shard")((s, dir) =>
      DataSplit.shuffleShards(Tables.documents(s, dir), nShards = 4))(
      // 4 equal hex-range cuts of the salted md5 key; position =
      // rank within shard in key order (ties → doc_id)
      """WITH k AS (SELECT doc_id,
        | substring(md5(CAST(doc_id AS VARCHAR) || ':epoch0'), 1, 8)
        |  AS shuffle_key FROM documents),
        |s AS (SELECT doc_id, shuffle_key,
        | CAST(CASE WHEN shuffle_key < '40000000' THEN 0
        |      WHEN shuffle_key < '80000000' THEN 1
        |      WHEN shuffle_key < 'c0000000' THEN 2
        |      ELSE 3 END AS BIGINT) AS shard FROM k)
        |SELECT doc_id, shard,
        | CAST(row_number() OVER (PARTITION BY shard
        |   ORDER BY shuffle_key, doc_id) AS BIGINT) AS pos_in_shard,
        | shuffle_key
        |FROM s"""),
    Key("docs_interleave_order")((s, dir) =>
      DataSplit.interleaveOrder(Tables.documents(s, dir)))(
      // strict round-robin across sources: doc i of source s lands
      // at (i-1)·n_sources + src_idx — all integer-exact
      """WITH s AS (SELECT source,
        |  row_number() OVER (ORDER BY source) - 1 AS src_idx,
        |  count(*) OVER () AS n_sources
        | FROM (SELECT DISTINCT source FROM documents) q),
        |r AS (SELECT doc_id, source,
        |  row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |   AS rank_in_source FROM documents)
        |SELECT r.doc_id, r.source, r.rank_in_source,
        | (r.rank_in_source - 1) * s.n_sources + s.src_idx AS interleave_pos
        |FROM r JOIN s ON r.source = s.source"""),
    Key("docs_ngram_diversity")((s, dir) =>
      TextAnalysis.ngramDiversity(Tables.documents(s, dir)))(
      // per-doc-distinct grams (the token_ngrams kernel's SQL
      // spelling twin); diversity = one division of two exact longs
      s"""WITH ${toksCteAs("t", "doc_id")},
        |g AS (SELECT doc_id, unnest(list_distinct($trigramsSql)) AS gram FROM t),
        |j AS (SELECT d.source, g.doc_id, g.gram
        |  FROM g JOIN documents d USING (doc_id))
        |SELECT source, count(DISTINCT doc_id) AS n_docs,
        | count(*) AS total_grams, count(DISTINCT gram) AS vocab,
        | CAST(count(DISTINCT gram) AS DOUBLE) / CAST(count(*) AS DOUBLE)
        |  AS diversity
        |FROM j GROUP BY 1"""),
    Key("docs_contamination_by_source")((s, dir) =>
      TextAnalysis.contaminationBySource(Tables.documents(s, dir)))(
      s"""WITH ${toksCteAs("t", "doc_id")},
        |g AS (SELECT doc_id, unnest(list_distinct($trigramsSql)) AS gram FROM t),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |corpus AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0),
        |o AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_overlap
        |  FROM corpus JOIN bench USING (gram) GROUP BY 1)
        |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(CASE WHEN o.n_overlap IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_contaminated,
        | CAST(sum(coalesce(o.n_overlap, 0)) AS BIGINT) AS total_overlap,
        | round(CAST(sum(CASE WHEN o.n_overlap IS NOT NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) / CAST(count(*) AS BIGINT), 6) AS contamination_rate
        |FROM documents d LEFT JOIN o USING (doc_id)
        |WHERE d.doc_id % 97 <> 0
        |GROUP BY d.source"""),
    Key("docs_curate")((s, dir) =>
      operators.Curation.curate(Tables.documents(s, dir)))(
      s"""WITH ${curateCtes("0.2", 97)}
        |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id IN (SELECT doc_id FROM dd)
        | AND d.doc_id % 97 <> 0
        | AND d.doc_id NOT IN (SELECT doc_id FROM cont)"""),
    Key("docs_curate_manifest")((s, dir) =>
      operators.Curation.manifest(Tables.documents(s, dir)))(
      s"""WITH ${curateCtes("0.2", 97)}
        |SELECT source,
        | CASE WHEN doc_id NOT IN (SELECT doc_id FROM q) THEN 'quality'
        |      WHEN doc_id NOT IN (SELECT doc_id FROM dd) THEN 'duplicate'
        |      WHEN doc_id % 97 = 0 THEN 'benchmark'
        |      WHEN doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
        |      ELSE 'kept' END AS reason,
        | count(*) AS n_docs
        |FROM documents GROUP BY 1, 2"""),
    Key("docs_curate_capped")((s, dir) =>
      operators.Curation.curateCapped(Tables.documents(s, dir), cap = 10))(
      // curate's survivor set, then the per-source quality cap —
      // same CTEs as docs_curate plus a scored rank over survivors
      s"""WITH ${toksCteAs("t")},
        |sc AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  ${qualityScoreSql} FROM t),
        |q AS (SELECT doc_id FROM sc
        | WHERE n_tokens >= 20 AND n_tokens <= 100000 AND quality_score >= 0.2),
        |${curateDedupCtes(97)},
        |${curCte(97)}
        |SELECT source, rank_in_source, doc_id, quality_score FROM (
        | SELECT cur.source, cur.doc_id, sc.quality_score,
        |  CAST(row_number() OVER (PARTITION BY cur.source
        |    ORDER BY sc.quality_score DESC, cur.doc_id) AS BIGINT)
        |   AS rank_in_source
        | FROM cur JOIN sc ON sc.doc_id = cur.doc_id) r
        |WHERE rank_in_source <= 10"""),
    // the flagship composition rides FOUR pinned trunks the
    // standalone gate families already share per (session, dir):
    // shingles (near-dup blocking), the 20-threshold Gopher
    // metric+flag pass, the corpus-duplication doc-grain coverage,
    // and the duplicated-occurrence starts (residual token billing)
    // — the r14 recomposition adds gates, not corpus scans
    // r15: both composition keys read the ONE pinned flags relation
    // (the gate chain materializes once per session, in prime); each
    // key's own cost is its set-shaped stages — near-dup suppression,
    // cap, budget (full) / the counting aggregate (funnel)
    Key("docs_curate_full")((s, dir) =>
      operators.Curation.curateFull(Tables.documents(s, dir),
        flags = sharedCurateFlags(s, dir),
        shingles = sharedShingleSets(s, dir)))(
      // the whole nightly pipeline: 20-threshold Gopher gate →
      // quality bounds → exact dedup → corpus-duplication gate →
      // benchmark exclusion → decontamination → near-dup suppression
      // (pairs and gram df scoped to curated survivors) → source
      // cap(10) → token budget(5000, fill-then-stop) billed at the
      // RESIDUAL post-span-scrub token count
      (curateFullCtes +
        """ SELECT doc_id, source, n_tokens, n_tokens_kept, quality_score
          |FROM (
          | SELECT capped.doc_id, capped.source, rsc.n_tokens,
          |  rsc.n_res AS n_tokens_kept, rsc.quality_score,
          |  COALESCE(sum(rsc.n_res) OVER (
          |    ORDER BY rsc.quality_score DESC, capped.doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
          | FROM capped JOIN rsc ON rsc.doc_id = capped.doc_id) f
          |WHERE cum_excl < 5000""")),
    Key("docs_curate_funnel")((s, dir) =>
      operators.Curation.curateFunnel(Tables.documents(s, dir),
        flags = sharedCurateFlags(s, dir),
        shingles = sharedShingleSets(s, dir)))(
      // same CTE chain, counted per stage; n_dropped via lag
      (curateFullCtes +
        """, fin AS (SELECT doc_id FROM (
          | SELECT capped.doc_id,
          |  COALESCE(sum(rsc.n_res) OVER (
          |    ORDER BY rsc.quality_score DESC, capped.doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
          | FROM capped JOIN rsc ON rsc.doc_id = capped.doc_id) f
          | WHERE cum_excl < 5000),
          |counts AS (
          | SELECT 0 AS i, 'input' AS stage,
          |  (SELECT count(*) FROM documents) AS n
          | UNION ALL SELECT 1, 'gopher', (SELECT count(*) FROM documents
          |   WHERE doc_id NOT IN (SELECT doc_id FROM gflag))
          | UNION ALL SELECT 2, 'quality', (SELECT count(*) FROM q)
          | UNION ALL SELECT 3, 'exact_dedup', (SELECT count(*) FROM dd)
          | UNION ALL SELECT 4, 'dup_gram', (SELECT count(*) FROM dd
          |   WHERE doc_id NOT IN (SELECT doc_id FROM ddrop))
          | UNION ALL SELECT 5, 'decontam', (SELECT count(*) FROM dd
          |   WHERE doc_id NOT IN (SELECT doc_id FROM ddrop)
          |    AND doc_id % 97 <> 0
          |    AND doc_id NOT IN (SELECT doc_id FROM cont))
          | UNION ALL SELECT 6, 'decontam_semantic',
          |   (SELECT count(*) FROM cur)
          | UNION ALL SELECT 7, 'near_dup', (SELECT count(*) FROM sup)
          | UNION ALL SELECT 8, 'source_cap', (SELECT count(*) FROM capped)
          | UNION ALL SELECT 9, 'token_budget', (SELECT count(*) FROM fin))
          |SELECT CAST(i AS BIGINT) AS stage_idx, stage, n AS n_docs,
          | lag(n) OVER (ORDER BY i) - n AS n_dropped
          |FROM counts""")),
    Key("docs_token_budget")((s, dir) =>
      // ~28k corpus tokens at sf0.01 — a 10k budget binds hard
      operators.Curation.selectToBudget(Tables.documents(s, dir), 10000L))(
      // quality-order prefix under a global token budget; the doc
      // that crosses the line is kept (exclusive-cum < budget)
      (toksCte +
        s""", sc AS (SELECT doc_id,
          |  CAST(len(toks) AS BIGINT) AS n_tokens,
          |  ${qualityScoreSql} FROM t)
          |SELECT doc_id, n_tokens, quality_score FROM (
          | SELECT doc_id, n_tokens, quality_score,
          |  COALESCE(sum(n_tokens) OVER (ORDER BY quality_score DESC, doc_id
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
          | FROM sc) c
          |WHERE cum_excl < 10000""")),
    Key("docs_context_chunks")((s, dir) =>
      TextAnalysis.contextChunks(Tables.documents(s, dir)))(
      // window=32, stride=24; chunk count 1 + ceil(max(0,n-32)/24)
      (toksCte +
        """ SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
          |  CAST(i * 24 AS BIGINT) AS start_token,
          |  CAST(len(toks[i * 24 + 1 : i * 24 + 32]) AS BIGINT) AS n_tokens,
          |  md5(array_to_string(toks[i * 24 + 1 : i * 24 + 32], ' ')) AS chunk_md5
          |FROM t, LATERAL (SELECT unnest(range(
          |  CASE WHEN len(toks) = 0 THEN 0
          |   ELSE 1 + ((greatest(0, len(toks) - 32) + 23) // 24) END)) AS i) g""")),
    Key("docs_curate_mixture")((s, dir) =>
      // gentler gates than docs_curate: every target source must
      // survive curation at every SF (sampleToMixture fails fast on
      // an empty target source — the right call for a training run,
      // where a vanished source means a broken upstream feed)
      operators.Curation.curateMixture(Tables.documents(s, dir),
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25),
        minQuality = 0.05, benchMod = 997))(
      // curate's survivor set (same CTE chain as docs_curate), then
      // the mixture rate derivation REPLAYED OVER THE CURATED COUNTS
      s"""WITH ${curateCtes("0.05", 997)},
        |${curCte(997)},
        |${mixtureSampleSql("cur", "c")}"""),
    Key("docs_curate_temperature")((s, dir) =>
      // same gentler gates as docs_curate_mixture; rates derive from
      // POST-curation per-source counts (τ=1/2 → exact-IEEE sqrt)
      operators.Curation.curateTemperature(Tables.documents(s, dir),
        minQuality = 0.05, benchMod = 997))(
      // curate's survivor set (same CTE chain as docs_curate_mixture),
      // then the τ=1/2 temperature rate derivation REPLAYED OVER THE
      // CURATED COUNTS — sqrt(n_min/n) is a single correctly-rounded
      // IEEE op, so the rates (and the selected set) are engine-exact
      s"""WITH ${curateCtes("0.05", 997)},
        |${curCte(997)},
        |${temperatureSampleSql("cur", "c")}"""),
    // SEMANTIC-cluster rebalancing (r15): the stratum is the k-means
    // cell of the document's embedding, not the source label — an
    // over-represented topic flattens even when it spans sources
    Key("docs_cluster_temperature")((s, dir) =>
      operators.Curation.clusterTemperature(Tables.documents(s, dir),
        Tables.embeddings(s, dir)))(
      // semantic-cluster temperature rebalancing: the kmeans loop's
      // final assignment becomes the STRATUM of the τ=1/2 sampler —
      // same rate arithmetic (one division + one sqrt, both
      // correctly-rounded IEEE) and hash filter as the source-keyed
      // temperature key, so the selected SET is engine-exact
      s"""WITH $kmeansCtes,
        |asg AS (SELECT vec_id AS doc_id, cell FROM fa),
        |cl AS (SELECT d.doc_id, a.cell
        | FROM documents d JOIN asg a USING (doc_id)),
        |cnt AS (SELECT cell, count(*) AS n FROM cl GROUP BY 1),
        |m AS (SELECT min(n) AS nmin FROM cnt),
        |r AS (SELECT cell,
        |  sqrt(CAST((SELECT nmin FROM m) AS DOUBLE) / CAST(n AS DOUBLE))
        |   AS rate FROM cnt)
        |SELECT c.doc_id, c.cell FROM cl c JOIN r USING (cell)
        |WHERE ${md5BelowRateSql("c", "t42")}"""),
    Key("docs_pack_sequences")((s, dir) =>
      Packing.packSequences(Tables.documents(s, dir)))(
      """WITH t AS (SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
        |   AS BIGINT) AS tokens
        | FROM documents),
        |c AS (SELECT doc_id, tokens,
        |  COALESCE(sum(tokens) OVER (ORDER BY doc_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_excl
        | FROM t)
        |SELECT CAST(cum_excl // 2048 AS BIGINT) AS seq_bin,
        | count(*) AS n_docs, CAST(sum(tokens) AS BIGINT) AS bin_tokens,
        | min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1"""),
    Key("docs_padding_efficiency")((s, dir) =>
      // padTo=32 so the testdata's 10–99-token docs spread over
      // several buckets (the 128 default collapses them into one)
      Packing.paddingEfficiency(Tables.documents(s, dir), padTo = 32L))(
      """WITH t AS (SELECT doc_id,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
        |   AS BIGINT) AS tokens
        | FROM documents),
        |b AS (SELECT tokens, ((tokens + 31) // 32) * 32 AS padded_len FROM t)
        |SELECT padded_len, count(*) AS n_docs,
        | CAST(sum(tokens) AS BIGINT) AS true_tokens,
        | CAST(count(*) * padded_len AS BIGINT) AS padded_tokens,
        | CASE WHEN padded_len = 0 THEN 0.0
        |  ELSE 1.0 - CAST(sum(tokens) AS BIGINT) / (count(*) * padded_len)
        |  END AS waste_frac
        |FROM b GROUP BY padded_len"""),
    Key("docs_source_cap")((s, dir) =>
      operators.Curation.sourceCap(Tables.documents(s, dir), cap = 10))(
      // shared quality score (same expression as text_quality_filter),
      // capped per source: row_number twin of the bounded-heap agg
      (toksCte +
        s""", q AS (SELECT doc_id,
          | ${qualityScoreSql}
          | FROM t)
          |SELECT source, rank_in_source, doc_id, quality_score FROM (
          | SELECT d.source, d.doc_id, q.quality_score,
          |  CAST(row_number() OVER (PARTITION BY d.source
          |    ORDER BY q.quality_score DESC, d.doc_id) AS BIGINT)
          |   AS rank_in_source
          | FROM documents d JOIN q ON q.doc_id = d.doc_id) r
          |WHERE rank_in_source <= 10""")),
    Key("docs_novelty")((s, dir) =>
      Dedup.noveltyProfile(Tables.documents(s, dir)))(
      // string grams stand in for the 64-bit shingle hashes — same
      // cardinalities absent a hash collision (blockingTrunk note)
      s"""WITH t AS (SELECT doc_id, list_filter(
        |  regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
        | FROM documents),
        |g AS (SELECT doc_id, unnest($trigramSetSql) AS gram FROM t),
        |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1)
        |SELECT doc_id, count(*) AS n_grams,
        | CAST(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_novel,
        | round(sum(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END) * 1.0
        |  / count(*), 6) AS novelty_frac
        |FROM g JOIN f USING (gram) GROUP BY 1"""),
    Key("docs_boilerplate_prefix")((s, dir) =>
      TextAnalysis.boilerplatePrefix(Tables.documents(s, dir)))(
      """WITH p AS (SELECT source, md5(array_to_string(
        |  list_filter(regexp_split_to_array(lower(text), '\s+'),
        |   x -> x <> '')[1:8], ' ')) AS pfx
        | FROM documents),
        |c AS (SELECT source, pfx, count(*) AS n FROM p GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        | count(*) AS n_prefixes,
        | CAST(max(n) AS BIGINT) AS top_prefix_docs,
        | round(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS top_share
        |FROM c GROUP BY 1"""),
    // thresholds calibrated to the testdata's rate/quality spread so
    // every policy branch is exercised (and oracle-compared)
    Key("docs_source_policy")((s, dir) =>
      operators.Curation.sourcePolicy(Tables.documents(s, dir),
        dropDupRate = 0.18, capQuality = 0.2,
        pairs = sharedBlockedPairs(s, dir)))(
      (blockedPairsCte +
        s""", ids AS (SELECT DISTINCT doc_id FROM
          |  (SELECT id_a AS doc_id FROM m
          |   UNION ALL SELECT id_b AS doc_id FROM m) u),
          |rate AS (SELECT d.source, count(*) AS n_docs,
          |  round(CAST(count(ids.doc_id) AS DOUBLE) / count(*), 6)
          |   AS near_dup_rate
          | FROM documents d LEFT JOIN ids ON ids.doc_id = d.doc_id
          | GROUP BY 1),
          |tq AS (SELECT source, text,
          |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
          |   AS toks FROM documents),
          |sc AS (SELECT source,
          |  ${qualityScoreSql} FROM tq),
          |qual AS (SELECT source, round(avg(quality_score), 6)
          |  AS avg_quality FROM sc GROUP BY 1)
          |SELECT rate.source, rate.n_docs, rate.near_dup_rate,
          | qual.avg_quality,
          | CASE WHEN rate.near_dup_rate >= 0.18 THEN 'drop'
          |      WHEN qual.avg_quality < 0.2 THEN 'cap'
          |      ELSE 'keep' END AS policy
          |FROM rate JOIN qual ON qual.source = rate.source""")),
    // cap=8 trims the capped sources (25 docs each at sf0.01)
    Key("docs_source_policy_apply")((s, dir) =>
      operators.Curation.applySourcePolicy(Tables.documents(s, dir),
        dropDupRate = 0.18, capQuality = 0.2, cap = 8,
        pairs = sharedBlockedPairs(s, dir)))(
      (blockedPairsCte +
        s""", ids AS (SELECT DISTINCT doc_id FROM
          |  (SELECT id_a AS doc_id FROM m
          |   UNION ALL SELECT id_b AS doc_id FROM m) u),
          |rate AS (SELECT d.source,
          |  round(CAST(count(ids.doc_id) AS DOUBLE) / count(*), 6)
          |   AS near_dup_rate
          | FROM documents d LEFT JOIN ids ON ids.doc_id = d.doc_id
          | GROUP BY 1),
          |tq AS (SELECT doc_id, source, lang, n_chars, text,
          |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
          |   AS toks FROM documents),
          |sc AS (SELECT doc_id, source, lang, n_chars,
          |  ${qualityScoreSql} FROM tq),
          |qual AS (SELECT source, round(avg(quality_score), 6)
          |  AS avg_quality FROM sc GROUP BY 1),
          |pol AS (SELECT rate.source,
          |  CASE WHEN rate.near_dup_rate >= 0.18 THEN 'drop'
          |       WHEN qual.avg_quality < 0.2 THEN 'cap'
          |       ELSE 'keep' END AS policy
          | FROM rate JOIN qual ON qual.source = rate.source),
          |rk AS (SELECT sc.*, row_number() OVER (PARTITION BY sc.source
          |  ORDER BY sc.quality_score DESC, sc.doc_id) AS rk FROM sc)
          |SELECT rk.doc_id, rk.lang, rk.source, rk.n_chars
          |FROM rk JOIN pol ON pol.source = rk.source
          |WHERE pol.policy = 'keep'
          |  OR (pol.policy = 'cap' AND rk.rk <= 8)""")),
    Key("docs_quality_dup_profile")((s, dir) =>
      operators.Curation.qualityDupProfile(Tables.documents(s, dir),
        pairs = sharedBlockedPairs(s, dir)))(
      (blockedPairsCte +
        """, dd AS (SELECT DISTINCT doc_id FROM
          |  (SELECT id_a AS doc_id FROM m UNION ALL SELECT id_b AS doc_id FROM m)),
          |rawstats AS (SELECT doc_id,
          |  CAST(length(text) AS BIGINT) AS n_chars,
          |  CAST(len(rtoks) AS BIGINT) AS n_tokens,
          |  CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) AS punct_count,
          |  CAST(len(list_filter(rtoks, x -> x IN ('the','a','and','of','to','in','is','it','for','on'))) AS BIGINT) AS stopword_count
          | FROM (SELECT doc_id, text,
          |   list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS rtoks
          |  FROM documents)),
          |qb AS (SELECT doc_id, CAST(least(floor((least(1.0, n_tokens / 128.0)
          |  * (1.0 - least(1.0, (punct_count / greatest(n_chars, 1)) * 4.0))
          |  * (0.3 + 0.7 * least(1.0, (stopword_count / greatest(n_tokens, 1)) * 5.0))) * 10), 9) AS BIGINT) AS q_bucket
          | FROM rawstats)
          |SELECT q_bucket, CAST(count(*) AS BIGINT) AS n_docs,
          | CAST(sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
          | round(CAST(sum(CASE WHEN dd.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
          |  / CAST(count(*) AS BIGINT), 6) AS near_dup_rate
          |FROM qb LEFT JOIN dd ON dd.doc_id = qb.doc_id
          |GROUP BY q_bucket""")),
    Key("docs_curate_incremental")((s, dir) => {
      val d = Tables.documents(s, dir)
      // r14: the incremental twin gains the gate families too — the
      // pinned Gopher flag pass (per-doc pure, delta rows read by
      // id) and the HISTORY-built dup-gram store (what the nightly
      // batch would have persisted yesterday)
      Curation.curateIncremental(
        d.filter(col("doc_id") % 10 === 0), d.filter(col("doc_id") % 10 =!= 0),
        gopherFlags = sharedGopherFlagged(s, dir),
        dupStore = sharedHistDupStore(s, dir),
        // r15: full-pipeline parity — the delta's vectors score
        // against the broadcast static benchmark (O(delta) daily)
        embeddings = Tables.embeddings(s, dir))
    })(
      // the daily-ingest curation gate, every stage deterministic:
      // Gopher 20-threshold gate on the delta (fixture chain
      // verbatim), quality on the delta only, batch keep-min,
      // exact-vs-history fingerprints, dup-gram gate vs the
      // HISTORY-built store, near-dup-vs-history (df over
      // gated-delta ∪ history), benchmark slice + decontamination
      // vs the static benchmark
        s"""WITH $qualCorpusCte, ${linedCtesFrom("qd")},
        |$gopherFlagCtes,
        |${toksCteAs("rt")},
        |q AS (SELECT doc_id FROM (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  ${qualityScoreSql} FROM rt WHERE doc_id % 10 = 0) s
        | WHERE n_tokens >= 20 AND n_tokens <= 100000 AND quality_score >= 0.2
        |  AND doc_id NOT IN (SELECT doc_id FROM gflag)),
        |bx AS (SELECT min(doc_id) AS doc_id FROM (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM q)) nn GROUP BY norm),
        |hist AS (SELECT DISTINCT
        |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
        | FROM documents WHERE doc_id % 10 <> 0),
        |fresh AS (SELECT doc_id FROM documents b
        | WHERE doc_id IN (SELECT doc_id FROM bx)
        |  AND NOT EXISTS (SELECT 1 FROM hist
        |   WHERE hist.norm = trim(regexp_replace(lower(b.text), '\\s+', ' ', 'g')))),
        |og AS (SELECT rt.doc_id, u.i - 1 AS start,
        |  array_to_string(rt.toks[u.i:u.i + 7], ' ') AS ng
        | FROM rt, LATERAL (SELECT unnest(generate_series(1,
        |   len(rt.toks) - 7)) AS i) u
        | WHERE len(rt.toks) >= 8),
        |hstore AS (SELECT ng FROM og WHERE doc_id % 10 <> 0
        | GROUP BY ng HAVING count(DISTINCT doc_id) >= 2),
        |dcpos AS (SELECT DISTINCT og.doc_id, u.p
        | FROM og JOIN hstore USING (ng),
        |  LATERAL (SELECT unnest(range(og.start, og.start + 8)) AS p) u
        | WHERE og.doc_id % 10 = 0),
        |dcc AS (SELECT c.doc_id,
        |  CAST(sum(length(rt.toks[c.p + 1])) AS BIGINT) AS dup_chars
        | FROM dcpos c JOIN rt USING (doc_id) GROUP BY c.doc_id),
        |dtc AS (SELECT doc_id, CAST(list_sum(list_transform(toks,
        |  x -> length(x))) AS BIGINT) AS tok_chars FROM rt
        | WHERE doc_id % 10 = 0),
        |ddrop AS (SELECT dtc.doc_id FROM dtc JOIN dcc USING (doc_id)
        | WHERE dtc.tok_chars > 0
        |  AND CAST(dcc.dup_chars AS BIGINT) / dtc.tok_chars > 0.5),
        |tl AS (SELECT doc_id, list_filter(
        |  regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
        | FROM documents),
        |gl AS (SELECT doc_id, $trigramSetSql AS grams FROM tl
        | WHERE doc_id % 10 <> 0 OR doc_id IN (SELECT doc_id FROM q)),
        |inv AS (SELECT doc_id, unnest(grams) AS gram FROM gl),
        |dfr AS (SELECT gram, count(*) AS df FROM inv GROUP BY 1),
        |cp AS (SELECT a.doc_id AS new_id, c.doc_id AS corpus_id
        |  FROM inv a JOIN dfr ON dfr.gram = a.gram JOIN inv c ON c.gram = a.gram
        |  WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
        |   AND dfr.df BETWEEN 2 AND 64
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |nd AS (SELECT DISTINCT cp.new_id AS doc_id FROM cp
        | JOIN gl ga ON ga.doc_id = cp.new_id JOIN gl gb ON gb.doc_id = cp.corpus_id
        | WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
        |  / (len(ga.grams) + len(gb.grams)
        |     - len(list_intersect(ga.grams, gb.grams))) >= 0.5),
        |g AS (SELECT doc_id, unnest(list_distinct($trigramsSql)) AS gram FROM rt),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |cont AS (SELECT DISTINCT c.doc_id FROM
        |  (SELECT doc_id, gram FROM g WHERE doc_id % 10 = 0 AND doc_id % 97 <> 0) c
        |  JOIN bench USING (gram)),
        |sv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        | FROM embeddings),
        |semc AS (SELECT DISTINCT c.vec_id AS doc_id
        | FROM sv c JOIN sv b ON b.vec_id % 97 = 0
        | WHERE c.vec_id % 10 = 0 AND c.vec_id % 97 <> 0
        |  AND list_cosine_similarity(c.e, b.e) >= 0.4)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id IN (SELECT doc_id FROM fresh)
        | AND d.doc_id NOT IN (SELECT doc_id FROM ddrop)
        | AND d.doc_id % 97 <> 0
        | AND d.doc_id NOT IN (SELECT doc_id FROM nd)
        | AND d.doc_id NOT IN (SELECT doc_id FROM cont)
        | AND d.doc_id NOT IN (SELECT doc_id FROM semc)"""),
  )
}
