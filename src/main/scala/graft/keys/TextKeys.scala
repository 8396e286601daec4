package graft
package keys

import graft.operators._
import graft.sources.Tables

import OracleFragments._
import Shared._

/** The text keys (`text_*`): per-document statistics, language and
  * quality scores, tokenizers and sketches. */
private[graft] object TextKeys extends Family("text_") {

  // Count-Min sketch (r15): the third mergeable sketch beside HLL
  // and Misra-Gries — O(depth·width) counters answer point
  // frequency queries with one-sided error; shuffle volume is
  // O(partitions·depth·width) regardless of corpus size. Fully
  // deterministic (FNV token hash + splitmix multiply-shift rows),
  // so unlike the HLL twins BOTH keys are hash-oracled.
  // both CMS keys read ONE pinned sketch build (r16, the pinned
  // shared-relation convention): the corpus pays one
  // tokenize+explode for the sketch and one for the exact counts,
  // not three
  lazy val textCmsSketch: Key = Key("text_cms_sketch")((s, dir) => sharedCmsSketch(s, dir))(
    s"WITH $cmsCtes SELECT r, bucket, cnt FROM sk")

  // SEMANTIC decontamination (r14): benchmark-slice embeddings
  // broadcast against the corpus at cosine >= tau — catches the
  // paraphrased contamination the n-gram tier structurally misses
  lazy val textDecontaminateSemantic: Key = Key("text_decontaminate_semantic")((s, dir) =>
    Dedup.semanticDecontaminate(Tables.embeddings(s, dir)))(
    // EXHAUSTIVE corpus × benchmark-slice comparison (no candidate
    // rule — the broadcast plan compares every pair anyway); best
    // match on the 1e-6-rounded cosine then bench_id. Shared
    // VERBATIM by text_decontaminate_semantic and its intake twin
    // stream_semantic_gate.
    """WITH bb AS (SELECT vec_id AS bench_id,
        |  CAST(embedding AS DOUBLE[]) AS e
        | FROM embeddings WHERE vec_id % 97 = 0),
        |cc AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        | FROM embeddings WHERE vec_id % 97 <> 0),
        |p AS (SELECT cc.vec_id, bb.bench_id,
        |  list_cosine_similarity(cc.e, bb.e) AS cosine
        | FROM cc, bb WHERE list_cosine_similarity(cc.e, bb.e) >= 0.4),
        |b AS (SELECT vec_id, bench_id, cosine, row_number() OVER
        |  (PARTITION BY vec_id ORDER BY round(cosine, 6) DESC,
        |   bench_id) AS rn FROM p),
        |agg AS (SELECT vec_id, CAST(count(*) AS BIGINT)
        |   AS n_bench_matches,
        |  CAST(max(CASE WHEN rn = 1 THEN bench_id END) AS BIGINT)
        |   AS bench_id,
        |  max(CASE WHEN rn = 1 THEN cosine END) AS best_cosine
        | FROM b GROUP BY 1)
        |SELECT cc.vec_id,
        | CAST(coalesce(a.n_bench_matches, 0) AS BIGINT)
        |  AS n_bench_matches,
        | CAST(coalesce(a.bench_id, -1) AS BIGINT) AS bench_id,
        | coalesce(a.best_cosine, -1.0) AS best_cosine,
        | coalesce(a.n_bench_matches, 0) > 0 AS contaminated
        |FROM cc LEFT JOIN agg a USING (vec_id)""")

  lazy val textQualityLrScore: Key = Key("text_quality_lr_score")((s, dir) =>
    operators.QualityLr.score(Tables.documents(s, dir)))(
    // the trained filter applied: sigmoid score (rounded — the one
    // last-ulp column), hard prediction on the EXACT margin, gate
    // label, agreement flag
    (toksCte + ", " + qualityLrCtes(3) + """,
      |mg AS (SELECT ff.doc_id,
      |  w3.w0 * ff.x0 + w3.w1 * ff.x1 + w3.w2 * ff.x2
      |   + w3.w3 * ff.x3 + w3.w4 * ff.x4 AS m, ff.y
      | FROM ff, w3)
      |SELECT doc_id, round(1.0 / (1.0 + exp(-m)), 6) AS score,
      | (m >= 0.0) AS predicted, (y = 1.0) AS label,
      | ((m >= 0.0) = (y = 1.0)) AS correct
      |FROM mg"""))

  lazy val keys: Seq[Key] = Seq(
    Key("text_stats")((s, dir) => TextAnalysis.stats(Tables.documents(s, dir)))(
      (toksCte +
        """, s AS (SELECT doc_id,
          | CAST(length(text) AS BIGINT) AS n_chars,
          | CAST(len(toks) AS BIGINT) AS n_tokens,
          | CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) AS punct_count,
          | CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is','it','for','on'))) AS BIGINT) AS stopword_count,
          | CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS token_chars
          | FROM t)
          |SELECT doc_id, n_chars, n_tokens, punct_count, stopword_count,
          | punct_count / greatest(n_chars, 1) AS punct_ratio,
          | stopword_count / greatest(n_tokens, 1) AS stopword_ratio,
          | token_chars / greatest(n_tokens, 1) AS avg_token_len,
          | least(1.0, n_tokens / 128.0)
          |  * (1.0 - least(1.0, (punct_count / greatest(n_chars, 1)) * 4.0))
          |  * (0.3 + 0.7 * least(1.0, (stopword_count / greatest(n_tokens, 1)) * 5.0))
          |  AS quality_score
          |FROM s""")),
    Key("text_token_count")((s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir)))(
      (toksCte +
        """ SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_ws_tokens,
          | CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_bpe_tokens
          |FROM t""")),
    Key("text_lang_id")((s, dir) => TextAnalysis.langId(Tables.documents(s, dir)))(
      s"""$toksCte, $langHitsCte
        |SELECT doc_id, hits_en, hits_fr, hits_es, hits_de, hits_zh,
        | $predictedLangSql
        |FROM h"""),
    Key("text_lang_confusion")((s, dir) =>
      TextAnalysis.langConfusion(Tables.documents(s, dir)))(
      s"""$toksCte, $langHitsCte,
        |p AS (SELECT doc_id,
        | $predictedLangSql
        |FROM h)
        |SELECT d.lang AS labeled, p.predicted_lang, count(*) AS n_docs
        |FROM p JOIN documents d USING (doc_id) GROUP BY 1, 2"""),
    // Kneser–Ney reference-LM scoring (r15): the model trains on the
    // corpus minus the held-out tenth; held-out docs exercise the
    // backoff paths (discounted continuation, OOV floor) a
    // self-scored MLE never reaches
    Key("text_lm_kn_score")((s, dir) =>
      TextAnalysis.knScore(Tables.documents(s, dir)))(
      // the KN arithmetic replayed term-by-term in the SAME
      // expression order (greatest-discount + lambda*continuation;
      // the OOV floor 1/(2B)); only ln rides the 6-decimal round
      (toksCte +
        """, p AS (SELECT doc_id,
          |  unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
          | FROM t WHERE len(toks) >= 2),
          |b AS MATERIALIZED (SELECT w1, w2, count(*) AS c FROM p
          | WHERE doc_id % 10 <> 7 GROUP BY 1, 2),
          |f AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c1, count(*) AS nf
          | FROM b GROUP BY 1),
          |pc AS (SELECT w2, count(*) AS np FROM b GROUP BY 1),
          |tot AS (SELECT CAST(count(*) AS DOUBLE) AS bt FROM b),
          |s AS (SELECT p.doc_id, b.c, f.c1, f.nf, tot.bt,
          |  coalesce(pc.np, 0) / tot.bt AS cont
          | FROM p LEFT JOIN b USING (w1, w2) LEFT JOIN f USING (w1)
          |  LEFT JOIN pc USING (w2), tot),
          |s2 AS (SELECT doc_id, c, bt,
          |  CASE WHEN c1 IS NOT NULL THEN
          |    greatest(coalesce(c, 0) - 0.75, 0.0) / c1
          |     + (0.75 * nf) / c1 * cont
          |   ELSE cont END AS p0 FROM s),
          |s3 AS (SELECT doc_id, c, CASE WHEN p0 > 0.0 THEN p0
          |  ELSE 1.0 / (2.0 * bt) END AS pr FROM s2)
          |SELECT doc_id, count(*) AS n_bigrams,
          | round(avg(-ln(pr)), 6) AS avg_surprisal,
          | round(avg(CASE WHEN c IS NULL THEN 1.0 ELSE 0.0 END), 6)
          |  AS oov_rate,
          | doc_id % 10 = 7 AS held_out
          |FROM s3 GROUP BY doc_id""")),
    Key("text_fingerprint")((s, dir) =>
      TextAnalysis.fingerprints(Tables.documents(s, dir))
        .select("doc_id", "fingerprint_md5"))(
      """SELECT doc_id,
        | md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint_md5
        |FROM documents"""),
    textCmsSketch,
    Key("text_cms_token_freq")((s, dir) =>
      operators.CountMin.topTokenEstimates(Tables.documents(s, dir),
        sharedCmsSketch(s, dir)))(
      s"""WITH $cmsCtes,
        |ex AS (SELECT t AS tok, CAST(count(*) AS BIGINT) AS exact_cnt,
        |  min(th) AS th FROM ti GROUP BY 1),
        |top AS (SELECT * FROM ex ORDER BY exact_cnt DESC, tok LIMIT 30),
        |pj AS (SELECT top.tok, top.exact_cnt, pm.r,
        |  CAST((a_lo * th + ((a_hi * th) % 4294967296) * 4294967296 + b)
        |   % 18446744073709551616 // 18014398509481984 AS BIGINT) AS bucket
        | FROM top, pm)
        |SELECT pj.tok, pj.exact_cnt, min(sk.cnt) AS cms_est,
        | min(sk.cnt) - pj.exact_cnt AS overcount
        |FROM pj JOIN sk USING (r, bucket)
        |GROUP BY 1, 2"""),
    Key("text_repetition")((s, dir) =>
      TextAnalysis.repetition(Tables.documents(s, dir)))(
      (toksCte +
        """, b AS (SELECT doc_id,
          | CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
          |  ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
          | END AS bigrams FROM t)
          |SELECT doc_id, CAST(len(bigrams) AS BIGINT) AS n_bigrams,
          | CAST(len(list_distinct(bigrams)) AS BIGINT) AS n_distinct_bigrams,
          | CASE WHEN len(bigrams) > 0
          |  THEN 1.0 - len(list_distinct(bigrams)) / len(bigrams)
          |  ELSE 0.0 END AS dup_bigram_fraction
          |FROM b""")),
    // the REST of the Gopher suite (dup line/para + top-n-gram mass)
    // over the deterministically-lined corpus with planted
    // duplicated paragraphs on doc_id % 5 == 0
    Key("text_repetition_profile")((s, dir) =>
      TextAnalysis.gopherRepetition(
        TextAnalysis.synthLinedCorpus(Tables.documents(s, dir))))(
      // replays the lined-corpus synth via the shared CTE prefix,
      // then computes every Gopher counter from exact integer
      // counts - single divisions, bit-replayable
      s"WITH $linedCtes, $gopherProfileCtes SELECT * FROM rep_profile"),
    // the dup-n-gram half of the Gopher table: char coverage of
    // within-doc duplicated n-grams, n=5..10 — the planted 8-token
    // paragraph repeat lights n<=8 and leaves 9/10 dark
    Key("text_dup_ngram_mass")((s, dir) =>
      TextAnalysis.dupNgramMass(
        TextAnalysis.synthLinedCorpus(Tables.documents(s, dir))))(
      // same lined-corpus replay; the quadratic textbook
      // definition the fused kernel must reproduce exactly
      s"WITH $linedCtes, $dupMassCtes SELECT * FROM dng"),
    Key("text_source_stats")((s, dir) =>
      TextAnalysis.sourceStats(Tables.documents(s, dir)))(
      s"""WITH ${toksCteAs("t2", "source, text")},
        |s AS (SELECT source,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(toks) AS BIGINT) AS n_tokens,
        | CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) AS punct_count,
        | CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is','it','for','on'))) AS BIGINT) AS stopword_count
        | FROM t2)
        |SELECT source, count(*) AS n_docs, avg(n_chars) AS avg_chars,
        | avg(n_tokens) AS avg_tokens,
        | avg(stopword_count / greatest(n_tokens, 1)) AS avg_stopword_ratio,
        | avg(least(1.0, n_tokens / 128.0)
        |  * (1.0 - least(1.0, (punct_count / greatest(n_chars, 1)) * 4.0))
        |  * (0.3 + 0.7 * least(1.0, (stopword_count / greatest(n_tokens, 1)) * 5.0)))
        |  AS avg_quality
        |FROM s GROUP BY source"""),
    Key("text_pii_scrub")((s, dir) => TextAnalysis.piiScrub(Tables.documents(s, dir)))(
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
        | CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS BIGINT) AS n_phones,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   'https?://[^\s]+', '<URL>', 'g'),
        |   '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g')) AS scrubbed_md5
        |FROM documents"""),
    Key("text_top_bigrams")((s, dir) => TextAnalysis.topBigrams(Tables.documents(s, dir)))(
      (toksCte +
        """ SELECT bigram, count(*) AS n_occurrences
          |FROM (SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
          |  ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
          |  END) AS bigram FROM t) b
          |GROUP BY bigram ORDER BY n_occurrences DESC, bigram LIMIT 100""")),
    Key("text_pmi_bigrams")((s, dir) => TextAnalysis.pmiBigrams(Tables.documents(s, dir)))(
      (toksCte +
        """, uni AS (SELECT w, count(*) AS c_w
          |  FROM (SELECT unnest(toks) AS w FROM t) GROUP BY w),
          |bi AS (SELECT bigram, count(*) AS n_ab
          |  FROM (SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
          |   ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
          |   END) AS bigram FROM t) GROUP BY bigram),
          |tot AS (SELECT (SELECT sum(c_w) FROM uni) AS n_tokens,
          |  (SELECT sum(n_ab) FROM bi) AS n_bigrams)
          |SELECT b.bigram, b.n_ab,
          | round(ln(b.n_ab) - ln(n_bigrams) - ln(u1.c_w) - ln(u2.c_w)
          |  + 2 * ln(n_tokens), 6) AS pmi
          |FROM bi b
          |JOIN uni u1 ON u1.w = split_part(b.bigram, ' ', 1)
          |JOIN uni u2 ON u2.w = split_part(b.bigram, ' ', 2)
          |CROSS JOIN tot
          |WHERE b.n_ab >= 5
          |ORDER BY pmi DESC, b.bigram LIMIT 100""")),
    Key("text_quality_filter")((s, dir) =>
      TextAnalysis.qualityFilter(Tables.documents(s, dir)))(
      (toksCte +
        s""" SELECT * FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          | ${qualityScoreSql}
          |FROM t) q
          |WHERE n_tokens >= 20 AND n_tokens <= 100000 AND quality_score >= 0.2""")),
    // calibration form (r17): graduated from rows-only — the
    // lined-corpus anchors replay in DuckDB, the two booleans pin
    // the engine's OWN deflate kernel (format-feasibility band +
    // planted-copy back-reference claim)
    Key("text_compression_signal")((s, dir) =>
      TextAnalysis.compressionCalibration(Tables.documents(s, dir)))(
      // calibration form (r17): zlib has no DuckDB twin, so the
      // oracle replays the EXACT anchors (the shared lined-corpus
      // synth's final text length) and asserts the two claims as
      // literals — each engine scores its OWN deflate kernel
      // against the same fixture structure, the sketch-calibration
      // epistemics (docs/ORACLE_NOTES.md r17)
      (s"WITH $linedCtes SELECT x.doc_id, d.source, " +
        "CAST(length(x.text) AS BIGINT) AS n_chars_text, " +
        "TRUE AS ratio_format_band, TRUE AS copy_compresses " +
        "FROM txt x JOIN documents d USING (doc_id)")),
    Key("text_decontaminate")((s, dir) =>
      TextAnalysis.decontaminate(Tables.documents(s, dir)))(
      s"""WITH ${toksCteAs("t", "doc_id")},
        |g AS (SELECT doc_id, unnest(list_distinct($trigramsSql)) AS gram FROM t),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |corpus AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
        |SELECT doc_id, count(*) AS n_overlap
        |FROM corpus JOIN bench USING (gram) GROUP BY 1"""),
    textDecontaminateSemantic,
    // the unigram-LM tokenizer (r15, the SentencePiece family beside
    // BPE): hard-EM training — Viterbi re-segmentation, INTEGER
    // piece counts, float(count/total) renormalization — so the
    // whole loop is bit-deterministic with no float folds anywhere;
    // model = top-V pieces (bounded, broadcast-sized)
    Key("text_unigram_train")((s, dir) =>
      operators.Unigram.train(Tables.documents(s, dir)))(
      // hard-EM unigram training replayed end to end: candidate
      // substrings, the top-V cut, two Viterbi re-segmentation
      // rounds (recursive-CTE DP over distinct words), integer
      // re-counts, float renormalization — bit-exact by construction
      (toksCte.replace("WITH ", "WITH RECURSIVE ") + ", " +
        unigramTrainCtes +
        """ SELECT v2.piece, v2.uses AS n_uses,
          | CAST(p2.p AS DOUBLE) AS prob
          |FROM v2 JOIN p2 USING (piece)""")),
    // the trained tokenizer at corpus grain: per-doc word/piece
    // counts, fertility, and an FNV path signature witnessing every
    // segmentation decision (order-free sum mod 2^53)
    Key("text_unigram_apply")((s, dir) =>
      operators.Unigram.applyTokenizer(Tables.documents(s, dir)))(
      // the trained tokenizer applied: one more Viterbi pass under
      // the final probs, per-doc fold with the FNV path signature
      (toksCte.replace("WITH ", "WITH RECURSIVE ") + ", " +
        unigramTrainCtes + ", " + unigramDpCte("sfin", "p2") + """,
        |dtok AS (SELECT doc_id, unnest(toks) AS word FROM t),
        |wsig AS (SELECT word, np,
        |  CAST(list_reduce(list_prepend(
        |    CAST(14695981039346656037 AS HUGEINT),
        |    list_transform(range(1, length(sj) + 1),
        |     j -> CAST(ord(substr(sj, j, 1)) AS HUGEINT))),
        |    (h, b) -> ((h - (h % 256)) + xor(CAST(h % 256 AS BIGINT),
        |      CAST(b AS BIGINT))) * 1099511628211
        |      % 18446744073709551616)
        |   % 9007199254740992 AS BIGINT) AS sig
        | FROM (SELECT word, np, '|' || array_to_string(pieces, '|') AS sj
        |  FROM sfin) z),
        |da AS (SELECT dt.doc_id, CAST(count(*) AS BIGINT) AS n_words,
        |  CAST(sum(ws.np) AS BIGINT) AS n_pieces,
        |  CAST(sum(ws.sig) AS BIGINT) AS sig
        | FROM dtok dt JOIN wsig ws USING (word) GROUP BY 1)
        |SELECT d.doc_id,
        | CAST(coalesce(a.n_words, 0) AS BIGINT) AS n_words,
        | CAST(coalesce(a.n_pieces, 0) AS BIGINT) AS n_pieces,
        | CASE WHEN coalesce(a.n_words, 0) > 0
        |  THEN round(CAST(a.n_pieces AS DOUBLE) / a.n_words, 6)
        |  ELSE 0.0 END AS pieces_per_word,
        | CAST(coalesce(a.sig, 0) AS BIGINT) AS path_sig
        |FROM documents d LEFT JOIN da a USING (doc_id)""")),
    // the LEARNED quality filter (r15, the DCLM/fastText pattern):
    // full-batch logistic GD distills the composite gate into 5
    // float weights (train) and runs it per doc (score) — training
    // is iters partial-agg scans each folding to ONE 5-float row,
    // scoring a stateless projection; float-snapped steps make the
    // whole loop oracle-replayable (the kmeans convention)
    Key("text_quality_lr_train")((s, dir) =>
      operators.QualityLr.trainDf(Tables.documents(s, dir)))(
      // the trained model row: three float-snapped GD iterations
      // unrolled, weights emitted as float-exact doubles
      (toksCte + ", " + qualityLrCtes(3) + " " +
        (0 until 5).zip(operators.QualityLr.FeatureNames).map {
          case (j, name) =>
            s"SELECT CAST($j AS INT) AS feature_idx, '$name' AS feature," +
              s" CAST(w3.w$j AS DOUBLE) AS weight FROM w3"
        }.mkString(" UNION ALL "))),
    textQualityLrScore,
    Key("text_chunk_dedup")((s, dir) =>
      TextAnalysis.chunkDedup(Tables.documents(s, dir)))(
      s"""WITH ${toksCteAs("t", "doc_id")},
        |c AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
        |  THEN list_transform(range(1, len(toks) - 6, 8),
        |   i -> md5(array_to_string(toks[i:i+7], ' ')))
        |  ELSE CAST([] AS VARCHAR[]) END) AS chunk_md5 FROM t)
        |SELECT chunk_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | count(*) AS n_occurrences
        |FROM c GROUP BY 1 HAVING count(DISTINCT doc_id) > 1"""),
    Key("text_winnow_dedup")((s, dir) =>
      TextAnalysis.winnowDedup(Tables.documents(s, dir)))(
      // front half shared with the r16 ML-erasure oracles (winnowFpCtes)
      s"""WITH $winnowFpCtes
        |SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | count(*) AS n_occurrences
        |FROM w GROUP BY 1 HAVING count(DISTINCT doc_id) > 1"""),
    Key("text_winnow_pairs")((s, dir) =>
      TextAnalysis.winnowPairs(Tables.documents(s, dir)))(
      // front half shared with the r16 ML-erasure oracles (winnowFpCtes)
      s"""WITH $winnowFpCtes,
        |d AS (SELECT fp FROM w GROUP BY fp
        |  HAVING count(*) BETWEEN 2 AND 64)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM w a JOIN d ON a.fp = d.fp JOIN w b ON b.fp = a.fp
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2"""),
    Key("text_tfidf_top3")((s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir)))(
      (toksCte +
        """, tok AS (SELECT doc_id, unnest(toks) AS term FROM t),
          |tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
          |df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
          |n AS (SELECT count(*) AS n_docs FROM documents),
          |s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
          |  round(tf.tf * ln((n.n_docs + 1) / (df.df + 1)), 6) AS score
          | FROM tf JOIN df USING (term) CROSS JOIN n),
          |r AS (SELECT *, row_number() OVER (
          |  PARTITION BY doc_id ORDER BY score DESC, term) AS term_rank FROM s)
          |SELECT doc_id, CAST(term_rank AS BIGINT) AS term_rank, term, tf, df, score
          |FROM r WHERE term_rank <= 3""")),
    Key("text_length_histogram")((s, dir) =>
      TextAnalysis.lengthHistogram(Tables.documents(s, dir)))(
      """WITH d AS (SELECT lang,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
        |   AS BIGINT) AS n_tokens
        | FROM documents)
        |SELECT lang, n_tokens // 16 AS bucket, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        | min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM d GROUP BY 1, 2"""),
    Key("text_lm_score")((s, dir) =>
      TextAnalysis.lmScore(Tables.documents(s, dir)))(
      (toksCte +
        """, p AS (SELECT doc_id,
          |  unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
          | FROM t WHERE len(toks) >= 2),
          |b AS (SELECT w1, w2, count(*) AS c_bigram FROM p GROUP BY 1, 2),
          |f AS (SELECT w1, count(*) AS c_first FROM p GROUP BY 1)
          |SELECT doc_id, count(*) AS n_bigrams,
          | round(avg(-ln(c_bigram / c_first)), 6) AS avg_surprisal
          |FROM p JOIN b USING (w1, w2) JOIN f USING (w1)
          |GROUP BY doc_id""")),
    Key("text_trigram_affinity")((s, dir) =>
      // profile from a 25% deterministic sample (the scale default);
      // the oracle replays the identical md5 filter
      TextAnalysis.charTrigramAffinity(Tables.documents(s, dir),
        profileRate = 0.25))(
      """WITH g AS (SELECT DISTINCT doc_id, lang, trigram FROM (
        |  SELECT doc_id, lang, substr(text,
        |   CAST(unnest(generate_series(1, len(text) - 2)) AS INT), 3) AS trigram
        |  FROM documents)),
        |p AS (SELECT lang, trigram FROM (
        |  SELECT lang, trigram, row_number() OVER (
        |   PARTITION BY lang ORDER BY count(*) DESC, trigram) AS rk
        |  FROM g WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':trigram_profile'), 1, 8)
        |    < '40000000'
        |  GROUP BY lang, trigram) WHERE rk <= 200),
        |h AS (SELECT doc_id, count(*) AS n_profile_hits FROM g
        | WHERE EXISTS (SELECT 1 FROM p
        |  WHERE p.lang = g.lang AND p.trigram = g.trigram) GROUP BY 1),
        |t AS (SELECT doc_id, lang, count(*) AS n_trigrams FROM g GROUP BY 1, 2)
        |SELECT t.doc_id, t.lang, t.n_trigrams,
        | COALESCE(h.n_profile_hits, 0) AS n_profile_hits,
        | round(COALESCE(h.n_profile_hits, 0) / t.n_trigrams, 6) AS affinity
        |FROM t LEFT JOIN h ON t.doc_id = h.doc_id"""),
    Key("text_zipf_spectrum")((s, dir) =>
      TextAnalysis.zipfSpectrum(Tables.documents(s, dir)))(
      """WITH tok AS (SELECT unnest(list_filter(
        |  regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS token
        | FROM documents),
        |c AS (SELECT token, count(*) AS occurrences FROM tok GROUP BY 1)
        |SELECT occurrences, count(*) AS n_tokens FROM c GROUP BY 1"""),
    Key("text_readability")((s, dir) =>
      TextAnalysis.readability(Tables.documents(s, dir)))(
      // exact counters (whitespace words, [.!?]+ sentence runs,
      // [aeiouy]+ vowel-group syllables) → one float score each,
      // identical expression shape both engines, rounded once
      (toksCte +
        """, c AS (SELECT doc_id,
          | greatest(CAST(len(toks) AS BIGINT), 1) AS n_words,
          | greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
          |   AS BIGINT), 1) AS n_sentences,
          | CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
          |   AS BIGINT) AS n_syllables
          | FROM t)
          |SELECT doc_id, n_words, n_sentences, n_syllables,
          | round(206.835
          |  - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
          |  - 84.6 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE)),
          |  6) AS flesch_ease,
          | round(0.39 * (CAST(n_words AS DOUBLE) / CAST(n_sentences AS DOUBLE))
          |  + 11.8 * (CAST(n_syllables AS DOUBLE) / CAST(n_words AS DOUBLE))
          |  - 15.59, 6) AS fk_grade
          |FROM c""")),
    Key("text_tokenizer_fertility")((s, dir) =>
      TextAnalysis.tokenizerFertility(Tables.documents(s, dir)))(
      // ratio of exact SUMS (mean-of-ratios would let short docs
      // dominate); the bpe regex is the token_count twin
      """WITH c AS (SELECT source, lang,
        | CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |   x -> x <> '')) AS BIGINT) AS ws,
        | CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT)
        |  AS bpe
        | FROM documents)
        |SELECT source, lang, count(*) AS n_docs,
        | CAST(sum(ws) AS BIGINT) AS ws_tokens,
        | CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
        | round(CAST(sum(bpe) AS BIGINT)
        |  / CAST(greatest(CAST(sum(ws) AS BIGINT), 1) AS DOUBLE), 6)
        |  AS fertility
        |FROM c GROUP BY 1, 2"""),
    Key("text_source_divergence")((s, dir) =>
      TextAnalysis.sourceDivergence(Tables.documents(s, dir)))(
      // absent-term complement folded into the ½·(1 − coverage)
      // closed form — no corpus-sized anti join; log-sums rounded
      """WITH st AS (SELECT source, token, count(*) AS c_st FROM (
        | SELECT source, unnest(list_filter(
        |  regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS token
        | FROM documents) x GROUP BY 1, 2),
        |tot AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t
        | FROM st GROUP BY 1),
        |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
        | FROM st GROUP BY 1),
        |nn AS (SELECT CAST(sum(c_st) AS BIGINT) AS n FROM st),
        |j AS (SELECT st.source AS source, ns.n_s AS n_s,
        |  c_st * 1.0 / ns.n_s AS ps, c_t * 1.0 / nn.n AS pc
        | FROM st JOIN tot USING (token)
        |  JOIN ns ON st.source = ns.source, nn),
        |g AS (SELECT source, max(n_s) AS n_tokens, count(*) AS vocab,
        |  sum(0.5 * ps * log2(2.0 * ps / (ps + pc))
        |   + 0.5 * pc * log2(2.0 * pc / (ps + pc))) AS core,
        |  sum(pc) AS cov FROM j GROUP BY 1)
        |SELECT source, n_tokens, vocab,
        | round(core + 0.5 * (1.0 - cov), 6) AS js_divergence,
        | round(cov, 6) AS corpus_coverage FROM g"""),
    // BM25 lexical retrieval over the SHARED scored-postings index
    // (billed to prime — the persisted-index economics: term
    // weights are computed at index time, queries only join + fold)
    Key("text_bm25_topk")((s, dir) =>
      Similarity.bm25TopK(sharedBm25Postings(s, dir)))(
      // same tokenization + df-capped postings trunk as the RRF
      // lexical side; candidate generation (apx) is restricted to
      // each token's CHAMPION LIST — top-2 postings per
      // (tok, doc_id % 32) stratum by (tf DESC, doc_id), a discrete
      // integer-ranked set, mirroring bm25TopK's stratified
      // skew-proof stage-1 — while final scoring keeps
      // the full fractional-cap vocabulary. BOTH stages fold term
      // contributions in TOKEN order via list_reduce over the
      // sorted struct list (matching Spark's array_sort →
      // aggregate), so exact-duplicate docs score bit-identically,
      // tie by neighbor_id the same way in both engines; the
      // stage-1 cut at rank 50 orders by the 1e-6-rounded fold so
      // the candidate SET is last-ulp-proof too
      s"""WITH $bm25StatsCtes,
        |champ AS (SELECT doc_id, tok FROM (
        |  SELECT doc_id, tok, row_number() OVER (
        |    PARTITION BY tok, doc_id % 32
        |    ORDER BY tf DESC, doc_id) AS rc FROM p) c
        | WHERE rc <= 2),
        |terms AS MATERIALIZED ($bm25TermsSql),
        |apx AS (SELECT query_id, neighbor_id FROM (
        |  SELECT query_id, neighbor_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY round(s1, 6) DESC,
        |      neighbor_id) AS rn
        |  FROM (SELECT t.query_id, t.neighbor_id,
        |    ${bm25FoldSql("t.tok", "t.term")} AS s1
        |   FROM terms t JOIN champ ch ON ch.doc_id = t.neighbor_id
        |    AND ch.tok = t.tok
        |   GROUP BY 1, 2) g) a WHERE rn <= 50),
        |s AS (SELECT query_id, neighbor_id,
        |  ${bm25FoldSql("tok", "term")} AS bm25
        | FROM terms JOIN apx USING (query_id, neighbor_id)
        | GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, bm25 FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY bm25 DESC, neighbor_id) <= 10"""),
    // the rank-SAFE exhaustive tier: MaxScore pruning (hash-sample θ
    // + per-token ub + BLOCK-MAX per-doc_id-range bounds) returns the
    // TRUE exhaustive top-k — the oracle scores every pair; the plan
    // prunes where the corpus lets it (spec-proven on Zipf shapes)
    Key("text_bm25_maxscore")((s, dir) =>
      Similarity.bm25MaxScoreTopK(sharedBm25Postings(s, dir)))(
      // the EXHAUSTIVE exact ranking, no candidate rule at all: the
      // Spark side's MaxScore pruning is provably lossless, so its
      // output must equal the brute-force fold over every sharing
      // pair — the strongest possible oracle for a pruned plan
      s"""WITH $bm25StatsCtes,
        |terms AS ($bm25TermsSql),
        |s AS (SELECT query_id, neighbor_id,
        |  ${bm25FoldSql("tok", "term")} AS bm25
        | FROM terms GROUP BY 1, 2)
        |SELECT query_id, neighbor_id, bm25 FROM s
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY bm25 DESC, neighbor_id) <= 10"""),
    // the tokenizer-building step itself: 6 greedy BPE merges
    // learned from the corpus, training loop unrolled in the oracle
    Key("text_bpe_train")((s, dir) =>
      TextAnalysis.bpeTrain(Tables.documents(s, dir))) {
      // the Sennrich training loop unrolled: per iteration, weighted
      // adjacent-pair counts over the VOCABULARY relation, a 1-row
      // argmax (cnt DESC, pair lexicographic), and the leftmost-
      // greedy merge fold (list_reduce with the chosen pair's
      // columns correlated into the lambda — "aaa"+(a,a) → [aa,a]).
      // Integer counts + string symbols → bit-exact end to end.
      val unions = (1 to 6).map(i =>
        s"""SELECT CAST($i AS BIGINT) AS merge_idx, a AS left_sym,
           | b AS right_sym, a || b AS merged, cnt AS pair_count
           |FROM b$i""").mkString(" UNION ALL ")
      s"""WITH $bpeCtes
         |$unions"""
    },
    // the trained merges applied back: per-word subword split +
    // chars-vs-tokens fertility of the LEARNED tokenizer
    Key("text_bpe_vocab")((s, dir) =>
      TextAnalysis.bpeVocab(Tables.documents(s, dir)))(
      // the same unrolled chain, final symbol state emitted: the
      // learned tokenizer's per-word split + fertility
      s"""WITH $bpeCtes
         |SELECT word, n, CAST(length(word) AS BIGINT) AS n_chars,
         | CAST(len(syms) AS BIGINT) AS n_tokens,
         | list_aggregate(syms, 'string_agg', ' ') AS token_seq
         |FROM s6"""),
    // the learned tokenizer at CORPUS grain: broadcast the trained
    // vocabulary, one corpus scan, per-source token budget
    Key("text_bpe_apply")((s, dir) =>
      TextAnalysis.bpeApply(Tables.documents(s, dir)))(
      // the unrolled training chain's final state joined back to the
      // exploded corpus — per-source budget under the LEARNED
      // tokenizer; char-split fallback for words outside the vocab
      // (unreachable here: train corpus == apply corpus)
      s"""WITH $bpeCtes,
         |cw AS (SELECT source, doc_id, unnest(list_filter(
         |  regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS word
         | FROM documents)
         |SELECT source,
         | CAST(count(DISTINCT cw.doc_id) AS BIGINT) AS n_docs,
         | CAST(count(*) AS BIGINT) AS ws_tokens,
         | CAST(sum(length(cw.word)) AS BIGINT) AS n_chars,
         | CAST(sum(coalesce(len(s6.syms), length(cw.word))) AS BIGINT)
         |  AS bpe_tokens,
         | round(CAST(sum(coalesce(len(s6.syms), length(cw.word))) AS BIGINT)
         |  / CAST(greatest(count(*), 1) AS DOUBLE), 6) AS fertility,
         | round(CAST(sum(length(cw.word)) AS BIGINT)
         |  / CAST(greatest(CAST(sum(coalesce(len(s6.syms),
         |     length(cw.word))) AS BIGINT), 1) AS DOUBLE), 6) AS compression
         |FROM cw LEFT JOIN s6 ON s6.word = cw.word
         |GROUP BY 1"""),
    Key("text_token_entropy")((s, dir) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, dir)))(
      """WITH tok AS (SELECT doc_id, unnest(list_filter(
        |  regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS token
        | FROM documents),
        |c AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  sum(c * log2(c)) AS clog FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, log2(n_tokens) - clog / n_tokens AS entropy_bits
        |FROM a"""),
  )
}
