package graft

/** The DuckDB oracle: one SQL string per `SparkEntry.queries` key,
  * written in DuckDB's dialect against the raw testdata tables. A key
  * is correct when its rows match its oracle's. The SQL is written
  * here, independently of the operator code; only shared constants
  * (thresholds, seeds) are read from the Spark side.
  */
private[graft] object OracleSql {

  // ---- shared fragments ------------------------------------------------
  // Each SQL fragment that two or more oracles use is written once here
  // and interpolated where it is used. A fragment takes as parameters
  // only what differs between its uses: a name, a modulus, a threshold.
  // Fragments and oracles are written as margin literals and left
  // as they are; [[oracleSql]] flattens each finished oracle once.

  /** The C4-style quality score of a relation with `text` and its
    * whitespace tokens `toks`, `AS quality_score`: a length, a
    * punctuation and a stop-word factor. */
  private val qualityScoreSql: String =
    """least(1.0, len(toks) / 128.0)
       | * (1.0 - least(1.0, ((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) / greatest(length(text), 1)) * 4.0))
       | * (0.3 + 0.7 * least(1.0, (len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is','it','for','on'))) / greatest(len(toks), 1)) * 5.0))
       | AS quality_score"""

  /** The loser of each verified near-dup pair `j(id_a, id_b)` by the
    * quality score `sc(doc_id, quality_score)`: the lower score drops,
    * a tie drops the higher id. */
  private val losersCte: String =
    """losers AS (SELECT DISTINCT
      |  CASE WHEN qa.quality_score < qb.quality_score THEN j.id_a
      |       WHEN qb.quality_score < qa.quality_score THEN j.id_b
      |       ELSE greatest(j.id_a, j.id_b) END AS doc_id
      | FROM j JOIN sc qa ON qa.doc_id = j.id_a
      |  JOIN sc qb ON qb.doc_id = j.id_b)"""

  /** The 90/5/5 split of `doc_id` by its salted md5 prefix
    * (`DataSplit.assignPortable`), `AS split`. */
  private val md5SplitSql: String =
    """CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':split42'), 1, 8)
      |        < 'e6666666' THEN 'train'
      |      WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':split42'), 1, 8)
      |        < 'f3333333' THEN 'val'
      |      ELSE 'test' END AS split"""

  /** The select list of a column-profile calibration over a
    * subquery of per-column (col_name, n_rows, n_nulls, n_distinct,
    * apx) rows, up to its opening parenthesis. */
  private val dqCalibrationHead: String =
    """SELECT col_name, n_rows, n_nulls, n_distinct,
      | round(n_nulls * 1.0 / n_rows, 6) AS null_frac,
      | abs(apx - n_distinct) <= greatest(2, (n_distinct * 5) // 100)
      |  AS distinct_within_tol
      |FROM ("""

  /** `daily(day, x)`: lineitem revenue per ship day, in exact cents
    * times percent (a HUGEINT). */
  private val dailyRevenueCte: String =
    """daily AS (SELECT CAST(l_shipdate AS DATE) AS day,
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |   * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS HUGEINT)
      |  AS x
      | FROM lineitem GROUP BY 1)"""

  /** The signed 16-bit sample in bits 8..23 of the hash `h`. */
  private val sample16Sql: String =
    """CASE WHEN (h // 256) % 65536 >= 32768
      |   THEN (h // 256) % 65536 - 65536
      |   ELSE (h // 256) % 65536 END"""

  /** Per doc of `v(doc_id, smp)`: the mono decode statistics at
    * `rate`. */
  private def monoSampleStats(rate: Int): String =
    s"""SELECT doc_id, CAST($rate AS INTEGER) AS sample_rate,
       | CAST(1 AS INTEGER) AS channels,
       | CAST(count(*) AS BIGINT) AS n_samples,
       | CAST(sum(smp) AS BIGINT) AS sum_samples,
       | CAST(sum(abs(smp)) AS BIGINT) AS sum_abs
       |FROM v GROUP BY 1"""

  /** One grain claim's row over the key multiplicities `g(m)`. */
  private def grainStatsSql(grain: String, g: String): String =
    s"""$grain AS grain,
       |  CAST(sum(m) AS BIGINT) AS n_rows, count(*) AS n_keys,
       |  CAST(sum(CASE WHEN m > 1 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_dup_keys,
       |  CAST(sum(CASE WHEN m > 1 THEN m - 1 ELSE 0 END) AS BIGINT)
       |   AS n_dup_rows,
       |  max(m) AS max_multiplicity FROM $g"""

  /** Min-label connected components of the undirected edges
    * `pairs(id_a, id_b)` over the nodes `nodes(id)`: `e` holds both
    * edge directions, `reach` is the recursive closure and `lab(id,
    * group_id)` labels each node with the least id it reaches. */
  private def minLabelCtes(pairs: String, nodes: String = "documents",
      id: String = "doc_id"): String =
    s"""e AS (SELECT id_a AS src, id_b AS dst FROM $pairs
       | UNION ALL SELECT id_b AS src, id_a AS dst FROM $pairs),
       |reach AS (SELECT $id, $id AS r FROM $nodes
       | UNION
       | SELECT reach.$id, e.dst AS r
       | FROM reach JOIN e ON e.src = reach.r),
       |lab AS (SELECT $id, min(r) AS group_id
       | FROM reach GROUP BY $id)"""

  /** The word trigrams of `toks`, in order. */
  private val trigramListSql: String =
    """list_transform(range(1, len(toks) - 1),
      |   i -> array_to_string(toks[i:i+2], ' '))"""

  /** `grams`, or the empty list when `toks` has under three tokens. */
  private def ifTrigramsSql(grams: String): String =
    s"""CASE WHEN len(toks) >= 3
       |  THEN $grams
       |  ELSE CAST([] AS VARCHAR[]) END"""

  /** The word trigrams of `toks`, and the same deduplicated. */
  private val trigramsSql: String = ifTrigramsSql(trigramListSql)
  private val trigramSetSql: String = ifTrigramsSql(s"list_distinct($trigramListSql)")

  /** FNV-1a 64 of the string `str` as a HUGEINT: a fold over its
    * characters from the offset basis, xor then multiply by the prime,
    * mod 2^64. `j` and `b` name the lambdas' variables. */
  private def fnv1aSql(str: String, j: String = "j", b: String = "b"): String =
    s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |   list_transform(range(1, length($str) + 1),
       |     $j -> CAST(ord(substr($str, $j, 1)) AS HUGEINT))),
       |   (h, $b) -> ((h - (h % 256)) + xor(CAST(h % 256 AS BIGINT),
       |     CAST($b AS BIGINT))) * 1099511628211 % 18446744073709551616)"""

  /** Each embedding with the IVF cells of the centroids
    * `cents(cell, col)` ranked by cosine: rows (vec_id, cell, rn), the
    * nearest first and ties to the lower cell. */
  private def ivfRankSql(cents: String, col: String = "embedding"): String =
    s"""SELECT e.vec_id, c.cell, row_number() OVER (
       |   PARTITION BY e.vec_id ORDER BY
       |   list_cosine_similarity(CAST(e.embedding AS DOUBLE[]),
       |     CAST(c.$col AS DOUBLE[])) DESC, c.cell) AS rn
       | FROM embeddings e, $cents c"""

  /** The near-dup pair-summary tail over `verified(id_a, id_b, …)`:
    * `sides` scores both ids of each pair with `score` and marks the
    * larger one junior; `perdoc(doc_id, n_dupes, max_score,
    * dominated)` folds them per doc; the keep query reports every doc
    * of `docs`, kept unless dominated. */
  private def dupSidesCte(score: String): String =
    s"""sides AS (SELECT id_a AS doc_id, $score AS score,
       |  false AS is_junior FROM verified
       | UNION ALL SELECT id_b, $score, true FROM verified)"""
  private val dupPerdocCte: String =
    """perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dupes,
      |  max(score) AS max_score, bool_or(is_junior) AS dominated
      | FROM sides GROUP BY 1)"""
  private def dupKeepSql(docs: String = "documents d"): String =
    s"""SELECT d.doc_id, coalesce(p.n_dupes, 0) AS n_dupes,
       | coalesce(p.max_score, 0.0) AS max_score,
       | coalesce(NOT p.dominated, true) AS keep
       |FROM $docs LEFT JOIN perdoc p USING (doc_id)"""

  /** The docs_curate stages after a quality gate `q(doc_id)`, over
    * `t(doc_id, text, toks)`: `dd` keeps the least doc_id of each
    * normalized text, `g` lists each doc's trigrams, `bench` holds the
    * trigrams of the benchmark slice (doc_id % `benchMod` = 0) and
    * `cont` the other docs that share one. */
  private def curateDedupCtes(benchMod: Int): String =
    s"""dd AS (SELECT min(doc_id) AS doc_id FROM (SELECT doc_id,
       |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
       |  FROM documents WHERE doc_id IN (SELECT doc_id FROM q)) n GROUP BY norm),
       |g AS (SELECT doc_id, unnest(list_distinct($trigramsSql)) AS gram FROM t),
       |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % $benchMod = 0),
       |cont AS (SELECT DISTINCT c.doc_id FROM
       |  (SELECT doc_id, gram FROM g WHERE doc_id % $benchMod <> 0) c
       |  JOIN bench USING (gram))"""

  /** The docs_curate chain: the tokens `t`, the quality gate `q`
    * (20 to 100000 tokens, score at least `minScore`) and
    * [[curateDedupCtes]]. */
  private def curateCtes(minScore: String, benchMod: Int): String =
    s"""${toksCteAs("t")},
       |q AS (SELECT doc_id FROM (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  ${qualityScoreSql} FROM t) s
       | WHERE n_tokens >= 20 AND n_tokens <= 100000 AND quality_score >= $minScore),
       |${curateDedupCtes(benchMod)}"""

  /** `cur(doc_id, source)`: the documents that [[curateDedupCtes]]
    * keeps, each the least doc_id of its text, off the benchmark slice
    * and not contaminated. */
  private def curCte(benchMod: Int): String =
    s"""cur AS (SELECT d.doc_id, d.source FROM documents d
       | WHERE d.doc_id IN (SELECT doc_id FROM dd)
       |  AND d.doc_id % $benchMod <> 0
       |  AND d.doc_id NOT IN (SELECT doc_id FROM cont))"""

  /** `name(id_a, id_b)`: every id pair inside one row of
    * `bucket(ids)`, each bucket capped at its first 64 ids. */
  private def bucketPairsCte(name: String): String =
    s"""$name AS (SELECT DISTINCT a.ida AS id_a, b.idb AS id_b
       | FROM (SELECT list_slice(ids, 1, 64) AS ids FROM bucket) c,
       |  LATERAL (SELECT unnest(c.ids) AS ida) a,
       |  LATERAL (SELECT unnest(c.ids) AS idb) b
       | WHERE a.ida < b.idb)"""

  /** Welch's t-test per event type from the A/B arms' sufficient
    * statistics `a(event_type, n_a, n_b, s_a, s_b, q_a, q_b)`. */
  private val welchSql: String =
    """w AS (SELECT event_type, n_a, n_b,
      |  CAST(n_a AS DOUBLE) / (n_a + n_b) AS share_a,
      |  s_a / n_a AS mean_a, s_b / n_b AS mean_b,
      |  greatest((q_a - s_a * s_a / n_a) / (n_a - 1), 0) / n_a AS se_a,
      |  greatest((q_b - s_b * s_b / n_b) / (n_b - 1), 0) / n_b AS se_b
      | FROM a)
      |SELECT event_type, n_a, n_b, share_a, mean_a, mean_b,
      | (mean_a - mean_b) / sqrt(se_a + se_b) AS welch_t,
      | (se_a + se_b) * (se_a + se_b) / (se_a * se_a / (n_a - 1)
      |   + se_b * se_b / (n_b - 1)) AS welch_df
      |FROM w WHERE se_a + se_b > 0"""

  /** SCD2 versions of each user's runs of one event type in `src`:
    * `r` flags each change of type, `v` numbers the runs. */
  private def scdVersionCtes(src: String = "events"): String =
    s"""r AS (SELECT user_id, ts, event_type, event_id,
       |  CASE WHEN lag(event_type) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id) = event_type THEN 0 ELSE 1 END AS chg
       | FROM $src),
       |v AS (SELECT user_id, ts, event_type,
       |  sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
       | FROM r)"""

  /** The IVF index's live and dead (vec_id % 7 = 3) vectors per cell:
    * `assigned` maps each vector to its nearest cell, `filled(cell,
    * n_vecs, n_dead)` covers all 16 cells. */
  private val ivfCellDeadCtes: String =
    s"""assigned AS (SELECT vec_id, cell FROM (
       | ${ivfRankSql("cents")}) x WHERE rn = 1),
       |pc AS (SELECT cell, count(*) AS n_vecs,
       |  sum(CASE WHEN vec_id % 7 = 3 THEN 1 ELSE 0 END) AS n_dead
       | FROM assigned GROUP BY 1),
       |filled AS (SELECT s.cell,
       |  CAST(coalesce(pc.n_vecs, 0) AS BIGINT) AS n_vecs,
       |  CAST(coalesce(pc.n_dead, 0) AS BIGINT) AS n_dead
       | FROM (SELECT unnest(generate_series(0, 15)) AS cell) s
       | LEFT JOIN pc USING (cell))"""

  /** BM25 statistics of the documents' whitespace tokens: postings
    * `t(doc_id, tok)`, term frequencies `tf`, lengths `dl`, corpus
    * stats `cs(n_docs, avgdl)`, the vocabulary `dfr(tok, df)` of terms
    * in at least two and at most 90% of the docs, and the scored
    * postings `p(doc_id, tok, tf, df)`. */
  private val bm25StatsCtes: String =
    """t AS (SELECT doc_id, unnest(
      |  list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
      |  AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
      | FROM t GROUP BY 1, 2),
      |dl AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl
      | FROM t GROUP BY 1),
      |cs AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs,
      |  CAST(sum(tf) AS DOUBLE) / count(DISTINCT doc_id) AS avgdl
      | FROM tf),
      |dfr AS (SELECT tok, CAST(count(*) AS BIGINT) AS df FROM tf
      | GROUP BY 1 HAVING count(*) >= 2
      |  AND count(*) <= (SELECT floor(0.9 * n_docs) FROM cs)),
      |p AS (SELECT tf.doc_id, tf.tok, tf.tf, dfr.df
      | FROM tf JOIN dfr USING (tok))"""

  /** The best store match of each new item, over the candidate matches
    * `p(doc_id, store_id, hamming)` and the new items `nd(doc_id)`:
    * the match count, the nearest store_id (ties to the lower id) and
    * its distance; an item with no match is kept. */
  private val storeMatchSql: String =
    """b AS (SELECT doc_id, store_id, hamming, row_number() OVER
      |  (PARTITION BY doc_id ORDER BY hamming, store_id) AS rn FROM p),
      |agg AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches,
      |  CAST(max(CASE WHEN rn = 1 THEN store_id END) AS BIGINT)
      |   AS match_id,
      |  CAST(max(CASE WHEN rn = 1 THEN hamming END) AS INTEGER)
      |   AS best_hamming
      | FROM b GROUP BY 1)
      |SELECT nd.doc_id,
      | CAST(coalesce(a.n_matches, 0) AS BIGINT) AS n_matches,
      | CAST(coalesce(a.match_id, -1) AS BIGINT) AS match_id,
      | CAST(coalesce(a.best_hamming, -1) AS INTEGER) AS best_hamming,
      | coalesce(a.n_matches, 0) = 0 AS keep
      |FROM nd LEFT JOIN agg a USING (doc_id)"""

  /** The A/B arms' six sufficient statistics over `g(is_a, value)`:
    * the count, sum and sum of squares of `value` in each arm, named
    * `cnt`, `sum` or `sq` followed by the arm letter. */
  private def abSumsSql(cnt: String, sum: String, sq: String): String =
    s"""CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ${cnt}a,
       |  CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS ${cnt}b,
       |  sum(CASE WHEN is_a THEN value ELSE CAST(0 AS DOUBLE) END) AS ${sum}a,
       |  sum(CASE WHEN NOT is_a THEN value ELSE CAST(0 AS DOUBLE) END) AS ${sum}b,
       |  sum(CASE WHEN is_a THEN value ELSE CAST(0 AS DOUBLE) END * value)
       |   AS ${sq}a,
       |  sum(CASE WHEN NOT is_a THEN value ELSE CAST(0 AS DOUBLE) END * value)
       |   AS ${sq}b"""

  /** The md5 coin that splits users into the A and B arms. */
  private val abCoinSql: String =
    """substring(md5(CAST(user_id AS VARCHAR) || ':ab42'), 1, 8)
      |   < '80000000' AS is_a"""

  /** Per event type: `g` splits the events by [[abCoinSql]] and `a`
    * holds the arms' [[abSumsSql]] (n_a, n_b, s_a, s_b, q_a, q_b), for
    * types with at least two events per arm. */
  private val abMomentsCtes: String =
    s"""g AS (SELECT event_type,
       | $abCoinSql,
       | value FROM events),
       |a AS (SELECT event_type,
       |  ${abSumsSql("n_", "s_", "q_")}
       | FROM g GROUP BY 1 HAVING n_a > 1 AND n_b > 1)"""

  /** [[abMomentsCtes]] per event type and day, into `d` (d_na, d_nb,
    * d_sa, d_sb, d_qa, d_qb), over the events with a timestamp. */
  private val abDailyMomentsCtes: String =
    s"""g AS (SELECT event_type, CAST(ts AS DATE) AS day,
       | $abCoinSql,
       | value FROM events WHERE ts IS NOT NULL),
       |d AS (SELECT event_type, day,
       |  ${abSumsSql("d_n", "d_s", "d_q")}
       | FROM g GROUP BY 1, 2)"""

  /** `name(cols, h)`: the hashes that seed the synthetic media's 64
    * samples, the [[fnv1aSql]] of "doc_id:i" for i in [0, 64); `cols`
    * is `doc_id` or `doc_id, i`. */
  private def sampleHashCte(name: String, cols: String): String =
    s"""$name AS (SELECT $cols,
       | ${fnv1aSql("s")} AS h
       | FROM (SELECT $cols,
       |   CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR) AS s
       |  FROM documents, LATERAL (SELECT unnest(generate_series(0, 63))
       |   AS i) g) t)"""

  /** The exact-cosine top 10 of each query over the candidate pairs
    * `cands(query_id, neighbor_id)`, aliased `c`, ties to the lower
    * neighbor_id; `q` aliases the query's embedding row. */
  private def exactTop10Sql(cands: String, c: String, q: String = "q"): String =
    s"""SELECT query_id, neighbor_id, cosine FROM (
       | SELECT $c.query_id, $c.neighbor_id,
       |  list_cosine_similarity(CAST($q.embedding AS DOUBLE[]),
       |    CAST(n.embedding AS DOUBLE[])) AS cosine
       | FROM $cands $c
       | JOIN embeddings $q ON $q.vec_id = $c.query_id
       | JOIN embeddings n ON n.vec_id = $c.neighbor_id) s
       |QUALIFY row_number() OVER (PARTITION BY query_id
       | ORDER BY cosine DESC, neighbor_id) <= 10"""

  /** The 8-gram coverage of the token relation `src(doc_id, toks)`:
    * `rtc(doc_id, tok_chars)`, the 8-gram occurrences `og(doc_id,
    * start, ng)`, the 8-grams `du` found in two or more docs and the
    * token positions `cpos(doc_id, p)` they cover. */
  private def ngramCoverCtes(src: String): String =
    s"""rtc AS (SELECT doc_id, CAST(list_sum(list_transform(toks,
       |  x -> length(x))) AS BIGINT) AS tok_chars FROM $src),
       |og AS (SELECT $src.doc_id, u.i - 1 AS start,
       |  array_to_string($src.toks[u.i:u.i + 7], ' ') AS ng
       | FROM $src, LATERAL (SELECT unnest(generate_series(1,
       |   len($src.toks) - 7)) AS i) u
       | WHERE len($src.toks) >= 8),
       |du AS (SELECT ng FROM og GROUP BY ng
       |  HAVING count(DISTINCT doc_id) >= 2),
       |cpos AS (SELECT DISTINCT og.doc_id, u.p
       | FROM og JOIN du USING (ng),
       |  LATERAL (SELECT unnest(range(og.start, og.start + 8)) AS p) u)"""

  /** The rows `t` and the rows to erase `e` (id % 53 = 3) of the
    * three stores an erasure touches: the documents `f`, the winnow
    * fingerprints `wn` ([[winnowFpCtes]]) and the ANN vectors `av`. */
  private lazy val rtbfStoreCtes: String =
    s"""$winnowFpCtes,
       |f AS (SELECT CAST(count(*) AS BIGINT) AS t,
       |  CAST(coalesce(sum(CASE WHEN doc_id % 53 = 3 THEN 1 ELSE 0 END),
       |   0) AS BIGINT) AS e FROM documents),
       |wn AS (SELECT CAST(count(*) AS BIGINT) AS t,
       |  CAST(coalesce(sum(CASE WHEN doc_id % 53 = 3 THEN 1 ELSE 0 END),
       |   0) AS BIGINT) AS e FROM w),
       |av AS (SELECT CAST(count(*) AS BIGINT) AS t,
       |  CAST(coalesce(sum(CASE WHEN vec_id % 53 = 3 THEN 1 ELSE 0 END),
       |   0) AS BIGINT) AS e FROM embeddings)"""

  /** Each user's activity on each event day: `g(target_day, user_id,
    * active_today)` holds the users active in the 7 days up to
    * `target_day`, flagged when active on that day itself. */
  private val stickinessCtes: String =
    """ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
      | FROM events),
      |days AS (SELECT DISTINCT day AS target_day FROM ud),
      |fan AS (SELECT ud.user_id, d.target_day,
      |  CASE WHEN ud.day = d.target_day THEN 1 ELSE 0 END AS is_today
      | FROM ud JOIN days d
      |  ON d.target_day BETWEEN ud.day AND ud.day + 6),
      |g AS (SELECT target_day, user_id, max(is_today) AS active_today
      | FROM fan GROUP BY 1, 2)"""

  /** `m(mth, c)`: lineitem revenue per ship month, in exact cents
    * times percent (a HUGEINT). */
  private val monthlyRevenueCte: String =
    """m AS (SELECT
      |  date_trunc('month', CAST(l_shipdate AS DATE)) AS mth,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS HUGEINT)
      |   AS c
      | FROM lineitem GROUP BY 1)"""

  /** Holt-Winters' start over the monthly series `s(i, c, x)`: the
    * first two years' mean levels `init(m1, m2)` and the first year's
    * seasonal offsets `seas0(sl)`. */
  private val holtWintersInitCtes: String =
    """init AS (SELECT
      |  (SELECT CAST(sum(c) AS DOUBLE) / 10000.0 / 12.0 FROM s
      |    WHERE i <= 12) AS m1,
      |  (SELECT CAST(sum(c) AS DOUBLE) / 10000.0 / 12.0 FROM s
      |    WHERE i BETWEEN 13 AND 24) AS m2),
      |seas0 AS (SELECT list(x - (SELECT m1 FROM init) ORDER BY i) AS sl
      | FROM s WHERE i <= 12)"""

  /** `new_session`, then the FROM clause over `events`: 1 where a
    * user's event comes more than 30 minutes after their previous one
    * in (ts, event_id) order, or is their first. */
  private val newSessionSql: String =
    """CASE WHEN lag(ts) OVER w IS NULL
      |   OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
      |   AS new_session
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""

  /** The events flagged by [[newSessionSql]], then `numbered`: every
    * event column with its user's running `session_seq`. */
  private val sessionSeqCtes: String =
    s"""flagged AS (SELECT user_id, ts, event_id, event_type,
       |  $newSessionSql),
       |numbered AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
       |  ORDER BY ts, event_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
       | FROM flagged)"""

  /** The events per hour `h(hb, n)` and every hour `spine(hb)` from
    * the first event's to the last's. */
  private val hourSpineCtes: String =
    """h AS (SELECT date_trunc('hour', ts) AS hb, count(*) AS n
      |  FROM events GROUP BY 1),
      |b AS (SELECT min(hb) AS lo, max(hb) AS hi FROM h),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
      |   AS hb FROM b)"""

  /** [[hourSpineCtes]] with the events of every hour `f(hb, n, dow,
    * hour_of_day)`, zero-event hours included, and each weekly slot's
    * hour count and first two moments `p(dow, hour_of_day, cnt, s1,
    * s2)`. DuckDB's dayofweek counts Sunday as 0, Spark's as 1. */
  private val hourSlotCtes: String =
    s"""$hourSpineCtes,
       |f AS (SELECT spine.hb, coalesce(h.n, 0) AS n,
       |  CAST(dayofweek(spine.hb) + 1 AS BIGINT) AS dow,
       |  CAST(hour(spine.hb) AS BIGINT) AS hour_of_day
       | FROM spine LEFT JOIN h USING (hb)),
       |p AS (SELECT dow, hour_of_day, count(*) AS cnt,
       |  CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2
       | FROM f GROUP BY 1, 2)"""

  /** `h(doc_id, hits_en, …, hits_zh)`: each doc's tokens `t(doc_id,
    * toks)` among five stop words of each language. */
  private val langHitsCte: String =
    """h AS (SELECT doc_id,
      | CAST(len(list_filter(toks, x -> x IN ('the','and','of','to','in'))) AS BIGINT) AS hits_en,
      | CAST(len(list_filter(toks, x -> x IN ('le','la','et','les','des'))) AS BIGINT) AS hits_fr,
      | CAST(len(list_filter(toks, x -> x IN ('el','los','de','que','y'))) AS BIGINT) AS hits_es,
      | CAST(len(list_filter(toks, x -> x IN ('der','die','und','das','ist'))) AS BIGINT) AS hits_de,
      | CAST(len(list_filter(toks, x -> x IN ('的','是','在','了','和'))) AS BIGINT) AS hits_zh
      | FROM t)"""

  /** `predicted_lang` over [[langHitsCte]]'s counts: the language with
    * the most hits, the first in en, fr, es, de, zh order on a tie,
    * 'und' with none. */
  private val predictedLangSql: String =
    """CASE WHEN greatest(hits_en, hits_fr, hits_es, hits_de, hits_zh) = 0 THEN 'und'
      |  WHEN hits_en = greatest(hits_en, hits_fr, hits_es, hits_de, hits_zh) THEN 'en'
      |  WHEN hits_fr = greatest(hits_en, hits_fr, hits_es, hits_de, hits_zh) THEN 'fr'
      |  WHEN hits_es = greatest(hits_en, hits_fr, hits_es, hits_de, hits_zh) THEN 'es'
      |  WHEN hits_de = greatest(hits_en, hits_fr, hits_es, hits_de, hits_zh) THEN 'de'
      |  ELSE 'zh' END AS predicted_lang"""

  /** FROM each document's 128-char frames, numbered `i` from 0; an
    * empty text has one empty frame. */
  private val framesFromSql: String =
    """FROM documents, LATERAL (SELECT unnest(generate_series(0,
      |   greatest((length(text) - 1) // 128, 0))) AS i) g"""

  /** The md5 of the first 64 chars of every frame: `pd(doc_id, fmd5)`
    * holds each document's distinct ones, `sz(doc_id, n)` counts them
    * and `d(fmd5, df)` counts the documents of each. */
  private val frameMd5Ctes: String =
    s"""f AS (SELECT doc_id, md5(substr(text, i * 128 + 1, 64)) AS fmd5
       |  $framesFromSql),
       |pd AS (SELECT DISTINCT doc_id, fmd5 FROM f),
       |sz AS (SELECT doc_id, count(*) AS n FROM pd GROUP BY 1),
       |d AS (SELECT fmd5, count(*) AS df FROM pd GROUP BY 1)"""

  /** The exact-match tail over the new items `nd(doc_id, …)` and
    * their store matches `p(doc_id, store_id)`: each new item's match
    * count, its least store_id as `match_id` and then `cols`; an item
    * with no match is kept. */
  private def exactStoreMatchSql(cols: String = ""): String =
    s"""agg AS (SELECT doc_id,
       |  CAST(count(*) AS BIGINT) AS n_matches,
       |  CAST(min(store_id) AS BIGINT) AS match_id
       | FROM p GROUP BY 1)
       |SELECT d.doc_id,
       | CAST(coalesce(a.n_matches, 0) AS BIGINT) AS n_matches,
       | CAST(coalesce(a.match_id, -1) AS BIGINT) AS match_id,
       | $cols
       | a.n_matches IS NULL AS keep
       |FROM (SELECT DISTINCT doc_id FROM nd) d
       |LEFT JOIN agg a USING (doc_id)"""

  /** `p(key, n_a, n_b, p_a, p_b)`: the A and B shares of each
    * category of `g(key, n_a, n_b)`, half a count added to each. */
  private def laplaceShareCte(key: String): String =
    s"""p AS (SELECT $key, n_a, n_b,
       |  (n_a + 0.5) / (CAST(sum(n_a) OVER () AS BIGINT)
       |    + 0.5 * count(*) OVER ()) AS p_a,
       |  (n_b + 0.5) / (CAST(sum(n_b) OVER () AS BIGINT)
       |    + 0.5 * count(*) OVER ()) AS p_b
       | FROM g)"""

  /** The population stability index over the shares `p(key, n_a,
    * n_b, p_a, p_b)`: each category's term and their total. */
  private def psiTermsSql(key: String): String =
    s"""q AS (SELECT *, (p_b - p_a) * ln(p_b / p_a) AS psi FROM p)
       |SELECT $key, n_a, n_b, round(p_a, 6) AS p_a,
       | round(p_b, 6) AS p_b, round(psi, 6) AS psi_term,
       | round(sum(psi) OVER (), 6) AS psi_total FROM q"""

  /** Per event type between the days `from` (inclusive) and `to`:
    * the exact distinct users and events, and whether DuckDB's own
    * approx_count_distinct lands within 5% of the exact users. */
  private def approxUsersSql(from: String, to: String): String =
    s"""SELECT event_type,
       | CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
       | CAST(count(*) AS BIGINT) AS n_events,
       | abs(CAST(approx_count_distinct(user_id) AS DOUBLE)
       |   / count(DISTINCT user_id) - 1.0) <= 0.05 AS est_within_tol
       |FROM events
       |WHERE CAST(ts AS DATE) >= DATE '$from'
       | AND CAST(ts AS DATE) < DATE '$to'
       |GROUP BY 1"""

  /** The lake's file manifest `m(part, file_id, bytes)`: the
    * documents of each source binned into 37 files by doc_id. */
  private val lakeFileCte: String =
    """m AS (SELECT source AS part,
      |  CAST(doc_id % 37 AS BIGINT) AS file_id,
      |  CAST(sum(n_chars) AS BIGINT) AS bytes
      | FROM documents GROUP BY 1, 2)"""

  /** The manifest of [[lakeFileCte]] with each file's snapshot life:
    * `created_snap`, and `removed_snap` for a third of the files. */
  private val lakeSnapshotCte: String =
    """m AS (SELECT source AS part,
      |  CAST(doc_id % 37 AS BIGINT) AS file_id,
      |  CAST(sum(n_chars) AS BIGINT) AS bytes,
      |  CAST(min(doc_id) % 7 AS BIGINT) AS created_snap,
      |  CASE WHEN max(doc_id) % 3 = 0
      |   THEN CAST(min(doc_id) % 7 + 1 + max(doc_id) % 4 AS BIGINT)
      |   ELSE NULL END AS removed_snap
      | FROM documents GROUP BY 1, 2)"""

  /** [[lakeFileCte]] with `b(part, file_id, bytes, cum_before)`: the
    * bytes of the part's larger files before each one, the compaction
    * prefix sum. */
  private val lakeBinCtes: String =
    s"""$lakeFileCte,
       |b AS (SELECT part, file_id, bytes,
       |  COALESCE(sum(bytes) OVER (PARTITION BY part
       |    ORDER BY bytes DESC, file_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |   AS cum_before FROM m)"""

  /** The orders' largest custkey and day offset from 1992-01-01,
    * `mm(max_c, max_d)`, the extent of the 65536 × 65536 grid. */
  private val orderGridCte: String =
    """mm AS (SELECT max(o_custkey) AS max_c,
      |  max(CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
      |    AS BIGINT)) AS max_d FROM orders)"""

  /** An order's cell `x, y` of the [[orderGridCte]] grid. */
  private val orderCellSql: String =
    """least(greatest((o_custkey * 65536) // (mm.max_c + 1), 0),
      |    65535) AS x,
      |  least(greatest((CAST(date_diff('day', DATE '1992-01-01',
      |    o_orderdate) AS BIGINT) * 65536) // (mm.max_d + 1), 0),
      |    65535) AS y"""

  /** The 32-bit Morton key of the cell (x, y): dim 0 at the even bit
    * positions, dim 1 at the odd ones. */
  private val mortonSql: String = (0 until 16).flatMap { bit =>
    Seq(s"((x // ${1L << bit}) % 2) * ${1L << (2 * bit)}",
      s"((y // ${1L << bit}) % 2) * ${1L << (2 * bit + 1)}")
  }.mkString(" + ")

  /** A z-order file's cell bounds, over its rows' (x, y). */
  private val zBoundsSql: String =
    """CAST(min(x) AS BIGINT) AS min_cust16,
      | CAST(max(x) AS BIGINT) AS max_cust16,
      | CAST(min(y) AS BIGINT) AS min_day16,
      | CAST(max(y) AS BIGINT) AS max_day16"""

  /** Each scored posting `c` of [[bm25StatsCtes]] that shares a token
    * with a query doc (doc_id % 100 = 0) as a BM25 term (k1 = 1.2,
    * b = 0.75): rows (query_id, neighbor_id, tok, term). */
  private val bm25TermsSql: String =
    """SELECT q.doc_id AS query_id,
      |  c.doc_id AS neighbor_id, c.tok,
      |  ln((cs.n_docs - c.df + 0.5) / (c.df + 0.5) + 1.0) *
      |   ((c.tf * 2.2) / (c.tf + 1.2 * (0.25 + 0.75 * dl.dl / cs.avgdl)))
      |   AS term
      | FROM p q JOIN p c ON c.tok = q.tok AND c.doc_id != q.doc_id
      | JOIN dl ON dl.doc_id = c.doc_id, cs
      | WHERE q.doc_id % 100 = 0"""

  /** The sum of a group's BM25 `term`s folded in `tok` order, so that
    * both engines add them in the same order. */
  private def bm25FoldSql(tok: String, term: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(list_sort(list({'tok': $tok, 'term': $term})),
       |    x -> struct_extract(x, 'term'))),
       |  (acc, v) -> acc + v)"""

  /** Every pair of a query embedding (vec_id % `mod` = 0) and another
    * embedding, with their exact cosine: rows (query_id, neighbor_id,
    * cosine). */
  private def queryPairsSql(mod: Int = 100): String =
    s"""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |    CAST(c.embedding AS DOUBLE[])) AS cosine
       | FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
       | WHERE q.vec_id % $mod = 0"""

  /** The md5 coin of `a.doc_id` under `salt` falls below the row's
    * sampling rate `r.rate`: its first 8 hex digits against the rate
    * scaled to 2^32, every row kept at a rate of 1 or more. */
  private def md5BelowRateSql(a: String, salt: String): String =
    s"""substring(md5(CAST($a.doc_id AS VARCHAR) || ':$salt'), 1, 8) <
       | CASE WHEN r.rate >= 1.0 THEN 'g'
       |  ELSE printf('%08x', CAST(floor(r.rate * 4294967296.0) AS BIGINT)) END"""

  /** The rows of `src(doc_id, source)`, aliased `a`, sampled at their
    * source's rate `r(source, rate)` by [[md5BelowRateSql]]. */
  private def rateSampleSql(src: String, a: String, salt: String): String =
    s"""SELECT $a.doc_id, $a.source FROM $src $a JOIN r ON $a.source = r.source
       |WHERE ${md5BelowRateSql(a, salt)}"""

  /** The mixture sample of `src(doc_id, source)`: src0 weighted 0.5 and
    * src1, src2 0.25 each, each rate the largest that the scarcest
    * source allows. */
  private def mixtureSampleSql(src: String, a: String): String =
    s"""cnt AS (SELECT source, count(*) AS n,
       |  CASE source WHEN 'src0' THEN CAST(0.5 AS DOUBLE)
       |   ELSE CAST(0.25 AS DOUBLE) END AS p
       | FROM $src WHERE source IN ('src0', 'src1', 'src2')
       | GROUP BY source),
       |tot AS (SELECT min(n / p) AS total FROM cnt),
       |r AS (SELECT source,
       |  least(p * (SELECT total FROM tot) / n, CAST(1 AS DOUBLE)) AS rate
       | FROM cnt)
       |${rateSampleSql(src, a, "m42")}"""

  /** The τ = 1/2 temperature sample of `src(doc_id, source)`: each
    * source at rate sqrt(n_min / n). */
  private def temperatureSampleSql(src: String, a: String): String =
    s"""cnt AS (SELECT source, count(*) AS n FROM $src
       | WHERE source IS NOT NULL GROUP BY source),
       |m AS (SELECT min(n) AS nmin FROM cnt),
       |r AS (SELECT source,
       |  sqrt(CAST((SELECT nmin FROM m) AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
       | FROM cnt)
       |${rateSampleSql(src, a, "t42")}"""

  // ---- DuckDB oracles --------------------------------------------------

  /** The lineitem→sales mapping as a SQL fragment (SURVEY.md §1). */
  private def salesSql(where: String): String =
    s"""SELECT l_orderkey * 10 + l_linenumber AS sale_id,
       | l_partkey AS product_id,
       | l_quantity AS quantity,
       | l_extendedprice AS sale_amount,
       | CAST(l_shipdate AS DATE) AS sale_date
       |FROM lineitem $where"""

  private val cleanSalesSql: String =
    s"""SELECT * FROM (${salesSql("")}) s
       | WHERE sale_id IS NOT NULL AND product_id IS NOT NULL
       |   AND quantity IS NOT NULL AND sale_amount IS NOT NULL
       |   AND sale_date IS NOT NULL AND quantity > 0 AND sale_amount > 0"""

  private val runReportSql: String =
    s"""WITH c AS ($cleanSalesSql),
       |ca AS (SELECT count(*) AS n_clean, min(sale_date) AS lo,
       |  max(sale_date) AS hi, count(DISTINCT sale_date) AS nd FROM c),
       |ta AS (SELECT count(*) AS n_total FROM (${salesSql("")}) u)
       |SELECT n_clean, n_total - n_clean AS n_quarantined,
       | round((n_total - n_clean) * 1.0 / n_total, 6) AS quarantine_frac,
       | CAST(date_diff('day', lo, hi) + 1 - nd AS BIGINT) AS n_gap_days,
       | n_clean > 0
       |  AND round((n_total - n_clean) * 1.0 / n_total, 6) <= 0.05
       |  AND date_diff('day', lo, hi) + 1 - nd = 0 AS ok
       |FROM ca, ta"""

  private val summarySql: String =
    s"""SELECT product_id, sum(quantity) AS total_quantity,
       | sum(sale_amount) AS total_sale_amount
       |FROM ($cleanSalesSql) c GROUP BY product_id"""

  /** Shared perceptual-hash CTE chain (DuckDB dialect): replays the
    * mixed PNG/BMP synth's PIXELS from the double-FNV recipe
    * (HUGEINT folds; the planted copies at doc_id % 10 = 1 read
    * doc_id-1's recipe with pixel 0's red nudged +1), packs the
    * 56 row-adjacent luma-gradient comparison bits, and ends in
    * `sig(doc_id, dhash)`. Both phash oracles append their own
    * exhaustive tail - no candidate rule anywhere. */
  private val phashSigCtes: String =
    s"""fold1 AS (SELECT doc_id, i,
        |  CAST(${fnv1aSql("s")}
        |    AS VARCHAR) AS s2
        | FROM (SELECT doc_id, i,
        |   CAST(CASE WHEN doc_id % 10 = 1 THEN doc_id - 1 ELSE doc_id END
        |     AS VARCHAR) || ':' || CAST(i AS VARCHAR) AS s
        |  FROM documents,
        |   LATERAL (SELECT unnest(generate_series(0, 63)) AS i) g) t),
        |px AS (SELECT doc_id, i,
        | CASE WHEN doc_id % 20 = 1 AND i = 0 THEN (r + 1) % 256
        |  ELSE r END AS r, g, b
        |FROM (SELECT doc_id, i,
        |  CAST((h // 256) % 256 AS BIGINT) AS r,
        |  CAST((h // 65536) % 256 AS BIGINT) AS g,
        |  CAST((h // 16777216) % 256 AS BIGINT) AS b
        | FROM (SELECT doc_id, i,
        |  ${fnv1aSql("s2")}
        |    AS h
        |  FROM fold1) u) v),
        |lum AS (SELECT doc_id, i, 299 * r + 587 * g + 114 * b AS l FROM px),
        |sig AS MATERIALIZED (SELECT a.doc_id,
        |  CAST(sum(CASE WHEN b.l > a.l
        |   THEN (CAST(1 AS BIGINT) << ((a.i // 8) * 7 + (a.i % 8)))
        |   ELSE 0 END) AS BIGINT) AS dhash
        | FROM lum a JOIN lum b ON b.doc_id = a.doc_id AND b.i = a.i + 1
        | WHERE a.i % 8 < 7 GROUP BY 1)"""

  /** Gopher per-doc repetition PROFILE as a composable CTE chain
    * (appended after [[linedCtes]]): ends in `rep_profile` with
    * the text_repetition_profile output columns. */
  private val gopherProfileCtes: String =
    """rp AS (SELECT doc_id, toks, lines, paras,
        |  length(array_to_string(toks, ' ')) AS tok_chars,
        |  len(lines) AS n_lines, len(paras) AS n_paras,
        |  coalesce(list_sum(list_transform(lines, s ->
        |   CASE WHEN len(list_filter(lines, x -> x = s)) > 1
        |    THEN length(s) ELSE 0 END)), 0) AS dup_line_chars,
        |  coalesce(list_sum(list_transform(lines, s -> length(s))), 0) AS line_chars,
        |  coalesce(list_sum(list_transform(paras, s ->
        |   CASE WHEN len(list_filter(paras, x -> x = s)) > 1
        |    THEN length(s) ELSE 0 END)), 0) AS dup_para_chars,
        |  coalesce(list_sum(list_transform(paras, s -> length(s))), 0) AS para_chars,
        |  CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
        |   ELSE list_transform(range(1, len(toks)),
        |    i -> array_to_string(toks[i:i+1], ' ')) END AS g2,
        |  CASE WHEN len(toks) < 3 THEN CAST([] AS VARCHAR[])
        |   ELSE list_transform(range(1, len(toks) - 1),
        |    i -> array_to_string(toks[i:i+2], ' ')) END AS g3,
        |  CASE WHEN len(toks) < 4 THEN CAST([] AS VARCHAR[])
        |   ELSE list_transform(range(1, len(toks) - 2),
        |    i -> array_to_string(toks[i:i+3], ' ')) END AS g4
        | FROM t2),
        |mx AS (SELECT *,
        |  list_max(list_transform(list_distinct(g2),
        |   d -> len(list_filter(g2, x -> x = d)))) AS maxc2,
        |  list_max(list_transform(list_distinct(g3),
        |   d -> len(list_filter(g3, x -> x = d)))) AS maxc3,
        |  list_max(list_transform(list_distinct(g4),
        |   d -> len(list_filter(g4, x -> x = d)))) AS maxc4
        | FROM rp)
        |, rep_profile AS (SELECT doc_id,
        | CAST(n_lines AS BIGINT) AS n_lines,
        | CAST(n_paras AS BIGINT) AS n_paras,
        | CASE WHEN n_lines > 0
        |  THEN 1.0 - len(list_distinct(lines)) / n_lines ELSE 0.0 END
        |  AS dup_line_fraction,
        | CASE WHEN n_paras > 0
        |  THEN 1.0 - len(list_distinct(paras)) / n_paras ELSE 0.0 END
        |  AS dup_para_fraction,
        | CASE WHEN line_chars > 0
        |  THEN CAST(dup_line_chars AS BIGINT) / CAST(line_chars AS BIGINT)
        |  ELSE 0.0 END AS dup_line_char_fraction,
        | CASE WHEN para_chars > 0
        |  THEN CAST(dup_para_chars AS BIGINT) / CAST(para_chars AS BIGINT)
        |  ELSE 0.0 END AS dup_para_char_fraction,
        | CASE WHEN tok_chars > 0 AND maxc2 IS NOT NULL
        |  THEN CAST(maxc2 * length(list_min(list_filter(list_distinct(g2),
        |   d -> len(list_filter(g2, x -> x = d)) = maxc2))) AS BIGINT) / tok_chars
        |  ELSE 0.0 END AS top2gram_char_fraction,
        | CASE WHEN tok_chars > 0 AND maxc3 IS NOT NULL
        |  THEN CAST(maxc3 * length(list_min(list_filter(list_distinct(g3),
        |   d -> len(list_filter(g3, x -> x = d)) = maxc3))) AS BIGINT) / tok_chars
        |  ELSE 0.0 END AS top3gram_char_fraction,
        | CASE WHEN tok_chars > 0 AND maxc4 IS NOT NULL
        |  THEN CAST(maxc4 * length(list_min(list_filter(list_distinct(g4),
        |   d -> len(list_filter(g4, x -> x = d)) = maxc4))) AS BIGINT) / tok_chars
        |  ELSE 0.0 END AS top4gram_char_fraction
        |FROM mx)"""

  /** Duplicated-n-gram char-coverage (the dup-mass half) as a
    * composable CTE chain (appended after [[linedCtes]]): ends in
    * `dng` with the text_dup_ngram_mass output columns. */
  private val dupMassCtes: String = {
    val gs = (5 to 10).map(n =>
        s"""CASE WHEN len(toks) < $n THEN CAST([] AS VARCHAR[])
           | ELSE list_transform(range(1, len(toks) - $n + 2),
           |  i -> array_to_string(toks[i:i + $n - 1], ' ')) END AS g$n""").mkString(", ")
      val ds = (5 to 10).map(n =>
        s"""list_transform(list_filter(range(1, len(g$n) + 1),
           | i -> len(list_filter(g$n, x -> x = g$n[i])) >= 2),
           | i -> i - 1) AS ds$n""").mkString(", ")
      val fr = (5 to 10).map(n =>
        s"""CASE WHEN tok_chars > 0 THEN
           | CAST(coalesce(list_sum(list_transform(range(1, len(toks) + 1),
           |  t -> CASE WHEN len(list_filter(ds$n,
           |    s2 -> s2 <= t - 1 AND t - 1 < s2 + $n)) > 0
           |   THEN length(toks[t]) ELSE 0 END)), 0) AS BIGINT)
           |  / CAST(tok_chars AS BIGINT)
           | ELSE 0.0 END AS dup${n}gram_char_fraction""")
        .mkString(", ")
    s"""mb AS (SELECT doc_id, toks,
         |  coalesce(list_sum(list_transform(toks, t -> length(t))), 0)
         |   AS tok_chars FROM t2),
         |mg AS (SELECT doc_id, toks, tok_chars, $gs FROM mb),
         |md AS (SELECT doc_id, toks, tok_chars, $ds FROM mg)
       |, dng AS (SELECT doc_id, CAST(tok_chars AS BIGINT) AS tok_chars, $fr
         |FROM md)"""
  }

  /** [[linedCtes]] parameterized on the source relation, so the
    * quality-fixture oracles can run the SAME lining replay over the
    * defect-planted corpus (`qd`) that the plain profile keys run
    * over raw `documents`. */
  private def linedCtesFrom(src: String): String =
    s"""t AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
      | FROM $src),
      |p AS (SELECT doc_id, list_transform(range(1, len(toks) + 1), i ->
      |  CASE WHEN i = 1 THEN toks[i]
      |   WHEN (i - 1) % 8 = 0 THEN chr(10) || chr(10) || toks[i]
      |   WHEN (i - 1) % 2 = 0 THEN chr(10) || toks[i]
      |   ELSE ' ' || toks[i] END) AS pieces FROM t),
      |txt AS (SELECT doc_id, CASE WHEN len(pieces) = 0 THEN ''
      |  WHEN doc_id % 5 = 0 THEN
      |   list_reduce(pieces, (a, b) -> a || b) || chr(10) || chr(10) ||
      |   list_reduce(pieces[1:least(8, len(pieces))], (a, b) -> a || b)
      |  ELSE list_reduce(pieces, (a, b) -> a || b) END AS text FROM p),
      |t2 AS (SELECT doc_id,
      |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks,
      |  list_filter(string_split(text, chr(10)), x -> x <> '') AS lines,
      |  list_filter(string_split(text, chr(10) || chr(10)), x -> x <> '') AS paras
      | FROM txt)"""

  /** Shared lined-corpus CTE chain (DuckDB dialect): replays the
    * [[graft.operators.TextAnalysis.synthLinedCorpus]] synth (a
    * newline before every 2nd token, a blank line before every 8th,
    * the first paragraph re-appended on doc_id % 5 = 0) and
    * re-tokenizes the LINED text — the planted copy adds tokens.
    * Ends in `t2(doc_id, toks, lines, paras)`; consumers needing
    * only the token stream let the optimizer prune lines/paras. */
  private val linedCtes: String = linedCtesFrom("documents")

  /** Quality-defect fixture replay (DuckDB dialect) — the verbatim
    * SQL twin of [[operators.TextAnalysis.synthQualityDefects]]:
    * ends in `qd(doc_id, source, text)`, which [[linedCtesFrom]]
    * then lines exactly as the operator's [[operators.TextAnalysis
    * .synthQualityCorpus]] does. Plant sizes and the healthy tail
    * come from the SAME constants the operator reads. */
  private val qualCorpusCte: String = {
    import operators.TextAnalysis.{GopherQualityTail => T}
    import operators.TextAnalysis.QualityPlant._
    s"""qraw AS (SELECT doc_id, source, text,
       |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '')
       |   AS toks0 FROM documents),
       |qd AS (SELECT doc_id, source,
       |  CASE CAST(doc_id % $mod AS INTEGER)
       |  WHEN 1 THEN array_to_string(toks0[1:3], ' ')
       |  WHEN 2 THEN array_to_string(list_transform(range(1, ${longWords + 1}),
       |   i -> 'verylongsyntheticword' || doc_id || 'x' || i), ' ') || ' $T'
       |  WHEN 3 THEN array_to_string(list_transform(range(1, ${shortWords + 1}),
       |   i -> chr(CAST(97 + i % 26 AS INTEGER)) ||
       |    chr(CAST(97 + (i // 26) % 26 AS INTEGER))), ' ') || ' $T'
       |  WHEN 4 THEN text || ' ' || array_to_string(list_transform(
       |   range(1, ${tagWords + 1}), i -> 'tag#' || i), ' ') || ' $T'
       |  WHEN 5 THEN array_to_string(list_transform(range(1, ${bulletWords + 1}),
       |   i -> '-b' || i), ' ') || ' $T'
       |  WHEN 6 THEN array_to_string(list_transform(range(1, ${ellipsisWords + 1}),
       |   i -> 'w' || i || '...'), ' ') || ' $T'
       |  WHEN 7 THEN array_to_string(list_transform(range(1, ${digitWords + 1}),
       |   i -> CAST(90000 + i AS VARCHAR)), ' ') || ' $T'
       |  WHEN 8 THEN text || ' ' || array_to_string(list_transform(
       |   range(1, ${padWords + 1}), i -> 'pad' || i), ' ')
       |  ELSE text || ' $T' END AS text
       | FROM qraw)"""
  }

  /** The 7 Gopher quality metrics as a CTE over [[linedCtesFrom]]'s
    * `t2` (token/line arrays) joined to `txt` (the lined text, for
    * the char-level symbol counters) — ends in `qprof`, the exact
    * SQL twin of [[operators.TextAnalysis.gopherQualityCols]]. */
  private val qualProfileCtes: String = {
    val stops = operators.TextAnalysis.GopherQualityStopWords
      .map(s => s"'$s'").mkString("[", ", ", "]")
    """qprof AS (SELECT t2.doc_id,
      | CAST(len(t2.toks) AS BIGINT) AS n_words,
      | CASE WHEN len(t2.toks) > 0 THEN
      |  CAST(coalesce(list_sum(list_transform(t2.toks, x -> length(x))), 0)
      |   AS BIGINT) / CAST(len(t2.toks) AS BIGINT)
      |  ELSE 0.0 END AS mean_word_len,
      | CASE WHEN len(t2.toks) > 0 THEN
      |  CAST(2 * length(txt.text) - length(replace(txt.text, '#', ''))
      |   - length(replace(txt.text, '…', '')) AS BIGINT)
      |   / CAST(len(t2.toks) AS BIGINT) ELSE 0.0 END AS symbol_word_ratio,
      | CASE WHEN len(t2.lines) > 0 THEN
      |  CAST(len(list_filter(t2.lines, l -> l LIKE '-%' OR l LIKE '*%'
      |   OR l LIKE '•%')) AS BIGINT) / CAST(len(t2.lines) AS BIGINT)
      |  ELSE 0.0 END AS bullet_line_fraction,
      | CASE WHEN len(t2.lines) > 0 THEN
      |  CAST(len(list_filter(t2.lines, l -> l LIKE '%...' OR l LIKE '%…'))
      |   AS BIGINT) / CAST(len(t2.lines) AS BIGINT)
      |  ELSE 0.0 END AS ellipsis_line_fraction,
      | CASE WHEN len(t2.toks) > 0 THEN
      |  CAST(len(list_filter(t2.toks, x -> regexp_matches(x, '[A-Za-z]')))
      |   AS BIGINT) / CAST(len(t2.toks) AS BIGINT)
      |  ELSE 0.0 END AS alpha_word_fraction,
      | CAST(len(list_filter(""" +
      stops +
      """, s -> list_contains(list_transform(t2.toks, x -> lower(x)), s)))
      |  AS BIGINT) AS stop_word_hits
      |FROM t2 JOIN txt USING (doc_id))"""
  }

  /** Doc-grain coverage gate oracle — the coverage chain at doc
    * grain, keep iff the exact duplicated-char fraction stays under
    * the 0.5 gate; shared VERBATIM by `docs_dup_ngram_apply` and its
    * intake twin `stream_dup_ngram_gate` (same relation by
    * definition). */
  private lazy val dupNgramApplySql: String =
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
        |LEFT JOIN cc USING (doc_id)"""

  /** Residual-text span removal oracle — shared VERBATIM by
    * `docs_dup_spans_apply` and its intake twin
    * `stream_dup_span_scrub` (the store probe reproduces the
    * covered-position union exactly). */
  private lazy val dupSpansApplySql: String =

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
          |LEFT JOIN cv USING (doc_id)""")

  /** Fixed-bin PSI per quality metric over the qprof chain —
    * shared VERBATIM by `docs_quality_drift` and its streaming twin
    * `stream_quality_drift` (the stream folds the same counters
    * against the same baseline split, so the relation is identical
    * by construction). */
  private lazy val qualityDriftSql: String =

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
        .replace("__HALFN__", "CASE metric WHEN 'n_words' THEN 3.0 WHEN 'mean_word_len' THEN 3.5 WHEN 'symbol_word_ratio' THEN 2.5 WHEN 'bullet_line_fraction' THEN 2.0 WHEN 'ellipsis_line_fraction' THEN 1.5 WHEN 'alpha_word_fraction' THEN 2.0 WHEN 'stop_word_hits' THEN 2.5 END")

  /** One quality-rule flag as SQL over `qprof` columns — the
    * [[operators.TextAnalysis.GopherQualityThresholds]] row
    * interpolated, value-outside-[lo, hi] semantics. */
  private def qualFlagSql(name: String): String = {
    val (_, lo, hi) = operators.TextAnalysis.GopherQualityThresholds
      .find(_._1 == name).get
    s"($name < $lo OR $name > $hi)"
  }

  private def qualAnySql: String =
    operators.TextAnalysis.GopherQualityThresholds
      .map(t => qualFlagSql(t._1)).mkString("(", " OR ", ")")

  /** Any of the Gopher repetition thresholds `names` broken, over the
    * [[gopherProfileCtes]] and [[dupMassCtes]] columns. */
  private def repBrokenSql(names: String*): String = {
    val th = operators.TextAnalysis.GopherGateThresholds.toMap
    names.map(n => s"$n > ${th(n)}").mkString("(", " OR ", ")")
  }

  /** The repetition families: duplicated lines, paragraphs, top
    * n-grams and duplicated n-grams, and any threshold at all. */
  private val repLineSql = repBrokenSql("dup_line_fraction", "dup_line_char_fraction")
  private val repParaSql = repBrokenSql("dup_para_fraction", "dup_para_char_fraction")
  private val repTopSql = repBrokenSql("top2gram_char_fraction",
    "top3gram_char_fraction", "top4gram_char_fraction")
  private val repDupSql = repBrokenSql((5 to 10).map(n => s"dup${n}gram_char_fraction"): _*)
  private def repAnySql: String =
    repBrokenSql(operators.TextAnalysis.GopherGateThresholds.map(_._1).sorted: _*)

  /** The 20-threshold Gopher gate, appended after [[linedCtesFrom]]:
    * the profile chains and `gflag(doc_id)`, every doc that breaks a
    * repetition or a quality threshold. */
  private lazy val gopherFlagCtes: String =
    s"""$gopherProfileCtes, $dupMassCtes, $qualProfileCtes,
       |gflag AS (SELECT r.doc_id
       | FROM rep_profile r JOIN dng gg ON gg.doc_id = r.doc_id
       | JOIN qprof qq ON qq.doc_id = r.doc_id
       | WHERE ($repAnySql OR $qualAnySql))"""

  /** Corpus-duplicated n-gram coverage CTE chain (DuckDB dialect),
    * appended after [[toksCte]]: 8-gram occurrences, the ≥2-distinct
    * -docs duplicate set, and per-doc covered characters (position
    * union) — ends in `cc(doc_id, dup_chars)`; shared by the
    * source-rollup and per-doc-gate oracles so the definition can
    * never drift. Trailing comma-free: callers append their SELECT.
    */
  private val dupNgramCoverageCtes: String =
    """tc AS (SELECT doc_id,
      |  CAST(list_sum(list_transform(toks, x -> length(x)))
      |   AS BIGINT) AS tok_chars FROM t),
      |g AS (SELECT t.doc_id, u.i - 1 AS start,
      |  array_to_string(t.toks[u.i:u.i + 7], ' ') AS ng
      | FROM t, LATERAL (SELECT unnest(generate_series(1,
      |   len(t.toks) - 7)) AS i) u
      | WHERE len(t.toks) >= 8),
      |d AS (SELECT ng FROM g GROUP BY ng
      |  HAVING count(DISTINCT doc_id) >= 2),
      |cpos AS (SELECT DISTINCT g.doc_id, u.p
      | FROM g JOIN d USING (ng),
      |  LATERAL (SELECT unnest(range(g.start, g.start + 8)) AS p) u),
      |cc AS (SELECT c.doc_id,
      |  CAST(sum(length(t.toks[c.p + 1])) AS BIGINT) AS dup_chars
      | FROM cpos c JOIN t USING (doc_id) GROUP BY c.doc_id) """

  /** `name(cols, toks)`: each document's whitespace tokens. */
  private def toksCteAs(name: String, cols: String = "doc_id, text"): String =
    s"""$name AS (SELECT $cols,
       |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
       | FROM documents)"""

  private val toksCte: String = "WITH " + toksCteAs("t")

  /** Learned-quality-filter training replay (r15): the
    * [[graft.operators.QualityLr]] full-batch GD unrolled — exact
    * rational features off the stats counters, per-iteration weight
    * CTEs with the gradient sum FLOAT-narrowed exactly as the
    * operator narrows it, `iters` rows deep. Ends in `ff` (features
    * + label) and `w<iters>` (the trained 5-float row). */
  private def qualityLrCtes(iters: Int = 3): String = {
    val feat =
      """ffs AS (SELECT doc_id,
        | CAST(len(toks) AS BIGINT) AS n_tokens,
        | CAST(length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g')) AS BIGINT) AS punct_count,
        | CAST(length(text) AS BIGINT) AS n_chars,
        | CAST(len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is','it','for','on'))) AS BIGINT) AS stopword_count,
        | CAST(coalesce(list_sum(list_transform(toks, x -> length(x))), 0) AS BIGINT) AS token_chars
        | FROM t),
        |ff AS MATERIALIZED (SELECT doc_id,
        | 1.0 AS x0,
        | least(n_tokens, 128) / 128.0 AS x1,
        | punct_count / greatest(n_chars, 1) AS x2,
        | stopword_count / greatest(n_tokens, 1) AS x3,
        | (token_chars / greatest(n_tokens, 1)) / 10.0 AS x4,
        | CASE WHEN n_tokens >= 20 AND n_tokens <= 100000
        |  AND least(1.0, n_tokens / 128.0)
        |   * (1.0 - least(1.0, (punct_count / greatest(n_chars, 1)) * 4.0))
        |   * (0.3 + 0.7 * least(1.0, (stopword_count / greatest(n_tokens, 1)) * 5.0)) >= 0.2
        |  THEN 1.0 ELSE 0.0 END AS y
        | FROM ffs),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ff)"""
    def wCte(k: Int): String = {
      val prev = if (k == 1) (0 until 5).map(_ => "0.0")
        else (0 until 5).map(j => s"w${k - 1}.w$j")
      val margin = (0 until 5).map(j => s"${prev(j)} * ff.x$j")
        .mkString(" + ")
      val from = if (k == 1) "FROM ff, nn" else s"FROM ff, w${k - 1}, nn"
      val grp = if (k == 1) "GROUP BY nn.n"
        else s"GROUP BY ${(0 until 5).map(j => s"w${k - 1}.w$j").mkString(", ")}, nn.n"
      val cols = (0 until 5).map(j =>
        s"CAST(${prev(j)} - 2.0 * CAST(sum((1.0 / (1.0 + exp(-($margin)))" +
          s" - ff.y) * ff.x$j) / nn.n AS FLOAT) AS FLOAT) AS w$j")
        .mkString(", ")
      s"w$k AS MATERIALIZED (SELECT $cols $from $grp)"
    }
    feat + ", " + (1 to iters).map(wCte).mkString(", ")
  }

  /** Unigram-tokenizer oracle machinery (r15): hard-EM training and
    * Viterbi segmentation replayed end to end. [[unigramDpCte]]
    * emits one recursive-CTE Viterbi pass over DISTINCT words under
    * a given prob relation (4-slot sliding alpha state, longest
    * piece wins ties — the operator's exact CASE order);
    * [[unigramTrainCtes]] chains candidate extraction, the top-V
    * cut, and two EM rounds. All model math is
    * float(int count / int total) — no order-dependent float folds
    * anywhere, so the replay is bit-exact. */
  private def unigramDpCte(name: String, probs: String): String = {
    // candidate branch chain, longest piece first (ties → longer)
    def pick(expr4: String, expr3: String, expr2: String,
             expr1: String): String =
      s"""CASE WHEN dp.a3 * c.p4 >= dp.a2 * c.p3
         |  AND dp.a3 * c.p4 >= dp.a1 * c.p2
         |  AND dp.a3 * c.p4 >= dp.a0 * c.p1 THEN $expr4
         | WHEN dp.a2 * c.p3 >= dp.a1 * c.p2
         |  AND dp.a2 * c.p3 >= dp.a0 * c.p1 THEN $expr3
         | WHEN dp.a1 * c.p2 >= dp.a0 * c.p1 THEN $expr2
         | ELSE $expr1 END"""
    s"""${name}_cand AS (SELECT w.word, i.i, l.l,
       |  substr(w.word, CAST(i.i - l.l + 1 AS INTEGER),
       |   CAST(l.l AS INTEGER)) AS piece
       | FROM wt w,
       |  LATERAL (SELECT unnest(generate_series(1, len(w.word))) AS i) i,
       |  LATERAL (SELECT unnest(generate_series(1, least(i.i, 4))) AS l) l
       | WHERE len(w.word) <= 32),
       |${name}_cp AS (SELECT c.word, c.i,
       |  max(CASE WHEN c.l = 1 THEN coalesce(p.p, 0.0) ELSE 0.0 END) AS p1,
       |  max(CASE WHEN c.l = 2 THEN coalesce(p.p, 0.0) ELSE 0.0 END) AS p2,
       |  max(CASE WHEN c.l = 3 THEN coalesce(p.p, 0.0) ELSE 0.0 END) AS p3,
       |  max(CASE WHEN c.l = 4 THEN coalesce(p.p, 0.0) ELSE 0.0 END) AS p4
       | FROM ${name}_cand c LEFT JOIN $probs p USING (piece)
       | GROUP BY 1, 2),
       |${name}_dp AS (
       | SELECT word, 0 AS i, CAST(1.0 AS DOUBLE) AS a0,
       |  CAST(0.0 AS DOUBLE) AS a1, CAST(0.0 AS DOUBLE) AS a2,
       |  CAST(0.0 AS DOUBLE) AS a3,
       |  CAST(0 AS BIGINT) AS n0, CAST(0 AS BIGINT) AS n1,
       |  CAST(0 AS BIGINT) AS n2, CAST(0 AS BIGINT) AS n3,
       |  CAST([] AS VARCHAR[]) AS s0, CAST([] AS VARCHAR[]) AS s1,
       |  CAST([] AS VARCHAR[]) AS s2, CAST([] AS VARCHAR[]) AS s3
       | FROM wt WHERE len(word) <= 32
       | UNION ALL
       | SELECT dp.word, dp.i + 1,
       |  ${pick("dp.a3 * c.p4", "dp.a2 * c.p3", "dp.a1 * c.p2",
            "dp.a0 * c.p1")},
       |  dp.a0, dp.a1, dp.a2,
       |  ${pick("dp.n3 + 1", "dp.n2 + 1", "dp.n1 + 1", "dp.n0 + 1")},
       |  dp.n0, dp.n1, dp.n2,
       |  ${pick(
            "list_append(dp.s3, substr(dp.word, CAST(dp.i - 2 AS INTEGER), 4))",
            "list_append(dp.s2, substr(dp.word, CAST(dp.i - 1 AS INTEGER), 3))",
            "list_append(dp.s1, substr(dp.word, CAST(dp.i AS INTEGER), 2))",
            "list_append(dp.s0, substr(dp.word, CAST(dp.i + 1 AS INTEGER), 1))")},
       |  dp.s0, dp.s1, dp.s2
       | FROM ${name}_dp dp JOIN ${name}_cp c
       |  ON c.word = dp.word AND c.i = dp.i + 1),
       |$name AS (
       | SELECT dp.word, dp.n0 AS np, dp.s0 AS pieces
       | FROM ${name}_dp dp JOIN wt ON wt.word = dp.word
       |  AND dp.i = len(wt.word)
       | UNION ALL
       | SELECT word, CAST(len(word) AS BIGINT),
       |  list_transform(range(1, CAST(len(word) + 1 AS BIGINT)),
       |   i -> substr(word, CAST(i AS INTEGER), 1))
       | FROM wt WHERE len(word) > 32)"""
  }

  private def unigramTrainCtes: String =
    s"""wt AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS n_occ
       | FROM (SELECT unnest(toks) AS word FROM t) x GROUP BY 1),
       |sub AS (SELECT substr(w.word, CAST(i.i AS INTEGER),
       |   CAST(l.l AS INTEGER)) AS piece, w.n_occ
       | FROM wt w,
       |  LATERAL (SELECT unnest(generate_series(1, len(w.word))) AS i) i,
       |  LATERAL (SELECT unnest(generate_series(1,
       |    least(4, len(w.word) - i.i + 1))) AS l) l),
       |sc AS (SELECT piece, CAST(sum(n_occ) AS BIGINT) AS cnt
       | FROM sub GROUP BY 1),
       |v0 AS MATERIALIZED (SELECT piece, cnt FROM sc WHERE length(piece) = 1
       | UNION ALL SELECT piece, cnt FROM (
       |  SELECT piece, cnt FROM sc WHERE length(piece) > 1 AND cnt >= 2
       |  ORDER BY cnt DESC, piece LIMIT 4096) tv),
       |p0 AS MATERIALIZED (SELECT piece,
       |  CAST(cnt / CAST((SELECT sum(cnt) FROM v0) AS DOUBLE) AS FLOAT) AS p
       | FROM v0),
       |${unigramDpCte("s1g", "p0")},
       |u1 AS (SELECT piece, CAST(sum(n_occ) AS BIGINT) AS uses FROM (
       |  SELECT s1g.word, unnest(s1g.pieces) AS piece FROM s1g) x
       | JOIN wt USING (word) GROUP BY 1),
       |v1 AS MATERIALIZED (SELECT piece, uses, sm FROM (
       |  SELECT v.piece, coalesce(u.uses, 0) AS uses,
       |   CASE WHEN length(v.piece) = 1
       |    THEN greatest(coalesce(u.uses, 0), 1)
       |    ELSE coalesce(u.uses, 0) END AS sm
       |  FROM v0 v LEFT JOIN u1 u USING (piece)) z WHERE sm > 0),
       |p1 AS MATERIALIZED (SELECT piece,
       |  CAST(sm / CAST((SELECT sum(sm) FROM v1) AS DOUBLE) AS FLOAT) AS p
       | FROM v1),
       |${unigramDpCte("s2g", "p1")},
       |u2 AS (SELECT piece, CAST(sum(n_occ) AS BIGINT) AS uses FROM (
       |  SELECT s2g.word, unnest(s2g.pieces) AS piece FROM s2g) x
       | JOIN wt USING (word) GROUP BY 1),
       |v2 AS MATERIALIZED (SELECT piece, uses, sm FROM (
       |  SELECT v.piece, coalesce(u.uses, 0) AS uses,
       |   CASE WHEN length(v.piece) = 1
       |    THEN greatest(coalesce(u.uses, 0), 1)
       |    ELSE coalesce(u.uses, 0) END AS sm
       |  FROM v1 v LEFT JOIN u2 u USING (piece)) z WHERE sm > 0),
       |p2 AS MATERIALIZED (SELECT piece,
       |  CAST(sm / CAST((SELECT sum(sm) FROM v2) AS DOUBLE) AS FLOAT) AS p
       | FROM v2)"""

  /** Trigram document frequencies: `t` holds each doc's lower-cased
    * tokens, `g(doc_id, grams)` its distinct trigrams, `inv(doc_id,
    * gram)` the postings and `d(gram, df)` the frequencies. */
  private val gramDfCtes: String =
    s"""t AS (SELECT doc_id, list_filter(
       |  regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
       | FROM documents),
       |g AS (SELECT doc_id, $trigramSetSql AS grams FROM t),
       |inv AS (SELECT doc_id, unnest(grams) AS gram FROM g),
       |d AS (SELECT gram, count(*) AS df FROM inv GROUP BY 1)"""

  /** [[gramDfCtes]] and the blocked candidate pairs `p(id_a, id_b)`:
    * at least three shared trigrams of df in [2, 64]. */
  private val blockedCandCtes: String =
    s"""$gramDfCtes,
       |p AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
       |  FROM inv a JOIN d ON d.gram = a.gram JOIN inv c ON c.gram = a.gram
       |  WHERE a.doc_id < c.doc_id AND d.df BETWEEN 2 AND 64
       |  GROUP BY 1, 2 HAVING count(*) >= 3)"""

  /** Verified blocked near-dup pairs as a CTE chain ending in
    * `m(id_a, id_b)` — the DuckDB mirror of
    * [[graft.operators.Dedup.blockedJaccardPairs]] at its defaults
    * (3-token shingles, df ∈ [2, 64], ≥3 shared rare grams,
    * Jaccard ≥ 0.5), shared by the source-diagnostic oracles. */
  private val blockedPairsCte: String =
    s"""WITH $blockedCandCtes,
      |m AS (SELECT p.id_a, p.id_b FROM p
      | JOIN g ga ON ga.doc_id = p.id_a JOIN g gb ON gb.doc_id = p.id_b
      | WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
      |  / (len(ga.grams) + len(gb.grams)
      |     - len(list_intersect(ga.grams, gb.grams))) >= 0.5) """

  // ---- minhash oracle machinery (r10) --------------------------------
  // The fused FNV shingle kernel + the 64 seeded minhash permutations
  // replayed in SQL: token FNV-1a over ASCII-lowercased whitespace
  // tokens, the two-step xor-multiply shingle combine decomposed into
  // HUGEINT arithmetic (mod-2^64 wraparound, 32-bit xors via hi/lo
  // split), and the permutation constants a_p = splitmix64(seed+2p)|1,
  // b_p = splitmix64(seed+2p+1) embedded as literals from the SAME
  // splitmix the kernel uses. a·x mod 2^64 is decomposed as
  // (a_lo·x + ((a_hi·x) mod 2^32)·2^32) mod 2^64 so no intermediate
  // exceeds HUGEINT range. Bands carry the raw signature SLICE as the
  // bucket key (Dedup.bandedKeys, r10) — slice equality is exactly
  // bucket equality, no engine hash involved.
  private def minhashPermValues(numPerms: Int, seed: Long): String =
    (0 until numPerms).map { p =>
      val a = graft.functions.TextHashes.splitmix64(seed + 2L * p) | 1L
      val b = graft.functions.TextHashes.splitmix64(seed + 2L * p + 1L)
      def u(x: Long) = java.lang.Long.toUnsignedString(x)
      s"($p, ${u(a >>> 32)}::HUGEINT, ${u(a & 0xffffffffL)}::HUGEINT, " +
        s"${u(b)}::HUGEINT)"
    }.mkString(", ")

  /** Count-Min replay: per-instance token FNV (the shingle oracle's
    * hash, sans shingling), the 4 splitmix multiply-shift rows as
    * VALUES literals (the minhash permutation generator at the CMS
    * seed), bucket = unsigned(a·h + b mod 2⁶⁴) mod 1024, and the
    * (r, bucket) counter table. */
  private def cmsCtes: String =
    s"""ti AS MATERIALIZED (SELECT t,
       |  ${fnv1aSql("t", b = "c")}
       |   AS th
       | FROM (SELECT list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents) d,
       |  LATERAL (SELECT unnest(toks) AS t) u),
       |pm AS (SELECT * FROM (VALUES ${minhashPermValues(4, 1337L)})
       | AS t(r, a_hi, a_lo, b)),
       |sk AS MATERIALIZED (SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt
       | FROM (SELECT pm.r,
       |   CAST((a_lo * th + ((a_hi * th) % 4294967296) * 4294967296 + b)
       |    % 18446744073709551616 // 18014398509481984 AS BIGINT) AS bucket
       |  FROM ti, pm) b GROUP BY 1, 2)"""

  /** Spherical-k-means replay, two Lloyd iterations unrolled (the
    * MMR/pagerank CTE pattern on VECTOR state): assignment =
    * per-vector cosine argmax over the centroid table (tie: cell
    * asc, the kernel's order); update = per-(cell, dim) mean
    * FLOAT-narrowed (summation-order ulps snap away, so both engines
    * train on identical state); an empty cell keeps its previous
    * centroid. Ends at `fa` = (vec_id, cell BIGINT), the final
    * assignment — emb_kmeans_assign reads it directly, the
    * cluster-temperature key appends its sampling tail. */
  private def kmeansCtes: String = {
    def assign(cents: String) =
      s"""(SELECT vec_id, cell FROM (
         | ${ivfRankSql(cents)}) x WHERE rn = 1)"""
    def update(assigned: String, prev: String) =
      s"""(SELECT p.cell,
         |  coalesce(m.emb, CAST(p.embedding AS FLOAT[])) AS embedding
         | FROM $prev p LEFT JOIN (
         |  SELECT a.cell, list(v ORDER BY i) AS emb FROM (
         |   SELECT a.cell, g.i,
         |    CAST(avg(CAST(e.embedding[g.i] AS DOUBLE)) AS FLOAT) AS v
         |   FROM $assigned a JOIN embeddings e USING (vec_id),
         |    LATERAL (SELECT unnest(generate_series(1,
         |      len(e.embedding))) AS i) g
         |   GROUP BY 1, 2) a GROUP BY 1) m USING (cell))"""
    s"""c0 AS MATERIALIZED (
       | SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell,
       |  embedding
       | FROM (SELECT vec_id, embedding FROM embeddings
       |  ORDER BY vec_id LIMIT 8) s),
       |a0 AS MATERIALIZED ${assign("c0")},
       |c1 AS MATERIALIZED ${update("a0", "c0")},
       |a1 AS MATERIALIZED ${assign("c1")},
       |c2 AS MATERIALIZED ${update("a1", "c1")},
       |fa AS MATERIALIZED (SELECT vec_id, CAST(cell AS BIGINT) AS cell
       | FROM ${assign("c2")} f)"""
  }

  /** Scene-structure replay: the frame grid + the stub decode's
    * exact-rational mean luma (the mm_pooled_topk fragment) + each
    * frame's predecessor luma — shared front half of the two
    * scene keys so the cut rule is written once. */
  private def sceneLumaCtes: String =
    s"""f AS (SELECT doc_id, i AS frame_idx, substr(text, i * 128 + 1, 64)
      |  AS frame
      | $framesFromSql),
      |l AS (SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |  CASE WHEN length(frame) = 0 THEN 0.0 ELSE
      |   CAST(list_sum(list_transform(range(1, length(frame) + 1),
      |     j -> ord(substr(frame, j, 1)))) AS DOUBLE) / length(frame)
      |  END AS ml FROM f),
      |d AS (SELECT doc_id, frame_idx, ml, lag(ml) OVER (
      |  PARTITION BY doc_id ORDER BY frame_idx) AS pml FROM l)"""

  /** Shared BPE-training CTE chain: word counts → char split (`s0`)
    * → 6 unrolled (pair-count, argmax `b{i}`, merge-fold `s{i}`)
    * iterations. `text_bpe_train` reads the `b*` relations,
    * `text_bpe_vocab` the final `s6` state. Each merge-fold rides a
    * LEFT JOIN ON TRUE against its (0-or-1-row) argmax so an
    * exhausted pair supply (b$i empty on a degenerate corpus) leaves
    * the symbol state UNCHANGED instead of cross-join-wiping it —
    * mirroring the Spark loop's `exhausted` early-stop, which keeps
    * the final state when no mergeable pair remains. */
  private def bpeCtes: String = {
    val iters = (1 to 6).map { i =>
      val prev = s"s${i - 1}"
      s"""p$i AS (SELECT struct_extract(pr, 'a') AS a,
         |  struct_extract(pr, 'b') AS b,
         |  CAST(sum(n) AS BIGINT) AS cnt
         | FROM (SELECT n, unnest(list_transform(range(1, len(syms)),
         |    j -> {'a': syms[j], 'b': syms[j + 1]})) AS pr
         |  FROM $prev WHERE len(syms) >= 2) t GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT a, b, cnt FROM p$i
         | ORDER BY cnt DESC, a, b LIMIT 1),
         |s$i AS MATERIALIZED (SELECT word, n,
         |  CASE WHEN bi.a IS NULL OR len(syms) < 2 THEN syms ELSE
         |   list_reduce(list_prepend(CAST([] AS VARCHAR[]),
         |     list_transform(syms, x -> [x])),
         |    (acc, xs) -> CASE WHEN len(acc) > 0
         |      AND acc[-1] = bi.a AND xs[1] = bi.b
         |     THEN acc[1:len(acc) - 1] || [bi.a || bi.b]
         |     ELSE acc || xs END)
         |  END AS syms
         | FROM $prev LEFT JOIN b$i bi ON TRUE)"""
    }.mkString(",\n")
    s"""w AS (SELECT tok AS word, CAST(count(*) AS BIGINT) AS n
       | FROM (SELECT unnest(list_filter(
       |    regexp_split_to_array(text, '\\s+'), x -> x <> '')) AS tok
       |  FROM documents) t GROUP BY 1),
       |s0 AS MATERIALIZED (SELECT word, n,
       |  list_transform(range(1, length(word) + 1),
       |   i -> substr(word, i, 1)) AS syms FROM w),
       |$iters"""
  }

  /** Shared CTE prefix: documents → token hashes → distinct shingle
    * hashes (`sh`). The exact-similarity consumers stop here; the
    * minhash family appends the permutation machinery. */
  private def shingleCtes: String =
    s"""tok AS MATERIALIZED (
       | SELECT doc_id, i AS pos,
       |  ${fnv1aSql("t", b = "c")}
       |   AS th
       | FROM (SELECT doc_id, list_filter(
       |    regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
       |  FROM documents) d,
       |  LATERAL (SELECT unnest(generate_series(1, len(toks))) AS i) g,
       |  LATERAL (SELECT toks[i] AS t) u),
       |sh AS MATERIALIZED (
       | SELECT DISTINCT doc_id,
       |  list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |    ths),
       |   (s, th) ->
       |    ((((s - (s % 256)) + xor(CAST(s % 256 AS BIGINT),
       |       CAST(th % 256 AS BIGINT)))
       |      * 1099511628211 % 18446744073709551616)
       |      // 4294967296 * 4294967296
       |     + xor(CAST((((s - (s % 256)) + xor(CAST(s % 256 AS BIGINT),
       |        CAST(th % 256 AS BIGINT)))
       |       * 1099511628211 % 18446744073709551616) % 4294967296
       |        AS BIGINT),
       |      CAST(th // 4294967296 AS BIGINT)))
       |    * 1099511628211 % 18446744073709551616) AS shv
       | FROM (SELECT a.doc_id, list_value(c.th, b.th, a.th) AS ths
       |  FROM tok a JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos - 1
       |  JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos - 2) w)"""

  /** [[shingleCtes]] → per-perm minhash (`mh`) → banded signature
    * slices (`sig`). Consumers append their own tail. */
  private def minhashSigCtes: String =
    s"""$shingleCtes,
       |pm AS (SELECT * FROM (VALUES ${minhashPermValues(64, 42L)})
       | AS t(p, a_hi, a_lo, b)),
       |mh AS MATERIALIZED (
       | SELECT doc_id, p,
       |  min((a_lo * shv + ((a_hi * shv) % 4294967296) * 4294967296 + b)
       |   % 18446744073709551616) AS mv
       | FROM sh, pm GROUP BY 1, 2),
       |sig AS MATERIALIZED (
       | SELECT doc_id, p // 4 AS band, list(mv ORDER BY p) AS band_key
       | FROM mh GROUP BY doc_id, p // 4)"""

  /** [[minhashSigCtes]] extended through candidate generation and
    * exact-Jaccard verification: `verified` = (id_a, id_b, jaccard)
    * at τ = 0.4, bucket-capped at 64 — the Dedup.minhashPairs
    * relation. */
  private def minhashVerifiedCtes: String =
    s"""$minhashSigCtes,
       |bucket AS (SELECT band, band_key,
       |  list_sort(list(DISTINCT doc_id)) AS ids
       | FROM sig GROUP BY 1, 2 HAVING count(DISTINCT doc_id) > 1),
       |${bucketPairsCte("pairs")},
       |inter AS (SELECT p.id_a, p.id_b, count(*) AS n_shared
       | FROM pairs p
       | JOIN sh x ON x.doc_id = p.id_a
       | JOIN sh y ON y.doc_id = p.id_b AND y.shv = x.shv
       | GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |verified AS (SELECT i.id_a, i.id_b,
       |  CAST(i.n_shared AS DOUBLE)
       |   / greatest(sa.n + sb.n - i.n_shared, 1) AS jaccard
       | FROM inter i
       | JOIN sizes sa ON sa.doc_id = i.id_a
       | JOIN sizes sb ON sb.doc_id = i.id_b
       | WHERE CAST(i.n_shared AS DOUBLE)
       |   / greatest(sa.n + sb.n - i.n_shared, 1) >= 0.4)"""

  /** SimHash oracle (r10): the same FNV token hashes, per-bit votes
    * folded as integer sums, 16-bit band slices, Hamming via
    * hi/lo-split `bit_count` — all exact integer math. */
  private def simhashOracle: String =
    s"""WITH tok AS MATERIALIZED (
       | SELECT doc_id,
       |  ${fnv1aSql("t", b = "c")}
       |   AS th
       | FROM (SELECT doc_id, list_filter(regexp_split_to_array(
       |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), '\\s+'),
       |    x -> x <> '') AS toks FROM documents) d,
       |  LATERAL (SELECT unnest(toks) AS t) u),
       |bits AS (SELECT doc_id, i,
       |  CAST(sum(CASE WHEN (th // (CAST(1 AS HUGEINT) << i)) % 2 = 1
       |   THEN 1 ELSE 0 END) AS BIGINT) AS ones,
       |  count(*) AS n
       | FROM tok, LATERAL (SELECT unnest(generate_series(0, 63)) AS i) g
       | GROUP BY 1, 2),
       |sig AS MATERIALIZED (SELECT doc_id,
       |  sum(CASE WHEN 2 * ones > n THEN CAST(1 AS HUGEINT) << i
       |   ELSE CAST(0 AS HUGEINT) END) AS sig
       | FROM bits GROUP BY 1),
       |banded AS (SELECT doc_id, b AS band,
       |  (sig // (CAST(1 AS HUGEINT) << (16 * b))) % 65536 AS band_bits
       | FROM sig, LATERAL (SELECT unnest(generate_series(0, 3)) AS b) g),
       |bucket AS (SELECT band, band_bits,
       |  list_sort(list(DISTINCT doc_id)) AS ids
       | FROM banded GROUP BY 1, 2 HAVING count(DISTINCT doc_id) > 1),
       |${bucketPairsCte("prs")},
       |ham AS (SELECT p.id_a, p.id_b,
       |  bit_count(xor(CAST(sa.sig % 4294967296 AS BIGINT),
       |    CAST(sb.sig % 4294967296 AS BIGINT)))
       |  + bit_count(xor(CAST(sa.sig // 4294967296 AS BIGINT),
       |    CAST(sb.sig // 4294967296 AS BIGINT))) AS hamming
       | FROM prs p JOIN sig sa ON sa.doc_id = p.id_a
       | JOIN sig sb ON sb.doc_id = p.id_b),
       |verified AS (SELECT id_a, id_b, 64 - hamming AS sim FROM ham
       | WHERE hamming <= 12),
       |${dupSidesCte("CAST(sim AS DOUBLE)")},
       |$dupPerdocCte
       |${dupKeepSql()}"""

  /** Char-n-gram Jaccard oracle (r10): the rolling polynomial gram
    * hash has a CLOSED FORM (Σ byteⱼ·B^(n−1−j) mod 2⁶⁴ — no
    * recurrence needed in SQL; B-powers embedded as literals), then
    * the same minhash machinery at seed 7 / 8 bands / τ 0.7. */
  private def ngramJaccardOracle: String = {
    val n = 5
    val bpow = {
      var arr = Vector(BigInt(1))
      val B = BigInt("1099511628211")
      val M = BigInt(1) << 64
      for (_ <- 1 until n) arr = arr :+ (arr.last * B % M)
      arr
    }
    val term = (0 until n).map(j =>
      s"CAST(ord(substr(c, p + $j, 1)) AS HUGEINT) * ${bpow(n - 1 - j)}")
      .mkString(" + ")
    s"""WITH canon AS (SELECT doc_id,
       |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS c
       | FROM documents),
       |sh AS MATERIALIZED (
       | SELECT DISTINCT doc_id, ($term) % 18446744073709551616 AS shv
       | FROM canon, LATERAL (SELECT unnest(generate_series(1,
       |   length(c) - ${n - 1})) AS p) g
       | WHERE length(c) >= $n),
       |pm AS (SELECT * FROM (VALUES ${minhashPermValues(64, 7L)})
       | AS t(p, a_hi, a_lo, b)),
       |mh AS MATERIALIZED (SELECT doc_id, p,
       |  min((a_lo * shv + ((a_hi * shv) % 4294967296) * 4294967296 + b)
       |   % 18446744073709551616) AS mv
       | FROM sh, pm GROUP BY 1, 2),
       |sig AS MATERIALIZED (
       | SELECT doc_id, p // 8 AS band, list(mv ORDER BY p) AS band_key
       | FROM mh GROUP BY doc_id, p // 8),
       |bucket AS (SELECT band, band_key,
       |  list_sort(list(DISTINCT doc_id)) AS ids
       | FROM sig GROUP BY 1, 2 HAVING count(DISTINCT doc_id) > 1),
       |${bucketPairsCte("prs")},
       |inter AS (SELECT p.id_a, p.id_b, count(*) AS n_shared
       | FROM prs p JOIN sh x ON x.doc_id = p.id_a
       | JOIN sh y ON y.doc_id = p.id_b AND y.shv = x.shv GROUP BY 1, 2),
       |sizes AS (SELECT doc_id, count(*) AS nn FROM sh GROUP BY 1),
       |verified AS (SELECT i.id_a, i.id_b,
       |  CAST(i.n_shared AS DOUBLE)
       |   / greatest(sa.nn + sb.nn - i.n_shared, 1) AS jaccard
       | FROM inter i JOIN sizes sa ON sa.doc_id = i.id_a
       | JOIN sizes sb ON sb.doc_id = i.id_b
       | WHERE CAST(i.n_shared AS DOUBLE)
       |  / greatest(sa.nn + sb.nn - i.n_shared, 1) >= 0.7),
       |${dupSidesCte("jaccard")},
       |$dupPerdocCte
       |${dupKeepSql()}"""
  }

  // ---- hyperplane-LSH oracle machinery (r10) -------------------------
  // The "randomized" tiers are seed-deterministic: the plane matrices
  // come from gf.randomPlanes(seed), so the oracle embeds them as
  // DOUBLE[] literals (each float widened to its EXACT double — the
  // same widening the kernel's accumulate does) and replays signature
  // bits as dot-product signs. The only cross-engine freedom left is
  // dot-product summation order at a sign boundary (|proj| within one
  // ulp of 0 — measure-zero for continuous data).
  private def hyperplaneValues(tables: Int, planes: Int, dim: Int,
                               seed: Long): String =
    (0 until tables).flatMap { t =>
      val pl = graft.functions.gf.randomPlanes(planes, dim, seed + t)
      (0 until planes).map { p =>
        val ws = pl(p).map(_.toDouble.toString).mkString(", ")
        s"($t, $p, [$ws]::DOUBLE[])"
      }
    }.mkString(", ")

  /** The PUBLISHED PCA transform (PcaFrozen) as DuckDB CTEs — the
    * frozen-model-artifact convention (r16): `pmean`/`pcomp` hold
    * the float-snapped model as exact DOUBLE literals (float→double
    * widening is exact; Double.toString shortest-repr re-parses to
    * the identical double), `pval` replays [[kernels.pcaProject]]'s
    * per-component double-accumulate-then-snap-to-float exactly —
    * `list_sum` over the ascending transform IS the kernel's
    * ascending loop. Ends in `pval(vec_id, j, v FLOAT)`. */
  private lazy val pcaFrozenCtes: String = {
    val mean = operators.PcaFrozen.mean.map(_.toDouble.toString)
      .mkString(", ")
    val comps = operators.PcaFrozen.components.zipWithIndex
      .map { case (c, j) =>
        s"($j, [${c.map(_.toDouble.toString).mkString(", ")}]::DOUBLE[])"
      }.mkString(", ")
    s"""pmean AS (SELECT [$mean]::DOUBLE[] AS m),
       |pcomp AS (SELECT * FROM (VALUES $comps) t(j, w)),
       |pval AS MATERIALIZED (SELECT e.vec_id, pcomp.j,
       |  CAST(list_sum(list_transform(range(1, 65), i ->
       |    pcomp.w[i] * (CAST(e.embedding[i] AS DOUBLE) - pmean.m[i])))
       |   AS FLOAT) AS v
       | FROM embeddings e, pcomp, pmean)"""
  }

  /** Signature CTE over `embeddings` for a plane set: one row per
    * (vec_id, tbl) with the packed sign-bit signature. */
  private def hyperplaneSigCte(tables: Int, planes: Int,
                               seed: Long): String =
    s"""pl AS (SELECT * FROM (VALUES
       | ${hyperplaneValues(tables, planes, 64, seed)}) t(tbl, p, w)),
       |hsig AS MATERIALIZED (SELECT e.vec_id, pl.tbl,
       |  CAST(sum(CASE WHEN list_inner_product(
       |    CAST(e.embedding AS DOUBLE[]), pl.w) > 0
       |   THEN CAST(1 AS BIGINT) << pl.p ELSE 0 END) AS BIGINT) AS sig
       | FROM embeddings e, pl GROUP BY 1, 2)"""

  /** Candidate/verified-pair tail shared by the embedding dedup
    * oracles: bucket by (tbl, sig), cap 64, exact-cosine verify. */
  private def hyperplanePairsCte(tau: Double): String =
    s"""bucket AS (SELECT tbl, sig, list_sort(list(DISTINCT vec_id)) AS ids
       | FROM hsig GROUP BY 1, 2 HAVING count(DISTINCT vec_id) > 1),
       |${bucketPairsCte("prs")},
       |verified AS (SELECT p.id_a, p.id_b,
       |  list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |    CAST(eb.embedding AS DOUBLE[])) AS cosine
       | FROM prs p
       | JOIN embeddings ea ON ea.vec_id = p.id_a
       | JOIN embeddings eb ON eb.vec_id = p.id_b
       | WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
       |   CAST(eb.embedding AS DOUBLE[])) >= $tau)"""

  // ---- xxhash64 oracle machinery (r10) -------------------------------
  // Spark's xxhash64-of-long is xxHash64's one-round path with fixed
  // prime multipliers — every step (constant multiply mod 2⁶⁴, rotate,
  // 64-bit xor, shift) decomposes into HUGEINT-safe arithmetic exactly
  // like the minhash permutations. The generator emits a LATERAL step
  // chain so each intermediate is computed once. Multi-argument
  // xxhash64(c1, c2) folds left: h = hashLong(c2, hashLong(c1, 42)).
  private object Xx64Sql {
    private val M = "18446744073709551616"
    private def two(k: Int): BigInt = BigInt(1) << k
    private val P1 = BigInt("9E3779B185EBCA87", 16)
    private val P2 = BigInt("C2B2AE3D27D4EB4F", 16)
    private val P3 = BigInt("165667B19E3779F9", 16)
    private val P4 = BigInt("85EBCA77C2B2AE63", 16)
    private val P5 = BigInt("27D4EB2F165667C5", 16)
    private def mulc(x: String, c: BigInt): String = {
      val lo = c & 0xffffffffL
      val hi = c >> 32
      s"((CAST($lo AS HUGEINT) * ($x) + ((CAST($hi AS HUGEINT) * ($x))" +
        s" % 4294967296) * 4294967296) % $M)"
    }
    private def xor64(a: String, b: String): String =
      s"(CAST(xor(CAST(($a) // 4294967296 AS BIGINT), " +
        s"CAST(($b) // 4294967296 AS BIGINT)) AS HUGEINT) * 4294967296" +
        s" + xor(CAST(($a) % 4294967296 AS BIGINT), " +
        s"CAST(($b) % 4294967296 AS BIGINT)))"
    private def rotl(x: String, r: Int): String =
      s"((($x) % ${two(64 - r)}) * CAST(${two(r)} AS HUGEINT)" +
        s" + ($x) // ${two(64 - r)})"
    private def shr(x: String, k: Int): String = s"(($x) // ${two(k)})"

    /** LATERAL fragments computing xxhash64 of a long expr with a
      * seed expr; returns (joined fragments, final unsigned ref). */
    def hashLong(pfx: String, input: String, seed: String): (String, String) = {
      def ref(i: Int) = s"${pfx}t$i.${pfx}$i"
      val exprs = Seq(
        mulc(input, P2),                                   // 0: k1·P2
        rotl(ref(0), 31),                                  // 1
        mulc(ref(1), P1),                                  // 2: k1 done
        s"((($seed) + ${P5 + 8}) % $M)",                   // 3: h0
        xor64(ref(3), ref(2)),                             // 4
        s"((${mulc(rotl(ref(4), 27), P1)} + $P4) % $M)",   // 5
        xor64(ref(5), shr(ref(5), 33)),                    // 6
        mulc(ref(6), P2),                                  // 7
        xor64(ref(7), shr(ref(7), 29)),                    // 8
        mulc(ref(8), P3),                                  // 9
        xor64(ref(9), shr(ref(9), 32)))                    // 10: final
      val frags = exprs.zipWithIndex.map { case (e, i) =>
        s"LATERAL (SELECT $e AS ${pfx}$i) ${pfx}t$i"
      }.mkString(", ")
      (frags, ref(10))
    }

    /** xxhash64 of an INT expr (4-byte path — an INT literal child
      * like `lit(1)` takes this branch, not hashLong). */
    def hashInt(pfx: String, input: String, seed: String): (String, String) = {
      def ref(i: Int) = s"${pfx}t$i.${pfx}$i"
      val exprs = Seq(
        s"((($seed) + ${P5 + 4}) % $M)",                   // 0: h0
        mulc(s"(($input) % 4294967296)", P1),              // 1: k1
        xor64(ref(0), ref(1)),                             // 2
        s"((${mulc(rotl(ref(2), 23), P2)} + $P3) % $M)",   // 3
        xor64(ref(3), shr(ref(3), 33)),                    // 4
        mulc(ref(4), P2),                                  // 5
        xor64(ref(5), shr(ref(5), 29)),                    // 6
        mulc(ref(6), P3),                                  // 7
        xor64(ref(7), shr(ref(7), 32)))                    // 8: final
      val frags = exprs.zipWithIndex.map { case (e, i) =>
        s"LATERAL (SELECT $e AS ${pfx}$i) ${pfx}t$i"
      }.mkString(", ")
      (frags, ref(8))
    }

    /** Interpret an unsigned [0,2⁶⁴) ref as Spark's SIGNED long. */
    def signed(h: String): String =
      s"(CASE WHEN ($h) >= 9223372036854775808 " +
        s"THEN ($h) - $M ELSE ($h) END)"
  }

  /** Perceptual-audio signature replay: xxhash64 samples (the
    * Xx64Sql step chain per (doc, i) row, packed key src·64 + i,
    * seed 42) with the scaled-copy rule (doc_id % 10 == 1 carries
    * the previous doc's samples truncation-halved), then 63
    * sign-of-delta bits via the i+1 self-join — ends in
    * `asg(doc_id, asig)`. */
  private lazy val audioSigCtes: String = {
    val (frags, ref) = Xx64Sql.hashLong("au", "base.k", "42")
    s"""base AS (SELECT doc_id, i,
       |  CAST((CASE WHEN doc_id % 10 = 1 THEN doc_id - 1
       |    ELSE doc_id END) * 64 + i AS HUGEINT) AS k
       | FROM documents, LATERAL (SELECT
       |   unnest(generate_series(0, 63)) AS i) g),
       |hh AS (SELECT doc_id, i, $ref AS h FROM base, $frags),
       |v AS (SELECT doc_id, i,
       |  CAST($sample16Sql AS BIGINT) AS smp0 FROM hh),
       |vv AS (SELECT doc_id, i,
       |  CASE WHEN doc_id % 20 = 1 THEN (smp0 - (smp0 % 2)) // 2
       |   ELSE smp0 END AS smp FROM v),
       |asg AS (SELECT a.doc_id,
       |  CAST(coalesce(sum(CASE WHEN b.smp > a.smp
       |   THEN (CAST(1 AS BIGINT) << CAST(a.i AS INTEGER))
       |   ELSE 0 END), 0) AS BIGINT) AS asig
       | FROM vv a JOIN vv b ON b.doc_id = a.doc_id AND b.i = a.i + 1
       | WHERE a.i < 63 GROUP BY 1)"""
  }

  /** EXHAUSTIVE corpus × benchmark-slice comparison (no candidate
    * rule — the broadcast plan compares every pair anyway); best
    * match on the 1e-6-rounded cosine then bench_id. Shared
    * VERBATIM by text_decontaminate_semantic and its intake twin
    * stream_semantic_gate. */
  private lazy val semanticDecontamSql: String =
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
        |FROM cc LEFT JOIN agg a USING (vec_id)"""

  /** Offset-fixture winnowed-fingerprint replay (r14): xxhash64
    * samples (stride 192 = the fixture's nSamples; doc_id % 10 == 1
    * carries the previous doc's samples with the first 37 cut), the
    * per-position 63-bit sign-of-delta signatures, and the
    * winnowing min-per-16-position-window selection — ends in
    * `wsg(doc_id, wsig)`, the operator's fingerprint relation. */
  private lazy val audioWinnowCtes: String = {
    val (frags, ref) = Xx64Sql.hashLong("aw", "wbase.k", "42")
    s"""wbase AS (SELECT d.doc_id,
       |  CAST(CASE WHEN d.doc_id % 20 = 1 THEN 155
       |   WHEN d.doc_id % 20 = 11 THEN 229 ELSE 192 END
       |   AS BIGINT) AS n, g.j,
       |  CAST(CASE WHEN d.doc_id % 20 = 1
       |    THEN (d.doc_id - 1) * 192 + g.j + 37
       |   WHEN d.doc_id % 20 = 11 AND g.j < 37
       |    THEN d.doc_id * 192 + g.j
       |   WHEN d.doc_id % 20 = 11
       |    THEN (d.doc_id - 1) * 192 + g.j - 37
       |   ELSE d.doc_id * 192 + g.j END AS HUGEINT)
       |   AS k
       | FROM documents d, LATERAL (SELECT
       |   unnest(generate_series(0, 228)) AS j) g
       | WHERE g.j < CASE WHEN d.doc_id % 20 = 1 THEN 155
       |   WHEN d.doc_id % 20 = 11 THEN 229 ELSE 192 END),
       |whh AS (SELECT doc_id, n, j, $ref AS h FROM wbase, $frags),
       |wv AS MATERIALIZED (SELECT doc_id, n, j,
       |  CAST($sample16Sql AS BIGINT) AS smp FROM whh),
       |wdb AS MATERIALIZED (SELECT a.doc_id, a.n, a.j AS i,
       |  CASE WHEN b.smp > a.smp THEN 1 ELSE 0 END AS bit
       | FROM wv a JOIN wv b ON b.doc_id = a.doc_id AND b.j = a.j + 1),
       |wdn AS (SELECT DISTINCT doc_id, n FROM wdb),
       |wpos AS (SELECT doc_id, n,
       |  unnest(generate_series(0, CAST(n - 64 AS INTEGER))) AS p
       | FROM wdn),
       |wps AS MATERIALIZED (SELECT w.doc_id, w.n, w.p,
       |  CAST(coalesce(sum(CAST(db.bit AS BIGINT) *
       |    (CAST(1 AS BIGINT) << CAST(db.i - w.p AS INTEGER))), 0)
       |   AS BIGINT) AS ps
       | FROM wpos w JOIN wdb db ON db.doc_id = w.doc_id
       |   AND db.i >= w.p AND db.i <= w.p + 62
       | GROUP BY 1, 2, 3),
       |wwin AS (SELECT doc_id, n,
       |  unnest(generate_series(0,
       |    CAST(greatest(n - 63 - 16, 0) AS INTEGER))) AS w
       | FROM wdn),
       |wsel AS (SELECT ww.doc_id, ww.w, min(ps.ps) AS sel
       | FROM wwin ww JOIN wps ps ON ps.doc_id = ww.doc_id
       |   AND ps.p >= ww.w AND ps.p <= least(ww.w + 15, ww.n - 64)
       | GROUP BY 1, 2),
       |wsg AS MATERIALIZED (SELECT DISTINCT doc_id, sel AS wsig
       | FROM wsel)"""
  }

  /** Capped-bucket pair expansion over `wsg` — mirrors the operator's
    * `maxBucket` guard exactly (r14 ADVICE: the Spark side caps each
    * fingerprint bucket at the 256 smallest doc_ids while the old
    * oracle joined uncapped — a popular fingerprint would silently
    * diverge): sorted bucket, first 256, pairs within. Ends in
    * `wpair(id_a, id_b)`, one row per shared fingerprint. */
  private val audioWinnowPairCte: String =
    """wbkt AS (SELECT wsig, list_sort(list(doc_id))[1:256] AS ds
      | FROM wsg GROUP BY wsig HAVING count(*) > 1),
      |wpair AS (SELECT a.d AS id_a, b.d AS id_b
      | FROM wbkt, LATERAL (SELECT unnest(ds) AS d) a,
      |  LATERAL (SELECT unnest(ds) AS d) b
      | WHERE a.d < b.d)"""

  /** Crop-fixture winnowed image fingerprint replay (r15) — the
    * [[graft.operators.Multimodal.imageWinnowSignatures]] pipeline
    * over the [[graft.operators.Multimodal.synthCropPngCorpus]]
    * recipe, bit for bit: double-FNV pixels (masters 12×12 at flat
    * index y·12+x, copies 8×8 reading the SOURCE's (y+3)·12+(x+2)),
    * Rec.601 integer luma, 40-bit per-tile gradient fingerprints
    * (5×4 horizontal bits then 4×5 vertical), min-per-3×3-tile-window
    * winnowing — ends in `iwsg(doc_id, fp)` plus the capped pair
    * expansion `ipair(id_a, id_b)` (one row per shared fingerprint,
    * buckets capped at the 256 smallest doc_ids, the operator's
    * guard). */
  private val imageWinnowCtes: String =
    s"""iw0 AS (SELECT d.doc_id,
      |  CAST(CASE WHEN d.doc_id % 20 = 1 THEN 8
      |   WHEN d.doc_id % 20 = 11 THEN 16 ELSE 12 END
      |   AS INTEGER) AS w, gx.x, gy.y,
      |  CASE WHEN d.doc_id % 20 = 1
      |    THEN CAST(d.doc_id - 1 AS VARCHAR) || ':' ||
      |     CAST((gy.y + 3) * 12 + gx.x + 2 AS VARCHAR)
      |   WHEN d.doc_id % 20 = 11 AND gx.x >= 2 AND gx.x < 14
      |     AND gy.y >= 3 AND gy.y < 15
      |    THEN CAST(d.doc_id - 1 AS VARCHAR) || ':' ||
      |     CAST((gy.y - 3) * 12 + gx.x - 2 AS VARCHAR)
      |   WHEN d.doc_id % 20 = 11
      |    THEN CAST(d.doc_id AS VARCHAR) || ':' ||
      |     CAST(gy.y * 16 + gx.x AS VARCHAR)
      |   ELSE CAST(d.doc_id AS VARCHAR) || ':' ||
      |    CAST(gy.y * 12 + gx.x AS VARCHAR) END AS s
      | FROM documents d,
      |  LATERAL (SELECT unnest(generate_series(0, 15)) AS x) gx,
      |  LATERAL (SELECT unnest(generate_series(0, 15)) AS y) gy
      | WHERE gx.x < CASE WHEN d.doc_id % 20 = 1 THEN 8
      |   WHEN d.doc_id % 20 = 11 THEN 16 ELSE 12 END
      |  AND gy.y < CASE WHEN d.doc_id % 20 = 1 THEN 8
      |   WHEN d.doc_id % 20 = 11 THEN 16 ELSE 12 END),
      |iwf1 AS (SELECT doc_id, w, x, y,
      |  CAST(${fnv1aSql("s")}
      |    AS VARCHAR) AS s2
      | FROM iw0),
      |ilum AS (SELECT doc_id, w, x, y,
      |  299 * CAST((h // 256) % 256 AS BIGINT)
      |   + 587 * CAST((h // 65536) % 256 AS BIGINT)
      |   + 114 * CAST((h // 16777216) % 256 AS BIGINT) AS l
      | FROM (SELECT doc_id, w, x, y,
      |  ${fnv1aSql("s2")}
      |    AS h
      |  FROM iwf1) u),
      |ill AS MATERIALIZED (SELECT doc_id, w,
      |  list(l ORDER BY y * w + x) AS ll
      | FROM ilum GROUP BY 1, 2),
      |itile AS MATERIALIZED (SELECT doc_id, w - 4 AS gw,
      |  tx.t AS tx, ty.t AS ty,
      |  CAST(
      |   list_sum(list_transform(range(0, 5), r ->
      |    list_sum(list_transform(range(0, 4), c ->
      |     CASE WHEN ll[CAST((ty.t + r) * w + tx.t + c + 2 AS INTEGER)]
      |       > ll[CAST((ty.t + r) * w + tx.t + c + 1 AS INTEGER)]
      |      THEN CAST(1 AS BIGINT) << CAST(r * 4 + c AS INTEGER)
      |      ELSE 0 END)))) +
      |   list_sum(list_transform(range(0, 5), c ->
      |    list_sum(list_transform(range(0, 4), r ->
      |     CASE WHEN ll[CAST((ty.t + r + 1) * w + tx.t + c + 1 AS INTEGER)]
      |       > ll[CAST((ty.t + r) * w + tx.t + c + 1 AS INTEGER)]
      |      THEN CAST(1 AS BIGINT) << CAST(20 + c * 4 + r AS INTEGER)
      |      ELSE 0 END))))
      |  AS BIGINT) AS fp
      | FROM ill,
      |  LATERAL (SELECT unnest(range(0, w - 4)) AS t) tx,
      |  LATERAL (SELECT unnest(range(0, w - 4)) AS t) ty),
      |ifl AS (SELECT doc_id, gw,
      |  list(fp ORDER BY ty * gw + tx) AS fl
      | FROM itile GROUP BY 1, 2),
      |iwin AS (SELECT doc_id,
      |  list_min(flatten(
      |   list_transform(range(0, least(3, gw - wy.t)), dy ->
      |    list_transform(range(0, least(3, gw - wx.t)), dx ->
      |     fl[CAST((wy.t + dy) * gw + wx.t + dx + 1 AS INTEGER)])))) AS sel
      | FROM ifl,
      |  LATERAL (SELECT unnest(range(0, greatest(gw - 3, 0) + 1)) AS t) wx,
      |  LATERAL (SELECT unnest(range(0, greatest(gw - 3, 0) + 1)) AS t) wy),
      |iwsg AS MATERIALIZED (SELECT DISTINCT doc_id, sel AS fp
      | FROM iwin),
      |ibkt AS (SELECT fp, list_sort(list(doc_id))[1:256] AS ds
      | FROM iwsg GROUP BY fp HAVING count(*) > 1),
      |ipair AS (SELECT a.d AS id_a, b.d AS id_b
      | FROM ibkt, LATERAL (SELECT unnest(ds) AS d) a,
      |  LATERAL (SELECT unnest(ds) AS d) b
      | WHERE a.d < b.d)"""

  /** IVF centroid-pick replay (r10): Similarity.pickCentroids over
    * `embeddings` rows matching `srcWhere` — hash-thin by
    * pmod(xxhash64(vec_id), step), order by (xxhash64(vec_id, 1)
    * SIGNED, vec_id), take nlist. Emits CTEs ending in
    * `cents(cell, embedding)`. Does NOT replay the tiny-corpus
    * fallback (thinned < nlist → re-pick over the full corpus):
    * at every driver SF the thinned set is ≥ 4× the pick, and the
    * fallback only fires below ~4·pick vectors total. */
  private def ivfCentsCtes(srcWhere: String, pick: Int = 16,
                           pfx: String = ""): String = {
    val (f1, h1) = Xx64Sql.hashLong(s"${pfx}xa",
      s"CAST(${pfx}src.vec_id AS HUGEINT)", "42")
    val (f2, h2) = Xx64Sql.hashInt(s"${pfx}xb", "1", h1)
    s"""${pfx}src AS (SELECT vec_id, embedding FROM embeddings $srcWhere),
       |${pfx}cnt AS (SELECT greatest((count(*) // $pick) // 4, 1) AS step
       | FROM ${pfx}src),
       |${pfx}hx AS MATERIALIZED (SELECT ${pfx}src.vec_id,
       |  ${Xx64Sql.signed(h1)} AS hs, ${Xx64Sql.signed(h2)} AS ho
       | FROM ${pfx}src, $f1, $f2),
       |${pfx}thin AS (SELECT s.vec_id, s.embedding, h.ho
       | FROM ${pfx}src s JOIN ${pfx}hx h USING (vec_id), ${pfx}cnt
       | WHERE ((h.hs % ${pfx}cnt.step) + ${pfx}cnt.step)
       |   % ${pfx}cnt.step = 0),
       |${pfx}cents AS MATERIALIZED (SELECT row_number() OVER
       |  (ORDER BY ho, vec_id) - 1 AS cell, embedding
       | FROM (SELECT ho, vec_id, embedding FROM ${pfx}thin
       |  ORDER BY ho, vec_id LIMIT $pick) s)"""
  }

  /** PQ tail over a pick of `nCodes` sample vectors (`cents` CTE,
    * cells 0..nCodes−1): codebook entries are 4-dim slices of the
    * picked embeddings (m=16 subspaces), encode = per-subspace L2
    * argmin (first-wins ties, the kernel's strict <), recon = the
    * concatenated entry lists, approx score = cosine against the
    * reconstruction. `useIvf` adds the cell probe prune (cells =
    * first 16 of the pick); `budget` = k·rerank. */
  private def pqTail(useIvf: Boolean, budget: Int,
                     nprobe: Int = 8, assignWhere: String = ""): String = {
    val d2 = (1 to 4).map(i =>
      s"(CAST(e.embedding[cb.sub * 4 + $i] AS DOUBLE) - cb.entry[$i])" +
        s" * (CAST(e.embedding[cb.sub * 4 + $i] AS DOUBLE) - cb.entry[$i])")
      .mkString(" + ")
    val ivfCtes =
      if (!useIvf) ""
      else s"""icents AS (SELECT cell, embedding FROM cents WHERE cell < 16),
              |assigned AS MATERIALIZED (SELECT vec_id, cell FROM (
              | ${ivfRankSql("icents")} $assignWhere) x WHERE rn = 1),
              |probes AS (SELECT vec_id AS query_id, cell FROM (
              | ${ivfRankSql("icents")} WHERE e.vec_id % 100 = 0) x
              | WHERE rn <= $nprobe),
              |"""
    val candSrc =
      if (useIvf)
        """FROM probes p JOIN assigned a ON a.cell = p.cell
          | JOIN recon r ON r.vec_id = a.vec_id
          | JOIN embeddings q ON q.vec_id = p.query_id
          | WHERE a.vec_id != p.query_id"""
      else
        """FROM embeddings q, recon r
          | WHERE q.vec_id % 100 = 0 AND r.vec_id != q.vec_id"""
    val candSel =
      if (useIvf) "p.query_id, a.vec_id AS neighbor_id"
      else "q.vec_id AS query_id, r.vec_id AS neighbor_id"
    val partKey = if (useIvf) "p.query_id" else "q.vec_id"
    val ordId = if (useIvf) "a.vec_id" else "r.vec_id"
    s"""cb AS MATERIALIZED (SELECT c32.cell AS code, g.j AS sub,
       |  list_transform(range(1, 5),
       |   i -> CAST(c32.embedding[g.j * 4 + i] AS DOUBLE)) AS entry
       | FROM cents c32, LATERAL (SELECT unnest(range(0, 16)) AS j) g),
       |enc AS MATERIALIZED (SELECT vec_id, sub, code FROM (
       | SELECT e.vec_id, cb.sub, cb.code, row_number() OVER (
       |   PARTITION BY e.vec_id, cb.sub ORDER BY $d2, cb.code) AS rn
       | FROM embeddings e, cb) x WHERE rn = 1),
       |recon AS MATERIALIZED (SELECT enc.vec_id,
       |  flatten(list(cb.entry ORDER BY enc.sub)) AS x
       | FROM enc JOIN cb ON cb.sub = enc.sub AND cb.code = enc.code
       | GROUP BY 1),
       |$ivfCtes
       |apx AS (SELECT query_id, neighbor_id FROM (
       | SELECT $candSel, row_number() OVER (PARTITION BY $partKey
       |   ORDER BY list_cosine_similarity(
       |     CAST(q.embedding AS DOUBLE[]), r.x) DESC, $ordId) AS rn
       | $candSrc) s WHERE rn <= $budget)
       |${exactTop10Sql("apx", "a")}"""
  }

  /** Residual IVF-PQ oracle (r10): the full trained pipeline —
    * pick16 init → ONE Lloyd iteration (float-snapped means, the
    * kmeans-oracle pattern) → residual codebook init from the pick32
    * sample → ONE per-subspace refinement iteration → residual
    * encode → probe/score/rerank. Float subtractions replay as
    * double-subtract-then-round (IEEE-identical for float operands).
    */
  private def ivfPqResidualOracle: String = {
    // d2 for residual encode: ((v−cent) as FLOAT widened) − entry_d
    def d2(cb: String) = (1 to 4).map { i =>
      val diff = s"(CAST(CAST(e.embedding[$cb.sub * 4 + $i] AS DOUBLE)" +
        s" - CAST(c1e.emb[$cb.sub * 4 + $i] AS DOUBLE) AS FLOAT)" +
        s" - $cb.entry[$i])"
      s"$diff * $diff"
    }.mkString(" + ")
    s"""WITH ${ivfCentsCtes("", pick = 16)},
       |a0 AS MATERIALIZED (SELECT vec_id, cell FROM (
       | ${ivfRankSql("cents")}) x WHERE rn = 1),
       |c1 AS MATERIALIZED (SELECT c.cell,
       |  coalesce(mm.emb, CAST(c.embedding AS FLOAT[])) AS emb
       | FROM cents c LEFT JOIN (
       |  SELECT a.cell, list(v ORDER BY i) AS emb FROM (
       |   SELECT a0.cell, g.i,
       |    CAST(avg(CAST(e.embedding[g.i] AS DOUBLE)) AS FLOAT) AS v
       |   FROM a0 JOIN embeddings e USING (vec_id),
       |    LATERAL (SELECT unnest(generate_series(1,
       |      len(e.embedding))) AS i) g
       |   GROUP BY 1, 2) a GROUP BY 1) mm USING (cell)),
       |${ivfCentsCtes("", pick = 32, pfx = "s_")},
       |s32 AS MATERIALIZED (SELECT s.cell AS code, s.embedding,
       |  a.cell
       | FROM s_cents s, LATERAL (SELECT c1.cell FROM c1 ORDER BY
       |   list_cosine_similarity(CAST(s.embedding AS DOUBLE[]),
       |     CAST(c1.emb AS DOUBLE[])) DESC, c1.cell LIMIT 1) a),
       |cb0 AS MATERIALIZED (SELECT s32.code, g.j AS sub,
       |  list_transform(range(1, 5), i ->
       |   CAST(CAST(s32.embedding[g.j * 4 + i] AS DOUBLE)
       |    - CAST(c1e.emb[g.j * 4 + i] AS DOUBLE) AS FLOAT)) AS entry
       | FROM s32 JOIN c1 c1e ON c1e.cell = s32.cell,
       |  LATERAL (SELECT unnest(range(0, 16)) AS j) g),
       |a1 AS MATERIALIZED (SELECT vec_id, cell FROM (
       | ${ivfRankSql("c1", col = "emb")}) x WHERE rn = 1),
       |enc0 AS MATERIALIZED (SELECT vec_id, sub, code FROM (
       | SELECT e.vec_id, cb0.sub, cb0.code, row_number() OVER (
       |   PARTITION BY e.vec_id, cb0.sub
       |   ORDER BY ${d2("cb0")}, cb0.code) AS rn
       | FROM embeddings e JOIN a1 ON a1.vec_id = e.vec_id
       | JOIN c1 c1e ON c1e.cell = a1.cell, cb0) x WHERE rn = 1),
       |rv AS (SELECT enc0.sub, enc0.code, g.sp,
       |  avg(CAST(CAST(CAST(
       |   e.embedding[enc0.sub * 4 + g.sp] AS DOUBLE)
       |   - CAST(c1e.emb[enc0.sub * 4 + g.sp] AS DOUBLE) AS FLOAT)
       |   AS DOUBLE)) AS mean_v
       | FROM enc0 JOIN embeddings e USING (vec_id)
       | JOIN a1 ON a1.vec_id = enc0.vec_id
       | JOIN c1 c1e ON c1e.cell = a1.cell,
       |  LATERAL (SELECT unnest(generate_series(1, 4)) AS sp) g
       | GROUP BY 1, 2, 3),
       |cb1 AS MATERIALIZED (SELECT code, sub,
       |  list(v ORDER BY i) AS entry FROM (
       |  SELECT cb0.code, cb0.sub, g.i,
       |   coalesce(CAST(rv.mean_v AS FLOAT), cb0.entry[g.i]) AS v
       |  FROM cb0 CROSS JOIN (SELECT unnest(generate_series(1, 4)) AS i) g
       |  LEFT JOIN rv ON rv.sub = cb0.sub AND rv.code = cb0.code
       |   AND rv.sp = g.i) z
       | GROUP BY 1, 2),
       |enc1 AS MATERIALIZED (SELECT vec_id, sub, code FROM (
       | SELECT e.vec_id, cb1.sub, cb1.code, row_number() OVER (
       |   PARTITION BY e.vec_id, cb1.sub
       |   ORDER BY ${d2("cb1")}, cb1.code) AS rn
       | FROM embeddings e JOIN a1 ON a1.vec_id = e.vec_id
       | JOIN c1 c1e ON c1e.cell = a1.cell, cb1) x WHERE rn = 1),
       |recon AS MATERIALIZED (SELECT enc1.vec_id,
       |  flatten(list(list_transform(range(1, 5), i ->
       |    CAST(c1e.emb[enc1.sub * 4 + i] AS DOUBLE)
       |     + CAST(cb1.entry[i] AS DOUBLE)) ORDER BY enc1.sub)) AS x
       | FROM enc1 JOIN cb1 ON cb1.sub = enc1.sub AND cb1.code = enc1.code
       | JOIN a1 ON a1.vec_id = enc1.vec_id
       | JOIN c1 c1e ON c1e.cell = a1.cell
       | GROUP BY 1),
       |probes AS (SELECT vec_id AS query_id, cell FROM (
       | ${ivfRankSql("c1", col = "emb")} WHERE e.vec_id % 100 = 0) x
       | WHERE rn <= 12),
       |apx AS (SELECT query_id, neighbor_id FROM (
       | SELECT p.query_id, a.vec_id AS neighbor_id, row_number() OVER (
       |   PARTITION BY p.query_id ORDER BY list_cosine_similarity(
       |     CAST(q.embedding AS DOUBLE[]), r.x) DESC, a.vec_id) AS rn
       | FROM probes p JOIN a1 a ON a.cell = p.cell
       | JOIN recon r ON r.vec_id = a.vec_id
       | JOIN embeddings q ON q.vec_id = p.query_id
       | WHERE a.vec_id != p.query_id) s WHERE rn <= 160)
       |${exactTop10Sql("apx", "a")}"""
  }

  /** Argmax cell assignment + nprobe-cell probe + exact-cosine
    * top-10 tail over `cents`; `assignWhere` filters the ASSIGNED
    * corpus (the shared-index filtered tier). */
  private def ivfProbeTail(assignWhere: String = "",
                           nprobe: Int = 8): String =
    s"""assigned AS MATERIALIZED (SELECT vec_id, cell FROM (
       | ${ivfRankSql("cents")} $assignWhere) x WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, cell FROM (
       | ${ivfRankSql("cents")} WHERE e.vec_id % 100 = 0) x
       | WHERE rn <= $nprobe),
       |cand AS (SELECT DISTINCT p.query_id, a.vec_id AS neighbor_id
       | FROM probes p JOIN assigned a ON a.cell = p.cell
       | WHERE a.vec_id != p.query_id)
       |${exactTop10Sql("cand", "c")}"""

  /** An oracle as it ships, on one line: the margins stripped, each
    * run of whitespace outside quoted text one space, the ends
    * trimmed. Quoted text, a '…' literal (whose '' escape reads as two
    * adjacent literals) or a "…" identifier, is kept byte for byte. */
  private[graft] def flat(sql: String): String = {
    val out = new StringBuilder(sql.length)
    var quote = ' ' // the open quote, or a space outside quoted text
    var gap = false // whitespace since the last character kept
    for (c <- sql.stripMargin) {
      if (quote != ' ') {
        out += c
        if (c == quote) quote = ' '
      } else if (c.isWhitespace) gap = true
      else {
        if (gap && out.nonEmpty) out += ' '
        gap = false
        out += c
        if (c == '\'' || c == '"') quote = c
      }
    }
    out.result()
  }

  /** Every key's oracle, built once per JVM and shipped [[flat]]. */
  lazy val oracleSql: Map[String, String] = {
    val m = base
    // result-parity keys: same semantics, different physical strategy
    // (or, for stream_dedup_within_wm, the batch degenerate form)
    m + ("q_brand_revenue_salted" -> m("q_brand_revenue")) +
      // one-scan dq calibration: same output contract as the
      // composed form (stringified distincts are injective for
      // these columns; floats normalized), so the oracle is shared
      ("etl_dq_profile_onescan" -> m("etl_dq_profile_approx")) +
      ("stream_session_window" -> m("q_session_window")) +
      ("stream_dedup_within_wm" -> m("stream_dedup")) +
      ("sample_uniform_k_agg" -> m("sample_uniform_k")) +
      // Bloom pruning changes the physical plan, never the result
      ("q3_bloom_pruned" -> m("q3_top_unshipped")) +
      ("q_topn_per_group_agg" -> m("q_topn_per_group")) +
      // the persisted-index probes are the partition-pruned physical
      // form of the in-memory tiers (AnnIndexSpec parity; identical
      // model state — same pick, same budgets)
      ("ann_index_ivf_probe" -> m("ann_ivf_topk")) +
      // the stream replay is the same persisted-index probe run as
      // deterministic micro-batches and unioned (query independence
      // = batch-split invariance), so the rows are the batch key's
      ("stream_ann_probe" -> m("ann_ivf_topk")) +
      // the stream gate IS the batch score kernel with the trained
      // weights as plan-time literals
      ("stream_quality_lr" -> m("text_quality_lr_score")) +
      // per-record attach vs the static store — batch-split invariant,
      // so the stream replay shares the incremental key's oracle
      ("stream_entity_match" -> m("etl_entity_incremental")) +
      // bucket-wise additive state update — partial sketches summed
      // equal the one-pass batch sketch
      ("stream_cms_sketch" -> m("text_cms_sketch")) +
      ("ann_index_ivfpq_probe" -> m("ann_ivfpq_topk")) +
      // exact (no evictions) while distinct keys per partition <= k
      ("events_heavy_hitters_mg" -> m("events_heavy_hitters")) +
      // associative partial-merge == full recompute
      ("etl_incremental_summary" -> m("etl_sales_summary")) +
      // ts-ordered state-machine fold == three-aggregate min-chain
      ("stream_funnel" -> m("q_events_funnel")) +
      // ts-ordered latest-click fold == the window's 1-PRECEDING frame
      ("stream_attribution" -> m("events_attribution")) +
      // ts-ordered µs gap fold == the lag+cumsum session assignment
      ("stream_sessionize" -> m("q_events_sessionize")) +
      // single-batch first-seen min-fold == the first-seen join
      ("stream_new_vs_returning" -> m("q_new_vs_returning")) +
      // last-write-wins upsert per user == the latest-event query
      ("stream_cdc_apply" -> m("etl_cdc_apply")) +
      // folding sorted history replays the same run-collapse
      ("stream_scd2" -> m("etl_scd2_user_state")) +
      // ts-ordered O(w)-tail span fold == the lag(w-1) window form
      ("stream_bot_flag" -> m("events_bot_flag")) +
      // single-batch k-smallest-key fold == the rank-window sample
      ("stream_sample_uniform" -> m("sample_uniform_k")) +
      // single-batch doc_id-ordered quota fold == the row_number cap
      ("stream_source_cap" ->
        """SELECT source, admit_rank, doc_id FROM (
          | SELECT source, doc_id,
          |  CAST(row_number() OVER (PARTITION BY source
          |    ORDER BY doc_id) AS BIGINT) AS admit_rank
          | FROM documents) r
          |WHERE admit_rank <= 10""") +
      // doc_id-ordered running token sum == the cumulative window:
      // the sum only grows, so "admit while ≤ budget" is exactly
      // cumsum-including ≤ budget
      ("stream_token_budget" ->
        """WITH n AS (SELECT source, doc_id, CAST(len(list_filter(
          |   regexp_split_to_array(text, '\s+'), x -> x <> ''))
          |  AS BIGINT) AS n_tokens FROM documents),
          |c AS (SELECT source, doc_id, n_tokens,
          |  CAST(sum(n_tokens) OVER (PARTITION BY source
          |   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND
          |   CURRENT ROW) AS BIGINT) AS used_tokens FROM n)
          |SELECT source, doc_id, n_tokens, used_tokens
          |FROM c WHERE used_tokens <= 800""")
  }.map { case (k, sql) => k -> flat(sql) }

  /** Shared CTE chain of the full curation pipeline (through the
    * source-cap stage, plus the residual-token billing relation) —
    * consumed by both the docs_curate_full result oracle and the
    * docs_curate_funnel per-stage counts. r14 recomposition: the
    * 20-threshold Gopher gate chain (the gate family's verbatim
    * fixture + profile CTEs) leads, the corpus-duplication gate and
    * the span-scrub residual billing ride one raw-corpus 8-gram
    * coverage chain (the docs_dup_ngram_apply definition), and the
    * legacy stages keep their exact prior SQL (raw-corpus CTEs
    * renamed rt/cp to coexist with the fixture chain's t/p). */
  private val curateFullCtes: String =
    s"""WITH $qualCorpusCte, ${linedCtesFrom("qd")},
        |$gopherFlagCtes,
        |${toksCteAs("rt")},
        |sc AS (SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  ${qualityScoreSql} FROM rt),
        |q AS (SELECT doc_id FROM sc
        | WHERE n_tokens >= 20 AND n_tokens <= 100000 AND quality_score >= 0.2
        |  AND doc_id NOT IN (SELECT doc_id FROM gflag)),
        |dd AS (SELECT min(doc_id) AS doc_id FROM (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM q)) nn GROUP BY norm),
        |${ngramCoverCtes("rt")},
        |cc AS (SELECT c.doc_id,
        |  CAST(sum(length(rt.toks[c.p + 1])) AS BIGINT) AS dup_chars,
        |  CAST(count(*) AS BIGINT) AS n_cov
        | FROM cpos c JOIN rt USING (doc_id) GROUP BY c.doc_id),
        |ddrop AS (SELECT rtc.doc_id FROM rtc JOIN cc USING (doc_id)
        | WHERE rtc.tok_chars > 0
        |  AND CAST(cc.dup_chars AS BIGINT) / rtc.tok_chars > 0.5),
        |g AS (SELECT doc_id, unnest(list_distinct($trigramsSql)) AS gram FROM rt),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |cont AS (SELECT DISTINCT c.doc_id FROM
        |  (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0) c
        |  JOIN bench USING (gram)),
        |sem AS (SELECT DISTINCT ce.vec_id AS doc_id FROM
        |  (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |   FROM embeddings WHERE vec_id % 97 <> 0) ce,
        |  (SELECT CAST(embedding AS DOUBLE[]) AS e
        |   FROM embeddings WHERE vec_id % 97 = 0) be
        | WHERE list_cosine_similarity(ce.e, be.e) >= 0.4),
        |cur AS (SELECT d.doc_id, d.source FROM documents d
        | WHERE d.doc_id IN (SELECT doc_id FROM dd)
        |  AND d.doc_id NOT IN (SELECT doc_id FROM ddrop)
        |  AND d.doc_id % 97 <> 0
        |  AND d.doc_id NOT IN (SELECT doc_id FROM cont)
        |  AND d.doc_id NOT IN (SELECT doc_id FROM sem)),
        |tl AS (SELECT doc_id, $trigramSetSql AS grams
        | FROM (SELECT doc_id, list_filter(
        |   regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
        |  FROM documents WHERE doc_id IN (SELECT doc_id FROM cur)) lt),
        |inv AS (SELECT doc_id, unnest(grams) AS gram FROM tl),
        |idf AS (SELECT gram, count(*) AS df FROM inv GROUP BY 1),
        |cp AS (SELECT a.doc_id AS id_a, c.doc_id AS id_b
        |  FROM inv a JOIN idf ON idf.gram = a.gram JOIN inv c ON c.gram = a.gram
        |  WHERE a.doc_id < c.doc_id AND idf.df BETWEEN 2 AND 64
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |j AS (SELECT cp.id_a, cp.id_b FROM cp
        | JOIN tl ga ON ga.doc_id = cp.id_a JOIN tl gb ON gb.doc_id = cp.id_b
        | WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
        |  / (len(ga.grams) + len(gb.grams)
        |     - len(list_intersect(ga.grams, gb.grams))) >= 0.5),
        |$losersCte,
        |sup AS (SELECT cur.doc_id, cur.source FROM cur
        | WHERE cur.doc_id NOT IN (SELECT doc_id FROM losers)),
        |capped AS (SELECT doc_id, source FROM (
        | SELECT sup.doc_id, sup.source,
        |  row_number() OVER (PARTITION BY sup.source
        |    ORDER BY sc.quality_score DESC, sup.doc_id) AS rk
        | FROM sup JOIN sc ON sc.doc_id = sup.doc_id) r WHERE rk <= 10),
        |rsc AS (SELECT sc.doc_id, sc.n_tokens,
        |  CAST(sc.n_tokens - coalesce(cc.n_cov, 0) AS BIGINT) AS n_res,
        |  sc.quality_score FROM sc LEFT JOIN cc USING (doc_id))"""

  /** The MOSS winnow fingerprint inversion as a CTE chain — ends in
    * `w(doc_id, fp)`, one row per per-doc-distinct winnow
    * fingerprint (the text_winnow_dedup front half, shared by the
    * r16 ML-erasure keys). */
  private val winnowFpCtes: String =
    s"""${toksCteAs("t", "doc_id")},
      |g AS (SELECT doc_id, CASE WHEN len(toks) >= 3
      |  THEN list_transform(range(1, len(toks) - 1),
      |   i -> md5(array_to_string(toks[i:i+2], ' ')))
      |  ELSE CAST([] AS VARCHAR[]) END AS grams FROM t),
      |w AS (SELECT doc_id, unnest(list_distinct(CASE WHEN len(grams) >= 4
      |  THEN list_transform(range(1, len(grams) - 2),
      |   j -> list_min(grams[j:j+3]))
      |  ELSE grams END)) AS fp FROM g)"""

  /** Shared front half of the etl_entity_* oracles: the dirty-CRM
    * derivation from `customer` (EntityResolution.synthCrmCorpus
    * replayed), normalization, prefix blocking with the length
    * band, and the Levenshtein-≤1 match pairs. */
  private val crmPairsCte: String =
    """WITH nm AS (SELECT c_custkey AS k,
      |  list_aggregate(list_transform(range(1, 7), i ->
      |   (['ba0','ce1','di2','fo3','gu4','hy5','jr6','ks7','lt8','mw9'])[
      |    CAST(substr(reverse(lpad(CAST(c_custkey AS VARCHAR), 6, '0')),
      |     CAST(i AS INT), 1) AS INT) + 1]), 'string_agg', '') AS name,
      |  CAST(c_nationkey AS BIGINT) AS nat, c_acctbal AS bal
      | FROM customer),
      |v1 AS (SELECT k, substr(name, 1, 16) || substr(name, 18) AS name1,
      |  nat, bal FROM nm WHERE k % 3 = 1),
      |recs AS (
      | SELECT k * 4 AS rec_id, name AS raw_name, 'crm' AS src,
      |  nat AS nationkey, bal AS acctbal FROM nm
      | UNION ALL SELECT k * 4 + 1, '  ' || upper(name) || ' ', 'web',
      |  nat, bal FROM nm WHERE k % 5 = 2
      | UNION ALL SELECT k * 4 + 2, name1, 'pos', (nat + 1) % 25,
      |  round(bal) FROM v1
      | UNION ALL SELECT k * 4 + 3, substr(name1, 1, 16) || substr(name1, 18),
      |  'legacy', (nat + 1) % 25, round(bal) FROM v1 WHERE k % 6 = 1),
      |nb AS (SELECT rec_id, src, nationkey, acctbal,
      |  lower(trim(regexp_replace(raw_name, '\s+', ' ', 'g'))) AS norm,
      |  substr(lower(trim(regexp_replace(raw_name, '\s+', ' ', 'g'))), 1, 6)
      |   AS block,
      |  length(lower(trim(regexp_replace(raw_name, '\s+', ' ', 'g')))) AS len
      | FROM recs),
      |nbk AS (SELECT * FROM (SELECT *, row_number() OVER (
      |   PARTITION BY block ORDER BY rec_id) AS bn FROM nb) c
      | WHERE bn <= 256),
      |pr AS (SELECT a.rec_id AS rec_a, b.rec_id AS rec_b,
      |  CAST(levenshtein(a.norm, b.norm) AS BIGINT) AS lev
      | FROM nbk a JOIN nbk b ON a.block = b.block AND a.rec_id < b.rec_id
      |  AND abs(a.len - b.len) <= 1
      | WHERE levenshtein(a.norm, b.norm) <= 1)"""

  /** [[crmPairsCte]] closed into entities: the min-label closure over
    * the `pr` edges, ending in `lab(rec_id, entity_id)`. */
  private val crmEntityCtes: String =
    crmPairsCte.replace("WITH ", "WITH RECURSIVE ") + """,
      |e AS (SELECT rec_a AS src, rec_b AS dst FROM pr
      |  UNION ALL SELECT rec_b, rec_a FROM pr),
      |reach AS (SELECT rec_id, rec_id AS r FROM recs
      |  UNION
      |  SELECT reach.rec_id, e.dst FROM reach JOIN e ON e.src = reach.r),
      |lab AS (SELECT rec_id, min(r) AS entity_id FROM reach GROUP BY 1)"""

  private def base: Map[String, String] = Map(
    "etl_extract_typed" -> salesSql("WHERE l_linestatus = 'F'"),
    "etl_union_sources" ->
      """SELECT l_orderkey * 10 + l_linenumber AS sale_id, l_partkey AS product_id,
         | l_quantity AS quantity, l_extendedprice AS sale_amount,
         | CAST(l_shipdate AS DATE) AS sale_date,
         | CASE WHEN l_linestatus = 'O' THEN 'online' ELSE 'store' END AS source
         |FROM lineitem""",
    "etl_clean" -> cleanSalesSql,
    "etl_run_report" -> runReportSql,
    "etl_grain_check" ->
      // one hash aggregate per grain claim, collapsed to one row
      s"""WITH s AS (${salesSql("")}),
         |g1 AS (SELECT sale_id, count(*) AS m FROM s GROUP BY 1),
         |r1 AS (SELECT ${grainStatsSql("'sale_id'", "g1")}),
         |g2 AS (SELECT product_id, sale_date, count(*) AS m FROM s
         |  GROUP BY 1, 2),
         |r2 AS (SELECT ${grainStatsSql("'product_day'", "g2")})
         |SELECT *, n_dup_keys = 0 AS grain_ok FROM r1
         |UNION ALL SELECT *, n_dup_keys = 0 AS grain_ok FROM r2""",
    "etl_freshness" ->
      // per-feed day-grain collapse → max_by scalars → cross-feed
      // global max; lag vs the freshest sibling feed, not wall-clock
      s"""WITH d AS (
         |  SELECT 'online' AS feed, sale_date AS day, count(*) AS n
         |   FROM (${salesSql("WHERE l_linestatus = 'O'")}) s GROUP BY 1, 2
         |  UNION ALL
         |  SELECT 'in_store' AS feed, sale_date AS day, count(*) AS n
         |   FROM (${salesSql("WHERE l_linestatus = 'F'")}) s GROUP BY 1, 2),
         |f AS (SELECT feed, max(day) AS last_day,
         |  CAST(sum(n) AS BIGINT) AS n_rows,
         |  max_by(n, day) AS rows_last_day FROM d GROUP BY 1),
         |g AS (SELECT max(last_day) AS global_day FROM f)
         |SELECT feed, last_day,
         | CAST(date_diff('day', last_day, global_day) AS BIGINT)
         |  AS days_behind,
         | n_rows, rows_last_day,
         | date_diff('day', last_day, global_day) > 2 AS stale
         |FROM f, g""",
    "etl_sales_summary" -> summarySql,
    "etl_daily_product_summary" ->
      s"""SELECT product_id, sale_date, sum(quantity) AS total_quantity,
         | sum(sale_amount) AS total_sale_amount, count(*) AS num_sales,
         | avg(sale_amount) AS avg_sale_amount
         |FROM ($cleanSalesSql) c GROUP BY product_id, sale_date""",
    "etl_load_validated" -> summarySql,
    "etl_upsert" -> {
      def src(status: String) =
        s"""SELECT product_id, sum(quantity) AS total_quantity,
           | sum(sale_amount) AS total_sale_amount
           |FROM (${salesSql(s"WHERE l_linestatus = '$status'")}) s
           |WHERE quantity > 0 AND sale_amount > 0
           |GROUP BY product_id"""
      s"""WITH f AS (${src("F")}), o AS (${src("O")})
         |SELECT * FROM o UNION ALL
         |SELECT f.* FROM f WHERE NOT EXISTS
         | (SELECT 1 FROM o WHERE o.product_id = f.product_id)"""
    },
    "etl_sales_summary_salted" -> summarySql,
    "etl_backfill_plan" ->
      s"""WITH d AS (SELECT sale_date AS day, count(*) AS n_rows
         |  FROM ($cleanSalesSql) c GROUP BY 1),
         |b AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
         |s AS (SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY))
         |  AS DATE) AS day FROM b)
         |SELECT s.day, coalesce(d.n_rows, 0) AS n_rows,
         | d.n_rows IS NULL AS is_gap
         |FROM s LEFT JOIN d ON d.day = s.day""",
    // entity resolution: the dirty-CRM derivation (syllable-encoded
    // custkey names + deterministic deletion typos), normalization,
    // prefix blocking with the length band, and the thresholded
    // Levenshtein all replay verbatim — crmPairsCte is the shared
    // front half of all three oracles
    "etl_entity_pairs" ->
      (crmPairsCte + """
        |SELECT rec_a, rec_b, lev,
        | CASE WHEN lev = 0 THEN 'exact_norm' ELSE 'fuzzy' END AS rule
        |FROM pr"""),
    "etl_entity_groups" ->
      (crmEntityCtes + """
        |SELECT rec_id, entity_id, rec_id = entity_id AS keep
        |FROM lab"""),
    "etl_entity_golden" ->
      (crmEntityCtes + """,
        |m AS (SELECT l.rec_id, l.entity_id, nb.src, nb.nationkey,
        |  nb.acctbal, nb.norm,
        |  CASE nb.src WHEN 'crm' THEN 0 WHEN 'web' THEN 1
        |   WHEN 'pos' THEN 2 ELSE 3 END AS prio
        | FROM lab l JOIN nb ON nb.rec_id = l.rec_id),
        |rn AS (SELECT *, row_number() OVER (PARTITION BY entity_id
        |  ORDER BY prio, rec_id) AS rk FROM m),
        |ag AS (SELECT entity_id, count(*) AS n_members,
        |  count(DISTINCT src) AS n_sources,
        |  max(nationkey) <> min(nationkey) AS nation_conflict,
        |  round(max(acctbal), 2) AS acctbal_max FROM m GROUP BY 1)
        |SELECT r.entity_id, r.rec_id AS golden_rec, r.norm AS name,
        | r.nationkey, round(r.acctbal, 2) AS acctbal, a.n_members,
        | a.n_sources, a.nation_conflict, a.acctbal_max
        |FROM rn r JOIN ag a USING (entity_id)
        |WHERE r.rk = 1"""),
    "etl_rtbf_plan" ->
      """WITH r AS (SELECT DISTINCT c_custkey FROM customer
        |  WHERE c_custkey % 53 = 3),
        |o AS (SELECT r.c_custkey, o_orderkey FROM orders
        | JOIN r ON o_custkey = r.c_custkey),
        |oc AS (SELECT c_custkey, count(*) AS n_orders FROM o GROUP BY 1),
        |lc AS (SELECT o.c_custkey, count(*) AS n_lineitems
        | FROM o JOIN lineitem ON l_orderkey = o.o_orderkey GROUP BY 1)
        |SELECT r.c_custkey, coalesce(oc.n_orders, 0) AS n_orders,
        | coalesce(lc.n_lineitems, 0) AS n_lineitems,
        | 1 + coalesce(oc.n_orders, 0) + coalesce(lc.n_lineitems, 0)
        |  AS n_rows_total
        |FROM r LEFT JOIN oc USING (c_custkey)
        | LEFT JOIN lc USING (c_custkey)""",
    "etl_rtbf_apply" ->
      """WITH r AS (SELECT DISTINCT c_custkey FROM customer
        |  WHERE c_custkey % 53 = 3),
        |ca AS (SELECT count(*) AS a FROM customer
        | WHERE c_custkey NOT IN (SELECT c_custkey FROM r)),
        |oa AS (SELECT count(*) AS a FROM orders
        | WHERE o_custkey NOT IN (SELECT c_custkey FROM r)),
        |la AS (SELECT count(*) AS a FROM lineitem
        | WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM r))),
        |cb AS (SELECT count(*) AS b FROM customer),
        |ob AS (SELECT count(*) AS b FROM orders),
        |lb AS (SELECT count(*) AS b FROM lineitem)
        |SELECT 'customer' AS "table", cb.b AS rows_before,
        | cb.b - ca.a AS rows_removed, ca.a AS rows_after FROM cb, ca
        |UNION ALL SELECT 'orders', ob.b, ob.b - oa.a, oa.a FROM ob, oa
        |UNION ALL SELECT 'lineitem', lb.b, lb.b - la.a, la.a
        |FROM lb, la""",
    "rtbf_ml_plan" ->
      // per ML store: total rows + the subject's rows (fingerprints
      // 1/doc; winnow fps replayed through the shared MOSS CTE;
      // vectors 1/vec) — all exact integer counts
      s"""WITH $rtbfStoreCtes
         |SELECT 'fingerprints' AS store, f.t AS rows_total,
         | f.e AS rows_to_erase FROM f
         |UNION ALL SELECT 'winnow_fps', wn.t, wn.e FROM wn
         |UNION ALL SELECT 'ann_vectors', av.t, av.e FROM av""",
    "rtbf_ml_apply" ->
      s"""WITH $rtbfStoreCtes
         |SELECT 'fingerprints' AS store, f.t AS rows_before,
         | f.e AS rows_removed, f.t - f.e AS rows_after FROM f
         |UNION ALL SELECT 'winnow_fps', wn.t, wn.e, wn.t - wn.e FROM wn
         |UNION ALL SELECT 'ann_vectors', av.t, av.e, av.t - av.e
         |FROM av""",
    "etl_anonymity_audit" ->
      """SELECT c_nationkey,
        | CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
        | count(*) AS class_size,
        | count(DISTINCT c_mktsegment) AS n_sensitive,
        | count(*) >= 5 AS k_anonymous,
        | count(DISTINCT c_mktsegment) >= 2 AS l_diverse,
        | CASE WHEN count(*) < 5 THEN 're_identification'
        |  WHEN count(DISTINCT c_mktsegment) < 2
        |   THEN 'attribute_disclosure'
        |  ELSE 'none' END AS risk
        |FROM customer GROUP BY 1, 2""",
    "etl_entity_incremental" ->
      // history = base (k%7≠0) + pos feeds resolved by their OWN
      // closure (never touching the delta); delta = web/legacy +
      // brand-new base records; attach = min matched store entity
      // within block/band/lev≤1, else found a new entity
      (crmPairsCte.replace("WITH ", "WITH RECURSIVE ") + """,
        |hist AS (SELECT * FROM nb
        |  WHERE rec_id % 4 IN (0, 2) AND rec_id % 28 <> 0),
        |hp AS (SELECT a.rec_id AS rec_a, b.rec_id AS rec_b
        | FROM hist a JOIN hist b ON a.block = b.block
        |  AND a.rec_id < b.rec_id AND abs(a.len - b.len) <= 1
        | WHERE levenshtein(a.norm, b.norm) <= 1),
        |he AS (SELECT rec_a AS src, rec_b AS dst FROM hp
        |  UNION ALL SELECT rec_b, rec_a FROM hp),
        |hreach AS (SELECT rec_id, rec_id AS r FROM hist
        |  UNION
        |  SELECT hreach.rec_id, he.dst FROM hreach
        |   JOIN he ON he.src = hreach.r),
        |hlab AS (SELECT rec_id, min(r) AS entity_id
        | FROM hreach GROUP BY 1),
        |st AS (SELECT h.rec_id, h.norm, h.block, h.len, l.entity_id
        | FROM hist h JOIN hlab l USING (rec_id)),
        |dl AS (SELECT * FROM nb
        |  WHERE rec_id % 4 IN (1, 3) OR rec_id % 28 = 0),
        |stk AS (SELECT * FROM (SELECT *, row_number() OVER (
        |   PARTITION BY block ORDER BY rec_id) AS bn FROM st) c
        | WHERE bn <= 256),
        |att AS (SELECT d.rec_id, min(s.entity_id) AS matched
        | FROM dl d LEFT JOIN stk s ON s.block = d.block
        |  AND abs(d.len - s.len) <= 1
        |  AND levenshtein(d.norm, s.norm) <= 1
        | GROUP BY 1)
        |SELECT rec_id, coalesce(matched, rec_id) AS entity_id,
        | matched IS NULL AS is_new
        |FROM att"""),
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
        | sum(l_extendedprice) AS sum_base_price,
        | sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price,
        | sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge,
        | avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price,
        | avg(l_discount) AS avg_disc, count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""",
    "q3_top_unshipped" ->
      """SELECT o_orderkey, o_orderdate,
        | sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey LIMIT 10""",
    "q5_regional_revenue" ->
      """SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA' GROUP BY n_name""",
    "q_customer_enrich" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus,
        | c_name AS customer_name, c_mktsegment AS segment, n_name AS nation
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey""",
    "q_topn_per_group" ->
      """SELECT c_mktsegment, rank_in_segment, c_custkey, c_name, c_acctbal FROM (
        | SELECT c_mktsegment, c_custkey, c_name, c_acctbal,
        |  row_number() OVER (PARTITION BY c_mktsegment
        |    ORDER BY c_acctbal DESC, c_custkey) AS rank_in_segment
        | FROM customer) r WHERE rank_in_segment <= 5""",
    "q_running_totals" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        | sum(o_totalprice) OVER w AS running_total,
        | avg(o_totalprice) OVER (PARTITION BY o_custkey
        |   ORDER BY o_orderdate, o_orderkey
        |   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS moving_avg_3
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "q_semi_anti" ->
      """SELECT c_custkey, c_name, 'has_order' AS status FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT c_custkey, c_name, 'no_order' AS status FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "q_rollup_revenue" ->
      """SELECT n_name, c_mktsegment,
        | sum(o_totalprice) AS revenue, count(*) AS num_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY ROLLUP (n_name, c_mktsegment)""",
    "q_session_window" ->
      """WITH flagged AS (
        | SELECT user_id, ts, event_id, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |       OR ts >= lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_session
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        | SELECT user_id, ts, value,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        | FROM flagged)
        |SELECT user_id, min(ts) AS session_start,
        | max(ts) + INTERVAL 30 MINUTE AS session_end,
        | count(*) AS num_events, sum(value) AS total_value
        |FROM numbered GROUP BY user_id, session_seq""",
    "q_events_unpivot" ->
      Seq("click", "purchase", "error", "signup", "view").map(t =>
        s"""SELECT user_id, '$t' AS event_type,
           | count(*) FILTER (WHERE event_type = '$t') AS n_events
           |FROM events GROUP BY user_id""")
        .mkString(" UNION ALL "),
    "q_cube_revenue" ->
      """SELECT n_name, c_mktsegment,
        | sum(o_totalprice) AS revenue, count(*) AS num_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY CUBE (n_name, c_mktsegment)""",
    "q_order_gaps" ->
      """SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE) AS order_date,
        | date_diff('day',
        |  lag(CAST(o_orderdate AS DATE)) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey),
        |  CAST(o_orderdate AS DATE)) AS days_since_prev
        |FROM orders""",
    "q_set_ops" ->
      """WITH big AS (SELECT o_custkey AS c_custkey FROM orders
        |  GROUP BY o_custkey HAVING sum(o_totalprice) > 2500000.0),
        |seg AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
        |SELECT c_custkey, 'segment_and_big' AS tag
        | FROM (SELECT c_custkey FROM seg INTERSECT SELECT c_custkey FROM big) i
        |UNION ALL
        |SELECT c_custkey, 'segment_only' AS tag
        | FROM (SELECT c_custkey FROM seg EXCEPT SELECT c_custkey FROM big) e""",
    "q_cohort_ltv" ->
      """WITH cohorts AS (SELECT o_custkey,
        |  date_trunc('month', min(o_orderdate)) AS cohort_month
        | FROM orders GROUP BY o_custkey)
        |SELECT cohort_month,
        | date_diff('month', cohort_month,
        |   date_trunc('month', o_orderdate)) AS month_offset,
        | sum(o_totalprice) AS revenue,
        | count(DISTINCT o.o_custkey) AS active_customers
        |FROM orders o JOIN cohorts c ON o.o_custkey = c.o_custkey
        |GROUP BY cohort_month, month_offset""",
    "q_segment_quartiles" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal,
        | dense_rank() OVER (PARTITION BY c_mktsegment
        |   ORDER BY c_acctbal DESC) AS balance_rank,
        | ntile(4) OVER (PARTITION BY c_mktsegment
        |   ORDER BY c_acctbal DESC, c_custkey) AS quartile
        |FROM customer""",
    "q_brand_revenue" ->
      """SELECT p_brand, p_type,
        | sum(l_extendedprice * (1 - l_discount)) AS revenue,
        | sum(l_quantity) AS total_qty, count(*) AS num_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand, p_type""",
    "q_rolling_revenue" ->
      // revenue as exact integer (cents × integer discount-percent)
      // so the sliding RANGE-frame sum is order-independent; one
      // division at the end
      """WITH d AS (SELECT CAST(l_shipdate AS DATE) AS day,
        | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |   * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS c,
        | count(*) AS n FROM lineitem GROUP BY 1)
        |SELECT day, c / 10000.0 AS day_revenue,
        | CAST(sum(c) OVER w AS BIGINT) / 10000.0 AS rev_window,
        | CAST(sum(n) OVER w AS BIGINT) AS lines_window,
        | count(*) OVER w AS active_days
        |FROM d WINDOW w AS (ORDER BY day
        | RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)""",
    "q_purchase_streaks" ->
      // gaps-and-islands: month_index − row_number is constant
      // within a consecutive-month run on both engines
      """WITH months AS (SELECT DISTINCT o_custkey,
        |  year(o_orderdate) * 12 + (month(o_orderdate) - 1) AS m
        | FROM orders),
        |runs AS (SELECT o_custkey,
        |  m - row_number() OVER (PARTITION BY o_custkey ORDER BY m) AS grp
        | FROM months),
        |islands AS (SELECT o_custkey, grp, count(*) AS len
        | FROM runs GROUP BY 1, 2)
        |SELECT o_custkey, CAST(sum(len) AS BIGINT) AS n_active_months,
        | count(*) AS n_streaks, max(len) AS longest_streak
        |FROM islands GROUP BY 1""",
    "events_rolling_active_users" ->
      // exact sliding COUNT DISTINCT via bounded fan-out of the
      // deduplicated user-day relation to its 7 target days; the
      // day-0 marker yields DAU from the same collapse
      s"""WITH $stickinessCtes
        |SELECT target_day AS day, count(*) AS wau,
        | CAST(sum(active_today) AS BIGINT) AS dau,
        | round(CAST(sum(active_today) AS BIGINT) * 1.0 / count(*), 6)
        |  AS stickiness
        |FROM g GROUP BY 1""",
    "q_revenue_changepoint" ->
      // cusum kept in the scaled integer form prefix·nd − rn·total
      // (int128 / decimal(38,0)) so the peak compare is exact; both
      // engines convert the SAME integer to double at the end
      """WITH daily AS (SELECT CAST(l_shipdate AS DATE) AS day,
        | sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |   * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS c
        | FROM lineitem GROUP BY 1),
        |s AS (SELECT day, c,
        |  sum(c) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
        |   AND CURRENT ROW) AS prefix,
        |  row_number() OVER (ORDER BY day) AS rn,
        |  sum(c) OVER () AS total, count(*) OVER () AS nd FROM daily),
        |cu AS (SELECT day, c, nd,
        |  prefix * nd - rn * total AS cusum_scaled FROM s),
        |pk AS (SELECT *, max(abs(cusum_scaled)) OVER () AS peak FROM cu)
        |SELECT day, CAST(c AS DOUBLE) / 10000.0 AS day_revenue,
        | CAST(cusum_scaled AS DOUBLE)
        |  / (CAST(nd AS DOUBLE) * 10000.0) AS cusum,
        | abs(cusum_scaled) = peak AS is_changepoint
        |FROM pk""",
    "q_decile_lift" ->
      // plain ntile here; the Spark side reproduces ANSI ntile
      // arithmetically over its banded exact rank
      """WITH spend AS (SELECT o_custkey,
        |  sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS c
        | FROM orders GROUP BY 1),
        |d AS (SELECT o_custkey, c,
        |  ntile(10) OVER (ORDER BY c DESC, o_custkey) AS decile
        | FROM spend),
        |g AS (SELECT decile, count(*) AS n_customers,
        |  CAST(sum(c) AS BIGINT) AS dc FROM d GROUP BY 1)
        |SELECT CAST(decile AS BIGINT) AS decile, n_customers,
        | CAST(dc AS DOUBLE) / 100.0 AS revenue,
        | round(dc * 1.0 / CAST(sum(dc) OVER () AS BIGINT), 6)
        |  AS revenue_share,
        | round(CAST(sum(dc) OVER (ORDER BY decile
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   * 1.0 / CAST(sum(dc) OVER () AS BIGINT), 6) AS cum_share
        |FROM g""",
    "q_supplier_reliability" ->
      // the Wilson bound is a fixed closed form over the exact
      // (n_lines, n_late) integers — written with the identical
      // sub-expression shapes as the Spark side, so no rounding
      """WITH st AS (SELECT l_suppkey, count(*) AS n_lines,
        | CAST(sum(CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |    CAST(l_shipdate AS DATE)) > 90 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_late
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1)
        |SELECT s_suppkey, s_name, n_lines, n_late,
        | CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE) AS late_rate,
        | ((CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE)
        |    + 1.96 * 1.96 / (2.0 * CAST(n_lines AS DOUBLE)))
        |  - 1.96 * sqrt((CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE)
        |     * (1.0 - CAST(n_late AS DOUBLE) / CAST(n_lines AS DOUBLE))
        |     + 1.96 * 1.96 / (4.0 * CAST(n_lines AS DOUBLE)))
        |    / CAST(n_lines AS DOUBLE)))
        | / (1.0 + 1.96 * 1.96 / CAST(n_lines AS DOUBLE))
        |  AS late_rate_wilson_lb
        |FROM st JOIN supplier ON l_suppkey = s_suppkey""",
    "q_copurchase_pagerank" ->
      // the three power iterations unrolled as CTEs; every engine-
      // crossing expression is written identically (frac, teleport,
      // damped sum), final score rounded at 1e-9 vs ~1e-17 error
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ok AS (SELECT l_orderkey FROM b GROUP BY 1 HAVING count(*) <= 20),
        |g AS (SELECT b.* FROM b JOIN ok USING (l_orderkey)),
        |up AS (SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
        |  count(*) AS w FROM g x JOIN g y ON x.l_orderkey = y.l_orderkey
        |  AND x.l_partkey < y.l_partkey GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT part_a AS src, part_b AS dst, w FROM up
        |  UNION ALL SELECT part_b, part_a, w FROM up),
        |deg AS (SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM e GROUP BY 1),
        |n AS (SELECT count(*) AS nn FROM deg),
        |f AS (SELECT e.src, e.dst,
        |  CAST(e.w AS DOUBLE) / CAST(d.wdeg AS DOUBLE) AS frac
        | FROM e JOIN deg d ON d.src = e.src),
        |p0 AS (SELECT src AS id, 1.0 / nn AS pr FROM deg, n),
        |p1 AS (SELECT f.dst AS id,
        |  (1.0 - 0.85) / max(n.nn) + 0.85 * sum(p.pr * f.frac) AS pr
        | FROM f JOIN p0 p ON p.id = f.src, n GROUP BY f.dst),
        |p2 AS (SELECT f.dst AS id,
        |  (1.0 - 0.85) / max(n.nn) + 0.85 * sum(p.pr * f.frac) AS pr
        | FROM f JOIN p1 p ON p.id = f.src, n GROUP BY f.dst),
        |p3 AS (SELECT f.dst AS id,
        |  (1.0 - 0.85) / max(n.nn) + 0.85 * sum(p.pr * f.frac) AS pr
        | FROM f JOIN p2 p ON p.id = f.src, n GROUP BY f.dst)
        |SELECT id AS part_id, round(pr, 9) AS pagerank FROM p3""",
    "q_copurchase_triangles" ->
      // oriented a<b edges generate each triangle a<b<c exactly once
      // ((a,b)⋈(b,c) closed by (a,c)); wedges from the degree sums,
      // integer `//` halving (both even by construction); DuckDB
      // BIGINT sums CAST back from HUGEINT
      """WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ok AS (SELECT l_orderkey FROM b GROUP BY 1 HAVING count(*) <= 20),
        |g AS (SELECT b.* FROM b JOIN ok USING (l_orderkey)),
        |e AS (SELECT x.l_partkey AS a, y.l_partkey AS c
        |  FROM g x JOIN g y ON x.l_orderkey = y.l_orderkey
        |  AND x.l_partkey < y.l_partkey GROUP BY 1, 2
        |  HAVING count(*) >= 2),
        |tri AS (SELECT count(*) AS n_tri FROM e e1
        |  JOIN e e2 ON e2.a = e1.c
        |  JOIN e e3 ON e3.a = e1.a AND e3.c = e2.c),
        |deg AS (SELECT v, count(*) AS d FROM (
        |  SELECT a AS v FROM e UNION ALL SELECT c FROM e) GROUP BY 1)
        |SELECT count(*) AS n_nodes,
        | CAST(sum(d) // 2 AS BIGINT) AS n_edges,
        | (SELECT n_tri FROM tri) AS n_triangles,
        | CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS n_wedges,
        | CASE WHEN CAST(sum(d * (d - 1)) // 2 AS BIGINT) = 0 THEN NULL
        |  ELSE round(3.0 * (SELECT n_tri FROM tri)
        |   / CAST(CAST(sum(d * (d - 1)) // 2 AS BIGINT) AS DOUBLE), 9)
        | END AS global_clustering
        |FROM deg""",
    "q_basket_chi2" ->
      // 2×2 contingency per guarded pair; delta exact in BIGINT,
      // then ONE float expression in the same multiply order
      """WITH bb AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ok AS (SELECT l_orderkey FROM bb GROUP BY 1 HAVING count(*) <= 20),
        |g AS (SELECT bb.* FROM bb JOIN ok USING (l_orderkey)),
        |n AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM g),
        |po AS (SELECT l_partkey, count(*) AS n_orders_part FROM g GROUP BY 1),
        |pr AS (SELECT x.l_partkey AS part_a, y.l_partkey AS part_b,
        |  count(*) AS n_together
        | FROM g x JOIN g y ON x.l_orderkey = y.l_orderkey
        |  AND x.l_partkey < y.l_partkey GROUP BY 1, 2
        | HAVING count(*) >= 2),
        |j AS (SELECT part_a, part_b, n_together,
        |  pa.n_orders_part AS n_a, pb.n_orders_part AS n_b, n_orders
        | FROM pr JOIN po pa ON pa.l_partkey = pr.part_a
        |  JOIN po pb ON pb.l_partkey = pr.part_b, n)
        |SELECT part_a, part_b, n_together, n_a, n_b,
        | CASE WHEN CAST(n_a AS DOUBLE) * CAST((n_orders - n_a - n_b
        |     + n_together) + n_b - n_together AS DOUBLE)
        |    * CAST(n_b AS DOUBLE) * CAST(n_orders - n_b AS DOUBLE) = 0.0
        |  THEN NULL
        |  ELSE round(CAST(n_orders AS DOUBLE)
        |   * CAST(n_together * (n_orders - n_a - n_b + n_together)
        |      - (n_a - n_together) * (n_b - n_together) AS DOUBLE)
        |   * CAST(n_together * (n_orders - n_a - n_b + n_together)
        |      - (n_a - n_together) * (n_b - n_together) AS DOUBLE)
        |   / (CAST(n_a AS DOUBLE) * CAST(n_orders - n_a AS DOUBLE)
        |    * CAST(n_b AS DOUBLE) * CAST(n_orders - n_b AS DOUBLE)), 6)
        | END AS chi2,
        | n_together * n_orders > n_a * n_b AS positive
        |FROM j""",
    "q_revenue_autocorr" ->
      // Pearson r per calendar lag from exact integer sum identities
      // (HUGEINT — cents² crosses 2^63); identical expression shape
      // both engines: ints → double casts → one quotient → round
      s"""WITH $dailyRevenueCte,
        |d AS (SELECT date_diff('day', DATE '1970-01-01', day) AS ed, x
        | FROM daily),
        |l AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 8)),
        |p AS (SELECT l.lag, a.x AS a, b.x AS b
        | FROM d a CROSS JOIN l JOIN d b ON b.ed = a.ed + l.lag),
        |s AS (SELECT lag, count(*) AS n_pairs, sum(a) AS sa, sum(b) AS sb,
        | sum(a * b) AS sab, sum(a * a) AS saa, sum(b * b) AS sbb
        | FROM p GROUP BY 1)
        |SELECT lag, n_pairs,
        | CASE WHEN CAST(n_pairs * saa - sa * sa AS DOUBLE) <= 0.0
        |   OR CAST(n_pairs * sbb - sb * sb AS DOUBLE) <= 0.0 THEN NULL
        |  ELSE round(CAST(n_pairs * sab - sa * sb AS DOUBLE)
        |   / sqrt(CAST(n_pairs * saa - sa * sa AS DOUBLE)
        |        * CAST(n_pairs * sbb - sb * sb AS DOUBLE)), 9)
        | END AS autocorr
        |FROM s""",
    "q_forecast_backtest" ->
      // BOTH recursion chains composed verbatim (the holt and
      // holt-winters oracles' CTEs side by side over one monthly
      // series), errors on the ROUNDED published columns
      s"""WITH RECURSIVE $monthlyRevenueCte,
        |s AS (SELECT mth, c, CAST(c AS DOUBLE) / 10000.0 AS x,
        |  row_number() OVER (ORDER BY mth) AS i FROM m),
        |rh AS (
        | SELECT i, x, x AS lvl, CAST(0.0 AS DOUBLE) AS tr,
        |  CAST(NULL AS DOUBLE) AS fitted FROM s WHERE i = 1
        | UNION ALL
        | SELECT s.i, s.x,
        |  0.3 * s.x + (1 - 0.3) * (rh.lvl + rh.tr),
        |  0.1 * ((0.3 * s.x + (1 - 0.3) * (rh.lvl + rh.tr)) - rh.lvl)
        |   + (1 - 0.1) * rh.tr,
        |  rh.lvl + rh.tr
        | FROM rh JOIN s ON s.i = rh.i + 1),
        |$holtWintersInitCtes,
        |rw AS (
        | SELECT CAST(12 AS BIGINT) AS i, CAST(NULL AS DOUBLE) AS x,
        |  (SELECT m1 FROM init) AS lvl,
        |  (SELECT (m2 - m1) / 12.0 FROM init) AS tr,
        |  CAST(NULL AS DOUBLE) AS fitted,
        |  (SELECT sl FROM seas0) AS sl
        | UNION ALL
        | SELECT s.i, s.x,
        |  0.3 * (s.x - rw.sl[1]) + (1 - 0.3) * (rw.lvl + rw.tr),
        |  0.1 * ((0.3 * (s.x - rw.sl[1]) + (1 - 0.3) * (rw.lvl + rw.tr))
        |    - rw.lvl) + (1 - 0.1) * rw.tr,
        |  rw.lvl + rw.tr + rw.sl[1],
        |  rw.sl[2:12] || [0.2 * (s.x - (0.3 * (s.x - rw.sl[1])
        |    + (1 - 0.3) * (rw.lvl + rw.tr))) + (1 - 0.2) * rw.sl[1]]
        | FROM rw JOIN s ON s.i = rw.i + 1),
        |u AS (SELECT 'holt' AS model, round(x, 6) AS revenue,
        |  round(fitted, 6) AS fitted FROM rh
        |  WHERE fitted IS NOT NULL AND i > 12
        | UNION ALL SELECT 'holt_winters', round(x, 4), round(fitted, 4)
        | FROM rw WHERE i > 12)
        |SELECT model, count(*) AS n_months,
        | round(avg(abs(revenue - fitted)), 2) AS mae,
        | round(avg(abs(revenue - fitted) / revenue), 6) AS mape
        |FROM u GROUP BY model""",
    "q_holtwinters_forecast" ->
      // the triple-smoothing recursion with the rotating seasonal
      // LIST as recursive state: sl[1] is the current month's index,
      // consumed from the head, re-appended updated at the tail; the
      // l2 expression repeats inline in t2/s2/tail (a recursive CTE
      // step cannot name intermediates) and every (1 - k) stays
      // unevaluated — the holtForecast double-identity convention
      s"""WITH RECURSIVE $monthlyRevenueCte,
        |s AS (SELECT mth, c, CAST(c AS DOUBLE) / 10000.0 AS x,
        |  row_number() OVER (ORDER BY mth) AS i FROM m),
        |$holtWintersInitCtes,
        |r AS (
        | SELECT CAST(12 AS BIGINT) AS i, CAST(NULL AS DATE) AS mth,
        |  CAST(NULL AS DOUBLE) AS x,
        |  (SELECT m1 FROM init) AS lvl,
        |  (SELECT (m2 - m1) / 12.0 FROM init) AS tr,
        |  CAST(NULL AS DOUBLE) AS snew, CAST(NULL AS DOUBLE) AS fitted,
        |  (SELECT sl FROM seas0) AS sl
        | UNION ALL
        | SELECT s.i, s.mth, s.x,
        |  0.3 * (s.x - r.sl[1]) + (1 - 0.3) * (r.lvl + r.tr),
        |  0.1 * ((0.3 * (s.x - r.sl[1]) + (1 - 0.3) * (r.lvl + r.tr))
        |    - r.lvl) + (1 - 0.1) * r.tr,
        |  0.2 * (s.x - (0.3 * (s.x - r.sl[1])
        |    + (1 - 0.3) * (r.lvl + r.tr))) + (1 - 0.2) * r.sl[1],
        |  r.lvl + r.tr + r.sl[1],
        |  r.sl[2:12] || [0.2 * (s.x - (0.3 * (s.x - r.sl[1])
        |    + (1 - 0.3) * (r.lvl + r.tr))) + (1 - 0.2) * r.sl[1]]
        | FROM r JOIN s ON s.i = r.i + 1)
        |SELECT mth AS month, round(x, 4) AS revenue,
        | round(lvl, 4) AS level, round(tr, 4) AS trend,
        | round(snew, 4) AS seasonal, round(fitted, 4) AS fitted
        |FROM r WHERE i > 12""",
    "q_holt_forecast" ->
      // the identical recursion as a recursive CTE; (1 - 0.3) left
      // unevaluated — the literal 0.7 is a DIFFERENT double
      s"""WITH RECURSIVE $monthlyRevenueCte,
        |s AS (SELECT mth, CAST(c AS DOUBLE) / 10000.0 AS x,
        |  row_number() OVER (ORDER BY mth) AS i FROM m),
        |r AS (
        | SELECT i, mth, x, x AS lvl, CAST(0.0 AS DOUBLE) AS tr,
        |  CAST(NULL AS DOUBLE) AS fitted FROM s WHERE i = 1
        | UNION ALL
        | SELECT s.i, s.mth, s.x,
        |  0.3 * s.x + (1 - 0.3) * (r.lvl + r.tr),
        |  0.1 * ((0.3 * s.x + (1 - 0.3) * (r.lvl + r.tr)) - r.lvl)
        |   + (1 - 0.1) * r.tr,
        |  r.lvl + r.tr
        | FROM r JOIN s ON s.i = r.i + 1)
        |SELECT mth AS month, round(x, 6) AS revenue,
        | round(lvl, 6) AS level, round(tr, 6) AS trend,
        | round(fitted, 6) AS fitted
        |FROM r""",
    "stream_freshness" ->
      // per-feed last-seen day + count, lag vs the freshest sibling
      """WITH f AS (SELECT event_type AS feed, CAST(max(ts) AS DATE)
        |  AS last_day, count(*) AS n_rows FROM events GROUP BY 1),
        |g AS (SELECT max(last_day) AS global_day FROM f)
        |SELECT feed, last_day,
        | CAST(date_diff('day', last_day, global_day) AS BIGINT)
        |  AS days_behind,
        | n_rows, date_diff('day', last_day, global_day) > 2 AS stale
        |FROM f, g""",
    "q_survival_curve" ->
      // KM product via DuckDB's windowed product() in ascending-t
      // order — the same multiply order as the Spark-side fold;
      // censoring reduces n_risk, never the product
      """WITH per AS (SELECT o_custkey,
        |  min(CAST(o_orderdate AS DATE)) AS f,
        |  max(CAST(o_orderdate AS DATE)) AS l
        | FROM orders GROUP BY 1),
        |e AS (SELECT max(l) AS end_day FROM per),
        |g AS (SELECT date_diff('day', f, l) AS t,
        |  CAST(sum(CASE WHEN date_diff('day', l, end_day) > 90
        |    THEN 1 ELSE 0 END) AS BIGINT) AS d,
        |  CAST(sum(CASE WHEN date_diff('day', l, end_day) > 90
        |    THEN 0 ELSE 1 END) AS BIGINT) AS c
        | FROM per, e GROUP BY 1),
        |tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n FROM g),
        |r AS (SELECT t, d, c,
        |  n - CAST(coalesce(sum(d + c) OVER (ORDER BY t
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |   AS BIGINT) AS n_risk
        | FROM g, tot)
        |SELECT t AS t_days, n_risk, d AS n_events, c AS n_censored,
        | round(product(1.0 - CAST(d AS DOUBLE) / CAST(n_risk AS DOUBLE))
        |   OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
        |     AND CURRENT ROW), 9) AS survival
        |FROM r""",
    "emb_pair_histogram" ->
      // DOUBLE[] casts → bit-identical cosines (the bruteforce-tier
      // precedent), so the floor-bin boundary is safe cross-engine
      """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        | FROM embeddings WHERE vec_id % 10 = 0),
        |p AS (SELECT CAST(floor(list_cosine_similarity(a.e, b.e) * 20)
        |  AS BIGINT) AS bin
        | FROM s a JOIN s b ON a.vec_id < b.vec_id),
        |h AS (SELECT bin, count(*) AS n_pairs FROM p GROUP BY 1),
        |t AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM h)
        |SELECT round(CAST(bin AS DOUBLE) / 20, 6) AS bin_lo, n_pairs,
        | round(CAST(n_pairs AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
        |FROM h, t""",
    "emb_hubness" ->
      // same DOUBLE[] cosine + id tie-break as the bruteforce tier;
      // in-degree/reciprocity counted over the exact top-10 graph of
      // the % 5 sample, zeros kept via the left joins
      """WITH s AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        | FROM embeddings WHERE vec_id % 5 = 0),
        |tk AS (SELECT query_id, neighbor_id FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  row_number() OVER (PARTITION BY q.vec_id ORDER BY
        |   list_cosine_similarity(q.e, c.e) DESC, c.vec_id) AS rn
        | FROM s q JOIN s c ON c.vec_id != q.vec_id) x WHERE rn <= 10),
        |ind AS (SELECT neighbor_id AS vec_id,
        |  CAST(count(*) AS BIGINT) AS in_degree FROM tk GROUP BY 1),
        |rec AS (SELECT a.query_id AS vec_id,
        |  CAST(count(*) AS BIGINT) AS reciprocal
        | FROM tk a JOIN tk b ON a.query_id = b.neighbor_id
        |  AND a.neighbor_id = b.query_id GROUP BY 1)
        |SELECT s.vec_id, coalesce(ind.in_degree, 0) AS in_degree,
        | coalesce(rec.reciprocal, 0) AS reciprocal
        |FROM s LEFT JOIN ind ON s.vec_id = ind.vec_id
        |LEFT JOIN rec ON s.vec_id = rec.vec_id""",
    "q_percentiles" ->
      """SELECT c_mktsegment,
        | quantile_cont(o_totalprice, 0.5) AS p50,
        | quantile_cont(o_totalprice, 0.9) AS p90,
        | quantile_cont(o_totalprice, 0.99) AS p99
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""",
    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type,
        | count(*) AS num_events, sum(value) AS total_value,
        | avg(value) AS avg_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type""",
    "q_events_sessionize" ->
      s"""WITH flagged AS (
        | SELECT user_id, ts, event_id, value,
        |  $newSessionSql),
        |numbered AS (
        | SELECT user_id, ts, value,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        | FROM flagged)
        |SELECT user_id, session_seq, min(ts) AS session_start,
        | max(ts) AS session_end, count(*) AS num_events, sum(value) AS total_value
        |FROM numbered GROUP BY user_id, session_seq""",
    "events_session_cooccur" ->
      // the shared lag+cumsum session CTE, then distinct
      // session×type sets self-joined (type alphabet bounds the
      // fan-out); lift = n_together·N / (n_a·n_b) on exact longs
      s"""WITH flagged AS (
        | SELECT user_id, ts, event_id, event_type,
        |  $newSessionSql),
        |numbered AS (
        | SELECT user_id, event_type,
        |  CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        | FROM flagged),
        |st AS (SELECT DISTINCT user_id, session_seq, event_type FROM numbered),
        |ns AS (SELECT count(*) AS n_sessions FROM
        |  (SELECT DISTINCT user_id, session_seq FROM st)),
        |pt AS (SELECT event_type, count(*) AS n FROM st GROUP BY 1),
        |pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS n_together
        | FROM st a JOIN st b ON a.user_id = b.user_id
        |  AND a.session_seq = b.session_seq AND a.event_type < b.event_type
        | GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT type_a, type_b, n_together, pa.n AS n_a, pb.n AS n_b,
        | round(CAST(n_together * n_sessions AS DOUBLE)
        |  / CAST(pa.n * pb.n AS DOUBLE), 6) AS lift
        |FROM pr JOIN pt pa ON pa.event_type = pr.type_a
        | JOIN pt pb ON pb.event_type = pr.type_b, ns""",
    "q_events_funnel_windowed" ->
      """WITH s AS (SELECT user_id, min(ts) AS sts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.ts) AS cts
        |  FROM events e JOIN s ON s.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s.sts
        |   AND e.ts <= s.sts + INTERVAL 60 MINUTE GROUP BY 1),
        |p AS (SELECT e.user_id
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.cts
        |   AND e.ts <= c.cts + INTERVAL 60 MINUTE GROUP BY 1)
        |SELECT (SELECT count(*) FROM s) AS n_signup,
        | (SELECT count(*) FROM c) AS n_click_within,
        | (SELECT count(*) FROM p) AS n_purchase_within""",
    "events_deseasonalized_anomaly" ->
      // LEAVE-ONE-OUT slot stats from exact integer sums; mean/
      // variance/z are the identical fixed expression in both
      // engines — bit-exact, no rounding. dayofweek: DuckDB
      // Sunday=0 → +1 to match Spark.
      s"""WITH $hourSlotCtes,
        |j AS (SELECT f.hb, CAST(f.n AS BIGINT) AS n_events, f.dow,
        |  f.hour_of_day,
        |  CAST(s1 - n AS DOUBLE) / CAST(cnt - 1 AS DOUBLE) AS m,
        |  (CAST(s2 - n * n AS DOUBLE) - CAST(s1 - n AS DOUBLE)
        |    * CAST(s1 - n AS DOUBLE) / CAST(cnt - 1 AS DOUBLE))
        |   / CAST(cnt - 1 AS DOUBLE) AS v
        | FROM f JOIN p USING (dow, hour_of_day) WHERE cnt > 1)
        |SELECT hb AS hour_bucket, n_events, dow, hour_of_day,
        | m AS profile_mean, (n_events - m) / sqrt(v) AS z
        |FROM j WHERE v > 0 AND abs((n_events - m) / sqrt(v)) > 3.0""",
    "stream_deseasonalized" ->
      // batch degenerate of the streaming gate: observed (unspined)
      // hours scored PLAIN (not leave-one-out) against the
      // spine-filled slot profile — the profile is external to the
      // scorer, so no self-exclusion; 1.5σ because the batch run
      // trains and scores on the same log (see the gate's scaladoc)
      s"""WITH $hourSlotCtes,
        |o AS (SELECT hb, n, CAST(dayofweek(hb) + 1 AS BIGINT) AS dow,
        |  CAST(hour(hb) AS BIGINT) AS hour_of_day FROM h),
        |j AS (SELECT o.hb, CAST(o.n AS BIGINT) AS n_events, o.dow,
        |  o.hour_of_day,
        |  CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE) AS m,
        |  (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)
        |    / CAST(cnt AS DOUBLE)) / CAST(cnt AS DOUBLE) AS v
        | FROM o JOIN p USING (dow, hour_of_day))
        |SELECT hb AS hour_bucket, n_events, dow, hour_of_day,
        | m AS profile_mean, (n_events - m) / sqrt(v) AS z
        |FROM j WHERE v > 0 AND abs((n_events - m) / sqrt(v)) > 1.5""",
    "events_cohort_retention" ->
      // offsets exact: both dates are week starts, day gap always a
      // multiple of seven; retention = one division of exact longs
      """WITH w AS (SELECT DISTINCT user_id,
        |  CAST(date_trunc('week', ts) AS DATE) AS week FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM w GROUP BY 1),
        |s AS (SELECT cohort_week, count(*) AS cohort_size FROM c GROUP BY 1),
        |a AS (SELECT c.cohort_week,
        |  CAST(date_diff('day', c.cohort_week, w.week) // 7 AS BIGINT)
        |   AS week_offset,
        |  count(DISTINCT w.user_id) AS n_active
        | FROM w JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT a.cohort_week, a.week_offset, a.n_active, s.cohort_size,
        | CAST(a.n_active AS DOUBLE) / CAST(s.cohort_size AS DOUBLE)
        |  AS retention
        |FROM a JOIN s USING (cohort_week)""",
    "events_bot_flag" ->
      // tightest 20-event span per user, exact integer microseconds
      """WITH g AS (SELECT user_id, epoch_us(ts) AS us,
        | lag(epoch_us(ts), 19) OVER
        |  (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |FROM events)
        |SELECT user_id, count(*) AS n_events,
        | min(us - prev) AS min_burst_span_us,
        | coalesce(min(us - prev) <= 60000000, false) AS is_bot
        |FROM g GROUP BY user_id""",
    "events_session_entry_exit" ->
      // the sessionize CTE chain, endpoints picked by row_number on
      // the (ts, event_id) total order — mirrors min_by/max_by
      s"""WITH flagged AS (
        | SELECT user_id, ts, event_id, event_type,
        |  $newSessionSql),
        |numbered AS (
        | SELECT user_id, event_type, ts, event_id,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        | FROM flagged),
        |r AS (
        | SELECT user_id, session_seq, event_type,
        |  row_number() OVER (PARTITION BY user_id, session_seq
        |    ORDER BY ts, event_id) AS ra,
        |  row_number() OVER (PARTITION BY user_id, session_seq
        |    ORDER BY ts DESC, event_id DESC) AS rd,
        |  count(*) OVER (PARTITION BY user_id, session_seq) AS n
        | FROM numbered),
        |sess AS (
        | SELECT user_id, session_seq,
        |  max(CASE WHEN ra = 1 THEN event_type END) AS entry_type,
        |  max(CASE WHEN rd = 1 THEN event_type END) AS exit_type,
        |  max(n) AS n FROM r GROUP BY 1, 2)
        |SELECT entry_type, exit_type, count(*) AS n_sessions,
        | CAST(sum(n) AS BIGINT) AS total_events
        |FROM sess GROUP BY 1, 2""",
    "q_events_pivot" ->
      """SELECT user_id,
        | count(*) FILTER (WHERE event_type = 'click') AS click,
        | count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
        | count(*) FILTER (WHERE event_type = 'error') AS error,
        | count(*) FILTER (WHERE event_type = 'signup') AS signup,
        | count(*) FILTER (WHERE event_type = 'view') AS view
        |FROM events GROUP BY user_id""",
    "q_events_json" ->
      """SELECT k % 10 AS k_bucket, count(*) AS num_events,
        | avg(value) AS avg_value, max(k) AS max_k
        |FROM (SELECT CAST(props->>'$.k' AS BIGINT) AS k, value FROM events) e
        |WHERE k IS NOT NULL GROUP BY k % 10""",
    "q_events_retention" ->
      """WITH uh AS (SELECT DISTINCT user_id, date_trunc('hour', ts) AS h FROM events)
        |SELECT a.h AS hour, count(*) AS retained_users
        |FROM uh a JOIN uh b ON a.user_id = b.user_id
        | AND b.h = a.h + INTERVAL 1 HOUR
        |GROUP BY a.h""",
    "q_asof_join" ->
      """SELECT p.event_id, p.user_id, p.ts, p.value, c.value AS asof_value
        |FROM (SELECT event_id, user_id, ts, value FROM events
        |      WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
        |      WHERE event_type = 'click') c
        |ON p.user_id = c.user_id AND p.ts >= c.ts""",
    "text_stats" ->
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
          |FROM s"""),
    "text_readability" ->
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
          |FROM c"""),
    "text_token_count" ->
      (toksCte +
        """ SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_ws_tokens,
          | CAST(len(regexp_extract_all(text, '\w+|[^\w\s]')) AS BIGINT) AS n_bpe_tokens
          |FROM t"""),
    "text_tokenizer_fertility" ->
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
        |FROM c GROUP BY 1, 2""",
    "text_lang_id" ->
      s"""$toksCte, $langHitsCte
        |SELECT doc_id, hits_en, hits_fr, hits_es, hits_de, hits_zh,
        | $predictedLangSql
        |FROM h""",
    "text_lang_confusion" ->
      s"""$toksCte, $langHitsCte,
        |p AS (SELECT doc_id,
        | $predictedLangSql
        |FROM h)
        |SELECT d.lang AS labeled, p.predicted_lang, count(*) AS n_docs
        |FROM p JOIN documents d USING (doc_id) GROUP BY 1, 2""",
    "text_fingerprint" ->
      """SELECT doc_id,
        | md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fingerprint_md5
        |FROM documents""",
    "text_cms_sketch" ->
      s"WITH $cmsCtes SELECT r, bucket, cnt FROM sk",
    "text_cms_token_freq" ->
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
        |GROUP BY 1, 2""",
    "text_pii_scrub" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(text, 'https?://[^\s]+')) AS BIGINT) AS n_urls,
        | CAST(len(regexp_extract_all(text, '\+?[0-9][0-9()\- ]{7,}[0-9]')) AS BIGINT) AS n_phones,
        | md5(regexp_replace(regexp_replace(regexp_replace(text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |   'https?://[^\s]+', '<URL>', 'g'),
        |   '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g')) AS scrubbed_md5
        |FROM documents""",
    "text_quality_filter" ->
      (toksCte +
        s""" SELECT * FROM (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
          | ${qualityScoreSql}
          |FROM t) q
          |WHERE n_tokens >= 20 AND n_tokens <= 100000 AND quality_score >= 0.2"""),
    "text_top_bigrams" ->
      (toksCte +
        """ SELECT bigram, count(*) AS n_occurrences
          |FROM (SELECT unnest(CASE WHEN len(toks) < 2 THEN CAST([] AS VARCHAR[])
          |  ELSE list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])
          |  END) AS bigram FROM t) b
          |GROUP BY bigram ORDER BY n_occurrences DESC, bigram LIMIT 100"""),
    "docs_quality_dup_profile" ->
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
          |GROUP BY q_bucket"""),
    "events_attribution" ->
      """WITH ev AS (SELECT event_id, ts, user_id, event_type FROM events
        |  WHERE event_type IN ('click', 'purchase')),
        |a AS (SELECT *, max(CASE WHEN event_type = 'click' THEN ts END)
        |  OVER (PARTITION BY user_id ORDER BY ts, event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
        | FROM ev)
        |SELECT CAST(ts AS DATE) AS day,
        | CAST(count(*) AS BIGINT) AS n_purchases,
        | CAST(sum(CASE WHEN last_click_ts IS NOT NULL
        |   AND last_click_ts >= ts - INTERVAL 1 HOUR THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_attributed,
        | round(CAST(sum(CASE WHEN last_click_ts IS NOT NULL
        |   AND last_click_ts >= ts - INTERVAL 1 HOUR THEN 1 ELSE 0 END)
        |  AS BIGINT) / CAST(count(*) AS BIGINT), 6) AS attribution_rate
        |FROM a WHERE event_type = 'purchase'
        |GROUP BY CAST(ts AS DATE)""",
    "text_pmi_bigrams" ->
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
          |ORDER BY pmi DESC, b.bigram LIMIT 100"""),
    "q_events_anomaly" ->
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS hour,
        |  count(*) AS n_events FROM events GROUP BY date_trunc('hour', ts)),
        |g AS (SELECT avg(n_events) AS mean_events,
        |  stddev_samp(n_events) AS sd_events FROM hourly)
        |SELECT hour, n_events,
        | (n_events - mean_events) / sd_events AS z_score
        |FROM hourly, g
        |WHERE abs((n_events - mean_events) / sd_events) > 2.0""",
    "events_user_lifespan" ->
      """WITH u AS (SELECT user_id,
        |  date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS ld,
        |  count(DISTINCT CAST(ts AS DATE)) AS ad,
        |  count(*) AS n
        | FROM events GROUP BY 1)
        |SELECT count(*) AS n_users,
        | quantile_cont(ld, 0.5) AS p50_lifespan_days,
        | quantile_cont(ld, 0.9) AS p90_lifespan_days,
        | quantile_cont(ld, 0.99) AS p99_lifespan_days,
        | round(CAST(sum(ad) AS DOUBLE) / count(*), 6) AS mean_active_days,
        | round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS mean_events_per_user,
        | round(CAST(sum(CASE WHEN ld = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |  / count(*), 6) AS single_day_frac
        |FROM u""",
    "stream_dq_profile" ->
      // calibration form (r16): exact per-column anchors + DuckDB's
      // own approx_count_distinct within the same integer tolerance
      s"""$dqCalibrationHead
        | SELECT 'user_id' AS col_name, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_nulls,
        |  count(DISTINCT user_id) AS n_distinct,
        |  approx_count_distinct(user_id) AS apx FROM events
        | UNION ALL SELECT 'event_type', count(*),
        |  CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT event_type),
        |  approx_count_distinct(event_type) FROM events
        | UNION ALL SELECT 'value', count(*),
        |  CAST(sum(CASE WHEN value IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT value),
        |  approx_count_distinct(value) FROM events) p""",
    "stream_sliding_actives" ->
      // calibration form (r16): the 7d/1d sliding windows replayed
      // by day fan-out (slide aligns to the epoch day grid), exact
      // per-window anchors + DuckDB's own windowed
      // approx_count_distinct within the same integer tolerance
      """WITH f AS (SELECT e.user_id,
        |  CAST(CAST(e.ts AS DATE) - CAST(g.k AS INTEGER) AS TIMESTAMP)
        |   AS window_start
        | FROM events e,
        |  LATERAL (SELECT unnest(generate_series(0, 6)) AS k) g)
        |SELECT window_start,
        | window_start + INTERVAL 7 DAY AS window_end,
        | count(DISTINCT user_id) AS active_users,
        | count(*) AS n_events,
        | abs(approx_count_distinct(user_id) - count(DISTINCT user_id))
        |  <= greatest(2, (count(DISTINCT user_id) * 5) // 100)
        |  AS users_within_tol
        |FROM f GROUP BY 1""",
    "events_user_lifespan_approx" ->
      // calibration form (r16): exact rollup anchors + DuckDB's OWN
      // approx_quantile scored by the tie-safe rank-containment rule
      // against the same exact lifespan distribution
      """WITH u AS (SELECT user_id,
        |  date_diff('day', CAST(min(ts) AS DATE), CAST(max(ts) AS DATE)) AS ld,
        |  count(DISTINCT CAST(ts AS DATE)) AS ad,
        |  count(*) AS n
        | FROM events GROUP BY 1),
        |apx AS (SELECT
        |  CAST(approx_quantile(ld, 0.5) AS DOUBLE) AS p50,
        |  CAST(approx_quantile(ld, 0.9) AS DOUBLE) AS p90,
        |  CAST(approx_quantile(ld, 0.99) AS DOUBLE) AS p99 FROM u)
        |SELECT count(*) AS n_users,
        | round(CAST(sum(ad) AS DOUBLE) / count(*), 6) AS mean_active_days,
        | round(CAST(sum(n) AS DOUBLE) / count(*), 6) AS mean_events_per_user,
        | round(CAST(sum(CASE WHEN ld = 0 THEN 1 ELSE 0 END) AS DOUBLE)
        |  / count(*), 6) AS single_day_frac,
        | (sum(CASE WHEN ld < apx.p50 THEN 1 ELSE 0 END) * 1.0 / count(*)
        |   <= 0.52 AND
        |  sum(CASE WHEN ld <= apx.p50 THEN 1 ELSE 0 END) * 1.0 / count(*)
        |   >= 0.48) AS p50_within_tol,
        | (sum(CASE WHEN ld < apx.p90 THEN 1 ELSE 0 END) * 1.0 / count(*)
        |   <= 0.92 AND
        |  sum(CASE WHEN ld <= apx.p90 THEN 1 ELSE 0 END) * 1.0 / count(*)
        |   >= 0.88) AS p90_within_tol,
        | (sum(CASE WHEN ld < apx.p99 THEN 1 ELSE 0 END) * 1.0 / count(*)
        |   <= 1.01 AND
        |  sum(CASE WHEN ld <= apx.p99 THEN 1 ELSE 0 END) * 1.0 / count(*)
        |   >= 0.97) AS p99_within_tol
        |FROM u, apx GROUP BY apx.p50, apx.p90, apx.p99""",
    "events_inter_event_gaps" ->
      """WITH g AS (SELECT epoch_us(ts - lag(ts) OVER (PARTITION BY user_id
        |   ORDER BY ts, event_id)) // 1000000 AS gap_s
        | FROM events)
        |SELECT count(*) AS n_gaps,
        | quantile_cont(gap_s, 0.5) AS p50_s,
        | quantile_cont(gap_s, 0.9) AS p90_s,
        | quantile_cont(gap_s, 0.99) AS p99_s
        |FROM g WHERE gap_s IS NOT NULL""",
    "q_cart_abandonment" ->
      s"""WITH $sessionSeqCtes,
        |sess AS (SELECT user_id, session_seq, CAST(min(ts) AS DATE) AS day,
        |  max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicked,
        |  max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchased
        | FROM numbered GROUP BY 1, 2)
        |SELECT day, count(*) AS n_click_sessions,
        | CAST(sum(1 - purchased) AS BIGINT) AS n_abandoned,
        | round(sum(1 - purchased) * 1.0 / count(*), 6) AS abandonment_rate
        |FROM sess WHERE clicked = 1 GROUP BY 1""",
    "events_dow_hour_profile" ->
      // DuckDB dayofweek: Sunday=0; Spark: Sunday=1 → +1. Calendar
      // spine: zero-event hours count in the slot denominator
      s"""WITH $hourSpineCtes,
        |f AS (SELECT spine.hb, coalesce(h.n, 0) AS n
        |  FROM spine LEFT JOIN h USING (hb))
        |SELECT CAST(dayofweek(hb) + 1 AS BIGINT) AS dow,
        | CAST(hour(hb) AS BIGINT) AS hour_of_day,
        | CAST(sum(n) AS BIGINT) AS n_events, count(*) AS n_slots,
        | round(avg(n), 6) AS avg_events
        |FROM f GROUP BY 1, 2""",
    "q_conversion_latency" ->
      """WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts
        |  FROM events e JOIN s USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s.signup_ts GROUP BY 1),
        |l AS (SELECT epoch_us(purchase_ts - signup_ts) // 60000000
        |   AS latency_min FROM s JOIN p USING (user_id))
        |SELECT count(*) AS n_converted,
        | quantile_cont(latency_min, 0.5) AS p50_min,
        | quantile_cont(latency_min, 0.9) AS p90_min,
        | quantile_cont(latency_min, 0.99) AS p99_min
        |FROM l""",
    "events_common_paths" ->
      s"""WITH $sessionSeqCtes,
        |ranked AS (SELECT *, row_number() OVER (PARTITION BY user_id,
        |  session_seq ORDER BY ts, event_id) AS step FROM numbered),
        |paths AS (SELECT user_id, session_seq,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        | FROM ranked WHERE step <= 8 GROUP BY 1, 2)
        |SELECT path, count(*) AS n_sessions FROM paths
        |GROUP BY 1 HAVING count(*) >= 5""",
    "q_mad_outliers" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS hour,
        |  count(*) AS n_events FROM events GROUP BY 1, 2),
        |m AS (SELECT event_type, median(n_events) AS med
        |  FROM hourly GROUP BY 1),
        |dev AS (SELECT h.event_type, h.hour, h.n_events, m.med,
        |  abs(h.n_events - m.med) AS abs_dev
        | FROM hourly h JOIN m USING (event_type)),
        |mad AS (SELECT event_type, median(abs_dev) AS mad
        |  FROM dev GROUP BY 1)
        |SELECT d.event_type, d.hour, d.n_events, d.med, mad.mad
        |FROM dev d JOIN mad USING (event_type)
        |WHERE mad.mad > 0 AND d.abs_dev > 3.0 * mad.mad""",
    "ann_range_search" ->
      s"""${queryPairsSql()}
        | AND list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |   CAST(c.embedding AS DOUBLE[])) >= 0.2""",
    "text_repetition" ->
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
          |FROM b"""),
    "text_repetition_profile" ->
      // replays the lined-corpus synth via the shared CTE prefix,
      // then computes every Gopher counter from exact integer
      // counts - single divisions, bit-replayable
      s"WITH $linedCtes, $gopherProfileCtes SELECT * FROM rep_profile",
    "text_dup_ngram_mass" ->
      // same lined-corpus replay; the quadratic textbook
      // definition the fused kernel must reproduce exactly
      s"WITH $linedCtes, $dupMassCtes SELECT * FROM dng",
    "text_compression_signal" ->
      // calibration form (r17): zlib has no DuckDB twin, so the
      // oracle replays the EXACT anchors (the shared lined-corpus
      // synth's final text length) and asserts the two claims as
      // literals — each engine scores its OWN deflate kernel
      // against the same fixture structure, the sketch-calibration
      // epistemics (docs/ORACLE_NOTES.md r17)
      (s"WITH $linedCtes SELECT x.doc_id, d.source, " +
        "CAST(length(x.text) AS BIGINT) AS n_chars_text, " +
        "TRUE AS ratio_format_band, TRUE AS copy_compresses " +
        "FROM txt x JOIN documents d USING (doc_id)"),
    "docs_dup_ngram_corpus" ->
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
          |GROUP BY 1"""),
    "docs_dup_ngram_apply" -> dupNgramApplySql,
    // the intake gate computes the SAME relation by definition (the
    // store probe reproduces the coverage chain exactly), so the
    // batch gate's oracle is this key's oracle verbatim
    "stream_dup_ngram_gate" -> dupNgramApplySql,
    "docs_dup_spans" ->
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
          |FROM sp JOIN t USING (doc_id) JOIN tc USING (doc_id)"""),
    "docs_dup_spans_apply" -> dupSpansApplySql,
    "stream_dup_span_scrub" -> dupSpansApplySql,
    "docs_quality_drift" -> qualityDriftSql,
    "stream_quality_drift" -> qualityDriftSql,
    "docs_dup_line_removal" ->
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
        |GROUP BY 1""",
    "docs_gopher_cost" ->
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
         |GROUP BY 1""",
    "stream_gopher_gate" ->
      // survivors of the 20-threshold gate: same chains, NOT(any)
      s"""WITH $qualCorpusCte, ${linedCtesFrom("qd")},
         |$gopherProfileCtes, $dupMassCtes, $qualProfileCtes
         |SELECT r.doc_id, d.source
         |FROM rep_profile r JOIN dng g ON g.doc_id = r.doc_id
         |JOIN qprof q ON q.doc_id = r.doc_id
         |JOIN documents d ON d.doc_id = r.doc_id
         |WHERE NOT ($repAnySql OR $qualAnySql)""",
    "docs_gopher_quality" ->
      // the 7 quality metrics straight off the qprof chain
      s"""WITH $qualCorpusCte, ${linedCtesFrom("qd")}, $qualProfileCtes
         |SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
         | bullet_line_fraction, ellipsis_line_fraction,
         | alpha_word_fraction, stop_word_hits
         |FROM qprof""",
    "docs_gopher_apply" -> {
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
    "docs_gopher_gate" -> {
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
    "text_source_stats" ->
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
        |FROM s GROUP BY source""",
    "q_events_funnel" ->
      """WITH s AS (SELECT user_id, min(ts) AS signup_ts FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS click_ts FROM events e
        |  JOIN s ON e.user_id = s.user_id AND e.ts > s.signup_ts
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS purchase_ts FROM events e
        |  JOIN c ON e.user_id = c.user_id AND e.ts > c.click_ts
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT (SELECT count(*) FROM s) AS n_signup,
        | (SELECT count(*) FROM c) AS n_click_after,
        | (SELECT count(*) FROM p) AS n_purchase_after""",
    "dedup_exact_apply" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id)
        | FROM (SELECT doc_id,
        |   trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents) n GROUP BY norm)""",
    "dedup_exact" ->
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents) n
        |GROUP BY norm""",
    "dedup_minhash_lsh" ->
      // the WHOLE minhash+LSH pipeline replayed bit-for-bit (r10):
      // fused FNV shingles, 64 embedded permutations, slice-keyed
      // banding, capped buckets, exact-Jaccard verification, pair
      // summary — see minhashSigCtes for the arithmetic decomposition
      s"""WITH $minhashVerifiedCtes,
          |sides AS (
          | SELECT id_a AS doc_id, jaccard AS score, false AS is_junior
          |  FROM verified
          | UNION ALL SELECT id_b, jaccard, true FROM verified),
          |$dupPerdocCte
          |${dupKeepSql()}""",
    "dedup_exact_jaccard_pairs" ->
      // the EXHAUSTIVE definition, no prefix rule: every sharing
      // pair's exact shingle Jaccard, thresholded — the Spark side's
      // prefix filter is provably lossless, so the row sets must
      // agree; jaccard is one division of exact integers, bit-stable
      s"""WITH $shingleCtes,
          |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
          | FROM sh GROUP BY 1),
          |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
          |  CAST(count(*) AS BIGINT) AS i
          | FROM sh a JOIN sh b ON b.shv = a.shv AND b.doc_id > a.doc_id
          | GROUP BY 1, 2)
          |SELECT id_a, id_b,
          | CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
          |FROM pr
          |JOIN sz sa ON sa.doc_id = pr.id_a
          |JOIN sz sb ON sb.doc_id = pr.id_b
          |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5""",
    "dedup_lsh_band_stats" ->
      // the cheap PREFIX of the same pipeline: per-band bucket-size
      // histogram over the banded signature keys
      s"""WITH $minhashSigCtes,
          |bs AS (SELECT band, band_key, CAST(count(*) AS BIGINT)
          |  AS bucket_size FROM sig GROUP BY 1, 2)
          |SELECT CAST(band AS INT) AS band, bucket_size,
          | CAST(count(*) AS BIGINT) AS n_buckets,
          | CAST(bucket_size * (bucket_size - 1) // 2 AS BIGINT)
          |  * count(*) AS implied_pairs
          |FROM bs GROUP BY 1, 2""",
    "stream_sig_dedup" ->
      // full-signature grouping over the replayed minhash state
      s"""WITH $minhashSigCtes,
          |fullsig AS (SELECT doc_id, list(mv ORDER BY p) AS sig
          | FROM mh GROUP BY doc_id)
          |SELECT min(doc_id) AS doc_id, CAST(count(*) AS BIGINT)
          |  AS n_copies
          |FROM fullsig GROUP BY sig""",
    "dedup_simhash" -> simhashOracle,
    "dedup_ngram_jaccard" -> ngramJaccardOracle,
    "split_assign" -> {
      // the xxhash64 fast-path split replayed (r10): h = xx64(42,
      // xx64(doc_id, 42)), u = (h >>> 11)/2⁵³, cuts embedded as the
      // exact cumulative-weight doubles the Scala scanLeft produces
      val (f1, h1) = Xx64Sql.hashLong("a", "CAST(doc_id AS HUGEINT)", "42")
      val (f2, h2) = Xx64Sql.hashLong("b", "42", h1)
      val cuts = Seq(0.9, 0.05, 0.05).scanLeft(0.0)(_ + _).tail
      s"""SELECT doc_id,
         | CASE WHEN u < ${cuts(0)} THEN 'train'
         |  WHEN u < ${cuts(1)} THEN 'val' ELSE 'test' END AS split
         |FROM documents, $f1, $f2,
         | LATERAL (SELECT CAST(($h2) // 2048 AS DOUBLE)
         |   / 9007199254740992.0 AS u) uu"""
    },
    "ann_ivfpq_res_topk" ->
      // the RESIDUAL trained tier (r10): one Lloyd round on the
      // cells, one per-subspace refinement round on the residual
      // codebooks, residual encode/score — the whole trained model
      // unrolled (at the driver SFs the hash-thinned train sample
      // IS the corpus: n/4096 ≤ 1)
      ivfPqResidualOracle,
    "ann_pq_topk" ->
      // the PQ tier replayed (r10): 32-entry codebooks = 4-dim
      // slices of the xxhash64-picked sample, per-subspace L2-argmin
      // encode, cosine against the reconstruction, k·16 budget
      // (r17 rerank escalation), exact rerank
      s"""WITH ${ivfCentsCtes("", pick = 32)},
          |${pqTail(useIvf = false, budget = 160)}""",
    "ann_ivfpq_topk" ->
      // the composed FAISS-style tier: cells = first 16 of the SAME
      // 32-vector pick (one sampling pass feeds both structures),
      // probe prune (nprobe=14, the r17 cell-miss escalation) then
      // code-space scoring, k·16 budget
      s"""WITH ${ivfCentsCtes("", pick = 32)},
          |${pqTail(useIvf = true, budget = 160, nprobe = 14)}""",
    "ann_index_ivfpq_delete_probe" ->
      // the PQ layout under the delete batch (r15): same pick, same
      // code-space scoring and k·16 budget, candidates drop the
      // tombstoned ids — logically the survivor assignment (per-
      // vector, so probe-time masking coincides)
      s"""WITH ${ivfCentsCtes("", pick = 32)},
          |${pqTail(useIvf = true, budget = 160, nprobe = 12,
            assignWhere = "WHERE e.vec_id % 7 <> 3")}""",
    "ann_index_ivfpq_append_probe" ->
      // incremental IVF-PQ: model state (cells + codebooks) from the
      // even half's pick, the full corpus encoded against it; probes
      // 14 of 16 cells — the append path's staleness-compensation
      // dial at the r18 step (see the queries entry)
      s"""WITH ${ivfCentsCtes("WHERE vec_id % 2 = 0", pick = 32)},
          |${pqTail(useIvf = true, budget = 160, nprobe = 14)}""",
    "ann_ivf_topk" ->
      // the IVF tier replayed end to end (r10): the xxhash64
      // centroid pick, argmax cell assignment, 12-cell probes (r15
      // escalation), exact cosine top-10 — "deterministic but not
      // SQL-expressible" no longer holds once xxhash64 itself is
      // decomposed
      s"""WITH ${ivfCentsCtes("")},
          |${ivfProbeTail(nprobe = 12)}""",
    "ann_ivf_filtered_topk" ->
      // shared index, filtered candidates: same centroids and
      // probes, the predicate drops ineligible vectors at
      // assignment time (one index serves every predicate)
      s"""WITH ${ivfCentsCtes("")},
          |${ivfProbeTail("WHERE e.label % 3 = 0", nprobe = 12)}""",
    "ann_index_ivf_append_probe" ->
      // the incrementally-maintained index: centroids picked from
      // the even half ("yesterday's" build), the odd half appended
      // against those STORED centroids — assignment of the FULL
      // corpus to the half-corpus centroid pick (AnnIndexSpec's
      // append ≡ union-at-fixed-centroids identity)
      s"""WITH ${ivfCentsCtes("WHERE vec_id % 2 = 0")},
          |${ivfProbeTail(nprobe = 12)}""",
    "ann_index_delete_probe" ->
      // tombstone-masked probe (r15): same pick, same 12-cell
      // probes, candidates drop the deleted ids — logically the
      // assignment of the SURVIVOR corpus (assignment is per-vector,
      // so probe-time masking and survivor-only assignment coincide)
      s"""WITH ${ivfCentsCtes("")},
          |${ivfProbeTail("WHERE e.vec_id % 7 <> 3", nprobe = 12)}""",
    "ann_index_compact_plan" ->
      // the compaction-plan manifest replayed: argmax cell
      // assignment, live/dead counts per cell (dead = the tombstoned
      // vec_id % 7 == 3 set), rewrite at rounded dead_frac > 0.14
      s"""WITH ${ivfCentsCtes("")},
          |$ivfCellDeadCtes
          |SELECT CAST(cell AS INT) AS cell, n_vecs, n_dead,
          | round(CASE WHEN n_vecs > 0
          |  THEN CAST(n_dead AS DOUBLE) / n_vecs ELSE 0.0 END, 6)
          |  AS dead_frac,
          | round(CASE WHEN n_vecs > 0
          |  THEN CAST(n_dead AS DOUBLE) / n_vecs ELSE 0.0 END, 6) > 0.14
          |  AS rewrite
          |FROM filled""",
    "ann_index_health" ->
      // the maintenance decision table replayed: compact-plan
      // arithmetic + per-cell balance + the two action columns
      s"""WITH ${ivfCentsCtes("")},
          |$ivfCellDeadCtes,
          |tt AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM filled),
          |hb AS (SELECT max(round(CASE WHEN tt.total > 0
          |  THEN CAST(f.n_vecs AS DOUBLE) * 16 / tt.total
          |  ELSE 0.0 END, 6)) AS mx FROM filled f, tt)
          |SELECT CAST(cell AS INT) AS cell, n_vecs, n_dead,
          | round(CASE WHEN n_vecs > 0
          |  THEN CAST(n_dead AS DOUBLE) / n_vecs ELSE 0.0 END, 6)
          |  AS dead_frac,
          | round(CASE WHEN tt.total > 0
          |  THEN CAST(n_vecs AS DOUBLE) * 16 / tt.total
          |  ELSE 0.0 END, 6) AS balance,
          | CASE WHEN round(CASE WHEN n_vecs > 0
          |   THEN CAST(n_dead AS DOUBLE) / n_vecs ELSE 0.0 END, 6) > 0.14
          |  THEN 'rewrite' ELSE 'ok' END AS cell_action,
          | CASE WHEN hb.mx > 1.25 THEN 'rebuild' ELSE 'ok' END
          |  AS index_action
          |FROM filled, tt, hb""",
    "ann_ivf_cell_stats" ->
      // the cell-balance diagnostic over the same replayed pick
      s"""WITH ${ivfCentsCtes("")},
          |assigned AS (SELECT vec_id, cell FROM (
          | ${ivfRankSql("cents")}) x WHERE rn = 1),
          |filled AS (SELECT s.cell,
          |  CAST(coalesce(n.n_vecs, 0) AS BIGINT) AS n_vecs
          | FROM (SELECT unnest(generate_series(0, 15)) AS cell) s
          | LEFT JOIN (SELECT cell, count(*) AS n_vecs FROM assigned
          |  GROUP BY 1) n USING (cell)),
          |tt AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS total FROM filled)
          |SELECT CAST(cell AS INT) AS cell, n_vecs,
          | round(CAST(n_vecs AS DOUBLE) / total, 6) AS share,
          | round(CAST(n_vecs AS DOUBLE) * 16.0 / total, 6) AS balance
          |FROM filled, tt""",
    "dedup_embedding" ->
      // the hyperplane-LSH embedding near-dup tier, planes embedded
      // (8 tables × 8 planes, seed 11), cosine verify at τ=0.9,
      // the standard pair-summary tail
      s"""WITH ${hyperplaneSigCte(8, 8, 11L)},
          |${hyperplanePairsCte(0.9)},
          |${dupSidesCte("cosine")},
          |$dupPerdocCte
          |SELECT e.vec_id AS doc_id, coalesce(p.n_dupes, 0) AS n_dupes,
          | coalesce(p.max_score, 0.0) AS max_score,
          | coalesce(NOT p.dominated, true) AS keep
          |FROM embeddings e LEFT JOIN perdoc p ON p.doc_id = e.vec_id""",
    "dedup_embedding_incremental" ->
      // EXHAUSTIVE new-batch × corpus comparison (no candidate
      // rule); best match on the 1e-6-rounded cosine then corpus_id
      // — the same discrete-cut convention as bm25/matryoshka
      """WITH nn AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |  FROM embeddings WHERE vec_id % 10 = 3),
        |cc AS (SELECT vec_id AS corpus_id,
        |  CAST(embedding AS DOUBLE[]) AS e
        | FROM embeddings WHERE vec_id % 10 <> 3),
        |p AS (SELECT nn.vec_id, cc.corpus_id,
        |  list_cosine_similarity(nn.e, cc.e) AS cosine
        | FROM nn, cc WHERE list_cosine_similarity(nn.e, cc.e) >= 0.4),
        |b AS (SELECT vec_id, corpus_id, cosine, row_number() OVER
        |  (PARTITION BY vec_id ORDER BY round(cosine, 6) DESC,
        |   corpus_id) AS rn FROM p),
        |agg AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS n_matches,
        |  CAST(max(CASE WHEN rn = 1 THEN corpus_id END) AS BIGINT)
        |   AS match_id,
        |  max(CASE WHEN rn = 1 THEN cosine END) AS best_cosine
        | FROM b GROUP BY 1)
        |SELECT nn.vec_id,
        | CAST(coalesce(a.n_matches, 0) AS BIGINT) AS n_matches,
        | CAST(coalesce(a.match_id, -1) AS BIGINT) AS match_id,
        | coalesce(a.best_cosine, -1.0) AS best_cosine,
        | coalesce(a.n_matches, 0) = 0 AS keep
        |FROM nn LEFT JOIN agg a USING (vec_id)""",
    "text_unigram_train" ->
      // hard-EM unigram training replayed end to end: candidate
      // substrings, the top-V cut, two Viterbi re-segmentation
      // rounds (recursive-CTE DP over distinct words), integer
      // re-counts, float renormalization — bit-exact by construction
      (toksCte.replace("WITH ", "WITH RECURSIVE ") + ", " +
        unigramTrainCtes +
        """ SELECT v2.piece, v2.uses AS n_uses,
          | CAST(p2.p AS DOUBLE) AS prob
          |FROM v2 JOIN p2 USING (piece)"""),
    "text_unigram_apply" ->
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
        |FROM documents d LEFT JOIN da a USING (doc_id)"""),
    "text_quality_lr_train" ->
      // the trained model row: three float-snapped GD iterations
      // unrolled, weights emitted as float-exact doubles
      (toksCte + ", " + qualityLrCtes(3) + " " +
        (0 until 5).zip(operators.QualityLr.FeatureNames).map {
          case (j, name) =>
            s"SELECT CAST($j AS INT) AS feature_idx, '$name' AS feature," +
              s" CAST(w3.w$j AS DOUBLE) AS weight FROM w3"
        }.mkString(" UNION ALL ")),
    "text_quality_lr_score" ->
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
        |FROM mg"""),
    "text_decontaminate_semantic" -> semanticDecontamSql,
    // the intake gate computes the SAME relation by definition (the
    // closure matrix replays the batch kernel's arithmetic exactly),
    // so the batch key's oracle is this key's oracle verbatim
    "stream_semantic_gate" -> semanticDecontamSql,

    "dedup_embedding_groups_lsh" ->
      // the production SemDeDup path: closure over the REPLAYED
      // LSH-fed pair relation (same recursive tail as the exact
      // anchor, fed by banded candidates instead of all pairs)
      s"""WITH RECURSIVE ${hyperplaneSigCte(8, 8, 11L)},
          |${hyperplanePairsCte(0.9)},
          |e2 AS (SELECT id_a AS src, id_b AS dst FROM verified
          | UNION ALL SELECT id_b AS src, id_a AS dst FROM verified),
          |reach AS (SELECT vec_id, vec_id AS r FROM embeddings
          | UNION
          | SELECT reach.vec_id, e2.dst AS r
          | FROM reach JOIN e2 ON e2.src = reach.r),
          |lab AS (SELECT vec_id, min(r) AS group_id
          | FROM reach GROUP BY vec_id)
          |SELECT vec_id, group_id, vec_id = group_id AS keep
          |FROM lab""",
    "ann_lsh_topk" ->
      // the multiprobe LSH tier replayed: 24×8-plane signatures for
      // the corpus; per (query, table) the exact bucket + the 5
      // lowest-|projection| single-bit flips (the kernel's margin
      // order, ties by plane index — r18 table escalation 16→24 at
      // probes 6, the post-multiprobe-saturation axis);
      // candidates meet on (tbl, sig), exact cosine ranks the top-10
      s"""WITH ${hyperplaneSigCte(24, 8, 23L)},
          |proj AS MATERIALIZED (SELECT e.vec_id, pl.tbl, pl.p,
          |  list_inner_product(CAST(e.embedding AS DOUBLE[]), pl.w) AS s
          | FROM embeddings e, pl WHERE e.vec_id % 100 = 0),
          |qbase AS (SELECT vec_id, tbl, sig FROM hsig
          | WHERE vec_id % 100 = 0),
          |flips AS (SELECT vec_id, tbl, p, row_number() OVER (
          |  PARTITION BY vec_id, tbl ORDER BY abs(s), p) AS rk
          | FROM proj),
          |probes AS (
          | SELECT vec_id, tbl, sig FROM qbase
          | UNION ALL
          | SELECT q.vec_id, q.tbl, xor(q.sig,
          |   CAST(CAST(1 AS BIGINT) << f.p AS BIGINT)) AS sig
          | FROM qbase q JOIN flips f
          |  ON f.vec_id = q.vec_id AND f.tbl = q.tbl AND f.rk <= 5),
          |cands AS (SELECT DISTINCT p.vec_id AS query_id,
          |  h.vec_id AS neighbor_id
          | FROM probes p JOIN hsig h
          |  ON h.tbl = p.tbl AND h.sig = p.sig
          | WHERE h.vec_id != p.vec_id),
          |scored AS (SELECT c.query_id, c.neighbor_id,
          |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
          |    CAST(n.embedding AS DOUBLE[])) AS cosine
          | FROM cands c
          | JOIN embeddings q ON q.vec_id = c.query_id
          | JOIN embeddings n ON n.vec_id = c.neighbor_id)
          |SELECT query_id, neighbor_id, cosine FROM scored
          |QUALIFY row_number() OVER (PARTITION BY query_id
          | ORDER BY cosine DESC, neighbor_id) <= 10""",
    "dedup_groups" ->
      // transitive closure over the REPLAYED minhash pair relation —
      // the same recursive-reachability tail as dedup_groups_blocked,
      // fed by minhashVerifiedCtes instead of the blocked trunk
      s"""WITH RECURSIVE $minhashVerifiedCtes,
          |${minLabelCtes("verified")}
          |SELECT doc_id, group_id, doc_id = group_id AS keep
          |FROM lab""",
    "dedup_exact_report" ->
      """SELECT md5(norm) AS group_md5, count(*) AS n_copies,
        | min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents) n
        |GROUP BY norm HAVING count(*) > 1""",
    "dedup_token_inflation" ->
      // all sums CAST to BIGINT (HUGEINT trap); rate is exact
      // integer division on the 1e-6 grid, zero-token source → null
      """WITH t AS (SELECT doc_id, source,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |    x -> x <> '')) AS BIGINT) AS n_tokens,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        | FROM documents),
        |k AS (SELECT min(doc_id) AS doc_id FROM t GROUP BY norm),
        |d AS (SELECT doc_id, source, n_tokens,
        |  doc_id IN (SELECT doc_id FROM k) AS keep FROM t)
        |SELECT source, count(*) AS n_docs,
        | CAST(sum(CASE WHEN NOT keep THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_dup_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
        | CAST(sum(CASE WHEN NOT keep THEN n_tokens ELSE 0 END) AS BIGINT)
        |  AS n_dup_tokens,
        | CASE WHEN sum(n_tokens) = 0 THEN NULL
        |  ELSE round(sum(CASE WHEN NOT keep THEN n_tokens ELSE 0 END)
        |   * 1.0 / sum(n_tokens), 6) END AS dup_token_rate
        |FROM d GROUP BY 1""",
    "ann_bruteforce_topk" ->
      // DOUBLE[] casts: DuckDB accumulates FLOAT[] cosines in single
      // precision, which flips near-boundary ranks vs graft's
      // double-accumulating kernel
      s"""SELECT query_id, neighbor_id, cosine FROM (
        | ${queryPairsSql()}) s
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY cosine DESC, neighbor_id) <= 10""",
    "ann_matryoshka_topk" ->
      // stage 1 on the 32-dim PREFIX slice (1-based inclusive list
      // slice replays Spark's slice(emb, 1, 32)) with the cut ranked
      // on the 1e-6-ROUNDED prefix cosine (bm25 stage-1 discipline:
      // the candidate set is discrete, so boundary ties must break by
      // id identically cross-engine), exact full-dim rerank of the
      // k·32 candidates (r17 escalation) — the bruteforce exactness
      // argument at both stages
      s"""WITH q AS (SELECT vec_id AS query_id, embedding
        | FROM embeddings WHERE vec_id % 100 = 0),
        |apx AS (SELECT query_id, neighbor_id FROM (
        | SELECT q.query_id, e.vec_id AS neighbor_id, row_number() OVER (
        |   PARTITION BY q.query_id ORDER BY round(list_cosine_similarity(
        |     CAST(e.embedding[1:32] AS DOUBLE[]),
        |     CAST(q.embedding[1:32] AS DOUBLE[])), 6) DESC, e.vec_id) AS rn
        | FROM embeddings e, q WHERE e.vec_id != q.query_id) x
        | WHERE rn <= 320)
        |${exactTop10Sql("apx", "a", "qq")}""",
    "emb_pca_project" ->
      // the published transform replayed from the frozen-model
      // literals (r16): pval IS kernels.pcaProject — per-component
      // ascending double accumulate, snap to float — and the key's
      // 1e-6-rounded double widening on top
      s"""WITH $pcaFrozenCtes
         |SELECT vec_id, CAST(j AS INT) AS dim,
         | round(CAST(v AS DOUBLE), 6) AS value
         |FROM pval""",
    "ann_pca_topk" ->
      // the matryoshka two-stage oracle with the PCA projection in
      // place of the prefix slice: stage 1 ranks the 1e-6-ROUNDED
      // cosine of the frozen-model projections (float-snapped per
      // component, then exact double widening — bit-identical to the
      // Spark stage), exact full-dim rerank of the k·16 candidates
      s"""WITH $pcaFrozenCtes,
         |proj AS MATERIALIZED (SELECT vec_id,
         |  list(CAST(v AS DOUBLE) ORDER BY j) AS p
         | FROM pval GROUP BY 1),
         |apx AS (SELECT query_id, neighbor_id FROM (
         | SELECT qp.vec_id AS query_id, cp.vec_id AS neighbor_id,
         |  row_number() OVER (PARTITION BY qp.vec_id
         |   ORDER BY round(list_cosine_similarity(qp.p, cp.p), 6)
         |    DESC, cp.vec_id) AS rn
         | FROM proj qp JOIN proj cp ON cp.vec_id != qp.vec_id
         | WHERE qp.vec_id % 100 = 0) x WHERE rn <= 160)
         |${exactTop10Sql("apx", "a", "qq")}""",
    "ann_mmr_diverse" -> {
      // greedy MMR unrolled: k=10 fixed, so the 10 argmax steps chain
      // as CTEs (the q_copurchase_pagerank unrolling pattern). Pool =
      // the exact DOUBLE[] cosine top-50; sim = pairwise cosines
      // among pool members; step s picks argmax 0.5·rel − 0.5·max
      // sim-to-selected with the Scala tie order (score DESC,
      // relevance DESC, neighbor_id ASC — the pinned candidate order
      // + strict > in mmrDiverseTopK)
      // every CTE is MATERIALIZED: DuckDB inlines CTEs by default,
      // and the sel chain references each predecessor 3× (join,
      // NOT EXISTS, next sel) — unmaterialized that expands 3^k ways
      val steps = (2 to 10).map { s =>
        val prev = s - 1
        val sel =
          if (s < 10)
            s""",sel$s AS MATERIALIZED (SELECT query_id, neighbor_id FROM sel$prev
               | UNION ALL SELECT query_id, neighbor_id FROM p$s)"""
          else ""
        s"""p$s AS MATERIALIZED (SELECT query_id, neighbor_id, relevance, sc AS mmr_score
           | FROM (
           |  SELECT c.query_id, c.neighbor_id, c.relevance,
           |   0.5 * c.relevance - 0.5 * max(v.s) AS sc
           |  FROM pool c
           |  JOIN sim v ON v.query_id = c.query_id
           |   AND v.id_a = c.neighbor_id
           |  JOIN sel$prev sv ON sv.query_id = v.query_id
           |   AND sv.neighbor_id = v.id_b
           |  WHERE NOT EXISTS (SELECT 1 FROM sel$prev sx
           |   WHERE sx.query_id = c.query_id
           |    AND sx.neighbor_id = c.neighbor_id)
           |  GROUP BY 1, 2, 3) x
           | QUALIFY row_number() OVER (PARTITION BY query_id
           |  ORDER BY sc DESC, relevance DESC, neighbor_id) = 1)$sel"""
      }.mkString(",")
      val unions = (1 to 10).map(s =>
        s"SELECT query_id, CAST($s AS BIGINT) AS rank, neighbor_id," +
          s" relevance, mmr_score FROM p$s").mkString(" UNION ALL ")
      s"""WITH pool AS MATERIALIZED (SELECT query_id, neighbor_id, cosine AS relevance
         | FROM (
         |  ${queryPairsSql()}) s
         | QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY cosine DESC, neighbor_id) <= 50),
         |sim AS MATERIALIZED (SELECT a.query_id, a.neighbor_id AS id_a,
         |  b.neighbor_id AS id_b,
         |  list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
         |    CAST(eb.embedding AS DOUBLE[])) AS s
         | FROM pool a JOIN pool b ON b.query_id = a.query_id
         |  AND b.neighbor_id != a.neighbor_id
         | JOIN embeddings ea ON ea.vec_id = a.neighbor_id
         | JOIN embeddings eb ON eb.vec_id = b.neighbor_id),
         |p1 AS MATERIALIZED (SELECT query_id, neighbor_id, relevance,
         |  0.5 * relevance AS mmr_score FROM pool
         | QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY relevance DESC, neighbor_id) = 1),
         |sel1 AS MATERIALIZED (SELECT query_id, neighbor_id FROM p1),
         |$steps
         |$unions"""
    },
    "emb_kmeans_assign" ->
      s"WITH $kmeansCtes SELECT vec_id, cell FROM fa",
    // semantic-cluster temperature rebalancing: the kmeans loop's
    // final assignment becomes the STRATUM of the τ=1/2 sampler —
    // same rate arithmetic (one division + one sqrt, both
    // correctly-rounded IEEE) and hash filter as the source-keyed
    // temperature key, so the selected SET is engine-exact
    "docs_cluster_temperature" ->
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
        |WHERE ${md5BelowRateSql("c", "t42")}""",
    "ann_rrf_hybrid" ->
      // both retrievers replayed in full: dense ranks from the same
      // DOUBLE[] cosine as ann_bruteforce_topk; lexical ranks from
      // the df-capped (2..64) distinct-token postings join; fusion is
      // CAST(1.0 AS DOUBLE)/(60+rank) per list, summed as a pair add
      // (commutative, order-free) — rank ties break by neighbor id in
      // every window on both engines
      s"""WITH t AS (SELECT doc_id, unnest(list_distinct(
        |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> ''))) AS tok
        | FROM documents),
        |r AS (SELECT tok FROM t GROUP BY tok
        |  HAVING count(*) BETWEEN 2 AND 64),
        |p AS (SELECT t.doc_id, t.tok FROM t JOIN r ON t.tok = r.tok),
        |lexall AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
        |  count(*) AS shared
        | FROM p q JOIN p c ON c.tok = q.tok AND c.doc_id != q.doc_id
        | WHERE q.doc_id % 100 = 0 GROUP BY 1, 2),
        |lex AS (SELECT query_id, neighbor_id, rank_l FROM (
        |  SELECT query_id, neighbor_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY shared DESC, neighbor_id)
        |    AS rank_l FROM lexall) x WHERE rank_l <= 20),
        |den AS (SELECT query_id, neighbor_id, rank_d FROM (
        |  SELECT query_id, neighbor_id, row_number() OVER (
        |    PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)
        |    AS rank_d FROM (
        |   ${queryPairsSql()}) s) x WHERE rank_d <= 20),
        |fused AS (SELECT coalesce(d.query_id, l.query_id) AS query_id,
        |  coalesce(d.neighbor_id, l.neighbor_id) AS neighbor_id,
        |  coalesce(CAST(1.0 AS DOUBLE) / (60 + d.rank_d), CAST(0 AS DOUBLE))
        |   + coalesce(CAST(1.0 AS DOUBLE) / (60 + l.rank_l), CAST(0 AS DOUBLE))
        |   AS rrf_score
        | FROM den d FULL OUTER JOIN lex l
        |  ON d.query_id = l.query_id AND d.neighbor_id = l.neighbor_id)
        |SELECT query_id, neighbor_id, rrf_score FROM (
        | SELECT *, row_number() OVER (PARTITION BY query_id
        |   ORDER BY rrf_score DESC, neighbor_id) AS rn FROM fused) f
        |WHERE rn <= 10""",
    "ann_sq_topk" ->
      // the dequantized reconstruction replays exactly: double grid
      // arithmetic (1-based lambda index j ↔ Spark's 0-based i+1),
      // narrowed to FLOAT — the stored working type — then widened
      // back for the double-accumulating similarity
      """WITH dims AS (SELECT i,
        |  min(CAST(embedding[i + 1] AS DOUBLE)) AS mn,
        |  max(CAST(embedding[i + 1] AS DOUBLE)) AS mx
        | FROM embeddings, range(64) t(i) GROUP BY i),
        |st AS (SELECT list(mn ORDER BY i) AS mins,
        |  list((mx - mn) / 255 ORDER BY i) AS scales FROM dims),
        |dq AS (SELECT vec_id, CAST(list_transform(
        |   CAST(embedding AS DOUBLE[]), (x, j) ->
        |   CASE WHEN scales[j] = 0 THEN mins[j]
        |        ELSE mins[j] + least(greatest(round((x - mins[j]) / scales[j]), 0), 255)
        |             * scales[j] END) AS FLOAT[]) AS demb
        | FROM embeddings, st)
        |SELECT query_id, neighbor_id, cosine FROM (
        | SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |    CAST(c.demb AS DOUBLE[])) AS cosine
        | FROM embeddings q JOIN dq c ON c.vec_id != q.vec_id
        | WHERE q.vec_id % 100 = 0) s
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY cosine DESC, neighbor_id) <= 10""",
    "ann_filtered_topk" ->
      // pre-filter semantics: the predicate restricts the corpus
      // BEFORE ranking, so this is the true top-k of the eligible set
      s"""SELECT query_id, neighbor_id, cosine FROM (
        | ${queryPairsSql()} AND c.label % 3 = 0) s
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY cosine DESC, neighbor_id) <= 10""",
    "mm_near_dup_blobs" ->
      s"""WITH $frameMd5Ctes,
        |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |  FROM pd a JOIN d USING (fmd5) JOIN pd b USING (fmd5)
        |  WHERE a.doc_id < b.doc_id AND d.df BETWEEN 2 AND 64 GROUP BY 1, 2)
        |SELECT id_a, id_b, n_shared,
        | round(n_shared * 1.0 / (sa.n + sb.n - n_shared), 6) AS chunk_jaccard
        |FROM sh JOIN sz sa ON sa.doc_id = sh.id_a
        | JOIN sz sb ON sb.doc_id = sh.id_b
        |WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.3""",
    "mm_blob_dedup_incremental" ->
      // new×history pairs only; chunk df capped over the union
      s"""WITH $frameMd5Ctes,
        |sh AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
        |  count(*) AS n_shared
        |  FROM pd a JOIN d USING (fmd5) JOIN pd b USING (fmd5)
        |  WHERE a.doc_id % 10 = 0 AND b.doc_id % 10 <> 0
        |   AND d.df BETWEEN 2 AND 64 GROUP BY 1, 2)
        |SELECT new_id, corpus_id, n_shared,
        | round(n_shared * 1.0 / (sa.n + sb.n - n_shared), 6) AS chunk_jaccard
        |FROM sh JOIN sz sa ON sa.doc_id = sh.new_id
        | JOIN sz sb ON sb.doc_id = sh.corpus_id
        |WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.3""",
    "mm_dedup_groups" ->
      // the blob pair relation + the shared recursive reachability
      // closure (dedup_groups_blocked / dedup_embedding_groups shape)
      s"""WITH RECURSIVE $frameMd5Ctes,
        |sh AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |  FROM pd a JOIN d USING (fmd5) JOIN pd b USING (fmd5)
        |  WHERE a.doc_id < b.doc_id AND d.df BETWEEN 2 AND 64 GROUP BY 1, 2),
        |m AS (SELECT id_a, id_b FROM sh
        |  JOIN sz sa ON sa.doc_id = sh.id_a
        |  JOIN sz sb ON sb.doc_id = sh.id_b
        |  WHERE n_shared * 1.0 / (sa.n + sb.n - n_shared) >= 0.3),
        |${minLabelCtes("m")}
        |SELECT doc_id, group_id, doc_id = group_id AS keep
        |FROM lab""",
    "mm_pooled_topk" ->
      // the multimodal→embedding bridge, oracle-checked END TO END:
      // the stub decode's FNV-1a fold replays in DuckDB as a
      // list_reduce over HUGEINT (64-bit wraparound via % 2^64; the
      // xor rides on the low byte only, so it stays in BIGINT range),
      // width/height read the same shifted hash windows, luma is an
      // exact integer-sum division, and the pooled per-doc features
      // are FLOAT-narrowed exactly like the Spark side before the
      // double-accumulating cosine. ord()==byte because the corpus is
      // pure ASCII (asserted at all SFs; the other mm oracles already
      // lean on char-index == byte-offset).
      s"""WITH f AS (SELECT doc_id, substr(text, i * 128 + 1, 64) AS frame
        |  $framesFromSql),
        |d AS (SELECT doc_id,
        |  ${fnv1aSql("frame", j = "i")} AS h,
        |  CASE WHEN length(frame) = 0 THEN 0.0 ELSE
        |    CAST(list_sum(list_transform(range(1, length(frame) + 1),
        |      i -> ord(substr(frame, i, 1)))) AS DOUBLE) / length(frame)
        |  END AS ml FROM f),
        |p AS (SELECT doc_id, CAST([
        |   CAST(avg(CAST(16 + (h // 256) % 48 AS BIGINT)) AS FLOAT),
        |   CAST(avg(CAST(16 + (h // 16777216) % 48 AS BIGINT)) AS FLOAT),
        |   CAST(avg(ml) AS FLOAT),
        |   CAST(stddev_pop(ml) AS FLOAT)] AS FLOAT[]) AS emb
        |  FROM d GROUP BY 1)
        |SELECT query_id, neighbor_id, cosine FROM (
        | SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
        |  list_cosine_similarity(CAST(q.emb AS DOUBLE[]),
        |    CAST(c.emb AS DOUBLE[])) AS cosine
        | FROM p q JOIN p c ON c.doc_id != q.doc_id
        | WHERE q.doc_id % 50 = 0) s
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY cosine DESC, neighbor_id) <= 10""",
    "ann_knn_classify" ->
      // exact top-10 neighbors, majority label (ties → smaller
      // label), leave-one-out correctness vs the query's own label
      s"""WITH nn AS (
        | SELECT query_id, neighbor_id FROM (
        |  ${queryPairsSql(20)}) s
        | QUALIFY row_number() OVER (PARTITION BY query_id
        |   ORDER BY cosine DESC, neighbor_id) <= 10),
        |votes AS (SELECT nn.query_id, c.label AS n_label,
        |  count(*) AS n_votes
        | FROM nn JOIN embeddings c ON c.vec_id = nn.neighbor_id
        | GROUP BY 1, 2),
        |win AS (SELECT query_id, n_label, n_votes FROM (
        | SELECT query_id, n_label, n_votes, row_number() OVER (
        |   PARTITION BY query_id ORDER BY n_votes DESC, n_label) AS rn
        | FROM votes) v WHERE rn = 1)
        |SELECT w.query_id, w.n_label AS pred_label, w.n_votes,
        | q.label AS true_label, w.n_label = q.label AS correct
        |FROM win w JOIN embeddings q ON q.vec_id = w.query_id""",
    "ann_rerank" ->
      // stage 1: cosine top-40 per query (k·expand); stage 2: label
      // boost rerank, top-10 survive. DOUBLE[] casts as in
      // ann_bruteforce_topk.
      """WITH s1 AS (
        | SELECT query_id, neighbor_id, cosine, q_label FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
        |   list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |     CAST(c.embedding AS DOUBLE[])) AS cosine,
        |   q.label AS q_label
        |  FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
        |  WHERE q.vec_id % 100 = 0) s
        | QUALIFY row_number() OVER (PARTITION BY query_id
        |   ORDER BY cosine DESC, neighbor_id) <= 40)
        |SELECT query_id, neighbor_id, rerank_score FROM (
        | SELECT s1.query_id, s1.neighbor_id,
        |  s1.cosine + CASE WHEN s1.q_label = c.label
        |    THEN 0.05 ELSE 0.0 END AS rerank_score
        | FROM s1 JOIN embeddings c ON c.vec_id = s1.neighbor_id) r
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY rerank_score DESC, neighbor_id) <= 10""",
    "q_embedding_centroids" ->
      """SELECT label, CAST(i AS INT) AS pos, avg(embedding[i + 1]) AS avg_val
        |FROM embeddings, range(64) t(i)
        |GROUP BY label, i""",
    "emb_dim_stats" ->
      // parallel unnest pairs each element with its 1-based ordinal;
      // mean/var cross row order → rounded 1e-6, min/max exact
      """WITH ex AS (SELECT unnest(embedding) AS v,
        | unnest(generate_series(1, len(embedding))) AS dim
        |FROM embeddings)
        |SELECT dim, count(*) AS n,
        | round(avg(CAST(v AS DOUBLE)), 6) AS mean_v,
        | round(var_samp(CAST(v AS DOUBLE)), 6) AS var_v,
        | min(CAST(v AS DOUBLE)) AS min_v,
        | max(CAST(v AS DOUBLE)) AS max_v
        |FROM ex GROUP BY 1""",
    "emb_centroid_drift" ->
      // per-(label, dim) means at ≤ labels·dim grain, drift reduced
      // on the aggregates; cosine/norms rounded (summation-order
      // class, abs error ~1e-13 — ORACLE_NOTES)
      """WITH ex AS (SELECT label, vec_id, unnest(embedding) AS v,
        |  unnest(generate_series(1, len(embedding))) AS dim
        | FROM embeddings),
        |ca AS (SELECT label, dim, avg(CAST(v AS DOUBLE)) AS m,
        |  count(*) AS n FROM ex WHERE vec_id % 2 = 0 GROUP BY 1, 2),
        |cb AS (SELECT label, dim, avg(CAST(v AS DOUBLE)) AS m,
        |  count(*) AS n FROM ex WHERE vec_id % 2 <> 0 GROUP BY 1, 2),
        |j AS (SELECT ca.label AS label, max(ca.n) AS n_a, max(cb.n) AS n_b,
        |  sum(ca.m * cb.m) AS dot, sum(ca.m * ca.m) AS na2,
        |  sum(cb.m * cb.m) AS nb2
        | FROM ca JOIN cb ON ca.label = cb.label AND ca.dim = cb.dim
        | GROUP BY 1)
        |SELECT label, n_a, n_b,
        | round(dot / (sqrt(na2) * sqrt(nb2)), 6) AS centroid_cosine,
        | round(sqrt(na2), 6) AS norm_a, round(sqrt(nb2), 6) AS norm_b
        |FROM j""",
    "emb_norm_profile" ->
      // the norm replays Spark's pinned left fold bit-for-bit:
      // list_prepend(0.0) = the explicit fold init, per-element
      // double cast before the multiply; min/max over bit-identical
      // doubles are exact, the mean alone is rounded (ORACLE_NOTES)
      """WITH n AS (SELECT label, CAST(len(embedding) AS INTEGER) AS dim,
        | sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
        |   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |  (a, b) -> a + b)) AS nrm
        |FROM embeddings)
        |SELECT label, count(*) AS n_vecs,
        | min(dim) AS min_dim, max(dim) AS max_dim,
        | min(nrm) AS min_norm, max(nrm) AS max_norm,
        | round(avg(nrm), 6) AS avg_norm,
        | CAST(sum(CASE WHEN nrm = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero
        |FROM n GROUP BY label""",
    "mm_blob_stats" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        | sha256(text) AS sha256, hex(substr(text, 1, 4)) AS magic_hex
        |FROM documents""",
    "mm_thumbnail" ->
      // the resize replayed from the pixel recipe: 2×2 block floored
      // channel means over the FNV pixels, summed over the 4×4 grid —
      // the Spark side's decode→average→encode→decode chain must
      // return exactly these integers (PNG lossless both ways)
      s"""WITH ${sampleHashCte("px", "doc_id, i")},
        |c AS (SELECT doc_id, i,
        |  CAST((h // 256) % 256 AS BIGINT) AS r,
        |  CAST((h // 65536) % 256 AS BIGINT) AS g,
        |  CAST((h // 16777216) % 256 AS BIGINT) AS b FROM px),
        |o AS (SELECT doc_id,
        |  ((i // 8) // 2) * 4 + ((i % 8) // 2) AS op,
        |  sum(r) // 4 AS orr, sum(g) // 4 AS og, sum(b) // 4 AS ob
        | FROM c GROUP BY 1, 2)
        |SELECT doc_id, CAST(4 AS INTEGER) AS width,
        | CAST(4 AS INTEGER) AS height,
        | CAST(sum(orr) AS BIGINT) AS sum_r,
        | CAST(sum(og) AS BIGINT) AS sum_g,
        | CAST(sum(ob) AS BIGINT) AS sum_b
        |FROM o GROUP BY 1""",
    "mm_decode_png" ->
      // replay of the synthesized PIXELS, never the codec: pixel i's
      // channels are shifted windows of FNV-1a("doc_id:i") (the
      // mm_pooled_topk HUGEINT fold over the ASCII bytes), and PNG's
      // losslessness means the Spark side's real encode→decode round
      // trip must return exactly these integers
      s"""WITH ${sampleHashCte("px", "doc_id")}
        |SELECT doc_id, CAST(8 AS INTEGER) AS width,
        | CAST(8 AS INTEGER) AS height,
        | CAST(sum((h // 256) % 256) AS BIGINT) AS sum_r,
        | CAST(sum((h // 65536) % 256) AS BIGINT) AS sum_g,
        | CAST(sum((h // 16777216) % 256) AS BIGINT) AS sum_b
        |FROM px GROUP BY 1""",
    "mm_phash_pairs" ->
      // EXHAUSTIVE all-pairs tail over the shared signature replay
      // (no candidate rule - the banded plan must be lossless)
      s"""WITH $phashSigCtes
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        | CAST(bit_count(xor(a.dhash, b.dhash)) AS INTEGER) AS hamming
        |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.dhash, b.dhash)) <= 6""",
    "mm_phash_groups" ->
      // recursive reachability closure over the exhaustive pair
      // relation: label = min id reachable through undirected edges
      s"""WITH RECURSIVE $phashSigCtes,
         |pp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
         |${minLabelCtes("pp")}
         |SELECT doc_id, group_id, doc_id = group_id AS keep
         |FROM lab""",
    "mm_phash_keep_best" ->
      // the groups closure + the best-copy window: rank = decoded
      // pixel count, replayed from the fixture recipe (r16: the
      // % 20 == 11 class is a 2× upscale, 256 px vs 64) — padded
      // restorations out-rank their smaller-id masters, so the rank
      // ORDERING itself is oracle-covered, not just the tie-break
      s"""WITH RECURSIVE $phashSigCtes,
         |pp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
         |${minLabelCtes("pp")},
         |rk AS (SELECT doc_id, group_id, rank_key,
         |  row_number() OVER (PARTITION BY group_id
         |    ORDER BY rank_key DESC, doc_id) AS rn
         | FROM (SELECT doc_id, group_id,
         |   CAST(CASE WHEN doc_id % 20 = 11 THEN 256 ELSE 64 END
         |    AS BIGINT) AS rank_key
         |   FROM lab) lr)
         |SELECT doc_id, group_id, rank_key, rn = 1 AS keep
         |FROM rk""",
    "mm_phash_incremental" ->
      // EXHAUSTIVE new-batch x store comparison over the shared
      // signature replay (no candidate rule — the banded plan must
      // be lossless); best match = min (hamming, store_id)
      s"""WITH $phashSigCtes,
        |nd AS (SELECT doc_id, dhash FROM sig WHERE doc_id % 5 = 1),
        |st AS (SELECT doc_id AS store_id, dhash FROM sig
        | WHERE doc_id % 5 <> 1),
        |p AS (SELECT nd.doc_id, st.store_id,
        |  CAST(bit_count(xor(nd.dhash, st.dhash)) AS INTEGER) AS hamming
        | FROM nd JOIN st ON bit_count(xor(nd.dhash, st.dhash)) <= 6),
        |$storeMatchSql""",
    "mm_phash_dedup" ->
      // per-blob summary tail: the keep decision over the same
      // exhaustive pair relation (keep = no smaller-id perceptual
      // dup), sim = 56 - hamming so bigger is more similar
      s"""WITH $phashSigCtes,
        |verified AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  56 - bit_count(xor(a.dhash, b.dhash)) AS sim
        | FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        | WHERE bit_count(xor(a.dhash, b.dhash)) <= 6),
        |${dupSidesCte("CAST(sim AS DOUBLE)")},
        |$dupPerdocCte
        |${dupKeepSql()}""",
    "mm_audio_sig_pairs" ->
      // exhaustive all-pairs definition, no candidate rule: the
      // banding is pigeonhole-lossless; samples replay the xxhash64
      // recipe (Xx64Sql step chain) with the scaled-copy rule,
      // sig = 63 sign-of-delta bits
      s"""WITH $audioSigCtes
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         | CAST(bit_count(xor(a.asig, b.asig)) AS INTEGER) AS hamming
         |FROM asg a JOIN asg b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.asig, b.asig)) <= 6""",
    "mm_audio_sig_dedup" ->
      // the pair-summary tail over the same exhaustive relation
      s"""WITH $audioSigCtes,
         |verified AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  63 - bit_count(xor(a.asig, b.asig)) AS sim
         | FROM asg a JOIN asg b ON a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.asig, b.asig)) <= 6),
         |${dupSidesCte("CAST(sim AS DOUBLE)")},
         |$dupPerdocCte
         |${dupKeepSql()}""",
    "mm_audio_sig_groups" ->
      // recursive reachability closure over the exhaustive pair
      // relation: label = min id reachable through undirected edges
      s"""WITH RECURSIVE $audioSigCtes,
         |pp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM asg a JOIN asg b ON a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.asig, b.asig)) <= 6),
         |${minLabelCtes("pp")}
         |SELECT doc_id, group_id, doc_id = group_id AS keep
         |FROM lab""",
    "mm_audio_keep_best" ->
      // the audio closure + the best-copy window: rank = decoded
      // sample count, replayed from the fixture recipe (r16: the
      // % 20 == 11 class is a 96-sample extended master vs 64) —
      // the longer restoration out-ranks its smaller-id source, so
      // the rank ORDERING itself is oracle-covered
      s"""WITH RECURSIVE $audioSigCtes,
         |pp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         | FROM asg a JOIN asg b ON a.doc_id < b.doc_id
         | WHERE bit_count(xor(a.asig, b.asig)) <= 6),
         |${minLabelCtes("pp")},
         |rk AS (SELECT doc_id, group_id, rank_key,
         |  row_number() OVER (PARTITION BY group_id
         |    ORDER BY rank_key DESC, doc_id) AS rn
         | FROM (SELECT doc_id, group_id,
         |   CAST(CASE WHEN doc_id % 20 = 11 THEN 96 ELSE 64 END
         |    AS BIGINT) AS rank_key
         |   FROM lab) lr)
         |SELECT doc_id, group_id, rank_key, rn = 1 AS keep
         |FROM rk""",
    "mm_audio_winnow_pairs" ->
      // exact fingerprint-match definition over the winnowed replay
      // (the production tier: shared-fingerprint equi-join, zero
      // Hamming slack — redundancy across O(n/wSel) fingerprints is
      // the robustness); buckets capped at the operator's 256
      // smallest ids (r15, mirroring the Spark-side maxBucket
      // guard); doc pairs fold to the shared count
      s"""WITH $audioWinnowCtes, $audioWinnowPairCte
         |SELECT id_a, id_b,
         | CAST(0 AS INTEGER) AS best_hamming,
         | CAST(count(*) AS BIGINT) AS n_shared
         |FROM wpair
         |GROUP BY 1, 2""",
    "mm_audio_winnow_dedup" ->
      // the pair-summary tail over the exact-match fingerprint pair
      // relation; score = shared count, keep = not dominated
      s"""WITH $audioWinnowCtes, $audioWinnowPairCte,
         |verified AS (SELECT id_a, id_b,
         |  CAST(count(*) AS DOUBLE) AS sim
         | FROM wpair
         | GROUP BY 1, 2),
         |${dupSidesCte("sim")},
         |$dupPerdocCte
         |${dupKeepSql("(SELECT DISTINCT doc_id FROM wsg) d")}""",
    "mm_audio_winnow_groups" ->
      // recursive reachability closure over the exact-match
      // fingerprint pair relation (capped buckets, the operator's
      // guard); label = min reachable id
      s"""WITH RECURSIVE $audioWinnowCtes, $audioWinnowPairCte,
         |pp AS (SELECT DISTINCT id_a, id_b FROM wpair),
         |${minLabelCtes("pp")}
         |SELECT doc_id, group_id, doc_id = group_id AS keep
         |FROM lab""",
    "mm_audio_winnow_keep_best" ->
      // same closure, longest-recording survivor: rank = the decoded
      // sample count the fixture VARIES in both directions (trims
      // shorter than their smaller-id master, extensions LONGER), so
      // the ordering itself is oracle-covered, ties to min id
      s"""WITH RECURSIVE $audioWinnowCtes, $audioWinnowPairCte,
         |pp AS (SELECT DISTINCT id_a, id_b FROM wpair),
         |${minLabelCtes("pp")}
         |SELECT l.doc_id, l.group_id,
         | CAST(w.n AS BIGINT) AS rank_key,
         | (row_number() OVER (PARTITION BY l.group_id
         |   ORDER BY w.n DESC, l.doc_id) = 1) AS keep
         |FROM lab l JOIN wdn w USING (doc_id)""",
    "mm_phash_winnow_pairs" ->
      // exact tile-fingerprint-match definition over the crop-fixture
      // winnowed replay (capped buckets, the operator's guard); doc
      // pairs fold to the shared-fingerprint count
      s"""WITH $imageWinnowCtes
         |SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared
         |FROM ipair GROUP BY 1, 2""",
    "mm_phash_winnow_dedup" ->
      // the pair-summary tail over the crop pair relation
      s"""WITH $imageWinnowCtes,
         |verified AS (SELECT id_a, id_b,
         |  CAST(count(*) AS DOUBLE) AS sim
         | FROM ipair GROUP BY 1, 2),
         |${dupSidesCte("sim")},
         |$dupPerdocCte
         |${dupKeepSql("(SELECT DISTINCT doc_id FROM iwsg) d")}""",
    "mm_phash_winnow_groups" ->
      // recursive reachability closure over the crop pair relation
      s"""WITH RECURSIVE $imageWinnowCtes,
         |pp AS (SELECT DISTINCT id_a, id_b FROM ipair),
         |${minLabelCtes("pp")}
         |SELECT doc_id, group_id, doc_id = group_id AS keep
         |FROM lab""",
    "mm_phash_winnow_keep_best" ->
      // same closure, highest-resolution survivor: rank = the
      // decoded pixel count the fixture VARIES in both directions
      // (crops smaller than their smaller-id masters, padded
      // restorations LARGER), so the ordering itself is
      // oracle-covered, ties to min id
      s"""WITH RECURSIVE $imageWinnowCtes,
         |pp AS (SELECT DISTINCT id_a, id_b FROM ipair),
         |${minLabelCtes("pp")},
         |iwn AS (SELECT DISTINCT doc_id,
         |  CAST(w AS BIGINT) * w AS px FROM iw0)
         |SELECT l.doc_id, l.group_id, iwn.px AS rank_key,
         | (row_number() OVER (PARTITION BY l.group_id
         |   ORDER BY iwn.px DESC, l.doc_id) = 1) AS keep
         |FROM lab l JOIN iwn USING (doc_id)""",
    "mm_phash_winnow_incremental" ->
      // exact new-fingerprints x store match; n_matches = distinct
      // store docs sharing a tile fingerprint, best = min store_id
      s"""WITH $imageWinnowCtes,
         |nd AS (SELECT doc_id, fp FROM iwsg WHERE doc_id % 5 = 1),
         |st AS (SELECT doc_id AS store_id, fp AS sfp FROM iwsg
         | WHERE doc_id % 5 <> 1),
         |p AS (SELECT DISTINCT nd.doc_id, st.store_id
         | FROM nd JOIN st ON st.sfp = nd.fp),
         |${exactStoreMatchSql()}""",
    "mm_audio_winnow_incremental" ->
      // exact new-fingerprints x store match (the production tier);
      // n_matches = distinct store docs sharing a fingerprint, best
      // match = min store_id (every match is exact, hamming 0)
      s"""WITH $audioWinnowCtes,
         |nd AS (SELECT doc_id, wsig FROM wsg WHERE doc_id % 5 = 1),
         |st AS (SELECT doc_id AS store_id, wsig AS swsig FROM wsg
         | WHERE doc_id % 5 <> 1),
         |p AS (SELECT DISTINCT nd.doc_id, st.store_id
         | FROM nd JOIN st ON st.swsig = nd.wsig),
         |${exactStoreMatchSql(
           "CAST(CASE WHEN a.n_matches IS NULL THEN -1 ELSE 0 END AS INTEGER) AS best_hamming,")}""",
    "mm_audio_sig_incremental" ->
      // EXHAUSTIVE new-batch x store comparison over the xxhash64
      // signature replay (no candidate rule); best match =
      // min (hamming, store_id)
      s"""WITH $audioSigCtes,
        |nd AS (SELECT doc_id, asig FROM asg WHERE doc_id % 5 = 1),
        |st AS (SELECT doc_id AS store_id, asig FROM asg
        | WHERE doc_id % 5 <> 1),
        |p AS (SELECT nd.doc_id, st.store_id,
        |  CAST(bit_count(xor(nd.asig, st.asig)) AS INTEGER) AS hamming
        | FROM nd JOIN st ON bit_count(xor(nd.asig, st.asig)) <= 6),
        |$storeMatchSql""",
    "mm_decode_wav" ->
      // replay of the synthesized SAMPLES, never the codec: sample i
      // is the sign-extended low-16 window of FNV-1a("doc_id:i")
      // (same HUGEINT fold as mm_decode_png), and PCM WAV's
      // losslessness means the Spark side's real encode→decode round
      // trip must return exactly these integers
      s"""WITH ${sampleHashCte("sm", "doc_id")},
        |v AS (SELECT doc_id,
        |  $sample16Sql AS smp
        | FROM sm)
        |${monoSampleStats(8000)}""",
    "mm_audio_decimate" ->
      // the resample replayed from the sample recipe: keep i % 2 = 0,
      // half the rate — the Spark side's decode→decimate→encode→
      // decode chain must return exactly these integers
      s"""WITH ${sampleHashCte("sm", "doc_id, i")},
        |v AS (SELECT doc_id,
        |  $sample16Sql AS smp
        | FROM sm WHERE i % 2 = 0)
        |${monoSampleStats(4000)}""",
    "mm_audio_features" ->
      // same sample replay as mm_decode_wav, with per-sample index
      // kept for the lag-based zero-crossing count; Σv² is an exact
      // long and rms one sqrt of one exact division, so even the
      // float column is bit-stable
      s"""WITH ${sampleHashCte("sm", "doc_id, i")},
        |v AS (SELECT doc_id, i,
        |  CAST($sample16Sql AS BIGINT) AS smp
        | FROM sm),
        |f AS (SELECT doc_id, smp,
        |  lag(smp) OVER (PARTITION BY doc_id ORDER BY i) AS prev
        | FROM v)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_samples,
        | sqrt(CAST(sum(smp * smp) AS DOUBLE) / count(*)) AS rms,
        | CAST(max(abs(smp)) AS BIGINT) AS peak_abs,
        | CAST(sum(CASE WHEN prev IS NOT NULL
        |   AND ((smp >= 0) != (prev >= 0)) THEN 1 ELSE 0 END) AS BIGINT)
        |  AS zero_crossings
        |FROM f GROUP BY 1""",
    "mm_type_summary" ->
      """SELECT hex(substr(text, 1, 2)) AS magic2, count(*) AS n_blobs,
        | CAST(sum(length(text)) AS BIGINT) AS total_bytes,
        | CAST(min(length(text)) AS BIGINT) AS min_bytes,
        | CAST(max(length(text)) AS BIGINT) AS max_bytes
        |FROM documents GROUP BY 1""",
    "mm_blob_policy" ->
      // byte_share is ONE division of two exact longs — replays
      // bit-for-bit, so the threshold CASE needs no rounding
      """WITH t AS (SELECT hex(substr(text, 1, 2)) AS magic2,
        |  count(*) AS n_blobs,
        |  CAST(sum(length(text)) AS BIGINT) AS total_bytes
        | FROM documents GROUP BY 1)
        |SELECT magic2, n_blobs, total_bytes,
        | CAST(total_bytes AS DOUBLE)
        |  / CAST(CAST(sum(total_bytes) OVER () AS BIGINT) AS DOUBLE)
        |  AS byte_share,
        | CASE WHEN n_blobs < 3 THEN 'drop'
        |  WHEN CAST(total_bytes AS DOUBLE)
        |   / CAST(CAST(sum(total_bytes) OVER () AS BIGINT) AS DOUBLE) > 0.25
        |  THEN 'cap' ELSE 'keep' END AS action
        |FROM t""",
    "mm_frame_sample" ->
      s"""SELECT doc_id, CAST(i AS BIGINT) AS frame_idx,
        | CAST(i * 128 AS BIGINT) AS byte_offset,
        | CAST(length(substr(text, i * 128 + 1, 64)) AS BIGINT) AS frame_len,
        | md5(substr(text, i * 128 + 1, 64)) AS frame_md5
        |$framesFromSql""",
    "mm_scene_cuts" ->
      s"""WITH $sceneLumaCtes
          |SELECT doc_id, frame_idx, round(pml, 6) AS prev_luma,
          | round(ml, 6) AS luma, round(abs(ml - pml), 6) AS delta
          |FROM d WHERE pml IS NOT NULL AND abs(ml - pml) > 6.0""",
    "mm_shot_stats" ->
      s"""WITH $sceneLumaCtes
          |SELECT doc_id, count(*) AS n_frames,
          | CAST(sum(CASE WHEN pml IS NOT NULL AND abs(ml - pml) > 6.0
          |  THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
          | CAST(sum(CASE WHEN pml IS NOT NULL AND abs(ml - pml) > 6.0
          |  THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_shots,
          | round(count(*) / (sum(CASE WHEN pml IS NOT NULL
          |   AND abs(ml - pml) > 6.0 THEN 1 ELSE 0 END) + 1.0), 6)
          |  AS avg_shot_len
          |FROM d GROUP BY 1""",
    "mm_keyframe_sample" ->
      s"""WITH $sceneLumaCtes
          |SELECT doc_id, frame_idx,
          | row_number() OVER (PARTITION BY doc_id ORDER BY frame_idx)
          |  - 1 AS shot_idx,
          | round(ml, 6) AS luma
          |FROM d WHERE frame_idx = 0
          | OR (pml IS NOT NULL AND abs(ml - pml) > 6.0)""",
    "mm_chunk_dedup" ->
      s"""SELECT frame_md5, count(DISTINCT doc_id) AS n_docs,
        | count(*) AS n_occurrences, min(doc_id) AS first_doc_id
        |FROM (SELECT doc_id, md5(substr(text, i * 128 + 1, 64)) AS frame_md5
        |  $framesFromSql) f
        |GROUP BY frame_md5 HAVING count(DISTINCT doc_id) > 1""",
    "q_segment_migration" ->
      """WITH a AS (SELECT o_custkey,
        |  CASE WHEN count(*) = 1 THEN 'one_time'
        |       WHEN count(*) <= 3 THEN 'repeat' ELSE 'loyal' END AS tier_from
        | FROM orders WHERE year(o_orderdate) = 1995 GROUP BY 1),
        |b AS (SELECT o_custkey,
        |  CASE WHEN count(*) = 1 THEN 'one_time'
        |       WHEN count(*) <= 3 THEN 'repeat' ELSE 'loyal' END AS tier_to
        | FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1),
        |m AS (SELECT coalesce(tier_from, 'absent') AS tier_from,
        |  coalesce(tier_to, 'absent') AS tier_to, count(*) AS n_customers
        | FROM a FULL OUTER JOIN b USING (o_custkey) GROUP BY 1, 2)
        |SELECT tier_from, tier_to, n_customers,
        | round(CAST(n_customers AS DOUBLE)
        |  / CAST(sum(n_customers) OVER (PARTITION BY tier_from) AS DOUBLE), 6)
        |  AS from_share
        |FROM m""",
    "q_rfm_segments" ->
      // quintile cuts via quantile_cont (≡ Spark percentile); score =
      // 1 + #(cuts strictly below), recency inverted
      """WITH per AS (SELECT o_custkey,
        |  CAST(date_diff('day', max(o_orderdate),
        |   (SELECT max(o_orderdate) FROM orders)) AS BIGINT) AS recency_days,
        |  count(*) AS frequency, sum(o_totalprice) AS monetary
        | FROM orders GROUP BY 1),
        |c AS (SELECT
        |  quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rc,
        |  quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fc,
        |  quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mc FROM per)
        |SELECT o_custkey, recency_days, frequency, monetary,
        | 5 - ((recency_days > rc[1])::BIGINT + (recency_days > rc[2])::BIGINT
        |   + (recency_days > rc[3])::BIGINT + (recency_days > rc[4])::BIGINT)
        |  AS r_score,
        | 1 + ((frequency > fc[1])::BIGINT + (frequency > fc[2])::BIGINT
        |   + (frequency > fc[3])::BIGINT + (frequency > fc[4])::BIGINT)
        |  AS f_score,
        | 1 + ((monetary > mc[1])::BIGINT + (monetary > mc[2])::BIGINT
        |   + (monetary > mc[3])::BIGINT + (monetary > mc[4])::BIGINT)
        |  AS m_score,
        | (5 - ((recency_days > rc[1])::BIGINT + (recency_days > rc[2])::BIGINT
        |   + (recency_days > rc[3])::BIGINT + (recency_days > rc[4])::BIGINT)) * 100
        |  + (1 + ((frequency > fc[1])::BIGINT + (frequency > fc[2])::BIGINT
        |   + (frequency > fc[3])::BIGINT + (frequency > fc[4])::BIGINT)) * 10
        |  + (1 + ((monetary > mc[1])::BIGINT + (monetary > mc[2])::BIGINT
        |   + (monetary > mc[3])::BIGINT + (monetary > mc[4])::BIGINT)) AS rfm
        |FROM per, c""",
    "q_basket_affinity" ->
      // distinct parts per order, giant-order guard (≤20 parts),
      // unordered pair counts with support ≥ 2
      """WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |small AS (SELECT l_orderkey FROM po
        | GROUP BY 1 HAVING count(*) <= 20),
        |g AS (SELECT po.l_orderkey, po.l_partkey FROM po
        | JOIN small USING (l_orderkey))
        |SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        | count(*) AS n_orders_together
        |FROM g a JOIN g b ON a.l_orderkey = b.l_orderkey
        | AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 HAVING count(*) >= 2""",
    "q_basket_rules" ->
      // directed confidence/lift over the same guarded pairs
      """WITH po AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |small AS (SELECT l_orderkey FROM po
        | GROUP BY 1 HAVING count(*) <= 20),
        |g AS (SELECT po.l_orderkey, po.l_partkey FROM po
        | JOIN small USING (l_orderkey)),
        |tot AS (SELECT count(DISTINCT l_orderkey) AS n_orders FROM g),
        |pc AS (SELECT l_partkey, count(*) AS n_orders_part FROM g GROUP BY 1),
        |pr AS (SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
        |  count(*) AS n_together
        | FROM g a JOIN g b ON a.l_orderkey = b.l_orderkey
        |  AND a.l_partkey < b.l_partkey
        | GROUP BY 1, 2 HAVING count(*) >= 2),
        |dir AS (SELECT part_a AS antecedent, part_b AS consequent, n_together FROM pr
        | UNION ALL
        | SELECT part_b, part_a, n_together FROM pr)
        |SELECT d.antecedent, d.consequent, d.n_together,
        | CAST(d.n_together AS DOUBLE) / pa.n_orders_part AS confidence,
        | CAST(d.n_together AS DOUBLE) * tot.n_orders
        |  / (pa.n_orders_part * pb.n_orders_part) AS lift
        |FROM dir d JOIN pc pa ON pa.l_partkey = d.antecedent
        | JOIN pc pb ON pb.l_partkey = d.consequent, tot""",
    "q_priority_mix" ->
      """SELECT date_trunc('month', o_orderdate) AS month, o_orderpriority,
        | count(*) AS num_orders, sum(o_totalprice) AS revenue
        |FROM orders GROUP BY date_trunc('month', o_orderdate), o_orderpriority""",
    "stream_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        | count(*) AS num_events, sum(value) AS total_value
        |FROM events GROUP BY date_trunc('hour', ts), event_type""",
    "stream_dedup" ->
      """SELECT event_id, ts, user_id, event_type, value FROM events
        |QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY ts) = 1""",
    "stream_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        | p.value AS purchase_value, c.event_id AS click_id, c.ts AS click_ts
        |FROM events p JOIN events c
        | ON p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.user_id = p.user_id AND c.ts <= p.ts
        | AND c.ts >= p.ts - INTERVAL 30 MINUTE""",
    "q_min_cost_supplier" ->
      """WITH ps AS (
        | SELECT l_partkey, l_suppkey,
        |  min(l_extendedprice / l_quantity) AS min_unit_price
        | FROM lineitem GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (
        |  PARTITION BY l_partkey ORDER BY min_unit_price, l_suppkey) AS rn FROM ps)
        |SELECT p_partkey, p_name, s_suppkey, s_name, min_unit_price
        |FROM r JOIN part ON l_partkey = p_partkey
        | JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rn = 1""",
    "q_nation_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        | year(l_shipdate) AS ship_year,
        | sum(l_extendedprice * (1 - l_discount)) AS volume
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation sn ON s_nationkey = sn.n_nationkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3""",
    "q_important_parts" ->
      """WITH pp AS (SELECT l_partkey,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) *
        |    (100 - CAST(round(l_discount * 100) AS BIGINT)))
        |   AS DOUBLE) / 10000.0 AS revenue
        | FROM lineitem GROUP BY 1),
        |m AS (SELECT avg(revenue) AS mean_revenue FROM pp)
        |SELECT p_partkey, p_name, p_brand, revenue
        |FROM pp CROSS JOIN m JOIN part ON l_partkey = p_partkey
        |WHERE revenue > 1.5 * mean_revenue""",
    "q_large_orders" ->
      """WITH s AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
        | FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 200)
        |SELECT o_orderkey, c_custkey, c_name, o_orderdate, o_totalprice, sum_qty
        |FROM orders JOIN s ON o_orderkey = l_orderkey
        | JOIN customer ON o_custkey = c_custkey""",
    "q_window_features" ->
      """SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
        | lead(o_totalprice) OVER w AS next_price,
        | percent_rank() OVER w AS pct_rank,
        | cume_dist() OVER w AS cume_dist,
        | first_value(o_orderdate) OVER wf AS first_order_date,
        | last_value(o_orderdate) OVER wf AS last_order_date
        |FROM orders WINDOW
        | w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
        | wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
    "sample_stratified" ->
      """SELECT doc_id, source, lang FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':s42'), 1, 8) <
        | CASE source WHEN 'src0' THEN '80000000' WHEN 'src1' THEN '0ccccccc'
        |  ELSE '40000000' END""",
    "events_heavy_hitters" ->
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
        | FROM events GROUP BY 1)
        |SELECT user_id, n_events FROM c
        |WHERE n_events > (SELECT avg(n_events) * 1.25 FROM c)""",
    "stream_rtbf_gate" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events WHERE user_id % 53 <> 3""",
    "stream_enrich" ->
      """SELECT c_mktsegment, event_type, count(*) AS n_events,
        | sum(value) AS total_value
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY 1, 2""",
    "docs_curate" ->
      s"""WITH ${curateCtes("0.2", 97)}
        |SELECT d.doc_id, d.lang, d.source, d.n_chars FROM documents d
        |WHERE d.doc_id IN (SELECT doc_id FROM dd)
        | AND d.doc_id % 97 <> 0
        | AND d.doc_id NOT IN (SELECT doc_id FROM cont)""",
    "docs_curate_full" ->
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
          |WHERE cum_excl < 5000"""),
    "docs_curate_funnel" ->
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
          |FROM counts"""),
    "docs_token_budget" ->
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
          |WHERE cum_excl < 10000"""),
    "stream_intake_gate" -> {
      // every intake gate composed over the INTAKE fixture (raw
      // text + per-doc-unique stop-word tails, lined): quality score
      // bounds + benchmark slice + any-gram decontamination, the 20
      // Gopher thresholds (profile chains over the lined fixture),
      // and the corpus-duplication fraction vs the fixture-built
      // store. The LINED text is the corpus (t2/txt), so every rule
      // tokenizes the same stream the operator sees.
      val tailSql = operators.TextAnalysis.GopherQualityStopWords.zipWithIndex
        .map { case (w, i) =>
          s"' $w s' || CAST(doc_id AS VARCHAR) || 'x$i'" }
        .mkString(" || ")
      s"""WITH qd2 AS (SELECT doc_id, source,
          |  text || $tailSql AS text FROM documents),
          |${linedCtesFrom("qd2")},
          |$gopherFlagCtes,
          |lt AS (SELECT t2.doc_id, txt.text, t2.toks
          | FROM t2 JOIN txt USING (doc_id)),
          |sc AS (SELECT doc_id,
          |  CAST(len(toks) AS BIGINT) AS n_tokens,
          |  ${qualityScoreSql} FROM lt),
          |dgr AS (SELECT doc_id, unnest(list_distinct($trigramsSql)) AS gram FROM lt),
          |dbench AS (SELECT DISTINCT gram FROM dgr WHERE doc_id % 97 = 0),
          |${ngramCoverCtes("lt")},
          |cc AS (SELECT c.doc_id,
          |  CAST(sum(length(lt.toks[c.p + 1])) AS BIGINT) AS dup_chars
          | FROM cpos c JOIN lt USING (doc_id) GROUP BY c.doc_id)
          |SELECT sc.doc_id, d.source FROM sc
          |JOIN documents d ON d.doc_id = sc.doc_id
          |JOIN rtc ON rtc.doc_id = sc.doc_id
          |LEFT JOIN cc ON cc.doc_id = sc.doc_id
          |WHERE sc.n_tokens >= 20 AND sc.n_tokens <= 100000
          | AND sc.quality_score >= 0.2
          | AND sc.doc_id % 97 <> 0
          | AND sc.doc_id NOT IN (SELECT c.doc_id FROM dgr c
          |   JOIN dbench USING (gram))
          | AND sc.doc_id NOT IN (SELECT doc_id FROM gflag)
          | AND (CASE WHEN rtc.tok_chars > 0 THEN
          |   CAST(coalesce(cc.dup_chars, 0) AS BIGINT) / rtc.tok_chars
          |   ELSE 0.0 END) <= 0.5"""
    },
    "stream_curate_gate" ->
      // the stateless curation prefix: quality band + benchmark-slice
      // exclusion + any-gram decontamination (no dedup stage)
      (toksCte +
        s""", sc AS (SELECT doc_id,
          |  CAST(len(toks) AS BIGINT) AS n_tokens,
          |  ${qualityScoreSql} FROM t),
          |g AS (SELECT doc_id, unnest(list_distinct($trigramsSql)) AS gram FROM t),
          |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0)
          |SELECT doc_id, n_tokens, quality_score FROM sc
          |WHERE n_tokens >= 20 AND n_tokens <= 100000 AND quality_score >= 0.2
          | AND doc_id % 97 <> 0
          | AND doc_id NOT IN (SELECT c.doc_id FROM g c JOIN bench USING (gram))"""),
    "docs_context_chunks" ->
      // window=32, stride=24; chunk count 1 + ceil(max(0,n-32)/24)
      (toksCte +
        """ SELECT doc_id, CAST(i AS BIGINT) AS chunk_idx,
          |  CAST(i * 24 AS BIGINT) AS start_token,
          |  CAST(len(toks[i * 24 + 1 : i * 24 + 32]) AS BIGINT) AS n_tokens,
          |  md5(array_to_string(toks[i * 24 + 1 : i * 24 + 32], ' ')) AS chunk_md5
          |FROM t, LATERAL (SELECT unnest(range(
          |  CASE WHEN len(toks) = 0 THEN 0
          |   ELSE 1 + ((greatest(0, len(toks) - 32) + 23) // 24) END)) AS i) g"""),
    "docs_curate_capped" ->
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
        |WHERE rank_in_source <= 10""",
    "docs_curate_manifest" ->
      s"""WITH ${curateCtes("0.2", 97)}
        |SELECT source,
        | CASE WHEN doc_id NOT IN (SELECT doc_id FROM q) THEN 'quality'
        |      WHEN doc_id NOT IN (SELECT doc_id FROM dd) THEN 'duplicate'
        |      WHEN doc_id % 97 = 0 THEN 'benchmark'
        |      WHEN doc_id IN (SELECT doc_id FROM cont) THEN 'contaminated'
        |      ELSE 'kept' END AS reason,
        | count(*) AS n_docs
        |FROM documents GROUP BY 1, 2""",
    "text_decontaminate" ->
      s"""WITH ${toksCteAs("t", "doc_id")},
        |g AS (SELECT doc_id, unnest(list_distinct($trigramsSql)) AS gram FROM t),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id % 97 = 0),
        |corpus AS (SELECT doc_id, gram FROM g WHERE doc_id % 97 <> 0)
        |SELECT doc_id, count(*) AS n_overlap
        |FROM corpus JOIN bench USING (gram) GROUP BY 1""",
    "docs_contamination_by_source" ->
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
        |GROUP BY d.source""",
    "events_key_skew" ->
      """WITH c AS (SELECT user_id AS key, count(*) AS n_rows
        |  FROM events GROUP BY 1),
        |s AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(n_rows) AS BIGINT) AS n_rows_total,
        |  CAST(max(n_rows) AS BIGINT) AS max_rows FROM c)
        |SELECT n_keys, n_rows_total, max_rows,
        | (SELECT min(key) FROM c WHERE n_rows = s.max_rows) AS top_key,
        | round(CAST(n_rows_total AS DOUBLE) / n_keys, 6) AS avg_rows,
        | round(CAST(max_rows * n_keys AS DOUBLE) / n_rows_total, 6) AS skew_ratio
        |FROM s""",
    "sample_poisson_k" ->
      """WITH r AS (SELECT doc_id,
        |  (CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':p42'), 1, 8)
        |    AS BIGINT) + 1.0) / 4294967296.0 / n_chars AS xi
        | FROM documents WHERE n_chars > 0)
        |SELECT CAST(row_number() OVER (ORDER BY xi, doc_id) AS BIGINT)
        |  AS sample_rank, doc_id, xi
        |FROM r QUALIFY sample_rank <= 100""",
    "sample_weighted" ->
      """SELECT doc_id, source, n_chars FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR) || ':w42'), 1, 8) <
        | CASE WHEN least(1.0, n_chars / 2000.0) >= 1.0 THEN 'g'
        |  ELSE printf('%08x',
        |   CAST(floor(greatest(least(1.0, n_chars / 2000.0), 0.0) * 4294967296)
        |    AS BIGINT)) END""",
    "stream_heavy_hitters" ->
      "SELECT user_id, count(*) AS n_events FROM events GROUP BY 1",
    "stream_impact_join" ->
      """SELECT e.event_id AS window_id, p.event_id AS event_id,
        | p.event_type
        |FROM events e JOIN events p
        | ON p.user_id = e.user_id
        |  AND p.ts >= e.ts AND p.ts < e.ts + INTERVAL 300 SECONDS
        |WHERE e.event_type = 'error'""",
    "q_profit_nation_year" ->
      """SELECT n_name AS nation,
        | CAST(year(CAST(o_orderdate AS DATE)) AS BIGINT) AS o_year,
        | sum(l_extendedprice * (1 - l_discount)) AS profit
        |FROM lineitem
        | JOIN part ON p_partkey = l_partkey AND p_type = 'STANDARD'
        | JOIN supplier ON s_suppkey = l_suppkey
        | JOIN nation ON n_nationkey = s_nationkey
        | JOIN orders ON o_orderkey = l_orderkey
        |GROUP BY 1, 2""",
    "q_interval_join" ->
      """SELECT e.event_id AS window_id, p.event_type,
        | count(*) AS n_events
        |FROM events e JOIN events p
        | ON p.ts >= e.ts AND p.ts < e.ts + INTERVAL 300 SECONDS
        |WHERE e.event_type = 'error'
        |GROUP BY 1, 2""",
    "docs_curate_mixture" ->
      // curate's survivor set (same CTE chain as docs_curate), then
      // the mixture rate derivation REPLAYED OVER THE CURATED COUNTS
      s"""WITH ${curateCtes("0.05", 997)},
        |${curCte(997)},
        |${mixtureSampleSql("cur", "c")}""",
    "docs_curate_temperature" ->
      // curate's survivor set (same CTE chain as docs_curate_mixture),
      // then the τ=1/2 temperature rate derivation REPLAYED OVER THE
      // CURATED COUNTS — sqrt(n_min/n) is a single correctly-rounded
      // IEEE op, so the rates (and the selected set) are engine-exact
      s"""WITH ${curateCtes("0.05", 997)},
        |${curCte(997)},
        |${temperatureSampleSql("cur", "c")}""",
    "sample_mixture" ->
      s"""WITH ${mixtureSampleSql("documents", "d")}""",
    "sample_temperature" ->
      s"""WITH ${temperatureSampleSql("documents", "d")}""",
    "text_chunk_dedup" ->
      s"""WITH ${toksCteAs("t", "doc_id")},
        |c AS (SELECT doc_id, unnest(CASE WHEN len(toks) >= 8
        |  THEN list_transform(range(1, len(toks) - 6, 8),
        |   i -> md5(array_to_string(toks[i:i+7], ' ')))
        |  ELSE CAST([] AS VARCHAR[]) END) AS chunk_md5 FROM t)
        |SELECT chunk_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | count(*) AS n_occurrences
        |FROM c GROUP BY 1 HAVING count(DISTINCT doc_id) > 1""",
    "text_winnow_dedup" ->
      // front half shared with the r16 ML-erasure oracles (winnowFpCtes)
      s"""WITH $winnowFpCtes
        |SELECT fp, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
        | count(*) AS n_occurrences
        |FROM w GROUP BY 1 HAVING count(DISTINCT doc_id) > 1""",
    "text_winnow_pairs" ->
      // front half shared with the r16 ML-erasure oracles (winnowFpCtes)
      s"""WITH $winnowFpCtes,
        |d AS (SELECT fp FROM w GROUP BY fp
        |  HAVING count(*) BETWEEN 2 AND 64)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
        |FROM w a JOIN d ON a.fp = d.fp JOIN w b ON b.fp = a.fp
        |WHERE a.doc_id < b.doc_id
        |GROUP BY 1, 2 HAVING count(*) >= 2""",
    "split_kfold" ->
      // 5 equal hex-range cuts of md5(doc_id || ':cv42')
      """SELECT doc_id, source,
        | CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':cv42'), 1, 8)
        |        < '33333333' THEN 0
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':cv42'), 1, 8)
        |        < '66666666' THEN 1
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':cv42'), 1, 8)
        |        < '99999999' THEN 2
        |      WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':cv42'), 1, 8)
        |        < 'cccccccc' THEN 3
        |      ELSE 4 END::BIGINT AS fold
        |FROM documents""",
    "split_stratified" ->
      // same portable md5 rank; quota cuts floor(cum·n) with the
      // IEEE-exact cumulative literals 0.8 / 0.9
      """WITH r AS (SELECT doc_id, source,
        | CAST(row_number() OVER (PARTITION BY source
        |   ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':strat42'), 1, 8),
        |    doc_id) AS BIGINT) AS rk,
        | count(*) OVER (PARTITION BY source) AS n
        |FROM documents)
        |SELECT doc_id, source,
        | CASE WHEN rk <= floor(0.8 * n) THEN 'train'
        |      WHEN rk <= floor(0.9 * n) THEN 'val'
        |      ELSE 'test' END AS split
        |FROM r""",
    "split_assign_md5" ->
      s"""SELECT doc_id,
        | $md5SplitSql
        |FROM documents""",
    "split_leakage_pairs" ->
      // verified blocked pairs labeled by the md5 split; least/
      // greatest normalizes the edge, O(splits²) output
      (blockedPairsCte +
        s""", asg AS (SELECT doc_id,
          | $md5SplitSql
          | FROM documents),
          |lab AS (SELECT least(a.split, b.split) AS sa,
          |  greatest(a.split, b.split) AS sb
          | FROM m JOIN asg a ON a.doc_id = m.id_a
          |  JOIN asg b ON b.doc_id = m.id_b),
          |lg AS (SELECT sa, sb, count(*) AS n_pairs FROM lab GROUP BY 1, 2),
          |lt AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS total FROM lg)
          |SELECT sa AS split_a, sb AS split_b, n_pairs,
          | sa <> sb AS cross_split,
          | round(CAST(n_pairs AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share
          |FROM lg, lt"""),
    "split_group_assign" ->
      // md5 of the GROUP value: every doc of a source shares the
      // split; 0.6/0.2/0.2 cuts = floor(w·16^8) hex thresholds
      """SELECT doc_id, source,
        | CASE WHEN substring(md5(source || ':gsplit42'), 1, 8)
        |        < '99999999' THEN 'train'
        |      WHEN substring(md5(source || ':gsplit42'), 1, 8)
        |        < 'cccccccc' THEN 'val'
        |      ELSE 'test' END AS split
        |FROM documents""",
    "docs_ngram_diversity" ->
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
        |FROM j GROUP BY 1""",
    "docs_interleave_order" ->
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
        |FROM r JOIN s ON r.source = s.source""",
    "docs_shuffle_shard" ->
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
        |FROM s""",
    "q_forecast_revenue" ->
      """SELECT CAST(year(CAST(l_shipdate AS DATE)) AS BIGINT) AS ship_year,
        | sum(l_extendedprice * l_discount) AS forecast_revenue,
        | count(*) AS n_lines
        |FROM lineitem
        |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
        |GROUP BY 1""",
    "q_customer_distribution" ->
      """SELECT c_count, count(*) AS custdist FROM (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        | GROUP BY 1) pc
        |GROUP BY 1""",
    "q_priority_check" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
        |GROUP BY 1""",
    "q_promo_share" ->
      """SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE) AS ship_month,
        | sum(CASE WHEN p_type = 'PROMO'
        |   THEN l_extendedprice * (1 - l_discount) ELSE 0 END) AS promo_revenue,
        | sum(l_extendedprice * (1 - l_discount)) AS total_revenue,
        | round(sum(CASE WHEN p_type = 'PROMO'
        |   THEN l_extendedprice * (1 - l_discount) ELSE 0 END) /
        |  sum(l_extendedprice * (1 - l_discount)), 6) AS promo_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""",
    "q_disjunctive_revenue" ->
      """SELECT p_brand,
        | sum(l_extendedprice * (1 - l_discount)) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)
        |GROUP BY 1""",
    "q_sole_blame_supplier" ->
      """WITH per AS (
        | SELECT l_orderkey, l_suppkey,
        |  max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS has_return
        | FROM lineitem GROUP BY 1, 2),
        |flagged AS (
        | SELECT l_suppkey, has_return,
        |  count(*) OVER (PARTITION BY l_orderkey) AS n_suppliers,
        |  sum(has_return) OVER (PARTITION BY l_orderkey) AS n_with_returns
        | FROM per)
        |SELECT s_suppkey, s_name, count(*) AS numwait
        |FROM flagged JOIN supplier ON l_suppkey = s_suppkey
        |WHERE has_return = 1 AND n_suppliers > 1 AND n_with_returns = 1
        |GROUP BY 1, 2
        |ORDER BY numwait DESC, s_suppkey ASC LIMIT 100""",
    "q_idle_rich_customers" ->
      """SELECT c_mktsegment, count(*) AS n_customers,
        | sum(c_acctbal) AS total_acctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        |  AND NOT EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey AND o_orderdate >= DATE '2000-01-01')
        |GROUP BY 1""",
    "q_returned_customers" ->
      """WITH rev AS (
        | SELECT o_custkey,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        | WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT c_custkey, c_name, n_name, c_acctbal, revenue
        |FROM rev JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""",
    "sample_uniform_k" ->
      """WITH r AS (SELECT source, doc_id, row_number() OVER (
        |  PARTITION BY source
        |  ORDER BY substring(md5(CAST(doc_id AS VARCHAR) || ':s42'), 1, 8), doc_id
        | ) AS sample_rank FROM documents)
        |SELECT source, CAST(sample_rank AS BIGINT) AS sample_rank, doc_id
        |FROM r WHERE sample_rank <= 5""",
    "docs_padding_efficiency" ->
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
        |FROM b GROUP BY padded_len""",
    "docs_source_cap" ->
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
          |WHERE rank_in_source <= 10"""),
    "sketch_compact" ->
      """SELECT date_trunc('month', CAST(ts AS DATE)) AS month, event_type,
        | count(DISTINCT CAST(ts AS DATE)) AS n_day_rows,
        | count(*) AS n_events
        |FROM events GROUP BY 1, 2""",
    "docs_pack_sequences" ->
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
        |FROM c GROUP BY 1""",
    "text_tfidf_top3" ->
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
          |FROM r WHERE term_rank <= 3"""),
    "text_length_histogram" ->
      """WITH d AS (SELECT lang,
        |  CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> ''))
        |   AS BIGINT) AS n_tokens
        | FROM documents)
        |SELECT lang, n_tokens // 16 AS bucket, count(*) AS n_docs,
        | CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        | min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
        |FROM d GROUP BY 1, 2""",
    "text_lm_score" ->
      (toksCte +
        """, p AS (SELECT doc_id,
          |  unnest(toks[1:len(toks)-1]) AS w1, unnest(toks[2:len(toks)]) AS w2
          | FROM t WHERE len(toks) >= 2),
          |b AS (SELECT w1, w2, count(*) AS c_bigram FROM p GROUP BY 1, 2),
          |f AS (SELECT w1, count(*) AS c_first FROM p GROUP BY 1)
          |SELECT doc_id, count(*) AS n_bigrams,
          | round(avg(-ln(c_bigram / c_first)), 6) AS avg_surprisal
          |FROM p JOIN b USING (w1, w2) JOIN f USING (w1)
          |GROUP BY doc_id"""),
    "text_lm_kn_score" ->
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
          |FROM s3 GROUP BY doc_id"""),
    "docs_vocab_growth" ->
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
          |FROM b GROUP BY 1"""),
    "docs_augment_dropout" ->
      // drop token i of doc d iff md5('d:i:aug0')[:8] < 0x19999999
      // (rate 0.1); DuckDB lambda index is 1-based → i - 1
      (toksCte +
        """, kept AS (SELECT doc_id, list_filter(toks, (x, i) ->
          |  substring(md5(CAST(doc_id AS VARCHAR) || ':' ||
          |    CAST(i - 1 AS VARCHAR) || ':aug0'), 1, 8) >= '19999999')
          |  AS ktoks FROM t)
          |SELECT doc_id, array_to_string(ktoks, ' ') AS text_aug,
          | CAST(len(ktoks) AS BIGINT) AS n_kept
          |FROM kept"""),
    "docs_perplexity_filter" ->
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
          |FROM s, c WHERE s.avg_surprisal <= c.cut"""),
    "q_shipping_delay" ->
      """SELECT o_orderpriority, count(*) AS n_lines,
        | avg(datediff('day', o_orderdate, CAST(l_shipdate AS DATE))) AS avg_delay,
        | min(datediff('day', o_orderdate, CAST(l_shipdate AS DATE))) AS min_delay,
        | max(datediff('day', o_orderdate, CAST(l_shipdate AS DATE))) AS max_delay
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""",
    "q_return_rate" ->
      """SELECT p_brand, count(*) AS n_lines,
        | CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_returned,
        | round(CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
        |  / count(*), 6) AS return_rate,
        | round(sum(CASE WHEN l_returnflag = 'R'
        |   THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |  / sum(l_extendedprice * (1 - l_discount)), 6) AS returned_revenue_share
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""",
    "text_trigram_affinity" ->
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
        |FROM t LEFT JOIN h ON t.doc_id = h.doc_id""",
    "q_event_transitions" ->
      """WITH s AS (SELECT event_type, lag(event_type) OVER (
        |  PARTITION BY user_id ORDER BY ts, event_id) AS prev_type FROM events),
        |c AS (SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
        | FROM s WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n_transitions,
        | round(n_transitions / CAST(sum(n_transitions) OVER (
        |  PARTITION BY prev_type) AS BIGINT), 6) AS p_transition
        |FROM c""",
    "q_above_avg_orders" ->
      """WITH a AS (SELECT *,
        | CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
        |   PARTITION BY o_custkey) AS DOUBLE) /
        |  (count(*) OVER (PARTITION BY o_custkey) * 100.0)
        |  AS cust_avg FROM orders)
        |SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice, cust_avg
        |FROM a WHERE o_totalprice > cust_avg""",
    "q_status_priority" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS num_orders,
        | sum(o_totalprice) AS revenue, avg(o_totalprice) AS avg_price
        |FROM orders GROUP BY 1, 2""",
    "q_brand_trend" ->
      """WITH m AS (SELECT p_brand,
        |  CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        | FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2)
        |SELECT p_brand,
        | round(regr_slope(revenue, 12 * year(month) + month(month)), 4)
        |  AS slope,
        | round(regr_intercept(revenue, 12 * year(month) + month(month)), 2)
        |  AS intercept,
        | round(regr_r2(revenue, 12 * year(month) + month(month)), 6) AS r2,
        | CAST(regr_count(revenue, 12 * year(month) + month(month)) AS BIGINT)
        |  AS n_months
        |FROM m GROUP BY 1""",
    "q_price_fill" ->
      """WITH prods AS (SELECT p_partkey FROM part WHERE p_brand = 'Brand#11'),
        |m AS (SELECT l_partkey AS product_id,
        |  CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |  CAST((2 * sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |    + count(*)) // (2 * count(*)) AS DOUBLE) / 100.0 AS avg_price
        | FROM lineitem JOIN prods ON l_partkey = p_partkey GROUP BY 1, 2),
        |b AS (SELECT min(month) AS lo, max(month) AS hi FROM m),
        |spine AS (SELECT p_partkey AS product_id,
        |  CAST(unnest(generate_series(lo, hi, INTERVAL 1 MONTH)) AS DATE)
        |   AS month FROM prods, b)
        |SELECT s.product_id, s.month,
        | last_value(m.avg_price IGNORE NULLS) OVER (PARTITION BY s.product_id
        |  ORDER BY s.month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |  AS price_filled,
        | m.avg_price IS NOT NULL AS is_observed
        |FROM spine s LEFT JOIN m USING (product_id, month)""",
    "q_skyline" ->
      """SELECT p_partkey, p_retailprice, p_size FROM part p
        |WHERE NOT EXISTS (SELECT 1 FROM part q
        | WHERE q.p_retailprice <= p.p_retailprice AND q.p_size <= p.p_size
        |  AND (q.p_retailprice < p.p_retailprice OR q.p_size < p.p_size))""",
    "q_part_size_stats" ->
      """SELECT p_brand, CAST(p_size // 10 AS BIGINT) AS size_band,
        | count(*) AS num_parts, avg(p_retailprice) AS avg_retail,
        | min(p_retailprice) AS min_retail, max(p_retailprice) AS max_retail
        |FROM part GROUP BY 1, 2""",
    "q_supplier_variety" ->
      """SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1, 2""",
    "q_heavy_suppliers" ->
      """SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem
        | GROUP BY l_suppkey, l_partkey HAVING sum(l_quantity) > 90)""",
    "etl_quarantine" ->
      s"""SELECT *, CASE
         | WHEN sale_id IS NULL OR product_id IS NULL OR quantity IS NULL
         |   OR sale_amount IS NULL OR sale_date IS NULL
         |   OR isnan(quantity) OR isnan(sale_amount) THEN 'missing_field'
         | WHEN quantity <= 0 THEN 'nonpositive_quantity'
         | WHEN sale_amount <= 0 THEN 'nonpositive_amount' END AS reject_reason
         |FROM (${salesSql("")}) s
         |WHERE sale_id IS NULL OR product_id IS NULL OR quantity IS NULL
         |  OR sale_amount IS NULL OR sale_date IS NULL
         |  OR isnan(quantity) OR isnan(sale_amount)
         |  OR quantity <= 0 OR sale_amount <= 0""",
    "q_yoy_growth" ->
      """WITH y AS (SELECT n_name, year(o_orderdate) AS order_year,
        |  sum(o_totalprice) AS revenue
        | FROM orders JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        | GROUP BY 1, 2)
        |SELECT n_name, order_year, revenue,
        | round(revenue / lag(revenue) OVER (
        |  PARTITION BY n_name ORDER BY order_year) - 1, 6) AS yoy_growth
        |FROM y""",
    "q_market_share" ->
      """SELECT year(o_orderdate) AS order_year,
        | sum(CASE WHEN sn.n_name = 'NATION_3'
        |  THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END) AS nation_volume,
        | sum(l_extendedprice * (1 - l_discount)) AS total_volume,
        | round(sum(CASE WHEN sn.n_name = 'NATION_3'
        |   THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END)
        |  / sum(l_extendedprice * (1 - l_discount)), 6) AS market_share
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation cn ON c_nationkey = cn.n_nationkey
        | JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation sn ON s_nationkey = sn.n_nationkey
        |GROUP BY 1""",
    "q_grouping_sets" ->
      """SELECT n_name, c_mktsegment,
        | CAST(grouping(n_name) AS BIGINT) AS g_nation,
        | CAST(grouping(c_mktsegment) AS BIGINT) AS g_segment,
        | sum(o_totalprice) AS revenue, count(*) AS num_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        | JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY GROUPING SETS ((n_name), (c_mktsegment))""",
    "q_events_engagement" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |  CAST(date_trunc('day', ts) AS DATE) AS day FROM events),
        |dau AS (SELECT day, count(DISTINCT user_id) AS dau FROM ud GROUP BY 1),
        |contrib AS (SELECT user_id,
        |  CAST(unnest(generate_series(CAST(day AS TIMESTAMP),
        |   CAST(day + 6 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM ud),
        |wau AS (SELECT day, count(DISTINCT user_id) AS wau FROM contrib GROUP BY 1)
        |SELECT day, dau, wau FROM dau JOIN wau USING (day)""",
    "dedup_blocked_suppress" ->
      // blocked pairs + quality domination: the beaten side of every
      // pair drops (tie → higher id drops)
      s"""WITH $blockedCandCtes,
        |j AS (SELECT p.id_a, p.id_b FROM p
        | JOIN g ga ON ga.doc_id = p.id_a JOIN g gb ON gb.doc_id = p.id_b
        | WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
        |  / (len(ga.grams) + len(gb.grams)
        |     - len(list_intersect(ga.grams, gb.grams))) >= 0.5),
        |${toksCteAs("tq")},
        |sc AS (SELECT doc_id,
        |  ${qualityScoreSql} FROM tq),
        |$losersCte
        |SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)""",
    "dedup_ngram_blocked" ->
      s"""WITH $blockedCandCtes,
        |j AS (SELECT p.id_a, p.id_b,
        |  len(list_intersect(ga.grams, gb.grams)) AS inter,
        |  len(ga.grams) + len(gb.grams)
        |    - len(list_intersect(ga.grams, gb.grams)) AS uni
        | FROM p JOIN g ga ON ga.doc_id = p.id_a
        |  JOIN g gb ON gb.doc_id = p.id_b)
        |SELECT id_a, id_b, CAST(inter AS DOUBLE) / uni AS jaccard
        |FROM j WHERE CAST(inter AS DOUBLE) / uni >= 0.5""",
    "dedup_threshold_histogram" ->
      // same blocking as dedup_ngram_blocked but UNFILTERED verify;
      // bucket = (10·inter) // union in exact integers
      s"""WITH $blockedCandCtes,
        |j AS (SELECT CAST(10 * len(list_intersect(ga.grams, gb.grams))
        |   AS BIGINT) AS i10,
        |  CAST(greatest(len(ga.grams) + len(gb.grams)
        |   - len(list_intersect(ga.grams, gb.grams)), 1) AS BIGINT) AS u
        | FROM p JOIN g ga ON ga.doc_id = p.id_a
        |  JOIN g gb ON gb.doc_id = p.id_b),
        |h AS (SELECT i10 // u AS bucket, count(*) AS n_pairs
        | FROM j GROUP BY 1)
        |SELECT bucket, n_pairs,
        | CAST(sum(n_pairs) OVER (ORDER BY bucket DESC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS pairs_at_or_above
        |FROM h""",
    "dedup_source_matrix" ->
      (blockedPairsCte +
        """SELECT least(da.source, db.source) AS source_x,
          | greatest(da.source, db.source) AS source_y,
          | count(*) AS n_pairs
          |FROM m JOIN documents da ON da.doc_id = m.id_a
          | JOIN documents db ON db.doc_id = m.id_b
          |GROUP BY 1, 2"""),
    "dedup_source_rate" ->
      (blockedPairsCte +
        """, ids AS (SELECT DISTINCT doc_id FROM
          |  (SELECT id_a AS doc_id FROM m
          |   UNION ALL SELECT id_b AS doc_id FROM m) u)
          |SELECT d.source, count(*) AS n_docs,
          | CAST(count(ids.doc_id) AS BIGINT) AS n_near_dup,
          | round(CAST(count(ids.doc_id) AS DOUBLE) / count(*), 6)
          |  AS near_dup_rate
          |FROM documents d LEFT JOIN ids ON ids.doc_id = d.doc_id
          |GROUP BY 1"""),
    "dedup_embedding_groups" ->
      // exact cosine pair relation (list_cosine_similarity over
      // DOUBLE[] replays Spark's kernel — ann_range_search
      // precedent), then the same recursive reachability closure as
      // dedup_groups_blocked
      s"""WITH RECURSIVE m AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        | WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |   CAST(b.embedding AS DOUBLE[])) >= 0.9),
        |${minLabelCtes("m", "embeddings", "vec_id")}
        |SELECT vec_id, group_id, vec_id = group_id AS keep
        |FROM lab""",
    "dedup_groups_blocked" ->
      // transitive closure by recursive reachability: label = min id
      // reachable through the undirected blocked-pair edge set
      (blockedPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""", ${minLabelCtes("m")}
          |SELECT doc_id, group_id, doc_id = group_id AS keep
          |FROM lab"""),
    "dedup_keep_best" ->
      // same recursive closure; survivor = most tokens then min id —
      // both rank keys integers, the cut is discrete
      (blockedPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""", ${minLabelCtes("m")},
          |nt AS (SELECT doc_id, CAST(len(list_filter(
          |   regexp_split_to_array(text, '\\s+'), x -> x <> ''))
          |  AS BIGINT) AS n_tokens FROM documents),
          |rk AS (SELECT lab.doc_id, lab.group_id, nt.n_tokens,
          |  row_number() OVER (PARTITION BY lab.group_id
          |   ORDER BY nt.n_tokens DESC, lab.doc_id) AS rn
          | FROM lab JOIN nt USING (doc_id))
          |SELECT doc_id, group_id, n_tokens, rn = 1 AS keep
          |FROM rk"""),
    "dedup_cluster_sizes" ->
      (blockedPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""", ${minLabelCtes("m")},
          |sizes AS (SELECT group_id, count(*) AS cluster_size
          |  FROM lab GROUP BY 1)
          |SELECT cluster_size, count(*) AS n_clusters
          |FROM sizes GROUP BY 1"""),
    "docs_novelty" ->
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
        |FROM g JOIN f USING (gram) GROUP BY 1""",
    "docs_boilerplate_prefix" ->
      """WITH p AS (SELECT source, md5(array_to_string(
        |  list_filter(regexp_split_to_array(lower(text), '\s+'),
        |   x -> x <> '')[1:8], ' ')) AS pfx
        | FROM documents),
        |c AS (SELECT source, pfx, count(*) AS n FROM p GROUP BY 1, 2)
        |SELECT source, CAST(sum(n) AS BIGINT) AS n_docs,
        | count(*) AS n_prefixes,
        | CAST(max(n) AS BIGINT) AS top_prefix_docs,
        | round(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6) AS top_share
        |FROM c GROUP BY 1""",
    "docs_source_policy" ->
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
          |FROM rate JOIN qual ON qual.source = rate.source"""),
    "docs_source_policy_apply" ->
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
          |  OR (pol.policy = 'cap' AND rk.rk <= 8)"""),
    "dedup_edit_distance" ->
      s"""WITH $blockedCandCtes
        |SELECT p.id_a, p.id_b,
        | CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_distance
        |FROM p JOIN documents ta ON ta.doc_id = p.id_a
        | JOIN documents tb ON tb.doc_id = p.id_b
        |WHERE levenshtein(ta.text, tb.text) <= 80""",
    "dedup_ngram_contain" ->
      s"""WITH $blockedCandCtes,
        |j AS (SELECT p.id_a, p.id_b,
        |  len(list_intersect(ga.grams, gb.grams)) AS inter,
        |  greatest(least(len(ga.grams), len(gb.grams)), 1) AS mn
        | FROM p JOIN g ga ON ga.doc_id = p.id_a
        |  JOIN g gb ON gb.doc_id = p.id_b)
        |SELECT id_a, id_b, CAST(inter AS DOUBLE) / mn AS containment
        |FROM j WHERE CAST(inter AS DOUBLE) / mn >= 0.8""",
    "dedup_incremental" ->
      """WITH c AS (SELECT DISTINCT
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        | FROM documents WHERE doc_id % 10 <> 0)
        |SELECT doc_id, lang, source, n_chars FROM documents n
        |WHERE doc_id % 10 = 0 AND NOT EXISTS (SELECT 1 FROM c
        | WHERE c.norm = trim(regexp_replace(lower(n.text), '\s+', ' ', 'g')))""",
    "dedup_incremental_pairs" ->
      s"""WITH $gramDfCtes,
        |p AS (SELECT a.doc_id AS new_id, c.doc_id AS corpus_id
        |  FROM inv a JOIN d ON d.gram = a.gram JOIN inv c ON c.gram = a.gram
        |  WHERE a.doc_id % 10 = 0 AND c.doc_id % 10 <> 0
        |   AND d.df BETWEEN 2 AND 64
        |  GROUP BY 1, 2 HAVING count(*) >= 3),
        |j AS (SELECT p.new_id, p.corpus_id,
        |  len(list_intersect(ga.grams, gb.grams)) AS inter,
        |  len(ga.grams) + len(gb.grams)
        |    - len(list_intersect(ga.grams, gb.grams)) AS uni
        | FROM p JOIN g ga ON ga.doc_id = p.new_id
        |  JOIN g gb ON gb.doc_id = p.corpus_id)
        |SELECT new_id, corpus_id, CAST(inter AS DOUBLE) / uni AS jaccard
        |FROM j WHERE CAST(inter AS DOUBLE) / uni >= 0.5""",
    "docs_curate_incremental" ->
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
        | AND d.doc_id NOT IN (SELECT doc_id FROM semc)""",
    "q_top_supplier" ->
      """WITH rev AS (SELECT l_suppkey,
        |  sum(l_extendedprice * (1 - l_discount)) AS total_revenue
        | FROM lineitem
        | WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        | GROUP BY 1)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_revenue = (SELECT max(total_revenue) FROM rev)""",
    "q_small_qty_revenue" ->
      """SELECT sum(l_extendedprice) / 7.0 AS avg_yearly
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand = 'Brand#23'
        | AND l_quantity < (SELECT 0.2 * avg(l_quantity)
        |  FROM lineitem l2 WHERE l2.l_partkey = part.p_partkey)""",
    "q_discount_elasticity" ->
      """SELECT p_brand, count(*) AS n_lines,
        | round(regr_slope(l_quantity, l_discount), 4)
        |  AS qty_per_discount_unit,
        | round(regr_slope(l_quantity, l_discount) / 100.0, 6)
        |  AS qty_per_discount_pct,
        | round(regr_r2(l_quantity, l_discount), 6) AS r2
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1""",
    "q_supplier_hhi" ->
      """WITH s AS (SELECT p_type, l_suppkey,
        |  sum(l_extendedprice * (1 - l_discount)) AS supp_rev
        | FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY 1, 2),
        |t AS (SELECT p_type, sum(supp_rev) AS type_rev,
        |  count(*) AS n_suppliers FROM s GROUP BY 1)
        |SELECT s.p_type, t.n_suppliers,
        | round(sum(pow(s.supp_rev / t.type_rev, 2)), 6) AS hhi
        |FROM s JOIN t USING (p_type) GROUP BY 1, 2""",
    "q_basket_sizes" ->
      """WITH b AS (SELECT l_orderkey,
        |  count(DISTINCT l_partkey) AS n_parts FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_orders,
        | quantile_cont(n_parts, 0.5) AS p50_parts,
        | quantile_cont(n_parts, 0.9) AS p90_parts,
        | quantile_cont(n_parts, 0.99) AS p99_parts,
        | max(n_parts) AS max_parts FROM b""",
    "q_gini_revenue" ->
      """WITH rev AS (SELECT l_partkey,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        | FROM lineitem GROUP BY 1),
        |rk AS (SELECT revenue, CAST(row_number() OVER (ORDER BY revenue,
        |   l_partkey) AS DOUBLE) AS rank FROM rev)
        |SELECT count(*) AS n_products,
        | round(2.0 * sum(rank * revenue) / (count(*) * sum(revenue))
        |  - (count(*) + 1.0) / count(*), 6) AS gini
        |FROM rk""",
    "q_order_backlog" ->
      """WITH ls AS (SELECT l_orderkey, CAST(max(l_shipdate) AS DATE)
        |   AS last_ship FROM lineitem GROUP BY 1),
        |spans AS (SELECT
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS open_m,
        |  CAST(date_trunc('month', last_ship) AS DATE) AS close_m
        | FROM orders JOIN ls ON o_orderkey = l_orderkey),
        |o AS (SELECT open_m AS month, count(*) AS opened
        |  FROM spans GROUP BY 1),
        |c AS (SELECT close_m AS month, count(*) AS closed
        |  FROM spans GROUP BY 1),
        |b AS (SELECT min(open_m) AS lo, max(close_m) AS hi FROM spans),
        |spine AS (SELECT CAST(unnest(generate_series(lo, hi,
        |  INTERVAL 1 MONTH)) AS DATE) AS month FROM b)
        |SELECT month, coalesce(opened, 0) AS opened,
        | coalesce(closed, 0) AS closed,
        | CAST(sum(coalesce(opened, 0) - coalesce(closed, 0)) OVER
        |  (ORDER BY month
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |  AS backlog
        |FROM spine LEFT JOIN o USING (month) LEFT JOIN c USING (month)""",
    "q_abc_class" ->
      """WITH rev AS (SELECT l_partkey,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        | FROM lineitem GROUP BY 1),
        |rk AS (SELECT l_partkey,
        |  round(sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   / sum(revenue) OVER (), 9) AS cum_share
        | FROM rev)
        |SELECT l_partkey AS product_id,
        | CASE WHEN cum_share <= 0.8 THEN 'A'
        |  WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
        |FROM rk""",
    "q_pareto_revenue" ->
      """WITH rev AS (SELECT l_partkey,
        |  sum(l_extendedprice * (1 - l_discount)) AS revenue
        | FROM lineitem GROUP BY 1),
        |rk AS (SELECT
        |  row_number() OVER (ORDER BY revenue DESC, l_partkey) AS rank,
        |  sum(revenue) OVER (ORDER BY revenue DESC, l_partkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |   / sum(revenue) OVER () AS cum_share
        | FROM rev)
        |SELECT CAST(threshold AS DOUBLE) AS threshold,
        | min(rank) AS n_products
        |FROM rk JOIN (VALUES (0.5), (0.8), (0.9), (0.95), (0.99)) t(threshold)
        | ON cum_share >= threshold
        |GROUP BY 1""",
    "etl_cdc_apply" ->
      """WITH last AS (SELECT user_id, event_type, value, ts,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events)
        |SELECT user_id, event_type AS state, value, ts
        |FROM last WHERE rn = 1 AND event_type <> 'error'""",
    "etl_dq_profile" ->
      """SELECT col_name, n_rows, n_nulls,
        | n_distinct, round(n_nulls * 1.0 / n_rows, 6) AS null_frac
        |FROM (
        | SELECT 'l_partkey' AS col_name, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_nulls,
        |  count(DISTINCT l_partkey) AS n_distinct FROM lineitem
        | UNION ALL SELECT 'l_returnflag', count(*),
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT l_returnflag) FROM lineitem
        | UNION ALL SELECT 'l_shipdate', count(*),
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT l_shipdate) FROM lineitem
        | UNION ALL SELECT 'l_quantity', count(*),
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT l_quantity) FROM lineitem) p""",
    "etl_dq_profile_approx" ->
      // calibration form (r16): the exact profile anchor + a
      // within-5% claim over DuckDB's OWN approx_count_distinct per
      // column; tolerance max(2, n_distinct·5%) in floored integers
      s"""$dqCalibrationHead
        | SELECT 'l_partkey' AS col_name, count(*) AS n_rows,
        |  CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_nulls,
        |  count(DISTINCT l_partkey) AS n_distinct,
        |  approx_count_distinct(l_partkey) AS apx FROM lineitem
        | UNION ALL SELECT 'l_returnflag', count(*),
        |  CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT l_returnflag),
        |  approx_count_distinct(l_returnflag) FROM lineitem
        | UNION ALL SELECT 'l_shipdate', count(*),
        |  CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT l_shipdate),
        |  approx_count_distinct(l_shipdate) FROM lineitem
        | UNION ALL SELECT 'l_quantity', count(*),
        |  CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        |  count(DISTINCT l_quantity),
        |  approx_count_distinct(l_quantity) FROM lineitem) p""",
    "etl_check_constraints" -> {
      // CASE … THEN 0 ELSE 1 sends NULL predicates to ELSE —
      // matching the Spark side's coalesce(pred, false)
      val rules = Seq(
        "qty_in_range" -> "l_quantity >= 1 AND l_quantity <= 50",
        "qty_le_30" -> "l_quantity <= 30",
        "discount_in_range" -> "l_discount >= 0.0 AND l_discount <= 0.1",
        "price_positive" -> "l_extendedprice > 0",
        "returnflag_enum" -> "l_returnflag IN ('A', 'N', 'R')",
        "ship_in_horizon" ->
          "l_shipdate >= '1992-01-01' AND l_shipdate < '1999-01-01'")
      val agg = "SELECT count(*) AS n_rows, " + rules.zipWithIndex.map {
        case ((_, p), i) =>
          s"CAST(sum(CASE WHEN $p THEN 0 ELSE 1 END) AS BIGINT) AS v$i"
      }.mkString(", ") + " FROM lineitem"
      s"WITH a AS ($agg) " + rules.zipWithIndex.map { case ((n, _), i) =>
        s"SELECT '$n' AS rule, n_rows, v$i AS n_violations, " +
          s"round(v$i * 1.0 / n_rows, 6) AS violation_frac, " +
          s"v$i = 0 AS passes FROM a"
      }.mkString(" UNION ALL ")
    },
    "etl_fd_violations" -> {
      def fd(name: String, det: String, dep: String): String =
        s"SELECT '$name' AS fd, count(*) AS n_keys, " +
          "CAST(sum(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
          "AS n_violating_keys, " +
          "round(CAST(sum(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT) " +
          "* 1.0 / count(*), 6) AS violation_frac, " +
          "max(variants) AS max_variants, " +
          "CAST(sum(CASE WHEN variants > 1 THEN 1 ELSE 0 END) AS BIGINT) = 0 " +
          s"AS holds FROM (SELECT count(DISTINCT $dep) AS variants " +
          s"FROM lineitem GROUP BY $det) g"
      fd("pk_determines_part", "l_orderkey, l_linenumber", "l_partkey") +
        " UNION ALL " +
        fd("part_determines_supplier", "l_partkey", "l_suppkey") +
        " UNION ALL " +
        fd("order_determines_linestatus", "l_orderkey", "l_linestatus")
    },
    "etl_referential_integrity" -> {
      def rel(name: String, child: String, fk: String,
              parent: String, pk: String): String =
        s"""(WITH ck AS (SELECT $fk AS k, count(*) AS n FROM $child
           | WHERE $fk IS NOT NULL GROUP BY 1),
           |orph AS (SELECT coalesce(CAST(sum(n) AS BIGINT), 0)
           |  AS n_orphan_rows, count(*) AS n_orphan_keys
           | FROM ck WHERE k NOT IN (SELECT $pk FROM $parent)),
           |tot AS (SELECT count(*) AS n_rows,
           |  CAST(sum(CASE WHEN $fk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |  AS n_null_fk FROM $child)
           |SELECT '$name' AS relationship, tot.n_rows, tot.n_null_fk,
           | orph.n_orphan_rows, orph.n_orphan_keys,
           | orph.n_orphan_rows = 0 AS intact FROM tot, orph)"""
      Seq(
        rel("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        rel("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey"),
        rel("orders_customer", "orders", "o_custkey", "customer", "c_custkey"),
        rel("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey"))
        .mkString(" UNION ALL ")
    },
    "etl_dq_drift" -> {
      def prof(year: Int): String =
        Seq("l_partkey", "l_returnflag", "l_shipdate", "l_quantity").map(c =>
          s"SELECT '$c' AS col_name, count(*) AS n_rows, " +
            s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
            s"count(DISTINCT $c) AS n_distinct " +
            s"FROM lineitem WHERE year(l_shipdate) = $year")
          .mkString(" UNION ALL ")
      s"""WITH a AS (${prof(1995)}), b AS (${prof(1996)})
         |SELECT col_name, a.n_rows AS n_rows_a, a.n_distinct AS n_distinct_a,
         | round(a.n_nulls * 1.0 / a.n_rows, 6) AS null_frac_a,
         | b.n_rows AS n_rows_b, b.n_distinct AS n_distinct_b,
         | round(b.n_nulls * 1.0 / b.n_rows, 6) AS null_frac_b,
         | round(round(b.n_nulls * 1.0 / b.n_rows, 6)
         |  - round(a.n_nulls * 1.0 / a.n_rows, 6), 6) AS null_frac_delta,
         | CASE WHEN a.n_distinct = 0 THEN NULL
         |  ELSE round(CAST(b.n_distinct AS DOUBLE)
         |   / CAST(a.n_distinct AS DOUBLE), 6) END AS distinct_ratio
         |FROM a JOIN b USING (col_name)"""
    },
    "etl_table_diff" ->
      """WITH o AS (SELECT l_partkey AS product_id,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS q,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |   AS DOUBLE) / 100.0 AS a
        | FROM lineitem WHERE year(l_shipdate) = 1995 GROUP BY 1),
        |n AS (SELECT l_partkey AS product_id,
        |  CAST(sum(CAST(l_quantity AS BIGINT)) AS DOUBLE) AS q,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |   AS DOUBLE) / 100.0 AS a
        | FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1)
        |SELECT * FROM (
        | SELECT coalesce(o.product_id, n.product_id) AS product_id,
        |  CASE WHEN o.product_id IS NULL THEN 'added'
        |   WHEN n.product_id IS NULL THEN 'removed'
        |   WHEN o.q IS DISTINCT FROM n.q OR o.a IS DISTINCT FROM n.a
        |    THEN 'changed' END AS diff_type,
        |  o.q AS old_total_quantity, n.q AS new_total_quantity,
        |  o.a AS old_total_sale_amount, n.a AS new_total_sale_amount
        | FROM o FULL OUTER JOIN n ON o.product_id = n.product_id) d
        |WHERE diff_type IS NOT NULL""",
    "etl_scd2_user_state" ->
      s"""WITH ${scdVersionCtes()},
        |g AS (SELECT user_id, CAST(version AS BIGINT) AS version,
        |  event_type AS state, min(ts) AS valid_from, count(*) AS n_events
        | FROM v GROUP BY 1, 2, 3)
        |SELECT user_id, version, state, valid_from,
        | lead(valid_from) OVER w AS valid_to, n_events,
        | lead(valid_from) OVER w IS NULL AS is_current
        |FROM g WINDOW w AS (PARTITION BY user_id ORDER BY version)""",
    "etl_dim_asof_enrich" ->
      s"""WITH ${scdVersionCtes("events WHERE event_type <> 'purchase'")},
        |g0 AS (SELECT user_id, CAST(version AS BIGINT) AS version,
        |  event_type AS state, min(ts) AS valid_from
        | FROM v GROUP BY 1, 2, 3),
        |g AS (SELECT * FROM g0 QUALIFY row_number() OVER (
        |  PARTITION BY user_id, valid_from ORDER BY version DESC) = 1)
        |SELECT f.event_id, f.user_id, f.ts, f.value,
        | d.version AS dim_version, d.state AS dim_state
        |FROM (SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'purchase') f
        |ASOF LEFT JOIN g d
        | ON f.user_id = d.user_id AND f.ts >= d.valid_from""",
    "etl_dim_asof_coverage" ->
      // the enrichment CTE chain aggregated to the per-day coverage
      // report; n_early sum CAST to BIGINT (HUGEINT trap), rate on
      // the 1e-6 grid from exact long division
      s"""WITH ${scdVersionCtes("events WHERE event_type <> 'purchase'")},
        |g0 AS (SELECT user_id, CAST(version AS BIGINT) AS version,
        |  min(ts) AS valid_from
        | FROM v GROUP BY 1, 2, event_type),
        |g AS (SELECT * FROM g0 QUALIFY row_number() OVER (
        |  PARTITION BY user_id, valid_from ORDER BY version DESC) = 1),
        |enr AS (SELECT f.ts, d.version AS dim_version
        | FROM (SELECT event_id, user_id, ts FROM events
        |   WHERE event_type = 'purchase') f
        | ASOF LEFT JOIN g d
        |  ON f.user_id = d.user_id AND f.ts >= d.valid_from)
        |SELECT CAST(ts AS DATE) AS day, count(*) AS n_facts,
        | CAST(sum(CASE WHEN dim_version IS NULL THEN 1 ELSE 0 END)
        |  AS BIGINT) AS n_early,
        | round(sum(CASE WHEN dim_version IS NULL THEN 1 ELSE 0 END)
        |  * 1.0 / count(*), 6) AS early_rate
        |FROM enr GROUP BY 1""",
    "q_new_vs_returning" ->
      """WITH daily AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |f AS (SELECT user_id, CAST(min(ts) AS DATE) AS first_day
        |  FROM events GROUP BY 1)
        |SELECT day,
        | CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
        | CAST(sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_returning,
        | count(*) AS n_active
        |FROM daily JOIN f USING (user_id) GROUP BY 1""",
    "text_source_divergence" ->
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
        | round(cov, 6) AS corpus_coverage FROM g""",
    "events_markov_stationary" -> {
      // the power iterations unrolled as CTEs (the pagerank oracle
      // pattern); identical frac/seed expressions, rounded 1e-9
      val steps = 6
      val body = (1 to steps).map(i =>
        s"s$i AS (SELECT f.next_type AS state, sum(s${i - 1}.p * f.frac) AS p " +
          s"FROM frac f JOIN s${i - 1} ON f.prev_type = s${i - 1}.state " +
          "GROUP BY 1)").mkString(", ")
      """WITH tr AS (SELECT prev_type, next_type, count(*) AS n FROM (
        | SELECT user_id, event_type AS next_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS prev_type
        | FROM events) x WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |deg AS (SELECT prev_type, CAST(sum(n) AS BIGINT) AS d
        | FROM tr GROUP BY 1),
        |frac AS (SELECT tr.prev_type AS prev_type, tr.next_type AS next_type,
        |  CAST(tr.n AS DOUBLE) / CAST(deg.d AS DOUBLE) AS frac
        | FROM tr JOIN deg ON tr.prev_type = deg.prev_type),
        |s0 AS (SELECT prev_type AS state,
        |  1.0 / (SELECT count(*) FROM deg) AS p FROM deg),
        |""" + body +
        s" SELECT state, round(p, 9) AS p_stationary FROM s$steps"
    },
    "q_seasonality_strength" ->
      // ANOVA sum identities on exact integers (S, Q, per-group
      // S_g/n_g); dow LABELS differ across engines (Spark 1–7,
      // DuckDB 0–6) but only the grouping partition matters
      s"""WITH $dailyRevenueCte,
        |g AS (SELECT dayofweek(day) AS dow, count(*) AS n_g,
        |  sum(x) AS s_g, sum(x * x) AS q_g FROM daily GROUP BY 1),
        |t AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s,
        |  sum(q_g) AS q,
        |  sum(CAST(s_g * s_g AS DOUBLE) / CAST(n_g AS DOUBLE)) AS b
        | FROM g)
        |SELECT n AS n_days,
        | round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0, 2)
        |  AS avg_daily_revenue,
        | CASE WHEN CAST(q AS DOUBLE) - CAST(s AS DOUBLE)
        |    * CAST(s AS DOUBLE) / CAST(n AS DOUBLE) = 0.0 THEN NULL
        |  ELSE round((b - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |     / CAST(n AS DOUBLE))
        |   / (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
        |     / CAST(n AS DOUBLE)), 6) END AS seasonality_r2
        |FROM t""",
    "mm_dedup_by_type" ->
      // payloads never aggregate: the inner (type, sha) collapse
      // carries hashes + byte counts; a sha group's representative
      // size is max(len) (identical payloads, identical length)
      """WITH b AS (SELECT hex(substr(text, 1, 2)) AS magic2,
        |  sha256(text) AS sha, length(text) AS len FROM documents),
        |g AS (SELECT magic2, sha, count(*) AS n, max(len) AS len1,
        |  CAST(sum(len) AS BIGINT) AS bytes FROM b GROUP BY 1, 2)
        |SELECT magic2, CAST(sum(n) AS BIGINT) AS n_blobs,
        | count(*) AS n_distinct,
        | round(1.0 - count(*) * 1.0 / CAST(sum(n) AS BIGINT), 6)
        |  AS dup_ratio,
        | CAST(sum(bytes) - sum(len1) AS BIGINT) AS reclaimable_bytes
        |FROM g GROUP BY 1""",
    "etl_benford_check" ->
      // leading digit from the STRING rendering of exact cents —
      // no float log10 boundary hazards; χ² over the 9-row relation
      """WITH d AS (SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100)
        |   AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        | FROM orders WHERE o_totalprice > 0
        |  AND CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        |g AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT digit, n, CAST(sum(n) OVER () AS BIGINT) AS total,
        |  log10(1.0 + 1.0 / digit) AS e FROM g),
        |c AS (SELECT digit, n, n * 1.0 / total AS share, e,
        |  pow(n - total * e, 2) / (total * e) AS chi2_term FROM t)
        |SELECT digit, n, round(share, 6) AS share,
        | round(e, 6) AS benford_p, round(chi2_term, 6) AS chi2_term,
        | round(sum(chi2_term) OVER (), 6) AS chi2_total FROM c""",
    "events_activity_powerlaw" ->
      // Clauset–Shalizi–Newman continuous-approx MLE at xmin=2
      """WITH pu AS (SELECT user_id, count(*) AS x FROM events GROUP BY 1),
        |a AS (SELECT count(*) AS n_users,
        |  CAST(sum(CASE WHEN x >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_tail,
        |  sum(CASE WHEN x >= 2 THEN ln(x * 1.0 / 1.5) ELSE 0.0 END)
        |   AS logsum,
        |  max(x) AS max_events FROM pu)
        |SELECT n_users, n_tail, max_events,
        | round(n_tail * 1.0 / n_users, 6) AS tail_frac,
        | CASE WHEN logsum = 0.0 THEN NULL
        |  ELSE round(1.0 + n_tail / logsum, 6) END AS alpha
        |FROM a""",
    "split_temporal_leakage" -> {
      def sideRow(s: String, n: String): String =
        s"SELECT '$s' AS split, " +
          s"CAST(coalesce(sum($n), 0) AS BIGINT) AS n_rows, " +
          s"CAST(sum(CASE WHEN $n > 0 THEN 1 ELSE 0 END) AS BIGINT) " +
          "AS n_entities, " +
          s"CAST(sum(CASE WHEN $n > 0 AND leaky THEN 1 ELSE 0 END) " +
          "AS BIGINT) AS n_leaky_entities, " +
          s"round(CAST(sum(CASE WHEN $n > 0 AND leaky THEN 1 ELSE 0 END) " +
          s"AS BIGINT) * 1.0 / CAST(sum(CASE WHEN $n > 0 THEN 1 ELSE 0 END) " +
          "AS BIGINT), 6) AS leaky_frac FROM l"
      """WITH pe AS (SELECT user_id,
        | CAST(sum(CASE WHEN ts <= TIMESTAMP '2024-01-21 00:00:00'
        |   THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
        | CAST(sum(CASE WHEN ts <= TIMESTAMP '2024-01-21 00:00:00'
        |   THEN 0 ELSE 1 END) AS BIGINT) AS n_test
        |FROM events GROUP BY 1),
        |l AS (SELECT *, n_train > 0 AND n_test > 0 AS leaky FROM pe)
        |""" +
        sideRow("train", "n_train") + " UNION ALL " + sideRow("test", "n_test")
    },
    "mm_format_psi" ->
      // categorical PSI over sniffed formats, halves at the doc_id
      // midpoint; Laplace term count is the format universe
      s"""WITH b AS (SELECT doc_id, hex(substr(text, 1, 2)) AS magic2
        | FROM documents),
        |m AS (SELECT CAST(floor((min(doc_id) + max(doc_id)) / 2) AS BIGINT)
        |  AS mid FROM documents),
        |g AS (SELECT magic2,
        |  CAST(sum(CASE WHEN doc_id <= m.mid THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_a,
        |  CAST(sum(CASE WHEN doc_id <= m.mid THEN 0 ELSE 1 END) AS BIGINT)
        |   AS n_b
        | FROM b, m GROUP BY 1),
        |${laplaceShareCte("magic2")},
        |${psiTermsSql("magic2")}""",
    "events_audience_overlap_exact" ->
      // distinct (type,user) self-join, every pair emits (zero
      // overlap included); Jaccard = one quotient of exact longs
      """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |pt AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |iv AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS ov
        | FROM ut a JOIN ut b ON a.user_id = b.user_id
        |  AND a.event_type < b.event_type GROUP BY 1, 2)
        |SELECT pa.event_type AS type_a, pb.event_type AS type_b,
        | pa.n AS users_a, pb.n AS users_b,
        | coalesce(iv.ov, 0) AS overlap,
        | round(CAST(coalesce(iv.ov, 0) AS DOUBLE)
        |  / CAST(pa.n + pb.n - coalesce(iv.ov, 0) AS DOUBLE), 6) AS jaccard
        |FROM pt pa JOIN pt pb ON pa.event_type < pb.event_type
        | LEFT JOIN iv ON iv.type_a = pa.event_type
        |  AND iv.type_b = pb.event_type""",
    "events_disorder_profile" ->
      // per-user running-max lateness in exact µs, ingest order =
      // event_id; O(buckets) histogram with one share quotient
      """WITH t AS (SELECT user_id, event_id, epoch_us(ts) AS us
        | FROM events),
        |l AS (SELECT max(us) OVER (PARTITION BY user_id ORDER BY event_id
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - us
        |  AS late_us FROM t),
        |b AS (SELECT late_us,
        |  CASE WHEN late_us = 0 THEN 0 WHEN late_us < 60000000 THEN 1
        |       WHEN late_us < 600000000 THEN 2
        |       WHEN late_us < 3600000000 THEN 3 ELSE 4 END AS bucket_idx,
        |  CASE WHEN late_us = 0 THEN 'in_order'
        |       WHEN late_us < 60000000 THEN 'lt_1m'
        |       WHEN late_us < 600000000 THEN 'lt_10m'
        |       WHEN late_us < 3600000000 THEN 'lt_1h'
        |       ELSE 'ge_1h' END AS bucket
        | FROM l),
        |h AS (SELECT CAST(bucket_idx AS BIGINT) AS bucket_idx, bucket,
        |  count(*) AS n_events, max(late_us) AS max_late_us
        | FROM b GROUP BY 1, 2),
        |tt AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM h)
        |SELECT bucket_idx, bucket, n_events,
        | round(CAST(n_events AS DOUBLE) / CAST(total AS DOUBLE), 6) AS share,
        | max_late_us
        |FROM h, tt""",
    "events_ab_ttest" ->
      // identical op tree to the Spark side: same md5 coin, same
      // (1, value, value²) conditional sums, same closed-form Welch
      // expressions — only summation order can differ (last-ulp, the
      // q_events_anomaly class); moments ship unrounded
      s"""WITH $abMomentsCtes,
        |$welchSql""",
    "events_ab_mde" -> {
      // same six sufficient statistics + clamps as events_ab_ttest;
      // the z-quantile sum is ONE pre-added double literal on both
      // engines (adding two literals engine-side could differ in
      // constant-folding order)
      val z = (1.959963984540054 + 0.8416212335729143).toString
      s"""WITH $abMomentsCtes,
         |w AS (SELECT event_type, n_a, n_b, s_b,
         |  greatest((q_a - s_a * s_a / n_a) / (n_a - 1), 0) / n_a
         |   + greatest((q_b - s_b * s_b / n_b) / (n_b - 1), 0) / n_b AS se2
         | FROM a)
         |SELECT event_type, n_a, n_b,
         | $z * sqrt(se2) AS mde_abs,
         | ($z * sqrt(se2)) / (s_b / n_b) AS mde_rel
         |FROM w WHERE se2 > 0 AND s_b != 0"""
    },
    "emb_label_outliers" ->
      // centroid = the q_embedding_centroids avg replay; cosine from
      // three scalar sums over the same (label, pos) join — values
      // ride the driver tolerance, the row set is every vector
      """WITH c AS (SELECT label, i, avg(embedding[i + 1]) AS av
        | FROM embeddings, range(64) t(i) GROUP BY 1, 2),
        |v AS (SELECT vec_id, label,
        |  CAST(embedding[i + 1] AS DOUBLE) AS x, i
        | FROM embeddings, range(64) t(i)),
        |j AS (SELECT v.vec_id, v.label,
        |  sum(v.x * c.av) AS dot, sum(v.x * v.x) AS n2,
        |  sum(c.av * c.av) AS c2
        | FROM v JOIN c ON c.label = v.label AND c.i = v.i
        | GROUP BY 1, 2)
        |SELECT vec_id, label,
        | CASE WHEN n2 > 0.0 AND c2 > 0.0
        |  THEN dot / (sqrt(n2) * sqrt(c2)) ELSE 0.0
        | END AS centroid_cosine
        |FROM j""",
    "events_sketch_calibration" ->
      // the calibration CLAIM is engine-agnostic even though the raw
      // sketch estimate is not: DuckDB checks ITS approx_count_distinct
      // against the same exact anchor Spark checks its HLL++ store
      // against — the boolean and the exact columns hash-match, and a
      // decalibrated sketch on either side fails the row
      approxUsersSql("2024-01-05", "2024-01-15"),
    "events_approx_stats" ->
      // calibration form (r16): DuckDB scores its OWN
      // approx_count_distinct + t-digest approx_quantile against the
      // same exact anchors and rank-containment rule
      """WITH apx AS (SELECT event_type,
        |  approx_count_distinct(user_id) AS au,
        |  approx_quantile(value, 0.5) AS p50,
        |  approx_quantile(value, 0.9) AS p90
        | FROM events GROUP BY 1),
        |ex AS (SELECT event_type,
        |  count(DISTINCT user_id) AS eu, count(*) AS n
        | FROM events GROUP BY 1),
        |r AS (SELECT e.event_type,
        |  sum(CASE WHEN e.value < a.p50 THEN 1 ELSE 0 END) * 1.0
        |   / count(*) AS lt50,
        |  sum(CASE WHEN e.value <= a.p50 THEN 1 ELSE 0 END) * 1.0
        |   / count(*) AS le50,
        |  sum(CASE WHEN e.value < a.p90 THEN 1 ELSE 0 END) * 1.0
        |   / count(*) AS lt90,
        |  sum(CASE WHEN e.value <= a.p90 THEN 1 ELSE 0 END) * 1.0
        |   / count(*) AS le90
        | FROM events e JOIN apx a USING (event_type) GROUP BY 1)
        |SELECT ex.event_type, CAST(ex.eu AS BIGINT) AS exact_users,
        | CAST(ex.n AS BIGINT) AS n_values,
        | abs(CAST(a.au AS DOUBLE) / ex.eu - 1.0) <= 0.05
        |  AS users_within_tol,
        | (r.lt50 <= 0.52 AND r.le50 >= 0.48) AS p50_within_tol,
        | (r.lt90 <= 0.92 AND r.le90 >= 0.88) AS p90_within_tol
        |FROM ex JOIN apx a USING (event_type)
        | JOIN r USING (event_type)""",
    "events_sketch_reach" ->
      // calibration form (r16, the compacted-lifecycle route): each
      // engine checks its OWN sketch pipeline against the same exact
      // month-window anchor — DuckDB's approx_count_distinct stands
      // in for its day-sketch→compact→merge (its HLL union is
      // equally lossless), and the boolean + exact columns hash
      approxUsersSql("2024-01-01", "2024-02-01"),
    "events_audience_overlap" ->
      // calibration form (r16): exact anchors + the within-tol claim
      // over DuckDB's OWN approx_count_distinct inclusion–exclusion —
      // each engine checks its own sketches against the same exact
      // intersection; tolerance max(3, union·18%) in floored integers
      """WITH ut AS (SELECT DISTINCT event_type, user_id FROM events),
        |pt AS (SELECT event_type, count(*) AS n FROM ut GROUP BY 1),
        |ta AS (SELECT event_type,
        |  approx_count_distinct(user_id) AS apx FROM ut GROUP BY 1),
        |iv AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  count(*) AS ov
        | FROM ut a JOIN ut b ON a.user_id = b.user_id
        |  AND a.event_type < b.event_type GROUP BY 1, 2),
        |uni AS (SELECT x.event_type AS type_a, y.event_type AS type_b,
        |  approx_count_distinct(u.user_id) AS apx_union
        | FROM pt x JOIN pt y ON x.event_type < y.event_type
        | JOIN ut u ON u.event_type = x.event_type
        |  OR u.event_type = y.event_type
        | GROUP BY 1, 2)
        |SELECT pa.event_type AS type_a, pb.event_type AS type_b,
        | pa.n AS users_a, pb.n AS users_b,
        | coalesce(iv.ov, 0) AS overlap,
        | abs(greatest(aa.apx + ab.apx - u.apx_union, 0)
        |   - coalesce(iv.ov, 0))
        |  <= greatest(3, ((pa.n + pb.n - coalesce(iv.ov, 0)) * 18) // 100)
        |  AS ov_within_tol
        |FROM pt pa JOIN pt pb ON pa.event_type < pb.event_type
        | LEFT JOIN iv ON iv.type_a = pa.event_type
        |  AND iv.type_b = pb.event_type
        | JOIN ta aa ON aa.event_type = pa.event_type
        | JOIN ta ab ON ab.event_type = pb.event_type
        | JOIN uni u ON u.type_a = pa.event_type
        |  AND u.type_b = pb.event_type""",
    "events_rolling_active_approx" ->
      // calibration form (r16): the exact rolling WAU/DAU anchor
      // (events_rolling_active_users' fan-out collapse) + within-5%
      // claims over DuckDB's OWN approx_count_distinct of the same
      // fan-out; tolerance max(2, exact·5%) in floored integers
      s"""WITH $stickinessCtes,
        |ex AS (SELECT target_day AS day, count(*) AS wau,
        |  CAST(sum(active_today) AS BIGINT) AS dau,
        |  round(CAST(sum(active_today) AS BIGINT) * 1.0 / count(*), 6)
        |   AS stickiness
        | FROM g GROUP BY 1),
        |ap AS (SELECT target_day AS day,
        |  approx_count_distinct(user_id) AS wau_apx,
        |  approx_count_distinct(CASE WHEN is_today = 1 THEN user_id END)
        |   AS dau_apx
        | FROM fan GROUP BY 1)
        |SELECT ex.day, ex.wau, ex.dau, ex.stickiness,
        | abs(ap.wau_apx - ex.wau) <= greatest(2, (ex.wau * 5) // 100)
        |  AS wau_within_tol,
        | abs(ap.dau_apx - ex.dau) <= greatest(2, (ex.dau * 5) // 100)
        |  AS dau_within_tol
        |FROM ex JOIN ap ON ap.day = ex.day""",
    "events_ab_srm" ->
      // distinct USERS per arm (the randomization unit), chi-square
      // GOF vs 50/50, flag at the fixed χ²₁(0.95) literal — exact
      // integer inputs make the flag deterministic on both engines
      s"""WITH g AS (SELECT event_type, user_id,
        | $abCoinSql
        | FROM events),
        |a AS (SELECT event_type,
        |  CAST(count(DISTINCT CASE WHEN is_a THEN user_id END) AS BIGINT)
        |   AS n_a,
        |  CAST(count(DISTINCT CASE WHEN NOT is_a THEN user_id END) AS BIGINT)
        |   AS n_b
        | FROM g GROUP BY 1 HAVING n_a + n_b > 0),
        |c AS (SELECT event_type, n_a, n_b,
        |  (n_a - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |   * (n_a - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |   / (CAST(n_a + n_b AS DOUBLE) / 2.0)
        |  + (n_b - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |   * (n_b - CAST(n_a + n_b AS DOUBLE) / 2.0)
        |   / (CAST(n_a + n_b AS DOUBLE) / 2.0) AS chi2
        | FROM a)
        |SELECT event_type, n_a, n_b, chi2,
        | chi2 > 3.841458820694124 AS srm_flag
        |FROM c""",
    "q_revenue_sample_estimate" -> {
      val thr = operators.Sampling.hexThreshold(0.1)
      s"""WITH f AS (SELECT l_returnflag,
         |  l_extendedprice * (1.0 - l_discount) AS rev,
         |  substring(md5(CAST(l_orderkey AS VARCHAR) || ':aqp42'), 1, 8)
         |   AS k
         | FROM lineitem),
         |a AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n_rows,
         |  sum(rev) AS exact_value,
         |  sum(CASE WHEN k < '$thr' THEN rev END) AS s_rev,
         |  sum(CASE WHEN k < '$thr' THEN rev * rev END) AS q_rev,
         |  CAST(sum(CASE WHEN k < '$thr' THEN 1 ELSE 0 END) AS BIGINT)
         |   AS n_sampled
         | FROM f GROUP BY 1)
         |SELECT l_returnflag, n_rows, n_sampled,
         | coalesce(s_rev, 0.0) / 0.1 AS est_value,
         | 1.959963984540054 * sqrt(coalesce(q_rev, 0.0)
         |   * ${(1.0 - 0.1) / (0.1 * 0.1)}) AS ci95_halfwidth,
         | n_sampled >= 30 AS ci_nominal,
         | exact_value,
         | CASE WHEN exact_value != 0.0 THEN
         |  abs(coalesce(s_rev, 0.0) / 0.1 - exact_value) / exact_value
         | END AS rel_err
         |FROM a"""
    },
    "events_attribution_markov" -> {
      // the 12 clamped value-iteration rounds unrolled as CTEs over
      // the (removal × state) grid — same truncation point as the
      // Scala fold, so only float summation order differs (driver
      // tolerance class); journey truncation, START/NULL edges and
      // the transition probabilities replay the Spark windows 1:1
      val iterCtes = (1 to 12).map { k =>
        val prev = if (k == 1) "v0" else s"v${k - 1}"
        s"""v$k AS MATERIALIZED (SELECT g.rm, g.s,
           | CASE WHEN g.s = 'CONV' THEN 1.0 WHEN g.s = 'NULL' THEN 0.0
           |  WHEN g.s = g.rm THEN 0.0 ELSE coalesce(g.acc, 0.0) END AS v
           | FROM (SELECT b.rm, b.s, sum(pr.p * pv.v) AS acc
           |  FROM (SELECT rm, s FROM v0) b
           |  LEFT JOIN probs pr ON pr.f = b.s
           |  LEFT JOIN $prev pv ON pv.rm = b.rm AND pv.s = pr.t
           |  GROUP BY 1, 2) g)"""
      }.mkString(",")
      s"""WITH st AS (SELECT user_id, ts, event_id,
         |  CASE WHEN event_type = 'purchase' THEN 'CONV'
         |   ELSE event_type END AS state
         | FROM events WHERE ts IS NOT NULL),
         |kept AS MATERIALIZED (SELECT user_id, ts, event_id, state FROM (
         |  SELECT *, count(CASE WHEN state = 'CONV' THEN 1 END) OVER (
         |    PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pc
         |  FROM st) x WHERE coalesce(pc, 0) = 0),
         |pairs AS (SELECT coalesce(lag(state) OVER (
         |   PARTITION BY user_id ORDER BY ts, event_id), 'START') AS f,
         |  state AS t FROM kept
         | UNION ALL
         | SELECT state AS f, 'NULL' AS t FROM (
         |  SELECT state, row_number() OVER (PARTITION BY user_id
         |    ORDER BY ts DESC, event_id DESC) AS rrn FROM kept) e
         | WHERE rrn = 1 AND state != 'CONV'),
         |probs AS MATERIALIZED (SELECT f, t,
         |  CAST(count(*) AS DOUBLE) /
         |   CAST(sum(count(*)) OVER (PARTITION BY f) AS DOUBLE) AS p
         | FROM pairs GROUP BY 1, 2),
         |chans AS (SELECT DISTINCT f AS ch FROM probs
         | WHERE f NOT IN ('START', 'CONV', 'NULL')),
         |rms AS (SELECT ch FROM chans UNION ALL SELECT '__all__'),
         |sts AS (SELECT DISTINCT s FROM (
         | SELECT f AS s FROM probs UNION SELECT t FROM probs
         | UNION SELECT 'CONV' UNION SELECT 'NULL') u),
         |v0 AS MATERIALIZED (SELECT rm.ch AS rm, s.s,
         |  CASE WHEN s.s = 'CONV' THEN 1.0 ELSE 0.0 END AS v
         | FROM rms rm, sts s),
         |$iterCtes,
         |fin AS (SELECT v.rm AS channel, v.v AS p_removed,
         |  (SELECT b.v FROM v12 b
         |   WHERE b.rm = '__all__' AND b.s = 'START') AS p_conv
         | FROM v12 v WHERE v.s = 'START' AND v.rm != '__all__')
         |SELECT channel, p_conv, p_removed,
         | 1.0 - p_removed / p_conv AS removal_effect,
         | CASE WHEN sum(1.0 - p_removed / p_conv) OVER () = 0.0 THEN 0.0
         |  ELSE (1.0 - p_removed / p_conv) /
         |   sum(1.0 - p_removed / p_conv) OVER () END AS share
         |FROM fin WHERE p_conv > 0"""
    },
    "events_ab_mannwhitney" ->
      // rank-sum robustness twin of events_ab_ttest: same md5 coin,
      // midrank ties via the cumulative-count window over the
      // (type, value) tie groups; midranks are exact half-integers →
      // order-independent sums, bit-reproducible (unlike the Welch
      // raw-float class); tie term t³−t in doubles on both engines
      """WITH g AS (SELECT event_type, value,
        | CAST(count(*) AS BIGINT) AS t,
        | CAST(sum(CASE WHEN
        |   substring(md5(CAST(user_id AS VARCHAR) || ':ab42'), 1, 8)
        |     < '80000000' THEN 1 ELSE 0 END) AS BIGINT) AS t_a
        | FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT event_type, t, t_a,
        |  coalesce(CAST(sum(t) OVER (PARTITION BY event_type ORDER BY value
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0)
        |   + (t + 1) / 2.0 AS midrank
        | FROM g),
        |a AS (SELECT event_type,
        |  CAST(sum(t_a) AS BIGINT) AS n_a,
        |  CAST(sum(t - t_a) AS BIGINT) AS n_b,
        |  sum(midrank * t_a) AS r_a,
        |  sum(CAST(t AS DOUBLE) * CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
        |    - CAST(t AS DOUBLE)) AS ties
        | FROM r GROUP BY 1),
        |s AS (SELECT event_type, n_a, n_b, r_a,
        |  r_a - CAST(n_a AS DOUBLE) * (n_a + 1.0) / 2.0 AS u_a,
        |  CAST(n_a AS DOUBLE) * n_b / 12.0 * ((n_a + n_b + 1.0)
        |    - ties / (CAST(n_a + n_b AS DOUBLE)
        |      * (n_a + n_b - 1.0))) AS var_u
        | FROM a WHERE n_a > 0 AND n_b > 0)
        |SELECT event_type, n_a, n_b, r_a AS rank_sum_a, u_a,
        | (u_a - CAST(n_a AS DOUBLE) * n_b / 2.0) / sqrt(var_u) AS z_u
        |FROM s WHERE var_u > 0""",
    "stream_ab_readout" ->
      // mirrors the streaming two-level plan: daily partials of the
      // six sufficient statistics, THEN the per-type total, THEN the
      // shared Welch closed form — so both engines sum the same
      // partials in the same nesting (only within-day order floats,
      // the events_ab_sequential last-ulp class)
      s"""WITH $abDailyMomentsCtes,
        |a AS (SELECT event_type,
        |  CAST(sum(d_na) AS BIGINT) AS n_a, CAST(sum(d_nb) AS BIGINT) AS n_b,
        |  sum(d_sa) AS s_a, sum(d_sb) AS s_b,
        |  sum(d_qa) AS q_a, sum(d_qb) AS q_b
        | FROM d GROUP BY 1 HAVING sum(d_na) > 1 AND sum(d_nb) > 1),
        |$welchSql""",
    "lake_vacuum_plan" ->
      // the manifest's snapshot lineage + the retention rule, all
      // integer arithmetic (horizon = 8 − 2 = 6)
      s"""WITH $lakeSnapshotCte,
        |p AS (SELECT *, CASE WHEN removed_snap IS NULL THEN 'keep-live'
        |  WHEN removed_snap >= 6 THEN 'keep-travel'
        |  ELSE 'expire' END AS action FROM m)
        |SELECT part, file_id, bytes, created_snap, removed_snap, action,
        | CASE WHEN action = 'expire' THEN bytes ELSE 0 END AS reclaim_bytes
        |FROM p""",
    "lake_vacuum_apply" ->
      // the post-vacuum manifest: exactly the plan's keep rows
      // (removed_snap null = live, or inside the [6, 8] window)
      s"""WITH $lakeSnapshotCte
        |SELECT part, file_id, bytes, created_snap, removed_snap
        |FROM m WHERE removed_snap IS NULL OR removed_snap >= 6""",
    "lake_time_travel_read" ->
      // live files at snapshot 6 read from the VACUUMED manifest:
      // created at-or-before 6 and not removed at-or-before 6
      s"""WITH $lakeSnapshotCte,
        |v AS (SELECT * FROM m
        | WHERE removed_snap IS NULL OR removed_snap >= 6)
        |SELECT part, file_id, bytes, created_snap, removed_snap
        |FROM v WHERE created_snap <= 6
        | AND (removed_snap IS NULL OR removed_snap > 6)""",
    "lake_compaction_plan" ->
      // same manifest + the same prefix-sum rule in window SQL;
      // everything integer, bit-replayable
      s"""WITH $lakeBinCtes
        |SELECT part, file_id, bytes,
        | CAST(cum_before // 4096 AS BIGINT) AS bin,
        | CAST(sum(bytes) OVER (PARTITION BY part, cum_before // 4096)
        |  AS BIGINT) AS bin_bytes,
        | CAST(count(*) OVER (PARTITION BY part, cum_before // 4096)
        |  AS BIGINT) AS bin_files
        |FROM b""",
    "lake_compaction_apply" ->
      // the same plan chain folded per (part, bin): bytes conserve,
      // input files count — everything integer, bit-replayable
      s"""WITH $lakeBinCtes
        |SELECT part, CAST(cum_before // 4096 AS BIGINT) AS file_id,
        | CAST(sum(bytes) AS BIGINT) AS bytes,
        | CAST(count(*) AS BIGINT) AS files_merged
        |FROM b GROUP BY 1, 2""",
    "lake_zorder_plan" ->
      // the 2×16-bit Morton interleave unrolled term-by-term (dim 0
      // at even bit positions, dim 1 at odd — zorderValue's layout),
      // bucket = top 6 bits of the 32-bit key; pure integer math,
      // bit-exact
      s"""WITH $orderGridCte,
         |q AS (SELECT $orderCellSql
         | FROM orders, mm),
         |z AS (SELECT x, y, ($mortonSql) // ${1L << 26} AS file_bucket FROM q)
         |SELECT CAST(file_bucket AS BIGINT) AS file_bucket,
         | CAST(count(*) AS BIGINT) AS n_rows,
         | $zBoundsSql
         |FROM z GROUP BY 1""",
    "lake_zorder_apply" ->
      // the zorder_plan interleave chain + the per-file byte mass
      // (o_comment's exact char count) — all integer, bit-replayable
      s"""WITH $orderGridCte,
         |q AS (SELECT $orderCellSql,
         |  CAST(o_orderkey % 1901 + 128 AS BIGINT) AS b
         | FROM orders, mm),
         |z AS (SELECT x, y, b, ($mortonSql) // ${1L << 26} AS file_id FROM q)
         |SELECT CAST(file_id AS BIGINT) AS file_id,
         | CAST(count(*) AS BIGINT) AS n_rows,
         | CAST(sum(b) AS BIGINT) AS bytes,
         | $zBoundsSql
         |FROM z GROUP BY 1""",
    "stream_compaction_monitor" ->
      // same manifest, same counters in plain SQL; all exact longs
      s"""WITH $lakeFileCte
        |SELECT part, CAST(count(*) AS BIGINT) AS n_files,
        | CAST(sum(bytes) AS BIGINT) AS total_bytes,
        | CAST(sum(CASE WHEN bytes < 300 THEN 1 ELSE 0 END) AS BIGINT)
        |  AS n_small,
        | sum(CASE WHEN bytes < 300 THEN 1 ELSE 0 END) >= 12
        |  AS compact_now
        |FROM m GROUP BY 1""",
    "lake_file_skipping" ->
      // both manifests + the probe workload replayed in integer SQL:
      // the z interleave shared with lake_zorder_plan, the
      // single-sort bucket a plain top-bit prefix of the leading dim,
      // the hit test the same [min,max]-intersects-band predicate
      s"""WITH $orderGridCte,
         |q AS (SELECT $orderCellSql
         | FROM orders, mm),
         |zm AS (SELECT 'zorder' AS layout,
         |  ($mortonSql) // ${1L << 26} AS file_bucket,
         |  min(y) AS min_day16, max(y) AS max_day16 FROM q GROUP BY 2),
         |sm AS (SELECT 'sorted_cust16' AS layout, x // ${1L << 10}
         |   AS file_bucket,
         |  min(y) AS min_day16, max(y) AS max_day16 FROM q GROUP BY 2),
         |m AS (SELECT * FROM zm UNION ALL SELECT * FROM sm),
         |nf AS (SELECT layout, count(*) AS n_files FROM m GROUP BY 1),
         |pr AS (SELECT i AS probe_id, i * 8192 AS lo,
         |  i * 8192 + 511 AS hi FROM range(8) t(i)),
         |hits AS (SELECT m.layout, pr.probe_id, pr.lo, pr.hi,
         |  sum(CASE WHEN m.min_day16 <= pr.hi AND m.max_day16 >= pr.lo
         |    THEN 1 ELSE 0 END) AS files_hit
         | FROM m, pr GROUP BY 1, 2, 3, 4)
         |SELECT h.layout, CAST(h.probe_id AS BIGINT) AS probe_id,
         | CAST(h.lo AS BIGINT) AS lo, CAST(h.hi AS BIGINT) AS hi,
         | CAST(nf.n_files AS BIGINT) AS n_files,
         | CAST(h.files_hit AS BIGINT) AS files_hit,
         | CAST(nf.n_files - h.files_hit AS BIGINT)
         |  / CAST(nf.n_files AS BIGINT) AS skip_rate
         |FROM hits h JOIN nf USING (layout)""",
    "text_bm25_topk" ->
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
        |  ORDER BY bm25 DESC, neighbor_id) <= 10""",
    "text_bpe_train" -> {
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
    "text_bpe_vocab" ->
      // the same unrolled chain, final symbol state emitted: the
      // learned tokenizer's per-word split + fertility
      s"""WITH $bpeCtes
         |SELECT word, n, CAST(length(word) AS BIGINT) AS n_chars,
         | CAST(len(syms) AS BIGINT) AS n_tokens,
         | list_aggregate(syms, 'string_agg', ' ') AS token_seq
         |FROM s6""",
    "text_bpe_apply" ->
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
         |GROUP BY 1""",
    "text_bm25_maxscore" ->
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
        |  ORDER BY bm25 DESC, neighbor_id) <= 10""",
    "events_ab_cuped" ->
      // same coin; per-user (pre, post) means at the typePsi calendar
      // midpoint, pooled moments in one conditional aggregate, then
      // the same closed-form scalar tree (theta = cov/var_pre,
      // var_reduction = rho^2) — unrounded, abTest exactness class
      """WITH e AS (SELECT user_id, CAST(ts AS DATE) AS day, value
        | FROM events WHERE ts IS NOT NULL),
        |m AS (SELECT min(day) + CAST(floor(
        |  date_diff('day', min(day), max(day)) / 2) AS INTEGER) AS mid
        | FROM e),
        |u AS (SELECT user_id,
        |  substring(md5(CAST(user_id AS VARCHAR) || ':ab42'), 1, 8)
        |    < '80000000' AS is_a,
        |  CAST(sum(CASE WHEN day <= m.mid THEN 1 ELSE 0 END) AS BIGINT)
        |   AS pre_n,
        |  sum(CASE WHEN day <= m.mid THEN value ELSE CAST(0 AS DOUBLE) END)
        |   AS pre_s,
        |  CAST(sum(CASE WHEN day > m.mid THEN 1 ELSE 0 END) AS BIGINT)
        |   AS post_n,
        |  sum(CASE WHEN day > m.mid THEN value ELSE CAST(0 AS DOUBLE) END)
        |   AS post_s
        | FROM e, m GROUP BY 1, 2 HAVING pre_n > 0 AND post_n > 0),
        |p AS (SELECT is_a, pre_s / pre_n AS pre, post_s / post_n AS post
        | FROM u),
        |a AS (SELECT
        |  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |  CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  sum(CASE WHEN is_a THEN pre ELSE CAST(0 AS DOUBLE) END) AS spre_a,
        |  sum(CASE WHEN NOT is_a THEN pre ELSE CAST(0 AS DOUBLE) END) AS spre_b,
        |  sum(CASE WHEN is_a THEN post ELSE CAST(0 AS DOUBLE) END) AS spost_a,
        |  sum(CASE WHEN NOT is_a THEN post ELSE CAST(0 AS DOUBLE) END) AS spost_b,
        |  sum(CASE WHEN is_a THEN pre ELSE CAST(0 AS DOUBLE) END * pre)
        |   AS qpre_a,
        |  sum(CASE WHEN NOT is_a THEN pre ELSE CAST(0 AS DOUBLE) END * pre)
        |   AS qpre_b,
        |  sum(CASE WHEN is_a THEN post ELSE CAST(0 AS DOUBLE) END * post)
        |   AS qpost_a,
        |  sum(CASE WHEN NOT is_a THEN post ELSE CAST(0 AS DOUBLE) END * post)
        |   AS qpost_b,
        |  sum(CASE WHEN is_a THEN pre ELSE CAST(0 AS DOUBLE) END * post)
        |   AS cpp_a,
        |  sum(CASE WHEN NOT is_a THEN pre ELSE CAST(0 AS DOUBLE) END * post)
        |   AS cpp_b
        | FROM p HAVING n_a > 1 AND n_b > 1),
        |s AS (SELECT *, n_a + n_b AS n,
        |  (spre_a + spre_b) / (n_a + n_b) AS mean_pre,
        |  ((cpp_a + cpp_b) - (spre_a + spre_b) * (spost_a + spost_b)
        |    / (n_a + n_b)) / (n_a + n_b - 1) AS cov_pp,
        |  ((qpre_a + qpre_b) - (spre_a + spre_b) * (spre_a + spre_b)
        |    / (n_a + n_b)) / (n_a + n_b - 1) AS var_pre,
        |  ((qpost_a + qpost_b) - (spost_a + spost_b) * (spost_a + spost_b)
        |    / (n_a + n_b)) / (n_a + n_b - 1) AS var_post
        | FROM a)
        |SELECT n_a, n_b,
        | spost_a / n_a AS mean_post_a, spost_b / n_b AS mean_post_b,
        | spost_a / n_a - (cov_pp / var_pre) * (spre_a / n_a - mean_pre)
        |  AS cuped_mean_a,
        | spost_b / n_b - (cov_pp / var_pre) * (spre_b / n_b - mean_pre)
        |  AS cuped_mean_b,
        | cov_pp / var_pre AS theta,
        | cov_pp * cov_pp / (var_pre * var_post) AS var_reduction
        |FROM s WHERE var_pre > 0 AND var_post > 0""",
    "events_ab_sequential" ->
      // same coin + expression tree as events_ab_ttest, cumulated by
      // day: daily partials of the six sufficient statistics, then a
      // per-type ROWS UNBOUNDED PRECEDING fold in day order — both
      // engines sum the partials in the same order, so only
      // within-day order can differ (same last-ulp class)
      s"""WITH $abDailyMomentsCtes,
        |c AS (SELECT event_type, day,
        |  CAST(sum(d_na) OVER cw AS BIGINT) AS n_a,
        |  CAST(sum(d_nb) OVER cw AS BIGINT) AS n_b,
        |  sum(d_sa) OVER cw AS s_a, sum(d_sb) OVER cw AS s_b,
        |  sum(d_qa) OVER cw AS q_a, sum(d_qb) OVER cw AS q_b
        | FROM d WINDOW cw AS (PARTITION BY event_type ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |w AS (SELECT event_type, day, n_a, n_b,
        |  CAST(n_a AS DOUBLE) / (n_a + n_b) AS share_a,
        |  s_a / n_a AS mean_a, s_b / n_b AS mean_b,
        |  greatest((q_a - s_a * s_a / n_a) / (n_a - 1), 0) / n_a AS se_a,
        |  greatest((q_b - s_b * s_b / n_b) / (n_b - 1), 0) / n_b AS se_b
        | FROM c WHERE n_a > 1 AND n_b > 1)
        |SELECT event_type, day, n_a, n_b, share_a, mean_a, mean_b,
        | (mean_a - mean_b) / sqrt(se_a + se_b) AS welch_t,
        | (se_a + se_b) * (se_a + se_b) / (se_a * se_a / (n_a - 1)
        |   + se_b * se_b / (n_b - 1)) AS welch_df
        |FROM w WHERE se_a + se_b > 0""",
    "events_type_psi" ->
      // categorical drift: the types ARE the buckets; Laplace term
      // count is data-dependent (count(*) OVER ()), same half split
      s"""WITH e AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |m AS (SELECT min(day) + CAST(floor(
        |  date_diff('day', min(day), max(day)) / 2) AS INTEGER) AS mid
        | FROM e),
        |g AS (SELECT event_type,
        |  CAST(sum(CASE WHEN day <= m.mid THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_a,
        |  CAST(sum(CASE WHEN day <= m.mid THEN 0 ELSE 1 END) AS BIGINT)
        |   AS n_b
        | FROM e, m GROUP BY 1),
        |${laplaceShareCte("event_type")},
        |${psiTermsSql("event_type")}""",
    "events_value_psi" -> {
      val probs = (1 to 9).map(_ / 10.0)
      val bucketExpr = probs.indices.map(i =>
        s"CASE WHEN value > cs[${i + 1}] THEN 1 ELSE 0 END")
        .mkString(" + ")
      s"""WITH e AS (SELECT value, CAST(ts AS DATE) AS day FROM events),
         |m AS (SELECT min(day) + CAST(floor(
         |  date_diff('day', min(day), max(day)) / 2) AS INTEGER) AS mid
         | FROM e),
         |t AS (SELECT value, day <= m.mid AS is_a FROM e, m),
         |c AS (SELECT quantile_cont(value,
         |  [${probs.mkString(", ")}]) AS cs FROM t WHERE is_a),
         |b AS (SELECT CAST($bucketExpr AS BIGINT) AS bucket, is_a
         | FROM t, c),
         |g AS (SELECT bucket,
         |  CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         |  CAST(sum(CASE WHEN is_a THEN 0 ELSE 1 END) AS BIGINT) AS n_b
         | FROM b GROUP BY 1),
         |p AS (SELECT bucket, n_a, n_b,
         |  (n_a + 0.5) / (CAST(sum(n_a) OVER () AS BIGINT) + 5.0) AS p_a,
         |  (n_b + 0.5) / (CAST(sum(n_b) OVER () AS BIGINT) + 5.0) AS p_b
         | FROM g),
         |${psiTermsSql("bucket")}"""
    },
    "text_zipf_spectrum" ->
      """WITH tok AS (SELECT unnest(list_filter(
        |  regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS token
        | FROM documents),
        |c AS (SELECT token, count(*) AS occurrences FROM tok GROUP BY 1)
        |SELECT occurrences, count(*) AS n_tokens FROM c GROUP BY 1""",
    "q_concurrent_sessions" ->
      s"""WITH flagged AS (
        | SELECT user_id, ts, event_id,
        |  $newSessionSql),
        |numbered AS (
        | SELECT user_id, ts,
        |  sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        | FROM flagged),
        |s AS (SELECT user_id, session_seq, min(ts) AS session_start,
        |  max(ts) AS session_end FROM numbered GROUP BY 1, 2),
        |b AS (SELECT session_start AS ts, 1 AS delta FROM s
        |  UNION ALL SELECT session_end, -1 FROM s),
        |c AS (SELECT ts, sum(delta) OVER (ORDER BY ts, delta DESC
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc FROM b)
        |SELECT date_trunc('hour', ts) AS hour,
        | CAST(max(conc) AS BIGINT) AS max_concurrent
        |FROM c GROUP BY 1""",
    "stream_user_state" ->
      """SELECT user_id, event_type AS state, ts AS state_ts,
        | event_id AS state_event_id
        |FROM (SELECT user_id, event_type, ts, event_id,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY ts DESC, event_id DESC) AS rn FROM events) r
        |WHERE rn = 1""",
    "text_token_entropy" ->
      """WITH tok AS (SELECT doc_id, unnest(list_filter(
        |  regexp_split_to_array(lower(text), '\s+'), x -> x <> '')) AS token
        | FROM documents),
        |c AS (SELECT doc_id, token, count(*) AS c FROM tok GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
        |  sum(c * log2(c)) AS clog FROM c GROUP BY 1)
        |SELECT doc_id, n_tokens, log2(n_tokens) - clog / n_tokens AS entropy_bits
        |FROM a""",
  )
}
