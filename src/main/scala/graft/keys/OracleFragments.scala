package graft
package keys

/** The DuckDB oracle's shared fragments, and [[flat]], which ships each
  * oracle on one line. An oracle is DuckDB SQL against the raw testdata
  * tables, written beside its key's Spark query in the family files and
  * independently of the operator code; only shared constants
  * (thresholds, seeds) are read from the Spark side. Every fragment is
  * a `lazy val` or a `def`, so building one key's oracle builds only
  * the fragments it uses.
  */
private[graft] object OracleFragments {

  /** An oracle as it ships, on one line: the margins stripped, each
    * run of whitespace outside quoted text one space, the ends
    * trimmed. Quoted text, a '…' literal (whose '' escape reads as two
    * adjacent literals) or a "…" identifier, is kept byte for byte. */
  def flat(sql: String): String = {
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

  // ---- shared fragments ------------------------------------------------
  // Each SQL fragment that two or more oracles use is written once here
  // and interpolated where it is used. A fragment takes as parameters
  // only what differs between its uses: a name, a modulus, a threshold.
  // Fragments and oracles are written as margin literals and left
  // as they are; [[Key.oracle]] flattens each finished oracle once.

  /** The C4-style quality score of a relation with `text` and its
    * whitespace tokens `toks`, `AS quality_score`: a length, a
    * punctuation and a stop-word factor. */
  lazy val qualityScoreSql: String =
    """least(1.0, len(toks) / 128.0)
       | * (1.0 - least(1.0, ((length(text) - length(regexp_replace(text, '[[:punct:]]', '', 'g'))) / greatest(length(text), 1)) * 4.0))
       | * (0.3 + 0.7 * least(1.0, (len(list_filter(toks, x -> x IN ('the','a','and','of','to','in','is','it','for','on'))) / greatest(len(toks), 1)) * 5.0))
       | AS quality_score"""

  /** The loser of each verified near-dup pair `j(id_a, id_b)` by the
    * quality score `sc(doc_id, quality_score)`: the lower score drops,
    * a tie drops the higher id. */
  lazy val losersCte: String =
    """losers AS (SELECT DISTINCT
      |  CASE WHEN qa.quality_score < qb.quality_score THEN j.id_a
      |       WHEN qb.quality_score < qa.quality_score THEN j.id_b
      |       ELSE greatest(j.id_a, j.id_b) END AS doc_id
      | FROM j JOIN sc qa ON qa.doc_id = j.id_a
      |  JOIN sc qb ON qb.doc_id = j.id_b)"""

  /** The 90/5/5 split of `doc_id` by its salted md5 prefix
    * (`DataSplit.assignPortable`), `AS split`. */
  lazy val md5SplitSql: String =
    """CASE WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':split42'), 1, 8)
      |        < 'e6666666' THEN 'train'
      |      WHEN substring(md5(CAST(doc_id AS VARCHAR) || ':split42'), 1, 8)
      |        < 'f3333333' THEN 'val'
      |      ELSE 'test' END AS split"""

  /** The select list of a column-profile calibration over a
    * subquery of per-column (col_name, n_rows, n_nulls, n_distinct,
    * apx) rows, up to its opening parenthesis. */
  lazy val dqCalibrationHead: String =
    """SELECT col_name, n_rows, n_nulls, n_distinct,
      | round(n_nulls * 1.0 / n_rows, 6) AS null_frac,
      | abs(apx - n_distinct) <= greatest(2, (n_distinct * 5) // 100)
      |  AS distinct_within_tol
      |FROM ("""

  /** `daily(day, x)`: lineitem revenue per ship day, in exact cents
    * times percent (a HUGEINT). */
  lazy val dailyRevenueCte: String =
    """daily AS (SELECT CAST(l_shipdate AS DATE) AS day,
      | CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |   * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS HUGEINT)
      |  AS x
      | FROM lineitem GROUP BY 1)"""

  /** The signed 16-bit sample in bits 8..23 of the hash `h`. */
  lazy val sample16Sql: String =
    """CASE WHEN (h // 256) % 65536 >= 32768
      |   THEN (h // 256) % 65536 - 65536
      |   ELSE (h // 256) % 65536 END"""

  /** Per doc of `v(doc_id, smp)`: the mono decode statistics at
    * `rate`. */
  def monoSampleStats(rate: Int): String =
    s"""SELECT doc_id, CAST($rate AS INTEGER) AS sample_rate,
       | CAST(1 AS INTEGER) AS channels,
       | CAST(count(*) AS BIGINT) AS n_samples,
       | CAST(sum(smp) AS BIGINT) AS sum_samples,
       | CAST(sum(abs(smp)) AS BIGINT) AS sum_abs
       |FROM v GROUP BY 1"""

  /** One grain claim's row over the key multiplicities `g(m)`. */
  def grainStatsSql(grain: String, g: String): String =
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
  def minLabelCtes(pairs: String, nodes: String = "documents",
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
  lazy val trigramListSql: String =
    """list_transform(range(1, len(toks) - 1),
      |   i -> array_to_string(toks[i:i+2], ' '))"""

  /** `grams`, or the empty list when `toks` has under three tokens. */
  def ifTrigramsSql(grams: String): String =
    s"""CASE WHEN len(toks) >= 3
       |  THEN $grams
       |  ELSE CAST([] AS VARCHAR[]) END"""

  /** The word trigrams of `toks`, and the same deduplicated. */
  lazy val trigramsSql: String = ifTrigramsSql(trigramListSql)
  lazy val trigramSetSql: String = ifTrigramsSql(s"list_distinct($trigramListSql)")

  /** FNV-1a 64 of the string `str` as a HUGEINT: a fold over its
    * characters from the offset basis, xor then multiply by the prime,
    * mod 2^64. `j` and `b` name the lambdas' variables. */
  def fnv1aSql(str: String, j: String = "j", b: String = "b"): String =
    s"""list_reduce(list_prepend(CAST(14695981039346656037 AS HUGEINT),
       |   list_transform(range(1, length($str) + 1),
       |     $j -> CAST(ord(substr($str, $j, 1)) AS HUGEINT))),
       |   (h, $b) -> ((h - (h % 256)) + xor(CAST(h % 256 AS BIGINT),
       |     CAST($b AS BIGINT))) * 1099511628211 % 18446744073709551616)"""

  /** Each embedding with the IVF cells of the centroids
    * `cents(cell, col)` ranked by cosine: rows (vec_id, cell, rn), the
    * nearest first and ties to the lower cell. */
  def ivfRankSql(cents: String, col: String = "embedding"): String =
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
  def dupSidesCte(score: String): String =
    s"""sides AS (SELECT id_a AS doc_id, $score AS score,
       |  false AS is_junior FROM verified
       | UNION ALL SELECT id_b, $score, true FROM verified)"""
  lazy val dupPerdocCte: String =
    """perdoc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dupes,
      |  max(score) AS max_score, bool_or(is_junior) AS dominated
      | FROM sides GROUP BY 1)"""
  def dupKeepSql(docs: String = "documents d"): String =
    s"""SELECT d.doc_id, coalesce(p.n_dupes, 0) AS n_dupes,
       | coalesce(p.max_score, 0.0) AS max_score,
       | coalesce(NOT p.dominated, true) AS keep
       |FROM $docs LEFT JOIN perdoc p USING (doc_id)"""

  /** The docs_curate stages after a quality gate `q(doc_id)`, over
    * `t(doc_id, text, toks)`: `dd` keeps the least doc_id of each
    * normalized text, `g` lists each doc's trigrams, `bench` holds the
    * trigrams of the benchmark slice (doc_id % `benchMod` = 0) and
    * `cont` the other docs that share one. */
  def curateDedupCtes(benchMod: Int): String =
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
  def curateCtes(minScore: String, benchMod: Int): String =
    s"""${toksCteAs("t")},
       |q AS (SELECT doc_id FROM (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS n_tokens,
       |  ${qualityScoreSql} FROM t) s
       | WHERE n_tokens >= 20 AND n_tokens <= 100000 AND quality_score >= $minScore),
       |${curateDedupCtes(benchMod)}"""

  /** `cur(doc_id, source)`: the documents that [[curateDedupCtes]]
    * keeps, each the least doc_id of its text, off the benchmark slice
    * and not contaminated. */
  def curCte(benchMod: Int): String =
    s"""cur AS (SELECT d.doc_id, d.source FROM documents d
       | WHERE d.doc_id IN (SELECT doc_id FROM dd)
       |  AND d.doc_id % $benchMod <> 0
       |  AND d.doc_id NOT IN (SELECT doc_id FROM cont))"""

  /** `name(id_a, id_b)`: every id pair inside one row of
    * `bucket(ids)`, each bucket capped at its first 64 ids. */
  def bucketPairsCte(name: String): String =
    s"""$name AS (SELECT DISTINCT a.ida AS id_a, b.idb AS id_b
       | FROM (SELECT list_slice(ids, 1, 64) AS ids FROM bucket) c,
       |  LATERAL (SELECT unnest(c.ids) AS ida) a,
       |  LATERAL (SELECT unnest(c.ids) AS idb) b
       | WHERE a.ida < b.idb)"""

  /** Welch's t-test per event type from the A/B arms' sufficient
    * statistics `a(event_type, n_a, n_b, s_a, s_b, q_a, q_b)`. */
  lazy val welchSql: String =
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
  def scdVersionCtes(src: String = "events"): String =
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
  lazy val ivfCellDeadCtes: String =
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
  lazy val bm25StatsCtes: String =
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
  lazy val storeMatchSql: String =
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
  def abSumsSql(cnt: String, sum: String, sq: String): String =
    s"""CAST(sum(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS ${cnt}a,
       |  CAST(sum(CASE WHEN NOT is_a THEN 1 ELSE 0 END) AS BIGINT) AS ${cnt}b,
       |  sum(CASE WHEN is_a THEN value ELSE CAST(0 AS DOUBLE) END) AS ${sum}a,
       |  sum(CASE WHEN NOT is_a THEN value ELSE CAST(0 AS DOUBLE) END) AS ${sum}b,
       |  sum(CASE WHEN is_a THEN value ELSE CAST(0 AS DOUBLE) END * value)
       |   AS ${sq}a,
       |  sum(CASE WHEN NOT is_a THEN value ELSE CAST(0 AS DOUBLE) END * value)
       |   AS ${sq}b"""

  /** The md5 coin that splits users into the A and B arms. */
  lazy val abCoinSql: String =
    """substring(md5(CAST(user_id AS VARCHAR) || ':ab42'), 1, 8)
      |   < '80000000' AS is_a"""

  /** Per event type: `g` splits the events by [[abCoinSql]] and `a`
    * holds the arms' [[abSumsSql]] (n_a, n_b, s_a, s_b, q_a, q_b), for
    * types with at least two events per arm. */
  lazy val abMomentsCtes: String =
    s"""g AS (SELECT event_type,
       | $abCoinSql,
       | value FROM events),
       |a AS (SELECT event_type,
       |  ${abSumsSql("n_", "s_", "q_")}
       | FROM g GROUP BY 1 HAVING n_a > 1 AND n_b > 1)"""

  /** [[abMomentsCtes]] per event type and day, into `d` (d_na, d_nb,
    * d_sa, d_sb, d_qa, d_qb), over the events with a timestamp. */
  lazy val abDailyMomentsCtes: String =
    s"""g AS (SELECT event_type, CAST(ts AS DATE) AS day,
       | $abCoinSql,
       | value FROM events WHERE ts IS NOT NULL),
       |d AS (SELECT event_type, day,
       |  ${abSumsSql("d_n", "d_s", "d_q")}
       | FROM g GROUP BY 1, 2)"""

  /** `name(cols, h)`: the hashes that seed the synthetic media's 64
    * samples, the [[fnv1aSql]] of "doc_id:i" for i in [0, 64); `cols`
    * is `doc_id` or `doc_id, i`. */
  def sampleHashCte(name: String, cols: String): String =
    s"""$name AS (SELECT $cols,
       | ${fnv1aSql("s")} AS h
       | FROM (SELECT $cols,
       |   CAST(doc_id AS VARCHAR) || ':' || CAST(i AS VARCHAR) AS s
       |  FROM documents, LATERAL (SELECT unnest(generate_series(0, 63))
       |   AS i) g) t)"""

  /** The exact-cosine top 10 of each query over the candidate pairs
    * `cands(query_id, neighbor_id)`, aliased `c`, ties to the lower
    * neighbor_id; `q` aliases the query's embedding row. */
  def exactTop10Sql(cands: String, c: String, q: String = "q"): String =
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
  def ngramCoverCtes(src: String): String =
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
  lazy val rtbfStoreCtes: String =
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
  lazy val stickinessCtes: String =
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
  lazy val monthlyRevenueCte: String =
    """m AS (SELECT
      |  date_trunc('month', CAST(l_shipdate AS DATE)) AS mth,
      |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
      |    * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS HUGEINT)
      |   AS c
      | FROM lineitem GROUP BY 1)"""

  /** Holt-Winters' start over the monthly series `s(i, c, x)`: the
    * first two years' mean levels `init(m1, m2)` and the first year's
    * seasonal offsets `seas0(sl)`. */
  lazy val holtWintersInitCtes: String =
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
  lazy val newSessionSql: String =
    """CASE WHEN lag(ts) OVER w IS NULL
      |   OR ts > lag(ts) OVER w + INTERVAL 30 MINUTE THEN 1 ELSE 0 END
      |   AS new_session
      | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)"""

  /** The events flagged by [[newSessionSql]], then `numbered`: every
    * event column with its user's running `session_seq`. */
  lazy val sessionSeqCtes: String =
    s"""flagged AS (SELECT user_id, ts, event_id, event_type,
       |  $newSessionSql),
       |numbered AS (SELECT *, sum(new_session) OVER (PARTITION BY user_id
       |  ORDER BY ts, event_id
       |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
       | FROM flagged)"""

  /** The events per hour `h(hb, n)` and every hour `spine(hb)` from
    * the first event's to the last's. */
  lazy val hourSpineCtes: String =
    """h AS (SELECT date_trunc('hour', ts) AS hb, count(*) AS n
      |  FROM events GROUP BY 1),
      |b AS (SELECT min(hb) AS lo, max(hb) AS hi FROM h),
      |spine AS (SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR))
      |   AS hb FROM b)"""

  /** [[hourSpineCtes]] with the events of every hour `f(hb, n, dow,
    * hour_of_day)`, zero-event hours included, and each weekly slot's
    * hour count and first two moments `p(dow, hour_of_day, cnt, s1,
    * s2)`. DuckDB's dayofweek counts Sunday as 0, Spark's as 1. */
  lazy val hourSlotCtes: String =
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
  lazy val langHitsCte: String =
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
  lazy val predictedLangSql: String =
    """CASE WHEN greatest(hits_en, hits_fr, hits_es, hits_de, hits_zh) = 0 THEN 'und'
      |  WHEN hits_en = greatest(hits_en, hits_fr, hits_es, hits_de, hits_zh) THEN 'en'
      |  WHEN hits_fr = greatest(hits_en, hits_fr, hits_es, hits_de, hits_zh) THEN 'fr'
      |  WHEN hits_es = greatest(hits_en, hits_fr, hits_es, hits_de, hits_zh) THEN 'es'
      |  WHEN hits_de = greatest(hits_en, hits_fr, hits_es, hits_de, hits_zh) THEN 'de'
      |  ELSE 'zh' END AS predicted_lang"""

  /** FROM each document's 128-char frames, numbered `i` from 0; an
    * empty text has one empty frame. */
  lazy val framesFromSql: String =
    """FROM documents, LATERAL (SELECT unnest(generate_series(0,
      |   greatest((length(text) - 1) // 128, 0))) AS i) g"""

  /** The md5 of the first 64 chars of every frame: `pd(doc_id, fmd5)`
    * holds each document's distinct ones, `sz(doc_id, n)` counts them
    * and `d(fmd5, df)` counts the documents of each. */
  lazy val frameMd5Ctes: String =
    s"""f AS (SELECT doc_id, md5(substr(text, i * 128 + 1, 64)) AS fmd5
       |  $framesFromSql),
       |pd AS (SELECT DISTINCT doc_id, fmd5 FROM f),
       |sz AS (SELECT doc_id, count(*) AS n FROM pd GROUP BY 1),
       |d AS (SELECT fmd5, count(*) AS df FROM pd GROUP BY 1)"""

  /** The exact-match tail over the new items `nd(doc_id, …)` and
    * their store matches `p(doc_id, store_id)`: each new item's match
    * count, its least store_id as `match_id` and then `cols`; an item
    * with no match is kept. */
  def exactStoreMatchSql(cols: String = ""): String =
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
  def laplaceShareCte(key: String): String =
    s"""p AS (SELECT $key, n_a, n_b,
       |  (n_a + 0.5) / (CAST(sum(n_a) OVER () AS BIGINT)
       |    + 0.5 * count(*) OVER ()) AS p_a,
       |  (n_b + 0.5) / (CAST(sum(n_b) OVER () AS BIGINT)
       |    + 0.5 * count(*) OVER ()) AS p_b
       | FROM g)"""

  /** The population stability index over the shares `p(key, n_a,
    * n_b, p_a, p_b)`: each category's term and their total. */
  def psiTermsSql(key: String): String =
    s"""q AS (SELECT *, (p_b - p_a) * ln(p_b / p_a) AS psi FROM p)
       |SELECT $key, n_a, n_b, round(p_a, 6) AS p_a,
       | round(p_b, 6) AS p_b, round(psi, 6) AS psi_term,
       | round(sum(psi) OVER (), 6) AS psi_total FROM q"""

  /** Per event type between the days `from` (inclusive) and `to`:
    * the exact distinct users and events, and whether DuckDB's own
    * approx_count_distinct lands within 5% of the exact users. */
  def approxUsersSql(from: String, to: String): String =
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
  lazy val lakeFileCte: String =
    """m AS (SELECT source AS part,
      |  CAST(doc_id % 37 AS BIGINT) AS file_id,
      |  CAST(sum(n_chars) AS BIGINT) AS bytes
      | FROM documents GROUP BY 1, 2)"""

  /** The manifest of [[lakeFileCte]] with each file's snapshot life:
    * `created_snap`, and `removed_snap` for a third of the files. */
  lazy val lakeSnapshotCte: String =
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
  lazy val lakeBinCtes: String =
    s"""$lakeFileCte,
       |b AS (SELECT part, file_id, bytes,
       |  COALESCE(sum(bytes) OVER (PARTITION BY part
       |    ORDER BY bytes DESC, file_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |   AS cum_before FROM m)"""

  /** The orders' largest custkey and day offset from 1992-01-01,
    * `mm(max_c, max_d)`, the extent of the 65536 × 65536 grid. */
  lazy val orderGridCte: String =
    """mm AS (SELECT max(o_custkey) AS max_c,
      |  max(CAST(date_diff('day', DATE '1992-01-01', o_orderdate)
      |    AS BIGINT)) AS max_d FROM orders)"""

  /** An order's cell `x, y` of the [[orderGridCte]] grid. */
  lazy val orderCellSql: String =
    """least(greatest((o_custkey * 65536) // (mm.max_c + 1), 0),
      |    65535) AS x,
      |  least(greatest((CAST(date_diff('day', DATE '1992-01-01',
      |    o_orderdate) AS BIGINT) * 65536) // (mm.max_d + 1), 0),
      |    65535) AS y"""

  /** The 32-bit Morton key of the cell (x, y): dim 0 at the even bit
    * positions, dim 1 at the odd ones. */
  lazy val mortonSql: String = (0 until 16).flatMap { bit =>
    Seq(s"((x // ${1L << bit}) % 2) * ${1L << (2 * bit)}",
      s"((y // ${1L << bit}) % 2) * ${1L << (2 * bit + 1)}")
  }.mkString(" + ")

  /** A z-order file's cell bounds, over its rows' (x, y). */
  lazy val zBoundsSql: String =
    """CAST(min(x) AS BIGINT) AS min_cust16,
      | CAST(max(x) AS BIGINT) AS max_cust16,
      | CAST(min(y) AS BIGINT) AS min_day16,
      | CAST(max(y) AS BIGINT) AS max_day16"""

  /** Each scored posting `c` of [[bm25StatsCtes]] that shares a token
    * with a query doc (doc_id % 100 = 0) as a BM25 term (k1 = 1.2,
    * b = 0.75): rows (query_id, neighbor_id, tok, term). */
  lazy val bm25TermsSql: String =
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
  def bm25FoldSql(tok: String, term: String): String =
    s"""list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |  list_transform(list_sort(list({'tok': $tok, 'term': $term})),
       |    x -> struct_extract(x, 'term'))),
       |  (acc, v) -> acc + v)"""

  /** Every pair of a query embedding (vec_id % `mod` = 0) and another
    * embedding, with their exact cosine: rows (query_id, neighbor_id,
    * cosine). */
  def queryPairsSql(mod: Int = 100): String =
    s"""SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
       |    CAST(c.embedding AS DOUBLE[])) AS cosine
       | FROM embeddings q JOIN embeddings c ON c.vec_id != q.vec_id
       | WHERE q.vec_id % $mod = 0"""

  /** The md5 coin of `a.doc_id` under `salt` falls below the row's
    * sampling rate `r.rate`: its first 8 hex digits against the rate
    * scaled to 2^32, every row kept at a rate of 1 or more. */
  def md5BelowRateSql(a: String, salt: String): String =
    s"""substring(md5(CAST($a.doc_id AS VARCHAR) || ':$salt'), 1, 8) <
       | CASE WHEN r.rate >= 1.0 THEN 'g'
       |  ELSE printf('%08x', CAST(floor(r.rate * 4294967296.0) AS BIGINT)) END"""

  /** The rows of `src(doc_id, source)`, aliased `a`, sampled at their
    * source's rate `r(source, rate)` by [[md5BelowRateSql]]. */
  def rateSampleSql(src: String, a: String, salt: String): String =
    s"""SELECT $a.doc_id, $a.source FROM $src $a JOIN r ON $a.source = r.source
       |WHERE ${md5BelowRateSql(a, salt)}"""

  /** The mixture sample of `src(doc_id, source)`: src0 weighted 0.5 and
    * src1, src2 0.25 each, each rate the largest that the scarcest
    * source allows. */
  def mixtureSampleSql(src: String, a: String): String =
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
  def temperatureSampleSql(src: String, a: String): String =
    s"""cnt AS (SELECT source, count(*) AS n FROM $src
       | WHERE source IS NOT NULL GROUP BY source),
       |m AS (SELECT min(n) AS nmin FROM cnt),
       |r AS (SELECT source,
       |  sqrt(CAST((SELECT nmin FROM m) AS DOUBLE) / CAST(n AS DOUBLE)) AS rate
       | FROM cnt)
       |${rateSampleSql(src, a, "t42")}"""

  // ---- DuckDB oracles --------------------------------------------------

  /** The lineitem→sales mapping as a SQL fragment (SURVEY.md §1). */
  def salesSql(where: String): String =
    s"""SELECT l_orderkey * 10 + l_linenumber AS sale_id,
       | l_partkey AS product_id,
       | l_quantity AS quantity,
       | l_extendedprice AS sale_amount,
       | CAST(l_shipdate AS DATE) AS sale_date
       |FROM lineitem $where"""

  lazy val cleanSalesSql: String =
    s"""SELECT * FROM (${salesSql("")}) s
       | WHERE sale_id IS NOT NULL AND product_id IS NOT NULL
       |   AND quantity IS NOT NULL AND sale_amount IS NOT NULL
       |   AND sale_date IS NOT NULL AND quantity > 0 AND sale_amount > 0"""

  /** Shared perceptual-hash CTE chain (DuckDB dialect): replays the
    * mixed PNG/BMP synth's PIXELS from the double-FNV recipe
    * (HUGEINT folds; the planted copies at doc_id % 10 = 1 read
    * doc_id-1's recipe with pixel 0's red nudged +1), packs the
    * 56 row-adjacent luma-gradient comparison bits, and ends in
    * `sig(doc_id, dhash)`. Both phash oracles append their own
    * exhaustive tail - no candidate rule anywhere. */
  lazy val phashSigCtes: String =
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
  lazy val gopherProfileCtes: String =
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
  lazy val dupMassCtes: String = {
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
  def linedCtesFrom(src: String): String =
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
  lazy val linedCtes: String = linedCtesFrom("documents")

  /** Quality-defect fixture replay (DuckDB dialect) — the verbatim
    * SQL twin of [[operators.TextAnalysis.synthQualityDefects]]:
    * ends in `qd(doc_id, source, text)`, which [[linedCtesFrom]]
    * then lines exactly as the operator's [[operators.TextAnalysis
    * .synthQualityCorpus]] does. Plant sizes and the healthy tail
    * come from the SAME constants the operator reads. */
  lazy val qualCorpusCte: String = {
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
  lazy val qualProfileCtes: String = {
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

  /** One quality-rule flag as SQL over `qprof` columns — the
    * [[operators.TextAnalysis.GopherQualityThresholds]] row
    * interpolated, value-outside-[lo, hi] semantics. */
  def qualFlagSql(name: String): String = {
    val (_, lo, hi) = operators.TextAnalysis.GopherQualityThresholds
      .find(_._1 == name).get
    s"($name < $lo OR $name > $hi)"
  }

  def qualAnySql: String =
    operators.TextAnalysis.GopherQualityThresholds
      .map(t => qualFlagSql(t._1)).mkString("(", " OR ", ")")

  /** Any of the Gopher repetition thresholds `names` broken, over the
    * [[gopherProfileCtes]] and [[dupMassCtes]] columns. */
  def repBrokenSql(names: String*): String =
    names.map { n =>
      val (_, th) = operators.TextAnalysis.GopherGateThresholds.find(_._1 == n).get
      s"$n > $th"
    }.mkString("(", " OR ", ")")

  /** The repetition families: duplicated lines, paragraphs, top
    * n-grams and duplicated n-grams, and any threshold at all. */
  lazy val repLineSql = repBrokenSql("dup_line_fraction", "dup_line_char_fraction")
  lazy val repParaSql = repBrokenSql("dup_para_fraction", "dup_para_char_fraction")
  lazy val repTopSql = repBrokenSql("top2gram_char_fraction",
    "top3gram_char_fraction", "top4gram_char_fraction")
  lazy val repDupSql = repBrokenSql((5 to 10).map(n => s"dup${n}gram_char_fraction"): _*)
  def repAnySql: String =
    repBrokenSql(operators.TextAnalysis.GopherGateThresholds.map(_._1).sorted: _*)

  /** The 20-threshold Gopher gate, appended after [[linedCtesFrom]]:
    * the profile chains and `gflag(doc_id)`, every doc that breaks a
    * repetition or a quality threshold. */
  lazy val gopherFlagCtes: String =
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
  lazy val dupNgramCoverageCtes: String =
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
  def toksCteAs(name: String, cols: String = "doc_id, text"): String =
    s"""$name AS (SELECT $cols,
       |  list_filter(regexp_split_to_array(text, '\\s+'), x -> x <> '') AS toks
       | FROM documents)"""

  lazy val toksCte: String = "WITH " + toksCteAs("t")

  /** Learned-quality-filter training replay (r15): the
    * [[graft.operators.QualityLr]] full-batch GD unrolled — exact
    * rational features off the stats counters, per-iteration weight
    * CTEs with the gradient sum FLOAT-narrowed exactly as the
    * operator narrows it, `iters` rows deep. Ends in `ff` (features
    * + label) and `w<iters>` (the trained 5-float row). */
  def qualityLrCtes(iters: Int = 3): String = {
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
  def unigramDpCte(name: String, probs: String): String = {
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

  def unigramTrainCtes: String =
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
  lazy val gramDfCtes: String =
    s"""t AS (SELECT doc_id, list_filter(
       |  regexp_split_to_array(lower(text), '\\s+'), x -> x <> '') AS toks
       | FROM documents),
       |g AS (SELECT doc_id, $trigramSetSql AS grams FROM t),
       |inv AS (SELECT doc_id, unnest(grams) AS gram FROM g),
       |d AS (SELECT gram, count(*) AS df FROM inv GROUP BY 1)"""

  /** [[gramDfCtes]] and the blocked candidate pairs `p(id_a, id_b)`:
    * at least three shared trigrams of df in [2, 64]. */
  lazy val blockedCandCtes: String =
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
  lazy val blockedPairsCte: String =
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
  def minhashPermValues(numPerms: Int, seed: Long): String =
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
  def cmsCtes: String =
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
  def kmeansCtes: String = {
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
  def sceneLumaCtes: String =
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
  def bpeCtes: String = {
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
  def shingleCtes: String =
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
  def minhashSigCtes: String =
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
  def minhashVerifiedCtes: String =
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

  // ---- hyperplane-LSH oracle machinery (r10) -------------------------
  // The "randomized" tiers are seed-deterministic: the plane matrices
  // come from gf.randomPlanes(seed), so the oracle embeds them as
  // DOUBLE[] literals (each float widened to its EXACT double — the
  // same widening the kernel's accumulate does) and replays signature
  // bits as dot-product signs. The only cross-engine freedom left is
  // dot-product summation order at a sign boundary (|proj| within one
  // ulp of 0 — measure-zero for continuous data).
  def hyperplaneValues(tables: Int, planes: Int, dim: Int,
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
  lazy val pcaFrozenCtes: String = {
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
  def hyperplaneSigCte(tables: Int, planes: Int,
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
  def hyperplanePairsCte(tau: Double): String =
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
  object Xx64Sql {
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
  lazy val audioSigCtes: String = {
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

  /** Offset-fixture winnowed-fingerprint replay (r14): xxhash64
    * samples (stride 192 = the fixture's nSamples; doc_id % 10 == 1
    * carries the previous doc's samples with the first 37 cut), the
    * per-position 63-bit sign-of-delta signatures, and the
    * winnowing min-per-16-position-window selection — ends in
    * `wsg(doc_id, wsig)`, the operator's fingerprint relation. */
  lazy val audioWinnowCtes: String = {
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
  lazy val audioWinnowPairCte: String =
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
  lazy val imageWinnowCtes: String =
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
  def ivfCentsCtes(srcWhere: String, pick: Int = 16,
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
  def pqTail(useIvf: Boolean, budget: Int,
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
  def ivfPqResidualOracle: String = {
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
  def ivfProbeTail(assignWhere: String = "",
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
  lazy val curateFullCtes: String =
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
  lazy val winnowFpCtes: String =
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
  lazy val crmPairsCte: String =
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
  lazy val crmEntityCtes: String =
    crmPairsCte.replace("WITH ", "WITH RECURSIVE ") + """,
      |e AS (SELECT rec_a AS src, rec_b AS dst FROM pr
      |  UNION ALL SELECT rec_b, rec_a FROM pr),
      |reach AS (SELECT rec_id, rec_id AS r FROM recs
      |  UNION
      |  SELECT reach.rec_id, e.dst FROM reach JOIN e ON e.src = reach.r),
      |lab AS (SELECT rec_id, min(r) AS entity_id FROM reach GROUP BY 1)"""
}
