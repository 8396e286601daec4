package graft
package keys

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import OracleFragments._
import Shared._

/** The dedup keys (`dedup_*`): exact, near-duplicate and embedding
  * deduplication. */
private[graft] object DedupKeys extends Family("dedup_") {

  lazy val keys: Seq[Key] = Seq(
    // LSH tuning diagnostic over the shared shingle trunk — minhash
    // signatures have no SQL analog (rows-only; DedupSpec pins the
    // histogram identities and the collapse/too-fine readouts)
    Key("dedup_lsh_band_stats")((s, dir) =>
      Dedup.lshBandStats(sharedShingleSets(s, dir)))(
      // the cheap PREFIX of the same pipeline: per-band bucket-size
      // histogram over the banded signature keys
      s"""WITH $minhashSigCtes,
          |bs AS (SELECT band, band_key, CAST(count(*) AS BIGINT)
          |  AS bucket_size FROM sig GROUP BY 1, 2)
          |SELECT CAST(band AS INT) AS band, bucket_size,
          | CAST(count(*) AS BIGINT) AS n_buckets,
          | CAST(bucket_size * (bucket_size - 1) // 2 AS BIGINT)
          |  * count(*) AS implied_pairs
          |FROM bs GROUP BY 1, 2"""),
    Key("dedup_exact")((s, dir) => Dedup.exact(Tables.documents(s, dir)))(
      """SELECT min(doc_id) AS doc_id, count(*) AS n_copies
        |FROM (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents) n
        |GROUP BY norm"""),
    Key("dedup_exact_report")((s, dir) => Dedup.exactReport(Tables.documents(s, dir)))(
      """SELECT md5(norm) AS group_md5, count(*) AS n_copies,
        | min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM (SELECT doc_id,
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm FROM documents) n
        |GROUP BY norm HAVING count(*) > 1"""),
    Key("dedup_token_inflation")((s, dir) =>
      Dedup.tokenInflation(Tables.documents(s, dir)))(
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
        |FROM d GROUP BY 1"""),
    Key("dedup_minhash_lsh")((s, dir) =>
      Dedup.minhashSummary(Tables.documents(s, dir),
        sharedShingleSets(s, dir), tau = 0.4))(
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
          |${dupKeepSql()}"""),
    // the LOSSLESS complement to the LSH tiers: prefix-filtered
    // exact set-similarity join — every pair at J >= tau, candidate
    // join bounded by rarest-first prefixes, oracled against the
    // exhaustive definition
    Key("dedup_exact_jaccard_pairs")((s, dir) =>
      Dedup.prefixJaccardPairs(sharedShingleSets(s, dir)))(
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
          |WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= 0.5"""),
    Key("dedup_simhash")((s, dir) =>
      Dedup.simhashSummary(Tables.documents(s, dir), maxHamming = 12))(
      // SimHash oracle (r10): the same FNV token hashes, per-bit votes
      // folded as integer sums, 16-bit band slices, Hamming via
      // hi/lo-split `bit_count` — all exact integer math.
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
         |${dupKeepSql()}"""),
    Key("dedup_ngram_jaccard")((s, dir) =>
      Dedup.ngramJaccardSummary(Tables.documents(s, dir))) {
      // Char-n-gram Jaccard oracle (r10): the rolling polynomial gram
      // hash has a CLOSED FORM (Σ byteⱼ·B^(n−1−j) mod 2⁶⁴ — no
      // recurrence needed in SQL; B-powers embedded as literals), then
      // the same minhash machinery at seed 7 / 8 bands / τ 0.7.
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
    },
    Key("dedup_embedding")((s, dir) =>
      Dedup.embeddingSummary(Tables.embeddings(s, dir), tau = 0.9))(
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
          |FROM embeddings e LEFT JOIN perdoc p ON p.doc_id = e.vec_id"""),
    // SemDeDup clusters over the EXACT pair relation — the O(n²)
    // brute-force ANCHOR tier (fully oracle-checked incl. closure);
    // the production key at scale is dedup_embedding_groups_lsh below
    Key("dedup_embedding_groups")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Dedup.embeddingGroups(e, Dedup.embeddingPairsExact(e, tau = 0.9))
    })(
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
        |FROM lab"""),
    // the SCALE form of SemDeDup clustering: LSH candidate pairs
    // (banded equi-joins, never all-pairs) feed the same min-label
    // closure — rows-only; DedupRecallSpec pins pair recall and
    // keep-decision parity against the exact anchor above
    Key("dedup_embedding_groups_lsh")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Dedup.embeddingGroups(e, Dedup.embeddingPairs(e, tau = 0.9))
    })(
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
          |FROM lab"""),
    // nightly-ingest semantic dedup: new vectors (vec_id % 10 == 3)
    // vs the stored corpus, exact tier (new side broadcasts, corpus
    // streams once); τ = 0.4 is the corpus-calibrated same-cluster
    // band of the synthetic embeddings (max pairwise cosine ≈ 0.51)
    Key("dedup_embedding_incremental")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Dedup.embeddingIncremental(
        e.filter(col("vec_id") % 10 === 3),
        e.filter(col("vec_id") % 10 =!= 3), tau = 0.4)
    })(
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
        |FROM nn LEFT JOIN agg a USING (vec_id)"""),
    Key("dedup_groups")((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dedupGroups(docs,
        Dedup.minhashPairs(sharedShingleSets(s, dir), tau = 0.4))
    })(
      // transitive closure over the REPLAYED minhash pair relation —
      // the same recursive-reachability tail as dedup_groups_blocked,
      // fed by minhashVerifiedCtes instead of the blocked trunk
      s"""WITH RECURSIVE $minhashVerifiedCtes,
          |${minLabelCtes("verified")}
          |SELECT doc_id, group_id, doc_id = group_id AS keep
          |FROM lab"""),
    Key("dedup_exact_apply")((s, dir) =>
      Dedup.exactApply(Tables.documents(s, dir)))(
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE doc_id IN (SELECT min(doc_id)
        | FROM (SELECT doc_id,
        |   trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        |  FROM documents) n GROUP BY norm)"""),
    // this key and the other blocked-pair keys all consume the same
    // default-parameter blocked-pair relation — computed once via
    // [[sharedBlockedPairs]]
    Key("dedup_blocked_suppress")((s, dir) =>
      Dedup.nearDupSuppress(Tables.documents(s, dir),
        sharedBlockedPairs(s, dir)))(
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
        |WHERE doc_id NOT IN (SELECT doc_id FROM losers)"""),
    Key("dedup_ngram_blocked")((s, dir) => sharedBlockedPairs(s, dir))(
      s"""WITH $blockedCandCtes,
        |j AS (SELECT p.id_a, p.id_b,
        |  len(list_intersect(ga.grams, gb.grams)) AS inter,
        |  len(ga.grams) + len(gb.grams)
        |    - len(list_intersect(ga.grams, gb.grams)) AS uni
        | FROM p JOIN g ga ON ga.doc_id = p.id_a
        |  JOIN g gb ON gb.doc_id = p.id_b)
        |SELECT id_a, id_b, CAST(inter AS DOUBLE) / uni AS jaccard
        |FROM j WHERE CAST(inter AS DOUBLE) / uni >= 0.5"""),
    Key("dedup_threshold_histogram")((s, dir) =>
      Dedup.thresholdHistogram(sharedTrunk(s, dir)))(
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
        |FROM h"""),
    Key("dedup_ngram_contain")((s, dir) =>
      Dedup.blockedContainmentPairs(sharedTrunk(s, dir)))(
      s"""WITH $blockedCandCtes,
        |j AS (SELECT p.id_a, p.id_b,
        |  len(list_intersect(ga.grams, gb.grams)) AS inter,
        |  greatest(least(len(ga.grams), len(gb.grams)), 1) AS mn
        | FROM p JOIN g ga ON ga.doc_id = p.id_a
        |  JOIN g gb ON gb.doc_id = p.id_b)
        |SELECT id_a, id_b, CAST(inter AS DOUBLE) / mn AS containment
        |FROM j WHERE CAST(inter AS DOUBLE) / mn >= 0.8"""),
    Key("dedup_source_matrix")((s, dir) =>
      Dedup.crossSourceMatrix(sharedBlockedPairs(s, dir),
        Tables.documents(s, dir)))(
      (blockedPairsCte +
        """SELECT least(da.source, db.source) AS source_x,
          | greatest(da.source, db.source) AS source_y,
          | count(*) AS n_pairs
          |FROM m JOIN documents da ON da.doc_id = m.id_a
          | JOIN documents db ON db.doc_id = m.id_b
          |GROUP BY 1, 2""")),
    Key("dedup_source_rate")((s, dir) =>
      Dedup.nearDupRateBySource(sharedBlockedPairs(s, dir),
        Tables.documents(s, dir)))(
      (blockedPairsCte +
        """, ids AS (SELECT DISTINCT doc_id FROM
          |  (SELECT id_a AS doc_id FROM m
          |   UNION ALL SELECT id_b AS doc_id FROM m) u)
          |SELECT d.source, count(*) AS n_docs,
          | CAST(count(ids.doc_id) AS BIGINT) AS n_near_dup,
          | round(CAST(count(ids.doc_id) AS DOUBLE) / count(*), 6)
          |  AS near_dup_rate
          |FROM documents d LEFT JOIN ids ON ids.doc_id = d.doc_id
          |GROUP BY 1""")),
    // oracle-checked components twin: deterministic blocked pairs in,
    // DuckDB WITH RECURSIVE transitive closure as the ground truth
    Key("dedup_groups_blocked")((s, dir) =>
      Dedup.dedupGroups(Tables.documents(s, dir),
        sharedBlockedPairs(s, dir)))(
      // transitive closure by recursive reachability: label = min id
      // reachable through the undirected blocked-pair edge set
      (blockedPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""", ${minLabelCtes("m")}
          |SELECT doc_id, group_id, doc_id = group_id AS keep
          |FROM lab""")),
    Key("dedup_cluster_sizes")((s, dir) =>
      Dedup.clusterSizeHistogram(
        Dedup.dedupGroups(Tables.documents(s, dir),
          sharedBlockedPairs(s, dir))))(
      (blockedPairsCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
        s""", ${minLabelCtes("m")},
          |sizes AS (SELECT group_id, count(*) AS cluster_size
          |  FROM lab GROUP BY 1)
          |SELECT cluster_size, count(*) AS n_clusters
          |FROM sizes GROUP BY 1""")),
    // survivor SELECTION policy over the same components: keep the
    // longest member (most complete copy), not the smallest id
    Key("dedup_keep_best")((s, dir) =>
      Dedup.keepBest(Tables.documents(s, dir),
        sharedBlockedPairs(s, dir)))(
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
          |FROM rk""")),
    Key("dedup_edit_distance")((s, dir) =>
      Dedup.editDistancePairs(sharedTrunk(s, dir),
        Tables.documents(s, dir)))(
      s"""WITH $blockedCandCtes
        |SELECT p.id_a, p.id_b,
        | CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS edit_distance
        |FROM p JOIN documents ta ON ta.doc_id = p.id_a
        | JOIN documents tb ON tb.doc_id = p.id_b
        |WHERE levenshtein(ta.text, tb.text) <= 80"""),
    // incremental ingest split: doc_id % 10 == 0 plays the new batch
    Key("dedup_incremental")((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.incrementalExact(
        d.filter(col("doc_id") % 10 === 0), d.filter(col("doc_id") % 10 =!= 0))
    })(
      """WITH c AS (SELECT DISTINCT
        |  trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm
        | FROM documents WHERE doc_id % 10 <> 0)
        |SELECT doc_id, lang, source, n_chars FROM documents n
        |WHERE doc_id % 10 = 0 AND NOT EXISTS (SELECT 1 FROM c
        | WHERE c.norm = trim(regexp_replace(lower(n.text), '\s+', ' ', 'g')))"""),
    Key("dedup_incremental_pairs")((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.incrementalNearDupPairs(
        d.filter(col("doc_id") % 10 === 0), d.filter(col("doc_id") % 10 =!= 0))
    })(
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
        |FROM j WHERE CAST(inter AS DOUBLE) / uni >= 0.5"""),
  )
}
