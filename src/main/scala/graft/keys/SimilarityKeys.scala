package graft
package keys

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import OracleFragments._
import Shared._

/** The similarity keys (`ann_*`, `emb_*`): exact and approximate
  * nearest-neighbour search, persisted-index probes and embedding
  * profiles. */
private[graft] object SimilarityKeys extends Family("ann_", "emb_") {

  lazy val annIvfTopk: Key = Key("ann_ivf_topk")((s, dir) => {
    val e = Tables.embeddings(s, dir)
    // r15: nprobe 8→12 — the escalation dial that lifted the
    // filtered (r13) and IVF-PQ (r14) tiers applied to the plain
    // tier: measured 0.740 → 0.935 at sf0.1 (docs/ANN_SWEEP.md
    // r15 axis). 12/16 cells is the TOY-index scan fraction; at
    // 100 TB nlist grows with the corpus (√n rule) and the same
    // nprobe touches a vanishing fraction
    Similarity.ivfTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10,
      nprobe = 12)
  })(
    // the IVF tier replayed end to end (r10): the xxhash64
    // centroid pick, argmax cell assignment, 12-cell probes (r15
    // escalation), exact cosine top-10 — "deterministic but not
    // SQL-expressible" no longer holds once xxhash64 itself is
    // decomposed
    s"""WITH ${ivfCentsCtes("")},
        |${ivfProbeTail(nprobe = 12)}""")

  lazy val annIvfpqTopk: Key = Key("ann_ivfpq_topk")((s, dir) => {
    val e = Tables.embeddings(s, dir)
    // nCodes=32 + rerank=16 (late-r9) + nprobe=14 (r17: the sweep
    // showed the residual loss at nprobe=12 was CELL miss, not
    // rank error — rerank 16→32 moved 0.840 only to 0.865 while
    // nprobe 12→14 lifted it to 0.895 at unchanged rerank; scan
    // fraction 14/16 of code bytes, still codes-only-proportional)
    Similarity.ivfPqTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10,
      nprobe = 14, m = 16, nCodes = 32, rerank = 16)
  })(
    // the composed FAISS-style tier: cells = first 16 of the SAME
    // 32-vector pick (one sampling pass feeds both structures),
    // probe prune (nprobe=14, the r17 cell-miss escalation) then
    // code-space scoring, k·16 budget
    s"""WITH ${ivfCentsCtes("", pick = 32)},
        |${pqTail(useIvf = true, budget = 160, nprobe = 14)}""")

  lazy val keys: Seq[Key] = Seq(
    Key("emb_pair_histogram")((s, dir) =>
      Similarity.pairDistanceHistogram(Tables.embeddings(s, dir)))(
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
        |FROM h, t"""),
    Key("emb_hubness")((s, dir) =>
      Similarity.hubness(Tables.embeddings(s, dir)))(
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
        |LEFT JOIN rec ON s.vec_id = rec.vec_id"""),
    Key("ann_range_search")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.rangeSearch(e, e.filter(col("vec_id") % 100 === 0), tau = 0.2)
    })(
      s"""${queryPairsSql()}
        | AND list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |   CAST(c.embedding AS DOUBLE[])) >= 0.2"""),
    Key("emb_dim_stats")((s, dir) =>
      Similarity.dimStats(Tables.embeddings(s, dir)))(
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
        |FROM ex GROUP BY 1"""),
    // two snapshot halves (the ann_index_*_append split) stand in
    // for yesterday's corpus vs today's delta
    Key("emb_centroid_drift")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.centroidDrift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 =!= 0))
    })(
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
        |FROM j"""),
    // MMR re-rank over the exact pool — fully deterministic at fixed
    // k=10, so the oracle unrolls the 10 greedy argmax steps as CTEs;
    // SimilaritySpec additionally pins first-pick, diversity
    // preference and determinism
    Key("ann_mmr_diverse")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.mmrDiverseTopK(e, e.filter(col("vec_id") % 100 === 0))
    }) {
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
    Key("ann_bruteforce_topk")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10)
    })(
      // DOUBLE[] casts: DuckDB accumulates FLOAT[] cosines in single
      // precision, which flips near-boundary ranks vs graft's
      // double-accumulating kernel
      s"""SELECT query_id, neighbor_id, cosine FROM (
        | ${queryPairsSql()}) s
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY cosine DESC, neighbor_id) <= 10"""),
    Key("ann_filtered_topk")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.filteredTopK(e, e.filter(col("vec_id") % 100 === 0),
        col("label") % 3 === 0, k = 10)
    })(
      // pre-filter semantics: the predicate restricts the corpus
      // BEFORE ranking, so this is the true top-k of the eligible set
      s"""SELECT query_id, neighbor_id, cosine FROM (
        | ${queryPairsSql()} AND c.label % 3 = 0) s
        |QUALIFY row_number() OVER (PARTITION BY query_id
        |  ORDER BY cosine DESC, neighbor_id) <= 10"""),
    Key("ann_sq_topk")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.sqTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10)
    })(
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
        |  ORDER BY cosine DESC, neighbor_id) <= 10"""),
    // prefix-truncation two-stage ANN (half the stage-1 scan bytes,
    // ZERO model state) — the Matryoshka serving trick, exact-rerank.
    // r17 rerank 16→32 (sweep: 0.825 → 0.895 at sf0.1): the
    // isotropic testdata makes the 32-dim prefix a weak ranker, so
    // the exact tier reads twice the candidates — still
    // O(queries·32) id-joined rows, stage-1 scan unchanged
    Key("ann_matryoshka_topk")((s, dir) =>
      Similarity.matryoshkaTopK(Tables.embeddings(s, dir), rerank = 32))(
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
        |${exactTop10Sql("apx", "a", "qq")}"""),
    // full oracle (the xxhash64 centroid-pick replay); recall spec
    // additionally anchors it to ann_filtered_topk's exact result
    Key("ann_ivf_filtered_topk")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // r13 probe escalation 8→12 (the ivfpq-append precedent):
      // recall 0.69 → 0.91 at sf0.1 — the selective predicate thins
      // probed cells below k eligible, so the dial is nprobe
      Similarity.ivfFilteredTopK(e, e.filter(col("vec_id") % 100 === 0),
        col("label") % 3 === 0, k = 10, nprobe = 12)
    })(
      // shared index, filtered candidates: same centroids and
      // probes, the predicate drops ineligible vectors at
      // assignment time (one index serves every predicate)
      s"""WITH ${ivfCentsCtes("")},
          |${ivfProbeTail("WHERE e.label % 3 = 0", nprobe = 12)}"""),
    Key("ann_knn_classify")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.knnClassify(e, e.filter(col("vec_id") % 20 === 0), k = 10)
    })(
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
        |FROM win w JOIN embeddings q ON q.vec_id = w.query_id"""),
    Key("ann_rerank")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.rerankTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10)
    })(
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
        |  ORDER BY rerank_score DESC, neighbor_id) <= 10"""),
    // hybrid dense+lexical retrieval with reciprocal-rank fusion:
    // exact-cosine dense list × rare-token lexical list, combined on
    // ranks only (1/(60+rank) each). Deterministic end to end, so the
    // whole hybrid stack hash-checks against the DuckDB replay.
    Key("ann_rrf_hybrid")((s, dir) =>
      Similarity.hybridRrfTopK(Tables.documents(s, dir),
        Tables.embeddings(s, dir)))(
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
        |WHERE rn <= 10"""),
    // approximate-tier parameters are set from the measured sweep
    // (docs/ANN_SWEEP.md, post-r8 corrected recall metric): each pair
    // below is a measured recall@10 point at sf0.1, trended per round
    // via the bench contract line's recall map
    Key("ann_lsh_topk")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // r18 retune: the r15 probe dial SATURATED at 16 tables
      // (probes 8→12 bought 0.860→0.865 — every 1-bit-adjacent
      // bucket was already probed; what's left lives further away),
      // so the r18 grid moved the TABLE axis instead: 24×8 with 6
      // margin-ordered probes reads 0.910 at candidate budget 0.563
      // (docs/ANN_SWEEP.md r18 axis; 28×9×10 ties at 0.910/0.547
      // but pays 1.75× the corpus-side signature compute for the
      // same recall). More tables = more independent chances to
      // co-bucket — the axis that still pays once multiprobe is
      // exhausted. Corpus-side cost is tables·sig per vector; the
      // candidate join stays budget-bounded.
      Similarity.lshTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10,
        tables = 24, planesPerTable = 8, multiprobe = 6)
    })(
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
          | ORDER BY cosine DESC, neighbor_id) <= 10"""),
    annIvfTopk,
    Key("ann_ivf_cell_stats")((s, dir) =>
      Similarity.ivfCellStats(Tables.embeddings(s, dir)))(
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
          |FROM filled, tt"""),
    // persisted-index probes (rows-only; AnnIndexSpec holds parity
    // with the in-memory tiers + the partition-pruning/codes-only
    // scan claims; RecallFloors gates their recall like every tier)
    Key("ann_index_ivf_probe")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // nprobe=12 in lockstep with the in-memory tier (r15)
      AnnIndex.probeIvf(s, annBaseIndexPaths(s, dir)._1,
        e.filter(col("vec_id") % 100 === 0), k = 10, nprobe = 12)
    })(
      // the persisted-index probes are the partition-pruned physical
      // form of the in-memory tiers (AnnIndexSpec parity; identical
      // model state — same pick, same budgets)
      annIvfTopk.sql),
    Key("ann_index_ivfpq_probe")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // nprobe=14 in lockstep with the in-memory tier (r17 — the
      // cell-miss finding applies identically to the persisted
      // layout: 14 of 16 cell partitions read, pruning intact)
      AnnIndex.probeIvfPq(s, annBaseIndexPaths(s, dir)._2,
        e.filter(col("vec_id") % 100 === 0), k = 10, nprobe = 14, rerank = 16)
    })(
      annIvfpqTopk.sql),
    // probe of the INCREMENTALLY-maintained index (built on half the
    // corpus, other half appended against stored centroids — no
    // retrain, no history rewrite); AnnIndexSpec proves append ≡
    // union-corpus build at fixed centroids
    Key("ann_index_ivf_append_probe")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // nprobe=12 (r15): the append path's centroids come from the
      // even half's pick, so probe escalation compensates staleness
      // exactly as it does for the IVF-PQ append tier
      AnnIndex.probeIvf(s, annIncrIndexPaths(s, dir)._1,
        e.filter(col("vec_id") % 100 === 0), k = 10, nprobe = 12)
    })(
      // the incrementally-maintained index: centroids picked from
      // the even half ("yesterday's" build), the odd half appended
      // against those STORED centroids — assignment of the FULL
      // corpus to the half-corpus centroid pick (AnnIndexSpec's
      // append ≡ union-at-fixed-centroids identity)
      s"""WITH ${ivfCentsCtes("WHERE vec_id % 2 = 0")},
          |${ivfProbeTail(nprobe = 12)}"""),
    // the append path probes WIDER than the fresh build (14 vs 8 of
    // 16 cells): append encodes deltas against STORED centroids, so
    // a query's true cell is more often outside the top-8 — the r11
    // sweep (docs/ANN_SWEEP.md) shows rerank saturated at 16 (cell
    // miss, not rank miss) while nprobe 8→12 lifted 0.665→0.860 and
    // the r18 step 12→14 reads 0.945 (13 → 0.900) — the same dial
    // value the fresh ivfpq probe escalated to in r17. Probe
    // escalation with index age is the standard operational
    // compensation between rebuilds.
    Key("ann_index_ivfpq_append_probe")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      AnnIndex.probeIvfPq(s, annIncrIndexPaths(s, dir)._2,
        e.filter(col("vec_id") % 100 === 0), k = 10, nprobe = 14, rerank = 16)
    })(
      // incremental IVF-PQ: model state (cells + codebooks) from the
      // even half's pick, the full corpus encoded against it; probes
      // 14 of 16 cells — the append path's staleness-compensation
      // dial at the r18 step (see the queries entry)
      s"""WITH ${ivfCentsCtes("WHERE vec_id % 2 = 0", pick = 32)},
          |${pqTail(useIvf = true, budget = 160, nprobe = 14)}"""),
    // DELETE lifecycle probe (r15): tombstoned ids (vec_id % 7 == 3)
    // mask candidates at probe time — exact semantics the moment the
    // delete lands, no layout rewrite; nprobe=12 in lockstep with
    // the other IVF probes. AnnIndexSpec holds the parity chain:
    // masked probe ≡ probe of a survivors-only build ≡ probe after
    // compaction, and the survivor recall floor.
    Key("ann_index_delete_probe")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      AnnIndex.probeIvf(s, annDelIndexPaths(s, dir)._1,
        e.filter(col("vec_id") % 100 === 0), k = 10, nprobe = 12,
        maskDeletes = true)
    })(
      // tombstone-masked probe (r15): same pick, same 12-cell
      // probes, candidates drop the deleted ids — logically the
      // assignment of the SURVIVOR corpus (assignment is per-vector,
      // so probe-time masking and survivor-only assignment coincide)
      s"""WITH ${ivfCentsCtes("")},
          |${ivfProbeTail("WHERE e.vec_id % 7 <> 3", nprobe = 12)}"""),
    // the PQ layout under the same delete batch (r15): the tombstone
    // log masks the CODE-scan candidates, so a deleted id never
    // scores and never reaches the rerank — same model state as
    // ann_index_ivfpq_probe but INTENTIONALLY held at nprobe=12
    // (its own nprobe=12 oracle) while the probe tier moved to
    // 14 in r17: the delete mask SHRINKS the candidate set, it does
    // not displace cells, so the staleness-compensation escalation
    // doesn't apply; the survivor recall floor gates it separately
    Key("ann_index_ivfpq_delete_probe")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      AnnIndex.probeIvfPq(s, annDelIndexPaths(s, dir)._2,
        e.filter(col("vec_id") % 100 === 0), k = 10, nprobe = 12,
        rerank = 16, maskDeletes = true)
    })(
      // the PQ layout under the delete batch (r15): same pick, same
      // code-space scoring and k·16 budget, candidates drop the
      // tombstoned ids — logically the survivor assignment (per-
      // vector, so probe-time masking coincides)
      s"""WITH ${ivfCentsCtes("", pick = 32)},
          |${pqTail(useIvf = true, budget = 160, nprobe = 12,
            assignWhere = "WHERE e.vec_id % 7 <> 3")}"""),
    // the compaction PLAN over the tombstoned index (r15, the
    // lake_compaction_plan pattern): per cell, live/dead counts and
    // the rewrite decision at dead_frac > 0.14 — pure metadata,
    // idempotent (APPLY mutates, so it runs in AnnIndexSpec against
    // a scratch copy with probe-parity held across the rewrite)
    Key("ann_index_compact_plan")((s, dir) =>
      AnnIndex.compactPlanIvf(s, annDelIndexPaths(s, dir)._1))(
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
          |FROM filled"""),
    // the maintenance DECISION table (r15): per cell, dead fraction
    // (compact dial) + balance (probe-concentration dial append
    // drift moves); cell_action = rewrite over the dead cut,
    // index_action = rebuild when any cell's balance crosses 1.25 —
    // an index-level call (hot cells need retrained centroids, not
    // compacted files), carried on every row
    Key("ann_index_health")((s, dir) =>
      AnnIndex.indexHealth(s, annDelIndexPaths(s, dir)._1))(
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
          |FROM filled, tt, hb"""),
    // spherical k-means assignment, training loop unrolled in the
    // oracle (deterministic min-id init; float-snapped centroids)
    Key("emb_kmeans_assign")((s, dir) =>
      Similarity.kmeansAssign(Tables.embeddings(s, dir)))(
      s"WITH $kmeansCtes SELECT vec_id, cell FROM fa"),
    Key("emb_norm_profile")((s, dir) =>
      Similarity.normProfile(Tables.embeddings(s, dir)))(
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
        |FROM n GROUP BY label"""),
    // scalar (vec_id, dim, value) shape — the raw array<float> column
    // is not sortable by the harness rows-check; 1e-6 rounding pins
    // the float→double widening to a stable grid. r16: projects
    // through the PUBLISHED transform (PcaFrozen, the frozen model
    // artifact — a 100 TB pipeline ships one trained transform, it
    // does not refit per batch), which is what lets the oracle
    // replay the projection from the model literals; Pca.fit stays
    // the trainer, PcaSpec pins the artifact against a live refit
    Key("emb_pca_project")((s, dir) =>
      Pca.project(Tables.embeddings(s, dir), PcaFrozen.model)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "value")))
        .select(col("vec_id"), col("dim"),
          round(col("value").cast("double"), 6).as("value")))(
      // the published transform replayed from the frozen-model
      // literals (r16): pval IS kernels.pcaProject — per-component
      // ascending double accumulate, snap to float — and the key's
      // 1e-6-rounded double widening on top
      s"""WITH $pcaFrozenCtes
         |SELECT vec_id, CAST(j AS INT) AS dim,
         | round(CAST(v AS DOUBLE), 6) AS value
         |FROM pval"""),
    Key("ann_pca_topk")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // r15: rerank 8→16 (the matryoshka r13 dial) — measured 0.775
      // → 0.910 at sf0.1 with the 32-dim stage-1 scan unchanged; the
      // rerank join stays O(queries·k·16) candidate ids. r16: the
      // published PcaFrozen transform + 1e-6-snapped stage-1 rank →
      // the whole two-stage search replays in the oracle
      Pca.pcaTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10,
        pcaDims = 32, rerank = 16, model = Some(PcaFrozen.model))
    })(
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
         |${exactTop10Sql("apx", "a", "qq")}"""),
    Key("ann_pq_topk")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // m=16 (4-dim subspaces), 32-entry codebooks; r17 rerank 8→16
      // (docs/ANN_SWEEP.md r17 axis: 0.815 → 0.915 measured at
      // sf0.1 — flat PQ's loss is pure rank error, so the exact
      // rerank of twice the candidates buys it back at
      // O(queries·16) re-reads; the 16× scan-bandwidth cut of the
      // code scan is untouched)
      Similarity.pqTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10,
        m = 16, nCodes = 32, rerank = 16)
    })(
      // the PQ tier replayed (r10): 32-entry codebooks = 4-dim
      // slices of the xxhash64-picked sample, per-subspace L2-argmin
      // encode, cosine against the reconstruction, k·16 budget
      // (r17 rerank escalation), exact rerank
      s"""WITH ${ivfCentsCtes("", pick = 32)},
          |${pqTail(useIvf = false, budget = 160)}"""),
    annIvfpqTopk,
    Key("ann_ivfpq_res_topk")((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // one refinement round: the index is train-once/probe-forever,
      // but the bench bills training per run. Late-r9 retune
      // (nCodes=32, rerank=16) + r15 nprobe 8→12 — measured 0.780 →
      // 0.920 at sf0.1 (docs/ANN_SWEEP.md r15 axis), the same probe
      // escalation the plain IVF-PQ tier took in r14
      Similarity.ivfPqResidualTopK(e, e.filter(col("vec_id") % 100 === 0),
        k = 10, nprobe = 12, m = 16, nCodes = 32, rerank = 16,
        kmeansIters = 1)
    })(
      // the RESIDUAL trained tier (r10): one Lloyd round on the
      // cells, one per-subspace refinement round on the residual
      // codebooks, residual encode/score — the whole trained model
      // unrolled (at the driver SFs the hash-thinned train sample
      // IS the corpus: n/4096 ≤ 1)
      ivfPqResidualOracle),
    // label-consistency audit: every vector's cosine to its own
    // label centroid (no threshold filter — float-boundary row sets
    // are engine-unstable; the cut belongs to the consumer)
    Key("emb_label_outliers")((s, dir) =>
      Similarity.labelOutliers(Tables.embeddings(s, dir)))(
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
        |FROM j"""),
  )
}
