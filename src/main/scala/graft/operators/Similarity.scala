package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.gf

/** Approximate-nearest-neighbor search over an embedding column
  * (SURVEY.md §2.D).
  *
  * Three tiers, trading recall for cost:
  *  - [[bruteForceTopK]]: exact. The query set is broadcast and the
  *    corpus streams past it once — the right plan when |queries| is
  *    small, at any corpus size.
  *  - [[lshTopK]]: multi-table random-hyperplane LSH. Candidates
  *    meet in bucket equi-joins; cost ∝ bucket collisions, not n².
  *  - [[ivfTopK]]: IVF — corpus partitioned into `nlist` centroid
  *    cells, queries probe the `nprobe` nearest cells.
  */
object Similarity {

  /** Deterministic per-query top-k: rank by cosine desc, ties broken
    * by neighbor id. */
  private[operators] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= k).drop("rn")
  }

  /** Exact top-k cosine neighbors of each query vector (self-matches
    * excluded; ties broken by neighbor id for determinism).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    topKPerQuery(corpus.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        gf.cosineSim(col("q_emb"), col("embedding")).as("cosine")), k)
  }

  /** Int8 SCALAR-quantized search (the SQ tier between exact floats
    * and PQ codes): each corpus dimension is affinely coded into
    * `levels` steps of its own [min, max] range — a 4× scan-bandwidth
    * cut at float32 (dim bytes instead of dim·4) with far better
    * reconstruction than PQ's shared codebooks at the same budget.
    * Asymmetric distance: queries stay full-precision, corpus vectors
    * score as their dequantized reconstruction — here materialized
    * eagerly as `array<float>` so the SAME codegen'd cosine kernel
    * serves exact and quantized tiers (a storage layout would keep
    * the uint8 codes + the 2·dim grid scalars and reconstruct in the
    * scan, as [[graft.operators.AnnIndex]] does for PQ codes).
    *
    * Everything is deterministic — per-dimension min/max are exact
    * order-insensitive aggregates, the code grid is fixed arithmetic
    * — so unlike LSH/IVF this approximate tier is fully
    * oracle-checkable. The 2·dim grid scalars are collected once
    * (driver-side, like q_rfm_segments' cut-points) and folded into
    * the projection as literals: encode is a pure map — no shuffle,
    * no join. At 100 TB the min/max pass would come from maintained
    * column stats or a sample; the search itself is the same
    * broadcast-queries × corpus stream as [[bruteForceTopK]].
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
             levels: Int = 256): DataFrame = {
    val top = (levels - 1).toDouble
    val stats = corpus
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy("pos").collect()
    val mins = stats.map(_.getDouble(1)).toSeq
    val scales = stats.map(r => (r.getDouble(2) - r.getDouble(1)) / top).toSeq
    val minsL = typedLit(mins)
    val scalesL = typedLit(scales)
    // dequantized reconstruction: code = clamp(round((x - mn)/sc)),
    // value = mn + code·sc, narrowed to float (the stored working type)
    def dequant(emb: Column): Column = transform(emb, (x, i) => {
      val mn = element_at(minsL, i + lit(1))
      val sc = element_at(scalesL, i + lit(1))
      when(sc === 0d, mn).otherwise(
        mn + least(greatest(round((x.cast("double") - mn) / sc, 0), lit(0d)),
          lit(top)) * sc)
        .cast("float")
    })
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    topKPerQuery(corpus
      .select(col("vec_id").as("neighbor_id"),
        dequant(col("embedding")).as("dq_emb"))
      .crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.cosineSim(col("q_emb"), col("dq_emb")).as("cosine")), k)
  }

  /** FILTERED vector search: top-k under a metadata predicate, with
    * PRE-filter semantics — the predicate restricts the corpus
    * before any distance is computed, so the result is the true
    * top-k of the eligible set. (Post-filtering a plain top-k is the
    * classic wrong answer: it returns ≤ k and silently drops
    * neighbors when the predicate is selective.) Because the filter
    * is an ordinary Column, Catalyst pushes it into the parquet scan
    * (`PushedFilters`) and the cosine kernel runs only on survivors
    * — a 1% predicate means 1% of the distance work, which is the
    * entire point of filtered search at corpus scale.
    */
  def filteredTopK(corpus: DataFrame, queries: DataFrame,
                   predicate: Column, k: Int = 10): DataFrame =
    bruteForceTopK(corpus.filter(predicate), queries, k)

  /** Filtered search over a SHARED IVF index: cells are assigned on
    * the unfiltered corpus (one index serves every predicate — you
    * don't rebuild the index per filter), the predicate drops
    * ineligible vectors at candidate time, after the cell-probe
    * pruning and before ranking. The filter is still an ordinary
    * scan predicate (pushed down), so the probe's partition pruning
    * and the filter's row pruning compose. Selective predicates cost
    * recall — the probed cells may hold < k eligible vectors — which
    * is the documented ANN trade (raise nprobe with selectivity;
    * the recall spec measures this against [[filteredTopK]]).
    */
  def ivfFilteredTopK(corpus: DataFrame, queries: DataFrame,
                      predicate: Column, k: Int = 10,
                      nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val centroids = pickCentroids(corpus, nlist)
    val assigned = corpus.filter(predicate)
      .select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb"),
        gf.nearestCentroids(col("embedding"), centroids, 1)(0).as("cell"))
    val probed = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      explode(gf.nearestCentroids(col("embedding"), centroids, nprobe)).as("cell"))
    topKPerQuery(probed.join(assigned, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.cosineSim(col("q_emb"), col("n_emb")).as("cosine")), k)
  }

  /** Range search: ALL corpus vectors with cosine ≥ tau per query
    * (no k cutoff) — the recall-complete companion to top-k.
    */
  def rangeSearch(corpus: DataFrame, queries: DataFrame, tau: Double): DataFrame = {
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    corpus.crossJoin(q)
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        gf.cosineSim(col("q_emb"), col("embedding")).as("cosine"))
      .filter(col("cosine") >= tau)
  }

  /** Multi-table hyperplane-LSH ANN: candidates = corpus vectors
    * sharing a bucket with the query in any table; exact cosine
    * ranks candidates. Recall grows with `tables`, cost with bucket
    * sizes (2^planesPerTable buckets per table). `multiprobe` > 1
    * additionally probes the multiprobe−1 adjacent buckets whose
    * single differing plane has the smallest |margin| (Lv et al.'s
    * order) — QUERY-side only, so the corpus index is untouched and
    * the candidate budget scales as tables·multiprobe/2^planes. At a
    * fixed budget, probing plausible adjacent buckets of
    * fewer/narrower tables dominates adding independent tables
    * (measured: docs/ANN_SWEEP.md multiprobe axis).
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
              tables: Int = 8, planesPerTable: Int = 8, dim: Int = 64,
              seed: Long = 23L, multiprobe: Int = 1): DataFrame = {
    val planes = (0 until tables)
      .map(t => gf.randomPlanes(planesPerTable, dim, seed + t))
    val sigCols = (0 until tables).map { t =>
      gf.hyperplaneSig(col("embedding"), planes(t)).as(s"sig_$t")
    }
    def bucketize(df: DataFrame, idName: String) =
      df.select(col("vec_id").as(idName) +: col("embedding").as(s"emb_$idName") +: sigCols: _*)
        .select(col(idName), col(s"emb_$idName"),
          posexplode(array((0 until tables).map(t => col(s"sig_$t")): _*)))
        .select(col(idName), col(s"emb_$idName"),
          col("pos").as("table"), col("col").as("sig"))
    // query side carries the probe LIST per table — the flatten is
    // |queries|·tables·multiprobe rows, query-bounded, never corpus
    val probeCols = (0 until tables).map { t =>
      gf.multiprobeSigs(col("embedding"), planes(t), multiprobe).as(s"sigs_$t")
    }
    val querySide = queries
      .select(col("vec_id").as("query_id") +:
        col("embedding").as("emb_query_id") +: probeCols: _*)
      .select(col("query_id"), col("emb_query_id"),
        posexplode(array((0 until tables).map(t => col(s"sigs_$t")): _*)))
      .select(col("query_id"), col("emb_query_id"),
        col("pos").as("table"), explode(col("col")).as("sig"))
    val cands = bucketize(corpus, "neighbor_id")
      .join(querySide, Seq("table", "sig"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        col("emb_query_id"), col("emb_neighbor_id"))
      .distinct()
    topKPerQuery(cands.select(col("query_id"), col("neighbor_id"),
      gf.cosineSim(col("emb_query_id"), col("emb_neighbor_id")).as("cosine")), k)
  }

  /** Per-label centroid components: mean of each embedding dimension
    * per label, flat (label, pos, avg_val) shape. posexplode + a
    * two-key aggregate — one shuffle of (n·dim) scalars, no vector
    * objects on the heap. `assembleCentroids` folds the flat shape
    * back into vectors for model use.
    */
  def labelCentroids(embeddings: DataFrame): DataFrame =
    embeddings
      .select(col("label"), posexplode(col("embedding")))
      .groupBy("label", "pos")
      .agg(avg("col").as("avg_val"))

  /** Label-consistency audit: each vector's cosine to its OWN
    * label's centroid — the mislabeled-embedding detector (a vector
    * far from its label's center is a labeling error, an outlier,
    * or a label whose cluster assumption is broken; the bottom tail
    * per label is the re-review queue). Centroids come from ONE
    * posexplode aggregate ([[labelCentroids]] — O(labels·dim)
    * scalars, no vector heap objects) and the per-vector cosine is
    * a second scalar aggregate over the SAME exploded shape joined
    * on (label, pos) — the centroid relation is broadcast-sized, so
    * the join adds no shuffle of the corpus. Emits every vector
    * (values compare under driver tolerance; no threshold filter —
    * cut policy belongs to the consumer, and a float-boundary row
    * set would be engine-unstable).
    */
  def labelOutliers(embeddings: DataFrame): DataFrame = {
    val cents = broadcast(labelCentroids(embeddings))
    embeddings
      .select(col("vec_id"), col("label"), posexplode(col("embedding")))
      .join(cents, Seq("label", "pos"))
      .groupBy("vec_id", "label")
      .agg(
        sum(col("col").cast("double") * col("avg_val")).as("dot"),
        sum(col("col").cast("double") * col("col").cast("double")).as("n2"),
        sum(col("avg_val") * col("avg_val")).as("c2"))
      .select(col("vec_id"), col("label"),
        // zero-norm guard, same convention as every other cosine in
        // this file (VectorOps.cosine, mmr): an all-zero embedding
        // or a degenerate centroid reads as 0.0, never NULL/NaN
        when(col("n2") > lit(0.0) && col("c2") > lit(0.0),
          col("dot") / (sqrt(col("n2")) * sqrt(col("c2"))))
          .otherwise(lit(0.0))
          .as("centroid_cosine"))
  }

  def assembleCentroids(flat: DataFrame): DataFrame =
    flat.groupBy("label")
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("avg_val")))),
        s => s.getField("avg_val")).as("centroid"))

  /** Deterministic IVF "training" init: a pseudo-random (but
    * run-stable) hash-thinned sample of ~4×nlist vectors, cut to
    * `nlist` by a distributed top-k on vec_id. No global window — a
    * `Window.orderBy` with no partition funnels the whole corpus
    * through one task; hash-thin + `sort.limit`
    * (TakeOrderedAndProject) keeps every stage partition-parallel.
    * Real k-means refinement drops in via [[trainCentroids]].
    */
  def pickCentroids(corpus: DataFrame, nlist: Int,
                    knownN: Long = -1L): Array[Array[Float]] = {
    // knownN: a caller that builds several indexes over the SAME
    // corpus (the persisted-index prime) passes the count it already
    // paid for — the thinning step is a pure function of n, so the
    // result is identical and one count job per sibling build drops
    val n = if (knownN >= 0) knownN else corpus.count()
    val step = math.max(n / math.max(nlist, 1) / 4, 1L)
    // cut the survivors in HASH order, not id order: an id-ordered cut
    // would draw every centroid from the low end of the id range,
    // which skews coverage when ids correlate with data drift
    def firstByHashOf(df: DataFrame) =
      df.sort(xxhash64(col("vec_id"), lit(1)), col("vec_id"))
        .limit(nlist).select("embedding")
        .collect().map(_.getSeq[Float](0).toArray)
    val thinned = firstByHashOf(
      corpus.filter(pmod(xxhash64(col("vec_id")), lit(step)) === 0))
    if (thinned.length >= math.min(nlist.toLong, n)) thinned
    else firstByHashOf(corpus) // hash-thinning came up short (tiny corpus)
  }

  /** Deterministic hash-thinned training sample of ~`cap` vectors —
    * run-stable (no rand()), one count + one filtered scan. k-means
    * quality needs a representative sample, not the corpus: training
    * on all of 100 TB would rescan the fact `iters` times for
    * centroids that a few thousand vectors pin down equally well
    * (the FAISS default trains on ~256 vectors/cell). `cap ≤ 0` or a
    * small corpus degenerates to the full input.
    */
  private[operators] def trainSample(corpus: DataFrame, cap: Int,
                                     knownN: Long = -1L): DataFrame =
    if (cap <= 0) corpus
    else {
      // knownN: a caller that trains several structures over the SAME
      // corpus (ivfPqResidualTopK's two stages) passes the count it
      // already paid for — the thinning filter is a pure function of
      // n, so the sample is identical and the extra count job drops
      val n = if (knownN >= 0) knownN else corpus.count()
      val step = n / math.max(cap, 1)
      if (step <= 1) corpus
      else corpus.filter(pmod(xxhash64(col("vec_id"), lit(7)), lit(step)) === 0)
    }

  /** Lloyd's k-means over the embedding column — deterministic init
    * from [[pickCentroids]], then `iters` rounds of assign
    * (native `nearestCentroids` expression, one scan) + recompute
    * (posexplode mean, one shuffle of (n·dim) scalars). Only the
    * centroid matrix (nlist × dim floats) ever reaches the driver —
    * the same thing that gets broadcast for search. With
    * `sampleCap > 0` the iterations run over a [[trainSample]]
    * instead of the corpus — the 100 TB default (assignment at
    * search build time still scans everything exactly once).
    */
  def trainCentroids(corpus: DataFrame, nlist: Int, iters: Int = 3,
                     sampleCap: Int = 0): Array[Array[Float]] = {
    val sampled = trainSample(corpus, sampleCap)
    // cache ONLY the thinned sample (it's rescanned per iteration);
    // caching the full corpus would pin 100 TB of executor memory
    val thinned = sampled ne corpus
    val trainOn = if (thinned) sampled.cache() else sampled
    val cents = trainCentroidsOn(trainOn, nlist, iters)
    if (thinned) trainOn.unpersist(false)
    cents
  }

  /** The Lloyd loop of [[trainCentroids]] over an ALREADY-prepared
    * (sampled + cached) training relation — split out so a caller
    * training several structures over the same corpus
    * ([[ivfPqResidualTopK]]) can share ONE sample build across all
    * of them. Identical arithmetic, identical centroids. */
  private[operators] def trainCentroidsOn(trainOn: DataFrame, nlist: Int,
                                          iters: Int): Array[Array[Float]] = {
    var cents = pickCentroids(trainOn, nlist)
    for (_ <- 0 until iters) {
      val byCell = trainOn
        .select(gf.nearestCentroids(col("embedding"), cents, 1)(0).as("cell"),
          posexplode(col("embedding")))
        .groupBy("cell", "pos")
        .agg(avg("col").as("v"))
        .collect()
        .groupBy(_.getInt(0))
      cents = cents.indices.map { c =>
        byCell.get(c)
          .map(_.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat))
          .getOrElse(cents(c)) // empty cell keeps its centroid
      }.toArray
    }
    cents
  }

  /** K-means cluster ASSIGNMENT as a first-class operator (spherical
    * k-means: cosine-argmax assignment, per-cell mean update — the
    * natural metric for embedding corpora, and cosine's scale
    * invariance means the mean needs no re-normalization). Init is
    * the k smallest vec_ids: deterministic and SQL-replayable, so
    * the driver key's oracle unrolls the WHOLE training loop as
    * chained CTEs (the pagerank/MMR unrolling pattern, applied to
    * vector state); production callers swap in [[trainCentroids]]'
    * hash-thinned init without touching the loop. Each iteration is
    * ONE broadcast of k·dim floats out, ONE codegen'd argmax pass,
    * ONE per-(cell, dim) scalar aggregate back — vectors never
    * shuffle, and the driver holds k·dim floats, never vectors.
    * Updated centroids are FLOAT-narrowed (the mm_pooled_topk grid
    * snap): the engines' summation-order ulps on the per-dim means
    * collapse, so the unrolled oracle trains on bit-identical state.
    */
  def kmeansAssign(corpus: DataFrame, k: Int = 8, iters: Int = 2): DataFrame = {
    var cents: Array[Array[Float]] = corpus
      .select(col("vec_id"), col("embedding"))
      .sort("vec_id").limit(k)
      .collect()
      .map(_.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    for (_ <- 0 until iters) {
      val byCell = corpus
        .select(gf.nearestCentroids(col("embedding"), cents, 1)(0).as("cell"),
          posexplode(col("embedding")))
        .groupBy("cell", "pos")
        .agg(avg("col").as("v"))
        .collect()
        .groupBy(_.getInt(0))
      cents = cents.indices.map(c =>
        byCell.get(c)
          .map(_.sortBy(_.getInt(1)).map(_.getDouble(2).toFloat))
          .getOrElse(cents(c))) // empty cell keeps its centroid
        .toArray
    }
    corpus.select(col("vec_id"),
      gf.nearestCentroids(col("embedding"), cents, 1)(0).cast("long").as("cell"))
  }

  /** IVF search with k-means-trained centroids (trained on a
    * bounded sample by default — see [[trainSample]]). */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                     nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
                     sampleCap: Int = 4096): DataFrame =
    ivfSearch(corpus, queries, k,
      trainCentroids(corpus, nlist, iters, sampleCap), nprobe)

  /** IVF search: corpus vectors live in their nearest-centroid cell
    * (nprobe=1 assignment); queries probe `nprobe` cells. One
    * equi-join on cell id — the 100 TB plan is a co-partitioned join
    * on a key with `nlist` distinct values.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
              nlist: Int = 16, nprobe: Int = 4): DataFrame =
    ivfSearch(corpus, queries, k, pickCentroids(corpus, nlist), nprobe)

  /** IVF search against an EXPLICIT centroid matrix — the in-memory
    * twin of probing a persisted index whose centroids are already
    * fixed ([[graft.operators.AnnIndex.probeIvf]]); the parity
    * reference for incremental append. */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame,
                  centroids: Array[Array[Float]], k: Int = 10,
                  nprobe: Int = 4): DataFrame =
    ivfSearch(corpus, queries, k, centroids, nprobe)

  /** IVF cell-balance diagnostic: occupancy of every cell (empty
    * cells included via an `nlist`-row spine), its share of the
    * corpus, and `balance` = occupancy / ideal (1.0 = perfectly
    * even). A cell with balance ≫ 1 concentrates probe cost — at
    * 100 TB the fix is re-training centroids (or raising nlist)
    * BEFORE building the index, and this one-aggregate scan is how
    * you find out. The per-cell relation is nlist rows; it is
    * pinned before fan-out so the corpus assignment scan runs once,
    * not once per consumer.
    */
  def ivfCellStats(corpus: DataFrame, nlist: Int = 16): DataFrame =
    ivfCellStatsOf(corpus, pickCentroids(corpus, nlist))

  /** [[ivfCellStats]] for an explicit centroid matrix — compare the
    * deterministic pick against k-means-trained centroids before
    * committing to an index build. */
  def ivfCellStatsOf(corpus: DataFrame,
                     cents: Array[Array[Float]]): DataFrame = {
    val spark = corpus.sparkSession
    val nlist = cents.length
    val perCell = corpus
      .select(gf.nearestCentroids(col("embedding"), cents, 1)(0).as("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n_vecs"))
    val spine = spark.range(nlist).select(col("id").cast("int").as("cell"))
    val filled = spine.join(perCell, Seq("cell"), "left")
      .select(col("cell"), coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
      .localCheckpoint(true)
    val totals = filled.agg(sum("n_vecs").as("total"))
    filled.crossJoin(broadcast(totals))
      .select(col("cell"), col("n_vecs"),
        round(col("n_vecs") / col("total"), 6).as("share"),
        round(col("n_vecs") * lit(nlist.toDouble) / col("total"), 6)
          .as("balance"))
  }

  /** Deterministic PQ codebooks: the [[pickCentroids]] sample's
    * vectors, sliced per subspace — k entries of dim/m floats each.
    * (Per-subspace k-means refinement drops in here the same way
    * [[trainCentroids]] refines IVF centroids.)
    */
  def trainPqCodebooks(corpus: DataFrame, m: Int = 8, k: Int = 16,
                       dim: Int = 64): Array[Array[Array[Float]]] =
    codebooksFromSample(pickCentroids(corpus, k), m, dim)

  private[operators] def codebooksFromSample(sample: Array[Array[Float]], m: Int,
                                  dim: Int): Array[Array[Array[Float]]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    // fail fast on a dim mismatch: pqEncode would silently zero-pad
    // short vectors and the k-means refinement would NPE on long ones
    sample.find(_.length != dim).foreach(v => throw new IllegalArgumentException(
      s"embedding length ${v.length} != declared dim $dim"))
    Array.tabulate(m)(j => sample.map(v => v.slice(j * sub, (j + 1) * sub)))
  }

  /** Per-subspace Lloyd refinement of [[trainPqCodebooks]]: encode
    * with the current codebooks, recompute each (subspace, code)
    * cell centroid as the mean of its assigned subvectors — all
    * subspaces in ONE scan per iteration (posexplode + a
    * (subspace, code, dim) aggregate of m·k·subDim rows; only that
    * tiny matrix reaches the driver). Empty cells keep their
    * centroid. Deterministic end to end.
    */
  def trainPqCodebooksKMeans(corpus: DataFrame, m: Int = 8, k: Int = 16,
                             dim: Int = 64, iters: Int = 2,
                             sampleCap: Int = 4096): Array[Array[Array[Float]]] = {
    var cbs = trainPqCodebooks(corpus, m, k, dim)
    val sub = dim / m
    val sampled = trainSample(corpus, sampleCap)
    val thinned = sampled ne corpus
    val trainOn = if (thinned) sampled.cache() else sampled
    for (_ <- 0 until iters) {
      val stats = trainOn
        .select(gf.pqEncode(col("embedding"), cbs).as("codes"),
          posexplode(col("embedding")))
        .select(
          expr(s"CAST(pos div $sub AS INT)").as("subspace"),
          pmod(col("pos"), lit(sub)).as("sub_pos"),
          expr(s"codes[pos div $sub]").as("code"),
          col("col").as("v"))
        .groupBy("subspace", "code", "sub_pos")
        .agg(avg("v").as("mean_v"))
        .collect()
      val next = cbs.map(_.map(_.clone()))
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat
      }
      cbs = next
    }
    if (thinned) trainOn.unpersist(false)
    cbs
  }

  /** Product-quantization ANN: corpus vectors compressed to m
    * codebook indices (m·4 bytes vs dim·4 — at 100 TB the scan reads
    * the code column only, an 8–32× bandwidth cut), scored with an
    * asymmetric approximate cosine (full query × reconstruction),
    * then the top `k·rerank` candidates re-scored exactly against
    * their true embeddings. Recall/cost dial: m and `rerank`.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
             m: Int = 8, nCodes: Int = 16, rerank: Int = 4,
             kmeansIters: Int = 0): DataFrame = {
    val cbs =
      if (kmeansIters > 0) trainPqCodebooksKMeans(corpus, m, nCodes, iters = kmeansIters)
      else trainPqCodebooks(corpus, m, nCodes)
    val encoded = corpus.select(col("vec_id").as("neighbor_id"),
      gf.pqEncode(col("embedding"), cbs).as("codes"))
    val q = broadcast(queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb")))
    val approx = topKPerQuery(encoded.crossJoin(q)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.pqCosine(col("q_emb"), col("codes"), cbs).as("cosine")), k * rerank)
    val exact = approx.select("query_id", "neighbor_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb")), Seq("neighbor_id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.cosineSim(col("q_emb"), col("n_emb")).as("cosine"))
    topKPerQuery(exact, k)
  }

  /** IVF+PQ composed index (the FAISS-style 100 TB layout): vectors
    * live in their nearest-centroid cell AND are stored as PQ codes,
    * so a probe scans only `nprobe/nlist` of the corpus and reads
    * only code bytes while doing it. Queries probe `nprobe` cells
    * (cell-keyed equi-join), candidates score via the approximate
    * code cosine, and the top `k·rerank` re-score exactly. (Classic
    * IVF-PQ encodes residuals against the cell centroid; plain-code
    * PQ keeps the encode cell-independent — one codebook set, no
    * per-cell re-encode on cell rebalance.)
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                nlist: Int = 16, nprobe: Int = 4, m: Int = 8,
                nCodes: Int = 16, rerank: Int = 4, dim: Int = 64): DataFrame = {
    // ONE sampling pass feeds both structures (IVF centroids and PQ
    // codebooks are both deterministic cuts of the same sample)
    val sample = pickCentroids(corpus, math.max(nlist, nCodes))
    ivfPqTopKWith(corpus, queries, sample.take(nlist),
      codebooksFromSample(sample.take(nCodes), m, dim), k, nprobe, rerank)
  }

  /** [[ivfPqTopK]] against EXPLICIT model state (centroids +
    * codebooks) — the in-memory twin of probing a persisted IVF-PQ
    * index whose model is already fixed
    * ([[graft.operators.AnnIndex.probeIvfPq]]); the parity reference
    * for incremental append, mirroring [[ivfTopKWith]]. */
  def ivfPqTopKWith(corpus: DataFrame, queries: DataFrame,
                    cents: Array[Array[Float]],
                    cbs: Array[Array[Array[Float]]], k: Int = 10,
                    nprobe: Int = 4, rerank: Int = 4): DataFrame = {
    val encoded = corpus.select(col("vec_id").as("neighbor_id"),
      gf.nearestCentroids(col("embedding"), cents, 1)(0).as("cell"),
      gf.pqEncode(col("embedding"), cbs).as("codes"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    // probe side is |queries|·nprobe rows — broadcast it explicitly;
    // a fallback shuffle join on `cell` would funnel the corpus into
    // nlist reducer partitions
    val probed = broadcast(q.select(col("query_id"), col("q_emb"),
      explode(gf.nearestCentroids(col("q_emb"), cents, nprobe)).as("cell")))
    val approx = topKPerQuery(probed.join(encoded, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.pqCosine(col("q_emb"), col("codes"), cbs).as("cosine")), k * rerank)
    val exact = approx.select("query_id", "neighbor_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb")), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.cosineSim(col("q_emb"), col("n_emb")).as("cosine"))
    topKPerQuery(exact, k)
  }

  /** Residual codebooks for IVF-PQ: trained on `v − nearestCentroid(v)`
    * of the deterministic sample — residuals cluster around 0 with
    * far less variance than raw vectors, so the same code budget
    * yields a tighter reconstruction (the FAISS IVF-PQ design). Only
    * the sample (k vectors) is processed driver-side.
    */
  def trainResidualCodebooks(corpus: DataFrame, centroids: Array[Array[Float]],
                             m: Int = 8, k: Int = 16,
                             dim: Int = 64,
                             knownN: Long = -1L): Array[Array[Array[Float]]] = {
    def nearestIdx(v: Array[Float]): Int = {
      var best = 0; var bestSim = Double.NegativeInfinity
      var c = 0
      while (c < centroids.length) {
        val cent = centroids(c)
        var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < math.min(v.length, cent.length)) {
          dot += v(i).toDouble * cent(i); na += v(i).toDouble * v(i); nb += cent(i).toDouble * cent(i)
          i += 1
        }
        val sim = if (na == 0.0 || nb == 0.0) -2.0 else dot / (math.sqrt(na) * math.sqrt(nb))
        if (sim > bestSim) { bestSim = sim; best = c }
        c += 1
      }
      best
    }
    val sample = pickCentroids(corpus, k, knownN)
    val residuals = sample.map { v =>
      val cent = centroids(nearestIdx(v))
      Array.tabulate(v.length)(i => v(i) - cent(i))
    }
    codebooksFromSample(residuals, m, dim)
  }

  /** Per-subspace Lloyd refinement of [[trainResidualCodebooks]] —
    * the residual analog of [[trainPqCodebooksKMeans]]: encode the
    * residuals with the current codebooks, recompute each
    * (subspace, code) centroid as the mean RESIDUAL component. The
    * sample-cut init is a random-subset quantizer; the refinement is
    * what actually centers the codebook on the residual
    * distribution (and is where the residual layout's tighter
    * variance pays off). One scan per iteration; only the m·k·subDim
    * matrix reaches the driver.
    */
  def trainResidualCodebooksKMeans(corpus: DataFrame,
                                   centroids: Array[Array[Float]],
                                   m: Int = 8, k: Int = 16, dim: Int = 64,
                                   iters: Int = 2,
                                   sampleCap: Int = 4096): Array[Array[Array[Float]]] = {
    val sampled = trainSample(corpus, sampleCap)
    val thinned = sampled ne corpus
    val trainOn = if (thinned) sampled.cache() else sampled
    val cbs = trainResidualCodebooksKMeansOn(trainOn, corpus, centroids,
      m, k, dim, iters)
    if (thinned) trainOn.unpersist(false)
    cbs
  }

  /** The refinement loop of [[trainResidualCodebooksKMeans]] over an
    * ALREADY-prepared training relation (same split as
    * [[trainCentroidsOn]]); `corpus`/`knownN` feed only the
    * deterministic codebook INIT ([[trainResidualCodebooks]]'
    * pickCentroids cut, which samples the full corpus). Identical
    * arithmetic, identical codebooks. */
  private[operators] def trainResidualCodebooksKMeansOn(
      trainOn: DataFrame, corpus: DataFrame,
      centroids: Array[Array[Float]], m: Int, k: Int, dim: Int,
      iters: Int, knownN: Long = -1L): Array[Array[Array[Float]]] = {
    var cbs = trainResidualCodebooks(corpus, centroids, m, k, dim, knownN)
    val sub = dim / m
    val centsLit = typedlit(centroids.map(_.toSeq).toSeq)
    for (_ <- 0 until iters) {
      val stats = trainOn
        .select(col("embedding"),
          gf.nearestCentroids(col("embedding"), centroids, 1)(0).as("cell"))
        .select(col("cell"),
          gf.pqEncodeResidual(col("embedding"), col("cell"), centroids, cbs).as("codes"),
          posexplode(col("embedding")))
        .select(
          expr(s"CAST(pos div $sub AS INT)").as("subspace"),
          pmod(col("pos"), lit(sub)).as("sub_pos"),
          expr(s"codes[pos div $sub]").as("code"),
          (col("col") -
            element_at(element_at(centsLit, col("cell") + 1), col("pos") + 1)).as("rv"))
        .groupBy("subspace", "code", "sub_pos")
        .agg(avg("rv").as("mean_v"))
        .collect()
      val next = cbs.map(_.map(_.clone()))
      stats.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3).toFloat
      }
      cbs = next
    }
    cbs
  }

  /** IVF-PQ with RESIDUAL encoding — [[ivfPqTopK]]'s layout, but the
    * PQ codes quantize `v − centroid(cell)` instead of `v` itself,
    * and scoring reconstructs `centroid + residual`. The residual
    * distribution is centered and narrow, so the identical byte
    * budget buys strictly better reconstruction: the recall-uplift
    * dial when `m`/`nCodes` can't grow. Plan shape is unchanged
    * (cell equi-join, code-only scan, exact rerank of k·rerank).
    */
  def ivfPqResidualTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                        nlist: Int = 16, nprobe: Int = 4, m: Int = 8,
                        nCodes: Int = 16, rerank: Int = 4, dim: Int = 64,
                        kmeansIters: Int = 2): DataFrame = {
    // residual coding REQUIRES cell MEANS, not sample-vector seeds: a
    // residual against a random sample vector has the variance of a
    // difference of two independent draws (~2× the data's), strictly
    // worse than coding the raw vector. Lloyd-trained means make the
    // residual the within-cell deviation — the tighter distribution
    // the shared code budget then spends itself on.
    // training (both stages) runs over the bounded hash-thinned
    // sample; only the one-time cell assignment below scans the
    // full corpus. The count and the cached sample are built ONCE
    // and shared across both stages (r19): the two trainers derive
    // the identical thinning filter from the identical n, so the
    // standalone path's three corpus counts and two cache builds
    // collapse to one of each — same model bits, fewer jobs.
    val n = corpus.count()
    val sampled = trainSample(corpus, 4096, knownN = n)
    val thinned = sampled ne corpus
    val trainOn = if (thinned) sampled.cache() else sampled
    val cents = trainCentroidsOn(trainOn, nlist,
      iters = math.max(kmeansIters, 1))
    val cbs =
      if (kmeansIters > 0)
        trainResidualCodebooksKMeansOn(trainOn, corpus, cents, m, nCodes,
          dim, kmeansIters, knownN = n)
      else trainResidualCodebooks(corpus, cents, m, nCodes, dim, knownN = n)
    if (thinned) trainOn.unpersist(false)
    val assigned = corpus.select(col("vec_id").as("neighbor_id"), col("embedding"),
      gf.nearestCentroids(col("embedding"), cents, 1)(0).as("cell"))
    val encoded = assigned.select(col("neighbor_id"), col("cell"),
      gf.pqEncodeResidual(col("embedding"), col("cell"), cents, cbs).as("codes"))
    val q = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"))
    val probed = broadcast(q.select(col("query_id"), col("q_emb"),
      explode(gf.nearestCentroids(col("q_emb"), cents, nprobe)).as("cell")))
    val approx = topKPerQuery(probed.join(encoded, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.pqCosineResidual(col("q_emb"), col("codes"), col("cell"), cents, cbs)
          .as("cosine")), k * rerank)
    val exact = approx.select("query_id", "neighbor_id")
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb")), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.cosineSim(col("q_emb"), col("n_emb")).as("cosine"))
    topKPerQuery(exact, k)
  }

  /** Two-stage retrieve-then-rerank — the cross-encoder serving
    * shape: a cheap first stage over-retrieves `k·expand` candidates
    * per query, a richer second-stage scorer re-orders just those
    * pairs, and only the rerank's top `k` survive. Here the reranker
    * is a deterministic feature scorer (exact cosine blended with a
    * label-affinity boost) standing in for a learned cross-encoder;
    * a real model drops into the same hydrated pair frame via
    * `mapInPandas` (pairs arrive as (query_id, neighbor_id,
    * features…) in executor-sized batches — the expensive model only
    * ever sees |queries|·k·expand rows, never the corpus).
    *
    * Both stages are rank-deterministic (ties → neighbor_id), so the
    * WHOLE pipeline is oracle-checked — unlike the PQ refine step,
    * the second stage here scores on features the first stage never
    * saw, which is what makes it a rerank and not just a refine.
    *
    * 100 TB shape: stage 1 is the broadcast-query corpus scan (or any
    * ANN tier — the stages compose on (query_id, neighbor_id));
    * stage 2 touches only the candidate set, so its joins carry
    * |queries|·k·expand rows and the query side stays broadcast.
    */
  def rerankTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                 expand: Int = 4, labelBoost: Double = 0.05): DataFrame = {
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"), col("label").as("q_label")))
    val stage1 = topKPerQuery(corpus.crossJoin(q.select("query_id", "q_emb"))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        gf.cosineSim(col("q_emb"), col("embedding")).as("cosine")), k * expand)
    // hydrate candidate pairs with the second-stage features: one
    // equi-join against the corpus — broadcast the CANDIDATE side
    // (|queries|·k·expand rows) explicitly; without the hint the
    // optimizer may broadcast the corpus projection instead, which
    // only happens to fit at test scale
    val pairs = broadcast(stage1)
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
      .join(q.select("query_id", "q_label"), Seq("query_id"))
    val rescored = pairs.select(col("query_id"), col("neighbor_id"),
      (col("cosine") +
        when(col("q_label") === col("n_label"), labelBoost).otherwise(0.0))
        .as("rerank_score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rerank_score").desc, col("neighbor_id"))
    rescored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  /** kNN label classification — the standard embedding-quality eval:
    * each query's predicted label is the majority label of its k
    * exact nearest neighbors (ties → the smaller label wins, so the
    * vote is deterministic and oracle-checkable). `correct` compares
    * against the query's own label (leave-one-out, since self-matches
    * are excluded from the neighbor search). Swap the brute-force
    * stage for any ANN tier to eval the index instead of the
    * embedding space — the vote composes on (query_id, neighbor_id).
    */
  def knnClassify(corpus: DataFrame, queries: DataFrame, k: Int = 10): DataFrame = {
    val neighbors = bruteForceTopK(corpus, queries, k)
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("label").as("n_label")), Seq("neighbor_id"))
    val votes = neighbors.groupBy("query_id", "n_label")
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("n_votes").desc, col("n_label"))
    votes.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("label").as("true_label"))), Seq("query_id"))
      .select(col("query_id"), col("n_label").as("pred_label"),
        col("n_votes"), col("true_label"),
        (col("n_label") === col("true_label")).as("correct"))
  }

  private def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int,
                        centroids: Array[Array[Float]], nprobe: Int): DataFrame = {
    val assigned = corpus.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("n_emb"),
      gf.nearestCentroids(col("embedding"), centroids, 1)(0).as("cell"))
    val probed = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      explode(gf.nearestCentroids(col("embedding"), centroids, nprobe)).as("cell"))
    topKPerQuery(probed.join(assigned, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.cosineSim(col("q_emb"), col("n_emb")).as("cosine")), k)
  }

  /** Embedding QA profile — the sanity pass run before any vectors
    * enter an index: per label, vector count, dimension spread, and
    * the L2-norm envelope (a zero-norm or wildly-scaled batch is an
    * upstream encoder bug; cosine silently hides scale, MIPS does
    * not). The norm is a LEFT-FOLD over the float array with every
    * element cast to double — the fold order is pinned, so DuckDB's
    * `list_reduce` replays it bit-for-bit ([[Multimodal]]'s pooled-
    * feature oracle trick) and min/max over bit-identical doubles
    * are exact; the mean alone crosses row order, so it is rounded
    * (1e-6, error ~1e-13/row — docs/ORACLE_NOTES.md). One narrow
    * scan, one tiny aggregate; per-row work is O(dim). A diagnostic,
    * so the interpreted HOF lambda is acceptable off the hot path.
    */
  /** Per-dimension distribution profile — the OTHER embedding QA
    * axis ([[normProfile]] checks rows; this checks columns): count,
    * mean, sample variance and range of every coordinate across the
    * corpus. A dead dimension (variance ≈ 0) is wasted index bytes
    * and a candidate for [[Pca]] truncation; a runaway mean signals
    * an uncentered encoder batch, which silently degrades PQ
    * codebooks trained on the assumption of centered residuals.
    * One posexplode (bounded ×dim fan-out of a vectors-only
    * projection) into one hash aggregate keyed on the ≤dim distinct
    * dimension ids — fully partial-agg friendly, nothing driver-side.
    * Mean/variance cross row order, so they are rounded at 1e-6
    * (summation error ~1e-13 — the [[normProfile]] argument);
    * min/max over per-element double casts are exact.
    */
  def dimStats(embeddings: DataFrame): DataFrame =
    embeddings
      .select(posexplode(col("embedding")))
      .select((col("pos") + 1).cast("long").as("dim"),
        col("col").cast("double").as("v"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        round(avg("v"), 6).as("mean_v"),
        round(var_samp("v"), 6).as("var_v"),
        min("v").as("min_v"),
        max("v").as("max_v"))

  /** Centroid drift between two corpus snapshots — the encoder-
    * version/distribution-shift monitor for an embedding feed: per
    * label, the cosine between the two snapshots' MEAN vectors and
    * both centroid norms. A centroid cosine sagging below ~0.99
    * across a model redeploy means the new vectors live in a
    * different region and every persisted index ([[AnnIndex]]) and
    * PQ codebook trained on the old geometry is quietly stale —
    * this is the rebuild trigger that catches what
    * [[graft.operators.AnnIndex]]'s cell-balance check cannot (a
    * uniform shift rebalances nothing). Cost: each side is one
    * bounded posexplode into a (label, dim)-grain mean (≤ labels·dim
    * rows), the join runs at that same tiny grain, and the final
    * per-label reduce is O(dim) per label. Vectors never pairwise
    * join — drift is measured on the aggregates.
    */
  def centroidDrift(a: DataFrame, b: DataFrame): DataFrame = {
    def cent(df: DataFrame, sfx: String) = df
      .select(col("label"), posexplode(col("embedding")))
      .groupBy(col("label"), col("pos").as("dim"))
      .agg(avg(col("col").cast("double")).as(s"m_$sfx"),
        count(lit(1)).as(s"n_$sfx"))
    cent(a, "a").join(cent(b, "b"), Seq("label", "dim"))
      .groupBy("label")
      .agg(
        max(s"n_a").as("n_a"),
        max(s"n_b").as("n_b"),
        sum(col("m_a") * col("m_b")).as("dot"),
        sum(col("m_a") * col("m_a")).as("na2"),
        sum(col("m_b") * col("m_b")).as("nb2"))
      .select(
        col("label"), col("n_a"), col("n_b"),
        round(col("dot") / (sqrt(col("na2")) * sqrt(col("nb2"))), 6)
          .as("centroid_cosine"),
        round(sqrt(col("na2")), 6).as("norm_a"),
        round(sqrt(col("nb2")), 6).as("norm_b"))
  }

  /** Maximal-marginal-relevance diverse top-k — re-rank a relevance
    * pool so the result covers the query's neighborhood instead of
    * returning `k` near-copies (the retrieval-for-RAG/labeling
    * shape): greedily pick
    * `argmax λ·rel(c) − (1−λ)·max_{s∈selected} sim(c, s)`.
    * MMR is inherently sequential in `k`, so the distribution axis
    * is QUERIES, not candidates: the exact [[bruteForceTopK]] pool
    * (`poolSize` per query) joins its vectors and a typed
    * `flatMapGroups` runs the greedy loop per query with BOUNDED
    * state (poolSize · dim floats — never the corpus). Ties break by
    * (score, neighbor_id) and the pool order is pinned, so output is
    * deterministic. At 100 TB the pool build dominates and scales
    * exactly like the underlying top-k tier; swapping the pool
    * source for an IVF/PQ tier keeps the re-rank unchanged.
    */
  def mmrDiverseTopK(corpus: DataFrame, queries: DataFrame, k: Int = 10,
                     poolSize: Int = 50, lambda: Double = 0.5): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val pool = bruteForceTopK(corpus, queries, poolSize)
      .join(corpus.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("cosine"),
        col("n_emb"))
      .as[(Long, Long, Double, Array[Float])]
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length && i < b.length) {
        dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i); i += 1
      }
      if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
    }
    pool.groupByKey(_._1)
      .flatMapGroups { (qid, it) =>
        // pinned candidate order: relevance desc, id asc
        val cands = it.toArray.sortBy(c => (-c._3, c._2))
        val selected = Array.newBuilder[(Long, Int, Long, Double, Double)]
        val chosen = scala.collection.mutable.ArrayBuffer.empty[Int]
        val live = scala.collection.mutable.BitSet(cands.indices: _*)
        var rank = 1
        while (rank <= math.min(k, cands.length)) {
          var bestIdx = -1; var bestScore = Double.NegativeInfinity
          live.foreach { i =>
            val maxSim =
              if (chosen.isEmpty) 0.0
              else chosen.iterator.map(j => cos(cands(i)._4, cands(j)._4)).max
            val score = lambda * cands(i)._3 - (1.0 - lambda) * maxSim
            // strict > keeps the first (highest-rel, lowest-id) on ties
            if (score > bestScore) { bestScore = score; bestIdx = i }
          }
          selected += ((qid, rank, cands(bestIdx)._2, cands(bestIdx)._3,
            bestScore))
          chosen += bestIdx; live -= bestIdx; rank += 1
        }
        selected.result().iterator
      }
      .toDF("query_id", "rank", "neighbor_id", "relevance", "mmr_score")
      .withColumn("rank", col("rank").cast("long"))
  }

  def normProfile(embeddings: DataFrame): DataFrame = {
    val norm = sqrt(aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    embeddings
      .select(col("label"), size(col("embedding")).as("dim"), norm.as("nrm"))
      .groupBy("label")
      .agg(
        count(lit(1)).as("n_vecs"),
        min("dim").as("min_dim"),
        max("dim").as("max_dim"),
        min("nrm").as("min_norm"),
        max("nrm").as("max_norm"),
        round(avg("nrm"), 6).as("avg_norm"),
        sum(when(col("nrm") === 0.0d, 1L).otherwise(0L)).as("n_zero"))
  }

  /** Pairwise-cosine histogram over a deterministic corpus sample —
    * the embedding-geometry gauge that PREDICTS how every
    * approximate tier will behave before an index is built: mass
    * piled near 0 means near-isotropic vectors (the measured reason
    * this testdata's PCA/IVF recall is hard — docs/ANN_SWEEP.md), a
    * multimodal histogram means real cluster structure (IVF will
    * shine), a heavy right tail near 1 predicts the SemDeDup
    * threshold's yield. Sample is the deterministic `vec_id %
    * sampleMod` slice; within it the all-pairs cosine runs as a
    * broadcast cross join — quadratic IN THE SAMPLE only, so at
    * scale `sampleMod` is chosen to keep the sample O(1k) (the
    * [[Similarity]] trainSample posture: diagnostics run on capped
    * samples, never the corpus). Bins are `floor(cos·bins)`: both
    * engines compute bit-identical doubles (same in-order kernel),
    * so the boundary is safe; counts exact, one share quotient
    * rounded once.
    */
  /** Reciprocal-rank fusion of ranked candidate lists — the standard
    * way to combine a dense (embedding) retriever with a lexical one
    * without score calibration: each list contributes
    * `1/(rrfK + rank)` per candidate and the contributions sum, so
    * only RANKS matter and the two retrievers' incomparable score
    * scales never meet. A candidate placed mid-list by BOTH
    * retrievers outranks one that only a single retriever liked
    * (2/(rrfK+2) > 1/(rrfK+1) for the standard rrfK=60) — the
    * consensus property that makes hybrid search robust.
    *
    * Each input list carries `(query_id, neighbor_id, rank)` with
    * rank 1-based within query. The fusion itself is cheap at any
    * corpus size: inputs are already per-query top-k relations
    * (O(|queries|·k) rows), so the groupBy rides on tiny data no
    * matter how large the corpus the retrievers scanned. Determinism:
    * with two lists the summed contribution is a commutative pair
    * add (IEEE + is commutative, order-free for n=2); ties in the
    * fused score break by neighbor id.
    */
  def rrfFuse(lists: Seq[DataFrame], k: Int = 10, rrfK: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse needs at least one ranked list")
    val contribs = lists.map(_.select(col("query_id"), col("neighbor_id"),
      (lit(1.0) / (lit(rrfK) + col("rank"))).as("contrib")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy("query_id", "neighbor_id")
      .agg(sum("contrib").as("rrf_score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("rrf_score").desc, col("neighbor_id"))
    fused.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .drop("rn")
  }

  /** Hybrid dense + lexical retrieval, RRF-fused ([[rrfFuse]]).
    *
    * Dense list: exact cosine top-`kList` ([[bruteForceTopK]] — the
    * anchor tier; at scale the dense list would come from any of the
    * approximate tiers, and the fusion is agnostic to the source
    * since only ranks cross the boundary). Lexical list: rare-token
    * blocking — distinct whitespace tokens, document frequency
    * capped at `maxDf` (the [[graft.operators.Dedup]] posting-list
    * posture: a token every doc shares is evidence of nothing and
    * would square the join), candidates meet in a token equi-join,
    * scored by shared-rare-token count. Cost is bounded by
    * df_q·df ≤ maxDf² per token — linear in corpus size, never
    * all-pairs, and the fusion input is O(|queries|·kList) rows.
    *
    * Queries are the `vec_id % queryMod = 0` slice; `documents` and
    * `embeddings` share the id space, so the same slice drives both
    * retrievers. Fully deterministic end to end (exact cosine ranks,
    * exact token counts, id tie-breaks), so the whole hybrid stack is
    * DuckDB-oracle-checkable — rare for a retrieval pipeline.
    */
  def hybridRrfTopK(docs: DataFrame, embeddings: DataFrame,
                    queryMod: Int = 100, k: Int = 10, kList: Int = 20,
                    maxDf: Int = 64, rrfK: Int = 60): DataFrame = {
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val dense = bruteForceTopK(embeddings,
        embeddings.filter(col("vec_id") % queryMod === 0), kList)
      .withColumn("rank", row_number().over(wRank))
      .select(col("query_id"), col("neighbor_id"), col("rank"))

    val toks = docs.select(col("doc_id"),
      explode(array_distinct(TextAnalysis.tokens(col("text")))).as("tok"))
    val rare = toks.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf))
    val posts = toks.join(rare.select("tok"), Seq("tok"))
    val lexScored = posts.filter(col("doc_id") % queryMod === 0)
      .select(col("tok"), col("doc_id").as("query_id"))
      .join(posts, Seq("tok"))
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
      .agg(count(lit(1)).as("shared"))
    val wLex = Window.partitionBy("query_id")
      .orderBy(col("shared").desc, col("neighbor_id"))
    val lex = lexScored.withColumn("rank", row_number().over(wLex))
      .filter(col("rank") <= kList)
      .select(col("query_id"), col("neighbor_id"), col("rank"))

    rrfFuse(Seq(dense, lex), k, rrfK)
  }

  /** The tokenize+count trunk under [[bm25Postings]]: one
    * `(doc_id, tok, tf)` row per distinct token of each document. At
    * 100 TB this is the postings table a search pipeline persists per
    * corpus snapshot. */
  def termFreqs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))

  /** BM25 lexical top-k — the classic probabilistic ranking function
    * (Robertson–Spärck Jones), the retrieval-quality upgrade over
    * [[hybridRrfTopK]]'s raw shared-token count: per shared term,
    * idf = ln(1 + (N − df + ½)/(df + ½)) weighs rarity and the
    * (k1, b) saturation normalizes term frequency by document length.
    * Scale posture — CHAMPION LISTS (impact-ordered truncated
    * postings, the classic IR index trick). SCORING keeps the full
    * vocabulary up to a STOPWORD-FRACTION cap: tokens in more than
    * `maxDfFrac` of documents are dropped (df = 1 hapaxes too — a
    * token in one document can never be shared); retrieval quality
    * needs every surviving term to contribute to the final score.
    * CANDIDATE GENERATION (stage 1) instead joins the query tokens
    * against each token's CHAMPION LIST — ~`championR` docs chosen
    * by (tf DESC, doc_id), the frequency-ordered proxy for impact
    * order — so per-token fan-out in the stage-1 equi-join is
    * bounded by a CONSTANT instead of maxDfFrac·N: stage-1 work is
    * O(|query postings| · championR) regardless of corpus size, and
    * no hot token can concentrate 0.9·N postings on one shuffle
    * partition. An absolute mid-band df window (the dedup-family
    * cap) is NOT used here because it silently empties on small-
    * vocabulary corpora where every token is stopword-class — the
    * champion list degrades gracefully instead (every token always
    * contributes ~min(df, championR) candidates). Ranking champions
    * by integer tf with doc_id tie-break (rather than the float
    * impact itself) makes list membership a DISCRETE, bit-stable
    * set — no cross-engine ulp noise can flip who is in the index.
    * The champion build is STRATIFIED for skew-proofness: ceil(R/32)
    * champions per (tok, doc_id % 32) stratum, one window whose
    * partitions each hold at most a 1/32 slice of a hot token's
    * posting list — strata are selected independently, so the list
    * is also hash-diverse across the corpus rather than biased to
    * one region of the tf distribution's head. Block-max/WAND early
    * termination is the next tier if exhaustive common-token
    * scoring must also be rank-safe.
    *
    * Per-pair scores fold their term contributions in TOKEN order
    * (array_sort → sequential `aggregate`), not hash-aggregate
    * order — in BOTH stages: exact-duplicate documents then score
    * bit-identically within each engine, so their rank tie breaks by
    * neighbor_id the same way everywhere. The stage-1 cut at rank
    * k·5 additionally orders by the 1e-6-rounded fold (then
    * neighbor_id), so the candidate SET — a discrete output — can't
    * be split across engines by last-ulp ln() noise either; a flip
    * now needs two fold sums straddling a 1e-6 grid edge within one
    * ulp. The fold is affordable in stage 1 precisely because
    * champion lists bound the rows it runs over.
    */
  /** The scored BM25 postings index: `(doc_id, tok, tf, term)` with
    * `term` the full idf·saturation contribution of `tok` in
    * `doc_id`, band-filtered to 2 ≤ df ≤ maxDfFrac·N. This is the
    * persisted-index half of [[bm25TopK]] — an IR system scores its
    * postings at INDEX time, not per query, so a pipeline running
    * bm25 builds this once (checkpoint/bucket it) and every query
    * operator reads it. Its input is the tokenize+count trunk
    * [[termFreqs]], the expensive prefix a pipeline running several
    * lexical operators pays once. Build posture: dl rides
    * the postings as a window sum over doc_id (per-doc partitions
    * are bounded by document length — skew-proof — and it removes a
    * per-stage dl join downstream); df stays a groupBy (map-side
    * partial combine — a hot token never concentrates its posting
    * list the way a tok-window would); N and avgdl come straight
    * off the tf relation (avgdl = Σtf / N, identical to the mean of
    * per-doc lengths but without a per-doc aggregate on the
    * critical path) as one broadcast row — and the integer sum /
    * single division is bit-stable cross-engine, unlike an iterated
    * float mean.
    */
  def bm25Postings(tf: DataFrame, maxDfFrac: Double = 0.9,
                   k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val corpusStats = broadcast(tf.agg(
        countDistinct(col("doc_id")).cast("double").as("n_docs"),
        sum("tf").as("tot_toks"))
      .select(col("n_docs"), (col("tot_toks") / col("n_docs")).as("avgdl")))
    val dfRel = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(corpusStats)
      .filter(col("df") >= 2 &&
        col("df") <= floor(lit(maxDfFrac) * col("n_docs")))
      .select("tok", "df")
    val idf = log(
      (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) +
        lit(1.0))
    val sat = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    // postings carry everything the term expression needs — term is
    // a pure per-row projection from here on, so neither query
    // stage pays a dl join or a corpus-stats crossJoin again
    tf.withColumn("dl", sum("tf").over(Window.partitionBy("doc_id")))
      .join(dfRel, Seq("tok"))
      .crossJoin(corpusStats)
      .withColumn("term", idf * sat)
      .select("doc_id", "tok", "tf", "term")
  }

  /** The shared per-pair score fold: term contributions in TOKEN
    * order (array_sort → sequential aggregate), never hash-aggregate
    * order — exact-duplicate documents score bit-identically within
    * an engine, so rank ties break by neighbor_id the same way
    * everywhere. */
  private def bm25TokenOrderedSum: Column = aggregate(
    transform(
      array_sort(collect_list(struct(col("tok"), col("term")))),
      s => s.getField("term")),
    lit(0.0), (acc, x) => acc + x)

  def bm25TopK(posts: DataFrame, queryMod: Int = 100, k: Int = 10,
               championR: Int = 64): DataFrame = {
    val qPosts = posts.filter(col("doc_id") % queryMod === 0)
      .select(col("tok"), col("doc_id").as("query_id"))
    def termsOver(corpusPosts: DataFrame): DataFrame =
      qPosts.join(corpusPosts, Seq("tok"))
        .filter(col("doc_id") =!= col("query_id"))
        .select(col("query_id"), col("doc_id").as("neighbor_id"),
          col("tok"), col("term"))
    // two-stage: stage 1 generates candidates from each token's
    // STRATIFIED CHAMPION LIST — ceil(championR/32) postings per
    // (tok, doc_id % 32) stratum by (tf DESC, doc_id), one window
    // whose partitions each hold at most a 1/32 slice of a hot
    // token's posting list — so per-token fan-out is a constant at
    // any corpus size and the build itself is skew-proof. Stage 2
    // then REBUILDS terms over the FULL fractional-cap vocabulary
    // from candidate-bounded postings only (|cand docs| rows, not
    // the corpus), so final scores keep every term stage 1's
    // truncated lists ignored. Both stages fold terms in token
    // order — stage 2 for dup-doc tie stability, stage 1 (with a
    // 1e-6 rounding at the cut) so the candidate set can't be
    // flipped by partition-order or last-ulp float noise.
    // STRATIFIED champion lists: ceil(R/32) champions per
    // (tok, doc_id % 32) stratum. One window, one shuffle, and no
    // partition ever holds more than a 1/32 slice of a hot token's
    // posting list — each stratum's top is an independent integer-
    // ranked (tf DESC, doc_id) selection, so membership stays a
    // discrete bit-stable set and the strata double as hash-diverse
    // coverage of the posting list
    val perStratum = math.max(1, (championR + 31) / 32)
    val wSalt = Window.partitionBy("tok", "salt")
      .orderBy(col("tf").desc, col("doc_id"))
    val champions = posts
      .withColumn("salt", pmod(col("doc_id"), lit(32)))
      .withColumn("rs", row_number().over(wSalt))
      .filter(col("rs") <= perStratum).drop("rs", "salt")
    val tokenOrderedSum = bm25TokenOrderedSum
    // repartition by query_id alone: hash(query_id) satisfies the
    // pair-grain clustering below AND the rank window after it, so
    // the agg → window chain rides ONE exchange (collect_list has
    // no useful map-side partial to lose). Per-query volume is
    // bounded (toks-per-query · champions), so the key is balanced.
    val approx = termsOver(champions)
      .repartition(col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(tokenOrderedSum.as("s_approx"))
    val wA = Window.partitionBy("query_id")
      .orderBy(round(col("s_approx"), 6).desc, col("neighbor_id"))
    // no checkpoint: the pair-bounded stage 2 reads cands exactly
    // once, so the whole query is a single job — one fewer action,
    // and AQE can coalesce the tiny shuffles across both stages
    val cands = approx.withColumn("rn", row_number().over(wA))
      .filter(col("rn") <= k * 5)
      .select("query_id", "neighbor_id")
    // stage-2 term rebuild is PAIR-bounded, never corpus-bounded:
    // expand each candidate pair by the query's tokens
    // (O(|cands| · tokens-per-query) rows), then an equi-join on
    // (neighbor_id, tok) picks out exactly the shared tokens in the
    // fractional-cap band — the same term set termsOver would build,
    // without materializing a corpus-wide posting fan-out first
    val scored = cands
      .join(qPosts, Seq("query_id"))
      .join(posts.select(col("doc_id").as("neighbor_id"), col("tok"),
        col("term")), Seq("neighbor_id", "tok"))
      .repartition(col("query_id")) // same one-exchange agg → window ride
      .groupBy("query_id", "neighbor_id")
      .agg(tokenOrderedSum.as("bm25"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("bm25"))
  }

  /** The per-query θ for MaxScore pruning, from a HASH-SAMPLE
    * scoring pass: each query is scored EXACTLY against the docs in
    * one doc_id residue class (the sample is on DOCS, so every
    * sampled pair sees the query's full token set), and the sample's
    * k-th score — the k-th order statistic of a SUBSET — is ≤ the
    * true exhaustive k-th. A safety margin (1e-6 + 1e-9·|kth|),
    * ~7 orders above float-reassociation error on any realistic
    * term count, makes the bound robust to the plain-sum fold, so
    * `score < θ` strictly implies "cannot enter the top-k even on an
    * id tie-break". Queries with < k sampled candidates get θ = −∞
    * (the safe degenerate: nothing prunes). Cost: 1/sampleMod of
    * the exhaustive fan-out. Returned LAZY — the direct branch only
    * ever folds it into the one plan-choice action; the pruned
    * branch checkpoints it before its three readers. */
  private def bm25SampleTheta(posts: DataFrame, qPosts: DataFrame,
                              k: Int, sampleMod: Int): DataFrame = {
    val samplePosts = posts
      .filter(pmod(col("doc_id"), lit(sampleMod)) === lit(1 % sampleMod))
    val wS = Window.partitionBy("query_id")
      .orderBy(col("s").desc, col("neighbor_id"))
    // no broadcast hint on the query side: it is O(corpus / queryMod)
    // rows, and AQE still broadcasts it at run time when it is small
    qPosts.join(samplePosts, Seq("tok"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id").as("neighbor_id"), col("term"))
      .groupBy("query_id", "neighbor_id").agg(sum("term").as("s"))
      .withColumn("rn", row_number().over(wS))
      .filter(col("rn") === k)
      .select(col("query_id"),
        (col("s") - lit(1e-6) - abs(col("s")) * lit(1e-9)).as("theta"))
  }

  /** Plan-shape readout for [[bm25MaxScoreTopK]] (test/diagnostic
    * surface): the volume estimate's inputs and the block-max
    * pruning rates on a given corpus, so a spec can PROVE the pruned
    * branch engages on a Zipf-shaped vocabulary — essential postings
    * a small fraction of Σdf, blocks pruned, estimate choosing
    * pruned — rather than the 100× story resting on the estimator
    * alone. */
  private[graft] case class MaxScoreEstimate(
      vDirect: Long, vPruned: Long, essPostings: Long,
      blocksTotal: Long, blocksSurviving: Long) {
    def usePruned: Boolean = vPruned <= vDirect
  }

  private[graft] def bm25MaxScoreEstimate(
      posts: DataFrame, queryMod: Int = 100, k: Int = 10,
      sampleMod: Int = 50, blockSize: Int = 16): MaxScoreEstimate = {
    val qPosts = posts.filter(col("doc_id") % queryMod === 0)
      .select(col("tok"), col("doc_id").as("query_id"))
    val theta = bm25SampleTheta(posts, qPosts, k, sampleMod)
      .localCheckpoint(true)
    val qTok = bm25QTok(posts, qPosts, theta)
    val nDocs = posts.agg(countDistinct(col("doc_id")).as("n_docs"))
    val vols = bm25Volumes(qTok, nDocs)
    val blk = bm25SurvivingBlocks(posts, qPosts, theta, blockSize)
      .agg(count(lit(1)).as("surv")).head().getAs[Long]("surv")
    val blkTotal = qPosts.join(
        posts.select(col("tok"),
          expr(s"doc_id div $blockSize").as("blk")).distinct(), Seq("tok"))
      .select("query_id", "blk").distinct().count()
    val ess = qTok.filter(col("cum") >= col("theta"))
      .agg(coalesce(sum("df"), lit(0L)).as("e")).head().getAs[Long]("e")
    MaxScoreEstimate(vols.getAs[Long]("v_direct"),
      vols.getAs[Long]("v_pruned"), ess, blkTotal, blk)
  }

  /** Query-token relation carrying everything the bounds need: the
    * global per-token upper bound `ub`, document frequency `df`, the
    * query's θ (−∞ when the sample pass found < k candidates) and
    * the ascending-ub running total `cum`. */
  private def bm25QTok(posts: DataFrame, qPosts: DataFrame,
                       theta: DataFrame): DataFrame = {
    // ub and df ride ONE aggregate over the postings — two separate
    // groupBys would be two shuffles of the same relation
    val ubDf = posts.groupBy("tok")
      .agg(max("term").as("ub"), count(lit(1)).as("df"))
    val wq = Window.partitionBy("query_id")
      .orderBy(col("ub").asc, col("tok"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    qPosts
      .join(ubDf, Seq("tok"))
      .join(theta, Seq("query_id"), "left")
      .withColumn("theta",
        coalesce(col("theta"), lit(Double.NegativeInfinity)))
      .withColumn("cum", sum("ub").over(wq))
  }

  /** One-action volume estimate: direct exhaustive fan-out
    * Σ_q Σ_all df vs the pruned branch's essential scan +
    * candidate re-expansion Σ_q [Σ_ess df + min(Σ_ess df, N)·|toks|].
    * (Block-max pruning only SHRINKS the pruned branch further, so
    * the estimate is conservative toward direct.) */
  private def bm25Volumes(qTok: DataFrame, nDocs: DataFrame) =
    qTok.groupBy("query_id").agg(
        sum("df").as("v_all"),
        sum(when(col("cum") >= col("theta"), col("df")).otherwise(0L))
          .as("v_ess"),
        count(lit(1)).as("n_toks"))
      .crossJoin(broadcast(nDocs))
      .agg(
        sum("v_all").as("v_direct"),
        sum(col("v_ess") +
          least(col("v_ess"), col("n_docs")) * col("n_toks"))
          .as("v_pruned")).head()

  /** BLOCK-MAX surviving blocks: docs are grouped into contiguous
    * doc_id-range blocks of `blockSize`; `bub(t, B)` = max term
    * impact of t within block B (one map-side max, skew-proof, ≤ one
    * row per posting so the relation is postings-bounded). For a doc
    * d ∈ B, score(q,d) = Σ_{t∈q∩d} term(t,d) ≤ Σ_{t∈q∩B} bub(t,B) =
    * bound(q,B) — absent (t,B) pairs contribute exactly 0 to both
    * sides — so bound(q,B) < θ prunes the WHOLE block: no doc in it
    * can reach the top-k (strict inequality, θ already margin-safe).
    * This is the Block-Max-WAND refinement of the global ub: per-
    * block max tf is far below the corpus max for most blocks, so
    * the bound tightens as blocks shrink (at blockSize=1 it equals
    * the exact score). Returns the SURVIVING (query_id, blk) pairs;
    * a candidate pair reached through token t ∈ q∩B always has a
    * bound row (bound ≥ bub(t,B) > 0), so a semi-join against this
    * relation is lossless. */
  private def bm25SurvivingBlocks(posts: DataFrame, qPosts: DataFrame,
                                  theta: DataFrame,
                                  blockSize: Int): DataFrame = {
    // integer `div`, never float division: doc_id can exceed 2^53 at
    // corpus scale and a double quotient would alias distinct blocks
    val bub = posts
      .withColumn("blk", expr(s"doc_id div $blockSize"))
      .groupBy("tok", "blk").agg(max("term").as("bub"))
    qPosts.join(bub, Seq("tok"))
      .groupBy("query_id", "blk").agg(sum("bub").as("bound"))
      .join(theta, Seq("query_id"), "left")
      .filter(col("theta").isNull || col("bound") >= col("theta"))
      .select("query_id", "blk")
  }

  /** RANK-SAFE exhaustive BM25 top-k via MaxScore pruning with
    * BLOCK-MAX bounds — the "common terms must still score, exactly"
    * tier above [[bm25TopK]]'s approximate champion lists. The
    * returned rows are the TRUE exhaustive BM25 top-k (the oracle
    * scores every pair), but the plan never materializes the full
    * posting fan-out when the bounds engage. The pruning argument:
    *
    *  1. a hash-sample pass ([[bm25SampleTheta]]) yields θ = the
    *     k-th score over one doc_id residue class — a margin-safe
    *     LOWER bound on the true k-th score (subset order statistic);
    *  2. ub(t) = max over the corpus of t's term contribution is an
    *     UPPER bound on what t can add to any score; sort the
    *     query's tokens by ascending ub: the longest prefix whose
    *     ub-sum stays BELOW θ is "non-essential" — a document
    *     sharing ONLY those tokens scores ≤ that sum < θ ≤ true
    *     k-th, so it cannot enter the top-k even on an id tie-break
    *     (strict inequality). Every true top-k document therefore
    *     shares at least one ESSENTIAL token;
    *  3. independently, [[bm25SurvivingBlocks]] prunes whole
    *     doc_id-range blocks whose per-block bound Σ bub(t,B) can't
    *     reach θ — the Block-Max-WAND bound, far tighter than the
    *     global ub because most blocks hold no high-tf posting of
    *     any query token. The candidate join runs over essential
    *     postings ∩ surviving blocks only.
    *
    * Both prunings are data-adaptive and individually lossless, so
    * their intersection is too: correctness never depends on
    * pruning quality, only cost does (θ = −∞ degrades to the
    * exhaustive join). On a Zipf-shaped vocabulary the essential set
    * collapses to the rare discriminative tokens and most blocks
    * prune (spec-proven in SimilaritySpec "pruned branch engages");
    * on a pathological all-common-terms corpus (this testdata:
    * 31-token vocabulary, every df ≈ 0.8·N, ~23-token queries) NO
    * per-token bound sum can undercut θ — measured: ≤10% of blocks
    * prune even at blockSize=4 — and the volume estimate correctly
    * picks one direct pass instead.
    */
  def bm25MaxScoreTopK(posts: DataFrame, queryMod: Int = 100, k: Int = 10,
                       sampleMod: Int = 50, blockSize: Int = 16,
                       // test hook: pin the plan branch (None = the
                       // volume estimate decides). Both branches
                       // return the identical exhaustive ranking.
                       forcePruned: Option[Boolean] = None): DataFrame = {
    val qPosts = posts.filter(col("doc_id") % queryMod === 0)
      .select(col("tok"), col("doc_id").as("query_id"))
    val theta = bm25SampleTheta(posts, qPosts, k, sampleMod)
    // ADAPTIVE plan choice: the pruned branch pays (a) the essential
    // posting scan and (b) the candidate-pair re-expansion by the
    // query's FULL token list. On a Zipf vocabulary essential tokens
    // are rare and the estimate collapses; on an all-common-terms
    // corpus the candidate set is ~every doc and re-expansion would
    // cost MORE than one direct pass — take the cheaper plan. Either
    // branch produces the identical exhaustive ranking. The θ sample
    // and bound subtrees all fold into this ONE action (theta is
    // lazy), so the direct branch pays a single plan-choice job and
    // never materializes any pruning state.
    val usePruned = forcePruned.getOrElse {
      val nDocs = posts.agg(countDistinct(col("doc_id")).as("n_docs"))
      val vols = bm25Volumes(bm25QTok(posts, qPosts, theta), nDocs)
      vols.getAs[Long]("v_pruned") <= vols.getAs[Long]("v_direct")
    }
    // a codegen'd plain float sum ranks the candidates first, and
    // only pairs within a safety margin of the plain k-th get the
    // token-ordered rescore. The margin (1e-6 + 1e-9·|kth|) exceeds
    // float-reassociation error on any realistic term count by ~6
    // orders of magnitude, so no pair whose ordered score could
    // reach the top-k is cut; the fold then re-establishes
    // bit-stable dup-doc ties for the survivors
    val corpusSide = posts.select(col("doc_id").as("neighbor_id"),
      col("tok"), col("term"))
    val termRows = (if (usePruned) {
      // three readers (essential filter, block bounds, candidate
      // anti-self filter) → pin the tiny O(queries) θ relation once
      val thetaCk = theta.localCheckpoint(true)
      val surviving = bm25SurvivingBlocks(posts, qPosts, thetaCk, blockSize)
      val cands = bm25QTok(posts, qPosts, thetaCk)
        .filter(col("cum") >= col("theta"))
        .select("query_id", "tok")
        .join(posts.select(col("doc_id"), col("tok"),
          expr(s"doc_id div $blockSize").as("blk")), Seq("tok"))
        .filter(col("doc_id") =!= col("query_id"))
        .join(surviving, Seq("query_id", "blk"), "left_semi")
        .select(col("query_id"), col("doc_id").as("neighbor_id"))
        .distinct()
      cands.join(qPosts, Seq("query_id"))
        .join(corpusSide, Seq("neighbor_id", "tok"))
    } else {
      qPosts.join(corpusSide, Seq("tok"))
        .filter(col("neighbor_id") =!= col("query_id"))
        .select(col("query_id"), col("neighbor_id"), col("tok"), col("term"))
    })
    // NO pre-repartition here: sum() has a real map-side combine, so
    // the shuffle moves O(pairs) partial states, never the O(pairs ·
    // toks) term rows — the opposite trade from the fold aggregates,
    // whose collect_list partials are as big as their input
    val plain = termRows.groupBy("query_id", "neighbor_id")
      .agg(sum("term").as("s_plain"))
    val wP = Window.partitionBy("query_id")
      .orderBy(col("s_plain").desc, col("neighbor_id"))
    // the plain k-th rides a SECOND window over the same query_id
    // partitioning (max of the rank-k score, whole-partition frame) —
    // no broadcast join back onto the ranked relation, no second
    // materialization of it, zero extra exchange
    val survivors = plain
      .withColumn("rn", row_number().over(wP))
      .withColumn("kth_plain",
        max(when(col("rn") === k, col("s_plain")))
          .over(Window.partitionBy("query_id")))
      .filter(col("kth_plain").isNull ||
        col("s_plain") >= col("kth_plain") -
          (lit(1e-6) + abs(col("kth_plain")) * lit(1e-9)))
      .select("query_id", "neighbor_id")
    // survivor rescore rebuilds its terms PAIR-bounded (the bm25TopK
    // stage-2 shape) — O(survivors · tokens-per-query) rows, never a
    // second pass over the candidate term relation. The relations that
    // grow with the query count (qPosts, θ, the essential candidates,
    // this survivor side) carry no broadcast hint: the planner and AQE
    // pick the join from their measured size.
    val scored = posts
      .select(col("doc_id").as("neighbor_id"), col("tok"), col("term"))
      .join(survivors.join(qPosts, Seq("query_id")),
        Seq("neighbor_id", "tok"))
      .repartition(col("query_id"))
      .groupBy("query_id", "neighbor_id")
      .agg(bm25TokenOrderedSum.as("bm25"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("bm25").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("bm25"))
  }

  /** Two-stage ANN over PREFIX-truncated embeddings — the
    * "Matryoshka representation" serving trick: embeddings trained
    * with nested-prefix objectives rank usefully at any prefix
    * length, so stage 1 scores cosine on the first `prefixDims`
    * dimensions only (a prefixDims/dim scan-bandwidth cut, the same
    * lever as SQ/PQ/PCA but with ZERO model state — no training, no
    * codebooks, no rotation to persist or version) and the top
    * k·rerank candidates re-score exactly on the full vectors.
    * Same broadcast-queries × corpus stream as [[bruteForceTopK]];
    * the rerank join touches candidate ids only. Fully deterministic
    * (exact arithmetic + id tie-breaks), so unlike LSH/IVF this
    * approximate tier is oracle-checkable end to end. Sits beside
    * [[graft.operators.Pca.pcaTopK]]: PCA adapts to the spectrum
    * but carries a trained model; matryoshka is the operationally
    * free variant when the encoder was trained for it.
    */
  def matryoshkaTopK(embeddings: DataFrame, queryMod: Int = 100,
                     k: Int = 10, prefixDims: Int = 32,
                     rerank: Int = 16): DataFrame = {
    val corpus = embeddings.select(col("vec_id").as("neighbor_id"),
      col("embedding"))
    val queries = embeddings.filter(col("vec_id") % queryMod === 0)
    val pq = broadcast(queries.select(col("vec_id").as("query_id"),
      slice(col("embedding"), 1, prefixDims).as("pq_emb")))
    // stage-1 cut on the 1e-6-ROUNDED prefix cosine (the bm25TopK
    // stage-1 discipline): the candidate SET is a discrete output,
    // and a raw-float ordering at the rank k·rerank boundary could
    // trade a candidate on last-ulp cross-engine noise — rounding
    // snaps boundary ties to the id tie-break identically in both
    // engines. The exact rerank below re-scores on raw doubles.
    val wApprox = Window.partitionBy("query_id")
      .orderBy(round(col("cosine"), 6).desc, col("neighbor_id"))
    val approx = corpus
      .withColumn("p_emb", slice(col("embedding"), 1, prefixDims))
      .crossJoin(pq)
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.cosineSim(col("pq_emb"), col("p_emb")).as("cosine"))
      .withColumn("rn", row_number().over(wApprox))
      .filter(col("rn") <= k * rerank).drop("rn")
    val exact = broadcast(approx.select("query_id", "neighbor_id"))
      .join(corpus.select(col("neighbor_id"),
        col("embedding").as("n_emb")), Seq("neighbor_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"))), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        gf.cosineSim(col("q_emb"), col("n_emb")).as("cosine"))
    topKPerQuery(exact, k)
  }

  /** Hubness diagnostic over the exact kNN graph of a sampled slice
    * — the classic high-dimensional failure mode where a few "hub"
    * vectors appear in everyone's top-k while antihubs are never
    * retrieved, silently skewing every downstream ANN consumer
    * (SemDeDup groups, kNN labels, rerank pools). Per sampled
    * vector: `in_degree` (how many other sample members list it in
    * their top-k; k·|sample| total mass, so a flat corpus sits near
    * k) and `reciprocal` (how many of its own top-k list it back —
    * low reciprocity is the hubness smell even before the degree
    * tail grows).
    *
    * Runs on the `vec_id % sampleMod` slice, the
    * [[trainSample]]/[[pairDistanceHistogram]] posture: the
    * diagnostic needs a distribution, not the corpus, so cost is
    * capped at |sample|² cosines regardless of corpus size. Exact
    * ranks + id tie-breaks → fully deterministic, oracle-checkable.
    */
  def hubness(embeddings: DataFrame, sampleMod: Int = 5, k: Int = 10): DataFrame = {
    val s = embeddings.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id"), col("embedding"))
    // three consumers (in-degree, both reciprocity sides) re-derive
    // the |sample|² brute-force pass — MEASURED faster than pinning
    // it (r18 optimization round: localCheckpoint(true) here read
    // 0.79 s vs 0.73 s min-of-3; the redundant cosine work runs
    // inside ONE wide job across all cores, while the checkpoint
    // adds an action + materialization the sample-sized key never
    // amortizes at bench SF; revisit at cluster scale where the
    // sample itself is large)
    val topk = bruteForceTopK(s, s, k)
      .select(col("query_id"), col("neighbor_id"))
    val inDeg = topk.groupBy(col("neighbor_id").as("vec_id"))
      .agg(count(lit(1)).as("in_degree"))
    val recip = topk.as("a")
      .join(topk.as("b"),
        col("a.query_id") === col("b.neighbor_id") &&
          col("a.neighbor_id") === col("b.query_id"))
      .select(col("a.query_id").as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("reciprocal"))
    s.select("vec_id")
      .join(inDeg, Seq("vec_id"), "left")
      .join(recip, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("in_degree"), lit(0L)).as("in_degree"),
        coalesce(col("reciprocal"), lit(0L)).as("reciprocal"))
  }

  def pairDistanceHistogram(embeddings: DataFrame, sampleMod: Int = 10,
                            bins: Int = 20): DataFrame = {
    val s = embeddings.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id"), col("embedding"))
    val hist = s.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      .crossJoin(broadcast(
        s.select(col("vec_id").as("id_b"), col("embedding").as("eb"))))
      .filter(col("id_a") < col("id_b"))
      .select(floor(gf.cosineSim(col("ea"), col("eb")) * bins)
        .cast("long").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n_pairs"))
    hist.crossJoin(broadcast(hist.agg(sum("n_pairs").as("total"))))
      .select(
        round(col("bin").cast("double") / bins, 6).as("bin_lo"),
        col("n_pairs"),
        round(col("n_pairs").cast("double") / col("total").cast("double"), 6)
          .as("share"))
  }
}
