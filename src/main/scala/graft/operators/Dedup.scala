package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.gf

/** Deduplication operators for a documents table — exact and
  * near-duplicate (MinHash+LSH, SimHash, character-n-gram Jaccard,
  * embedding cosine), the core hygiene pass of an LLM training-data
  * pipeline (SURVEY.md §2.C).
  *
  * Scale design: nothing here is O(n²). Candidate generation is
  * always locality-sensitive banding — a hash-partitioned equi-join
  * on band keys — and bucket sizes are capped (`maxBucket`) so one
  * degenerate bucket (e.g. the empty document) can't quadratically
  * blow up a partition. Verification (true Jaccard / Hamming /
  * cosine) runs only on candidate pairs.
  */
object Dedup {

  /** Exact dedup on canonical text: one survivor (min id) per
    * distinct normalized document. */
  def exact(docs: DataFrame): DataFrame =
    docs
      .groupBy(TextAnalysis.canonical(col("text")).as("norm"))
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")

  /** Apply exact dedup: the surviving documents themselves (metadata
    * projection) — a semi-join of the corpus against the keeper set,
    * i.e. what actually ships to training after the dedup decision.
    */
  def exactApply(docs: DataFrame): DataFrame =
    docs.join(exact(docs).select("doc_id"), Seq("doc_id"), "left_semi")
      .select("doc_id", "lang", "source", "n_chars")

  /** Token-budget impact of exact dedup, per source — the planning
    * metric between the dedup diagnostics and `docs_token_budget`:
    * how many DOCS each source loses to duplicates vs how many
    * TOKENS (duplicates skew long — mirrored boilerplate — so the
    * token rate routinely exceeds the doc rate, and the token rate
    * is what moves a training budget). One stats scan + the exact
    * keeper set as a left join on 8-byte ids; output is O(|sources|).
    */
  def tokenInflation(docs: DataFrame): DataFrame = {
    val toks = TextAnalysis.stats(docs).select(col("doc_id"), col("n_tokens"))
    val keepers = exact(docs).select(col("doc_id"), lit(true).as("keep"))
    val dupToks = sum(when(col("keep").isNull, col("n_tokens")).otherwise(0L))
    docs.select("doc_id", "source")
      .join(toks, Seq("doc_id"))
      .join(keepers, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("keep").isNull, 1L).otherwise(0L)).as("n_dup_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        dupToks.as("n_dup_tokens"),
        when(sum(col("n_tokens")) === 0, lit(null).cast("double"))
          .otherwise(round(dupToks / sum(col("n_tokens")).cast("double"), 6))
          .as("dup_token_rate"))
  }

  /** Duplicate-group report: only groups with more than one copy. */
  def exactReport(docs: DataFrame): DataFrame =
    docs
      .groupBy(TextAnalysis.canonical(col("text")).as("norm"))
      .agg(
        count(lit(1)).as("n_copies"),
        min("doc_id").as("min_doc_id"),
        max("doc_id").as("max_doc_id"))
      .filter(col("n_copies") > 1)
      .select(md5(col("norm")).as("group_md5"), col("n_copies"),
        col("min_doc_id"), col("max_doc_id"))

  /** doc_id + distinct k-token shingle hash set — fused single-pass
    * kernel (canonicalize+tokenize+shingle, no regexp). Callers
    * outside this object take the sets from [[blockingTrunk]]. */
  private[graft] def shingleSets(docs: DataFrame, k: Int): DataFrame =
    docs.select(
      col("doc_id"),
      array_distinct(gf.tokenShingleHashes(col("text"), k)).as("shingles"))

  /** Candidate pairs from any bucketed relation: rows sharing a
    * bucket key meet in one shuffle group; buckets are capped
    * (deterministic subset, documented loss) so a degenerate bucket
    * can't explode quadratically.
    */
  private def candidatePairs(bucketed: DataFrame, bucketCols: Seq[String],
                             idCol: String, maxBucket: Int): DataFrame =
    bucketed
      .groupBy(bucketCols.map(col): _*)
      .agg(collect_set(col(idCol)).as("ids"))
      .filter(size(col("ids")) > 1)
      .select(slice(sort_array(col("ids")), 1, maxBucket).as("ids"))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .distinct()

  /** Attach a per-id payload column to both sides of a pair list
    * (as `<payload>_a` / `<payload>_b`). */
  private def joinPairPayload(pairs: DataFrame, payload: DataFrame,
                              idCol: String, payloadCol: String): DataFrame =
    pairs
      .join(payload.select(col(idCol).as("id_a"),
        col(payloadCol).as(s"${payloadCol}_a")), "id_a")
      .join(payload.select(col(idCol).as("id_b"),
        col(payloadCol).as(s"${payloadCol}_b")), "id_b")

  /** Candidate pairs from LSH banding over a signature array column:
    * rows sharing any band hash meet in one shuffle bucket.
    */
  private def bandedKeys(sigs: DataFrame, idCol: String, sigCol: String,
                         bands: Int): DataFrame = {
    // the band key is the signature SLICE itself, not a hash of it
    // (r10): bucket membership is slice EQUALITY either way, but the
    // raw slice removes murmur from the semantics — no cross-bucket
    // hash collisions, and the banding becomes SQL-replayable (the
    // minhash oracle). Cost: the exchange carries rows-per-band
    // longs instead of one int per key — noise next to the payload.
    val rowsPerBand = ceil(size(col(sigCol)) / lit(bands)).cast("int")
    sigs.select(
      col(idCol),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col(sigCol), b * rowsPerBand + 1, rowsPerBand))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_key")
  }

  private def bandedPairs(sigs: DataFrame, idCol: String, sigCol: String,
                          bands: Int, maxBucket: Int): DataFrame =
    candidatePairs(bandedKeys(sigs, idCol, sigCol, bands),
      Seq("band", "band_key"), idCol, maxBucket)

  /** LSH band-occupancy diagnostic — the tuning readout that decides
    * whether a (numPerms, bands) choice is even sane BEFORE paying
    * for a full near-dup run: per band, the bucket-size histogram of
    * the banded signature keys and the candidate-pair volume each
    * size class implies (`n_buckets · size·(size−1)/2`). A fat tail
    * here means the band hash is collapsing (too few rows per band,
    * or degenerate shingles) and the candidate join will blow past
    * `maxBucket` caps; all-singleton bands mean the banding is too
    * fine to recall anything. Costs two hash aggregates over the
    * banded keys — the cheap PREFIX of the dedup pipeline, nothing
    * pairwise is materialized. Output is O(bands · distinct sizes).
    */
  def lshBandStats(shingles: DataFrame, numPerms: Int = 64, bands: Int = 16,
                   seed: Long = 42L): DataFrame = {
    val sigs = shingles.select(col("doc_id"),
      gf.minhashSignature(col("shingles"), numPerms, seed).as("sig"))
    bandedKeys(sigs, "doc_id", "sig", bands)
      .groupBy("band", "band_key")
      .agg(count(lit(1)).as("bucket_size"))
      .groupBy("band", "bucket_size")
      .agg(count(lit(1)).as("n_buckets"))
      .withColumn("implied_pairs",
        (col("bucket_size") * (col("bucket_size") - lit(1L)) / lit(2))
          .cast("long") * col("n_buckets"))
  }

  /** MinHash + LSH near-dup pairs with exact-Jaccard verification:
    * (id_a, id_b, jaccard) for all pairs with Jaccard ≥ tau among
    * LSH candidates, over a shingle-set relation (a
    * [[BlockingTrunk]]'s sets — the corpus-sized trunk a pipeline
    * persists per snapshot).
    */
  def minhashPairs(shingles: DataFrame, numPerms: Int = 64,
                   bands: Int = 16, tau: Double = 0.5, seed: Long = 42L,
                   maxBucket: Int = 64): DataFrame = {
    val sigs = shingles.select(col("doc_id"),
      gf.minhashSignature(col("shingles"), numPerms, seed).as("sig"))
    val pairs = bandedPairs(sigs, "doc_id", "sig", bands, maxBucket)
    verifiedJaccard(pairs, shingles, tau)
  }

  /** Exact-Jaccard verification of candidate pairs against shingle
    * sets. */
  private def verifiedJaccard(pairs: DataFrame, sets: DataFrame, tau: Double): DataFrame =
    joinPairPayload(pairs, sets, "doc_id", "shingles")
      .withColumn("jaccard",
        size(array_intersect(col("shingles_a"), col("shingles_b"))) /
          greatest(size(array_union(col("shingles_a"), col("shingles_b"))), lit(1)))
      .filter(col("jaccard") >= tau)
      .select("id_a", "id_b", "jaccard")

  /** Per-document near-dup summary from a pair list: always one row
    * per document (robust output shape regardless of how many dupes
    * exist), with `keep` = false iff a more-senior (smaller-id)
    * duplicate exists.
    */
  def pairSummary(docs: DataFrame, pairs: DataFrame, scoreCol: String): DataFrame = {
    // single consumption of `pairs`: explode each pair into both of
    // its sides and aggregate once — referencing the pair relation
    // more than once would re-evaluate the whole LSH candidate
    // pipeline per reference (nothing upstream is cached)
    val sides = pairs.select(explode(array(
        struct(col("id_a").as("doc_id"),
          col(scoreCol).cast("double").as("score"), lit(false).as("is_junior")),
        struct(col("id_b").as("doc_id"),
          col(scoreCol).cast("double").as("score"), lit(true).as("is_junior"))))
        .as("s"))
      .select(col("s.doc_id"), col("s.score"), col("s.is_junior"))
    val perDoc = sides.groupBy("doc_id").agg(
      count(lit(1)).as("n_dupes"),
      max("score").as("max_score"),
      max("is_junior").as("dominated"))
    docs.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_dupes"), lit(0L)).as("n_dupes"),
        coalesce(col("max_score"), lit(0.0)).as("max_score"),
        coalesce(!col("dominated"), lit(true)).as("keep"))
  }

  /** Transitive closure of a near-dup pair list: connected
    * components by iterative min-label propagation WITH pointer
    * doubling. Each iteration is (a) a neighbor-min step — one join
    * + one aggregate over the (small) pair list, spreading the
    * component minimum one HOP — and (b) a doubling step — a
    * self-join of the label table following each label through its
    * own label (`group_id` is always a member's doc_id, so the
    * lookup is total), spreading it one POINTER-JUMP. Hop + jump
    * halves the remaining propagation distance, so convergence is
    * O(log diameter) rounds, not O(diameter): a 150-doc copy CHAIN
    * (the adversarial boilerplate shape) closes in ~8 rounds where
    * pure neighbor-min needs 150. Doubling starts at ROUND 2 (r18;
    * the original design deferred it to round 4 because an
    * UNCONDITIONAL jump measured ~0.5 s/query at sf0.1 — but round 1
    * is the only genuinely free skip, since labels are still
    * identity there and label(label) is a no-op): from round 2 the
    * jump rides the SAME iteration as the hop, so the common
    * diameter-3 component closes one checkpoint+convergence-check
    * job pair sooner, and that per-round latency — not the
    * self-join's compute — is what bills at bench scale. The cost
    * trade vs the old adaptive-after-3 shape: diameter-≤3
    * components now pay the label self-join in their rounds 2+
    * (small — the label table, not the corpus), buying one fewer
    * round; the r18 shared-prime measurement took the trade. The
    * loop exits as soon as an iteration changes no
    * label; the convergence count is a cheap scan of the already-
    * materialized iteration result, far cheaper than the shuffles it
    * skips.
    * Output: (doc_id, group_id) where group_id is the smallest
    * member id — `keep` means doc_id == group_id (one survivor per
    * duplicate class, including transitive duplicates that never
    * paired directly).
    *
    * `maxIter` is a runaway guard, not a tuning knob: with doubling,
    * 64 rounds covers components of diameter ~2^64 — unreachable —
    * so the guard trips only on a genuinely broken pair source, and
    * that exit LOUDLY warns rather than silently returning a partial
    * closure (the consumers of this operator — SemDeDup clusters,
    * blob copy chains — are specifically about chains, and their
    * oracles compute the full closure).
    */
  def dedupGroups(docs: DataFrame, pairs: DataFrame, maxIter: Int = 64): DataFrame = {
    // materialize the (small) edge list once: it is joined every
    // iteration, and its lineage is the whole LSH candidate pipeline
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .unionByName(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .localCheckpoint(true)
    var labels = docs.select(col("doc_id"), col("doc_id").as("group_id"))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIter) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("dst"), col("group_id").as("n_label")), "dst")
        .groupBy(col("src").as("doc_id"))
        .agg(min("n_label").as("neighbor_label"))
      val stepped = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("group_id"), coalesce(col("neighbor_label"), col("group_id")))
            .as("group_id"),
          (col("neighbor_label") < col("group_id")).as("changed"))
      // adaptive pointer doubling from round 2 (r18; was round 4):
      // label(v) := min(label(v), label(label(v))). Inner join is
      // total — every group_id IS some doc's id. Round 1 stays plain
      // (labels are still identity — label(label) is a no-op there);
      // from round 2 the doubling halves remaining chain length per
      // round, so the common diameter-3 group (A→B→C variant chains)
      // closes in 2 propagation rounds + 1 confirm instead of 3 + 1
      // — one fewer checkpoint+convergence-check job pair, the
      // round-latency that actually bills at bench scale.
      // localCheckpoint truncates lineage: each iteration otherwise
      // doubles the plan.
      val next =
        if (iter < 1) stepped.localCheckpoint(true)
        else stepped
          .join(stepped.select(col("doc_id").as("group_id"),
            col("group_id").as("parent_label")), Seq("group_id"))
          .select(col("doc_id"),
            least(col("group_id"), col("parent_label")).as("group_id"),
            (col("changed") || (col("parent_label") < col("group_id")))
              .as("changed"))
          .localCheckpoint(true)
      converged = next.filter(col("changed")).isEmpty
      labels = next.drop("changed")
      iter += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"dedupGroups exited via maxIter=$maxIter without convergence — " +
          "labels are NOT a full transitive closure; check the pair source")
    labels.withColumn("keep", col("doc_id") === col("group_id"))
  }

  /** MinHash+LSH dedup, per-document summary form. */
  def minhashSummary(docs: DataFrame, shingles: DataFrame, numPerms: Int = 64,
                     bands: Int = 16, tau: Double = 0.5,
                     seed: Long = 42L): DataFrame =
    pairSummary(docs, minhashPairs(shingles, numPerms, bands, tau, seed),
      "jaccard")

  /** Near-exact dedup on the FULL minhash signature: documents whose
    * 64 permuted minima ALL collide have (w.h.p.) near-identical
    * shingle sets — a much tighter test than any single band, tuned
    * for the "same doc, trivial perturbation" tier between exact
    * dedup and banded LSH. The batch form keeps the min-id survivor
    * per signature with its copy count; the STREAMING twin is
    * `docs.withColumn("sig", …).dropDuplicates("sig")` under a
    * watermark (state = one row per distinct signature — fingerprint
    * bytes, never text), which keeps the first ARRIVAL instead of
    * the min id: the deterministic batch fold here is the oracle
    * form, the arrival-order stream is the deployment form
    * (StreamingSpec pins that both drop the same duplicates).
    */
  /** The full-signature column both [[signatureDedup]] forms key
    * on — ONE expression builder, so the batch fold and the
    * streaming dropDuplicates can never silently diverge on
    * (shingleSize, numPerms, seed). */
  private def signatureCol(shingleSize: Int, numPerms: Int,
                           seed: Long): org.apache.spark.sql.Column =
    gf.minhashSignature(
      array_distinct(gf.tokenShingleHashes(col("text"), shingleSize)),
      numPerms, seed)

  def signatureDedup(docs: DataFrame, shingleSize: Int = 3,
                     numPerms: Int = 64, seed: Long = 42L): DataFrame =
    docs.select(col("doc_id"),
      signatureCol(shingleSize, numPerms, seed).as("sig"))
      .groupBy("sig")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .select("doc_id", "n_copies")

  /** The streaming form of [[signatureDedup]]: first arrival per
    * signature survives. Works identically on a batch frame (where
    * "first" is partition order — use the batch fold when
    * determinism matters). Same knobs, same defaults, same shared
    * signature expression as the batch twin. */
  def signatureDedupStream(docs: DataFrame, shingleSize: Int = 3,
                           numPerms: Int = 64, seed: Long = 42L): DataFrame =
    docs.select(col("doc_id"), col("text"),
      signatureCol(shingleSize, numPerms, seed).as("sig"))
      .dropDuplicates("sig")
      .select("doc_id")

  /** EXACT set-similarity self-join via PREFIX FILTERING (the
    * AllPairs/PPJoin candidate principle) — the lossless complement
    * to the LSH family: returns EVERY pair with shingle-Jaccard
    * ≥ τ, not a probabilistic subset, while the candidate join
    * still never goes all-pairs. The pruning argument, symmetric
    * prefix form: order all shingles globally by (df ASC, value);
    * give each doc the prefix of its first |x| − ⌈τ·|x|⌉ + 1
    * shingles in that order. For any pair with J ≥ τ, let s* be the
    * EARLIEST shared shingle: every A-shingle before s* is
    * unshared, so s*'s rank in A is ≤ |A| − |A∩B| + 1, and
    * J ≥ τ ⇒ |A∩B| ≥ ⌈τ·|A|⌉ ⇒ that rank lands inside A's prefix —
    * symmetrically for B — so s* sits in BOTH prefixes and the pair
    * meets in the prefix equi-join. Rarest-first ordering is what
    * makes prefixes cheap: prefixes prefer low-df shingles, so hot
    * shingles almost never generate candidates. Cost degenerates to
    * the output size only when the output itself is quadratic
    * (everything genuinely similar) — a lossless join can do no
    * better. Everything is discrete (integer dfs, hash values,
    * integer prefix lengths), so the candidate rule is bit-stable;
    * the oracle doesn't even need it — it checks the exhaustive
    * definition directly.
    */
  def prefixJaccardPairs(shingles: DataFrame,
                         tau: Double = 0.5): DataFrame =
    verifiedJaccard(prefixJaccardCandidates(shingles, tau), shingles, tau)

  /** The candidate relation under [[prefixJaccardPairs]] — exposed
    * at package scope so the CONTRACT can be pinned as candidate
    * VOLUME (DedupSpec asserts the sf0.1 count stays under the
    * suffix-filtered bound) rather than as host-sensitive wall
    * clock: the key's cost driver is exactly this pair count, and a
    * filter regression shows up here before it shows up in seconds.
    */
  private[graft] def prefixJaccardCandidates(sets: DataFrame,
                                             tau: Double): DataFrame = {
    // sz rides the array (computed before the explode) instead of a
    // second window over the doc partition
    val ex = sets.select(col("doc_id"),
      size(col("shingles")).as("sz"), explode(col("shingles")).as("shv"))
    val dfRel = ex.groupBy("shv").agg(count(lit(1)).as("df"))
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("df").asc, col("shv").asc)
    // pinned: the df-join + rank window chain feeds BOTH sides of
    // the candidate self-join — without the pin the whole chain
    // (explode, df aggregate, join, window) evaluates twice
    val prefix = ex.join(dfRel, Seq("shv"))
      .withColumn("rnk", row_number().over(wDoc))
      .filter(col("rnk") <=
        col("sz") - ceil(lit(tau) * col("sz")) + lit(1))
      .select("doc_id", "shv", "rnk", "sz")
      .localCheckpoint(true)
    // Two more lossless cuts ride the same join:
    //  - LENGTH filter (per row): J ≥ τ ⇒ |A∩B| ≥ τ·max(|A|,|B|)
    //    and |A∩B| ≤ min(|A|,|B|), so min ≥ τ·max — size-mismatched
    //    pairs never generate candidate rows at all;
    //  - SUFFIX filter (PPJoin, at pair grain): J ≥ τ ⇒ |A∩B| ≥
    //    ⌈τ/(1+τ)·(|A|+|B|)⌉. Aggregate the pair's prefix matches:
    //    c = COUNT of shingles shared by both prefixes, r̄_A / r̄_B =
    //    the LAST such match's ranks. Ranks follow one global
    //    (df, shv) order, so any shared shingle ordered before the
    //    last match would sit inside both prefixes and be counted in
    //    c; every uncounted shared shingle therefore ranks after r̄
    //    on BOTH sides, and |A∩B| ≤ c + min(|A|−r̄_A, |B|−r̄_B) —
    //    the unmatched-suffix bound. Strictly tighter than the
    //    classic first-match positional bound 1 + min(|A|−i, |B|−j)
    //    whenever c ≥ 2 (equal at c = 1), and it replaces the old
    //    per-row filter + distinct() with ONE aggregate on the same
    //    (id_a, id_b) exchange, so the verify join sees fewer pairs
    //    for free. Losslessness: the bound overestimates |A∩B|,
    //    never under — a qualifying pair cannot be cut. NOTE the
    //    per-row positional filter must NOT run underneath this
    //    aggregate: dropping an intermediate matched row would
    //    shrink c while leaving earlier-ordered shared shingles
    //    outside the suffix term, invalidating the bound.
    val overlapMin =
      ceil(lit(tau / (1 + tau)) * (col("sz_a") + col("sz_b")))
    val cand = prefix.select(col("doc_id").as("id_a"), col("shv"),
        col("rnk").as("rnk_a"), col("sz").as("sz_a"))
      .join(prefix.select(col("doc_id").as("id_b"), col("shv"),
        col("rnk").as("rnk_b"), col("sz").as("sz_b")), Seq("shv"))
      .filter(col("id_a") < col("id_b") &&
        lit(tau) * col("sz_a") <= col("sz_b") &&
        lit(tau) * col("sz_b") <= col("sz_a"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("c"),
        max(col("rnk_a")).as("mx_a"), max(col("rnk_b")).as("mx_b"),
        first(col("sz_a")).as("sz_a"), first(col("sz_b")).as("sz_b"))
      .filter(col("c") + least(col("sz_a") - col("mx_a"),
        col("sz_b") - col("mx_b")) >= overlapMin)
      .select("id_a", "id_b")
    cand
  }

  /** SimHash near-dup pairs: 64-bit signatures, banded into
    * `bands` bit-groups for candidates, verified with exact Hamming
    * distance ≤ maxHamming.
    */
  def simhashPairs(docs: DataFrame, bands: Int = 4, maxHamming: Int = 8,
                   maxBucket: Int = 64): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    val bits = 64 / bands
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    // pinned ONCE (r18 optimization round): the banding explode and
    // both pair-payload sides otherwise each re-run the canonicalize
    // + tokenize + simhash corpus pass; the pinned relation is two
    // longs per doc
    val sigs = docs.select(col("doc_id"),
      gf.simhash64(TextAnalysis.tokens(TextAnalysis.canonical(col("text")))).as("sig"))
      .localCheckpoint(true)
    // (sig >> n) & mask == (sig >>> n) & mask once masked, so signed
    // shiftright is fine here
    val banded = sigs.select(col("doc_id"), col("sig"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> shiftright(sig, b * $bits) & ${mask}L)")))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "band_bits")
    val pairs = candidatePairs(banded, Seq("band", "band_bits"), "doc_id", maxBucket)
    joinPairPayload(pairs, sigs, "doc_id", "sig")
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** SimHash dedup, per-document summary (score = 64 - hamming so
    * "bigger is more similar" like the other summaries). */
  def simhashSummary(docs: DataFrame, bands: Int = 4, maxHamming: Int = 8): DataFrame =
    pairSummary(docs,
      simhashPairs(docs, bands, maxHamming)
        .withColumn("sim", lit(64) - col("hamming")),
      "sim")

  /** Character-n-gram Jaccard near-dup: same LSH skeleton as MinHash
    * but shingling over characters, catching word-reordering dupes
    * that token shingles miss.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int = 5, numPerms: Int = 64,
                        bands: Int = 16, tau: Double = 0.5, seed: Long = 7L,
                        maxBucket: Int = 64): DataFrame = {
    // pinned ONCE (r18 optimization round): three consumers — the
    // signature pass and both verify hydration sides — otherwise
    // each re-run the canonicalize + char-shingle corpus pass (the
    // incrementalNearDupPairs lesson, measured −19% there)
    val grams = docs.select(col("doc_id"),
      array_distinct(gf.charShingleHashes(
        TextAnalysis.canonical(col("text")), n)).as("shingles"))
      .localCheckpoint(true)
    val sigs = grams.select(col("doc_id"),
      gf.minhashSignature(col("shingles"), numPerms, seed).as("sig"))
    verifiedJaccard(bandedPairs(sigs, "doc_id", "sig", bands, maxBucket), grams, tau)
  }

  /** Character-level near-dup summary. Defaults are tuned for true
    * near-duplicates (τ=0.7, 8 bands × 8 rows): with wide bands the
    * per-band collision probability is J^8, so moderately-similar
    * pairs — which a low-τ char-gram config would flood the verify
    * join with — rarely become candidates at all.
    */
  def ngramJaccardSummary(docs: DataFrame, n: Int = 5, tau: Double = 0.7,
                          bands: Int = 8): DataFrame =
    pairSummary(docs, ngramJaccardPairs(docs, n = n, tau = tau, bands = bands), "jaccard")

  /** Embedding-cosine near-dup: multi-table random-hyperplane LSH
    * for candidates, exact cosine verification.
    */
  def embeddingPairs(embeddings: DataFrame, tau: Double = 0.95,
                     tables: Int = 8, planesPerTable: Int = 8,
                     seed: Long = 11L, maxBucket: Int = 64): DataFrame = {
    val dim = 64
    val vecs = embeddings.select(col("vec_id"), col("embedding"))
    val bucketed = (0 until tables).map { t =>
      val planes = gf.randomPlanes(planesPerTable, dim, seed + t)
      vecs.select(col("vec_id"), lit(t).as("table"),
        gf.hyperplaneSig(col("embedding"), planes).as("sig"))
    }.reduce(_ unionByName _)
    val pairs = candidatePairs(bucketed, Seq("table", "sig"), "vec_id", maxBucket)
    joinPairPayload(pairs, vecs, "vec_id", "embedding")
      .withColumn("cosine", gf.cosineSim(col("embedding_a"), col("embedding_b")))
      .filter(col("cosine") >= tau)
      .select("id_a", "id_b", "cosine")
  }

  def embeddingSummary(embeddings: DataFrame, tau: Double = 0.95): DataFrame =
    pairSummary(embeddings.select(col("vec_id").as("doc_id"), col("embedding")),
      embeddingPairs(embeddings, tau), "cosine")

  /** EXACT embedding near-dup pairs: all (id_a < id_b) vector pairs
    * with cosine ≥ tau, no candidate generation — the brute-force
    * exactness anchor for [[embeddingPairs]]'s LSH path, same role
    * the deterministic blocked family plays for MinHash. O(n²)
    * cosines: the small-corpus / per-shard baseline, not the 100 TB
    * plan (there, [[embeddingPairs]] generates candidates and this
    * pair shape verifies a sample). The cosine math replays exactly
    * in DuckDB (`list_cosine_similarity` over DOUBLE[] — the
    * `ann_range_search` precedent), so downstream compositions stay
    * hash-checked.
    */
  def embeddingPairsExact(embeddings: DataFrame, tau: Double = 0.95): DataFrame = {
    val a = embeddings.select(col("vec_id").as("id_a"),
      col("embedding").as("emb_a"))
    val b = embeddings.select(col("vec_id").as("id_b"),
      col("embedding").as("emb_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", gf.cosineSim(col("emb_a"), col("emb_b")))
      .filter(col("cosine") >= tau)
      .select("id_a", "id_b", "cosine")
  }

  /** Quality-aware survivor selection over duplicate GROUPS — the
    * production selection policy beside the families' default
    * min-id rule: within each [[dedupGroups]] component, keep the
    * member with the MOST tokens (the most complete copy — the
    * C4/RefinedWeb "keep the longest" convention), ties to the
    * smaller doc_id. Both rank keys are integers, so the cut is
    * discrete and bit-stable. One window over the group-labeled
    * relation; the closure itself is the shared pointer-doubling
    * propagation, so this adds exactly one exchange (group_id) to
    * the groups plan.
    */
  def keepBest(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val labeled = dedupGroups(docs.select(col("doc_id")), pairs)
      .drop("keep")
      .join(docs.select(col("doc_id"),
        size(TextAnalysis.tokens(col("text"))).cast("long")
          .as("n_tokens")), Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group_id")
      .orderBy(col("n_tokens").desc, col("doc_id"))
    labeled
      .withColumn("keep", row_number().over(w) === 1)
      .select("doc_id", "group_id", "n_tokens", "keep")
  }

  /** Incremental embedding near-dup — the nightly-ingest member of
    * the SemDeDup family, completing incremental parity across all
    * modalities ([[incrementalExact]]/[[incrementalNearDupPairs]]
    * for text, chunk-hash and perceptual twins for blobs): NEW
    * vectors compare against the stored corpus at cosine ≥ tau; one
    * row per new vector with its match count, best match (ordered
    * by the 1e-6-ROUNDED cosine then corpus_id — the discrete cut
    * is last-ulp-proof cross-engine, the bm25/matryoshka
    * convention), and keep = no semantic dup in the corpus. This is
    * the EXACT tier: the new batch broadcasts and the corpus
    * streams ONCE with no shuffle — the right audit anchor for a
    * day's ingest. The scale path probes a persisted hyperplane
    * signature store with [[embeddingPairs]]'s banded buckets
    * (the [[Multimodal.phashIncremental]] store shape); its recall
    * is anchored to this tier the same way the groups family pins
    * LSH against exact.
    */
  def embeddingIncremental(newVecs: DataFrame, corpus: DataFrame,
                           tau: Double = 0.9): DataFrame = {
    val n = newVecs.select(col("vec_id"), col("embedding").as("emb_n"))
    val c = corpus.select(col("vec_id").as("corpus_id"),
      col("embedding").as("emb_c"))
    val pairs = c.crossJoin(broadcast(n))
      .withColumn("cosine", gf.cosineSim(col("emb_n"), col("emb_c")))
      .filter(col("cosine") >= tau)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id")
      .orderBy(round(col("cosine"), 6).desc, col("corpus_id"))
    val best = pairs.withColumn("rn", row_number().over(w))
      .groupBy("vec_id").agg(
        count(lit(1)).as("n_matches"),
        max(when(col("rn") === 1, col("corpus_id"))).as("match_id"),
        max(when(col("rn") === 1, col("cosine"))).as("best_cosine"))
    n.select("vec_id").join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        coalesce(col("match_id"), lit(-1L)).as("match_id"),
        coalesce(col("best_cosine"), lit(-1.0)).as("best_cosine"),
        (coalesce(col("n_matches"), lit(0L)) === 0).as("keep"))
  }

  /** SEMANTIC decontamination — the embedding-plane twin of
    * [[TextAnalysis.decontaminate]]: the benchmark slice's
    * embeddings broadcast against the corpus, and any corpus
    * document within cosine ≥ `tau` of ANY benchmark item flags as
    * contaminated. The n-gram tier structurally misses a
    * PARAPHRASED benchmark item (token-disjoint rewrites share zero
    * 3-grams); this tier catches it — and `DedupSpec` proves the
    * separation on a crafted token-disjoint paraphrase the n-gram
    * tier provably passes. One row per corpus vector with its match
    * count, best benchmark match (1e-6-rounded cosine then
    * bench_id — the discrete-cut convention), and the flag.
    *
    * 100 TB shape: the benchmark is the SMALL side by contract
    * (eval sets are thousands of items) — it broadcasts, the corpus
    * streams ONCE with no shuffle, exactly
    * [[embeddingIncremental]]'s plan with the probe side flipped.
    * A benchmark too large to broadcast drops into the banded
    * hyperplane-LSH candidate path ([[embeddingPairs]]) unchanged.
    */
  def semanticDecontaminate(embeddings: DataFrame, benchMod: Int = 97,
                            tau: Double = 0.4,
                            corpusIds: Option[DataFrame] = None): DataFrame = {
    val bench = embeddings.filter(col("vec_id") % benchMod === 0)
      .select(col("vec_id").as("bench_id"), col("embedding").as("emb_b"))
    // corpusIds restricts the STREAMED side (the incremental shape:
    // only a delta batch probes the static broadcast benchmark — the
    // daily cost is O(delta), history is never re-scored)
    val corpusAll = embeddings.filter(col("vec_id") % benchMod =!= 0)
      .select(col("vec_id"), col("embedding").as("emb_c"))
    val corpus = corpusIds.fold(corpusAll)(ids =>
      corpusAll.join(ids.select("vec_id"), Seq("vec_id"), "left_semi"))
    val pairs = corpus.crossJoin(broadcast(bench))
      .withColumn("cosine", gf.cosineSim(col("emb_b"), col("emb_c")))
      .filter(col("cosine") >= tau)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id")
      .orderBy(round(col("cosine"), 6).desc, col("bench_id"))
    val best = pairs.withColumn("rn", row_number().over(w))
      .groupBy("vec_id").agg(
        count(lit(1)).as("n_bench_matches"),
        max(when(col("rn") === 1, col("bench_id"))).as("bench_id"),
        max(when(col("rn") === 1, col("cosine"))).as("best_cosine"))
    corpus.select("vec_id").join(best, Seq("vec_id"), "left")
      .select(col("vec_id"),
        coalesce(col("n_bench_matches"), lit(0L)).as("n_bench_matches"),
        coalesce(col("bench_id"), lit(-1L)).as("bench_id"),
        coalesce(col("best_cosine"), lit(-1.0)).as("best_cosine"),
        (coalesce(col("n_bench_matches"), lit(0L)) > 0).as("contaminated"))
  }

  /** SemDeDup-style semantic duplicate CLUSTERS: connected
    * components over the embedding near-dup pair relation — "these k
    * documents say the same thing" rather than the pairwise view.
    * Transitive closure matters here more than for text dedup:
    * paraphrase chains (a≈b, b≈c, a̸≈c) are exactly what embedding
    * similarity surfaces, and cluster-then-keep-one (min id, like
    * every dedup family here) is the SemDeDup selection rule.
    * Composes [[embeddingPairsExact]] (oracle anchor) with
    * [[dedupGroups]]'s min-label propagation; the closure code is
    * pair-source-agnostic, and the PRODUCTION pair source is
    * [[embeddingPairs]] (LSH candidates, banded equi-joins) — both
    * forms ship as driver keys (`dedup_embedding_groups` = exact
    * anchor, `dedup_embedding_groups_lsh` = scale path), with pair
    * recall and keep-parity spec'd against each other.
    */
  def embeddingGroups(embeddings: DataFrame, tau: Double = 0.95,
                      pairs: Option[DataFrame] = None): DataFrame =
    dedupGroups(
      embeddings.select(col("vec_id").as("doc_id")),
      pairs.getOrElse(embeddingPairsExact(embeddings, tau)))
      .select(col("doc_id").as("vec_id"), col("group_id"), col("keep"))

  /** Deterministic near-dup pairs: token-n-gram INVERTED-INDEX
    * blocking + exact Jaccard. Unlike the MinHash/SimHash paths there
    * is no randomness anywhere, so the complete output — candidate
    * generation included — is replayable in any engine and
    * oracle-checked end to end (the LSH variants get rows-only
    * checks; this operator is their exactness anchor).
    *
    * Blocking rule: a pair becomes a candidate iff it shares at least
    * `minShared` n-grams whose document frequency is ≤ `maxDf`. Both
    * knobs are scale guards. The DF cap bounds the inverted-index
    * fan-out — an n-gram shared by df documents contributes O(df²)
    * pair slots, so boilerplate grams ("terms of service apply")
    * would otherwise quadratically explode one shuffle bucket;
    * capped, the worst bucket is maxDf², independent of corpus size.
    * The cap is enforced WHILE postings collect, not after: the
    * bounded collector stops growing at maxDf+1 elements, so no
    * aggregation buffer ever holds more than maxDf+1 ids regardless
    * of a gram's true document frequency.
    * The min-shared floor is applied as a HASH AGGREGATE over the
    * exploded pair slots (count per pair), so only pairs with real
    * overlap ever reach the array-payload verification join — on a
    * template-heavy corpus this cuts verified pairs by ~100× (almost
    * every doc pair shares SOME 3-gram; near-dups share many).
    * Verification Jaccard runs on the FULL distinct-gram sets, not
    * the DF-filtered ones, so reported similarity is the true value.
    *
    * Gram identity is the codegen'd 64-bit rolling shingle hash (same
    * kernel as [[minhashPairs]]); the oracle uses the literal gram
    * strings — identical set cardinalities absent a 64-bit collision
    * inside one document's gram set (~|grams|²/2⁶⁴, negligible).
    */
  /** DF-capped inverted-index candidate pairs — the shared blocking
    * of the deterministic verifiers ([[blockedJaccardPairs]],
    * [[blockedContainmentPairs]]).
    *
    * One pass, BOUNDED buffers: postings are collected with
    * [[graft.functions.BoundedCollectSetAgg]] capped at `maxDf + 1`
    * elements, so a boilerplate gram shared by 10⁸ documents costs a
    * 65-entry aggregation buffer, never a 10⁸-entry one (a plain
    * `collect_set` + size filter would materialize the full posting
    * list before discarding it — an executor OOM at scale). A group
    * that reaches the cap has df > maxDf by definition and the
    * `size ≤ maxDf` filter drops it; `size ≥ 2` needs a partner.
    */
  private def blockedCandidates(sets: DataFrame, maxDf: Int,
                                minShared: Int): DataFrame = {
    val inv = sets.select(col("doc_id"), explode(col("shingles")).as("gram"))
    inv.groupBy("gram")
      .agg(graft.functions.BoundedCollectSetAgg
        .boundedCollectSet(col("doc_id"), maxDf + 1).as("ids"))
      .filter(size(col("ids")).between(2, maxDf))
      .select(explode(col("ids")).as("id_a"), col("ids"))
      .select(col("id_a"), explode(col("ids")).as("id_b"))
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_rare_shared"))
      .filter(col("n_rare_shared") >= minShared)
      .select("id_a", "id_b")
  }

  /** The deterministic blocking trunk shared by the whole blocked
    * near-dup family at one parameterization: the distinct
    * token-shingle sets plus the df-capped candidate pair relation
    * over them. Jaccard verification, containment verification and
    * banded edit distance are all cheap per-pair verifies over this
    * SAME trunk — a pipeline (or the driver, which runs each report
    * standalone) should build it once and feed every verifier,
    * instead of re-tokenizing and re-inverting the corpus per
    * report. At cluster scale the trunk is what you'd persist per
    * corpus snapshot (sets are corpus-sized — DISK_ONLY or a table,
    * not executor memory; candidates are pair-count-sized). */
  final case class BlockingTrunk(sets: DataFrame, candidates: DataFrame)

  def blockingTrunk(docs: DataFrame, n: Int = 3, maxDf: Int = 64,
                    minShared: Int = 3): BlockingTrunk = {
    val sets = shingleSets(docs, n)
    BlockingTrunk(sets, candidatesOf(sets, maxDf, minShared))
  }

  /** The candidate half of the trunk from an existing (possibly
    * materialized) shingle-set relation — lets a caller cache the
    * sets and the candidates independently: signature-based
    * consumers (minhash) need only the sets, and must not pay the
    * inverted-index candidate build to get them. */
  def candidatesOf(sets: DataFrame, maxDf: Int = 64,
                   minShared: Int = 3): DataFrame =
    blockedCandidates(sets, maxDf, minShared)

  /** Shingle sets are PER-DOC pure, so a precomputed corpus-wide
    * relation restricted to `docs`' ids is exactly
    * `shingleSets(docs, n)` — a caller holding the shared trunk
    * (e.g. the curation funnel over a survivor subset) threads it in
    * and skips re-shingling; the df caps still compute over the
    * restricted set, so results are identical either way. */
  def blockedJaccardPairs(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
                          maxDf: Int = 64, minShared: Int = 3,
                          shingles: Option[DataFrame] = None): DataFrame = {
    val sets = shingles
      .map(_.join(docs.select("doc_id"), Seq("doc_id"), "left_semi"))
      .getOrElse(shingleSets(docs, n))
    blockedJaccardPairsOf(
      BlockingTrunk(sets, candidatesOf(sets, maxDf, minShared)), tau)
  }

  /** [[blockedJaccardPairs]] over a prebuilt [[BlockingTrunk]]. */
  def blockedJaccardPairsOf(trunk: BlockingTrunk,
                            tau: Double = 0.5): DataFrame =
    verifiedJaccard(trunk.candidates, trunk.sets, tau)

  /** Threshold-tuning histogram over the VERIFIED candidate pairs —
    * what each τ would actually merge, read before committing a
    * dedup threshold: per Jaccard decile bucket, the pair count and
    * the cumulative pairs a threshold at that bucket's floor would
    * merge. The bucket is exact integer arithmetic
    * (`(10·inter) div union` — never floor of a float product,
    * whose representation error can land 7/10 in bucket 6), so the
    * histogram replays bit-for-bit. Costs ONE verify pass over the
    * trunk's candidates (the same join every near-dup query pays)
    * plus an 11-row aggregate; with the shared trunk cached the
    * marginal cost is the tiny aggregate.
    */
  def thresholdHistogram(trunk: BlockingTrunk): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("bucket").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    joinPairPayload(trunk.candidates, trunk.sets, "doc_id", "shingles")
      .select(
        (size(array_intersect(col("shingles_a"), col("shingles_b")))
          .cast("long") * 10).as("i10"),
        greatest(size(array_union(col("shingles_a"), col("shingles_b"))),
          lit(1)).cast("long").as("u"))
      .select(expr("i10 div u").as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("pairs_at_or_above", sum("n_pairs").over(w))
  }

  /** Quality-aware near-dup SUPPRESSION: every document beaten in any
    * [[blockedJaccardPairs]] pair drops — beaten means the partner
    * has the higher quality score (ties → the lower doc_id
    * survives, identical texts score identically so this degenerates
    * to exact dedup's min-id convention). Pairwise and greedy, NOT
    * closure survivorship: in a chain a~b~c with quality a>b>c, b
    * and c both drop even when a≁c — the aggressive end of the
    * near-dup policy spectrum, which is what a training corpus
    * wants (a borderline duplicate of a kept doc has little
    * marginal value). Deterministic end to end → oracle-checked;
    * cost = the blocked pair generation + one |pairs|-row join
    * against the quality projection.
    */
  def nearDupSuppress(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
                      maxDf: Int = 64, minShared: Int = 3,
                      scored: Option[DataFrame] = None,
                      pairs: Option[DataFrame] = None,
                      shingles: Option[DataFrame] = None): DataFrame = {
    // scores are per-doc pure, so a caller composing several gates
    // can thread one precomputed stats relation through all of them
    // (and likewise a precomputed pair list or shingle relation —
    // blocking is the expensive half of this operator)
    val q = scored.getOrElse(TextAnalysis.stats(docs))
      .select(col("doc_id"), col("quality_score"))
    val losers = pairs
      .getOrElse(blockedJaccardPairs(docs, n, tau, maxDf, minShared,
        shingles))
      .join(q.select(col("doc_id").as("id_a"), col("quality_score").as("q_a")),
        Seq("id_a"))
      .join(q.select(col("doc_id").as("id_b"), col("quality_score").as("q_b")),
        Seq("id_b"))
      .select(
        when(col("q_a") < col("q_b"), col("id_a"))
          .when(col("q_b") < col("q_a"), col("id_b"))
          .otherwise(greatest(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Fuzzy near-dup pairs by EDIT DISTANCE — the "same doc, small
    * edits" verifier (Jaccard is insensitive to where changes land;
    * edit distance is the character-level ground truth): the shared
    * DF-capped inverted-index blocking ([[blockedCandidates]], so
    * never an all-pairs join), then banded Levenshtein on the
    * candidates. The distance call carries the `maxDist` threshold
    * down into the kernel — Spark's thresholded `levenshtein` runs
    * the O(len·k) diagonal band and bails to -1 past the bound,
    * instead of filling the full O(len²) matrix per pair; at
    * book-length docs that is the difference between a verify join
    * and a job that never finishes. Deterministic → oracle-checked
    * (the oracle computes the unbanded distance and filters — same
    * result by definition).
    */
  def editDistancePairs(docs: DataFrame, n: Int = 3, maxDist: Int = 80,
                        maxDf: Int = 64, minShared: Int = 3): DataFrame =
    editDistancePairsOf(blockingTrunk(docs, n, maxDf, minShared), docs,
      maxDist)

  /** [[editDistancePairs]] over a prebuilt [[BlockingTrunk]] (only
    * the candidate side is consumed — the verify payload is the raw
    * text, not the shingles). */
  def editDistancePairsOf(trunk: BlockingTrunk, docs: DataFrame,
                          maxDist: Int = 80): DataFrame = {
    val texts = docs.select(col("doc_id"), col("text"))
    trunk.candidates
      .join(texts.select(col("doc_id").as("id_a"), col("text").as("t_a")),
        Seq("id_a"))
      .join(texts.select(col("doc_id").as("id_b"), col("text").as("t_b")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        levenshtein(col("t_a"), col("t_b"), maxDist).cast("long")
          .as("edit_distance"))
      .filter(col("edit_distance") >= 0)
  }

  /** Incremental EXACT dedup — the daily-ingest shape: keep only the
    * new-batch docs whose canonical text has never been seen in the
    * corpus. The corpus side reduces to its distinct canonical form
    * (in production: a persisted fingerprint column — history never
    * rescans text), and the anti-join shuffles fingerprints, not
    * documents. Requires doc_ids globally unique across both inputs.
    */
  def incrementalExact(newDocs: DataFrame, corpus: DataFrame): DataFrame = {
    val seen = corpus
      .select(TextAnalysis.canonical(col("text")).as("norm")).distinct()
    newDocs
      .withColumn("norm", TextAnalysis.canonical(col("text")))
      .join(seen, Seq("norm"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** Incremental NEAR-dup pairs: deterministic blocked-Jaccard
    * between a new batch and the existing corpus, generating ONLY
    * new×corpus candidates — the corpus is never paired with itself
    * (its internal near-dups are yesterday's problem; re-verifying
    * them daily would dominate the job at 100 TB). Gram df is capped
    * over the union so boilerplate shared between batch and corpus
    * still gets dropped. Same bounded single-pass blocking as
    * [[blockedJaccardPairs]]; output is (new_id, corpus_id, jaccard)
    * for pairs with Jaccard ≥ tau — the drop list for the ingest.
    */
  def incrementalNearDupPairs(newDocs: DataFrame, corpus: DataFrame,
                              n: Int = 3, tau: Double = 0.5,
                              maxDf: Int = 64, minShared: Int = 3): DataFrame = {
    val tagged = newDocs.select(col("doc_id"), col("text"), lit(true).as("is_new"))
      .unionByName(corpus.select(col("doc_id"), col("text"), lit(false).as("is_new")))
    // pinned ONCE (r18 optimization round): three consumers — the
    // posting explode plus BOTH verify hydration sides — otherwise
    // each re-run the full union + canonicalize + shingle pass over
    // new AND corpus text (3 corpus-wide scans measured in the plan;
    // the batch family reads its prime-pinned trunk for the same
    // reason). Same rows, same results.
    val sets = tagged.select(col("doc_id"), col("is_new"),
      array_distinct(gf.tokenShingleHashes(col("text"), n)).as("shingles"))
      .localCheckpoint(true)
    // is_new rides in the posting id's low bit so the bounded
    // single-pass collector (longs) applies unchanged
    val inv = sets.select(
      (col("doc_id") * 2 + when(col("is_new"), 1L).otherwise(0L)).as("tagged_id"),
      explode(col("shingles")).as("gram"))
    // cross-pairs only: the old×old combinations die map-side inside
    // the (≤ maxDf²-bounded) bucket enumeration, before any shuffle
    val pairs = inv.groupBy("gram")
      .agg(graft.functions.BoundedCollectSetAgg
        .boundedCollectSet(col("tagged_id"), maxDf + 1).as("ids"))
      .filter(size(col("ids")).between(2, maxDf))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") % 2 === 1 && col("b") % 2 === 0)
      .select(expr("a div 2").as("id_a"), expr("b div 2").as("id_b"))
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_rare_shared"))
      .filter(col("n_rare_shared") >= minShared)
      .select("id_a", "id_b")
    verifiedJaccard(pairs, sets.drop("is_new"), tau)
      .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"), col("jaccard"))
  }

  /** Deterministic CONTAINMENT near-dup: same blocking as
    * [[blockedJaccardPairs]], but verification scores
    * `|G_A ∩ G_B| / min(|G_A|, |G_B|)` — the asymmetric measure that
    * catches a short document embedded in a long one (quotes,
    * scraped inclusions, doc-in-doc concatenations), which symmetric
    * Jaccard structurally misses: a doc fully contained in one 10×
    * its size has containment 1.0 but Jaccard ≤ 0.1. Fully
    * deterministic → oracle-checked end to end like its Jaccard twin.
    */
  def blockedContainmentPairs(docs: DataFrame, n: Int = 3, tau: Double = 0.8,
                              maxDf: Int = 64, minShared: Int = 3): DataFrame =
    blockedContainmentPairsOf(blockingTrunk(docs, n, maxDf, minShared), tau)

  /** [[blockedContainmentPairs]] over a prebuilt [[BlockingTrunk]]. */
  def blockedContainmentPairsOf(trunk: BlockingTrunk,
                                tau: Double = 0.8): DataFrame = {
    joinPairPayload(trunk.candidates, trunk.sets, "doc_id", "shingles")
      .withColumn("containment",
        size(array_intersect(col("shingles_a"), col("shingles_b"))) /
          greatest(least(size(col("shingles_a")), size(col("shingles_b"))), lit(1)))
      .filter(col("containment") >= tau)
      .select("id_a", "id_b", "containment")
  }

  /** Dup-cluster size histogram from a components labeling
    * ([[dedupGroups]] output): how many clusters have 1, 2, 3, …
    * members. The curation read: a long tail of big clusters means
    * template/mirror content the pair-level dedup is fighting
    * one edge at a time — cap or drop at the source instead. Two
    * count aggregates over the (doc_id, group_id) relation; output
    * is O(max cluster size) rows.
    */
  /** Per-document n-gram NOVELTY against the whole corpus — how much
    * of each document is genuinely first (in stable doc_id order),
    * versus re-treading grams some earlier document already
    * introduced. The redundancy-mass view pairwise dedup can't give:
    * a doc can clear every Jaccard check yet be 95% recombined
    * boilerplate — its novelty fraction says so. Two shuffles total:
    * gram → min(doc_id) first-occurrence aggregate (a gram is "new"
    * exactly once, the same one-pass trick as `docs_vocab_growth`),
    * a co-partitioned join back on gram, then the per-doc count
    * aggregate. Gram identity is the shared 64-bit shingle hash
    * (collision odds as documented on [[blockingTrunk]]); docs with
    * fewer than `n` tokens have no grams and don't emit.
    */
  def noveltyProfile(docs: DataFrame, n: Int = 3): DataFrame = {
    val inv = shingleSets(docs, n)
      .select(col("doc_id"), explode(col("shingles")).as("gram"))
    val first = inv.groupBy("gram").agg(min("doc_id").as("first_doc"))
    inv.join(first, "gram")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("doc_id") === col("first_doc"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty_frac",
        round(col("n_novel").cast("double") / col("n_grams"), 6))
  }

  def clusterSizeHistogram(labels: DataFrame): DataFrame =
    labels.groupBy("group_id").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** Cross-source mirror matrix: for every unordered pair of
    * sources, how many [[blockedJaccardPairs]] near-dup pairs span
    * them (diagonal = within-source duplication). The curation
    * question this answers — "which crawl mirrors which" — decides
    * whether a whole source can be dropped instead of deduping it
    * document by document.
    *
    * One corpus scan: the pair list (tiny next to the corpus) is
    * exploded into its two sides and joined ONCE against the
    * (doc_id, source) projection — two separate source-lookup joins
    * would evaluate the projection subtree, and therefore the
    * corpus scan, twice. Output is at most |sources|² rows.
    */
  def crossSourceMatrix(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
                        maxDf: Int = 64, minShared: Int = 3): DataFrame =
    crossSourceMatrixOf(blockedJaccardPairs(docs, n, tau, maxDf, minShared),
      docs)

  /** [[crossSourceMatrix]] over an already-computed pair list — a
    * pipeline that also runs [[nearDupRateBySourceOf]] or
    * [[nearDupSuppress]] should materialize the (expensive) pairs
    * once and feed all three, not re-block the corpus per report.
    *
    * `pairs` ids should come from `docs`; if one doesn't (pairs
    * computed against a wider corpus), its side is reported under
    * the sentinel source `<missing>` rather than silently folding
    * into a null row — the inconsistency stays visible in the
    * matrix. Left join so the absent id can't drop the pair. */
  def crossSourceMatrixOf(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val src = docs.select(col("doc_id"), col("source"))
    pairs
      .select(col("id_a"), col("id_b"),
        explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .join(src, Seq("doc_id"), "left")
      .groupBy("id_a", "id_b")
      .agg(
        min(when(col("doc_id") === col("id_a"),
          coalesce(col("source"), lit("<missing>")))).as("sa"),
        min(when(col("doc_id") === col("id_b"),
          coalesce(col("source"), lit("<missing>")))).as("sb"))
      .select(least(col("sa"), col("sb")).as("source_x"),
        greatest(col("sa"), col("sb")).as("source_y"))
      .groupBy("source_x", "source_y")
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Per-source near-dup contamination rate: of each source's
    * documents, how many sit in at least one
    * [[blockedJaccardPairs]] pair (either side). A source whose
    * rate is an outlier is over-crawled or boilerplate-heavy and a
    * candidate for a source-level cap ([[Curation]]) rather than
    * pair-level dedup. Left join of the corpus against the distinct
    * paired-id set — the pair side is tiny, the corpus side is one
    * pruned (doc_id, source) scan; rate rounded to 6 dp for
    * cross-engine float stability.
    */
  def nearDupRateBySource(docs: DataFrame, n: Int = 3, tau: Double = 0.5,
                          maxDf: Int = 64, minShared: Int = 3): DataFrame =
    nearDupRateBySourceOf(blockedJaccardPairs(docs, n, tau, maxDf, minShared),
      docs)

  /** [[nearDupRateBySource]] over an already-computed pair list (see
    * [[crossSourceMatrixOf]]). */
  def nearDupRateBySourceOf(pairs: DataFrame, docs: DataFrame): DataFrame = {
    val dupIds = pairs
      .select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .distinct()
      .withColumn("hit", lit(1L))
    docs.select(col("doc_id"), col("source"))
      .join(dupIds, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("hit"), lit(0L))).as("n_near_dup"))
      .withColumn("near_dup_rate",
        round(col("n_near_dup") / col("n_docs"), 6))
  }
}
