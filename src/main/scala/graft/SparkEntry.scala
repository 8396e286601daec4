package graft

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Every `queries` key has a matching DuckDB oracle in [[oracleSql]]
  * unless the operator is not ANSI-SQL-expressible (then a ScalaTest
  * spec carries correctness and the driver does a rows>0 check).
  */
object SparkEntry {

  /** Flagship: the reference's end-to-end sales summary on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    salesSummary(spark, "/root/testdata/sf0.001")

  // ---- §2.A retail ETL -------------------------------------------------

  private def onlineSales(s: SparkSession, dir: String) =
    RetailEtl.salesFromLineitem(Tables.lineitem(s, dir), Some("O"))
  private def storeSales(s: SparkSession, dir: String) =
    RetailEtl.salesFromLineitem(Tables.lineitem(s, dir), Some("F"))

  private def extractTyped(s: SparkSession, dir: String): DataFrame =
    RetailEtl.convertTyped(
      RetailEtl.asTransportStrings(
        RetailEtl.validateColumns(storeSales(s, dir))))

  private def unionSources(s: SparkSession, dir: String): DataFrame =
    RetailEtl.combine(
      onlineSales(s, dir).withColumn("source", lit("online")),
      storeSales(s, dir).withColumn("source", lit("store")))

  private def cleanSales(s: SparkSession, dir: String): DataFrame =
    RetailEtl.clean(RetailEtl.combine(onlineSales(s, dir), storeSales(s, dir)))

  private def salesSummary(s: SparkSession, dir: String): DataFrame =
    RetailEtl.pipeline(onlineSales(s, dir), storeSales(s, dir))

  private def dailySummary(s: SparkSession, dir: String): DataFrame =
    RetailEtl.dailySummary(cleanSales(s, dir))

  private def loadValidated(s: SparkSession, dir: String): DataFrame =
    RetailEtl.validateSummary(RetailEtl.aggregate(cleanSales(s, dir)))

  private def sourceSummary(s: SparkSession, dir: String, status: String): DataFrame =
    RetailEtl.aggregate(RetailEtl.clean(
      RetailEtl.salesFromLineitem(Tables.lineitem(s, dir), Some(status))))

  private def upsertSummaries(s: SparkSession, dir: String): DataFrame =
    RetailEtl.upsertSummary(
      existing = sourceSummary(s, dir, "F"),
      updates = sourceSummary(s, dir, "O"))

  // ---- shared artifacts ------------------------------------------------

  /** Declares a shared artifact: the returned getter looks `name` up in
    * [[SharedArtifacts]] for (session, dir) and, on a miss, builds it,
    * billed through [[primeTimed]] under `name`. Each query runs
    * standalone, so without the store every query of a family would
    * rebuild the trunk the family shares. */
  private def shared[V <: AnyRef](name: String)(
      build: (SparkSession, String) => V): (SparkSession, String) => V = {
    val key = SharedArtifacts.key[V](name)
    (s, dir) =>
      SharedArtifacts.getOrElseUpdate(s, key, dir)(primeTimed(name)(build(s, dir)))
  }

  /** A shared relation, materialized by [[pinned]]. */
  private def sharedFrame(name: String)(
      plan: (SparkSession, String) => DataFrame): (SparkSession, String) => DataFrame =
    shared(name)((s, dir) => pinned(plan(s, dir)))

  /** The one materialization of shared relations: an eager local
    * checkpoint, which truncates the lineage and pins the rows in the
    * block manager. Right for a single-JVM driver session; at scale the
    * same role is a table persisted per corpus snapshot (DISK_ONLY, not
    * executor memory — see the [[Dedup.BlockingTrunk]] scaladoc). */
  private def pinned(plan: DataFrame): DataFrame = plan.localCheckpoint(true)

  /** Default-parameter [[Dedup.blockingTrunk]] over the documents
    * table (shingle sets + df-capped candidate pairs) and the verified
    * Jaccard pair relation over it. Eleven near-dup queries consume one
    * or both: the eight diagnostic/policy queries share the PAIRS, and
    * the containment / edit-distance / minhash variants share the
    * TRUNK (same blocking, different per-pair verify). Candidates and
    * pairs are pair-count-sized; the shingle sets are corpus-sized. */
  private val sharedShingleSets = sharedFrame("shingle_sets")((s, dir) =>
    Dedup.blockingTrunk(Tables.documents(s, dir)).sets)
  // sets and candidates are separate artifacts: minhash/groups consume
  // only the sets, and must not pay the inverted-index candidate build
  // as a side effect of asking for them
  private val sharedBlockedCands = sharedFrame("blocked_cands")((s, dir) =>
    Dedup.blockedCandidates(sharedShingleSets(s, dir)))
  private def sharedTrunk(s: SparkSession, dir: String): Dedup.BlockingTrunk =
    Dedup.BlockingTrunk(sharedShingleSets(s, dir), sharedBlockedCands(s, dir))
  private val sharedBlockedPairs = sharedFrame("blocked_pairs")((s, dir) =>
    Dedup.blockedJaccardPairs(sharedTrunk(s, dir)))

  // the 20-threshold Gopher metric+flag pass over the quality
  // fixture: gate, apply, cost, and the quality profile all read this
  // relation (the stream key keeps its own full code path: the
  // streaming plan IS its product)
  private val sharedGopherFlagged = sharedFrame("gopher_flagged")((s, dir) =>
    TextAnalysis.gopherFlagged(
      TextAnalysis.synthQualityCorpus(Tables.documents(s, dir))))

  // perceptual-hash and perceptual-audio signature stores: production
  // persists these per corpus snapshot; the phash and audio keys read
  // the store instead of re-decoding
  private val sharedPhashSigs = sharedFrame("phash_sigs")((s, dir) =>
    operators.Multimodal.phashSignatures(
      operators.Multimodal.synthMixedCorpus(Tables.documents(s, dir))))
  private val sharedAudioSigs = sharedFrame("audio_sigs")((s, dir) =>
    operators.Multimodal.audioSignatures(
      operators.Multimodal.synthScaledWavCorpus(Tables.documents(s, dir))))

  // the perceptual GROUP closures: the groups key and its keep-best
  // twin read the same min-label relation, so the pointer-doubling
  // closure runs once
  private val sharedPhashGroups = sharedFrame("phash_groups")((s, dir) =>
    operators.Multimodal.phashGroups(sharedPhashSigs(s, dir)))
  private val sharedAudioGroups = sharedFrame("audio_groups")((s, dir) =>
    operators.Multimodal.audioSigGroups(sharedAudioSigs(s, dir)))

  // offset-robust winnowed audio fingerprints over the offset fixture
  // (the pairs and incremental keys read them) and their group closure
  // (groups + keep-best)
  private val sharedAudioWinnowSigs = sharedFrame("audio_winnow_sigs")((s, dir) =>
    operators.Multimodal.audioWinnowSignatures(
      operators.Multimodal.synthOffsetWavCorpus(Tables.documents(s, dir))))
  private val sharedAudioWinnowGroups = sharedFrame("audio_winnow_groups")((s, dir) =>
    operators.Multimodal.audioWinnowGroups(sharedAudioWinnowSigs(s, dir)))

  // crop-robust winnowed image fingerprints over the crop fixture (all
  // four image-winnow keys read them) and their group closure
  private val sharedImageWinnowSigs = sharedFrame("image_winnow_sigs")((s, dir) =>
    operators.Multimodal.imageWinnowSignatures(
      operators.Multimodal.synthCropPngCorpus(Tables.documents(s, dir))))
  private val sharedImageWinnowGroups = sharedFrame("image_winnow_groups")((s, dir) =>
    operators.Multimodal.imageWinnowGroups(sharedImageWinnowSigs(s, dir)))

  // the quality-FIXTURE corpus's dup-gram store + Bloom: the nightly
  // artifact the composed intake gate probes, built from the same
  // fixture corpus the gate streams
  private val sharedQualityDupStore = shared("quality_dup_store") { (s, dir) =>
    val store = pinned(TextAnalysis.dupNgramStore(TextAnalysis.dupNgramDupOcc(
      TextAnalysis.dupNgramToks(
        TextAnalysis.synthIntakeCorpus(Tables.documents(s, dir))))))
    (store, graft.streaming.DocStream.storeBloom(store))
  }

  // the HISTORY slice's dup-gram store (doc_id % 10 <> 0 — what the
  // nightly batch would have persisted before today's delta): the
  // incremental curation gate probes it; grams duplicated only via
  // the delta must NOT appear, so this is NOT a filter of the
  // full-corpus store
  private val sharedHistDupStore = sharedFrame("hist_dup_store")((s, dir) =>
    TextAnalysis.dupNgramStore(TextAnalysis.dupNgramDupOcc(
      TextAnalysis.dupNgramToks(
        Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0)))))

  // the family's ONE corpus-wide n-gram window, pinned as the
  // DUPLICATED-occurrence relation (proportional to duplicated
  // positions, not the corpus): the coverage fold, the gate, the span
  // extraction, and the intake store all derive from it
  private val sharedDupNgramOcc = sharedFrame("dup_ngram_occ")((s, dir) =>
    TextAnalysis.dupNgramDupOcc(
      TextAnalysis.dupNgramToks(Tables.documents(s, dir))))

  // the corpus-duplication coverage trunk: the doc-grain relation both
  // the source rollup and the per-doc gate read
  private val sharedDupNgramDocs = sharedFrame("dup_ngram_docs")((s, dir) =>
    TextAnalysis.dupNgramDocs(
      TextAnalysis.dupNgramToks(Tables.documents(s, dir)),
      TextAnalysis.startsOfOcc(sharedDupNgramOcc(s, dir))))

  // the fused curate FLAGS relation: one row per doc carrying every
  // per-doc gate decision + residual billing — the intake gate table a
  // nightly pipeline persists. Both composition keys (full + funnel)
  // read it, so the gate chain's corpus work runs once.
  private val sharedCurateFlags = sharedFrame("curate_flags")((s, dir) =>
    operators.Curation.curateFlags(Tables.documents(s, dir),
      gopherFlags = sharedGopherFlagged(s, dir),
      dupDocs = sharedDupNgramDocs(s, dir),
      dupStarts = operators.TextAnalysis.startsOfOcc(
        sharedDupNgramOcc(s, dir)),
      embeddings = Tables.embeddings(s, dir)))

  // the persisted dup-gram STORE + its Bloom: production writes both
  // as nightly artifacts next to each other, and the intake gates probe
  // the Bloom map-side before the store join ever sees a row. Without
  // the shared build, every gate construction would pay the store
  // count + Bloom aggregate as serial driver actions.
  private val sharedDupStore = shared("dup_store_bloom") { (s, dir) =>
    val store = pinned(TextAnalysis.dupNgramStore(sharedDupNgramOcc(s, dir)))
    (store, graft.streaming.DocStream.storeBloom(store))
  }

  /** Persisted [[AnnIndex]] lake layouts under target/ann-index
    * (gitignored, overwrite-safe): the `ann_index_*` probe keys are
    * partition-pruned probes over a build-once index. Build parameters
    * mirror the in-memory tiers (IVF nlist=16; IVF-PQ m=16/nCodes=32),
    * so probe recall equals the corresponding in-memory tier and sits
    * under the same [[RecallFloors]] gate. */
  private def annIndexBaseDir(dir: String): String =
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get("target", "ann-index",
        java.lang.Integer.toHexString(dir.hashCode))).toString
  // The base pair (full-corpus ivf/ivfpq) and the incremental pair are
  // separate artifacts: the delete-lifecycle copy and the plain probe
  // keys read only the base pair, the *_incr probes only the
  // incremental pair, and a subset run never pays for indexes its keys
  // never read. Within each pair the builds are independent (distinct
  // output paths, distinct trainers), each a chain of small
  // driver-fold jobs — stage-latency-bound, not CPU-bound — so they
  // submit concurrently, and the pair's input count is paid once and
  // handed to both (pickCentroids' thinning is a pure function of n).
  private val annBaseIndexPaths = shared("ann_indexes") { (s, dir) =>
    val base = annIndexBaseDir(dir)
    val emb = Tables.embeddings(s, dir)
    val nFull = emb.count()
    SharedArtifacts.concurrently(s.sparkContext)(
      "prime_ann" -> (() => primeTimed("ann_ivf_build")(
        AnnIndex.buildIvf(emb, s"$base/ivf", knownN = nFull))),
      "prime_ann" -> (() => primeTimed("ann_ivfpq_build")(
        AnnIndex.buildIvfPq(emb, s"$base/ivfpq", m = 16, nCodes = 32,
          knownN = nFull))))
    (s"$base/ivf", s"$base/ivfpq")
  }
  // the incremental twins: built on the even half ("yesterday"), the
  // odd half appended against the STORED centroids (and, for IVF-PQ,
  // STORED codebooks) — no retrain, no history rewrite (the
  // daily-ingest shape)
  private val annIncrIndexPaths = shared("ann_incr_indexes") { (s, dir) =>
    val base = annIndexBaseDir(dir)
    val emb = Tables.embeddings(s, dir)
    val even = emb.filter(col("vec_id") % 2 === 0)
    val nEven = even.count()
    SharedArtifacts.concurrently(s.sparkContext)(
      "prime_ann_incr" -> (() => primeTimed("ann_ivf_incr") {
        AnnIndex.buildIvf(even, s"$base/ivf_incr", knownN = nEven)
        AnnIndex.appendIvf(emb.filter(col("vec_id") % 2 =!= 0), s"$base/ivf_incr")
      }),
      "prime_ann_incr" -> (() => primeTimed("ann_ivfpq_incr") {
        AnnIndex.buildIvfPq(even,
          s"$base/ivfpq_incr", m = 16, nCodes = 32, knownN = nEven)
        AnnIndex.appendIvfPq(emb.filter(col("vec_id") % 2 =!= 0), s"$base/ivfpq_incr")
      }))
    (s"$base/ivf_incr", s"$base/ivfpq_incr")
  }

  /** The DELETE-lifecycle index: its own layout copy (the shared
    * probes' index stays immutable — a driver key must never mutate an
    * artifact other keys read), same build params, plus a tombstone
    * log covering vec_id % 7 == 3 (~14% of the corpus — the
    * GDPR-takedown / retention-expiry shape). The delete-probe and
    * compaction-plan keys read it; compaction APPLY mutates, so it runs
    * only in AnnIndexSpec against a scratch copy. */
  private val annDelIndexPaths = shared("ann_del_indexes") { (s, dir) =>
    val base = annIndexBaseDir(dir)
    val emb = Tables.embeddings(s, dir)
    val ids = emb.filter(col("vec_id") % 7 === 3).select("vec_id")
    def freshLog(p: String): Unit = {
      // start from an empty log: a stale log from a previous JVM on
      // the same target dir would still read correctly (tombstones()
      // dedups), but the fresh build's contract is "exactly this
      // delete batch"
      val t = new org.apache.hadoop.fs.Path(s"$p/tombstones")
      t.getFileSystem(s.sparkContext.hadoopConfiguration).delete(t, true)
      AnnIndex.deleteIvf(ids, p)
    }
    // the delete layouts are buildIvf/buildIvfPq over the SAME corpus
    // at the SAME params as the shared immutable indexes — the build
    // is deterministic, so a file copy IS the build
    val (ivfSrc, ivfpqSrc) = annBaseIndexPaths(s, dir)
    val conf = s.sparkContext.hadoopConfiguration
    def copyLayout(src: String, dst: String): Unit = {
      val sp = new org.apache.hadoop.fs.Path(src)
      val dp = new org.apache.hadoop.fs.Path(dst)
      val fs = dp.getFileSystem(conf)
      fs.delete(dp, true)
      org.apache.hadoop.fs.FileUtil.copy(fs, sp, fs, dp, false, true, conf)
    }
    copyLayout(ivfSrc, s"$base/ivf_del")
    freshLog(s"$base/ivf_del")
    copyLayout(ivfpqSrc, s"$base/ivfpq_del")
    freshLog(s"$base/ivfpq_del")
    (s"$base/ivf_del", s"$base/ivfpq_del")
  }

  /** Per-artifact build timings, recorded INSIDE each shared-artifact
    * getter — whoever triggers a build (the full-run
    * [[primeSharedCaches]], or a single key under the bench's lazy
    * subset prime) bills it to its artifact name. Bench dumps this
    * map as `prime_detail` in its detail file. Timings NEST
    * (shingle_sets + blocked_cands build inside blocked_pairs,
    * tf_postings inside bm25_index when the tf trunk isn't built
    * yet, the ann_* build entries inside ann_indexes /
    * ann_incr_indexes) and the full-run
    * chains execute CONCURRENTLY, so `shared_prime` is the wall
    * clock of the slowest chain, not the sum of entries. */
  val primeDetail: scala.collection.concurrent.TrieMap[String, Double] =
    scala.collection.concurrent.TrieMap.empty

  /** EXCLUSIVE per-store build time: [[primeDetail]] minus any nested
    * builds triggered on the SAME thread, so a prime regression names
    * exactly ONE store instead of every ancestor that happened to wrap
    * it (blocked_pairs' inclusive time moves whenever shingle_sets
    * does; its exclusive time only moves when the pair verify itself
    * does). The ann_* children build on their own threads inside
    * `ann_indexes` / `ann_incr_indexes`, so those parents' exclusive
    * time equals their wall — a regression there still names the
    * child, because the child has its own entry. */
  val primeSelf: scala.collection.concurrent.TrieMap[String, Double] =
    scala.collection.concurrent.TrieMap.empty
  private val primeChildTime = new ThreadLocal[Double] {
    override def initialValue: Double = 0.0
  }
  private def primeTimed[T](name: String)(f: => T): T = {
    val parentAcc = primeChildTime.get()
    primeChildTime.set(0.0)
    val t0 = System.nanoTime()
    try f finally {
      val wall = (System.nanoTime() - t0) / 1e9
      primeDetail(name) = wall
      primeSelf(name) = math.max(0.0, wall - primeChildTime.get())
      primeChildTime.set(parentAcc + wall)
    }
  }

  /** The basket family's shared pair engine: ONE guarded pair-count
    * build (the [[graft.operators.Analytics.basketAffinity]] relation
    * at the family defaults) reused by pagerank and the triangle
    * census — at 100 TB the pair build is the dominant shuffle, and
    * five queries re-deriving it is four wasted passes over the fact.
    * Derived from the pinned trunk (identical composition to
    * basketAffinity). */
  private val sharedBasketTrunk = sharedFrame("basket_trunk")((s, dir) =>
    operators.Analytics.guardedBaskets(Tables.lineitem(s, dir)))
  private val sharedBasketPairs = sharedFrame("basket_pairs")((s, dir) =>
    operators.Analytics.basketAffinity(sharedBasketTrunk(s, dir)))

  // shared lexical trunk: one tokenize+count pass (doc_id, tok, tf)
  // for the BM25 family — at 100 TB this is the postings table a
  // search pipeline persists per corpus snapshot
  private val sharedTfPostings = sharedFrame("tf_postings")((s, dir) =>
    operators.Similarity.termFreqs(Tables.documents(s, dir)))

  // the SCORED postings index (doc_id, tok, tf, term) on top of the
  // tf trunk — BM25 term weights are an index-time artifact (an IR
  // system never recomputes idf per query), so the build is billed
  // to prime like the other persisted indexes
  private val sharedBm25Postings = sharedFrame("bm25_index")((s, dir) =>
    operators.Similarity.bm25Postings(sharedTfPostings(s, dir)))

  /** Force-build every shared artifact for (session, dir). Bench calls
    * this ONCE and reports the time as its own line item — otherwise
    * min-of-two timing hides the build (first run pays it, second
    * hits the store) and the near-dup family's numbers silently
    * become verify-only, invisible to regression tracking. The
    * [[AnnIndex]] builds are billed the same way: probes are the
    * steady-state cost, the build is the amortized one-time cost. */
  def primeSharedCaches(s: SparkSession, dir: String): Unit = {
    primeDetail.clear(); primeSelf.clear()
    // independent chains (disjoint artifacts, disjoint inputs beyond
    // the shared parquet scans) submit concurrently: each is a
    // sequence of small jobs whose wall cost is stage-scheduling
    // latency, not CPU — exactly what multi-threaded job submission
    // overlaps (and what a cluster runs as parallel pipelines).
    // Under spark.scheduler.mode=FAIR each chain submits into its
    // OWN pool (auto-created on first use; the root pool FAIR-shares
    // slots between pools): the single default pool is FIFO inside
    // even under FAIR mode. Under FIFO mode the pool is ignored.
    // Billing: each getter times itself, so prime_detail still
    // attributes cost per artifact; shared_prime = slowest chain.
    SharedArtifacts.concurrently(s.sparkContext)(
      "prime_blocked" -> (() => sharedBlockedPairs(s, dir)),
      "prime_phash" -> (() => sharedPhashSigs(s, dir)),
      "prime_ngram" -> (() => sharedDupNgramDocs(s, dir)),
      "prime_basket" -> { () => sharedBasketTrunk(s, dir); sharedBasketPairs(s, dir) },
      "prime_bm25" -> (() => sharedBm25Postings(s, dir)),
      "prime_entity" -> (() => sharedEntityGroups(s, dir)),
      "prime_ann" -> (() => annBaseIndexPaths(s, dir)),
      "prime_ann_incr" -> (() => annIncrIndexPaths(s, dir)))
  }

  /** Lazy subset prime (SPARK_GRAFT_ONLY bench runs): CONSTRUCTING a
    * key's DataFrame eagerly materializes exactly the shared artifacts
    * it consumes (the getters materialize on first touch), so a
    * subset run never pays for indexes its keys never read. Build
    * failures surface in the timed run, not here. */
  def primeForKeys(s: SparkSession, dir: String,
                   keys: Iterable[String]): Unit = {
    primeDetail.clear(); primeSelf.clear()
    keys.foreach(k =>
      try { queries(k)(s, dir); () }
      catch { case scala.util.control.NonFatal(_) => () })
  }

  /** Incremental maintenance: "history" (pre-cutoff, standing in for
    * yesterday's stored summary) merged with the post-cutoff delta —
    * associative re-aggregation, result-identical to the full
    * recompute (shares `etl_sales_summary`'s oracle). */
  private def incrementalSummary(s: SparkSession, dir: String,
                                 cutoff: String = "1999-01-01"): DataFrame = {
    val clean = cleanSales(s, dir)
    RetailEtl.mergeSummaries(
      RetailEtl.aggregate(clean.filter(col("sale_date") < lit(cutoff))),
      RetailEtl.aggregate(clean.filter(col("sale_date") >= lit(cutoff))))
  }

  private def saltedSummary(s: SparkSession, dir: String): DataFrame =
    Skew.saltedAgg(cleanSales(s, dir), Seq("product_id"),
      partials = Seq(sum("quantity").as("q"), sum("sale_amount").as("a")),
      merge = Seq(sum("q").as("total_quantity"), sum("a").as("total_sale_amount")))

  // the CMS sketch relation shared by both text_cms keys: ≤ depth·width
  // rows, one tokenize+explode pass instead of one per key
  private val sharedCmsSketch = sharedFrame("cms_sketch")((s, dir) =>
    operators.CountMin.sketch(Tables.documents(s, dir)))

  // the ML stores the RTBF pair erases from: without them, plan and
  // apply would pay the md5+minhash and tokenize+winnow passes
  // independently
  private val sharedFingerprintRows = sharedFrame("fp_rows")((s, dir) =>
    operators.DedupStore.fingerprintRows(Tables.documents(s, dir)))
  private val sharedWinnowFps = sharedFrame("winnow_fps")((s, dir) =>
    Tables.documents(s, dir).select(col("doc_id"), explode(
      graft.functions.gf.winnowFingerprints(col("text"), 3, 4)).as("fp")))

  // the per-source synthetic file grain shared by the lake and
  // compaction keys: file = doc_id % 37 within each source
  private def docFiles(s: SparkSession, dir: String): RelationalGroupedDataset =
    Tables.documents(s, dir)
      .groupBy(col("source").as("part"),
        (col("doc_id") % 37).as("file_id"))

  // the synthetic file manifest: bytes = exact char mass per file
  private def docFileManifest(s: SparkSession, dir: String): DataFrame =
    docFiles(s, dir).agg(sum("n_chars").as("bytes"))

  // the orders dims range-scaled into the full 16-bit grid via exact
  // integer division (an unscaled dim leaves the key prefix constant
  // and every row lands in one bucket), then `extra`; the max() pair
  // is a one-row broadcast, same pattern as the calendar midpoints
  private def ordersGrid16(s: SparkSession, dir: String, extra: Column*): DataFrame = {
    val o = Tables.orders(s, dir)
    val stats = o.agg(
      max(col("o_custkey")).as("max_c"),
      max(datediff(col("o_orderdate"), lit("1992-01-01"))).cast("long")
        .as("max_d"))
    o.crossJoin(broadcast(stats)).select(Seq(
      expr("(o_custkey * 65536) div (max_c + 1)").as("cust16"),
      expr(s"(CAST(datediff(o_orderdate, DATE '1992-01-01') AS BIGINT)" +
        s" * 65536) div (max_d + 1)").as("day16")) ++ extra: _*)
  }

  // the RTBF ML-store inputs: subject docs and vectors (id % 53 == 3),
  // the shared fingerprint and winnow stores, and the ANN vector ids
  private def rtbfMlInputs[T](s: SparkSession, dir: String)(
      f: (DataFrame, DataFrame, DataFrame, DataFrame, DataFrame) => T): T = {
    val docs = Tables.documents(s, dir)
    val emb = Tables.embeddings(s, dir)
    f(docs.filter(col("doc_id") % 53 === 3),
      emb.filter(col("vec_id") % 53 === 3),
      sharedFingerprintRows(s, dir),
      sharedWinnowFps(s, dir),
      emb.select("vec_id"))
  }

  // the synthetic file manifest with snapshot lineage shared by the
  // lake retention keys (vacuum plan/apply + as-of read): one
  // documents collapse, O(files) rows, pure metadata
  private def snapManifest(s: SparkSession, dir: String): DataFrame =
    docFiles(s, dir)
      .agg(sum("n_chars").as("bytes"),
        (min("doc_id") % 7).as("created_snap"),
        when(max("doc_id") % 3 === 0,
          min("doc_id") % 7 + 1 + max("doc_id") % 4)
          .as("removed_snap"))

  // shared entity-resolution chain: the dirty-CRM fixture, its blocked
  // fuzzy pairs, and the transitive closure — read by all three
  // etl_entity_* keys (pairs feed the closure, the closure feeds
  // survivorship; rebuilding the chain per key would re-pay the
  // blocked join three times)
  private val sharedCrmRecs = sharedFrame("crm_recs")((s, dir) =>
    operators.EntityResolution.synthCrmCorpus(Tables.customer(s, dir)))
  private val sharedEntityPairs = sharedFrame("entity_pairs")((s, dir) =>
    operators.EntityResolution.entityPairs(sharedCrmRecs(s, dir)))
  private val sharedEntityGroups = sharedFrame("entity_groups")((s, dir) =>
    operators.EntityResolution.entityGroups(sharedCrmRecs(s, dir),
      sharedEntityPairs(s, dir)))
  // the HISTORY entity store (base k%7≠0 + pos feeds, resolved by
  // their own closure) the incremental/stream intake keys probe —
  // what yesterday's nightly batch would have persisted
  private val sharedEntityHistStore = sharedFrame("entity_store") { (s, dir) =>
    val hist = sharedCrmRecs(s, dir)
      .filter((col("rec_id") % 4).isin(0L, 2L) && col("rec_id") % 28 =!= 0)
    operators.EntityResolution.entityStore(hist,
      operators.EntityResolution.entityGroups(hist,
        operators.EntityResolution.entityPairs(hist)))
  }
  // the arriving delta: the web/legacy feeds plus brand-new base
  // records (k % 7 == 0 ⇔ rec_id % 28 == 0) with no history trace
  private def crmDelta(s: SparkSession, dir: String): DataFrame =
    sharedCrmRecs(s, dir)
      .filter((col("rec_id") % 4).isin(1L, 3L) || col("rec_id") % 28 === 0)

  // ---- the inventory ---------------------------------------------------

  /** Every key's Spark query, built once per JVM. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.A retail ETL
    "etl_extract_typed" -> ((s, dir) => extractTyped(s, dir)),
    "etl_union_sources" -> ((s, dir) => unionSources(s, dir)),
    "etl_clean" -> ((s, dir) => cleanSales(s, dir)),
    "etl_sales_summary" -> ((s, dir) => salesSummary(s, dir)),
    "etl_daily_product_summary" -> ((s, dir) => dailySummary(s, dir)),
    "etl_load_validated" -> ((s, dir) => loadValidated(s, dir)),
    "etl_upsert" -> ((s, dir) => upsertSummaries(s, dir)),
    "etl_sales_summary_salted" -> ((s, dir) => saltedSummary(s, dir)),
    "etl_incremental_summary" -> ((s, dir) => incrementalSummary(s, dir)),
    "etl_backfill_plan" -> ((s, dir) =>
      RetailEtl.backfillPlan(cleanSales(s, dir))),
    // entity resolution over the customer dimension (r15): the MDM
    // layer the reference's per-row cleaning stops short of —
    // normalize → block → bounded-Levenshtein match → transitive
    // closure → survivorship, each stage a driver key. The dirty-CRM
    // corpus derives deterministically from `customer`
    // (EntityResolution.synthCrmCorpus), so all three keys replay
    // bit-for-bit in DuckDB including the fuzzy distances.
    "etl_entity_pairs" -> ((s, dir) => sharedEntityPairs(s, dir)),
    "etl_entity_groups" -> ((s, dir) => sharedEntityGroups(s, dir)),
    "etl_entity_golden" -> ((s, dir) =>
      operators.EntityResolution.goldenRecords(sharedCrmRecs(s, dir),
        sharedEntityGroups(s, dir))),
    // incremental attach (r15): the daily delta (web/legacy feeds +
    // brand-new customers) matches the PERSISTED history store only —
    // delta × store-within-block, the store never re-pairs; unmatched
    // records found new entities (is_new)
    "etl_entity_incremental" -> ((s, dir) =>
      operators.EntityResolution.attachToStore(crmDelta(s, dir),
        sharedEntityHistStore(s, dir))),
    // right-to-be-forgotten cascade (r15): plan = per-request row
    // counts through customer → orders → lineitem; apply = per-table
    // before/removed/after with structural referential integrity
    // (requests: every 53rd customer — the deterministic stand-in
    // for the day's deletion queue)
    "etl_rtbf_plan" -> ((s, dir) =>
      RetailEtl.rtbfPlan(
        Tables.customer(s, dir).filter(col("c_custkey") % 53 === 3),
        Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "etl_rtbf_apply" -> ((s, dir) =>
      RetailEtl.rtbfApply(
        Tables.customer(s, dir).filter(col("c_custkey") % 53 === 3),
        Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    // RTBF reaches the ML stores (r16): the subject's derived rows in
    // the dedup-fingerprint store, the winnow fp store and the ANN
    // vector rows — plan counts, apply = anti-join erasure readout;
    // the physical index path (deleteIvf tombstones) is spec-driven
    // on a scratch index so the shared fixtures stay untouched
    "rtbf_ml_plan" -> ((s, dir) =>
      rtbfMlInputs(s, dir)(operators.MlErasure.rtbfMlPlan)),
    "rtbf_ml_apply" -> ((s, dir) =>
      rtbfMlInputs(s, dir)(operators.MlErasure.rtbfMlApply(_, _, _, _, _))),
    // privacy-release audit (r15): k-anonymity + l-diversity per
    // (nation, balance-band) class with the market segment as the
    // sensitive attribute — the band makes classes fine enough that
    // both failure modes actually occur at every SF; one
    // partial-aggregable groupBy, O(classes) rows
    "etl_anonymity_audit" -> ((s, dir) =>
      RetailEtl.anonymityAudit(
        Tables.customer(s, dir).withColumn("bal_band",
          floor(col("c_acctbal") / 1000).cast("long")),
        Seq("c_nationkey", "bal_band"), "c_mktsegment")),
    // streaming intake twin: the same attach kernel per micro-batch,
    // zero state (attach depends only on the record and the store —
    // batch-split invariance shares the incremental key's oracle)
    "stream_entity_match" -> ((s, dir) =>
      graft.streaming.EntityStream.attachReplay(crmDelta(s, dir),
        sharedEntityHistStore(s, dir))),
    // §2.B analytics
    "q1_pricing_summary" -> ((s, dir) => Analytics.pricingSummary(Tables.lineitem(s, dir))),
    "q3_top_unshipped" -> ((s, dir) =>
      Analytics.topRevenueOrders(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "q3_bloom_pruned" -> ((s, dir) =>
      Analytics.topRevenueOrdersBloom(Tables.customer(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir))),
    "events_heavy_hitters" -> ((s, dir) =>
      Analytics.heavyHitters(Tables.events(s, dir))),
    "events_heavy_hitters_mg" -> ((s, dir) =>
      EventOps.approxHeavyHitters(Tables.events(s, dir))),
    "stream_enrich" -> ((s, dir) =>
      graft.streaming.EventStream.enrichedSegmentStats(
        Tables.events(s, dir), Tables.customer(s, dir))),
    // erasure gate at intake (r15): already-forgotten users'
    // arriving events broadcast-anti-join against the deletion
    // registry — zero state; replay = two hash-split micro-batches
    "stream_rtbf_gate" -> ((s, dir) =>
      graft.streaming.EventStream.rtbfGateReplay(Tables.events(s, dir),
        Tables.events(s, dir).filter(col("user_id") % 53 === 3)
          .select("user_id"))),
    "q5_regional_revenue" -> ((s, dir) =>
      Analytics.regionalRevenue(Tables.region(s, dir), Tables.nation(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.orders(s, dir),
        Tables.lineitem(s, dir), regionName = "ASIA")),
    "q_customer_enrich" -> ((s, dir) =>
      Analytics.enrichOrders(Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir))),
    "q_topn_per_group" -> ((s, dir) =>
      Analytics.topCustomersPerSegment(Tables.customer(s, dir))
        .withColumn("rank_in_segment", col("rank_in_segment").cast("long"))),
    "q_topn_per_group_agg" -> ((s, dir) =>
      Analytics.topCustomersPerSegmentAgg(Tables.customer(s, dir))),
    "q_running_totals" -> ((s, dir) => Analytics.runningTotals(Tables.orders(s, dir))),
    "q_rolling_revenue" -> ((s, dir) =>
      Analytics.rollingRevenue(Tables.lineitem(s, dir))),
    "q_copurchase_pagerank" -> ((s, dir) =>
      Analytics.copurchasePagerank(sharedBasketPairs(s, dir))),
    "q_copurchase_triangles" -> ((s, dir) =>
      Analytics.copurchaseTriangles(sharedBasketPairs(s, dir))),
    "q_basket_chi2" -> ((s, dir) =>
      Analytics.basketChi2(sharedBasketTrunk(s, dir))),
    "q_revenue_autocorr" -> ((s, dir) =>
      Analytics.revenueAutocorr(Tables.lineitem(s, dir))),
    "emb_pair_histogram" -> ((s, dir) =>
      Similarity.pairDistanceHistogram(Tables.embeddings(s, dir))),
    "emb_hubness" -> ((s, dir) =>
      Similarity.hubness(Tables.embeddings(s, dir))),
    "q_purchase_streaks" -> ((s, dir) =>
      Analytics.purchaseStreaks(Tables.orders(s, dir))),
    "q_survival_curve" -> ((s, dir) =>
      Analytics.survivalCurve(Tables.orders(s, dir))),
    "q_holt_forecast" -> ((s, dir) =>
      Analytics.holtForecast(Tables.lineitem(s, dir))),
    // seasonal extension (r15): level + trend + rotating 12-slot
    // seasonal index; init from exact cent sums, recursion unrolled
    // in the oracle with the seasonal LIST as recursive state
    "q_holtwinters_forecast" -> ((s, dir) =>
      Analytics.holtWintersForecast(Tables.lineitem(s, dir))),
    // the model-selection readout: one-step-ahead MAE/MAPE per
    // smoother, computed on the published (rounded) fitted columns
    "q_forecast_backtest" -> ((s, dir) =>
      Analytics.forecastBacktest(Tables.lineitem(s, dir))),
    "q_decile_lift" -> ((s, dir) =>
      Analytics.decileLift(Tables.orders(s, dir))),
    "events_rolling_active_users" -> ((s, dir) =>
      Analytics.rollingActiveUsers(Tables.events(s, dir))),
    "q_revenue_changepoint" -> ((s, dir) =>
      Analytics.revenueChangepoint(Tables.lineitem(s, dir))),
    // the sketch twin, graduated r16 via the calibration pattern:
    // exact WAU/DAU anchors + the engine's-own-HLL-within-5%
    // booleans (the sketch route still runs inside the booleans)
    "events_rolling_active_approx" -> ((s, dir) =>
      Analytics.rollingActiveCalibration(Tables.events(s, dir))),
    "q_supplier_reliability" -> ((s, dir) =>
      Analytics.supplierReliability(Tables.lineitem(s, dir),
        Tables.orders(s, dir), Tables.supplier(s, dir))),
    "q_semi_anti" -> ((s, dir) =>
      Analytics.customerOrderPresence(Tables.customer(s, dir), Tables.orders(s, dir))),
    "q_rollup_revenue" -> ((s, dir) =>
      Analytics.rollupRevenue(Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir))),
    "q_cube_revenue" -> ((s, dir) =>
      Analytics.cubeRevenue(Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir))),
    "q_order_gaps" -> ((s, dir) => Analytics.orderGaps(Tables.orders(s, dir))),
    "q_set_ops" -> ((s, dir) =>
      Analytics.segmentSpenderSets(Tables.orders(s, dir), Tables.customer(s, dir))),
    "q_brand_revenue" -> ((s, dir) =>
      Analytics.brandRevenue(Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q_percentiles" -> ((s, dir) =>
      Analytics.orderValuePercentiles(Tables.orders(s, dir), Tables.customer(s, dir))),
    "q_interval_join" -> ((s, dir) =>
      operators.RangeJoin.eventImpactWindows(Tables.events(s, dir), "error", 300L)),
    "q_profit_nation_year" -> ((s, dir) =>
      Analytics.profitByNationYear(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.part(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir))),
    "stream_impact_join" -> ((s, dir) =>
      graft.streaming.EventStream.impactJoin(Tables.events(s, dir))),
    // below eviction scale (users ≪ buckets·k) MG counts are exact →
    // plain GROUP BY oracle; past eviction the MG bound takes over
    "stream_curate_gate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.streaming.DocStream.curateGate(
        docs, docs.filter(col("doc_id") % 97 === 0))
    }),
    // THE whole intake pipeline in one stream (r14): quality +
    // benchmark + decontamination + the 20-threshold Gopher gate +
    // the dup-store probe, zero persisted state end to end. Runs on
    // the INTAKE fixture (per-doc-unique stop-word tails: repairs
    // the raw corpus's natural stop-word deficiency without
    // creating cross-doc grams, so every gate keeps its raw
    // discrimination) with the store built from the same corpus
    // (the nightly artifact the intake probes).
    "stream_intake_gate" -> ((s, dir) => {
      val docs = TextAnalysis.synthIntakeCorpus(Tables.documents(s, dir))
      // the fixture is per-doc pure, so the benchmark slice
      // synthesizes from the FILTERED raw docs — the plan-time gram
      // collect touches ~1% of the corpus, not all of it
      val bench = TextAnalysis.synthIntakeCorpus(
        Tables.documents(s, dir).filter(col("doc_id") % 97 === 0))
      val (store, bloom) = sharedQualityDupStore(s, dir)
      graft.streaming.DocStream.fullIntakeGate(docs, bench, store,
        bloom = Some(bloom))
    }),
    "stream_heavy_hitters" -> ((s, dir) =>
      graft.streaming.EventStream.heavyHittersState(Tables.events(s, dir))),
    "q_events_hourly" -> ((s, dir) =>
      EventOps.hourlyStats(Tables.events(s, dir), withApproxUsers = false)),
    "q_events_sessionize" -> ((s, dir) => EventOps.sessionize(Tables.events(s, dir))),
    "q_events_pivot" -> ((s, dir) => EventOps.eventTypePivot(Tables.events(s, dir))),
    "q_events_json" -> ((s, dir) => EventOps.jsonPropStats(Tables.events(s, dir))),
    "q_events_retention" -> ((s, dir) =>
      EventOps.hourlyRetention(Tables.events(s, dir))),
    "events_cohort_retention" -> ((s, dir) =>
      EventOps.cohortRetention(Tables.events(s, dir))),
    "q_session_window" -> ((s, dir) =>
      EventOps.sessionWindows(Tables.events(s, dir))),
    "events_bot_flag" -> ((s, dir) =>
      EventOps.burstFlags(Tables.events(s, dir))),
    "events_deseasonalized_anomaly" -> ((s, dir) =>
      EventOps.deseasonalizedAnomaly(Tables.events(s, dir))),
    "q_events_funnel_windowed" -> ((s, dir) =>
      EventOps.funnelWindowed(Tables.events(s, dir))),
    "events_session_entry_exit" -> ((s, dir) =>
      EventOps.sessionEntryExit(Tables.events(s, dir))),
    "q_events_unpivot" -> ((s, dir) =>
      EventOps.eventTypeUnpivot(Tables.events(s, dir))),
    "q_asof_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      AsOf.join(
        left = ev.filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts", "value"),
        right = ev.filter(col("event_type") === "click"),
        keys = Seq("user_id"), timeCol = "ts",
        rightValues = Seq("value"), tieBreak = Some("event_id"))
    }),
    // §2.E text analysis
    "text_stats" -> ((s, dir) => TextAnalysis.stats(Tables.documents(s, dir))),
    "text_token_count" -> ((s, dir) => TextAnalysis.tokenCounts(Tables.documents(s, dir))),
    "text_lang_id" -> ((s, dir) => TextAnalysis.langId(Tables.documents(s, dir))),
    "text_lang_confusion" -> ((s, dir) =>
      TextAnalysis.langConfusion(Tables.documents(s, dir))),
    "docs_perplexity_filter" -> ((s, dir) =>
      TextAnalysis.perplexityFilter(Tables.documents(s, dir))),
    // Kneser–Ney reference-LM scoring (r15): the model trains on the
    // corpus minus the held-out tenth; held-out docs exercise the
    // backoff paths (discounted continuation, OOV floor) a
    // self-scored MLE never reaches
    "text_lm_kn_score" -> ((s, dir) =>
      TextAnalysis.knScore(Tables.documents(s, dir))),
    "docs_augment_dropout" -> ((s, dir) =>
      TextAnalysis.augmentTokenDropout(Tables.documents(s, dir))),
    "docs_vocab_growth" -> ((s, dir) =>
      TextAnalysis.vocabGrowth(Tables.documents(s, dir))),
    "text_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprints(Tables.documents(s, dir))
        .select("doc_id", "fingerprint_md5")),
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
    "text_cms_sketch" -> ((s, dir) => sharedCmsSketch(s, dir)),
    "text_cms_token_freq" -> ((s, dir) =>
      operators.CountMin.topTokenEstimates(Tables.documents(s, dir),
        sharedCmsSketch(s, dir))),
    // streaming CMS maintenance (r15): the sketch as BOUNDED live
    // state (≤ depth·width counter rows forever); replay = per-batch
    // partial sketches summed — the state-update rule applied
    // associatively, so the batch key's oracle is shared
    "stream_cms_sketch" -> ((s, dir) =>
      graft.streaming.SketchStream.sketchReplay(Tables.documents(s, dir))),
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetition(Tables.documents(s, dir))),
    // the REST of the Gopher suite (dup line/para + top-n-gram mass)
    // over the deterministically-lined corpus with planted
    // duplicated paragraphs on doc_id % 5 == 0
    "text_repetition_profile" -> ((s, dir) =>
      TextAnalysis.gopherRepetition(
        TextAnalysis.synthLinedCorpus(Tables.documents(s, dir)))),
    // the dup-n-gram half of the Gopher table: char coverage of
    // within-doc duplicated n-grams, n=5..10 — the planted 8-token
    // paragraph repeat lights n<=8 and leaves 9/10 dark
    "text_dup_ngram_mass" -> ((s, dir) =>
      TextAnalysis.dupNgramMass(
        TextAnalysis.synthLinedCorpus(Tables.documents(s, dir)))),
    // all 20 Gopher thresholds (13 repetition + 7 quality, r13)
    // applied as a per-source removal gate over the combined fixture
    // (quality plants per doc_id % 17 class + planted dup paragraphs)
    "docs_gopher_gate" -> ((s, dir) =>
      TextAnalysis.gopherGate(Tables.documents(s, dir),
        sharedGopherFlagged(s, dir))),
    "docs_gopher_apply" -> ((s, dir) =>
      TextAnalysis.gopherGateApply(Tables.documents(s, dir),
        sharedGopherFlagged(s, dir))),
    // what the gate costs the budget: per-source kept docs/tokens
    "docs_gopher_cost" -> ((s, dir) =>
      TextAnalysis.gopherGateCost(Tables.documents(s, dir),
        sharedGopherFlagged(s, dir))),
    // the QUALITY half's per-doc metric profile (r13): the 7 paper
    // metrics over the combined fixture, off the same pinned pass
    "docs_gopher_quality" -> ((s, dir) =>
      TextAnalysis.gopherQuality(sharedGopherFlagged(s, dir))),
    // the same gate at STREAM intake: one row-local projection,
    // append mode, zero state stores
    "stream_gopher_gate" -> ((s, dir) =>
      graft.streaming.DocStream.repetitionGate(
        TextAnalysis.synthQualityCorpus(Tables.documents(s, dir),
          keep = Seq("source")))),
    // corpus-grain dup n-grams: char coverage of n-grams occurring
    // in >= 2 distinct docs, rolled up per source (n=8)
    "docs_dup_ngram_corpus" -> ((s, dir) =>
      TextAnalysis.dupNgramCorpus(sharedDupNgramDocs(s, dir))),
    // per-doc keep/drop under the corpus-duplication gate (same
    // pinned doc-grain relation the rollup above aggregates)
    "docs_dup_ngram_apply" -> ((s, dir) =>
      TextAnalysis.dupNgramApply(sharedDupNgramDocs(s, dir))),
    // maximal duplicate SPANS (r13, Lee et al. exact-substring
    // target): adjacent corpus-duplicated positions chain into
    // per-doc spans via gaps-and-islands over the SAME pinned trunk
    "docs_dup_spans" -> ((s, dir) =>
      TextAnalysis.dupSpans(Tables.documents(s, dir),
        TextAnalysis.startsOfOcc(sharedDupNgramOcc(s, dir)))),
    // APPLY the span extraction (r13): spans CUT, residual text
    // emitted per doc — the Lee-et-al dedup's actual output, same
    // covered-position union as spans/coverage, same pinned trunk
    "docs_dup_spans_apply" -> ((s, dir) =>
      TextAnalysis.dupSpansApply(Tables.documents(s, dir),
        TextAnalysis.startsOfOcc(sharedDupNgramOcc(s, dir)))),
    // quality-distribution drift between corpus snapshots (r13):
    // fixed-bin PSI per quality metric off the pinned metric pass
    "docs_quality_drift" -> ((s, dir) =>
      TextAnalysis.qualityDrift(sharedGopherFlagged(s, dir))),
    // the LIVE twin (r13): the odd half streams against the even
    // half's persisted baseline histogram; state = the histogram
    // itself (~40 longs), emissions recompute PSI per micro-batch
    "stream_quality_drift" -> ((s, dir) => {
      val flagged = sharedGopherFlagged(s, dir)
      graft.streaming.DocStream.qualityDriftState(
        flagged.filter(col("doc_id") % 2 =!= 0),
        TextAnalysis.qualityBaseline(
          flagged.filter(col("doc_id") % 2 === 0)))
    }),
    // exact-substring SCRUB at stream intake (r13): store-matched
    // spans cut from arriving text; docs_dup_spans_apply's relation
    // by definition, zero persisted state
    "stream_dup_span_scrub" -> ((s, dir) => {
      val (store, bloom) = sharedDupStore(s, dir)
      graft.streaming.DocStream.dupSpanScrub(Tables.documents(s, dir),
        store, bloom = Some(bloom))
    }),
    // the corpus-duplication gate at STREAM intake (r13): new docs
    // probe the persisted dup-gram store — history never re-explodes;
    // zero persisted state (the per-doc fold is micro-batch-local).
    // r14: the store's Bloom pre-filters grams map-side, so clean
    // documents short-circuit before the join
    "stream_dup_ngram_gate" -> ((s, dir) => {
      val (store, bloom) = sharedDupStore(s, dir)
      graft.streaming.DocStream.dupNgramGate(Tables.documents(s, dir),
        store, bloom = Some(bloom))
    }),
    // C4 cross-document line dedup: keep the first occurrence of
    // every identical line corpus-wide, bill the rest per source
    "docs_dup_line_removal" -> ((s, dir) =>
      TextAnalysis.dupLineRemoval(
        TextAnalysis.synthLinedCorpus(Tables.documents(s, dir),
          keep = Seq("source")))),
    "text_source_stats" -> ((s, dir) =>
      TextAnalysis.sourceStats(Tables.documents(s, dir))),
    "q_events_funnel" -> ((s, dir) => EventOps.funnel(Tables.events(s, dir))),
    // data-driven Markov attribution beside the rule-based key
    "events_attribution_markov" -> ((s, dir) =>
      EventOps.markovAttribution(Tables.events(s, dir))),
    "events_attribution" -> ((s, dir) =>
      EventOps.lastTouchAttribution(Tables.events(s, dir))),
    "text_pii_scrub" -> ((s, dir) => TextAnalysis.piiScrub(Tables.documents(s, dir))),
    "text_top_bigrams" -> ((s, dir) => TextAnalysis.topBigrams(Tables.documents(s, dir))),
    "text_pmi_bigrams" -> ((s, dir) => TextAnalysis.pmiBigrams(Tables.documents(s, dir))),
    "q_events_anomaly" -> ((s, dir) => EventOps.hourlyAnomalies(Tables.events(s, dir))),
    "q_mad_outliers" -> ((s, dir) => EventOps.madOutliers(Tables.events(s, dir))),
    "events_common_paths" -> ((s, dir) =>
      EventOps.commonSessionPaths(Tables.events(s, dir))),
    "q_conversion_latency" -> ((s, dir) =>
      EventOps.conversionLatency(Tables.events(s, dir))),
    "events_dow_hour_profile" -> ((s, dir) =>
      EventOps.dowHourProfile(Tables.events(s, dir))),
    "events_inter_event_gaps" -> ((s, dir) =>
      EventOps.interEventGaps(Tables.events(s, dir))),
    "q_cart_abandonment" -> ((s, dir) =>
      EventOps.cartAbandonment(Tables.events(s, dir))),
    "ann_range_search" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.rangeSearch(e, e.filter(col("vec_id") % 100 === 0), tau = 0.2)
    }),
    "emb_dim_stats" -> ((s, dir) =>
      Similarity.dimStats(Tables.embeddings(s, dir))),
    // two snapshot halves (the ann_index_*_append split) stand in
    // for yesterday's corpus vs today's delta
    "emb_centroid_drift" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.centroidDrift(
        e.filter(col("vec_id") % 2 === 0),
        e.filter(col("vec_id") % 2 =!= 0))
    }),
    // MMR re-rank over the exact pool — fully deterministic at fixed
    // k=10, so the oracle unrolls the 10 greedy argmax steps as CTEs;
    // SimilaritySpec additionally pins first-pick, diversity
    // preference and determinism
    "ann_mmr_diverse" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.mmrDiverseTopK(e, e.filter(col("vec_id") % 100 === 0))
    }),
    // LSH tuning diagnostic over the shared shingle trunk — minhash
    // signatures have no SQL analog (rows-only; DedupSpec pins the
    // histogram identities and the collapse/too-fine readouts)
    "dedup_lsh_band_stats" -> ((s, dir) =>
      Dedup.lshBandStats(sharedShingleSets(s, dir))),
    "text_quality_filter" -> ((s, dir) =>
      TextAnalysis.qualityFilter(Tables.documents(s, dir))),
    // §2.C dedup
    "dedup_exact" -> ((s, dir) => Dedup.exact(Tables.documents(s, dir))),
    "dedup_exact_report" -> ((s, dir) => Dedup.exactReport(Tables.documents(s, dir))),
    "dedup_token_inflation" -> ((s, dir) =>
      Dedup.tokenInflation(Tables.documents(s, dir))),
    // streaming near-exact gate, batch-folded (min-id per signature;
    // the deployment form is dropDuplicates("sig") under a watermark)
    "stream_sig_dedup" -> ((s, dir) =>
      Dedup.signatureDedup(Tables.documents(s, dir))),
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashSummary(Tables.documents(s, dir),
        sharedShingleSets(s, dir), tau = 0.4)),
    // the LOSSLESS complement to the LSH tiers: prefix-filtered
    // exact set-similarity join — every pair at J >= tau, candidate
    // join bounded by rarest-first prefixes, oracled against the
    // exhaustive definition
    "dedup_exact_jaccard_pairs" -> ((s, dir) =>
      Dedup.prefixJaccardPairs(sharedShingleSets(s, dir))),
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashSummary(Tables.documents(s, dir), maxHamming = 12)),
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramJaccardSummary(Tables.documents(s, dir))),
    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingSummary(Tables.embeddings(s, dir), tau = 0.9)),
    // SemDeDup clusters over the EXACT pair relation — the O(n²)
    // brute-force ANCHOR tier (fully oracle-checked incl. closure);
    // the production key at scale is dedup_embedding_groups_lsh below
    "dedup_embedding_groups" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Dedup.embeddingGroups(e, Dedup.embeddingPairsExact(e, tau = 0.9))
    }),
    // the SCALE form of SemDeDup clustering: LSH candidate pairs
    // (banded equi-joins, never all-pairs) feed the same min-label
    // closure — rows-only; DedupRecallSpec pins pair recall and
    // keep-decision parity against the exact anchor above
    "dedup_embedding_groups_lsh" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Dedup.embeddingGroups(e, Dedup.embeddingPairs(e, tau = 0.9))
    }),
    // nightly-ingest semantic dedup: new vectors (vec_id % 10 == 3)
    // vs the stored corpus, exact tier (new side broadcasts, corpus
    // streams once); τ = 0.4 is the corpus-calibrated same-cluster
    // band of the synthetic embeddings (max pairwise cosine ≈ 0.51)
    "dedup_embedding_incremental" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Dedup.embeddingIncremental(
        e.filter(col("vec_id") % 10 === 3),
        e.filter(col("vec_id") % 10 =!= 3), tau = 0.4)
    }),
    "dedup_groups" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.dedupGroups(docs,
        Dedup.minhashPairs(sharedShingleSets(s, dir), tau = 0.4))
    }),
    // §2.D similarity search
    "ann_bruteforce_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.bruteForceTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10)
    }),
    "ann_filtered_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.filteredTopK(e, e.filter(col("vec_id") % 100 === 0),
        col("label") % 3 === 0, k = 10)
    }),
    "ann_sq_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.sqTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10)
    }),
    // prefix-truncation two-stage ANN (half the stage-1 scan bytes,
    // ZERO model state) — the Matryoshka serving trick, exact-rerank.
    // r17 rerank 16→32 (sweep: 0.825 → 0.895 at sf0.1): the
    // isotropic testdata makes the 32-dim prefix a weak ranker, so
    // the exact tier reads twice the candidates — still
    // O(queries·32) id-joined rows, stage-1 scan unchanged
    "ann_matryoshka_topk" -> ((s, dir) =>
      Similarity.matryoshkaTopK(Tables.embeddings(s, dir), rerank = 32)),
    // full oracle (the xxhash64 centroid-pick replay); recall spec
    // additionally anchors it to ann_filtered_topk's exact result
    "ann_ivf_filtered_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // r13 probe escalation 8→12 (the ivfpq-append precedent):
      // recall 0.69 → 0.91 at sf0.1 — the selective predicate thins
      // probed cells below k eligible, so the dial is nprobe
      Similarity.ivfFilteredTopK(e, e.filter(col("vec_id") % 100 === 0),
        col("label") % 3 === 0, k = 10, nprobe = 12)
    }),
    "mm_near_dup_blobs" -> ((s, dir) =>
      Multimodal.blobNearDupPairs(Tables.documents(s, dir))),
    "mm_dedup_groups" -> ((s, dir) =>
      Multimodal.blobDedupGroups(Tables.documents(s, dir))),
    // the multimodal→embedding bridge as a first-class key: stub
    // decode → per-doc mean-pooled features → exact cosine top-k.
    // Everything is deterministic, so the whole composition is
    // hash-checked against the DuckDB FNV replay (swap decodeStub
    // for a real encoder and only the feature values change).
    "mm_pooled_topk" -> ((s, dir) => {
      // decode once; corpus + query side share it
      val pooled = pinned(Multimodal.pooledFeatures(Tables.documents(s, dir))
        .select(col("doc_id").as("vec_id"), col("embedding")))
      Similarity.bruteForceTopK(pooled,
        pooled.filter(col("vec_id") % 50 === 0), k = 10)
    }),
    "ann_knn_classify" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.knnClassify(e, e.filter(col("vec_id") % 20 === 0), k = 10)
    }),
    "ann_rerank" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      Similarity.rerankTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10)
    }),
    // hybrid dense+lexical retrieval with reciprocal-rank fusion:
    // exact-cosine dense list × rare-token lexical list, combined on
    // ranks only (1/(60+rank) each). Deterministic end to end, so the
    // whole hybrid stack hash-checks against the DuckDB replay.
    "ann_rrf_hybrid" -> ((s, dir) =>
      Similarity.hybridRrfTopK(Tables.documents(s, dir),
        Tables.embeddings(s, dir))),
    // approximate-tier parameters are set from the measured sweep
    // (docs/ANN_SWEEP.md, post-r8 corrected recall metric): each pair
    // below is a measured recall@10 point at sf0.1, trended per round
    // via the bench contract line's recall map
    "ann_lsh_topk" -> ((s, dir) => {
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
    }),
    "ann_ivf_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // r15: nprobe 8→12 — the escalation dial that lifted the
      // filtered (r13) and IVF-PQ (r14) tiers applied to the plain
      // tier: measured 0.740 → 0.935 at sf0.1 (docs/ANN_SWEEP.md
      // r15 axis). 12/16 cells is the TOY-index scan fraction; at
      // 100 TB nlist grows with the corpus (√n rule) and the same
      // nprobe touches a vanishing fraction
      Similarity.ivfTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10,
        nprobe = 12)
    }),
    "ann_ivf_cell_stats" -> ((s, dir) =>
      Similarity.ivfCellStats(Tables.embeddings(s, dir))),
    // persisted-index probes (rows-only; AnnIndexSpec holds parity
    // with the in-memory tiers + the partition-pruning/codes-only
    // scan claims; RecallFloors gates their recall like every tier)
    "ann_index_ivf_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // nprobe=12 in lockstep with the in-memory tier (r15)
      AnnIndex.probeIvf(s, annBaseIndexPaths(s, dir)._1,
        e.filter(col("vec_id") % 100 === 0), k = 10, nprobe = 12)
    }),
    "ann_index_ivfpq_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // nprobe=14 in lockstep with the in-memory tier (r17 — the
      // cell-miss finding applies identically to the persisted
      // layout: 14 of 16 cell partitions read, pruning intact)
      AnnIndex.probeIvfPq(s, annBaseIndexPaths(s, dir)._2,
        e.filter(col("vec_id") % 100 === 0), k = 10, nprobe = 14, rerank = 16)
    }),
    // probe of the INCREMENTALLY-maintained index (built on half the
    // corpus, other half appended against stored centroids — no
    // retrain, no history rewrite); AnnIndexSpec proves append ≡
    // union-corpus build at fixed centroids
    "ann_index_ivf_append_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // nprobe=12 (r15): the append path's centroids come from the
      // even half's pick, so probe escalation compensates staleness
      // exactly as it does for the IVF-PQ append tier
      AnnIndex.probeIvf(s, annIncrIndexPaths(s, dir)._1,
        e.filter(col("vec_id") % 100 === 0), k = 10, nprobe = 12)
    }),
    // the append path probes WIDER than the fresh build (14 vs 8 of
    // 16 cells): append encodes deltas against STORED centroids, so
    // a query's true cell is more often outside the top-8 — the r11
    // sweep (docs/ANN_SWEEP.md) shows rerank saturated at 16 (cell
    // miss, not rank miss) while nprobe 8→12 lifted 0.665→0.860 and
    // the r18 step 12→14 reads 0.945 (13 → 0.900) — the same dial
    // value the fresh ivfpq probe escalated to in r17. Probe
    // escalation with index age is the standard operational
    // compensation between rebuilds.
    "ann_index_ivfpq_append_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      AnnIndex.probeIvfPq(s, annIncrIndexPaths(s, dir)._2,
        e.filter(col("vec_id") % 100 === 0), k = 10, nprobe = 14, rerank = 16)
    }),
    // streaming ANN serving (r15): arriving query vectors probe the
    // PERSISTED index per micro-batch (foreachBatch over the batch
    // kernel — zero state, StreamingSpec-asserted); the driver key
    // replays the stream path as two deterministic micro-batches and
    // unions — batch-split invariance makes the rows ≡
    // ann_index_ivf_probe, so the oracle is shared
    "stream_ann_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.streaming.AnnStream.probeReplay(s, annBaseIndexPaths(s, dir)._1,
        e.filter(col("vec_id") % 100 === 0), k = 10, nprobe = 12)
    }),
    // DELETE lifecycle probe (r15): tombstoned ids (vec_id % 7 == 3)
    // mask candidates at probe time — exact semantics the moment the
    // delete lands, no layout rewrite; nprobe=12 in lockstep with
    // the other IVF probes. AnnIndexSpec holds the parity chain:
    // masked probe ≡ probe of a survivors-only build ≡ probe after
    // compaction, and the survivor recall floor.
    "ann_index_delete_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      AnnIndex.probeIvf(s, annDelIndexPaths(s, dir)._1,
        e.filter(col("vec_id") % 100 === 0), k = 10, nprobe = 12,
        maskDeletes = true)
    }),
    // the PQ layout under the same delete batch (r15): the tombstone
    // log masks the CODE-scan candidates, so a deleted id never
    // scores and never reaches the rerank — same model state as
    // ann_index_ivfpq_probe but INTENTIONALLY held at nprobe=12
    // (its own nprobe=12 oracle below) while the probe tier moved to
    // 14 in r17: the delete mask SHRINKS the candidate set, it does
    // not displace cells, so the staleness-compensation escalation
    // doesn't apply; the survivor recall floor gates it separately
    "ann_index_ivfpq_delete_probe" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      AnnIndex.probeIvfPq(s, annDelIndexPaths(s, dir)._2,
        e.filter(col("vec_id") % 100 === 0), k = 10, nprobe = 12,
        rerank = 16, maskDeletes = true)
    }),
    // the compaction PLAN over the tombstoned index (r15, the
    // lake_compaction_plan pattern): per cell, live/dead counts and
    // the rewrite decision at dead_frac > 0.14 — pure metadata,
    // idempotent (APPLY mutates, so it runs in AnnIndexSpec against
    // a scratch copy with probe-parity held across the rewrite)
    "ann_index_compact_plan" -> ((s, dir) =>
      AnnIndex.compactPlanIvf(s, annDelIndexPaths(s, dir)._1)),
    // the maintenance DECISION table (r15): per cell, dead fraction
    // (compact dial) + balance (probe-concentration dial append
    // drift moves); cell_action = rewrite over the dead cut,
    // index_action = rebuild when any cell's balance crosses 1.25 —
    // an index-level call (hot cells need retrained centroids, not
    // compacted files), carried on every row
    "ann_index_health" -> ((s, dir) =>
      AnnIndex.indexHealth(s, annDelIndexPaths(s, dir)._1)),
    "q_embedding_centroids" -> ((s, dir) =>
      Similarity.labelCentroids(Tables.embeddings(s, dir))),
    // spherical k-means assignment, training loop unrolled in the
    // oracle (deterministic min-id init; float-snapped centroids)
    "emb_kmeans_assign" -> ((s, dir) =>
      Similarity.kmeansAssign(Tables.embeddings(s, dir))),
    "emb_norm_profile" -> ((s, dir) =>
      Similarity.normProfile(Tables.embeddings(s, dir))),
    // scalar (vec_id, dim, value) shape — the raw array<float> column
    // is not sortable by the harness rows-check; 1e-6 rounding pins
    // the float→double widening to a stable grid. r16: projects
    // through the PUBLISHED transform (PcaFrozen, the frozen model
    // artifact — a 100 TB pipeline ships one trained transform, it
    // does not refit per batch), which is what lets the oracle
    // replay the projection from the model literals; Pca.fit stays
    // the trainer, PcaSpec pins the artifact against a live refit
    "emb_pca_project" -> ((s, dir) =>
      Pca.project(Tables.embeddings(s, dir), PcaFrozen.model)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "value")))
        .select(col("vec_id"), col("dim"),
          round(col("value").cast("double"), 6).as("value"))),
    "ann_pca_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // r15: rerank 8→16 (the matryoshka r13 dial) — measured 0.775
      // → 0.910 at sf0.1 with the 32-dim stage-1 scan unchanged; the
      // rerank join stays O(queries·k·16) candidate ids. r16: the
      // published PcaFrozen transform + 1e-6-snapped stage-1 rank →
      // the whole two-stage search replays in the oracle
      Pca.pcaTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10,
        pcaDims = 32, rerank = 16, model = Some(PcaFrozen.model))
    }),
    "split_assign" -> ((s, dir) =>
      DataSplit.assign(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select("doc_id", "split")),
    "split_kfold" -> ((s, dir) =>
      DataSplit.kfold(Tables.documents(s, dir))
        .select("doc_id", "source", "fold")),
    // 0.8/0.1/0.1: the cumulative cuts 0.8 and 0.9 are IEEE-exact
    // (0.8+0.1 == 0.9 bit-for-bit), so the Scala scanLeft sums equal
    // the oracle's literals and floor(cut·n) can never straddle
    "split_stratified" -> ((s, dir) =>
      DataSplit.stratifiedSplit(Tables.documents(s, dir), "doc_id", "source",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))),
    "split_assign_md5" -> ((s, dir) =>
      DataSplit.assignPortable(Tables.documents(s, dir), "doc_id",
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
        .select("doc_id", "split")),
    "split_group_assign" -> ((s, dir) =>
      DataSplit.groupAssign(Tables.documents(s, dir), "source",
        Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2))
        .select("doc_id", "source", "split")),
    "split_leakage_pairs" -> ((s, dir) =>
      DataSplit.splitLeakage(Tables.documents(s, dir),
        sharedBlockedPairs(s, dir),
        Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))),
    "docs_shuffle_shard" -> ((s, dir) =>
      DataSplit.shuffleShards(Tables.documents(s, dir), nShards = 4)),
    "docs_interleave_order" -> ((s, dir) =>
      DataSplit.interleaveOrder(Tables.documents(s, dir))),
    "docs_ngram_diversity" -> ((s, dir) =>
      TextAnalysis.ngramDiversity(Tables.documents(s, dir))),
    // calibration form (r17): graduated from rows-only — the
    // lined-corpus anchors replay in DuckDB, the two booleans pin
    // the engine's OWN deflate kernel (format-feasibility band +
    // planted-copy back-reference claim); the raw-ratio operator
    // (compressionSignal) stays the user surface, spec-held
    "text_compression_signal" -> ((s, dir) =>
      TextAnalysis.compressionCalibration(Tables.documents(s, dir))),
    "text_decontaminate" -> ((s, dir) =>
      TextAnalysis.decontaminate(Tables.documents(s, dir))),
    // SEMANTIC decontamination (r14): benchmark-slice embeddings
    // broadcast against the corpus at cosine >= tau — catches the
    // paraphrased contamination the n-gram tier structurally misses
    "text_decontaminate_semantic" -> ((s, dir) =>
      Dedup.semanticDecontaminate(Tables.embeddings(s, dir))),
    // the INTAKE twin (r14): bench matrix rides the closure, each
    // arriving vector compares row-locally in the batch kernel's
    // exact arithmetic — zero state, zero joins; shares the batch
    // key's oracle verbatim
    "stream_semantic_gate" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      graft.streaming.DocStream.semanticGate(
        e.filter(col("vec_id") % 97 =!= 0),
        e.filter(col("vec_id") % 97 === 0))
    }),
    // the LEARNED quality filter (r15, the DCLM/fastText pattern):
    // full-batch logistic GD distills the composite gate into 5
    // float weights (train) and runs it per doc (score) — training
    // is iters partial-agg scans each folding to ONE 5-float row,
    // scoring a stateless projection; float-snapped steps make the
    // whole loop oracle-replayable (the kmeans convention)
    // the unigram-LM tokenizer (r15, the SentencePiece family beside
    // BPE): hard-EM training — Viterbi re-segmentation, INTEGER
    // piece counts, float(count/total) renormalization — so the
    // whole loop is bit-deterministic with no float folds anywhere;
    // model = top-V pieces (bounded, broadcast-sized)
    "text_unigram_train" -> ((s, dir) =>
      operators.Unigram.train(Tables.documents(s, dir))),
    // the trained tokenizer at corpus grain: per-doc word/piece
    // counts, fertility, and an FNV path signature witnessing every
    // segmentation decision (order-free sum mod 2^53)
    "text_unigram_apply" -> ((s, dir) =>
      operators.Unigram.applyTokenizer(Tables.documents(s, dir))),
    "text_quality_lr_train" -> ((s, dir) =>
      operators.QualityLr.trainDf(Tables.documents(s, dir))),
    "text_quality_lr_score" -> ((s, dir) =>
      operators.QualityLr.score(Tables.documents(s, dir))),
    // the live twin (r15): nightly-trained weights ride the plan as
    // literals, arriving docs score row-locally — zero state, zero
    // shuffles; arithmetic is the batch kernel's verbatim, so the
    // batch key's oracle is shared
    "stream_quality_lr" -> ((s, dir) =>
      graft.streaming.DocStream.qualityLrGate(Tables.documents(s, dir),
        operators.QualityLr.trainWeights(Tables.documents(s, dir)))),
    "docs_contamination_by_source" -> ((s, dir) =>
      TextAnalysis.contaminationBySource(Tables.documents(s, dir))),
    "events_key_skew" -> ((s, dir) =>
      operators.Skew.keySkewProfile(Tables.events(s, dir), "user_id")),
    "docs_curate" -> ((s, dir) =>
      operators.Curation.curate(Tables.documents(s, dir))),
    "docs_curate_manifest" -> ((s, dir) =>
      operators.Curation.manifest(Tables.documents(s, dir))),
    "docs_curate_capped" -> ((s, dir) =>
      operators.Curation.curateCapped(Tables.documents(s, dir), cap = 10)),
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
    "docs_curate_full" -> ((s, dir) =>
      operators.Curation.curateFull(Tables.documents(s, dir),
        flags = sharedCurateFlags(s, dir),
        shingles = sharedShingleSets(s, dir))),
    "docs_curate_funnel" -> ((s, dir) =>
      operators.Curation.curateFunnel(Tables.documents(s, dir),
        flags = sharedCurateFlags(s, dir),
        shingles = sharedShingleSets(s, dir))),
    "docs_token_budget" -> ((s, dir) =>
      // ~28k corpus tokens at sf0.01 — a 10k budget binds hard
      operators.Curation.selectToBudget(Tables.documents(s, dir), 10000L)),
    "text_chunk_dedup" -> ((s, dir) =>
      TextAnalysis.chunkDedup(Tables.documents(s, dir))),
    "docs_context_chunks" -> ((s, dir) =>
      TextAnalysis.contextChunks(Tables.documents(s, dir))),
    "text_winnow_dedup" -> ((s, dir) =>
      TextAnalysis.winnowDedup(Tables.documents(s, dir))),
    "text_winnow_pairs" -> ((s, dir) =>
      TextAnalysis.winnowPairs(Tables.documents(s, dir))),
    "sample_poisson_k" -> ((s, dir) =>
      Sampling.poissonK(Tables.documents(s, dir), "doc_id",
        col("n_chars").cast("double"), k = 100)),
    "sample_weighted" -> ((s, dir) =>
      Sampling.weightedSample(Tables.documents(s, dir), "doc_id",
        least(lit(1.0), col("n_chars") / lit(2000.0)))
        .select("doc_id", "source", "n_chars")),
    // exact binary-fraction shares: rate arithmetic replays exactly
    "sample_mixture" -> ((s, dir) =>
      Sampling.sampleToMixture(Tables.documents(s, dir), "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25))
        .select("doc_id", "source")),
    // τ=1/2: rates are sqrt(nmin/n) — correctly-rounded IEEE ops,
    // so the selected set replays bit-for-bit in the oracle
    "sample_temperature" -> ((s, dir) =>
      Sampling.sampleTemperature(Tables.documents(s, dir), "doc_id", "source")
        .select("doc_id", "source")),
    "docs_curate_mixture" -> ((s, dir) =>
      // gentler gates than docs_curate: every target source must
      // survive curation at every SF (sampleToMixture fails fast on
      // an empty target source — the right call for a training run,
      // where a vanished source means a broken upstream feed)
      operators.Curation.curateMixture(Tables.documents(s, dir),
        Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25),
        minQuality = 0.05, benchMod = 997)),
    "docs_curate_temperature" -> ((s, dir) =>
      // same gentler gates as docs_curate_mixture; rates derive from
      // POST-curation per-source counts (τ=1/2 → exact-IEEE sqrt)
      operators.Curation.curateTemperature(Tables.documents(s, dir),
        minQuality = 0.05, benchMod = 997)),
    // SEMANTIC-cluster rebalancing (r15): the stratum is the k-means
    // cell of the document's embedding, not the source label — an
    // over-represented topic flattens even when it spans sources
    "docs_cluster_temperature" -> ((s, dir) =>
      operators.Curation.clusterTemperature(Tables.documents(s, dir),
        Tables.embeddings(s, dir))),
    "q_forecast_revenue" -> ((s, dir) =>
      Analytics.forecastRevenue(Tables.lineitem(s, dir))),
    "q_priority_check" -> ((s, dir) =>
      Analytics.orderPriorityCheck(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q_customer_distribution" -> ((s, dir) =>
      Analytics.customerDistribution(Tables.customer(s, dir), Tables.orders(s, dir))),
    "q_promo_share" -> ((s, dir) =>
      Analytics.promoShare(Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q_disjunctive_revenue" -> ((s, dir) =>
      Analytics.disjunctiveRevenue(Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q_sole_blame_supplier" -> ((s, dir) =>
      Analytics.soleBlameSuppliers(Tables.lineitem(s, dir), Tables.supplier(s, dir))),
    "q_idle_rich_customers" -> ((s, dir) =>
      Analytics.idleRichCustomers(Tables.customer(s, dir), Tables.orders(s, dir))),
    "q_returned_customers" -> ((s, dir) =>
      Analytics.returnedCustomers(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.nation(s, dir))),
    // §2.F multimodal
    "mm_blob_stats" -> ((s, dir) => Multimodal.blobStats(Tables.documents(s, dir))),
    // REAL codec path, hash-checked end to end: synthesized PNGs
    // (pixels from the replayable FNV-1a recipe) are encoded by the
    // JDK's PNG writer and decoded by its reader; integer channel
    // sums survive the lossless round trip bit-for-bit, so the
    // oracle needs only the pixel recipe, never a codec
    // REAL-codec resize (r16): thumbnails box-average the decoded
    // pixels by integer factor and re-encode; the stats pass then
    // REALLY re-decodes the thumbnails, so the oracle's recipe
    // replay checks the resized pixels bit-for-bit
    "mm_thumbnail" -> ((s, dir) =>
      Multimodal.decodeImageStats(Multimodal.thumbnail(
        Multimodal.synthPngCorpus(Tables.documents(s, dir))))),
    "mm_decode_png" -> ((s, dir) =>
      Multimodal.decodeImageStats(
        Multimodal.synthPngCorpus(Tables.documents(s, dir)))),
    // REAL audio decode proof, the WAV twin: synthesized 16-bit PCM
    // (samples from the same replayable FNV-1a recipe) written by
    // the JDK's WAV encoder and read back by javax.sound.sampled;
    // integer sample sums survive the lossless round trip
    // bit-for-bit, so the oracle needs only the sample recipe
    "mm_decode_wav" -> ((s, dir) =>
      Multimodal.decodeAudioStats(
        Multimodal.synthWavCorpus(Tables.documents(s, dir)))),
    // REAL-codec audio resample (r16, the thumbnail's audio twin):
    // decimate by 2 (exact sample selection, no float kernel),
    // re-encode at half rate, REALLY re-decode — the oracle replays
    // the kept samples from the recipe bit-for-bit
    "mm_audio_decimate" -> ((s, dir) =>
      Multimodal.decodeAudioStats(Multimodal.audioDecimate(
        Multimodal.synthWavCorpus(Tables.documents(s, dir))))),
    // feature extraction over the REALLY-decoded samples: RMS / peak
    // / zero-crossings, all exact-integer-derived (one sqrt), so the
    // whole row replays bit-for-bit through the codec round trip
    "mm_audio_features" -> ((s, dir) =>
      Multimodal.audioFeatures(
        Multimodal.synthWavCorpus(Tables.documents(s, dir)))),
    // PERCEPTUAL near-dup over DECODED pixels: dHash gradient signs
    // survive re-encoding, so the planted PNG→BMP copies (identical
    // pixels, zero shared container bytes) pair HERE while the
    // chunk-hash tier structurally misses them; banding is lossless
    // (bands > maxHamming) so the oracle is the exhaustive all-pairs
    // definition with no candidate rule
    "mm_phash_pairs" -> ((s, dir) =>
      Multimodal.phashPairs(sharedPhashSigs(s, dir))),
    // the keep decision over the perceptual pairs: BMP re-encodes
    // suppress, PNG originals survive
    "mm_phash_dedup" -> ((s, dir) =>
      Multimodal.phashSummary(sharedPhashSigs(s, dir))),
    "mm_phash_groups" -> ((s, dir) => sharedPhashGroups(s, dir)),
    // keep-THE-BEST-copy over the image closure (r14): survivor =
    // highest decoded pixel count, ties min id — the store carries
    // the rank key, no second decode; same closure as groups
    "mm_phash_keep_best" -> ((s, dir) =>
      Multimodal.phashKeepBest(sharedPhashSigs(s, dir),
        sharedPhashGroups(s, dir))),
    // nightly-ingest perceptual dedup: new batch (doc_id % 5 == 1 —
    // half planted BMP re-encodes that must match, half originals
    // that must not) probes the signature STORE of the rest; both
    // sides thread the pinned store, so history pays zero codec work
    "mm_phash_incremental" -> ((s, dir) => {
      val sigs = sharedPhashSigs(s, dir)
      Multimodal.phashIncremental(
        newSigs = sigs.filter(col("doc_id") % 5 === 1),
        storeSigs = sigs.filter(col("doc_id") % 5 =!= 1))
    }),
    // perceptual AUDIO near-dup (r13): sign-of-delta signatures over
    // really-decoded PCM — volume-scaled copies (doc_id % 10 == 1,
    // truncation-halved samples) pair here while every byte tier
    // misses them; banding lossless, oracle exhaustive
    "mm_audio_sig_pairs" -> ((s, dir) =>
      Multimodal.audioSigPairs(sharedAudioSigs(s, dir))),
    "mm_audio_sig_dedup" -> ((s, dir) =>
      Multimodal.audioSigDedup(sharedAudioSigs(s, dir))),
    "mm_audio_sig_groups" -> ((s, dir) => sharedAudioGroups(s, dir)),
    // OFFSET-ROBUST audio pairs (r14): winnowed per-window
    // sign-of-delta fingerprints — trimmed copies (doc_id % 10 == 1,
    // first 37 samples cut) pair with their masters here while the
    // prefix tier provably misses them (spec-pinned)
    "mm_audio_winnow_pairs" -> ((s, dir) =>
      Multimodal.audioWinnowPairs(sharedAudioWinnowSigs(s, dir))),
    // summary tail over the winnow pairs: keep = no smaller-id
    // offset-duplicate, score = shared-fingerprint count
    "mm_audio_winnow_dedup" -> ((s, dir) =>
      Multimodal.audioWinnowDedup(sharedAudioWinnowSigs(s, dir))),
    // closure over the winnow pairs: a trim of a trim chains to its
    // master; completes the tier's pairs → groups → incremental
    // parity (r15: reads the pinned closure the keep-best key shares)
    "mm_audio_winnow_groups" -> ((s, dir) => sharedAudioWinnowGroups(s, dir)),
    // nightly-ingest twin: new batch (doc_id % 5 == 1 — half trimmed
    // copies that must match, half originals that must not) probes
    // the winnowed fingerprint store; history pays zero codec work
    "mm_audio_winnow_incremental" -> ((s, dir) => {
      val sigs = sharedAudioWinnowSigs(s, dir)
      Multimodal.audioWinnowIncremental(
        newSigs = sigs.filter(col("doc_id") % 5 === 1),
        storeSigs = sigs.filter(col("doc_id") % 5 =!= 1))
    }),
    // winnow keep-best (r15): survivor = longest decoded recording
    // over the OFFSET-duplicate closure — and the first keep-best
    // whose rank ORDERING is oracle-covered: extension copies
    // (doc_id % 20 == 11) are longer than their smaller-id masters,
    // so rank and min-id disagree on real fixture rows
    "mm_audio_winnow_keep_best" -> ((s, dir) =>
      Multimodal.audioWinnowKeepBest(sharedAudioWinnowSigs(s, dir),
        sharedAudioWinnowGroups(s, dir))),
    // CROP-ROBUST image pairs (r15): winnowed per-tile gradient
    // fingerprints — cropped copies (doc_id % 10 == 1, an 8×8 crop
    // of the previous doc's 12×12 pixels at offset (2,3)) pair with
    // their masters here while the whole-image tier structurally
    // cannot see them (spec-pinned, the audio-winnow pattern)
    "mm_phash_winnow_pairs" -> ((s, dir) =>
      Multimodal.imageWinnowPairs(sharedImageWinnowSigs(s, dir))),
    // summary tail over the crop pairs: keep = no smaller-id
    // crop-duplicate, score = shared-fingerprint count
    "mm_phash_winnow_dedup" -> ((s, dir) =>
      Multimodal.imageWinnowDedup(sharedImageWinnowSigs(s, dir))),
    // closure over the crop pairs: a crop of a crop chains to its
    // master; pinned, shared with the keep-best key
    "mm_phash_winnow_groups" -> ((s, dir) => sharedImageWinnowGroups(s, dir)),
    // image winnow keep-best (r15): survivor = highest decoded pixel
    // count over the crop-duplicate closure — padded restorations
    // (doc_id % 20 == 11) are LARGER than their smaller-id masters,
    // so the rank ordering is oracle-covered, not just the tie-break
    "mm_phash_winnow_keep_best" -> ((s, dir) =>
      Multimodal.imageWinnowKeepBest(sharedImageWinnowSigs(s, dir),
        sharedImageWinnowGroups(s, dir))),
    // nightly-ingest twin: new batch (doc_id % 5 == 1 — half cropped
    // copies that must match, half originals that must not) probes
    // the winnowed fingerprint store; history pays zero codec work
    "mm_phash_winnow_incremental" -> ((s, dir) => {
      val sigs = sharedImageWinnowSigs(s, dir)
      Multimodal.imageWinnowIncremental(
        newSigs = sigs.filter(col("doc_id") % 5 === 1),
        storeSigs = sigs.filter(col("doc_id") % 5 =!= 1))
    }),
    // audio keep-best (r14): survivor = longest decoded recording
    // (sample count off the store), ties min id; groups' closure
    "mm_audio_keep_best" -> ((s, dir) =>
      Multimodal.audioSigKeepBest(sharedAudioSigs(s, dir),
        sharedAudioGroups(s, dir))),
    // nightly-ingest audio dedup (r13): new batch (doc_id % 5 == 1 —
    // half re-leveled copies that must match, half originals that
    // must not) probes the signature store; history pays zero codec
    "mm_audio_sig_incremental" -> ((s, dir) => {
      val sigs = sharedAudioSigs(s, dir)
      Multimodal.audioSigIncremental(
        newSigs = sigs.filter(col("doc_id") % 5 === 1),
        storeSigs = sigs.filter(col("doc_id") % 5 =!= 1))
    }),
    "mm_frame_sample" -> ((s, dir) => Multimodal.frameSample(Tables.documents(s, dir))),
    // video scene structure (r15): cuts = consecutive-frame luma
    // jumps over the stub decode's exact-rational luma; the shot
    // summary drives frame-sampling budgets (one keyframe per shot)
    "mm_scene_cuts" -> ((s, dir) =>
      Multimodal.sceneCuts(Tables.documents(s, dir))),
    "mm_shot_stats" -> ((s, dir) =>
      Multimodal.shotStats(Tables.documents(s, dir))),
    // the budget consumer: one keyframe per shot (first frame of
    // each), numbered in playback order — same shared cut rule
    "mm_keyframe_sample" -> ((s, dir) =>
      Multimodal.keyframeSample(Tables.documents(s, dir))),
    "mm_chunk_dedup" -> ((s, dir) => Multimodal.chunkDedup(Tables.documents(s, dir))),
    "q_priority_mix" -> ((s, dir) => Analytics.priorityMix(Tables.orders(s, dir))),
    "q_segment_migration" -> ((s, dir) =>
      Analytics.segmentMigration(Tables.orders(s, dir))),
    "q_rfm_segments" -> ((s, dir) =>
      Analytics.rfmSegments(Tables.orders(s, dir))),
    // the shared pair relation IS the affinity result — consume the
    // cache instead of re-deriving it
    "q_basket_affinity" -> ((s, dir) => sharedBasketPairs(s, dir)),
    "q_basket_rules" -> ((s, dir) =>
      Analytics.basketRules(sharedBasketTrunk(s, dir))),
    "q_cohort_ltv" -> ((s, dir) => Analytics.cohortLtv(Tables.orders(s, dir))),
    "q_segment_quartiles" -> ((s, dir) =>
      Analytics.segmentQuartiles(Tables.customer(s, dir))),
    // graduated r16 via the calibration pattern: exact anchors +
    // each-engine's-own-sketch booleans (HLL ratio; percentiles by
    // tie-safe rank containment — the only cross-engine-fair
    // criterion for GK vs t-digest internals)
    "events_approx_stats" -> ((s, dir) =>
      EventOps.typeStatsCalibration(Tables.events(s, dir))),
    // r16: graduated from rows-only to a full oracle via the
    // sketch-calibration pattern — exact anchor columns + the
    // engine's-own-sketch-within-tol boolean (the sketch
    // inclusion–exclusion route still runs inside the boolean)
    "events_audience_overlap" -> ((s, dir) =>
      EventOps.overlapCalibration(Tables.events(s, dir))),
    // graduated r16 via the calibration pattern, through the LONGER
    // compacted route (day store → month compaction → merged reach):
    // exact month-window anchor + the engine's-own-lifecycle-
    // within-5% boolean — additionally gates compaction losslessness
    "events_sketch_reach" -> ((s, dir) =>
      EventOps.reachCalibration(Tables.events(s, dir),
        "2024-01-01", "2024-02-01")),
    // the ORACLED calibration claim over the same sketch-store route:
    // exact anchor + each engine's own-sketch-within-5% boolean —
    // bit-comparable where the raw estimate can never be
    "events_sketch_calibration" -> ((s, dir) =>
      EventOps.sketchCalibration(Tables.events(s, dir),
        "2024-01-05", "2024-01-15")),
    // §2.G streaming (batch twins of the streaming transforms)
    "stream_events_hourly" -> ((s, dir) =>
      graft.streaming.EventStream.hourlyWindow(Tables.events(s, dir))),
    "stream_dedup" -> ((s, dir) =>
      graft.streaming.EventStream.dedupEvents(Tables.events(s, dir))),
    "stream_join" -> ((s, dir) =>
      graft.streaming.EventStream.purchaseClickJoin(Tables.events(s, dir))),
    // §2.B relational breadth (round 2)
    "q_min_cost_supplier" -> ((s, dir) =>
      Analytics.minCostSupplier(Tables.lineitem(s, dir), Tables.supplier(s, dir),
        Tables.part(s, dir))),
    "q_nation_volume" -> ((s, dir) =>
      Analytics.nationVolume(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir))),
    "q_important_parts" -> ((s, dir) =>
      Analytics.importantParts(Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q_large_orders" -> ((s, dir) =>
      Analytics.largeOrders(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir))),
    "q_window_features" -> ((s, dir) =>
      Analytics.windowFeatures(Tables.orders(s, dir))),
    // §2.E sampling / packing / ranking (round 2)
    "sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedSample(Tables.documents(s, dir), "doc_id", "source",
        rates = Map("src0" -> 0.5, "src1" -> 0.05), defaultRate = 0.25)
        .select("doc_id", "source", "lang")),
    "sample_uniform_k" -> ((s, dir) =>
      Sampling.uniformKPerStratum(Tables.documents(s, dir), "doc_id", "source", k = 5)
        .select("source", "sample_rank", "doc_id")),
    "docs_pack_sequences" -> ((s, dir) =>
      Packing.packSequences(Tables.documents(s, dir))),
    "docs_padding_efficiency" -> ((s, dir) =>
      // padTo=32 so the testdata's 10–99-token docs spread over
      // several buckets (the 128 default collapses them into one)
      Packing.paddingEfficiency(Tables.documents(s, dir), padTo = 32L)),
    "docs_source_cap" -> ((s, dir) =>
      operators.Curation.sourceCap(Tables.documents(s, dir), cap = 10)),
    "sketch_compact" -> ((s, dir) =>
      EventOps.compactSketches(
        EventOps.dailyAudienceSketches(Tables.events(s, dir)))
        .select("month", "event_type", "n_day_rows", "n_events")),
    "text_tfidf_top3" -> ((s, dir) =>
      TextAnalysis.tfidfTopTerms(Tables.documents(s, dir))),
    "text_length_histogram" -> ((s, dir) =>
      TextAnalysis.lengthHistogram(Tables.documents(s, dir))),
    "text_lm_score" -> ((s, dir) =>
      TextAnalysis.lmScore(Tables.documents(s, dir))),
    "q_event_transitions" -> ((s, dir) =>
      EventOps.eventTransitions(Tables.events(s, dir))),
    "q_above_avg_orders" -> ((s, dir) =>
      Analytics.aboveAvgOrders(Tables.orders(s, dir))),
    "ann_pq_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // m=16 (4-dim subspaces), 32-entry codebooks; r17 rerank 8→16
      // (docs/ANN_SWEEP.md r17 axis: 0.815 → 0.915 measured at
      // sf0.1 — flat PQ's loss is pure rank error, so the exact
      // rerank of twice the candidates buys it back at
      // O(queries·16) re-reads; the 16× scan-bandwidth cut of the
      // code scan is untouched)
      Similarity.pqTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10,
        m = 16, nCodes = 32, rerank = 16)
    }),
    "q_brand_revenue_salted" -> ((s, dir) =>
      Analytics.brandRevenueSalted(Tables.lineitem(s, dir), Tables.part(s, dir))),
    "stream_session_window" -> ((s, dir) =>
      graft.streaming.EventStream.sessionWindowAgg(Tables.events(s, dir))),
    "q_events_engagement" -> ((s, dir) =>
      EventOps.engagement(Tables.events(s, dir))),
    "q_grouping_sets" -> ((s, dir) =>
      Analytics.groupingSetsRevenue(Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir))),
    "stream_dedup_within_wm" -> ((s, dir) =>
      graft.streaming.EventStream.dedupEventsWithinWatermark(Tables.events(s, dir))),
    "q_yoy_growth" -> ((s, dir) =>
      Analytics.yoyGrowth(Tables.orders(s, dir), Tables.customer(s, dir),
        Tables.nation(s, dir))),
    "q_market_share" -> ((s, dir) =>
      Analytics.marketShare(Tables.lineitem(s, dir), Tables.orders(s, dir),
        Tables.customer(s, dir), Tables.supplier(s, dir), Tables.nation(s, dir),
        Tables.region(s, dir))),
    "q_supplier_variety" -> ((s, dir) =>
      Analytics.supplierVariety(Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q_heavy_suppliers" -> ((s, dir) =>
      Analytics.heavySuppliers(Tables.lineitem(s, dir), Tables.supplier(s, dir))),
    "etl_quarantine" -> ((s, dir) =>
      RetailEtl.quarantine(RetailEtl.combine(onlineSales(s, dir), storeSales(s, dir)))),
    "etl_run_report" -> ((s, dir) =>
      RetailEtl.runReport(onlineSales(s, dir), storeSales(s, dir))),
    "etl_freshness" -> ((s, dir) =>
      RetailEtl.feedFreshness(Seq(
        "online" -> onlineSales(s, dir),
        "in_store" -> storeSales(s, dir)))),
    "etl_grain_check" -> ((s, dir) =>
      RetailEtl.grainCheck(
        RetailEtl.salesFromLineitem(Tables.lineitem(s, dir)),
        Seq("sale_id" -> Seq("sale_id"),
          "product_day" -> Seq("product_id", "sale_date")))),
    "ann_ivfpq_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // nCodes=32 + rerank=16 (late-r9) + nprobe=14 (r17: the sweep
      // showed the residual loss at nprobe=12 was CELL miss, not
      // rank error — rerank 16→32 moved 0.840 only to 0.865 while
      // nprobe 12→14 lifted it to 0.895 at unchanged rerank; scan
      // fraction 14/16 of code bytes, still codes-only-proportional)
      Similarity.ivfPqTopK(e, e.filter(col("vec_id") % 100 === 0), k = 10,
        nprobe = 14, m = 16, nCodes = 32, rerank = 16)
    }),
    "ann_ivfpq_res_topk" -> ((s, dir) => {
      val e = Tables.embeddings(s, dir)
      // one refinement round: the index is train-once/probe-forever,
      // but the bench bills training per run. Late-r9 retune
      // (nCodes=32, rerank=16) + r15 nprobe 8→12 — measured 0.780 →
      // 0.920 at sf0.1 (docs/ANN_SWEEP.md r15 axis), the same probe
      // escalation the plain IVF-PQ tier took in r14
      Similarity.ivfPqResidualTopK(e, e.filter(col("vec_id") % 100 === 0),
        k = 10, nprobe = 12, m = 16, nCodes = 32, rerank = 16,
        kmeansIters = 1)
    }),
    "q_status_priority" -> ((s, dir) =>
      Analytics.statusPriorityMatrix(Tables.orders(s, dir))),
    "q_skyline" -> ((s, dir) =>
      Analytics.skyline(Tables.part(s, dir))),
    "q_price_fill" -> ((s, dir) =>
      Analytics.priceFill(Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q_brand_trend" -> ((s, dir) =>
      Analytics.brandTrend(Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q_abc_class" -> ((s, dir) =>
      Analytics.abcClass(Tables.lineitem(s, dir))),
    "q_order_backlog" -> ((s, dir) =>
      Analytics.orderBacklog(Tables.orders(s, dir), Tables.lineitem(s, dir))),
    "q_gini_revenue" -> ((s, dir) =>
      Analytics.giniRevenue(Tables.lineitem(s, dir))),
    "q_supplier_hhi" -> ((s, dir) =>
      Analytics.supplierHhi(Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q_discount_elasticity" -> ((s, dir) =>
      Analytics.discountElasticity(Tables.lineitem(s, dir),
        Tables.part(s, dir))),
    "q_basket_sizes" -> ((s, dir) =>
      Analytics.basketSizes(Tables.lineitem(s, dir))),
    "q_part_size_stats" -> ((s, dir) =>
      Analytics.partSizeStats(Tables.part(s, dir))),
    "mm_type_summary" -> ((s, dir) =>
      Multimodal.typeSummary(Tables.documents(s, dir))),
    "mm_blob_policy" -> ((s, dir) =>
      Multimodal.blobPolicy(Tables.documents(s, dir))),
    "mm_blob_dedup_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Multimodal.incrementalBlobPairs(
        d.filter(col("doc_id") % 10 === 0), d.filter(col("doc_id") % 10 =!= 0))
    }),
    "sample_uniform_k_agg" -> ((s, dir) =>
      Sampling.uniformKPerStratumAgg(Tables.documents(s, dir), "doc_id", "source", k = 5)
        .select("source", "sample_rank", "doc_id")),
    "text_trigram_affinity" -> ((s, dir) =>
      // profile from a 25% deterministic sample (the scale default);
      // the oracle replays the identical md5 filter
      TextAnalysis.charTrigramAffinity(Tables.documents(s, dir),
        profileRate = 0.25)),
    "q_shipping_delay" -> ((s, dir) =>
      Analytics.shippingDelay(Tables.lineitem(s, dir), Tables.orders(s, dir))),
    "q_return_rate" -> ((s, dir) =>
      Analytics.returnRateByBrand(Tables.lineitem(s, dir), Tables.part(s, dir))),
    "dedup_exact_apply" -> ((s, dir) =>
      Dedup.exactApply(Tables.documents(s, dir))),
    // round 4: deterministic near-dup, SCD2, Q15/Q17, activity/Zipf
    // the eight queries below all consume the same default-parameter
    // blocked-pair relation — computed once via [[sharedBlockedPairs]]
    "dedup_blocked_suppress" -> ((s, dir) =>
      Dedup.nearDupSuppress(Tables.documents(s, dir),
        sharedBlockedPairs(s, dir))),
    "dedup_ngram_blocked" -> ((s, dir) => sharedBlockedPairs(s, dir)),
    "dedup_threshold_histogram" -> ((s, dir) =>
      Dedup.thresholdHistogram(sharedTrunk(s, dir))),
    "docs_novelty" -> ((s, dir) =>
      Dedup.noveltyProfile(Tables.documents(s, dir))),
    "docs_boilerplate_prefix" -> ((s, dir) =>
      TextAnalysis.boilerplatePrefix(Tables.documents(s, dir))),
    "dedup_ngram_contain" -> ((s, dir) =>
      Dedup.blockedContainmentPairs(sharedTrunk(s, dir))),
    "dedup_source_matrix" -> ((s, dir) =>
      Dedup.crossSourceMatrix(sharedBlockedPairs(s, dir),
        Tables.documents(s, dir))),
    "dedup_source_rate" -> ((s, dir) =>
      Dedup.nearDupRateBySource(sharedBlockedPairs(s, dir),
        Tables.documents(s, dir))),
    // oracle-checked components twin: deterministic blocked pairs in,
    // DuckDB WITH RECURSIVE transitive closure as the ground truth
    "dedup_groups_blocked" -> ((s, dir) =>
      Dedup.dedupGroups(Tables.documents(s, dir),
        sharedBlockedPairs(s, dir))),
    "dedup_cluster_sizes" -> ((s, dir) =>
      Dedup.clusterSizeHistogram(
        Dedup.dedupGroups(Tables.documents(s, dir),
          sharedBlockedPairs(s, dir)))),
    // survivor SELECTION policy over the same components: keep the
    // longest member (most complete copy), not the smallest id
    "dedup_keep_best" -> ((s, dir) =>
      Dedup.keepBest(Tables.documents(s, dir),
        sharedBlockedPairs(s, dir))),
    // thresholds calibrated to the testdata's rate/quality spread so
    // every policy branch is exercised (and oracle-compared)
    "docs_source_policy" -> ((s, dir) =>
      operators.Curation.sourcePolicy(Tables.documents(s, dir),
        dropDupRate = 0.18, capQuality = 0.2,
        pairs = sharedBlockedPairs(s, dir))),
    // cap=8 trims the capped sources (25 docs each at sf0.01)
    "docs_source_policy_apply" -> ((s, dir) =>
      operators.Curation.applySourcePolicy(Tables.documents(s, dir),
        dropDupRate = 0.18, capQuality = 0.2, cap = 8,
        pairs = sharedBlockedPairs(s, dir))),
    "docs_quality_dup_profile" -> ((s, dir) =>
      operators.Curation.qualityDupProfile(Tables.documents(s, dir),
        pairs = sharedBlockedPairs(s, dir))),
    "dedup_edit_distance" -> ((s, dir) =>
      Dedup.editDistancePairs(sharedTrunk(s, dir),
        Tables.documents(s, dir))),
    // incremental ingest split: doc_id % 10 == 0 plays the new batch
    "dedup_incremental" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.incrementalExact(
        d.filter(col("doc_id") % 10 === 0), d.filter(col("doc_id") % 10 =!= 0))
    }),
    "dedup_incremental_pairs" -> ((s, dir) => {
      val d = Tables.documents(s, dir)
      Dedup.incrementalNearDupPairs(
        d.filter(col("doc_id") % 10 === 0), d.filter(col("doc_id") % 10 =!= 0))
    }),
    "docs_curate_incremental" -> ((s, dir) => {
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
    }),
    "q_top_supplier" -> ((s, dir) =>
      Analytics.topSupplier(Tables.lineitem(s, dir), Tables.supplier(s, dir))),
    "q_small_qty_revenue" -> ((s, dir) =>
      Analytics.smallQtyRevenue(Tables.lineitem(s, dir), Tables.part(s, dir))),
    "q_pareto_revenue" -> ((s, dir) =>
      Analytics.paretoRevenue(Tables.lineitem(s, dir))),
    "etl_cdc_apply" -> ((s, dir) =>
      operators.EventOps.cdcApply(Tables.events(s, dir))),
    "etl_dq_profile" -> ((s, dir) =>
      operators.RetailEtl.dqProfile(Tables.lineitem(s, dir),
        Seq("l_partkey", "l_returnflag", "l_shipdate", "l_quantity"))),
    // the single-pass HLL twin, graduated r16 via the calibration
    // pattern: exact profile anchors + the engine's-own-HLL-
    // within-5% boolean (the HLL route still runs inside it)
    "etl_dq_profile_approx" -> ((s, dir) =>
      operators.RetailEtl.dqCalibration(Tables.lineitem(s, dir),
        Seq("l_partkey", "l_returnflag", "l_shipdate", "l_quantity"))),
    // the ONE-SCAN calibration (r17): unpivot-first, exact distinct
    // + HLL in one aggregate per column — the 100 TB form for when
    // the fact scan dominates (see dqCalibration's measured shape
    // note); same output contract, same oracle
    "etl_dq_profile_onescan" -> ((s, dir) =>
      operators.RetailEtl.dqCalibrationOneScan(Tables.lineitem(s, dir),
        Seq("l_partkey", "l_returnflag", "l_shipdate", "l_quantity"))),
    "etl_check_constraints" -> ((s, dir) =>
      operators.RetailEtl.checkConstraints(Tables.lineitem(s, dir), Seq(
        ("qty_in_range", col("l_quantity") >= 1 && col("l_quantity") <= 50),
        ("qty_le_30", col("l_quantity") <= 30), // deliberately failing
        ("discount_in_range",
          col("l_discount") >= 0.0 && col("l_discount") <= 0.1),
        ("price_positive", col("l_extendedprice") > 0),
        ("returnflag_enum", col("l_returnflag").isin("A", "N", "R")),
        ("ship_in_horizon",
          col("l_shipdate") >= lit("1992-01-01") &&
            col("l_shipdate") < lit("1999-01-01"))))),
    "etl_fd_violations" -> ((s, dir) =>
      operators.RetailEtl.fdAudit(Tables.lineitem(s, dir), Seq(
        // the composite PK determines everything (holds); a part is
        // multi-sourced and an order multi-line, so the other two are
        // the documented BROKEN claims the audit exists to expose
        ("pk_determines_part", Seq("l_orderkey", "l_linenumber"), "l_partkey"),
        ("part_determines_supplier", Seq("l_partkey"), "l_suppkey"),
        ("order_determines_linestatus", Seq("l_orderkey"), "l_linestatus")))),
    "etl_referential_integrity" -> ((s, dir) =>
      operators.RetailEtl.riAudit(Seq(
        ("lineitem_orders", Tables.lineitem(s, dir), "l_orderkey",
          Tables.orders(s, dir), "o_orderkey"),
        ("lineitem_part", Tables.lineitem(s, dir), "l_partkey",
          Tables.part(s, dir), "p_partkey"),
        ("orders_customer", Tables.orders(s, dir), "o_custkey",
          Tables.customer(s, dir), "c_custkey"),
        ("customer_nation", Tables.customer(s, dir), "c_nationkey",
          Tables.nation(s, dir), "n_nationkey")))),
    "etl_dq_drift" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      operators.RetailEtl.dqDrift(
        li.filter(year(col("l_shipdate")) === 1995),
        li.filter(year(col("l_shipdate")) === 1996),
        Seq("l_partkey", "l_returnflag", "l_shipdate", "l_quantity"))
    }),
    "etl_table_diff" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      // two period snapshots of the product summary; quantities are
      // integer-valued and prices cent-precision, so both sums run on
      // exact integers — the changed/unchanged classification is
      // engine-stable with no rounding step at all
      def snap(yr: Int) = li.filter(year(col("l_shipdate")) === yr)
        .groupBy(col("l_partkey").as("product_id"))
        .agg(sum(col("l_quantity").cast("long")).cast("double")
          .as("total_quantity"),
          (sum(round(col("l_extendedprice") * 100, 0).cast("long"))
            .cast("double") / 100.0).as("total_sale_amount"))
      operators.RetailEtl.tableDiff(snap(1995), snap(1996),
        Seq("product_id"), Seq("total_quantity", "total_sale_amount"))
    }),
    "etl_scd2_user_state" -> ((s, dir) =>
      EventOps.scd2UserState(Tables.events(s, dir))),
    // the shared batch/stream SCD2 path — batch fold of sorted
    // history ≡ the relational run-collapse (shares the oracle)
    "stream_scd2" -> ((s, dir) =>
      graft.streaming.EventStream.scd2State(Tables.events(s, dir))),
    "etl_dim_asof_enrich" -> ((s, dir) =>
      EventOps.enrichPointInTime(Tables.events(s, dir))),
    "etl_dim_asof_coverage" -> ((s, dir) =>
      EventOps.asofCoverage(Tables.events(s, dir))),
    "q_new_vs_returning" -> ((s, dir) =>
      EventOps.newVsReturning(Tables.events(s, dir))),
    "events_user_lifespan" -> ((s, dir) =>
      EventOps.userLifespan(Tables.events(s, dir))),
    // bounded-state percentile_approx twin, graduated r16 via the
    // calibration pattern: exact rollup anchors + tie-safe
    // rank-containment booleans for the engine's own sketch
    "events_user_lifespan_approx" -> ((s, dir) =>
      EventOps.lifespanCalibration(Tables.events(s, dir))),
    "text_zipf_spectrum" -> ((s, dir) =>
      TextAnalysis.zipfSpectrum(Tables.documents(s, dir))),
    "text_readability" -> ((s, dir) =>
      TextAnalysis.readability(Tables.documents(s, dir))),
    "text_tokenizer_fertility" -> ((s, dir) =>
      TextAnalysis.tokenizerFertility(Tables.documents(s, dir))),
    "text_source_divergence" -> ((s, dir) =>
      TextAnalysis.sourceDivergence(Tables.documents(s, dir))),
    "events_type_psi" -> ((s, dir) =>
      EventOps.typePsi(Tables.events(s, dir))),
    "events_ab_ttest" -> ((s, dir) =>
      EventOps.abTest(Tables.events(s, dir))),
    "events_ab_sequential" -> ((s, dir) =>
      EventOps.abTestSequential(Tables.events(s, dir))),
    "events_ab_cuped" -> ((s, dir) =>
      EventOps.abTestCuped(Tables.events(s, dir))),
    "events_ab_mannwhitney" -> ((s, dir) =>
      EventOps.abTestMannWhitney(Tables.events(s, dir))),
    "events_ab_mde" -> ((s, dir) =>
      EventOps.abTestMde(Tables.events(s, dir))),
    "events_ab_srm" -> ((s, dir) =>
      EventOps.abSrmCheck(Tables.events(s, dir))),
    // AQP: Horvitz–Thompson sum estimate from the 10% hash sample,
    // exact answer + realized error beside it (the self-audit form)
    "q_revenue_sample_estimate" -> ((s, dir) =>
      Sampling.sampleEstimate(Tables.lineitem(s, dir), "l_orderkey",
        col("l_extendedprice") * (lit(1.0) - col("l_discount")),
        "l_returnflag")),
    // label-consistency audit: every vector's cosine to its own
    // label centroid (no threshold filter — float-boundary row sets
    // are engine-unstable; the cut belongs to the consumer)
    "emb_label_outliers" -> ((s, dir) =>
      Similarity.labelOutliers(Tables.embeddings(s, dir))),
    // streaming A/B monitor, batch-folded: watermarked daily partials
    // of the six sufficient statistics → the SHARED welchReadout
    // closed form; StreamingSpec drives the partial store through
    // MemoryStream micro-batches
    "stream_ab_readout" -> ((s, dir) =>
      graft.streaming.EventStream.abReadout(Tables.events(s, dir))),
    // compaction planner over a per-source synthetic file manifest
    // (file grain = doc_id % 37, bytes = exact char mass)
    "lake_compaction_plan" -> ((s, dir) =>
      graft.sources.Lake.compactionPlan(
        docFileManifest(s, dir))),
    // EXECUTE the plan's bins (r13): post-compaction manifest — one
    // merged file per (part, bin), byte mass conserved, parity specs
    // prove row identity and the monitor's trigger reset
    "lake_compaction_apply" -> ((s, dir) =>
      graft.sources.Lake.compactionApply(
        docFileManifest(s, dir))),
    // VACUUM planner (r15): snapshot-expiry decisions over the same
    // synthetic file manifest, extended with deterministic snapshot
    // lineage — live files keep, files removed inside the 2-snapshot
    // time-travel window keep, older tombstones expire with their
    // reclaimable bytes; pure metadata, O(files) rows
    "lake_vacuum_plan" -> ((s, dir) =>
      graft.sources.Lake.vacuumPlan(snapManifest(s, dir),
        currentSnap = 8L, retainSnaps = 2L)),
    // EXECUTE the expiry (r16): the post-vacuum manifest — exactly
    // the plan's keep rows; parity + byte conservation LakeSpec-held
    "lake_vacuum_apply" -> ((s, dir) =>
      graft.sources.Lake.vacuumApply(snapManifest(s, dir),
        currentSnap = 8L, retainSnaps = 2L)),
    // AS-OF read at the horizon boundary over the VACUUMED manifest
    // (r16): within-window reads resolve identically pre/post vacuum
    // (LakeSpec proves every in-window snapshot; below-horizon reads
    // throw instead of silently missing expired files)
    "lake_time_travel_read" -> ((s, dir) =>
      graft.sources.Lake.timeTravelRead(
        graft.sources.Lake.vacuumApply(snapManifest(s, dir),
          currentSnap = 8L, retainSnaps = 2L),
        asOfSnap = 6L, currentSnap = 8L, retainSnaps = 2L)),
    // batch fold of the live small-file monitor feeding the nightly
    // compaction plan: O(parts) state, trigger once 12 sub-300-byte
    // files accumulate (own oracle below)
    "stream_compaction_monitor" -> ((s, dir) =>
      graft.streaming.DocStream.compactionMonitorState(
        docFileManifest(s, dir))),
    // z-order layout plan: per file-bucket pruning-stat manifest
    // from the fixed-prefix interleaved key — bucket assignment is a
    // pure projection (no range sampling, no global sort); dims on
    // the 16-bit grid of ordersGrid16
    "lake_zorder_plan" -> ((s, dir) =>
      graft.sources.Lake.zorderPlan(ordersGrid16(s, dir), Seq("cust16", "day16"))),
    // EXECUTE the z-order plan (r14): every row routes to its
    // planned file, the POST-layout manifest emits with byte mass
    // (synthetic per-row payload, exact integers — the orders
    // fixture carries no text column) and the pruning stats the
    // written footers would carry; LakeSpec closes the loop —
    // fileSkippingOf over this manifest reproduces fileSkipping's
    // z-order skip rates
    "lake_zorder_apply" -> ((s, dir) =>
      graft.sources.Lake.zorderApply(
        ordersGrid16(s, dir,
          (col("o_orderkey") % 1901 + 128).cast("long").as("row_bytes")),
        Seq("cust16", "day16"), col("row_bytes"))),
    // the skip-rate readout BEHIND the z-order plan: same quantized
    // dims, same file count — z-order skips on the non-leading dim,
    // the single-sort layout cannot
    "lake_file_skipping" -> ((s, dir) =>
      graft.sources.Lake.fileSkipping(ordersGrid16(s, dir), Seq("cust16", "day16"))),
    // BM25 lexical retrieval over the SHARED scored-postings index
    // (billed to prime — the persisted-index economics: term
    // weights are computed at index time, queries only join + fold)
    "text_bm25_topk" -> ((s, dir) =>
      Similarity.bm25TopK(sharedBm25Postings(s, dir))),
    // the rank-SAFE exhaustive tier: MaxScore pruning (hash-sample θ
    // + per-token ub + BLOCK-MAX per-doc_id-range bounds) returns the
    // TRUE exhaustive top-k — the oracle scores every pair; the plan
    // prunes where the corpus lets it (spec-proven on Zipf shapes)
    "text_bm25_maxscore" -> ((s, dir) =>
      Similarity.bm25MaxScoreTopK(sharedBm25Postings(s, dir))),
    // the tokenizer-building step itself: 6 greedy BPE merges
    // learned from the corpus, training loop unrolled in the oracle
    "text_bpe_train" -> ((s, dir) =>
      TextAnalysis.bpeTrain(Tables.documents(s, dir))),
    // the trained merges applied back: per-word subword split +
    // chars-vs-tokens fertility of the LEARNED tokenizer
    "text_bpe_vocab" -> ((s, dir) =>
      TextAnalysis.bpeVocab(Tables.documents(s, dir))),
    // the learned tokenizer at CORPUS grain: broadcast the trained
    // vocabulary, one corpus scan, per-source token budget
    "text_bpe_apply" -> ((s, dir) =>
      TextAnalysis.bpeApply(Tables.documents(s, dir))),
    "events_disorder_profile" -> ((s, dir) =>
      EventOps.disorderProfile(Tables.events(s, dir))),
    "events_audience_overlap_exact" -> ((s, dir) =>
      EventOps.audienceOverlapExact(Tables.events(s, dir))),
    "events_value_psi" -> ((s, dir) =>
      EventOps.valuePsi(Tables.events(s, dir))),
    "events_markov_stationary" -> ((s, dir) =>
      EventOps.markovStationary(Tables.events(s, dir))),
    "events_activity_powerlaw" -> ((s, dir) =>
      EventOps.activityPowerlaw(Tables.events(s, dir))),
    "split_temporal_leakage" -> ((s, dir) =>
      DataSplit.temporalSplitAudit(Tables.events(s, dir), "ts", "user_id",
        "2024-01-21 00:00:00")),
    // batch fold of the sliding-window HLL actives, graduated r16
    // via the calibration pattern: exact per-window anchors + the
    // engine's-own-windowed-HLL boolean (the HLL agg still runs
    // inside); StreamingSpec keeps driving the watermarked stream
    "stream_sliding_actives" -> ((s, dir) =>
      graft.streaming.EventStream.slidingActivesCalibration(
        Tables.events(s, dir))),
    "etl_benford_check" -> ((s, dir) =>
      operators.RetailEtl.benfordCheck(Tables.orders(s, dir), "o_totalprice")),
    "q_seasonality_strength" -> ((s, dir) =>
      Analytics.seasonalityStrength(Tables.lineitem(s, dir))),
    "mm_dedup_by_type" -> ((s, dir) =>
      Multimodal.dedupByType(Tables.documents(s, dir))),
    "mm_format_psi" -> ((s, dir) =>
      Multimodal.formatPsi(Tables.documents(s, dir))),
    // batch fold of the live DQ monitor, graduated r16 via the
    // calibration pattern: the fold's exact columns + exact distinct
    // anchors + the engine's-own-HLL-state boolean (the fold still
    // runs inside); StreamingSpec holds cross-batch accumulation
    "stream_dq_profile" -> ((s, dir) =>
      graft.streaming.EventStream.dqStateCalibration(Tables.events(s, dir),
        Seq("user_id", "event_type", "value"))),
    // batch fold of the O(feeds)-state live freshness monitor —
    // aggregate + poll-side sibling comparison (own oracle below)
    "stream_freshness" -> ((s, dir) =>
      graft.streaming.EventStream.feedFreshnessState(Tables.events(s, dir))),
    "text_token_entropy" -> ((s, dir) =>
      TextAnalysis.tokenEntropy(Tables.documents(s, dir))),
    "q_concurrent_sessions" -> ((s, dir) =>
      EventOps.sessionConcurrency(Tables.events(s, dir))),
    "events_session_cooccur" -> ((s, dir) =>
      EventOps.sessionCooccur(Tables.events(s, dir))),
    "stream_user_state" -> ((s, dir) =>
      graft.streaming.EventStream.latestUserState(Tables.events(s, dir))),
    "stream_bot_flag" -> ((s, dir) =>
      graft.streaming.EventStream.botState(Tables.events(s, dir))),
    "stream_deseasonalized" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      graft.streaming.EventStream.deseasonalizedGate(e, EventOps.slotProfile(e))
    }),
    "stream_sample_uniform" -> ((s, dir) =>
      graft.streaming.DocStream.sampleState(Tables.documents(s, dir))),
    // batch fold of the O(1)-state admission quota — reproduces the
    // row_number window form (own oracle below)
    "stream_source_cap" -> ((s, dir) =>
      graft.streaming.DocStream.capState(Tables.documents(s, dir))),
    // batch fold of the O(1)-state TOKEN-budget admission — the
    // cumulative-sum window form is the oracle (own entry below)
    "stream_token_budget" -> ((s, dir) =>
      graft.streaming.DocStream.tokenBudgetState(Tables.documents(s, dir))),
    // the shared batch/stream CDC path, live rows only — shares
    // etl_cdc_apply's semantics (and an equivalent oracle)
    "stream_cdc_apply" -> ((s, dir) =>
      graft.streaming.EventStream.cdcState(Tables.events(s, dir))
        .filter(col("is_live"))
        .select("user_id", "state", "value", "ts")),
    // batch run of the shared-path streaming funnel state machine;
    // counting the non-null stage columns reproduces the
    // three-aggregate min-chain exactly — shares q_events_funnel's
    // oracle
    "stream_funnel" -> ((s, dir) =>
      graft.streaming.EventStream.funnelState(Tables.events(s, dir))
        .agg(count(col("signup_ts")).as("n_signup"),
          count(col("click_ts")).as("n_click_after"),
          count(col("purchase_ts")).as("n_purchase_after"))),
    // batch run of the streaming attribution state fold, aggregated
    // through the SAME day-grain rollup as the window form — shares
    // its oracle
    "stream_attribution" -> ((s, dir) =>
      EventOps.attributionDaily(
        graft.streaming.EventStream.attributionState(Tables.events(s, dir)))),
    // batch run of the first-seen state fold rolled up by day —
    // one group pass sees all history, so it equals the relational
    // first-seen join and shares q_new_vs_returning's oracle
    "stream_new_vs_returning" -> ((s, dir) =>
      EventOps.activeDayDaily(
        graft.streaming.EventStream.firstSeenState(Tables.events(s, dir)))),
    // batch run of the stateful flatMapGroupsWithState sessionizer —
    // (ts, event_id)-ordered fold at full µs precision reproduces the
    // lag+cumsum assignment exactly; session_seq re-derived by start
    // order over the SESSION-grain rows (|sessions| ≪ |events|), so
    // it shares q_events_sessionize's oracle
    "stream_sessionize" -> ((s, dir) => {
      import s.implicits._
      val sess = graft.streaming.EventStream.sessionize(
        Tables.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type", "value")
          .as[graft.streaming.EventStream.Event])
      val byStart = Window.partitionBy("user_id").orderBy("session_start")
      sess.toDF()
        .withColumn("session_seq", row_number().over(byStart).cast("long"))
        .select("user_id", "session_seq", "session_start", "session_end",
          "num_events", "total_value")
    }),
  )

  /** The DuckDB oracle of every key (see [[OracleSql]]). */
  def oracleSql: Map[String, String] = OracleSql.oracleSql
}
