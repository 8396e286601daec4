package graft
package keys

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

/** The shared artifacts: relations and indexes that several keys read,
  * each built once per (session, dir) through [[SharedArtifacts]] and
  * billed to its name in [[primeDetail]] and [[primeSelf]]. */
private[graft] object Shared {

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
  def pinned(plan: DataFrame): DataFrame = plan.localCheckpoint(true)

  /** Default-parameter [[Dedup.blockingTrunk]] over the documents
    * table (shingle sets + df-capped candidate pairs) and the verified
    * Jaccard pair relation over it. Eleven near-dup queries consume one
    * or both: the eight diagnostic/policy queries share the PAIRS, and
    * the containment / edit-distance / minhash variants share the
    * TRUNK (same blocking, different per-pair verify). Candidates and
    * pairs are pair-count-sized; the shingle sets are corpus-sized. */
  val sharedShingleSets = sharedFrame("shingle_sets")((s, dir) =>
    Dedup.blockingTrunk(Tables.documents(s, dir)).sets)
  // sets and candidates are separate artifacts: minhash/groups consume
  // only the sets, and must not pay the inverted-index candidate build
  // as a side effect of asking for them
  val sharedBlockedCands = sharedFrame("blocked_cands")((s, dir) =>
    Dedup.blockedCandidates(sharedShingleSets(s, dir)))
  def sharedTrunk(s: SparkSession, dir: String): Dedup.BlockingTrunk =
    Dedup.BlockingTrunk(sharedShingleSets(s, dir), sharedBlockedCands(s, dir))
  val sharedBlockedPairs = sharedFrame("blocked_pairs")((s, dir) =>
    Dedup.blockedJaccardPairs(sharedTrunk(s, dir)))

  // the 20-threshold Gopher metric+flag pass over the quality
  // fixture: gate, apply, cost, and the quality profile all read this
  // relation (the stream key keeps its own full code path: the
  // streaming plan IS its product)
  val sharedGopherFlagged = sharedFrame("gopher_flagged")((s, dir) =>
    TextAnalysis.gopherFlagged(
      TextAnalysis.synthQualityCorpus(Tables.documents(s, dir))))

  // perceptual-hash and perceptual-audio signature stores: production
  // persists these per corpus snapshot; the phash and audio keys read
  // the store instead of re-decoding
  val sharedPhashSigs = sharedFrame("phash_sigs")((s, dir) =>
    operators.Multimodal.phashSignatures(
      operators.Multimodal.synthMixedCorpus(Tables.documents(s, dir))))
  val sharedAudioSigs = sharedFrame("audio_sigs")((s, dir) =>
    operators.Multimodal.audioSignatures(
      operators.Multimodal.synthScaledWavCorpus(Tables.documents(s, dir))))

  // the perceptual GROUP closures: the groups key and its keep-best
  // twin read the same min-label relation, so the pointer-doubling
  // closure runs once
  val sharedPhashGroups = sharedFrame("phash_groups")((s, dir) =>
    operators.Multimodal.phashGroups(sharedPhashSigs(s, dir)))
  val sharedAudioGroups = sharedFrame("audio_groups")((s, dir) =>
    operators.Multimodal.audioSigGroups(sharedAudioSigs(s, dir)))

  // offset-robust winnowed audio fingerprints over the offset fixture
  // (the pairs and incremental keys read them) and their group closure
  // (groups + keep-best)
  val sharedAudioWinnowSigs = sharedFrame("audio_winnow_sigs")((s, dir) =>
    operators.Multimodal.audioWinnowSignatures(
      operators.Multimodal.synthOffsetWavCorpus(Tables.documents(s, dir))))
  val sharedAudioWinnowGroups = sharedFrame("audio_winnow_groups")((s, dir) =>
    operators.Multimodal.audioWinnowGroups(sharedAudioWinnowSigs(s, dir)))

  // crop-robust winnowed image fingerprints over the crop fixture (all
  // four image-winnow keys read them) and their group closure
  val sharedImageWinnowSigs = sharedFrame("image_winnow_sigs")((s, dir) =>
    operators.Multimodal.imageWinnowSignatures(
      operators.Multimodal.synthCropPngCorpus(Tables.documents(s, dir))))
  val sharedImageWinnowGroups = sharedFrame("image_winnow_groups")((s, dir) =>
    operators.Multimodal.imageWinnowGroups(sharedImageWinnowSigs(s, dir)))

  // the quality-FIXTURE corpus's dup-gram store + Bloom: the nightly
  // artifact the composed intake gate probes, built from the same
  // fixture corpus the gate streams
  val sharedQualityDupStore = shared("quality_dup_store") { (s, dir) =>
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
  val sharedHistDupStore = sharedFrame("hist_dup_store")((s, dir) =>
    TextAnalysis.dupNgramStore(TextAnalysis.dupNgramDupOcc(
      TextAnalysis.dupNgramToks(
        Tables.documents(s, dir).filter(col("doc_id") % 10 =!= 0)))))

  // the family's ONE corpus-wide n-gram window, pinned as the
  // DUPLICATED-occurrence relation (proportional to duplicated
  // positions, not the corpus): the coverage fold, the gate, the span
  // extraction, and the intake store all derive from it
  val sharedDupNgramOcc = sharedFrame("dup_ngram_occ")((s, dir) =>
    TextAnalysis.dupNgramDupOcc(
      TextAnalysis.dupNgramToks(Tables.documents(s, dir))))

  // the corpus-duplication coverage trunk: the doc-grain relation both
  // the source rollup and the per-doc gate read
  val sharedDupNgramDocs = sharedFrame("dup_ngram_docs")((s, dir) =>
    TextAnalysis.dupNgramDocs(
      TextAnalysis.dupNgramToks(Tables.documents(s, dir)),
      TextAnalysis.startsOfOcc(sharedDupNgramOcc(s, dir))))

  // the fused curate FLAGS relation: one row per doc carrying every
  // per-doc gate decision + residual billing — the intake gate table a
  // nightly pipeline persists. Both composition keys (full + funnel)
  // read it, so the gate chain's corpus work runs once.
  val sharedCurateFlags = sharedFrame("curate_flags") { (s, dir) =>
    prefetch(s, dir)(sharedGopherFlagged, sharedDupNgramDocs)
    operators.Curation.curateFlags(Tables.documents(s, dir),
      gopherFlags = sharedGopherFlagged(s, dir),
      dupDocs = sharedDupNgramDocs(s, dir),
      dupStarts = operators.TextAnalysis.startsOfOcc(
        sharedDupNgramOcc(s, dir)),
      embeddings = Tables.embeddings(s, dir))
  }

  // the persisted dup-gram STORE + its Bloom: production writes both
  // as nightly artifacts next to each other, and the intake gates probe
  // the Bloom map-side before the store join ever sees a row. Without
  // the shared build, every gate construction would pay the store
  // count + Bloom aggregate as serial driver actions.
  val sharedDupStore = shared("dup_store_bloom") { (s, dir) =>
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
  val annBaseIndexPaths = shared("ann_indexes") { (s, dir) =>
    val base = annIndexBaseDir(dir)
    val emb = Tables.embeddings(s, dir)
    val nFull = emb.count()
    waited(SharedArtifacts.concurrently(s)(
      () => primeTimed("ann_ivf_build")(
        AnnIndex.buildIvf(emb, s"$base/ivf", knownN = nFull)),
      () => primeTimed("ann_ivfpq_build")(
        AnnIndex.buildIvfPq(emb, s"$base/ivfpq", m = 16, nCodes = 32,
          knownN = nFull))))
    (s"$base/ivf", s"$base/ivfpq")
  }
  // the incremental twins: built on the even half ("yesterday"), the
  // odd half appended against the STORED centroids (and, for IVF-PQ,
  // STORED codebooks) — no retrain, no history rewrite (the
  // daily-ingest shape)
  val annIncrIndexPaths = shared("ann_incr_indexes") { (s, dir) =>
    val base = annIndexBaseDir(dir)
    val emb = Tables.embeddings(s, dir)
    val even = emb.filter(col("vec_id") % 2 === 0)
    val nEven = even.count()
    waited(SharedArtifacts.concurrently(s)(
      () => primeTimed("ann_ivf_incr") {
        AnnIndex.buildIvf(even, s"$base/ivf_incr", knownN = nEven)
        AnnIndex.appendIvf(emb.filter(col("vec_id") % 2 =!= 0), s"$base/ivf_incr")
      },
      () => primeTimed("ann_ivfpq_incr") {
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
  val annDelIndexPaths = shared("ann_del_indexes") { (s, dir) =>
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

  /** Inclusive build time per artifact: [[SparkEntry.primeDetail]]. */
  val primeDetail: scala.collection.concurrent.TrieMap[String, Double] =
    scala.collection.concurrent.TrieMap.empty

  /** Exclusive build time per artifact: [[SparkEntry.primeSelf]]. */
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

  /** Runs `f`, a block that waits on builds running on other threads,
    * and bills its wall time as child time of the enclosing build, so
    * that build's [[primeSelf]] sheds what it waited for. */
  private def waited(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally primeChildTime.set(
      primeChildTime.get() + (System.nanoTime() - t0) / 1e9)
  }

  /** Builds the artifacts of `getters` for (s, dir) concurrently, one
    * thread each, and returns when all are built. A builder calls it
    * over the independent artifacts it reads, so their plans and jobs
    * overlap instead of running back to back; the later getter calls
    * hit the store. An artifact already built or being built is not
    * built again ([[SharedArtifacts.getOrElseUpdate]]). */
  def prefetch(s: SparkSession, dir: String)(
      getters: ((SparkSession, String) => AnyRef)*): Unit =
    waited(SharedArtifacts.concurrently(s)(getters.map(g => () => g(s, dir)): _*))

  /** The basket family's shared pair engine: ONE guarded pair-count
    * build (the [[graft.operators.Analytics.basketAffinity]] relation
    * at the family defaults) reused by pagerank and the triangle
    * census — at 100 TB the pair build is the dominant shuffle, and
    * five queries re-deriving it is four wasted passes over the fact.
    * Derived from the pinned trunk (identical composition to
    * basketAffinity). */
  val sharedBasketTrunk = sharedFrame("basket_trunk")((s, dir) =>
    operators.Analytics.guardedBaskets(Tables.lineitem(s, dir)))
  val sharedBasketPairs = sharedFrame("basket_pairs")((s, dir) =>
    operators.Analytics.basketAffinity(sharedBasketTrunk(s, dir)))

  // shared lexical trunk: one tokenize+count pass (doc_id, tok, tf)
  // for the BM25 family — at 100 TB this is the postings table a
  // search pipeline persists per corpus snapshot
  val sharedTfPostings = sharedFrame("tf_postings")((s, dir) =>
    operators.Similarity.termFreqs(Tables.documents(s, dir)))

  // the SCORED postings index (doc_id, tok, tf, term) on top of the
  // tf trunk — BM25 term weights are an index-time artifact (an IR
  // system never recomputes idf per query), so the build is billed
  // to prime like the other persisted indexes
  val sharedBm25Postings = sharedFrame("bm25_index")((s, dir) =>
    operators.Similarity.bm25Postings(sharedTfPostings(s, dir)))


  // the CMS sketch relation shared by both text_cms keys: ≤ depth·width
  // rows, one tokenize+explode pass instead of one per key
  val sharedCmsSketch = sharedFrame("cms_sketch")((s, dir) =>
    operators.CountMin.sketch(Tables.documents(s, dir)))

  // the ML stores the RTBF pair erases from: without them, plan and
  // apply would pay the md5+minhash and tokenize+winnow passes
  // independently
  val sharedFingerprintRows = sharedFrame("fp_rows")((s, dir) =>
    operators.DedupStore.fingerprintRows(Tables.documents(s, dir)))
  val sharedWinnowFps = sharedFrame("winnow_fps")((s, dir) =>
    Tables.documents(s, dir).select(col("doc_id"), explode(
      graft.functions.gf.winnowFingerprints(col("text"), 3, 4)).as("fp")))

  // shared entity-resolution chain: the dirty-CRM fixture, its blocked
  // fuzzy pairs, and the transitive closure — read by all three
  // etl_entity_* keys (pairs feed the closure, the closure feeds
  // survivorship; rebuilding the chain per key would re-pay the
  // blocked join three times)
  val sharedCrmRecs = sharedFrame("crm_recs")((s, dir) =>
    operators.EntityResolution.synthCrmCorpus(Tables.customer(s, dir)))
  val sharedEntityPairs = sharedFrame("entity_pairs")((s, dir) =>
    operators.EntityResolution.entityPairs(sharedCrmRecs(s, dir)))
  val sharedEntityGroups = sharedFrame("entity_groups")((s, dir) =>
    operators.EntityResolution.entityGroups(sharedCrmRecs(s, dir),
      sharedEntityPairs(s, dir)))
  // the HISTORY entity store (base k%7≠0 + pos feeds, resolved by
  // their own closure) the incremental/stream intake keys probe —
  // what yesterday's nightly batch would have persisted
  val sharedEntityHistStore = sharedFrame("entity_store") { (s, dir) =>
    val hist = sharedCrmRecs(s, dir)
      .filter((col("rec_id") % 4).isin(0L, 2L) && col("rec_id") % 28 =!= 0)
    operators.EntityResolution.entityStore(hist,
      operators.EntityResolution.entityGroups(hist,
        operators.EntityResolution.entityPairs(hist)))
  }

  /** Builds every shared artifact for (session, dir): the full-run
    * prime behind [[SparkEntry.primeSharedCaches]]. */
  def primeAll(s: SparkSession, dir: String): Unit = {
    primeDetail.clear(); primeSelf.clear()
    // independent chains (disjoint artifacts, disjoint inputs beyond
    // the shared parquet scans) submit concurrently: each is a
    // sequence of small jobs whose wall cost is stage-scheduling
    // latency, not CPU — exactly what multi-threaded job submission
    // overlaps (and what a cluster runs as parallel pipelines).
    // Under spark.scheduler.mode=FAIR each chain submits into its
    // OWN pool (auto-created on first use; the root pool FAIR-shares
    // slots between pools): the single default pool is FIFO inside
    // even under FAIR mode. Under FIFO mode the pool is ignored. A
    // chain sets its pool on its own copy of the caller's properties,
    // and the builds it runs concurrently (the ann_* pairs) inherit it.
    // Billing: each getter times itself, so prime_detail still
    // attributes cost per artifact; shared_prime = slowest chain.
    def chain(pool: String)(build: => Any): () => Any = () => {
      s.sparkContext.setLocalProperty("spark.scheduler.pool", pool)
      build
    }
    SharedArtifacts.concurrently(s)(
      chain("prime_blocked")(sharedBlockedPairs(s, dir)),
      chain("prime_phash")(sharedPhashSigs(s, dir)),
      chain("prime_ngram")(sharedDupNgramDocs(s, dir)),
      chain("prime_basket") { sharedBasketTrunk(s, dir); sharedBasketPairs(s, dir) },
      chain("prime_bm25")(sharedBm25Postings(s, dir)),
      chain("prime_entity")(sharedEntityGroups(s, dir)),
      chain("prime_ann")(annBaseIndexPaths(s, dir)),
      chain("prime_ann_incr")(annIncrIndexPaths(s, dir)))
  }
}
