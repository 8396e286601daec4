package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.keys._

/** Driver contract — see SURVEY.md §2 for the inventory. Each key is
  * one [[keys.Key]] entry in its family's file under `graft.keys`: its
  * name, its Spark query and its DuckDB oracle, side by side.
  */
object SparkEntry {

  /** Flagship: the reference's end-to-end sales summary on sf0.001. */
  def entry(spark: SparkSession): DataFrame =
    RetailEtlKeys.salesSummary(spark, "/root/testdata/sf0.001")

  private val families: Seq[Family] = Seq(RetailEtlKeys, AnalyticsKeys,
    EventKeys, TextKeys, CurationKeys, SamplingKeys, DedupKeys,
    SimilarityKeys, MultimodalKeys, LakeKeys, StreamKeys)

  /** Every key's entry by name, merged once per JVM from the family
    * lists; a name listed twice, or outside its family's prefixes,
    * fails the merge. */
  private[graft] lazy val registry: Map[String, Key] = Key.registry(families)

  /** Every key's Spark query, built once per JVM. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, key) => name -> key.build }

  /** The DuckDB oracle of `key`, built when asked for and shipped
    * [[keys.OracleFragments.flat]]. Only the family that owns `key`
    * builds its entries. */
  def oracleSql(key: String): String =
    families.find(_.owns(key)).flatMap(_.keys.find(_.name == key))
      .getOrElse(throw new NoSuchElementException(s"key not found: $key")).oracle

  /** Per-artifact build timings, recorded INSIDE each shared-artifact
    * getter — whoever triggers a build (the full-run
    * [[primeSharedCaches]], or a single key under the bench's lazy
    * subset prime) bills it to its artifact name. Bench dumps this
    * map as `prime_detail` in its detail file. Timings NEST
    * (shingle_sets + blocked_cands build inside blocked_pairs,
    * tf_postings inside bm25_index when the tf trunk isn't built
    * yet, the ann_* build entries inside ann_indexes /
    * ann_incr_indexes) and the full-run chains, like the independent
    * artifacts a cold curation key prefetches ([[keys.Shared.prefetch]]),
    * execute CONCURRENTLY, so `shared_prime` is the wall
    * clock of the slowest chain, not the sum of entries. Reading it
    * initializes [[keys.Shared]], which claims every artifact name. */
  val primeDetail: scala.collection.concurrent.TrieMap[String, Double] =
    Shared.primeDetail

  /** EXCLUSIVE per-store build time: [[primeDetail]] minus any nested
    * builds, so a prime regression names exactly ONE store instead of
    * every ancestor that happened to wrap it (blocked_pairs' inclusive
    * time moves whenever shingle_sets does; its exclusive time only
    * moves when the pair verify itself does). A build that waits on
    * builds running on other threads (`curate_flags` on gopher_flagged
    * and dup_ngram_docs, `ann_indexes` / `ann_incr_indexes` on their
    * ann_* children) sheds the wall time of that wait. */
  val primeSelf: scala.collection.concurrent.TrieMap[String, Double] =
    Shared.primeSelf

  /** Force-build every shared artifact for (session, dir). Bench calls
    * this ONCE and reports the time as its own line item — otherwise
    * min-of-two timing hides the build (first run pays it, second
    * hits the store) and the near-dup family's numbers silently
    * become verify-only, invisible to regression tracking. The
    * [[operators.AnnIndex]] builds are billed the same way: probes are
    * the steady-state cost, the build is the amortized one-time cost. */
  def primeSharedCaches(s: SparkSession, dir: String): Unit =
    Shared.primeAll(s, dir)

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
}
