package graft

import org.apache.spark.sql.DataFrame

import graft.operators.{Analytics, Curation, Dedup, Similarity, TextAnalysis}

/** Shared trunks for specs, built the way [[SparkEntry]]'s shared
  * artifacts build them: the public builder, pinned where its
  * `sharedFrame` pins (an eager local checkpoint). Specs feed the
  * operators the same composition the driver keys run. */
object SharedTrunks {

  def pin(df: DataFrame): DataFrame = df.localCheckpoint(true)

  /** `shingle_sets`: the blocking trunk's shingle sets. */
  def shingles(docs: DataFrame, n: Int = 3): DataFrame =
    pin(Dedup.blockingTrunk(docs, n).sets)

  /** `blocked_pairs`: verified Jaccard pairs over the blocking trunk. */
  def blockedPairs(docs: DataFrame): DataFrame =
    pin(Dedup.blockedJaccardPairs(Dedup.blockingTrunk(docs)))

  /** `dup_ngram_occ`, folded to per-doc duplicated start positions. */
  def dupStarts(docs: DataFrame, n: Int = 8): DataFrame =
    TextAnalysis.startsOfOcc(pin(
      TextAnalysis.dupNgramDupOcc(TextAnalysis.dupNgramToks(docs), n)))

  /** `dup_ngram_docs`: the doc-grain coverage fold over
    * [[dupStarts]]. */
  def dupDocs(docs: DataFrame, n: Int = 8): DataFrame =
    pin(TextAnalysis.dupNgramDocs(TextAnalysis.dupNgramToks(docs),
      dupStarts(docs, n), n))

  /** The dup-gram store `hist_dup_store` and `quality_dup_store`
    * build: the distinct n-grams of `dup_ngram_occ`. */
  def dupStore(docs: DataFrame): DataFrame =
    pin(TextAnalysis.dupNgramStore(
      TextAnalysis.dupNgramDupOcc(TextAnalysis.dupNgramToks(docs))))

  /** `gopher_flagged`: the 20-threshold Gopher pass over the quality
    * fixture. */
  def gopherFlagged(docs: DataFrame): DataFrame =
    pin(TextAnalysis.gopherFlagged(TextAnalysis.synthQualityCorpus(docs)))

  /** `curate_flags` over `docs`, its `embeddings` and a Gopher pass
    * (the driver's is [[gopherFlagged]]); every gate parameter but
    * `benchMod` at its default. */
  def curateFlags(docs: DataFrame, embeddings: DataFrame,
                  gopherFlags: DataFrame, benchMod: Int = 97): DataFrame = {
    val occ = pin(TextAnalysis.dupNgramDupOcc(TextAnalysis.dupNgramToks(docs)))
    pin(Curation.curateFlags(docs,
      gopherFlags = gopherFlags,
      dupDocs = pin(TextAnalysis.dupNgramDocs(
        TextAnalysis.dupNgramToks(docs), TextAnalysis.startsOfOcc(occ))),
      dupStarts = TextAnalysis.startsOfOcc(occ),
      embeddings = embeddings, benchMod = benchMod))
  }

  /** `bm25_index` over `tf_postings`. */
  def bm25Postings(docs: DataFrame): DataFrame =
    pin(Similarity.bm25Postings(pin(Similarity.termFreqs(docs))))

  /** `basket_trunk`: the guarded (order, part) baskets. */
  def baskets(lineitem: DataFrame): DataFrame =
    pin(Analytics.guardedBaskets(lineitem))

  /** `basket_pairs` over `basket_trunk`. */
  def basketPairs(lineitem: DataFrame): DataFrame =
    pin(Analytics.basketAffinity(baskets(lineitem)))
}
