package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.CountMin

/** Streaming Count-Min maintenance — the sketch as LIVE state
  * (SURVEY §2.G × §2.E).
  *
  * The streaming query is the batch build itself: [[CountMin.sketch]]
  * is one projection + one groupBy-count, both streamable; run it
  * with `outputMode("update"|"complete")`.
  *
  * Unlike the zero-state intake gates, this stream is stateful on
  * purpose — and the point is that its state is CAPPED: the
  * streaming aggregation keys on (r, bucket), so the state store
  * holds at most depth·width counter rows no matter how long the
  * stream runs or how wide the vocabulary grows. That bounded-state
  * property is exactly what makes CMS the production choice for
  * "frequencies over an unbounded stream" — an exact streaming
  * vocabulary count would grow state with distinct tokens forever.
  *
  * The update rule is bucket-wise addition, so the final state after
  * any micro-batch split equals the batch sketch exactly (CountMin's
  * mergeability, spec-held) — which is why the driver key's replay
  * (per-batch partial sketches summed) shares `text_cms_sketch`'s
  * oracle verbatim.
  */
object SketchStream {

  /** Batch replay of the stream path (the driver key): the corpus
    * split into deterministic micro-batches, each batch's partial
    * sketch summed bucket-wise — the streaming state-update rule
    * applied associatively, result-identical to the single-pass
    * batch sketch. */
  def sketchReplay(docs: DataFrame, batches: Int = 2): DataFrame =
    (0 until batches).map { i =>
      CountMin.sketch(
        docs.filter(pmod(xxhash64(col("doc_id")), lit(batches)) === i))
    }.reduce(_ unionByName _)
      .groupBy("r", "bucket")
      .agg(sum("cnt").as("cnt"))
}
