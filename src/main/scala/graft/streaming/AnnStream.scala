package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.AnnIndex

/** Streaming ANN serving — arriving query vectors probe the
  * PERSISTED IVF index (SURVEY §2.G × §2.D).
  *
  * Design: a vector-search service batches arriving queries and runs
  * the indexed probe per batch, which Structured Streaming expresses
  * as `foreachBatch` over the batch kernel — each micro-batch gets
  * the full [[AnnIndex.probeIvf]] path (centroids loaded once per
  * batch from the broadcast-sized model relation, the probed-cell
  * set pushed down as a partition filter so unprobed cells' files
  * are never opened), and the stream keeps ZERO state: queries are
  * independent rows, so nothing carries across batches
  * (StreamingSpec asserts the progress line's state operators are
  * empty). This is the same replay-the-batch-kernel convention as
  * [[DocStream.semanticGate]], at micro-batch granularity instead of
  * row granularity because top-k needs the batch's candidate
  * relation, not just plan-time constants.
  *
  * At 100 TB the per-batch cost is the serving cost: nprobe/nlist of
  * the layout scanned per query batch, model state O(nlist·dim)
  * regardless of corpus size.
  */
object AnnStream {

  /** Streaming sink: probe each arriving query micro-batch against
    * the index at `path` and hand the per-batch top-k to `onBatch`.
    * The per-batch kernel is exactly the persisted-index batch probe
    * ([[AnnIndex.probeIvf]]), so stream output ≡ batch output by
    * construction. */
  def probeSink(queryStream: DataFrame, path: String,
                k: Int = 10, nprobe: Int = 12)
               (onBatch: DataFrame => Unit): StreamingQuery =
    queryStream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        onBatch(AnnIndex.probeIvf(batch.sparkSession, path, batch, k, nprobe))
      }
      .start()

  /** Batch replay of the stream path (the driver key): the query set
    * split into `batches` deterministic micro-batches, each run
    * through the per-batch kernel, results unioned — batch-split
    * INVARIANCE (each query's top-k is independent of its batch
    * cohort) is what makes the stream share the batch key's oracle,
    * and this replay exercises it: two probes over disjoint query
    * slices must union to exactly the single-probe relation. */
  def probeReplay(spark: SparkSession, path: String, queries: DataFrame,
                  k: Int = 10, nprobe: Int = 12,
                  batches: Int = 2): DataFrame =
    (0 until batches).map { i =>
      AnnIndex.probeIvf(spark, path,
        queries.filter(pmod(xxhash64(col("vec_id")), lit(batches)) === i),
        k, nprobe)
    }.reduce(_ unionByName _)
}
