package graft.streaming

import java.io.IOException

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.RetailEtl

/** Streaming load stage: the reference's idempotent
  * `INSERT … ON DUPLICATE KEY UPDATE` sink
  * (/root/reference/scripts/loading.py:25-32), run continuously —
  * each micro-batch is merged into the parquet summary by key via
  * `foreachBatch` + [[RetailEtl.upsertSummary]].
  *
  * A production deployment at table scale would swap in an ACID
  * table format (the merge semantics and this sink's shape are
  * unchanged).
  */
object StreamingLoad {

  /** Merges each micro-batch into the parquet summary at `path` by
    * `keys`. The merged state is written to the hidden sibling
    * `_<name>.staging` while the summary stays untouched, then the
    * summary is deleted and the staging directory renamed onto it
    * through the Hadoop `FileSystem`. A batch that fails while it
    * is computed or written stops the query and leaves the last good
    * summary in place. What remains is the window between the delete
    * and the rename: a crash there leaves no summary at `path`, and
    * the complete merged state under the staging name.
    */
  def upsertSink(updates: DataFrame, path: String, checkpoint: String,
                 keys: Seq[String] = Seq("product_id")): StreamingQuery =
    updates.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        // Hadoop FS, not java.io.File: the path may be s3://, hdfs://,
        // or resolved against a non-local defaultFS
        val target = new Path(path)
        val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val staging = new Path(target.getParent, s"_${target.getName}.staging")
        val merged =
          if (fs.exists(target))
            RetailEtl.upsertSummary(spark.read.parquet(path), batch, keys)
          else batch
        merged.write.mode("overwrite").parquet(staging.toString)
        fs.delete(target, true)
        if (!fs.rename(staging, target))
          throw new IOException(s"cannot rename $staging to $target")
      }
      .start()

  /** Streaming sketch-store maintenance — the always-on spelling of
    * the nightly [[graft.operators.EventOps.dailyAudienceSketches]]
    * job: each micro-batch folds into per-(day, type) HLL sketch
    * rows APPENDED to the store. The store's invariant is
    * "mergeable rows", not "one row per key": a (day, type) may hold
    * one partial sketch per micro-batch, and every reader already
    * merges with `hll_union_agg`
    * ([[graft.operators.EventOps.reachFromSketches]] /
    * [[graft.operators.EventOps.compactSketches]]), so partials are
    * indistinguishable from a single-row store at query time
    * (HLL union is lossless — spec-held). Compaction doubles as the
    * partial-row collapser: month rows are single again.
    *
    * Replay-idempotent: rows land in a `batch_id=<n>` partition and a
    * micro-batch OVERWRITES its own partition (dynamic partition
    * overwrite), so a batch replayed after a sink failure replaces
    * its earlier half-written rows instead of appending duplicates —
    * HLL reach is union-idempotent either way, but the exact
    * companion columns (n_events, n_day_rows) summed by
    * [[graft.operators.EventOps.reachFromSketches]] are not.
    * Writers never touch another batch's partition: no
    * read-modify-write race with readers.
    */
  def sketchStoreSink(events: DataFrame, path: String, checkpoint: String,
                      lgConfigK: Int = 12): StreamingQuery =
    events.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.EventOps.dailyAudienceSketches(batch, lgConfigK)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(path)
      }
      .start()

  /** Streaming dedup-fingerprint maintenance — the ingest-time
    * spelling of the nightly [[graft.operators.DedupStore.append]]:
    * each document micro-batch appends its (norm_md5, minhash sig)
    * rows, so the store is always current and tomorrow's incremental
    * dedup never waits on a backfill. Fingerprints are pure per-row
    * projections (no state, no shuffle). Replay-idempotent the same
    * way as [[sketchStoreSink]]: each micro-batch overwrites its own
    * `batch_id` partition, so a replayed batch can't double its rows
    * (exact-dedup reads are distinct-protected regardless, but a
    * doubled store would inflate every scan of it).
    */
  def fingerprintStoreSink(docs: DataFrame, path: String,
                           checkpoint: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        graft.operators.DedupStore.fingerprintRows(batch)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(path)
      }
      .start()
}
