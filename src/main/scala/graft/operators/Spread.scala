package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Repartition}

/** Round-robin input spread for COMPUTE-DENSE per-row stages
  * (codec decodes, per-doc sort/fold kernels): when the scan arrives
  * with fewer splits than cores — the single-small-parquet-file test
  * fixture, where one row group means ONE split regardless of
  * `files.maxPartitionBytes` — a heavy map stage would otherwise run
  * on one core while the rest idle (measured: 4.2 s → 0.7 s on the
  * dup-n-gram profile at sf0.1).
  *
  * At 100 TB the scan is already thousands of splits, the partition
  * count exceeds the target, and this is a NO-OP — the check is one
  * partition-count lookup, so the production plan never pays a
  * gratuitous exchange for what the cluster's input splitting
  * already provides. Shuffling the fixture's kilobytes locally is
  * free next to the compute it parallelizes.
  */
object Spread {
  private[graft] def spread(df: DataFrame): DataFrame = {
    // streaming plans have no .rdd (it forces physical planning of a
    // batch plan); a micro-batch already arrives pre-split by the
    // source, so the fixture-side skew this fixes cannot occur there
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (numPartitions(df) < target) df.repartition(target) else df
  }

  /** The partition count of `df`, read without running a job where
    * that is possible: from an explicit `repartition(n)` under
    * partition-preserving nodes (adaptive execution never coalesces a
    * shuffle whose count the user set), or from `.rdd` when the plan
    * has no exchange, since building a scan's RDD starts no job.
    * Otherwise `.rdd` of an adaptive plan runs its map stages, and the
    * count it reports may be smaller than planned after coalescing. */
  private def numPartitions(df: DataFrame): Int = {
    def planned(p: LogicalPlan): Option[Int] = p match {
      case Repartition(n, true, _) => Some(n)
      case Project(_, child) => planned(child)
      case Filter(_, child) => planned(child)
      case _ => None
    }
    planned(df.queryExecution.analyzed).getOrElse(df.rdd.getNumPartitions)
  }
}
