package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Key-skew measurement (SURVEY.md §5).
  *
  * The engine already handles the skew shapes graft's keys produce:
  * AQE splits a skewed partition of a shuffled join at runtime,
  * partial aggregation reduces a hot grouping key to one row per map
  * task before the exchange, and a broadcast join has no join shuffle
  * to skew. Salting measured slower than those plain forms on the
  * keys graft runs (docs/SCALING.md, "One key per result"), so this
  * object only measures whether a key is skewed at all.
  */
object Skew {

  /** Key-skew profile: one row summarizing how unevenly `key`
    * distributes — distinct keys, total rows, the hottest key and its
    * row count, the exact mean rows/key, and `skew_ratio` = max/mean.
    * A ratio near 1 says the keys are flat; a large ratio says the
    * hottest key's partition IS the job's critical path at scale. Two aggregates over one count
    * relation (key-cardinality-sized, not row-sized); the hottest
    * key reports deterministically (smallest key wins count ties).
    * skew_ratio is exact integer arithmetic (max·n_keys/total)
    * rounded once — engine-stable.
    */
  def keySkewProfile(df: DataFrame, key: String): DataFrame = {
    val counts = df.groupBy(col(key).as("key"))
      .agg(count(lit(1)).as("n_rows"))
      .localCheckpoint(true) // consumed by the summary AND the argmax
    val summary = counts.agg(
      count(lit(1)).as("n_keys"),
      sum("n_rows").as("n_rows_total"),
      max("n_rows").as("max_rows"))
    val top = counts.join(broadcast(summary.select("max_rows")),
        col("n_rows") === col("max_rows"))
      .agg(min("key").as("top_key"))
    summary.crossJoin(broadcast(top))
      .withColumn("avg_rows",
        round(col("n_rows_total").cast("double") / col("n_keys"), 6))
      .withColumn("skew_ratio",
        // cast BEFORE the multiply: a Long product can silently wrap
        // at extreme cardinalities (non-ANSI), and the result is a
        // double anyway
        round(col("max_rows").cast("double") * col("n_keys") /
          col("n_rows_total"), 6))
      .select("n_keys", "n_rows_total", "max_rows", "top_key",
        "avg_rows", "skew_ratio")
  }
}
