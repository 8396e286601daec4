package graft

import org.apache.spark.sql.SparkSession

/** Opinionated session factory: the configuration every graft
  * deployment wants, local or cluster.
  *
  *  - graft's native SQL functions registered via
  *    [[GraftExtensions]]
  *  - AQE left on (runtime shuffle coalescing + skew-join splitting
  *    — the 100 TB safety net)
  *  - UTC session time zone (determinism across machines)
  *  - ns-precision parquet timestamps readable
  *    (`legacy.parquet.nanosAsLong`, see [[sources.Tables.events]])
  *
  * `shufflePartitions` should be sized to the cluster: ~2-3× total
  * executor cores; AQE coalesces small partitions back down, so
  * over-provisioning is cheap and under-provisioning (spills) is not.
  */
object GraftSession {

  def builder(appName: String = "graft",
              shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")

  /** The builder behind [[local]], for a caller that adds settings. */
  def localBuilder(cores: Int, appName: String): SparkSession.Builder =
    builder(appName, shufflePartitions = cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")

  /** Local session for tests/benchmarks. */
  def local(cores: Int = 4, appName: String = "graft-local"): SparkSession = {
    val s = localBuilder(cores, appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
