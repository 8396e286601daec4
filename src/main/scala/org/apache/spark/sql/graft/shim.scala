package org.apache.spark.sql.graft

import java.util.concurrent.{CompletableFuture, ExecutorService}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{DoNotCleanup, QueryExecution, SQLExecution}

/** Classic-mode bridge between [[Column]] and Catalyst [[Expression]].
  *
  * Spark 4 made `Column` wrap a connect-compatible `ColumnNode`; the
  * expression constructor moved behind `private[sql]`
  * (`org.apache.spark.sql.classic.ExpressionUtils`). This object
  * lives in the `org.apache.spark.sql` namespace solely to re-export
  * those two conversions for graft's native expressions — the same
  * technique Spark-native libraries use for classic-mode extensions.
  */
object ColumnShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Spark's SQL execution internals that graft reaches: running a
  * plan's shuffle map stages once, and handing work to another thread
  * in the calling thread's Spark context.
  *
  * `executeOnce` runs a plan's shuffle map stages once and keeps their
  * output as the input of every later action. It plans `df` and calls `execute()` on the physical plan
  * inside one tracked SQL execution, so listeners and SQL metrics see
  * the scans. With adaptive execution (graft's default) that call runs
  * every shuffle map stage and returns the RDD of the final stage; the
  * returned DataFrame wraps that RDD (`internalCreateDataFrame`), so an
  * action on it reads the shuffle output and runs only the post-shuffle
  * operators. With adaptive execution off, the map stages run on the
  * first action instead, and later actions skip them the same way,
  * because they share the one shuffle dependency.
  *
  * Nothing is cached or checkpointed: the CacheManager never sees the
  * plan, so a later query over the same sources plans afresh, and the
  * RDD keeps its full lineage, so lost shuffle output is recomputed
  * from the sources. The shuffle files are released by the context
  * cleaner once the returned DataFrame is unreachable.
  */
object PlanShim {
  def executeOnce(df: DataFrame, name: String): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    // later actions read these shuffle files, so the execution must
    // not remove them when it ends
    val qe = new QueryExecution(session, ds.logicalPlan,
      shuffleCleanupMode = DoNotCleanup)
    val rdd = SQLExecution.withNewExecutionId(qe, Some(name))(qe.executedPlan.execute())
    session.internalCreateDataFrame(rdd, ds.schema)
  }

  /** Runs `body` on a thread of `exec` as if on the calling thread:
    * with its active session (`s`) and a copy of its SparkContext local
    * properties, which carry the job group, job description, job tags,
    * interrupt-on-cancel flag and scheduler pool. So its jobs are
    * billed to the caller's group and cancelled with it. */
  def withCallerContext[T](s: SparkSession, exec: ExecutorService)
                          (body: => T): CompletableFuture[T] =
    SQLExecution.withThreadLocalCaptured(s.asInstanceOf[classic.SparkSession], exec)(body)
}
