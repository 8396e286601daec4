package graftbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run.
  *
  * A span wraps one public graft call. Spans nest on the driver
  * thread; each one sets its id as the Spark job group, so the
  * [[Listener]] can bill every job, stage and SQL execution to the
  * span that submitted it. Spans, jobs, stages and planning records
  * stay in memory and are written out once, at the end of the run,
  * by [[Json]]. When tracing is off, [[span]] only runs its body.
  */
object Trace {
  final case class Span(id: Int, name: String, parent: Int, unit: Int,
                        t0: Double, t1: Double, gcS: Double)

  /** Spans are recorded only while set; the listeners stay installed. */
  @volatile var enabled = false
  private var listener: Listener = _
  private val spans = new ConcurrentLinkedQueue[Span]()
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var unitId = -1
  private var sc: org.apache.spark.SparkContext = _

  // epoch seconds with nanoTime resolution: listener events carry
  // epoch milliseconds, spans must line up with them
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def now(): Double = baseMs / 1e3 + (System.nanoTime() - baseNs) / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3

  def install(spark: SparkSession): Listener = {
    sc = spark.sparkContext
    listener = new Listener
    sc.addSparkListener(listener)
    adopt(spark)
    listener
  }

  /** Planning listeners are per session: register on each new one. */
  def adopt(s: SparkSession): Unit =
    if (listener != null) s.listenerManager.register(listener.planning)

  /** A top-level span for one unit of work (one job). */
  def unit[T](name: String)(body: => T): T =
    if (!enabled) body
    else { unitId += 1; span(name)(body) }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      sc.setJobGroup(id.toString, name, interruptOnCancel = false)
      val g0 = gcSeconds()
      val t0 = now()
      try body
      finally {
        val t1 = now()
        spans.add(Span(id, name, parent, unitId, t0, t1, gcSeconds() - g0))
        stack = stack.tail
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.toString, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

/** Bills Spark work to spans: jobs by their job group, stages and
  * task metrics through their job, and planning time through the SQL
  * execution that ran the query. */
final class Listener extends SparkListener {
  final class Job(val id: Int, val group: String, val t0: Double) {
    var t1 = Double.NaN
  }
  final class Stage(val id: Int, val job: Int, val kind: String) {
    var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
    var inputRecords = 0L
  }

  val jobs = scala.collection.concurrent.TrieMap.empty[Int, Job]
  val stages = scala.collection.concurrent.TrieMap.empty[Int, Stage]
  private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
  private val stageKind = scala.collection.concurrent.TrieMap.empty[Int, String]
  // SQL execution id -> job group, and planning seconds per execution
  val execGroup = scala.collection.concurrent.TrieMap.empty[Long, String]
  private val execQe = scala.collection.concurrent.TrieMap.empty[Int, Long]
  val planning = new Planning
  final class Planning extends QueryExecutionListener {
    val byQe = scala.collection.concurrent.TrieMap.empty[Int, Double]
    private def record(qe: QueryExecution): Unit =
      byQe(System.identityHashCode(qe)) =
        qe.tracker.phases.values.map(_.durationMs).sum / 1e3
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  /** (group, planning seconds) per SQL execution seen end to end. */
  def planningByGroup: Seq[(String, Double)] =
    execQe.toSeq.flatMap { case (qe, exec) =>
      for (g <- execGroup.get(exec); p <- planning.byQe.get(qe)) yield (g, p)
    }

  private def kindOf(si: StageInfo): String = {
    val names = si.rddInfos.map(_.name)
    if (names.exists(_.contains("JDBCRDD"))) "scan"
    else if (names.exists(_.contains("FileScanRDD"))) "scan"
    else if (si.parentIds.nonEmpty) "exchange"
    else "other"
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs(e.jobId) = new Job(e.jobId, g, e.time / 1e3)
    e.stageInfos.foreach { si =>
      stageJob.putIfAbsent(si.stageId, e.jobId)
      stageKind.putIfAbsent(si.stageId, kindOf(si))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.get(e.jobId).foreach(_.t1 = e.time / 1e3)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      val s = stages.getOrElseUpdate(e.stageId,
        new Stage(e.stageId, j, stageKind.getOrElse(e.stageId, "other")))
      s.synchronized {
        s.cpuNs += m.executorCpuTime
        s.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        s.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        s.inputRecords += m.inputMetrics.recordsRead
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(execGroup(s.executionId) = _)
    case s: SparkListenerSQLExecutionEnd =>
      val qe = org.apache.spark.sql.BenchAccess.queryExecution(s)
      if (qe != null) execQe(System.identityHashCode(qe)) = s.executionId
    case _ =>
  }
}
