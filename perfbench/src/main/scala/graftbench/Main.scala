package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.GraftSession

/** One benchmark run inside one JVM: set up a workload, run its
  * measured window, and write `result.json` (timings, per-unit
  * failures, and in traced runs the raw spans, jobs, stages and
  * planning records) for `run.py` to check and summarise.
  *
  * Usage: Main --workload W --data DIR --out DIR --seconds S
  *             --trace 0|1 --nproc N --warm N
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val nproc = opt("nproc").toInt
    Files.createDirectories(Paths.get(out))
    val res = new Json.Obj
    val jvmStart = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime / 1e3

    val t0 = Trace.now()
    val spark = GraftSession.local(nproc, "graftbench")
    res("session_start_s") = Trace.now() - t0
    val w: Workload = opt("workload") match {
      case "retail_etl_daily" =>
        new RetailEtlDaily(spark, opt("data"), out, nproc, opt("warm").toInt)
      case "curation_cold" => new CurationCold(spark, opt("data"), out)
      case other => sys.error(s"unknown workload $other")
    }
    try {
      w.setup()
      res("setup_jvm_s") = Trace.now() - jvmStart
      res("setup_detail") = Json.Obj(w.setupDetail.toSeq: _*)

      if (!traced) res("units") = Json.Arr(w.measured(seconds).map(_.json): _*)
      else {
        // the traced run traces the measured window itself, so its
        // spans describe the units the end-to-end metrics time (for
        // curation_cold, the JVM's first job). Then it alternates
        // untraced and traced units (u, t, u at least, so a JVM still
        // warming up biases neither side); the ratio of their medians
        // is the tracing overhead, and their spans are not kept.
        val l = Trace.install(spark)
        Heap.install()
        Heap.open = true
        val measured = w.measured(seconds / 2, traced = true)
        res("heap_peak_mb") = Heap.close()
        val tEnd = Trace.now()
        val spans = Trace.allSpans
        val (tr, un) = w.window("o", seconds / 2, minUnits = 3,
          trace = _ % 2 == 1).partition(_.traced)
        org.apache.spark.sql.BenchAccess.drain(spark.sparkContext)
        res("units") = Json.Arr(measured.map(_.json): _*)
        res("traced_units") = Json.Arr(tr.map(_.json): _*)
        res("untraced_units") = Json.Arr(un.map(_.json): _*)
        res("spans") = Json.Arr(spans.map { s =>
          Json.Obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
            "unit" -> s.unit, "t0" -> s.t0, "t1" -> s.t1, "gc_s" -> s.gcS)
        }: _*)
        val jobs = l.jobs.values.toSeq.filter(_.t0 <= tEnd).sortBy(_.id)
        val jobIds = jobs.map(_.id).toSet
        res("jobs") = Json.Arr(jobs.map { j =>
          Json.Obj("id" -> j.id, "group" -> j.group, "t0" -> j.t0, "t1" -> j.t1)
        }: _*)
        res("stages") = Json.Arr(l.stages.values.toSeq.filter(s => jobIds(s.job))
          .sortBy(_.id).map { s =>
            Json.Obj("id" -> s.id, "job" -> s.job, "kind" -> s.kind,
              "cpu_s" -> s.cpuNs / 1e9, "shuffle_bytes" -> s.shuffleBytes,
              "spill_bytes" -> s.spillBytes, "input_records" -> s.inputRecords)
          }: _*)
        res("planning") = Json.Arr(l.planningByGroup.map { case (g, p) =>
          Json.Obj("group" -> g, "planning_s" -> p)
        }: _*)
        w.layers()
        res("layer") = Json.Obj(w.layerDetail.toSeq: _*)
      }
    } finally {
      Files.writeString(Paths.get(out, "result.json"), res.render)
      w.close()
      spark.stop()
    }
  }
}

/** One unit of work: its wall time, whether it threw, and whether it
  * ran traced. */
final case class Done(name: String, wallS: Double, traced: Boolean,
                      error: String = "", extra: Seq[(String, Any)] = Nil) {
  def json: Json.Obj = Json.Obj(Seq[(String, Any)](
    "name" -> name, "wall_s" -> wallS, "error" -> error) ++ extra: _*)
}

abstract class Workload {
  val setupDetail = mutable.LinkedHashMap.empty[String, Any]
  val layerDetail = mutable.LinkedHashMap.empty[String, Any]
  def setup(): Unit
  /** The `i`-th unit of window `tag`. */
  protected def unit(tag: String, i: Int): Done
  /** The window the end-to-end metrics time: units back to back until
    * `seconds` have passed, at least one. */
  def measured(seconds: Double, traced: Boolean = false): Seq[Done] =
    window("m", seconds, minUnits = 1, trace = _ => traced)
  /** Extra per-layer readings taken after the traced run. */
  def layers(): Unit = ()
  def close(): Unit = ()

  /** Units until `seconds` have passed and at least `minUnits` ran;
    * the `i`-th runs traced when `trace(i)`. */
  def window(tag: String, seconds: Double, minUnits: Int,
             trace: Int => Boolean): Seq[Done] = {
    val t0 = Trace.now()
    val done = mutable.ArrayBuffer.empty[Done]
    var i = 0
    while (i < minUnits || Trace.now() - t0 < seconds) {
      Trace.enabled = trace(i)
      done += unit(tag, i); i += 1
    }
    Trace.enabled = false
    done.toSeq
  }

  protected def clock[T](key: String)(body: => T): T = {
    val t0 = Trace.now()
    try body finally setupDetail(key) = Trace.now() - t0
  }
  protected def attempt(name: String)(body: => Seq[(String, Any)]): Done = {
    val t0 = Trace.now()
    try {
      val extra = Trace.unit(name)(body)
      Done(name, Trace.now() - t0, Trace.enabled, extra = extra)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Done(name, Trace.now() - t0, Trace.enabled,
          error = String.valueOf(e.getMessage).take(300))
    }
  }
}

/** Minimal JSON builder (insertion-ordered objects). */
object Json {
  final class Obj(init: Seq[(String, Any)] = Nil) {
    private val m = mutable.LinkedHashMap.from(init)
    def update(k: String, v: Any): Unit = m(k) = v
    def render: String = m.map { case (k, v) => s"${str(k)}: ${value(v)}" }
      .mkString("{", ", ", "}")
  }
  object Obj { def apply(kv: (String, Any)*): Obj = new Obj(kv) }
  final class Arr(xs: Seq[Any]) {
    def render: String = xs.map(value).mkString("[", ", ", "]")
  }
  object Arr { def apply(xs: Any*): Arr = new Arr(xs) }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case null => "null"
    case o: Obj => o.render
    case a: Arr => a.render
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Seq[_] => Arr(xs: _*).render
    case m: scala.collection.Map[_, _] =>
      Obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*).render
    case other => str(other.toString)
  }
}
