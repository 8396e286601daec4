package graftbench

import java.nio.file.{Files, Paths}
import java.sql.{Connection, DriverManager}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkEntry
import graft.functions.{TextChars, TextHashes, TextMd5, VectorOps}
import graft.operators.RetailEtl
import graft.sources.{SalesCsv, SalesJdbc, Tables}

/** The reference job as docs/DEPLOYMENT.md deploys it: in-store CSV
  * and online JDBC extract, `RetailEtl.pipeline`, a parquet summary
  * and the keyed upsert into the summary table. Both tables live in
  * an in-memory Derby database; the summary table is restored to its
  * pre-seeded state before every job, outside the timed window. */
final class RetailEtlDaily(spark: SparkSession, data: String, out: String,
                           nproc: Int, warmJobs: Int) extends Workload {
  private val url = "jdbc:derby:memory:graftbench;create=true"
  private var conn: Connection = _
  // Derby folds unquoted identifiers to upper case; the online table
  // keeps quoted lower-case columns so RetailEtl.validateColumns sees
  // the reference names, and the partition column is quoted to match
  private val online = SalesJdbc.Config(url, table = "online_sales",
    partitionColumn = "\"sale_id\"", numPartitions = nproc)
  private val summary = SalesJdbc.Config(url, table = "sales_summary")

  private def exec(sql: String): Unit = {
    val st = conn.createStatement()
    try st.execute(sql) finally st.close()
  }
  private def load(table: String, file: String): Unit = {
    val ps = conn.prepareCall(
      "CALL SYSCS_UTIL.SYSCS_IMPORT_TABLE(null, ?, ?, ',', null, 'UTF-8', 0)")
    try {
      ps.setString(1, table); ps.setString(2, file); ps.execute()
    } finally ps.close()
  }

  def setup(): Unit = {
    clock("load_jdbc_s") {
      conn = DriverManager.getConnection(url)
      exec("""CREATE TABLE online_sales ("sale_id" BIGINT, "product_id" BIGINT,
             | "quantity" DOUBLE, "sale_amount" DOUBLE, "sale_date" DATE)""".stripMargin)
      // sale_id = orderkey*10 + linenumber repeats, so no primary key
      exec("""CREATE INDEX online_sales_id ON online_sales ("sale_id")""")
      load("ONLINE_SALES", s"$data/online_sales.del")
      for (t <- Seq("sales_summary", "sales_summary_seed"))
        exec(s"""CREATE TABLE $t (product_id BIGINT NOT NULL,
                | total_quantity DOUBLE, total_sale_amount DOUBLE)""".stripMargin)
      exec("CREATE UNIQUE INDEX sales_summary_pk ON sales_summary (product_id)")
      load("SALES_SUMMARY_SEED", s"$data/sales_summary_seed.del")
    }
    setupDetail("warm_jobs_s") = (0 until warmJobs).map { _ =>
      restore()
      val t0 = Trace.now()
      job(s"$out/etl/warm")
      Trace.now() - t0
    }
  }

  // TRUNCATE, not DELETE: deleted rows would pile up in the table and
  // its index, and every later job's upsert would get slower
  private def restore(): Unit = {
    exec("TRUNCATE TABLE sales_summary")
    exec("INSERT INTO sales_summary SELECT * FROM sales_summary_seed")
  }

  private def job(dir: String): Seq[(String, Any)] = {
    val inStore = Trace.span("sources.SalesCsv.read")(
      SalesCsv.read(spark, s"$data/in_store_sales.csv"))
    val extracted = Trace.span("sources.SalesJdbc.extractOnlineSales")(
      SalesJdbc.extractOnlineSales(spark, online))
    val typed = Trace.span("operators.RetailEtl.convertTyped")(
      RetailEtl.convertTyped(extracted))
    val sum = Trace.span("operators.RetailEtl.pipeline")(
      RetailEtl.pipeline(typed, inStore))
    Trace.span("operators.RetailEtl.writeSummary")(
      RetailEtl.writeSummary(sum, s"$dir/summary"))
    Trace.span("sources.SalesJdbc.upsertInto")(
      SalesJdbc.upsertInto(sum, summary, Seq("product_id")))
    Seq("dir" -> dir)
  }

  /** The summary table as CSV, for the output check. */
  private def dump(path: String): Unit = {
    val st = conn.createStatement()
    val sb = new StringBuilder("product_id,total_quantity,total_sale_amount\n")
    try {
      val rs = st.executeQuery(
        "SELECT product_id, total_quantity, total_sale_amount FROM sales_summary")
      while (rs.next())
        sb ++= s"${rs.getLong(1)},${rs.getDouble(2)},${rs.getDouble(3)}\n"
    } finally st.close()
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), sb.result())
  }

  protected def unit(tag: String, i: Int): Done = {
    val dir = s"$out/etl/$tag$i"
    restore()
    val d = attempt("retail_etl_daily")(job(dir))
    dump(s"$dir/db.csv")
    d
  }

  override def close(): Unit = if (conn != null) conn.close()
}

/** `docs_curate_full` cold, as a nightly job runs it: the first job
  * of a fresh JVM, in its own fresh session, so every shared artifact
  * the key reads is built inside the timed window and JIT and codegen
  * warm-up are part of what the job costs. The measured window is
  * that one job, however long the run's `seconds`. */
final class CurationCold(spark: SparkSession, data: String, out: String)
    extends Workload {
  private val key = "docs_curate_full"

  def setup(): Unit =
    Files.writeString(Paths.get(out, "oracle.sql"), SparkEntry.oracleSql(key))

  override def measured(seconds: Double, traced: Boolean): Seq[Done] =
    window("m", 0, minUnits = 1, trace = _ => traced)

  protected def unit(tag: String, i: Int): Done = {
    val dest = s"$out/curate/$tag$i"
    val s = spark.newSession()
    Trace.adopt(s)
    SparkEntry.primeDetail.clear()
    val d = attempt(key) {
      val df = Trace.span(s"query.$key")(SparkEntry.queries(key)(s, data))
      Trace.span(s"sink.$key")(df.write.mode("overwrite").parquet(dest))
      Seq("dir" -> dest)
    }
    d.copy(extra = d.extra :+ ("shared" -> SparkEntry.primeDetail.toMap))
  }

  override def layers(): Unit =
    layerDetail("kernels") = Kernels.rates(spark, data)
}

/** rows/s of the native kernels the curation plan calls, timed
  * directly (plain nanoTime) over the workload's own documents. */
object Kernels {
  private def rate(n: Int)(f: Int => Any): Double = {
    var sink = 0
    var i = 0
    while (i < n) { sink ^= f(i).hashCode; i += 1 }
    val t0 = System.nanoTime()
    var rows = 0L
    while (System.nanoTime() - t0 < 250000000L) {
      i = 0
      while (i < n) { sink ^= f(i).hashCode; i += 1 }
      rows += n
    }
    // use the results, so the JIT cannot drop the kernel calls
    if (sink == 42) print("")
    rows / ((System.nanoTime() - t0) / 1e9)
  }

  def rates(spark: SparkSession, dir: String): Map[String, Double] = {
    val texts = Tables.documents(spark, dir).select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val toks: Array[ArrayData] = texts.map(t => new GenericArrayData(
      t.toString.split("\\s+").filter(_.nonEmpty).map(UTF8String.fromString)
        .asInstanceOf[Array[Any]]))
    val shingles = texts.map(TextHashes.tokenShingleHashesFused(_, 3))
    val vecs: Array[ArrayData] = Tables.embeddings(spark, dir).select("embedding")
      .collect().map(r => new GenericArrayData(
        r.getSeq[Float](0).map(f => f: Any).toArray))
    val n = texts.length
    Map(
      "TextHashes.tokenShingleHashesFused" ->
        rate(n)(i => TextHashes.tokenShingleHashesFused(texts(i), 3)),
      "TextHashes.minhashSignature" ->
        rate(n)(i => TextHashes.minhashSignature(shingles(i), 64, 42L)),
      "TextChars.deflateRatio" -> rate(n)(i => TextChars.deflateRatio(texts(i))),
      "TextChars.dupNgramCoverage" ->
        rate(n)(i => TextChars.dupNgramCoverage(toks(i), 5, 10)),
      "TextMd5.chunkMd5s" -> rate(n)(i => TextMd5.chunkMd5s(texts(i), 8)),
      "VectorOps.cosine" -> rate(vecs.length - 1)(i =>
        VectorOps.cosine(vecs(i), vecs(i + 1))))
  }
}
