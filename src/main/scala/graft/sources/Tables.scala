package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.SharedArtifacts

/** Parquet table catalog over a driver testdata directory
  * (`/root/testdata/sf*`). One parquet file per TPC-H-ish table —
  * see /root/repo/TESTDATA.md.
  *
  * At 100 TB each "file" is a partitioned parquet dataset; the same
  * `spark.read.parquet(dir)` call works unchanged, and every operator
  * downstream relies on Catalyst pushing filters/projections into
  * this scan rather than materializing full tables.
  */
object Tables {
  /** Inferred schemas, one per (session, table file): inference reads
    * parquet footers in a Spark job, and a session's keys load the same
    * few files again and again, from several threads at once when a key
    * builds its shared artifacts concurrently. An entry is stamped with
    * the file's [[SharedArtifacts.pathStamp]] and the session's parquet
    * reader settings, so a rewritten file, or a changed setting, is
    * inferred again, and concurrent first loads infer once. */
  private val schemas = SharedArtifacts.key[StructType]("table_schema")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val stamp = (SharedArtifacts.pathStamp(spark, path),
      spark.conf.getAll.filter(_._1.contains(".parquet.")))
    val schema = SharedArtifacts.getOrElseUpdate(spark, schemas, path, stamp)(
      spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  /** `events.ts` is written with nanosecond precision, which Spark's
    * parquet reader rejects (PARQUET_TYPE_ILLEGAL). Read nanos as a
    * long and truncate to a microsecond TIMESTAMP_NTZ — the same
    * truncation DuckDB applies when casting TIMESTAMP_NS → TIMESTAMP.
    * Integer `div` keeps full precision (ns-since-epoch exceeds a
    * double's 53-bit mantissa).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(spark, dir, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts",
        timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    else raw
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
