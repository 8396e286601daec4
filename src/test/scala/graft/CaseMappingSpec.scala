package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{InitCap, Lower, Upper}
import org.apache.spark.sql.functions._

import graft.functions.gf
import graft.operators.{CountMin, EntityResolution, TextAnalysis}
import graft.sources.Tables

/** graft's case mapping: the `gf.lowerText`/`gf.upperText` kernels
  * give Spark's `lower`/`upper` byte for byte, and no plan that graft
  * builds holds Spark's own case-mapping nodes, whose first use in a
  * JVM costs a 1.7 s class initializer. */
class CaseMappingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("lowerText and upperText equal Spark's lower and upper, byte for byte") {
    // Turkish dotted and dotless i, Greek final sigma, the Kelvin sign
    // (U+212A), fullwidth letters and one-to-many mappings (ß, ﬁ, ŉ)
    val texts = Seq("plain ascii 123", "MiXeD CaSe", "Straße ß", "\u0130stanbul \u0131 I",
      "ΟΔΟΣ οδος", "\u212Aelvin", "ＡＢＣ ｘｙｚ", "ﬁne ŉ", "", null)
    val valid = texts.toDF("s")
    // not UTF-8: a 0xFF byte, a bad continuation, a lone continuation
    // byte and a cut-off sequence; Spark maps each to U+FFFD first
    val invalid = Seq("41FF62", "C328", "80", "e282").toDF("h")
      .select(unhex(col("h")).cast("string").as("s"))
    def bytes(c: Column): Column = hex(c.cast("binary"))
    for ((name, builtin, kernel) <- Seq[(String, Column => Column, Column => Column)](
      ("lower", lower, gf.lowerText), ("upper", upper, gf.upperText))) {
      val rows = valid.unionByName(invalid)
        .select(bytes(col("s")).as("in"), bytes(builtin(col("s"))).as("spark"),
          bytes(kernel(col("s"))).as("kernel"))
        .as[(String, String, String)].collect()
      assert(rows.length == texts.length + 4)
      rows.foreach { case (in, want, got) =>
        assert(got == want, s"$name of 0x$in: kernel 0x$got, Spark 0x$want")
      }
    }
  }

  private def caseMappings(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collectWithSubqueries { case p => p }
      .flatMap(_.expressions.flatMap(_.collect {
        case e @ (_: Lower | _: Upper | _: InitCap) => e.sql
      }))

  test("no plan that reaches graft's case mappings holds Lower, Upper or InitCap") {
    val keys = Seq("docs_curate_full", "docs_gopher_quality", "docs_boilerplate_prefix",
      "dedup_exact", "dedup_exact_report", "dedup_exact_apply", "text_fingerprint",
      "text_cms_sketch", "text_cms_token_freq", "text_readability",
      "etl_entity_pairs", "etl_entity_groups", "etl_entity_golden",
      "etl_entity_incremental")
    // the relations that several keys read as checkpointed shared
    // artifacts, whose own plans the keys' plans no longer show
    val docs = Tables.documents(spark, sf)
    val crm = EntityResolution.synthCrmCorpus(Tables.customer(spark, sf))
    val operators = Seq(
      "gopherFlagged" -> TextAnalysis.gopherFlagged(TextAnalysis.synthQualityCorpus(docs)),
      "CountMin.sketch" -> CountMin.sketch(docs),
      "synthCrmCorpus" -> crm,
      "entityPairs" -> EntityResolution.entityPairs(crm))
    val found = keys.map(k => k -> SparkEntry.queries(k)(spark, sf)) ++ operators
    found.foreach { case (name, df) =>
      val mapped = caseMappings(df)
      assert(mapped.isEmpty, s"$name plans Spark's case mapping: ${mapped.mkString(", ")}")
    }
  }
}
