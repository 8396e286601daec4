package graft

import org.scalatest.funsuite.AnyFunSuite

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
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: $orphans")
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
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(sql.trim.nonEmpty, s"$k: empty oracle")
      assert(!sql.contains("\n"), s"$k: embedded newline breaks the one-line JSON dump")
      assert(sql == OracleSql.flat(sql), s"$k: oracle is not shipped flat")
    }
    assert(SparkEntry.oracleSql eq SparkEntry.oracleSql,
      "the oracle map is built once per JVM, not on every call")
    assert(SparkEntry.queries eq SparkEntry.queries,
      "the query map is built once per JVM, not on every call")
  }

  test("flat collapses whitespace outside quoted SQL text and keeps quoted text") {
    assert(OracleSql.flat("SELECT  a,\n\t b\n  FROM t") == "SELECT a, b FROM t")
    assert(OracleSql.flat("SELECT x\n       |  FROM t") == "SELECT x FROM t",
      "the margin is stripped first")
    assert(OracleSql.flat("SELECT '  ' || x") == "SELECT '  ' || x")
    assert(OracleSql.flat("SELECT 'a''  b'  AS  y") == "SELECT 'a''  b' AS y")
    assert(OracleSql.flat("SELECT \"x  y\"  FROM  t") == "SELECT \"x  y\" FROM t")
    assert(OracleSql.flat(" \n SELECT 1 \n ") == "SELECT 1")
  }

  test("rows-only queries are down to ZERO (r17)") {
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
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
