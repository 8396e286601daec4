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
