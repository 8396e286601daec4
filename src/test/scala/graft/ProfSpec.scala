package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Prof]]'s argument split: which argument is the SF dir, and which
  * are query keys. */
class ProfSpec extends AnyFunSuite {

  test("an argument with a path separator or naming a directory is the SF dir") {
    assert(Prof.parseArgs(Seq("etl_sales_summary", "data/sf0.1")) ===
      ((Seq("etl_sales_summary"), Seq("data/sf0.1"))))
    // a relative directory without a separator: "." always exists
    assert(Prof.parseArgs(Seq(".", "etl_sales_summary")) ===
      ((Seq("etl_sales_summary"), Seq("."))))
    assert(Prof.parseArgs(Nil) === ((Nil, Nil)))
  }

  test("unknown keys and a second SF dir fail before any session starts") {
    val e = intercept[IllegalArgumentException](
      Prof.parseArgs(Seq("etl_sales_summary", "sf0_1_typo")))
    assert(e.getMessage.contains("sf0_1_typo"))
    intercept[IllegalArgumentException](Prof.parseArgs(Seq("a/x", "b/y")))
  }
}
