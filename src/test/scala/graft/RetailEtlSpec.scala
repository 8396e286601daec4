package graft

import java.nio.file.Files

import org.apache.spark.ShuffleDependency
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.RaiseError
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.PlanShim
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.RetailEtl
import graft.sources.{SalesCsv, SalesJdbc}

/** Reference-fidelity spec: reproduces the reference pipeline's own
  * sample data and golden output.
  *
  * Input rows mirror /root/reference/data/input/in_store_sales.csv
  * (15 in-store rows incl. invalid ones) and the expected summary is
  * /root/reference/data/output/sales_summary.csv.
  */
class RetailEtlSpec extends SparkSpec {
  import spark.implicits._

  // sale_id, product_id, quantity, sale_amount, sale_date — strings as
  // extracted (the reference transports everything stringly)
  private val storeRows = Seq(
    ("1", "101", "2", "40.00", "2025-04-02"),
    ("2", "102", "1", "25.00", "2025-04-02"),
    ("3", "103", "3", "75.00", "2025-04-02"),
    ("4", "101", "1", "20.00", "2025-04-02"),
    ("5", "102", "2", "50.00", "2025-04-02"),
    ("6", "104", "5", "125.00", "2025-04-03"),
    ("7", "105", "1", "35.50", "2025-04-03"),
    ("8", "101", "3", "60.00", "2025-04-03"),
    ("9", "102", "2", "50.00", "2025-04-03"),
    ("10", "106", "4", "80.00", "2025-04-03"),
    // invalid rows the cleaner must drop
    ("11", "103", "0", "30.00", "2025-04-03"),
    ("12", "104", "-1", "25.00", "2025-04-03"),
    ("13", "105", null, "45.00", "2025-04-03"),
    ("14", "106", "2", "-15.00", "2025-04-03"),
    ("15", "101", "3", null, "2025-04-03"))

  // online_sales sample rows (extraction.py:38-57), day = 2025-04-02
  private val onlineRows = Seq(
    ("1", "101", "3", "60.00", "2025-04-02"),
    ("2", "102", "2", "45.00", "2025-04-02"),
    ("3", "103", "1", "30.00", "2025-04-02"),
    ("4", "104", "2", "40.00", "2025-04-02"),
    ("5", "105", "1", "22.50", "2025-04-02"),
    ("6", "101", "4", "120.00", "2025-04-03"),
    ("7", "102", "2", "55.00", "2025-04-03"),
    ("8", "103", "3", "75.00", "2025-04-03"),
    ("9", "105", "1", "20.00", "2025-04-03"),
    ("10", "106", "2", "55.00", "2025-04-03"),
    ("11", "101", "0", "10.00", "2025-04-03"),
    ("12", "102", "-1", "20.00", "2025-04-03"),
    ("13", "103", "2", "-5.00", "2025-04-03"),
    ("14", "104", null, "30.00", "2025-04-03"),
    ("15", "105", "2", null, "2025-04-03"))

  private def df(rows: Seq[(String, String, String, String, String)]): DataFrame =
    rows.toDF("sale_id", "product_id", "quantity", "sale_amount", "sale_date")

  private val storeGolden = Map(
    101L -> (6.0, 120.0), 102L -> (5.0, 125.0), 103L -> (3.0, 75.0),
    104L -> (5.0, 125.0), 105L -> (1.0, 35.5), 106L -> (4.0, 80.0))

  // reference golden sales_summary.csv (store + online samples)
  private val combinedGolden = Map(
    101L -> (13.0, 300.0), 102L -> (9.0, 225.0), 103L -> (7.0, 180.0),
    104L -> (7.0, 165.0), 105L -> (3.0, 78.0), 106L -> (6.0, 135.0))

  private def totals(d: DataFrame): Map[Long, (Double, Double)] =
    d.collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap

  private def summary(): Map[Long, (Double, Double)] =
    RetailEtl.pipeline(
      RetailEtl.convertTyped(df(onlineRows)),
      RetailEtl.convertTyped(df(storeRows)))
      .collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap

  test("in-store-only pipeline reproduces the reference golden summary") {
    // golden file: /root/reference/data/output/sales_summary.csv was
    // produced from store+online sample data; combined expectation:
    val result = RetailEtl.pipeline(
      RetailEtl.convertTyped(df(storeRows)),
      RetailEtl.convertTyped(df(storeRows).limit(0)))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(result == storeGolden)
  }

  test("combined two-source pipeline matches reference semantics") {
    assert(summary() == combinedGolden)
  }

  test("pipeline output equals the reference's actual golden CSV, when present") {
    // the reference repo ships the output it produced from these same
    // samples — byte-level fidelity check against the real artifact
    val golden = new java.io.File("/root/reference/data/output/sales_summary.csv")
    assume(golden.exists(), "reference golden file not mounted")
    val expected = scala.io.Source.fromFile(golden).getLines().drop(1)
      .filter(_.nonEmpty)
      .map { line =>
        val Array(p, q, a) = line.split(",")
        p.toLong -> (q.toDouble, a.toDouble)
      }.toMap
    assert(summary() == expected)
  }

  test("clean drops nulls and non-positive quantity/amount") {
    val cleaned = RetailEtl.clean(RetailEtl.convertTyped(df(storeRows)))
    assert(cleaned.count() == 10)
    assert(cleaned.filter($"quantity" <= 0 || $"sale_amount" <= 0).count() == 0)
  }

  test("quarantine is the exact complement of clean, with reasons") {
    val typed = RetailEtl.convertTyped(df(storeRows))
    val cleaned = RetailEtl.clean(typed)
    val dead = RetailEtl.quarantine(typed)
    assert(cleaned.count() + dead.count() == typed.count())
    // no row in both branches
    assert(cleaned.join(dead, Seq("sale_id"), "inner").count() == 0)
    val reasons = dead.select("reject_reason").distinct()
      .collect().map(_.getString(0)).toSet
    assert(reasons.subsetOf(Set(
      "missing_field", "nonpositive_quantity", "nonpositive_amount")))
    assert(dead.filter($"reject_reason".isNull).count() == 0)
  }

  test("quarantine captures NaN rows that clean() drops") {
    val rows = Seq(
      (1L, 10L, 1.0, 5.0, java.sql.Date.valueOf("2024-01-01")),
      (2L, 11L, Double.NaN, 5.0, java.sql.Date.valueOf("2024-01-01")),
      (3L, 12L, 1.0, Double.NaN, java.sql.Date.valueOf("2024-01-01")))
      .toDF("sale_id", "product_id", "quantity", "sale_amount", "sale_date")
    val cleaned = RetailEtl.clean(rows)
    val dead = RetailEtl.quarantine(rows)
    assert(cleaned.count() == 1 && dead.count() == 2,
      "clean ∪ quarantine must cover NaN rows too")
    assert(dead.select("reject_reason").distinct().collect()
      .map(_.getString(0)).toSet == Set("missing_field"))
  }

  test("validateColumns rejects missing columns") {
    val bad = Seq(("1", "2")).toDF("sale_id", "product_id")
    val e = intercept[IllegalArgumentException](RetailEtl.validateColumns(bad))
    assert(e.getMessage.contains("quantity"))
  }

  test("validateSummary raises on negative totals like the reference") {
    val bad = Seq((1L, -5.0, 10.0)).toDF("product_id", "total_quantity", "total_sale_amount")
    val e = intercept[Exception](RetailEtl.validateSummary(bad).collect())
    assert(e.getMessage.toLowerCase.contains("negative"))
  }

  test("transport round-trip is value-preserving") {
    val typed = RetailEtl.convertTyped(df(storeRows))
    val round = RetailEtl.convertTyped(RetailEtl.asTransportStrings(typed))
    assert(round.exceptAll(typed).count() == 0)
    assert(typed.exceptAll(round).count() == 0)
  }

  test("CSV source round-trips through the declared schema") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val typed = RetailEtl.convertTyped(df(storeRows))
    SalesCsv.write(typed, s"$dir/sales")
    val back = SalesCsv.read(spark, s"$dir/sales")
    assert(back.schema == SalesCsv.schema)
    assert(back.count() == storeRows.size)
    assert(back.exceptAll(typed).count() == 0)
  }

  test("upsertSummary replaces matching keys and keeps the rest") {
    val existing = Seq((101L, 1.0, 10.0), (102L, 2.0, 20.0))
      .toDF("product_id", "total_quantity", "total_sale_amount")
    val updates = Seq((102L, 9.0, 90.0), (103L, 3.0, 30.0))
      .toDF("product_id", "total_quantity", "total_sale_amount")
    val out = RetailEtl.upsertSummary(existing, updates).collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(out == Map(
      101L -> (1.0, 10.0),   // untouched
      102L -> (9.0, 90.0),   // replaced by update
      103L -> (3.0, 30.0)))  // inserted
  }

  test("JDBC option map is partition-parallel and credential-aware") {
    import graft.sources.SalesJdbc
    val cfg = SalesJdbc.Config(
      url = "jdbc:postgresql://db:5432/sales",
      user = Some("u"), password = Some("secret"),
      bounds = Some((0L, 5000000L)), numPartitions = 16)
    val opts = SalesJdbc.options(cfg)
    assert(opts("dbtable") == "online_sales")
    assert(opts("partitionColumn") == "sale_id")
    assert(opts("lowerBound") == "0" && opts("upperBound") == "5000000")
    assert(opts("numPartitions") == "16")
    assert(opts("fetchsize") == "10000")
    assert(opts("user") == "u" && opts("password") == "secret")
    // credentials must never surface via toString (logs, exceptions)
    assert(!cfg.toString.contains("secret"))
    // no bounds -> no partitioning keys (Spark rejects partial config)
    val unbounded = SalesJdbc.options(SalesJdbc.Config(url = "jdbc:h2:mem:x"))
    assert(!unbounded.contains("partitionColumn") && !unbounded.contains("user"))
  }

  test("writeSummary overwrite is idempotent (truncate+replace semantics)") {
    val dir = Files.createTempDirectory("graft_sum").toString
    val s1 = Seq((1L, 2.0, 3.0)).toDF("product_id", "total_quantity", "total_sale_amount")
    RetailEtl.writeSummary(s1, s"$dir/out")
    RetailEtl.writeSummary(s1, s"$dir/out")
    assert(spark.read.parquet(s"$dir/out").count() == 1)
  }

  test("mergeSummaries of any slice split equals the full recompute") {
    val sales = Seq(
      (1L, 10L, 2.0, 20.0, "1998-05-01"),
      (2L, 10L, 3.0, 30.0, "1999-06-01"),
      (3L, 20L, 4.0, 40.0, "1998-07-01"),
      (4L, 30L, 5.0, 50.0, "2000-01-01"))
      .toDF("sale_id", "product_id", "quantity", "sale_amount", "d")
      .withColumn("sale_date", $"d".cast("date")).drop("d")
    val full = RetailEtl.aggregate(sales).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    val merged = RetailEtl.mergeSummaries(
      RetailEtl.aggregate(sales.filter($"sale_date" < "1999-01-01")),
      RetailEtl.aggregate(sales.filter($"sale_date" >= "1999-01-01")))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(merged == full)
    // merging an empty delta is the identity
    val noop = RetailEtl.mergeSummaries(
      RetailEtl.aggregate(sales), RetailEtl.aggregate(sales.filter($"sale_id" < 0)))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(noop == full)
  }

  test("dqProfile counts nulls and distincts per column in one pass") {
    val df = Seq(
      (Some(1L), Some("a")), (Some(1L), Some("b")), (Some(2L), None),
      (None, Some("b")))
      .toDF("k", "v")
    val out = RetailEtl.dqProfile(df, Seq("k", "v")).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    assert(out("k") == (4L, 1L, 2L, 0.25), s"k: ${out("k")}")
    assert(out("v") == (4L, 1L, 2L, 0.25), s"v: ${out("v")}")
  }

  test("tableDiff delta applied to old reconstructs new, on random snapshots") {
    val rnd = new scala.util.Random(42)
    def snap(keys: Range) = keys
      .map(k => (k.toLong, rnd.nextInt(5).toDouble))
      .toDF("product_id", "total")
    val old = snap(1 to 300)         // keys 1..300
    val neu = snap(150 to 450)       // keys 150..450, values re-rolled
    val diff = RetailEtl
      .tableDiff(old, neu, Seq("product_id"), Seq("total")).collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    val oldM = old.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val neuM = neu.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // replay the delta over the old snapshot
    val rebuilt = diff.foldLeft(oldM) {
      case (acc, (k, ("added", _, Some(v))))   => acc + (k -> v.asInstanceOf[Double])
      case (acc, (k, ("removed", _, _)))       => acc - k
      case (acc, (k, ("changed", _, Some(v)))) => acc + (k -> v.asInstanceOf[Double])
      case (acc, _)                            => acc
    }
    assert(rebuilt == neuM, "old + delta must equal new")
    // and the diff is minimal: unchanged keys never appear
    diff.foreach { case (k, (t, _, _)) =>
      assert(t != "changed" || oldM(k) != neuM(k), s"key $k flagged but equal")
    }
  }

  test("tableDiff classifies added/removed/changed; nulls are values, not absence") {
    val old = Seq(
      (1L, Some(10.0)), // unchanged → must not emit
      (2L, Some(20.0)), // changed value
      (3L, Some(30.0)), // removed
      (5L, None: Option[Double])) // null value on both sides → unchanged
      .toDF("product_id", "total")
    val neu = Seq(
      (1L, Some(10.0)),
      (2L, Some(25.0)),
      (4L, Some(40.0)), // added
      (5L, None: Option[Double]))
      .toDF("product_id", "total")
    val out = RetailEtl
      .tableDiff(old, neu, Seq("product_id"), Seq("total"))
      .collect()
      .map(r => r.getLong(0) ->
        (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
    assert(out == Map(
      2L -> ("changed", Some(20.0), Some(25.0)),
      3L -> ("removed", Some(30.0), None),
      4L -> ("added", None, Some(40.0))),
      s"unchanged keys (incl. the null<=>null one) must not emit: $out")
  }

  test("dqDrift surfaces null-fraction and cardinality movement per column") {
    val a = Seq(
      (Some(1), Some("x")), (Some(2), Some("y")),
      (Some(3), Some("z")), (Some(4), Some("w"))) // 0 nulls, 4 distinct each
      .toDF("k", "v")
    val b = Seq(
      (Some(1), Some("x")), (Some(1), Option.empty[String]),
      (Some(1), Option.empty[String]), (Some(2), Some("x"))) // k: 2 distinct; v: 2/4 null
      .toDF("k", "v")
    val out = RetailEtl.dqDrift(a, b, Seq("k", "v")).collect()
      .map(r => r.getString(0) -> r).toMap
    val v = out("v")
    assert(v.getAs[Long]("n_rows_a") == 4L && v.getAs[Long]("n_rows_b") == 4L)
    assert(v.getAs[Double]("null_frac_a") == 0.0)
    assert(v.getAs[Double]("null_frac_b") == 0.5)
    assert(v.getAs[Double]("null_frac_delta") == 0.5, "v went half dark")
    // 4 distinct → 1 distinct non-null value ("x"): collapse shows in ratio
    assert(v.getAs[Double]("distinct_ratio") == 0.25, s"got $v")
    val k = out("k")
    assert(k.getAs[Double]("null_frac_delta") == 0.0)
    assert(k.getAs[Double]("distinct_ratio") == 0.5, "k halved its cardinality")
    // zero-distinct left side guards to null, not a division error
    val empty = Seq.empty[(Option[Int], Option[String])].toDF("k", "v")
    val g = RetailEtl.dqDrift(empty, b, Seq("k", "v")).collect()
    assert(g.forall(_.isNullAt(g.head.fieldIndex("distinct_ratio"))))
  }

  test("backfillPlan: every spine day present, zero-row days flagged as gaps") {
    import org.apache.spark.sql.functions.col
    val sales = Seq(
      ("1995-01-01", 1L), ("1995-01-01", 2L), // 2 rows
      ("1995-01-03", 3L),                     // day 2 missing entirely
      ("1995-01-05", 4L))                     // day 4 missing
      .toDF("d", "sale_id")
      .withColumn("sale_date", col("d").cast("date")).drop("d")
    val got = RetailEtl.backfillPlan(sales).collect()
      .map(r => r.getDate(0).toString -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got == Map(
      "1995-01-01" -> ((2L, false)),
      "1995-01-02" -> ((0L, true)),
      "1995-01-03" -> ((1L, false)),
      "1995-01-04" -> ((0L, true)),
      "1995-01-05" -> ((1L, false))), s"backfill plan: $got")
  }

  test("runReport: clean feed passes; dirty-and-gappy feed fails with reasons") {
    import org.apache.spark.sql.functions.col
    def sales(rows: Seq[(Long, Long, Option[Long], Double, String)]) =
      rows.toDF("sale_id", "product_id", "quantity", "sale_amount", "d")
        .select(col("sale_id"), col("product_id"), col("quantity"),
          col("sale_amount"), col("d").cast("date").as("sale_date"))
    val good = sales(Seq(
      (1L, 1L, Some(1L), 10.0, "1995-01-01"),
      (2L, 1L, Some(2L), 20.0, "1995-01-02")))
    val okRow = RetailEtl.runReport(good, good.limit(0)).collect().head
    assert(okRow.getLong(0) == 2L && okRow.getLong(1) == 0L &&
      okRow.getLong(3) == 0L && okRow.getBoolean(4), s"clean feed: $okRow")
    // 1 of 3 rows quarantined (33% > 5%) and a calendar gap on Jan 2
    val bad = sales(Seq(
      (1L, 1L, Some(1L), 10.0, "1995-01-01"),
      (2L, 1L, None, 20.0, "1995-01-01"),      // null qty → quarantined
      (3L, 1L, Some(1L), 10.0, "1995-01-03"))) // Jan 2 missing
    val badRow = RetailEtl.runReport(bad, bad.limit(0)).collect().head
    assert(badRow.getLong(0) == 2L && badRow.getLong(1) == 1L,
      s"counts: $badRow")
    assert(badRow.getLong(3) == 1L, s"gap day: $badRow")
    assert(!badRow.getBoolean(4), s"dirty feed must fail: $badRow")
  }

  test("benfordCheck: string-derived digits, chi2 identities, boundary amounts") {
    import org.apache.spark.sql.functions.col
    // 1000.00 → cents 100000 → digit 1 (the float-log10 hazard case);
    // 9.99 → digit 9; 0.004 → cents 0, excluded; -5 excluded
    val df = Seq(1000.0, 9.99, 150.0, 12.0, 0.004, -5.0)
      .toDF("amount")
    val rows = RetailEtl.benfordCheck(df, "amount").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3), r.getDouble(5)))
    val byDigit = rows.map(t => t._1 -> t._2).toMap
    assert(byDigit == Map(1L -> 3L, 9L -> 1L), s"digits: $byDigit")
    // Benford expectation for digit 1 is log10(2)
    val b1 = rows.find(_._1 == 1L).get._3
    assert(math.abs(b1 - math.log10(2.0)) < 1e-6, s"benford_p(1): $b1")
    // chi2_total identical on every row
    assert(rows.map(_._4).distinct.length == 1, s"chi2_total rows: $rows")
  }

  test("checkConstraints: one pass, null predicates count as violations") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (Some(5L), "A"), (Some(60L), "A"),   // 60 breaks qty_max
      (None, "B"),                          // null qty → violation
      (Some(10L), "X"))                     // X breaks the enum
      .toDF("qty", "flag")
    val out = RetailEtl.checkConstraints(df, Seq(
      ("qty_max", col("qty") <= 50L),
      ("flag_enum", col("flag").isin("A", "B")))).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    // qty_max: 60 fails, NULL fails (a rule that can't evaluate has
    // failed) → 2 violations
    assert(out("qty_max") == ((4L, 2L, false)), s"qty_max: $out")
    assert(out("flag_enum") == ((4L, 1L, false)), s"flag_enum: $out")
  }

  test("fdAudit: holding FD reports zero violations, broken FD the worst fan-out") {
    val df = Seq(
      (1L, 1L, 10L, "A"), (1L, 2L, 20L, "A"),   // order 1: shipmode const
      (2L, 1L, 10L, "B"), (2L, 2L, 30L, "C"),   // order 2: two shipmodes
      (3L, 1L, 20L, "B"))
      .toDF("ord", "line", "pk", "mode")
    val out = RetailEtl.fdAudit(df, Seq(
      ("pk_holds", Seq("ord", "line"), "pk"),
      ("ord_to_mode", Seq("ord"), "mode"))).collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4), r.getBoolean(5)))).toMap
    // 5 distinct (ord, line) keys, each with exactly one pk
    assert(out("pk_holds") == ((5L, 0L, 1L, true)), s"pk: $out")
    // 3 orders; order 2 carries 2 modes — one violator, fan-out 2
    assert(out("ord_to_mode") == ((3L, 1L, 2L, false)), s"mode: $out")
  }

  test("riAudit: orphan rows/keys counted, null FKs excluded from orphans") {
    val child = Seq(
      (Some(1L), "a"), (Some(1L), "b"),  // parented, 2 rows
      (Some(9L), "c"), (Some(9L), "d"), (Some(8L), "e"), // orphans
      (None, "f"))                       // null FK: not an orphan
      .toDF("fk", "payload")
    val parent = Seq(1L, 2L).toDF("pk")
    val r = RetailEtl.riAudit(
      Seq(("c2p", child, "fk", parent, "pk"))).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getString(0) == "c2p")
    assert(row.getLong(1) == 6L, "n_rows")
    assert(row.getLong(2) == 1L, "n_null_fk")
    assert(row.getLong(3) == 3L, "n_orphan_rows: 9,9,8")
    assert(row.getLong(4) == 2L, "n_orphan_keys: {9,8}")
    assert(!row.getBoolean(5), "intact must be false")
  }

  test("riAudit: fully-parented relationship reports intact with zero orphans") {
    val child = Seq((1L, "a"), (2L, "b")).toDF("fk", "payload")
    val parent = Seq(1L, 2L, 3L).toDF("pk")
    val row = RetailEtl.riAudit(
      Seq(("ok", child, "fk", parent, "pk"))).collect().head
    assert((row.getLong(3), row.getLong(4), row.getBoolean(5)) ==
      ((0L, 0L, true)), s"intact audit: $row")
  }

  test("grainCheck: duplicate keys counted, finer grain passes") {
    val df = Seq((1L, "a"), (1L, "b"), (2L, "c"))
      .toDF("id", "payload")
    val got = RetailEtl.grainCheck(df,
      Seq("id" -> Seq("id"), "id_payload" -> Seq("id", "payload")))
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getBoolean(6)))).toMap
    // id grain is violated: key 1 holds two rows (one surplus)
    assert(got("id") == ((3L, 2L, 1L, 1L, 2L, false)), s"id: $got")
    // the full (id, payload) grain holds
    assert(got("id_payload") == ((3L, 3L, 0L, 0L, 1L, true)), s"fine: $got")
  }

  test("feedFreshness: lag vs the freshest sibling, stale past the threshold") {
    import org.apache.spark.sql.functions.col
    def feed(days: (String, Int)*) = days.flatMap { case (d, n) =>
      Seq.fill(n)(d)
    }.toDF("d").select(col("d").cast("date").as("sale_date"))
    val fresh = feed("2024-01-09" -> 2, "2024-01-10" -> 3)
    val lagging = feed("2024-01-05" -> 4, "2024-01-07" -> 1)
    val got = RetailEtl.feedFreshness(
      Seq("a" -> fresh, "b" -> lagging)).collect()
      .map(r => r.getString(0) ->
        ((r.getDate(1).toString, r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    // feed a IS the freshest: 0 behind, 3 rows on its last day
    assert(got("a") == (("2024-01-10", 0L, 5L, 3L, false)), s"a: $got")
    // feed b: 3 days behind a → stale at the default 2-day threshold
    assert(got("b") == (("2024-01-07", 3L, 5L, 1L, true)), s"b: $got")
    // a dead feed leaves NO gap a single-feed scan could see — only
    // the cross-feed comparison flags it; equal-freshness twin sanity
    val twin = RetailEtl.feedFreshness(
      Seq("a" -> fresh, "b" -> fresh)).collect()
    assert(twin.forall(!_.getBoolean(5)), "equal feeds must not read stale")
  }

  test("anonymityAudit: small classes re-identify, homogeneous classes " +
    "disclose, size wins the precedence") {
    import spark.implicits._
    val rows =
      // class (1, "x"): 5 members, 2 sensitive values → clean
      Seq((1, "x", "A"), (1, "x", "A"), (1, "x", "B"), (1, "x", "B"),
        (1, "x", "A")) ++
        // class (2, "x"): 3 members (diverse!) → re_identification
        Seq((2, "x", "A"), (2, "x", "B"), (2, "x", "C")) ++
        // class (3, "y"): 6 members, ONE sensitive value →
        // attribute_disclosure (k holds, l fails)
        Seq.fill(6)((3, "y", "A"))
    val df = rows.toDF("nation", "band", "segment")
    val out = RetailEtl.anonymityAudit(df, Seq("nation", "band"), "segment")
      .collect().map(r => (r.getInt(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4), r.getBoolean(5),
          r.getString(6))).toMap
    assert(out((1, "x")) === ((5L, 2L, true, true, "none")))
    assert(out((2, "x")) === ((3L, 3L, false, true, "re_identification")),
      "a small class re-identifies even when the sensitive column is diverse")
    assert(out((3, "y")) === ((6L, 1L, true, false, "attribute_disclosure")))
  }

  test("rtbf: the plan's counts are exactly what apply removes, and " +
    "the cascade reaches every dependent row") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val cust = graft.sources.Tables.customer(spark, dir)
    val ords = graft.sources.Tables.orders(spark, dir)
    val li = graft.sources.Tables.lineitem(spark, dir)
    val reqs = cust.filter(col("c_custkey") % 53 === 3)
    val plan = RetailEtl.rtbfPlan(reqs, cust, ords, li).localCheckpoint(true)
    val apply = RetailEtl.rtbfApply(reqs, cust, ords, li).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // plan/apply parity per table
    val planTotals = plan.agg(count(lit(1)), sum("n_orders"),
      sum("n_lineitems")).head()
    assert(apply("customer")._2 === planTotals.getLong(0))
    assert(apply("orders")._2 === planTotals.getLong(1))
    assert(apply("lineitem")._2 === planTotals.getLong(2))
    // conservation: removed + after == before, every table
    apply.values.foreach { case (before, removed, after) =>
      assert(before === removed + after) }
    // the cascade is COMPLETE: apply's orders removal equals the
    // requested customers' full order count (nothing escapes), and
    // the fixture actually cascades (some request has orders)
    val directOrders = ords.join(reqs.select("c_custkey"),
      ords("o_custkey") === reqs("c_custkey"), "left_semi").count()
    assert(apply("orders")._2 === directOrders)
    assert(directOrders > 0L, "fixture must exercise the cascade")
  }

  // ——— the deployed job: one summary, two sinks ———

  private val etlUrl = "jdbc:derby:memory:graftetl;create=true"

  private def derby(sql: String): Unit = {
    val conn = java.sql.DriverManager.getConnection(etlUrl)
    try { val st = conn.createStatement(); try st.execute(sql) finally st.close() }
    finally conn.close()
  }

  /** Sample sources as the deployed job reads them: the online rows
    * from a Derby table through the JDBC extract, the in-store rows
    * from CSV at `csv`. Both are overwritten in place. */
  private def deployedSources(
      online: Seq[(String, String, String, String, String)] = onlineRows,
      store: Seq[(String, String, String, String, String)] = storeRows,
      csv: String = Files.createTempDirectory("graft_store").toString + "/in_store")
      : (DataFrame, DataFrame) = {
    // Spark quotes the column names, so they stay lower-case
    RetailEtl.convertTyped(df(online)).write.mode("overwrite")
      .jdbc(etlUrl, "online_sales", new java.util.Properties())
    SalesCsv.write(RetailEtl.convertTyped(df(store)), csv)
    val cfg = SalesJdbc.Config(etlUrl, partitionColumn = "\"sale_id\"",
      numPartitions = 2)
    (RetailEtl.convertTyped(SalesJdbc.extractOnlineSales(spark, cfg)),
      SalesCsv.read(spark, csv))
  }

  /** Runs `body` under job group `group` and counts the input records
    * (source rows, not shuffle reads) its jobs' tasks read. */
  private def inputRecords[T](group: String)(body: => T): (T, Long) = {
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val records = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(stages.add(_))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      // deliver every queued task-end event before reading the count
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      (out, records.get)
    } finally sc.removeSparkListener(listener)
  }

  test("one pipeline result feeds the parquet and Derby sinks without " +
    "re-reading the sources") {
    val (online, inStore) = deployedSources()
    val (summary, scanned) = inputRecords("etl-pipeline")(
      RetailEtl.pipeline(online, inStore))
    assert(scanned > 0L, "pipeline itself scans the CSV and JDBC sources")
    val out = Files.createTempDirectory("graft_sinks").toString + "/summary"
    try derby("DROP TABLE sales_summary") catch { case _: java.sql.SQLException => }
    derby("CREATE TABLE sales_summary (product_id BIGINT NOT NULL PRIMARY KEY, " +
      "total_quantity DOUBLE, total_sale_amount DOUBLE)")
    val sink = SalesJdbc.Config(etlUrl, table = "sales_summary")
    val (_, sinkReads) = inputRecords("etl-sinks") {
      RetailEtl.writeSummary(summary, out)
      SalesJdbc.upsertInto(summary, sink, Seq("product_id"))
    }
    assert(sinkReads === 0L, "both sinks read the summary, not the sources")
    assert(totals(spark.read.parquet(out)) === combinedGolden)
    assert(totals(spark.read.jdbc(etlUrl, "sales_summary",
      new java.util.Properties())) === combinedGolden)
  }

  test("a second pipeline call reads rewritten sources afresh, and the " +
    "first result keeps its own totals") {
    val csv = Files.createTempDirectory("graft_rerun").toString + "/in_store"
    val first = (RetailEtl.pipeline _).tupled(deployedSources(csv = csv))
    assert(totals(first) === combinedGolden)
    // the same table and path, now holding only their first five rows
    val second = (RetailEtl.pipeline _).tupled(deployedSources(
      onlineRows.take(5), storeRows.take(5), csv))
    assert(totals(second) === Map(101L -> (6.0, 120.0), 102L -> (5.0, 120.0),
      103L -> (4.0, 105.0), 104L -> (2.0, 40.0), 105L -> (1.0, 22.5)))
    assert(totals(first) === combinedGolden,
      "a result reads its own shuffle output, not the rewritten sources")
  }

  test("a negative total still fails the sink with the reference's message") {
    // every sink runs the validation: it sits above the executed summary
    val plan = RetailEtl.pipeline(RetailEtl.convertTyped(df(onlineRows)),
      RetailEtl.convertTyped(df(storeRows))).queryExecution.optimizedPlan
    assert(plan.collectLeaves().forall(_.isInstanceOf[LogicalRDD]))
    assert(plan.flatMap(_.expressions).exists(_.exists(_.isInstanceOf[RaiseError])))
    // a summary executed the way pipeline executes it, with a negative
    // total, cannot be written
    val bad = PlanShim.executeOnce(
      Seq((1L, -5.0, 10.0), (2L, 1.0, 2.0))
        .toDF("product_id", "quantity", "sale_amount")
        .transform(RetailEtl.aggregate), "negative-total")
    val out = Files.createTempDirectory("graft_neg").toString + "/summary"
    val e = intercept[Exception](
      RetailEtl.writeSummary(RetailEtl.validateSummary(bad), out))
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(messages.exists(_.contains("Found negative quantities: product 1")))
  }

  test("the pipeline result is neither cached nor checkpointed and keeps " +
    "its lineage to the source scans") {
    val (online, inStore) = deployedSources()
    val summary = RetailEtl.pipeline(online, inStore)
    assert(summary.storageLevel === StorageLevel.NONE,
      "not registered in the session's CacheManager")
    val roots = summary.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }
    assert(roots.size === 1)
    def lineage(r: RDD[_]): Seq[RDD[_]] = r +: r.dependencies.flatMap(d => lineage(d.rdd))
    val rdds = lineage(roots.head)
    assert(rdds.forall(r => !r.isCheckpointed && r.getStorageLevel == StorageLevel.NONE))
    assert(rdds.exists(_.dependencies.exists(_.isInstanceOf[ShuffleDependency[_, _, _]])))
    val leaves = rdds.filter(_.dependencies.isEmpty).map(_.getClass.getSimpleName).toSet
    assert(leaves === Set("FileScanRDD", "JDBCRDD"),
      "lost shuffle output can be recomputed from both sources")
  }

  test("dqCalibrationOneScan ≡ dqCalibration row-for-row; columns " +
    "resolve case-insensitively; ambiguity and absence throw by name") {
    import graft.operators.RetailEtl
    val li = graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001")
    val cols = Seq("l_partkey", "l_returnflag", "l_shipdate", "l_quantity")
    val composed = RetailEtl.dqCalibration(li, cols)
      .collect().map(_.toString).sorted.toSeq
    val oneScan = RetailEtl.dqCalibrationOneScan(li, cols)
      .collect().map(_.toString).sorted.toSeq
    assert(oneScan === composed,
      "the one-scan form must reproduce the composed calibration " +
        "exactly (stringified distincts are injective for these columns)")
    // case-insensitive resolution emits the RESOLVED field name, so
    // the output stays oracle-comparable regardless of caller case
    val ci = RetailEtl.dqCalibrationOneScan(li, Seq("L_PARTKEY")).collect()
    assert(ci.length === 1 && ci.head.getString(0) === "l_partkey")
    // r18 (ADVICE): the COMPOSED twin resolves identically — a
    // case-variant caller gets the same col_name rows from both forms
    val ciComposed = RetailEtl.dqCalibration(li, Seq("L_PARTKEY")).collect()
    assert(ciComposed.length === 1 &&
      ciComposed.head.getString(0) === "l_partkey",
      "dqCalibration must emit the resolved schema-case col_name")
    assert(ciComposed.map(_.toString).sorted.toSeq ===
      ci.map(_.toString).sorted.toSeq,
      "case-variant callers must get identical rows from both twins")
    // two case-variant fields: a third spelling matches both → throws
    val amb = li.select(col("l_partkey"), col("l_partkey").as("L_PARTKEY"))
    val e = intercept[IllegalArgumentException] {
      RetailEtl.dqCalibrationOneScan(amb, Seq("l_PartKey"))
    }
    assert(e.getMessage.contains("l_PartKey") &&
      e.getMessage.toLowerCase.contains("ambiguous"))
    val missing = intercept[IllegalArgumentException] {
      RetailEtl.dqCalibrationOneScan(li, Seq("no_such_col"))
    }
    assert(missing.getMessage.contains("no_such_col"))
  }
}
