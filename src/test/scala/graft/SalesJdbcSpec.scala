package graft

import graft.sources.SalesJdbc

/** JDBC contract proven against embedded Derby (on the Spark
  * classpath). Write side (reference loading.py:124-161):
  * truncate-replace via [[SalesJdbc.writeSummary]] and keyed merge via
  * [[SalesJdbc.upsertInto]], plus the generated MySQL upsert SQL the
  * reference dialect would receive. Read side (extraction.py:98-144):
  * the driver-side [[SalesJdbc.probeBounds]] and the partitioned
  * [[SalesJdbc.extractOnlineSales]].
  */
class SalesJdbcSpec extends SparkSpec {
  import spark.implicits._

  private val url = "jdbc:derby:memory:graftjdbc;create=true"
  private val cfg = SalesJdbc.Config(url = url, table = "sales_summary")

  private def withStatement(f: java.sql.Statement => Unit): Unit = {
    val conn = java.sql.DriverManager.getConnection(url)
    val st = conn.createStatement()
    try f(st) finally { st.close(); conn.close() }
  }

  private def freshTable(): Unit = withStatement { st =>
    try st.execute("DROP TABLE sales_summary") catch { case _: java.sql.SQLException => }
    // the reference's CREATE_TABLE_SQL (loading.py:16-22)
    st.execute("CREATE TABLE sales_summary (" +
      "product_id INT PRIMARY KEY, " +
      "total_quantity INT NOT NULL, " +
      "total_sale_amount DECIMAL(10,2) NOT NULL)")
  }

  private def readBack(): Map[Int, (Int, BigDecimal)] =
    spark.read.format("jdbc")
      .options(Map("url" -> url, "dbtable" -> "sales_summary"))
      .load().collect()
      .map(r => r.getInt(0) -> (r.getInt(1), BigDecimal(r.getDecimal(2)))).toMap

  test("upsertSql: MySQL dialect reproduces the reference INSERT..ON DUPLICATE") {
    val cols = Seq("product_id", "total_quantity", "total_sale_amount")
    val sql = SalesJdbc.upsertSql("jdbc:mysql://db/retail", "sales_summary",
      cols, Seq("product_id"))
    assert(sql.contains(
      "INSERT INTO sales_summary (product_id, total_quantity, total_sale_amount) " +
        "VALUES (?, ?, ?) " +
        "ON DUPLICATE KEY UPDATE total_quantity = VALUES(total_quantity), " +
        "total_sale_amount = VALUES(total_sale_amount)"))
    // golden-text pin (r16): the Postgres branch is untestable
    // end-to-end in this sandbox (no container runtime), so the EXACT
    // generated statement is asserted — not a substring — mirroring
    // the MySQL golden above
    val pg = SalesJdbc.upsertSql("jdbc:postgresql://db/retail", "sales_summary",
      cols, Seq("product_id"))
    assert(pg.contains(
      "INSERT INTO sales_summary (product_id, total_quantity, total_sale_amount) " +
        "VALUES (?, ?, ?) " +
        "ON CONFLICT (product_id) DO UPDATE SET " +
        "total_quantity = EXCLUDED.total_quantity, " +
        "total_sale_amount = EXCLUDED.total_sale_amount"))
    // Derby has no parameterizable one-statement form
    assert(SalesJdbc.upsertSql(url, "sales_summary", cols, Seq("product_id")).isEmpty)
    val (up, ins) = SalesJdbc.updateThenInsertSql("sales_summary", cols, Seq("product_id"))
    assert(up == "UPDATE sales_summary SET total_quantity = ?, " +
      "total_sale_amount = ? WHERE product_id = ?")
    assert(ins == "INSERT INTO sales_summary " +
      "(product_id, total_quantity, total_sale_amount) VALUES (?, ?, ?)")
  }

  test("upsertSql rejects keys outside the column set and key-only upserts") {
    intercept[IllegalArgumentException] {
      SalesJdbc.upsertSql(url, "t", Seq("a", "b"), Seq("missing"))
    }
    intercept[IllegalArgumentException] {
      SalesJdbc.updateThenInsertSql("t", Seq("a"), Seq("a"))
    }
  }

  test("writeSummary truncate-replaces the table idempotently") {
    freshTable()
    val v1 = Seq((1, 5, BigDecimal("10.00")), (2, 3, BigDecimal("6.50")))
      .toDF("product_id", "total_quantity", "total_sale_amount")
    SalesJdbc.writeSummary(v1, cfg)
    assert(readBack() == Map(
      1 -> ((5, BigDecimal("10.00"))), 2 -> ((3, BigDecimal("6.50")))))

    // second run fully replaces (reference TRUNCATE + insert): row 2
    // disappears, row 3 appears — and the PK survives the truncate
    val v2 = Seq((1, 7, BigDecimal("14.00")), (3, 1, BigDecimal("2.25")))
      .toDF("product_id", "total_quantity", "total_sale_amount")
    SalesJdbc.writeSummary(v2, cfg)
    assert(readBack() == Map(
      1 -> ((7, BigDecimal("14.00"))), 3 -> ((1, BigDecimal("2.25")))))
    withStatement { st =>
      intercept[java.sql.SQLException] { // PK intact after truncate path
        st.execute("INSERT INTO sales_summary VALUES (1, 0, 0.00)")
      }
    }
  }

  test("upsertInto merges by key: updates collide, inserts append, rest survive") {
    freshTable()
    val base = Seq((1, 5, BigDecimal("10.00")), (2, 3, BigDecimal("6.50")))
      .toDF("product_id", "total_quantity", "total_sale_amount")
    SalesJdbc.writeSummary(base, cfg)

    val delta = Seq((2, 9, BigDecimal("19.75")), (4, 2, BigDecimal("4.00")))
      .toDF("product_id", "total_quantity", "total_sale_amount")
      .repartition(3) // prove partition-parallel writers compose
    SalesJdbc.upsertInto(delta, cfg, Seq("product_id"))
    assert(readBack() == Map(
      1 -> ((5, BigDecimal("10.00"))),   // untouched row survives (no truncate)
      2 -> ((9, BigDecimal("19.75"))),   // collided key updated
      4 -> ((2, BigDecimal("4.00")))))   // new key inserted

    // idempotent: re-applying the same delta changes nothing
    SalesJdbc.upsertInto(delta, cfg, Seq("product_id"))
    assert(readBack().size == 3)
  }

  // ——— read side ———

  private val readUrl = "jdbc:derby:memory:graftjdbcread;create=true"

  /** A fresh `online_sales` table holding `ids` as sale ids. Quoted
    * lower-case columns, as a Postgres-born table keeps them. */
  private def onlineTable(table: String, ids: Seq[Option[Long]]): Unit = {
    val conn = java.sql.DriverManager.getConnection(readUrl)
    try {
      val st = conn.createStatement()
      try {
        try st.execute(s"DROP TABLE $table") catch { case _: java.sql.SQLException => }
        st.execute(s"""CREATE TABLE $table ("sale_id" BIGINT, "product_id" BIGINT,
          | "quantity" DOUBLE, "sale_amount" DOUBLE, "sale_date" DATE)""".stripMargin)
      } finally st.close()
      val ps = conn.prepareStatement(s"INSERT INTO $table VALUES (?, ?, ?, ?, ?)")
      try ids.zipWithIndex.foreach { case (id, i) =>
        id.fold(ps.setNull(1, java.sql.Types.BIGINT))(ps.setLong(1, _))
        ps.setLong(2, 100L + i % 7)
        ps.setDouble(3, 1.0 + i % 3)
        ps.setDouble(4, 2.5 * (i + 1))
        ps.setDate(5, java.sql.Date.valueOf("2025-04-02"))
        ps.executeUpdate()
      } finally ps.close()
    } finally conn.close()
  }

  private def onlineCfg(table: String) = SalesJdbc.Config(url = readUrl,
    table = table, partitionColumn = "\"sale_id\"", numPartitions = 4)

  test("probeBounds returns the partition column's min and max") {
    onlineTable("probe_sales", Seq(42L, 7L, 1000L, 7L, 300L).map(Some(_)))
    assert(SalesJdbc.probeBounds(onlineCfg("probe_sales")) === Some((7L, 1000L)))
  }

  test("an empty table has no bounds and reads unpartitioned") {
    onlineTable("empty_sales", Nil)
    val cfg = onlineCfg("empty_sales")
    assert(SalesJdbc.probeBounds(cfg).isEmpty)
    val df = SalesJdbc.extractOnlineSales(spark, cfg)
    assert(df.rdd.getNumPartitions === 1)
    assert(df.count() === 0L)
  }

  test("a quoted lower-case partition column is probed as written") {
    onlineTable("quoted_sales", (1L to 20L).map(Some(_)))
    assert(SalesJdbc.probeBounds(onlineCfg("quoted_sales")) === Some((1L, 20L)))
    // unquoted, Derby folds the name to SALE_ID, which this table
    // does not have
    val e = intercept[java.sql.SQLException](SalesJdbc.probeBounds(
      onlineCfg("quoted_sales").copy(partitionColumn = "sale_id")))
    assert(e.getMessage.contains("SALE_ID"))
    val df = SalesJdbc.extractOnlineSales(spark, onlineCfg("quoted_sales"))
    assert(df.columns.toSeq === graft.operators.RetailEtl.RequiredColumns)
    assert(df.count() === 20L)
  }

  test("the partitioned read returns every row exactly once") {
    // repeats, a gap, a far outlier and a NULL key (Spark reads NULL
    // partition keys in the first partition)
    val ids = (1L to 60L).map(Some(_)) ++ Seq(Some(5L), Some(5L),
      Some(10000L), None)
    onlineTable("part_sales", ids)
    val df = SalesJdbc.read(spark, onlineCfg("part_sales"))
    assert(df.rdd.getNumPartitions === 4)
    val got = df.select("sale_id").collect().toSeq
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.sortBy(_.getOrElse(Long.MinValue)) ===
      ids.sortBy(_.getOrElse(Long.MinValue)))
  }

  test("a failed probe names the table but never the password") {
    val cfg = SalesJdbc.Config(url = readUrl, table = "no_such_table",
      user = Some("etl"), password = Some("pw-s3cret-42"))
    val e = intercept[java.sql.SQLException](SalesJdbc.probeBounds(cfg))
    assert(e.getMessage.contains("no_such_table"))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    chain.foreach(t => assert(!String.valueOf(t.getMessage).contains("pw-s3cret-42")))
    assert(!e.toString.contains("pw-s3cret-42"))
  }
}
