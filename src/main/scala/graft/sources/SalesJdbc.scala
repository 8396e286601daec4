package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}

/** JDBC source for the reference's online-sales extract
  * (/root/reference/scripts/extraction.py:98-144 reads the
  * `online_sales` Postgres table; extraction.py:60-68 stringifies
  * every column for transport).
  *
  * Unlike the reference's single-cursor `get_pandas_df`, the read is
  * range-partitioned on `partitionColumn` so a 100 TB-era table
  * lands as `numPartitions` parallel cursors — the only JDBC read
  * shape that scales. Bounds default to a min/max probe of the
  * partition column at read time (hardcoded defaults would silently
  * collapse parallelism: everything past a stale upperBound piles
  * into the last partition). `fetchsize` keeps each cursor streaming
  * instead of buffering the partition.
  */
object SalesJdbc {

  final case class Config(
      url: String,
      table: String = "online_sales",
      user: Option[String] = None,
      password: Option[String] = None,
      partitionColumn: String = "sale_id",
      bounds: Option[(Long, Long)] = None,
      numPartitions: Int = 32,
      fetchSize: Int = 10000) {
    // never leak credentials through logs/exceptions
    override def toString: String =
      s"Config($url, $table, user=${user.map(_ => "***")}, " +
        s"password=${password.map(_ => "***")}, $partitionColumn, " +
        s"$bounds, $numPartitions, $fetchSize)"
  }

  private def baseOptions(cfg: Config): Map[String, String] =
    Map("url" -> cfg.url, "fetchsize" -> cfg.fetchSize.toString) ++
      cfg.user.map("user" -> _) ++
      cfg.password.map("password" -> _)

  /** The option map for `spark.read.format("jdbc")` — pure function,
    * unit-testable without a live database. Partitioning options are
    * emitted only when bounds are known; Spark rejects
    * `partitionColumn` without both bounds.
    */
  def options(cfg: Config): Map[String, String] =
    baseOptions(cfg) + ("dbtable" -> cfg.table) ++
      cfg.bounds.toSeq.flatMap { case (lo, hi) =>
        Seq(
          "partitionColumn" -> cfg.partitionColumn,
          "lowerBound" -> lo.toString,
          "upperBound" -> hi.toString,
          "numPartitions" -> cfg.numPartitions.toString)
      }

  private def connect(url: String, user: Option[String],
                      password: Option[String]): java.sql.Connection = {
    val props = new java.util.Properties()
    user.foreach(props.setProperty("user", _))
    password.foreach(props.setProperty("password", _))
    java.sql.DriverManager.getConnection(url, props)
  }

  /** One-row probe for the partition bounds: `SELECT min(col),
    * max(col) FROM table`, trivial for a btree-indexed key. It runs on
    * the driver over one plain JDBC connection, not as a Spark job;
    * the driver needs the JDBC driver anyway, because Spark resolves
    * the table's schema there. Credentials travel as connection
    * properties and never appear in the failure message. None when
    * the table is empty (min/max are NULL): the caller falls back to
    * an unpartitioned read instead of NPE-ing.
    */
  def probeBounds(cfg: Config): Option[(Long, Long)] = {
    val col = cfg.partitionColumn
    val sql = s"SELECT min($col), max($col) FROM ${cfg.table}"
    try {
      val conn = connect(cfg.url, cfg.user, cfg.password)
      try {
        val st = conn.createStatement()
        try {
          val rs = st.executeQuery(sql)
          rs.next()
          val lo = rs.getLong(1)
          if (rs.wasNull()) None else Some((lo, rs.getLong(2)))
        } finally st.close()
      } finally conn.close()
    } catch {
      case e: java.sql.SQLException =>
        throw new java.sql.SQLException(
          s"bounds probe of ${cfg.table}.$col failed: ${e.getMessage}",
          e.getSQLState, e.getErrorCode, e)
    }
  }

  def read(spark: SparkSession, cfg: Config): DataFrame = {
    val bounded = if (cfg.bounds.isDefined) cfg
      else cfg.copy(bounds = probeBounds(cfg))
    spark.read.format("jdbc").options(options(bounded)).load()
  }

  /** Full extract in the reference's transport format (stringified
    * columns, `yyyy-MM-dd` dates), ready for
    * [[graft.operators.RetailEtl.convertTyped]].
    */
  def extractOnlineSales(spark: SparkSession, cfg: Config): DataFrame =
    graft.operators.RetailEtl.asTransportStrings(
      graft.operators.RetailEtl.validateColumns(read(spark, cfg)))

  // ——— write side (reference loading.py:124-161: CSV save + MySQL
  // truncate + batch INSERT … ON DUPLICATE KEY UPDATE) ———

  /** The reference's CSV artifact (loading.py:126-131: overwrite
    * `sales_summary.csv`). `singleFile` reproduces the reference's
    * one-file layout (coalesce(1) — fine for a summary table, wrong
    * for a fact); the default keeps the write partitioned.
    */
  def writeSummaryCsv(df: DataFrame, path: String,
                      singleFile: Boolean = false): Unit =
    (if (singleFile) df.coalesce(1) else df)
      .write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Idempotent full replace of a summary table — the reference's
    * TRUNCATE + batch insert (loading.py:143-159) as Spark's JDBC
    * overwrite with `truncate=true`: the table is truncated in place
    * (schema, indexes, grants survive — same contract as the
    * reference's CREATE IF NOT EXISTS + TRUNCATE) and repopulated
    * with partition-parallel batched inserts.
    */
  def writeSummary(df: DataFrame, cfg: Config,
                   batchSize: Int = 1000): Unit =
    df.write.format("jdbc")
      .options(baseOptions(cfg) +
        ("dbtable" -> cfg.table) +
        ("truncate" -> "true") +
        ("batchsize" -> batchSize.toString))
      .mode(SaveMode.Overwrite)
      .save()

  private def checkUpsertCols(cols: Seq[String], keyCols: Seq[String]): Seq[String] = {
    require(keyCols.nonEmpty && keyCols.forall(cols.contains),
      s"key columns $keyCols must be a subset of $cols")
    val nonKey = cols.filterNot(keyCols.contains)
    require(nonKey.nonEmpty, "upsert needs at least one non-key column")
    nonKey
  }

  /** Single-statement upsert for dialects that have one — pure
    * function, unit-testable without a database. MySQL URLs get the
    * reference's exact `INSERT … ON DUPLICATE KEY UPDATE`
    * (loading.py:25-32); Postgres gets
    * `INSERT … ON CONFLICT … DO UPDATE`. None for dialects without a
    * parameterizable one-statement form (e.g. Derby, whose MERGE
    * rejects a VALUES source) — [[upsertInto]] then falls back to
    * batched UPDATE-then-INSERT-the-misses.
    */
  def upsertSql(url: String, table: String, cols: Seq[String],
                keyCols: Seq[String]): Option[String] = {
    val nonKey = checkUpsertCols(cols, keyCols)
    val insert = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    if (url.startsWith("jdbc:mysql:"))
      Some(insert + " ON DUPLICATE KEY UPDATE " +
        nonKey.map(c => s"$c = VALUES($c)").mkString(", "))
    else if (url.startsWith("jdbc:postgresql:"))
      Some(insert + s" ON CONFLICT (${keyCols.mkString(", ")}) DO UPDATE SET " +
        nonKey.map(c => s"$c = EXCLUDED.$c").mkString(", "))
    else None
  }

  /** The portable upsert pair: `UPDATE … WHERE keys` (parameters:
    * non-key cols, then key cols) and a plain INSERT (parameters: all
    * cols in order) for the rows the update missed. */
  def updateThenInsertSql(table: String, cols: Seq[String],
                          keyCols: Seq[String]): (String, String) = {
    val nonKey = checkUpsertCols(cols, keyCols)
    val update = s"UPDATE $table SET " +
      nonKey.map(c => s"$c = ?").mkString(", ") +
      " WHERE " + keyCols.map(c => s"$c = ?").mkString(" AND ")
    val insert = s"INSERT INTO $table (${cols.mkString(", ")}) " +
      s"VALUES (${cols.map(_ => "?").mkString(", ")})"
    (update, insert)
  }

  /** Relational upsert of a DataFrame into an existing keyed table:
    * each partition opens one connection and executes the dialect's
    * upsert statement in `batchSize` batches inside a transaction —
    * the reference's `executemany` + commit (loading.py:150-160),
    * but partition-parallel (|partitions| concurrent writers, each
    * streaming its slice) instead of one driver-side cursor holding
    * the whole summary in memory.
    *
    * Unlike [[writeSummary]] this never truncates: rows present in
    * `df` replace their keyed counterparts, all other rows survive —
    * the incremental-maintenance contract of
    * [[graft.operators.RetailEtl.upsertSummary]], pushed to the sink.
    */
  def upsertInto(df: DataFrame, cfg: Config, keyCols: Seq[String],
                 batchSize: Int = 1000): Unit = {
    import org.apache.spark.sql.types._
    val cols = df.schema.fieldNames.toSeq
    val oneShot = upsertSql(cfg.url, cfg.table, cols, keyCols)
    val (updateSql, insertSql) = updateThenInsertSql(cfg.table, cols, keyCols)
    // parameter order of the UPDATE: non-key cols, then key cols
    val updateIdx: Array[Int] =
      (cols.filterNot(keyCols.contains) ++ keyCols).map(cols.indexOf).toArray
    // JDBC type codes for setNull (Derby rejects Types.NULL)
    val sqlTypes: Array[Int] = df.schema.fields.map(_.dataType match {
      case IntegerType | ShortType | ByteType => java.sql.Types.INTEGER
      case LongType        => java.sql.Types.BIGINT
      case DoubleType      => java.sql.Types.DOUBLE
      case FloatType       => java.sql.Types.FLOAT
      case BooleanType     => java.sql.Types.BOOLEAN
      case DateType        => java.sql.Types.DATE
      case _: DecimalType  => java.sql.Types.DECIMAL
      case TimestampType | TimestampNTZType => java.sql.Types.TIMESTAMP
      case _               => java.sql.Types.VARCHAR
    })
    val url = cfg.url
    val user = cfg.user
    val password = cfg.password

    df.foreachPartition { rows: Iterator[Row] =>
      if (rows.hasNext) {
        def bind(ps: java.sql.PreparedStatement, row: Row, order: Array[Int]): Unit = {
          var p = 0
          while (p < order.length) {
            val i = order(p)
            val v = row.get(i)
            if (v == null) ps.setNull(p + 1, sqlTypes(i))
            else ps.setObject(p + 1, v)
            p += 1
          }
        }
        val all = Array.tabulate(cols.length)(identity)
        val conn = connect(url, user, password)
        try {
          conn.setAutoCommit(false)
          oneShot match {
            case Some(sql) =>
              // dialect-native single-statement upsert, straight batching
              val ps = conn.prepareStatement(sql)
              try {
                var n = 0
                rows.foreach { row =>
                  bind(ps, row, all)
                  ps.addBatch()
                  n += 1
                  if (n % batchSize == 0) ps.executeBatch()
                }
                ps.executeBatch()
              } finally ps.close()
            case None =>
              // portable pair: batch the UPDATEs, re-INSERT the rows
              // whose update count came back 0 (requires a driver that
              // reports per-row counts — embedded DBs and the majors do)
              val up = conn.prepareStatement(updateSql)
              val ins = conn.prepareStatement(insertSql)
              try {
                val buf = new scala.collection.mutable.ArrayBuffer[Row](batchSize)
                def flush(): Unit = if (buf.nonEmpty) {
                  buf.foreach { r => bind(up, r, updateIdx); up.addBatch() }
                  val counts = up.executeBatch()
                  var i = 0; var misses = 0
                  while (i < counts.length) {
                    if (counts(i) == 0) { bind(ins, buf(i), all); ins.addBatch(); misses += 1 }
                    i += 1
                  }
                  if (misses > 0) ins.executeBatch()
                  buf.clear()
                }
                rows.foreach { row =>
                  buf += row
                  if (buf.size >= batchSize) flush()
                }
                flush()
              } finally { up.close(); ins.close() }
          }
          conn.commit()
        } catch {
          case e: Throwable => conn.rollback(); throw e
        } finally conn.close()
      }
    }
  }
}
