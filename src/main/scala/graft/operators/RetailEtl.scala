package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanShim
import org.apache.spark.sql.types._

/** Spark-native re-expression of the reference retail ETL
  * (extract → transform → load).
  *
  * Reference semantics (see SURVEY.md §1):
  *  - extraction stringifies every column for transport
  *    (/root/reference/scripts/extraction.py:60-68,146-183)
  *  - transformation re-types, unions the two sources, drops
  *    null/non-positive rows, aggregates by product_id
  *    (/root/reference/scripts/transformation.py:46-121)
  *  - loading validates non-negative totals and idempotently
  *    replaces the sink (/root/reference/scripts/loading.py:39-161)
  *
  * Unlike the reference (pandas on the driver), every step here is a
  * narrow projection/filter until the single groupBy shuffle, so the
  * plan scales horizontally: the parquet scan prunes to the five
  * sales columns, the clean filters push past the union, and the
  * aggregate runs with map-side partial aggregation.
  */
object RetailEtl {

  /** Required sales schema (extraction.py:23). */
  val RequiredColumns: Seq[String] =
    Seq("sale_id", "product_id", "quantity", "sale_amount", "sale_date")

  /** Map the TPC-H-ish `lineitem` fact onto the reference's sales
    * schema. `l_linestatus = 'O'` plays the online source and `'F'`
    * the in-store source (SURVEY.md §1).
    */
  def salesFromLineitem(lineitem: DataFrame, linestatus: Option[String] = None): DataFrame = {
    val base = linestatus.fold(lineitem)(s => lineitem.filter(col("l_linestatus") === s))
    base.select(
      (col("l_orderkey") * 10 + col("l_linenumber")).as("sale_id"),
      col("l_partkey").as("product_id"),
      col("l_quantity").as("quantity"),
      col("l_extendedprice").as("sale_amount"),
      col("l_shipdate").cast(DateType).as("sale_date"))
  }

  /** Transport format: every column stringified, dates as
    * `yyyy-MM-dd` (extraction.py:60-68,171-178). */
  def asTransportStrings(df: DataFrame): DataFrame =
    df.select(df.columns.map {
      case "sale_date" => date_format(col("sale_date"), "yyyy-MM-dd").as("sale_date")
      case c           => col(c).cast(StringType).as(c)
    }: _*)

  /** Inverse of [[asTransportStrings]]: numeric re-conversion + date
    * parse (transformation.py:46-62,161-162). Spark's double↔string
    * round-trip is exact (shortest-representation formatting), so
    * extract→transport→retype is value-preserving.
    */
  def convertTyped(df: DataFrame): DataFrame =
    df.select(
      col("sale_id").cast(LongType).as("sale_id"),
      col("product_id").cast(LongType).as("product_id"),
      col("quantity").cast(DoubleType).as("quantity"),
      col("sale_amount").cast(DoubleType).as("sale_amount"),
      to_date(col("sale_date"), "yyyy-MM-dd").as("sale_date"))

  /** Schema validation (extraction.py:70-96): fails fast at plan time
    * when required columns are missing. The reference also raises on
    * an empty frame; this check does not, since it would cost an
    * action. An empty extract runs through [[pipeline]] without error
    * and its sinks write an empty summary.
    */
  def validateColumns(df: DataFrame, required: Seq[String] = RequiredColumns): DataFrame = {
    val missing = required.filterNot(df.columns.contains)
    require(missing.isEmpty, s"Missing required columns: ${missing.mkString(", ")}")
    df
  }

  /** Union of the online and in-store sources (transformation.py:166). */
  def combine(online: DataFrame, inStore: DataFrame): DataFrame =
    online.unionByName(inStore)

  /** Cleaning (transformation.py:64-93): drop rows with any null,
    * then drop non-positive quantities/amounts. Plain filters — they
    * push down past the union into both source scans.
    */
  def clean(df: DataFrame): DataFrame =
    df.na.drop()
      .filter(col("quantity") > 0 && col("sale_amount") > 0)

  /** Dead-letter branch of [[clean]]: the rows clean() drops, each
    * tagged with the FIRST failing rule (the reference silently
    * discards them, transformation.py:64-93 — at pipeline scale you
    * quarantine instead, so bad upstream batches are observable and
    * replayable). clean ∪ quarantine ≡ input, disjoint; spec-held.
    */
  def quarantine(df: DataFrame): DataFrame = {
    // na.drop() in clean() treats NaN like null in double columns —
    // mirror that here or NaN rows would vanish from BOTH branches
    val missing = df.schema.fields.map { f =>
      if (f.dataType == org.apache.spark.sql.types.DoubleType)
        col(f.name).isNull || isnan(col(f.name))
      else col(f.name).isNull
    }.reduce(_ || _)
    df.withColumn("reject_reason",
      when(missing, lit("missing_field"))
        .when(col("quantity") <= 0, lit("nonpositive_quantity"))
        .when(col("sale_amount") <= 0, lit("nonpositive_amount")))
      .filter(col("reject_reason").isNotNull)
  }

  /** Full aggregation by product (transformation.py:95-121). */
  def aggregate(df: DataFrame): DataFrame =
    df.groupBy("product_id")
      .agg(
        sum("quantity").as("total_quantity"),
        sum("sale_amount").as("total_sale_amount"))

  /** Incremental summary maintenance: merge an already-materialized
    * summary with a fresh delta's summary by re-aggregating the
    * partial sums — sum is associative, so the result is IDENTICAL
    * to recomputing over all history (the driver checks this entry
    * against the full pipeline's oracle). This is how the daily job
    * actually runs at 100 TB: yesterday's summary table + today's
    * partition, never a scan of all history. The merge shuffles
    * |products| rows twice-aggregated, not the fact.
    */
  def mergeSummaries(existing: DataFrame, deltaSummary: DataFrame): DataFrame =
    existing.unionByName(deltaSummary)
      .groupBy("product_id")
      .agg(
        sum("total_quantity").as("total_quantity"),
        sum("total_sale_amount").as("total_sale_amount"))

  /** Per-(product, day) variant with count/avg — the granularity the
    * reference formats dates for but drops (transformation.py:159-163). */
  def dailySummary(df: DataFrame): DataFrame =
    df.groupBy("product_id", "sale_date")
      .agg(
        sum("quantity").as("total_quantity"),
        sum("sale_amount").as("total_sale_amount"),
        count(lit(1)).as("num_sales"),
        avg("sale_amount").as("avg_sale_amount"))

  /** Load-side validation (loading.py:39-75) as a declarative
    * invariant: raise_error on any negative total, so a bad batch
    * fails the job exactly like the reference's ValueError — but
    * distributed, without collecting the summary to the driver.
    */
  def validateSummary(df: DataFrame): DataFrame = {
    validateColumns(df, Seq("product_id", "total_quantity", "total_sale_amount"))
    df.select(
      col("product_id"),
      when(col("total_quantity") < 0,
        raise_error(concat(lit("Found negative quantities: product "), col("product_id"))))
        .otherwise(col("total_quantity")).as("total_quantity"),
      when(col("total_sale_amount") < 0,
        raise_error(concat(lit("Found negative sale amounts: product "), col("product_id"))))
        .otherwise(col("total_sale_amount")).as("total_sale_amount"))
  }

  /** End-to-end pipeline on already-typed sources: the reference DAG's
    * transform stage (extract output → summary).
    *
    * The reference stringifies everything for XCom transport and
    * re-types in the transform — a per-row identity (proven by the
    * round-trip spec and the `etl_extract_typed` oracle) that this
    * engine doesn't replay in the hot path: columns stay typed from
    * scan to sink. `asTransportStrings`/`convertTyped` remain
    * available for actual wire-format boundaries.
    *
    * The summary is the job's one materialization, as in the
    * reference's load step (loading.py:124-161), which validates one
    * in-memory frame and writes it to both the CSV and MySQL. This
    * call scans both sources once and runs the aggregate's shuffle map
    * stage before it returns ([[PlanShim]]). Every action on the
    * result, such as [[writeSummary]] followed by
    * [[graft.sources.SalesJdbc.upsertInto]], reads that shuffle output
    * and runs only the final aggregate over product-grained rows.
    * Source errors therefore surface here, not at the first sink.
    * [[validateSummary]]'s check stays in the final projection, so a
    * negative total still fails each sink that writes it.
    *
    * The result is neither cached nor checkpointed. Each call reads
    * its sources afresh, and lost shuffle output is recomputed from
    * the source scans through the result's lineage.
    */
  def pipeline(online: DataFrame, inStore: DataFrame): DataFrame =
    validateSummary(PlanShim.executeOnce(
      aggregate(clean(combine(validateColumns(online), validateColumns(inStore)))),
      "RetailEtl.pipeline"))

  /** Idempotent sink, mirroring the truncate+replace MySQL load and
    * the always-overwritten CSV (loading.py:124-161): a full
    * overwrite of the target path.
    */
  def writeSummary(df: DataFrame, path: String, format: String = "parquet"): Unit =
    df.write.mode("overwrite").format(format).save(path)

  /** Key-based upsert — the reference's `INSERT ... ON DUPLICATE KEY
    * UPDATE` (loading.py:25-32) as a relational merge: update rows
    * replace existing rows with the same key, everything else is
    * carried over. Left-anti join shuffles only keys; at table scale
    * this is the merge-on-read compaction pattern.
    */
  def upsertSummary(existing: DataFrame, updates: DataFrame,
                    keys: Seq[String] = Seq("product_id")): DataFrame = {
    val keyCols = keys.map(col)
    updates.unionByName(
      existing.join(updates.select(keyCols: _*), keys, "left_anti"))
  }

  /** Data-quality PROFILE — the "what is this table" primitive a
    * pipeline runs on every new feed: per column, row count, null
    * count/fraction and exact distinct cardinality, computed in ONE
    * scan (a single wide aggregate row, unpivoted with `stack`).
    * Multiple exact count-distincts expand the scan |cols|-fold
    * inside the aggregate — the exactness price; at 100 TB swap
    * `countDistinct` for `approx_count_distinct` and the plan
    * collapses back to one pass with HLL±2% cardinalities (same
    * output shape, which is why the column is named without "exact").
    */
  def dqProfile(df: DataFrame, cols: Seq[String]): DataFrame =
    dqProfileWith(df, cols, c => countDistinct(col(c)))

  /** [[dqProfile]] with HLL cardinalities — the 100 TB form as a
    * FIRST-CLASS twin, not a comment: `approx_count_distinct`
    * (relativeSD ~2%) collapses the |cols| exact distinct expansions
    * back into one true single-pass aggregate with bounded state per
    * column. Same output shape as the exact profile (which is why
    * that column is named without "exact"); ApproxSpec bounds the
    * cardinality error against the exact profile.
    */
  def dqProfileApprox(df: DataFrame, cols: Seq[String],
                      rsd: Double = 0.02): DataFrame =
    dqProfileWith(df, cols, c => approx_count_distinct(col(c), rsd))

  /** DQ-profile CALIBRATION — [[EventOps.sketchCalibration]]'s
    * pattern over the profile tier, graduating the approx key from
    * rows-only to a full oracle: per column, the EXACT anchor row
    * ([[dqProfile]] — n_rows, n_nulls, n_distinct, null_frac) plus
    * one engine-agnostic boolean claim that the engine's OWN
    * single-pass HLL route ([[dqProfileApprox]], the 100 TB form)
    * lands within tolerance of the exact cardinality. Raw HLL
    * counts never hash across engines; the claim does, because each
    * engine checks ITS sketch against the SAME exact anchor.
    * Tolerance `max(2, n_distinct·tolPct/100)` integer-exact on both
    * engines; tolPct=5 is ApproxSpec's bound (~2.5σ at rsd 2%).
    *
    * Shape note (r17, MEASURED): the tempting "one wide aggregate"
    * fusion — HLL beside the exact distincts in the same agg — is a
    * 3.7× PESSIMIZATION here, not a win. Multi-countDistinct plans
    * via Expand (|cols|+1 arms), and adding the HLLs to that
    * aggregate allocates a sketch buffer per EXPANDED GROUP (every
    * distinct value tuple), then ships them all through the
    * exchange: 4.53 s vs this compose's 1.22 s at sf0.1/local[32]
    * (exact alone 0.62, approx alone 0.79). The scan the compose
    * "wastes" is 4 pruned columns of parquet. An unpivot-first
    * one-scan form is no better: at sf0.1 on 4 cores it was within
    * the run-to-run spread of this one and wrote 5% more shuffle
    * bytes (docs/SCALING.md, "One key per result"). */
  def dqCalibration(df: DataFrame, cols: Seq[String], rsd: Double = 0.02,
                    tolPct: Int = 5): DataFrame =
    dqProfile(df, cols)
      .join(dqProfileApprox(df, cols, rsd)
          .select(col("col_name"), col("n_distinct").as("apx_distinct")),
        Seq("col_name"))
      .select(col("col_name"), col("n_rows"), col("n_nulls"),
        col("n_distinct"), col("null_frac"),
        (abs(col("apx_distinct") - col("n_distinct")) <=
          greatest(lit(2L), expr(s"n_distinct * $tolPct div 100")))
          .as("distinct_within_tol"))

  /** The dq family's ONE column-resolution rule, shared by the batch
    * profiles and the stringified stream path so a case-variant
    * caller gets the same `col_name` rows from both: exact schema
    * name first, else a UNIQUE case-insensitive match; absence and
    * ambiguity throw naming the caller's spelling; the RESOLVED
    * schema field is what every emitter uses, so `col_name` output
    * is caller-case-independent. */
  private def resolveDqColumn(df: DataFrame,
                              c: String): org.apache.spark.sql.types.StructField = {
    val field = df.schema.fields.find(_.name == c).getOrElse {
      val ci = df.schema.fields.filter(_.name.equalsIgnoreCase(c))
      require(ci.nonEmpty, s"dq profile column '$c' does not exist")
      require(ci.length == 1,
        s"dq profile column '$c' is ambiguous case-insensitively: " +
          ci.map(_.name).mkString(", "))
      ci.head
    }
    // names are interpolated into stack() SQL — restrict to plain
    // identifiers rather than attempt escaping
    require(field.name.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"dq profile column name must be a plain identifier, " +
        s"got '${field.name}'")
    field
  }

  /** Stringified stack-unpivot of the stream dq family
    * ([[graft.streaming.EventStream.dqProfileState]] /
    * `dqStateCalibration`); ONE copy of the normalization rule,
    * because the rule exists precisely to keep cross-engine distinct
    * counts aligned and two drifting copies would undo it.
    * Columns resolve like the rest of the engine: exact name first,
    * else a UNIQUE case-insensitive match (ambiguity or absence
    * throws naming the column). Floating-point values normalize
    * with `+ 0.0` before the cast so the stringified distinct
    * matches the NATIVE distinct both engines compute (-0.0 and 0.0
    * compare equal natively but stringify differently; NaN needs no
    * help — every rendering casts to "NaN"). */
  private[graft] def stackStringified(df: DataFrame,
                                      cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "dq profile needs at least one column")
    val slots = cols.map { c =>
      val field = resolveDqColumn(df, c)
      val n = field.name
      val v = field.dataType match {
        case org.apache.spark.sql.types.DoubleType |
            org.apache.spark.sql.types.FloatType =>
          s"CAST(`$n` + 0.0 AS STRING)"
        case _ => s"CAST(`$n` AS STRING)"
      }
      s"'$n', $v"
    }
    df.select(expr(
      s"stack(${cols.size}, ${slots.mkString(", ")}) as (col_name, v)"))
  }

  private def dqProfileWith(df: DataFrame, cols: Seq[String],
                            distinctOf: String => Column): DataFrame = {
    require(cols.nonEmpty, "dqProfile needs at least one column")
    // resolve-then-emit-schema-name, same rule as the stringified
    // stream path: both emit IDENTICAL col_name rows for case-variant
    // callers
    val names = cols.map(c => resolveDqColumn(df, c).name)
    val aggs = count(lit(1)).as("n_rows") +: names.flatMap(c => Seq(
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
      distinctOf(c).as(s"${c}__distinct")))
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(
        s"stack(${names.size}, " + names.map(c =>
          s"'$c', n_rows, `${c}__nulls`, `${c}__distinct`").mkString(", ") +
          ") as (col_name, n_rows, n_nulls, n_distinct)"))
      .withColumn("null_frac",
        round(col("n_nulls") / col("n_rows"), 6))
  }

  /** Data-quality DRIFT between two snapshots of the same feed — the
    * "did today's load break" alarm composed from two [[dqProfile]]
    * passes joined on column name: row-count movement, null-fraction
    * delta (on the rounded grid, so the alert threshold replays
    * cross-engine) and distinct-cardinality ratio per column. Each
    * side is one wide aggregate over its snapshot; the join is
    * |cols| rows. A collapsing distinct_ratio means a feed started
    * sending constants; a null_frac_delta jump means a column went
    * dark — both invisible to row-count-only checks.
    */
  def dqDrift(a: DataFrame, b: DataFrame, cols: Seq[String]): DataFrame = {
    def side(df: DataFrame, sfx: String) = dqProfile(df, cols).select(
      col("col_name"),
      col("n_rows").as(s"n_rows_$sfx"),
      col("n_distinct").as(s"n_distinct_$sfx"),
      col("null_frac").as(s"null_frac_$sfx"))
    side(a, "a").join(side(b, "b"), Seq("col_name"))
      .withColumn("null_frac_delta",
        round(col("null_frac_b") - col("null_frac_a"), 6))
      .withColumn("distinct_ratio",
        when(col("n_distinct_a") === 0, lit(null).cast("double"))
          .otherwise(round(col("n_distinct_b").cast("double")
            / col("n_distinct_a").cast("double"), 6)))
  }

  /** Snapshot reconciliation — the delta between two versions of a
    * keyed table: per key, `added` (new only), `removed` (old only),
    * or `changed` (present in both, any compared column differs
    * null-safely); unchanged keys don't emit (at table scale the
    * delta is the output you can afford to look at). One full-outer
    * join on the key — a single co-partitioned shuffle, AQE-skew
    * safe; presence is tracked with explicit marker columns so
    * legitimately-null compared values never masquerade as absence.
    * Compared columns should be rounded/exact upstream if they are
    * accumulated floats — classification compares engine-computed
    * values, so the caller owns their stability (the driver query
    * rounds its sums to cents).
    */
  def tableDiff(oldDf: DataFrame, newDf: DataFrame, keys: Seq[String],
                compare: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    val o = oldDf.select(
      keyCols ++ compare.map(c => col(c).as(s"old_$c")) :+
        lit(true).as("in_old"): _*)
    val n = newDf.select(
      keyCols ++ compare.map(c => col(c).as(s"new_$c")) :+
        lit(true).as("in_new"): _*)
    val changed = compare
      .map(c => !(col(s"old_$c") <=> col(s"new_$c")))
      .reduce(_ || _)
    o.join(n, keys, "full_outer")
      .withColumn("diff_type",
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(changed, "changed"))
      .filter(col("diff_type").isNotNull)
      .select(keyCols ++ Seq(col("diff_type")) ++
        compare.flatMap(c => Seq(col(s"old_$c"), col(s"new_$c"))): _*)
  }

  /** Load go/no-go report — ONE machine-readable verdict row for a
    * batch run, the engine's counterpart to the reference DAG's
    * `email_on_failure` (dags/etl_pipeline.py:23-31): an alert email
    * says "something broke"; an orchestrator needs WHICH gate and a
    * boolean it can branch on. Composes the pipeline's own
    * invariants: clean row count, quarantined count (= input −
    * clean, the complement identity [[quarantine]]'s spec holds),
    * the quarantine fraction against a tolerance, and calendar gap
    * days inside the cleaned range (`span − distinct days`, the
    * [[backfillPlan]] identity without materializing the spine).
    * `ok` = quarantine within tolerance AND zero gap days AND
    * nonempty. Two tiny aggregates over one shared input scan.
    */
  def runReport(online: DataFrame, inStore: DataFrame,
                maxQuarantineFrac: Double = 0.05): DataFrame = {
    val combined = combine(online, inStore).localCheckpoint(true)
    val cleanAgg = clean(combined).agg(
      count(lit(1)).as("n_clean"),
      min("sale_date").as("lo"),
      max("sale_date").as("hi"),
      countDistinct("sale_date").as("nd"))
    val totalAgg = combined.agg(count(lit(1)).as("n_total"))
    cleanAgg.crossJoin(broadcast(totalAgg))
      .select(
        col("n_clean"),
        (col("n_total") - col("n_clean")).as("n_quarantined"),
        round((col("n_total") - col("n_clean")) / col("n_total"), 6)
          .as("quarantine_frac"),
        (datediff(col("hi"), col("lo")).cast("long") + 1 - col("nd"))
          .as("n_gap_days"))
      .withColumn("ok",
        col("n_clean") > 0 &&
          col("quarantine_frac") <= maxQuarantineFrac &&
          col("n_gap_days") === 0L)
  }

  /** Benford first-digit audit — the fraud/synthetic-data forensic:
    * organically-grown monetary amounts follow
    * `P(d) = log10(1 + 1/d)`; fabricated or truncated feeds don't.
    * Per leading digit: count, observed share, Benford expectation,
    * the χ² contribution, and the total χ² (window over the 9-row
    * relation). The digit comes from the STRING rendering of the
    * exact cents integer — never from float log10 arithmetic, whose
    * boundary cases (`log10(1000)` landing an ulp under 3) would
    * misclassify power-of-ten amounts differently per engine.
    * One scan, one 9-key aggregate.
    */
  def benfordCheck(df: DataFrame, amountCol: String): DataFrame = {
    val cents = round(col(amountCol) * 100, 0).cast("long")
    val all = org.apache.spark.sql.expressions.Window
      .orderBy("digit")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val expected = log10(lit(1.0) + lit(1.0) / col("digit"))
    df.filter(col(amountCol) > 0 && cents > 0) // sub-cent amounts have no digit
      .select(substring(cents.cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
      .withColumn("total", sum("n").over(all))
      .withColumn("share", col("n") / col("total"))
      .withColumn("chi2_term",
        pow(col("n") - col("total") * expected, 2) /
          (col("total") * expected))
      .select(
        col("digit"), col("n"),
        round(col("share"), 6).as("share"),
        round(expected, 6).as("benford_p"),
        round(col("chi2_term"), 6).as("chi2_term"),
        round(sum("chi2_term").over(all), 6).as("chi2_total"))
  }

  /** Declarative constraint check — the dbt-test/CHECK-constraint
    * primitive: evaluate a set of named row predicates (range,
    * enum membership, pattern, cross-column) in ONE scan and report
    * per rule the row count, violation count/fraction and a pass
    * flag. All rules fold into a single wide aggregate
    * (`sum(when(!rule, 1))` per rule) unpivoted with `stack` — the
    * [[dqProfile]] shape — so adding a rule costs one counter, not
    * one pass; null predicate results count as VIOLATIONS (a rule
    * that cannot evaluate has failed, the SQL-CHECK-vs-audit
    * distinction). Output is O(#rules) rows at any table size.
    */
  def checkConstraints(df: DataFrame,
                       rules: Seq[(String, Column)]): DataFrame = {
    require(rules.nonEmpty, "checkConstraints needs at least one rule")
    rules.foreach { case (n, _) =>
      require(n.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"rule name must be a plain identifier, got '$n'") }
    val aggs = count(lit(1)).as("n_rows") +: rules.map { case (name, pred) =>
      sum(when(coalesce(pred, lit(false)), 0L).otherwise(1L))
        .as(s"${name}__viol") }
    df.agg(aggs.head, aggs.tail: _*)
      .select(expr(
        s"stack(${rules.size}, " + rules.map { case (name, _) =>
          s"'$name', n_rows, `${name}__viol`" }.mkString(", ") +
          ") as (rule, n_rows, n_violations)"))
      .withColumn("violation_frac",
        round(col("n_violations") / col("n_rows"), 6))
      .withColumn("passes", col("n_violations") === 0L)
  }

  /** Privacy-release audit over quasi-identifiers (r15 — the
    * governance gate beside the PII scrub): k-ANONYMITY and
    * l-DIVERSITY per equivalence class. A class (one combination of
    * the quasi-identifier columns) smaller than `k` re-identifies
    * its members by linkage; a class whose SENSITIVE attribute takes
    * fewer than `l` distinct values discloses that attribute even
    * without re-identification (everyone in the class shares it) —
    * the two standard release criteria (Sweeney 2002; Machanavajjhala
    * et al. 2007). `risk` names the dominant failure so the steward
    * reads one column.
    *
    * Scale shape: ONE partial-aggregable groupBy on the
    * quasi-identifier tuple — count + count-distinct, map-side
    * combinable; output is O(#classes) rows at any table size. The
    * fix for a failing class (generalize a quasi-identifier, i.e.
    * coarsen a column) is a re-run with a coarser expression — the
    * audit itself never moves data.
    */
  def anonymityAudit(df: DataFrame, quasi: Seq[String], sensitive: String,
                     k: Int = 5, l: Int = 2): DataFrame = {
    require(quasi.nonEmpty, "anonymityAudit needs quasi-identifier columns")
    df.groupBy(quasi.map(col): _*)
      .agg(count(lit(1)).as("class_size"),
        countDistinct(col(sensitive)).as("n_sensitive"))
      .withColumn("k_anonymous", col("class_size") >= k)
      .withColumn("l_diverse", col("n_sensitive") >= l)
      .withColumn("risk",
        when(!col("k_anonymous"), lit("re_identification"))
          .when(!col("l_diverse"), lit("attribute_disclosure"))
          .otherwise(lit("none")))
  }

  /** Right-to-be-forgotten CASCADE planner (r15 — the erasure half
    * of the governance family: the anonymity audit says what a
    * release may show, this says what a deletion request must
    * touch): per requested customer, the row counts the cascade
    * reaches through the foreign-key chain customer → orders →
    * lineitem. The plan is what an operator reviews and a compliance
    * log records BEFORE any data moves — the `lake_compaction_plan`
    * plan/apply discipline applied to erasure.
    *
    * Scale shape: the request list is ingest-sized (broadcast
    * semi-join side); orders filter by one broadcast probe, lineitem
    * counts ride the natural o_orderkey shuffle join. Output is
    * O(requests) rows.
    */
  def rtbfPlan(requests: DataFrame, customer: DataFrame, orders: DataFrame,
               lineitem: DataFrame): DataFrame = {
    val reqs = requests.select(col("c_custkey")).distinct()
    val reqOrders = orders
      .join(broadcast(reqs), orders("o_custkey") === reqs("c_custkey"))
      .select(col("c_custkey"), col("o_orderkey"))
    val liCounts = reqOrders
      .join(lineitem, reqOrders("o_orderkey") === lineitem("l_orderkey"))
      .groupBy("c_custkey").agg(count(lit(1)).as("n_lineitems"))
    val ordCounts = reqOrders.groupBy("c_custkey")
      .agg(count(lit(1)).as("n_orders"))
    reqs.join(customer.select(col("c_custkey")), Seq("c_custkey"), "left_semi")
      .join(ordCounts, Seq("c_custkey"), "left")
      .join(liCounts, Seq("c_custkey"), "left")
      .select(col("c_custkey"),
        coalesce(col("n_orders"), lit(0L)).as("n_orders"),
        coalesce(col("n_lineitems"), lit(0L)).as("n_lineitems"),
        (lit(1L) + coalesce(col("n_orders"), lit(0L)) +
          coalesce(col("n_lineitems"), lit(0L))).as("n_rows_total"))
  }

  /** EXECUTE the erasure cascade — the apply half: per table, rows
    * before / removed / after, where removal is the anti-join
    * against the request closure (customers by key, orders by
    * custkey, lineitems by surviving-order key). Conservation and
    * referential integrity are structural: removed ≡ before − after,
    * and no surviving lineitem can reference a removed order because
    * the lineitem filter IS the surviving-orders semi-join. The
    * summary is O(3) rows; at 100 TB the deletes this drives are the
    * per-partition anti-join rewrite. */
  def rtbfApply(requests: DataFrame, customer: DataFrame, orders: DataFrame,
                lineitem: DataFrame): DataFrame = {
    val reqs = requests.select(col("c_custkey")).distinct()
    val custAfter = customer.join(broadcast(reqs), Seq("c_custkey"),
      "left_anti")
    val ordAfter = orders.join(broadcast(reqs),
      orders("o_custkey") === reqs("c_custkey"), "left_anti")
    val liAfter = lineitem.join(ordAfter.select(col("o_orderkey")),
      lineitem("l_orderkey") === ordAfter("o_orderkey"), "left_semi")
    def row(name: String, before: DataFrame, after: DataFrame) =
      before.agg(count(lit(1)).as("rows_before"))
        .crossJoin(after.agg(count(lit(1)).as("rows_after")))
        .select(lit(name).as("table"), col("rows_before"),
          (col("rows_before") - col("rows_after")).as("rows_removed"),
          col("rows_after"))
    row("customer", customer, custAfter)
      .unionByName(row("orders", orders, ordAfter))
      .unionByName(row("lineitem", lineitem, liAfter))
  }

  /** Functional-dependency audit — the schema-contract check a
    * pipeline runs on a feed whose documentation CLAIMS "column Y is
    * determined by key X" (a denormalized attribute, a business
    * rule): for each declared FD `determinant → dependent`, how many
    * determinant keys exist, how many carry MORE than one distinct
    * dependent value (violations), and the worst fan-out. A holding
    * FD licenses downstream `max_by`-style any-value picks and
    * dimension extraction; a broken one means the "attribute" is
    * really a relationship. Each FD costs one hash aggregate on its
    * determinant (partial-agg friendly) collapsed to a single row —
    * the union output is O(#FDs) rows regardless of table size, and
    * no FD's aggregate state exceeds its key cardinality.
    */
  def fdAudit(df: DataFrame,
              fds: Seq[(String, Seq[String], String)]): DataFrame = {
    require(fds.nonEmpty, "fdAudit needs at least one declared FD")
    fds.map { case (name, det, dep) =>
      df.groupBy(det.map(col): _*)
        .agg(countDistinct(col(dep)).as("variants"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(when(col("variants") > 1, 1L).otherwise(0L))
            .as("n_violating_keys"),
          max(col("variants")).as("max_variants"))
        .select(
          lit(name).as("fd"),
          col("n_keys"),
          col("n_violating_keys"),
          round(col("n_violating_keys") / col("n_keys"), 6)
            .as("violation_frac"),
          col("max_variants"),
          (col("n_violating_keys") === 0L).as("holds"))
    }.reduce(_ unionByName _)
  }

  /** Referential-integrity audit — the orphan-foreign-key check run
    * before trusting any star-join: for each declared relationship
    * `child.fk → parent.pk`, the child row count, the number of
    * child ROWS whose key has no parent, and the number of distinct
    * orphan KEYS. Implementation never moves child payloads: the
    * child collapses to (key → row count) with one hash aggregate,
    * and the orphan set is a LEFT-ANTI join of that key relation
    * against the parent's projected key column — both sides shuffle
    * only keys, and the anti join is AQE-broadcastable whenever the
    * parent key set fits. Output is O(#relationships) rows. A
    * nonzero orphan count is exactly the population an inner
    * enrichment join silently drops ([[tableDiff]] tells you WHAT
    * changed; this tells you what a join would LOSE).
    */
  def riAudit(relations: Seq[(String, DataFrame, String, DataFrame, String)]): DataFrame = {
    require(relations.nonEmpty, "riAudit needs at least one relationship")
    relations.map { case (name, child, fk, parent, pk) =>
      val childKeys = child.filter(col(fk).isNotNull)
        .groupBy(col(fk).as("k")).agg(count(lit(1)).as("n"))
      val orphans = childKeys.join(
        parent.select(col(pk).as("k")), Seq("k"), "left_anti")
      val totals = child.agg(
        count(lit(1)).as("n_rows"),
        sum(when(col(fk).isNull, 1L).otherwise(0L)).as("n_null_fk"))
      orphans
        .agg(coalesce(sum(col("n")), lit(0L)).as("n_orphan_rows"),
          count(lit(1)).as("n_orphan_keys"))
        .crossJoin(broadcast(totals))
        .select(
          lit(name).as("relationship"),
          col("n_rows"),
          col("n_null_fk"),
          col("n_orphan_rows"),
          col("n_orphan_keys"),
          (col("n_orphan_rows") === 0L).as("intact"))
    }.reduce(_ unionByName _)
  }

  /** Backfill plan — the ingest-completeness audit an orchestrator
    * runs before declaring a date range loaded: every calendar day
    * between the corpus bounds with its row count and a gap flag
    * (zero rows = a partition the scheduler must re-run; the
    * reference's Airflow DAG has retries but no completeness check,
    * so a skipped day stays silently absent). One shuffle collapses
    * the fact table to day grain; the calendar spine is generated
    * from the two-scalar bounds row ([[Analytics.orderBacklog]]'s
    * spine idiom) and LEFT-joins the day counts — O(days) rows,
    * broadcast-sized, regardless of fact volume.
    */
  def backfillPlan(sales: DataFrame): DataFrame = {
    val daily = sales.groupBy(col("sale_date").as("day"))
      .agg(count(lit(1)).as("n_rows"))
      .localCheckpoint(true)
    val spine = daily
      .agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("day"), "left")
      .select(col("day"),
        coalesce(col("n_rows"), lit(0L)).as("n_rows"),
        col("n_rows").isNull.as("is_gap"))
  }

  /** Grain check — for each declared grain claim ("this table is
    * one row per X"): total rows, distinct keys, duplicated keys,
    * surplus rows and worst multiplicity, with a branchable
    * `grain_ok`. The FIRST question against any new feed (a fact
    * table that is secretly order-grain when the pipeline assumes
    * line-grain double-counts every aggregate downstream), and the
    * complement of [[fdAudit]]: FD audits say which columns
    * DETERMINE others, grain claims say which columns are THE KEY.
    * One hash aggregate per claim collapsed to a single row —
    * partial-agg friendly, output O(#claims); adding a claim adds
    * one aggregate over the shared scan, nothing else.
    */
  def grainCheck(df: DataFrame,
                 claims: Seq[(String, Seq[String])]): DataFrame = {
    require(claims.nonEmpty, "need at least one grain claim")
    claims.map { case (name, keys) =>
      df.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("m"))
        .agg(
          sum("m").as("n_rows"),
          count(lit(1)).as("n_keys"),
          sum(when(col("m") > 1, 1L).otherwise(0L)).as("n_dup_keys"),
          sum(when(col("m") > 1, col("m") - 1).otherwise(0L))
            .as("n_dup_rows"),
          max("m").as("max_multiplicity"))
        .select(lit(name).as("grain"), col("n_rows"), col("n_keys"),
          col("n_dup_keys"), col("n_dup_rows"), col("max_multiplicity"),
          (col("n_dup_keys") === 0).as("grain_ok"))
    }.reduce(_ unionByName _)
  }

  /** Per-feed freshness monitor — for each named source feed: last
    * loaded day, days behind the freshest feed, total rows, rows on
    * the last day, and a stale flag. The "one upstream stopped
    * sending" alarm that [[backfillPlan]]'s single-feed gap scan
    * cannot raise (a feed that dies entirely leaves no mid-series
    * gap — it just stops, and only a CROSS-feed comparison notices).
    * Lag is measured against the freshest sibling feed, not
    * wall-clock, so the check is replayable on historical data.
    * Scale: each feed collapses to day grain (one shuffle, O(days)
    * rows), per-feed scalars come off that via `max_by`, and the
    * global-max comparison joins an O(feeds) relation against a
    * 1-row aggregate — nothing fact-sized crosses the wire twice.
    */
  def feedFreshness(feeds: Seq[(String, DataFrame)],
                    staleDays: Int = 2): DataFrame = {
    val perFeed = feeds.map { case (name, df) =>
      df.groupBy(col("sale_date").as("day"))
        .agg(count(lit(1)).as("n"))
        .agg(
          max("day").as("last_day"),
          sum("n").as("n_rows"),
          expr("max_by(n, day)").as("rows_last_day"))
        .select(lit(name).as("feed"), col("last_day"), col("n_rows"),
          col("rows_last_day"))
    }.reduce(_ unionByName _)
    val global = perFeed.agg(max("last_day").as("global_day"))
    perFeed.crossJoin(broadcast(global)) // 1-row scalar frame
      .select(col("feed"), col("last_day"),
        datediff(col("global_day"), col("last_day")).cast("long")
          .as("days_behind"),
        col("n_rows"), col("rows_last_day"),
        (datediff(col("global_day"), col("last_day")) > staleDays)
          .as("stale"))
  }
}
