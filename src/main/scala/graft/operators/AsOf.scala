package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/** As-of (point-in-time) join — for each left row, the most recent
  * right row with `right.time <= left.time` within the same key
  * group. Spark has no native ASOF operator; the scalable encoding
  * is union + ordered window:
  *
  *  1. tag both inputs and union them (schemas aligned with nulls),
  *  2. one shuffle: partition by key, order by (time, side, tie),
  *     right rows sorting before left rows at equal timestamps
  *     (inclusive `<=` semantics, matching ANSI/DuckDB ASOF),
  *  3. `last(struct, ignoreNulls)` carries the latest right ROW
  *     forward to each left row — a single struct, so all carried
  *     values come from the same right row even when some of its
  *     columns are null, and "no prior right row" is exactly
  *     "struct is null".
  *
  * Right rows with a null timestamp are dropped (they have no
  * position on the timeline; letting them sort first would seed
  * every left row with phantom values). Right rows with a null in
  * any key column are dropped too: `Window.partitionBy` groups NULL
  * keys together, which would let null-keyed left rows enrich from
  * null-keyed right rows — ASOF is an equi-join and equi-joins never
  * match on NULL (DuckDB ASOF agrees).
  *
  * Cost is a single sort-shuffle of |left| + |right| — no range-join
  * explosion, no per-key collect, skew bounded by the hottest key
  * ([[Skew.keySkewProfile]] measures it).
  */
object AsOf {

  /** @param keys        equi-join key columns (present in both inputs)
    * @param timeCol     event-time column name (present in both inputs)
    * @param rightValues right columns to carry (emitted as
    *                    `asof_<name>`, null when no prior right row)
    * @param tieBreak    right-side column ordering rows that share a
    *                    timestamp (latest wins), e.g. a sequence id
    */
  def join(left: DataFrame, right: DataFrame, keys: Seq[String], timeCol: String,
           rightValues: Seq[String], tieBreak: Option[String] = None): DataFrame = {
    val leftCols = left.columns.toSeq
    val sideCol = "__asof_side"
    val tieCol = "__asof_tie"
    val rowCol = "__asof_row"
    val rowType = StructType(rightValues.map(c =>
      StructField(c, right.schema(c).dataType)))

    val taggedLeft = left.select(
      leftCols.map(col) :+
        lit(null).cast(rowType).as(rowCol) :+
        lit(1).as(sideCol) :+
        lit(null).cast("long").as(tieCol): _*)

    val taggedRight = right
      .filter(keys.foldLeft(col(timeCol).isNotNull)((p, k) => p && col(k).isNotNull))
      .select(
        leftCols.map(c =>
          if (keys.contains(c) || c == timeCol) col(c)
          else lit(null).cast(left.schema(c).dataType).as(c)) :+
          struct(rightValues.map(col): _*).cast(rowType).as(rowCol) :+
          lit(0).as(sideCol) :+
          tieBreak.fold(lit(0L))(col(_).cast("long")).as(tieCol): _*)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(timeCol).asc, col(sideCol).asc, col(tieCol).asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    taggedLeft.unionByName(taggedRight)
      .withColumn(rowCol, last(col(rowCol), ignoreNulls = true).over(w))
      .filter(col(sideCol) === 1)
      .select(leftCols.map(col) ++
        rightValues.map(c => col(rowCol).getField(c).as(s"asof_$c")): _*)
  }
}
