package graft.functions

import org.apache.spark.sql.{Column, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Bounded-memory top-k per group as a typed [[Aggregator]]: keeps
  * the k rows with the LARGEST sort value (ties broken ascending by
  * id, so the result is deterministic and matches `row_number() OVER
  * (ORDER BY v DESC, id)` ≤ k).
  *
  * Same results as the window formulation, better plan at scale: a
  * hash aggregate with partial merge carries |groups|·k rows through
  * the shuffle instead of sort-shuffling every row of every group —
  * the difference between "top 5 per segment" touching 5·|segments|
  * rows and touching the whole table.
  */
object TopKAgg {

  final case class Ranked(sortVal: Double, id: Long, payload: String)

  private class LargestK(k: Int)
    extends Aggregator[Ranked, Seq[(Double, Long, String)], Seq[(Double, Long, String)]] {
    require(k >= 1, s"k must be >= 1, got $k")
    // largest sortVal first; ties keep the smallest id
    private val ord =
      Ordering.by[(Double, Long, String), (Double, Long)](t => (-t._1, t._2))
    private def cap(s: Seq[(Double, Long, String)]): Seq[(Double, Long, String)] =
      s.sorted(ord).take(k)
    override def zero: Seq[(Double, Long, String)] = Seq.empty
    override def reduce(b: Seq[(Double, Long, String)], e: Ranked): Seq[(Double, Long, String)] =
      // a null row can't be ranked — skip it (the window twin would
      // sort nulls instead; inputs here are declared non-null)
      if (e == null) b
      else if (b.size < k || ord.lt((e.sortVal, e.id, e.payload), b.last))
        cap(b :+ ((e.sortVal, e.id, e.payload)))
      else b
    override def merge(a: Seq[(Double, Long, String)],
                       b: Seq[(Double, Long, String)]): Seq[(Double, Long, String)] =
      cap(a ++ b)
    override def finish(b: Seq[(Double, Long, String)]): Seq[(Double, Long, String)] = b
    override def bufferEncoder: Encoder[Seq[(Double, Long, String)]] =
      ExpressionEncoder[Seq[(Double, Long, String)]]()
    override def outputEncoder: Encoder[Seq[(Double, Long, String)]] =
      ExpressionEncoder[Seq[(Double, Long, String)]]()
  }

  /** `largestKWithPayload(v, id, payload, k)` — array of the group's
    * k largest (v, id, payload) triples in rank order. */
  def largestKWithPayload(sortVal: Column, id: Column, payload: Column, k: Int): Column =
    udaf(new LargestK(k), ExpressionEncoder[Ranked]()).apply(sortVal, id, payload)
}
