package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types.{AbstractDataType, DataType}

/** One call of a static kernel in `graft.functions` (`VectorOps`,
  * `TextHashes`, `TextChars`, `TextMd5`) — the one Catalyst
  * expression behind every `gf` function.
  *
  * Analysis sees this node: it checks the column arguments against
  * `argTypes` (a wrong type fails with `DATATYPE_MISMATCH`, with no
  * implicit cast) and labels an unaliased column `name(cols)`. The
  * optimizer then swaps in Spark's own [[StaticInvoke]] of
  * `kernel.method(cols ++ consts)`, which joins whole-stage codegen
  * and returns null iff a column argument is null. The constants
  * (sizes, seeds, model arrays, sketches) are literals that are not
  * children; model arrays and sketches ride along as codegen
  * reference objects, shipped once per task binary.
  */
case class KernelCall(name: String, kernel: AnyRef, method: String,
                      resultType: DataType, argTypes: Seq[DataType],
                      children: Seq[Expression], consts: Seq[Expression])
  extends RuntimeReplaceable with ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = argTypes
  override def prettyName: String = name
  override def stringArgs: Iterator[Any] = children.iterator

  override lazy val replacement: Expression =
    StaticInvoke(kernel.getClass, resultType, method, children ++ consts,
      returnNullable = false)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(children = newChildren)
}
