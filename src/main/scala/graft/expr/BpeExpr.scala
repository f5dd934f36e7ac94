package graft.expr

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.kernel.Bpe

/** One symbol per Unicode codepoint (the BPE training start state). */
case class CharSymbols(child: Expression)
    extends UnaryExpression with SimpleCodegen {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Bpe.charSymbols(input.asInstanceOf[UTF8String].toString)
        .map(UTF8String.fromString(_): Any))
  override protected def withNewChildInternal(c: Expression): CharSymbols =
    copy(child = c)
}

/** Subword-tokenize text with a learned merge list: whitespace words, each
  * encoded by standard lowest-rank-first BPE application. The merge table
  * rides the expression (broadcast with the plan, built into a rank map
  * once per task), so tokenizing a 100-TB corpus is one narrow scan with
  * no shuffle and no driver round-trips.
  */
case class BpeEncode(child: Expression, merges: Seq[(String, String)])
    extends UnaryExpression with SimpleCodegen {
  @transient private lazy val rank: Map[(String, String), Int] =
    merges.zipWithIndex.toMap
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Bpe.encodeText(input.asInstanceOf[UTF8String].toString, rank)
        .map(UTF8String.fromString(_): Any))
  override protected def withNewChildInternal(c: Expression): BpeEncode =
    copy(child = c)
}
