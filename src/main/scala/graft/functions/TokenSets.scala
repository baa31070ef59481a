package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, LongType}

/** |A ∩ B| of two token sets, by one linear merge that compares the
  * strings themselves (UTF-8 bytes, never hashes), so the count is
  * exact. A token set is an `array<string>`, distinct and sorted in
  * Spark's string order (UTF-8 byte order): built from text by
  * [[graft.text.TextOps.tokenSet]], or folded from an (id, w) table
  * by [[graft.text.TextOps.foldTokenSets]].
  */
case class SortedOverlap(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "sorted_overlap"

  override def nullSafeEval(a: Any, b: Any): Any =
    TokenSets.overlap(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"${TokenSets.getClass.getName.stripSuffix("$")}.overlap($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedOverlap =
    copy(left = newLeft, right = newRight)
}

object TokenSets {
  import org.apache.spark.sql.GraftExpressionBridge

  def overlap(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0L
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).binaryCompare(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** Column form of [[SortedOverlap]]. */
  def sortedOverlap(a: Column, b: Column): Column =
    GraftExpressionBridge.column(
      SortedOverlap(GraftExpressionBridge.expression(a), GraftExpressionBridge.expression(b)))
}
