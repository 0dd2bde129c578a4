package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the float-vector dot product.
  *
  * The builtin route (`aggregate(zip_with(a, b, ...))`) runs interpreted —
  * higher-order functions have no `doGenCode` — and allocates a zipped
  * array per row. This expression stays inside WholeStageCodegen as a
  * tight primitive loop over the two `ArrayData`, no allocation, which is
  * what a 100 TB embedding scan needs.
  *
  * Semantics: IEEE double sum over pairwise products in index order
  * (identical result order to `aggregate`'s left fold, so swapping one
  * for the other never changes values); null or length-mismatched inputs
  * follow SQL semantics (null if either side is null; extra elements of
  * the longer vector are ignored). Null *elements* are treated as 0.0.
  */
case class DotProductF(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(dt: DataType): Boolean = dt match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT> arguments, got " +
        s"${left.dataType.simpleString} and ${right.dataType.simpleString}")
  }

  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_f"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductF =
    copy(left = newLeft, right = newRight)
}
