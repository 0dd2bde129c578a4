package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** K fixed-weight projections of a float vector as ONE native loop —
  * the [[PlaneCell]] treatment applied to projections that need the
  * SUM VALUES (random projection, PCA-style axes), not just signs.
  *
  * Arithmetic contract: projection k is the IEEE double left fold
  * `(w(k,0)·v0 + w(k,1)·v1) + …` STARTING FROM THE FIRST TERM — the
  * exact `reduceLeft` / DuckDB `list_reduce` order, preserved down to
  * the sign of zero (a 0.0 accumulator seed could turn an all-(-0.0)
  * fold's -0.0 into +0.0; starting at term 0 cannot). The weight
  * matrix rides the expression as a serialized double[][] (plan-time
  * constants), so the generated code is a tiny JIT-friendly loop
  * instead of K×dims inlined multiply-add nodes. Inputs shorter than
  * the weight row or with NULL elements yield a NULL output element
  * for every projection (mirroring what the inlined `element_at`
  * null-chain produced); a NULL input array yields NULL. */
case class PlaneSums(child: Expression, weights: Seq[Seq[Double]])
    extends UnaryExpression {

  // Seq (structural equality) in the constructor so identical
  // projections canonicalize equal — subexpression elimination then
  // computes the array ONCE even when CollapseProject re-inlines the
  // reference into every element_at consumer; primitive arrays for the
  // hot loop
  @transient private lazy val wArr: Array[Array[Double]] =
    weights.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "plane_sums"

  private def dims: Int = if (weights.isEmpty) 0 else weights.head.length

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val d = dims
    val ok = arr.numElements() >= d && {
      var i = 0
      var good = true
      while (good && i < d) { good = !arr.isNullAt(i); i += 1 }
      good
    }
    val out = new Array[Any](wArr.length)
    if (ok && d > 0) {
      var k = 0
      while (k < wArr.length) {
        val w = wArr(k)
        var s = w(0) * arr.getFloat(0).toDouble
        var i = 1
        while (i < d) { s += w(i) * arr.getFloat(i).toDouble; i += 1 }
        out(k) = s
        k += 1
      }
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("planeWeights", wArr, "double[][]")
    val d = dims
    val k = ctx.freshName("k")
    val i = ctx.freshName("i")
    val s = ctx.freshName("s")
    val wk = ctx.freshName("wk")
    val ok = ctx.freshName("ok")
    val out = ctx.freshName("out")
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |Object[] $out = new Object[$w.length];
         |boolean $ok = $a.numElements() >= $d;
         |if ($ok) {
         |  for (int $i = 0; $i < $d; $i++) {
         |    if ($a.isNullAt($i)) { $ok = false; break; }
         |  }
         |}
         |if ($ok && $d > 0) {
         |  for (int $k = 0; $k < $w.length; $k++) {
         |    double[] $wk = $w[$k];
         |    double $s = $wk[0] * (double) $a.getFloat(0);
         |    for (int $i = 1; $i < $d; $i++) {
         |      $s += $wk[$i] * (double) $a.getFloat($i);
         |    }
         |    $out[$k] = $s;
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PlaneSums =
    copy(child = newChild)
}

/** Registration-time builder (the `plane_sums` [[NativeFunctions]]
  * entry; ADVICE r13). It validates types: a natural SQL call like
  * `plane_sums(v, array(array(1.0, 2.0)))` produces DECIMAL literals,
  * which a raw `getDouble` read dies on with a bare ClassCastException.
  * Numeric weight matrices are COERCED to double through a foldable
  * Cast; anything else fails with a usable message naming the offending
  * argument. */
object PlaneSums {
  import org.apache.spark.sql.catalyst.expressions.Cast
  import org.apache.spark.sql.types.NumericType

  def build(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      s"plane_sums expects (vector, weights), got ${children.size} arguments")
    val w = children(1)
    if (!w.foldable)
      throw new IllegalArgumentException(
        "plane_sums weights must be a literal array(array(double, ...)), got " + w.sql)
    val coerced = w.dataType match {
      case ArrayType(ArrayType(DoubleType, _), _) => w
      case ArrayType(ArrayType(_: NumericType, _), _) =>
        Cast(w, ArrayType(ArrayType(DoubleType))) // stays foldable: Cast of a foldable child
      case other =>
        throw new IllegalArgumentException(
          s"plane_sums weights must be array(array(double)), got ${other.simpleString}: ${w.sql}")
    }
    val v = coerced.eval()
    if (v == null)
      throw new IllegalArgumentException(
        "plane_sums weights must be a non-null literal matrix, got " + w.sql)
    val ad = v.asInstanceOf[ArrayData]
    val rows = (0 until ad.numElements()).map { k =>
      if (ad.isNullAt(k))
        throw new IllegalArgumentException(
          s"plane_sums weights row $k is NULL in " + w.sql)
      val row = ad.getArray(k)
      (0 until row.numElements()).map { i =>
        if (row.isNullAt(i))
          throw new IllegalArgumentException(
            s"plane_sums weight ($k, $i) is NULL in " + w.sql)
        row.getDouble(i)
      }
    }
    PlaneSums(children(0), rows)
  }
}
