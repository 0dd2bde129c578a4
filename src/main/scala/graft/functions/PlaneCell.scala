package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Random-hyperplane sign cell id as ONE native codegen'd loop.
  *
  * The previous formulation built the cell from `bits × 64` inlined
  * `lit(w) * element_at(v, i)` terms — a ~1000-node Catalyst tree whose
  * generated bytecode, once fused into a join stage, pushed the
  * whole-stage method past HotSpot's JIT compile threshold: the ENTIRE
  * fused stage (including `dot_f` over millions of candidate rows)
  * dropped to the bytecode interpreter. Round-13's scale-slope harness
  * caught it as a 100× slowdown of the pruned IVF assignment at 16×
  * scale (50 s where the flat scan took 0.5 s). This expression keeps
  * the identical arithmetic in a tight `double[][]` loop — tiny
  * bytecode, JIT-compiled, same WholeStageCodegen fusion.
  *
  * Arithmetic contract (bit-identical to the inlined tree AND to the
  * DuckDB `list_reduce` mirror): plane j's weights are
  * `((CrossHash.local(s"$prefix$j#$i") % 2001) - 1000) / 1000.0` for
  * dims i = 1..64, the plane sum folds dims left-to-right in IEEE
  * double (`0.0 + t1 + t2 + …` — the leading 0.0 cannot change any
  * sign), and the cell is `Σ (sum_j >= 0 ? 1<<j : 0)`. A NULL input
  * array, an array shorter than 64, or any NULL element yields cell 0
  * (exactly what the `when(null >= 0).otherwise(0)` chain produced).
  * Weights are derived EAGERLY at construction on the driver (the
  * active [[CrossHash]] profile) and serialized with the expression, so
  * executors never re-derive them under a different profile.
  */
case class PlaneCell(child: Expression, bits: Int, prefix: String)
    extends UnaryExpression {

  private final val Dims = 64

  private val weights: Array[Array[Double]] =
    Array.tabulate(math.max(bits, 0), Dims) { (j, i0) =>
      ((CrossHash.local(s"$prefix$j#${i0 + 1}") % 2001) - 1000) / 1000.0
    }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT>, got ${other.simpleString}")
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "plane_cell"

  private def compute(arr: ArrayData): Int = {
    if (arr == null || arr.numElements() < Dims) return 0
    var i = 0
    while (i < Dims) { if (arr.isNullAt(i)) return 0; i += 1 }
    var cell = 0
    var j = 0
    while (j < bits) {
      val w = weights(j)
      var s = 0.0
      i = 0
      while (i < Dims) { s += w(i) * arr.getFloat(i).toDouble; i += 1 }
      if (s >= 0) cell |= 1 << j
      j += 1
    }
    cell
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("planeWeights", weights, "double[][]")
    val c = child.genCode(ctx)
    val arr = ctx.freshName("arr")
    val cell = ctx.freshName("cell")
    val ok = ctx.freshName("ok")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val s = ctx.freshName("s")
    val wj = ctx.freshName("wj")
    ev.copy(
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral,
      code = code"""
        |${c.code}
        |int $cell = 0;
        |if (!${c.isNull}) {
        |  org.apache.spark.sql.catalyst.util.ArrayData $arr = ${c.value};
        |  if ($arr.numElements() >= $Dims) {
        |    boolean $ok = true;
        |    for (int $i = 0; $i < $Dims; $i++) {
        |      if ($arr.isNullAt($i)) { $ok = false; break; }
        |    }
        |    if ($ok) {
        |      for (int $j = 0; $j < $bits; $j++) {
        |        double[] $wj = $w[$j];
        |        double $s = 0.0;
        |        for (int $i = 0; $i < $Dims; $i++) {
        |          $s += $wj[$i] * (double) $arr.getFloat($i);
        |        }
        |        if ($s >= 0) $cell |= (1 << $j);
        |      }
        |    }
        |  }
        |}
        |int ${ev.value} = $cell;
      """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): PlaneCell =
    copy(child = newChild)
}

/** Registration-time builder (the `plane_cell` [[NativeFunctions]]
  * entry; ADVICE r13): validates the literal
  * bits/prefix arguments BEFORE eval — an integral bits argument of
  * any width is accepted, a non-string prefix fails with a message
  * naming the argument instead of a ClassCastException. */
object PlaneCell {
  import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType, StringType}

  def build(children: Seq[Expression]): Expression = {
    require(children.size == 3,
      s"plane_cell expects (vector, bits, prefix), got ${children.size} arguments")
    val (bitsE, prefE) = (children(1), children(2))
    if (!bitsE.foldable || !prefE.foldable ||
      bitsE.eval() == null || prefE.eval() == null)
      throw new IllegalArgumentException(
        "plane_cell bits and seed prefix must be non-null literals, got " +
          s"${bitsE.sql}, ${prefE.sql}")
    val bitsIntegral = bitsE.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    if (!bitsIntegral)
      throw new IllegalArgumentException(
        s"plane_cell bits must be an integer literal, got ${bitsE.dataType.simpleString}: ${bitsE.sql}")
    if (prefE.dataType != StringType)
      throw new IllegalArgumentException(
        s"plane_cell seed prefix must be a string literal, got ${prefE.dataType.simpleString}: ${prefE.sql}")
    PlaneCell(
      children(0),
      bitsE.eval().asInstanceOf[Number].intValue(),
      prefE.eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String].toString)
  }
}
