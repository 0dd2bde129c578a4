package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Per-row MinHash LSH band buckets as ONE native loop — the streaming
  * twin of the batch `minhash_agg` + banding pipeline, built for the
  * round-14 StreamBench finding: the HOF formulation
  * (`transform(seeds, sd -> array_min(transform(hs, v -> v ^ sd)))`
  * followed by 16 `element_at` band references) runs interpreted AND
  * CollapseProject re-inlines the whole signature computation into
  * every referencing band expression — the nearDedup stream measured
  * ~500 rows/s, ~20x under the batch kernel's per-row cost.
  *
  * Contract: for shingle strings s_i, hs_i = [[CrossHash.localUtf8]]
  * (the active-profile per-row twin of `CrossHash.h` — CrossHashSpec
  * pins agreement), sig_j = min_i (hs_i ^ seed_j), and bucket b =
  * a 64-bit mix of (b, sig_{4b}..sig_{4b+3}). The bucket VALUES are
  * not the batch kernel's md5 band keys — they never were in the
  * stream — but they partition identically on (band, 4 sig slots),
  * which is what the StreamingSpec batch-twin equality gate proves.
  * NULL input array → NULL; NULL/absent elements are skipped; a row
  * with zero hashable shingles yields NULL (callers filter
  * `size(sh) > 0` anyway).
  *
  * Seeds ride the expression as a serialized long[] (plan-time
  * constants from the driver's CrossHash profile — the PlaneCell
  * rule, so executors never re-derive under a different profile);
  * constructor keeps Seq for structural equality (canonicalization /
  * CSE — the PlaneSums rule). */
case class MinHashBands(child: Expression, seeds: Seq[Long], rowsPerBand: Int)
    extends UnaryExpression {

  require(seeds.nonEmpty && rowsPerBand > 0 && seeds.length % rowsPerBand == 0,
    s"minhash_bands: ${seeds.length} seeds not divisible into rows of $rowsPerBand")

  @transient private lazy val seedArr: Array[Long] = seeds.toArray
  private def nBands: Int = seeds.length / rowsPerBand

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING> of shingles, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_bands"

  /** The whole kernel as one reusable instance method so interpreted
    * eval and the generated code share a single implementation (the
    * generated call is one invoke, the loops JIT-compile normally). */
  def compute(arr: ArrayData): GenericArrayData = {
    val ns = seedArr.length
    val mins = new Array[Long](ns)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val n = arr.numElements()
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val h = CrossHash.localUtf8(arr.getUTF8String(i))
        var j = 0
        while (j < ns) {
          val x = h ^ seedArr(j)
          if (x < mins(j)) mins(j) = x
          j += 1
        }
      }
      i += 1
    }
    if (!any) return null
    val out = new Array[Any](nBands)
    var b = 0
    while (b < nBands) {
      // fixed 64-bit mix of (band, its sig slots): splitmix-style fold
      var acc = 1125899906842597L * (b + 1)
      var j = b * rowsPerBand
      val end = j + rowsPerBand
      while (j < end) {
        acc = (acc ^ mins(j)) * -7046029254386353131L // 0x9E3779B97F4A7C15
        acc ^= (acc >>> 32)
        j += 1
      }
      out(b) = acc
      b += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("minhashBands", this, classOf[MinHashBands].getName)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = $self.compute($a);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override def nullable: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

/** Registration-time builder (the `minhash_bands` [[NativeFunctions]]
  * entry): validates the literal seed array and row width. */
object MinHashBands {
  import org.apache.spark.sql.types.{IntegerType, NumericType}
  import org.apache.spark.sql.catalyst.expressions.Cast

  def build(children: Seq[Expression]): Expression = {
    require(children.size == 3,
      s"minhash_bands expects (shingles, seeds, rows_per_band), got ${children.size} arguments")
    val (seedsE, rowsE) = (children(1), children(2))
    if (!seedsE.foldable || !rowsE.foldable ||
      seedsE.eval() == null || rowsE.eval() == null)
      throw new IllegalArgumentException(
        "minhash_bands seeds and rows_per_band must be non-null literals, got " +
          s"${seedsE.sql}, ${rowsE.sql}")
    val coerced = seedsE.dataType match {
      case ArrayType(LongType, _) => seedsE
      case ArrayType(_: NumericType, _) => Cast(seedsE, ArrayType(LongType))
      case other => throw new IllegalArgumentException(
        s"minhash_bands seeds must be array(bigint), got ${other.simpleString}: ${seedsE.sql}")
    }
    if (rowsE.dataType != IntegerType && !rowsE.dataType.isInstanceOf[NumericType])
      throw new IllegalArgumentException(
        s"minhash_bands rows_per_band must be an integer literal, got ${rowsE.sql}")
    val ad = coerced.eval().asInstanceOf[ArrayData]
    val seeds = (0 until ad.numElements()).map { i =>
      if (ad.isNullAt(i))
        throw new IllegalArgumentException(s"minhash_bands seed $i is NULL in ${seedsE.sql}")
      ad.getLong(i)
    }
    MinHashBands(children(0), seeds,
      rowsE.eval().asInstanceOf[Number].intValue())
  }
}
