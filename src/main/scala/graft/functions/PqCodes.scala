package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, IntegerType}

/** Per-row product-quantization encode as ONE native loop — the
  * [[MinHashBands]] treatment applied to the PQ encode stream (the
  * round-14 close-out's named headroom): the relational formulation
  * (corpus × broadcast codebook crossJoin → packed-BIGINT max
  * HashAggregate) pays an M·K-row stream plus an aggregate per vector,
  * where the quantizer is really a pure per-row function of the
  * embedding. This expression computes all M codes in one pass with the
  * codebook riding as a reference object, so encode is a zero-exchange
  * map — and the streaming encode twin falls out for free.
  *
  * Arithmetic contract (must stay bit-identical to the relational
  * kernel it replaces, which the q_ann_pq / q_pq_distortion /
  * q_ann_ivfpq / q_pq_train hash gates verify end to end): for
  * subspace m and codebook entry (m, k),
  *
  *   dotInt(m, k) = Σ_i round_half_up(v[m·DS+i] · cb(m)(k)(i), 12)·10^12
  *
  * with each term rounded exactly like Spark's double→DECIMAL(28,12)
  * cast ([[DecimalDotOps]]: `BigDecimal.valueOf` through the double's
  *  shortest string, HALF_UP at scale 12 — so dotInt ≡
  * `cast(dot_dec(slice(v, m·DS+1, DS), cb) * 1e12 as bigint)`), null
  * or absent elements skipped exactly as dot_dec skips them. The code
  * is argmax_k of (2·dotInt(m,k) − ccInt(m,k)) with ties to the LOWEST
  * k (the relational pack `score·16 + (15−k)` under max — same
  * selection), ccInt precomputed from the codebook with the identical
  * per-term rounding. NULL input array → an array of M NULL codes (NOT
  * a NULL array): callers posexplode, so a NULL embedding carries one
  * NULL-code row per subspace exactly like the old aggregate did
  * instead of silently dropping (the r15 edge); the expression itself
  * is therefore never NULL.
  *
  * The codebook constructor field is Seq-of-Seq (structural equality)
  * so identical encodes canonicalize equal — the [[PlaneSums]] rule;
  * the hot loop reads a primitive float[][][]. */
case class PqCodes(child: Expression, cb: Seq[Seq[Seq[Float]]])
    extends UnaryExpression {

  require(cb.nonEmpty && cb.forall(_.nonEmpty),
    "pq_codes: codebook must be a non-empty array(array(array(float))) of (m)(k)(dim)")

  @transient private lazy val cbArr: Array[Array[Array[Float]]] =
    cb.map(_.map(_.toArray).toArray).toArray

  /** ccInt(m)(k) = dot_dec(cb, cb)·10^12 as an exact long — the
    * broadcast-side constant of the relational kernel, precomputed
    * once per (de)serialized expression instance. */
  @transient private lazy val ccInt: Array[Array[Long]] =
    cbArr.map(_.map { c =>
      var s = 0L
      var i = 0
      while (i < c.length) {
        s += PqCodes.term12(c(i).toDouble * c(i).toDouble)
        i += 1
      }
      s
    })

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<FLOAT>, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = true)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_codes"

  /** The NULL-embedding output: one NULL code per subspace, so a
    * posexplode caller keeps the row instead of dropping it. */
  @transient private lazy val nullCodes: GenericArrayData =
    new GenericArrayData(Array.fill[Any](cb.length)(null))

  /** NULL-tolerant entry point shared by eval and generated code. */
  def computeNullable(v: ArrayData): GenericArrayData =
    if (v == null) nullCodes else compute(v)

  /** ccInt·10⁻¹² as doubles — the double-prefilter twin of [[ccInt]]. */
  @transient private lazy val ccDouble: Array[Array[Double]] =
    ccInt.map(_.map(_ * 1e-12))

  /** One reusable instance method so interpreted eval and generated
    * code share the implementation (the [[MinHashBands]] pattern).
    *
    * Two-phase argmax (the ANN family's codegen'd-double-prefilter /
    * exact-DECIMAL-on-survivors pattern, applied inside the loop):
    * phase 1 scores every entry in pure double — float×float products
    * are EXACT in double (24×24 ≤ 53 bits), so the only error is the
    * 8-term summation, the scaled-12 per-term rounding distance, and
    * the cc representation, bounded by
    *   |exactScore·10⁻¹² − approx| ≤ 8·(0.5e-12·2) + (2A + |cc|)·~2e-15
    * (A = Σ|v_i·c_i|); the margin used is 2e-11 + (2A + |cc|)·1e-14 —
    * ≥ 2× that bound. When the best approx score clears the runner-up
    * by the SUM of their margins, the exact integer argmax provably
    * selects the same entry (strict win ⇒ tie rule irrelevant) and no
    * decimal term is ever computed; near-ties — duplicate or
    * ~duplicate codebook entries — fall back to the exact integer
    * scoring with ties to the LOWEST code. Values are therefore
    * identical to the always-exact formulation by construction
    * (PqEncodeSpec: corpus A/B, a perturbed near-tie codebook stress,
    * and the duplicate-entry tie case). */
  def compute(v: ArrayData): GenericArrayData = {
    val m = cbArr.length
    val len = v.numElements()
    val out = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      val ks = cbArr(mi)
      val ccd = ccDouble(mi)
      val off = mi * ks(0).length
      var b1 = Double.NegativeInfinity
      var b2 = Double.NegativeInfinity
      var bk = 0
      var bm = 0.0 // margin of the leader
      var mMax = 0.0 // max margin over every NON-LEADER entry
      // NaN products or magnitudes near the scaled-long range must
      // reach the exact path's LOUD failure (the relational kernel's
      // ANSI casts threw there; the double phase would silently answer)
      var forceExact = false
      var k = 0
      while (k < ks.length) {
        val c = ks(k)
        var d = 0.0
        var a = 0.0
        var i = 0
        while (i < c.length) {
          val idx = off + i
          if (idx < len && !v.isNullAt(idx)) {
            val p = v.getFloat(idx).toDouble * c(i).toDouble // exact product
            d += p
            a += math.abs(p)
          }
          i += 1
        }
        val s = 2.0 * d - ccd(k)
        if (s != s || a > 8.0e6) forceExact = true
        val mg = 2e-11 + (2.0 * a + math.abs(ccd(k))) * 1e-14
        // certify against the WORST non-leader margin, not the
        // runner-up's: an entry just below b2 can carry a larger error
        // bound (r15 ADVICE on the IvfAdcEncode twin) — a dethroned
        // leader's margin joins mMax as well
        if (s > b1) { b2 = b1; mMax = math.max(mMax, bm); b1 = s; bm = mg; bk = k }
        else { if (s > b2) b2 = s; mMax = math.max(mMax, mg) }
        k += 1
      }
      out(mi) =
        if (!forceExact && b1 - b2 > bm + mMax) { PqCodes.fastSubspaces.increment(); bk }
        else { PqCodes.exactSubspaces.increment(); exactArgmax(v, len, off, ks, ccInt(mi)) }
      mi += 1
    }
    new GenericArrayData(out)
  }

  /** The always-exact integer argmax (2·dotInt − ccInt, ties to the
    * lowest code) — the near-tie fallback and the semantics anchor. */
  private def exactArgmax(
      v: ArrayData, len: Int, off: Int,
      ks: Array[Array[Float]], ccs: Array[Long]): Int = {
    var bestScore = Long.MinValue
    var bestK = 0
    var k = 0
    while (k < ks.length) {
      val c = ks(k)
      var dot = 0L
      var i = 0
      while (i < c.length) {
        val idx = off + i
        if (idx < len && !v.isNullAt(idx))
          dot = Math.addExact(dot,
            PqCodes.term12(v.getFloat(idx).toDouble * c(i).toDouble))
        i += 1
      }
      val score = 2L * dot - ccs(k)
      if (score > bestScore) { bestScore = score; bestK = k }
      k += 1
    }
    bestK
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    computeNullable(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("pqCodes", this, classOf[PqCodes].getName)
    val childGen = child.genCode(ctx)
    val javaType = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
      .javaType(dataType)
    ev.copy(
      code = code"""
        ${childGen.code}
        $javaType ${ev.value} = $self.computeNullable(
          ${childGen.isNull} ? null : ${childGen.value});""",
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodes =
    copy(child = newChild)
}

/** Registration-time builder (the `pq_codes` [[NativeFunctions]] entry):
  * validates the literal codebook and coerces numeric
  * element types to FLOAT through a foldable Cast. */
object PqCodes {
  import org.apache.spark.sql.catalyst.expressions.Cast
  import org.apache.spark.sql.types.NumericType

  /** The per-term scaled-12 integer — [[DecimalDotOps.term12]] (the
    * shared boundary-guarded fast path over the exact
    * `BigDecimal.valueOf` + HALF_UP rounding; throws on overflow,
    * |p| ≳ 9.2e6, instead of wrapping — the same loud failure the
    * relational kernel's ANSI decimal→bigint cast gave). */
  def term12(p: Double): Long = DecimalDotOps.term12(p)

  /** Per-JVM diagnostic counters for the two-phase argmax: subspace
    * decisions taken by the certified double prefilter vs the exact
    * integer fallback. The margin proof makes the CODES correct either
    * way — these only make the prefilter's coverage visible (a
    * codebook whose entries cluster inside the margin would silently
    * run all-exact; PqEncodeSpec asserts coverage on the real corpus).
    * LongAdder: hot-loop increments from many task threads. */
  val fastSubspaces = new java.util.concurrent.atomic.LongAdder
  val exactSubspaces = new java.util.concurrent.atomic.LongAdder

  def build(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      s"pq_codes expects (vector, codebook), got ${children.size} arguments")
    val w = children(1)
    if (!w.foldable)
      throw new IllegalArgumentException(
        "pq_codes codebook must be a literal array(array(array(float))), got " + w.sql)
    val coerced = w.dataType match {
      case ArrayType(ArrayType(ArrayType(FloatType, _), _), _) => w
      case ArrayType(ArrayType(ArrayType(_: NumericType, _), _), _) =>
        Cast(w, ArrayType(ArrayType(ArrayType(FloatType))))
      case other =>
        throw new IllegalArgumentException(
          s"pq_codes codebook must be array(array(array(float))), got ${other.simpleString}: ${w.sql}")
    }
    val v = coerced.eval()
    if (v == null)
      throw new IllegalArgumentException(
        "pq_codes codebook must be a non-null literal, got " + w.sql)
    val ad = v.asInstanceOf[ArrayData]
    val rows = (0 until ad.numElements()).map { m =>
      if (ad.isNullAt(m))
        throw new IllegalArgumentException(s"pq_codes codebook subspace $m is NULL in " + w.sql)
      val ks = ad.getArray(m)
      (0 until ks.numElements()).map { k =>
        if (ks.isNullAt(k))
          throw new IllegalArgumentException(s"pq_codes codebook entry ($m, $k) is NULL in " + w.sql)
        val c = ks.getArray(k)
        (0 until c.numElements()).map { i =>
          if (c.isNullAt(i))
            throw new IllegalArgumentException(
              s"pq_codes codebook element ($m, $k, $i) is NULL in " + w.sql)
          c.getFloat(i)
        }
      }
    }
    PqCodes(children(0), rows)
  }
}
