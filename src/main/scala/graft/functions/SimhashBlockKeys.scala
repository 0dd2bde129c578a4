package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** Per-row SimHash block-combination claim keys as ONE native loop —
  * the streaming twin of the batch `simhash_agg` + masked-key join
  * pipeline (`q_dedup_simhash_blocks`), built by the
  * [[MinHashBands]] rule: a HOF formulation would run interpreted and
  * CollapseProject would re-inline the 60-bit signature computation
  * into every masked-key expression.
  *
  * Contract: for token strings t_i, h_i = [[CrossHash.localUtf8]] (the
  * active-profile per-row twin of `CrossHash.h` — CrossHashSpec pins
  * agreement), signature bit b is set iff strictly more h_i have bit b
  * set than clear (the [[SimHashAgg]] rule, value-identical), and key
  * m = a 64-bit mix of (m, simhash AND masks(B)(m)) over the C(B,5)
  * canonical exclusion masks ([[SimhashBlockKeys.masks]] — the SAME
  * family the batch query joins on, one source of truth). The key
  * VALUES are not the batch join's (mask, bkey) pairs — a stream
  * state key must be one value — but they partition identically on
  * (mask index, masked signature), which is what the StreamingSpec
  * batch-twin equality gate proves. Two signatures at hamming ≤ 5
  * share a key for SOME m by pigeonhole (SimhashBlocksSpec), so a
  * first-writer-wins claim per key is an EXACT-recall streaming
  * prefilter at hamming ≤ 5 — the mediaDedup claim protocol at the
  * text tier. NULL input array → NULL; NULL elements are skipped; a
  * row with zero hashable tokens yields NULL (callers filter).
  *
  * B is the caller's dedup-horizon choice (the streaming
  * `semanticDedup(bits)` rule — a stream cannot derive corpus size);
  * batch derives it from the corpus ([[graft.queries.Dedup]]). */
case class SimhashBlockKeys(child: Expression, bB: Int)
    extends UnaryExpression {

  require(SimhashBlockKeys.ValidB.contains(bB),
    s"simhash_block_keys: B must be one of ${SimhashBlockKeys.ValidB.toSeq.sorted.mkString("{", ",", "}")} " +
      s"(larger divisors of 60 make the C(B,5) per-row key fan-out impractical), got $bB")

  @transient private lazy val maskArr: Array[Long] = SimhashBlockKeys.masks(bB)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING> of tokens, got ${other.simpleString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "simhash_block_keys"

  /** One reusable instance method so interpreted eval and generated
    * code share the implementation (the MinHashBands rule). */
  def compute(arr: ArrayData): GenericArrayData = {
    val counters = new Array[Int](60)
    val n = arr.numElements()
    var any = false
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        any = true
        val h = CrossHash.localUtf8(arr.getUTF8String(i))
        var b = 0
        while (b < 60) {
          counters(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
      }
      i += 1
    }
    if (!any) return null
    var sim = 0L
    var b = 0
    while (b < 60) {
      if (counters(b) > 0) sim |= (1L << b)
      b += 1
    }
    val t = maskArr.length
    val out = new Array[Any](t)
    var m = 0
    while (m < t) {
      // fixed 64-bit mix of (mask index, masked signature) — the
      // MinHashBands splitmix-style fold
      var acc = 1125899906842597L * (m + 1)
      acc = (acc ^ (sim & maskArr(m))) * -7046029254386353131L // 0x9E3779B97F4A7C15
      acc ^= (acc >>> 32)
      out(m) = acc
      m += 1
    }
    new GenericArrayData(out)
  }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj(
      "simhashBlockKeys", this, classOf[SimhashBlockKeys].getName)
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = $self.compute($a);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  }

  override def nullable: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): SimhashBlockKeys =
    copy(child = newChild)
}

/** The one mask a colliding signature pair is counted under:
  * `canonical_block_mask(xor, B)` = the exclusion mask over the
  * lexicographically smallest 5-block superset of the pair's
  * differing-block set (xor = sig_a ^ sig_b ≠ 0; −1 when the pair
  * differs in more than 5 blocks and so collides on no mask).
  *
  * A pair differing in d blocks collides on EVERY mask whose excluded
  * 5-set covers those d blocks — C(B−d, 5−d) masks (126 of 252 at
  * B = 10, d = 1), all of which the block join emits and r20's
  * formulation collapsed through a pair-dedup DISTINCT exchange. For
  * any join row the row's mask is by construction one of the colliding
  * masks, so `mask = canonical_block_mask(a.simhash ^ b.simhash, B)`
  * keeps exactly ONE row per colliding signature pair MAP-SIDE — the
  * same set the distinct produced, with the 12× duplicate-mask
  * multiplicity dropped before the exchange (r21, VERDICT r20 #6;
  * measured at sf0.1: 111,584 verified directed rows → 9,224).
  * SimhashBlocksSpec pins set-equality against the distinct
  * formulation on the real corpus. */
case class CanonicalBlockMask(child: Expression, bB: Int)
    extends UnaryExpression {

  require(SimhashBlockKeys.ValidB.contains(bB),
    s"canonical_block_mask: invalid B $bB")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires BIGINT (the signature xor), got ${other.simpleString}")
  }

  override def dataType: DataType = LongType
  override def prettyName: String = "canonical_block_mask"

  override def nullSafeEval(input: Any): Any =
    SimhashBlockKeys.canonicalMask(input.asInstanceOf[Long], bB)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x =>
      s"${ev.value} = graft.functions.SimhashBlockKeys.canonicalMask($x, $bB);")

  override protected def withNewChildInternal(newChild: Expression): CanonicalBlockMask =
    copy(child = newChild)
}

object SimhashBlockKeys {

  /** The supported block-count ladder: divisors of 60 whose C(B,5)
    * mask count stays a practical per-row fan-out (B = 20 is already
    * 15,504 keys/row; B = 30/60 also divide 60 and leave included
    * blocks, but their 142k/5.4M-mask families are excluded on
    * cost, not correctness). */
  val ValidB: Set[Int] = Set(6, 10, 12, 15, 20)

  /** [[CanonicalBlockMask]]'s kernel: differing blocks of `xor`,
    * padded with the smallest free block indices to an excluded
    * 5-set, rendered as the mask value (the lexicographically
    * smallest member of the pair's colliding-mask family). −1 when
    * more than 5 blocks differ. */
  def canonicalMask(xor: Long, bB: Int): Long = {
    val width = 60 / bB
    val blockMask = (1L << width) - 1
    var excluded = 0 // bitset over block indices
    var cnt = 0
    var j = 0
    while (j < bB) {
      if (((xor >>> (j * width)) & blockMask) != 0L) { excluded |= 1 << j; cnt += 1 }
      j += 1
    }
    if (cnt > 5) return -1L
    j = 0
    while (cnt < 5 && j < bB) {
      if ((excluded & (1 << j)) == 0) { excluded |= 1 << j; cnt += 1 }
      j += 1
    }
    var m = (1L << 60) - 1
    j = 0
    while (j < bB) {
      if ((excluded & (1 << j)) != 0) m -= blockMask << (j * width)
      j += 1
    }
    m
  }

  /** Registration-time builder for [[CanonicalBlockMask]]. */
  def buildCanonical(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      s"canonical_block_mask expects (xor, B), got ${children.size} arguments")
    val bE = children(1)
    if (!bE.foldable || bE.eval() == null)
      throw new IllegalArgumentException(
        s"canonical_block_mask B must be a non-null literal, got ${bE.sql}")
    CanonicalBlockMask(children(0), bE.eval().asInstanceOf[Number].intValue())
  }

  /** The canonical C(B,5) exclusion-mask family over B blocks of
    * 60/B bits — each mask keeps B−5 blocks (full60 minus the 5
    * excluded blocks' bits; blocks are disjoint so subtraction is
    * exact). `combinations` enumerates in deterministic lexicographic
    * order, so mask INDEX m is stable — both the batch oracle's
    * generate_series enumeration and the streaming key mix rely on
    * the family, and [[graft.queries.Dedup.simhashBlockMasks]]
    * delegates here (one source of truth). */
  def masks(bB: Int): Array[Long] = {
    require(ValidB.contains(bB), s"simhash blocks: invalid B $bB")
    val width = 60 / bB
    val full = (1L << 60) - 1
    (0 until bB).combinations(5).map { ex =>
      ex.foldLeft(full)((m, e) => m - (((1L << width) - 1) << (e * width)))
    }.toArray
  }

  /** Registration-time builder (the `simhash_block_keys`
    * [[NativeFunctions]] entry): validates the literal block count. */
  def build(children: Seq[Expression]): Expression = {
    require(children.size == 2,
      s"simhash_block_keys expects (tokens, B), got ${children.size} arguments")
    val bE = children(1)
    if (!bE.foldable || bE.eval() == null)
      throw new IllegalArgumentException(
        s"simhash_block_keys B must be a non-null literal, got ${bE.sql}")
    SimhashBlockKeys(children(0), bE.eval().asInstanceOf[Number].intValue())
  }
}
