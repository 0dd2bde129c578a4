package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

import graft.plans.AsOfJoinStrategy

/** One native SQL function: its name, the expression class that
  * `DESCRIBE FUNCTION` reports (and [[GraftRuntime.ensure]] checks), and
  * the builder the analyzer calls with the argument expressions. */
final case class NativeFunction(name: String, exprClass: Class[_], build: FunctionBuilder) {
  def id: FunctionIdentifier = FunctionIdentifier(name)
  def info: ExpressionInfo = new ExpressionInfo(exprClass.getName, name)
}

/** The engine's native SQL functions: the one table that both install
  * paths read ([[GraftExtensions]] at session build, [[GraftRuntime.ensure]]
  * on a live session). A new function is a new entry here, never a
  * registration call elsewhere. */
object NativeFunctions {

  /** A foldable integer argument (n-gram width, decimal precision/scale). */
  private def intLit(e: Expression): Int = e.eval().asInstanceOf[Number].intValue()

  /** `marker_scores` word sets: each argument a non-null string literal
    * `'w1,w2,...'`. Guarded BEFORE eval: a non-foldable column or a null
    * literal would otherwise die in the analyzer with a raw NPE /
    * unbound-attribute error instead of a usable message. */
  private def wordSet(e: Expression): Seq[String] = {
    if (!e.foldable || e.dataType != StringType || e.eval() == null)
      throw new IllegalArgumentException(
        s"marker_scores word sets must be non-null string literals ('w1,w2,...'), got ${e.sql}")
    e.eval().asInstanceOf[UTF8String].toString.split(",").toSeq
  }

  val all: Seq[NativeFunction] = Seq(
    NativeFunction("dot_f", classOf[DotProductF], c => DotProductF(c(0), c(1))),
    NativeFunction("shingles", classOf[Shingles], c => Shingles(c(0), intLit(c(1)))),
    NativeFunction("ngrams", classOf[Shingles],
      c => Shingles(c(0), intLit(c(1)), distinct = false)),
    NativeFunction("mask_sids", classOf[MaskSids], c => MaskSids(c.head)),
    NativeFunction("ngram_stats", classOf[NGramStats], c => NGramStats(c(0), intLit(c(1)))),
    NativeFunction("dot_dec", classOf[DecimalDot], c => DecimalDot(c(0), c(1))),
    NativeFunction("plane_sums", classOf[PlaneSums], PlaneSums.build),
    NativeFunction("plane_cell", classOf[PlaneCell], PlaneCell.build),
    NativeFunction("minhash_bands", classOf[MinHashBands], MinHashBands.build),
    NativeFunction("simhash_block_keys", classOf[SimhashBlockKeys], SimhashBlockKeys.build),
    NativeFunction("canonical_block_mask", classOf[CanonicalBlockMask],
      SimhashBlockKeys.buildCanonical),
    NativeFunction("line_fps", classOf[LineFps], LineFpsHelper.build),
    NativeFunction("pq_codes", classOf[PqCodes], PqCodes.build),
    NativeFunction("ivfadc_encode", classOf[IvfAdcEncode], IvfAdcEncode.build),
    NativeFunction("bloom_hits", classOf[BloomHits], BloomHits.build),
    NativeFunction("hashed_score", classOf[HashedScore], HashedScore.build),
    NativeFunction("dsir_score", classOf[DsirScore], DsirScore.build),
    NativeFunction("langid_score", classOf[LangIdScore], LangIdScore.build),
    NativeFunction("simhash_agg", classOf[SimHashAgg], c => SimHashAgg(c.head)),
    NativeFunction("minhash_agg", classOf[MinHashAgg], c => MinHashAgg(c(0), c(1))),
    NativeFunction("gram_agg", classOf[GramAgg], c => GramAgg(c(0), c(1), c(2))),
    NativeFunction("mg_agg", classOf[MisraGriesAgg], c => MisraGriesAgg(c(0), c(1))),
    // Spark's own runtime-filter bloom expressions (public catalyst
    // classes, not exposed as SQL functions by default): bloom_agg
    // builds a BinaryType bloom from a BIGINT stream; might_contain
    // probes it. The bloom side of might_contain must be a constant or
    // scalar subquery (Spark's check), i.e. `(SELECT b FROM bf)`.
    NativeFunction("bloom_agg", classOf[BloomFilterAggregate],
      c => new BloomFilterAggregate(c(0), c(1), c(2))),
    NativeFunction("might_contain", classOf[BloomFilterMightContain],
      c => BloomFilterMightContain(c(0), c(1))),
    NativeFunction("marker_scores", classOf[MarkerScores],
      c => MarkerScores(c.head, c.tail.map(wordSet))),
    NativeFunction("dec_cast", classOf[FastDecimalCast],
      c => FastDecimalCast(c(0), intLit(c(1)), intLit(c(2)))),
    NativeFunction("zordern", classOf[ZOrderN], c => ZOrderN(c)),
    NativeFunction("zorder2", classOf[ZOrder2], c => ZOrder2(c(0), c(1))))
}

/** Engine extensions, installed via
  * `spark.sql.extensions=graft.functions.GraftExtensions` (wired in
  * [[graft.io.Sessions]]): every [[NativeFunctions]] entry, usable from
  * both the DataFrame API (`expr("dot_f(a, b)")`) and plain SQL, plus the
  * AS-OF join planner strategy. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    NativeFunctions.all.foreach(f => ext.injectFunction((f.id, f.info, f.build)))
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
  }
}
