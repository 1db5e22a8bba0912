package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.GraftExpectsInputTypes
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Fused ADC (asymmetric distance computation) score: given a store
  * row's PQ codes (m small ints, subspace order) and a query's FLAT
  * lookup table (m x ksub inner products, position sub * ksub +
  * code_id), the approximate cosine is m array lookups —
  * sum(lut[s * ksub + codes[s]]). One codegen'd call per (query,
  * candidate) pair, exactly like VecCosineExpr's fused loop: the
  * compose-by-join spelling ([[graft.ops.ProductQuantize.adcScores]])
  * explodes each pair into m join rows and re-aggregates, which costs
  * more than the raw-embedding cosine it is meant to undercut — the
  * measured reason this expression exists (COVERAGE.md Round-11: join-ADC
  * 1.9x SLOWER than exact at sf10m; fused ADC is the win the PQ
  * layout promises).
  *
  * Out-of-range positions score 0.0 (a dropped k-means code never
  * appears in a codes array; the guard keeps malformed input from
  * reading out of bounds).
  */
case class AdcLutScoreExpr(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression with GraftExpectsInputTypes {
  require(ksub >= 1, s"ksub must be >= 1, got $ksub")
  override def acceptedTypes: Seq[Seq[DataType]] =
    Seq(Seq(ArrayType(IntegerType)), Seq(ArrayType(DoubleType)))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "adc_lut_score"
  override def nullSafeEval(codes: Any, lut: Any): Any =
    AdcOps.score(codes.asInstanceOf[ArrayData], lut.asInstanceOf[ArrayData], ksub)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (c, l) =>
      s"graft.functions.AdcOps$$.MODULE$$.score($c, $l, $ksub)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcLutScoreExpr =
    copy(left = newLeft, right = newRight)
}

object AdcOps {
  def score(codes: ArrayData, lut: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    val n = lut.numElements()
    var sum = 0.0d
    var s = 0
    while (s < m) {
      val idx = s * ksub + codes.getInt(s)
      if (idx >= 0 && idx < n) sum += lut.getDouble(idx)
      s += 1
    }
    sum
  }
}
