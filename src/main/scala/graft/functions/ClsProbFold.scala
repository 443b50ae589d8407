package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd trained-classifier probability: the hashed bag-of-words
  * logistic score of one document's [[ClsFeatures]] row under a weight
  * vector, in one tight loop. Scoring text composes it over the feature
  * kernel; the GD rounds fold the checkpointed feature row, never
  * re-hashing text.
  *
  * Why a custom expression (the DsirFold lesson, applied to the classifier):
  * the higher-order formulation — `transform` to buckets, `array_distinct`,
  * then a nested `filter` per distinct bucket for its count — is
  * CodegenFallback AND O(distinct_buckets × n_tokens) interpreted lambda
  * evaluations per document (~64 × n for the 64-bucket gate; measured ~18 s
  * of the 21.8 s config_corpus_classify sf0.1 pass). The kernel plus this
  * fold do the identical arithmetic — one histogram pass over the tokens,
  * one pass over the observed buckets — at scan speed.
  *
  * Exactness (must land bit-identically where the relational
  * Classifier.classify chain and the DuckDB replay land):
  *  - x is a 6-decimal value ([[ClsFeatures]]), so exact in integer micros;
  *  - weights arrive as integer MICROS (6-decimal values × 10⁶, exact), so
  *    round12(w_b * x_b) is exactly `wMicros_b * xMicros_b` integer PICOS;
  *    the pico sum is a long (order-free; |terms| ≤ buckets+1, each below
  *    2^50 for any trained model);
  *  - round6 of the pico sum = sign-aware HALF_UP to micros (BigDecimal
  *    rounds away from zero at the half);
  *  - the hard-sigmoid link runs directly on the integer micros:
  *    clamp(500000 + floorDiv(sMicros, 4)) — identical to the relational
  *    `floor(round(s*1e6,0) / 4.0)` because sMicros < 2^52 round-trips the
  *    double exactly.
  *
  * `left` = a [[ClsFeatures]] row (bias included); `right` = array<long>
  * weight micros (dense, length = buckets + 1, last element = bias).
  */
case class ClsProbFold(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (l, ArrayType(LongType, _)) if ClsFeatures.isRow(l) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cls_prob_fold requires (${ClsFeatures.Type.catalogString}, " +
          s"array<long>), got (${l.catalogString}, ${r.catalogString})")
    }

  def compute(feats: ArrayData, wMicros: ArrayData): Double = {
    var picos = 0L
    var i = 0
    while (i < feats.numElements()) {
      val f = feats.getStruct(i, 2)
      picos += wMicros.getLong(f.getInt(0)) * math.round(f.getDouble(1) * 1e6)
      i += 1
    }
    val sMicros =
      if (picos >= 0) (picos + 500000L) / 1000000L
      else -((-picos + 500000L) / 1000000L)
    val pMicros = math.min(1000000L,
      math.max(0L, 500000L + Math.floorDiv(sMicros, 4)))
    pMicros.toDouble / 1e6
  }

  override protected def nullSafeEval(feats: Any, w: Any): Any =
    compute(feats.asInstanceOf[ArrayData], w.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("clsProbFold", this)
    nullSafeCodeGen(ctx, ev, (f, w) =>
      s"${ev.value} = $ref.compute($f, $w);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ClsProbFold =
    copy(left = newLeft, right = newRight)
}

object ClsProbFold {
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Kernels.register(spark, "cls_prob_fold")(exprs => ClsProbFold(exprs(0), exprs(1)))
}
