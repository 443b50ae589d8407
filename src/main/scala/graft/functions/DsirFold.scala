package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd DSIR scoring fold: mean bucket log-ratio of a token array under
  * a trained model, in one tight loop.
  *
  * Why a custom expression: the same logic as an `aggregate()` higher-order
  * fold is CodegenFallback — every token walks an interpreted expression
  * tree around its sha256 (measured ~230 s for the sf10 corpus journey vs
  * ~25 s for the codegen'd explode+join formulation of the same score).
  * This expression does the identical work — portable 60-bit token hash
  * (the PortableHashArr digest-byte read, spec-proven equal to
  * `conv(substr(sha2(x,256),1,15),16,10)`), bucket = hash mod |model|,
  * exact accumulation — at scan speed.
  *
  * Exactness: the model values are 6-decimal-rounded doubles, carried here
  * as integer MICRO-units (value × 10⁶, exact), summed in a long (order
  * -free, overflow-impossible below 2^43 tokens per doc), and divided out
  * as `round((micros / 1e6) / n, 6)` — landing bit-identically where the
  * oracle's `ROUND(CAST(SUM(CAST(lr AS DECIMAL(30,6))) AS DOUBLE)/count,6)`
  * lands, because micros/1e6 and the decimal→double cast are both the
  * nearest double to the same exact decimal.
  *
  * `left` = array<string> tokens; `right` = array<long> model micros
  * (bucket-indexed, dense).
  */
case class DsirFold(left: Expression, right: Expression)
  extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dsir_fold requires (array<string>, array<long>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  def compute(toks: ArrayData, lrMicros: ArrayData): Double = {
    val n = toks.numElements()
    if (n == 0) return 0.0
    val b = lrMicros.numElements()
    val md = java.security.MessageDigest.getInstance("SHA-256")
    // containsNull=true inputs are accepted: null tokens are skipped and
    // excluded from the mean's denominator.
    var acc = 0L
    var nn = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        nn += 1
        md.reset()
        val dig = md.digest(toks.getUTF8String(i).getBytes)
        var h = 0L
        var j = 0
        while (j < 7) { h = (h << 8) | (dig(j) & 0xFFL); j += 1 }
        h = (h << 4) | ((dig(7) & 0xFFL) >>> 4) // 60 bits, always positive
        acc += lrMicros.getLong((h % b).toInt)
      }
      i += 1
    }
    if (nn == 0) return 0.0
    val mean = (acc / 1e6) / nn
    BigDecimal(java.lang.Double.toString(mean))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  override protected def nullSafeEval(toks: Any, lr: Any): Any =
    compute(toks.asInstanceOf[ArrayData], lr.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("dsirFold", this)
    nullSafeCodeGen(ctx, ev, (t, l) =>
      s"${ev.value} = $ref.compute($t, $l);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DsirFold =
    copy(left = newLeft, right = newRight)
}

object DsirFold {
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Kernels.register(spark, "dsir_fold")(exprs => DsirFold(exprs(0), exprs(1)))
}
