package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd sparse hashed bag-of-words features of ONE document — the
  * classifier's feature row, built in one histogram pass per doc so a
  * training doc's features sit in its own row (no doc-keyed aggregate or
  * window ever regroups them).
  *
  * Output: `array<struct<pos:int, x:double>>` — `(pos, round6(c/n))` for
  * every OBSERVED bucket in ascending pos, then the bias `(buckets, 1.0)`.
  * A null or empty token array emits only the bias. Exactly the rows the
  * relational `explode → (id, pos) count → doc-total` build yields
  * (ClassifierSpec pins it row for row):
  *  - bucket = 60-bit portable sha256 hash mod buckets (the DsirFold
  *    digest-byte read, spec-proven equal to
  *    `conv(substr(sha2(x,256),1,15),16,10)`);
  *  - x = round6(count / n) via BigDecimal(Double.toString) HALF_UP —
  *    exactly Spark's `round(c/n, 6)`.
  *
  * [[ClsFeatures.row]] is the one histogram kernel: scoring folds its
  * output with [[ClsProbFold]]. The dense histogram is an int array sized
  * `buckets` per row — right for the classifier-gate regime (64…65k
  * buckets); a 2^20-bucket deployment should switch to a sparse map before
  * raising the constant. `child` = array<string> tokens.
  */
case class ClsFeatures(child: Expression, buckets: Int)
  extends UnaryExpression {

  override def dataType: DataType = ClsFeatures.Type
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if buckets > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"cls_features requires array<string> and buckets > 0, got " +
        s"${other.catalogString} and $buckets")
  }

  def compute(toks: ArrayData): ArrayData = ClsFeatures.row(toks, buckets)

  override def eval(input: InternalRow): Any =
    compute(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("clsFeatures", this)
    val c = child.genCode(ctx)
    val arr = "org.apache.spark.sql.catalyst.util.ArrayData"
    ev.copy(code = code"""
      ${c.code}
      $arr ${ev.value} = ($arr) $ref.compute(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): ClsFeatures =
    copy(child = newChild)
}

object ClsFeatures {
  /** One feature: the bucket (bias = buckets) and its 6-decimal weight. */
  val Type: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("x", DoubleType, nullable = false))), containsNull = false)

  /** `dt` is a feature row (nullability aside — a checkpoint may widen it). */
  def isRow(dt: DataType): Boolean = dt match {
    case ArrayType(StructType(Array(StructField("pos", IntegerType, _, _),
        StructField("x", DoubleType, _, _))), _) => true
    case _ => false
  }

  /** The kernel: one histogram pass over the non-null tokens (null tokens
    * are skipped and excluded from the fractions' denominator), then one
    * pass over the buckets.
    */
  def row(toks: ArrayData, buckets: Int): ArrayData = {
    val cnt = new Array[Int](buckets)
    var n = 0
    if (toks != null && buckets > 0) {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      var i = 0
      while (i < toks.numElements()) {
        if (!toks.isNullAt(i)) {
          n += 1
          md.reset()
          val dig = md.digest(toks.getUTF8String(i).getBytes)
          var h = 0L
          var j = 0
          while (j < 7) { h = (h << 8) | (dig(j) & 0xFFL); j += 1 }
          h = (h << 4) | ((dig(7) & 0xFFL) >>> 4) // 60 bits, always positive
          cnt((h % buckets).toInt) += 1
        }
        i += 1
      }
    }
    val out = new Array[Any](cnt.count(_ > 0) + 1)
    var k = 0
    var b = 0
    while (b < buckets) {
      if (cnt(b) > 0) {
        val x = BigDecimal(java.lang.Double.toString(cnt(b).toDouble / n))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        out(k) = new GenericInternalRow(Array[Any](b, x))
        k += 1
      }
      b += 1
    }
    out(k) = new GenericInternalRow(Array[Any](buckets, 1.0))
    new GenericArrayData(out)
  }
}
