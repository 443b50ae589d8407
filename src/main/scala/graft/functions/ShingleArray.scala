package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd word n-gram shingling: the array of space-joined n-token
  * windows of a token array, in one pass.
  *
  * Why a custom expression (the DsirFold/ClsProbFold/BloomNgramHits
  * discipline): the higher-order formulation — `transform` over a
  * `sequence` with an n-way `concat_ws` per window — is CodegenFallback;
  * every window walks an interpreted expression tree. shingles sit on the
  * hot path of every n-gram operator (the benchmark set of exact
  * decontamination, ngram_jaccard's verify, the minhash preprocessing),
  * and the round-9 switch to full-materialization benching exposed the
  * cost: ngram_jaccard 17.8 s / curation_decontam 10.5 s at sf0.1, almost
  * entirely interpreted window construction. This expression builds the
  * windows in a tight loop at scan speed.
  *
  * Semantics are exactly the higher-order twin the specs pin it against
  * (`CurationTwin.shinglesHof`): windows start at every position
  * (size − n + 1 of them), tokens join with single spaces, fewer than n
  * tokens → an EMPTY array (not null).
  */
case class ShingleArray(child: Expression, n: Int)
  extends UnaryExpression {

  require(n >= 1, s"shingle size must be >= 1, got $n")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"shingle_array requires array<string>, got ${other.catalogString}")
    }

  def compute(toks: ArrayData): ArrayData = {
    val nT = toks.numElements()
    if (nT < n) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](nT - n + 1)
    var i = 0
    while (i <= nT - n) {
      if (n == 1) {
        out(i) = toks.getUTF8String(i)
      } else {
        val sb = new java.lang.StringBuilder()
        var k = 0
        while (k < n) {
          if (k > 0) sb.append(' ')
          sb.append(toks.getUTF8String(i + k).toString)
          k += 1
        }
        out(i) = UTF8String.fromString(sb.toString)
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def nullSafeEval(toks: Any): Any =
    compute(toks.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleArray", this)
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($t);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleArray =
    copy(child = newChild)
}

object ShingleArray {

  /** How many DISTINCT n-grams of a token array satisfy `hit` — the walk
    * the per-row n-gram probes share ([[NgramSetHits]], [[BloomNgramHits]]).
    * Windows are exactly [[ShingleArray.compute]]'s (fewer than n tokens →
    * 0); each distinct n-gram is tested once, in first-occurrence order.
    */
  def distinctHits(toks: ArrayData, n: Int)(hit: String => Boolean): Long = {
    val nT = toks.numElements()
    if (nT < n) return 0L
    val seen = new java.util.HashSet[String]()
    var hits = 0L
    var i = 0
    while (i <= nT - n) {
      val sb = new java.lang.StringBuilder()
      var k = 0
      while (k < n) {
        if (k > 0) sb.append(' ')
        sb.append(toks.getUTF8String(i + k).toString)
        k += 1
      }
      val g = sb.toString
      if (seen.add(g) && hit(g)) hits += 1L
      i += 1
    }
    hits
  }

  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Kernels.register(spark, "shingle_array") { exprs =>
      val n = exprs(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"shingle_array: n must be an integer literal, got $other")
      }
      ShingleArray(exprs(0), n)
    }
}
