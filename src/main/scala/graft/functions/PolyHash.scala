package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd polynomial rolling hash over a string's bytes:
  * fold(acc = 0; acc * 31 + byte mod 1e9+7).
  *
  * Why a custom Catalyst expression: the same fold written with built-in
  * higher-order functions (`aggregate(sequence(1, length(s)), …, substr)`)
  * is CodegenFallback — interpreted per element with a substring allocation
  * per character, O(n²) on the hot path. This expression compiles to a tight
  * byte loop inside whole-stage codegen. Byte-wise == char-wise for ASCII
  * corpora (multi-byte codepoints hash their UTF-8 bytes).
  */
case class PolyHash(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType) {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    } else {
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"poly_hash requires a string argument, got ${child.dataType.catalogString}")
    }

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    var acc = 0L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31L + (bytes(i) & 0xFF)) % 1000000007L
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val bytes = ctx.freshName("bytes")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |byte[] $bytes = $c.getBytes();
         |long $acc = 0L;
         |for (int $i = 0; $i < $bytes.length; $i++) {
         |  $acc = ($acc * 31L + ($bytes[$i] & 0xFF)) % 1000000007L;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PolyHash =
    copy(child = newChild)
}

object PolyHash {
  /** Register `poly_hash` in a session's function registry (the public
    * Column constructor no longer accepts raw expressions in Spark 4;
    * SQL-registry + expr is the supported route).
    */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "poly_hash", exprs => PolyHash(exprs.head), "built-in")
}
