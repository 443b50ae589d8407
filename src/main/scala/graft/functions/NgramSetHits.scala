package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Codegen'd exact n-gram probe: how many DISTINCT word n-grams of a token
  * array appear in a set of n-gram strings, in one pass — exact
  * decontamination as a per-row expression (the [[BloomNgramHits]] shape
  * with an exact set in place of the bitmap).
  *
  * Why a custom expression: the relational form explodes every document's
  * n-grams, joins them to the benchmark set, groups by doc id and joins
  * the counts back, so the corpus shuffles by id; `arrays_overlap` against
  * the set costs O(|set|) per row. This expression walks the document's
  * distinct n-grams ([[ShingleArray.distinctHits]]) against a hash set
  * built once per task: the set argument is a plan constant (a literal or
  * a scalar subquery), so every row of a task passes the same array
  * object and the hash set built for it is reused. A set argument that
  * changes per row stays correct; it rebuilds per row.
  *
  * Exactness: n-gram strings are exactly [[Text.shingles]]' (space-joined
  * n-token windows, fewer than n tokens → 0); each distinct n-gram counts
  * once; NULL set elements never match. NULL tokens or a NULL set → NULL.
  *
  * `left` = array<string> tokens; `right` = array<string> n-gram set; `n`
  * rides the constructor (extracted from a literal at registration).
  */
case class NgramSetHits(left: Expression, right: Expression, n: Int)
  extends BinaryExpression {

  require(n >= 1, s"n-gram size must be >= 1, got $n")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"ngram_set_hits requires (array<string>, array<string>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  // the last set array seen and its hash set, published as one pair
  @transient @volatile private[this] var cached
    : (ArrayData, java.util.HashSet[String]) = _

  private def hashSet(set: ArrayData): java.util.HashSet[String] = {
    val c = cached
    if (c != null && (c._1 eq set)) c._2
    else {
      val hs = new java.util.HashSet[String](set.numElements() * 2)
      var i = 0
      while (i < set.numElements()) {
        if (!set.isNullAt(i)) hs.add(set.getUTF8String(i).toString)
        i += 1
      }
      cached = (set, hs)
      hs
    }
  }

  def compute(toks: ArrayData, set: ArrayData): Long = {
    val hs = hashSet(set)
    if (hs.isEmpty) 0L else ShingleArray.distinctHits(toks, n)(hs.contains)
  }

  override protected def nullSafeEval(toks: Any, set: Any): Any =
    compute(toks.asInstanceOf[ArrayData], set.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("ngramSetHits", this)
    nullSafeCodeGen(ctx, ev, (t, s) =>
      s"${ev.value} = $ref.compute($t, $s);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NgramSetHits =
    copy(left = newLeft, right = newRight)
}

object NgramSetHits {
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    Kernels.register(spark, "ngram_set_hits") { exprs =>
      val n = exprs(2) match {
        case Literal(v: Int, IntegerType) => v
        case other => throw new IllegalArgumentException(
          s"ngram_set_hits: n must be an integer literal, got $other")
      }
      NgramSetHits(exprs(0), exprs(1), n)
    }
}
