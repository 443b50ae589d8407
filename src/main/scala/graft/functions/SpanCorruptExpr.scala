package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd T5-style span corruption: the whole (inputs, targets) example
  * build for one document in ONE pass over its token array — the native
  * twin of the `Curation.spanCorrupt` HOF chain (kept in the specs as
  * `CurationTwin.spanCorruptHof`, the executable spec; MiningSpec pins
  * row equality).
  *
  * The HOF chain paid three interpreted sha-ratio draws per 8-token block
  * through the hex/`conv` string path, plus an `aggregate` fold whose
  * accumulator re-concatenated the inputs array once per span (O(spans ×
  * tokens) per row) — at 600M rows that was the whole cost of the
  * span_corrupt / stream_span_corrupt pair. This expression draws the
  * same ratios from digest bytes directly and builds both strings with
  * one linear walk.
  *
  * Exactness: a draw is sha256("<seed>|<id>:<block>") hex digits 2..15
  * (= digest bytes 1..7 big-endian) masked to 53 bits over 2^53 — the
  * division is exact (power-of-two denominator), so the native double
  * equals Spark's `conv`-parsed one bit-for-bit; `floor(r*6)` and
  * `floor(r*2)` replay the same IEEE products. Spans are disjoint by
  * construction (a block's span lives inside the block), so the inputs
  * walk is a single pointer sweep; empty tokens (split emits them) join
  * with single spaces exactly like `array_join`.
  */
case class SpanCorruptExpr(left: Expression, right: Expression,
                           block: Int, gateSeed: Int, offSeed: Int,
                           lenSeed: Int) extends BinaryExpression {
  require(block >= 3, s"span_corrupt: need block >= 3, got $block")

  override def dataType: DataType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_spans", LongType, nullable = false),
    StructField("n_corrupted", LongType, nullable = false),
    StructField("inputs", StringType, nullable = false),
    StructField("targets", StringType, nullable = false)))

  override def prettyName: String = "span_corrupt"

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"span_corrupt requires (string, array<string>), got " +
          s"${l.catalogString}, ${r.catalogString}")
    }

  /** sha256("<seed>|<id>:<b>") → hex digits 2..15 as 56 bits → low 53 bits
    * over 2^53 — bit-identical to Curation.hashRatio's conv path.
    */
  private def ratio(md: java.security.MessageDigest, seed: Int, id: String,
                    b: Long): Double = {
    md.reset()
    val dig = md.digest(
      s"$seed|$id:$b".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 1
    while (i <= 7) { v = (v << 8) | (dig(i) & 0xFFL); i += 1 }
    (v & ((1L << 53) - 1)).toDouble / (1L << 53).toDouble
  }

  def compute(idU: UTF8String, toks: ArrayData): InternalRow = {
    val id = idU.toString
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val n = toks.numElements().toLong
    val nBlocks = (n + block - 1) / block // = ceil(n/block); n >= 1 always
    val inputs = new java.lang.StringBuilder(64)
    val targets = new java.lang.StringBuilder(32)
    @inline def tok(i: Long): String = {
      val u = toks.getUTF8String(i.toInt)
      if (u == null) "" else u.toString
    }
    // array_join separates EVERY element pair, including empty-string
    // tokens — separate on element count, never on builder length
    var inEls = 0L
    var tgEls = 0L
    @inline def inSep(): Unit = { if (inEls > 0) inputs.append(' '); inEls += 1 }
    @inline def tgSep(): Unit = { if (tgEls > 0) targets.append(' '); tgEls += 1 }
    var pos = 0L
    var idx = 0L
    var corrupted = 0L
    var b = 0L
    while (b < nBlocks) {
      if (ratio(md, gateSeed, id, b) < 0.5) {
        val start = b * block +
          math.floor(ratio(md, offSeed, id, b) * (block - 2)).toLong
        if (start < n) {
          val len0 = math.floor(ratio(md, lenSeed, id, b) * 2).toLong + 1
          val len = math.min(len0, n - start)
          while (pos < start) { inSep(); inputs.append(tok(pos)); pos += 1 }
          inSep(); inputs.append("<X").append(idx).append('>')
          tgSep(); targets.append("<X").append(idx).append('>')
          var j = start
          while (j < start + len) {
            tgSep(); targets.append(tok(j))
            j += 1
          }
          pos = start + len
          corrupted += len
          idx += 1
        }
      }
      b += 1
    }
    while (pos < n) { inSep(); inputs.append(tok(pos)); pos += 1 }
    new GenericInternalRow(Array[Any](n, idx, corrupted,
      UTF8String.fromString(inputs.toString),
      UTF8String.fromString(targets.toString)))
  }

  override protected def nullSafeEval(idv: Any, toksv: Any): Any =
    compute(idv.asInstanceOf[UTF8String], toksv.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("spanCorrupt", this)
    nullSafeCodeGen(ctx, ev, (i, t) =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.compute($i, $t);")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SpanCorruptExpr =
    copy(left = newLeft, right = newRight)
}
