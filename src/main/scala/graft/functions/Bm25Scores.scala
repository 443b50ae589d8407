package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd BM25 scoring fold: every standing query's BM25 score of a
  * token array in ONE pass — term frequency is row-local, so once the
  * corpus statistics (per-term idf over the query vocabulary, avgdl) are
  * fitted, no posting ever needs to shuffle.
  *
  * Why a custom expression (the PercolateScores discipline applied to
  * ranked retrieval): the relational plan — explode every token, aggregate
  * (doc, term, tf) postings, broadcast-join query terms and df, decimal-sum
  * per (query, doc) — is row-LINEAR in shuffled postings (measured 10.1x at
  * the sf1→sf10 step, zero amortization: the posting aggregate dominates).
  * This fold counts tf in a per-row hash map, computes each matched term's
  * contribution once, and accumulates per-query exact micro sums — the only
  * shuffle left in the plan is the bounded top-k cut.
  *
  * Exactness (must land where the relational plan and the DuckDB twin
  * land): contribution = round6(idf · (tf·2.2)/(tf + 1.2·(0.25 +
  * 0.75·(dl/avgdl)))) with the idf ln precomputed driver-side on the same
  * doubles and the same association order; round6 via
  * BigDecimal(Double.toString) HALF_UP (Spark's round); micro accumulation
  * is order-free integer addition, and the emitted score double is the
  * DECIMAL(·,6) cast both engines compute.
  *
  * `child` = array<string> tokens. `terms`/`idfs`/`masks` are parallel:
  * per query-vocabulary term, its raw idf and the bitmask of query indices
  * containing it (≤ 64 standing queries). Output: one
  * struct(qid, score, n_terms) per query with ≥ 1 matched term, qid-ascending.
  */
case class Bm25Scores(child: Expression,
                      terms: Seq[String], idfs: Seq[Double], masks: Seq[Long],
                      qids: Seq[Long], avgdl: Double)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("qid", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("n_terms", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bm25_scores requires array<string>, got ${other.catalogString}")
  }

  // term -> (idf, query bitmask)
  @transient private lazy val table: java.util.HashMap[String, (Double, Long)] = {
    val m = new java.util.HashMap[String, (Double, Long)](terms.length * 2)
    var i = 0
    while (i < terms.length) { m.put(terms(i), (idfs(i), masks(i))); i += 1 }
    m
  }

  private def round6Micros(x: Double): Long =
    BigDecimal(java.lang.Double.toString(x))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .bigDecimal.movePointRight(6).longValueExact

  def compute(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val nq = qids.length
    // pass 1: row-local tf over the query-vocabulary terms only.
    // containsNull=true inputs are accepted: null tokens are ignored and
    // do not count toward document length.
    val tf = new java.util.HashMap[String, Array[Int]](64)
    var dl = 0
    var i = 0
    while (i < n) {
      if (!toks.isNullAt(i)) {
        dl += 1
        val t = toks.getUTF8String(i).toString
        if (table.containsKey(t)) {
          val c = tf.get(t)
          if (c == null) tf.put(t, Array(1)) else c(0) += 1
        }
      }
      i += 1
    }
    // pass 2: one contribution per matched term, fanned to its queries
    val micros = new Array[Long](nq)
    val nTerms = new Array[Long](nq)
    val it = tf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (idf, mask) = table.get(e.getKey)
      val tfd = e.getValue()(0).toDouble
      val weight = (tfd * 2.2) /
        (tfd + 1.2 * (0.25 + 0.75 * (dl.toDouble / avgdl)))
      val contrib = round6Micros(idf * weight)
      var q = 0
      while (q < nq) {
        if ((mask & (1L << q)) != 0L) { micros(q) += contrib; nTerms(q) += 1L }
        q += 1
      }
    }
    val out = scala.collection.mutable.ArrayBuffer[InternalRow]()
    var q = 0
    while (q < nq) {
      if (nTerms(q) > 0L) {
        val score = java.math.BigDecimal.valueOf(micros(q), 6).doubleValue()
        out += new GenericInternalRow(
          Array[Any](qids(q), score, nTerms(q)))
      }
      q += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bm25Scores", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): Bm25Scores =
    copy(child = newChild)
}

object Bm25Scores {
  /** Register a fitted BM25 scorer; the name carries a digest of the
    * fitted state (the MinhashSig/PercolateScores discipline).
    */
  def register(spark: org.apache.spark.sql.SparkSession,
               terms: Seq[String], idfs: Seq[Double], masks: Seq[Long],
               qids: Seq[Long], avgdl: Double): String = {
    require(qids.length <= 64, "bm25_scores: at most 64 standing queries")
    val digest = (terms.foldLeft(17L)(_ * 31 + _.hashCode) * 31 +
      idfs.foldLeft(17L)((h, d) =>
        h * 31 + java.lang.Double.doubleToLongBits(d)) * 31 +
      masks.foldLeft(17L)(_ * 31 + _) * 31 +
      qids.foldLeft(17L)(_ * 31 + _) * 31 +
      java.lang.Double.doubleToLongBits(avgdl)) & Long.MaxValue
    val name = s"bm25_scores_${qids.length}_${terms.length}_$digest"
    Kernels.register(spark, name)(
      exprs => Bm25Scores(exprs.head, terms, idfs, masks, qids, avgdl))
  }
}
