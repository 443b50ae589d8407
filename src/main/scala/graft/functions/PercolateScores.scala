package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Codegen'd standing-query percolation scores: fold a token array against
  * the fitted idf weight tables of EVERY standing query in one pass,
  * returning the per-query matched idf mass as integer MICROS (6-decimal
  * idf × 10⁶, exact on the round-6 grid).
  *
  * Why a custom expression (the ClsProbFold/BloomNgramHits discipline): the
  * pure-Column formulation — a per-row token map probed by a literal
  * when-chain over every (query, term) — evaluates O(|query vocab| × |doc|)
  * interpreted decimal branches per row (measured 101 s for the sf0.1
  * stream_percolate pass). This expression probes ONE precomputed hash
  * table per distinct token and adds a dense per-query micro vector on a
  * hit — O(|doc| tokens) per row at scan speed, no join, no aggregation,
  * no state store: exactly the shape a percolator needs at ingest.
  *
  * Exactness (must land where the batch join-and-sum plan and the DuckDB
  * replay land): each idf is round(·, 6), so its micros are an exact long;
  * the per-query long sum rebuilt as DECIMAL(·,6) via micros × 0.000001 is
  * the same exact value the batch side's SUM(CAST(idf AS DECIMAL(30,6)))
  * computes (order-free integer addition; ≤ ~2^40 for any real query).
  *
  * Token dedup happens inside the fold (a per-row hash set), mirroring the
  * batch side's array_distinct before its explode.
  *
  * `child` = array<string> tokens; `terms`/`vecs` (parallel: per-term dense
  * micro vectors, length nq) ride the constructor from registration — the
  * percolator's fitted state is metadata-scale, embedded in the plan like
  * the minhash permutation params.
  */
case class PercolateScores(child: Expression,
                           terms: Seq[String], vecs: Seq[Seq[Long]], nq: Int)
  extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"percolate_scores requires array<string>, got ${other.catalogString}")
  }

  @transient private lazy val table: java.util.HashMap[String, Array[Long]] = {
    val m = new java.util.HashMap[String, Array[Long]](terms.length * 2)
    terms.iterator.zip(vecs.iterator).foreach { case (t, v) =>
      m.put(t, v.toArray)
    }
    m
  }

  def compute(toks: ArrayData): ArrayData = {
    val acc = new Array[Long](nq)
    val n = toks.numElements()
    val seen = new java.util.HashSet[String](n * 2)
    var i = 0
    while (i < n) {
      // containsNull=true inputs are accepted: null tokens match nothing.
      if (!toks.isNullAt(i)) {
        val t = toks.getUTF8String(i).toString
        if (seen.add(t)) {
          val v = table.get(t)
          if (v != null) {
            var q = 0
            while (q < nq) { acc(q) += v(q); q += 1 }
          }
        }
      }
      i += 1
    }
    new GenericArrayData(acc)
  }

  override protected def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("percolateScores", this)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $ref.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): PercolateScores =
    copy(child = newChild)
}

object PercolateScores {
  /** Register a percolator over the collected standing queries (ordered:
    * query index i = position in `queries`). The name carries a digest of
    * the fitted state — the session keeps the first kernel registered
    * under a name, so differently-fitted percolators must land on
    * distinct names (the MinhashSig discipline).
    */
  def register(spark: org.apache.spark.sql.SparkSession,
               queries: Seq[(Long, Seq[(String, Double)], Double)]): String = {
    val nq = queries.length
    val byTerm = scala.collection.mutable.LinkedHashMap[String, Array[Long]]()
    queries.zipWithIndex.foreach { case ((_, terms, _), qi) =>
      terms.foreach { case (term, idf) =>
        val micros =
          (BigDecimal(java.lang.Double.toString(idf)) * 1000000).toLongExact
        byTerm.getOrElseUpdate(term, new Array[Long](nq))(qi) += micros
      }
    }
    val ts = byTerm.keys.toSeq
    val vs = byTerm.values.map(_.toSeq).toSeq
    val digest = (ts.foldLeft(17L)(_ * 31 + _.hashCode) * 31 +
      vs.foldLeft(17L)((h, v) => v.foldLeft(h)(_ * 31 + _))) & Long.MaxValue
    val name = s"percolate_scores_${nq}_${ts.length}_$digest"
    Kernels.register(spark, name)(exprs => PercolateScores(exprs.head, ts, vs, nq))
  }
}
