package graft

import org.apache.spark.sql.functions._

import graft.operators.Retrieval

/** Percolation, skyline, and pair-alignment heads. */
class PercolateSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  /** The join-shaped batch plan (docs explode DISTINCT terms, join the
    * broadcast fitted table, one partial-aggregated decimal sum per
    * (doc, query), alert where the mass fraction clears) — the reference
    * the fold of Retrieval.percolateBatch is pinned against.
    */
  private def percolateBatchRelational(docs: org.apache.spark.sql.DataFrame,
                                       qCap: Long, frac: Double) = {
    val fitted = Retrieval.percolatorFit(docs, qCap)
    val qtot = fitted.groupBy(col("qid"))
      .agg(sum(col("idf").cast("decimal(30,6)")).cast("double").as("qtotal"))
    val toks = graft.functions.Text.tokens(col("text"))
    docs.where(col("doc_id") >= qCap)
      .select(col("doc_id"), explode(array_distinct(toks)).as("term"))
      .join(broadcast(fitted), Seq("term"))
      .groupBy(col("doc_id"), col("qid"))
      .agg(sum(col("idf").cast("decimal(30,6)")).cast("double").as("score"))
      .join(broadcast(qtot), Seq("qid"))
      .where(col("score") >= lit(frac) * col("qtotal"))
      .select(col("doc_id"), col("qid"), round(col("score"), 6).as("score"))
  }

  test("percolatorFit: weights are positive and per-query terms distinct") {
    val fit = Retrieval.percolatorFit(
      graft.sources.Tables.documents(spark, sf), 20L).collect()
    assert(fit.nonEmpty)
    assert(fit.forall(_.getDouble(2) > 0.0), "BM25+ idf is strictly positive")
    val keys = fit.map(r => (r.getLong(0), r.getString(1)))
    assert(keys.distinct.length == keys.length)
  }

  test("the fitted fold equals the join-shaped relational reference") {
    val docs = graft.sources.Tables.documents(spark, sf)
    val fold = Retrieval.percolateBatch(docs, 20L, 0.875)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val relational = percolateBatchRelational(docs, 20L, 0.875)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fold == relational,
      s"fold diverged from the join plan: ${fold.size} vs ${relational.size}")
  }

  test("percolate: a query doc's own text routes to that query at mass 1") {
    // feed the query docs THEMSELVES through the per-row scorer: each must
    // alert on its own qid with the full idf mass (frac 1.0 still passes)
    val docs = graft.sources.Tables.documents(spark, sf)
    val fitted = Retrieval.collectStandingQueries(
      Retrieval.percolatorFit(docs, 20L))
    val self = docs.where(col("doc_id") < 20L)
      .select(col("doc_id"),
        explode(Retrieval.percolateAlerts(spark, col("text"), fitted, 1.0))
          .as("a"))
      .select(col("doc_id"), col("a.qid"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val selfHits = self.filter { case (d, q) => d == q }
    assert(selfHits.length == 20, s"every query matches itself: $self")
  }

  test("curation_skyline: front is exactly the non-dominated set") {
    val out = SparkEntry.queries("curation_skyline")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getBoolean(3)))
    // brute-force dominance check against the query's own flag
    out.foreach { case (id, q, t, flag) =>
      val dominated = out.exists { case (id2, q2, t2, _) =>
        id2 != id && q2 >= q && t2 >= t && (q2 > q || t2 > t)
      }
      assert(flag == !dominated, s"doc $id: flag=$flag dominated=$dominated")
    }
    assert(out.exists(_._4) && out.exists(!_._4))
  }

  test("multimodal_pair_align: planted pairs align, others sit near zero") {
    val out = SparkEntry.queries("multimodal_pair_align")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))
    val planted = out.filter(r => r._1 % 5 == 0)
    assert(planted.nonEmpty && planted.forall(r => r._3 == 1.0 && r._4))
    val others = out.filter(r => r._1 % 5 != 0 && r._1 != r._2)
    assert(others.nonEmpty)
    assert(others.count(_._4) < others.length / 10,
      "pseudo-random partners must mostly fail the alignment gate")
  }

  test("stream_percolate equals the batch head (shared oracle semantics)") {
    val a = SparkEntry.queries("percolate_route")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val b = SparkEntry.queries("stream_percolate")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(a == b && a.nonEmpty)
  }
}
