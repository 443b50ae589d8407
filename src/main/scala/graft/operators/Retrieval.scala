package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse-retrieval / fingerprinting operators for corpus mining
  * (SURVEY.md §2.7 additions): MOSS-style winnowing fingerprints and the
  * shared pieces of the BM25 inverted-index scorer.
  *
  * Reference framing: the reference pipeline fingerprints documents with a
  * single rolling hash (`doc_fingerprint`); winnowing is the
  * locality-selecting refinement (Schleimer, Wilkerson, Aiken: "Winnowing:
  * Local Algorithms for Document Fingerprinting", SIGMOD 2003) that keeps a
  * guaranteed-coverage SUBSET of k-gram hashes, so two documents sharing any
  * run of >= k + w - 1 characters share at least one fingerprint. All
  * arithmetic is 64-bit integer modular hashing — bit-identical in any
  * engine, which is what makes the head oracle-checkable.
  */
object Retrieval {

  val HashMod: Long = 1000000007L
  val HashBase: Long = 31L

  /** Winnowing fingerprints of `textCol`, as `(idCol, fps array<long>)`:
    * lowercase → polynomial k-gram hashes (base 31 mod 1e9+7, the
    * doc_fingerprint chain) → minimum per window of `w` consecutive gram
    * hashes → distinct. One codegen'd [[graft.functions.WinnowFps]]
    * expression per row (O(n·k) + a monotone-deque sliding min) — zero
    * shuffles, embarrassingly parallel at any corpus size. The same chain
    * as built-in HOFs is quadratic after CollapseProject inlining, which
    * is why this is a custom expression.
    */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    require(k >= 2 && w >= 1, s"winnow: need k >= 2, w >= 1, got k=$k w=$w")
    graft.functions.WinnowFps.register(df.sparkSession)
    df.select(col(idCol),
      expr(s"winnow_fps(lower($textCol), $k, $w)").as("fps"))
  }

  // --- percolation (standing-query routing) -------------------------------

  /** Positive BM25+-style idf over columns (df, n_corpus) — shared verbatim
    * with the oracle SQL so the fitted weights land on the same 1e-6 grid
    * in both engines.
    */
  val PercIdfExpr: String =
    "round(ln(1.0 + (CAST(n_corpus AS DOUBLE) - df + 0.5) / " +
      "(CAST(df AS DOUBLE) + 0.5)), 6)"

  /** Fit the standing-query weight table batch-side: each query doc's
    * DISTINCT terms weighted by positive idf over the corpus slice. The
    * corpus contributes one array_distinct explode with map-side partial
    * counts (vocabulary-sized shuffle); query terms are a constant-size
    * id-capped slice. Output: `(qid, term, idf)` — metadata-scale, safe to
    * collect into literals (the k-means-centroids discipline).
    */
  def percolatorFit(docs: DataFrame, qCap: Long): DataFrame = {
    val toks = graft.functions.Text.tokens(col("text"))
    val corpus = docs.where(col("doc_id") >= qCap)
    val dfreq = corpus.select(explode(array_distinct(toks)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = corpus.agg(count(lit(1)).as("n_corpus"))
    docs.where(col("doc_id") < qCap)
      .select(col("doc_id").as("qid"), explode(array_distinct(toks)).as("term"))
      // dfreq is vocabulary-derived → stats-gated, not blindly forced
      // (r15 broadcast audit; the probe side is Q-bounded either way)
      .join(graft.pipeline.VocabGuard.hint(dfreq, corpus, "percolate.dfreq"),
        Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("idf", expr(PercIdfExpr))
      .select(col("qid"), col("term"), col("idf"))
  }

  /** The fitted table collected to driver literals, with each query's
    * exact-decimal idf mass: `(qid, terms(term -> idf), total)`.
    */
  def collectStandingQueries(fitted: DataFrame)
      : Seq[(Long, Seq[(String, Double)], Double)] =
    fitted.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (qid, rows) =>
        val terms = rows.map(t => (t._2, t._3)).sortBy(_._1).toSeq
        // shortest-string BigDecimal: a round-6 double stringifies to its
        // 6-digit decimal, so the sum is the EXACT grid sum the oracle's
        // DECIMAL(30,6) aggregate computes (BigDecimal(double) would carry
        // binary-expansion noise into the threshold)
        val total = terms.map(t => BigDecimal(t._2.toString)).sum
        (qid, terms, total.toDouble)
      }

  /** Per-row percolation alerts against literal standing queries — the
    * streaming-safe form (NO aggregation, NO join, NO state store): the
    * codegen'd [[graft.functions.PercolateScores]] fold probes a
    * precomputed term table once per distinct token and accumulates every
    * query's matched idf mass as exact integer micros in one pass, then a
    * zip against the literal per-query thresholds keeps the alerts.
    * Returns an array of `struct(qid, score)` holding only queries whose
    * matched idf mass reaches `frac` of their total mass; explode drops
    * rows with no alerts.
    */
  def percolateAlerts(spark: org.apache.spark.sql.SparkSession,
                      textCol: Column,
                      queries: Seq[(Long, Seq[(String, Double)], Double)],
                      frac: Double): Column = {
    val fn = graft.functions.PercolateScores.register(spark, queries)
    val scores = call_function(fn, graft.functions.Text.tokens(textCol))
    // per-query literal gate: qid + the same IEEE `frac * total` product
    // the batch plan computes at runtime
    val qmeta = array(queries.map { case (qid, _, total) =>
      struct(lit(qid).as("qid"), lit(frac * total).as("thr"))
    }: _*)
    val alerts = zip_with(scores, qmeta, (s, m) => {
      // micros -> the exact DECIMAL(·,6) the batch SUM(CAST ...) computes,
      // then the same double cast
      val dec = (s.cast("decimal(30,0)") *
        lit(new java.math.BigDecimal("0.000001"))).cast("double")
      when(dec >= m.getField("thr"),
        struct(m.getField("qid").as("qid"), round(dec, 6).as("score")))
        .otherwise(lit(null))
    })
    filter(alerts, a => a.isNotNull)
  }

  /** Batch percolation: the same fitted-fold plan as the streaming twin —
    * the fitted weight table is metadata-scale BY construction (standing
    * queries are few), so the per-row [[percolateAlerts]] fold beats any
    * join shape at every scale (the join-shaped plan measured 108 s vs
    * the fold's ~17 s on the same 1000x corpus; it survives as the
    * spec-pinned reference in PercolateSpec).
    */
  def percolateBatch(docs: DataFrame, qCap: Long, frac: Double): DataFrame = {
    val fitted = collectStandingQueries(percolatorFit(docs, qCap))
    docs.where(col("doc_id") >= qCap)
      .select(col("doc_id"),
        explode(percolateAlerts(docs.sparkSession, col("text"), fitted, frac))
          .as("a"))
      .select(col("doc_id"), col("a.qid").as("qid"),
        col("a.score").as("score"))
  }

  /** DuckDB twin of [[winnowFingerprints]] as an expression over a text
    * column `t` (already lowercased by the caller's CTE) — the same
    * code-array → gram-fold → window-min → distinct chain in list
    * comprehensions, shared so the two engines cannot drift.
    */
  def winnowFingerprintsSql(t: String, k: Int, w: Int): String =
    s"""list_distinct([list_min(list_slice(gh, j, j + ${w - 1}))
          for j in generate_series(1, len(gh) - ${w - 1})])""".stripMargin

  /** The gram-hash list `gh` for [[winnowFingerprintsSql]], over a
    * lowercased text column `t`.
    */
  def gramHashesSql(t: String, k: Int): String =
    s"""[list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             [CAST(ascii($t[i + j]) AS BIGINT)
              for j in generate_series(0, ${k - 1})]),
           (acc, c) -> (acc * $HashBase + c) % $HashMod)
         for i in generate_series(1, length($t) - ${k - 1})]"""
}
