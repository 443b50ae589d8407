package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.Curation

/** Relational and higher-order reference twins of the decontamination
  * kernels (operators/Curation.scala), kept for the specs to pin the
  * per-row probes against.
  */
object CurationTwin {

  /** Exact decontamination as relational steps: distinct n-grams per side,
    * equi-join on the n-gram (benchmark broadcast), per-doc overlap counts
    * grouped by id, left-joined back onto the id spine. Output:
    * `(id, n_contaminated, contaminated)`.
    */
  def decontaminate(train: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    def ngrams(df: DataFrame) =
      array_distinct(Text.shingles(Text.tokens(col(textCol)), n))
    val trainNg = train.select(col(idCol), explode(ngrams(train)).as("ngram"))
    val benchNg = benchmark.select(explode(ngrams(benchmark)).as("ngram"))
      .distinct()
    val overlap = trainNg.join(broadcast(benchNg), Seq("ngram"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_contaminated"))
    train.select(col(idCol))
      .join(overlap, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0).as("contaminated"))
  }

  /** The Bloom probe as built-in higher-order folds — the interpreted
    * reference BloomNgramHits is pinned against. CodegenFallback: every
    * n-gram walks an interpreted tree around its digests.
    */
  def bloomHitsHof(toks: Column, bitmapLit: Column, n: Int, mBits: Int,
                   numHashes: Int): Column = {
    def hit(g: Column): Column = (0 until numHashes).map { i =>
      val p = Curation.bloomPos(g, i, mBits)
      val word = element_at(bitmapLit, floor(p / 64).cast("int") + 1)
      word.bitwiseAND(call_function("shiftleft", lit(1L),
        pmod(p, lit(64)).cast("int"))) =!= 0L
    }.reduce(_ && _)
    size(filter(array_distinct(Text.shingles(toks, n)), hit(_))).cast("long")
  }
}
