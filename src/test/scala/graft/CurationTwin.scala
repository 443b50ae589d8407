package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.Curation
import graft.operators.Curation.{SpanBlock, SpanGateSeed, SpanLenSeed, SpanOffSeed, hashRatio}
import graft.queries.QueriesMining.TileB

/** Relational and higher-order reference twins of the native text
  * kernels (decontamination, shingling, span corruption, text tiling),
  * kept for the specs to pin the codegen'd paths against.
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

  /** Word n-gram shingles as built-in higher-order functions — the
    * interpreted reference ShingleArray is pinned against. The size guard
    * matters: without it, sequence(1, 0) descends to [1, 0] and
    * element_at(toks, 0) throws.
    */
  def shinglesHof(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*)))
      .otherwise(array().cast("array<string>"))

  /** The higher-order-function form of `Curation.spanCorrupt` — an
    * aggregate fold splices sentinel tokens into the input, a two-arg
    * transform numbers the target spans. The executable spec.
    */
  def spanCorruptHof(docs: DataFrame, idCol: String,
                     textCol: String): DataFrame = {
    val w = col("w")
    val n = size(w).cast("long")
    val blocks = sequence(lit(0L),
      ceil(n.cast("double") / SpanBlock).cast("long") - 1)
    def ratio(b: Column, seed: Int) = hashRatio(
      concat(col(idCol).cast("string"), lit(":"), b.cast("string")), seed)
    val spans = filter(
      transform(blocks, b => {
        val start = b * SpanBlock +
          floor(ratio(b, SpanOffSeed) * (SpanBlock - 2)).cast("long")
        val len0 = floor(ratio(b, SpanLenSeed) * 2).cast("long") + 1
        when(ratio(b, SpanGateSeed) < 0.5 && start < n,
          struct(start.as("start"),
            least(len0, n - start).as("len"))).otherwise(lit(null))
      }), sp => sp.isNotNull)
    def sentinel(i: Column) = concat(lit("<X"), i.cast("string"), lit(">"))
    val inputsArr = {
      val acc0 = struct(
        slice(w, 1, 0).as("arr"), lit(0L).as("pos"), lit(0L).as("idx"))
      aggregate(spans, acc0,
        (acc, sp) => struct(
          concat(acc.getField("arr"),
            slice(w, (acc.getField("pos") + 1).cast("int"),
              (sp.getField("start") - acc.getField("pos")).cast("int")),
            array(sentinel(acc.getField("idx")))).as("arr"),
          (sp.getField("start") + sp.getField("len")).as("pos"),
          (acc.getField("idx") + 1).as("idx")),
        acc => concat(acc.getField("arr"),
          slice(w, (acc.getField("pos") + 1).cast("int"),
            (n - acc.getField("pos")).cast("int"))))
    }
    val targetsArr = flatten(transform(spans, (sp, i) =>
      concat(array(sentinel(i.cast("long"))),
        slice(w, (sp.getField("start") + 1).cast("int"),
          sp.getField("len").cast("int")))))
    docs
      .select(col(idCol), Text.tokens(col(textCol)).as("w"))
      .select(col(idCol), n.as("n_tokens"),
        size(spans).cast("long").as("n_spans"),
        aggregate(spans, lit(0L),
          (a, sp) => a + sp.getField("len")).as("n_corrupted"),
        array_join(inputsArr, " ").as("inputs"),
        array_join(targetsArr, " ").as("targets"))
  }

  /** The higher-order-function reference formulation of
    * `QueriesMining.tileScores`.
    */
  def tileScoresHof(text: Column): Column = {
    val w = Text.tokens(text)
    val n = size(w).cast("long")
    // guard: Spark's sequence(1, 0) DESCENDS instead of being empty
    // (the ensure-cadence lesson) — short docs yield no candidates
    val kmax = floor((n - 1) / TileB).cast("long")
    when(kmax >= 1, transform(
      sequence(lit(1L), kmax), k => {
        val p = (k * TileB).cast("int")
        val left = slice(w, p - TileB + 1, lit(TileB))
        val right = slice(w, p + 1, lit(TileB))
        struct(p.cast("long").as("pos"),
          round(Text.jaccard(left, right), 6).as("cohesion"))
      })).otherwise(
      array().cast("array<struct<pos:bigint,cohesion:double>>"))
  }
}
