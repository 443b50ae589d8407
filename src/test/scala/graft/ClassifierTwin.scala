package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Classifier, Importance}
import graft.queries.Q.sumDec

/** Relational reference twins of the classifier's native paths
  * (operators/Classifier.scala) — the shapes the DuckDB oracle replays,
  * kept for the specs to pin the kernel, the per-row rounds and the
  * per-row fold against.
  */
object ClassifierTwin {

  /** The `(idCol, pos, x)` feature relation built relationally: explode
    * tokens, aggregate by (id, pos), then the doc-total window.
    */
  def features(df: DataFrame, idCol: String, textCol: String,
               buckets: Int): DataFrame = {
    val tok = df.select(col(idCol),
      explode(Text.tokens(col(textCol))).as("tok"))
      .select(col(idCol), Importance.bucket(col("tok"), buckets).as("pos"))
    val sparse = tok.groupBy(col(idCol), col("pos"))
      .agg(count(lit(1)).as("c"))
      .withColumn("n", sum(col("c"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))))
      .select(col(idCol), col("pos"),
        round(col("c").cast("double") / col("n").cast("double"), 6).as("x"))
    val bias = df.select(col(idCol), lit(Classifier.biasPos(buckets)).as("pos"),
      lit(1.0).as("x"))
    sparse.unionByName(bias)
  }

  /** Full-batch GD as relational rounds: per round one doc-keyed score
    * aggregate, a label join, a feature join-back and one gradient
    * aggregate. `labels` is `(idCol, y)`; `nDocs` its row count.
    */
  def fitLogReg(feats: DataFrame, labels: DataFrame, idCol: String,
                buckets: Int, iters: Int, eta: Double,
                nDocs: Long): Array[Double] = {
    Classifier.requireWholeEta(eta)
    var w = Array.fill(buckets + 1)(0.0)
    for (_ <- 0 until iters) {
      val err = Classifier.scores(feats, idCol, w)
        .join(labels, Seq(idCol))
        .select(col(idCol), (Classifier.sigmoid(col("s")) - col("y")).as("err"))
      val grad = feats.join(err, Seq(idCol))
        .withColumn("ex", round(col("err") * col("x"), 12))
        .groupBy(col("pos"))
        .agg(round(sumDec(col("ex"), 12) / nDocs.toDouble, 6).as("g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      w = Classifier.step(w, grad, eta)
    }
    w
  }

  /** [[fitLogReg]] on the deterministic subsample of pre-built features. */
  def fitLogRegSampled(feats: DataFrame, labels: DataFrame, idCol: String,
                       buckets: Int, iters: Int, eta: Double,
                       cap: Long = Classifier.TrainSampleCap): Array[Double] = {
    val p = Classifier.trainSamplePredicate(idCol, labels.count(), cap)
    val trainLabels = labels.filter(p)
    fitLogReg(feats.filter(p), trainLabels, idCol, buckets, iters, eta,
      nDocs = trainLabels.count())
  }

  /** `Classifier.probExpr` as built-in higher-order folds: interpreted,
    * O(distinct_buckets × n_tokens) lambda evaluations per document.
    */
  def probExprHof(text: Column, w: Array[Double], buckets: Int): Column = {
    val wLit = array(w.map(lit(_)): _*)
    val toks = Text.tokens(text)
    val n = size(toks).cast("double")
    // one feature row per DISTINCT bucket: x = round6(count/n) — replay the
    // per-bucket tf fractions, then the same weighted fold
    val perTok = transform(toks, t => Importance.bucket(t, buckets))
    val wx = transform(array_distinct(perTok), b =>
      round(element_at(wLit, b + 1) *
        round(size(filter(perTok, p => p === b)).cast("double") / n, 6), 12))
    val withBias = concat(wx, array(round(
      element_at(wLit, lit(Classifier.biasPos(buckets) + 1)) * lit(1.0), 12)))
    val dec = aggregate(withBias, lit(0).cast("decimal(30,12)"),
      (acc, v) => (acc + v.cast("decimal(30,12)")).cast("decimal(30,12)"))
    Classifier.sigmoid(round(dec, 6).cast("double"))
  }
}
