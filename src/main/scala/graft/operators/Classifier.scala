package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.queries.Q.sumDec

/** Trained quality classifier for LLM-training-data curation: logistic
  * regression over hashed bag-of-words features, fitted by full-batch
  * gradient descent — the learned quality gate (the fastText/CCNet-style
  * "looks like the reference corpus" filter) that production pipelines run
  * beside the rule-based gates ([[Crawl.gopherRules]]) and the closed-form
  * importance ratio ([[Importance.dsirScores]]). Distinct from DSIR by
  * design: DSIR is a generative count ratio fitted in one pass; this is a
  * DISCRIMINATIVE model fitted by iterated optimization — the two-pillar
  * pairing real curation stacks deploy.
  *
  * Scale posture (the curation_kmeans discipline, applied to GD):
  *  - the sparse feature relation `(id, pos, x)` is built ONCE — one
  *    doc-keyed aggregation — and checkpointed; every round reuses it;
  *  - per round: scores are one doc-keyed aggregate with the weight vector
  *    entering as a constant-folded array LITERAL (no weight join), and the
  *    gradient is one partial-aggregated `buckets+1`-row aggregate — only
  *    the bounded weight/gradient vectors ever cross the driver;
  *  - scoring under a trained model is a broadcast-free per-row fold —
  *    the shape that gates a crawl at ingest.
  *
  * Cross-engine determinism: products of 6-decimal factors sit exactly on
  * the 1e-12 grid, so round12 + exact-decimal sums are lossless and
  * order-free; scores round to 6 IN DECIMAL SPACE; the link is a hard
  * sigmoid computed in integer micros (no libm in the loop); whole-number
  * eta keeps every weight update on the 1e-6 grid — the DuckDB oracle
  * replays the identical rounds bit for bit.
  */
object Classifier {

  /** Bias feature position = `buckets` (its x is 1.0 on every doc). */
  def biasPos(buckets: Int): Int = buckets

  /** The sparse hashed-feature relation `(idCol, pos, x)` of a corpus:
    * x = round6(bucket token count / doc token count) for OBSERVED buckets
    * only, plus the bias row — at most `min(n_tokens, buckets) + 1` rows
    * per doc. Zero-count buckets contribute nothing to any score or
    * gradient, so sparsity is free (and is the realistic posture: real
    * vocabularies hash into 2^20 buckets, docs touch a few hundred).
    */
  def features(df: DataFrame, idCol: String, textCol: String,
               buckets: Int): DataFrame = {
    val tok = df.select(col(idCol),
      explode(Text.tokens(col(textCol))).as("tok"))
      .select(col(idCol), Importance.bucket(col("tok"), buckets).as("pos"))
    val cnt = tok.groupBy(col(idCol), col("pos"))
      .agg(count(lit(1)).as("c"))
    // the doc-total denominator rides a window over the doc's own
    // aggregated buckets — a cnt⋈perDoc self-join here re-scans (and
    // re-tokenizes) the corpus for the denominator branch; the window
    // pays one id-hash exchange instead
    val sparse = cnt
      .withColumn("n", sum(col("c"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))))
      .select(col(idCol), col("pos"),
        round(col("c").cast("double") / col("n").cast("double"), 6).as("x"))
    val bias = df.select(col(idCol), lit(biasPos(buckets)).as("pos"),
      lit(1.0).as("x"))
    sparse.unionByName(bias)
  }

  /** Per-doc decision score under a weight vector: order-free exact-decimal
    * sum of round12(w_pos * x) over the doc's feature rows (products of two
    * 6-decimal factors sit exactly on the 1e-12 grid, so round12 recovers
    * them losslessly), rounded to 6 IN DECIMAL SPACE before the double cast
    * — no double-rounding boundary can disagree across engines. The weights
    * enter as one constant-folded array literal.
    */
  private def scores(feats: DataFrame, idCol: String,
                     w: Array[Double]): DataFrame = {
    val wLit = array(w.map(lit(_)): _*)
    feats
      .withColumn("wx", round(element_at(wLit, col("pos") + 1) * col("x"), 12))
      .groupBy(col(idCol))
      .agg(round(sum(col("wx").cast("decimal(30,12)")), 6)
        .cast("double").as("s"))
  }

  /** Hard-sigmoid link (the piecewise-linear logistic stand-in from the
    * quantized-inference literature): p = clamp(s/4 + 1/2, 0, 1), computed
    * in INTEGER MICROS — round-trip through `exp` would hand the replay
    * gate to libm ulp differences (measured: 7/500 sf0.01 probabilities
    * flip their 6th decimal between JVM and DuckDB), integer arithmetic
    * cannot disagree. `s` must be a 6-decimal score; the result sits
    * exactly on the 1e-6 grid.
    */
  def sigmoid(s: Column): Column = {
    val sMicros = round(s * 1e6, 0).cast("long")
    val pMicros = least(lit(1000000L),
      greatest(lit(0L), lit(500000L) + floor(sMicros / 4.0).cast("long")))
    pMicros.cast("double") / 1e6
  }

  /** Fit by `iters` rounds of full-batch gradient descent (start w = 0,
    * rate `eta`): per round ONE doc-keyed score aggregate and ONE bounded
    * gradient aggregate; `buckets+1` doubles cross the driver. `labels` is
    * `(idCol, y)` with y in {0.0, 1.0}; `nDocs` its row count (metadata-
    * scale, computed once by the caller). `eta` must be a whole number so
    * `eta * gradient` stays on the 1e-6 grid and the weight update needs no
    * cross-engine rounding (a fractional eta puts updates exactly ON round6
    * boundaries — the half-ulp coin-flip the replay gate cannot tolerate).
    */
  def fitLogReg(feats: DataFrame, labels: DataFrame, idCol: String,
                buckets: Int, iters: Int, eta: Double,
                nDocs: Long): Array[Double] = {
    require(eta == math.rint(eta) && eta > 0,
      s"eta must be a positive whole number for grid-exact updates, got $eta")
    var w = Array.fill(buckets + 1)(0.0)
    for (_ <- 0 until iters) {
      val err = scores(feats, idCol, w)
        .join(labels, Seq(idCol))
        .select(col(idCol), (sigmoid(col("s")) - col("y")).as("err"))
      val grad = feats.join(err, Seq(idCol))
        .withColumn("ex", round(col("err") * col("x"), 12))
        .groupBy(col("pos"))
        .agg(round(sumDec(col("ex"), 12) / nDocs.toDouble, 6).as("g"))
        .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
      w = w.zipWithIndex.map { case (wj, j) =>
        BigDecimal(java.lang.Double.toString(wj - eta * grad.getOrElse(j, 0.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    w
  }

  // ------------------------------------------------ driver-loop GD twin

  /** Driver-path ceiling for [[fitSampled]]: sampled feature relations at
    * or under this many rows collect once and run the GD rounds as a
    * driver loop ([[fitLogRegLocal]]); larger samples run the distributed
    * rounds unchanged. 4M rows ≈ ~100 MB of driver tuples — the bounded-
    * collect posture of the CC/host-graph gates. Conf
    * `graft.classifier.driver_max_feature_rows` overrides (0 disables).
    */
  private[graft] val DriverMaxFeatureRows = 4 * 1024 * 1024

  /** Spark's Round(double, s): java BigDecimal.valueOf + HALF_UP. */
  private def roundD(d: Double, s: Int): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(s, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark's CAST(double AS DECIMAL(30,12)): valueOf then scale-12 HALF_UP. */
  private def dec12(d: Double): java.math.BigDecimal =
    java.math.BigDecimal.valueOf(d)
      .setScale(12, java.math.RoundingMode.HALF_UP)

  /** [[sigmoid]] in driver arithmetic: the identical integer-micros chain
    * (round0 via valueOf/HALF_UP, exact /4 floor, clamp, /1e6).
    */
  private def sigmoidLocal(s: Double): Double = {
    val sMicros = roundD(s * 1e6, 0).toLong
    val pMicros = math.min(1000000L,
      math.max(0L, 500000L + math.floor(sMicros / 4.0).toLong))
    pMicros.toDouble / 1e6
  }

  /** [[fitLogReg]] as a driver loop over a COLLECTED sample — every
    * rounding step replicates the relational chain operator for operator
    * (Round(double,12) = BigDecimal.valueOf + HALF_UP, the
    * decimal(30,12) cast, the scale-6 decimal round for scores, the
    * double division + Round(double,6) for gradients, the integer-micros
    * sigmoid), so the weights are bit-identical to the distributed rounds
    * (ClassifierSpec pins it; the DuckDB oracle replays the same chain).
    * Exactness makes the sums order-free, so iteration order here cannot
    * matter either.
    */
  private[graft] def fitLogRegLocal(feats: Array[(Long, Int, Double)],
                                    labels: scala.collection.Map[Long, Double],
                                    buckets: Int, iters: Int, eta: Double,
                                    nDocs: Long): Array[Double] = {
    require(eta == math.rint(eta) && eta > 0,
      s"eta must be a positive whole number for grid-exact updates, got $eta")
    var w = Array.fill(buckets + 1)(0.0)
    for (_ <- 0 until iters) {
      // scores: per doc, decimal(30,12) sum of round12(w_pos * x),
      // rounded to 6 IN DECIMAL, then the double cast
      val acc = new scala.collection.mutable.HashMap[Long, java.math.BigDecimal]
      feats.foreach { case (id, pos, x) =>
        val wx = dec12(roundD(w(pos) * x, 12))
        acc(id) = acc.get(id).map(_.add(wx)).getOrElse(wx)
      }
      val err = new scala.collection.mutable.HashMap[Long, Double]
      acc.foreach { case (id, sum) =>
        val s = sum.setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
        err(id) = sigmoidLocal(s) - labels(id)
      }
      // gradient: per pos, decimal sum of round12(err * x), cast double,
      // ONE IEEE division by nDocs, round6 on the double
      val gacc = new scala.collection.mutable.HashMap[Int, java.math.BigDecimal]
      feats.foreach { case (id, pos, x) =>
        val ex = dec12(roundD(err(id) * x, 12))
        gacc(pos) = gacc.get(pos).map(_.add(ex)).getOrElse(ex)
      }
      val grad = gacc.map { case (pos, sum) =>
        pos -> roundD(sum.doubleValue() / nDocs.toDouble, 6)
      }
      w = w.zipWithIndex.map { case (wj, j) =>
        BigDecimal(java.lang.Double.toString(wj - eta * grad.getOrElse(j, 0.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    }
    w
  }

  // --------------------------------------------- deterministic subsample
  // A real learned gate fits on a BOUNDED sample and scores everything —
  // the public fastText/CCNet practice. Full-batch GD over the whole corpus
  // re-priced every invocation at ~1030 s of the round-10 sf100 sweep; the
  // fit itself is statistics, not a per-row transform, so its cost must not
  // scale with the corpus.

  /** Training-sample cap: the fit sees at most ~this many docs. */
  val TrainSampleCap = 100000L
  /** Seed for the sha-ratio sample predicate (distinct from every other
    * sampling seed in the repo so gates can't alias).
    */
  val TrainSampleSeed = 1811

  /** The deterministic training-sample predicate: keep a row iff its
    * sha256 53-bit ratio sits below `min(1, cap/nAll)`. A pure expression
    * on the id — both the feature and label relations filter with NO join,
    * and the DuckDB oracle replays the identical predicate (IEEE division
    * of two exact values, then an exact double compare). On corpora at or
    * below the cap the rate is 1.0 and the predicate keeps everything, so
    * the sampled fit COINCIDES with the full fit (ClassifierSpec pins it).
    */
  def trainSamplePredicate(idCol: String, nAll: Long,
                           cap: Long = TrainSampleCap): Column =
    Curation.hashRatio(col(idCol), TrainSampleSeed) <
      lit(math.min(1.0, cap.toDouble / nAll))

  /** [[fitLogReg]] on the deterministic subsample: counts the corpus,
    * filters features and labels by [[trainSamplePredicate]], normalizes
    * gradients by the SAMPLE size. Two metadata-scale counts; training
    * cost is bounded by the cap however large the corpus.
    *
    * Use [[fitSampled]] unless full-corpus features already exist for
    * another reason: filtering PRE-BUILT features bounds the GD rounds but
    * still paid the full-corpus feature pass to build them.
    */
  def fitLogRegSampled(feats: DataFrame, labels: DataFrame, idCol: String,
                       buckets: Int, iters: Int, eta: Double,
                       cap: Long = TrainSampleCap): Array[Double] = {
    val nAll = labels.count()
    val p = trainSamplePredicate(idCol, nAll, cap)
    val trainLabels = labels.filter(p)
    fitLogReg(feats.filter(p), trainLabels, idCol, buckets, iters, eta,
      nDocs = trainLabels.count())
  }

  /** The sampled fit END TO END: the sample predicate is pushed BEFORE
    * feature construction, so the tokenize/bucket/aggregate feature pass
    * is bounded by the cap too — the r11 shape built (and checkpointed)
    * full-corpus features and then filtered them, which left a ~85 s/head
    * full-corpus pass inside every fit at the 1000× decade. `label` is
    * evaluated against `docs`' columns. Weight-identical to
    * [[fitLogRegSampled]] over full-corpus features: the feature relation
    * is per-doc independent, so features(docs.filter(p)) ≡
    * features(docs).filter(p) row for row, and the gradient normalizer is
    * the same sample count (ClassifierSpec pins it; the oracle replays
    * the identical sampled rounds).
    */
  def fitSampled(docs: DataFrame, idCol: String, textCol: String,
                 label: Column, buckets: Int, iters: Int, eta: Double,
                 cap: Long = TrainSampleCap): Array[Double] = {
    val nAll = docs.count()
    val p = trainSamplePredicate(idCol, nAll, cap)
    // bounded by the cap: one checkpoint of the sampled docs feeds the
    // feature build and the label/count passes without re-scanning the
    // corpus per GD round. Lazy: the first action over it (the feature
    // take or the feats checkpoint) computes it in the same pass
    val train = docs.filter(p).localCheckpoint(eager = false)
    fitGated(features(train, idCol, textCol, buckets), train, idCol, label,
      buckets, iters, eta)
  }

  /** GD over the feature relation `featsPlan` built from the training docs
    * `train` (`label` is evaluated against `train`'s columns): a driver
    * loop when the features fit the driver gate, distributed rounds
    * otherwise — same weights either way.
    */
  private[graft] def fitGated(featsPlan: DataFrame, train: DataFrame,
                              idCol: String, label: Column, buckets: Int,
                              iters: Int, eta: Double): Array[Double] = {
    // checkpointed lazily BEFORE the gate's take: on overflow the
    // distributed rounds read the blocks the take materialized, so the
    // tokenize/bucket/aggregate feature pass runs once, not twice
    val feats = featsPlan.localCheckpoint(eager = false)
    // Driver-loop gate (guide §1.2/§5 — the CC/host-graph bounded-collect
    // discipline): the sample is cap-bounded by construction, and under
    // the feature-row ceiling the GD rounds run as a driver loop over ONE
    // collected copy — two jobs total (feature take + label read off the
    // cached checkpoint) instead of a checkpoint plus one join+aggregate
    // job per round. fitLogRegLocal replicates the relational rounding
    // chain bit for bit (ClassifierSpec pins driver == distributed).
    val idIsLong = feats.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType
    if (idIsLong) DriverGate.take(feats,
        "graft.classifier.driver_max_feature_rows", DriverMaxFeatureRows)
      .foreach { taken =>
        // cast the label to double HERE (a non-double label works on the
        // distributed path via implicit cast but would ClassCastException
        // on getDouble), and take the driver path only when every label is
        // non-null — a NULL label silently reading 0.0 would diverge from
        // the distributed join's NULL propagation (r16 advice)
        val labelRows = train
          .select(col(idCol), label.cast("double").as("y")).collect()
        if (labelRows.forall(r => !r.isNullAt(0) && !r.isNullAt(1))) {
          val labels = labelRows.iterator
            .map(r => r.getLong(0) -> r.getDouble(1)).toMap
          return fitLogRegLocal(
            taken.map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))),
            labels, buckets, iters, eta, nDocs = labelRows.length.toLong)
        }
      }
    // NOT pre-partitioned by id: the r16 A/B (ProbeR16, alternating
    // variants in one JVM, 4 reps) measured the repartition-at-checkpoint
    // layout consistently SLOWER (min 3.75 vs 3.34 s) — the one-time
    // repartition exchanges plus a labels checkpoint cost more than the
    // per-round exchanges they remove, because AQE already broadcasts the
    // cap-bounded per-round joins. Kept the plain checkpoints.
    val labels = train.select(col(idCol), label.as("y"))
    fitLogReg(feats, labels, idCol, buckets, iters, eta,
      nDocs = train.count())
  }

  /** Per-doc report under a trained model: `(idCol, prob, predicted)` —
    * one doc-keyed aggregate over the sparse features, weights as a
    * literal. `predicted` = prob at or above `threshold`.
    */
  def classify(feats: DataFrame, idCol: String, w: Array[Double],
               threshold: Double = 0.5): DataFrame =
    scores(feats, idCol, w)
      .select(col(idCol), sigmoid(col("s")).as("prob"))
      .withColumn("predicted", col("prob") >= threshold)

  /** Per-row probability of a text column under a trained model: the
    * document's tf fractions fold against the weight vector with the SAME
    * rounding chain as the relational path (round12 products into an exact
    * accumulator, round6 score, integer-micros sigmoid) — sums regroup but
    * exact arithmetic doesn't care. Pure codegen'd expression
    * (functions/ClsProbFold — one histogram pass per doc, the DsirFold
    * discipline): zero shuffle, no state — the shape that scores a crawl
    * AT INGEST.
    */
  def probExpr(text: Column, w: Array[Double], buckets: Int): Column = {
    require(w.length == buckets + 1,
      s"weight vector must have buckets+1 entries, got ${w.length} for $buckets")
    graft.functions.ClsProbFold.register(
      org.apache.spark.sql.SparkSession.active)
    // 6-decimal weights are exact in integer micros
    val micros = w.map(v => math.round(v * 1e6))
    call_function("cls_prob_fold", Text.tokens(text),
      array(micros.map(lit(_)): _*))
  }

  /** The same probability as built-in higher-order folds — the interpreted
    * reference implementation ClsProbFold is spec-proven against (the
    * DsirFold discipline). Not for hot paths: CodegenFallback AND
    * O(distinct_buckets × n_tokens) lambda evaluations per document.
    */
  private[graft] def probExprHof(text: Column, w: Array[Double],
                                 buckets: Int): Column = {
    val wLit = array(w.map(lit(_)): _*)
    val toks = Text.tokens(text)
    val n = size(toks).cast("double")
    // one feature row per DISTINCT bucket: x = round6(count/n) — replay the
    // per-bucket tf fractions, then the same weighted fold
    val perTok = transform(toks,
      t => Importance.bucket(t, buckets))
    val distinctB = array_distinct(perTok)
    val wx = transform(distinctB, b =>
      round(element_at(wLit, b + 1) *
        round(size(filter(perTok, p => p === b)).cast("double") / n, 6), 12))
    val withBias = concat(wx,
      array(round(element_at(wLit, lit(biasPos(buckets) + 1)) * lit(1.0), 12)))
    val dec = aggregate(withBias, lit(0).cast("decimal(30,12)"),
      (acc, v) => (acc + v.cast("decimal(30,12)")).cast("decimal(30,12)"))
    sigmoid(round(dec, 6).cast("double"))
  }

  // ------------------------------------------------------------- artifact
  // The trained gate as a PERSISTED artifact (the save/load_scaler
  // discipline): fit once, save the dense weight vector as JSON, hydrate
  // and score any later crawl — including on a stream, because probExpr is
  // a pure per-row expression.

  def saveModel(path: String, w: Array[Double]): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.writeString(p,
      s"""{"buckets": ${w.length - 1}, "w": [${w.mkString(", ")}]}""")
  }

  /** Double.toString round-trips exactly, so hydrate == fit. */
  def loadModel(path: String): Array[Double] = {
    val json = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    val arr = json.split("\\[")(1).split("\\]")(0).trim
    if (arr.isEmpty) Array.empty else arr.split(",").map(_.trim.toDouble)
  }
}
