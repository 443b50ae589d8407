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
  * Scale posture: every training doc's sparse features sit in ONE row
  * (`array<struct<pos, x>>`, the native [[graft.functions.ClsFeatures]]
  * kernel), so nothing in the fit regroups a doc's rows by id:
  *  - the training rows `(id, y, f)` are built once — a per-row pass, no
  *    exchange — and checkpointed; the driver gate and every round read it;
  *  - per round: one per-row fold of `f` to the doc's error (weights enter
  *    as a constant-folded array LITERAL), then ONE partial-aggregated
  *    gradient aggregate grouped by pos — at most `buckets+1` groups, the
  *    only shuffle; only the bounded weight/gradient vectors ever cross the
  *    driver;
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

  /** One doc's sparse feature row, `array<struct<pos:int, x:double>>`:
    * x = round6(bucket token count / doc token count) for OBSERVED buckets
    * only, plus the bias `(buckets, 1.0)` — at most
    * `min(n_tokens, buckets) + 1` entries. Zero-count buckets contribute
    * nothing to any score or gradient, so sparsity is free (and is the
    * realistic posture: real vocabularies hash into 2^20 buckets, docs
    * touch a few hundred). Native one-pass kernel
    * ([[graft.functions.ClsFeatures]]).
    */
  def featureRow(text: Column, buckets: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(graft.functions.ClsFeatures(
      org.apache.spark.sql.GraftColumnBridge.expression(Text.tokens(text)),
      buckets))

  /** The sparse hashed-feature relation `(idCol, pos, x)` of a corpus: the
    * [[featureRow]] of every doc, exploded — per-row, no exchange.
    */
  def features(df: DataFrame, idCol: String, textCol: String,
               buckets: Int): DataFrame =
    df.select(col(idCol), explode(featureRow(col(textCol), buckets)).as("f"))
      .select(col(idCol), col("f.pos").as("pos"), col("f.x").as("x"))

  /** Per-doc decision score under a weight vector: order-free exact-decimal
    * sum of round12(w_pos * x) over the doc's feature rows (products of two
    * 6-decimal factors sit exactly on the 1e-12 grid, so round12 recovers
    * them losslessly), rounded to 6 IN DECIMAL SPACE before the double cast
    * — no double-rounding boundary can disagree across engines. The weights
    * enter as one constant-folded array literal.
    */
  private[graft] def scores(feats: DataFrame, idCol: String,
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

  /** One GD weight update: w - eta * g, rounded to 6 decimals (whole eta
    * keeps it on the 1e-6 grid); a position without a gradient keeps its
    * weight.
    */
  private[graft] def step(w: Array[Double], grad: collection.Map[Int, Double],
                          eta: Double): Array[Double] =
    w.zipWithIndex.map { case (wj, j) =>
      BigDecimal(java.lang.Double.toString(wj - eta * grad.getOrElse(j, 0.0)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }

  /** `eta` must be a whole number so `eta * gradient` stays on the 1e-6
    * grid and the weight update needs no cross-engine rounding (a
    * fractional eta puts updates exactly ON round6 boundaries — the
    * half-ulp coin-flip the replay gate cannot tolerate).
    */
  private[graft] def requireWholeEta(eta: Double): Unit =
    require(eta == math.rint(eta) && eta > 0,
      s"eta must be a positive whole number for grid-exact updates, got $eta")

  /** The GD rounds as a driver loop over a COLLECTED sample — every
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
    requireWholeEta(eta)
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
      w = step(w, gacc.map { case (pos, sum) =>
        pos -> roundD(sum.doubleValue() / nDocs.toDouble, 6)
      }, eta)
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

  /** The sampled fit END TO END: the sample predicate is pushed BEFORE
    * feature construction, so the feature pass is bounded by the cap too —
    * the r11 shape built full-corpus features and then filtered them,
    * which left a ~85 s/head full-corpus pass inside every fit at the
    * 1000× decade. `label` is evaluated against `docs`' columns; the
    * gradient normalizer is the SAMPLE size. One metadata-scale count;
    * training cost is bounded by the cap however large the corpus. Doc ids
    * must be unique and non-null (every caller's are).
    */
  def fitSampled(docs: DataFrame, idCol: String, textCol: String,
                 label: Column, buckets: Int, iters: Int, eta: Double,
                 cap: Long = TrainSampleCap): Array[Double] = {
    val nAll = docs.count()
    fitGated(docs.filter(trainSamplePredicate(idCol, nAll, cap)), idCol,
      textCol, label, buckets, iters, eta)
  }

  /** GD over the training docs `train` (`label` is evaluated against its
    * columns, cast to double): a driver loop when the feature rows fit the
    * driver gate, distributed rounds otherwise — same weights either way.
    * Doc ids must be unique and non-null.
    */
  private[graft] def fitGated(train: DataFrame, idCol: String,
                              textCol: String, label: Column, buckets: Int,
                              iters: Int, eta: Double): Array[Double] = {
    requireWholeEta(eta)
    // one row per training doc, features included — a per-row pass, no
    // exchange. Checkpointed lazily BEFORE the gate's take: on overflow the
    // rounds read the blocks the take materialized, so the feature kernel
    // runs once per doc, not twice
    val rows = train.select(col(idCol), label.cast("double").as("y"),
        featureRow(col(textCol), buckets).as("f"))
      .localCheckpoint(eager = false)
    // Driver-loop gate (guide §1.2/§5 — the CC/host-graph bounded-collect
    // discipline): the sample is cap-bounded by construction, and under
    // the feature-row ceiling the GD rounds run as a driver loop over ONE
    // collected copy of the exploded rows — one job instead of one
    // aggregate job per round. fitLogRegLocal replicates the rounding
    // chain bit for bit (ClassifierSpec pins driver == distributed).
    val idIsLong = rows.schema(idCol).dataType ==
      org.apache.spark.sql.types.LongType
    if (idIsLong) DriverGate.take(
        rows.select(col(idCol), col("y"), explode(col("f")).as("e"))
          .select(col(idCol), col("y"), col("e.pos"), col("e.x")),
        "graft.classifier.driver_max_feature_rows", DriverMaxFeatureRows)
      .foreach { taken =>
        // only when every label is non-null — a NULL label silently
        // reading 0.0 would diverge from the rounds' NULL propagation
        if (taken.forall(r => !r.isNullAt(0) && !r.isNullAt(1))) {
          val labels = taken.iterator
            .map(r => r.getLong(0) -> r.getDouble(1)).toMap
          return fitLogRegLocal(
            taken.map(r => (r.getLong(0), r.getInt(2), r.getDouble(3))),
            labels, buckets, iters, eta, nDocs = labels.size.toLong)
        }
      }
    fitRounds(rows, buckets, iters, eta)
  }

  /** The distributed rounds over the checkpointed `(y, f)` rows: per round
    * ONE per-row fold (the doc's error under the weight literal) and ONE
    * aggregate grouped by pos — at most `buckets+1` groups, the only
    * shuffle. `nDocs` is the bias group's row count (one bias entry per
    * doc). A NULL label makes a NULL error: left out of every sum, still
    * counted in `nDocs`.
    */
  private def fitRounds(rows: DataFrame, buckets: Int, iters: Int,
                        eta: Double): Array[Double] = {
    var w = Array.fill(buckets + 1)(0.0)
    for (_ <- 0 until iters) {
      // err in its own projection below the explode, so the fold runs
      // once per doc, not once per feature
      val g = rows.select((probOf(col("f"), w) - col("y")).as("err"),
          col("f"))
        .select(col("err"), explode(col("f")).as("e"))
        .select(col("e.pos").as("pos"),
          round(col("err") * col("e.x"), 12).as("ex"))
        .groupBy(col("pos"))
        .agg(sumDec(col("ex"), 12).as("s"), count(lit(1)).as("n"))
        .collect()
      val nDocs = g.find(_.getInt(0) == biasPos(buckets))
        .fold(0L)(_.getLong(2))
      w = step(w, g.iterator.filterNot(_.isNullAt(1)).map(r =>
        r.getInt(0) -> roundD(r.getDouble(1) / nDocs.toDouble, 6)).toMap, eta)
    }
    w
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
    * exact arithmetic doesn't care. Pure codegen'd expressions (the
    * [[featureRow]] kernel folded by functions/ClsProbFold — one histogram
    * pass per doc, the DsirFold discipline): zero shuffle, no state — the
    * shape that scores a crawl AT INGEST.
    */
  def probExpr(text: Column, w: Array[Double], buckets: Int): Column = {
    require(w.length == buckets + 1,
      s"weight vector must have buckets+1 entries, got ${w.length} for $buckets")
    probOf(featureRow(text, buckets), w)
  }

  /** [[graft.functions.ClsProbFold]] of a [[featureRow]]. */
  private def probOf(feats: Column, w: Array[Double]): Column = {
    graft.functions.ClsProbFold.register(
      org.apache.spark.sql.SparkSession.active)
    // 6-decimal weights are exact in integer micros
    val micros = w.map(v => math.round(v * 1e6))
    call_function("cls_prob_fold", feats, array(micros.map(lit(_)): _*))
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
