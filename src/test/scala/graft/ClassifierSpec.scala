package graft

import org.apache.spark.sql.functions._

import graft.operators.Classifier

/** Trained quality classifier (operators/Classifier.scala): hashed-feature
  * logistic regression with the integer-micros hard-sigmoid link. The
  * relational reference twins live in [[ClassifierTwin]].
  */
class ClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val B = 32

  private def fixture = Seq(
    (1L, "good clean prose with varied words", 1.0),
    (2L, "more good clean prose here too", 1.0),
    (3L, "good words clean text varied prose", 1.0),
    (4L, "spam spam spam buy now spam", 0.0),
    (5L, "buy buy now now spam buy", 0.0),
    (6L, "now spam buy spam now buy", 0.0)
  ).toDF("doc_id", "text", "y")

  test("fitLogReg separates a separable fixture and classify scores it") {
    val docs = fixture
    val labels = docs.select(col("doc_id"), col("y"))
    val feats = Classifier.features(docs, "doc_id", "text", B)
    val w = ClassifierTwin.fitLogReg(feats, labels, "doc_id", B,
      iters = 8, eta = 1.0, nDocs = 6L)
    val out = Classifier.classify(feats, "doc_id", w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // every positive doc must score above every negative doc
    val pos = Seq(1L, 2L, 3L).map(out)
    val neg = Seq(4L, 5L, 6L).map(out)
    assert(pos.min > neg.max,
      s"positives $pos must outrank negatives $neg")
  }

  test("sampled fit == full fit when the corpus fits under the cap") {
    val docs = fixture
    val labels = docs.select(col("doc_id"), col("y"))
    val feats = Classifier.features(docs, "doc_id", "text", B)
    val full = ClassifierTwin.fitLogReg(feats, labels, "doc_id", B,
      iters = 3, eta = 1.0, nDocs = 6L)
    // cap >= n → rate = 1.0 → the predicate keeps every row: bit-equal
    val sampled = ClassifierTwin.fitLogRegSampled(feats, labels, "doc_id", B,
      iters = 3, eta = 1.0, cap = 6L)
    assert(sampled.toSeq == full.toSeq)
    val defaulted = ClassifierTwin.fitLogRegSampled(feats, labels, "doc_id", B,
      iters = 3, eta = 1.0)
    assert(defaulted.toSeq == full.toSeq)
  }

  test("fitSampled driver loop == distributed rounds, bit for bit") {
    val docs = fixture
    // driver path (default gate): the GD rounds run locally over the
    // collected sample
    val local = Classifier.fitSampled(docs, "doc_id", "text",
      col("y"), B, iters = 3, eta = 1.0)
    // distributed path (gate disabled by conf)
    spark.conf.set("graft.classifier.driver_max_feature_rows", "0")
    val dist =
      try Classifier.fitSampled(docs, "doc_id", "text",
        col("y"), B, iters = 3, eta = 1.0)
      finally spark.conf.unset("graft.classifier.driver_max_feature_rows")
    assert(local.toSeq == dist.toSeq)
    assert(local.exists(_ != 0.0), "the fit must actually train")
    // and both equal the raw fitLogReg over pre-built features (cap >= n)
    val labels = docs.select(col("doc_id"), col("y"))
    val feats = Classifier.features(docs, "doc_id", "text", B)
    val raw = ClassifierTwin.fitLogReg(feats, labels, "doc_id", B,
      iters = 3, eta = 1.0, nDocs = 6L)
    assert(local.toSeq == raw.toSeq)
  }

  test("sampled fit under a tight cap == full fit on the pre-filtered sample") {
    val docs = fixture
    val labels = docs.select(col("doc_id"), col("y"))
    val feats = Classifier.features(docs, "doc_id", "text", B)
    val cap = 3L
    val sampled = ClassifierTwin.fitLogRegSampled(feats, labels, "doc_id", B,
      iters = 3, eta = 1.0, cap = cap)
    // replay by hand: same predicate, pre-filtered frames, plain fitLogReg
    val p = Classifier.trainSamplePredicate("doc_id", 6L, cap)
    val tl = labels.filter(p)
    val n = tl.count()
    assert(n > 0 && n < 6, s"cap must select a proper subset, got $n")
    val manual = ClassifierTwin.fitLogReg(feats.filter(p), tl, "doc_id", B,
      iters = 3, eta = 1.0, nDocs = n)
    assert(sampled.toSeq == manual.toSeq)
    assert(sampled.exists(_ != 0.0), "the sampled fit must actually train")
  }

  test("fitSampled (sample pushed before features) == fitLogRegSampled") {
    // the r12 shape: filter the corpus FIRST, build features of the sample
    // only. Feature rows are per-doc independent, so the weights must be
    // bit-equal to filtering pre-built full-corpus features — both under
    // the cap (rate 1.0: sample == corpus) and over it (proper subset).
    val docs = fixture
    val labels = docs.select(col("doc_id"), col("y"))
    val feats = Classifier.features(docs, "doc_id", "text", B)
    for (cap <- Seq(6L, 3L)) {
      val old = ClassifierTwin.fitLogRegSampled(feats, labels, "doc_id", B,
        iters = 3, eta = 1.0, cap = cap)
      val pushed = Classifier.fitSampled(docs, "doc_id", "text", col("y"),
        B, iters = 3, eta = 1.0, cap = cap)
      assert(pushed.toSeq == old.toSeq, s"cap=$cap")
    }
  }

  test("probExpr (per-row fold) equals classify (relational aggregate)") {
    val docs = fixture
    val labels = docs.select(col("doc_id"), col("y"))
    val feats = Classifier.features(docs, "doc_id", "text", B)
    val w = ClassifierTwin.fitLogReg(feats, labels, "doc_id", B,
      iters = 3, eta = 1.0, nDocs = 6L)
    val relational = Classifier.classify(feats, "doc_id", w)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val perRow = docs
      .select(col("doc_id"), Classifier.probExpr(col("text"), w, B).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(perRow == relational) // bit-exact: same rounding chain
  }

  test("codegen'd ClsProbFold equals the interpreted HOF fold (incl. edges)") {
    // negative + positive weights, a weight that rounds at the .5 micro
    // boundary, empty-ish and single-token docs
    val docs = fixture.unionByName(Seq(
      (7L, "", 0.0), (8L, "solo", 1.0),
      (9L, "x x x x x x x x x x x x x", 0.0)).toDF("doc_id", "text", "y"))
    val w = Array.tabulate(B + 1)(i =>
      BigDecimal((if (i % 2 == 0) 1 else -1) * (i * 137 % 997) / 997.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    val fast = docs.select(col("doc_id"),
      Classifier.probExpr(col("text"), w, B).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val slow = docs.select(col("doc_id"),
      ClassifierTwin.probExprHof(col("text"), w, B).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(fast == slow)
  }

  test("model artifact round-trips exactly; fractional eta fails loudly") {
    val w = Array(0.125, -3.000001, 0.0, 1e-6)
    val path = java.nio.file.Files.createTempDirectory("cls").toString + "/m.json"
    Classifier.saveModel(path, w)
    assert(Classifier.loadModel(path).toSeq == w.toSeq)
    val docs = fixture
    val feats = Classifier.features(docs, "doc_id", "text", B)
    val err = intercept[IllegalArgumentException] {
      ClassifierTwin.fitLogReg(feats, docs.select(col("doc_id"), col("y")),
        "doc_id", B, iters = 1, eta = 0.5, nDocs = 6L)
    }
    assert(err.getMessage.contains("whole number"))
  }

  /** Texts the tokenizer treats oddly: null, empty (one "" token),
    * whitespace-only (leading "" tokens), non-ASCII and mixed case.
    */
  private def oddFixture = fixture.unionByName(Seq(
    (7L, null, 0.0), (8L, "", 1.0), (9L, "   ", 0.0), (10L, " \t lead", 1.0),
    (11L, "München naïve ÜBER über 東京 東京", 0.0),
    (12L, "Good GOOD good spam", 1.0)).toDF("doc_id", "text", "y"))

  test("kernel-built features equal the relational twin row for row") {
    val docs = oddFixture
    def rowsOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        .toSeq.sorted
    for (b <- Seq(1, 7, B)) {
      val kernel = rowsOf(Classifier.features(docs, "doc_id", "text", b))
      assert(kernel == rowsOf(ClassifierTwin.features(docs, "doc_id", "text", b)),
        s"buckets=$b")
      // null text: bias only
      assert(kernel.filter(_._1 == 7L) == Seq((7L, b, 1.0)))
    }
  }

  /** Weights of the distributed rounds (gate off), the default gate and
    * the relational twin over the same training docs.
    */
  private def threeFits(docs: org.apache.spark.sql.DataFrame,
                        iters: Int): Seq[Seq[Double]] = {
    val dist = {
      spark.conf.set("graft.classifier.driver_max_feature_rows", "0")
      try Classifier.fitSampled(docs, "doc_id", "text", col("y"), B,
        iters = iters, eta = 1.0)
      finally spark.conf.unset("graft.classifier.driver_max_feature_rows")
    }
    val gated = Classifier.fitSampled(docs, "doc_id", "text", col("y"), B,
      iters = iters, eta = 1.0)
    val twin = ClassifierTwin.fitLogReg(
      ClassifierTwin.features(docs, "doc_id", "text", B),
      docs.select(col("doc_id"), col("y")), "doc_id", B,
      iters = iters, eta = 1.0, nDocs = docs.count())
    Seq(dist.toSeq, gated.toSeq, twin.toSeq)
  }

  test("doc-local rounds == driver loop == relational twin (iters 1 and 3)") {
    for (iters <- Seq(1, 3)) {
      val fits = threeFits(oddFixture, iters)
      assert(fits.distinct.size == 1, s"iters=$iters: $fits")
      assert(fits.head.exists(_ != 0.0), "the fit must actually train")
    }
  }

  test("a NULL label drops out of the sums but counts; a non-double label casts") {
    // doc 7's words all hash into buckets other docs share, so no gradient
    // group is NULL-only; its label is NULL, so the gate falls through to
    // the rounds and the driver loop never sees it
    val withNull = fixture.select(col("doc_id"), col("text"),
        col("y").cast("double").as("y"))
      .unionByName(Seq((7L, "good spam now", Option.empty[Double]))
        .toDF("doc_id", "text", "y"))
    val intLabels = fixture.select(col("doc_id"), col("text"),
      col("y").cast("int").as("y"))
    for (iters <- Seq(1, 3)) {
      val nulls = threeFits(withNull, iters)
      assert(nulls.distinct.size == 1, s"iters=$iters: $nulls")
      // the NULL doc counts in nDocs: the weights differ from dropping it
      assert(nulls.head != threeFits(fixture, iters).head)
      val ints = threeFits(intLabels, iters)
      assert(ints.distinct.size == 1 && ints.head == threeFits(fixture, iters).head,
        s"iters=$iters: $ints")
    }
  }

  test("the distributed fit shuffles only on pos") {
    val docs = oddFixture
    spark.conf.set("graft.classifier.driver_max_feature_rows", "0")
    val (_, plans) =
      try SqlExecutions.recorded(spark) {
        Classifier.fitGated(docs, "doc_id", "text", col("y"), B,
          iters = 2, eta = 1.0)
      } finally spark.conf.unset("graft.classifier.driver_max_feature_rows")
    val keys = plans.flatMap(SqlExecutions.shuffleKeys)
    assert(keys.nonEmpty && keys.forall(_ == Seq("pos")), keys)
    // the recorder sees the doc-keyed exchanges the relational twin plans
    val (_, twinPlans) = SqlExecutions.recorded(spark) {
      ClassifierTwin.fitLogReg(ClassifierTwin.features(docs, "doc_id", "text", B),
        docs.select(col("doc_id"), col("y")), "doc_id", B,
        iters = 1, eta = 1.0, nDocs = 12L)
    }
    assert(twinPlans.flatMap(SqlExecutions.shuffleKeys).contains(Seq("doc_id")))
  }

  test("hard sigmoid: clamps, midpoint, and grid exactness") {
    val out = Seq(0.0, 0.123456, -0.123456, 8.0, -8.0, 1.999998)
      .toDF("s").select(Classifier.sigmoid(col("s")).as("p"))
      .collect().map(_.getDouble(0))
    assert(out(0) == 0.5)
    assert(out(1) == 0.530864) // 500000 + floor(123456/4) micros
    assert(out(2) == 0.469136)
    assert(out(3) == 1.0 && out(4) == 0.0) // clamped
    assert(out(5) == 0.999999)
  }
}
