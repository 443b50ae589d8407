package graft
// (availability-matrix tests at the bottom of this file)

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.spark.sql.functions._

import graft.operators.Assembly

/** Assembly/split/scaler semantics, incl. bit-level agreement of the hash
  * split with the reference HashLabeler formula
  * (/root/reference/src/datapipeline/pipelines/dataset/split.py: first 8
  * bytes of sha256(seed|token), low 53 bits, ratio buckets).
  */
class AssemblySpec extends SparkSpec {
  import spark.implicits._

  /** Reference formula reimplemented independently in JVM for the oracle. */
  private def refHashRatio(seed: Int, token: String): Double = {
    val md = MessageDigest.getInstance("SHA-256")
    val digest = md.digest(s"$seed|$token".getBytes(StandardCharsets.UTF_8))
    val first8 = digest.take(8).foldLeft(0L)((acc, b) => (acc << 8) | (b & 0xFFL))
    (first8 & ((1L << 53) - 1)).toDouble / (1L << 53).toDouble
  }

  test("hashSplitLabel matches the reference sha256 bucketing bit-for-bit") {
    val tokens = (0L until 200L).toDF("id")
    val got = Assembly.hashSplitLabel(tokens, col("id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42, "fold")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val cum = Seq(0.8, 0.8 + 0.1, 1.0)
    (0L until 200L).foreach { id =>
      val r = refHashRatio(42, id.toString)
      val expect =
        if (r < cum(0)) "train" else if (r < cum(1)) "val" else "test"
      assert(got(id) == expect, s"id=$id r=$r")
    }
  }

  test("hashSplitLabel: one CASE over one hash equals the nested fold") {
    val tokens = (0L until 10000L).map(i => if (i % 97 == 0) None else Some(s"t$i"))
      .toDF("tok")
    val ratioSets = Seq(
      Seq("a" -> 1.0),
      Seq("a" -> 0.7, "b" -> 0.3),
      Seq("a" -> 0.25, "b" -> 0.25, "c" -> 0.25, "d" -> 0.25),
      Seq("a" -> 0.2, "b" -> 0.3),                             // sums below 1
      Seq("a" -> 0.5, "b" -> 0.4, "c" -> 0.3, "d" -> 0.1, "e" -> 0.05), // above 1
      Seq("a" -> 0.1, "b" -> 0.1, "c" -> 0.2, "d" -> 0.2, "e" -> 0.2, "a" -> 0.2))
    for (ratios <- ratioSets) {
      val split = Assembly.hashSplitLabel(tokens, col("tok"), ratios, 7, "label")
      val labeled = split.withColumn("fold", OrderedTwin.hashSplitFold(col("tok"), ratios, 7))
      assert(labeled.where(!(col("label") <=> col("fold"))).count() == 0, ratios)
      assert(labeled.where(col("label").isNull).count() == 0, ratios)
      val sha2s = split.queryExecution.analyzed.collect {
        case p => p.expressions.map(_.collect {
          case s: org.apache.spark.sql.catalyst.expressions.Sha2 => s }.size).sum
      }.sum
      assert(sha2s == (if (ratios.size == 1) 0 else 1), s"$ratios: $sha2s sha2 calls")
    }
  }

  test("timeSplitLabel: boundary timestamp goes to the next interval") {
    val df = Seq("2023-12-31 23:59:59", "2024-01-01 00:00:00", "2024-06-01 00:00:00")
      .toDF("s").select(to_timestamp(col("s")).as("t"))
    val label = Assembly.timeSplitLabel(col("t"), Seq(
      "train" -> Some("2024-01-01"), "test" -> None))
    val out = df.select(label).collect().map(_.getString(0)).toSeq
    assert(out == Seq("train", "test", "test"))
  }

  test("sequenceWindows: emits every `stride` records once full, ordered") {
    val df = (1 to 10).map(i => ("a", new java.sql.Timestamp(i * 1000L), i.toLong, i.toDouble))
      .toDF("p", "t", "i", "v")
    val key = graft.operators.StreamKey(Seq("p"), "t", Seq("i"))
    val out = Assembly.sequenceWindows(df, key, "v", 3, 2, "w")
      .select("i", "w").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    assert(out.keySet == Set(3L, 5L, 7L, 9L))
    assert(out(3L) == List(1.0, 2.0, 3.0))
    assert(out(9L) == List(7.0, 8.0, 9.0))
  }

  test("sequenceWindows: a NULL value keeps its position in the window") {
    val df = Seq(("a", 1L, Some(1.0)), ("a", 2L, None), ("a", 3L, Some(3.0)),
      ("a", 4L, Some(4.0))).toDF("p", "i", "v")
      .withColumn("t", col("i").cast("timestamp"))
    val key = graft.operators.StreamKey(Seq("p"), "t", Seq("i"))
    val out = Assembly.sequenceWindows(df, key, "v", 3, 1, "w")
      .orderBy("i").select("w").collect()
      .map(_.getSeq[java.lang.Double](0).map(Option(_).map(_.doubleValue)))
    assert(out.toSeq == Seq(Seq(Some(1.0), None, Some(3.0)),
      Seq(None, Some(3.0), Some(4.0))))
  }

  test("coverage stats and filters") {
    val df = Seq(
      (Some(1.0), Some(1.0)), (Some(2.0), None), (None, None), (Some(4.0), Some(4.0))
    ).toDF("a", "b")
    val cov = Assembly.coverageStats(df, Seq("a", "b"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(cov("a") == 0.75 && cov("b") == 0.5)
    assert(Assembly.filterRowsByCoverage(df, Seq("a", "b"), 1.0).count() == 2)
    assert(Assembly.filterRowsByCoverage(df, Seq("a", "b"), 0.5).count() == 3)
  }

  test("sketches: a NULL group key survives the split-aggregate join") {
    // the r15 split (exact + sketch as separate aggregates) joins the two
    // group frames — with null-SAFE equality, because the fused shape
    // returned the NULL-key group and a plain equi-join would drop it
    import spark.implicits._
    import graft.operators.Sketches
    val df = Seq((Some("a"), 1L), (Some("a"), 2L), (None, 3L), (None, 3L))
      .toDF("g", "u")
    val collected = Sketches.distinctWithApprox(df, Seq("g"), "u").collect()
    // exactly one row per group — a mis-resolved (trivially-true) join
    // condition would cross the groups
    assert(collected.length == 2, collected.mkString("; "))
    val rows = collected.map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(rows == Map(Some("a") -> 2L, None -> 1L))
  }

  test("sketches: broadcastApprox=false plans a shuffled join, same rows") {
    // the broadcast hint is honored regardless of size (AQE never demotes
    // a hinted join), so unbounded-group-key callers need the gate (r15
    // advice); the gated plan must carry NO broadcast exchange and agree
    // row-for-row with the hinted plan
    import spark.implicits._
    import graft.operators.Sketches
    val df = Seq(("a", 1L), ("a", 2L), ("b", 3L), ("b", 3L), ("c", 4L))
      .toDF("g", "u")
    // an over-threshold approx side is simulated by disabling the
    // stats-based auto-broadcast: the HINT still forces broadcast (that
    // is the hazard), the gate is the only way to a shuffled join
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val hinted = Sketches.distinctWithApprox(df, Seq("g"), "u")
      val gated = Sketches.distinctWithApprox(df, Seq("g"), "u",
        broadcastApprox = false)
      assert(hinted.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      val plan = gated.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan)
      def m(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(m(gated) == m(hinted))
    } finally spark.conf.set(key, saved)
  }

  test("sketches: HLL and approx percentile stay within error bounds") {
    import graft.operators.Sketches
    val e = graft.sources.Tables.events(spark, "/root/testdata/sf0.001")
    Sketches.distinctWithApprox(e, Seq("event_type"), "user_id")
      .collect().foreach { r =>
        val exact = r.getLong(1).toDouble
        val approx = r.getLong(2).toDouble
        assert(math.abs(approx - exact) / exact < 0.15,
          s"${r.getString(0)}: exact=$exact approx=$approx")
      }
    // per-group exact median beside the approximate percentile
    e.groupBy(col("event_type"))
      .agg(expr("percentile(value, 0.5)").as("exact_p50"),
        percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx_p50"))
      .collect().foreach { r =>
        val exact = r.getDouble(1)
        val approx = r.getDouble(2)
        assert(math.abs(approx - exact) / math.max(exact, 1.0) < 0.1,
          s"${r.getString(0)}: exact=$exact approx=$approx")
      }
  }

  test("standard scaler: (x - mean) / std with train-fold stats") {
    val train = Seq(0.0, 2.0, 4.0).toDF("x") // mean 2, pstdev sqrt(8/3)
    val stats = Assembly.fitStandardScaler(train, "x")
    val applied = Assembly.applyStandardScaler(Seq(2.0).toDF("x"), stats, "x", "z")
      .select("z").head().getDouble(0)
    assert(math.abs(applied) < 1e-12)
    // epsilon floor prevents divide-by-zero on constant columns
    val const = Seq(5.0, 5.0).toDF("x")
    val z = Assembly.applyStandardScaler(const,
      Assembly.fitStandardScaler(const, "x"), "x", "z")
      .select("z").head().getDouble(0)
    assert(z == 0.0)
  }

  test("availability matrix: absent/null/present statuses, element statuses, guards") {
    val df = Seq(
      (1L, Some(2.0), Seq(Some(1.0), None: Option[Double])),
      (2L, None: Option[Double], Seq(Some(3.0), Some(4.0)))
    ).toDF("k", "scalar", "seq2")
    val entries = Seq(
      Assembly.MatrixEntry("feature", "scalar"),
      Assembly.MatrixEntry("feature", "ghost"),
      Assembly.MatrixEntry("target", "seq2", Some(2)))
    val out = Assembly.availabilityMatrix(df, Seq("k"), entries)
      .collect().map(r => (r.getString(1), r.getString(2)) ->
        (r.getString(3), r.getSeq[String](4))).toMap
    assert(out(("scalar", "1")) == (("present", Seq())))
    assert(out(("scalar", "2")) == (("null", Seq())))
    assert(out(("ghost", "1")) == (("absent", Seq())))
    assert(out(("seq2", "1")) == (("present", Seq("present", "null"))))
    assert(out(("seq2", "2")) == (("present", Seq("present", "present"))))
    // max_cells guard raises before any distributed work — as the TYPED
    // refusal graft.Bench records as a measured row (r15 verdict ask #5),
    // which still satisfies the IllegalArgumentException contract
    intercept[Assembly.CellBudgetExceeded](
      Assembly.availabilityMatrix(df, Seq("k"), entries, maxCells = 3))
    intercept[IllegalArgumentException](
      Assembly.availabilityMatrix(df, Seq("k"), entries, maxCells = 3))
    // sequence length breach fails the job, like conform
    val bad = Assembly.availabilityMatrix(df, Seq("k"),
      Seq(Assembly.MatrixEntry("target", "seq2", Some(3))))
    intercept[Exception](bad.collect())
  }

  test("data_contract counts every violation class from one pass") {
    val sf = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("data_contract")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.keySet == Set("doc_id_not_null", "doc_id_unique",
      "lang_allowed", "n_chars_consistent", "text_nonempty"))
    val docs = graft.sources.Tables.documents(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(4)))
    val langs = graft.functions.Text.LangPriority.toSet
    val expect = Map(
      "doc_id_not_null" -> 0L, // getLong would have thrown on null
      "doc_id_unique" ->
        (docs.length - docs.map(_._1).distinct.length).toLong,
      "lang_allowed" -> docs.count(d => !langs(d._3)).toLong,
      "n_chars_consistent" -> docs.count(d => d._4 != d._2.length).toLong,
      "text_nonempty" -> docs.count(_._2.isEmpty).toLong)
    got.foreach { case (rule, (n, v, pass)) =>
      assert(n == docs.length.toLong, rule)
      assert(v == expect(rule), rule)
      assert(pass == (v == 0L), rule)
    }
  }
}
