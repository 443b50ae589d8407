package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.{Classifier, Crawl, Dedup, DriverGate}

/** The one bounded driver collect the CC, host-graph, classifier and
  * co-occurrence stages share (operators/DriverGate.scala): the conf read,
  * the disable rule and the Int clamp, plus the overflow branch of each
  * gated stage — same answer as the driver branch, lineage evaluated once.
  */
class DriverGateSpec extends SparkSpec {
  import spark.implicits._

  private val Key = "graft.test.driver_gate"
  private val CcKey = "graft.cc.driver_max_edges"
  private val GraphKey = "graft.graph.driver_max_edges"
  private val ClsKey = "graft.classifier.driver_max_feature_rows"

  private def withConf[T](kvs: (String, String)*)(body: => T): T = {
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally kvs.foreach { case (k, _) => spark.conf.unset(k) }
  }

  /** 120 edge rows over 90 nodes off a 4-partition range: mixed component
    * sizes, every row passing through `tap` first.
    */
  private def ccEdges(tap: Column => Column = identity): DataFrame =
    spark.range(0, 120, 1, 4).select(tap(col("id")).as("i"))
      .select((col("i") * 37 % 90).as("id_a"), (col("i") * 11 % 89).as("id_b"))

  private val ccNodes = (0L until 95L).toSeq

  private def cc(edges: DataFrame): Map[Long, Long] =
    Dedup.connectedComponents(ccNodes.toDF("doc_id"), edges, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private val B = 32

  private def docs = Seq(
    (1L, "good clean prose with varied words", 1.0),
    (2L, "more good clean prose here too", 1.0),
    (3L, "good words clean text varied prose", 1.0),
    (4L, "spam spam spam buy now spam", 0.0),
    (5L, "buy buy now now spam buy", 0.0),
    (6L, "now spam buy spam now buy", 0.0)
  ).toDF("doc_id", "text", "y")

  test("a cap above Int.MaxValue clamps instead of truncating") {
    val df = spark.range(10).toDF("id")
    // 2^32 truncates to Int 0 and 2^32 - 1 to -1: a take under either would
    // "fit" a partial input
    for (cap <- Seq(1L << 32, (1L << 32) - 1, Long.MaxValue))
      assert(DriverGate.take(df, cap).map(_.length).contains(10), s"cap $cap")
    withConf(Key -> (1L << 32).toString) {
      assert(DriverGate.take(df, Key, 1L).map(_.length).contains(10))
    }
  }

  test("a cap of 0 or below disables the gate; an unset key takes the default") {
    val df = spark.range(3).toDF("id")
    assert(DriverGate.take(df, 0L).isEmpty)
    assert(DriverGate.take(df, -1L).isEmpty)
    assert(DriverGate.take(df.limit(0), 0L).isEmpty, "disabled even when empty")
    assert(DriverGate.take(df, 3L).map(_.length).contains(3))
    assert(DriverGate.take(df, 2L).isEmpty, "one row over the cap overflows")
    assert(DriverGate.take(df, Key, 3L).map(_.length).contains(3))
    withConf(Key -> "0") { assert(DriverGate.take(df, Key, 3L).isEmpty) }
    withConf(Key -> " 3 ") {
      assert(DriverGate.take(df, Key, 0L).map(_.length).contains(3))
    }
  }

  test("a malformed cap fails and names its key") {
    withConf(Key -> "1m") {
      val e = intercept[IllegalArgumentException](
        DriverGate.take(spark.range(3).toDF("id"), Key, 3L))
      assert(e.getMessage.contains(Key) && e.getMessage.contains("'1m'"),
        e.getMessage)
    }
    // the stages read their keys through the same gate
    withConf(CcKey -> "lots") {
      val e = intercept[IllegalArgumentException](cc(ccEdges()))
      assert(e.getMessage.contains(CcKey), e.getMessage)
    }
  }

  test("overflow at cap 1 equals the driver branch: CC, host graph, classifier") {
    val ccDriver = cc(ccEdges())
    withConf(CcKey -> "1") { assert(cc(ccEdges()) == ccDriver) }

    val hostEdges = Seq(("a", "b", 2L), ("a", "c", 1L), ("b", "c", 1L),
      ("c", "a", 3L), ("d", "a", 1L), ("e", "d", 2L))
      .toDF("src_host", "dst_host", "weight")
    def graph() = (
      Crawl.pageRankHosts(hostEdges, iters = 3)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      Crawl.hitsHosts(hostEdges, iters = 2)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap,
      Crawl.labelPropagate(hostEdges, iters = 2)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    val graphDriver = graph()
    withConf(GraphKey -> "1") { assert(graph() == graphDriver) }

    def fit() = Classifier.fitSampled(docs, "doc_id", "text", col("y"), B,
      iters = 3, eta = 1.0).toSeq
    val clsDriver = fit()
    assert(clsDriver.exists(_ != 0.0), "the fit must actually train")
    withConf(ClsKey -> "1") { assert(fit() == clsDriver) }
  }

  test("on overflow the CC edge lineage is evaluated once") {
    val evals = spark.sparkContext.longAccumulator("cc_edge_evals")
    val counted = udf { (i: Long) => evals.add(1L); i }.asNondeterministic()
    val labels = withConf(CcKey -> "1") {
      cc(ccEdges(c => counted(c)))
    }
    assert(labels == cc(ccEdges()))
    assert(evals.value == 120L,
      s"${evals.value} edge-row evaluations for 120 rows")
  }

  test("on overflow the classifier feature lineage is evaluated once") {
    // every training doc's text passes through the tap on its way into the
    // feature kernel: the gate's take and the rounds after it must share
    // ONE kernel run per doc
    val evals = spark.sparkContext.longAccumulator("cls_feature_evals")
    val counted = udf { (t: String) => evals.add(1L); t }.asNondeterministic()
    val train = docs.withColumn("text", counted(col("text")))
    val w = withConf(ClsKey -> "1") {
      Classifier.fitGated(train, "doc_id", "text", col("y"), B,
        iters = 3, eta = 1.0)
    }
    assert(w.toSeq == Classifier.fitGated(docs, "doc_id", "text", col("y"), B,
      iters = 3, eta = 1.0).toSeq)
    assert(evals.value == 6L, s"${evals.value} kernel runs for 6 training docs")
  }

  test("SPARK_GRAFT_CONF entries set session conf; a malformed entry fails") {
    try {
      SparkEntry.applyConfOverrides(spark,
        Some(s"$CcKey=0; $GraphKey = 5 ;;"))
      assert(spark.conf.get(CcKey) == "0")
      assert(spark.conf.get(GraphKey) == "5")
    } finally Seq(CcKey, GraphKey).foreach(spark.conf.unset)
    val e = intercept[IllegalArgumentException](
      SparkEntry.applyConfOverrides(spark, Some(s"$CcKey")))
    assert(e.getMessage.contains("SPARK_GRAFT_CONF entries must be k=v"))
    SparkEntry.applyConfOverrides(spark, None)
  }
}
