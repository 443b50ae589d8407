package graft

import java.sql.Timestamp
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._

import graft.operators.{Assembly, OrderedScan, OrderedScanExec, Ordered, StreamKey}
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline._

/** Every [[OrderedScan]] step, and the benchmark's full stream chain, against
  * its Spark `Window` twin ([[OrderedTwin]]) on seeded random series: NULL
  * and NaN values, duplicate and out-of-order ticks, NULL partition keys
  * and NULL times, single-row partitions, windows longer than the series,
  * and many keys per task. Doubles agree within a relative 1e-9 (the
  * oracle's tolerance); everything else exactly.
  */
class OrderedScanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private val key = StreamKey(Seq("p"), "t", Seq("i"))

  /** `keys` series of 1..`maxLen` rows (a fifth of them a single row), ticks
    * drawn from a short range so times repeat, rows in random arrival order.
    */
  private def series(seed: Long, keys: Int, maxLen: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    var id = 0L
    def num(missing: Double): Any = {
      val u = rnd.nextDouble()
      if (u < missing) null
      else if (u < 2 * missing) Double.NaN
      else math.round((rnd.nextGaussian() * 10) * 100) / 100.0
    }
    val rows = (0 until keys).flatMap { k =>
      val p = if (k == 0) null else s"k$k"
      val len = if (k % 5 == 1) 1 else 1 + rnd.nextInt(maxLen)
      (0 until len).map { j =>
        id += 1
        val t = if (rnd.nextInt(40) == 0) null else new Timestamp(
          (j + rnd.nextInt(3)) * 60000L + (if (rnd.nextInt(4) == 0) 30000L else 0L))
        val x: Any = if (k % 7 == 3) 1.0 else num(0.05) // some keys: var(x) = 0
        Row(p, t, id, num(0.1), x, rnd.nextInt(100).toLong)
      }
    }
    val schema = StructType(Seq(StructField("p", StringType), StructField("t", TimestampType),
      StructField("i", LongType), StructField("v", DoubleType), StructField("x", DoubleType),
      StructField("vol", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rnd.shuffle(rows), 4), schema)
  }

  /** `name` → (scan, twin) builders, each adding column `name`. */
  private type Step = (String, DataFrame => DataFrame, DataFrame => DataFrame)

  private val steps: Seq[Step] = {
    val rolling = for {
      stat <- Seq("mean", "stdev", "pstdev", "max", "min", "median")
      w <- Seq(1, 3, 5, 40)
      m <- Seq(None, Some(1), Some(math.min(2, w)))
    } yield {
      val n = s"roll_${stat}_${w}_${m.getOrElse(0)}"
      (n, (d: DataFrame) => Ordered.rolling(d, key, "v", w, stat, n, m),
        (d: DataFrame) => OrderedTwin.rolling(d, key, "v", w, stat, n, m))
    }
    val fills = for {
      stat <- Seq("mean", "median"); w <- Seq(1, 3, 40); m <- Seq(1, math.min(2, w))
    } yield {
      val n = s"fill_${stat}_${w}_$m"
      (n, (d: DataFrame) => Ordered.fill(d, key, "v", w, stat, n, m),
        (d: DataFrame) => OrderedTwin.fill(d, key, "v", w, stat, n, m))
    }
    val shifts = Seq(1, 3).flatMap { n =>
      Seq[Step]((s"lag$n", Ordered.lagPeriods(_, key, "v", n, s"lag$n"),
        OrderedTwin.lagPeriods(_, key, "v", n, s"lag$n")),
        (s"lead$n", Ordered.leadPeriods(_, key, "vol", n, s"lead$n"),
          OrderedTwin.leadPeriods(_, key, "vol", n, s"lead$n")))
    }
    val sums = Seq(1, 3, 40).map { w =>
      (s"fsum$w", (d: DataFrame) => Ordered.forwardSum(d, key, "v", w, s"fsum$w"),
        (d: DataFrame) => OrderedTwin.forwardSum(d, key, "v", w, s"fsum$w"))
    }
    val slopes = Seq(2, 4).map { w =>
      (s"slope$w", (d: DataFrame) => Ordered.rollingSlope(d, key, "x", "v", w, s"slope$w"),
        (d: DataFrame) => OrderedTwin.rollingSlope(d, key, "x", "v", w, s"slope$w"))
    }
    val sequences = Seq((1, 1), (3, 2), (40, 1)).map { case (size, stride) =>
      val n = s"seq_${size}_$stride"
      (n, (d: DataFrame) => Assembly.sequenceWindow(d, key, "v", size, stride, n),
        (d: DataFrame) => OrderedTwin.sequenceWindow(d, key, "v", size, stride, n))
    }
    rolling ++ fills ++ shifts ++ sums ++ slopes ++ sequences ++ Seq[Step](
      ("ff", Ordered.forwardFill(_, key, "v", "ff"), OrderedTwin.forwardFill(_, key, "v", "ff")),
      ("sess", Ordered.sessionize(_, key, "90s", "sess"),
        OrderedTwin.sessionize(_, key, "90s", "sess")))
  }

  /** (shuffle exchanges, sorts) of a physical plan. */
  private def shape(plan: SparkPlan): (Int, Int) =
    (collect(plan) { case e: ShuffleExchangeExec => e }.size,
      collect(plan) { case s: SortExec => s }.size)

  /** Row id → values of `cols`. */
  private def byId(df: DataFrame, cols: Seq[String]): Map[Long, Seq[Any]] =
    df.select("i", cols: _*).collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (null, null) => true
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y || math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y))
    case (x: scala.collection.Seq[_], y: scala.collection.Seq[_]) =>
      x.length == y.length && x.zip(y).forall { case (p, q) => close(p, q) }
    case _ => a == b
  }

  private def assertSame(got: Map[Long, Seq[Any]], twin: Map[Long, Seq[Any]],
                         cols: Seq[String], what: String): Unit = {
    assert(got.keySet == twin.keySet, s"$what: row ids differ")
    for ((c, k) <- cols.zipWithIndex; id <- got.keys) {
      val (a, b) = (got(id)(k), twin(id)(k))
      assert(close(a, b), s"$what: column $c, row $id: scan $a, twin $b")
    }
  }

  Seq(11L, 12L, 13L).foreach { seed =>
    test(s"every scan step equals its Window twin (seed $seed)") {
      val df = series(seed, keys = 40, maxLen = 30)
      val cols = steps.map(_._1)
      val got = steps.foldLeft(df)((d, s) => s._2(d))
      val twin = steps.foldLeft(df)((d, s) => s._3(d))
      assert(got.schema == twin.schema.copy(fields = twin.schema.fields.map(f =>
        f.copy(nullable = got.schema(f.name).nullable))), "same columns and types")
      assertSame(byId(got, cols), byId(twin, cols), cols, s"seed $seed")
    }

    test(s"collapse keeps the twin's rows (seed $seed)") {
      val df = series(seed, keys = 40, maxLen = 30)
      for (keep <- Seq("first", "last")) {
        val ids = Ordered.collapse(df, key, keep).select("i").collect().map(_.getLong(0)).toSet
        val twin = OrderedTwin.collapse(df, key, keep).select("i").collect().map(_.getLong(0)).toSet
        assert(ids == twin && ids.size < df.count(), s"keep $keep")
      }
    }

    test(s"the benchmark's stream chain equals its Window twin (seed $seed)") {
      val df = series(seed, keys = 40, maxLen = 30)
      val got = Assembly.sequenceWindow(Pipeline.run(df, key, Seq(
        Collapse("last"), ForwardFill("v", "v_ff"), Rolling("v_ff", "mean", 6, "roll6", Some(3)),
        Lag("v_ff", 1, "lag1"), RollingSlope("x", "v_ff", 4, "slope4"),
        ForwardSum("vol", 3, "fwd3"))), key, "vol", 4, 1, "vol_seq")
      val twin = OrderedTwin.sequenceWindow(
        OrderedTwin.forwardSum(OrderedTwin.rollingSlope(OrderedTwin.lagPeriods(
          OrderedTwin.rolling(OrderedTwin.forwardFill(OrderedTwin.collapse(df, key, "last"),
            key, "v", "v_ff"), key, "v_ff", 6, "mean", "roll6", Some(3)),
          key, "v_ff", 1, "lag1"), key, "x", "v_ff", 4, "slope4"),
          key, "vol", 3, "fwd3"), key, "vol", 4, 1, "vol_seq")
      val cols = Seq("v_ff", "roll6", "lag1", "slope4", "fwd3", "vol_seq")
      assertSame(byId(got, cols), byId(twin, cols), cols, s"chain, seed $seed")
      // the whole chain is one scan over one exchange and its sort; the
      // leading collapse also runs map-side, over a local sort, so the
      // exchange ships one row per (partition, time) and map task
      val plan = got.queryExecution.executedPlan
      val scans = collect(plan) { case s: OrderedScanExec => s }
      assert(scans.map(s => (s.mapSide, s.steps.size)).toSet == Set((false, 7), (true, 1)),
        plan.treeString)
      assert(shape(plan) == (1, 2), plan.treeString)
      assert(!plan.treeString.contains("Window"), plan.treeString)
    }
  }

  test("building an ordered plan starts no Spark job") {
    val df = series(5L, keys = 10, maxLen = 10)
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Assembly.sequenceWindow(Pipeline.run(df, key, Seq(
        Collapse("last"), Lag("v", 1, "l"), Rolling("v", "median", 3, "m"),
        Sessionize("1h"), Lead("v", 2, "n"), Fill("v", 2, "mean", "f"))),
        key, "v", 2, 1, "s")
      out.queryExecution.executedPlan
      ListenerBusDrain(spark.sparkContext)
      assert(jobs.get == 0, s"${jobs.get} jobs started while building the plan")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("the strategy and the fusion rule install once") {
    OrderedScan.register(spark)
    OrderedScan.register(spark)
    assert(spark.experimental.extraStrategies.count(_ == graft.operators.OrderedScanStrategy) == 1)
    assert(spark.experimental.extraOptimizations.count(_ == graft.operators.FuseOrderedScans) == 1)
  }

  test("a record-wise op splits the scan but adds no exchange or sort") {
    val df = series(7L, keys = 20, maxLen = 20)
    val out = Pipeline.run(df, key, Seq(Lag("v", 1, "l"),
      Derive("v", "sub", "d", rightField = Some("l")), Rolling("d", "max", 3, "r")))
    val plan = out.queryExecution.executedPlan
    assert(collect(plan) { case s: OrderedScanExec => s }.size == 2, plan.treeString)
    assert(shape(plan) == (1, 1), plan.treeString)
    val twin = OrderedTwin.rolling(Ordered.derive(OrderedTwin.lagPeriods(df, key, "v", 1, "l"),
      "v", "sub", "d", rightField = Some("l")), key, "d", 3, "max", "r")
    assertSame(byId(out, Seq("r")), byId(twin, Seq("r")), Seq("r"), "split chain")
  }

  test("out-of-range parameters are rejected naming the field") {
    val df = series(3L, keys = 2, maxLen = 3)
    def rejects(body: => Any, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](body)
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    rejects(Ordered.lagPeriods(df, key, "v", 0, "l"), "lag of 'v': periods must be >= 1")
    rejects(Ordered.leadPeriods(df, key, "v", -1, "l"), "lead of 'v': periods must be >= 1")
    rejects(Ordered.rolling(df, key, "v", 0, "mean", "r"), "rolling of 'v': window must be >= 1")
    rejects(Ordered.rolling(df, key, "v", 3, "mean", "r", Some(4)),
      "rolling of 'v': min_samples must lie in 1..3")
    rejects(Ordered.forwardSum(df, key, "v", 0, "f"), "forward_sum of 'v': window must be >= 1")
    rejects(Ordered.fill(df, key, "v", 0, "mean", "f"), "fill of 'v': window must be >= 1")
    rejects(Ordered.fill(df, key, "v", 2, "mean", "f", 0), "fill of 'v': min_samples must lie in 1..2")
  }
}
