package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Ordered, StreamKey}

/** Edge-case semantics of the ordered per-partition transforms, asserting the
  * reference's documented rules (SURVEY.md §1):
  *  - missing values (NULL and NaN) occupy window positions but don't count
  *    toward min_samples;
  *  - forward_sum is strict: value only for a complete, all-present
  *    next-window;
  *  - rolling_slope resets its window on a missing pair;
  *  - fills use history excluding the current row.
  */
class OrderedSpec extends SparkSpec {

  test("validateOrder: lenient counts violations; strict fails the job") {
    import spark.implicits._
    import java.sql.Timestamp
    val df = Seq(
      (1L, 1L, Timestamp.valueOf("2024-01-01 00:00:00")),
      (1L, 2L, Timestamp.valueOf("2024-01-01 00:02:00")),
      (1L, 3L, Timestamp.valueOf("2024-01-01 00:01:00")), // regresses
      (2L, 4L, Timestamp.valueOf("2024-01-01 00:05:00"))
    ).toDF("user_id", "pos", "ts")
    val key = graft.operators.StreamKey(Seq("user_id"), "ts", Seq("pos"))
    val out = graft.operators.Ordered.validateOrder(df, key, "pos")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 1L, 2L -> 0L))
    val strict = graft.operators.Ordered.validateOrder(df, key, "pos", strict = true)
    val e = intercept[Exception](strict.collect())
    assert(String.valueOf(e.getMessage).contains("order violation") ||
      String.valueOf(e.getCause).contains("order violation"))
  }
  import spark.implicits._

  private val key = StreamKey(Seq("p"), "t", Seq("i"))

  private def ts(s: Long) = new Timestamp(s * 1000)

  /** One partition, values indexed by i; None encodes missing (genuine NULL). */
  private def series(vals: Seq[Option[Double]]): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rows = vals.zipWithIndex.map { case (v, i) =>
      Row("a", ts(i.toLong), i.toLong, v.orNull)
    }
    val schema = StructType(Seq(
      StructField("p", StringType), StructField("t", TimestampType),
      StructField("i", LongType), StructField("v", DoubleType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
  }

  test("rolling mean: missing occupies a slot but min_samples counts non-missing") {
    val df = series(Seq(Some(1.0), Some(2.0), None, Some(4.0), Some(5.0)))
    val out = doubles(
      Ordered.rolling(df, key, "v", 3, "mean", "r", minSamples = Some(2)), "i", "r")
    // window of 3 positions; i=2 window = [1,2,null] → 2 samples → mean 1.5
    // i=3 window = [2,null,4] → 2 samples → mean 3.0
    assert(out == Seq(None, Some(1.5), Some(1.5), Some(3.0), Some(4.5)))
  }

  test("rolling mean: NaN treated as missing") {
    val df = series(Seq(Some(1.0), Some(Double.NaN), Some(3.0)))
    val out = doubles(
      Ordered.rolling(df, key, "v", 3, "mean", "r", minSamples = Some(1)), "i", "r")
    assert(out == Seq(Some(1.0), Some(1.0), Some(2.0)))
  }

  test("rolling default min_samples = window (strict)") {
    val df = series(Seq(Some(1.0), Some(2.0), Some(3.0), None, Some(5.0)))
    val out = doubles(Ordered.rolling(df, key, "v", 3, "max", "r"), "i", "r")
    assert(out == Seq(None, None, Some(3.0), None, None))
  }

  test("rolling median: even window interpolates between middle pair") {
    val df = series(Seq(Some(4.0), Some(1.0), Some(3.0), Some(2.0)))
    val out = doubles(
      Ordered.rolling(df, key, "v", 4, "median", "r", minSamples = Some(4)), "i", "r")
    assert(out == Seq(None, None, None, Some(2.5)))
  }

  test("forward_sum: strict complete next-window, current excluded, tail null") {
    val df = series(Seq(Some(1.0), Some(2.0), Some(3.0), None, Some(5.0), Some(6.0)))
    val out = doubles(Ordered.forwardSum(df, key, "v", 2, "f"), "i", "f")
    // i=0 → 2+3=5; i=1 → 3+null → null; i=2 → null+5 → null; i=3 → 5+6=11;
    // i=4,5 incomplete tail → null
    assert(out == Seq(Some(5.0), None, None, Some(11.0), None, None))
  }

  test("rolling_slope: missing pair clears the window") {
    // x = i as double; y perfectly linear y=2x within runs
    val vals = Seq(Some(0.0), Some(2.0), Some(4.0), None, Some(8.0), Some(10.0), Some(12.0))
    val df = series(vals).withColumn("x", col("i").cast("double"))
    val out = doubles(Ordered.rollingSlope(df, key, "x", "v", 3, "s"), "i", "s")
    // run 1 = i 0..2 → slope emitted at i=2; run 2 starts at i=4 → needs 3
    // valid pairs → emitted first at i=6
    assert(out == Seq(None, None, Some(2.0), None, None, None, Some(2.0)))
  }

  test("fill mean: history excludes current, only fills missing") {
    val df = series(Seq(Some(2.0), Some(4.0), None, Some(8.0)))
    val out = doubles(Ordered.fill(df, key, "v", 2, "mean", "f"), "i", "f")
    // i=2 missing → mean(v1, v0... window 2 = [4, 2]... positions -2,-1 = [2,4]? i=2 history = i0,i1 → (2+4)/2=3
    assert(out == Seq(Some(2.0), Some(4.0), Some(3.0), Some(8.0)))
  }

  test("forward_fill carries last non-missing") {
    val df = series(Seq(None, Some(1.0), None, None, Some(4.0)))
    val out = doubles(Ordered.forwardFill(df, key, "v", "f"), "i", "f")
    assert(out == Seq(None, Some(1.0), Some(1.0), Some(1.0), Some(4.0)))
  }

  test("native rolling median equals the collect_list window shape") {
    import org.apache.spark.sql.expressions.Window
    // deterministic pseudo-random series with missing values, negatives
    // (the zero-straddling even branch), duplicate values, two partitions
    val rows = (0 until 400).map { i =>
      val h = ((i * 2654435761L) % 1000).toInt
      val v: Any = if (h % 7 == 0) null else (h - 500) / 10.0
      org.apache.spark.sql.Row(
        if (i % 2 == 0) "a" else "b", ts(i.toLong), i.toLong, v)
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.TimestampType),
        org.apache.spark.sql.types.StructField("i",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.DoubleType))))
    // reference: the pre-r12 sort_array(collect_list) window + medianOf
    def reference(window: Int, minS: Int): Seq[Option[Double]] = {
      val frame = key.w.rowsBetween(-(window - 1), 0)
      val v = Ordered.cleanNum(col("v"))
      val sorted = sort_array(collect_list(v).over(frame))
      val n = size(sorted)
      val mid = (n / 2).cast("int") + 1
      val lower = element_at(sorted, mid - 1)
      val upper = element_at(sorted, mid)
      val even = when(lower < 0.0 && upper > 0.0, (lower + upper) / 2.0)
        .otherwise(lower + (upper - lower) / 2.0)
      val med = when(n % 2 === 1, element_at(sorted, mid)).otherwise(even)
      doubles(df.withColumn("m",
        when(count(v).over(frame) >= minS, med)), "i", "m")
    }
    for ((w, minS) <- Seq((5, 3), (5, 5), (4, 1), (1, 1))) {
      val native = doubles(Ordered.rolling(df, key, "v", w, "median", "m",
        Some(minS)), "i", "m")
      assert(native == reference(w, minS), s"window=$w minSamples=$minS")
    }
  }

  test("ensure_cadence re-anchors the grid at every real record") {
    val rows = Seq(
      ("a", ts(0), 0L, 1.0),
      ("a", ts(150), 1L, 2.0), // gap 150s at 60s cadence → ticks at 60, 120
      ("a", ts(200), 2L, 3.0)  // gap 50s → no tick
    ).toDF("p", "t", "i", "v")
    val out = Ordered.ensureCadence(rows, key, "60s")
      .select("t").collect().map(_.getTimestamp(0).getTime / 1000).sorted.toSeq
    assert(out == Seq(0L, 60L, 120L, 150L, 200L))
  }

  test("ensureTicksAligned equals the generic-grid shape on every edge") {
    // edges the window-fill rework must not change: unaligned times,
    // duplicate (partition, time) pairs, a record exactly ON a grid tick,
    // a partition starting late / ending early, single-record partitions
    val rows = Seq(
      ("a", ts(30), 0L, 1.0),   // first event after lo
      ("a", ts(60), 1L, 2.0),   // exactly on a tick: must not duplicate
      ("a", ts(60), 2L, 2.5),   // duplicate time, tiebreak i
      ("a", ts(250), 3L, 3.0),  // gap spanning ticks 120, 180, 240
      ("b", ts(0), 4L, 4.0),    // starts at lo
      ("b", ts(65), 5L, 5.0),   // ends early: tail ticks to hi
      ("c", ts(290), 6L, 6.0)   // single late record: head ticks from lo
    ).toDF("p", "t", "i", "v")
    val step = 60L
    val lo = 0L
    val hi = 240L // floor(max=290 / 60) * 60
    val bounds = Seq((lo * 1000000L, hi * 1000000L)).toDF("lo", "hi")
    val grid = rows.select(col("p")).distinct()
      .crossJoin(broadcast(bounds))
      .select(col("p"), explode(sequence(col("lo"), col("hi"),
        lit(step * 1000000L))).as("us"))
      .select(col("p"), expr("timestamp_micros(us)").as("t"))
    def canon(df: DataFrame): Seq[(String, Long, Option[Long], Option[Double])] =
      df.collect().toSeq.map(r => (r.getString(0),
        r.getTimestamp(1).getTime / 1000,
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).sortBy(x =>
        (x._1, x._2, x._3.getOrElse(-1L)))
    val generic = canon(Ordered.ensureTicks(rows, key, grid))
    val aligned = canon(Ordered.ensureTicksAligned(rows, key, "60s", bounds))
    assert(aligned == generic)
    // and the placeholders are the expected set
    val placeholders = aligned.filter(_._3.isEmpty).map(x => (x._1, x._2))
    assert(placeholders == Seq(
      ("a", 0L), ("a", 120L), ("a", 180L), ("a", 240L),
      ("b", 60L), ("b", 120L), ("b", 180L), ("b", 240L),
      ("c", 0L), ("c", 60L), ("c", 120L), ("c", 180L), ("c", 240L)))
  }

  test("collapse keeps last per (partition, time) by tiebreak") {
    val rows = Seq(
      ("a", ts(0), 1L, 10.0),
      ("a", ts(0), 2L, 20.0),
      ("a", ts(1), 3L, 30.0)
    ).toDF("p", "t", "i", "v")
    val k = StreamKey(Seq("p"), "t", Seq("i"))
    val out = Ordered.collapse(rows, k, "last")
      .select("i").collect().map(_.getLong(0)).sorted.toSeq
    assert(out == Seq(2L, 3L))
  }

  test("asofJoin attaches the latest right payload at or before left time") {
    import graft.operators.Compose
    val left = Seq(("a", ts(5), 1L, 0.0), ("a", ts(10), 2L, 0.0), ("a", ts(20), 3L, 0.0),
      ("b", ts(5), 4L, 0.0)).toDF("p", "t", "i", "v")
    val right = Seq(("a", ts(10), 100.0), ("a", ts(15), 150.0)).toDF("p", "t", "q")
    val out = Compose.asofJoin(left, right, Seq("p"), "t", Seq("q"))
      .collect().map(r => r.getLong(2) -> Option(r.get(4)).map(_.asInstanceOf[Double])).toMap
    // i=1 (t=5): no quote yet → null; i=2 (t=10): equal time visible → 100;
    // i=3 (t=20): latest = 150; i=4 (partition b): no quotes → null
    assert(out == Map(1L -> None, 2L -> Some(100.0), 3L -> Some(150.0), 4L -> None))
  }

  test("sessionize starts a new session when the gap exceeds the threshold") {
    val rows = Seq(
      ("a", ts(0), 0L, 1.0), ("a", ts(60), 1L, 1.0),      // session 0
      ("a", ts(200), 2L, 1.0),                            // gap 140s > 100s → session 1
      ("a", ts(250), 3L, 1.0),
      ("b", ts(0), 4L, 1.0)                               // other partition → own session 0
    ).toDF("p", "t", "i", "v")
    val out = Ordered.sessionize(rows, key, "100s")
      .collect().map(r => r.getLong(2) -> r.getLong(4)).toMap
    assert(out == Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L))
  }

  test("declarative pipeline equals manual operator composition") {
    import graft.pipeline.Pipeline
    import graft.pipeline.Pipeline._
    val df = series(Seq(Some(1.0), Some(2.0), Some(3.0), Some(4.0)))
    val viaDsl = Pipeline.run(df, key, Seq(
      Rolling("v", "mean", 2, "m", Some(2)),
      Lag("v", 1, "prev"),
      Derive("v", "sub", "chg", rightField = Some("prev"))))
    val manual = Ordered.derive(
      Ordered.lagPeriods(
        Ordered.rolling(df, key, "v", 2, "mean", "m", Some(2)),
        key, "v", 1, "prev"),
      "v", "sub", "chg", rightField = Some("prev"))
    assert(rows(viaDsl.orderBy("i")) == rows(manual.orderBy("i")))
    assert(doubles(viaDsl, "i", "chg") == Seq(None, Some(1.0), Some(1.0), Some(1.0)))
  }

  test("salted join and salted agg equal their unsalted twins") {
    import graft.operators.Skew
    val big = Seq((1L, 10L, 1.0), (1L, 11L, 2.0), (2L, 12L, 3.0))
      .toDF("k", "row_id", "v")
    val dim = Seq((1L, "a"), (2L, "b")).toDF("k", "name")
    val plain = big.join(dim, Seq("k")).orderBy("row_id")
    // salted join: the skewed side salts each row, the other side
    // replicates once per salt value
    val salted = Skew.withSalt(big, "row_id", 4)
      .join(dim.withColumn("__salt", explode(sequence(lit(0L), lit(3L)))),
        Seq("k", "__salt"))
      .drop("__salt").orderBy("row_id")
    assert(rows(salted.select("k", "row_id", "v", "name")) ==
      rows(plain.select("k", "row_id", "v", "name")))
    val agg = Skew.saltedAgg(big, Seq("k"), "row_id", 4, "v",
      org.apache.spark.sql.functions.sum, org.apache.spark.sql.functions.sum, "total")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(agg == Map(1L -> 3.0, 2L -> 3.0))
  }

  test("rangeJoin matches a naive containment join") {
    import graft.operators.Compose
    val points = Seq((1L, ts(30)), (2L, ts(90)), (3L, ts(4000))).toDF("id", "t")
    val iv = Seq((10L, ts(0), ts(100)), (20L, ts(60), ts(200))).toDF("iv", "s", "e")
    val out = Compose.rangeJoin(points, "t", iv, "s", "e", "1m")
      .select("id", "iv").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // point 1 (t=30) in iv 10 only; point 2 (t=90) in both; point 3 in none
    assert(out == Set((1L, 10L), (2L, 10L), (2L, 20L)))
  }

  test("where supports the reference's comparison operators") {
    val df = Seq(1, 2, 3, 4).toDF("x")
    assert(Ordered.where(df, "x", "in", Seq(2, 3)).count() == 2)
    assert(Ordered.where(df, "x", "not_in", Seq(2, 3)).count() == 2)
    assert(Ordered.where(df, "x", "ge", 3).count() == 2)
    assert(Ordered.where(df, "x", "ne", 1).count() == 3)
  }
}
