package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TimeFns
import graft.operators.{Ordered, StreamKey}
import Q._

/** §2.3 ordered per-partition transforms over the `events` stream
  * (partition_by = user_id, time = ts, tiebreak = event_id).
  *
  * Each ordered one is a step of an ordered scan on the key, so a chain of
  * them costs a single shuffle+sort and one pass (reference does one Python
  * pass per transform, in its src/datapipeline/transforms/stream/).
  *
  * `value_m` is a deterministic missing-value mask (every 7th event) used to
  * exercise the reference's missing-semantics: min_samples gating, fill,
  * forward-fill.
  */
object QueriesOrdered {

  private val key = StreamKey(Seq("user_id"), "ts", Seq("event_id"))

  /** events + value_m (NULL every 7th event_id). */
  private def ev(s: SparkSession, d: String): DataFrame =
    events(s, d).withColumn("value_m",
      when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))

  private val valueMSql = "CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END"
  private val overOrd = "PARTITION BY user_id ORDER BY ts, event_id"
  private def w(frame: String) = s"OVER ($overOrd ROWS BETWEEN $frame)"

  private def outBase(df: DataFrame, extra: Column*): DataFrame =
    df.select(col("event_id") +: col("user_id") +: eu(col("ts")).as("t_us") +: extra: _*)

  val queries: Map[String, QueryFn] = Map(
    "dedupe" -> { (s, d) =>
      Ordered.dedupe(events(s, d).select(col("user_id"), col("event_type")))
    },

    "collapse_last" -> { (s, d) =>
      val withHour = events(s, d)
        .withColumn("hour", TimeFns.floorTime(col("ts"), "1h"))
      val k = StreamKey(Seq("user_id"), "hour", Seq("ts", "event_id"))
      Ordered.collapse(withHour, k, "last")
        .select(col("user_id"), eu(col("hour")).as("hour_us"), col("event_id"),
          col("value"))
    },

    "lag_periods" -> { (s, d) =>
      outBase(Ordered.lagPeriods(events(s, d), key, "value", 1, "value_lag1"),
        col("value"), col("value_lag1"))
    },

    "lead_periods" -> { (s, d) =>
      outBase(Ordered.leadPeriods(events(s, d), key, "value", 2, "value_lead2"),
        col("value"), col("value_lead2"))
    },

    "forward_sum" -> { (s, d) =>
      outBase(Ordered.forwardSum(events(s, d), key, "value", 3, "fsum3"),
        round(col("fsum3"), 6).as("fsum3"))
    },

    "rolling_mean" -> { (s, d) =>
      outBase(Ordered.rolling(ev(s, d), key, "value_m", 5, "mean", "r", Some(3)),
        round(col("r"), 6).as("rmean5"))
    },

    "rolling_median" -> { (s, d) =>
      outBase(Ordered.rolling(ev(s, d), key, "value_m", 5, "median", "r", Some(3)),
        round(col("r"), 6).as("rmed5"))
    },

    "rolling_stdev" -> { (s, d) =>
      outBase(Ordered.rolling(events(s, d), key, "value", 5, "stdev", "r"),
        round(col("r"), 6).as("rstd5"))
    },

    "rolling_pstdev" -> { (s, d) =>
      outBase(Ordered.rolling(events(s, d), key, "value", 5, "pstdev", "r"),
        round(col("r"), 6).as("rpstd5"))
    },

    "rolling_max" -> { (s, d) =>
      outBase(Ordered.rolling(events(s, d), key, "value", 5, "max", "r"),
        col("r").as("rmax5"))
    },

    "rolling_min" -> { (s, d) =>
      outBase(Ordered.rolling(events(s, d), key, "value", 5, "min", "r"),
        col("r").as("rmin5"))
    },

    "rolling_slope" -> { (s, d) =>
      // x = seconds since 2024-01-01 (small magnitudes keep the OLS stable)
      val df = events(s, d).withColumn("xs",
        (eu(col("ts")) - lit(1704067200000000L)).cast("double") / 1e6)
      // `+ 0.0` collapses IEEE -0.0 (from rounding a tiny negative slope) to
      // +0.0 so the stringified value hashes identically across engines.
      outBase(Ordered.rollingSlope(df, key, "xs", "value", 5, "slope"),
        (round(col("slope"), 6) + lit(0.0)).as("slope5"))
    },

    "fill_mean" -> { (s, d) =>
      outBase(Ordered.fill(ev(s, d), key, "value_m", 5, "mean", "filled"),
        round(col("filled"), 6).as("filled"))
    },

    "forward_fill" -> { (s, d) =>
      outBase(Ordered.forwardFill(ev(s, d), key, "value_m", "ff"),
        col("ff"))
    },

    "ensure_cadence" -> { (s, d) =>
      Ordered.ensureCadence(events(s, d), key, "1h")
        .select(col("user_id"), eu(col("ts")).as("t_us"), col("value"))
    },

    "ensure_ticks" -> { (s, d) =>
      val e = events(s, d)
      val bounds = e.agg(
        eu(TimeFns.floorTime(min(col("ts")), "1h")).as("lo"),
        eu(TimeFns.floorTime(max(col("ts")), "1h")).as("hi"))
      Ordered.ensureTicksAligned(e, key, "1h", bounds)
        .select(col("user_id"), eu(col("ts")).as("t_us"), col("value"))
    },

    // Presorted-stream order validation (reference pipelines/stream/
    // order.py): does event time run non-decreasing along event_id arrival
    // order per user? Per-partition violation counts, lenient mode.
    "validate_order" -> { (s, d) =>
      graft.operators.Ordered.validateOrder(events(s, d),
        graft.operators.StreamKey(Seq("user_id"), "ts", Seq("event_id")),
        posCol = "event_id")
    },

    "where_ordered" -> { (s, d) =>
      val rolled = Ordered.rolling(events(s, d), key, "value", 5, "mean", "r5")
      outBase(Ordered.where(rolled, "r5", "gt", 80.0),
        round(col("r5"), 6).as("r5"))
    },

    // Declarative pipeline chain (reference transforms: config list): a
    // filter, two ordered ops fused into ONE scan over one shuffle+sort on
    // the key, then two record-wise ops.
    "pipeline_chain" -> { (s, d) =>
      import graft.pipeline.Pipeline
      import graft.pipeline.Pipeline._
      val out = Pipeline.run(events(s, d), key, Seq(
        Where("event_type", "ne", "error"),
        Rolling("value", "mean", 3, "m3", minSamples = Some(3)),
        Lag("value", 1, "prev"),
        Derive("value", "sub", "chg", rightField = Some("prev")),
        Log1p("value", "lnv")))
      outBase(out, round(col("m3"), 6).as("m3"), col("prev"),
        col("chg"), round(col("lnv"), 6).as("lnv"))
    }
  )

  val oracleSql: Map[String, String] = Map(
    "validate_order" ->
      """SELECT user_id, COUNT(*) AS n_records,
         CAST(sum(CASE WHEN pts IS NOT NULL AND ts < pts THEN 1 ELSE 0 END)
           AS BIGINT) AS n_violations
         FROM (SELECT user_id, ts,
                      lag(ts) OVER (PARTITION BY user_id ORDER BY event_id) AS pts
               FROM events)
         GROUP BY user_id""",
    "dedupe" -> "SELECT DISTINCT user_id, event_type FROM events",

    "collapse_last" ->
      s"""SELECT user_id, hour_us, event_id, value FROM (
          SELECT user_id, epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
                 event_id, value,
                 row_number() OVER (
                   PARTITION BY user_id, epoch_us(ts) - epoch_us(ts) % 3600000000
                   ORDER BY ts DESC, event_id DESC) AS rn
          FROM events) WHERE rn = 1""",

    "lag_periods" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS t_us, value,
          lag(value, 1) OVER ($overOrd) AS value_lag1 FROM events""",

    "lead_periods" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS t_us, value,
          lead(value, 2) OVER ($overOrd) AS value_lead2 FROM events""",

    "forward_sum" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS t_us,
          ROUND(CASE WHEN count(*) ${w("1 FOLLOWING AND 3 FOLLOWING")} = 3
                      AND count(value) ${w("1 FOLLOWING AND 3 FOLLOWING")} = 3
                THEN sum(value) ${w("1 FOLLOWING AND 3 FOLLOWING")} END, 6) AS fsum3
          FROM events""",

    "rolling_mean" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS t_us,
          ROUND(CASE WHEN count(value_m) ${w("4 PRECEDING AND CURRENT ROW")} >= 3
                THEN avg(value_m) ${w("4 PRECEDING AND CURRENT ROW")} END, 6) AS rmean5
          FROM (SELECT *, $valueMSql AS value_m FROM events)""",

    "rolling_median" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS t_us,
          ROUND(CASE WHEN count(value_m) ${w("4 PRECEDING AND CURRENT ROW")} >= 3
                THEN median(value_m) ${w("4 PRECEDING AND CURRENT ROW")} END, 6) AS rmed5
          FROM (SELECT *, $valueMSql AS value_m FROM events)""",

    "rolling_stdev" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS t_us,
          ROUND(CASE WHEN count(value) ${w("4 PRECEDING AND CURRENT ROW")} >= 5
                THEN stddev_samp(value) ${w("4 PRECEDING AND CURRENT ROW")} END, 6) AS rstd5
          FROM events""",

    "rolling_pstdev" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS t_us,
          ROUND(CASE WHEN count(value) ${w("4 PRECEDING AND CURRENT ROW")} >= 5
                THEN stddev_pop(value) ${w("4 PRECEDING AND CURRENT ROW")} END, 6) AS rpstd5
          FROM events""",

    "rolling_max" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS t_us,
          CASE WHEN count(value) ${w("4 PRECEDING AND CURRENT ROW")} >= 5
               THEN max(value) ${w("4 PRECEDING AND CURRENT ROW")} END AS rmax5
          FROM events""",

    "rolling_min" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS t_us,
          CASE WHEN count(value) ${w("4 PRECEDING AND CURRENT ROW")} >= 5
               THEN min(value) ${w("4 PRECEDING AND CURRENT ROW")} END AS rmin5
          FROM events""",

    "rolling_slope" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS t_us,
          ROUND(CASE WHEN row_number() OVER ($overOrd) >= 5
                THEN regr_slope(value, xs) ${w("4 PRECEDING AND CURRENT ROW")} END, 6) + 0.0 AS slope5
          FROM (SELECT *,
                CAST(epoch_us(ts) - 1704067200000000 AS DOUBLE) / 1e6 AS xs
                FROM events)""",

    "fill_mean" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS t_us,
          ROUND(CASE WHEN value_m IS NULL THEN
                  CASE WHEN count(value_m) ${w("5 PRECEDING AND 1 PRECEDING")} >= 1
                       THEN avg(value_m) ${w("5 PRECEDING AND 1 PRECEDING")} END
                ELSE value_m END, 6) AS filled
          FROM (SELECT *, $valueMSql AS value_m FROM events)""",

    "forward_fill" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS t_us,
          last_value(value_m IGNORE NULLS)
            ${w("UNBOUNDED PRECEDING AND CURRENT ROW")} AS ff
          FROM (SELECT *, $valueMSql AS value_m FROM events)""",

    "ensure_cadence" ->
      """WITH g AS (
           SELECT user_id, epoch_us(ts) AS t,
                  epoch_us(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS nxt
           FROM events)
         SELECT user_id, epoch_us(ts) AS t_us, value FROM events
         UNION ALL
         SELECT user_id,
                unnest(generate_series(t + 3600000000, nxt - 1, 3600000000)) AS t_us,
                NULL AS value
         FROM g WHERE nxt IS NOT NULL AND nxt - t > 3600000000""",

    "ensure_ticks" ->
      """WITH b AS (
           SELECT epoch_us(min(ts)) - epoch_us(min(ts)) % 3600000000 AS lo,
                  epoch_us(max(ts)) - epoch_us(max(ts)) % 3600000000 AS hi
           FROM events),
         grid AS (
           SELECT user_id, unnest(generate_series(lo, hi, 3600000000)) AS t_us
           FROM (SELECT DISTINCT user_id FROM events), b),
         ex AS (SELECT DISTINCT user_id, epoch_us(ts) AS t_us FROM events)
         SELECT user_id, epoch_us(ts) AS t_us, value FROM events
         UNION ALL
         SELECT g.user_id, g.t_us, NULL AS value
         FROM grid g ANTI JOIN ex ON g.user_id = ex.user_id AND g.t_us = ex.t_us""",

    "pipeline_chain" ->
      s"""SELECT event_id, user_id, epoch_us(ts) AS t_us,
          ROUND(CASE WHEN count(value) ${w("2 PRECEDING AND CURRENT ROW")} >= 3
                THEN avg(value) ${w("2 PRECEDING AND CURRENT ROW")} END, 6) AS m3,
          lag(value, 1) OVER ($overOrd) AS prev,
          value - lag(value, 1) OVER ($overOrd) AS chg,
          ROUND(LN(1.0 + value), 6) AS lnv
          FROM events WHERE event_type != 'error'""",

    "where_ordered" ->
      s"""SELECT event_id, user_id, t_us, ROUND(r5, 6) AS r5 FROM (
          SELECT event_id, user_id, epoch_us(ts) AS t_us,
                 CASE WHEN count(value) ${w("4 PRECEDING AND CURRENT ROW")} >= 5
                      THEN avg(value) ${w("4 PRECEDING AND CURRENT ROW")} END AS r5
          FROM events) WHERE r5 > 80.0"""
  )
}
