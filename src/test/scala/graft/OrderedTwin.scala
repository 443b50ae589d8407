package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TimeFns
import graft.operators.{Ordered, StreamKey}

/** The Spark `Window` twin of every [[graft.operators.OrderedScan]] step —
  * the shape each ordered transform had before it became a scan step, kept
  * for the specs to pin the scan against. Each op is its own window on
  * `key.w`; `collapse` windows on (partition, time) and `rolling_slope`
  * re-windows on (partition, run).
  */
object OrderedTwin {
  import Ordered.cleanNum

  def lagPeriods(df: DataFrame, key: StreamKey, field: String, periods: Int,
                 to: String): DataFrame =
    df.withColumn(to, lag(col(field), periods).over(key.w))

  def leadPeriods(df: DataFrame, key: StreamKey, field: String, periods: Int,
                  to: String): DataFrame =
    df.withColumn(to, lead(col(field), periods).over(key.w))

  /** Row frame of `window` positions; the median is the sorted
    * collect_list with the reference's even branch.
    */
  def rolling(df: DataFrame, key: StreamKey, field: String, window: Int,
              statistic: String, to: String,
              minSamples: Option[Int] = None): DataFrame = {
    val frame = key.w.rowsBetween(-(window - 1), 0)
    val v = cleanNum(col(field))
    val samples = count(v).over(frame)
    val stat: Column = statistic match {
      case "mean"   => avg(v).over(frame)
      case "stdev"  => stddev_samp(v).over(frame)
      case "pstdev" => stddev_pop(v).over(frame)
      case "max"    => max(v).over(frame)
      case "min"    => min(v).over(frame)
      case "median" => medianOf(sort_array(collect_list(v).over(frame)))
    }
    df.withColumn(to, when(samples >= minSamples.getOrElse(window), stat))
  }

  /** Median of an already-sorted array, reference RollingMedian semantics:
    * odd → middle; even → lower + (upper - lower) / 2, except a
    * zero-straddling pair uses (lower + upper) / 2.
    */
  def medianOf(sorted: Column): Column = {
    val n = size(sorted)
    val mid = (n / 2).cast("int") + 1 // element_at is 1-based
    val lower = element_at(sorted, mid - 1)
    val upper = element_at(sorted, mid)
    val even = when(lower < 0.0 && upper > 0.0, (lower + upper) / 2.0)
      .otherwise(lower + (upper - lower) / 2.0)
    when(n % 2 === 1, element_at(sorted, mid)).otherwise(even)
  }

  def forwardSum(df: DataFrame, key: StreamKey, field: String, window: Int,
                 to: String): DataFrame = {
    val frame = key.w.rowsBetween(1, window)
    val v = cleanNum(col(field))
    val complete = count(lit(1)).over(frame) === window &&
      count(v).over(frame) === window
    df.withColumn(to, when(complete, sum(v).over(frame)))
  }

  def fill(df: DataFrame, key: StreamKey, field: String, window: Int,
           statistic: String, to: String, minSamples: Int = 1): DataFrame = {
    val frame = key.w.rowsBetween(-window, -1)
    val v = cleanNum(col(field))
    val samples = count(v).over(frame)
    val stat = statistic match {
      case "mean"   => avg(v).over(frame)
      case "median" => medianOf(sort_array(collect_list(v).over(frame)))
    }
    df.withColumn(to, when(v.isNull, when(samples >= minSamples, stat)).otherwise(v))
  }

  def forwardFill(df: DataFrame, key: StreamKey, field: String,
                  to: String): DataFrame = {
    val frame = key.w.rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn(to, last(cleanNum(col(field)), ignoreNulls = true).over(frame))
  }

  def collapse(df: DataFrame, key: StreamKey, keep: String): DataFrame = {
    val order = keep match {
      case "first" => key.tiebreak.map(col)
      case "last"  => key.tiebreak.map(col(_).desc)
    }
    val w = Window
      .partitionBy((key.partitionBy :+ key.timeCol).map(col): _*)
      .orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** Runs of consecutive valid pairs (run id = running count of invalid
    * rows), then the slope over the run's last `window` rows once the run
    * holds `window` valid pairs.
    */
  def rollingSlope(df: DataFrame, key: StreamKey, x: String, y: String,
                   window: Int, to: String): DataFrame = {
    val xv = cleanNum(col(x))
    val yv = cleanNum(col(y))
    val invalid = (xv.isNull || yv.isNull).cast("int")
    val runFrame = key.w.rowsBetween(Window.unboundedPreceding, 0)
    val withRun = df
      .withColumn("__xv", xv)
      .withColumn("__yv", yv)
      .withColumn("__run", sum(invalid).over(runFrame))
    val runW = Window
      .partitionBy((key.partitionBy :+ "__run").map(col): _*)
      .orderBy(key.orderCols: _*)
    val validPair = col("__xv").isNotNull && col("__yv").isNotNull
    val validPos = count(when(validPair, lit(1))).over(
      runW.rowsBetween(Window.unboundedPreceding, 0))
    val slope = regr_slope(col("__yv"), col("__xv"))
      .over(runW.rowsBetween(-(window - 1), 0))
    withRun
      .withColumn(to, when(validPair && validPos >= window, slope))
      .drop("__xv", "__yv", "__run")
  }

  def sessionize(df: DataFrame, key: StreamKey, gap: String,
                 to: String = "session_id"): DataFrame = {
    val gapUs = TimeFns.parseCadenceMillis(gap) * 1000L
    val t = unix_micros(col(key.timeCol))
    val prev = lag(t, 1).over(key.w)
    val newSession = when(prev.isNull || (t - prev) > gapUs, 1).otherwise(0)
    df.withColumn(to,
      sum(newSession).over(key.w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
  }

  /** The window list of the last `size` values on every row that emits a
    * window, NULL elsewhere; each value is wrapped in a one-element array so
    * `collect_list` keeps NULLs in position.
    */
  def sequenceWindow(df: DataFrame, key: StreamKey, field: String, size: Int,
                     stride: Int, to: String): DataFrame = {
    val rn = row_number().over(key.w)
    val frame = key.w.rowsBetween(-(size - 1), 0)
    df.withColumn(to, when(rn >= size && pmod(rn - size, lit(stride)) === 0,
      flatten(collect_list(array(col(field))).over(frame))))
  }

  /** The hash split as the nested fold it was: `when(acc.isNotNull, acc)`
    * over the cumulative ratios, the last label for what none took.
    */
  def hashSplitFold(token: Column, ratios: Seq[(String, Double)], seed: Int): Column = {
    val r = graft.operators.Assembly.hashSplitDraw(token, seed)
    val cumulative = ratios.scanLeft(0.0)(_ + _._2).tail
    val labeled = ratios.map(_._1).zip(cumulative).foldLeft(lit(null).cast("string")) {
      case (acc, (label, thresh)) => when(acc.isNotNull, acc)
        .otherwise(when(r < thresh, label))
    }
    coalesce(labeled, lit(ratios.last._1))
  }
}
