package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.functions.TimeFns

/** Identity of an ordered record stream: the complete partition identity of an
  * independent series plus its time column and optional deterministic
  * tiebreak columns (the reference relies on stable sort arrival order; a
  * distributed engine needs an explicit tiebreak for reproducibility).
  *
  * Capability reference: /root/reference/docs/transforms/stream.md and
  * /root/reference/src/datapipeline/transforms/stream/ (all ops). Re-expressed as
  * Spark Window transforms: a chain of k ordered ops over the same StreamKey
  * shares ONE exchange on the partition key and one sort, where the
  * reference makes k sequential Python passes. Exceptions: `collapse`
  * partitions by (partition, time) and shuffles on that; `rolling_slope`
  * re-sorts on (partition, __run) inside the key's partitions.
  */
final case class StreamKey(
    partitionBy: Seq[String],
    timeCol: String = "time",
    tiebreak: Seq[String] = Nil
) {
  def orderCols: Seq[Column] = (timeCol +: tiebreak).map(col)
  def w: WindowSpec =
    Window.partitionBy(partitionBy.map(col): _*).orderBy(orderCols: _*)
}

/** Ordered per-partition transforms (SURVEY.md §2.3).
  *
  * Missing-value contract (reference transforms/utils.py is_missing): both
  * NULL and NaN are "missing". Every numeric op routes inputs through
  * [[Ordered.cleanNum]] so NaN behaves as NULL, matching the reference.
  */
object Ordered {

  /** Normalize a numeric column: NaN → NULL (missing). */
  def cleanNum(c: Column): Column =
    when(c.isNull || isnan(c), lit(null)).otherwise(c).cast("double")

  // ---------------------------------------------------------------- lag/lead

  /** reference: transforms/stream/lag.py (LagTransform) */
  def lagPeriods(df: DataFrame, key: StreamKey, field: String, periods: Int,
                 to: String): DataFrame =
    df.withColumn(to, lag(col(field), periods).over(key.w))

  /** reference: transforms/stream/lead.py (LeadTransform) */
  def leadPeriods(df: DataFrame, key: StreamKey, field: String, periods: Int,
                  to: String): DataFrame =
    df.withColumn(to, lead(col(field), periods).over(key.w))

  // ---------------------------------------------------------------- rolling

  /** reference: transforms/stream/rolling.py (RollingTransform) +
    * transforms/rolling_window.py. Missing ticks occupy a window position
    * (row frame does exactly that) but only non-missing values count toward
    * `minSamples` (default = window).
    */
  def rolling(df: DataFrame, key: StreamKey, field: String, window: Int,
              statistic: String, to: String,
              minSamples: Option[Int] = None): DataFrame = {
    val frame = key.w.rowsBetween(-(window - 1), 0)
    val v = cleanNum(col(field))
    val minS = minSamples.getOrElse(window)
    if (statistic == "median") {
      // `window` OFFSET probes + a native codegen'd gather instead of a
      // collect_list aggregate: the object-buffer window built and sorted
      // a boxed list per ROW — at the 1000x decade that priced
      // rolling_median ~3x its plan-identical rolling_mean sibling (and
      // the HOF filter/array_sort replacement is CodegenFallback — no
      // faster). lag() is a bare row-buffer read in WindowExec; NULL
      // probes (missing values AND offsets past the partition head — the
      // rows collect_list skipped) drop in the gather, the min_samples
      // gate is the survivor count, and the ≤window doubles sort in the
      // projection (functions/RollingMedianExpr.scala; OrderedSpec pins
      // equality with the collect_list shape).
      val probes = (0 until window).map(i =>
        org.apache.spark.sql.GraftColumnBridge.expression(
          lag(v, i).over(key.w)))
      return df.withColumn(to, org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.RollingMedianK(probes, minS)))
    }
    val samples = count(v).over(frame)
    val stat: Column = statistic match {
      case "mean"   => avg(v).over(frame)
      case "stdev"  => stddev_samp(v).over(frame)
      case "pstdev" => stddev_pop(v).over(frame)
      case "max"    => max(v).over(frame)
      case "min"    => min(v).over(frame)
      case other =>
        throw new IllegalArgumentException(s"Unknown rolling statistic: $other")
    }
    df.withColumn(to, when(samples >= minS, stat))
  }

  /** Median of an already-sorted array, reference RollingMedian semantics:
    * odd → middle; even → lower + (upper - lower) / 2, except a
    * zero-straddling pair uses (lower + upper) / 2 — mirrors the reference's
    * exact branch; the two forms differ in floating point.
    */
  private def medianOf(sorted: Column): Column = {
    val n = size(sorted)
    val mid = (n / 2).cast("int") + 1 // element_at is 1-based
    val lower = element_at(sorted, mid - 1)
    val upper = element_at(sorted, mid)
    val even = when(lower < 0.0 && upper > 0.0, (lower + upper) / 2.0)
      .otherwise(lower + (upper - lower) / 2.0)
    when(n % 2 === 1, element_at(sorted, mid)).otherwise(even)
  }

  // ------------------------------------------------------------ forward_sum

  /** reference: transforms/stream/forward_sum.py — sum of exactly the next
    * `window` records (current excluded); NULL unless the window is complete
    * and every value present.
    */
  def forwardSum(df: DataFrame, key: StreamKey, field: String, window: Int,
                 to: String): DataFrame = {
    val frame = key.w.rowsBetween(1, window)
    val v = cleanNum(col(field))
    val complete = count(lit(1)).over(frame) === window &&
      count(v).over(frame) === window
    df.withColumn(to, when(complete, sum(v).over(frame)))
  }

  // ------------------------------------------------------------------- fill

  /** reference: transforms/stream/fill.py (StatisticalFillTransform) — impute
    * missing values with a statistic of the previous `window` positions
    * (missing positions occupy slots; current row excluded).
    */
  def fill(df: DataFrame, key: StreamKey, field: String, window: Int,
           statistic: String, to: String, minSamples: Int = 1): DataFrame = {
    val frame = key.w.rowsBetween(-window, -1)
    val v = cleanNum(col(field))
    val samples = count(v).over(frame)
    val stat = statistic match {
      case "mean"   => avg(v).over(frame)
      case "median" => medianOf(sort_array(collect_list(v).over(frame)))
      case other =>
        throw new IllegalArgumentException(s"Unknown fill statistic: $other")
    }
    val imputed = when(samples >= minSamples, stat)
    df.withColumn(to, when(v.isNull, imputed).otherwise(v))
  }

  /** reference: transforms/stream/fill.py (ForwardFillTransform) — carry the
    * last non-missing value within each partition.
    */
  def forwardFill(df: DataFrame, key: StreamKey, field: String,
                  to: String): DataFrame = {
    val frame = key.w.rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn(to, last(cleanNum(col(field)), ignoreNulls = true).over(frame))
  }

  // ----------------------------------------------------------------- derive

  /** reference: transforms/stream/derive.py — binary arithmetic, NULL if
    * either side missing.
    */
  def derive(df: DataFrame, left: String, operator: String, to: String,
             rightField: Option[String] = None,
             rightValue: Option[Double] = None): DataFrame = {
    val l = cleanNum(col(left))
    val r = rightField.map(f => cleanNum(col(f)))
      .getOrElse(lit(rightValue.getOrElse(
        throw new IllegalArgumentException("derive needs right_field or right_value"))))
    val out = operator match {
      case "add" => l + r
      case "sub" => l - r
      case "mul" => l * r
      case "div" => l / r // SQL NULL on /0 (reference raises; declarative plans surface it as NULL)
      case other => throw new IllegalArgumentException(s"Unknown operator: $other")
    }
    df.withColumn(to, out)
  }

  /** reference: transforms/stream/logarithm.py LogTransform */
  def logNatural(df: DataFrame, field: String, to: String): DataFrame =
    df.withColumn(to, log(cleanNum(col(field))))

  /** reference: transforms/stream/logarithm.py Log1pTransform — precision-
    * preserving log(1+x), not log(1 + value).
    */
  def log1pField(df: DataFrame, field: String, to: String): DataFrame =
    df.withColumn(to, log1p(cleanNum(col(field))))

  // ---------------------------------------------------------- dedupe/collapse

  /** reference: transforms/stream/dedupe.py — drop identical records. On a
    * canonically ordered stream, adjacent-identical dedupe equals exact
    * duplicate-row removal, which Spark does with a hash aggregate (no sort).
    */
  def dedupe(df: DataFrame): DataFrame = df.dropDuplicates()

  /** reference: transforms/stream/collapse.py — keep the first or last record
    * for each (partition, time). `keep` order is the deterministic tiebreak.
    */
  def collapse(df: DataFrame, key: StreamKey, keep: String): DataFrame = {
    // The reference keeps arrival order, which a distributed shuffle does not
    // preserve — a deterministic tiebreak is mandatory here. Fail fast with a
    // usable message instead of letting row_number() over an unordered window
    // fail analysis downstream.
    require(key.tiebreak.nonEmpty,
      "collapse requires a non-empty StreamKey.tiebreak: arrival order is not " +
        "defined on a distributed stream; pass the columns that make " +
        "(partition, time) groups deterministically ordered")
    val order = keep match {
      case "first" => key.tiebreak.map(col)
      case "last"  => key.tiebreak.map(col(_).desc)
      case other   => throw new IllegalArgumentException(s"Unknown keep: $other")
    }
    val w = Window
      .partitionBy((key.partitionBy :+ key.timeCol).map(col): _*)
      .orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  // ----------------------------------------------------------- ensure ticks

  /** reference: transforms/stream/ensure_ticks.py EnsureCadenceTransform —
    * insert NULL-payload placeholder rows at `previous.time + k*step` strictly
    * between consecutive records of a partition. The grid re-anchors at every
    * real record, exactly like the reference.
    */
  def ensureCadence(df: DataFrame, key: StreamKey, cadence: String): DataFrame = {
    val step = TimeFns.parseCadenceMillis(cadence) * 1000L // micros
    val t = col(key.timeCol)
    val nextT = lead(t, 1).over(key.w)
    val payloadCols =
      df.columns.filterNot(c => c == key.timeCol || key.partitionBy.contains(c))
    // ticks in (time, next_time) anchored at time: time+step, time+2*step, ...
    val gaps = df
      .withColumn("__next", nextT)
      .where(col("__next").isNotNull &&
        unix_micros(col("__next")) - unix_micros(t) > step)
      .select(
        key.partitionBy.map(col) :+
          explode(sequence(
            unix_micros(t) + step,
            unix_micros(col("__next")) - 1,
            lit(step))).as("__tick_us"): _*)
    val placeholders = gaps.select(
      (key.partitionBy.map(col) :+
        timestamp_micros(col("__tick_us")).as(key.timeCol)) ++
        payloadCols.map(c => lit(null).cast(df.schema(c).dataType).as(c)): _*)
    df.unionByName(placeholders.select(df.columns.map(col): _*))
  }

  /** [[ensureTicks]] for the CADENCE-ALIGNED grid (the common reindex: every
    * partition present, ticks at lo, lo+step, …, hi) — same rows, an order
    * of magnitude cheaper at scale. The generic shape materializes the full
    * users × ticks grid and anti-joins it against a distinct over the whole
    * fact (at the 1000× decade: a 720M-row grid against 100M distinct
    * pairs — 75 s where sibling ensure_cadence pays 13). Here the grid is
    * never built: one window pass over the fact (the ensure_cadence
    * profile — lag for the gap behind each record, lead-is-null for the
    * tail) emits exactly the missing ticks per gap, since aligned ticks
    * strictly inside (prev, curr) can never collide with a record time.
    * `bounds` is a ONE-ROW frame (`lo`, `hi`: epoch-µs, step-aligned) that
    * broadcasts onto the fact; cost is one shuffle+sort plus output-sized
    * explode — sort-dominated, so the posture runs it at core count.
    */
  def ensureTicksAligned(df: DataFrame, key: StreamKey, cadence: String,
                         bounds: DataFrame): DataFrame = {
    val step = TimeFns.parseCadenceMillis(cadence) * 1000L // micros
    val payloadCols =
      df.columns.filterNot(c => c == key.timeCol || key.partitionBy.contains(c))
    def alignUp(us: Column): Column = us - pmod(us, lit(step)) + step
    def ticks(start: Column, end: Column): Column =
      when(start <= end, sequence(start, end, lit(step)))
        .otherwise(array().cast("array<long>"))
    val t = unix_micros(col(key.timeCol))
    val gaps = df
      .crossJoin(broadcast(bounds)) // one row: the global grid bounds
      .withColumn("__t", t)
      .withColumn("__prev", lag(col("__t"), 1).over(key.w))
      .withColumn("__last", lead(col("__t"), 1).over(key.w).isNull)
      .select(
        key.partitionBy.map(col) :+
          explode(concat(
            // the gap BEHIND this record: [lo, first) for the partition
            // head, (prev, curr) elsewhere — strictly-inside aligned ticks
            // cannot equal any record time of the sorted partition
            ticks(when(col("__prev").isNull, col("lo"))
              .otherwise(alignUp(col("__prev"))), col("__t") - 1),
            // the tail AFTER the partition's last record: (last, hi]
            when(col("__last"), ticks(alignUp(col("__t")), col("hi")))
              .otherwise(array().cast("array<long>")))).as("__tick_us"): _*)
    val placeholders = gaps.select(
      (key.partitionBy.map(col) :+
        timestamp_micros(col("__tick_us")).as(key.timeCol)) ++
        payloadCols.map(c => lit(null).cast(df.schema(c).dataType).as(c)): _*)
    df.unionByName(placeholders.select(df.columns.map(col): _*))
  }

  /** reference: transforms/stream/ensure_ticks.py EnsureTicksTransform —
    * reindex each partition present in the stream against a tick grid.
    * `grid` has the partition columns plus `timeCol`; placeholder rows carry
    * NULL payloads; grid ticks equal to an existing record time are skipped.
    * Generic-grid shape (arbitrary tick sets); the aligned-cadence reindex
    * should use [[ensureTicksAligned]], which never materializes the grid.
    */
  def ensureTicks(df: DataFrame, key: StreamKey, grid: DataFrame): DataFrame = {
    val payloadCols =
      df.columns.filterNot(c => c == key.timeCol || key.partitionBy.contains(c))
    val joinCols = key.partitionBy :+ key.timeCol
    val present = df.select(key.partitionBy.map(col): _*).distinct()
    val missingTicks = grid
      .join(present, key.partitionBy, "leftsemi")
      .join(df.select(joinCols.map(col): _*).distinct(), joinCols, "leftanti")
    val placeholders = missingTicks.select(
      joinCols.map(col) ++
        payloadCols.map(c => lit(null).cast(df.schema(c).dataType).as(c)): _*)
    df.unionByName(placeholders.select(df.columns.map(col): _*))
  }

  // -------------------------------------------------------- rolling_slope

  /** reference: transforms/rolling_slope.py + transforms/stream/rolling_slope.py
    * — least-squares slope of y on x over a strict rolling window; a missing
    * (x, y) pair CLEARS the window. Re-expressed without state: segment each
    * partition into runs of consecutive valid pairs (run id = running count of
    * invalid rows), then slope over the last `window` rows of the run once the
    * run holds `window` valid pairs.
    */
  def rollingSlope(df: DataFrame, key: StreamKey, x: String, y: String,
                   window: Int, to: String): DataFrame = {
    require(window >= 2, "rolling_slope window must be at least 2")
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
    // Count valid (x, y) PAIRS toward the window — a run's single boundary
    // row (the invalid pair that cleared the window) must not count.
    val validPair = col("__xv").isNotNull && col("__yv").isNotNull
    val validPos = count(when(validPair, lit(1))).over(
      runW.rowsBetween(Window.unboundedPreceding, 0))
    val slope = regr_slope(col("__yv"), col("__xv"))
      .over(runW.rowsBetween(-(window - 1), 0))
    withRun
      .withColumn(to, when(validPair && validPos >= window, slope))
      .drop("__xv", "__yv", "__run")
  }

  // ------------------------------------------------------------ sessionize

  /** Gap-based sessionization: a new session starts when the time since the
    * previous record in the partition exceeds `gap`. Emits the input plus a
    * per-partition `session_id` (0-based). One window pass — same shuffle
    * profile as every other ordered transform on the key.
    */
  def sessionize(df: DataFrame, key: StreamKey, gap: String,
                 to: String = "session_id"): DataFrame = {
    val gapUs = TimeFns.parseCadenceMillis(gap) * 1000L
    val t = unix_micros(col(key.timeCol))
    val prev = lag(t, 1).over(key.w)
    val newSession = when(prev.isNull || (t - prev) > gapUs, 1).otherwise(0)
    df.withColumn(to,
      sum(newSession).over(key.w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
  }

  // --------------------------------------------------------- order validate

  /** reference: pipelines/stream/order.py validate_record_order — a stream
    * declared `presorted` must be non-decreasing in (partition, time) along
    * its arrival order. `posCol` is the explicit arrival-position column
    * (distributed data has no implicit file order). Returns per-partition
    * violation stats; `strict = true` fails the job on the first violation,
    * mirroring the reference's raise.
    */
  def validateOrder(df: DataFrame, key: StreamKey, posCol: String,
                    strict: Boolean = false): DataFrame = {
    val byArrival = Window.partitionBy(key.partitionBy.map(col): _*)
      .orderBy(col(posCol))
    val prev = lag(col(key.timeCol), 1).over(byArrival)
    val violation = prev.isNotNull && col(key.timeCol) < prev
    val flagged = df.withColumn("__viol",
      if (strict)
        when(violation, raise_error(concat(
          lit(s"record order violation at $posCol="), col(posCol).cast("string"),
          lit(": time "), col(key.timeCol).cast("string"),
          lit(" follows "), prev.cast("string")))).otherwise(violation)
      else violation)
    flagged.groupBy(key.partitionBy.map(col): _*)
      .agg(count(lit(1)).as("n_records"),
        sum(when(col("__viol"), 1L).otherwise(0L)).as("n_violations"))
  }

  // ------------------------------------------------------------------ where

  /** reference: transforms/where.py — one explicit comparison per entry. */
  def where(df: DataFrame, field: String, operator: String,
            comparand: Any): DataFrame = {
    val c = col(field)
    val pred = (operator, comparand) match {
      case ("in", xs: Seq[_])     => c.isin(xs: _*)
      case ("not_in", xs: Seq[_]) => !c.isin(xs: _*)
      case ("eq", v)              => c === lit(v)
      case ("ne", v)              => c =!= lit(v)
      case ("lt", v)              => c < lit(v)
      case ("le", v)              => c <= lit(v)
      case ("gt", v)              => c > lit(v)
      case ("ge", v)              => c >= lit(v)
      case (other, _) =>
        throw new IllegalArgumentException(s"Unknown where operator: $other")
    }
    df.where(pred)
  }
}
