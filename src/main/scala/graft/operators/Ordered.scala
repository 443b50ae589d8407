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
  * Capability reference: the reference's docs/transforms/stream.md and
  * src/datapipeline/transforms/stream/ (all ops). The
  * reference makes one Python pass per op over each partition's history;
  * here every ordered op on one key is a step of ONE [[OrderedScan]]: one
  * exchange on the partition key, one sort on (partition, time, tiebreak),
  * and one pass that runs all the steps (collapse and rolling_slope
  * included). `w` is the same order as a Spark window, for the ops that
  * stay Window plans (ensure_cadence, ensure_ticks, validate_order).
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
  * Each ordered transform (lag, lead, rolling, forward_sum, fill,
  * forward_fill, collapse, rolling_slope, sessionize) is a one-step
  * [[OrderedScan]]; consecutive ones on the same key fuse into one scan
  * ([[FuseOrderedScans]]). Building the plan runs no Spark job.
  *
  * Missing-value contract (reference transforms/utils.py is_missing): both
  * NULL and NaN are "missing". Every numeric op reads NaN as NULL
  * ([[Ordered.cleanNum]] for the record-wise ops), matching the reference.
  */
object Ordered {

  /** Normalize a numeric column: NaN → NULL (missing). */
  def cleanNum(c: Column): Column =
    when(c.isNull || isnan(c), lit(null)).otherwise(c).cast("double")

  /** The first out-of-range parameter of an ordered transform on `field`:
    * `periods` ≥ 1 (a lag of -1 would serve the next tick: a leak of the
    * future), `window` ≥ 1, and `min_samples` within 1..window (outside it
    * every value is NULL).
    */
  def rangeError(op: String, field: String, periods: Option[Int] = None,
                 window: Option[Int] = None,
                 minSamples: Option[Int] = None): Option[String] = {
    def bad(what: String) = Some(s"$op of '$field': $what")
    (periods, window, minSamples) match {
      case (Some(p), _, _) if p < 1 => bad(s"periods must be >= 1, got $p")
      case (_, Some(w), _) if w < 1 => bad(s"window must be >= 1, got $w")
      case (_, Some(w), Some(m)) if m < 1 || m > w =>
        bad(s"min_samples must lie in 1..$w, got $m")
      case _ => None
    }
  }

  private def checkRange(op: String, field: String, periods: Option[Int] = None,
                         window: Option[Int] = None, minSamples: Option[Int] = None): Unit =
    rangeError(op, field, periods, window, minSamples)
      .foreach(m => throw new IllegalArgumentException(m))

  // ---------------------------------------------------------------- lag/lead

  /** reference: transforms/stream/lag.py (LagTransform) */
  def lagPeriods(df: DataFrame, key: StreamKey, field: String, periods: Int,
                 to: String): DataFrame = {
    checkRange("lag", field, periods = Some(periods))
    OrderedScan.withStep(df, key, Some(to))(c => ShiftStep(c(field), -periods))
  }

  /** reference: transforms/stream/lead.py (LeadTransform) */
  def leadPeriods(df: DataFrame, key: StreamKey, field: String, periods: Int,
                  to: String): DataFrame = {
    checkRange("lead", field, periods = Some(periods))
    OrderedScan.withStep(df, key, Some(to))(c => ShiftStep(c(field), periods))
  }

  // ---------------------------------------------------------------- rolling

  /** reference: transforms/stream/rolling.py (RollingTransform) +
    * transforms/rolling_window.py. Missing ticks occupy a window position
    * but only non-missing values count toward `minSamples` (default =
    * window). Statistics: mean, stdev, pstdev, max, min, median (the
    * reference's even-window branch).
    */
  def rolling(df: DataFrame, key: StreamKey, field: String, window: Int,
              statistic: String, to: String,
              minSamples: Option[Int] = None): DataFrame = {
    checkRange("rolling", field, window = Some(window), minSamples = minSamples)
    if (!Set("mean", "stdev", "pstdev", "max", "min", "median")(statistic))
      throw new IllegalArgumentException(s"Unknown rolling statistic: $statistic")
    OrderedScan.withStep(df, key, Some(to))(c =>
      RollingStep(c(field), window, statistic, minSamples.getOrElse(window)))
  }

  // ------------------------------------------------------------ forward_sum

  /** reference: transforms/stream/forward_sum.py — sum of exactly the next
    * `window` records (current excluded); NULL unless the window is complete
    * and every value present.
    */
  def forwardSum(df: DataFrame, key: StreamKey, field: String, window: Int,
                 to: String): DataFrame = {
    checkRange("forward_sum", field, window = Some(window))
    OrderedScan.withStep(df, key, Some(to))(c => ForwardSumStep(c(field), window))
  }

  // ------------------------------------------------------------------- fill

  /** reference: transforms/stream/fill.py (StatisticalFillTransform) — impute
    * missing values with a statistic (mean or median) of the previous
    * `window` positions (missing positions occupy slots; current row
    * excluded).
    */
  def fill(df: DataFrame, key: StreamKey, field: String, window: Int,
           statistic: String, to: String, minSamples: Int = 1): DataFrame = {
    checkRange("fill", field, window = Some(window), minSamples = Some(minSamples))
    if (statistic != "mean" && statistic != "median")
      throw new IllegalArgumentException(s"Unknown fill statistic: $statistic")
    OrderedScan.withStep(df, key, Some(to))(c =>
      FillStep(c(field), window, statistic, minSamples))
  }

  /** reference: transforms/stream/fill.py (ForwardFillTransform) — carry the
    * last non-missing value within each partition.
    */
  def forwardFill(df: DataFrame, key: StreamKey, field: String,
                  to: String): DataFrame =
    OrderedScan.withStep(df, key, Some(to))(c => ForwardFillStep(c(field)))

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
    * for each (partition, time). `keep` order is the deterministic tiebreak:
    * the first or last row of the (partition, time) run in the scan's
    * (partition, time, tiebreak) order.
    */
  def collapse(df: DataFrame, key: StreamKey, keep: String): DataFrame = {
    // The reference keeps arrival order, which a distributed shuffle does not
    // preserve — a deterministic tiebreak is mandatory here.
    require(key.tiebreak.nonEmpty,
      "collapse requires a non-empty StreamKey.tiebreak: arrival order is not " +
        "defined on a distributed stream; pass the columns that make " +
        "(partition, time) groups deterministically ordered")
    val keepLast = keep match {
      case "first" => false
      case "last"  => true
      case other   => throw new IllegalArgumentException(s"Unknown keep: $other")
    }
    OrderedScan.withStep(df, key, None)(_ => CollapseStep(keepLast))
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
    * (x, y) pair CLEARS the window, so a slope needs `window` consecutive
    * valid pairs.
    */
  def rollingSlope(df: DataFrame, key: StreamKey, x: String, y: String,
                   window: Int, to: String): DataFrame = {
    require(window >= 2, "rolling_slope window must be at least 2")
    OrderedScan.withStep(df, key, Some(to))(c => SlopeStep(c(x), c(y), window))
  }

  // ------------------------------------------------------------ sessionize

  /** Gap-based sessionization: a new session starts when the time since the
    * previous record in the partition exceeds `gap`. Emits the input plus a
    * per-partition `session_id` (0-based), as one scan step.
    */
  def sessionize(df: DataFrame, key: StreamKey, gap: String,
                 to: String = "session_id"): DataFrame = {
    val gapUs = TimeFns.parseCadenceMillis(gap) * 1000L
    OrderedScan.withStep(df, key, Some(to))(c => SessionStep(c(key.timeCol), gapUs))
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
