package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TimeFns

/** Dataset assembly / serving (SURVEY.md §2.5).
  *
  * Capability reference: /root/reference/src/datapipeline/pipelines/sample/,
  * pipelines/dataset/split.py, artifacts/scaler.py,
  * transforms/vector/scaler.py, analysis/vector/coverage_stats.py.
  */
object Assembly {

  /** Group records into samples keyed by (cadence-floored time, sample keys)
    * and project named aggregate features — the wide-vector assembly of
    * reference pipelines/sample. Aggregations happen map-side-partial then
    * shuffle on the sample key, the scalable shape of the reference's
    * driver-side bucket dict.
    */
  def sampleAssembly(df: DataFrame, timeCol: String, cadence: String,
                     sampleKeys: Seq[String],
                     features: Seq[(String, Column)]): DataFrame = {
    val bucket = TimeFns.floorTime(col(timeCol), cadence).as("sample_time")
    df.groupBy(bucket +: sampleKeys.map(col): _*)
      .agg(features.head._2.as(features.head._1),
        features.tail.map { case (n, c) => c.as(n) }: _*)
  }

  /** Sliding windows as array payloads — reference `sequence` series policy
    * (config/dataset/series.py): windows of `size` per partition, emitted
    * every `stride` records once full.
    */
  def sequenceWindows(df: DataFrame, key: StreamKey, field: String,
                      windowSize: Int, stride: Int, to: String): DataFrame =
    sequenceWindow(df, key, field, windowSize, stride, to)
      .where(col(to).isNotNull)

  /** `df` plus column `to`: the list of the last `windowSize` values of
    * `field` in `key`'s order on every row that emits a window (row number
    * ≥ size, on the stride), NULL on every other row. A NULL value keeps its
    * position in the list. One [[OrderedScan]] step, so it rides the
    * stream's own ordered pass.
    */
  def sequenceWindow(df: DataFrame, key: StreamKey, field: String,
                     windowSize: Int, stride: Int, to: String): DataFrame = {
    require(windowSize >= 1 && stride >= 1,
      s"sequence of '$field': size and stride must be >= 1")
    OrderedScan.withStep(df, key, Some(to))(c => SequenceStep(c(field), windowSize, stride))
  }

  /** Per-column scalar coverage counts — reference CoverageStatsAccumulator:
    * coverage = non_null / total. One pass, partial-aggregated.
    */
  def coverageStats(df: DataFrame, columns: Seq[String]): DataFrame = {
    val aggs = columns.flatMap { c =>
      Seq(count(lit(1)).as(s"${c}__present"), count(col(c)).as(s"${c}__non_null"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    val perCol = columns.map { c =>
      struct(lit(c).as("column"), col(s"${c}__present").as("present"),
        col(s"${c}__non_null").as("non_null"))
    }
    wide.select(explode(array(perCol: _*)).as("s"))
      .select(col("s.column"), col("s.present"), col("s.non_null"),
        (col("s.non_null").cast("double") / col("s.present")).as("coverage"))
  }

  /** Keep sample rows whose fraction of present cells among `columns` meets
    * `threshold` — reference DropSamplesTransform (vector/drop/horizontal.py).
    */
  def filterRowsByCoverage(df: DataFrame, columns: Seq[String],
                           threshold: Double): DataFrame = {
    val present = columns.map(c => when(col(c).isNotNull, 1).otherwise(0))
      .reduce(_ + _)
    df.where(present >= lit(threshold * columns.size))
  }

  /** Vector metadata contract entry — reference VectorMetadataEntry
    * (artifacts/models.py): scalar, or fixed-length sequence.
    */
  final case class VectorEntry(id: String, kind: String = "scalar", length: Int = 0)

  /** Conform assembled samples to a metadata contract — reference
    * _VectorConformer (transforms/vector/conform.py): expected columns in
    * contract order; a column absent from the frame becomes NULL (scalar) /
    * NULL-array (sequence); a sequence with the wrong length fails the job
    * (declaratively: raise_error), extra columns are dropped.
    */
  def conform(df: DataFrame, keys: Seq[String],
              entries: Seq[VectorEntry]): DataFrame = {
    val present = df.columns.toSet
    val cols = entries.map { e =>
      if (!present.contains(e.id)) {
        if (e.kind == "scalar") lit(null).cast("double").as(e.id)
        else lit(null).cast("array<double>").as(e.id)
      } else if (e.kind == "scalar") col(e.id).as(e.id)
      else when(col(e.id).isNull, col(e.id))
        .when(size(col(e.id)) === e.length, col(e.id))
        .otherwise(raise_error(concat(
          lit(s"Vector id '${e.id}' requires ${e.length} values; got "),
          size(col(e.id)).cast("string")))).as(e.id)
    }
    df.select(keys.map(col) ++ cols: _*)
  }

  /** Deterministic hash split — reference HashLabeler
    * (pipelines/dataset/split.py:27): r = (first 8 bytes of
    * sha256(seed|token) mod 2^53) / 2^53, bucketed by cumulative ratios.
    * Bit-identical to the reference for the same token string.
    *
    * `df` plus column `to`: CASE WHEN r < t1 THEN l1 … ELSE last END, the
    * first bucket whose cumulative ratio exceeds r; a NULL token (NULL r)
    * and an r past the last threshold take the last label. r is its own
    * projection below the CASE, so each token is hashed once however many
    * labels there are (the optimizer keeps an expensive expression that is
    * read more than once in its own projection).
    */
  def hashSplitLabel(df: DataFrame, token: Column, ratios: Seq[(String, Double)],
                     seed: Int, to: String): DataFrame = {
    val cumulative = ratios.scanLeft(0.0)(_ + _._2).tail
    val last = lit(ratios.last._1)
    ratios.map(_._1).zip(cumulative).init match {
      case Seq() => df.withColumn(to, last)
      case (l0, t0) +: rest =>
        val r = col("__split_r")
        df.withColumn("__split_r", hashSplitDraw(token, seed))
          .withColumn(to, rest.foldLeft(when(r < t0, l0)) {
            case (acc, (label, thresh)) => acc.when(r < thresh, label)
          }.otherwise(last))
          .drop("__split_r")
    }
  }

  /** The hash split's draw r in [0, 1) for `token`. */
  def hashSplitDraw(token: Column, seed: Int): Column = {
    val hex = sha2(concat(lit(seed.toString), lit("|"), token.cast("string")), 256)
    // low 53 bits of the big-endian first 8 bytes = hex chars 3..16 masked
    val low56 = conv(substring(hex, 3, 14), 16, 10).cast("long")
    low56.bitwiseAND(lit((1L << 53) - 1)).cast("double") / lit((1L << 53).toDouble)
  }

  /** Time split — reference TimeLabeler: label_i for boundaries b with
    * b_{i-1} <= t < b_i (equality goes to the next interval, bisect_right).
    */
  def timeSplitLabel(ts: Column, intervals: Seq[(String, Option[String])]): Column = {
    val bounded = intervals.collect { case (id, Some(until)) => (id, until) }
    val fallback = intervals.last._1
    bounded.foldRight(lit(fallback)) { case ((id, until), acc) =>
      when(ts < to_timestamp(lit(until)), id).otherwise(acc)
    }
  }

  /** Standard scaler statistics fitted on the training rows — reference
    * ScalerAccumulator (transforms/vector/scaler.py): population variance,
    * std = max(pstdev, epsilon). Returns (mean, std) one-row frame.
    */
  def fitStandardScaler(train: DataFrame, field: String,
                        epsilon: Double = 1e-12): DataFrame =
    train.agg(
      avg(col(field)).as("mean"),
      greatest(coalesce(stddev_pop(col(field)), lit(0.0)), lit(epsilon)).as("std"))

  /** Apply a fitted scaler: (x - mean) / std, honoring with_mean/with_std. */
  def applyStandardScaler(df: DataFrame, stats: DataFrame, field: String,
                          to: String, withMean: Boolean = true,
                          withStd: Boolean = true): DataFrame = {
    val joined = df.crossJoin(broadcast(stats))
    val centered = if (withMean) col(field) - col("mean") else col(field)
    val scaled = if (withStd) centered / col("std") else centered
    joined.withColumn(to, scaled).drop("mean", "std")
  }

  /** One configured vector entry of the availability matrix: `kind` is
    * "feature" or "target"; `seqLen` marks a fixed-length sequence vector.
    */
  /** A DESIGNED refusal from a cell-budgeted driver-side inspection task,
    * distinct from a genuine failure: beyond the budget, refusing quickly
    * IS the product behavior (the reference's max_cells contract), so
    * graft.Bench records the time-to-refusal as the head's row instead of
    * listing it failed (r15 verdict ask #5). Extends
    * IllegalArgumentException so callers treating it as a config error —
    * and existing intercept[IllegalArgumentException] specs — keep working.
    */
  final class CellBudgetExceeded(msg: String) extends IllegalArgumentException(msg)

  final case class MatrixEntry(kind: String, id: String, seqLen: Option[Int] = None)

  /** Availability matrix (reference analysis/vector/matrix.py MatrixBuilder):
    * one row per (sample group × configured vector entry) with status
    * `absent` (column not assembled at all), `null` (missing value), or
    * `present`; sequence vectors also carry per-element statuses and are
    * `present` iff any element is. The reference builds this row-by-row on
    * the driver with a max_cells guard; here it is a distributed unpivot
    * (explode over per-entry status structs) — the guard stays (one
    * metadata-scale count action), the data never leaves the executors.
    * Missing = NULL or NaN (reference is_missing), numeric vectors.
    */
  def availabilityMatrix(df: DataFrame, groupCols: Seq[String],
                         entries: Seq[MatrixEntry],
                         maxCells: Long = 1000000L): DataFrame = {
    val width = entries.map(_.seqLen.getOrElse(1)).sum
    require(width > 0, "availability matrix needs at least one vector entry")
    val rows = df.count()
    if (rows * width > maxCells)
      throw new Assembly.CellBudgetExceeded(
        s"Availability matrix exceeds max_cells=$maxCells " +
          s"($rows samples x $width cells). Increase maxCells or inspect a " +
          "smaller dataset window.")
    val have = df.columns.toSet
    def missing(c: Column): Column = c.isNull || isnan(c.cast("double"))
    val group = concat_ws(", ", groupCols.map(c => col(c).cast("string")): _*)
    val cells = entries.map { e =>
      val (status, elements) =
        if (!have.contains(e.id))
          (lit("absent"), array().cast("array<string>"))
        else e.seqLen match {
          case None =>
            (when(missing(col(e.id)), "null").otherwise("present"),
              array().cast("array<string>"))
          case Some(n) =>
            val lenOk = when(size(col(e.id)) =!= n, raise_error(concat(
              lit(s"List vector '${e.id}' has length "), size(col(e.id)).cast("string"),
              lit(s"; expected $n.")))).otherwise(col(e.id))
            val els = when(col(e.id).isNull, array_repeat(lit("null"), n))
              .otherwise(transform(lenOk,
                x => when(missing(x), "null").otherwise("present")))
            (when(array_contains(els, "present"), "present").otherwise("null"), els)
        }
      struct(lit(e.kind).as("vector"), lit(e.id).as("identifier"),
        status.as("status"), elements.as("elements"))
    }
    df.select(group.as("grp"), explode(array(cells: _*)).as("c"))
      .select(col("c.vector").as("vector"), col("c.identifier").as("identifier"),
        col("grp").as("grp"), col("c.status").as("status"),
        col("c.elements").as("elements"))
  }
}
