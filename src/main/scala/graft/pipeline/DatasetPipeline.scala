package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.Assembly

/** The reference's headline user journey as ONE composed Spark plan:
  * assemble samples → postprocess (coverage column-select + conform +
  * row-filter) → split → per-fold scaler fitted on the TRAIN label only →
  * scaled fold outputs.
  *
  * Capability reference: /root/reference/src/datapipeline/pipelines/dataset/
  * pipeline.py:48 (build_dataset_pipeline / run_fold_outputs_pipeline) and
  * pipelines/dataset/postprocess.py (build_postprocess_plan stage order:
  * select columns → conform → drop rows).
  *
  * Scale posture: the only driver-side materialization is the coverage stats
  * frame (≤ #candidate-features rows — column METADATA, the Spark twin of the
  * reference's metadata.json artifact) and the scaler stats (one row). Data
  * rows flow through exactly two shuffles: the assembly groupBy and nothing
  * else — split, conform, filter and scaling are narrow; the fitted stats
  * broadcast. The reference streams the corpus once per fold output
  * (_prepare_fold_outputs re-labels per batch); here every fold shares one
  * labeled plan.
  */
object DatasetPipeline {

  /** Declarative pipeline config (reference: the config/dataset runtime).
    *  - `features`: named assembly aggregates (reference sample input).
    *  - `candidateFeatures`: vector-metadata candidates in contract order;
    *    coverage-based selection retains those ≥ columnThreshold.
    *  - `rowThreshold`: min fraction of present retained features per sample.
    *  - `splitToken` + `ratios` + `seed`: HashLabeler split; ratios.head is
    *    the train label the scaler fits on.
    *  - `scaledFeatures`: SeriesConfig.scale equivalents — z-scaled in place
    *    with train-fold statistics.
    */
  final case class Config(
      timeCol: String,
      cadence: String,
      sampleKeys: Seq[String],
      features: Seq[(String, Column)],
      candidateFeatures: Seq[String],
      columnThreshold: Double,
      rowThreshold: Double,
      splitToken: Column,
      ratios: Seq[(String, Double)],
      seed: Int,
      scaledFeatures: Seq[String],
      epsilon: Double = 1e-12)

  /** `dataset` carries a `fold` label column; `retained` is the surviving
    * feature contract (reference PostprocessPlan.feature_entries).
    */
  final case class Result(dataset: DataFrame, retained: Seq[String])

  /** Exact decimal sum of a double column returned as double — deterministic
    * across engines regardless of partial-aggregation order.
    */
  private def sumDec(c: Column, scale: Int): Column =
    sum(c.cast(s"decimal(30,$scale)")).cast("double")

  def run(df: DataFrame, cfg: Config): Result = {
    // localCheckpoint: the assembly (the pipeline's only wide shuffle over
    // data rows) feeds the eager coverage collect below, the train-fold
    // scaler fit, AND the returned plan — unmaterialized it recomputes once
    // per consumer. Lazy checkpoint: the coverage action materializes it,
    // everything downstream reads blocks. (RDD-scoped, so the
    // ContextCleaner frees the blocks with the plan — see Dedup.)
    val assembled = Assembly.sampleAssembly(
      df, cfg.timeCol, cfg.cadence, cfg.sampleKeys, cfg.features)
      .localCheckpoint(eager = false)

    // --- select columns by coverage (reference SelectFeaturesTransform).
    // The collect touches ≤ |candidates| rows of aggregated metadata, never
    // sample data — same role as the reference's build/metadata.json.
    val present = assembled.columns.toSet
    val known = cfg.candidateFeatures.filter(present.contains)
    val covered = Assembly.coverageStats(assembled, known)
      .filter(col("coverage") >= cfg.columnThreshold)
      .select(col("column")).collect().map(_.getString(0)).toSet
    val retained = cfg.candidateFeatures.filter(covered.contains)
    require(retained.nonEmpty, "Feature selection removed every metadata entry.")

    // --- conform to the retained contract, then drop low-coverage rows
    // (reference stage order: select → conform → drop).
    val keys = cfg.sampleKeys :+ "sample_time"
    val conformed = Assembly.conform(assembled, keys,
      retained.map(Assembly.VectorEntry(_)))
    val filtered = Assembly.filterRowsByCoverage(conformed, retained,
      cfg.rowThreshold)

    // --- split (reference HashLabeler over sample.key)
    val labeled = Assembly.hashSplitLabel(filtered, cfg.splitToken, cfg.ratios,
      cfg.seed, "fold")

    // --- per-fold scaler: fit on the TRAIN label only (reference
    // FoldedScalerArtifact.for_fold → SampleScaler), apply in place to every
    // fold's rows. std is rounded to 6dp at fit time so the per-row
    // (x - mean) / std arithmetic is bit-reproducible across engines.
    val scaled = cfg.scaledFeatures.filter(retained.contains)
    if (scaled.isEmpty) return Result(labeled, retained)
    val trainLabel = cfg.ratios.head._1
    val train = labeled.filter(col("fold") === lit(trainLabel))
    val statAggs = scaled.flatMap { f =>
      Seq(
        (sumDec(col(f), 6) / count(col(f))).as(s"${f}__mean"),
        round(greatest(coalesce(stddev_pop(col(f)), lit(0.0)),
          lit(cfg.epsilon)), 6).as(s"${f}__std"))
    }
    val stats = train.agg(statAggs.head, statAggs.tail: _*)
    val joined = labeled.crossJoin(broadcast(stats))
    val out = scaled.foldLeft(joined) { (d, f) =>
      d.withColumn(f, (col(f) - col(s"${f}__mean")) / col(s"${f}__std"))
    }
    Result(out.drop(scaled.flatMap(f => Seq(s"${f}__mean", s"${f}__std")): _*),
      retained)
  }
}
