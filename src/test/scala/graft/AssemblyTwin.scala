package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.TimeFns
import graft.operators.{Assembly, StreamKey}
import graft.pipeline.{Config, ConfigRuntime, Series}

/** The pivot + join twin of the one-pass sample assembly
  * (`ConfigRuntime.assembleSamples`), kept for the specs to pin it against.
  *
  * Every scalar vector becomes long `(series_id, time, value, keys…)` rows
  * (one explode per stream), bucketed and pivoted wide: a static pivot on
  * the vector ids when every stream is suffix-free, Spark's dynamic pivot
  * otherwise. Each sequence vector re-runs its stream's ordered window on
  * its own (`OrderedTwin.sequenceWindow`, a Spark window) and aggregates per bucket. The
  * frames meet by a full outer join on `(sample_time, keys)`.
  */
object AssemblyTwin {

  def assemble(res: ConfigRuntime.Resolver, ds: Config.DatasetDef): DataFrame = {
    val vectors = ds.features ++ ds.targets
    val (seqVectors, scalarVectors) = vectors.partition(_.sequence.isDefined)
    def checkSampleKeys(streamId: String): Seq[String] = {
      val pb = res.partitionBy(streamId)
      val missing = ds.sampleKeys.filterNot(pb.contains)
      require(missing.isEmpty,
        s"config: sample key(s) ${missing.mkString(", ")} not in " +
          s"partition_by of stream '$streamId'")
      pb
    }
    val projections = scalarVectors.groupBy(_.stream).toSeq.sortBy(_._1).map {
      case (streamId, vs) =>
        Series.project(res.stream(streamId), checkSampleKeys(streamId),
          ds.sampleKeys, "time", vs.map(v => Series.SeriesConfig(v.id, v.field)))
          .toDF(("__series_id" +: "time" +: "__series_value" +: ds.sampleKeys): _*)
    }
    val suffixFree = scalarVectors.map(_.stream).distinct
      .forall(s => res.partitionBy(s).forall(ds.sampleKeys.contains))
    val scalarAssembled =
      if (scalarVectors.isEmpty) None
      else {
        val grouped = projections.reduce(_ unionByName _)
          .withColumn("sample_time", TimeFns.floorTime(col("time"), ds.cadence))
          .groupBy((col("sample_time") +: ds.sampleKeys.map(col)): _*)
        Some(
          (if (suffixFree)
             grouped.pivot(col("__series_id"), scalarVectors.map(_.id))
           else grouped.pivot(col("__series_id")))
            .agg(max(col("__series_value"))))
      }
    val seqFrames = seqVectors.map { v =>
      val pb = checkSampleKeys(v.stream)
      require(pb.forall(ds.sampleKeys.contains),
        s"config: sequence vector '${v.id}': stream '${v.stream}' must be " +
          "partitioned by the sample keys only")
      val sq = v.sequence.get
      val key = StreamKey(pb, "time", res.tiebreak(v.stream))
      OrderedTwin.sequenceWindow(res.stream(v.stream), key, v.field,
        sq.size, sq.stride, "__seq")
        .where(col("__seq").isNotNull)
        .withColumn("sample_time", TimeFns.floorTime(col("time"), ds.cadence))
        .groupBy((col("sample_time") +: ds.sampleKeys.map(col)): _*)
        .agg(max(col("__seq")).as(v.id))
    }
    val joinKeys = "sample_time" +: ds.sampleKeys
    (scalarAssembled.toSeq ++ seqFrames)
      .reduceLeft((a, b) => a.join(b, joinKeys, "full"))
  }
}
