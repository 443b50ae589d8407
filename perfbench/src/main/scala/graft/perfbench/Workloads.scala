package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.Trigger

import graft.Cli
import graft.operators.{Compaction, IncrementalDedup}
import graft.pipeline.{Config, ConfigRuntime}
import graft.perfbench.Main.{Ctx, Journey, Workload, drain}

/** series_dataset: `Cli.materialize` of a time-series project over many
  * independent series — preprocess, ordered transforms, a sequence window,
  * a forward-sum target, coverage postprocess, a folded hash split with the
  * per-fold scaler, and the parquet sink.
  *
  * Its traced run also drives the incremental loop ([[IncrementalLoop]]):
  * small deltas applied one after another through the streaming corpus
  * journey, the dedup index, compaction and an `--if-changed` refresh of a
  * series project. It runs here rather than in the corpus workload's
  * traced run, which is the longer of the two without it.
  */
final class SeriesDataset(ctx: Ctx) extends Workload {
  import ctx._
  private val data = work.resolve("data")
  private val serve = work.resolve("serve")
  private val yaml = work.resolve("series.yaml")
  private def project = Config.parseProject(Files.readString(yaml))
  private val incremental = new IncrementalLoop(ctx)
  private var looped = false

  /** Stage the input and warm up with one untimed journey, so the JIT and
    * Spark's code cache are warm before the first timed journey.
    */
  def setup(): Unit = {
    Io.copy(inputs.resolve("series.parquet"), data.resolve("series.parquet"))
    Files.writeString(yaml, SeriesDataset.Yaml)
    journey(-1, traced = false)
  }

  def journey(r: Int, traced: Boolean): Journey = {
    Io.deleteTree(serve)
    timed(s"j$r", traced, Seq(serve)) {
      tracer.span("cli.materialize") {
        Cli.materialize(spark, yaml.toString, data.toString, serve.toString,
          out = quiet)
      }
    }
  }

  /** The plan call, the scan and the stage prefixes, then the incremental
    * loop.
    */
  override def probes(): Unit = {
    tracer.journey("probe")(stages())
    incremental.run("inc")
    looped = true
  }

  private def stages(): Unit = {
    val p = project
    tracer.span("pipeline.plan") { ConfigRuntime.dataset(spark, data.toString, p) }
    scanBytes = Files.size(data.resolve("series.parquet"))
    tracer.span("sources.scan") {
      drain(Main.scanAll(spark.read.parquet(data.resolve("series.parquet").toString)))
    }
    Seq("canonical" -> Some(SeriesDataset.Stream),
      "records" -> Some(SeriesDataset.Stream),
      "samples" -> None, "postprocess" -> None).foreach { case (stage, id) =>
      tracer.span(s"operators.prefix.$stage") {
        drain(ConfigRuntime.previewStage(spark, data.toString, p, stage, id))
      }
    }
    tracer.span("operators.prefix.dataset") {
      drain(ConfigRuntime.dataset(spark, data.toString, p))
    }
  }

  override def finish(): Map[String, Any] =
    Map("dataset" -> serve.resolve("latest").resolve("dataset").toString) ++
      (if (looped) incremental.finish() else Map.empty)

  private var scanBytes = 0L
  override def facts: Map[String, Any] =
    incremental.facts + ("scan_bytes" -> scanBytes)
}

object SeriesDataset {
  val Stream = "ticks.hourly"
  val Yaml: String =
    s"""sources:
       |  - id: ticks
       |    loader: { transport: fs, path: series.parquet, reader: { format: parquet } }
       |streams:
       |  - id: $Stream
       |    from: { source: ticks }
       |    map: { time: ts, fields: [entity_id, seq, status, value, volume, promo, tick] }
       |    partition_by: [entity_id]
       |    tiebreak: [seq]
       |    preprocess:
       |      - { operation: where, field: status, operator: ne, comparand: bad }
       |      - { operation: floor_time, cadence: 1h }
       |    transforms:
       |      - { operation: collapse, keep: last }
       |      - { operation: forward_fill, field: value, to: value_ff }
       |      - { operation: rolling, field: value_ff, window: 6, statistic: mean, to: roll6, min_samples: 3 }
       |      - { operation: lag, field: value_ff, periods: 1, to: lag1 }
       |      - { operation: rolling_slope, x: tick, y: value_ff, window: 4, to: slope4 }
       |      - { operation: forward_sum, field: volume, window: 3, to: fwd_vol3 }
       |dataset:
       |  sample:
       |    cadence: 1h
       |    keys: [entity_id]
       |  features:
       |    - { id: value_ff, stream: $Stream, field: value_ff, scale: true }
       |    - { id: roll6, stream: $Stream, field: roll6, scale: true }
       |    - { id: lag1, stream: $Stream, field: lag1 }
       |    - { id: slope4, stream: $Stream, field: slope4 }
       |    - { id: promo, stream: $Stream, field: promo }
       |    - id: vol_seq
       |      stream: $Stream
       |      field: volume
       |      scale: true
       |      sequence: { size: 4, stride: 1 }
       |  targets:
       |    - { id: fwd_vol3, stream: $Stream, field: fwd_vol3 }
       |  postprocess:
       |    columns: { features: { threshold: 0.5 } }
       |    samples: { features: { threshold: 0.6 } }
       |  split:
       |    mode: hash
       |    seed: 7
       |    ratios: { a: 0.25, b: 0.25, c: 0.25, d: 0.25 }
       |    folds:
       |      - { id: f0, train: [a, b], validation: [c], test: [d] }
       |      - { id: f1, train: [c, d], validation: [a], test: [b] }
       |""".stripMargin
}

/** corpus_curation: `Cli.materialize` of a corpus-only project. The driver
  * ceilings for the near-duplicate graph and the classifier training set
  * are set below this corpus's sizes, so connected components and gradient
  * descent take their distributed branches, as they would at scale.
  */
final class CorpusCuration(ctx: Ctx) extends Workload {
  import ctx._
  private val data = work.resolve("data")
  private val serve = work.resolve("serve")
  private val yaml = work.resolve("corpus.yaml")

  def setup(): Unit = {
    spark.conf.set("graft.cc.driver_max_edges", CorpusCuration.CcDriverMaxEdges)
    spark.conf.set("graft.classifier.driver_max_feature_rows",
      CorpusCuration.ClassifierDriverMaxRows)
    Io.copy(inputs.resolve("docs.parquet"), data.resolve("docs.parquet"))
    Io.copy(inputs.resolve("bench.parquet"), data.resolve("bench.parquet"))
    Files.writeString(yaml, CorpusCuration.yaml("docs.parquet", CorpusCuration.Steps))
    journey(-1, traced = false)
  }

  /** Each journey trains its tokenizer afresh (train-if-missing). */
  def journey(r: Int, traced: Boolean): Journey = {
    Io.deleteTree(serve)
    Io.deleteTree(data.resolve("art"))
    timed(s"j$r", traced, Seq(serve, data.resolve("art"))) {
      tracer.span("cli.materialize") {
        Cli.materialize(spark, yaml.toString, data.toString, serve.toString,
          out = quiet)
      }
    }
  }

  /** The plan call, the scan, and each step's marginal time over its own
    * materialized input (the journey cut after the previous step).
    */
  override def probes(): Unit = tracer.journey("probe") {
    Io.deleteTree(data.resolve("art"))
    tracer.span("pipeline.plan") {
      ConfigRuntime.corpus(spark, data.toString,
        Config.parseProject(Files.readString(yaml)))
    }
    scanBytes = Files.size(data.resolve("docs.parquet"))
    tracer.span("sources.scan") {
      drain(Main.scanAll(spark.read.parquet(data.resolve("docs.parquet").toString)))
    }
    var input = "docs.parquet"
    CorpusCuration.StepNames.zip(CorpusCuration.Steps).zipWithIndex.foreach {
      case ((name, step), i) =>
        Io.deleteTree(data.resolve("art"))
        val p = Config.parseProject(CorpusCuration.yaml(input, Seq(step)))
        val out = tracer.span(s"operators.step.$name") {
          val df = ConfigRuntime.corpusThrough(spark, data.toString, p, None)
          drain(df)
          df
        }
        input = s"stages/$i.parquet"
        if (i < CorpusCuration.Steps.size - 1)
          out.write.mode("overwrite").parquet(data.resolve(input).toString)
    }
  }

  override def finish(): Map[String, Any] =
    Map("dataset" -> serve.resolve("latest").resolve("dataset").toString)

  private var scanBytes = 0L
  override def facts: Map[String, Any] = Map("scan_bytes" -> scanBytes)
}

object CorpusCuration {
  val StepNames: Seq[String] = Seq("extract", "gopher", "dedup_exact",
    "dedup_fuzzy", "decontaminate", "classify", "tokenize", "chunk")
  val Steps: Seq[String] = Seq(
    "{ step: extract, format: html }",
    "{ step: gopher, min_words: 50, min_stops: 2, max_symbol_ratio: 0.1 }",
    "{ step: dedup_exact }",
    "{ step: dedup_fuzzy, threshold: 0.7 }",
    "{ step: decontaminate, benchmark: bench, ngram: 8 }",
    "{ step: classify, target_lang: en, buckets: 64, iters: 1, eta: 1, min_prob: 0.5 }",
    "{ step: tokenize, artifact: art/bpe.json, rounds: 2 }",
    "{ step: chunk, size: 64, stride: 48 }")
  val CcDriverMaxEdges = "64"
  val ClassifierDriverMaxRows = "1024"

  def yaml(docs: String, steps: Seq[String]): String =
    s"""sources:
       |  - id: docs
       |    loader: { transport: fs, path: $docs, reader: { format: parquet } }
       |  - id: bench
       |    loader: { transport: fs, path: bench.parquet, reader: { format: parquet } }
       |corpus:
       |  source: docs
       |  id: doc_id
       |  text: html
       |  steps:
       |""".stripMargin + steps.map(st => s"    - $st\n").mkString
}

/** The incremental loop: a closed loop of small deltas, each landing only
  * after the previous refresh completed, each applied through the
  * streaming corpus journey (AvailableNow, kept checkpoint), the dedup-index
  * update, incremental compaction of the crawl archive, and an
  * `--if-changed` rematerialize of an unchanged series project, which must
  * be a cache hit.
  */
final class IncrementalLoop(ctx: Ctx) {
  import ctx._
  private val root = work.resolve("incremental")
  private val data = root.resolve("data")
  private val landing = data.resolve("landing")
  private val archive = data.resolve("archive")
  private val sink = root.resolve("curated")
  private val index = root.resolve("index")
  private val small = root.resolve("small")
  private val smallServe = root.resolve("small_serve")
  private val streamYaml = root.resolve("stream.yaml")
  private val smallYaml = root.resolve("small.yaml")
  private val streamRuns = mutable.ArrayBuffer.empty[String]
  private val refreshTags = mutable.ArrayBuffer.empty[String]
  private val refreshLive = mutable.ArrayBuffer.empty[Boolean]

  private def deltas: Seq[Path] = {
    val s = Files.list(inputs)
    try s.iterator().asScala
      .filter(_.getFileName.toString.startsWith("delta-"))
      .toSeq.sortBy(_.getFileName.toString)
    finally s.close()
  }

  def run(name: String): Unit = {
    Io.copy(inputs.resolve("bench.parquet"), data.resolve("bench.parquet"))
    Io.copy(inputs.resolve("series_small.parquet"),
      small.resolve("series_small.parquet"))
    Files.writeString(streamYaml, IncrementalLoop.StreamYaml)
    Files.writeString(smallYaml, IncrementalLoop.SmallYaml)
    // the series project is served once; every refresh must find it fresh
    val liveRunId = Cli.materialize(spark, smallYaml.toString, small.toString,
      smallServe.toString, out = quiet, ifChanged = true).runId
    deltas.zipWithIndex.foreach { case (delta, d) =>
      Io.land(delta, landing)
      Io.land(delta, archive)
      tracer.journey(s"$name-d$d")(applyDelta(delta, d, liveRunId))
    }
  }

  private def applyDelta(delta: Path, d: Int, liveRunId: String): Unit = {
    tracer.span("streaming.run") {
      val p = Config.parseProject(Files.readString(streamYaml))
      val df = tracer.span("pipeline.stream_plan") {
        ConfigRuntime.corpusStream(spark, data.toString, p)
      }
      val q = df.writeStream.format("parquet")
        .option("path", sink.resolve("out").toString)
        .option("checkpointLocation", sink.resolve("_chk").toString)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      streamRuns += q.runId.toString
    }
    tracer.span("operators.index_update") {
      IncrementalDedup.update(spark, index,
        spark.read.parquet(landing.resolve(delta.getFileName).toString),
        "html", "doc_id", s"delta-$d")
    }
    tracer.span("operators.compact") {
      Compaction.compactIncremental(spark, archive.toString,
        targetRows = IncrementalLoop.TargetRows,
        capRows = IncrementalLoop.TargetRows,
        minBytes = IncrementalLoop.MinBytes)
    }
    tracer.span("pipeline.refresh") {
      refreshLive += Cli.materialize(spark, smallYaml.toString, small.toString,
        smallServe.toString, out = quiet, ifChanged = true).runId == liveRunId
      refreshTags += tracer.tag
    }
  }

  def facts: Map[String, Any] = Map("stream_runs" -> streamRuns.toSeq,
    "refresh_tags" -> refreshTags.toSeq, "refresh_live" -> refreshLive.toSeq)

  /** The batch corpus journey over the union of the deltas: the streamed
    * result must carry the same texts (corpusStream's contract).
    */
  def finish(): Map[String, Any] = {
    val batch = Cli.materialize(spark, streamYaml.toString, data.toString,
      root.resolve("union_serve").toString, out = quiet)
    Map("streamed" -> sink.resolve("out").toString,
      "batch" -> batch.datasetDir.toString,
      "index" -> index.toString)
  }
}

object IncrementalLoop {
  val TargetRows = 400L
  val MinBytes: Long = 256L * 1024

  val StreamYaml: String =
    """sources:
      |  - id: crawl
      |    loader: { transport: fs, path: landing, reader: { format: parquet } }
      |  - id: bench
      |    loader: { transport: fs, path: bench.parquet, reader: { format: parquet } }
      |corpus:
      |  source: crawl
      |  id: doc_id
      |  text: html
      |  steps:
      |    - { step: extract, format: html }
      |    - { step: gopher, min_words: 50, min_stops: 2 }
      |    - { step: dedup_exact }
      |    - { step: decontaminate, benchmark: bench, ngram: 8, method: bloom }
      |""".stripMargin

  val SmallYaml: String =
    """sources:
      |  - id: small
      |    loader: { transport: fs, path: series_small.parquet, reader: { format: parquet } }
      |streams:
      |  - id: small.hourly
      |    from: { source: small }
      |    map: { time: ts, fields: [entity_id, seq, value] }
      |    partition_by: [entity_id]
      |    tiebreak: [seq]
      |    preprocess:
      |      - { operation: floor_time, cadence: 1h }
      |    transforms:
      |      - { operation: collapse, keep: last }
      |dataset:
      |  sample:
      |    cadence: 1h
      |    keys: [entity_id]
      |  features:
      |    - { id: value, stream: small.hourly, field: value }
      |""".stripMargin
}
