package graft.pipeline

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory

import graft.operators.Ordered

/** Declarative project configuration — the graft twin of the reference's
  * YAML-driven dataset project (docs/config.md; config/transforms.py,
  * config/sources.py, config/streams.py, the config/dataset package).
  *
  * The reference splits a project across `project.yaml`, per-source and
  * per-stream YAML files, and `dataset.yaml`; graft accepts the same content as ONE
  * document with `globals:`, `sources:`, `streams:` and `dataset:` sections
  * (each list entry carries the `id` its filename would supply). Every
  * operation mapping uses the reference's exact field names and
  * discriminators, and unknown operations / unknown fields are rejected the
  * way the reference's `extra="forbid"` models reject them.
  *
  * Differences from the reference, by design:
  *  - `parser` / `map` plugin entrypoints (opaque Python) become a declarative
  *    `map: {time: <col>, fields: [...]}` projection — the time column is
  *    renamed to the canonical `time`.
  *  - `${env:...}` interpolation is rejected (zero-egress builds must not
  *    read ambient state); `${var}` resolves from the document's `globals`.
  *  - `sequence: {size, stride}` series policies become masked window
  *    columns on the stream's own ordered scan
  *    (`Assembly.sequenceWindow`, assembled by
  *    `ConfigRuntime.assembleSamples`); a NULL value keeps its position in
  *    the window. A sequenced vector's stream must be partitioned by the
  *    sample keys only (no series-id suffixes on array cells — the
  *    reference allows them, graft stages that separately).
  *  - `tiebreak:` on a stream is a graft extension: deterministic ordering
  *    needs an explicit total order where the reference relies on iterator
  *    arrival order.
  */
object Config {

  // ------------------------------------------------------------- model

  /** `transport: fs` reads `path` with `format`; `transport: synthetic`
    * generates ticks from `options` (start/end/frequency — reference
    * sources/synthetic/time/loader.py make_time_loader).
    */
  final case class SourceDef(id: String, format: String, path: String,
                             options: Map[String, String],
                             transport: String = "fs")

  sealed trait From
  final case class FromSource(source: String) extends From
  final case class FromStream(stream: String) extends From
  final case class FromBroadcast(stream: String, broadcast: String) extends From
  final case class FromAlign(inputs: Seq[String]) extends From

  /** `map.time` names the source column holding the record time (renamed to
    * canonical `time`); `map.fields` optionally projects the payload.
    */
  final case class MapDef(time: String = "time", fields: Seq[String] = Nil)

  final case class StreamDef(
      id: String,
      from: From,
      map: MapDef = MapDef(),
      partitionBy: Seq[String] = Nil,
      tiebreak: Seq[String] = Nil,
      preprocess: Seq[Pipeline.Op] = Nil,
      transforms: Seq[Pipeline.Op] = Nil)

  /** Sliding-window series policy — reference SequenceConfig
    * (config/dataset/series.py:14): windows of `size` values per series,
    * emitted every `stride` records once full.
    */
  final case class SequenceDef(size: Int, stride: Int = 1)

  final case class VectorDef(id: String, stream: String, field: String,
                             scale: Boolean = false,
                             sequence: Option[SequenceDef] = None)

  final case class FoldDef(id: String, train: Seq[String],
                           validation: Seq[String], test: Seq[String])

  sealed trait SplitDef { def folds: Seq[FoldDef] }
  final case class HashSplit(seed: Int, ratios: Seq[(String, Double)],
                             folds: Seq[FoldDef]) extends SplitDef
  final case class TimeSplit(intervals: Seq[(String, Option[String])],
                             folds: Seq[FoldDef]) extends SplitDef

  final case class PostprocessDef(
      featureColumnThreshold: Option[Double] = None,
      targetColumnThreshold: Option[Double] = None,
      featureRowThreshold: Option[Double] = None,
      targetRowThreshold: Option[Double] = None)

  final case class DatasetDef(
      cadence: String,
      sampleKeys: Seq[String],
      features: Seq[VectorDef],
      targets: Seq[VectorDef] = Nil,
      split: Option[SplitDef] = None,
      postprocess: PostprocessDef = PostprocessDef())

  /** Declarative named tasks beside `dataset:` — the graft twin of the
    * reference task configs (config/tasks/{coverage,matrix,metadata,scaler,
    * ticks}.py): each runs against the project's assembled (or postprocessed)
    * samples, or a named stream, and yields report/artifact rows.
    */
  sealed trait TaskDef { def id: String }
  /** config/tasks/coverage.py CoverageOptions: threshold ∈ [0,1]. */
  final case class CoverageTask(id: String, threshold: Double,
                                stage: String) extends TaskDef
  /** config/tasks/matrix.py MatrixOptions: stage + max_cells guard. */
  final case class MatrixTask(id: String, stage: String,
                              maxCells: Long) extends TaskDef
  /** config/tasks/scaler.py ScalerTask: with_mean/with_std/epsilon. */
  final case class ScalerTask(id: String, withMean: Boolean, withStd: Boolean,
                              epsilon: Double) extends TaskDef
  /** config/tasks/metadata.py MetadataTask (vector contract dump). */
  final case class MetadataTask(id: String) extends TaskDef
  /** config/tasks/ticks.py TicksTask: canonical (grid_by, time) grid. */
  final case class TicksTask(id: String, stream: String,
                             gridBy: Seq[String]) extends TaskDef

  /** One step of the declarative corpus-curation journey (`corpus:` —
    * graft's config surface for the §2.7 LLM-training-data operators; the
    * reference has no corpus twin, its YAML drives only the dataset
    * journey).
    */
  sealed trait CorpusStep
  /** Quality gate: language allowlist ∧ quality floor ∧ repetition ceiling
    * (any subset) — Text.langId/qualityScore/repetitionRatio.
    */
  final case class CorpusFilter(lang: Option[String],
                                minQuality: Option[Double],
                                maxRepetition: Option[Double]) extends CorpusStep
  /** Exact dedup: keep the smallest-id document per identical text. */
  final case class CorpusDedupExact() extends CorpusStep
  /** Near-dup dedup: minhash clustering, keep one document per cluster —
    * `keep: min_id` (default, Dedup.dupClusters' canonical) or
    * `keep: best_quality` (the highest-qualityScore copy, ties to min id —
    * Dedup.keepBest).
    */
  final case class CorpusDedupFuzzy(threshold: Double,
                                    keep: String = "min_id") extends CorpusStep
  /** Benchmark n-gram decontamination: drop documents sharing any word
    * n-gram with the benchmark source. Both methods are per-row probes
    * with zero corpus shuffle, and both stream. `method: exact` (default)
    * probes the benchmark's distinct n-gram set, which rides the plan as a
    * scalar subquery (Curation.ngramHits); `method: bloom` collapses the
    * benchmark into a fixed bitmap at plan build
    * (Curation.decontaminateBloom — the large-benchmark path).
    * With `artifact` (bloom only), train-if-missing: the bitmap persists
    * as JSON — benchmark suites are static, so the build runs once and
    * later runs hydrate; sizing drift fails loudly.
    */
  final case class CorpusDecontaminate(benchmark: String, ngram: Int,
                                       method: String = "exact",
                                       artifact: Option[String] = None)
    extends CorpusStep
  /** Overlapping token-window chunking (terminal step — it reshapes rows)
    * — Curation.chunkDocuments.
    */
  final case class CorpusChunk(size: Int, stride: Int) extends CorpusStep
  /** T5-style span corruption (terminal step — it reshapes rows into
    * (inputs, targets) pretraining pairs) — Curation.spanCorrupt; the
    * block/seed constants are engine-fixed so both engines and the oracle
    * replay the same draws.
    */
  final case class CorpusCorrupt() extends CorpusStep
  /** Fill-in-the-middle example building (terminal step — it reshapes rows
    * into PSM-reordered pretraining examples with length accounting) —
    * Curation.fimTransform at `rate`; gate/split seeds are engine-fixed so
    * both engines and the oracle replay the same sha draws. Per-row and
    * sha-gated, so the step also STREAMS.
    */
  final case class CorpusFim(rate: Double) extends CorpusStep
  /** CROSS-RUN incremental near-dup dedup against a PERSISTED minhash
    * index (operators/IncrementalDedup): the curated increment ingests
    * under `generation` (idempotent by key), and only documents canonical
    * across the UNION corpus survive — a re-crawl of an already-indexed
    * text drops entirely, the each-crawl-against-the-archive semantics a
    * 100 TB pipeline needs.
    */
  final case class CorpusDedupIncremental(index: String, generation: String,
                                          threshold: Double) extends CorpusStep
  /** Per-document token accounting under a PERSISTED tokenizer artifact —
    * `family: bpe` (operators/Bpe, default) or `family: wordpiece`
    * (operators/WordPiece, the likelihood-scored third family): hydrate
    * `artifact` if it exists, else train `rounds` merges on the curated
    * frame and save it — train-if-missing, the rebuild-only-stale artifact
    * discipline on the config surface. Both families stream under a
    * hydrated artifact (per-row codegen'd folds: BpeStats /
    * WordPieceStats).
    */
  final case class CorpusTokenize(artifact: String, rounds: Int,
                                  family: String = "bpe") extends CorpusStep
  /** DSIR-style importance selection (operators/Importance): keep documents
    * whose hashed-feature log-ratio score vs the `targetLang` unigram
    * distribution exceeds `minScore`. With `artifact`, train-if-missing:
    * the dense bucket model persists as JSON and later runs (including the
    * STREAMING journey) hydrate and score without a fitting pass.
    */
  final case class CorpusSelect(targetLang: String, buckets: Int,
                                minScore: Double,
                                artifact: Option[String]) extends CorpusStep
  /** TRAINED quality-classifier gate (operators/Classifier): logistic
    * regression over hashed bag-of-words features, the discriminative
    * pillar beside select's generative DSIR ratio. With `artifact`,
    * train-if-missing: labels come from langId(text) == targetLang, the
    * dense weight vector persists as JSON, and scoring always runs under
    * the HYDRATED copy as a pure per-row fold (zero shuffle) — the shape
    * that also streams. Keeps documents with prob >= minProb.
    */
  final case class CorpusClassify(targetLang: String, buckets: Int,
                                  iters: Int, eta: Double, minProb: Double,
                                  artifact: Option[String]) extends CorpusStep
  /** Temperature-scaled domain mixture (Importance.domainMixRates): keep
    * rate min(1, T·sqrt-weight/n_d) per `by`-domain, applied as the
    * deterministic sha256-ratio filter. With `artifact`, train-if-missing:
    * the bounded rate table persists as JSON and the gate always applies
    * under the HYDRATED copy as a pure per-row expression — which is why
    * the step then also STREAMS (rates fit on the corpus at rest; domains
    * unseen at fit time keep nothing).
    */
  final case class CorpusMix(by: String, seed: Int,
                             artifact: Option[String] = None) extends CorpusStep
  /** Token-budgeted training-shard assignment (operators/Sharding): append
    * n_tokens + shard_id within each `by`-partition. Terminal like chunk —
    * it appends serving columns.
    */
  final case class CorpusShard(by: String, budget: Long,
                               shuffleSeed: Option[Int] = None)
    extends CorpusStep
  /** Incremental-crawl gate (Crawl.corpusDiff's added ∪ changed set as a
    * filter): keep only documents that are NEW or CHANGED relative to the
    * `against` snapshot source — the planning gate that stops a pipeline
    * re-processing unchanged pages every crawl. Bodies never shuffle (only
    * id + digest enter the join); the previous side is a plain batch
    * source, so the step also STREAMS as a stream-static join.
    */
  final case class CorpusDiff(against: String) extends CorpusStep
  /** Crawl text extraction (operators/Crawl.htmlText): the text column is
    * replaced by the visible text, one line per block element — the step
    * that makes a raw-HTML source enter the journey. Stateless per-row →
    * streams.
    */
  final case class CorpusExtract(format: String) extends CorpusStep
  /** The Gopher composite quality gate (Crawl.gopherKeep) over any subset
    * of bounds. Stateless per-row → streams.
    */
  final case class CorpusGopher(minWords: Option[Long], maxWords: Option[Long],
                                minMeanLen: Option[Double],
                                maxMeanLen: Option[Double],
                                maxSymbolRatio: Option[Double],
                                minAlphaFrac: Option[Double],
                                minStops: Option[Int]) extends CorpusStep
  /** Corpus-wide duplicated-line removal (Crawl.lineDedup): lines occurring
    * ≥ minFreq times across the corpus are dropped from every document and
    * bodies rebuilt in original order. Needs corpus-at-rest frequencies —
    * batch only.
    */
  final case class CorpusDedupLines(minFreq: Long) extends CorpusStep
  /** Token-budget sampling (the budget_sample head as a journey step):
    * fill each `by` stratum's token budget greedily in sha256-ratio order
    * at bucket granularity — the exact-histogram discipline, no
    * per-stratum total order. Needs the corpus-at-rest histogram — batch
    * only.
    */
  final case class CorpusBudget(by: String, tokens: Long, buckets: Int,
                                seed: Int) extends CorpusStep

  /** The `corpus:` section: a document source + ordered curation steps. */
  final case class CorpusDef(source: String, idCol: String, textCol: String,
                             steps: Seq[CorpusStep])

  /** A named option bundle for the Cli — the graft twin of the reference
    * profile defaults (config/profiles/defaults.py:1, serve.py, output.py):
    * which command to run, how many preview rows, the output format, and an
    * optional default run root, all selectable by id at the entry point.
    */
  final case class ProfileDef(
      id: String,
      cmd: String,
      stream: Option[String] = None,
      preview: Int = 0,
      format: String = "parquet",
      runRoot: Option[String] = None,
      operation: Option[String] = None)

  /** One logging output (reference config/observability.py LogOutputConfig):
    * where the run's status/progress lines go. transport STDERR | STDOUT |
    * FS; scope GLOBAL (process-wide path) | EXECUTION (path relative to the
    * run directory).
    */
  final case class LogOutputDef(transport: String, scope: String = "GLOBAL",
                                path: Option[String] = None)
  /** reference LoggingConfig: level + ordered outputs. */
  final case class LoggingDef(level: Option[String] = None,
                              outputs: Seq[LogOutputDef] = Nil)
  /** reference ObservabilityConfig: visuals ON|OFF, heartbeat seconds
    * (0 disables), logging settings.
    */
  final case class ObservabilityDef(visuals: Option[String] = None,
                                    heartbeatSeconds: Option[Double] = None,
                                    logging: Option[LoggingDef] = None)

  final case class Project(
      sources: Seq[SourceDef],
      streams: Seq[StreamDef],
      dataset: Option[DatasetDef],
      tasks: Seq[TaskDef] = Nil,
      profiles: Seq[ProfileDef] = Nil,
      observability: Option[ObservabilityDef] = None,
      corpus: Option[CorpusDef] = None) {
    def source(id: String): SourceDef =
      sources.find(_.id == id).getOrElse(fail(s"unknown source '$id'"))
    def stream(id: String): StreamDef =
      streams.find(_.id == id).getOrElse(fail(s"unknown stream '$id'"))
    def task(id: String): TaskDef =
      tasks.find(_.id == id).getOrElse(fail(s"unknown task '$id'"))
    def profile(id: String): ProfileDef =
      profiles.find(_.id == id).getOrElse(fail(s"unknown profile '$id'"))
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"config: $msg")

  // ------------------------------------------------------------- yaml → tree

  private type Tree = Map[String, Any]

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toSeq
    case other => other
  }

  /** `${var}` interpolation from `globals` on every string scalar; `${env:…}`
    * is rejected (the reference reads the process environment — graft configs
    * must be hermetic).
    */
  private def interpolate(v: Any, globals: Map[String, Any]): Any = v match {
    case s: String =>
      if (s.contains("${env:"))
        fail("${env:...} is not supported: '" + s + "'")
      "\\$\\{([A-Za-z0-9_]+)\\}".r.replaceAllIn(s, m =>
        scala.util.matching.Regex.quoteReplacement(
          globals.getOrElse(m.group(1),
            fail("unresolved ${...} variable '" + m.group(1) + "'")).toString))
    case m: Map[_, _] =>
      m.asInstanceOf[Tree].map { case (k, x) => k -> interpolate(x, globals) }
    case l: Seq[_] => l.map(interpolate(_, globals))
    case other => other
  }

  // ------------------------------------------------------------- accessors

  private def asTree(v: Any, ctx: String): Tree = v match {
    case m: Map[_, _] => m.asInstanceOf[Tree]
    case other        => fail(s"$ctx must be a mapping, got $other")
  }
  private def asList(v: Any, ctx: String): Seq[Any] = v match {
    case l: Seq[_] => l
    case other     => fail(s"$ctx must be a list, got $other")
  }
  private def str(t: Tree, k: String, ctx: String): String =
    t.getOrElse(k, fail(s"$ctx requires '$k'")) match {
      case s: String if s.trim.nonEmpty => s
      case other => fail(s"$ctx.$k must be a non-empty string, got $other")
    }
  private def strOpt(t: Tree, k: String): Option[String] =
    t.get(k).map { case s: String => s; case o => fail(s"'$k' must be a string, got $o") }
  private def intOf(t: Tree, k: String, ctx: String): Int =
    t.getOrElse(k, fail(s"$ctx requires '$k'")) match {
      case i: Int => i
      case i: java.lang.Integer => i.intValue
      case other  => fail(s"$ctx.$k must be an integer, got $other")
    }
  private def intOpt(t: Tree, k: String): Option[Int] = t.get(k).map {
    case i: Int => i
    case i: java.lang.Integer => i.intValue
    case o => fail(s"'$k' must be an integer, got $o")
  }
  private def dblOpt(t: Tree, k: String): Option[Double] = t.get(k).map {
    case d: Double => d
    case d: java.lang.Double => d.doubleValue
    case i: Int => i.toDouble
    case i: java.lang.Integer => i.doubleValue
    case o => fail(s"'$k' must be a number, got $o")
  }
  private def boolOf(t: Tree, k: String, default: Boolean): Boolean =
    t.get(k).map {
      case b: Boolean => b
      case b: java.lang.Boolean => b.booleanValue
      case o => fail(s"'$k' must be a boolean, got $o")
    }.getOrElse(default)
  private def strList(t: Tree, k: String, ctx: String): Seq[String] =
    asList(t.getOrElse(k, fail(s"$ctx requires '$k'")), s"$ctx.$k").map {
      case s: String => s
      case o         => fail(s"$ctx.$k entries must be strings, got $o")
    }
  private def strListOpt(t: Tree, k: String): Seq[String] =
    t.get(k).map(v => asList(v, k).map {
      case s: String => s
      case o         => fail(s"'$k' entries must be strings, got $o")
    }).getOrElse(Nil)

  private def requireKeys(t: Tree, allowed: Set[String], ctx: String): Unit = {
    val unknown = t.keySet -- allowed
    if (unknown.nonEmpty)
      fail(s"$ctx has unknown field(s): ${unknown.toSeq.sorted.mkString(", ")}")
  }

  // ------------------------------------------------------------- operations

  /** ISO-8601 `...Z`/offset datetimes become timestamps so `where` on `time`
    * compares temporally, not lexically (reference parse_datetime).
    */
  private def comparand(v: Any): Any = v match {
    case s: String if s.matches("""\d{4}-\d{2}-\d{2}T.*""") =>
      java.sql.Timestamp.from(java.time.OffsetDateTime.parse(s).toInstant)
    case l: Seq[_] => l.map(comparand)
    case other     => other
  }

  /** Every `operation:` discriminator [[parseOp]] accepts (for
    * `graft.Cli list transforms`; keep in sync with the match below).
    */
  val builtinOperations: Seq[String] = Seq("collapse", "dedupe", "derive",
    "encode_time", "ensure_cadence", "fill", "floor_time", "forward_fill",
    "forward_sum", "lag", "lead", "log", "log1p", "plugin", "rolling",
    "rolling_slope", "sessionize", "shift_time", "where")

  /** One flat op mapping with an `operation` discriminator → [[Pipeline.Op]].
    * Field names and defaults mirror config/transforms.py exactly; unknown
    * operations and unknown fields are errors.
    */
  def parseOp(raw: Any): Pipeline.Op = {
    val t = asTree(raw, "operation")
    val op = str(t, "operation", "operation")
    def ctx = s"operation '$op'"
    def check(allowed: String*): Unit =
      requireKeys(t, allowed.toSet + "operation", ctx)
    def to(default: String): String = strOpt(t, "to").getOrElse(default)
    op match {
      case "where" =>
        check("field", "operator", "comparand")
        Pipeline.Where(str(t, "field", ctx), str(t, "operator", ctx),
          comparand(t.getOrElse("comparand", fail(s"$ctx requires 'comparand'"))))
      case "floor_time" =>
        check("cadence"); Pipeline.FloorTime(str(t, "cadence", ctx))
      case "shift_time" =>
        check("by"); Pipeline.ShiftTime(str(t, "by", ctx))
      case "dedupe" =>
        check(); Pipeline.Dedupe()
      case "collapse" =>
        check("keep"); Pipeline.Collapse(str(t, "keep", ctx))
      case "lag" =>
        check("field", "periods", "to")
        val f = str(t, "field", ctx)
        Pipeline.Lag(f, intOf(t, "periods", ctx), to(f))
      case "lead" =>
        check("field", "periods", "to")
        val f = str(t, "field", ctx)
        Pipeline.Lead(f, intOf(t, "periods", ctx), to(f))
      case "rolling" =>
        check("field", "window", "statistic", "to", "min_samples")
        val f = str(t, "field", ctx)
        Pipeline.Rolling(f, strOpt(t, "statistic").getOrElse("mean"),
          intOf(t, "window", ctx), to(f), intOpt(t, "min_samples"))
      case "rolling_slope" =>
        check("x", "y", "window", "to")
        Pipeline.RollingSlope(str(t, "x", ctx), str(t, "y", ctx),
          intOf(t, "window", ctx), str(t, "to", ctx))
      case "forward_sum" =>
        check("field", "window", "to")
        Pipeline.ForwardSum(str(t, "field", ctx), intOf(t, "window", ctx),
          str(t, "to", ctx))
      case "fill" =>
        check("field", "window", "statistic", "to", "min_samples")
        val f = str(t, "field", ctx)
        Pipeline.Fill(f, intOf(t, "window", ctx), str(t, "statistic", ctx),
          to(f), intOpt(t, "min_samples").getOrElse(1))
      case "forward_fill" =>
        check("field", "to")
        val f = str(t, "field", ctx)
        Pipeline.ForwardFill(f, to(f))
      case "derive" =>
        check("left", "operator", "to", "right_field", "right_value")
        val rf = strOpt(t, "right_field")
        val rv = dblOpt(t, "right_value")
        if (rf.isDefined == rv.isDefined)
          fail(s"$ctx requires exactly one of right_field or right_value")
        Pipeline.Derive(str(t, "left", ctx), str(t, "operator", ctx),
          str(t, "to", ctx), rf, rv)
      case "log" =>
        check("field", "to")
        Pipeline.Log(str(t, "field", ctx), str(t, "to", ctx))
      case "log1p" =>
        check("field", "to")
        Pipeline.Log1p(str(t, "field", ctx), str(t, "to", ctx))
      case "ensure_cadence" =>
        check("cadence"); Pipeline.EnsureCadence(str(t, "cadence", ctx))
      case "encode_time" =>
        check("mode", "to")
        Pipeline.EncodeTime(str(t, "mode", ctx), str(t, "to", ctx))
      case "sessionize" =>
        check("gap", "to")
        Pipeline.Sessionize(str(t, "gap", ctx), to("session_id"))
      case "plugin" =>
        check("name", "options")
        val opName = str(t, "name", ctx)
        val factory = graft.plugins.Plugins.transform(opName).getOrElse(
          fail(s"$ctx: unknown plugin transform '$opName' (available: " +
            s"${graft.plugins.Plugins.transformNames.toSeq.sorted.mkString(", ")})"))
        val options = t.get("options")
          .map(asTree(_, s"$ctx.options")).getOrElse(Map.empty)
        Pipeline.PluginStage(opName, factory(options))
      case other => fail(s"unknown operation '$other'")
    }
  }

  private def parseOps(t: Tree, k: String): Seq[Pipeline.Op] =
    t.get(k).map(v => asList(v, k).map(parseOp)).getOrElse(Nil)

  // ------------------------------------------------------------- sections

  private def parseSource(raw: Any): SourceDef = {
    val t = asTree(raw, "source")
    val id = str(t, "id", "source")
    requireKeys(t, Set("id", "loader"), s"source '$id'")
    val loader = asTree(t.getOrElse("loader",
      fail(s"source '$id' requires 'loader'")), s"source '$id'.loader")
    requireKeys(loader, Set("transport", "path", "reader", "args", "url",
      "headers", "params"), s"source '$id'.loader")
    val transport = strOpt(loader, "transport").getOrElse("fs")
    transport match {
      case "http" =>
        // reference HttpTransport: url + headers + merged params; parquet is
        // rejected (source_yaml.py "HTTP sources do not support parquet")
        if (loader.contains("path"))
          fail(s"source '$id': http sources take 'url', not 'path'")
        val url = str(loader, "url", s"source '$id'.loader")
        val reader = asTree(loader.getOrElse("reader", Map.empty[String, Any]),
          s"source '$id'.loader.reader")
        val format = strOpt(reader, "format").getOrElse(
          fail(s"source '$id': http sources require reader.format"))
        if (!Set("csv", "jsonl", "json").contains(format))
          fail(s"source '$id': HTTP sources do not support format '$format' (csv | json | jsonl)")
        val headers = loader.get("headers")
          .map(asTree(_, s"source '$id'.loader.headers")).getOrElse(Map.empty)
          .map { case (k, v) => s"header.$k" -> v.toString }
        val params = loader.get("params")
          .map(asTree(_, s"source '$id'.loader.params")).getOrElse(Map.empty)
          .map { case (k, v) => s"param.$k" -> v.toString }
        val options = (reader - "format").map { case (k, v) => k -> v.toString }
        SourceDef(id, format, url, options ++ headers ++ params, transport)
      case "synthetic" =>
        // reference default_loader_config: synthetic takes args, no
        // path/reader/format (source_yaml.py "Synthetic sources do not use
        // a source format")
        if (loader.contains("path") || loader.contains("reader"))
          fail(s"source '$id': synthetic sources take 'args', not path/reader")
        val args = asTree(loader.getOrElse("args", Map.empty[String, Any]),
          s"source '$id'.loader.args")
        requireKeys(args, Set("start", "end", "frequency"),
          s"source '$id'.loader.args")
        Seq("start", "end").foreach { k =>
          if (!args.contains(k))
            fail(s"source '$id': synthetic source requires args.$k")
        }
        SourceDef(id, "synthetic", "",
          args.map { case (k, v) => k -> v.toString }, transport)
      case "fs" =>
        val reader = asTree(loader.getOrElse("reader", Map.empty[String, Any]),
          s"source '$id'.loader.reader")
        val format = strOpt(reader, "format").getOrElse("parquet")
        if (!Set("csv", "jsonl", "json", "parquet").contains(format) &&
            !graft.plugins.Plugins.loaderFormats.contains(format))
          fail(s"source '$id': unknown reader format '$format'" + {
            val ext = graft.plugins.Plugins.loaderFormats
            if (ext.nonEmpty) s" (plugin formats: ${ext.toSeq.sorted.mkString(", ")})"
            else ""
          })
        val options = (reader - "format").map { case (k, v) => k -> v.toString }
        SourceDef(id, format, str(loader, "path", s"source '$id'.loader"),
          options, transport)
      case other =>
        fail(s"source '$id': transport '$other' is not supported " +
          "(fs | http | synthetic)")
    }
  }

  private def parseFrom(raw: Any, ctx: String): From = {
    val t = asTree(raw, s"$ctx.from")
    requireKeys(t, Set("source", "stream", "broadcast", "align"), s"$ctx.from")
    (t.get("source"), t.get("stream"), t.get("broadcast"), t.get("align")) match {
      case (Some(s: String), None, None, None) => FromSource(s)
      case (None, Some(s: String), None, None) => FromStream(s)
      case (None, Some(s: String), Some(b: String), None) => FromBroadcast(s, b)
      case (None, None, None, Some(_)) =>
        val inputs = strList(t, "align", s"$ctx.from")
        if (inputs.length < 2) fail(s"$ctx.from.align needs at least two streams")
        FromAlign(inputs)
      case _ => fail(s"$ctx.from must be one of source | stream | " +
        "stream+broadcast | align")
    }
  }

  private def parseStream(raw: Any): StreamDef = {
    val t = asTree(raw, "stream")
    val id = str(t, "id", "stream")
    val ctx = s"stream '$id'"
    requireKeys(t, Set("id", "from", "map", "partition_by", "ordered_by",
      "tiebreak", "preprocess", "transforms"), ctx)
    val from = parseFrom(t.getOrElse("from", fail(s"$ctx requires 'from'")), ctx)
    val mapDef = t.get("map").map { raw =>
      val m = asTree(raw, s"$ctx.map")
      requireKeys(m, Set("time", "fields"), s"$ctx.map")
      MapDef(strOpt(m, "time").getOrElse("time"), strListOpt(m, "fields"))
    }.getOrElse(MapDef())
    // `ordered_by`, when present, must equal [*partition_by, time] (the
    // reference validates the same assertion while streaming).
    val partitionBy = strListOpt(t, "partition_by")
    strListOpt(t, "ordered_by") match {
      case Nil => ()
      case declared =>
        val canonical = partitionBy :+ "time"
        if (declared != canonical)
          fail(s"$ctx.ordered_by must equal [${canonical.mkString(", ")}]")
    }
    from match {
      case FromSource(_) => ()
      case _ =>
        if (t.contains("map") || t.contains("partition_by") || t.contains("preprocess"))
          fail(s"$ctx: only source-backed streams declare map/partition_by/preprocess")
    }
    // stage restrictions (reference PreprocessConfig vs TransformConfig):
    // preprocess = record-wise ops only; ordered transforms cannot rewrite
    // `time` (floor_time/shift_time are preprocess-only).
    val preprocess = parseOps(t, "preprocess")
    preprocess.foreach {
      case _: Pipeline.Where | _: Pipeline.FloorTime | _: Pipeline.ShiftTime => ()
      case op => fail(s"$ctx.preprocess allows only where/floor_time/" +
        s"shift_time; '${op.getClass.getSimpleName}' is an ordered transform")
    }
    val transforms = parseOps(t, "transforms")
    transforms.foreach {
      case _: Pipeline.FloorTime | _: Pipeline.ShiftTime =>
        fail(s"$ctx.transforms cannot write 'time' — floor_time/shift_time " +
          "belong in preprocess")
      case _ => ()
    }
    transforms.flatMap(rangeError).headOption.foreach(m => fail(s"$ctx: $m"))
    StreamDef(id, from, mapDef, partitionBy, strListOpt(t, "tiebreak"),
      preprocess, transforms)
  }

  /** An ordered transform's out-of-range parameter ([[Ordered.rangeError]]). */
  private def rangeError(op: Pipeline.Op): Option[String] = op match {
    case Pipeline.Lag(f, n, _) => Ordered.rangeError("lag", f, periods = Some(n))
    case Pipeline.Lead(f, n, _) => Ordered.rangeError("lead", f, periods = Some(n))
    case Pipeline.Rolling(f, _, w, _, m) =>
      Ordered.rangeError("rolling", f, window = Some(w), minSamples = m)
    case Pipeline.ForwardSum(f, w, _) =>
      Ordered.rangeError("forward_sum", f, window = Some(w))
    case Pipeline.Fill(f, w, _, _, m) =>
      Ordered.rangeError("fill", f, window = Some(w), minSamples = Some(m))
    case _ => None
  }

  private def parseVector(raw: Any, ctx: String): VectorDef = {
    val t = asTree(raw, ctx)
    val id = str(t, "id", ctx)
    requireKeys(t, Set("id", "stream", "field", "scale", "sequence"), s"$ctx '$id'")
    if (id.contains(Series.IdSeparator))
      fail(s"$ctx '$id': ids cannot contain the reserved '${Series.IdSeparator}'")
    val sequence = t.get("sequence").map { raw =>
      val s = asTree(raw, s"$ctx '$id'.sequence")
      requireKeys(s, Set("size", "stride"), s"$ctx '$id'.sequence")
      val size = intOf(s, "size", s"$ctx '$id'.sequence")
      val stride = intOpt(s, "stride").getOrElse(1)
      if (size <= 0) fail(s"$ctx '$id'.sequence.size must be > 0, got $size")
      if (stride <= 0) fail(s"$ctx '$id'.sequence.stride must be > 0, got $stride")
      SequenceDef(size, stride)
    }
    VectorDef(id, str(t, "stream", s"$ctx '$id'"), str(t, "field", s"$ctx '$id'"),
      boolOf(t, "scale", default = false), sequence)
  }

  private def parseFold(raw: Any): FoldDef = {
    val t = asTree(raw, "fold")
    val id = str(t, "id", "fold")
    requireKeys(t, Set("id", "train", "validation", "test"), s"fold '$id'")
    val f = FoldDef(id, strList(t, "train", s"fold '$id'"),
      strListOpt(t, "validation"), strListOpt(t, "test"))
    val overlap = (f.train.toSet & f.validation.toSet) ++
      (f.train.toSet & f.test.toSet) ++ (f.validation.toSet & f.test.toSet)
    if (overlap.nonEmpty)
      fail(s"fold '$id': label(s) ${overlap.mkString(", ")} appear in two roles")
    f
  }

  private def parseSplit(raw: Any): SplitDef = {
    val t = asTree(raw, "split")
    val folds = t.get("folds").map(v => asList(v, "split.folds").map(parseFold))
      .getOrElse(Nil)
    val (split, labels) = str(t, "mode", "split") match {
      case "hash" =>
        requireKeys(t, Set("mode", "seed", "ratios", "folds"), "split")
        val ratios = asTree(t.getOrElse("ratios", fail("hash split requires 'ratios'")),
          "split.ratios").toSeq.map {
          case (k, d: Double) => k -> d
          case (k, i: Int)    => k -> i.toDouble
          case (k, v)         => fail(s"split.ratios.$k must be a number, got $v")
        // canonicalized by label so YAML key order cannot change assignment
        }.sortBy(_._1)
        (HashSplit(intOpt(t, "seed").getOrElse(42), ratios, folds),
          ratios.map(_._1).toSet)
      case "time" =>
        requireKeys(t, Set("mode", "intervals", "folds"), "split")
        val intervals = asList(t.getOrElse("intervals",
          fail("time split requires 'intervals'")), "split.intervals").map { raw =>
          val iv = asTree(raw, "split.intervals[]")
          requireKeys(iv, Set("id", "until"), "split interval")
          (str(iv, "id", "split interval"), strOpt(iv, "until"))
        }
        if (intervals.init.exists(_._2.isEmpty) || intervals.last._2.nonEmpty)
          fail("every split interval except the last needs 'until'; the last omits it")
        (TimeSplit(intervals, folds), intervals.map(_._1).toSet)
      case other => fail(s"split.mode must be hash | time, got '$other'")
    }
    split.folds.foreach { f =>
      val unknown = (f.train ++ f.validation ++ f.test).filterNot(labels.contains)
      if (unknown.nonEmpty)
        fail(s"fold '${f.id}' references unknown label(s): ${unknown.mkString(", ")}")
    }
    split
  }

  private def parsePostprocess(raw: Any): PostprocessDef = {
    val t = asTree(raw, "postprocess")
    requireKeys(t, Set("columns", "samples"), "postprocess")
    def section(k: String): (Option[Double], Option[Double]) =
      t.get(k).map { raw =>
        val s = asTree(raw, s"postprocess.$k")
        requireKeys(s, Set("features", "targets"), s"postprocess.$k")
        def thr(kk: String): Option[Double] = s.get(kk).flatMap { raw =>
          val m = asTree(raw, s"postprocess.$k.$kk")
          requireKeys(m, Set("threshold", "ids"), s"postprocess.$k.$kk")
          dblOpt(m, "threshold")
        }
        (thr("features"), thr("targets"))
      }.getOrElse((None, None))
    val (fc, tc) = section("columns")
    val (fr, tr) = section("samples")
    PostprocessDef(fc, tc, fr, tr)
  }

  private def parseDataset(raw: Any): DatasetDef = {
    val t = asTree(raw, "dataset")
    requireKeys(t, Set("sample", "features", "targets", "split", "postprocess"),
      "dataset")
    val sample = asTree(t.getOrElse("sample", fail("dataset requires 'sample'")),
      "dataset.sample")
    requireKeys(sample, Set("cadence", "keys"), "dataset.sample")
    val features = asList(t.getOrElse("features",
      fail("dataset requires 'features'")), "dataset.features")
      .map(parseVector(_, "feature"))
    val targets = t.get("targets").map(v =>
      asList(v, "dataset.targets").map(parseVector(_, "target"))).getOrElse(Nil)
    val dup = (features ++ targets).groupBy(_.id).collect {
      case (id, vs) if vs.length > 1 => id
    }
    if (dup.nonEmpty) fail(s"duplicate vector id(s): ${dup.mkString(", ")}")
    DatasetDef(
      str(sample, "cadence", "dataset.sample"),
      strListOpt(sample, "keys"),
      features, targets,
      t.get("split").map(parseSplit),
      t.get("postprocess").map(parsePostprocess).getOrElse(PostprocessDef()))
  }

  private def parseStage(t: Tree, ctx: String): String =
    strOpt(t, "stage").getOrElse("postprocessed") match {
      case s @ ("assembled" | "postprocessed") => s
      case other => fail(s"$ctx.stage must be assembled | postprocessed, got '$other'")
    }

  /** One `tasks:` entry with a `task` discriminator; field names, defaults
    * and bounds mirror the reference task models (config/tasks/⋆.py).
    */
  private def parseTask(raw: Any): TaskDef = {
    val t = asTree(raw, "task")
    val id = str(t, "id", "task")
    val kind = str(t, "task", s"task '$id'")
    def ctx = s"task '$id' ($kind)"
    def check(allowed: String*): Unit =
      requireKeys(t, allowed.toSet ++ Set("id", "task"), ctx)
    kind match {
      case "coverage" =>
        check("threshold", "stage")
        val thr = dblOpt(t, "threshold").getOrElse(0.95)
        if (thr < 0.0 || thr > 1.0)
          fail(s"$ctx.threshold must be in [0, 1], got $thr")
        CoverageTask(id, thr, parseStage(t, ctx))
      case "matrix" =>
        check("stage", "max_cells")
        val maxCells = intOpt(t, "max_cells").map(_.toLong).getOrElse(1000000L)
        if (maxCells <= 0) fail(s"$ctx.max_cells must be > 0, got $maxCells")
        MatrixTask(id, parseStage(t, ctx), maxCells)
      case "scaler" =>
        check("with_mean", "with_std", "epsilon")
        val eps = dblOpt(t, "epsilon").getOrElse(1e-12)
        if (!java.lang.Double.isFinite(eps) || eps <= 0)
          fail(s"$ctx.epsilon must be finite and positive, got $eps")
        ScalerTask(id, boolOf(t, "with_mean", default = true),
          boolOf(t, "with_std", default = true), eps)
      case "metadata" =>
        check(); MetadataTask(id)
      case "ticks" =>
        check("stream", "grid_by")
        val gridBy = strListOpt(t, "grid_by")
        if (gridBy.distinct.length != gridBy.length)
          fail(s"$ctx.grid_by must not contain duplicate fields")
        if (gridBy.contains("time"))
          fail(s"$ctx.grid_by must not contain the reserved field 'time'")
        TicksTask(id, str(t, "stream", ctx), gridBy)
      case other => fail(s"unknown task kind '$other'")
    }
  }

  /** One `profiles:` entry; strict like the reference's extra="forbid"
    * profile models.
    */
  private def parseProfile(raw: Any): ProfileDef = {
    val t = asTree(raw, "profile")
    val id = str(t, "id", "profile")
    val ctx = s"profile '$id'"
    requireKeys(t, Set("id", "cmd", "stream", "preview", "format", "run_root",
      "operation"), ctx)
    val cmd = str(t, "cmd", ctx)
    if (!Set("materialize", "materialize-streams", "stream", "inspect").contains(cmd))
      fail(s"$ctx.cmd must be materialize | materialize-streams | stream | inspect, got '$cmd'")
    val stream = strOpt(t, "stream")
    if (cmd == "stream" && stream.isEmpty)
      fail(s"$ctx: cmd 'stream' requires a 'stream' id")
    if (cmd != "stream" && stream.nonEmpty)
      fail(s"$ctx: only cmd 'stream' takes a 'stream' id")
    // reference InspectProfile: cmd inspect runs one named task operation
    val operation = strOpt(t, "operation")
    if (cmd == "inspect" && operation.isEmpty)
      fail(s"$ctx: cmd 'inspect' requires an 'operation' (a task id)")
    if (cmd != "inspect" && operation.nonEmpty)
      fail(s"$ctx: only cmd 'inspect' takes an 'operation'")
    val preview = intOpt(t, "preview")
      .getOrElse(if (cmd == "stream" || cmd == "inspect") 20 else 0)
    if ((cmd == "stream" || cmd == "inspect") && preview < 1)
      fail(s"$ctx.preview must be >= 1 for cmd '$cmd', got $preview")
    if (preview < 0) fail(s"$ctx.preview must be >= 0, got $preview")
    val format = strOpt(t, "format").getOrElse("parquet")
    if (!Set("parquet", "csv", "jsonl").contains(format))
      fail(s"$ctx.format must be parquet | csv | jsonl, got '$format'")
    if (cmd != "materialize" && t.contains("format"))
      fail(s"$ctx: only cmd 'materialize' takes a 'format'")
    ProfileDef(id, cmd, stream, preview, format, strOpt(t, "run_root"), operation)
  }

  /** `observability:` section, with the reference's exact validation matrix
    * (config/observability.py): FS outputs need a path (GLOBAL) or a
    * relative one (EXECUTION); console outputs take neither a path nor a
    * non-GLOBAL scope; booleans for visuals normalize to ON/OFF.
    */
  private def parseObservability(raw: Any): ObservabilityDef = {
    val t = asTree(raw, "observability")
    requireKeys(t, Set("visuals", "heartbeat_interval_seconds", "logging"),
      "observability")
    val visuals = t.get("visuals").map {
      case b: Boolean => if (b) "ON" else "OFF"
      case v =>
        val name = String.valueOf(v).toUpperCase
        if (!Set("ON", "OFF")(name))
          fail(s"observability.visuals must be ON or OFF, got '$v'")
        name
    }
    val heartbeat = dblOpt(t, "heartbeat_interval_seconds")
    heartbeat.foreach { h =>
      if (h < 0 || h.isNaN || h.isInfinite)
        fail(s"observability.heartbeat_interval_seconds must be >= 0, got $h")
    }
    val logging = t.get("logging").map { lv =>
      val lt = asTree(lv, "observability.logging")
      requireKeys(lt, Set("level", "outputs"), "observability.logging")
      val level = strOpt(lt, "level").map(_.toUpperCase)
      level.foreach { l =>
        if (!Set("CRITICAL", "ERROR", "WARNING", "INFO", "DEBUG")(l))
          fail(s"observability.logging.level must be CRITICAL | ERROR | WARNING | INFO | DEBUG, got '$l'")
      }
      val outputs = lt.get("outputs").map(v =>
        asList(v, "observability.logging.outputs").map { ov =>
          val ot = asTree(ov, "log output")
          requireKeys(ot, Set("transport", "scope", "path"), "log output")
          val transport = str(ot, "transport", "log output").toUpperCase
          if (!Set("STDERR", "STDOUT", "FS")(transport))
            fail(s"log output.transport must be STDERR | STDOUT | FS, got '$transport'")
          val scope = strOpt(ot, "scope").map(_.toUpperCase).getOrElse("GLOBAL")
          if (!Set("GLOBAL", "EXECUTION")(scope))
            fail(s"log output.scope must be GLOBAL | EXECUTION, got '$scope'")
          val path = strOpt(ot, "path").map(_.trim).filter(_.nonEmpty)
          if (transport == "FS") {
            if (scope == "EXECUTION") {
              if (path.exists(p => java.nio.file.Paths.get(p).isAbsolute))
                fail("log output: path must be relative when scope=EXECUTION")
            } else if (path.isEmpty)
              fail("log output: path must be set when transport=FS and scope=GLOBAL")
          } else {
            if (scope != "GLOBAL")
              fail("log output: scope=EXECUTION requires transport=FS")
            if (path.nonEmpty)
              fail("log output: path is only valid when transport=FS")
          }
          LogOutputDef(transport, scope, path)
        }).getOrElse(Nil)
      LoggingDef(level, outputs)
    }
    ObservabilityDef(visuals, heartbeat, logging)
  }

  /** One `corpus.steps` entry with a `step` discriminator. */
  private def parseCorpusStep(raw: Any): CorpusStep = {
    val t = asTree(raw, "corpus step")
    val step = str(t, "step", "corpus step")
    def ctx = s"corpus step '$step'"
    def check(allowed: String*): Unit =
      requireKeys(t, allowed.toSet + "step", ctx)
    step match {
      case "filter" =>
        check("lang", "min_quality", "max_repetition")
        val f = CorpusFilter(strOpt(t, "lang"), dblOpt(t, "min_quality"),
          dblOpt(t, "max_repetition"))
        if (f.lang.isEmpty && f.minQuality.isEmpty && f.maxRepetition.isEmpty)
          fail(s"$ctx needs at least one of lang/min_quality/max_repetition")
        // langId only ever predicts from the classifier's label set — an
        // unknown code would silently filter the whole corpus to zero
        f.lang.foreach { l =>
          val known = graft.functions.Text.LangPriority
          if (!known.contains(l))
            fail(s"$ctx.lang must be one of ${known.mkString(", ")}, got '$l'")
        }
        f
      case "dedup_exact" =>
        check(); CorpusDedupExact()
      case "dedup_fuzzy" =>
        check("threshold", "keep")
        val thr = dblOpt(t, "threshold").getOrElse(0.5)
        if (thr <= 0.0 || thr > 1.0)
          fail(s"$ctx.threshold must be in (0, 1], got $thr")
        val keep = strOpt(t, "keep").getOrElse("min_id")
        if (keep != "min_id" && keep != "best_quality")
          fail(s"$ctx.keep must be 'min_id' or 'best_quality', got '$keep'")
        CorpusDedupFuzzy(thr, keep)
      case "decontaminate" =>
        check("benchmark", "ngram", "method", "artifact")
        val n = intOpt(t, "ngram").getOrElse(8)
        if (n <= 0) fail(s"$ctx.ngram must be > 0, got $n")
        val method = strOpt(t, "method").getOrElse("exact")
        if (method != "exact" && method != "bloom")
          fail(s"$ctx.method must be 'exact' or 'bloom', got '$method'")
        val art = strOpt(t, "artifact")
        if (art.isDefined && method != "bloom")
          fail(s"$ctx.artifact requires method: bloom (the exact method has no bitmap to persist)")
        CorpusDecontaminate(str(t, "benchmark", ctx), n, method, art)
      case "chunk" =>
        check("size", "stride")
        val size = intOf(t, "size", ctx)
        val stride = intOpt(t, "stride").getOrElse(size)
        if (size <= 0 || stride <= 0 || stride > size)
          fail(s"$ctx needs 0 < stride <= size, got ($size, $stride)")
        CorpusChunk(size, stride)
      case "dedup_incremental" =>
        check("index", "generation", "threshold")
        val thr = dblOpt(t, "threshold").getOrElse(0.5)
        if (thr <= 0.0 || thr > 1.0)
          fail(s"$ctx.threshold must be in (0, 1], got $thr")
        CorpusDedupIncremental(str(t, "index", ctx),
          str(t, "generation", ctx), thr)
      case "tokenize" =>
        check("artifact", "rounds", "family")
        val r = intOpt(t, "rounds").getOrElse(8)
        if (r <= 0) fail(s"$ctx.rounds must be > 0, got $r")
        val fam = strOpt(t, "family").getOrElse("bpe")
        if (fam != "bpe" && fam != "wordpiece")
          fail(s"$ctx.family must be 'bpe' or 'wordpiece', got '$fam'")
        CorpusTokenize(str(t, "artifact", ctx), r, fam)
      case "select" =>
        check("target_lang", "buckets", "min_score", "artifact")
        val lang = str(t, "target_lang", ctx)
        val known = graft.functions.Text.LangPriority
        if (!known.contains(lang))
          fail(s"$ctx.target_lang must be one of ${known.mkString(", ")}, got '$lang'")
        val b = intOpt(t, "buckets").getOrElse(256)
        if (b <= 0) fail(s"$ctx.buckets must be > 0, got $b")
        CorpusSelect(lang, b, dblOpt(t, "min_score").getOrElse(0.0),
          strOpt(t, "artifact"))
      case "classify" =>
        check("target_lang", "buckets", "iters", "eta", "min_prob", "artifact")
        val lang = str(t, "target_lang", ctx)
        val known = graft.functions.Text.LangPriority
        if (!known.contains(lang))
          fail(s"$ctx.target_lang must be one of ${known.mkString(", ")}, got '$lang'")
        val b = intOpt(t, "buckets").getOrElse(64)
        if (b <= 0) fail(s"$ctx.buckets must be > 0, got $b")
        val it = intOpt(t, "iters").getOrElse(3)
        if (it <= 0) fail(s"$ctx.iters must be > 0, got $it")
        val eta = dblOpt(t, "eta").getOrElse(1.0)
        // whole-number eta keeps weight updates on the 1e-6 grid (the
        // replay-exactness contract Classifier.fitGated enforces) — fail
        // at parse time, not after a training pass
        if (eta <= 0.0 || eta != math.rint(eta))
          fail(s"$ctx.eta must be a positive whole number, got $eta")
        val p = dblOpt(t, "min_prob").getOrElse(0.5)
        if (p < 0.0 || p > 1.0)
          fail(s"$ctx.min_prob must be in [0, 1], got $p")
        CorpusClassify(lang, b, it, eta, p, strOpt(t, "artifact"))
      case "mix" =>
        check("by", "seed", "artifact")
        CorpusMix(str(t, "by", ctx), intOpt(t, "seed").getOrElse(0),
          strOpt(t, "artifact"))
      case "budget" =>
        check("by", "tokens", "buckets", "seed")
        val tok = intOpt(t, "tokens").getOrElse(fail(s"$ctx needs tokens"))
        if (tok <= 0) fail(s"$ctx.tokens must be > 0, got $tok")
        val b = intOpt(t, "buckets").getOrElse(256)
        if (b <= 0) fail(s"$ctx.buckets must be > 0, got $b")
        CorpusBudget(str(t, "by", ctx), tok.toLong, b,
          intOpt(t, "seed").getOrElse(0))
      case "shard" =>
        check("by", "budget", "shuffle_seed")
        val budget = intOpt(t, "budget").getOrElse(fail(s"$ctx needs a budget"))
        if (budget <= 0) fail(s"$ctx.budget must be > 0, got $budget")
        CorpusShard(str(t, "by", ctx), budget.toLong,
          intOpt(t, "shuffle_seed"))
      case "diff" =>
        check("against")
        CorpusDiff(str(t, "against", ctx))
      case "extract" =>
        check("format")
        val fmt = strOpt(t, "format").getOrElse("html")
        if (fmt != "html")
          fail(s"$ctx.format: only 'html' is supported, got '$fmt'")
        CorpusExtract(fmt)
      case "gopher" =>
        check("min_words", "max_words", "min_mean_len", "max_mean_len",
          "max_symbol_ratio", "min_alpha_frac", "min_stops")
        val g = CorpusGopher(
          intOpt(t, "min_words").map(_.toLong),
          intOpt(t, "max_words").map(_.toLong),
          dblOpt(t, "min_mean_len"), dblOpt(t, "max_mean_len"),
          dblOpt(t, "max_symbol_ratio"), dblOpt(t, "min_alpha_frac"),
          intOpt(t, "min_stops"))
        if (Seq(g.minWords, g.maxWords, g.minMeanLen, g.maxMeanLen,
          g.maxSymbolRatio, g.minAlphaFrac, g.minStops).forall(_.isEmpty))
          fail(s"$ctx needs at least one bound")
        g
      case "dedup_lines" =>
        check("min_freq")
        val f = intOpt(t, "min_freq").getOrElse(2)
        if (f < 2) fail(s"$ctx.min_freq must be >= 2, got $f")
        CorpusDedupLines(f.toLong)
      case "corrupt" =>
        check()
        CorpusCorrupt()
      case "fim" =>
        check("rate")
        val r = dblOpt(t, "rate").getOrElse(0.5)
        if (r < 0.0 || r > 1.0)
          fail(s"$ctx.rate must be in [0, 1], got $r")
        CorpusFim(r)
      case other => fail(s"unknown corpus step '$other'")
    }
  }

  private def parseCorpus(raw: Any): CorpusDef = {
    val t = asTree(raw, "corpus")
    requireKeys(t, Set("source", "id", "text", "steps"), "corpus")
    val steps = t.get("steps").map(v =>
      asList(v, "corpus.steps").map(parseCorpusStep)).getOrElse(Nil)
    // chunk reshapes rows (doc → chunks) and shard appends serving columns,
    // so nothing can follow either
    steps.zipWithIndex.foreach {
      case (_: CorpusChunk, i) if i != steps.length - 1 =>
        fail("corpus: 'chunk' must be the last step (it reshapes rows)")
      case (_: CorpusShard, i) if i != steps.length - 1 =>
        fail("corpus: 'shard' must be the last step (it appends serving columns)")
      case (_: CorpusCorrupt, i) if i != steps.length - 1 =>
        fail("corpus: 'corrupt' must be the last step (it reshapes rows " +
          "into (inputs, targets) pairs)")
      case (_: CorpusFim, i) if i != steps.length - 1 =>
        fail("corpus: 'fim' must be the last step (it reshapes rows into " +
          "PSM pretraining examples)")
      case _ => ()
    }
    CorpusDef(str(t, "source", "corpus"),
      strOpt(t, "id").getOrElse("doc_id"),
      strOpt(t, "text").getOrElse("text"), steps)
  }

  /** Parse one whole project document. */
  def parseProject(yaml: String): Project = {
    val mapper = new ObjectMapper(new YAMLFactory())
    val rawTree = toScala(mapper.readValue(yaml, classOf[java.util.Map[String, Object]]))
      .asInstanceOf[Tree]
    val globals = rawTree.get("globals").map(asTree(_, "globals")).getOrElse(Map.empty)
    val tree = interpolate(rawTree - "globals", globals).asInstanceOf[Tree]
    requireKeys(tree, Set("sources", "streams", "dataset", "tasks", "profiles",
      "observability", "corpus"), "project")
    val p = Project(
      tree.get("sources").map(v => asList(v, "sources").map(parseSource)).getOrElse(Nil),
      tree.get("streams").map(v => asList(v, "streams").map(parseStream)).getOrElse(Nil),
      tree.get("dataset").map(parseDataset),
      tree.get("tasks").map(v => asList(v, "tasks").map(parseTask)).getOrElse(Nil),
      tree.get("profiles").map(v => asList(v, "profiles").map(parseProfile)).getOrElse(Nil),
      tree.get("observability").map(parseObservability),
      tree.get("corpus").map(parseCorpus))
    def dups[A](xs: Seq[A], id: A => String, what: String): Unit = {
      val d = xs.groupBy(id).collect { case (k, vs) if vs.length > 1 => k }
      if (d.nonEmpty) fail(s"duplicate $what id(s): ${d.mkString(", ")}")
    }
    dups(p.sources, (_: SourceDef).id, "source")
    dups(p.streams, (_: StreamDef).id, "stream")
    dups(p.tasks, (_: TaskDef).id, "task")
    dups(p.profiles, (_: ProfileDef).id, "profile")
    p.tasks.foreach {
      case TicksTask(id, stream, _) =>
        if (!p.streams.exists(_.id == stream))
          fail(s"task '$id': unknown stream '$stream'")
      case _ =>
        if (p.dataset.isEmpty)
          fail("dataset-stage tasks require a 'dataset' section")
    }
    p.corpus.foreach { c =>
      if (!p.sources.exists(_.id == c.source))
        fail(s"corpus: unknown source '${c.source}'")
      c.steps.foreach {
        case dec: CorpusDecontaminate =>
          if (!p.sources.exists(_.id == dec.benchmark))
            fail(s"corpus: decontaminate references unknown source '${dec.benchmark}'")
        case _ => ()
      }
    }
    p.profiles.foreach { prof =>
      prof.stream.foreach { s =>
        if (!p.streams.exists(_.id == s))
          fail(s"profile '${prof.id}': unknown stream '$s'")
      }
      if (prof.cmd == "materialize" && p.dataset.isEmpty && p.corpus.isEmpty)
        fail(s"profile '${prof.id}': cmd 'materialize' requires a 'dataset' or 'corpus' section")
      prof.operation.foreach { op =>
        if (!p.tasks.exists(_.id == op))
          fail(s"profile '${prof.id}': unknown task operation '$op'")
      }
    }
    p
  }
}
