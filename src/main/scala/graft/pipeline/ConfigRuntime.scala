package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TimeFns
import graft.operators.{Assembly, Compose, StreamKey}

/** Executes a parsed [[Config.Project]]: resolves every stream into ONE
  * declarative DataFrame plan and runs the dataset journey (assembly →
  * postprocess → split/folds → per-fold scaler) — the Spark twin of the
  * reference's `jerry serve` dataset runtime
  * (pipelines/dataset/pipeline.py:48 and the services/streams package).
  *
  * Scale posture: stream resolution is pure plan composition (no action);
  * source-backed streams read column-pruned scans, broadcast streams become
  * broadcast hash joins, aligned streams become sort-merge joins on
  * (partition, time). The dataset runtime shuffles data rows once for
  * assembly; coverage metadata (≤ |vectors| rows) and per-fold scaler stats
  * (|folds| rows) are the only driver-side materializations, mirroring the
  * reference's metadata.json / scaler.json artifacts.
  */
object ConfigRuntime {

  /** Resolve one stream id into a DataFrame (memoized across the project so
    * a diamond dependency is planned once).
    */
  final class Resolver(spark: SparkSession, dataDir: String,
                       project: Config.Project) {
    private val memo = scala.collection.mutable.Map.empty[String, DataFrame]
    private val visiting = scala.collection.mutable.Set.empty[String]

    /** The stream's resolved partition identity (source-backed streams
      * declare it; derived/broadcast/aligned streams inherit it).
      */
    def partitionBy(id: String): Seq[String] = project.stream(id).from match {
      case Config.FromSource(_)       => project.stream(id).partitionBy
      case Config.FromStream(s)       => partitionBy(s)
      case Config.FromBroadcast(s, _) => partitionBy(s)
      case Config.FromAlign(inputs)   => partitionBy(inputs.head)
    }

    def tiebreak(id: String): Seq[String] = {
      val own = project.stream(id).tiebreak
      if (own.nonEmpty) own
      else project.stream(id).from match {
        case Config.FromSource(_)       => Nil
        case Config.FromStream(s)       => tiebreak(s)
        case Config.FromBroadcast(s, _) => tiebreak(s)
        case Config.FromAlign(inputs)   => tiebreak(inputs.head)
      }
    }

    private def key(id: String): StreamKey =
      StreamKey(partitionBy(id), "time", tiebreak(id))

    /** Read one declared source by id (the corpus journey consumes raw
      * document sources without the stream machinery's time contract).
      */
    def sourceFrame(id: String): DataFrame = readSource(project.source(id))

    private def readSource(src: Config.SourceDef): DataFrame = {
      if (src.transport == "synthetic")
        return graft.sources.Synthetic.timeTicks(spark,
          src.options("start"), src.options("end"),
          src.options.getOrElse("frequency", "1h"))
      if (src.transport == "http") {
        // staging transport (sources/Http.scala): fetch ONCE driver-side,
        // then the normal distributed read. Staged under the JVM tmpdir
        // here; a cluster deployment stages to shared storage instead.
        val headers = src.options.collect {
          case (k, v) if k.startsWith("header.") => k.stripPrefix("header.") -> v
        }
        val params = src.options.collect {
          case (k, v) if k.startsWith("param.") => k.stripPrefix("param.") -> v
        }.toSeq
        val readerOpts = src.options.filterNot { case (k, _) =>
          k.startsWith("header.") || k.startsWith("param.") }
        val dest = graft.sources.Http.stagedPath(src.path, src.id, src.format)
        graft.sources.Http.fetchToLocal(src.path, dest, headers, params)
        val reader = spark.read.options(readerOpts)
        return src.format match {
          case "csv" => reader.option("header", "true")
            .option("inferSchema", "true").csv(dest)
          case _     => reader.json(dest)
        }
      }
      val path = if (src.path.startsWith("/")) src.path
                 else s"$dataDir/${src.path}"
      // same session posture as sources.Tables: ms-precision parquet
      // timestamps read as session-TZ TIMESTAMP, not NTZ; TIMESTAMP(NANOS)
      // columns (which the vectorized reader rejects) surface as long ns
      spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val reader = spark.read.options(src.options)
      src.format match {
        case "parquet"        => reader.parquet(path)
        case "csv"            => reader.option("header", "true")
          .option("inferSchema", "true").csv(path)
        case "json" | "jsonl" => reader.json(path)
        case other            => graft.plugins.Plugins.loader(other)
          .getOrElse(throw new IllegalArgumentException(
            s"config: no plugin loader for format '$other'"))
          .apply(spark, path, src.options)
      }
    }

    /** The stream's INPUT stage (reference preview stage "input",
      * operations/runtime/dataset.py:150): a source-backed stream's raw
      * source frame before any mapping; a derived stream's upstream output
      * (the reference previews a derived stream through its upstream's
      * stages the same way).
      */
    def raw(id: String): DataFrame = project.stream(id).from match {
      case Config.FromSource(srcId) => readSource(project.source(srcId))
      case Config.FromStream(parent) => stream(parent)
      case Config.FromBroadcast(primary, bcast) =>
        require(partitionBy(primary).nonEmpty,
          s"config: broadcast primary '$primary' must be partitioned")
        require(project.stream(bcast).partitionBy.isEmpty,
          s"config: broadcast input '$bcast' must be unpartitioned")
        Compose.broadcastJoin(stream(primary), stream(bcast), "time")
      case Config.FromAlign(inputs) =>
        val parts = inputs.map(partitionBy)
        require(parts.distinct.length == 1,
          s"config: aligned inputs must share partition_by; got $parts")
        Compose.alignStreams(inputs.map(stream), parts.head, "time")
    }

    /** The CANONICAL stage (reference "canonical" = through map_records):
      * for source-backed streams the time rename + field projection, before
      * preprocess and ordered transforms; for derived streams the combined
      * upstream frame (reference combine_records).
      */
    def canonical(id: String): DataFrame = {
      val d = project.stream(id)
      d.from match {
        case Config.FromSource(srcId) =>
          val source = project.source(srcId)
          val rawDf = raw(id)
          val renamed =
            if (d.map.time == "time") rawDf
            else rawDf.withColumnRenamed(d.map.time, "time")
          // TIMESTAMP(NANOS) parquet time read as long ns (nanosAsLong) →
          // µs-grain TimestampType, the same normalization as Tables.events.
          // ONLY for fs parquet: that is the one reader nanosAsLong affects.
          // A LongType time from csv/json/http/plugin sources is NOT nanos
          // (it is typically epoch ms/s) — interpreting it as such would
          // silently corrupt every timestamp, so those fail loudly
          // downstream instead.
          val mapped0 =
            if (source.transport == "fs" && source.format == "parquet" &&
                renamed.columns.contains("time") &&
                renamed.schema("time").dataType ==
                  org.apache.spark.sql.types.LongType)
              renamed.withColumn("time", expr("timestamp_micros(time div 1000)"))
            else renamed
          if (d.map.fields.isEmpty) mapped0
          else mapped0.select(("time" +: d.map.fields).distinct.map(col): _*)
        case _ => raw(id)
      }
    }

    /** The RECORDS stage (reference "records" = the full stream pipeline):
      * preprocess + ordered transforms over the canonical frame.
      */
    def stream(id: String): DataFrame = memo.getOrElseUpdate(id, {
      if (!visiting.add(id))
        throw new IllegalArgumentException(s"config: stream cycle at '$id'")
      val d = project.stream(id)
      val base = canonical(id)
      val out = d.from match {
        case Config.FromSource(_) =>
          val pre = Pipeline.run(base, key(id), d.preprocess)
          Pipeline.run(pre, key(id), d.transforms)
        case _ => Pipeline.run(base, key(id), d.transforms)
      }
      visiting.remove(id)
      out
    })
  }

  def resolver(spark: SparkSession, dataDir: String,
               project: Config.Project): Resolver = {
    // plugin SQL functions become addressable before any stream resolves
    graft.plugins.Plugins.registerAllFunctions(spark)
    new Resolver(spark, dataDir, project)
  }

  /** Exact decimal mean of a double column — deterministic across engines. */
  private def meanDec(c: Column): Column =
    (sum(c.cast("decimal(30,6)")).cast("double") / count(c))

  /** Assembled samples plus the vector bookkeeping that the dataset journey
    * and the declarative tasks share.
    */
  private[pipeline] final case class ProjectAssembly(
      res: Resolver,
      ds: Config.DatasetDef,
      vectors: Seq[Config.VectorDef],
      seqById: Map[String, Config.SequenceDef],
      featureIds: Seq[String],
      targetIds: Seq[String],
      assembled: DataFrame) {
    def keys: Seq[String] = "sample_time" +: ds.sampleKeys
    def entry(id: String): Assembly.VectorEntry = seqById.get(baseId(id)) match {
      case Some(sq) => Assembly.VectorEntry(id, "sequence", sq.size)
      case None     => Assembly.VectorEntry(id)
    }
    /** Vector id behind a (possibly suffixed) assembled column. */
    def baseId(columnName: String): String = {
      val i = columnName.indexOf(Series.IdSeparator)
      if (i < 0) columnName else columnName.substring(0, i)
    }
  }

  /** Post-column-selection view: conformed + row-filtered samples. */
  private[pipeline] final case class PostStage(
      frame: DataFrame, retainedF: Seq[String], retainedT: Seq[String]) {
    def retained: Seq[String] = retainedF ++ retainedT
  }

  /** Resolve streams and assemble the project's samples (shared by
    * [[dataset]] and [[runTasks]]).
    */
  private[pipeline] def assemble(spark: SparkSession, dataDir: String,
                                 project: Config.Project): ProjectAssembly = {
    val ds = project.dataset.getOrElse(
      throw new IllegalArgumentException("config: project has no dataset section"))
    val res = resolver(spark, dataDir, project)
    val vectors = ds.features ++ ds.targets
    require(vectors.nonEmpty, "config: dataset declares no vectors")
    val (seqVectors, scalarVectors) = vectors.partition(_.sequence.isDefined)
    val seqById = seqVectors.map(v => v.id -> v.sequence.get).toMap

    def checkSampleKeys(streamId: String): Seq[String] = {
      val pb = res.partitionBy(streamId)
      val missing = ds.sampleKeys.filterNot(pb.contains)
      require(missing.isEmpty,
        s"config: sample key(s) ${missing.mkString(", ")} not in " +
          s"partition_by of stream '$streamId'")
      pb
    }

    // --- series projection per referenced stream, then union: every scalar
    // vector becomes (series_id, time, value, keys…) rows. Sample keys must
    // belong to each referenced stream's partition identity (reference rule);
    // the remaining partition fields suffix the series id. The id and value
    // columns are renamed by position to reserved names: a sample key may
    // itself be called `series_id` or `value`.
    val projections = scalarVectors.groupBy(_.stream).toSeq.sortBy(_._1).map {
      case (streamId, vs) =>
        Series.project(res.stream(streamId), checkSampleKeys(streamId),
          ds.sampleKeys, "time", vs.map(v => Series.SeriesConfig(v.id, v.field)))
          .toDF(("__series_id" +: "time" +: "__series_value" +: ds.sampleKeys): _*)
    }

    // --- assembly: one shuffle on (sample_time, keys); wide via pivot. When
    // every partition field is a sample key the series ids are exactly the
    // vector ids (static pivot — single pass); otherwise Spark's dynamic
    // pivot computes the id set first, the same two-pass shape as the
    // reference's series metadata artifact.
    val suffixFree = scalarVectors.map(_.stream).distinct
      .forall(s => res.partitionBy(s).forall(ds.sampleKeys.contains))
    val scalarAssembled: Option[DataFrame] =
      if (scalarVectors.isEmpty) None
      else {
        val long = projections.reduce(_ unionByName _)
        val bucketed = long.withColumn("sample_time",
          TimeFns.floorTime(col("time"), ds.cadence))
        val grouped = bucketed.groupBy(
          (col("sample_time") +: ds.sampleKeys.map(col)): _*)
        Some(
          (if (suffixFree)
             grouped.pivot(col("__series_id"), scalarVectors.map(_.id))
           else grouped.pivot(col("__series_id")))
            .agg(max(col("__series_value"))))
      }

    // --- sequenced vectors (reference SequenceConfig → sequence_series,
    // pipelines/series/stages.py:33): sliding windows per series entity BEFORE
    // bucketing, window time = its last record's time; the bucket cell keeps
    // the max window (same merge rule as the scalar pivot's max(value)). The
    // stream's partition identity must equal the sample keys — array cells
    // don't take series-id suffixes.
    val seqFrames = seqVectors.map { v =>
      val pb = checkSampleKeys(v.stream)
      require(pb.forall(ds.sampleKeys.contains),
        s"config: sequence vector '${v.id}': stream '${v.stream}' must be " +
          "partitioned by the sample keys only")
      val sq = v.sequence.get
      val key = StreamKey(pb, "time", res.tiebreak(v.stream))
      Assembly.sequenceWindows(res.stream(v.stream), key, v.field,
        sq.size, sq.stride, "__seq")
        .withColumn("sample_time", TimeFns.floorTime(col("time"), ds.cadence))
        .groupBy((col("sample_time") +: ds.sampleKeys.map(col)): _*)
        .agg(max(col("__seq")).as(v.id))
    }

    // full outer join: a sample exists wherever ANY vector has data (matches
    // the union-domain of the scalar-only path). localCheckpoint: coverage
    // collects, scaler fit, and the returned plan all consume the assembly —
    // lazy checkpoint materializes it once at the first action.
    val joinKeys = "sample_time" +: ds.sampleKeys
    val assembled = (scalarAssembled.toSeq ++ seqFrames)
      .reduceLeft((a, b) => a.join(b, joinKeys, "full"))
      .localCheckpoint(eager = false)

    // suffixed layouts keep every pivoted column for a given vector id
    val featureIds =
      if (suffixFree) ds.features.map(_.id)
      else assembled.columns.filter(c => ds.features.exists(v =>
        c == v.id || c.startsWith(v.id + Series.IdSeparator))).toSeq
    val targetIds =
      if (suffixFree) ds.targets.map(_.id)
      else assembled.columns.filter(c => ds.targets.exists(v =>
        c == v.id || c.startsWith(v.id + Series.IdSeparator))).toSeq
    ProjectAssembly(res, ds, vectors, seqById, featureIds, targetIds, assembled)
  }

  /** Postprocess: column selection by coverage (features and targets have
    * separate thresholds), conform to the retained contract, then row
    * filtering. Mirrors the reference stage order select → conform → drop.
    */
  private[pipeline] def postprocessStage(a: ProjectAssembly): PostStage = {
    val ds = a.ds
    val assembled = a.assembled
    def retain(ids: Seq[String], threshold: Option[Double]): Seq[String] =
      threshold match {
        case None => ids.filter(assembled.columns.contains)
        case Some(thr) =>
          val known = ids.filter(assembled.columns.contains)
          if (known.isEmpty) Nil
          else {
            val covered = Assembly.coverageStats(assembled, known)
              .filter(col("coverage") >= thr)
              .select("column").collect().map(_.getString(0)).toSet
            ids.filter(covered.contains)
          }
      }
    val retainedF = retain(a.featureIds, ds.postprocess.featureColumnThreshold)
    val retainedT = retain(a.targetIds, ds.postprocess.targetColumnThreshold)
    require(retainedF.nonEmpty, "config: column selection removed every feature")
    val retained = retainedF ++ retainedT
    val conformed = Assembly.conform(assembled, a.keys, retained.map(a.entry))
    val rowFiltered0 = ds.postprocess.featureRowThreshold match {
      case Some(thr) => Assembly.filterRowsByCoverage(conformed, retainedF, thr)
      case None      => conformed
    }
    val rowFiltered = ds.postprocess.targetRowThreshold match {
      case Some(thr) if retainedT.nonEmpty =>
        Assembly.filterRowsByCoverage(rowFiltered0, retainedT, thr)
      case _ => rowFiltered0
    }
    PostStage(rowFiltered, retainedF, retainedT)
  }

  /** The composed dataset journey for a configured project. Output columns:
    * `fold` (fold id — the hash/time label when no folds are declared),
    * `role` (train/validation/test; "all" when no folds are declared),
    * `sample_time`, sample keys, then retained feature/target ids in contract
    * order. `scale: true` vectors are z-scaled with statistics fitted on each
    * fold's train rows only.
    */
  def dataset(spark: SparkSession, dataDir: String,
              project: Config.Project): DataFrame = {
    val a = assemble(spark, dataDir, project)
    val ds = a.ds
    val seqById = a.seqById
    val vectors = a.vectors
    val keys = a.keys
    val post = postprocessStage(a)
    val retained = post.retained
    val rowFiltered = post.frame

    // --- split: one primitive label per sample, then fold/role resolution
    // via a broadcast label→(fold, role) map. Without a split the dataset is
    // one "all" fold.
    val labeled = ds.split match {
      case None => rowFiltered.withColumn("__label", lit("all"))
      case Some(Config.HashSplit(seed, ratios, _)) =>
        // token = complete sample key (reference HashLabeler over group_key)
        val token = concat_ws("|",
          (unix_micros(col("sample_time")).cast("string") +:
            ds.sampleKeys.map(k => col(k).cast("string"))): _*)
        rowFiltered.withColumn("__label",
          Assembly.hashSplitLabel(token, ratios, seed))
      case Some(Config.TimeSplit(intervals, _)) =>
        rowFiltered.withColumn("__label",
          Assembly.timeSplitLabel(col("sample_time"), intervals))
    }
    val folds = ds.split.map(_.folds).getOrElse(Nil)
    val withFolds =
      if (folds.isEmpty)
        labeled.withColumn("fold", col("__label"))
          .withColumn("role", lit("all")).drop("__label")
      else {
        val mapping = folds.flatMap { f =>
          f.train.map((f.id, "train", _)) ++
            f.validation.map((f.id, "validation", _)) ++
            f.test.map((f.id, "test", _))
        }
        val mapDf = spark.createDataFrame(mapping)
          .toDF("fold", "role", "__label")
        // inner join: labels in no fold are purge/embargo intervals (dropped)
        labeled.join(broadcast(mapDf), Seq("__label")).drop("__label")
      }

    // --- per-fold scaler: fit on each fold's TRAIN rows only, apply to all
    // of that fold's rows (reference FoldedScalerArtifact.for_fold). Stats
    // are |folds| rows — broadcast back. std rounds to 6dp at fit time for
    // cross-engine bit-reproducibility (same as DatasetPipeline). Sequenced
    // vectors scale ELEMENTWISE (reference _scale_value's list branch) with
    // statistics fitted over the train rows' window elements.
    val scaled = vectors.filter(_.scale).map(_.id)
      .flatMap(id => retained.filter(c =>
        c == id || c.startsWith(id + Series.IdSeparator)))
    val (scaledSeq, scaledScalar) = scaled.partition(seqById.contains)
    val ordered = (Seq("fold", "role") ++ keys ++ retained).map(col)
    if (scaled.isEmpty) return withFolds.select(ordered: _*)
    // unfolded projects fit over the whole dataset (reference
    // _fit_standard_scaler); folded projects fit per fold on train rows only
    val trainRows =
      if (folds.isEmpty) withFolds
      else withFolds.filter(col("role") === "train")
    val joined0 =
      if (scaledScalar.isEmpty) withFolds
      else {
        val statAggs = scaledScalar.flatMap { f =>
          Seq(meanDec(col(f)).as(s"${f}__mean"),
            round(greatest(coalesce(stddev_pop(col(f)), lit(0.0)), lit(1e-12)), 6)
              .as(s"${f}__std"))
        }
        val stats = trainRows
          .groupBy(col("fold")).agg(statAggs.head, statAggs.tail: _*)
        withFolds.join(broadcast(stats), Seq("fold"))
      }
    val joined = scaledSeq.foldLeft(joined0) { (d, f) =>
      val stats = trainRows.select(col("fold"), explode(col(f)).as("__x"))
        .groupBy(col("fold"))
        .agg(meanDec(col("__x")).as(s"${f}__mean"),
          round(greatest(coalesce(stddev_pop(col("__x")), lit(0.0)), lit(1e-12)), 6)
            .as(s"${f}__std"))
      d.join(broadcast(stats), Seq("fold"))
    }
    val out0 = scaledScalar.foldLeft(joined) { (d, f) =>
      d.withColumn(f, (col(f) - col(s"${f}__mean")) / col(s"${f}__std"))
    }
    val out = scaledSeq.foldLeft(out0) { (d, f) =>
      d.withColumn(f,
        transform(col(f), x => (x - col(s"${f}__mean")) / col(s"${f}__std")))
    }
    out.select(ordered: _*)
  }

  /** Execute the project's `corpus:` journey — the config surface for the
    * §2.7 curation operators: read the document source, then fold the
    * declared steps (quality gate → exact dedup → near-dup dedup →
    * benchmark decontamination → chunking) into ONE declarative plan.
    *
    * Scale posture per step: filter is a pure codegen'd predicate; exact
    * dedup shuffles sha256 digests (never bodies) and keeps min-id; fuzzy
    * dedup is the bucketed minhash + connected-components path
    * (Dedup.dupClusters — no all-pairs join); decontaminate is a per-row
    * probe against the benchmark's n-gram set (exact) or bitmap (bloom);
    * chunk is per-row codegen. Corpus-sized shuffles: the dedup keys, and
    * the join-backs of the snapshotting steps (dedup_fuzzy, dedup_lines,
    * tokenize), which shuffle the document bodies by id unless AQE
    * broadcasts the kept-id side.
    */
  def corpus(spark: SparkSession, dataDir: String,
             project: Config.Project): DataFrame =
    corpusThrough(spark, dataDir, project, through = None)

  /** The corpus journey cut after `through` steps (None = all) — the
    * per-step preview behind `inspect --stage corpus [--id <k>]`.
    */
  def corpusThrough(spark: SparkSession, dataDir: String,
                    project: Config.Project,
                    through: Option[Int]): DataFrame = {
    import graft.functions.Text
    val c = project.corpus.getOrElse(throw new IllegalArgumentException(
      "config: project has neither a dataset nor a corpus section to materialize"))
    through.foreach { k =>
      require(k >= 0 && k <= c.steps.length,
        s"config: corpus has ${c.steps.length} steps; cannot preview step $k")
    }
    val res = resolver(spark, dataDir, project)
    val id = col(c.idCol)
    val text = col(c.textCol)
    val steps = through.fold(c.steps)(c.steps.take)
    // every text is distinct: a dedup_exact ran and no later step rewrote
    // the text column or added rows — the near-dup clustering then skips
    // its duplication probe
    var textsDistinct = false
    steps.foldLeft(res.sourceFrame(c.source)) { (df, step) =>
      textsDistinct = step match {
        case Config.CorpusDedupExact() => true
        case _: Config.CorpusFilter | _: Config.CorpusGopher |
             _: Config.CorpusDedupFuzzy | _: Config.CorpusDecontaminate |
             _: Config.CorpusDedupIncremental | _: Config.CorpusTokenize |
             _: Config.CorpusSelect | _: Config.CorpusClassify |
             _: Config.CorpusMix | _: Config.CorpusBudget => textsDistinct
        case _ => false
      }
      step match {
        case f: Config.CorpusFilter =>
          df.filter(corpusFilterCond(text, f))
        case Config.CorpusDedupExact() =>
          // keep the smallest id per identical text; the shuffle key is the
          // text DIGEST, so long bodies never cross the wire twice. NULL
          // texts dedup as their own group (the "null:" sentinel cannot
          // collide with a real text's "t:"-prefixed digest) — a null-unsafe
          // join key would silently drop every null-text document instead
          // of keeping one. Checkpoint: the digest frame feeds both the
          // keeper aggregate and the join-back.
          val hashed = df.withColumn("__h",
            sha2(coalesce(concat(lit("t:"), text.cast("string")),
              lit("null:")), 256))
            .localCheckpoint(eager = false)
          val keepers = hashed.groupBy(col("__h"))
            .agg(min(id).as(c.idCol))
          hashed.join(keepers, Seq("__h", c.idCol)).drop("__h")
        case Config.CorpusDedupFuzzy(threshold, keep) =>
          // snapshot the curated-so-far frame ONCE: the clustering consumes
          // it several times (duplication probe, signature build, CC
          // rounds) and the canonical set joins back against it — without
          // the checkpoint the upstream filter/dedup subtree recomputes per
          // action (measured 6.5 s → ~3.8-4.3 s at sf0.1, similar load)
          val snap = df.localCheckpoint(eager = false)
          val collapse = if (textsDistinct) Some(false) else None
          val canonical =
            if (keep == "best_quality")
              // quality-ranked keep: the highest-qualityScore copy per
              // cluster survives (ties to min id) — Dedup.keepBest
              graft.operators.Dedup
                .keepBest(snap, c.textCol, c.idCol,
                  Text.qualityScore(text), threshold = threshold,
                  collapseOverride = collapse)
                .where(col("keep")).select(col(c.idCol))
            else
              graft.operators.Dedup
                .dupClusters(snap, c.textCol, c.idCol, threshold = threshold,
                  collapseOverride = collapse)
                .where(col(c.idCol) === col("cluster_id"))
                .select(col(c.idCol))
          snap.join(canonical, Seq(c.idCol))
        case Config.CorpusDecontaminate(bench, n, "bloom", artifact) =>
          // the benchmark collapses into a fixed bitmap at plan build; the
          // gate is a pure per-row probe — no corpus shuffle, no join, no
          // snapshot needed (the frame is consumed exactly once). With an
          // artifact: train-if-missing — the bitmap persists as JSON and
          // later runs hydrate without touching the benchmark
          val bitmap = bloomBitmapFor(spark, dataDir, project, bench,
            c.textCol, n, artifact)
          df.filter(graft.operators.Curation
            .bloomFlags(text, bitmap, n, numHashes = BloomHashes) === 0L)
        case Config.CorpusDecontaminate(bench, n, _, _) =>
          // exact method: a per-row probe against the benchmark's distinct
          // n-gram set (a scalar subquery, run with the plan) — no
          // snapshot, no join, no corpus exchange; each row is judged on
          // its own text
          df.filter(coalesce(graft.operators.Curation.ngramHits(text,
            res.sourceFrame(bench), c.textCol, n), lit(0L)) === 0L)
        case Config.CorpusChunk(size, stride) =>
          graft.operators.Curation.chunkDocuments(df, c.idCol, c.textCol,
            size, stride)
        case Config.CorpusCorrupt() =>
          // terminal example-builder step: one per-row pass to
          // (inputs, targets) pretraining pairs — block-keyed draws, no
          // scan state, zero shuffle (the span_corrupt head's builder)
          graft.operators.Curation.spanCorrupt(df, c.idCol, c.textCol)
        case Config.CorpusFim(rate) =>
          // terminal example-builder step: per-doc sha-gated PSM reorder
          // (the fim_transform head's builder) — three sha draws per row,
          // zero shuffle
          graft.operators.Curation.fimTransform(df, c.idCol, c.textCol, rate)
        case Config.CorpusDedupIncremental(index, genKey, threshold) =>
          // ingest the curated increment into the persisted index (only
          // NEW distinct texts sign — IncrementalDedup's two-level path),
          // then keep the increment docs canonical across the UNION corpus:
          // a re-crawl of an indexed text has a stored canonical and drops
          val snap = df.localCheckpoint(eager = false)
          val dir = resolvePath(dataDir, index)
          graft.operators.IncrementalDedup.update(spark, dir, snap,
            c.textCol, c.idCol, genKey,
            graft.operators.IncrementalDedup.Params(threshold = threshold))
          val canonical = graft.operators.IncrementalDedup.clusters(spark, dir)
            .where(col("is_canonical")).select(col(c.idCol))
          snap.join(canonical, Seq(c.idCol))
        case Config.CorpusTokenize(artifact, rounds, family) =>
          // train-if-missing: the first run trains on the curated frame and
          // writes the artifact; every later run hydrates the stored merge
          // table and only the vocabulary-sized apply/encode passes run.
          // `family` picks the merge criterion — bpe (count) or wordpiece
          // (likelihood, ## continuation markers); the encode join is the
          // same tf-compressed shape for both.
          val snap = df.localCheckpoint(eager = false)
          val path = resolvePath(dataDir, artifact)
          // The train path encodes with the vocabulary the training loop
          // already merged (word → trained segmentation): rebuilding the
          // initial vocabulary and replaying the merges would cost one more
          // corpus-wide word aggregate for the same encode map.
          val exists = java.nio.file.Files.exists(path)
          val encoded = family match {
            case "wordpiece" =>
              import graft.operators.WordPiece
              if (exists) WordPiece.encodeStatsWith(snap, c.idCol, c.textCol,
                WordPiece.loadTokenizer(path.toString))
              else {
                val m = WordPiece.train(snap, c.textCol, rounds)
                WordPiece.saveTokenizer(path.toString, m.merges)
                graft.operators.Bpe.encodeJoin(snap, c.idCol, c.textCol, m.vocab)
              }
            case _ =>
              import graft.operators.Bpe
              if (exists) Bpe.encodeStatsWith(snap, c.idCol, c.textCol,
                Bpe.loadTokenizer(path.toString))
              else {
                val m = Bpe.train(snap, c.textCol, rounds)
                Bpe.saveTokenizer(path.toString, m.merges)
                Bpe.encodeJoin(snap, c.idCol, c.textCol, m.vocab)
              }
          }
          snap.join(encoded, Seq(c.idCol), "left")
            .na.fill(0L, Seq("n_words", "n_chars", "n_tokens"))
        case Config.CorpusSelect(lang, buckets, minScore, artifact) =>
          // DSIR selection: fit the dense bucket model on the curated frame
          // (train-if-missing under `artifact` — and score under the
          // HYDRATED copy so the save/load path is always the one
          // exercised); scoring is a pure per-row fold over a literal map,
          // zero shuffle
          import graft.operators.Importance
          val snap = df.localCheckpoint(eager = false)
          val model = artifact match {
            case Some(a) =>
              val path = resolvePath(dataDir, a)
              if (!java.nio.file.Files.exists(path))
                Importance.saveModel(path.toString, Importance.dsirModel(
                  snap, c.textCol, Text.langId(text) === lang, buckets))
              Importance.loadModel(path.toString)
            case None => Importance.dsirModel(
              snap, c.textCol, Text.langId(text) === lang, buckets)
          }
          snap.withColumn("dsir_score",
            Importance.dsirScoreExpr(text, model))
            .filter(col("dsir_score") > minScore)
        case Config.CorpusClassify(lang, buckets, iters, eta, minProb, artifact) =>
          // trained quality gate: fit the hashed-feature logistic model on
          // the curated frame (train-if-missing under `artifact` — and
          // score under the HYDRATED copy so the save/load path is always
          // the one exercised); scoring is a pure per-row fold over the
          // weight literal, zero shuffle — probExpr replays the relational
          // rounding chain bit for bit
          import graft.operators.Classifier
          val snap = df.localCheckpoint(eager = false)
          // deterministic sha-ratio training subsample (capped), pushed
          // BEFORE feature construction (fitSampled): the fit cost —
          // tokenize/bucket pass included — is bounded however large the
          // curated frame; at or below the cap the sample IS the frame
          def fit(): Array[Double] =
            Classifier.fitSampled(snap, c.idCol, c.textCol,
              when(Text.langId(text) === lang, 1.0).otherwise(0.0),
              buckets, iters, eta)
          val w = artifact match {
            case Some(a) =>
              val path = resolvePath(dataDir, a)
              if (!java.nio.file.Files.exists(path))
                Classifier.saveModel(path.toString, fit())
              Classifier.loadModel(path.toString)
            case None => fit()
          }
          snap.withColumn("quality_prob",
            Classifier.probExpr(text, w, buckets))
            .filter(col("quality_prob") >= minProb)
        case Config.CorpusMix(by, seed, artifact) =>
          // domain mixture: the bounded rate table (one row per domain)
          // gates the frame with the deterministic sha256-ratio filter.
          // With an artifact: train-if-missing, and the gate applies under
          // the HYDRATED copy as a pure per-row map lookup (the streaming
          // shape); without, the fitted table broadcasts back directly.
          import graft.operators.{Curation, Importance}
          val snap = df.localCheckpoint(eager = false)
          def fitRates(): Map[String, Double] =
            Importance.domainMixRates(snap, by, Text.tokenCountWs(text))
              .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
          artifact match {
            case Some(a) =>
              val path = resolvePath(dataDir, a)
              if (!java.nio.file.Files.exists(path))
                Importance.saveRates(path.toString, fitRates())
              snap.filter(Importance.mixKeepExpr(id, col(by), seed,
                Importance.loadRates(path.toString)))
            case None =>
              val rates = Importance.domainMixRates(snap, by,
                Text.tokenCountWs(text))
              snap.join(broadcast(rates), Seq(by))
                .filter(Curation.hashRatio(id, seed) < col("rate"))
                .drop("rate")
          }
        case Config.CorpusShard(by, budget, shuffleSeed) =>
          // terminal serving step: token-budgeted shard ids appended within
          // each `by` partition (one hash exchange, sequence_pack's rule);
          // with shuffle_seed, the deterministic epoch order (pos within
          // shard + shard order key) rides the same exchange
          shuffleSeed match {
            case Some(seed) =>
              graft.operators.Sharding.shuffleOrder(df, c.idCol, by,
                Text.tokenCountWs(text), budget, seed)
            case None =>
              graft.operators.Sharding.shardAssign(df, c.idCol, by,
                Text.tokenCountWs(text), budget)
          }
        case Config.CorpusDiff(against) =>
          // incremental-crawl gate: keep only pages NEW or CHANGED vs the
          // previous snapshot — bodies never shuffle, only (id, digest)
          // enters the join (digest scheme shared with dedup_exact's
          // "t:"/null sentinel so null texts compare like texts)
          val dgst = sha2(coalesce(concat(lit("t:"), text.cast("string")),
            lit("null:")), 256)
          val prev = res.sourceFrame(against)
            .select(id, sha2(coalesce(
              concat(lit("t:"), col(c.textCol).cast("string")),
              lit("null:")), 256).as("__pd"))
          df.withColumn("__d", dgst)
            .join(prev, Seq(c.idCol), "left")
            .filter(col("__pd").isNull || col("__pd") =!= col("__d"))
            .drop("__d", "__pd")
        case Config.CorpusExtract(_) =>
          // crawl text extraction: the text column becomes the visible
          // text, one line per block element — per-row codegen, no shuffle
          df.withColumn(c.textCol, graft.operators.Crawl.htmlText(text))
        case g: Config.CorpusGopher =>
          df.filter(corpusGopherCond(text, g))
        case Config.CorpusBudget(by, tokens, buckets, seed) =>
          // token-budget sampling (budget_sample's shape): bucket histogram
          // → per-stratum cutoff over ≤buckets rows → strata-row broadcast
          // join back; snapshot — the frame feeds the histogram AND the
          // gate, and the corpus itself never shuffles
          val snap = df.localCheckpoint(eager = false)
          val bucket = floor(graft.operators.Curation.hashRatio(id, seed)
            * buckets).cast("int")
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(by)).orderBy(col("__bk"))
          val cutoff = snap
            .select(col(by), Text.tokenCountWs(text).cast("long").as("__tk"),
              bucket.as("__bk"))
            .groupBy(col(by), col("__bk"))
            .agg(sum(col("__tk")).as("__bt"))
            .withColumn("__cum", sum(col("__bt")).over(w))
            .where(col("__cum") <= tokens)
            .groupBy(col(by)).agg(max(col("__bk")).as("__cut"))
          snap.join(broadcast(cutoff), Seq(by), "left")
            .where(bucket <= coalesce(col("__cut"), lit(-1)))
            .drop("__cut")
        case Config.CorpusDedupLines(minFreq) =>
          // corpus-wide duplicated-line removal: the frequency table
          // aggregates line hashes only; one doc-keyed exchange rebuilds
          // bodies. Snapshot once — the frame feeds the explode AND the
          // join-back.
          val snap = df.localCheckpoint(eager = false)
          val rebuilt = graft.operators.Crawl
            .lineDedup(snap, c.idCol, c.textCol, minFreq)
            .select(col(c.idCol), col("text_clean"))
          snap.drop(c.textCol)
            .join(rebuilt.withColumnRenamed("text_clean", c.textCol),
              Seq(c.idCol))
      }
    }
  }

  /** Bloom-decontamination sizing shared by the batch and streaming
    * journeys (and baked into any persisted bitmap artifact, which
    * validates them on load).
    */
  private val BloomMBits = 1 << 16
  private[graft] val BloomHashes = 2

  /** The benchmark's Bloom bitmap for a `decontaminate method: bloom` step:
    * hydrate the artifact when present, else build from the benchmark
    * source (and persist when an artifact path is declared) — the
    * train-if-missing discipline applied to a bitmap.
    */
  private def bloomBitmapFor(spark: SparkSession, dataDir: String,
                             project: Config.Project, bench: String,
                             textCol: String, n: Int,
                             artifact: Option[String]): Array[Long] = {
    import graft.operators.Curation
    def build() = Curation.bloomBitmap(
      resolver(spark, dataDir, project).sourceFrame(bench), textCol, n,
      BloomMBits, BloomHashes)
    artifact match {
      case Some(a) =>
        val path = resolvePath(dataDir, a)
        if (!java.nio.file.Files.exists(path))
          Curation.saveBloom(path.toString, build(), n, BloomMBits, BloomHashes)
        Curation.loadBloom(path.toString, n, BloomMBits, BloomHashes)
      case None => build()
    }
  }

  /** The Gopher gate as one predicate (batch + streaming share it). */
  private[graft] def corpusGopherCond(text: Column,
                                      g: Config.CorpusGopher): Column =
    graft.operators.Crawl.gopherKeep(text, g.minWords, g.maxWords,
      g.minMeanLen, g.maxMeanLen, g.maxSymbolRatio, g.minAlphaFrac,
      g.minStops)

  /** A config-declared filesystem location, resolved against the data dir
    * when relative (the source-path rule, applied to artifact/index paths).
    */
  private def resolvePath(dataDir: String, p: String): java.nio.file.Path = {
    val path = java.nio.file.Paths.get(p)
    if (path.isAbsolute) path else java.nio.file.Paths.get(dataDir).resolve(p)
  }

  /** The corpus quality gate as one predicate — shared by the batch journey
    * and the streaming variant so the two gates cannot drift.
    */
  private[graft] def corpusFilterCond(text: Column,
                                      f: Config.CorpusFilter): Column = {
    import graft.functions.Text
    Seq(
      f.lang.map(l => Text.langId(text) === l),
      f.minQuality.map(q => Text.qualityScore(text) >= q),
      f.maxRepetition.map(r => Text.repetitionRatio(text) <= r))
      .flatten.reduce(_ && _)
  }

  /** The `corpus:` journey as a STREAMING plan — a continuously-fed crawl
    * curated and exact-deduped at ingest, in one job. Stateless steps
    * (filter, chunk) apply unchanged; `tokenize` streams under an ALREADY
    * -TRAINED artifact (the merge table hydrates at plan build, a per-row
    * fold annotates each arriving doc — training itself needs the batch
    * journey); `dedup_exact` becomes a watermarked digest `dropDuplicates`
    * (each arriving doc hashes once, state holds digests only and is
    * evicted past the watermark horizon — the property that makes it
    * deployable on an infinite crawl; the finite verification harness
    * evicts nothing, so the result is the exact distinct set). Near-dup
    * dedup (single-shot and incremental) and decontamination need
    * corpus-at-rest passes (signatures + connected components / a
    * benchmark join over the whole corpus) and are rejected by name — run
    * the batch journey for those.
    *
    * Streaming keeps FIRST-ARRIVAL per digest where batch keeps min-id, so
    * downstream consumers get one representative per distinct text with
    * arrival-dependent identity — selecting digest-deterministic columns
    * (the digest, the text) is the caller's contract for exact equality
    * with the batch prefix.
    */
  def corpusStream(spark: SparkSession, dataDir: String,
                   project: Config.Project,
                   watermark: String = "10 minutes"): DataFrame = {
    val c = project.corpus.getOrElse(throw new IllegalArgumentException(
      "config: project has no corpus section to stream"))
    val src = project.source(c.source)
    require(src.transport == "fs" && src.format == "parquet",
      s"config: corpus streaming needs an fs parquet source, " +
        s"got ${src.transport}/${src.format}")
    val path = if (src.path.startsWith("/")) src.path
               else s"$dataDir/${src.path}"
    val text = col(c.textCol)
    c.steps.foldLeft(graft.streaming.Streaming.readParquetStream(spark, path)) {
      (df, step) =>
        step match {
          case f: Config.CorpusFilter =>
            df.filter(corpusFilterCond(text, f))
          case Config.CorpusDedupExact() =>
            // same digest scheme as the batch step (ConfigRuntime
            // CorpusDedupExact): "t:"-prefixed text digest, null sentinel
            df.withColumn("__ingest", current_timestamp())
              .withWatermark("__ingest", watermark)
              .withColumn("__h",
                sha2(coalesce(concat(lit("t:"), text.cast("string")),
                  lit("null:")), 256))
              .dropDuplicates("__h")
              .drop("__h", "__ingest")
          case Config.CorpusChunk(size, stride) =>
            graft.operators.Curation.chunkDocuments(df, c.idCol, c.textCol,
              size, stride)
          case Config.CorpusCorrupt() =>
            // stateless per-row example building — streams as it arrives
            graft.operators.Curation.spanCorrupt(df, c.idCol, c.textCol)
          case Config.CorpusFim(rate) =>
            // per-doc sha-gated PSM reorder: pure per-row draws keyed on
            // the doc id — no state store, no join, streams as it arrives
            graft.operators.Curation.fimTransform(df, c.idCol, c.textCol, rate)
          case Config.CorpusTokenize(artifact, _, family) =>
            // streamable ONLY under an already-trained artifact: the merge
            // table hydrates at plan build and the per-row codegen'd fold
            // (BpeStats / WordPieceStats per `family`) annotates each
            // arriving doc — no state, no corpus-at-rest pass. Training
            // needs the batch journey.
            val path = resolvePath(dataDir, artifact)
            require(java.nio.file.Files.exists(path),
              s"config: streaming tokenize needs a trained artifact at " +
                s"'$path' — run the batch corpus journey (train-if-missing) first")
            val stats = family match {
              case "wordpiece" => graft.operators.WordPiece.tokenStatsFast(
                spark, text,
                graft.operators.WordPiece.loadTokenizer(path.toString))
              case _ => graft.operators.Bpe.tokenStatsFast(spark, text,
                graft.operators.Bpe.loadTokenizer(path.toString))
            }
            df.withColumn("__ts", stats)
              .withColumn("n_words", col("__ts.n_words"))
              .withColumn("n_chars", col("__ts.n_chars"))
              .withColumn("n_tokens", col("__ts.n_tokens"))
              .drop("__ts")
          case Config.CorpusSelect(_, _, minScore, artifact) =>
            // streamable ONLY under a trained model (same contract as
            // tokenize): the dense bucket table hydrates at plan build and
            // scoring is a pure per-row fold over a literal map — the
            // importance gate applied to a crawl AT INGEST, zero state
            val a = artifact.getOrElse(throw new IllegalArgumentException(
              "config: streaming select needs an 'artifact' — fitting is a " +
                "corpus-at-rest pass"))
            val path = resolvePath(dataDir, a)
            require(java.nio.file.Files.exists(path),
              s"config: streaming select needs a trained model at '$path' " +
                "— run the batch corpus journey (train-if-missing) first")
            val model = graft.operators.Importance.loadModel(path.toString)
            df.withColumn("dsir_score",
              graft.operators.Importance.dsirScoreExpr(text, model))
              .filter(col("dsir_score") > minScore)
          case Config.CorpusClassify(_, buckets, _, _, minProb, artifact) =>
            // streamable ONLY under a trained model (the select/tokenize
            // contract): the weight vector hydrates at plan build and the
            // probability is a pure per-row fold — the learned quality gate
            // applied to a crawl AT INGEST, zero state
            val a = artifact.getOrElse(throw new IllegalArgumentException(
              "config: streaming classify needs an 'artifact' — fitting is " +
                "a corpus-at-rest pass"))
            val path = resolvePath(dataDir, a)
            require(java.nio.file.Files.exists(path),
              s"config: streaming classify needs a trained model at '$path' " +
                "— run the batch corpus journey (train-if-missing) first")
            val w = graft.operators.Classifier.loadModel(path.toString)
            df.withColumn("quality_prob",
              graft.operators.Classifier.probExpr(text, w, buckets))
              .filter(col("quality_prob") >= minProb)
          case Config.CorpusDecontaminate(bench, n, method, artifact) =>
            // streams ONLY as method: bloom — the benchmark (a batch
            // source) collapses into its bitmap at plan build and each
            // arriving doc probes it per row, zero state; the exact n-gram
            // equi-join needs a corpus-at-rest pass. The artifact hydrates
            // (or builds once) exactly as on the batch journey.
            require(method == "bloom",
              "config: corpus step 'decontaminate' streams only with " +
                "method: bloom (the exact n-gram join needs a " +
                "corpus-at-rest pass); run the batch corpus journey instead")
            val bitmap = bloomBitmapFor(spark, dataDir, project, bench,
              c.textCol, n, artifact)
            df.filter(graft.operators.Curation
              .bloomFlags(text, bitmap, n, numHashes = BloomHashes) === 0L)
          case Config.CorpusMix(by, seed, artifact) =>
            // streamable ONLY under fitted rates (the classify/select
            // contract): the bounded rate table hydrates at plan build and
            // the gate is a per-row map lookup + sha256-ratio filter —
            // zero state; fitting rates needs the corpus at rest
            val a = artifact.getOrElse(throw new IllegalArgumentException(
              "config: streaming mix needs an 'artifact' — fitting the " +
                "rate table is a corpus-at-rest pass"))
            val path = resolvePath(dataDir, a)
            require(java.nio.file.Files.exists(path),
              s"config: streaming mix needs a fitted rate table at '$path' " +
                "— run the batch corpus journey (train-if-missing) first")
            df.filter(graft.operators.Importance.mixKeepExpr(
              col(c.idCol), col(by), seed,
              graft.operators.Importance.loadRates(path.toString)))
          case Config.CorpusDiff(against) =>
            // the incremental gate STREAMS: the previous snapshot is a
            // static batch side re-planned per micro-batch (the
            // stream-static join shape of attachStatic) — each arriving
            // page drops immediately if its digest matches the archive
            val dgst = sha2(coalesce(concat(lit("t:"), text.cast("string")),
              lit("null:")), 256)
            val prev = resolver(spark, dataDir, project)
              .sourceFrame(against)
              .select(col(c.idCol), sha2(coalesce(
                concat(lit("t:"), col(c.textCol).cast("string")),
                lit("null:")), 256).as("__pd"))
            df.withColumn("__d", dgst)
              .join(prev, Seq(c.idCol), "left")
              .filter(col("__pd").isNull || col("__pd") =!= col("__d"))
              .drop("__d", "__pd")
          case Config.CorpusExtract(_) =>
            // extraction is per-row — a crawl enters the stream as raw HTML
            df.withColumn(c.textCol, graft.operators.Crawl.htmlText(text))
          case g: Config.CorpusGopher =>
            df.filter(corpusGopherCond(text, g))
          case other =>
            val name = other match {
              case _: Config.CorpusDedupFuzzy        => "dedup_fuzzy"
              case _: Config.CorpusDedupIncremental  => "dedup_incremental"
              case _: Config.CorpusShard             => "shard"
              case _: Config.CorpusDedupLines        => "dedup_lines"
              case _: Config.CorpusBudget            => "budget"
              case o                                 => o.getClass.getSimpleName
            }
            throw new IllegalArgumentException(
              s"config: corpus step '$name' is not streamable (needs a " +
                "corpus-at-rest pass); run the batch corpus journey instead")
        }
    }
  }

  /** The six preview stages of the dataset journey (reference
    * config/preview.py PREVIEW_STAGES).
    */
  val PreviewStages: Seq[String] =
    Seq("input", "canonical", "records", "series", "samples", "postprocess",
      "corpus")

  /** Dump ONE intermediate stage of the dataset journey (reference
    * config/preview.py PREVIEW_STAGES + operations/runtime/dataset.py
    * _serve_preview) — the config author's first debugging tool:
    *
    *  - `input <streamId>`:     the raw source frame, before mapping
    *  - `canonical <streamId>`: after time rename + field projection
    *  - `records <streamId>`:   the full stream (preprocess + transforms)
    *  - `series [vectorId]`:    the long series projection rows feeding
    *                            assembly (scalar vectors; a sequenced
    *                            vector previews its input stream's records)
    *  - `samples`:              the assembled wide frame, pre-postprocess
    *  - `postprocess`:          after column selection / conform / row
    *                            filtering (pre-split, pre-scale)
    *  - `corpus [k]`:           the corpus journey after k steps (0 = the
    *                            raw document source; omitted = all steps)
    *
    * Like the reference record previews, the three stream stages address a
    * stream id; `series` optionally narrows to one vector id; the two
    * sample stages take no id.
    */
  def previewStage(spark: SparkSession, dataDir: String,
                   project: Config.Project, stage: String,
                   id: Option[String] = None): DataFrame = {
    def streamId: String = id.getOrElse(throw new IllegalArgumentException(
      s"config: preview stage '$stage' requires a stream id " +
        s"(declared: ${project.streams.map(_.id).mkString(", ")})"))
    stage match {
      case "input"     => resolver(spark, dataDir, project).raw(streamId)
      case "canonical" => resolver(spark, dataDir, project).canonical(streamId)
      case "records"   => resolver(spark, dataDir, project).stream(streamId)
      case "series" =>
        val ds = project.dataset.getOrElse(throw new IllegalArgumentException(
          "config: preview stage 'series' requires a dataset section"))
        val res = resolver(spark, dataDir, project)
        val vectors = ds.features ++ ds.targets
        val all = vectors.filter(_.sequence.isEmpty)
        // a sequenced vector has no long-series projection — as documented,
        // its preview IS its input stream's records (the frame the sequence
        // windows are cut from)
        val sequenced =
          id.flatMap(v => vectors.filter(_.sequence.nonEmpty).find(_.id == v))
        sequenced match {
          case Some(v) => res.stream(v.stream)
          case None =>
            val selected = id match {
              case None => all
              case Some(v) =>
                val hit = all.filter(_.id == v)
                require(hit.nonEmpty, s"config: unknown vector '$v' " +
                  s"(declared: ${vectors.map(_.id).mkString(", ")})")
                hit
            }
            require(selected.nonEmpty,
              "config: dataset declares no scalar vectors")
            selected.groupBy(_.stream).toSeq.sortBy(_._1).map {
              case (sid, vs) =>
                Series.project(res.stream(sid), res.partitionBy(sid),
                  ds.sampleKeys, "time",
                  vs.map(v => Series.SeriesConfig(v.id, v.field)))
            }.reduce(_ unionByName _)
        }
      case "samples" => assemble(spark, dataDir, project).assembled
      case "postprocess" =>
        postprocessStage(assemble(spark, dataDir, project)).frame
      case "corpus" =>
        require(project.corpus.nonEmpty,
          "config: preview stage 'corpus' requires a corpus section")
        // optional id = how many steps to run (0 = the raw source); no id
        // previews the whole journey
        val through = id.map { k =>
          try k.toInt
          catch {
            case _: NumberFormatException => throw new IllegalArgumentException(
              s"config: corpus preview takes a step count, got '$k'")
          }
        }
        corpusThrough(spark, dataDir, project, through)
      case other => throw new IllegalArgumentException(
        s"config: unknown preview stage '$other' " +
          s"(${PreviewStages.mkString(" | ")})")
    }
  }

  /** Run the project's declarative `tasks:` (reference config/tasks/⋆.py) and
    * union their reports into one long frame:
    * `(task, item, metric, value, value_str)` — numeric observations in
    * `value`, categorical ones (matrix statuses, vector kinds) in
    * `value_str`. Dataset-stage tasks share ONE assembly (localCheckpoint),
    * so running n tasks costs one shuffle, not n.
    */
  def runTasks(spark: SparkSession, dataDir: String,
               project: Config.Project,
               only: Option[Set[String]] = None): DataFrame = {
    // `only` prunes BEFORE any frame is built: running one task must not
    // pay for (or fail on) unrelated tasks' validation and driver-side
    // collects — an inspect of the ticks task should never force the
    // assembly shuffle of a scaler task it didn't ask for
    val selected = project.tasks.filter(t => only.forall(_.contains(t.id)))
    require(selected.nonEmpty, "config: project declares no matching tasks")
    val outCols = Seq(col("task"), col("item"), col("metric"),
      col("value"), col("value_str"))
    val nullStr = lit(null).cast("string")
    val nullNum = lit(null).cast("double")

    lazy val a = assemble(spark, dataDir, project)
    lazy val post = postprocessStage(a)
    // stage view: the columns a task sees and the frame they live in
    def stage(name: String): (DataFrame, Seq[String], Seq[String]) = name match {
      case "assembled" => (a.assembled, a.featureIds, a.targetIds)
      case _           => (post.frame, post.retainedF, post.retainedT)
    }

    val frames = selected.map {
      case Config.CoverageTask(id, threshold, st) =>
        val (frame, fids, tids) = stage(st)
        Assembly.coverageStats(frame, fids ++ tids)
          .select(col("column").as("item"), explode(array(
            struct(lit("coverage").as("metric"),
              round(col("coverage"), 6).as("value")),
            struct(lit("meets_threshold").as("metric"),
              when(col("coverage") >= threshold, 1.0).otherwise(0.0).as("value")),
            struct(lit("non_null").as("metric"),
              col("non_null").cast("double").as("value")),
            struct(lit("present").as("metric"),
              col("present").cast("double").as("value")))).as("m"))
          .select(lit(id).as("task"), col("item"), col("m.metric").as("metric"),
            col("m.value").as("value"), nullStr.as("value_str"))

      case Config.MatrixTask(id, st, maxCells) =>
        val (frame, fids, tids) = stage(st)
        // sample_time → epoch-µs inside the group key (timestamp→string
        // rendering is engine-specific; µs integers are not)
        val usFrame = frame.withColumn("sample_time",
          unix_micros(col("sample_time")))
        val entries =
          fids.map(f => Assembly.MatrixEntry("feature", f,
            a.seqById.get(a.baseId(f)).map(_.size))) ++
          tids.map(t => Assembly.MatrixEntry("target", t,
            a.seqById.get(a.baseId(t)).map(_.size)))
        Assembly.availabilityMatrix(usFrame, a.keys, entries, maxCells)
          .select(lit(id).as("task"),
            concat(col("identifier"), lit("@"), col("grp")).as("item"),
            lit("status").as("metric"), nullNum.as("value"),
            col("status").as("value_str"))

      case Config.ScalerTask(id, withMean, withStd, epsilon) =>
        val (frame, fids, tids) = stage("postprocessed")
        val scaledIds = a.vectors.filter(_.scale).map(_.id)
          .flatMap(v => (fids ++ tids).filter(c =>
            c == v || c.startsWith(v + Series.IdSeparator)))
        require(scaledIds.nonEmpty,
          s"config: task '$id': no scale: true vectors to fit")
        // unfolded fit over the whole stage frame (reference
        // _fit_standard_scaler); sequence vectors observe window ELEMENTS.
        // with_mean/with_std mirror the reference scaler options: a
        // disabled statistic reports its identity value (mean 0 / std 1 —
        // "no centering" / "no scaling"), not a silently-fitted one.
        val perField = scaledIds.map { f =>
          val obs =
            if (a.seqById.contains(a.baseId(f)))
              frame.select(explode(col(f)).as("__x"))
            else frame.select(col(f).as("__x"))
          val meanCol = if (withMean) meanDec(col("__x")) else lit(0.0)
          val stdCol =
            if (withStd) round(greatest(coalesce(stddev_pop(col("__x")),
              lit(0.0)), lit(epsilon)), 6)
            else lit(1.0)
          obs.agg(
            meanCol.as("mean"), stdCol.as("std"),
            count(col("__x")).cast("double").as("cnt"))
            .select(explode(array(
              struct(lit("mean").as("metric"), col("mean").as("value")),
              struct(lit("std").as("metric"), col("std").as("value")),
              struct(lit("count").as("metric"), col("cnt").as("value")))).as("m"))
            .select(lit(id).as("task"), lit(f).as("item"),
              col("m.metric").as("metric"), col("m.value").as("value"),
              nullStr.as("value_str"))
        }
        perField.reduce(_ unionByName _)

      case Config.MetadataTask(id) =>
        val (_, fids, tids) = stage("postprocessed")
        val rows = (fids.map(_ -> false) ++ tids.map(_ -> true)).flatMap {
          case (f, isTarget) =>
            val vdef = a.vectors.find(v => v.id == a.baseId(f))
            val kind = if (a.seqById.contains(a.baseId(f))) "sequence" else "scalar"
            val len = a.seqById.get(a.baseId(f)).map(_.size).getOrElse(0)
            Seq((id, f, "length", len.toDouble, kind),
              (id, f, "is_target", if (isTarget) 1.0 else 0.0, null: String),
              (id, f, "scaled", if (vdef.exists(_.scale)) 1.0 else 0.0,
                null: String))
        }
        spark.createDataFrame(rows)
          .toDF("task", "item", "metric", "value", "value_str")

      case Config.TicksTask(id, streamId, gridBy) =>
        // canonical tick grid: distinct (grid_by, time) of the resolved
        // stream (reference operations/artifacts/ticks.py materialize_ticks)
        val res2 = resolver(spark, dataDir, project)
        res2.stream(streamId)
          .select((gridBy :+ "time").map(col): _*).distinct()
          .select(lit(id).as("task"),
            concat_ws(";", gridBy.map(c => col(c).cast("string")): _*).as("item"),
            lit("tick_us").as("metric"),
            unix_micros(col("time")).cast("double").as("value"),
            nullStr.as("value_str"))
    }
    frames.reduce(_ unionByName _).select(outCols: _*)
  }
}
