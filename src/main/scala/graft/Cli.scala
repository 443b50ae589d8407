package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.observability.Observability
import graft.pipeline.{Config, ConfigRuntime}
import graft.sources.{Hygiene, Runs}

/** Command-line entry point (reference: cli/app.py + cli/commands/
  * materialize.py — run a YAML project document and serve the result into a
  * run-scoped output directory).
  *
  * {{{
  *   graft.Cli materialize <project.yaml> <dataDir> <serveRoot> [previewRows]
  *   graft.Cli stream      <project.yaml> <streamId> <dataDir> [limit]
  *   graft.Cli run         <project.yaml> <profileId> <dataDir> [serveRoot]
  * }}}
  *
  * `materialize` = parse project → build the dataset plan → write parquet
  * into `serveRoot/runs/<run_id>/dataset` → mark run success → repoint
  * `latest` (reference materialize + io/runs.py lifecycle; a failure marks
  * the run `failed` and leaves `latest` on the previous good run).
  * `stream` = preview a canonical stream to stdout (reference `demo`-style
  * inspection via the stdout sink).
  */
object Cli {

  /** Per-plan reduce-parallelism posture around every materialize/task
    * action — the engine default (pipeline/Posture.scala), not a harness
    * nicety: a `graft.Cli run` over a 600M-row project deserves the same
    * sort-at-core-count / wide-at-volume rule Bench measures under.
    */
  private def posture[T](df: org.apache.spark.sql.DataFrame,
                         label: String)(action: => T): T =
    graft.pipeline.Posture.during(df,
      df.sparkSession.sparkContext.defaultParallelism, label)(action)

  private def write(df: org.apache.spark.sql.DataFrame, format: String,
                    dir: String): Unit = posture(df, s"write:$dir") {
    val w = df.write.mode("overwrite")
    format match {
      case "csv"   => w.option("header", "true").csv(dir)
      case "jsonl" => w.json(dir)
      case _       => w.parquet(dir)
    }
  }

  private def read(spark: SparkSession, format: String, dir: String) =
    format match {
      case "csv" => spark.read.option("header", "true")
        .option("inferSchema", "true").csv(dir)
      case "jsonl" => spark.read.json(dir)
      case _       => spark.read.parquet(dir)
    }

  def materialize(spark: SparkSession, configPath: String, dataDir: String,
                  serveRoot: String, preview: Int = 0,
                  format: String = "parquet",
                  out: java.io.PrintStream = System.out,
                  ifChanged: Boolean = false,
                  artifactsRoot: Option[String] = None): Runs.RunPaths =
    // one mutating command per serve root (fail-fast lock) + sweep any
    // orphaned scratch dirs a crashed run left behind before starting
    Hygiene.withExecutionLock(Paths.get(serveRoot)) {
      Hygiene.cleanTempDirs(Hygiene.tempRoot(Paths.get(serveRoot)))
      val project = Config.parseProject(Files.readString(Paths.get(configPath)))
      // prepare declared task artifacts FIRST (reference profiles/
      // orchestration.py: run_build_if_needed precedes every runtime op) —
      // incremental, so a fresh store costs one stat+hash pass, no jobs
      artifactsRoot.filter(_ => project.tasks.nonEmpty).foreach { root =>
        graft.pipeline.ArtifactGraph.build(spark, dataDir, project,
          Paths.get(root), out = out)
      }
      // incremental materialize: unchanged config + unchanged inputs since
      // the last SUCCESSFUL run → keep serving `latest`, run no Spark job
      val fp = if (ifChanged)
        Some(graft.pipeline.ArtifactCache.datasetFingerprint(project, dataDir))
      else None
      fp.flatMap(f => currentRun(serveRoot, f)) match {
        case Some(live) =>
          out.println(s"run ${live.runId} up to date [${fp.get.take(12)}]")
          live
        case None =>
          // obs lifecycle encloses EVERYTHING after start — a dataset()
          // that fails at driver time (eager coverage/scaler collects)
          // must still stop the heartbeat and unregister the listeners
          val obs = Observability.start(spark, project.observability, out)
          var metricsPath: Option[java.nio.file.Path] = None
          val paths =
            try {
              // a project materializes its dataset journey; a corpus-only
              // project (no dataset section) materializes its curation
              // journey — same run lifecycle either way
              val df =
                if (project.dataset.nonEmpty)
                  ConfigRuntime.dataset(spark, dataDir, project)
                else ConfigRuntime.corpus(spark, dataDir, project)
              val p = Runs.runPaths(serveRoot, Runs.makeRunId())
              Runs.startRun(p)
              obs.bindRunDir(p.runRoot)
              metricsPath = Some(p.runRoot.resolve("metrics.json"))
              try {
                write(df, format, p.datasetDir.toString)
                // the explicit series checkpoint manifest (reference
                // artifacts/series.py SeriesManifest): what the dataset
                // contains + fingerprints of the exact bytes serving it
                if (project.dataset.nonEmpty && format == "parquet")
                  graft.pipeline.SeriesManifest.write(p.runRoot,
                    graft.pipeline.SeriesManifest.build(spark, p,
                      project.dataset.get))
                fp.foreach(f =>
                  Files.writeString(p.runRoot.resolve("fingerprint"), f))
                Runs.finishRun(p, "success")
              } catch {
                case e: Throwable =>
                  Runs.finishRun(p, "failed", Some(String.valueOf(e.getMessage)))
                  throw e
              }
              p
            } finally Observability.finish(spark, obs, metricsPath)
          out.println(s"run ${paths.runId} -> ${paths.datasetDir}")
          if (preview > 0)
            Runs.writeText(read(spark, format, paths.datasetDir.toString),
              preview, out)
          paths
      }
    }

  /** The live (`latest`) run iff it succeeded with this fingerprint. */
  private def currentRun(serveRoot: String, fp: String): Option[Runs.RunPaths] = {
    val latest = Paths.get(serveRoot).resolve("latest")
    if (!Files.isSymbolicLink(latest)) return None
    val runId = Files.readSymbolicLink(latest).getFileName.toString
    val paths = Runs.runPaths(serveRoot, runId)
    val fresh = Files.exists(paths.metadataPath) &&
      Files.readString(paths.metadataPath).contains("\"status\": \"success\"") &&
      Files.exists(paths.runRoot.resolve("fingerprint")) &&
      Files.readString(paths.runRoot.resolve("fingerprint")) == fp
    // the series manifest closes the hole the config fingerprint can't see:
    // a dataset whose FILES drifted under the symlink must rebuild even
    // when config + inputs still fingerprint clean (stat-level check —
    // O(files) driver metadata). Runs without a manifest (csv/jsonl or
    // corpus-only) keep the fingerprint-only behavior.
    val manifestFresh =
      !Files.exists(paths.runRoot.resolve(
        graft.pipeline.SeriesManifest.FileName)) ||
        graft.pipeline.SeriesManifest.fresh(paths.runRoot)
    if (fresh && manifestFresh) Some(paths) else None
  }

  /** Incremental artifact build (reference cli/commands/build.py over
    * artifacts/executor.py): classify every declared task's freshness
    * against the artifacts root, rebuild ONLY the outdated ones, hydrate
    * the rest from their stored reports.
    */
  def build(spark: SparkSession, configPath: String, dataDir: String,
            artifactsRoot: String, force: Boolean = false,
            out: java.io.PrintStream = System.out): graft.pipeline.ArtifactGraph.BuildResult = {
    val project = Config.parseProject(Files.readString(Paths.get(configPath)))
    graft.pipeline.ArtifactGraph.build(spark, dataDir, project,
      Paths.get(artifactsRoot), force, out)
  }

  /** Run a named profile from the project's `profiles:` section (reference
    * config/profiles/defaults.py): the profile supplies the command, preview
    * rows, output format and default run root; an explicit `serveRoot`
    * argument overrides the profile's `run_root`.
    */
  def runProfile(spark: SparkSession, configPath: String, profileId: String,
                 dataDir: String, serveRoot: Option[String] = None,
                 out: java.io.PrintStream = System.out): Unit = {
    val project = Config.parseProject(Files.readString(Paths.get(configPath)))
    val p = project.profile(profileId)
    def root: String = serveRoot.orElse(p.runRoot).getOrElse(
      throw new IllegalArgumentException(
        s"config: profile '$profileId' has no run_root and none was given"))
    p.cmd match {
      case "materialize" =>
        materialize(spark, configPath, dataDir, root, p.preview, p.format, out)
      case "materialize-streams" =>
        materializeStreams(spark, configPath, dataDir, root, out)
      case "stream" =>
        streamPreview(spark, configPath, p.stream.get, dataDir, p.preview, out)
      case "inspect" =>
        runTask(spark, configPath, p.operation.get, dataDir, p.preview, out)
    }
  }

  /** Run ONE declared task and preview its report rows (reference
    * InspectProfile: cmd inspect + operation = the task to run). With
    * `cacheDir`, the report is served through the fingerprint-keyed
    * artifact cache (reference artifacts/registry.py): unchanged config +
    * unchanged source files = no Spark job.
    */
  def runTask(spark: SparkSession, configPath: String, taskId: String,
              dataDir: String, limit: Int = 20,
              out: java.io.PrintStream = System.out,
              cacheDir: Option[java.nio.file.Path] = None,
              htmlOut: Option[java.nio.file.Path] = None): Long = {
    val project = Config.parseProject(Files.readString(Paths.get(configPath)))
    if (!project.tasks.exists(_.id == taskId))
      throw new IllegalArgumentException(
        s"config: unknown task '$taskId' (declared: ${project.tasks.map(_.id).mkString(", ")})")
    def compute = ConfigRuntime.runTasks(spark, dataDir, project,
      only = Some(Set(taskId)))
    val report = cacheDir match {
      case None => compute
      case Some(dir) =>
        val fp = graft.pipeline.ArtifactCache.fingerprint(project, dataDir, taskId)
        val (df, hit) = graft.pipeline.ArtifactCache.cached(
          spark, dir, taskId, fp)(compute)
        out.println(s"task $taskId ${if (hit) "cached" else "computed"} [${fp.take(12)}]")
        df
    }
    // --html: the browsable report (reference inspect --format html). The
    // matrix task renders in its reference two-section shape; every other
    // report gets the generic bounded table.
    htmlOut.foreach { dest =>
      val html = project.task(taskId) match {
        case _: Config.MatrixTask =>
          val ds = project.dataset.getOrElse(throw new IllegalArgumentException(
            s"config: task '$taskId' needs a dataset section"))
          graft.observability.HtmlReport.matrix(report,
            featureIds = ds.features.map(_.id), targetIds = ds.targets.map(_.id))
        case _ =>
          graft.observability.HtmlReport.table(report, s"Task $taskId", limit)
      }
      Runs.writeHtml(html, dest)
      out.println(s"html -> $dest")
    }
    posture(report, s"task:$taskId")(Runs.writeText(report, limit, out))
  }

  /** Dump one intermediate stage of the dataset journey (reference
    * config/preview.py PREVIEW_STAGES via `inspect`): input | canonical |
    * records (a stream id) · series (optional vector id) · samples |
    * postprocess (no id).
    */
  def inspectStage(spark: SparkSession, configPath: String, dataDir: String,
                   stage: String, id: Option[String] = None, limit: Int = 20,
                   out: java.io.PrintStream = System.out,
                   outDir: Option[String] = None): Long = {
    val project = Config.parseProject(Files.readString(Paths.get(configPath)))
    val frame = ConfigRuntime.previewStage(spark, dataDir, project, stage, id)
    posture(frame, s"stage:$stage") {
      outDir match {
        case None => Runs.writeText(frame, limit, out)
        case Some(dir) =>
          // parquet dump of the staged frame (reference serve --preview
          // with a parquet target; graft stages are all DataFrames, so
          // every stage is dumpable, not just samples/postprocess)
          frame.write.mode("overwrite").parquet(dir)
          val n = spark.read.parquet(dir).count()
          out.println(s"stage $stage -> $dir ($n rows)")
          n
      }
    }
  }

  def streamPreview(spark: SparkSession, configPath: String, streamId: String,
                    dataDir: String, limit: Int = 20,
                    out: java.io.PrintStream = System.out): Long = {
    val project = Config.parseProject(Files.readString(Paths.get(configPath)))
    Runs.writeText(
      ConfigRuntime.resolver(spark, dataDir, project).stream(streamId),
      limit, out)
  }

  /** Materialize EVERY canonical stream of a project into one run
    * (reference profiles orchestration: run_profiles over the configured
    * outputs): `runs/<id>/streams/<streamId>/` per stream, one shared run
    * lifecycle — a stream failure marks the whole run failed.
    */
  def materializeStreams(spark: SparkSession, configPath: String,
                         dataDir: String, serveRoot: String,
                         out: java.io.PrintStream = System.out): Runs.RunPaths =
    Hygiene.withExecutionLock(Paths.get(serveRoot)) {
      Hygiene.cleanTempDirs(Hygiene.tempRoot(Paths.get(serveRoot)))
      val project = Config.parseProject(Files.readString(Paths.get(configPath)))
      val obs = Observability.start(spark, project.observability, out)
      var metricsPath: Option[java.nio.file.Path] = None
      try {
        val res = ConfigRuntime.resolver(spark, dataDir, project)
        val paths = Runs.runPaths(serveRoot, Runs.makeRunId())
        Runs.startRun(paths)
        obs.bindRunDir(paths.runRoot)
        metricsPath = Some(paths.runRoot.resolve("metrics.json"))
        try {
          project.streams.map(_.id).foreach { id =>
            val frame = res.stream(id)
            posture(frame, s"stream:$id") {
              frame.write.mode("overwrite")
                .parquet(paths.runRoot.resolve("streams").resolve(id).toString)
            }
            out.println(s"run ${paths.runId} stream $id -> streams/$id")
          }
          Runs.finishRun(paths, "success")
        } catch {
          case e: Throwable =>
            Runs.finishRun(paths, "failed", Some(String.valueOf(e.getMessage)))
            throw e
        }
        paths
      } finally Observability.finish(spark, obs, metricsPath)
    }

  /** Library version tag — bumped per round; the JVM twin of the
    * reference's importlib-metadata dist version.
    */
  val Version = "0.7.0"

  /** `graft.Cli version` (reference cli/commands/version.py short_version +
    * version_report): one id line plus the runtime environment.
    */
  def version(out: java.io.PrintStream = System.out): Unit = {
    out.println(s"graft $Version")
    out.println(s"spark: ${org.apache.spark.SPARK_VERSION}")
    out.println(s"scala: ${scala.util.Properties.versionNumberString}")
    out.println(s"java: ${sys.props.getOrElse("java.version", "unknown")}")
  }

  /** List discovered + registered plugins (reference cli/commands/list_.py
    * over the entry-point registry).
    */
  def listPlugins(out: java.io.PrintStream = System.out): Unit = {
    val lines = graft.plugins.Plugins.describe
    if (lines.isEmpty) out.println("no plugins on the classpath")
    else lines.foreach(l => out.println(s"plugin $l"))
  }

  /** Inventory listing (reference cli/commands/list_.py): project-scoped
    * entities from a YAML, or registry-scoped loaders/transforms (builtins
    * plus plugin contributions).
    */
  def listInventory(what: String, configPath: Option[String],
                    out: java.io.PrintStream = System.out): Unit = {
    def project = Config.parseProject(Files.readString(Paths.get(
      configPath.getOrElse(throw new IllegalArgumentException(
        s"list $what requires a <project.yaml>")))))
    val items: Seq[String] = what match {
      case "sources"  => project.sources.map(s => s"${s.id}  (${s.format}  ${s.path})")
      case "streams"  => project.streams.map(_.id)
      case "tasks"    => project.tasks.map(_.id)
      case "profiles" => project.profiles.map(p => s"${p.id}  (${p.cmd})")
      // "formats" = the reference's reader-format inventory name; "loaders"
      // kept as the graft-historical alias
      case "loaders" | "formats" =>
        (Seq("parquet", "csv", "jsonl", "json") ++
          graft.plugins.Plugins.loaderFormats.toSeq.sorted.map(f => s"$f  (plugin)"))
      case "transforms" =>
        (Config.builtinOperations ++
          graft.plugins.Plugins.transformNames.toSeq.sorted.map(n => s"$n  (plugin)"))
      case other => throw new IllegalArgumentException(
        s"list: unknown inventory '$other' (sources | streams | tasks | profiles | loaders | formats | transforms)")
    }
    if (items.isEmpty) out.println(s"no $what") else items.foreach(out.println)
  }

  /** Spill-dir sweep report (reference cli/commands/clean.py): dry run by
    * default; `--yes` deletes. Sizes/ages via Hygiene's formatters.
    */
  def clean(serveRoot: String, yes: Boolean, olderThan: Option[String],
            out: java.io.PrintStream = System.out): Unit = {
    val age = Hygiene.parseAgeMs(olderThan)
    val res = Hygiene.cleanTempDirs(Hygiene.tempRoot(Paths.get(serveRoot)), age, yes)
    if (res.candidates.isEmpty) {
      out.println("No graft sort spill directories found.")
      return
    }
    val action = if (yes) "Removed" else "Found"
    val noun = if (res.candidates.length == 1) "directory" else "directories"
    out.println(s"$action ${res.candidates.length} graft sort spill $noun:")
    res.candidates.foreach(c => out.println(
      s"  ${c.path}  size=${Hygiene.formatBytes(c.sizeBytes)}  age=${Hygiene.formatAge(c.ageSeconds)}"))
    out.println(s"Total: ${Hygiene.formatBytes(res.totalBytes)}")
    if (!yes)
      out.println("Dry run only. Run `graft.Cli clean <serveRoot> --yes` to delete these directories.")
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "materialize" :: config :: dataDir :: serveRoot :: rest =>
      val spark = SparkEntry.session()
      val positional = rest.zipWithIndex.filterNot { case (a, i) =>
        a.startsWith("--") || (i > 0 && rest(i - 1) == "--artifacts")
      }.map(_._1)
      try materialize(spark, config, dataDir, serveRoot,
        preview = positional.headOption.map(_.toInt).getOrElse(0),
        ifChanged = rest.contains("--if-changed"),
        artifactsRoot = rest.sliding(2).collectFirst {
          case Seq("--artifacts", dir) => dir
        })
      finally spark.stop()
    case "plugins" :: Nil =>
      listPlugins()
    case "scaffold" :: "plugin" :: name :: outDir :: Nil =>
      val root = graft.plugins.Scaffold.plugin(name, Paths.get(outDir))
      println(s"plugin skeleton -> $root")
    case "scaffold" :: "demo" :: outDir :: Nil =>
      val root = graft.plugins.Scaffold.demo(Paths.get(outDir))
      println(s"demo workspace -> $root")
    case "scaffold" :: kind :: name :: pluginDir :: Nil
        if graft.plugins.Scaffold.ComponentKinds.contains(kind) =>
      val f = graft.plugins.Scaffold.component(kind, name, Paths.get(pluginDir))
      println(s"$kind '$name' -> $f")
    case "scaffold" :: "source" :: id :: path :: format :: yaml :: Nil =>
      graft.plugins.Scaffold.source(Paths.get(yaml), id, path, format)
      println(s"source '$id' -> $yaml")
    case "scaffold" :: "stream" :: id :: sourceId :: partitionKey :: yaml :: Nil =>
      graft.plugins.Scaffold.stream(Paths.get(yaml), id, sourceId, partitionKey)
      println(s"stream '$id' -> $yaml")
    case "scaffold" :: "inflow" :: id :: path :: format :: partitionKey :: yaml :: Nil =>
      val streamId = graft.plugins.Scaffold.inflow(Paths.get(yaml), id, path,
        format, partitionKey)
      println(s"source '$id' + stream '$streamId' -> $yaml")
    case "version" :: Nil =>
      version()
    case "list" :: what :: rest =>
      listInventory(what, rest.headOption)
    case "clean" :: serveRoot :: rest =>
      clean(serveRoot, yes = rest.contains("--yes"),
        olderThan = rest.sliding(2).collectFirst {
          case Seq("--older-than", v) => v
        })
    case "stream" :: config :: streamId :: dataDir :: rest =>
      val spark = SparkEntry.session()
      try streamPreview(spark, config, streamId, dataDir,
        limit = rest.headOption.map(_.toInt).getOrElse(20))
      finally spark.stop()
    case "materialize-streams" :: config :: dataDir :: serveRoot :: Nil =>
      val spark = SparkEntry.session()
      try materializeStreams(spark, config, dataDir, serveRoot)
      finally spark.stop()
    case "run" :: config :: profileId :: dataDir :: rest =>
      val spark = SparkEntry.session()
      try runProfile(spark, config, profileId, dataDir, rest.headOption)
      finally spark.stop()
    case "build" :: config :: dataDir :: artifactsRoot :: rest =>
      val spark = SparkEntry.session()
      try build(spark, config, dataDir, artifactsRoot,
        force = rest.contains("--force"))
      finally spark.stop()
    case "inspect" :: config :: dataDir :: rest if rest.contains("--stage") =>
      val spark = SparkEntry.session()
      def flagValue(flag: String): Option[String] = rest.sliding(2)
        .collectFirst { case Seq(`flag`, v) => v }
      val positional = rest.zipWithIndex.filterNot { case (a, i) =>
        a.startsWith("--") ||
          (i > 0 && Set("--stage", "--id", "--out")(rest(i - 1)))
      }.map(_._1)
      try inspectStage(spark, config, dataDir,
        stage = flagValue("--stage").getOrElse("records"),
        id = flagValue("--id"),
        limit = positional.headOption.map(_.toInt).getOrElse(20),
        outDir = flagValue("--out"))
      finally spark.stop()
    case "task" :: config :: taskId :: dataDir :: rest =>
      val spark = SparkEntry.session()
      val cache = rest.sliding(2).collectFirst {
        case Seq("--cache", dir) => Paths.get(dir)
      }
      val html = rest.sliding(2).collectFirst {
        case Seq("--html", dest) => Paths.get(dest)
      }
      // drop flag VALUES positionally (the element after the flag), not by
      // comparing against the normalized Path rendering — `--cache c/`
      // normalizes to `c` and would otherwise survive into the limit parse
      val positional = rest.zipWithIndex.filterNot { case (a, i) =>
        a.startsWith("--") ||
          (i > 0 && Set("--cache", "--html")(rest(i - 1)))
      }.map(_._1)
      try runTask(spark, config, taskId, dataDir,
        limit = positional.headOption.map(_.toInt).getOrElse(20),
        cacheDir = cache, htmlOut = html)
      finally spark.stop()
    case other =>
      System.err.println(
        s"""usage: graft.Cli materialize <project.yaml> <dataDir> <serveRoot> [previewRows] [--if-changed] [--artifacts <root>]
           |       graft.Cli materialize-streams <project.yaml> <dataDir> <serveRoot>
           |       graft.Cli stream <project.yaml> <streamId> <dataDir> [limit]
           |       graft.Cli run <project.yaml> <profileId> <dataDir> [serveRoot]
           |       graft.Cli task <project.yaml> <taskId> <dataDir> [limit] [--cache <dir>] [--html <file>]
           |       graft.Cli build <project.yaml> <dataDir> <artifactsRoot> [--force]
           |       graft.Cli inspect <project.yaml> <dataDir> --stage <input|canonical|records|series|samples|postprocess|corpus> [--id <streamOrVector|stepCount>] [--out <parquetDir>] [limit]
           |       graft.Cli plugins
           |       graft.Cli scaffold plugin <name> <outDir>
           |       graft.Cli scaffold mapper|parser|loader|domain|dto <name> <pluginDir>
           |       graft.Cli scaffold source <id> <path> <format> <project.yaml>
           |       graft.Cli scaffold stream <id> <sourceId> <partitionKey> <project.yaml>
           |       graft.Cli scaffold inflow <id> <path> <format> <partitionKey> <project.yaml>
           |       graft.Cli version
           |       graft.Cli list <sources|streams|tasks|profiles|loaders|formats|transforms> [project.yaml]
           |       graft.Cli clean <serveRoot> [--yes] [--older-than <30m|2h|1d>]
           |got: ${other.mkString(" ")}""".stripMargin)
      sys.exit(2)
  }
}
