package graft.perfbench

import java.io.{OutputStream, PrintStream}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The timed half of the benchmark: one JVM, one SparkSession, one
  * workload. It stages the generated inputs, warms up, then runs whole
  * rounds of journeys until `--seconds` have passed (at least one round),
  * and writes the measurements as JSON (`--out`). With `--trace 1` it runs
  * one traced journey instead, then calls single modules: spans around
  * every call into a module, written to `--trace-file`.
  *
  * {{{
  *   graft.perfbench.Main --workload <name> --seconds <s> --trace <0|1>
  *     --inputs <dir> --work <dir> --out <result.json>
  *     --trace-file <spans.json> --cores <n>
  * }}}
  */
object Main {

  /** Timed journeys per round; a run reports their median. Two is what
    * fits: set-up (SparkSession start, a cold warm-up journey) takes about
    * 35 s of a run, and a comparison's 48 runs must fit in 3,420 s.
    */
  val JourneysPerRound = 2

  /** Trivial Spark jobs timed to price one job's fixed cost. */
  val OverheadJobs = 20

  /** One timed journey: the user-visible unit of work of a workload. */
  final case class Journey(tag: String, traced: Boolean, wallS: Double,
                           cpuS: Double, writtenBytes: Long, files: Long)

  final class Ctx(val spark: SparkSession, val inputs: Path, val work: Path,
                  val tracer: Tracer) {
    val quiet = new PrintStream(OutputStream.nullOutputStream())
    private val os = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def cpuNs: Long = os.getProcessCpuTime

    /** Time `body` as journey `tag`; `written` lists the roots whose new or
      * modified files the journey wrote.
      */
    def timed(tag: String, traced: Boolean, written: => Seq[Path])
             (body: => Unit): Journey = {
      // collect what earlier journeys left (checkpoint blocks, shuffle
      // files are released when their RDDs are), so each journey starts
      // from the same memory state, as a fresh CLI process would
      System.gc()
      tracer.enabled = traced
      val startMs = System.currentTimeMillis()
      val c0 = cpuNs
      val t0 = System.nanoTime()
      tracer.journey(tag)(tracer.span("bench.journey")(body))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (cpuNs - c0) / 1e9
      tracer.enabled = false
      val (bytes, files) = Io.writtenSince(written, startMs)
      Journey(tag, traced, wall, cpu, bytes, files)
    }
  }

  /** A workload: staged once, then run journey by journey. */
  trait Workload {
    def setup(): Unit
    def journey(r: Int, traced: Boolean): Journey
    /** Per-layer probes after the journeys of a traced run (calls into
      * single modules).
      */
    def probes(): Unit = ()
    /** Untimed work after the last journey that the checkers need. */
    def finish(): Map[String, Any] = Map.empty
    /** What the probes saw that the metrics and checkers need. */
    def facts: Map[String, Any] = Map.empty
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def opt(k: String): String = opts.getOrElse(s"--$k",
      throw new IllegalArgumentException(s"missing --$k"))
    val workload = opt("workload")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val inputs = Paths.get(opt("inputs")).toAbsolutePath
    val work = Paths.get(opt("work")).toAbsolutePath
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime
    Files.createDirectories(work)

    val spark = session(cores, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val workListener = new WorkListener
    spark.sparkContext.addSparkListener(workListener)
    val streamListener = new StreamListener
    spark.streams.addListener(streamListener)
    val tracer = new Tracer(spark)
    val heap = new HeapWatch
    val ctx = new Ctx(spark, inputs, work, tracer)
    val wl: Workload = workload match {
      case "series_dataset"      => new SeriesDataset(ctx)
      case "corpus_curation"     => new CorpusCuration(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    wl.setup()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val journeys = mutable.ArrayBuffer.empty[Journey]
    heap.reset()
    if (trace) {
      // one traced journey: its spans give the layer split, and the tracer's
      // own cost is its bookkeeping time (an untraced journey beside it
      // differs from it by more host noise than tracing adds)
      journeys += wl.journey(0, traced = true)
    } else {
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      do (0 until JourneysPerRound).foreach(_ =>
        journeys += wl.journey(journeys.size, traced = false))
      while (System.nanoTime() < deadline)
    }
    val liveHeapMb = heap.peakMb
    val peakRssMb = Io.peakRssMb()
    val jobS = if (trace) {
      tracer.enabled = true
      wl.probes()
      tracer.enabled = false
      jobOverheadS(spark, cores)
    } else 0.0
    val outputs = wl.finish()
    spark.stop()

    val m = new Metrics(journeys.toSeq, workListener, streamListener, tracer,
      wl.facts, cores, liveHeapMb, jobS)
    val e2e = Map(
      "wall_s" -> m.med(journeys.filterNot(_.traced).map(_.wallS)),
      "setup_s" -> setupS,
      "cpu_s" -> m.med(journeys.filterNot(_.traced).map(_.cpuS)),
      "peak_rss_mb" -> peakRssMb,
      "shuffle_mb" -> m.med(journeys.map(j =>
        workListener.under(j.tag).shuffleWriteBytes / 1e6)),
      "written_mb" -> m.med(journeys.map(_.writtenBytes / 1e6)))
    val result = Map[String, Any](
      "workload" -> workload,
      "master" -> spark.sparkContext.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "session_s" -> sessionS,
      "journey_walls" -> journeys.map(_.wallS),
      "journey_jobs" -> journeys.map(j => workListener.under(j.tag).jobs),
      "end_to_end" -> e2e,
      "per_layer" -> (if (trace) m.layers(workload) else Map.empty),
      "checks" -> m.checks,
      "outputs" -> outputs)
    if (trace)
      Files.writeString(Paths.get(opt("trace-file")), Json(Map(
        "workload" -> workload,
        "spans" -> tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "journey" -> s.journey,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      )))
    Files.writeString(Paths.get(opt("out")), Json(result))
  }

  /** The program's own session posture (graft.Cli's local session),
    * pinned to `cores` and with every scratch location inside `work`.
    */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("graft-perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Every column of a frame folded into one hash: a scan that must read
    * and decode all of them.
    */
  def scanAll(df: DataFrame): DataFrame =
    df.select(org.apache.spark.sql.functions.xxhash64(
      df.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*))

  /** Median seconds of a trivial Spark job (one empty task per core): the
    * fixed cost every job of a journey pays whatever its data.
    */
  def jobOverheadS(spark: SparkSession, cores: Int): Double = {
    val rdd = spark.sparkContext.parallelize(0 until cores, cores)
    val times = (0 until OverheadJobs).map { _ =>
      val t0 = System.nanoTime()
      rdd.foreach(_ => ())
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(times.size / 2)
  }

  /** Force a frame through every operator without writing it anywhere. */
  def drain(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** Derived numbers: per-layer figures from the spans and listener tallies,
  * and the facts the checkers need from inside the JVM.
  */
final class Metrics(journeys: Seq[Main.Journey], work: WorkListener,
                    streams: StreamListener, tracer: Tracer,
                    facts: Map[String, Any], cores: Int,
                    liveHeapMb: Double, jobS: Double) {
  def med(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private val traced = journeys.filter(_.traced)
  private val spans = tracer.spans

  /** Median, over the journeys that made calls `name`, of what `f` gives
    * for those calls together.
    */
  private def perCall(name: String)(f: Seq[Span] => Double): Double =
    med(spans.filter(_.name == name).groupBy(_.journey).values.map(f))
  private def spanS(name: String): Double = perCall(name)(_.map(_.seconds).sum)
  private def spanJobs(name: String): Double =
    perCall(name)(_.map(s => work.under(s.tag).jobs.toDouble).sum)

  /** Marginal seconds of each prefix span over the previous one. */
  private def marginals(prefixes: Seq[String]): Map[String, Double] = {
    val byJourney = spans.filter(s => prefixes.contains(s.name))
      .groupBy(_.journey).values
    prefixes.indices.drop(1).map { i =>
      prefixes(i) -> med(byJourney.map { ss =>
        def t(n: String) = ss.filter(_.name == n).map(_.seconds).sum
        t(prefixes(i)) - t(prefixes(i - 1))
      })
    }.toMap
  }

  private def strings(k: String): Seq[String] =
    facts.get(k).map(_.asInstanceOf[Seq[String]]).getOrElse(Nil)

  def layers(workload: String): Map[String, Double] = {
    val zeros = Layers.names.map(_ -> 0.0).toMap
    def perJourney(f: Tally => Double): Double =
      med(journeys.map(j => f(work.under(j.tag))))
    val self = tracer.selfSeconds.map { case (layer, s) => s"self.${layer}_s" -> s }
    val materialize = spanS("cli.materialize")
    val plan = spanS("pipeline.plan")
    val common = Map(
      "jvm.heap_live_peak_mb" -> liveHeapMb,
      "spark.task_share_pct" -> med(journeys.map(j =>
        100 * work.under(j.tag).runMs / 1e3 / (j.wallS * cores))),
      "spark.job_overhead_pct" -> med(journeys.map(j =>
        100 * work.under(j.tag).jobs * jobS / j.wallS)),
      "spark.jobs" -> perJourney(_.jobs.toDouble),
      "spark.stages" -> perJourney(_.stages.toDouble),
      "spark.tasks" -> perJourney(_.tasks.toDouble),
      "spark.spill_mb" -> perJourney(_.spillBytes / 1e6),
      "spark.executor_cpu_s" -> perJourney(_.executorCpuNs / 1e9),
      "spark.gc_s" -> perJourney(_.gcMs / 1e3),
      "cli.materialize_s" -> materialize,
      "cli.commit_s" -> (materialize - plan),
      "cli.files_written" -> med(traced.map(_.files.toDouble)),
      "pipeline.plan_s" -> plan,
      "pipeline.plan_jobs" -> spanJobs("pipeline.plan"),
      "sources.scan_s" -> spanS("sources.scan"),
      "sources.scan_mb" -> facts.get("scan_bytes").fold(0.0)(_.toString.toDouble / 1e6),
      "trace.spans" -> spans.size.toDouble,
      "trace.bookkeeping_s" -> tracer.bookkeepingNs / 1e9)
    // the incremental loop (0 where the traced run did not drive it)
    val batches = strings("stream_runs").map(streams.batches)
    val loop = Map(
      "pipeline.refresh_s" -> spanS("pipeline.refresh"),
      "pipeline.refresh_jobs" -> refreshJobs.fold(0.0)(_.max.toDouble),
      "pipeline.stream_plan_s" -> spanS("pipeline.stream_plan"),
      "operators.index_update_s" -> spanS("operators.index_update"),
      "operators.compact_s" -> spanS("operators.compact"),
      "streaming.run_s" -> spanS("streaming.run"),
      "streaming.batches" -> med(batches.map(_.size.toDouble)),
      "streaming.batch_s" -> med(batches.flatten.map(_.durationMs / 1e3)),
      "streaming.commit_s" -> med(batches.flatten.map(_.commitMs / 1e3)),
      "streaming.state_rows" -> med(batches.flatMap(_.lastOption)
        .map(_.stateRows.toDouble)))
    val specific: Map[String, Double] = workload match {
      case "series_dataset" =>
        val mg = marginals(Seq("sources.scan", "operators.prefix.canonical",
          "operators.prefix.records", "operators.prefix.samples",
          "operators.prefix.postprocess", "operators.prefix.dataset"))
        Map(
          "operators.canonical_s" -> mg("operators.prefix.canonical"),
          "operators.records_s" -> mg("operators.prefix.records"),
          "operators.samples_s" -> mg("operators.prefix.samples"),
          "operators.postprocess_s" -> mg("operators.prefix.postprocess"),
          "operators.split_scale_s" -> mg("operators.prefix.dataset"))
      case _ =>
        def step(s: String) = spanS(s"operators.step.$s")
        Map(
          "functions.extract_s" -> step("extract"),
          "functions.gopher_s" -> step("gopher"),
          "operators.dedup_exact_s" -> step("dedup_exact"),
          "operators.dedup_fuzzy_s" -> step("dedup_fuzzy"),
          "operators.dedup_fuzzy_jobs" -> spanJobs("operators.step.dedup_fuzzy"),
          "operators.decontaminate_s" -> step("decontaminate"),
          "operators.classify_s" -> step("classify"),
          "operators.tokenize_s" -> step("tokenize"),
          "operators.chunk_s" -> step("chunk"))
    }
    zeros ++ self.filter(kv => zeros.contains(kv._1)) ++ common ++ loop ++ specific
  }

  private def refreshJobs: Option[Seq[Long]] = {
    val tags = strings("refresh_tags")
    if (tags.isEmpty) None else Some(tags.map(t => work.under(t).jobs))
  }

  /** Facts only the JVM can see, for the checkers. */
  def checks: Map[String, Any] = refreshJobs.fold(Map.empty[String, Any]) { jobs =>
    val live = facts("refresh_live").asInstanceOf[Seq[Boolean]]
    Map("refresh_calls" -> jobs.size, "refresh_jobs_max" -> jobs.max,
      "refresh_live" -> live.forall(identity))
  }
}

/** Names of the per-layer metrics a traced run reports (0 where a layer
  * does not take part in the workload).
  */
object Layers {
  val names: Seq[String] = Seq(
    "cli.materialize_s", "cli.commit_s", "cli.files_written",
    "pipeline.plan_s", "pipeline.plan_jobs", "pipeline.refresh_s",
    "pipeline.refresh_jobs", "pipeline.stream_plan_s",
    "sources.scan_mb", "sources.scan_s",
    "operators.canonical_s", "operators.records_s", "operators.samples_s",
    "operators.postprocess_s", "operators.split_scale_s",
    "operators.dedup_exact_s", "operators.dedup_fuzzy_s",
    "operators.dedup_fuzzy_jobs", "operators.decontaminate_s",
    "operators.classify_s", "operators.tokenize_s", "operators.chunk_s",
    "operators.index_update_s", "operators.compact_s",
    "functions.extract_s", "functions.gopher_s",
    "streaming.run_s", "streaming.batches", "streaming.batch_s",
    "streaming.commit_s",
    "streaming.state_rows",
    "spark.jobs", "spark.stages", "spark.tasks", "spark.spill_mb",
    "spark.executor_cpu_s", "spark.gc_s", "spark.task_share_pct",
    "spark.job_overhead_pct", "jvm.heap_live_peak_mb",
    "self.bench_s", "self.cli_s", "self.pipeline_s", "self.sources_s",
    "self.operators_s", "self.streaming_s",
    "trace.spans", "trace.bookkeeping_s")
}

object Io {
  def deleteTree(p: Path): Unit =
    if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      org.apache.commons.io.FileUtils.forceDelete(p.toFile)

  def copy(src: Path, dst: Path): Unit = {
    Files.createDirectories(dst.getParent)
    Files.copy(src, dst, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Land a file atomically: copy beside the target under a hidden name
    * (file sources skip names starting with `.`), then rename.
    */
  def land(src: Path, dir: Path): Unit = {
    Files.createDirectories(dir)
    val tmp = dir.resolve("." + src.getFileName + ".tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, dir.resolve(src.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Bytes and count of regular files under `roots` modified at or after
    * `sinceMs` (what a journey wrote and kept).
    */
  def writtenSince(roots: Seq[Path], sinceMs: Long): (Long, Long) = {
    var bytes = 0L
    var files = 0L
    roots.filter(Files.isDirectory(_)).foreach { root =>
      val s = Files.walk(root)
      try s.iterator().asScala.foreach { p =>
        if (Files.isRegularFile(p, java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
            Files.getLastModifiedTime(p).toMillis >= sinceMs) {
          bytes += Files.size(p)
          files += 1
        }
      } finally s.close()
    }
    (bytes, files)
  }

  /** Peak resident set size of this process (Linux VmHWM), in MB: the heap
    * pages the program touched (the heap is not pre-touched) plus what it
    * holds outside the heap.
    */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
}

/** Minimal JSON writer for the result maps. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ": " + apply(x) }
      .mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case other => apply(other.toString)
  }
}
