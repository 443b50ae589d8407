package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import graft.pipeline.{Config, ConfigRuntime}

/** Generated code per journey: runs a project's `Cli.materialize` N times
  * in one JVM and prints, per journey, one JSON line with
  *  - `compilations`: Janino compilations (the count of
  *    `CodegenMetrics.METRIC_COMPILATION_TIME`) — a class Spark's codegen
  *    cache (100 entries) no longer held is compiled again;
  *  - `jit_ms`: HotSpot JIT compile time (`CompilationMXBean`);
  *  - `cpu_s`: process CPU seconds; `wall_s`; `jobs`: Spark jobs started.
  *
  * {{{
  *   sbt "Test/runMain graft.CodegenTally <project.yaml> <dataDir> <workDir>
  *        [journeys=4] [--clean <path>]... [--steps] [--sources]"
  * }}}
  *
  * The session is the benchmark's: `local[min(4, cores)]` with as many
  * shuffle and AQE initial partitions, UTC, no UI, then
  * `SPARK_GRAFT_CONF` as for every main (e.g.
  * `graft.cc.driver_max_edges=64` forces the distributed CC). Each
  * `--clean` path (a train-if-missing artifact directory) is deleted
  * before every journey, as is the serve root under `workDir`. With
  * `--steps`, a corpus project also gets one line per step: the Spark jobs
  * its plan build adds (the journey cut after it, less the journey cut
  * before it), then the jobs of the final write.
  *
  * With `--sources`, `CodeGenerator` logs at DEBUG (to this tool only) and
  * every compiled source is hashed: each journey line gains `distinct`, the
  * distinct sources it compiled, and `new`, those no earlier journey
  * compiled; then one line per SQL execution of the journey (root
  * execution id, its description, compilations, distinct sources).
  * Compilations outside any SQL execution (plan-build projections) count
  * under execution -1. A warm journey whose compilations are all old
  * sources is recompiling what Spark's codegen cache evicted.
  */
object CodegenTally {

  def main(args: Array[String]): Unit = {
    val (flags, pos) = parse(args.toList)
    val Seq(yaml, dataDir, workDir) = pos.take(3)
    val journeys = pos.lift(3).fold(4)(_.toInt)
    val clean = flags.collect { case ("--clean", p) => Paths.get(p) }
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .appName("graft-codegen-tally")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.applyConfOverrides(spark)
    val jobs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    val quiet = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())
    val serve = Paths.get(workDir).resolve("serve")
    def fresh(): Unit = (serve +: clean).foreach(deleteTree)
    /** (compilations, jit ms, cpu s, wall s, jobs) of `body`. */
    def tally(body: => Unit): (Long, Long, Double, Double, Long) = {
      val jit = ManagementFactory.getCompilationMXBean
      val os = ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      val (c0, j0, p0, n0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        jit.getTotalCompilationTime, os.getProcessCpuTime, jobs.get)
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0,
        jit.getTotalCompilationTime - j0, (os.getProcessCpuTime - p0) / 1e9,
        wall, jobs.get - n0)
    }
    val sources = if (flags.exists(_._1 == "--sources")) Some(new Sources(spark)) else None
    var lastJobs = 0L
    for (i <- 0 until journeys) {
      fresh()
      System.gc()
      sources.foreach(_.clear())
      val (c, jit, cpu, wall, n) = tally {
        Cli.materialize(spark, yaml, dataDir, serve.toString, out = quiet)
      }
      lastJobs = n
      val counts = sources.fold("")(s => s""", "distinct": ${s.distinct}, "new": ${s.fresh}""")
      println(f"""{"journey": $i, "compilations": $c, "jit_ms": $jit, """ +
        f""""cpu_s": $cpu%.2f, "wall_s": $wall%.2f, "jobs": $n$counts}""")
      sources.foreach(_.perExecution(i).foreach(println))
    }
    sources.foreach(_.close())
    if (flags.exists(_._1 == "--steps")) {
      val project = Config.parseProject(Files.readString(Paths.get(yaml)))
      val steps = project.corpus.map(_.steps).getOrElse(
        throw new IllegalArgumentException("--steps needs a corpus project"))
      val through = (0 to steps.length).map { k =>
        fresh()
        tally(ConfigRuntime.corpusThrough(spark, dataDir, project, Some(k)))._5
      }
      steps.indices.foreach { k =>
        println(s"""{"step": ${k + 1}, "name": "${steps(k).getClass.getSimpleName}", """ +
          s""""plan_jobs": ${through(k + 1) - through(k)}}""")
      }
      println(s"""{"step": "write", "jobs": ${lastJobs - through.last}}""")
    }
    spark.stop()
  }

  /** Hashes every source `CodeGenerator` compiles, by the root SQL
    * execution of the compiling thread.
    */
  private final class Sources(spark: SparkSession) {
    private val Name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    private val ExecKey = "spark.sql.execution.root.id"
    private val seen = scala.collection.mutable.Set.empty[String]
    private val journey = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]
    private val what = new java.util.concurrent.ConcurrentHashMap[Long, String]
    private val starts = new SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          what.put(s.executionId, s.description.linesIterator.toSeq.headOption
            .getOrElse("").take(60).replace("\"", "'"))
        case _ =>
      }
    }
    private val appender = new AbstractAppender("graft-codegen-tally", null, null, true,
        Property.EMPTY_ARRAY) {
      // the source itself is the DEBUG event; INFO ("Code generated in …")
      // passes the level too and is skipped
      override def append(e: LogEvent): Unit = if (e.getLevel == Level.DEBUG) {
        val local = Option(org.apache.spark.TaskContext.get()).map(_.getLocalProperty(ExecKey))
          .orElse(Option(spark.sparkContext.getLocalProperty(ExecKey)))
        val exec = local.flatMap(_.toLongOption).getOrElse(-1L)
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(e.getMessage.getFormattedMessage.getBytes("UTF-8"))
        journey.add(exec -> digest.map("%02x".format(_)).mkString)
      }
    }
    appender.start()
    Configurator.setLevel(Name, Level.DEBUG)
    private val logger = LogManager.getLogger(Name).asInstanceOf[CoreLogger]
    logger.addAppender(appender)
    logger.setAdditive(false)
    spark.sparkContext.addSparkListener(starts)

    private def compiled: Seq[(Long, String)] =
      scala.jdk.CollectionConverters.IterableHasAsScala(journey).asScala.toSeq
    def clear(): Unit = journey.clear()
    def distinct: Int = compiled.map(_._2).distinct.size
    /** Sources of this journey no earlier journey compiled (once per call). */
    def fresh: Int = {
      val hashes = compiled.map(_._2).distinct
      val n = hashes.count(h => !seen(h))
      seen ++= hashes
      n
    }
    def perExecution(i: Int): Seq[String] =
      compiled.groupBy(_._1).toSeq.sortBy(_._1).map { case (exec, cs) =>
        s"""{"journey": $i, "execution": $exec, "what": "${Option(what.get(exec)).getOrElse("")}", """ +
          s""""compilations": ${cs.size}, "distinct": ${cs.map(_._2).distinct.size}}"""
      }
    def close(): Unit = {
      logger.removeAppender(appender)
      Configurator.setLevel(Name, Level.INFO)
      spark.sparkContext.removeSparkListener(starts)
    }
  }

  private def parse(args: List[String]): (Seq[(String, String)], Seq[String]) =
    args match {
      case "--clean" :: p :: rest =>
        val (f, pos) = parse(rest); (("--clean" -> p) +: f, pos)
      case "--steps" :: rest =>
        val (f, pos) = parse(rest); (("--steps" -> "") +: f, pos)
      case "--sources" :: rest =>
        val (f, pos) = parse(rest); (("--sources" -> "") +: f, pos)
      case a :: rest => val (f, pos) = parse(rest); (f, a +: pos)
      case Nil => (Nil, Nil)
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
      finally s.close()
    }
}
