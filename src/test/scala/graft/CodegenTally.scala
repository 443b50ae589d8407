package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

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
  *        [journeys=4] [--clean <path>]... [--steps]"
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
    var lastJobs = 0L
    for (i <- 0 until journeys) {
      fresh()
      System.gc()
      val (c, jit, cpu, wall, n) = tally {
        Cli.materialize(spark, yaml, dataDir, serve.toString, out = quiet)
      }
      lastJobs = n
      println(f"""{"journey": $i, "compilations": $c, "jit_ms": $jit, """ +
        f""""cpu_s": $cpu%.2f, "wall_s": $wall%.2f, "jobs": $n}""")
    }
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

  private def parse(args: List[String]): (Seq[(String, String)], Seq[String]) =
    args match {
      case "--clean" :: p :: rest =>
        val (f, pos) = parse(rest); (("--clean" -> p) +: f, pos)
      case "--steps" :: rest =>
        val (f, pos) = parse(rest); (("--steps" -> "") +: f, pos)
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
