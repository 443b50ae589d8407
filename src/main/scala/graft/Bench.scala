package graft

import org.apache.spark.sql.SparkSession

/** Bench main: times every SparkEntry query at SPARK_GRAFT_SF_DIR, prints one
  * JSON line. A warmup pass (table reads + a tiny agg) is excluded from the
  * timings so JVM/codegen startup isn't attributed to the first query.
  *
  * Streaming queries run in a separate final pass: each leaves behind
  * checkpoint/state-store machinery that polluted the alphabetically-following
  * batch queries in round 1 (where_filter 2.9 s vs plan-identical floor_time
  * 0.14 s — see BASELINE.md anomalies).
  *
  * Outlier self-defense: the shared host has bursty co-tenant load (the r6
  * end-of-round snapshot showed pinned-plan trivial queries 3-4x their
  * floor). After the main pass, any query landing over 2x its BASELINE.md
  * floor gets ONE more best-of-2 pass and keeps the minimum; anything
  * STILL over 2x after that gets a solo best-of-2 from a re-settled
  * machine with both numbers recorded under "solo_confirm" (r14 ask #2 —
  * the artifact itself proves or exonerates every >2x row). The JSON
  * carries /proc/loadavg at start and end so a noisy snapshot
  * self-identifies in the record.
  */
object Bench {

  /** Per-query floors from BASELINE.md's "Per-query floor" table (two
    * name/seconds pairs per row). Missing file or section → empty map and
    * the outlier pass is skipped.
    */
  private[graft] def baselineFloors(path: java.nio.file.Path =
      java.nio.file.Paths.get("BASELINE.md")): Map[String, Double] = {
    if (!java.nio.file.Files.exists(path)) return Map.empty
    val lines = java.nio.file.Files.readAllLines(path)
    import scala.jdk.CollectionConverters._
    val section = lines.asScala
      .dropWhile(!_.startsWith("## Per-query floor")).drop(1)
      .takeWhile(!_.startsWith("## "))
    section.filter(_.trim.startsWith("|")).flatMap { line =>
      val cells = line.split("\\|").map(_.trim).filter(_.nonEmpty)
      cells.grouped(2).collect {
        case Array(name, sec) if sec.matches("""\d+(\.\d+)?""") &&
          name.nonEmpty && !name.startsWith("-") && name != "query" =>
          name -> sec.toDouble
      }
    }.toMap
  }

  /** The outlier re-run pass arms only when the data dir IS the sf0.1
    * directory the floors were measured at — matched on the terminal path
    * component, not a substring (a `sf0.15` or `sf0.1_backup` dir must not
    * get min-of-rerun flattery against floors from a different scale).
    */
  private[graft] def isFloorScale(sfDir: String): Boolean =
    try java.nio.file.Paths.get(sfDir).getFileName.toString == "sf0.1"
    catch { case _: Exception => false }

  private def loadAvg(): Double =
    try java.nio.file.Files.readString(
      java.nio.file.Paths.get("/proc/loadavg")).split(" ")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Reap stray graft JVMs from an earlier phase (a leaked `graft.Verify`
    * or `graft.Bench` main still draining CPU): scan /proc cmdlines for
    * those main classes, excluding this process and its ancestors (when
    * sbt runs us un-forked, the launcher's own cmdline carries
    * "graft.Bench"). Returns the pids it signalled. Any other graft
    * Verify/Bench JVM is stale BY CONSTRUCTION — the round driver runs the
    * phases sequentially — so killing here can only reclaim the machine.
    */
  private def reapStrayGraftJvms(): Seq[Long] = {
    val self = ProcessHandle.current()
    val ancestors = Iterator.iterate(Option(self))(_.flatMap(h =>
      Option(h.parent().orElse(null)))).takeWhile(_.isDefined)
      .flatten.map(_.pid()).toSet
    // A stray graft JVM, PRECISELY: argv[0] is a java launcher and the
    // main class appears as a whole argv token. A substring scan over the
    // joined cmdline would also match bystanders ("grep graft.Bench x.log",
    // "less …graft.Bench.log") — r14 advice.
    def isGraftJvm(pid: Long): Boolean = try {
      val raw = java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"/proc/$pid/cmdline"))
      // /proc cmdline is NUL-delimited argv
      val argv = new String(raw, "UTF-8").split('\u0000').toSeq
      val javaHead = argv.headOption.exists(a0 =>
        a0 == "java" || a0.endsWith("/java"))
      javaHead && argv.exists(a => a == "graft.Verify" || a == "graft.Bench")
    } catch { case _: Throwable => false }
    val procDir = new java.io.File("/proc")
    val candidates = Option(procDir.listFiles()).getOrElse(Array.empty).toSeq
      .filter(_.getName.forall(_.isDigit)).map(_.getName.toLong)
      .filter(pid => !ancestors.contains(pid) && isGraftJvm(pid))
    candidates.foreach { pid =>
      ProcessHandle.of(pid).ifPresent { h =>
        // re-check via the live handle right before signalling: a PID
        // recycled between the scan and here must not be signalled
        if (isGraftJvm(pid)) {
          System.err.println(s"[bench] reaping stray graft JVM pid=$pid")
          h.destroy()
        }
      }
    }
    if (candidates.nonEmpty) {
      Thread.sleep(2000)
      candidates.foreach(pid =>
        ProcessHandle.of(pid).ifPresent(h =>
          if (h.isAlive && isGraftJvm(pid)) h.destroyForcibly()))
    }
    candidates
  }

  /** Self-settling (the r13 adjudication: two driver passes in a row ran
    * on a machine still draining the prior phase — load 4.31 at start, 38
    * outlier re-runs, a uniform ~1.4x inflation the builder's clean record
    * passes didn't show). Make the ARTIFACT prove the plans, not the
    * operator's re-runs: before the first timed query, reap stray
    * prior-phase graft JVMs, sync dirty pages (a Verify phase leaves
    * write-back behind), then wait — bounded — for the 1-minute load
    * average to fall under `targetLoad`. Returns seconds waited.
    * SPARK_GRAFT_NO_SETTLE=1 skips (A/B and in-sweep group runs that
    * manage settling themselves) — unless `force` is set: the
    * solo-confirm pass exists to certify a number from a settled
    * machine, so it must settle even inside a NO_SETTLE sweep (r15
    * advice: an unsettled "solo_confirm" entry overstates what the solo
    * number proves).
    */
  private def settleMachine(targetLoad: Double = 3.0,
                            maxWaitSec: Int = 240,
                            force: Boolean = false): Double = {
    if (!force && sys.env.contains("SPARK_GRAFT_NO_SETTLE")) return 0.0
    reapStrayGraftJvms()
    try Runtime.getRuntime.exec(Array("sync")).waitFor()
    catch { case _: Throwable => () }
    val t0 = System.nanoTime()
    var l = loadAvg()
    while (l > targetLoad && (System.nanoTime() - t0) / 1e9 < maxWaitSec) {
      System.err.println(f"[bench] settling: load $l%.2f > $targetLoad — waiting")
      Thread.sleep(5000)
      l = loadAvg()
    }
    val waited = (System.nanoTime() - t0) / 1e9
    if (l > targetLoad)
      System.err.println(
        f"[bench] settle TIMED OUT at ${waited}%.0f s with load $l%.2f — proceeding")
    waited
  }
  def main(args: Array[String]): Unit = {
    // settle BEFORE the JVM heats up: stray prior-phase JVMs die, dirty
    // pages flush, and the timed sweep starts on a quiet machine
    val settleWait = settleMachine()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // AQE initial-partition posture is PER-PLAN by default (the round-10
    // sf100 lesson, pipeline/Posture.scala): sort-dominated plans get
    // core-count reduce parallelism (256 was a measured ~2x map-fanout tax
    // on the §2.3 ordered family), wide aggregate/join plans get
    // volume-scaled fan-out (scan bytes / 64MB, clamped) so spill relief
    // tracks data the way a cluster sizes it. The AMBIENT default between
    // queries is core count — journeys that materialize ordered
    // checkpoints at plan-build time (config_sequence) need the tuned
    // posture for those inner jobs too. SPARK_GRAFT_INITIAL_PARTITIONS
    // forces one global value (the old sweep knob, kept for A/B runs).
    val forcedParts = sys.env.get("SPARK_GRAFT_INITIAL_PARTITIONS")
    val initialKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config(initialKey, forcedParts.getOrElse(cpus))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    SparkEntry.applyConfOverrides(spark)

    // Warmup: touch every table once (filesystem cache + codegen + shuffle machinery).
    Seq("lineitem", "orders", "customer", "supplier", "nation", "region",
      "part", "documents", "embeddings").foreach { t =>
      graft.sources.Tables.table(spark, sfDir, t).count()
    }
    graft.sources.Tables.events(spark, sfDir)
      .groupBy("event_type").count().count()

    val failed = scala.collection.mutable.ListBuffer.empty[String]
    // heads whose row is a measured cell-budget REFUSAL (the guard firing
    // is the product behavior at that scale) — annotated in the JSON so a
    // sub-second row at sf100 reads as "refused by design", not "fast"
    val refused = scala.collection.mutable.SortedSet.empty[String]

    // Best of 2 runs per query: the shared host has bursty background load,
    // and steady-state latency is the honest number for plan quality.
    // A query that throws records -1 (sentinel) and lands in `failed`,
    // so a broken query can't silently inflate the total.
    //
    // The action is a noop-sink WRITE, not count(): count() lets Catalyst
    // prune everything the row count doesn't need — a per-doc report built
    // as `documents LEFT JOIN <grouped scores>` collapses to a bare scan
    // because the grouped side is key-unique (measured at sf10:
    // dsir_select 0.99 s under count() vs 28.5 s for the real plan). The
    // noop sink materializes every output row distributed, no driver
    // collect — the honest cost of producing the result.
    // SPARK_GRAFT_RUNS=1 measures a single cold run (e.g. to price a
    // train-if-missing artifact fit that best-of-2 would amortize away).
    val runsPerQuery = sys.env.get("SPARK_GRAFT_RUNS").map { v =>
      // fail loudly on garbage and clamp to >= 1: a non-numeric or
      // non-positive value would otherwise crash mid-sweep (bare .toInt)
      // or yield an empty times sequence that records -1 for every query
      val n = scala.util.Try(v.trim.toInt).getOrElse(
        throw new IllegalArgumentException(
          s"SPARK_GRAFT_RUNS must be a positive integer, got '$v'"))
      if (n < 1) throw new IllegalArgumentException(
        s"SPARK_GRAFT_RUNS must be >= 1, got $n")
      n
    }.getOrElse(2)
    def time(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val times = (1 to runsPerQuery).flatMap { _ =>
        val t0 = System.nanoTime()
        try {
          // ambient core-count posture for plan-build-time jobs, then the
          // per-plan posture for the measured action (a forced global value
          // disables both — the A/B knob)
          if (forcedParts.isEmpty) spark.conf.set(initialKey, cpus)
          val df = fn(spark, sfDir)
          // Posture.applyTo logs classification failures (a silent core-count
          // fallback would read as an unexplained benchmark shift) and
          // honors the SPARK_GRAFT_INITIAL_PARTITIONS A/B override itself
          graft.pipeline.Posture.applyTo(df, cpus.toInt, label = name)
          df.write.format("noop").mode("overwrite").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch {
          case e: graft.operators.Assembly.CellBudgetExceeded =>
            // a designed max_cells refusal: the head's behavior at this
            // scale IS the guard firing (one metadata-scale count, then a
            // plan-time raise) — record the time-to-refusal as the row
            refused += name
            System.err.println(
              s"[bench] $name refused by design (cell budget) — " +
                s"recording time-to-refusal: ${e.getMessage}")
            Some((System.nanoTime() - t0) / 1e9)
          case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            None
        }
      }
      if (times.isEmpty) { failed += name; -1.0 } else times.min
    }

    // SPARK_GRAFT_ONLY=q1,q2 restricts the run for local iteration.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    val (streamingQ, batchQ) = selected.partition(_._1.startsWith("stream_"))
    // Streaming twin of the batch warmup above: the FIRST streaming query in
    // a session pays one-time micro-batch/state-store machinery init (~2-3 s
    // observed — it made stream_windowed_agg swing 1.7-4.3 s across rounds
    // on an identical plan). Run one trivial AvailableNow query untimed so
    // every timed streaming query measures its plan, not the init.
    if (streamingQ.nonEmpty) {
      val q = graft.streaming.Streaming.readEvents(spark, sfDir)
        .groupBy("event_type").count()
        .writeStream.format("memory").queryName("graft_bench_stream_warmup")
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    val loadStart = loadAvg()
    val firstPass = (batchQ ++ streamingQ).map { case (name, fn) => name -> time(name, fn) }

    // outlier pass: anything over 2x its recorded floor is more likely
    // co-tenant noise than a plan regression — one more best-of-2, keep min.
    // The floors are sf0.1 measurements, so the pass only arms at the sf0.1
    // dir (at sf1 every query is legitimately past 2x floor and the pass
    // would just triple the sweep); SPARK_GRAFT_NO_RERUN=1 disables it.
    val floors =
      if (sys.env.contains("SPARK_GRAFT_NO_RERUN") || !isFloorScale(sfDir))
        Map.empty[String, Double]
      else baselineFloors()
    val byName = (batchQ ++ streamingQ).toMap
    val outliers = firstPass.collect {
      case (name, v) if v > 0 && floors.get(name).exists(v > 2 * _) => name
    }
    val results = firstPass.map { case (name, v) =>
      if (outliers.contains(name)) {
        val again = time(name, byName(name))
        name -> (if (again > 0) math.min(v, again) else v)
      } else name -> v
    }
    // solo-confirm pass (r14 verdict ask #2): any head STILL over 2x its
    // floor after the in-sweep re-run gets one solo best-of-2 from a
    // re-settled machine — the sweep-fold discipline applied INSIDE the
    // artifact: the JSON records both numbers, so a >2x row is either
    // confirmed (solo agrees → a real plan cost) or exonerated (solo
    // lands under → co-tenant noise, min kept) without leaving the file.
    val soloRuns = results.collect {
      case (name, v) if v > 0 && floors.get(name).exists(v > 2 * _) =>
        settleMachine(targetLoad = 3.0, maxWaitSec = 120, force = true)
        val solo = time(name, byName(name))
        (name, v, solo)
    }
    val soloKept = soloRuns.map { case (n, swept, solo) =>
      n -> (if (solo > 0) math.min(swept, solo) else swept)
    }.toMap
    val finalResults = results.map { case (n, v) =>
      n -> soloKept.getOrElse(n, v)
    }
    val loadEnd = loadAvg()

    val qs = finalResults.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = finalResults.collect { case (_, v) if v >= 0 => v }.sum
    // a query whose outlier RE-RUN failed but whose first-pass time was
    // kept is healthy — only queries with no successful run count as failed
    val trulyFailed = failed.distinct.filter(n =>
      finalResults.find(_._1 == n).forall(_._2 < 0))
    val failedJson = trulyFailed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val rerunJson = outliers.map("\"" + _ + "\"").mkString("[", ",", "]")
    val soloJson = soloRuns.map { case (n, swept, solo) =>
      "\"" + n + "\":{\"swept\":" + swept + ",\"solo\":" + solo + "}"
    }.mkString("{", ",", "}")
    val refusedJson = refused.map("\"" + _ + "\"").mkString("[", ",", "]")
    // fixture-staging transparency (r16 verdict ask #5): which heads paid a
    // fixture BUILD inside this run's timed region (cold pass) vs hit the
    // marker (warm pass) — a per-run boolean map, small by construction
    // (only the handful of fixture-staging heads appear)
    val fixtureJson = {
      import scala.jdk.CollectionConverters._
      graft.queries.Q.fixtureBuilds.asScala.toSeq.sortBy(_._1)
        .map { case (p, built) => "\"" + p + "\":" + built }
        .mkString("{", ",", "}")
    }
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"refused_by_design":$refusedJson,"rerun":$rerunJson,"solo_confirm":$soloJson,"fixture_builds":$fixtureJson,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"settle_wait_sec":${math.round(settleWait)},"sf":"$sfDir"}"""
    println(json)
    // The round driver archives only a ~2000-char stdout TAIL: at 229 heads
    // the full line above is ~10 KB, so it truncates mid-map and the
    // driver's per-query PERF comparison has come back empty for three
    // rounds (r16 verdict ask #1). Print a SECOND, compact, final summary
    // line — total, counts, failures, sentinel heads — guaranteed to fit
    // the tail whole so the driver can always parse at least the total.
    // The full per-query map stays in the first line and in bench_full.json.
    val sentinelHeads = Seq("where_filter", "token_count", "lang_id")
    val sentinelsJson = finalResults.filter(r => sentinelHeads.contains(r._1))
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n":${finalResults.size},"failed":$failedJson,"refused_by_design":$refusedJson,"sentinels":$sentinelsJson,"fixture_builds":$fixtureJson,"load_avg_start":$loadStart,"load_avg_end":$loadEnd,"settle_wait_sec":${math.round(settleWait)},"sf":"$sfDir"}""")
    // the driver's round artifact keeps only the tail of stdout, which
    // truncated the first ~44 per-query timings out of the permanent record
    // in round 7 — persist the full map to a file as well
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_full.json")), json)
    catch { case e: Exception =>
      System.err.println(s"[bench] could not write bench_full.json: ${e.getMessage}")
    }
    spark.stop()
  }
}
