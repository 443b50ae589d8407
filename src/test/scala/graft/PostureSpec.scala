package graft

import graft.pipeline.Posture

/** Per-plan reduce-parallelism posture (pipeline/Posture.scala): the rule
  * that replaced the global 256-initial-partition sweep knob. Pins the
  * classification of every head the round-10 posture finding measured —
  * the §2.3 ordered family must land on core-count parallelism (the tuned
  * numbers of bench_sf100_ordered_tuned.json), the wide fact shuffles must
  * keep the volume-scaled fan-out — plus the mixed-plan case (asof_join:
  * a group-bounded rollup exchange must not drag the raw window shuffle
  * onto the wide posture).
  */
class PostureSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val cores = 4

  private def classify(name: String): Boolean =
    Posture.sortDominated(Posture.plannedWithExchanges(
      SparkEntry.queries(name)(spark, sf)))

  test("the tuned ordered family is sort-dominated -> core-count parallelism") {
    // config_sequence is deliberately absent: its ordered work runs at
    // plan-BUILD time (checkpointed sequence windows), so its result plan
    // is a group-bounded fold aggregate — the upstream jobs get the tuned
    // posture from the AMBIENT core-count default Bench resets per query.
    val tuned = Seq("ensure_cadence", "forward_sum", "asof_join",
      "forward_fill", "rolling_mean", "rolling_median",
      "rolling_slope", "rolling_stdev", "sessionize",
      "lag_periods", "lead_periods", "rolling_max", "rolling_min",
      "rolling_pstdev", "fill_mean", "collapse_last", "pipeline_chain",
      // r16: with the CC labels arriving as a gated driver broadcast, the
      // head's one remaining RAW shuffle is the members window over the
      // cluster label — sort family, core-count posture is right for it.
      // (Above the CC ceiling the distributed CC exchanges return and the
      // plan votes wide again, as before.)
      "dedup_cluster")
    val misclassified = tuned.filterNot(classify)
    assert(misclassified.isEmpty,
      s"ordered heads classified wide (would re-pay the ~2x fan-out tax): $misclassified")
  }

  test("wide fact shuffles keep the volume-scaled posture") {
    val wide = Seq("q1_pricing", "q3_topk", "q5_region", "dedup_exact",
      "dedup_minhash", "vocab_topk", "align_streams",
      "derived_stream")
    val misclassified = wide.filter(classify)
    assert(misclassified.isEmpty,
      s"wide heads classified sort-only (would lose spill relief at scale): $misclassified")
    // the bigram LM head now hydrates its artifact; the wide shuffle lives
    // in the FIT job, which must keep the volume-scaled posture
    val fit = graft.operators.BigramLm.scoreFrame(
      graft.sources.Tables.documents(spark, sf), "doc_id", "text")
    assert(!Posture.sortDominated(Posture.plannedWithExchanges(fit)),
      "the bigram LM fit classified sort-only")
  }

  test("the assembly journey keeps the volume-scaled posture (r13 ask #7)") {
    // config_dataset's result plan carries the ~1M-group assembly shuffle;
    // a sort-dominated misclassification would pin it to core-count
    // partitions and spill at scale. (config_sequence is deliberately
    // absent here as in the tuned list: its ordered work runs at
    // plan-BUILD time under the ambient posture, and its result plan is a
    // group-bounded fold — its near-linear decade is the row-linear
    // assembly shuffle itself, not a posture miss.)
    assert(!classify("config_dataset"),
      "config_dataset classified sort-only — would lose spill relief")
  }

  test("scanBytes skips the defaultSizeInBytes sentinel of stat-less leaves") {
    // RDD-backed leaves (LogicalRDD without originStats) carry no real
    // statistics — they report the spark.sql.defaultSizeInBytes sentinel
    // (Long.MaxValue). Counting it pinned every in-memory wide plan to the
    // 1024-partition ceiling and paid the map-side fan-out tax on tiny
    // plans. (.rdd here is the test constructing the stat-less fixture,
    // not an operator shape.)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType)))
    val tiny = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row("a", 1L),
        org.apache.spark.sql.Row("b", 2L))), schema)
      .groupBy("k").count()
    assert(Posture.scanBytes(tiny) == BigInt(0),
      s"sentinel leaf must not count, got ${Posture.scanBytes(tiny)}")
    assert(Posture.initialShufflePartitions(tiny, cores) == cores,
      "a stat-less wide plan must fall back to core count, not the ceiling")
  }

  test("Cli materializes route through the per-plan posture, no env knobs") {
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft_cli_posture")
    val data = root.resolve("data"); Files.createDirectories(data)
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      data.resolve("events.parquet"))
    val cores = spark.sparkContext.defaultParallelism
    val sink = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())

    // a SORT-dominated project: ordered window transforms over the key
    val sortedCfg = root.resolve("sorted.yaml")
    Files.writeString(sortedCfg,
      """sources:
        |  - id: ev
        |    loader: { transport: fs, path: events.parquet, reader: { format: parquet } }
        |streams:
        |  - id: ordered
        |    from: { source: ev }
        |    map: { time: ts, fields: [user_id, event_id, value] }
        |    partition_by: [user_id]
        |    tiebreak: [event_id]
        |    transforms:
        |      - { operation: rolling, field: value, window: 3, statistic: mean, to: m3 }
        |""".stripMargin)
    // sentinel no rule ever produces: the write must run under the
    // plan's own posture, and the sentinel must come back after it
    spark.conf.set(Posture.InitialPartitionsKey, "7")
    val (_, sortedRun) = SqlExecutions.started(spark, Posture.InitialPartitionsKey) {
      Cli.materializeStreams(spark, sortedCfg.toString, data.toString,
        root.resolve("serve_sorted").toString, out = sink)
    }
    val sortedProject = graft.pipeline.Config.parseProject(
      Files.readString(sortedCfg))
    val sortedFrame = graft.pipeline.ConfigRuntime
      .resolver(spark, data.toString, sortedProject).stream("ordered")
    assert(Posture.sortDominated(Posture.plannedWithExchanges(sortedFrame)),
      "fixture must classify sort-dominated")
    assert(sortedRun.filter(_.writes).map(_.conf) == Seq(Some(cores.toString)),
      "a Cli materialize of a sort-dominated project plans core-count partitions")
    assert(spark.conf.get(Posture.InitialPartitionsKey) == "7")

    // a WIDE project: the dataset journey ends in joins/aggregates
    val wideCfg = root.resolve("wide.yaml")
    Files.writeString(wideCfg,
      """sources:
        |  - id: ev
        |    loader: { transport: fs, path: events.parquet, reader: { format: parquet } }
        |streams:
        |  - id: s
        |    from: { source: ev }
        |    map: { time: ts, fields: [user_id, value] }
        |    partition_by: [user_id]
        |dataset:
        |  sample: { cadence: 1h, keys: [user_id] }
        |  features: [ { id: v, stream: s, field: value } ]
        |""".stripMargin)
    val (_, wideRun) = SqlExecutions.started(spark, Posture.InitialPartitionsKey) {
      Cli.materialize(spark, wideCfg.toString, data.toString,
        root.resolve("serve_wide").toString, out = sink)
    }
    val wideProject = graft.pipeline.Config.parseProject(
      Files.readString(wideCfg))
    val wideFrame = graft.pipeline.ConfigRuntime
      .dataset(spark, data.toString, wideProject)
    assert(!Posture.sortDominated(Posture.plannedWithExchanges(wideFrame)),
      "fixture must classify wide")
    val expected = Posture.initialShufflePartitions(wideFrame, cores)
    assert(wideRun.filter(_.writes).map(_.conf) == Seq(Some(expected.toString)),
      "a Cli materialize of a wide project plans volume-scaled partitions")
    assert(spark.conf.get(Posture.InitialPartitionsKey) == "7")
    spark.conf.unset(Posture.InitialPartitionsKey)
  }

  test("a materialize's posture does not leak into the next journey's plan build") {
    import java.nio.file.Files
    import spark.implicits._
    val root = Files.createTempDirectory("graft_posture_scope")
    val data = root.resolve("data")
    Seq.tabulate(40)(i => (i.toLong,
      s"page $i about ${i % 4} tidal pools sea stars and the river bank"))
      .toDF("doc_id", "text")
      .write.parquet(data.resolve("docs.parquet").toString)
    val cfg = root.resolve("corpus.yaml")
    Files.writeString(cfg,
      """sources:
        |  - id: docs
        |    loader: { transport: fs, path: docs.parquet, reader: { format: parquet } }
        |corpus:
        |  source: docs
        |  id: doc_id
        |  text: text
        |  steps:
        |    - { step: dedup_exact }
        |    - { step: dedup_fuzzy, threshold: 0.5 }
        |""".stripMargin)
    val sink = new java.io.PrintStream(java.io.OutputStream.nullOutputStream())
    def journey(i: Int): Seq[SqlExecutions.Started] =
      SqlExecutions.started(spark, Posture.InitialPartitionsKey) {
        Cli.materialize(spark, cfg.toString, data.toString,
          root.resolve(s"serve$i").toString, out = sink)
      }._2
    spark.conf.unset(Posture.InitialPartitionsKey)
    val first = journey(0)
    val second = journey(1)
    for ((run, name) <- Seq(first -> "first", second -> "second")) {
      val (planBuild, rest) = run.span(!_.writes)
      assert(planBuild.nonEmpty && rest.headOption.exists(_.writes),
        s"$name: plan-build executions, then the write: $run")
      // the session never set the key: plan build runs on its default
      assert(planBuild.forall(_.conf.isEmpty),
        s"$name journey's plan build saw a leaked posture: $run")
      assert(rest.head.conf.nonEmpty, s"$name: the write runs under the posture")
    }
    assert(spark.conf.getOption(Posture.InitialPartitionsKey).isEmpty,
      "the session's value comes back after the journey")
  }

  test("initial partitions: cores for sort plans, volume-clamped for wide") {
    val sorted = SparkEntry.queries("rolling_median")(spark, sf)
    assert(Posture.initialShufflePartitions(sorted, cores) == cores)
    val wide = SparkEntry.queries("q1_pricing")(spark, sf)
    val parts = Posture.initialShufflePartitions(wide, cores)
    // tiny input -> the volume term is below cores and the clamp holds
    assert(parts == cores, s"at sf0.001 volume must clamp to cores, got $parts")
    // the volume term itself tracks bytes / 64MB up to the ceiling
    assert(Posture.scanBytes(wide) > 0)
  }
}
