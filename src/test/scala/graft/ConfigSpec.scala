package graft

import java.sql.Timestamp

import org.apache.spark.sql.functions._

import graft.operators.{Compose, StreamKey}
import graft.pipeline.{Config, ConfigRuntime, Pipeline}

/** The declarative config surface: a literal reference-style YAML document
  * must produce the same plans as manual composition (Pipeline ADT /
  * Compose / DatasetPipeline equivalents), and reference-grade strictness
  * must reject malformed documents.
  */
class ConfigSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  private lazy val dataDir: String = {
    val dir = "/tmp/graft_config_spec"
    val df = spark.createDataFrame(Seq(
      ("u1", ts("2024-01-01 00:05:00"), 1L, 10.0, "click"),
      ("u1", ts("2024-01-01 00:55:00"), 2L, 20.0, "click"),
      ("u1", ts("2024-01-01 01:10:00"), 3L, 30.0, "purchase"),
      ("u1", ts("2024-01-01 02:20:00"), 4L, 40.0, "click"),
      ("u2", ts("2024-01-01 00:30:00"), 5L, 50.0, "error"),
      ("u2", ts("2024-01-01 01:40:00"), 6L, 60.0, "purchase"),
      ("u2", ts("2024-01-01 03:00:00"), 7L, 70.0, "click")
    )).toDF("user_id", "ts", "event_id", "value", "event_type")
    df.write.mode("overwrite").parquet(s"$dir/ticks.parquet")
    val factors = spark.createDataFrame(Seq(
      (ts("2024-01-01 00:00:00"), 1.0),
      (ts("2024-01-01 01:00:00"), 2.0),
      (ts("2024-01-01 02:00:00"), 3.0),
      (ts("2024-01-01 03:00:00"), 4.0)
    )).toDF("time", "factor")
    factors.write.mode("overwrite").parquet(s"$dir/factors.parquet")
    dir
  }

  test("op list parses to the exact Pipeline ADT") {
    val yaml =
      """streams:
        |  - id: s
        |    from: { source: src }
        |    partition_by: [user_id]
        |    preprocess:
        |      - { operation: where, field: time, operator: ge, comparand: "2024-01-01T00:00:00Z" }
        |      - { operation: floor_time, cadence: 10m }
        |    transforms:
        |      - { operation: collapse, keep: last }
        |      - { operation: rolling, field: value, window: 3, statistic: mean, to: m3, min_samples: 2 }
        |      - { operation: lag, field: value, periods: 1 }
        |      - { operation: derive, left: value, operator: sub, right_field: m3, to: chg }
        |      - { operation: fill, field: value, window: 6, statistic: median, min_samples: 2 }
        |      - { operation: encode_time, mode: hour_sin, to: h_sin }
        |sources:
        |  - id: src
        |    loader: { transport: fs, path: ticks.parquet, reader: { format: parquet } }
        |""".stripMargin
    val p = Config.parseProject(yaml)
    val s = p.stream("s")
    assert(s.preprocess == Seq(
      Pipeline.Where("time", "ge",
        Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))),
      Pipeline.FloorTime("10m")))
    assert(s.transforms == Seq(
      Pipeline.Collapse("last"),
      Pipeline.Rolling("value", "mean", 3, "m3", Some(2)),
      Pipeline.Lag("value", 1, "value"),
      Pipeline.Derive("value", "sub", "chg", Some("m3"), None),
      Pipeline.Fill("value", 6, "median", "value", 2),
      Pipeline.EncodeTime("hour_sin", "h_sin")))
  }

  test("source-backed stream equals manual composition") {
    val yaml =
      s"""globals:
         |  start: "2024-01-01T00:00:00Z"
         |sources:
         |  - id: ticks
         |    loader: { transport: fs, path: ticks.parquet, reader: { format: parquet } }
         |streams:
         |  - id: user.values
         |    from: { source: ticks }
         |    map: { time: ts }
         |    partition_by: [user_id]
         |    tiebreak: [event_id]
         |    preprocess:
         |      - { operation: where, field: event_type, operator: ne, comparand: error }
         |      - { operation: where, field: time, operator: ge, comparand: "$${start}" }
         |    transforms:
         |      - { operation: rolling, field: value, window: 2, statistic: mean, to: m2, min_samples: 2 }
         |      - { operation: lag, field: value, periods: 1, to: prev }
         |""".stripMargin
    val p = Config.parseProject(yaml)
    val got = ConfigRuntime.resolver(spark, dataDir, p).stream("user.values")

    val key = StreamKey(Seq("user_id"), "time", Seq("event_id"))
    val manual = Pipeline.run(
      spark.read.parquet(s"$dataDir/ticks.parquet").withColumnRenamed("ts", "time")
        .where(col("event_type") =!= "error")
        .where(col("time") >= lit(Timestamp.from(
          java.time.Instant.parse("2024-01-01T00:00:00Z")))),
      key, Seq(
        Pipeline.Rolling("value", "mean", 2, "m2", Some(2)),
        Pipeline.Lag("value", 1, "prev")))
    assert(got.columns.toSeq == manual.columns.toSeq)
    assert(rows(got.orderBy("event_id")) == rows(manual.orderBy("event_id")))
  }

  test("derived, broadcast and aligned streams compose like Compose._") {
    val yaml =
      """sources:
        |  - id: ticks
        |    loader: { transport: fs, path: ticks.parquet, reader: { format: parquet } }
        |  - id: factors
        |    loader: { transport: fs, path: factors.parquet, reader: { format: parquet } }
        |streams:
        |  - id: base
        |    from: { source: ticks }
        |    map: { time: ts }
        |    partition_by: [user_id]
        |    tiebreak: [event_id]
        |    preprocess:
        |      - { operation: floor_time, cadence: 1h }
        |    transforms:
        |      - { operation: collapse, keep: last }
        |  - id: market
        |    from: { source: factors }
        |  - id: enriched
        |    from: { stream: base, broadcast: market }
        |    transforms:
        |      - { operation: derive, left: value, operator: mul, right_field: b_factor, to: scaled }
        |  - id: doubled
        |    from: { stream: base }
        |    transforms:
        |      - { operation: derive, left: value, operator: add, right_field: value, to: v2 }
        |  - id: both
        |    from: { align: [enriched, doubled] }
        |""".stripMargin
    val p = Config.parseProject(yaml)
    val res = ConfigRuntime.resolver(spark, dataDir, p)

    val key = StreamKey(Seq("user_id"), "time", Seq("event_id"))
    val base = Pipeline.run(
      spark.read.parquet(s"$dataDir/ticks.parquet").withColumnRenamed("ts", "time"),
      key, Seq(Pipeline.FloorTime("1h"), Pipeline.Collapse("last")))
    val market = spark.read.parquet(s"$dataDir/factors.parquet")
    val enrichedManual = Compose.broadcastJoin(base, market, "time")
      .withColumn("scaled", col("value") * col("b_factor"))
    assert(rows(res.stream("enriched").orderBy("event_id")) ==
      rows(enrichedManual.orderBy("event_id")))

    val doubledManual = base.withColumn("v2", col("value") + col("value"))
    val bothManual = Compose.alignStreams(
      Seq(enrichedManual, doubledManual), Seq("user_id"), "time")
    assert(rows(res.stream("both").orderBy("s0_event_id", "s1_event_id")) ==
      rows(bothManual.orderBy("s0_event_id", "s1_event_id")))
    assert(res.partitionBy("both") == Seq("user_id"))
  }

  test("dataset runtime: assembly, fold mapping, train-only scaler") {
    val yaml =
      """sources:
        |  - id: ticks
        |    loader: { transport: fs, path: ticks.parquet, reader: { format: parquet } }
        |streams:
        |  - id: base
        |    from: { source: ticks }
        |    map: { time: ts }
        |    partition_by: [user_id]
        |    tiebreak: [event_id]
        |    preprocess:
        |      - { operation: floor_time, cadence: 1h }
        |    transforms:
        |      - { operation: collapse, keep: last }
        |dataset:
        |  sample:
        |    cadence: 1h
        |    keys: [user_id]
        |  features:
        |    - { id: val, stream: base, field: value, scale: true }
        |  split:
        |    mode: time
        |    intervals:
        |      - { id: early, until: "2024-01-01T02:00:00Z" }
        |      - { id: late }
        |    folds:
        |      - { id: holdout, train: [early], test: [late] }
        |""".stripMargin
    val p = Config.parseProject(yaml)
    val ds = ConfigRuntime.dataset(spark, dataDir, p)
    assert(ds.columns.toSeq ==
      Seq("fold", "role", "sample_time", "user_id", "val"))

    // collapse keep=last per (user, hour): u1 → 20, 30, 40; u2 → 50, 60, 70.
    // early (< 02:00): u1@00=20 u1@01=30 u2@00=50 u2@01=60 → train
    // late: u1@02=40, u2@03=70 → test
    val got = ds.collect().map(r =>
      (r.getString(0), r.getString(1), r.getString(3), r.getDouble(4))).toSet
    val trainVals = Seq(20.0, 30.0, 50.0, 60.0)
    val mean = trainVals.sum / 4
    val std = math.sqrt(trainVals.map(v => (v - mean) * (v - mean)).sum / 4)
    def z(v: Double) = (v - mean) / (math.rint(std * 1e6) / 1e6)
    assert(got == Set(
      ("holdout", "train", "u1", z(20.0)), ("holdout", "train", "u1", z(30.0)),
      ("holdout", "train", "u2", z(50.0)), ("holdout", "train", "u2", z(60.0)),
      ("holdout", "test", "u1", z(40.0)), ("holdout", "test", "u2", z(70.0))))
  }

  test("dataset runtime: a sample key named series_id or value is an ordinary key") {
    // the long series projection inside assembly has its own id and value
    // columns; sample keys carrying those names must not collide with them
    val ticks = spark.read.parquet(s"$dataDir/ticks.parquet")
    ticks.withColumnRenamed("user_id", "series_id")
      .write.mode("overwrite").parquet(s"$dataDir/ticks_series_id.parquet")
    ticks.withColumnRenamed("value", "v").withColumnRenamed("user_id", "value")
      .write.mode("overwrite").parquet(s"$dataDir/ticks_value.parquet")
    def doc(file: String, key: String, field: String) =
      s"""sources:
         |  - id: ticks
         |    loader: { transport: fs, path: $file, reader: { format: parquet } }
         |streams:
         |  - id: base
         |    from: { source: ticks }
         |    map: { time: ts }
         |    partition_by: [$key]
         |    tiebreak: [event_id]
         |    transforms:
         |      - { operation: collapse, keep: last }
         |dataset:
         |  sample: { cadence: 1h, keys: [$key] }
         |  features:
         |    - { id: val, stream: base, field: $field }
         |""".stripMargin
    def run(file: String, key: String, field: String) =
      ConfigRuntime.dataset(spark, dataDir, Config.parseProject(doc(file, key, field)))
    val byUser = run("ticks.parquet", "user_id", "value")
    val expected = rows(byUser.orderBy("sample_time", "user_id"))
    for ((file, key, field) <- Seq(("ticks_series_id.parquet", "series_id", "value"),
                                   ("ticks_value.parquet", "value", "v"))) {
      val ds = run(file, key, field)
      assert(ds.columns.toSeq == byUser.columns.toSeq.map {
        case "user_id" => key
        case c => c
      })
      assert(rows(ds.orderBy("sample_time", key)) == expected)
    }
  }

  /** A one-stream project whose transform list is `op`; parsing must fail
    * naming the stream, the field and the broken range.
    */
  private def rejectsRange(op: String, needle: String): Unit = {
    val yaml = s"""streams: [ { id: ticks.s, from: { source: x }, transforms: [ $op ] } ]"""
    val e = intercept[IllegalArgumentException](Config.parseProject(yaml))
    assert(e.getMessage.contains(s"stream 'ticks.s': $needle"), s"got: ${e.getMessage}")
  }

  test("ranges: lag and lead need periods >= 1 (a negative lag serves the future)") {
    rejectsRange("{ operation: lag, field: value, periods: -1 }",
      "lag of 'value': periods must be >= 1, got -1")
    rejectsRange("{ operation: lead, field: value, periods: 0 }",
      "lead of 'value': periods must be >= 1, got 0")
  }

  test("ranges: rolling, forward_sum and fill need window >= 1") {
    rejectsRange("{ operation: rolling, field: value, window: 0, statistic: mean }",
      "rolling of 'value': window must be >= 1, got 0")
    rejectsRange("{ operation: forward_sum, field: volume, window: 0, to: f }",
      "forward_sum of 'volume': window must be >= 1, got 0")
    rejectsRange("{ operation: fill, field: value, window: 0, statistic: mean }",
      "fill of 'value': window must be >= 1, got 0")
  }

  test("ranges: min_samples must lie in 1..window") {
    rejectsRange("{ operation: rolling, field: value, window: 3, statistic: mean, min_samples: 4 }",
      "rolling of 'value': min_samples must lie in 1..3, got 4")
    rejectsRange("{ operation: rolling, field: value, window: 3, statistic: max, min_samples: 0 }",
      "rolling of 'value': min_samples must lie in 1..3, got 0")
    rejectsRange("{ operation: fill, field: value, window: 2, statistic: mean, min_samples: 3 }",
      "fill of 'value': min_samples must lie in 1..2, got 3")
  }

  test("strictness: unknown ops, unknown fields, env refs are rejected") {
    def bad(yaml: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](Config.parseProject(yaml))
      assert(e.getMessage.contains(needle), s"got: ${e.getMessage}")
    }
    bad("""streams: [ { id: s, from: { source: x }, transforms: [ { operation: exotic } ] } ]""",
      "unknown operation 'exotic'")
    bad("""streams: [ { id: s, from: { source: x }, transforms: [ { operation: lag, field: v, periods: 1, surprise: 1 } ] } ]""",
      "unknown field")
    bad("""sources: [ { id: s, loader: { transport: fs, path: "${env:SECRET}" } } ]""",
      "${env:")
    bad("""streams: [ { id: s, from: { source: a }, ordered_by: [time, user_id] , partition_by: [user_id] } ]""",
      "ordered_by")
    bad("""dataset: { sample: { cadence: 1h }, features: [ { id: a__b, stream: s, field: f } ] }""",
      "reserved")
    bad("""streams: [ { id: s, from: { source: x }, transforms: [ { operation: floor_time, cadence: 1h } ] } ]""",
      "preprocess")
    bad("""streams: [ { id: s, from: { source: x }, preprocess: [ { operation: collapse, keep: last } ] } ]""",
      "ordered transform")
  }

  test("sequence series policies parse with reference defaults and bounds") {
    def vector(yaml: String): Config.VectorDef =
      Config.parseProject(
        s"""dataset: { sample: { cadence: 1h }, features: [ $yaml ] }""")
        .dataset.get.features.head
    // stride defaults to 1 (reference SequenceConfig)
    assert(vector("{ id: a, stream: s, field: f, sequence: { size: 4 } }")
      .sequence.contains(Config.SequenceDef(4, 1)))
    assert(vector("{ id: a, stream: s, field: f, sequence: { size: 2, stride: 3 } }")
      .sequence.contains(Config.SequenceDef(2, 3)))
    assert(vector("{ id: a, stream: s, field: f }").sequence.isEmpty)
    def bad(yaml: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](vector(yaml))
      assert(e.getMessage.contains(needle), s"got: ${e.getMessage}")
    }
    bad("{ id: a, stream: s, field: f, sequence: { size: 0 } }", "size must be > 0")
    bad("{ id: a, stream: s, field: f, sequence: { size: 2, stride: 0 } }",
      "stride must be > 0")
    bad("{ id: a, stream: s, field: f, sequence: { stride: 2 } }", "requires 'size'")
    bad("{ id: a, stream: s, field: f, sequence: { size: 2, pad: 1 } }",
      "unknown field")
  }

  test("task configs parse with reference defaults; invalid ones are rejected") {
    val p = Config.parseProject(
      """streams: [ { id: s, from: { source: x }, partition_by: [k] } ]
        |dataset: { sample: { cadence: 1h, keys: [k] },
        |           features: [ { id: a, stream: s, field: f } ] }
        |tasks:
        |  - { id: cov, task: coverage }
        |  - { id: mat, task: matrix, stage: assembled, max_cells: 10 }
        |  - { id: sc, task: scaler, epsilon: 0.001 }
        |  - { id: meta, task: metadata }
        |  - { id: t, task: ticks, stream: s, grid_by: [k] }
        |""".stripMargin)
    assert(p.task("cov") == Config.CoverageTask("cov", 0.95, "postprocessed"))
    assert(p.task("mat") == Config.MatrixTask("mat", "assembled", 10L))
    assert(p.task("sc") == Config.ScalerTask("sc", true, true, 0.001))
    assert(p.task("t") == Config.TicksTask("t", "s", Seq("k")))
    def bad(tasks: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](Config.parseProject(
        s"""streams: [ { id: s, from: { source: x } } ]
           |dataset: { sample: { cadence: 1h }, features: [ { id: a, stream: s, field: f } ] }
           |tasks: [ $tasks ]
           |""".stripMargin))
      assert(e.getMessage.contains(needle), s"got: ${e.getMessage}")
    }
    bad("{ id: a, task: exotic }", "unknown task kind")
    bad("{ id: a, task: coverage, threshold: 1.5 }", "must be in [0, 1]")
    bad("{ id: a, task: matrix, max_cells: 0 }", "max_cells must be > 0")
    bad("{ id: a, task: scaler, epsilon: 0 }", "epsilon must be finite and positive")
    bad("{ id: a, task: ticks, stream: s, grid_by: [time] }", "reserved field 'time'")
    bad("{ id: a, task: ticks, stream: s, grid_by: [k, k] }", "duplicate")
    bad("{ id: a, task: ticks, stream: nope }", "unknown stream")
    bad("{ id: a, task: coverage, surprise: 1 }", "unknown field")
    bad("{ id: a, task: coverage }, { id: a, task: metadata }", "duplicate task id")
    // dataset-stage tasks demand a dataset section
    val e = intercept[IllegalArgumentException](Config.parseProject(
      """streams: [ { id: s, from: { source: x } } ]
        |tasks: [ { id: a, task: coverage } ]
        |""".stripMargin))
    assert(e.getMessage.contains("require a 'dataset'"))
  }

  test("profiles parse as named option bundles; invalid ones are rejected") {
    val p = Config.parseProject(
      """streams: [ { id: s, from: { source: x }, partition_by: [k] } ]
        |dataset: { sample: { cadence: 1h, keys: [k] },
        |           features: [ { id: a, stream: s, field: f } ] }
        |profiles:
        |  - { id: quick, cmd: materialize, preview: 5, format: csv, run_root: serve }
        |  - { id: peek, cmd: stream, stream: s }
        |  - { id: all, cmd: materialize-streams }
        |""".stripMargin)
    assert(p.profile("quick") ==
      Config.ProfileDef("quick", "materialize", None, 5, "csv", Some("serve")))
    assert(p.profile("peek") ==
      Config.ProfileDef("peek", "stream", Some("s"), 20, "parquet", None))
    assert(p.profile("all").cmd == "materialize-streams")
    def bad(profiles: String, needle: String): Unit = {
      val e = intercept[IllegalArgumentException](Config.parseProject(
        s"""streams: [ { id: s, from: { source: x } } ]
           |dataset: { sample: { cadence: 1h }, features: [ { id: a, stream: s, field: f } ] }
           |profiles: [ $profiles ]
           |""".stripMargin))
      assert(e.getMessage.contains(needle), s"got: ${e.getMessage}")
    }
    bad("{ id: a, cmd: deploy }", "cmd must be")
    bad("{ id: a, cmd: materialize, format: xml }", "format must be")
    bad("{ id: a, cmd: stream }", "requires a 'stream' id")
    bad("{ id: a, cmd: stream, stream: nope }", "unknown stream")
    bad("{ id: a, cmd: materialize, stream: s }", "only cmd 'stream'")
    bad("{ id: a, cmd: materialize-streams, format: csv }", "only cmd 'materialize'")
    bad("{ id: a, cmd: stream, stream: s, preview: 0 }", "must be >= 1")
    bad("{ id: a, cmd: materialize, surprise: 1 }", "unknown field")
    bad("{ id: a, cmd: materialize }, { id: a, cmd: materialize }",
      "duplicate profile")
  }

  test("corpus section parses ordered curation steps; invalid ones are rejected") {
    def doc(steps: String) =
      s"""sources:
         |  - id: docs
         |    loader: { transport: fs, path: documents.parquet, reader: { format: parquet } }
         |  - id: bench
         |    loader: { transport: fs, path: bench.parquet, reader: { format: parquet } }
         |corpus:
         |  source: docs
         |  steps: [ $steps ]
         |""".stripMargin
    val p = Config.parseProject(doc(
      """{ step: filter, lang: en, min_quality: 0.3 },
        |{ step: dedup_exact },
        |{ step: dedup_fuzzy, threshold: 0.5 },
        |{ step: dedup_incremental, index: idx/minhash, generation: crawl-7 },
        |{ step: decontaminate, benchmark: bench, ngram: 8 },
        |{ step: tokenize, artifact: tok/bpe.json, rounds: 12 },
        |{ step: chunk, size: 64, stride: 48 }""".stripMargin))
    val c = p.corpus.get
    assert(c.source == "docs" && c.idCol == "doc_id" && c.textCol == "text")
    assert(c.steps == Seq(
      Config.CorpusFilter(Some("en"), Some(0.3), None),
      Config.CorpusDedupExact(),
      Config.CorpusDedupFuzzy(0.5),
      Config.CorpusDedupIncremental("idx/minhash", "crawl-7", 0.5),
      Config.CorpusDecontaminate("bench", 8),
      Config.CorpusTokenize("tok/bpe.json", 12),
      Config.CorpusChunk(64, 48)))

    def bad(steps: String, msg: String): Unit = {
      val e = intercept[IllegalArgumentException](Config.parseProject(doc(steps)))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
    // the crawl front-end steps parse with their bounds
    val crawl = Config.parseProject(doc(
      """{ step: extract, format: html },
        |{ step: gopher, min_words: 40, min_stops: 1 },
        |{ step: dedup_lines, min_freq: 2 }""".stripMargin)).corpus.get
    assert(crawl.steps == Seq(
      Config.CorpusExtract("html"),
      Config.CorpusGopher(Some(40L), None, None, None, None, None, Some(1)),
      Config.CorpusDedupLines(2L)))

    bad("{ step: gizmo }", "unknown corpus step")
    bad("{ step: extract, format: pdf }", "only 'html' is supported")
    bad("{ step: gopher }", "at least one bound")
    bad("{ step: dedup_lines, min_freq: 1 }", "min_freq must be >= 2")
    bad("{ step: filter }", "at least one of")
    bad("{ step: filter, lang: english }", "lang must be one of")
    bad("{ step: chunk, size: 64 }, { step: dedup_exact }",
      "must be the last step")
    // corrupt is terminal (doc → (inputs, targets) pair) and zero-arg
    assert(Config.parseProject(doc("{ step: corrupt }")).corpus.get.steps ==
      Seq(Config.CorpusCorrupt()))
    bad("{ step: corrupt }, { step: dedup_exact }", "must be the last step")
    bad("{ step: corrupt, size: 8 }", "unknown field")
    // tokenize: the family discriminator picks the merge criterion
    assert(Config.parseProject(doc(
      "{ step: tokenize, artifact: t.json, rounds: 4, family: wordpiece }"))
      .corpus.get.steps == Seq(Config.CorpusTokenize("t.json", 4, "wordpiece")))
    assert(Config.parseProject(doc(
      "{ step: tokenize, artifact: t.json, rounds: 4 }"))
      .corpus.get.steps == Seq(Config.CorpusTokenize("t.json", 4)))
    bad("{ step: tokenize, artifact: t.json, family: sentencepiece }",
      "family must be 'bpe' or 'wordpiece'")
    // fim is terminal (doc → PSM example) with a defaulted, bounded rate
    assert(Config.parseProject(doc("{ step: fim }")).corpus.get.steps ==
      Seq(Config.CorpusFim(0.5)))
    assert(Config.parseProject(doc("{ step: fim, rate: 0.9 }"))
      .corpus.get.steps == Seq(Config.CorpusFim(0.9)))
    bad("{ step: fim }, { step: dedup_exact }", "must be the last step")
    bad("{ step: fim, rate: 1.5 }", "rate must be in [0, 1]")
    bad("{ step: fim, size: 8 }", "unknown field")
    bad("{ step: chunk, size: 8, stride: 9 }", "0 < stride <= size")
    bad("{ step: decontaminate, benchmark: nope }", "unknown source 'nope'")
    bad("{ step: decontaminate, benchmark: docs, method: fuzzy }",
      "method must be 'exact' or 'bloom'")
    bad("{ step: decontaminate, benchmark: docs, artifact: b.json }",
      "artifact requires method: bloom")
    assert(Config.parseProject(doc(
      "{ step: decontaminate, benchmark: docs, ngram: 3, method: bloom }"))
      .corpus.get.steps.head ==
      Config.CorpusDecontaminate("docs", 3, "bloom"))
    bad("{ step: dedup_fuzzy, threshold: 1.5 }", "threshold must be in (0, 1]")
    bad("{ step: dedup_incremental, index: i }", "requires 'generation'")
    bad("{ step: dedup_incremental, index: i, generation: g, threshold: 0.0 }",
      "threshold must be in (0, 1]")
    bad("{ step: tokenize }", "requires 'artifact'")
    bad("{ step: tokenize, artifact: t.json, rounds: 0 }",
      "rounds must be > 0")
    // the trained-classifier gate parses with defaults and validates hard
    val cls = Config.parseProject(doc(
      "{ step: classify, target_lang: en, artifact: cls/lr.json }"))
      .corpus.get.steps.head
    assert(cls == Config.CorpusClassify("en", 64, 3, 1.0, 0.5,
      Some("cls/lr.json")))
    bad("{ step: classify }", "requires 'target_lang'")
    bad("{ step: classify, target_lang: xx }", "target_lang must be one of")
    bad("{ step: classify, target_lang: en, eta: 0.5 }",
      "eta must be a positive whole number")
    bad("{ step: classify, target_lang: en, min_prob: 1.5 }",
      "min_prob must be in [0, 1]")
    bad("{ step: classify, target_lang: en, iters: 0 }", "iters must be > 0")
    // the token-budget step parses with defaults and validates its bounds
    assert(Config.parseProject(doc(
      "{ step: budget, by: source, tokens: 200 }")).corpus.get.steps.head ==
      Config.CorpusBudget("source", 200L, 256, 0))
    bad("{ step: budget, by: source }", "needs tokens")
    bad("{ step: budget, by: source, tokens: 0 }", "tokens must be > 0")
    bad("{ step: budget, by: source, tokens: 10, buckets: 0 }",
      "buckets must be > 0")
    val e = intercept[IllegalArgumentException](Config.parseProject(
      doc("{ step: dedup_exact }").replace("source: docs", "source: nope")))
    assert(e.getMessage.contains("corpus: unknown source 'nope'"))
  }
}
