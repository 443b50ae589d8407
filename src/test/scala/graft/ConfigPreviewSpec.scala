package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.Files

import org.apache.spark.sql.DataFrame

import graft.pipeline.{Config, ConfigRuntime, Series}

/** Stage-level preview of the dataset journey (reference config/preview.py
  * PREVIEW_STAGES + operations/runtime/dataset.py _serve_preview): every
  * staged output must equal the corresponding standalone frame on the same
  * fixture.
  */
class ConfigPreviewSpec extends SparkSpec {

  private val DataDir = "/root/testdata/sf0.001"

  private val Doc =
    """sources:
      |  - id: ev
      |    loader: { transport: fs, path: events.parquet, reader: { format: parquet } }
      |streams:
      |  - id: s
      |    from: { source: ev }
      |    map: { time: ts, fields: [user_id, event_id, value, event_type] }
      |    partition_by: [user_id]
      |    tiebreak: [event_id]
      |    preprocess:
      |      - { operation: floor_time, cadence: 1h }
      |    transforms:
      |      - { operation: collapse, keep: last }
      |  - id: purchases
      |    from: { stream: s }
      |    transforms:
      |      - { operation: where, field: event_type, operator: eq, comparand: purchase }
      |dataset:
      |  sample: { cadence: 1h, keys: [user_id] }
      |  features:
      |    - { id: v, stream: s, field: value }
      |    - { id: pv, stream: purchases, field: value }
      |  postprocess:
      |    samples: { features: { threshold: 0.95 } }
      |""".stripMargin

  private lazy val project = Config.parseProject(Doc)

  private def stage(name: String, id: Option[String] = None): DataFrame =
    ConfigRuntime.previewStage(spark, DataDir, project, name, id)

  private def rowSet(df: DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("input = the raw source frame, before any mapping") {
    val staged = stage("input", Some("s"))
    assert(staged.columns.contains("ts"), "time not yet renamed at input")
    val direct = ConfigRuntime.resolver(spark, DataDir, project).raw("s")
    assert(staged.count() == direct.count())
    assert(rowSet(staged.select("event_id", "value")) ==
      rowSet(direct.select("event_id", "value")))
  }

  test("canonical = time rename + field projection, before transforms") {
    val staged = stage("canonical", Some("s"))
    assert(staged.columns.toSeq ==
      Seq("time", "user_id", "event_id", "value", "event_type"))
    // no floor_time yet: minute-grain times survive at canonical
    import org.apache.spark.sql.functions._
    val offGrid = staged.filter(expr("unix_micros(time) % 3600000000") =!= 0)
    assert(offGrid.count() > 0, "preprocess must NOT have run at canonical")
    assert(staged.count() ==
      spark.read.parquet(s"$DataDir/events.parquet").count())
  }

  test("records = the full stream pipeline; derived streams preview through their upstream") {
    val res = ConfigRuntime.resolver(spark, DataDir, project)
    assert(rowSet(stage("records", Some("s"))) == rowSet(res.stream("s")))
    assert(rowSet(stage("records", Some("purchases"))) ==
      rowSet(res.stream("purchases")))
    // a derived stream's INPUT stage is its upstream's records
    assert(rowSet(stage("input", Some("purchases"))) == rowSet(res.stream("s")))
  }

  test("series = the long projection rows feeding assembly") {
    val res = ConfigRuntime.resolver(spark, DataDir, project)
    val expected = Series.project(res.stream("s"), Seq("user_id"),
      Seq("user_id"), "time", Seq(Series.SeriesConfig("v", "value")))
    assert(rowSet(stage("series", Some("v"))) == rowSet(expected))
    // unfiltered = union over both vectors' projections
    val both = stage("series")
    assert(both.count() == expected.count() +
      Series.project(res.stream("purchases"), Seq("user_id"), Seq("user_id"),
        "time", Seq(Series.SeriesConfig("pv", "value"))).count())
  }

  test("series routes a sequenced vector to its input stream's records") {
    val doc = Doc.replace("- { id: pv, stream: purchases, field: value }",
      "- { id: pv, stream: purchases, field: value, sequence: { size: 3, stride: 1 } }")
    val p = Config.parseProject(doc)
    val staged = ConfigRuntime.previewStage(spark, DataDir, p, "series", Some("pv"))
    val res = ConfigRuntime.resolver(spark, DataDir, p)
    assert(rowSet(staged) == rowSet(res.stream("purchases")),
      "a sequenced vector previews the records its windows are cut from")
    // a genuinely unknown id still fails with the full vector inventory
    val e = intercept[IllegalArgumentException](
      ConfigRuntime.previewStage(spark, DataDir, p, "series", Some("nope")))
    assert(e.getMessage.contains("unknown vector") &&
      e.getMessage.contains("pv"))
  }

  test("samples and postprocess = the assembled and postprocessed frames") {
    val samples = stage("samples")
    assert(samples.columns.toSet == Set("sample_time", "user_id", "v", "pv"))
    val post = stage("postprocess")
    // the 0.95 row threshold drops samples missing either vector
    val kept = post.count()
    assert(kept > 0 && kept < samples.count(),
      s"row filter must bite: $kept of ${samples.count()}")
    import org.apache.spark.sql.functions._
    assert(post.filter(col("v").isNull || col("pv").isNull).count() == 0)
  }

  test("a NULL inside a sequence window keeps its position; the scaler skips it") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_sequence_null")
    def t(h: Int) = new java.sql.Timestamp(1704067200000L + h * 3600000L)
    Seq(("u1", t(0), 1L, Some(1.0)), ("u1", t(1), 2L, None),
      ("u1", t(2), 3L, Some(3.0)), ("u1", t(3), 4L, Some(4.0)))
      .toDF("user_id", "ts", "event_id", "value")
      .write.parquet(dir.resolve("ticks.parquet").toString)
    val p = Config.parseProject(
      """sources:
        |  - id: ticks
        |    loader: { transport: fs, path: ticks.parquet, reader: { format: parquet } }
        |streams:
        |  - id: s
        |    from: { source: ticks }
        |    map: { time: ts }
        |    partition_by: [user_id]
        |    tiebreak: [event_id]
        |dataset:
        |  sample: { cadence: 1h, keys: [user_id] }
        |  features:
        |    - { id: seq3, stream: s, field: value, sequence: { size: 3, stride: 1 } }
        |    - { id: z3, stream: s, field: value, scale: true, sequence: { size: 3, stride: 1 } }
        |""".stripMargin)
    val served = ConfigRuntime.dataset(spark, dir.toString, p)
      .orderBy("sample_time").collect()
    def window(r: org.apache.spark.sql.Row, c: String): Seq[Option[Double]] =
      r.getSeq[java.lang.Double](r.fieldIndex(c)).map(Option(_).map(_.doubleValue))
    assert(served.map(window(_, "seq3")).toSeq == Seq(
      Seq(Some(1.0), None, Some(3.0)), Seq(None, Some(3.0), Some(4.0))))
    // elementwise scaler: fitted over the present elements 1, 3, 3, 4
    val xs = Seq(1.0, 3.0, 3.0, 4.0)
    val mean = xs.sum / xs.size
    val std = math.rint(math.sqrt(xs.map(x => (x - mean) * (x - mean)).sum /
      xs.size) * 1e6) / 1e6
    val z = served.map(window(_, "z3")).toSeq
    val expected = Seq(Seq(Some(1.0), None, Some(3.0)),
      Seq(None, Some(3.0), Some(4.0))).map(_.map(_.map(x => (x - mean) / std)))
    assert(z.map(_.map(_.isEmpty)) == expected.map(_.map(_.isEmpty)))
    z.flatten.zip(expected.flatten).foreach {
      case (Some(a), Some(b)) => assert(math.abs(a - b) < 1e-9, s"$a vs $b")
      case _ =>
    }
  }

  test("corpus stage previews the journey cut after k steps") {
    val doc =
      """sources:
        |  - id: docs
        |    loader: { transport: fs, path: documents.parquet, reader: { format: parquet } }
        |corpus:
        |  source: docs
        |  steps:
        |    - { step: filter, min_quality: 0.3 }
        |    - { step: chunk, size: 64, stride: 48 }
        |""".stripMargin
    val project = Config.parseProject(doc)
    def cut(k: Option[String]) =
      ConfigRuntime.previewStage(spark, DataDir, project, "corpus", k)
    val raw = cut(Some("0"))
    val filtered = cut(Some("1"))
    val full = cut(None)
    assert(raw.count() == 500, "step 0 = the raw source")
    assert(filtered.count() < raw.count(), "the quality gate must bite")
    assert(filtered.columns.sameElements(raw.columns), "filter keeps the schema")
    assert(full.columns.contains("chunk_text") && full.count() > filtered.count())

    val e = intercept[IllegalArgumentException](cut(Some("7")))
    assert(e.getMessage.contains("cannot preview step 7"))
    val f = intercept[IllegalArgumentException](cut(Some("chunky")))
    assert(f.getMessage.contains("takes a step count"))
  }

  /** An exact 3-gram `decontaminate` of `documents.parquet` against
    * `bench.parquet`.
    */
  private lazy val exactDecontam = Config.parseProject(
    """sources:
      |  - id: docs
      |    loader: { transport: fs, path: documents.parquet, reader: { format: parquet } }
      |  - id: bench
      |    loader: { transport: fs, path: bench.parquet, reader: { format: parquet } }
      |corpus:
      |  source: docs
      |  steps:
      |    - { step: decontaminate, benchmark: bench, ngram: 3 }
      |""".stripMargin)

  test("corpus decontaminate step = Curation.decontaminate's keep set") {
    import spark.implicits._
    // the one corpus step with a second source: a fixture dataDir carries
    // both the documents and the benchmark, and the runtime branch's output
    // must equal the standalone operator composition (ADVICE r7: this
    // shipped branch had no executing test)
    val dir = Files.createTempDirectory("graft_corpus_decontam")
    Seq(
      (1L, "alpha beta gamma irrelevant tail words here"),
      (2L, "completely unrelated text with other content"),
      (3L, "prefix words then gamma delta epsilon inside"),
      (4L, "another clean document nothing shared at all"))
      .toDF("doc_id", "text")
      .write.parquet(dir.resolve("documents.parquet").toString)
    Seq((100L, "alpha beta gamma delta epsilon"))
      .toDF("doc_id", "text")
      .write.parquet(dir.resolve("bench.parquet").toString)
    val out = ConfigRuntime.corpus(spark, dir.toString, exactDecontam)
    val docs = spark.read.parquet(dir.resolve("documents.parquet").toString)
    val bench = spark.read.parquet(dir.resolve("bench.parquet").toString)
    val keep = graft.operators.Curation
      .decontaminate(docs, bench, "doc_id", "text", 3)
      .filter(!org.apache.spark.sql.functions.col("contaminated"))
      .select("doc_id")
    val expected = docs.join(keep, Seq("doc_id"))
    assert(rowSet(out) == rowSet(expected))
    // the gate bites exactly the docs sharing a 3-gram with the benchmark
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet == Set(2L, 4L))
  }

  test("corpus exact decontaminate judges each row on its own text, serves it once") {
    import spark.implicits._
    // a source that repeats an id: one copy of id 1 shares a 3-gram with
    // the benchmark, the other does not; id 2 repeats with clean texts
    val dir = Files.createTempDirectory("graft_corpus_decontam_dup")
    val rows = Seq(
      (1L, "alpha beta gamma irrelevant tail words here"),
      (1L, "a clean copy under the same id"),
      (2L, "completely unrelated text with other content"),
      (2L, "another clean document nothing shared at all"),
      (3L, "prefix words then gamma delta epsilon inside"))
    rows.toDF("doc_id", "text")
      .write.parquet(dir.resolve("documents.parquet").toString)
    Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
      .write.parquet(dir.resolve("bench.parquet").toString)
    val out = ConfigRuntime.corpus(spark, dir.toString, exactDecontam)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq.sorted
    assert(out == Seq(rows(1), rows(2), rows(3)).sorted)
  }

  test("corpus exact decontaminate plans no join and no exchange on the corpus id") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_corpus_decontam_plan")
    (1L to 40L).map(i => (i, s"doc $i words alpha beta gamma ${i % 3} tail"))
      .toDF("doc_id", "text").repartition(4)
      .write.parquet(dir.resolve("documents.parquet").toString)
    Seq((100L, "beta gamma 1 tail")).toDF("doc_id", "text")
      .write.parquet(dir.resolve("bench.parquet").toString)
    val (kept, plans) = SqlExecutions.recorded(spark) {
      ConfigRuntime.corpus(spark, dir.toString, exactDecontam)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(kept == (1L to 40L).filter(_ % 3 != 1).toSet)
    assert(plans.nonEmpty && plans.forall(p => SqlExecutions.joins(p).isEmpty),
      plans.flatMap(SqlExecutions.joins))
    // the only exchange is the benchmark set's global aggregate
    val keys = plans.flatMap(SqlExecutions.shuffleKeys)
    assert(keys.nonEmpty && keys.forall(_ == Seq("SinglePartition$")), keys)
    // the recorder sees the id-keyed exchange and the join of the
    // relational twin
    val docs = spark.read.parquet(dir.resolve("documents.parquet").toString)
    val bench = spark.read.parquet(dir.resolve("bench.parquet").toString)
    val (_, twin) = SqlExecutions.recorded(spark) {
      CurationTwin.decontaminate(docs, bench, "doc_id", "text", 3).collect()
    }
    assert(twin.flatMap(SqlExecutions.shuffleKeys).contains(Seq("doc_id")))
    assert(twin.flatMap(SqlExecutions.joins).nonEmpty)
  }

  test("corpus dedup_incremental step drops re-crawls against the persisted index") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_corpus_incr")
    val crawl1 = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "an entirely different document about something else here"))
      .toDF("doc_id", "text")
    val crawl2 = Seq(
      (10L, "the quick brown fox jumps over the lazy dog tonight"), // re-crawl
      (11L, "completely fresh increment content with no duplicate at all"),
      (12L, "completely fresh increment content with no duplicate at all"))
      .toDF("doc_id", "text")
    crawl1.write.parquet(dir.resolve("crawl1.parquet").toString)
    crawl2.write.parquet(dir.resolve("crawl2.parquet").toString)
    def doc(src: String, gen: String) =
      s"""sources:
         |  - id: docs
         |    loader: { transport: fs, path: $src.parquet, reader: { format: parquet } }
         |corpus:
         |  source: docs
         |  steps:
         |    - { step: dedup_incremental, index: idx, generation: $gen }
         |""".stripMargin
    val first = ConfigRuntime.corpus(spark, dir.toString,
      Config.parseProject(doc("crawl1", "gen-1")))
    assert(first.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(1L, 2L), "first crawl: everything is canonical")
    val second = ConfigRuntime.corpus(spark, dir.toString,
      Config.parseProject(doc("crawl2", "gen-2")))
    // doc 10 re-crawls doc 1's text (its canonical is STORED) and drops;
    // the fresh duplicated pair keeps its min id only
    assert(second.select("doc_id").collect().map(_.getLong(0)).toSet ==
      Set(11L), "re-crawl drops, new text keeps its canonical")
    // idempotent: re-running the committed generation is read-only and
    // returns the same keep set
    val again = ConfigRuntime.corpus(spark, dir.toString,
      Config.parseProject(doc("crawl2", "gen-2")))
    assert(rowSet(again) == rowSet(second))
  }

  test("corpus tokenize step trains the artifact once, then hydrates") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_corpus_tok")
    Seq((1L, "aaab aaab ab"), (2L, "aaab ab ab"), (3L, ""))
      .toDF("doc_id", "text")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val doc =
      """sources:
        |  - id: docs
        |    loader: { transport: fs, path: documents.parquet, reader: { format: parquet } }
        |corpus:
        |  source: docs
        |  steps:
        |    - { step: tokenize, artifact: tok.json, rounds: 4 }
        |""".stripMargin
    val p = Config.parseProject(doc)
    val out = ConfigRuntime.corpus(spark, dir.toString, p)
      .select("doc_id", "n_words", "n_chars", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // hand-computed under 3 effective merges (BpeSpec): both words fully
    // merge; the empty doc survives the journey with zero counts
    assert(out == Set((1L, 3L, 10L, 3L), (2L, 3L, 8L, 3L), (3L, 0L, 0L, 0L)))
    val artifact = dir.resolve("tok.json")
    assert(Files.exists(artifact), "first run must write the artifact")
    val bytes = Files.readAllBytes(artifact).toSeq
    val mtime = Files.getLastModifiedTime(artifact)
    // second run hydrates — identical output, artifact untouched
    val again = ConfigRuntime.corpus(spark, dir.toString, p)
      .select("doc_id", "n_words", "n_chars", "n_tokens")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(again == out)
    assert(Files.readAllBytes(artifact).toSeq == bytes &&
      Files.getLastModifiedTime(artifact) == mtime,
      "the second run must hydrate, not retrain")
  }

  /** A corpus-only project over `documents.parquet` in `dir`. */
  private def corpusProject(steps: String*): Config.Project =
    Config.parseProject(
      """sources:
        |  - id: docs
        |    loader: { transport: fs, path: documents.parquet, reader: { format: parquet } }
        |corpus:
        |  source: docs
        |  steps:
        |""".stripMargin + steps.map(st => s"    - $st\n").mkString)

  test("corpus tokenize: the trained-path encode equals the hydrated-path encode") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_corpus_tok_paths")
    Seq((1L, "lower lowest newer newest wider"), (2L, "low lower new newer"),
      (3L, "naïve naïveté 東京 東京都 ünder"), (4L, ""), (5L, "  widest  low"),
      (6L, null)).toDF("doc_id", "text")
      .write.parquet(dir.resolve("documents.parquet").toString)
    for (family <- Seq("bpe", "wordpiece")) {
      val p = corpusProject(
        s"{ step: tokenize, artifact: $family.json, rounds: 6, family: $family }")
      def encode() = ConfigRuntime.corpus(spark, dir.toString, p)
        .select("doc_id", "n_words", "n_chars", "n_tokens")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq.sorted
      val trained = encode()
      assert(Files.exists(dir.resolve(s"$family.json")), family)
      val hydrated = encode()
      assert(trained == hydrated, family)
      assert(trained.length == 6 && trained.exists(t => t._4 < t._3), family)
    }
  }

  test("corpus tokenize counts each document on its own when an id repeats") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_corpus_tok_dup")
    Seq((1L, "alpha beta gamma delta"), (1L, "one two"))
      .toDF("doc_id", "text")
      .write.parquet(dir.resolve("documents.parquet").toString)
    for (family <- Seq("bpe", "wordpiece")) {
      val p = corpusProject(
        s"{ step: tokenize, artifact: $family.json, rounds: 4, family: $family }")
      def words() = ConfigRuntime.corpus(spark, dir.toString, p)
        .select("text", "n_words", "n_chars").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val want = Set(("alpha beta gamma delta", 4L, 19L), ("one two", 2L, 6L))
      // the train path, then the hydrated path
      assert(words() == want, family)
      assert(words() == want, family)
    }
  }

  test("dedup_fuzzy after dedup_exact skips the duplication probe, same output") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_corpus_fuzzy_probe")
    val base = "the quick brown fox jumps over the lazy dog near the river bank"
    Seq((1L, base), (2L, base), (3L, base.replace("lazy", "sleepy")),
      (4L, "an entirely different page about tidal pools and sea stars"),
      (5L, "an entirely different page about tidal pools and sea urchins"),
      (6L, "short"), (7L, "short"), (8L, "one more distinct page of plain words"))
      .toDF("doc_id", "text")
      .write.parquet(dir.resolve("documents.parquet").toString)
    def ids(df: DataFrame) = df.select("doc_id").collect().map(_.getLong(0)).toSet
    def probes(plans: Seq[org.apache.spark.sql.execution.SparkPlan]) =
      plans.count(_.treeString.contains("approx_count_distinct"))
    val exact = ConfigRuntime.corpus(spark, dir.toString,
      corpusProject("{ step: dedup_exact }"))
    for (keep <- Seq("min_id", "best_quality")) {
      val fuzzy = s"{ step: dedup_fuzzy, threshold: 0.5, keep: $keep }"
      val (got, plans) = SqlExecutions.recorded(spark) {
        ids(ConfigRuntime.corpus(spark, dir.toString,
          corpusProject("{ step: dedup_exact }", fuzzy)))
      }
      assert(probes(plans) == 0, s"$keep: the probe ran")
      // the same journey with the probe: the step alone over the
      // exact-deduped frame
      val probed = if (keep == "min_id")
        graft.operators.Dedup.dupClusters(exact, "text", "doc_id")
          .where($"doc_id" === $"cluster_id")
      else graft.operators.Dedup.keepBest(exact, "text", "doc_id",
          graft.functions.Text.qualityScore($"text")).where($"keep")
      assert(got == ids(probed), keep)
      // without a dedup_exact before it the step still probes
      val (_, alone) = SqlExecutions.recorded(spark) {
        ids(ConfigRuntime.corpus(spark, dir.toString, corpusProject(fuzzy)))
      }
      assert(probes(alone) > 0, s"$keep: the probe must run on raw texts")
    }
  }

  test("corpus select step trains the model once, then scores under the hydrated artifact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_corpus_select")
    Seq(
      (1L, "alpha the and of beta the and of"),   // en-marked, target-like
      (2L, "gamma der und die delta der und die") // de-marked, off-target
    ).toDF("doc_id", "text")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val doc =
      """sources:
        |  - id: docs
        |    loader: { transport: fs, path: documents.parquet, reader: { format: parquet } }
        |corpus:
        |  source: docs
        |  steps:
        |    - { step: select, target_lang: en, buckets: 32, min_score: 0.0, artifact: dsir.json }
        |""".stripMargin
    val p = Config.parseProject(doc)
    val out = ConfigRuntime.corpus(spark, dir.toString, p)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L), "only the target-like doc clears min_score 0")
    val artifact = dir.resolve("dsir.json")
    assert(Files.exists(artifact), "first run must write the model artifact")
    // replace the model with all-zero log-ratios: a second run must score
    // under the STORED model (every score 0, nothing clears min_score > 0)
    // — if it refit instead, doc 1 would survive again
    graft.operators.Importance.saveModel(artifact.toString,
      Array.fill(32)(0.0))
    val again = ConfigRuntime.corpus(spark, dir.toString, p)
      .select("doc_id").collect()
    assert(again.isEmpty, "the second run must hydrate the artifact, not retrain")
  }

  test("corpus mix + shard steps compose into the serve tail") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_corpus_serve")
    ((1L to 40L).map(i => (i, "big", ("tok " * 30).trim)) :+
      ((100L, "small", "tok tok tok")))
      .toDF("doc_id", "source", "text")
      .write.parquet(dir.resolve("documents.parquet").toString)
    val doc =
      """sources:
        |  - id: docs
        |    loader: { transport: fs, path: documents.parquet, reader: { format: parquet } }
        |corpus:
        |  source: docs
        |  steps:
        |    - { step: mix, by: source, seed: 7 }
        |    - { step: shard, by: source, budget: 60 }
        |""".stripMargin
    val out = ConfigRuntime.corpus(spark, dir.toString, Config.parseProject(doc))
    val rows = out.select("doc_id", "source", "n_tokens", "shard_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // the small domain is upweighted to rate 1.0 — its doc always survives
    assert(rows.exists(_._1 == 100L))
    // shards are token-budgeted per source: 30-token docs pack 2 per shard
    val bigShards = rows.filter(_._2 == "big").sortBy(_._1).map(_._4)
    assert(bigShards.nonEmpty && bigShards.grouped(2).forall(g => g.distinct.size == 1),
      s"big-source docs must pack two per 60-token shard, got ${bigShards.toSeq}")
    // shard must be terminal
    val bad = doc.replace(
      "    - { step: shard, by: source, budget: 60 }\n", "") +
      "    - { step: shard, by: source, budget: 60 }\n    - { step: dedup_exact }\n"
    val e = intercept[IllegalArgumentException](Config.parseProject(bad))
    assert(e.getMessage.contains("'shard' must be the last step"))
  }

  test("streaming corpus rejects mix/shard and untrained select") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_corpus_stream_sel")
    Seq((1L, "a the and of b")).toDF("doc_id", "text")
      .write.parquet(dir.resolve("documents.parquet").toString)
    def proj(steps: String) = Config.parseProject(
      s"""sources:
         |  - id: docs
         |    loader: { transport: fs, path: documents.parquet, reader: { format: parquet } }
         |corpus:
         |  source: docs
         |  steps:
         |$steps""".stripMargin)
    def streamed(steps: String) =
      ConfigRuntime.corpusStream(spark, dir.toString, proj(steps))
    // mix streams only under fitted rates (the classify/select contract)
    val mix = intercept[IllegalArgumentException](
      streamed("    - { step: mix, by: source, seed: 1 }\n"))
    assert(mix.getMessage.contains("streaming mix needs an 'artifact'"))
    val mixUntrained = intercept[IllegalArgumentException](
      streamed("    - { step: mix, by: source, seed: 1, artifact: missing_rates.json }\n"))
    assert(mixUntrained.getMessage.contains("fitted rate table"))
    val lines = intercept[IllegalArgumentException](
      streamed("    - { step: dedup_lines, min_freq: 2 }\n"))
    assert(lines.getMessage.contains("'dedup_lines' is not streamable"))
    val sel = intercept[IllegalArgumentException](
      streamed("    - { step: select, target_lang: en, artifact: missing.json }\n"))
    assert(sel.getMessage.contains("trained model"))
    val selNoArt = intercept[IllegalArgumentException](
      streamed("    - { step: select, target_lang: en }\n"))
    assert(selNoArt.getMessage.contains("artifact"))
    // decontaminate streams with both methods: the exact probe's n-gram
    // set is a scalar subquery, the Bloom bitmap builds at plan build
    val decExact =
      streamed("    - { step: decontaminate, benchmark: docs, ngram: 3 }\n")
    assert(decExact.isStreaming)
    val decBloom = ConfigRuntime.corpusStream(spark, dir.toString, proj(
      "    - { step: decontaminate, benchmark: docs, ngram: 3, method: bloom }\n"))
    assert(decBloom.isStreaming)
    // classify shares the trained-artifact contract
    val clsNoArt = intercept[IllegalArgumentException](
      streamed("    - { step: classify, target_lang: en }\n"))
    assert(clsNoArt.getMessage.contains("artifact"))
    val clsUntrained = intercept[IllegalArgumentException](
      streamed("    - { step: classify, target_lang: en, artifact: missing_cls.json }\n"))
    assert(clsUntrained.getMessage.contains("trained model"))
    // trained artifact → the stream plans (select gate is stateless)
    graft.operators.Importance.saveModel(
      dir.resolve("m.json").toString, Array.fill(16)(0.5))
    val ok = streamed(
      "    - { step: select, target_lang: en, buckets: 16, min_score: 0.0, artifact: m.json }\n")
    assert(ok.isStreaming)
  }

  test("Cli inspect --stage routes and bounds the dump; unknown stage fails") {
    val root = Files.createTempDirectory("graft_inspect_stage")
    val cfg = root.resolve("p.yaml")
    Files.writeString(cfg, Doc)
    val buf = new ByteArrayOutputStream()
    val n = Cli.inspectStage(spark, cfg.toString, DataDir, "canonical",
      Some("s"), limit = 7, out = new PrintStream(buf, true, "UTF-8"))
    assert(n == 7 && buf.toString("UTF-8").linesIterator.length == 7)

    // --out dumps the staged frame as parquet instead of text
    val dump = root.resolve("dump").toString
    val written = Cli.inspectStage(spark, cfg.toString, DataDir, "samples",
      None, out = new PrintStream(java.io.OutputStream.nullOutputStream()),
      outDir = Some(dump))
    val back = spark.read.parquet(dump)
    assert(written == back.count() && written > 7,
      "parquet dump carries the WHOLE stage, not the preview limit")
    assert(back.columns.toSet == Set("sample_time", "user_id", "v", "pv"))

    val e = intercept[IllegalArgumentException](
      Cli.inspectStage(spark, cfg.toString, DataDir, "gizmo", None,
        out = new PrintStream(java.io.OutputStream.nullOutputStream())))
    assert(e.getMessage.contains("unknown preview stage"))
    val f = intercept[IllegalArgumentException](
      Cli.inspectStage(spark, cfg.toString, DataDir, "records", None,
        out = new PrintStream(java.io.OutputStream.nullOutputStream())))
    assert(f.getMessage.contains("requires a stream id"))
  }
}
