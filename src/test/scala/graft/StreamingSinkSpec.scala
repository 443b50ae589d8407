package graft

import graft.streaming.Streaming

/** The distributed parquet sink variant of the two result-linear streaming
  * queries must carry exactly the memory-sink rows — it exists so the sf1
  * sweep times the operator instead of a driver-side collect, never to
  * change results.
  */
class StreamingSinkSpec extends SparkSpec {

  private val DataDir = "/root/testdata/sf0.001"

  private def rowSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toString).toSet

  test("attachStatic: parquet sink rows equal memory sink rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_attach")
    val viaMemory = rowSet(
      Streaming.attachStatic(spark, DataDir, "sink_spec_attach_mem"))
    val viaFile = rowSet(Streaming.attachStatic(spark, DataDir,
      "sink_spec_attach_file", Some(dir.resolve("s").toString)))
    assert(viaFile == viaMemory)
    assert(viaFile.nonEmpty)
  }

  test("asofAttach: parquet sink rows equal memory sink rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_asof")
    val viaMemory = rowSet(
      Streaming.asofAttach(spark, DataDir, "sink_spec_asof_mem"))
    val viaFile = rowSet(Streaming.asofAttach(spark, DataDir,
      "sink_spec_asof_file", Some(dir.resolve("s").toString)))
    assert(viaFile == viaMemory)
    assert(viaFile.nonEmpty)
  }

  test("sftPackStream: parquet sink rows equal memory sink rows and the batch head") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sink_sft")
    val viaMemory = rowSet(
      Streaming.sftPackStream(spark, DataDir, "sink_spec_sft_mem"))
    val viaFile = rowSet(Streaming.sftPackStream(spark, DataDir,
      "sink_spec_sft_file", Some(dir.resolve("s").toString)))
    assert(viaFile == viaMemory)
    assert(viaFile.nonEmpty)
    // the ingest render is the batch head verbatim
    val batch = rowSet(SparkEntry.queries("sft_pack")(spark, DataDir))
    assert(viaMemory == batch)
  }

  private val CorpusDoc =
    """sources:
      |  - id: docs
      |    loader: { transport: fs, path: documents.parquet, reader: { format: parquet } }
      |corpus:
      |  source: docs
      |  steps:
      |    - { step: filter, lang: en, min_quality: 0.3, max_repetition: 0.8 }
      |    - { step: dedup_exact }
      |""".stripMargin

  test("streaming corpus journey equals the batch filter→dedup_exact prefix") {
    import org.apache.spark.sql.functions.{col, sha2}
    val project = graft.pipeline.Config.parseProject(CorpusDoc)
    val streamed = Streaming.runCorpusStream(spark, DataDir, project,
      "sink_spec_corpus_dedup")
      .select(sha2(col("text").cast("string"), 256).as("h"))
    val batch = graft.pipeline.ConfigRuntime
      .corpusThrough(spark, DataDir, project, through = None)
      .select(sha2(col("text").cast("string"), 256).as("h"))
    assert(rowSet(streamed) == rowSet(batch))
    assert(streamed.count() == batch.count(),
      "one representative per distinct curated text")
  }

  /** Every streamable corpus step, one step per project: the per-row
    * steps, and the model steps under artifacts the batch run trains.
    */
  private val StreamableSteps: Seq[(String, String)] = Seq(
    "filter" -> "{ step: filter, lang: en }",
    "gopher" -> "{ step: gopher, min_words: 5 }",
    "extract" -> "{ step: extract, format: html }",
    "chunk" -> "{ step: chunk, size: 3, stride: 2 }",
    "corrupt" -> "{ step: corrupt }",
    "fim" -> "{ step: fim, rate: 0.5 }",
    "diff" -> "{ step: diff, against: prev }",
    "decontaminate_exact" -> "{ step: decontaminate, benchmark: bench, ngram: 3 }",
    "decontaminate_bloom" ->
      "{ step: decontaminate, benchmark: bench, ngram: 3, method: bloom }",
    "select" ->
      "{ step: select, target_lang: en, buckets: 16, min_score: 0.0, artifact: sel.json }",
    "classify" -> ("{ step: classify, target_lang: en, buckets: 16, iters: 2, " +
      "eta: 1, min_prob: 0.0, artifact: cls.json }"),
    "mix" -> "{ step: mix, by: source, seed: 7, artifact: mix.json }",
    "tokenize_bpe" -> "{ step: tokenize, artifact: bpe.json, rounds: 4 }",
    "tokenize_wordpiece" ->
      "{ step: tokenize, artifact: wp.json, rounds: 4, family: wordpiece }")

  test("every streamable corpus step streams the rows of the batch journey") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_steps")
    // NULL and empty texts, a repeated id (1), a repeated text (1 and 8)
    Seq[(Long, String, String)](
      (1L, "the cat and the dog of the house sat on the mat", "a"),
      (1L, "der hund und die katze", "b"),
      (2L, "the quick brown fox jumps over the lazy dog and the cat", "a"),
      (3L, "<p>the <b>bold</b> text and the</p><div>of the page</div>", "b"),
      (4L, "", "a"),
      (5L, null, "b"),
      (6L, "alpha beta gamma delta epsilon zeta", "a"),
      (7L, "le chat et les chiens des maisons", "b"),
      (8L, "the cat and the dog of the house sat on the mat", "a"))
      .toDF("doc_id", "text", "source")
      .write.parquet(dir.resolve("documents.parquet").toString)
    Seq((100L, "beta gamma delta words")).toDF("doc_id", "text")
      .write.parquet(dir.resolve("bench.parquet").toString)
    Seq((1L, "the cat and the dog of the house sat on the mat"),
      (2L, "an older text"), (6L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
      .write.parquet(dir.resolve("prev.parquet").toString)
    def project(step: String) = graft.pipeline.Config.parseProject(
      Seq("docs" -> "documents", "bench" -> "bench", "prev" -> "prev").map {
        case (id, file) =>
          s"""  - id: $id
             |    loader: { transport: fs, path: $file.parquet, reader: { format: parquet } }
             |""".stripMargin
      }.mkString("sources:\n", "", "") +
        s"corpus:\n  source: docs\n  steps:\n    - $step\n")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    StreamableSteps.foreach { case (name, step) =>
      val p = project(step)
      val batchDf = graft.pipeline.ConfigRuntime
        .corpusThrough(spark, dir.toString, p, through = None)
      val batch = rows(batchDf)
      val streamed = rows(Streaming.runCorpusStream(spark, dir.toString, p,
        s"sink_spec_step_$name"))
      assert(batch.nonEmpty, name)
      assert(streamed == batch, s"$name:\nstream $streamed\nbatch  $batch")
      if (name.startsWith("tokenize")) {
        // documents with no tokens count zeros (on both journeys: the
        // rows are equal)
        val zeros = batchDf.where($"text".isNull || $"text" === "")
          .select("n_words", "n_chars", "n_tokens").collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(zeros == Seq((0L, 0L, 0L), (0L, 0L, 0L)), name)
      }
    }
  }

  test("corpus steps needing corpus-at-rest passes are rejected by name") {
    val doc = CorpusDoc.replace("- { step: dedup_exact }",
      "- { step: dedup_fuzzy, threshold: 0.5 }")
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.ConfigRuntime.corpusStream(spark, DataDir,
        graft.pipeline.Config.parseProject(doc))
    }
    assert(e.getMessage.contains("dedup_fuzzy") &&
      e.getMessage.contains("not streamable"))
  }

  test("the budget step is rejected on a stream by name") {
    val doc = CorpusDoc.replace("- { step: dedup_exact }",
      "- { step: budget, by: source, tokens: 200 }")
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.ConfigRuntime.corpusStream(spark, DataDir,
        graft.pipeline.Config.parseProject(doc))
    }
    assert(e.getMessage.contains("'budget'") &&
      e.getMessage.contains("not streamable"), e.getMessage)
  }

  test("streaming tokenize requires an already-trained artifact") {
    val doc = CorpusDoc.replace("- { step: dedup_exact }",
      "- { step: tokenize, artifact: /tmp/graft_no_such_tok.json, rounds: 4 }")
    val e = intercept[IllegalArgumentException] {
      graft.pipeline.ConfigRuntime.corpusStream(spark, DataDir,
        graft.pipeline.Config.parseProject(doc))
    }
    assert(e.getMessage.contains("trained artifact") &&
      e.getMessage.contains("batch corpus journey"),
      e.getMessage)
  }

  test("authorityGateStream equals the batch left join; unseen hosts rank 0") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$DataDir/documents.parquet")
    val ranked = docs.select(col("source").as("host")).distinct()
      .orderBy("host").limit(2).withColumn("rank_micros", lit(500000L))
    val gated = Streaming.authorityGateStream(spark, DataDir, col("source"),
      ranked, 400000L, "sink_spec_authority")
    val expected = docs.select(col("doc_id"), col("source").as("host"))
      .join(ranked, Seq("host"), "left")
      .select(col("doc_id"), col("host"),
        coalesce(col("rank_micros"), lit(0L)).as("rank_micros"))
      .withColumn("keep", col("rank_micros") >= 400000L)
    assert(rowSet(gated) == rowSet(expected))
    assert(gated.where(col("rank_micros") === 0L && !col("keep")).count() > 0,
      "hosts absent from the rank table must surface with rank 0 and drop")
  }
}
