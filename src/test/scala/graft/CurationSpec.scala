package graft

import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.Curation

/** Corpus-curation operators (operators/Curation.scala): benchmark
  * decontamination, deterministic stratified sampling, bounded group top-k,
  * Lloyd k-means.
  */
class CurationSpec extends SparkSpec {
  import spark.implicits._

  // --- decontaminate ------------------------------------------------------

  test("decontaminate flags docs sharing an n-gram with the benchmark") {
    val train = Seq(
      (1L, "the quick brown fox jumps"),
      (2L, "completely unrelated training text here"),
      (3L, "a quick brown fox appears")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "quick brown fox riddle")).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, bench, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    // docs 1 and 3 share the 3-gram "quick brown fox"; doc 2 shares nothing
    assert(out(1L) == ((1L, true)))
    assert(out(2L) == ((0L, false)))
    assert(out(3L) == ((1L, true)))
  }

  test("decontaminate survives documents shorter than n tokens") {
    // regression: sequence(1, 0) descends → element_at(toks, 0) threw before
    // the shingles short-doc guard
    val train = Seq((1L, "two words"), (2L, ""), (3L, "one two three")).toDF("doc_id", "text")
    val bench = Seq((9L, "x"), (10L, "one two three")).toDF("doc_id", "text")
    val out = Curation.decontaminate(train, bench, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out == Map(1L -> false, 2L -> false, 3L -> true))
  }

  test("kernel decontaminate equals the relational twin row for row") {
    val train = Seq[(Long, Option[String])](
      (1L, None),
      (2L, Some("")),
      (3L, Some("  leading space then the quick brown fox jumps over it")),
      (4L, Some("too short")),
      (5L, Some("straße naïve café über 東京 タワー the quick brown fox jumps over the lazy dog")),
      (6L, Some("The QUICK Brown FOX jumps OVER the LAZY dog again today")),
      (7L, Some("over the lazy over the lazy over the lazy over the lazy")),
      (8L, Some("nothing in common with anything at all here folks")),
      (9L, Some("\tStraße naïve café über 東京 タワー"))
    ).toDF("doc_id", "text")
    val bench = Seq[(Long, Option[String])](
      (100L, Some("the quick brown fox jumps over the lazy dog")),
      (101L, None),
      (102L, Some(" straße naïve café über 東京 タワー and more words")),
      (103L, Some("over the lazy"))
    ).toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).sortBy(_._1).toSeq
    val benches = Seq("bench" -> bench, "empty" -> bench.limit(0),
      "null text" -> bench.where(col("text").isNull))
    val counts = (for ((name, b) <- benches; n <- Seq(1, 3, 8)) yield {
      val got = rows(Curation.decontaminate(train, b, "doc_id", "text", n))
      assert(got == rows(CurationTwin.decontaminate(train, b, "doc_id", "text", n)),
        s"$name, n=$n")
      assert(got.map(_._1) == (1L to 9L), s"$name, n=$n: one row per doc")
      (name, n) -> got.map(r => r._1 -> r._2).toMap
    }).toMap
    // the fixture bites where each case says it does
    for (n <- Seq(1, 3, 8); name <- Seq("empty", "null text"))
      assert(counts((name, n)).values.forall(_ == 0L), s"$name, n=$n")
    val at3 = counts(("bench", 3))
    assert(at3(1L) == 0L && at3(2L) == 0L && at3(4L) == 0L)
    assert(at3(7L) == 1L, "a repeated n-gram counts once")
    assert(at3(6L) == 7L, "mixed case matches lowercased")
    assert(at3(9L) == 5L, "whitespace-led and non-ASCII n-grams match")
    assert(counts(("bench", 1))(2L) == 1L, "the empty token matches at n = 1")
    assert(counts(("bench", 8))(6L) == 2L && counts(("bench", 8))(5L) == 2L)
  }

  test("decontaminateFuzzy flags near-duplicates of benchmark docs, keeps clean ones") {
    // doc 1 is a light edit of the benchmark doc (one word changed at the
    // end: high Jaccard over 3-shingles); doc 2 shares a few shingles but
    // stays under threshold; doc 3 is unrelated
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
      (2L, "alpha beta gamma completely different tail of words here now"),
      (3L, "totally unrelated text with no overlap whatsoever at all")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val out = Curation.decontaminateFuzzy(train, bench, "doc_id", "text",
      threshold = 0.5)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getBoolean(4)))).toMap
    assert(out(1L)._1 >= 1L && !out(1L)._2, "near-dup must be dropped")
    assert(out(2L) == ((0L, true)), "sub-threshold overlap keeps")
    assert(out(3L) == ((0L, true)), "unrelated doc keeps")
    // every corpus doc reports exactly once
    assert(out.keySet == Set(1L, 2L, 3L))
  }

  test("decontaminateFuzzy across corpora matches the within-corpus scorer on a union") {
    // cross pairs over (corpus, bench) = the corpus-x-bench slice of
    // self-join pairs over the union — the bucket/verify math is shared
    val corpus = Seq(
      (1L, "one two three four five six seven"),
      (2L, "something else entirely in this row")
    ).toDF("doc_id", "text")
    val bench = Seq((10L, "one two three four five six seven")).toDF("doc_id", "text")
    val cross = graft.operators.Dedup.minhashCrossScoredPairs(
      corpus, bench, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val self = graft.operators.Dedup.minhashScoredPairs(
      corpus.unionByName(bench), "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => (a < 10) != (b < 10) }
      .map { case (a, b, j) => if (a < 10) (a, b, j) else (b, a, j) }.toSet
    assert(cross == self && cross.exists(_._3 == 1.0))
  }

  test("an oversized benchmark side fails loudly instead of planning a corpus shuffle") {
    val corpus = Seq((1L, "one two three four five")).toDF("doc_id", "text")
    val bench = (100L to 104L).map(i => (i, s"benchmark doc number $i words"))
      .toDF("doc_id", "text")
    val e = intercept[graft.operators.BenchmarkTooLargeException] {
      graft.operators.Dedup.minhashCrossScoredPairs(
        corpus, bench, "text", "doc_id", maxBenchmarkDocs = 3L)
    }
    assert(e.getMessage.contains("5 docs") &&
      e.getMessage.contains("broadcast budget"))
    // at/under the budget the pipeline runs
    assert(graft.operators.Dedup.minhashCrossScoredPairs(
      corpus, bench, "text", "doc_id", maxBenchmarkDocs = 5L).count() >= 0)
  }

  // --- decontaminateBloom -------------------------------------------------

  test("decontaminateBloom never misses (superset of exact) and converges to it when roomy") {
    val train = Seq(
      (1L, "the quick brown fox jumps over fences"),
      (2L, "completely unrelated training text with no overlap"),
      (3L, "a quick brown fox appears again"),
      (4L, "short")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "quick brown fox riddle")).toDF("doc_id", "text")
    val exact = Curation.decontaminate(train, bench, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val bloom = Curation.decontaminateBloom(train, bench, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    // no false negatives, ever
    exact.foreach { case (id, c) => if (c) assert(bloom(id)) }
    // at 64Kbits over a handful of n-grams, no false positives either
    assert(bloom == exact)
    // short docs (< n tokens) report 0 flags, not an error
    assert(!bloom(4L))
  }

  test("decontaminateBloom: a saturated bitmap flags everything (false-positive path)") {
    // 64 bits + many benchmark n-grams → every probe lands on set bits; the
    // report must stay deterministic (flag counts = distinct n-grams)
    val train = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val bench = Seq((9L, (1 to 80).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val out = Curation.decontaminateBloom(train, bench, "doc_id", "text", 3,
      mBits = 64, numHashes = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(out.head._2 == 2L && out.head._3) // both distinct 3-grams flagged
  }

  test("codegen'd BloomNgramHits equals the interpreted HOF probe") {
    // an adversarial bitmap (alternating + sign-bit words) so word/bit
    // indexing, the 60-bit hash, and the distinct rule are all exercised
    val mBits = 256
    val words = Array.tabulate(mBits / 64)(i =>
      if (i % 2 == 0) 0xAAAAAAAAAAAAAAAAL else 0x5555555555555555L)
    val bitmapLit = array(words.map(lit(_)): _*)
    val docs = Seq(
      "the quick brown fox jumps over fences",
      "dup gram dup gram dup gram dup gram", // repeated n-grams count once
      "short", "",
      (1 to 50).map(i => s"w$i").mkString(" ")).toDF("text")
    graft.functions.BloomNgramHits.register(spark)
    val out = docs.select(
      call_function("bloom_ngram_hits",
        Text.tokens(col("text")), bitmapLit, lit(3), lit(2)).as("fast"),
      CurationTwin.bloomHitsHof(Text.tokens(col("text")), bitmapLit, 3,
        mBits, 2).as("slow"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    out.foreach { case (fast, slow) => assert(fast == slow, out.toSeq) }
    assert(out.exists(_._1 > 0L), "fixture must exercise the hit path")
  }

  test("bloom bitmap artifact round-trips exactly; sizing drift fails loudly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_art")
    val path = dir.resolve("bloom.json").toString
    val bitmap = Array(0L, -1L, 0x123456789ABCDEFL, Long.MinValue)
    Curation.saveBloom(path, bitmap, n = 3, mBits = 256, numHashes = 2)
    assert(Curation.loadBloom(path, 3, 256, 2).toSeq == bitmap.toSeq)
    val drift = intercept[IllegalArgumentException](
      Curation.loadBloom(path, 4, 256, 2))
    assert(drift.getMessage.contains("rebuild the artifact"))
  }

  test("shingles of a short/empty token array is empty, not an error") {
    val df = Seq("a b", "").toDF("t")
      .select(size(Text.shingles(Text.tokens(col("t")), 3)).as("n"))
    assert(df.collect().map(_.getInt(0)).toSeq == Seq(0, 0))
  }

  test("codegen'd ShingleArray equals the interpreted HOF shingles") {
    val docs = Seq("the quick brown fox jumps", "a b c", "a b", "one", "",
      "x  y   z").toDF("t")
    for (n <- Seq(1, 2, 3, 5)) {
      val out = docs.select(
        Text.shingles(Text.tokens(col("t")), n).as("fast"),
        CurationTwin.shinglesHof(Text.tokens(col("t")), n).as("slow"))
        .collect().map(r => (r.getSeq[String](0), r.getSeq[String](1)))
      out.foreach { case (fast, slow) =>
        assert(fast == slow, s"n=$n: $fast != $slow")
      }
    }
  }

  // --- stratifiedSample ---------------------------------------------------

  test("stratifiedSample honors per-stratum rates deterministically") {
    val df = (0L until 2000L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("id", "stratum")
    val kept = Curation.stratifiedSample(df, "stratum", "id",
      Map("a" -> 0.5, "b" -> 0.1), defaultRate = 0.0, seed = 7)
    val byStratum = kept.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // sha256 ratios are uniform; 1000 draws per stratum → ±10% of the rate
    assert(math.abs(byStratum("a") - 500L) < 100, s"a: $byStratum")
    assert(math.abs(byStratum("b") - 100L) < 50, s"b: $byStratum")
    // deterministic: a second run keeps the identical id set
    val again = Curation.stratifiedSample(df, "stratum", "id",
      Map("a" -> 0.5, "b" -> 0.1), defaultRate = 0.0, seed = 7)
    assert(kept.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      again.select("id").collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("stratifiedSample rate boundaries: 0 keeps nothing, 1 keeps all") {
    val df = (0L until 200L).map(i => (i, "s")).toDF("id", "stratum")
    assert(Curation.stratifiedSample(df, "stratum", "id",
      Map("s" -> 0.0), 0.0, seed = 1).count() == 0L)
    assert(Curation.stratifiedSample(df, "stratum", "id",
      Map("s" -> 1.0), 0.0, seed = 1).count() == 200L)
    // unknown stratum falls back to defaultRate
    val other = (0L until 200L).map(i => (i, "zzz")).toDF("id", "stratum")
    assert(Curation.stratifiedSample(other, "stratum", "id",
      Map("s" -> 0.0), defaultRate = 1.0, seed = 1).count() == 200L)
  }

  test("stratifiedSample buckets identically to hashRatio of hash_split") {
    // same sha256-ratio primitive as Assembly.hashSplitLabel — a row kept at
    // rate p is exactly a row whose ratio < p
    val df = (0L until 500L).map(i => (i, "s")).toDF("id", "stratum")
    val kept = Curation.stratifiedSample(df, "stratum", "id",
      Map("s" -> 0.3), 0.0, seed = 42).select("id")
      .collect().map(_.getLong(0)).toSet
    val expected = df.select(col("id"), Curation.hashRatio(col("id"), 42).as("r"))
      .collect().filter(_.getDouble(1) < 0.3).map(_.getLong(0)).toSet
    assert(kept == expected)
  }

  // --- groupTopK ----------------------------------------------------------

  test("groupTopK returns k best per group, ties broken by id asc") {
    val df = Seq(
      ("g1", 1L, 5.0), ("g1", 2L, 9.0), ("g1", 3L, 9.0), ("g1", 4L, 1.0),
      ("g2", 5L, 2.0)
    ).toDF("grp", "id", "score")
    val out = Curation.groupTopK(df, "grp", "id", col("score"), k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    val g1 = out.filter(_._1 == "g1").sortBy(_._4)
    // score 9.0 tie between ids 2 and 3 → id asc wins
    assert(g1.toSeq == Seq(("g1", 2L, 9.0, 1), ("g1", 3L, 9.0, 2)))
    assert(out.filter(_._1 == "g2").toSeq == Seq(("g2", 5L, 2.0, 1)))
  }

  test("groupTopK rejects non-castable ids and null scores with named errors") {
    val bad = Seq(("g", "not-a-number", 1.0)).toDF("grp", "id", "score")
    val e1 = intercept[Exception] {
      Curation.groupTopK(bad, "grp", "id", col("score"), 1).collect()
    }
    assert(e1.getMessage.contains("groupTopK"), e1.getMessage)
    val nullScore = Seq(("g", 1L, null.asInstanceOf[java.lang.Double]))
      .toDF("grp", "id", "score")
    val e2 = intercept[Exception] {
      Curation.groupTopK(nullScore, "grp", "id", col("score"), 1).collect()
    }
    assert(e2.getMessage.contains("groupTopK"), e2.getMessage)
  }

  // --- kmeansAssign -------------------------------------------------------

  test("diversity sampling: per-cluster rates bite exactly where assigned") {
    // two tight, separable modes → k-means splits them; rate 0 empties one
    // mode, rate 1 keeps the other whole
    val vecs = (0L until 40L).map { i =>
      val base = if (i % 2 == 0) 0.0f else 10.0f
      (i, Array(base + (i % 5) * 0.01f, base))
    }.toDF("vec_id", "embedding")
    val assigned = Curation.kmeansAssign(vecs, "vec_id", "embedding",
      k = 2, iters = 2)
      .select(col("vec_id"), col("cluster"),
        col("cluster").cast("string").as("cluster_s"))
    val byCluster = assigned.collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val keptCluster = byCluster(0L)
    val kept = Curation.stratifiedSample(assigned, "cluster_s", "vec_id",
      Map(keptCluster.toString -> 1.0), defaultRate = 0.0, seed = 1)
      .collect().map(_.getLong(0)).toSet
    assert(kept == byCluster.collect {
      case (id, c) if c == keptCluster => id
    }.toSet, "rate 1 keeps the whole cluster; rate 0 empties the other")
  }

  test("kmeansAssign converges on a separable fixture") {
    // two tight blobs; k=2, init = two smallest ids (one in each blob)
    val vecs = Seq(
      (0L, Seq(0.0, 0.0)), (2L, Seq(0.1, 0.0)), (4L, Seq(0.0, 0.1)),
      (1L, Seq(10.0, 10.0)), (3L, Seq(10.1, 10.0)), (5L, Seq(10.0, 10.1))
    ).toDF("vec_id", "v")
    val out = Curation.kmeansAssign(vecs, "vec_id", "v", k = 2, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(Set(0L, 2L, 4L).map(out) == Set(0))
    assert(Set(1L, 3L, 5L).map(out) == Set(1))
  }

  test("kmeansAssign is deterministic and iters=0 assigns to init centroids") {
    val vecs = Seq(
      (10L, Seq(1.0, 2.0)), (11L, Seq(3.0, 4.0)), (12L, Seq(1.1, 2.1))
    ).toDF("vec_id", "v")
    // init: cluster 0 = vec 10, cluster 1 = vec 11; no updates
    val out = Curation.kmeansAssign(vecs, "vec_id", "v", k = 2, iters = 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).sortBy(_._1)
    assert(out.map(t => t._1 -> t._2).toSeq == Seq(10L -> 0, 11L -> 1, 12L -> 0))
    // members sit exactly on their init centroid → dist 0
    assert(out.find(_._1 == 10L).get._3 == 0.0)
    assert(out.find(_._1 == 12L).get._3 == 0.02)
  }

  test("kmeansAssign drops emptied clusters instead of crashing") {
    // k=3 with duplicate init points: vec 0 and vec 1 are identical, so both
    // tie-break to cluster 0 at the first assignment and cluster 1 receives
    // zero members — it must drop out of later rounds, not crash the update
    val vecs = Seq(
      (0L, Seq(0.0)), (1L, Seq(0.0)), (2L, Seq(100.0)),
      (3L, Seq(100.2)), (4L, Seq(0.1))
    ).toDF("vec_id", "v")
    val out = Curation.kmeansAssign(vecs, "vec_id", "v", k = 3, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out.values.toSet == Set(0, 2), out.toString)
    assert(Set(0L, 1L, 4L).map(out) == Set(0))
    assert(Set(2L, 3L).map(out) == Set(2))
  }

  test("chunkDocuments: overlap, short docs, and exact-boundary windows") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks: 2 chunks of 4+stride 3
      (2L, "a b c"),                                  // short: 1 chunk, 3 tokens
      (3L, (1 to 7).map(i => s"u$i").mkString(" "))   // 7 toks = 4 + 3: exactly 2 chunks
    ).toDF("doc_id", "text")
    val out = Curation.chunkDocuments(docs, "doc_id", "text",
      chunkSize = 4, stride = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    // doc 1: n=10 → ceil((10-4)/3)+1 = 3 chunks; last starts at tok 7, 4 toks
    assert(out.filter(_._1 == 1L).map(c => (c._2, c._3, c._4)).toSeq == Seq(
      (0L, 4L, "t1 t2 t3 t4"), (1L, 4L, "t4 t5 t6 t7"), (2L, 4L, "t7 t8 t9 t10")))
    // doc 2: single short chunk keeps its real token count
    assert(out.filter(_._1 == 2L).map(c => (c._2, c._3, c._4)).toSeq == Seq(
      (0L, 3L, "a b c")))
    // doc 3: second window is the final 4 tokens (start 4), nothing dropped
    assert(out.filter(_._1 == 3L).map(c => (c._2, c._3, c._4)).toSeq == Seq(
      (0L, 4L, "u1 u2 u3 u4"), (1L, 4L, "u4 u5 u6 u7")))
    // every token appears in at least one chunk (coverage, no gaps)
    val covered = out.filter(_._1 == 1L).flatMap(_._4.split(" ")).toSet
    assert(covered == (1 to 10).map(i => s"t$i").toSet)
    intercept[IllegalArgumentException](
      Curation.chunkDocuments(docs, "doc_id", "text", 4, 5))
  }

  test("bloomHitKey: inserted keys always hit; a fresh key misses a roomy bitmap") {
    import org.apache.spark.sql.functions.col
    val keys = Seq("alpha", "beta", "gamma").toDF("key")
    val mBits = 1 << 16
    val bm = Curation.bloomBitmapKeys(keys, "key", mBits, 2)
    val probes = Seq("alpha", "beta", "gamma", "delta-not-inserted")
      .toDF("key")
      .select(col("key"), Curation.bloomHitKey(col("key"), bm, mBits, 2).as("hit"))
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(probes("alpha") && probes("beta") && probes("gamma"))
    assert(!probes("delta-not-inserted")) // deterministic at these sizes
  }

  test("dedup-index ingest screens: re-crawls and near-dup candidates drop, new docs pass") {
    val root = java.nio.file.Paths.get(
      java.nio.file.Files.createTempDirectory("graft_ingest_screen").toString)
    val archive = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs today")).toDF("doc_id", "text")
    graft.operators.IncrementalDedup.update(spark, root, archive,
      "text", "doc_id", genKey = "base")
    val arrivals = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"),   // exact re-crawl
      (11L, "the quick brown fox jumps over the lazy cat"),   // near-dup: shares shingles
      (12L, "completely unrelated fresh content about spark engines at scale"),
      (13L, "hi")).toDF("doc_id", "text")                     // too short to screen
    arrivals.write.mode("overwrite")
      .parquet(s"$root/arrivals/documents.parquet")
    val out = graft.streaming.Streaming.dedupIndexGate(spark,
      s"$root/arrivals", root, 1 << 16, 2, "graft_ingest_screen_spec")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(out(10L)._1 && !out(10L)._3)       // digest hit -> dropped
    assert(out(11L)._2 && !out(11L)._3)       // band-bucket hit -> dropped
    assert(out(12L) == ((false, false, true)))
    assert(out(13L) == ((false, false, true))) // shorts bypass the screens
    org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
  }

  test("anneal_schedule shifts keep mass toward the high tier; deterministic") {
    val sf = "/root/testdata/sf0.01"
    def run() = SparkEntry.queries("anneal_schedule")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        ((r.getString(2), r.getDouble(3)))).toMap
    val a = run()
    assert(a == run(), "sha256-ratio keeps must replay exactly")
    // a doc's tier never varies with epoch; rates follow the schedule
    val byDoc = a.groupBy(_._1._1).view.mapValues(_.values.map(_._1).toSet)
    assert(byDoc.values.forall(_.size == 1))
    val rates = a.map { case ((_, e), (t, r)) => (t, e) -> r }.toMap
    assert(rates.forall { case ((t, e), r) =>
      r == (if (t == "high") Seq(0.5, 0.7, 0.9) else Seq(0.5, 0.3, 0.1))(e) })
    // the anneal visibly reshapes epochs: high keeps grow, low keeps shrink
    def n(t: String, e: Int) = a.count { case ((_, ep), (tr, _)) =>
      ep == e && tr == t }
    assert(n("high", 0) < n("high", 1) && n("high", 1) < n("high", 2))
    assert(n("low", 0) > n("low", 1) && n("low", 1) > n("low", 2))
  }

  test("curation_funnel attributes every doc to its first failing gate") {
    val sf = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("curation_funnel")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    // per-source rows partition: the stage counts sum to the total
    assert(got.nonEmpty)
    assert(got.values.forall { case (t, s, rp, q, k) => s + rp + q + k == t })
    // recompute the chain per doc from the component scorers
    val ref = graft.sources.Tables.documents(spark, sf)
      .select(col("source"),
        Text.tokenCountWs(col("text")).as("nw"),
        Text.repetitionRatio(col("text")).as("rep"),
        Text.qualityScore(col("text")).as("q"))
      .collect().map { r =>
        val gate =
          if (r.getInt(1) < 30) "short"
          else if (r.getDouble(2) > 0.6) "repetitive"
          else if (r.getDouble(3) < 0.35) "low_quality"
          else "kept"
        (r.getString(0), gate)
      }
    def n(src: String, g: String) =
      ref.count(x => x._1 == src && x._2 == g).toLong
    got.foreach { case (src, (t, s, rp, q, k)) =>
      assert((s, rp, q, k) == ((n(src, "short"), n(src, "repetitive"),
        n(src, "low_quality"), n(src, "kept"))), s"source $src")
      assert(t == ref.count(_._1 == src).toLong)
    }
    // every stage of the funnel is exercised corpus-wide
    assert(got.values.map(_._2).sum > 0 && got.values.map(_._3).sum > 0 &&
      got.values.map(_._4).sum > 0 && got.values.map(_._5).sum > 0)
  }

  test("cluster_silhouette agrees with the kmeans assignment it evaluates") {
    val sf = "/root/testdata/sf0.01"
    val sil = SparkEntry.queries("cluster_silhouette")(spark, sf)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    // same fit as curation_kmeans: per-cluster sizes and exact-decimal
    // mean assigned distance must line up row for row
    val asg = SparkEntry.queries("curation_kmeans")(spark, sf)
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("dist").cast("decimal(30,6)")).cast("double") /
          count(lit(1)), 6).as("md"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(sil.keySet == asg.keySet && sil.size >= 2)
    sil.foreach { case (c, (nn, s, md)) =>
      assert((nn, md) == asg(c), s"cluster $c")
      assert(s >= -1.0 && s <= 1.0, s"silhouette out of range: $s")
    }
    // a real clustering separates at least one cluster positively
    assert(sil.values.exists(_._2 > 0))
  }

  test("budget_sample keeps the largest bucket-prefix under each lang budget") {
    val sf = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("budget_sample")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getInt(3), r.getBoolean(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._2).foreach { case (lang, docs) =>
      // brute-force the cutoff: cumsum token mass in bucket order
      val hist = docs.groupBy(_._4).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val cum = hist.scanLeft((Int.MinValue, 0L)) {
        case ((_, acc), (b, t)) => (b, acc + t) }.tail
      val cutoff = cum.filter(_._2 <= 2000L)
        .map(_._1).reduceOption(_ max _).getOrElse(-1)
      docs.foreach { case (id, _, _, b, keep) =>
        assert(keep == (b <= cutoff), s"$lang doc $id bucket $b") }
      // the kept mass fits the budget, and the NEXT bucket would not
      val kept = docs.filter(_._5).map(_._3).sum
      assert(kept <= 2000L, lang)
      val next = hist.find(_._1 > cutoff)
      next.foreach { case (_, t) => assert(kept + t > 2000L, lang) }
    }
    // the budget bites somewhere and spares something
    assert(rows.exists(_._5) && rows.exists(!_._5))
  }

  test("the corpus budget step equals the bucket-prefix replay on the filtered frame") {
    val sf = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("config_corpus_budget")(spark, sf)
      .collect().map(_.getLong(0)).toSet
    val keepIds = SparkEntry.queries("corpus_filter")(spark, sf)
      .collect().filter(_.getAs[Boolean]("keep")).map(_.getLong(0)).toSet
    val base = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"),
        Text.tokenCountWs(col("text")).cast("long").as("tk"),
        floor(Curation.hashRatio(col("doc_id"), 7) * 256).cast("int")
          .as("bk"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getInt(3)))
      .filter(r => keepIds(r._1))
    val expect = base.groupBy(_._2).flatMap { case (_, docs) =>
      val hist = docs.groupBy(_._4).view.mapValues(_.map(_._3).sum)
        .toSeq.sortBy(_._1)
      val cum = hist.scanLeft((Int.MinValue, 0L)) {
        case ((_, a), (b, t)) => (b, a + t) }.tail
      val cut = cum.filter(_._2 <= 200).map(_._1)
        .reduceOption(_ max _).getOrElse(-1)
      docs.filter(_._4 <= cut).map(_._1).toSeq
    }.toSet
    assert(got == expect)
    // the journey composes: the gate filtered AND the budget bit
    assert(got.nonEmpty && got.size < keepIds.size)
  }

  test("mixture_weights: budget conserved, caps bind, smoothing favors " +
    "small sources") {
    val out = SparkEntry.queries("mixture_weights")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    val totalAvail = out.map(_._2).sum
    val budget = math.floor(totalAvail * 1.2).toLong
    val allocated = out.map(_._5).sum
    assert(allocated <= budget, "over-allocation")
    out.foreach { case (src, avail, _, cap, alloc, _) =>
      assert(cap == math.floor(avail * 1.25).toLong, s"$src cap drifted")
      assert(alloc <= cap, s"$src allocated past its epoch cap")
    }
    // two waterfill rounds exhaust the budget up to per-source floor dust
    assert(allocated >= budget - 2L * out.length - totalAvail / 100,
      s"waterfill left too much budget: $allocated of $budget")
    // α = 0.5 smoothing: among uncapped sources the per-token rate (epochs)
    // decreases as the source grows
    val unc = out.filter(t => t._5 < t._4).sortBy(_._2)
    if (unc.length >= 2)
      assert(unc.head._6 >= unc.last._6 - 1e-4,
        "smallest uncapped source must train at >= the largest's epochs")
  }

  test("quality_rrf: ranks are strictly-better counts; fusion formula holds") {
    val out = SparkEntry.queries("quality_rrf")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.nonEmpty)
    out.foreach { case (id, q, rep, rkq, rkr, rrf) =>
      assert(rkq == out.count(_._2 > q), s"doc $id: quality rank drifted")
      assert(rkr == out.count(_._3 < rep), s"doc $id: repetition rank drifted")
      val e = BigDecimal(java.lang.Double.toString(
        1.0 / (60 + rkq) + 1.0 / (60 + rkr)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(rrf - e) < 1e-9, s"doc $id: fusion formula drifted")
    }
    assert(out.map(_._6).distinct.length > 1, "fusion must discriminate")
  }

  test("stream_embed_route equals the batch curation_kmeans assignment") {
    val sf = "/root/testdata/sf0.001"
    val batch = SparkEntry.queries("curation_kmeans")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    val streamed = SparkEntry.queries("stream_embed_route")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
    assert(streamed == batch && streamed.nonEmpty)
  }
}
