package graft

import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Dedup, Importance, Sharding, Similarity}

/** Round-9 corpus operators: segment-level dedup, DSIR importance scoring,
  * domain mixture reweighting, shard manifests, product-quantized ANN.
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  /** The DSIR score as a built-in higher-order fold — the interpreted
    * reference DsirFold is pinned against. ArrayAggregate is
    * CodegenFallback and walks an interpreted tree per token.
    */
  private def dsirScoreExprHof(text: org.apache.spark.sql.Column,
                               lr: Array[Double]) = {
    val buckets = lr.length
    val lrArr = array(lr.map(lit(_)): _*)
    val toks = Text.tokens(text)
    // re-cast after each add: decimal addition widens the type and the fold
    // accumulator must stay decimal(30,6)
    val dec = aggregate(toks, lit(0).cast("decimal(30,6)"),
      (acc, t) => (acc + element_at(lrArr, Importance.bucket(t, buckets) + 1)
        .cast("decimal(30,6)")).cast("decimal(30,6)"))
    round(dec.cast("double") / size(toks), 6)
  }

  // --- segmentDedup -------------------------------------------------------

  test("segmentDedup flags shared token blocks and reports fractions") {
    val block = (1 to 10).map(i => s"w$i").mkString(" ")   // one 10-token block
    val other = (11 to 20).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, s"$block $other"),      // 2 blocks, first shared with doc 2
      (2L, s"$block unique tail"), // 1 block (13 tokens -> 1 block), shared
      (3L, "short doc")            // < 10 tokens -> no blocks
    ).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "text", "doc_id", 10)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) == ((2L, 1L, 0.5)))
    assert(out(2L) == ((1L, 1L, 1.0)))
    assert(out(3L) == ((0L, 0L, 0.0)))
  }

  test("segmentDedup counts within-doc repeats as duplicates") {
    val block = (1 to 10).map(i => s"r$i").mkString(" ")
    val docs = Seq((7L, s"$block $block")).toDF("doc_id", "text")
    val out = Dedup.segmentDedup(docs, "text", "doc_id", 10).collect().head
    assert(out.getLong(1) == 2L && out.getLong(2) == 2L)
  }

  // --- dsirScores ---------------------------------------------------------

  test("dsirScores ranks target-like docs above off-target docs") {
    // target vocabulary {alpha beta}, off-target {gamma delta}; mixed doc in
    // between — scores must order target > mixed > off-target
    val docs = Seq(
      (1L, "alpha beta alpha beta alpha beta", true),
      (2L, "alpha beta gamma delta alpha gamma", true),
      (3L, "gamma delta gamma delta gamma delta", false),
      (4L, "gamma delta delta gamma gamma delta", false)
    ).toDF("doc_id", "text", "is_target")
    val out = Importance.dsirScores(docs, "doc_id", "text",
      col("is_target"), 64)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(out(1L) > out(2L) && out(2L) > out(3L))
    assert(out(3L) == out(4L)) // same bucket histogram -> same score
  }

  test("dsirScores keep flag is score > 0") {
    val docs = Seq(
      (1L, "aa bb aa bb", true),
      (2L, "cc dd cc dd", false)
    ).toDF("doc_id", "text", "is_target")
    val out = Importance.dsirScores(docs, "doc_id", "text",
      col("is_target"), 32)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getBoolean(3)))).toMap
    out.foreach { case (_, (score, keep)) => assert(keep == (score > 0.0)) }
    assert(out(1L)._2 && !out(2L)._2)
  }

  test("codegen'd DsirFold equals the interpreted HOF fold") {
    // the MinhashExprs discipline: the tight-loop expression must land
    // bit-identically where the built-in higher-order fold lands
    val docs = (1L to 50L).map(i =>
      (i, (1 to 20).map(j => s"tok${(i * 7 + j * 3) % 40}").mkString(" ")))
      .toDF("doc_id", "text")
    val lr = Array.tabulate(32)(b => math.round((b - 16) * 0.017 * 1e6) / 1e6)
    val both = docs.select(col("doc_id"),
      Importance.dsirScoreExpr(col("text"), lr).as("fast"),
      dsirScoreExprHof(col("text"), lr).as("ref"))
      .collect()
    both.foreach(r => assert(r.getDouble(1) == r.getDouble(2),
      s"doc ${r.getLong(0)}: fast ${r.getDouble(1)} != ref ${r.getDouble(2)}"))
  }

  // --- domainMix ----------------------------------------------------------

  test("domainMix upweights small domains and downsamples large ones") {
    // big: ~100x the tokens of small — sqrt temperature must give the small
    // domain rate 1.0 (capped) and the big domain a rate < 1
    val docs = (1L to 100L).map(i => (i, "big", ("tok " * 50).trim))
      .union(Seq((101L, "small", "tok tok tok")))
      .toDF("doc_id", "domain", "text")
    val out = Importance.domainMix(docs, "doc_id", "domain",
      Text.tokenCountWs(col("text")), seed = 7)
    val rates = out.select("domain", "rate").distinct()
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(rates("small") == 1.0)
    assert(rates("big") < 1.0 && rates("big") > 0.0)
    // keep is the deterministic sha256-ratio filter: re-running flips nothing
    val k1 = out.filter(col("keep")).select("doc_id").as[Long].collect().sorted
    val k2 = Importance.domainMix(docs, "doc_id", "domain",
      Text.tokenCountWs(col("text")), seed = 7)
      .filter(col("keep")).select("doc_id").as[Long].collect().sorted
    assert(k1.sameElements(k2))
  }

  test("mix-rates artifact round-trips control, quote, backslash and non-ASCII domains") {
    val rates = Map("a\tb" -> 0.25, "q\"uote" -> 0.5, "back\\slash" -> 1.0E-4,
      "ü" -> 1.0)
    val path = java.nio.file.Files.createTempDirectory("graft_rates")
      .resolve("rates.json").toString
    Importance.saveRates(path, rates)
    assert(Importance.loadRates(path) == rates)
  }

  test("mix-rates artifact round-trips (escaped domains); hydrated gate == join gate") {
    val docs = (1L to 100L).map(i => (i, "big", ("tok " * 50).trim))
      .union(Seq((101L, "sm\"all\\x", "tok tok tok")))
      .toDF("doc_id", "domain", "text")
    val rates = Importance.domainMixRates(docs, "domain",
      Text.tokenCountWs(col("text")))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val path = java.nio.file.Files.createTempDirectory("graft_rates")
      .resolve("rates.json").toString
    Importance.saveRates(path, rates)
    assert(Importance.loadRates(path) == rates)
    // the per-row hydrated gate keeps exactly what the broadcast-join
    // gate keeps
    val joined = Importance.domainMix(docs, "doc_id", "domain",
      Text.tokenCountWs(col("text")), seed = 7)
      .filter(col("keep")).select("doc_id").as[Long].collect().sorted
    val hydrated = docs.filter(Importance.mixKeepExpr(col("doc_id"),
      col("domain"), 7, Importance.loadRates(path)))
      .select("doc_id").as[Long].collect().sorted
    assert(hydrated.sameElements(joined))
    // a domain unseen at fit time keeps nothing
    val stranger = Seq((999L, "never-seen", "tok")).toDF("doc_id", "domain", "text")
    assert(stranger.filter(Importance.mixKeepExpr(col("doc_id"),
      col("domain"), 7, rates)).count() == 0)
  }

  // --- shard manifest -----------------------------------------------------

  test("shardAssign packs document-atomic token-budget shards per source") {
    val docs = Seq(
      (1L, "s", 30), (2L, "s", 30), (3L, "s", 30), (4L, "s", 30),
      (10L, "t", 100)
    ).map { case (id, src, n) => (id, src, ("w " * n).trim) }
      .toDF("doc_id", "source", "text")
    val out = Sharding.shardAssign(docs, "doc_id", "source",
      Text.tokenCountWs(col("text")), budget = 50L)
      .select("doc_id", "shard_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // source s cumulative-before: 0,30,60,90 -> shards 0,0,1,1
    assert(out == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 10L -> 0L))
  }

  test("manifest digests are order-free and token counts add up") {
    val docs = Seq(
      (1L, "s", "alpha beta"), (2L, "s", "gamma delta"), (3L, "t", "epsilon")
    ).toDF("doc_id", "source", "text")
    val m = Sharding.manifest(docs, "doc_id", "source", "text",
      Text.tokenCountWs(col("text")), budget = 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(6)))).toMap
    assert(m(("s", 0L))._1 == 2L && m(("s", 0L))._2 == 4L)
    assert(m(("t", 0L))._1 == 1L && m(("t", 0L))._2 == 1L)
    // xor digest is order-free: reversed input produces the same digest
    val rev = Sharding.manifest(
      docs.orderBy(col("doc_id").desc), "doc_id", "source", "text",
      Text.tokenCountWs(col("text")), budget = 1000L)
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(6)).toMap
    assert(rev(("s", 0L)) == m(("s", 0L))._3)
  }

  // --- phash --------------------------------------------------------------

  test("phash survives the PNG round trip and matches the byte-domain hash") {
    import graft.operators.Multimodal
    val docs = Seq(
      (1L, "abcdefgh" * 8),        // monotone rows -> every comparison false
      (2L, "hgfedcba" * 8),        // descending -> every comparison true
      (3L, "")                      // empty payload -> all-zero pixels
    ).toDF("doc_id", "text")
    val out = Multimodal.phash(spark,
      Multimodal.asMediaTable(docs, "doc_id", "text"))
      .collect().map(r => r.media_id -> r.phash).toMap
    // 'a'<'b'<...: p(r,c) > p(r,c+1) never holds -> hash 0
    assert(out(1L) == 0L)
    // descending run: every adjacent comparison true -> all 56 bits set
    assert(out(2L) == (1L << Multimodal.PhashBits) - 1)
    assert(out(3L) == 0L)
  }

  test("phashDedup counts exact copies and band-bucket candidates") {
    import graft.operators.Multimodal
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog once"),
      (2L, "the quick brown fox jumps over the lazy dog once"), // exact copy
      (3L, "a completely different payload with other letters")
    ).toDF("doc_id", "text")
    val out = Multimodal.phashDedup(spark,
      Multimodal.asMediaTable(docs, "doc_id", "text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3)))).toMap
    // identical payloads: same phash -> 1 exact copy, >= 4 band collisions
    assert(out(1L)._2 == 1L && out(2L)._2 == 1L)
    assert(out(1L)._1 >= 4L)
    assert(out(3L)._2 == 0L)
  }

  // --- annPq --------------------------------------------------------------

  test("annPq scores an exact duplicate at the minimal ADC distance") {
    // vector 25 duplicates vector 3 exactly, so its PQ codes agree
    // subspace-for-subspace with the query's own — its ADC distance is the
    // query's quantization error, the minimum any candidate can reach
    val vecs = (0L until 40L).map { i =>
      val src = if (i == 25L) 3L else i
      (i, Array.tabulate(16)(j =>
        (((src * 31 + j * 7) % 13).toFloat - 6.0f) / 3.0f))
    }.toDF("vec_id", "embedding")
    val out = Similarity.annPq(
      vecs.filter(col("vec_id") === 3), vecs, "vec_id", "embedding",
      k = 39, dim = 16, m = 4, ks = 8)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    val dupDist = out.find(_._1 == 25L).get._2
    assert(dupDist == out.map(_._2).min)
  }

  test("annPq encode emits one row per corpus vector (no blow-up)") {
    val vecs = (0L until 32L).map(i =>
      (i, Array.tabulate(16)(j => ((i * 17 + j * 3) % 11).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Similarity.annPq(vecs.filter(col("vec_id") < 2), vecs,
      "vec_id", "embedding", k = 4, dim = 16, m = 4, ks = 8)
    // every query gets exactly k ranked neighbors, ranks 1..k
    val byQ = out.collect().groupBy(_.getLong(0))
    assert(byQ.keySet == Set(0L, 1L))
    byQ.values.foreach { rs =>
      assert(rs.map(_.getInt(3)).sorted.sameElements(1 to 4))
    }
  }
}
