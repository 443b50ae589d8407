package graft

import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Dedup, Multimodal, Similarity}

/** Text analysis, dedup, and similarity operator behavior. */
class TextDedupSpec extends SparkSpec {
  import spark.implicits._

  test("occurrences counts non-overlapping literal matches") {
    val df = Seq("x the y the z").toDF("text")
    val n = df.select(Text.occurrences(col("text"), " the ")).head().getDouble(0)
    assert(n == 2.0)
  }

  test("langId: ties resolve to priority order, markers drive the score") {
    val df = Seq(
      "x the y and z of w",   // en markers
      "x der y und z die w"   // de markers
    ).toDF("text")
    val out = df.select(Text.langId(col("text"))).collect().map(_.getString(0)).toSeq
    assert(out == Seq("en", "de"))
    // no markers at all → all scores 0 → first priority lang wins (de)
    val none = Seq("zzz").toDF("text")
      .select(Text.langId(col("text"))).head().getString(0)
    assert(none == Text.LangPriority.head)
  }

  test("fingerprint is the polynomial fold of char codes") {
    val df = Seq("ab").toDF("text")
    val fp = df.select(Text.fingerprint(col("text"))).head().getLong(0)
    assert(fp == (97L * 31 + 98) % 1000000007) // 'a'=97 then 'b'=98
  }

  test("codegen'd poly_hash equals the HOF fingerprint on the corpus") {
    graft.functions.PolyHash.register(spark)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val mismatches = docs
      .select(Text.fingerprint(col("text")).as("a"), expr("poly_hash(text)").as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatches == 0)
    // interpreted eval path too (constant folding happens pre-codegen)
    val one = Seq("ab").toDF("text").select(expr("poly_hash(text)")).head().getLong(0)
    assert(one == (97L * 31 + 98) % 1000000007)
  }

  test("token counts: whitespace vs BPE-ish") {
    val df = Seq("Hello world 42!").toDF("text")
    val r = df.select(Text.tokenCountWs(col("text")), Text.tokenCountBpe(col("text"))).head()
    assert(r.getInt(0) == 3)
    // Hello → [A-Z][a-z]* ; world → [a-z]+ ; 4, 2 → [0-9] singles ; ! → punct
    assert(r.getInt(1) == 5)
  }

  test("normalize lowercases, strips sentence punct, collapses whitespace") {
    val df = Seq("  Hello,  WORLD!  How are\tyou? ").toDF("text")
    val out = df.select(Text.normalize(col("text"))).head().getString(0)
    assert(out == "hello world how are you")
  }

  test("scrubPii redacts urls then emails then phones") {
    val df = Seq(
      "mail a.b+c@ex-ample.org or +45 123-4567 see https://x.io/p?q=1 end"
    ).toDF("text")
    val out = df.select(Text.scrubPii(col("text"))).head().getString(0)
    assert(out == "mail <EMAIL> or <PHONE> see <URL> end")
    // an email inside a URL is consumed by the URL match, not double-tagged
    val inUrl = Seq("go https://h.com/a@b.cd rest").toDF("text")
      .select(Text.scrubPii(col("text"))).head().getString(0)
    assert(inUrl == "go <URL> rest")
  }

  test("repetitionRatio is the duplicate-token fraction") {
    val df = Seq("a b a b a", "x y z", "").toDF("text")
    val out = df.select(Text.repetitionRatio(col("text"))).collect()
      .map(_.getDouble(0)).toSeq
    assert(out(0) == 0.6) // 5 tokens, 2 distinct → 1 - 2/5
    assert(out(1) == 0.0)
    // empty text splits to [""] (1 token, 1 distinct) → 0, no div-by-zero
    assert(out(2) == 0.0)
  }

  test("substringSpans: planted spans merge to exact extents") {
    // tokens are single letters a1..a20 etc. so no k-gram repeats by
    // accident; SHARED is 12 tokens -> 5 duplicated 8-grams per site
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val doc1 = ((1 to 3).map(i => s"p$i") :+ shared).mkString(" ") +
      " q1 q2 q3 q4"                     // shared at positions 4..15
    val doc2 = shared + " " + (1 to 6).map(i => s"t$i").mkString(" ")
    val doc3 = (1 to 18).map(i => s"u$i").mkString(" ")
    val df = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val out = Dedup.substringSpans(df, "doc_id", "text", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq((1L, 4L, 16L, 12L), (2L, 1L, 13L, 12L)))
  }

  test("substringSpans: touching duplicated spans coalesce across the seam") {
    // doc4 = A(8 tokens shared with doc5) directly followed by C(8 tokens
    // shared with doc6): dup gram positions 1 and 9; 9 <= 1 + 8 -> one
    // merged extent [1, 17) even though the seam-spanning grams are unique
    val a = (1 to 8).map(i => s"a$i").mkString(" ")
    val c = (1 to 8).map(i => s"c$i").mkString(" ")
    val df = Seq(
      (4L, a + " " + c),
      (5L, a + " " + (1 to 4).map(i => s"x$i").mkString(" ")),
      (6L, (1 to 4).map(i => s"y$i").mkString(" ") + " " + c))
      .toDF("doc_id", "text")
    val out = Dedup.substringSpans(df, "doc_id", "text", k = 8)
      .filter(col("doc_id") === 4L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 17L)), s"expected one coalesced extent, got $out")
  }

  test("substringSpans: exact-dup pre-collapse equals the direct pipeline") {
    // 3 distinct texts, one replicated 13x -> the probe takes the collapse
    // path (3 distinct << 0.9 * 15). Replication makes doc3's previously
    // span-free text fully duplicated (every gram occurs 13x), while the
    // doc1/doc2 planted extents must stay exactly as the direct path
    // reports them.
    val shared = (1 to 12).map(i => s"s$i").mkString(" ")
    val doc1 = ((1 to 3).map(i => s"p$i") :+ shared).mkString(" ") +
      " q1 q2 q3 q4"
    val doc2 = shared + " " + (1 to 6).map(i => s"t$i").mkString(" ")
    val doc3 = (1 to 18).map(i => s"u$i").mkString(" ")
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3)) ++
      (4L to 15L).map(i => (i, doc3))
    val df = docs.toDF("doc_id", "text")
    def canon(out: org.apache.spark.sql.DataFrame) =
      out.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    val collapsed = canon(Dedup.substringSpans(df, "doc_id", "text", k = 8))
    val direct = canon(Dedup.spansOf(df, "doc_id", lit(1L), "text", k = 8))
    assert(collapsed == direct)
    // and the expected shape: planted extents intact, every exact copy of
    // doc3 one full-document extent
    val full = (3L to 15L).map(i => (i, 1L, 19L, 18L))
    assert(collapsed == (Seq((1L, 4L, 16L, 12L), (2L, 1L, 13L, 12L)) ++ full))
  }

  test("exact dedup groups identical texts, keeps min id") {
    val df = Seq((1L, "same"), (2L, "same"), (3L, "other")).toDF("doc_id", "text")
    val out = Dedup.exact(df, "text", "doc_id")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 2L, 3L -> 1L)) // keep_id → n_copies
  }

  test("minhash dedup flags identical documents as candidates and duplicates") {
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    val df = Seq((1L, text), (2L, text),
      (3L, "completely different content with other words entirely unrelated stuff here"))
      .toDF("doc_id", "text")
    val out = Dedup.minhashDedup(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (1L, 1L) && out(2L) == (1L, 1L)) // each sees 1 candidate, 1 dup
    assert(out(3L) == (0L, 0L))
  }

  test("simhash: identical docs share signatures; different docs differ") {
    val df = Seq((1L, "aaa bbb ccc ddd"), (2L, "aaa bbb ccc ddd"), (3L, "eee fff ggg hhh"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashDedup(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(sigs(1L) != sigs(3L))
  }

  test("cosine: identical vectors → 1, orthogonal → 0; ANN excludes self") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)), (2L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val ann = Similarity.annBruteForce(df.filter(col("vec_id") === 0), df,
      "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getInt(3)))
    assert(ann.toSeq == Seq((2L, 1.0, 1), (1L, 0.0, 2)))
  }

  test("codegen'd shingle_join and minhash_sig equal the HOF constructions on the corpus") {
    val shingleFn = graft.functions.ShingleJoin.register(spark, 3)
    val sigFn = graft.functions.MinhashSig.register(spark,
      Dedup.permParams(64), Dedup.MersennePrime)
    val docs = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
    val hofSh = array_distinct(Text.shingles(Text.tokens(col("text")), 3))
    val fastSh = call_function(shingleFn, Text.tokens(col("text")))
    val hashFn = graft.functions.PortableHashArr.register(spark, Dedup.MersennePrime)
    val hofHs = transform(fastSh, t => pmod(Text.portableHash(t), lit(Dedup.MersennePrime)))
    val hs = call_function(hashFn, fastSh)
    val hofSig = array(Dedup.permParams(64).map { case (a, b) =>
      array_min(transform(hs, h => pmod(h * a + b, lit(Dedup.MersennePrime))))
    }: _*)
    val mismatches = docs.select(
        hofSh.as("a"), fastSh.as("b"), hofSig.as("sa"),
        call_function(sigFn, hs).as("sb"), hofHs.as("ha"), hs.as("hb"))
      .filter(col("a") =!= col("b") || col("sa") =!= col("sb") ||
        col("ha") =!= col("hb")).count()
    assert(mismatches == 0)
    // edge cases: fewer tokens than the shingle width → empty set → all-NULL sig
    import spark.implicits._
    val tiny = Seq("one two", "a a a a").toDF("text")
      .select(call_function(shingleFn, Text.tokens(col("text"))).as("sh"))
      .withColumn("sig", call_function(sigFn,
        transform(col("sh"), t => pmod(Text.portableHash(t), lit(Dedup.MersennePrime)))))
      .collect()
    assert(tiny(0).getSeq[String](0).isEmpty)
    assert(tiny(0).getSeq[Any](1).forall(_ == null))
    assert(tiny(1).getSeq[String](0) == Seq("a a a")) // duplicates collapse
    // band_fold equals the HOF slice-fold, including NULL poisoning
    val bandFn = graft.functions.BandFold.register(spark, 16, 4, Dedup.BandFoldPrime)
    val hofBands = transform(sequence(lit(0), lit(15)),
      b => Dedup.bandHash(slice(col("sig"), b * 4 + 1, lit(4))))
    val sigs = docs.select(call_function(sigFn, hs).as("sig"))
    val bandMismatch = sigs.select(hofBands.as("a"),
        call_function(bandFn, col("sig")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(bandMismatch == 0)
    val nullSig = Seq(Seq[Option[Long]](None, None, None, None)).toDF("x")
      .select(call_function(graft.functions.BandFold.register(spark, 1, 4,
        Dedup.BandFoldPrime), col("x")).as("b")).head()
    assert(nullSig.getSeq[Any](0) == Seq(null))
    // registrations with different defining constants land on distinct
    // names (the registry is last-writer-wins session-wide)
    assert(graft.functions.BandFold.register(spark, 16, 4, Dedup.BandFoldPrime)
      != graft.functions.BandFold.register(spark, 16, 4, Dedup.BandFoldPrime + 2))
    assert(graft.functions.MinhashSig.register(spark,
        Dedup.permParams(64), Dedup.MersennePrime)
      != graft.functions.MinhashSig.register(spark,
        Dedup.permParams(64).map { case (a, b) => (a + 1, b) },
        Dedup.MersennePrime))
  }

  test("codegen'd dot_prod equals the HOF fold bit-for-bit; NULL on mismatch") {
    graft.functions.DotProd.register(spark)
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = e.select(col("vec_id"), Similarity.toDouble(col("embedding")).as("v"))
    val pairs = a.as("x").join(a.as("y"), col("x.vec_id") + 1 === col("y.vec_id"))
    val bad = pairs.select(
        Similarity.dot(col("x.v"), col("y.v")).as("hof"),
        call_function("dot_prod", col("x.v"), col("y.v")).as("fast"))
      .filter(col("hof") =!= col("fast") || col("hof").isNull =!= col("fast").isNull)
      .count()
    assert(bad == 0)
    // length mismatch → NULL (zip_with pads with NULL), like the HOF form
    import spark.implicits._
    val mm = Seq((Seq(1.0, 2.0), Seq(3.0))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("hof"),
        call_function("dot_prod", col("a"), col("b")).as("fast")).head()
    assert(mm.isNullAt(0) && mm.isNullAt(1))
  }

  test("GraftExtensions: session-wide functions and the dot-product rewrite rule") {
    import org.apache.spark.sql.SparkSession
    val prev = spark // keep the shared fixture to restore afterwards
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val ext = try {
      val s = SparkSession.builder()
        .master("local[2]")
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .withExtensions(new graft.functions.GraftExtensions()(_))
        .getOrCreate()
      // injected SQL functions work with zero per-session registration
      assert(s.sql("SELECT poly_hash('ab')").head().getLong(0) ==
        (97L * 31 + 98) % 1000000007)
      assert(s.sql(
        "SELECT dot_prod(array(1.0d, 2.0d), array(3.0d, 4.0d))")
        .head().getDouble(0) == 11.0)
      // the optimizer rewrites the HOF dot-product pattern to DotProd on a
      // real scan-backed plan (a literal frame constant-folds away)
      val e = graft.sources.Tables.embeddings(s, "/root/testdata/sf0.001")
        .select(Similarity.toDouble(col("embedding")).as("v"))
        .select(Similarity.dot(col("v"), col("v")).as("d"))
      val optimized = e.queryExecution.optimizedPlan.toString
      assert(optimized.contains("dot_prod") && !optimized.contains("aggregate("),
        s"expected DotProd rewrite:\n$optimized")
      // and the rewritten plan equals the interpreted fold on the fixture
      val fast = e.agg(sum(col("d"))).head().getDouble(0)
      s
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
    assert(ext ne prev)
  }

  test("connected components: chains collapse to min label, singletons keep their id") {
    import spark.implicits._
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // chain 1-2-3 (transitive through 2), pair 4-5, singleton 9
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val expect = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L)
    // driver union-find path (default: edge set under the ceiling)
    val out = Dedup.connectedComponents(nodes, edges, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == expect)
    // distributed pointer-jumping path must produce the identical fixpoint
    // (graft.cc.driver_max_edges=0 disables the driver gate)
    spark.conf.set("graft.cc.driver_max_edges", "0")
    try {
      val dist = Dedup.connectedComponents(nodes, edges, "doc_id")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == expect)
    } finally spark.conf.unset("graft.cc.driver_max_edges")
  }

  /** `body` under the distributed CC branch (the driver gate's cap
    * `cap`; 0 disables the take), with the Spark jobs it started in start
    * order: true for a job that ran inside a SQL execution.
    */
  private def distributedCc[T](cap: Long = 0L)(body: => T): (T, Seq[Boolean]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Boolean)]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.add(e.jobId -> (e.properties != null &&
          e.properties.getProperty("spark.sql.execution.id") != null))
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    spark.conf.set("graft.cc.driver_max_edges", cap.toString)
    try {
      val out = body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      (out, scala.jdk.CollectionConverters.IterableHasAsScala(jobs).asScala
        .toSeq.sortBy(_._1).map(_._2))
    } finally {
      spark.conf.unset("graft.cc.driver_max_edges")
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private def ccLabels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val rows = df.collect()
    val labels = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // exactly one label row per node (a non-star fixpoint would fan the
    // final attach join out)
    assert(rows.length == labels.size, "one label row per node")
    labels
  }

  /** Edge lists the distributed loop must label exactly as the union-find
    * does: random sparse graphs (mixed component sizes, cross-links,
    * isolated nodes), a 64-node path, a 200-node chain over shuffled ids
    * (high diameter, ≥ 4 alternations), self-loops with duplicate and
    * reversed edges, and no edges at all.
    */
  private val ccCases: Seq[(String, Array[(Long, Long)])] =
    Seq(7L, 21L, 1031L).map { seed =>
      val rnd = new scala.util.Random(seed)
      s"random $seed" -> Array.fill(120)(
        (rnd.nextInt(90).toLong, rnd.nextInt(90).toLong))
        .filter { case (a, b) => a != b }
    } ++ Seq(
      "path 64" -> (1L until 64L).map(i => (i, i + 1)).toArray,
      "shuffled chain 200" -> {
        val ids = new scala.util.Random(5).shuffle((0L until 200L).toVector)
        ids.zip(ids.tail).toArray
      },
      "self-loops, duplicates, reversals" -> Array((3L, 3L), (1L, 2L),
        (2L, 1L), (1L, 2L), (2L, 5L), (5L, 2L), (7L, 7L), (8L, 9L), (9L, 8L)),
      "empty" -> Array.empty[(Long, Long)])

  test("distributed star-contraction CC equals the driver union-find on random graphs") {
    // the RDD large-star/small-star loop and its DataFrame twin must reach
    // the identical min-label fixpoint as the driver path on every shape
    import spark.implicits._
    val nodeIds = (0L until 200L).toSeq
    val nodes = nodeIds.toDF("doc_id")
    for ((name, es) <- ccCases) {
      val edges = es.toSeq.toDF("id_a", "id_b")
      val uf = Dedup.unionFindMinLabels(es.filter { case (a, b) => a != b })
      val expect = nodeIds.map(id => id -> uf.getOrElse(id, id)).toMap
      val (dist, jobs) = distributedCc() {
        ccLabels(Dedup.connectedComponents(nodes, edges, "doc_id"))
      }
      assert(dist == expect, name)
      assert(ccLabels(ConnectedComponentsTwin.connectedComponents(
        nodes, edges, "doc_id")) == expect, s"$name (twin)")
      // the loop's jobs (one per alternation) carry no SQL execution
      info(s"$name: ${jobs.count(!_)} alternations")
      if (name == "shuffled chain 200")
        assert(jobs.count(!_) >= 4, s"$name must need >= 4 alternations")
    }
  }

  test("distributed CC: one job per alternation, no SQL plan or generated class in the loop") {
    import spark.implicits._
    // pairs only: the first alternation's output is already the star set,
    // the second confirms it (alternations = 2)
    val pairs = (0L until 40L).map(i => (10 * i, 10 * i + 1))
    val nodes = pairs.flatMap { case (a, b) => Seq(a, b) }.toDF("doc_id")
    val edges = pairs.toDF("id_a", "id_b")
    val compiled = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME
    // cap 1: the gate's take runs and overflows, as in the benchmark
    distributedCc(cap = 1)(Dedup.connectedComponents(nodes, edges, "doc_id"))
    val before = compiled.getCount
    val (out, jobs) = distributedCc(cap = 1) {
      Dedup.connectedComponents(nodes, edges, "doc_id")
    }
    assert(compiled.getCount == before, "no class compiled in the call")
    val loop = jobs.dropWhile(identity)
    assert(jobs.takeWhile(identity).nonEmpty, "the gate's take runs first")
    assert(loop.nonEmpty && loop.forall(!_), s"no SQL job after the take: $jobs")
    info(s"jobs: $jobs")
    assert(loop.size <= 2 + 1, s"${loop.size} jobs for 2 alternations")
    assert(ccLabels(out) == pairs.flatMap { case (a, b) =>
      Seq(a -> a, b -> a) }.toMap)
  }

  test("distributed CC: the iteration cap throws the named error") {
    import spark.implicits._
    val edges = (1L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException](distributedCc() {
      Dedup.connectedComponents(Seq(1L).toDF("doc_id"), edges, "doc_id",
        maxIter = 1)
    })
    assert(e.getMessage.contains(
      "connectedComponents did not converge in 1 alternations"), e.getMessage)
  }

  test("distributed CC fingerprint: count, xor and exact sum of Spark's xxhash64") {
    import spark.implicits._
    // the fold the loop runs per alternation equals the Catalyst aggregate
    // the DataFrame twin runs (duplicates included)
    val es = Seq((5L, 1L), (9L, 2L), (5L, 1L), (Long.MaxValue, Long.MinValue),
      (-3L, -7L))
    val r = es.toDF("u", "v").agg(count(lit(1)),
      bit_xor(xxhash64(col("u"), col("v"))),
      sum(xxhash64(col("v"), col("u")).cast("decimal(38,0)"))).head()
    val (n, x, s) = Dedup.edgeFingerprint(es.iterator)
    assert((n, x, s) == ((r.getLong(0), r.getLong(1),
      BigInt(r.getDecimal(2).toBigIntegerExact))))
    assert(Dedup.edgeFingerprint(Iterator.empty) == ((0L, 0L, BigInt(0))))
  }

  test("union-find labels: cross-linked components collapse to the min id") {
    // two chains merged by a late edge; labels must be component minima
    val labels = Dedup.unionFindMinLabels(
      Array((10L, 11L), (12L, 13L), (11L, 13L), (20L, 21L)))
    assert(labels == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("dupClusters groups identical docs into one canonical cluster") {
    import spark.implicits._
    val df = Seq(
      (0L, "alpha beta gamma delta epsilon zeta"),
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val out = Dedup.dupClusters(df, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3))).toMap
    assert(out(0L) == ((0L, 3L, true)))
    assert(out(1L) == ((0L, 3L, false)))
    assert(out(2L) == ((0L, 3L, false)))
    assert(out(3L) == ((3L, 1L, true)))
  }

  test("dupClusters collapsed path equals the uncollapsed clustering, lifted to copies") {
    // Duplicate the sf0.001 corpus with offset ids: the probe sees 50%
    // distinct and takes the exact-dup pre-collapse path. Expected output
    // has a closed form from the base (uncollapsed-path) clustering:
    // identical-text links merge each base component with its copy, so
    // cluster_id stays the base cluster id (all copy ids are larger),
    // every cluster doubles in size, and only base rows can be canonical.
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
    val Off = 1000000L
    val doubled = base.union(base.select(col("doc_id") + Off, col("text")))
    val got = Dedup.dupClusters(doubled, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toMap
    val baseClusters = Dedup.dupClusters(base, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.size == 2 * baseClusters.size)
    baseClusters.foreach { case (id, (cid, size)) =>
      assert(got(id) == ((cid, 2 * size, id == cid)),
        s"base row $id: got ${got(id)}, base ($cid, $size)")
      assert(got(id + Off) == ((cid, 2 * size, false)),
        s"copy row ${id + Off}: got ${got(id + Off)}")
    }
  }

  test("minhashDedup collapsed path equals the direct report exactly") {
    // Triple the sf0.001 corpus with offset ids (plus one short doc per
    // copy that must NOT collapse): the rep-pair + group-size expansion
    // must land row-for-row where the full pair computation lands.
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .union(Seq((900000L, "tiny")).toDF("doc_id", "text"))
    val Off = 1000000L
    val tripled = base
      .union(base.select(col("doc_id") + Off, col("text")))
      .union(base.select(col("doc_id") + 2 * Off, col("text")))
    def run(collapse: Boolean) =
      Dedup.minhashDedup(tripled, "text", "doc_id",
        collapseOverride = Some(collapse))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    val direct = run(false)
    val collapsed = run(true)
    assert(collapsed == direct)
    // the duplication actually exercises the expansion: every replicated
    // doc has at least its 2 exact copies as verified duplicates
    assert(direct(0L)._2 >= 2L)
  }

  test("splitLeakage collapsed path equals the direct report exactly") {
    // Triple the sf0.001 corpus with offset ids: every text becomes a
    // 3-way exact-dup group whose copies hash into different folds, so
    // both the within-group and the cross-rep-pair leak terms exercise.
    // A short doc per copy pins the no-collapse-for-shorts contract
    // (identical shorts are NOT leaks).
    val base = graft.sources.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"))
      .union(Seq((900000L, "tiny")).toDF("doc_id", "text"))
    val Off = 1000000L
    val tripled = base
      .union(base.select(col("doc_id") + Off, col("text")))
      .union(base.select(col("doc_id") + 2 * Off, col("text")))
      .withColumn("fold", graft.operators.Assembly.hashSplitLabel(
        col("doc_id"), Seq("train" -> 0.9, "test" -> 0.1), seed = 21))
    def run(collapse: Boolean) =
      Dedup.splitLeakage(tripled, "text", "doc_id", "fold",
        collapseOverride = Some(collapse))
        .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2)))
        .toMap
    val direct = run(false)
    val collapsed = run(true)
    assert(collapsed == direct)
    assert(direct.nonEmpty) // the audit actually fires on this fixture
    assert(!direct.contains(900000L) && !direct.contains(900000L + Off))
  }

  test("decontamSemantic flags benchmark copies; zero vectors and strangers keep") {
    import graft.operators.Similarity
    val dim = 8
    def vec(xs: Double*) = xs.toArray
    val bench = Seq((100L, vec(1, 0.5, -0.25, 0, 0, 0, 0, 0)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, vec(1, 0.5, -0.25, 0, 0, 0, 0, 0)),    // exact copy -> cos 1
      (2L, vec(2, 1.0, -0.5, 0, 0, 0, 0, 0)),     // scaled copy: same bucket, cos 1
      (3L, vec(0, 0, 0, 0, 0, 0, 0.9, -1.2)),     // unrelated direction
      (4L, vec(0, 0, 0, 0, 0, 0, 0, 0)))          // zero vector: never buckets
      .toDF("vec_id", "embedding")
    val out = Similarity.decontamSemantic(corpus, bench, "vec_id",
      "embedding", threshold = 0.95, planes = 4, dim = dim)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(4))))
      .toMap
    assert(out(1L)._1 >= 1L && !out(1L)._2)
    assert(out(2L)._1 >= 1L && !out(2L)._2)
    assert(out(3L) == ((0L, true)))
    assert(out(4L) == ((0L, true)))
    intercept[graft.operators.BenchmarkTooLargeException](
      Similarity.decontamSemantic(corpus, bench, "vec_id", "embedding",
        threshold = 0.95, planes = 4, dim = dim, maxBenchmarkDocs = 0L))
  }

  test("annIvf collapsed path equals the uncollapsed assignment exactly") {
    // doubled corpus: the duplicate probe collapses assignment to one
    // representative per distinct vector; forcing collapse off must give
    // the identical result (identical vectors argmax identically)
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val doubled = e.union(e.select(col("vec_id") + 1000000L, col("embedding")))
    val q = e.filter(col("vec_id") < 3)
    def run(collapse: Boolean) =
      Similarity.annIvf(q, doubled, "vec_id", "embedding", k = 5,
        minStride = 37L, nprobe = 2, collapse = Some(collapse))
        .collect().map(_.toSeq).toSet
    assert(run(true) == run(false) && run(true).nonEmpty)
    // and the auto probe on this 50%-distinct corpus picks the same answer
    val auto = Similarity.annIvf(q, doubled, "vec_id", "embedding", k = 5,
      minStride = 37L, nprobe = 2).collect().map(_.toSeq).toSet
    assert(auto == run(true))
  }

  test("semanticClusters collapsed path equals the uncollapsed clustering") {
    val base = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(col("vec_id"), col("embedding"))
    val dim = base.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val doubled = base
      .union(base.select(col("vec_id") + 1000000L, col("embedding")))
    def run(collapse: Boolean) =
      Similarity.semanticClusters(doubled, "vec_id", "embedding",
        planes = 6, dim = dim, threshold = 0.95, collapse = Some(collapse))
        .collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
        .toMap
    val collapsed = run(true)
    val uncollapsed = run(false)
    assert(collapsed == uncollapsed)
    // every duplicated pair landed in one cluster (cosine(v,v) = 1), with
    // the base id canonical
    assert(collapsed(1000000L)._1 == collapsed(0L)._1)
    assert(collapsed(0L)._3 && !collapsed(1000000L)._3)
  }

  test("ann_ivf: centroids partition the corpus; probing recalls most true neighbors") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 5)
    val ivf = Similarity.annIvf(q, e, "vec_id", "embedding",
      k = 5, minStride = 37L, nprobe = 2)
    val exact = Similarity.annBruteForceAgg(q, e, "vec_id", "embedding", k = 5)
    val ivfSet = ivf.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactSet = exact.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every query returns k results, every hit is real and ranked correctly
    assert(ivf.groupBy("query_id").count().collect().forall(_.getLong(1) == 5))
    // approximate-by-design: require recall, not equality
    val recall = (ivfSet & exactSet).size.toDouble / exactSet.size
    assert(recall >= 0.2, s"IVF recall $recall vs bruteforce")
  }

  test("ann_ivf_trained: k-means centroids partition; probing recalls true neighbors") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 5)
    val ivf = Similarity.annIvfTrained(q, e, "vec_id", "embedding",
      k = 5, kCentroids = 4, iters = 2, nprobe = 2)
    assert(ivf.groupBy("query_id").count().collect().forall(_.getLong(1) == 5),
      "every query returns k results")
    // probed centroid ids are genuine trained-cluster labels (0..k-1)
    val cents = ivf.select("centroid_id").collect().map(_.getInt(0)).toSet
    assert(cents.subsetOf(Set(0, 1, 2, 3)))
    val exact = Similarity.annBruteForceAgg(q, e, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = ivf.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (got & exact).size.toDouble / exact.size
    assert(recall >= 0.2, s"trained-IVF recall $recall vs bruteforce")
  }

  test("top-k aggregator ANN matches the window-rank ANN exactly") {
    val e = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val q = e.filter(col("vec_id") < 3)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val viaWindow = key(Similarity.annBruteForce(q, e, "vec_id", "embedding", 4))
    val viaAgg = key(Similarity.annBruteForceAgg(q, e, "vec_id", "embedding", 4))
    assert(viaAgg == viaWindow && viaAgg.size == 12)
  }

  test("embed cosine pairs: bounded lookahead, threshold flag") {
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.embedCosinePairs(df, "vec_id", "embedding", 2, 0.95)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getBoolean(3))).toSet
    // pairs: (0,1) dup, (0,2) not, (1,2) not
    assert(out == Set((1L, 0L, true), (2L, 0L, false), (2L, 1L, false)))
  }

  test("zero vectors are excluded from every cosine path instead of killing the job") {
    // cosine(0, x) is 0/0: under ANSI the division errors the whole job,
    // and under non-ANSI Spark orders NaN above every real so a zero pair
    // would rank first and pass any threshold — exclusion is the only
    // correct posture (surfaced by the incremental semantic index spec)
    val df = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(2.0f, 0.0f)), // same direction
      (2L, Array(0.0f, 0.0f)), (3L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val brute = Similarity.annBruteForce(df, df, "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // zero queries and zero neighbors are absent; the real pair survives
    assert(brute == Set((0L, 1L), (1L, 0L)))
    val lsh = Similarity.annLsh(df, df, "vec_id", "embedding", k = 2,
      planes = 4, dim = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!lsh.exists(p => p._1 >= 2L || p._2 >= 2L))
    val clusters = Similarity.semanticClusters(df, "vec_id", "embedding",
      planes = 4, dim = 2, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // identical zero vectors stay SEPARATE singletons
    assert(clusters(2L) == ((2L, 1L)) && clusters(3L) == ((3L, 1L)))
    assert(clusters(0L) == ((0L, 2L)) && clusters(1L) == ((0L, 2L)))
  }

  test("semantic clusters: near-identical vectors group, orthogonal ones stay singletons") {
    // 64-dim so the 6-plane signature has room to separate directions;
    // scaling the WHOLE vector keeps the direction (and thus the LSH
    // signature) exactly identical — a partially-scaled copy can drift
    // across a hyperplane and land in another bucket
    def vec(axis: Int, scale: Float): Array[Float] = {
      val a = Array.fill(64)(0.01f)
      a(axis) = 1.0f
      a.map(_ * scale)
    }
    val df = Seq(
      (0L, vec(0, 1.0f)), (1L, vec(0, 1.5f)),   // same direction → cluster
      (2L, vec(9, 1.0f)),                       // orthogonal → singleton
      (3L, vec(20, 1.0f)), (4L, vec(20, 2.0f)), (5L, vec(20, 0.5f)) // trio
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticClusters(df, "vec_id", "embedding",
      planes = 6, dim = 64, threshold = 0.95)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(0L) == ((0L, 2L, true)) && out(1L) == ((0L, 2L, false)))
    assert(out(2L) == ((2L, 1L, true)))
    assert(out(3L) == ((3L, 3L, true)))
    assert(out(4L) == ((3L, 3L, false)) && out(5L) == ((3L, 3L, false)))

    // adaptive planes track corpus size (constant expected bucket occupancy)
    assert(Similarity.adaptivePlanes(100) == 4)
    assert(Similarity.adaptivePlanes(2048) == 6)
    assert(Similarity.adaptivePlanes(2049) == 7)
    assert(Similarity.adaptivePlanes(1L << 40) == 20, "clamped at 20 planes")
    // planes <= 0 routes through the adaptive rule and still clusters
    val adaptive = Similarity.semanticClusters(df, "vec_id", "embedding",
      planes = -1, dim = 64, threshold = 0.95)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(adaptive(1L) == 0L && adaptive(4L) == 3L && adaptive(5L) == 3L)
  }

  test("multimodal: typed raw decode agrees with the column path") {
    val docs = Seq((7L, "hello world")).toDF("doc_id", "text")
    val media = Multimodal.asMediaTable(docs, "doc_id", "text")
    val typed = Multimodal.decode(spark, media).collect().head
    val exprs = Multimodal.featuresExpr(media).collect().head
    assert(typed.media_id == 7L && typed.payload_len == 11)
    assert(typed.first_byte == 'h'.toInt)
    assert(exprs.getLong(0) == 7L && exprs.getInt(1) == 11 && exprs.getInt(2) == 'h'.toInt)
    assert(typed.width == exprs.getInt(3) && typed.height == exprs.getInt(4))
    assert(typed.brightness == exprs.getDouble(5))
    val expectBright = "hello world".getBytes.map(_.toDouble).sum / 11
    assert(typed.brightness == expectBright)
  }

  test("multimodal: real PNG and BMP payloads decode via javax.imageio") {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO
    // 4x3 image: left half pure white, right half pure black
    def encode(fmt: String): Array[Byte] = {
      val img = new BufferedImage(4, 3, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 3; x <- 0 until 4)
        img.setRGB(x, y, if (x < 2) 0xFFFFFF else 0x000000)
      val out = new ByteArrayOutputStream()
      ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val rows = Seq(
      Multimodal.MediaRecord(1L, encode("png"),
        Multimodal.MediaMeta(-1, -1, 3, "png")),
      Multimodal.MediaRecord(2L, encode("bmp"),
        Multimodal.MediaMeta(-1, -1, 3, "bmp")))
    val media = spark.createDataFrame(rows)
      .select(col("media_id"), col("payload"), col("meta"))
    val got = Multimodal.decode(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    for (f <- got.values) {
      // dimensions come from the decoded pixels, not the (bogus) metadata
      assert(f.width == 4 && f.height == 3)
      // half white (luma 255), half black (luma 0) → mean 127.5
      assert(math.abs(f.brightness - 127.5) < 1e-6)
      assert(f.payload_len > 0)
    }
    // PNG magic first byte 0x89; BMP starts with 'B'
    assert(got(1L).first_byte == 0x89)
    assert(got(2L).first_byte == 'B'.toInt)
  }

  test("multimodal audio: WAV round-trip through AudioSystem, empty payload safe") {
    import spark.implicits._
    val media = Multimodal.asMediaTable(
      Seq((7L, "ABC"), (8L, "")).toDF("doc_id", "text"), "doc_id", "text")
    val out = Multimodal.audioFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    assert(out(7L).sample_rate == Multimodal.AudioSampleRate)
    assert(out(7L).n_frames == 3L)
    assert(out(7L).mean_amplitude == (65 + 66 + 67) / 3.0)
    assert(out(8L).n_frames == 0L && out(8L).mean_amplitude == 0.0)
    // a corrupt container fails loudly, not silently
    intercept[Exception](
      javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream("not a wav".getBytes)))
  }

  test("multimodal video: y4m round-trip, frame sampling, empty payload safe") {
    import spark.implicits._
    // 70 bytes = 3 frames of 32 (last zero-padded); frames 0 and 2 sample
    val text70 = ("A" * 32) + ("B" * 32) + ("C" * 6)
    val media = Multimodal.asMediaTable(
      Seq((7L, text70), (8L, "")).toDF("doc_id", "text"), "doc_id", "text")
    val out = Multimodal.videoFeatures(spark, media).collect()
      .map(f => f.media_id -> f).toMap
    assert(out(7L).width == 8L && out(7L).height == 4L,
      "dimensions must come from the parsed stream header")
    assert(out(7L).n_frames == 3L && out(7L).n_sampled == 2L)
    // sampled luma: frame 0 = 32×'A'(65), frame 2 = 6×'C'(67) + 26 zeros
    assert(out(7L).mean_luma == (32 * 65 + 6 * 67) / (32.0 * 2))
    // empty payload = one black frame, still a well-formed clip
    assert(out(8L).n_frames == 1L && out(8L).n_sampled == 1L &&
      out(8L).mean_luma == 0.0)
    // corrupt containers fail the PRODUCTION parser loudly, not silently
    val clip = Multimodal.buildY4m("x".getBytes("US-ASCII"), 8, 4)
    val magic = intercept[IllegalArgumentException](Multimodal.parseY4m(
      "XUV4MPEG2".getBytes("US-ASCII") ++ clip.drop(9), 9L))
    assert(magic.getMessage.contains("bad magic"))
    val truncated = intercept[IllegalArgumentException](
      Multimodal.parseY4m(clip.dropRight(1), 9L))
    assert(truncated.getMessage.contains("truncated frame"))
    val chroma = intercept[IllegalArgumentException](Multimodal.parseY4m(
      new String(clip, "ISO-8859-1").replace("Cmono", "C420jpeg")
        .getBytes("ISO-8859-1"), 9L))
    assert(chroma.getMessage.contains("unsupported chroma"))
  }

  test("multimodal video dedup: envelope copies collide, distinct clips do not") {
    import spark.implicits._
    // 7 and 9 carry the same 70 bytes (an exact re-upload); 8 differs in
    // frame 2 only — a different envelope, no collision
    val text70 = ("A" * 32) + ("B" * 32) + ("C" * 6)
    val other = ("A" * 32) + ("B" * 32) + ("D" * 6)
    val media = Multimodal.asMediaTable(
      Seq((7L, text70), (8L, other), (9L, text70)).toDF("doc_id", "text"),
      "doc_id", "text")
    val got = Multimodal.videoDedup(spark, media).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got.keySet == Set(7L, 8L, 9L))
    assert(got(7L)._1 == 3L, "frame count comes from the parsed container")
    assert(got(7L)._2 == got(9L)._2 && got(7L)._3 == 1L && got(9L)._3 == 1L,
      "exact envelope copies must collide")
    assert(got(8L)._2 != got(7L)._2 && got(8L)._3 == 0L,
      "a clip differing in a sampled frame must not collide")
    // the fingerprint replays the sampled-frame poly fold exactly
    val f0 = 32L * 'A'.toLong
    val f2 = 6L * 'C'.toLong
    assert(got(7L)._2 == ((f0 % 1000000007L) * 31 + f2) % 1000000007L)
  }

  test("l2Normalize produces unit vectors; zero vectors pass through") {
    val df = Seq((0L, Array(3.0f, 4.0f)), (1L, Array(0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = df.select(col("vec_id"),
      Similarity.l2Normalize(Similarity.toDouble(col("embedding"))).as("u"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toList).toMap
    assert(out(0L) == List(0.6, 0.8) && out(1L) == List(0.0, 0.0))
  }

  test("streaming hourly rollup equals the batch aggregation") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.Streaming.runToBatch(spark, sf, "spec_stream")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val batch = graft.queries.QueriesCompose // reuse table loader via Q
    val e = graft.sources.Tables.events(spark, sf)
    val expect = e.groupBy(
        (unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(3600000000L))).as("h"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,4)")).cast("double").as("total"))
      .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(streamed == expect)
  }

  test("session-span merge is order-insensitive and bridges sessions") {
    import graft.streaming.Streaming.{mergeEvent, SessionSpan}
    val gap = 10L
    // events 0, 20, 10 — 10 bridges [0,0] and [20,20] into one session
    // (gap semantics: same session iff diff <= gap)
    val orders = Seq(Seq(0L, 20L, 10L), Seq(10L, 0L, 20L), Seq(20L, 10L, 0L))
    val results = orders.map(_.foldLeft(Seq.empty[SessionSpan])(
      (acc, t) => mergeEvent(acc, t, gap)))
    assert(results.forall(_ == Seq(SessionSpan(0L, 20L, 3L))))
    // 0 and 25 alone stay two sessions
    val two = Seq(0L, 25L).foldLeft(Seq.empty[SessionSpan])(
      (acc, t) => mergeEvent(acc, t, gap))
    assert(two == Seq(SessionSpan(0L, 0L, 1L), SessionSpan(25L, 25L, 1L)))
  }

  test("streaming sessionization equals the batch window sessionize") {
    val sf = "/root/testdata/sf0.001"
    val streamed = graft.streaming.Streaming
      .runSessionsToBatch(spark, sf, "spec_stream_sessions")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val batch = graft.operators.Ordered.sessionize(
        graft.sources.Tables.events(spark, sf),
        graft.operators.StreamKey(Seq("user_id"), "ts", Seq("event_id")), "30min")
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n"), min(unix_micros(col("ts"))).as("s"),
        max(unix_micros(col("ts"))).as("e"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(streamed == batch)
  }

  test("band sweep's 16x4 slice equals dedup_recall; recall falls with rows") {
    val sf = "/root/testdata/sf0.001"
    val sweep = SparkEntry.queries("dedup_band_sweep")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getString(2)) ->
        (r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val recall = SparkEntry.queries("dedup_recall")(spark, sf)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // the production setting inside the sweep IS dedup_recall's gate
    assert(recall.nonEmpty)
    for (k <- recall.keySet) assert(sweep((16, 4, k)) == recall(k))
    // the S-curve is monotone in aggregate on the hard (prefix) kind
    def det(b: Int, r: Int) = sweep((b, r, "prefix"))._3
    assert(det(32, 2) >= det(16, 4) && det(16, 4) >= det(8, 8))
  }

  test("preference_pairs struct-agg equals the window argmax/argmin") {
    import org.apache.spark.sql.expressions.Window
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("preference_pairs")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getDouble(5)))
      .toMap
    val scored = graft.sources.Tables.documents(spark, sf)
      .select(col("source"), col("lang"), col("doc_id"),
        Text.qualityScore(col("text")).as("q"))
    val part = Window.partitionBy(col("source"), col("lang"))
    val ref = scored
      .withColumn("rc", row_number().over(
        part.orderBy(col("q").desc, col("doc_id"))))
      .withColumn("rr", row_number().over(
        part.orderBy(col("q").asc, col("doc_id"))))
      .withColumn("n", count(lit(1)).over(part))
    val chosen = ref.where(col("rc") === 1 && col("n") >= 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val rejected = ref.where(col("rr") === 1 && col("n") >= 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    val expect = chosen.keySet.flatMap { k =>
      val (cid, cq) = chosen(k); val (rid, rq) = rejected(k)
      if (math.round((cq - rq) * 1e6) / 1e6 >= 0.1)
        Some(k -> (cid, rid, cq, rq))
      else None
    }.toMap
    assert(got == expect)
    assert(got.nonEmpty)
    assert(got.values.forall { case (cid, rid, cq, rq) =>
      cq > rq && cid != rid })
  }

  test("sft_pack renders the template losslessly with exact mask/ctx counts") {
    val sf = "/root/testdata/sf0.001"
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val got = SparkEntry.queries("sft_pack")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(3), r.getLong(4), r.getLong(5), r.getBoolean(6))))
      .toMap
    def words(t: String) = t.split("\\s+").filter(_.nonEmpty).toSeq
    // exactly the >= 16-word docs survive
    assert(got.keySet == docs.filter(d => words(d._2).size >= 16).keySet)
    assert(got.nonEmpty)
    got.foreach { case (id, (rendered, nMask, nTot, fits)) =>
      val w = words(docs(id))
      // the template renders the doc's words in order, nothing lost
      assert(rendered ==
        s"<|user|>\n${w.take(8).mkString(" ")}\n<|assistant|>\n" +
          s"${w.drop(8).mkString(" ")}\n<|end|>")
      // mask boundary = prompt words + the two template markers before it;
      // total = every word + all three markers; ctx gate is exact
      assert(nMask == 8 + 2)
      assert(nTot == w.size + 3)
      assert(fits == (nTot <= 64))
    }
    // the ctx gate must split the corpus, not rubber-stamp it
    assert(got.values.exists(_._4) && got.values.exists(!_._4))
  }

  test("hard_negatives struct-argmax equals the rank-1 sub-threshold neighbor") {
    val sf = "/root/testdata/sf0.01"
    val e = graft.sources.Tables.embeddings(spark, sf)
    val got = SparkEntry.queries("hard_negatives")(spark, sf)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getLong(3)))).toMap
    // reference: full brute-force ranking over the same planted-duplicate
    // corpus the head mines, then the best cos < 0.95 row
    val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
    def planted(mod: Int, off: Long) =
      e.filter(pmod(col("vec_id"), lit(mod)) === 0)
        .select((col("vec_id") + off).as("vec_id"), col("embedding"))
    val corpus = e.select(col("vec_id"), col("embedding"))
      .unionByName(planted(10, maxId + 1))
      .unionByName(planted(50, 2 * maxId + 2))
    val all = graft.operators.Similarity.annBruteForce(
      e.filter(pmod(col("vec_id"), lit(40)) === 0 && col("vec_id") < 2000),
      corpus, "vec_id", "embedding", k = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expect = all.groupBy(_._1).flatMap { case (q, rows) =>
      val sub = rows.filter(_._3 < 0.95)
      val nd = rows.count(_._3 >= 0.95).toLong
      if (sub.isEmpty) None
      else {
        val best = sub.minBy(r => (-r._3, r._2))
        Some(q -> ((best._2, math.round(best._3 * 1e6) / 1e6, nd)))
      }
    }
    assert(got == expect)
    assert(got.nonEmpty)
    // the dup bar did real work: every %40 query id is %10, so each query
    // carries at least one planted exact copy the bar must have rejected
    assert(got.values.forall(_._3 > 0))
    // and every mined negative sits strictly under the bar
    assert(got.values.forall(_._2 < 0.95))
  }

  test("pack_efficiency reconstructs from sequence_pack row for row") {
    val sf = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("pack_efficiency")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4),
          r.getDouble(5)))).toMap
    val packs = SparkEntry.queries("sequence_pack")(spark, sf)
      .collect().map(r => (r.getString(1), r.getLong(2), r.getLong(3),
        r.getBoolean(6))) // (source, n_tokens, start_off, crosses)
    val bySrc = packs.groupBy(_._1)
    assert(got.keySet == bySrc.keySet && got.nonEmpty)
    got.foreach { case (src, (nDocs, nSplit, splitFrac, nPacks, fillFrac)) =>
      val rows = bySrc(src)
      val total = rows.map(_._2).sum
      assert(nDocs == rows.size.toLong, src)
      assert(nSplit == rows.count(_._4).toLong, src)
      assert(splitFrac ==
        math.round(nSplit.toDouble / nDocs * 1e6) / 1e6, src)
      assert(nPacks == (total - 1) / 512 + 1, src)
      assert(fillFrac ==
        math.round(total.toDouble / (nPacks * 512) * 1e6) / 1e6, src)
      assert(fillFrac > 0.0 && fillFrac <= 1.0, src)
    }
    // fragmentation exists and is not universal — the metric discriminates
    assert(got.values.exists(_._2 > 0) &&
      got.values.exists(v => v._2 < v._1))
  }

  test("heldout_nll equals a driver-side add-1 unigram replay") {
    val sf = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("heldout_nll")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val docs = graft.sources.Tables.documents(spark, sf)
      .select(col("lang"),
        graft.operators.Assembly.hashSplitLabel(col("doc_id"),
          Seq("train" -> 0.8, "test" -> 0.2), 42).as("fold"),
        col("text"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2)))
    def toks(t: String) = t.toLowerCase.split("\\s+").toSeq
    val trainToks = docs.filter(_._2 == "train").flatMap(d => toks(d._3))
    val cnt = trainToks.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val denom = (trainToks.size + cnt.size).toDouble
    def r6(x: Double) = BigDecimal(x)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expect = docs.filter(_._2 == "test").groupBy(_._1).map {
      case (lang, ds) =>
        val ts = ds.flatMap(d => toks(d._3))
        val lps = ts.map(t => r6(math.log((cnt.getOrElse(t, 0L) + 1.0) / denom)))
        val sum = lps.map(lp =>
          BigDecimal(-lp).setScale(6, BigDecimal.RoundingMode.HALF_UP)).sum
        lang -> ((ts.size.toLong, ts.count(t => !cnt.contains(t)).toLong,
          r6((sum.toDouble) / ts.size)))
    }
    assert(got == expect)
    assert(got.nonEmpty)
    // the gate corpus's small synthetic vocab is fully covered by the
    // train fold (n_unseen = 0 is correct there — the replay equality
    // above pins the unseen branch's arithmetic); NLL is positive
    assert(got.values.forall(v => v._2 >= 0 && v._3 > 0.0))
  }

  test("containment_dedup: prefix plants verify at full containment") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("containment_dedup")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getBoolean(4)))
    assert(out.nonEmpty)
    out.foreach { case (a, b, ca, cb, f) =>
      assert(ca >= 0.0 && ca <= 1.0 && cb >= 0.0 && cb <= 1.0,
        s"containment out of range for ($a, $b)")
      assert(f == (ca >= 0.9 || cb >= 0.9), s"flag rule drifted for ($a, $b)")
    }
    val maxId = graft.queries.Q.documents(spark, sf)
      .agg(max(col("doc_id"))).head().getLong(0)
    // planted 50%-prefix sub-docs: ids past maxId, shingles fully inside
    // their original — every (original, plant) pair that surfaces must
    // verify the plant side at cont 1.0 (plant-plant pairs may contain
    // each other partially on this shared-vocab corpus), and the fixed
    // band hashing must surface a solid share of the 1-in-10 self-plants
    // (jacc ~ 0.5 collides ~65% of 16 bands deterministically)
    val origToPlant = out.filter(t => t._1 <= maxId && t._2 > maxId)
    assert(origToPlant.nonEmpty && origToPlant.forall(_._4 == 1.0))
    val selfPlants = origToPlant.count(t => t._2 == t._1 + maxId + 1)
    assert(selfPlants * 3 >= (maxId + 1) / 10,
      s"band recall too low: $selfPlants self-plants surfaced")
  }

  test("dedup_soft_weights: each cluster's mass sums to 1") {
    val out = SparkEntry.queries("dedup_soft_weights")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (c, rows) =>
      assert(rows.map(_._2).distinct.length == 1 &&
        rows.length == rows.head._2, s"cluster $c size drifted")
      val mass = rows.map(_._3).sum
      assert(math.abs(mass - 1.0) <= rows.length * 5e-7 + 1e-9,
        s"cluster $c mass $mass")
    }
  }
}
