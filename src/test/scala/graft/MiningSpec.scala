package graft

import org.apache.spark.sql.functions._

import graft.functions.WinnowFps
import graft.operators.{Crawl, Retrieval}

/** Corpus-mining operators: winnowing fingerprints, BM25 retrieval heads,
  * label propagation, PPMI/entropy/weighted-sample query properties.
  */
class MiningSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // --- winnowing fingerprints ---------------------------------------------

  private def fps(texts: String*): Seq[Set[Long]] =
    Retrieval.winnowFingerprints(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "t"),
      "id", "t", 4, 3)
      .orderBy(col("id"))
      .collect().toSeq
      .map(_.getSeq[Long](1).toSet)

  test("winnow: identical texts share the full fingerprint set") {
    val Seq(a, b) = fps("the quick brown fox jumps", "the quick brown fox jumps")
    assert(a == b && a.nonEmpty)
  }

  test("winnow: a shared run of >= k+w-1 chars guarantees a shared print") {
    // k=4, w=3 -> any common 6-char substring must surface in both sets
    val Seq(a, b) = fps("xxxxx common passage here", "common passage elsewhere")
    assert((a intersect b).nonEmpty)
  }

  test("winnow: disjoint alphabets share nothing; short text is empty") {
    val Seq(a, b, c) = fps("aaaa bbbb cccc dddd", "eeee ffff gggg hhhh", "ab")
    assert((a intersect b).isEmpty)
    assert(c.isEmpty)
  }

  test("winnow expression matches the reference per-window fold") {
    // brute-force reference on one string: hash every k-gram, min per
    // window, distinct — the DuckDB oracle's list-comprehension semantics
    val t = "abcabcabcab"
    val k = 4; val w = 3
    val gh = (0 to t.length - k).map { i =>
      t.substring(i, i + k).getBytes.foldLeft(0L)((acc, b) =>
        (acc * 31 + (b & 0xFF)) % 1000000007L)
    }
    val expect = (0 to gh.length - w).map(j => gh.slice(j, j + w).min).toSet
    assert(fps(t).head == expect)
  }

  test("winnow: lowercase applied upstream makes case-variants collide") {
    val Seq(a, b) = fps("The Quick BROWN fox", "the quick brown fox")
    assert(a == b)
  }

  // --- label propagation ---------------------------------------------------

  test("labelPropagate: two cliques with a weak bridge keep two communities") {
    // cliques {a1,a2,a3} and {b1,b2,b3} heavily intra-linked, one weak
    // bridge a1-b1 — LP must settle on min-label per clique
    val edges = Seq(
      ("a1", "a2", 5L), ("a2", "a3", 5L), ("a1", "a3", 5L),
      ("b1", "b2", 5L), ("b2", "b3", 5L), ("b1", "b3", 5L),
      ("a1", "b1", 1L))
      .toDF("src_host", "dst_host", "weight")
    val out = Crawl.labelPropagate(edges, 4)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(Set("a1", "a2", "a3").map(out) == Set("a1"))
    assert(Set("b1", "b2", "b3").map(out) == Set("b1"))
  }

  test("labelPropagate ties break to the smallest label") {
    // c adjacent to a and b with equal weight: adopts min(a, b) = a
    val edges = Seq(("a", "c", 1L), ("b", "c", 1L))
      .toDF("src_host", "dst_host", "weight")
    val out = Crawl.labelPropagate(edges, 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("c") == "a")
  }

  // --- query-level properties on real test data ---------------------------

  test("bm25_topk: k results per query, rank 1 has the max score") {
    val out = SparkEntry.queries("bm25_topk")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getDouble(2), r.getInt(4)))
    val byQ = out.groupBy(_._1)
    assert(byQ.nonEmpty)
    byQ.foreach { case (_, rs) =>
      assert(rs.length <= 5)
      assert(rs.minBy(_._3)._2 == rs.map(_._2).max)
    }
  }

  test("bm25_topk: the fold plan equals the relational postings reference") {
    // the pre-restructure inverted-index plan, kept as the spec-pinned
    // reference: (doc, term, tf) postings joined to broadcast query terms,
    // vocabulary df, corpus stats; per-(query, doc) decimal sum; rank window
    val docs = graft.queries.Q.documents(spark, sf)
    val toksC = graft.functions.Text.tokens(col("text"))
    val corpus = docs.where(col("doc_id") >= 20L)
      .select(col("doc_id"), toksC.as("w"))
    val qdocs = docs.where(col("doc_id") < 20L)
      .select(col("doc_id").as("qid"), toksC.as("w"))
    val tf = corpus.select(col("doc_id"), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("term"))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val stats = corpus.agg(count(lit(1)).as("n_corpus"),
      (sum(size(col("w"))).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = qdocs
      .select(col("qid"), explode(array_distinct(col("w"))).as("term"))
    val dfreq = corpus.select(explode(array_distinct(col("w"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib =
      "round(ln((CAST(n_corpus AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * " +
        "((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * " +
        "(0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))), 6)"
    val scored = tf.join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("contrib", expr(contrib))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("contrib").cast("decimal(30,6)")).cast("double")
        .as("score"), count(lit(1)).as("n_terms"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val ref = scored.withColumn("rnk", row_number().over(w).cast("int"))
      .where(col("rnk") <= 5)
      .select(col("qid"), col("doc_id"), round(col("score"), 6).as("score"),
        col("n_terms"), col("rnk"))
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getInt(4)))
      .toSet
    val out = SparkEntry.queries("bm25_topk")(spark, sf)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getInt(4)))
      .toSet
    assert(out == ref, s"fold diverged: ${out.size} vs ${ref.size}")
  }

  test("heavy_hitters: CMS upper-bounds, the verify catches false positives") {
    val out = SparkEntry.queries("heavy_hitters")(spark, sf)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.nonEmpty)
    out.foreach { case (t, est, cnt, _) =>
      assert(est >= cnt, s"$t: the CMS estimate must upper-bound the count")
    }
    // heavy is the VERIFIED verdict against the same integer threshold
    val total = graft.queries.Q.documents(spark, sf)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("tok"))
      .count()
    val tau = total / 29
    out.foreach { case (t, _, cnt, heavy) =>
      assert(heavy == (cnt >= tau), s"$t: verify verdict drifted")
    }
    assert(out.exists(_._4), "some term must verify heavy")
  }

  test("stream_heavy_hitters equals the batch head (shared oracle)") {
    val a = SparkEntry.queries("heavy_hitters")(spark, sf)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    val b = SparkEntry.queries("stream_heavy_hitters")(spark, sf)
      .collect().map(r =>
        (r.getString(0), r.getLong(1), r.getLong(2), r.getBoolean(3))).toSet
    assert(a == b && a.nonEmpty)
  }

  test("span_corrupt: inputs + targets round-trip to the original text") {
    val rows = SparkEntry.queries("span_corrupt")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3),
        r.getString(4), r.getString(5)))
    val orig = graft.queries.Q.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split("\\s+").toSeq).toMap
    val Sent = "<X(\\d+)>".r
    var corrupted = 0L
    rows.foreach { case (id, nSpans, nCorr, inputs, targets) =>
      // parse targets into sentinel-indexed spans
      val spans = scala.collection.mutable.Map[Int, Vector[String]]()
      var cur = -1
      targets.split(" ").filter(_.nonEmpty).foreach {
        case Sent(i) => cur = i.toInt; spans(cur) = Vector()
        case t => spans(cur) = spans(cur) :+ t
      }
      assert(spans.size == nSpans, s"doc $id: span count")
      assert(spans.values.map(_.size).sum == nCorr, s"doc $id: span mass")
      val rebuilt = inputs.split(" ").filter(_.nonEmpty).toSeq.flatMap {
        case Sent(i) => spans(i.toInt)
        case t => Seq(t)
      }
      assert(rebuilt == orig(id), s"doc $id: round-trip failed")
      corrupted += nCorr
    }
    assert(corrupted > 0, "some spans must corrupt")
  }

  test("fim_transform: spans reconstruct, lengths account, gate at ~rate") {
    val rows = SparkEntry.queries("fim_transform")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getString(6)))
    val orig = graft.queries.Q.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val Psm = "(?s)<PRE> (.*) <SUF> (.*) <MID> (.*)".r
    var gated = 0
    rows.foreach { case (id, applied, n, pl, ml, sl, out) =>
      assert(pl + ml + sl == n, s"doc $id: lengths must account")
      if (applied) {
        gated += 1
        out match {
          case Psm(pre, suf, mid) =>
            def toks(s: String) = s.split(" ").filter(_.nonEmpty).toSeq
            val rebuilt = toks(pre) ++ toks(mid) ++ toks(suf)
            val expected = orig(id).toLowerCase.split("\\s+")
              .filter(_.nonEmpty).toSeq
            assert(rebuilt == expected, s"doc $id: PSM must reconstruct")
          case _ => fail(s"doc $id: PSM shape missing: ${out.take(60)}")
        }
      } else assert(out == orig(id), s"doc $id: ungated must pass through")
    }
    // sha-gated at rate 0.5 over 500 docs — a binomial 5-sigma band
    assert(gated > 180 && gated < 320, s"gate rate off: $gated/500")
  }

  test("native span_corrupt == HOF spec on adversarial docs + the corpus") {
    import spark.implicits._
    // adversarial shapes: empty text (split -> [""]), leading/multiple
    // whitespace (empty tokens must keep their array_join separators),
    // exactly-one-block, block-boundary lengths, many blocks, non-ASCII,
    // and ids that vary the draw stream
    val docs = Seq(
      (1L, ""), (2L, "  "), (3L, "a"), (4L, " a  b "),
      (5L, (1 to 7).map(i => s"t$i").mkString(" ")),
      (6L, (1 to 8).map(i => s"t$i").mkString(" ")),
      (7L, (1 to 9).map(i => s"t$i").mkString(" ")),
      (8L, (1 to 200).map(i => s"w$i").mkString(" ")),
      (9L, "é ü 的 😀 x y z w q r s t u v"),
      (1000000007L, (1 to 50).map(i => s"k$i").mkString("  "))
    ).toDF("doc_id", "text")
    val corpus = graft.queries.Q.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    Seq(docs, corpus).foreach { d =>
      val got = graft.operators.Curation.spanCorrupt(d, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getString(5))).toSet
      val want = CurationTwin.spanCorruptHof(d, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4), r.getString(5))).toSet
      assert(got == want)
    }
  }

  test("stream_fim equals the batch head (shared transform)") {
    val a = SparkEntry.queries("fim_transform")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(6)))
      .toSet
    val b = SparkEntry.queries("stream_fim")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getString(6)))
      .toSet
    assert(a == b && a.nonEmpty)
  }

  test("stream_span_corrupt equals the batch head (shared frame)") {
    val a = SparkEntry.queries("span_corrupt")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(4), r.getString(5)))
      .toSet
    val b = SparkEntry.queries("stream_span_corrupt")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(4), r.getString(5)))
      .toSet
    assert(a == b && a.nonEmpty)
  }

  test("ngram_diversity: a repeated text scores below a diverse one") {
    import spark.implicits._
    val df = Seq(
      ("rep", "a b c a b c a b c a b c"),
      ("div", "one two three four five six seven eight nine ten"))
      .toDF("source", "text")
    val g = df.select(col("source"),
        explode(graft.functions.Text.shingles(
          graft.functions.Text.tokens(col("text")), 3)).as("gram"))
      .groupBy(col("source"), col("gram")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("double").as("d"), sum(col("cnt")).as("n"))
      .collect().map(r => r.getString(0) -> r.getDouble(1) /
        r.getLong(2)).toMap
    assert(g("rep") < 0.5 && g("div") == 1.0,
      s"diversity must separate: $g")
    // and the real head emits one row per source with ratio in (0, 1]
    val out2 = SparkEntry.queries("ngram_diversity")(spark, sf)
      .collect().map(r => (r.getString(0), r.getDouble(3)))
    assert(out2.nonEmpty && out2.forall(t => t._2 > 0.0 && t._2 <= 1.0))
  }

  test("text_tiling: a hard topic shift is the cohesion valley") {
    val text = ((1 to 10).map(i => s"a$i") ++ (1 to 10).map(i => s"a$i") ++
      (1 to 10).map(i => s"b$i") ++ (1 to 10).map(i => s"b$i")).mkString(" ")
    val rows = Seq(text).toDF("text")
      .select(explode(graft.queries.QueriesMining.tileScores(col("text")))
        .as("c"))
      .collect().map(r => r.getStruct(0).getLong(0) ->
        r.getStruct(0).getDouble(1)).toMap
    assert(rows == Map(10L -> 1.0, 20L -> 0.0, 30L -> 1.0),
      s"valley must sit exactly at the shift: $rows")
    // the real head: position grid, range, and threshold-rule invariants
    val out = SparkEntry.queries("text_tiling")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(out.nonEmpty)
    out.foreach { case (p, c, b) =>
      assert(p % 10 == 0 && c >= 0.0 && c <= 1.0 && b == (c < 0.1))
    }
    assert(out.exists(_._3) && out.exists(!_._3),
      "the threshold must discriminate on real data")
  }

  test("codegen'd tile_scores equals the interpreted HOF tiler (incl. edges)") {
    val docs = graft.queries.Q.documents(spark, sf)
    val mismatches = docs.select(
        graft.queries.QueriesMining.tileScores(col("text")).as("a"),
        CurationTwin.tileScoresHof(col("text")).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(mismatches == 0)
    // short docs (<= one window) yield no candidates in both paths
    val tiny = Seq("one two three", "").toDF("text")
      .select(graft.queries.QueriesMining.tileScores(col("text")).as("a"),
        CurationTwin.tileScoresHof(col("text")).as("b"))
      .collect()
    tiny.foreach { r =>
      assert(r.getSeq[Any](0).isEmpty && r.getSeq[Any](1).isEmpty)
    }
  }

  test("zipf_fit: least-squares slope matches a driver-side refit") {
    val out = SparkEntry.queries("zipf_fit")(spark, sf).head()
    val freq = graft.queries.Q.documents(spark, sf)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .filter(_._2 >= 2)
      .sortBy { case (t, c) => (-c, t) }
    assert(out.getLong(0) == freq.length)
    val xy = freq.zipWithIndex.map { case ((_, c), i) =>
      (math.log(i + 1.0), math.log(c.toDouble))
    }
    val n = xy.length.toDouble
    val (sx, sy) = (xy.map(_._1).sum, xy.map(_._2).sum)
    val sxy = xy.map(t => t._1 * t._2).sum
    val sxx = xy.map(t => t._1 * t._1).sum
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    assert(math.abs(out.getDouble(1) - slope) < 1e-3,
      s"slope ${out.getDouble(1)} vs refit $slope")
  }

  test("zipf level sums: chunked sub-ranges add exactly to the whole level") {
    // the invariant the query's ZipfChunk split relies on: a level's
    // rank-run sums are EXACTLY additive over rank sub-ranges (integer
    // micros in, Decimal(30,6) partials out) — so chunking a
    // vocabulary-scale level across tasks changes the layout, not the fit
    import org.apache.spark.sql.catalyst.expressions.Literal
    val e = graft.functions.ZipfLevelSums(Literal(0L), Literal(0L), Literal(0L))
    val whole = e.compute(100L, 10000L, 2L)
    val chunks = Seq((100L, 4096L), (4196L, 4096L), (8292L, 10000L - 8192L))
    val parts = chunks.map { case (b, k) => e.compute(b, k, 2L) }
    def dec(r: org.apache.spark.sql.catalyst.InternalRow, i: Int) =
      r.getDecimal(i, 30, 6).toJavaBigDecimal
    assert(whole.getLong(0) == parts.map(_.getLong(0)).sum)
    (1 to 4).foreach { i =>
      val total = parts.map(dec(_, i)).reduce(_.add(_))
      assert(dec(whole, i).compareTo(total) == 0,
        s"field $i: ${dec(whole, i)} vs $total")
    }
  }

  test("entropy_gate: repetitive docs score below diverse docs") {
    val out = SparkEntry.queries("entropy_gate")(spark, sf)
    val ent = out.select(col("doc_id"), col("entropy"), col("n_distinct"),
        col("n_words")).collect()
    // entropy is bounded by ln(n_distinct) and nonnegative, up to the
    // per-term round-6 grid error (±5e-7 × n_distinct terms)
    ent.foreach { r =>
      val slack = 5e-7 * r.getLong(2) + 1e-6
      val h = r.getDouble(1)
      assert(h >= -slack && h <= math.log(r.getLong(2).toDouble) + slack,
        s"doc ${r.getLong(0)}: H=$h outside [0, ln(distinct)]")
    }
  }

  test("entropy_gate fold equals the relational reference plan") {
    // the query runs the zero-shuffle EntropyStats fold; this is the
    // independently-derived relational twin it replaced (term-count
    // aggregate + doc windows + decimal term sum) — result equality pins
    // the fold's exactness, row for row
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
    val relational = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(graft.functions.Text.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(w))
      .withColumn("n_distinct", count(lit(1)).over(w))
      .withColumn("term",
        expr("round((CAST(tf AS DOUBLE) / dl) * ln(CAST(tf AS DOUBLE) / dl), 6)"))
      .groupBy(col("doc_id"), col("dl"), col("n_distinct"))
      .agg((-sum(col("term").cast("decimal(30,6)")).cast("double"))
        .as("entropy"))
      .select(col("doc_id"), col("dl").as("n_words"), col("n_distinct"),
        col("entropy"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    val fold = SparkEntry.queries("entropy_gate")(spark, sf)
      .select(col("doc_id"), col("n_words"), col("n_distinct"), col("entropy"))
      .collect()
    assert(fold.nonEmpty && fold.length == relational.size)
    fold.foreach { r =>
      val exp = relational(r.getLong(0))
      assert((r.getLong(1), r.getLong(2), r.getDouble(3)) == exp,
        s"doc ${r.getLong(0)}: fold=${(r.getLong(1), r.getLong(2), r.getDouble(3))} relational=$exp")
    }
  }

  test("sample_weighted: inclusion skews toward heavier docs") {
    val out = SparkEntry.queries("sample_weighted")(spark, sf)
    val sampleMean = out.agg(avg(col("weight"))).head().getDouble(0)
    val corpusMean = graft.sources.Tables.documents(spark, sf)
      .agg(avg(col("n_chars"))).head().getDouble(0)
    assert(sampleMean > corpusMean,
      s"weighted sample mean $sampleMean should exceed corpus mean $corpusMean")
  }

  test("cooccurrence_ppmi: pairs are ordered, scores clipped at zero") {
    val out = SparkEntry.queries("cooccurrence_ppmi")(spark, sf).collect()
    assert(out.nonEmpty && out.length <= 50)
    out.foreach { r =>
      assert(r.getString(0) <= r.getString(1), "pair must be sorted")
      assert(r.getDouble(3) >= 0.0, "PPMI is clipped at zero")
    }
  }

  test("cooccurrence_ppmi: packed dictionary path == string-key reference") {
    // the r15 rework aggregates packed-long dictionary ids; the string
    // plan stays as the executable reference AND the unbounded-corpus
    // fallback — both must produce identical rows on the gate corpus and
    // on an adversarial micro corpus (self-pairs, dist-2 wraps, a word
    // count tie broken by token order, docs shorter than the window)
    import graft.queries.QueriesMining
    val gateWords = graft.sources.Tables.documents(spark, sf)
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("w"))
      .localCheckpoint(eager = false)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getInt(4))).toSeq
    assert(rows(QueriesMining.coocPpmiPacked(spark, gateWords)) ==
      rows(QueriesMining.coocPpmiStringKey(gateWords)))
    import spark.implicits._
    val micro = (1 to 30).map(i =>
        (i.toLong, Seq("b b a", "a b a c", "c", "", "a a a a a")(i % 5)))
      .toDF("doc_id", "text")
      .select(col("doc_id"), split(lower(col("text")), "\\s+").as("w"))
      .localCheckpoint(eager = false)
    val packed = rows(QueriesMining.coocPpmiPacked(spark, micro))
    assert(packed == rows(QueriesMining.coocPpmiStringKey(micro)))
    assert(packed.nonEmpty)
    // the DIRECT vocab cap (r15 advice): a vocabulary over maxVocab must
    // answer through the collect-free string-key fallback, rows unchanged
    // (micro has 3 distinct tokens; cap at 2 forces the trip)
    assert(rows(QueriesMining.coocPpmiPacked(spark, micro, maxVocab = 2))
      == packed)
  }

  test("cooccurrence_ppmi: an over-ceiling corpus falls back collect-free") {
    // plant a 1-byte ceiling: the head must still answer (string-key
    // fallback) and match the packed plan it would otherwise run
    val before = SparkEntry.queries("cooccurrence_ppmi")(spark, sf).collect()
    val key = graft.pipeline.VocabGuard.ConfKey
    spark.conf.set(key, "1")
    try {
      val after = SparkEntry.queries("cooccurrence_ppmi")(spark, sf).collect()
      assert(after.map(_.toSeq).toSeq == before.map(_.toSeq).toSeq)
    } finally spark.conf.unset(key)
  }

  test("winnow_fingerprint query: containment in [0,1], reference excluded") {
    val out = SparkEntry.queries("winnow_fingerprint")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(0) >= 20L, "reference slice must not self-report")
      val c = r.getDouble(3)
      assert(c >= 0.0 && c <= 1.0)
    }
  }

  test("community_labelprop query: every host gets exactly one community") {
    val out = SparkEntry.queries("community_labelprop")(spark, sf)
    val n = out.count()
    assert(n > 0 && out.select(col("host")).distinct().count() == n)
  }
}
