package graft

import org.apache.spark.sql.functions._

import graft.operators.Crawl

/** Crawl front-end operators: HTML extraction, URL canonicalization +
  * dedup, Gopher quality rules, corpus-wide line dedup.
  */
class CrawlSpec extends SparkSpec {
  import spark.implicits._

  /** The HOF formulation of the kept-lines join — the reference
    * functions/LineRebuild is property-pinned against.
    */
  private def rebuildLinesHof(lines: org.apache.spark.sql.Column,
                              drop: org.apache.spark.sql.Column) =
    array_join(filter(lines, (l, i) => !array_contains(drop, i)), "\n")

  // --- htmlText / htmlTitle -----------------------------------------------

  test("htmlText strips script/style/comments, decodes entities, keeps prose") {
    val html =
      """<html><head><title>T</title><style>p { color: red }</style>
        |<script>if (1 < 2) { go(); }</script></head>
        |<body><!-- hidden -->
        |<h1>Hello</h1><p>one &amp; two &lt;three&gt;</p></body></html>"""
        .stripMargin
    val out = Seq(html).toDF("html")
      .select(Crawl.htmlText(col("html")).as("t")).head().getString(0)
    assert(out == "T\nHello\none & two <three>")
  }

  test("htmlText: block closes make lines, raw source newlines do not") {
    val html = "<body><p>one\ntwo</p><div>three</div><span>four\n" +
      "five</span><br>six</body>"
    val out = Seq(html).toDF("html")
      .select(Crawl.htmlText(col("html"))).head().getString(0)
    assert(out == "one two\nthree\nfour five\nsix")
  }

  test("htmlText single-level entity decode: &amp;lt; becomes &lt;, not <") {
    val out = Seq("<p>&amp;lt;tag&amp;gt;</p>").toDF("html")
      .select(Crawl.htmlText(col("html"))).head().getString(0)
    assert(out == "&lt;tag&gt;")
  }

  test("htmlTitle extracts decoded title; empty when absent") {
    val df = Seq("<title>A &quot;B&quot;</title>", "<p>no title</p>")
      .toDF("html").select(Crawl.htmlTitle(col("html")).as("t"))
    assert(df.collect().map(_.getString(0)).toSeq == Seq("A \"B\"", ""))
  }

  // --- normalizeUrl -------------------------------------------------------

  private def norm(url: String): String =
    Seq(url).toDF("u").select(Crawl.normalizeUrl(col("u"))).head().getString(0)

  test("normalizeUrl lowercases scheme+host, preserves path case") {
    assert(norm("HTTPS://WWW.Ex.COM/Docs/A") == "https://www.ex.com/Docs/A")
  }

  test("normalizeUrl drops the default port only for its scheme") {
    assert(norm("https://ex.com:443/a") == "https://ex.com/a")
    assert(norm("http://ex.com:80/a") == "http://ex.com/a")
    assert(norm("http://ex.com:443/a") == "http://ex.com:443/a")
    assert(norm("https://ex.com:8443/a") == "https://ex.com:8443/a")
  }

  test("normalizeUrl strips fragment, tracking params, trailing slashes") {
    assert(norm("https://ex.com/a/?utm_source=x&id=3&ref=7#frag") ==
      "https://ex.com/a?id=3")
    // all-tracking query -> no '?'; empty path -> '/'
    assert(norm("https://ex.com?utm_campaign=z") == "https://ex.com/")
    assert(norm("https://ex.com/p//") == "https://ex.com/p")
  }

  test("normalizeUrl preserves the order of surviving params") {
    assert(norm("https://ex.com/x?b=2&utm_medium=m&a=1") ==
      "https://ex.com/x?b=2&a=1")
  }

  // --- urlDedup -----------------------------------------------------------

  test("urlDedup keeps min id per canonical URL and flags blocked hosts") {
    val df = Seq(
      (1L, "https://a.com/x?utm_source=s"),
      (2L, "HTTPS://A.COM/x"),            // same canonical as 1
      (3L, "https://bad.com/y"),
      (4L, "https://a.com/z")
    ).toDF("id", "url")
    val out = Crawl.urlDedup(df, "id", "url", Seq("bad.com"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getBoolean(3), r.getLong(4), r.getBoolean(5))))
      .toMap
    assert(out(1L) == (("https://a.com/x", false, 1L, true)))
    assert(out(2L) == (("https://a.com/x", false, 1L, false))) // dup loses
    assert(out(3L)._2 && !out(3L)._4)                          // blocked
    assert(out(4L)._4)                                         // unique keeps
  }

  // --- gopherRules --------------------------------------------------------

  test("gopherRules: each rule flips on its crafted document") {
    val good = (1 to 60).map(i => Seq("the", "area", "windy", "stone")(i % 4))
      .mkString(" ")
    val docs = Seq(
      (1L, good),                                   // passes all
      (2L, "the tiny one"),                         // too few words
      (3L, (1 to 60).map(_ => "the incomprehensibilities")
        .mkString(" ")),                            // mean length too high
      (4L, good + " " + (1 to 30).map(_ => "#").mkString(" ")), // symbols
      (5L, ((1 to 60).map(_.toString) :+ "the").mkString(" ")), // numerals
      (6L, (1 to 60).map(_ => "zzz qqq").mkString(" "))         // no stops
    ).toDF("doc_id", "text")
    val out = Crawl.gopherRules(docs, "doc_id", "text",
      minWords = 50, maxWords = 1000, minMeanLen = 3.0, maxMeanLen = 10.0,
      maxSymbolRatio = 0.1, minAlphaFrac = 0.8, minStops = 1)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getBoolean(11), "good doc must pass")
    assert(!out(2L).getBoolean(6) && !out(2L).getBoolean(11))
    assert(!out(3L).getBoolean(7))
    assert(!out(4L).getBoolean(8))
    assert(!out(5L).getBoolean(9))
    assert(!out(6L).getBoolean(10))
  }

  // --- lineDedup ----------------------------------------------------------

  test("lineDedup drops corpus-frequent lines and rebuilds in order") {
    val docs = Seq(
      (1L, "unique alpha\ncookie banner\nunique beta"),
      (2L, "cookie banner\nunique gamma"),
      (3L, "solo line")
    ).toDF("doc_id", "text")
    val out = Crawl.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((3L, 1L, "unique alpha\nunique beta")))
    assert(out(2L) == ((2L, 1L, "unique gamma")))
    assert(out(3L) == ((1L, 0L, "solo line")))
  }

  test("lineDedup counts within-doc repeats toward the corpus frequency") {
    val docs = Seq((1L, "dup\ndup\nkeep")).toDF("doc_id", "text")
    val out = Crawl.lineDedup(docs, "doc_id", "text").collect().head
    assert(out.getLong(1) == 3L && out.getLong(2) == 2L &&
      out.getString(3) == "keep")
  }

  test("lineDedup yields empty text when every line is boilerplate") {
    val docs = Seq((1L, "x"), (2L, "x")).toDF("doc_id", "text")
    val out = Crawl.lineDedup(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out(1L) == "" && out(2L) == "")
  }

  test("LineRebuild equals the HOF reference on randomized drop patterns") {
    // the codegen'd two-pointer walk vs the interpreted
    // filter/array_contains chain it replaced — element-identical on
    // every drop pattern, including empty lines, all-dropped, none-dropped
    val rnd = new scala.util.Random(47)
    val rows = (1 to 60).map { i =>
      val n = rnd.nextInt(8) + 1
      val lines = (0 until n).map { j =>
        if (rnd.nextInt(5) == 0) "" else s"line${j}_${rnd.nextInt(3)}"
      }
      val drop = (0 until n).filter(_ => rnd.nextBoolean()).map(_.toString)
      (i.toLong, lines.mkString("\n"), drop.map(_.toInt))
    }
    val df = rows.toDF("id", "text", "drop")
      .select(col("id"), split(col("text"), "\n").as("lines"),
        col("drop").cast("array<int>").as("drop"))
    val out = df.select(col("id"),
      org.apache.spark.sql.GraftColumnBridge.column(
        graft.functions.LineRebuild(
          org.apache.spark.sql.GraftColumnBridge.expression(col("lines")),
          org.apache.spark.sql.GraftColumnBridge.expression(col("drop"))))
        .as("native"),
      rebuildLinesHof(col("lines"), col("drop")).as("ref"))
      .collect()
    out.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"id ${r.getLong(0)}: native '${r.getString(1)}' vs ref '${r.getString(2)}'")
    }
  }

  // --- linkGraph / pageRankHosts ------------------------------------------

  private val linkPages = Seq(
    (1L, "a", Seq(2L, 3L)), (2L, "a", Seq(1L, 3L)),
    (3L, "b", Seq(4L, 3L)), // 3 -> 3 is a self-link and must drop
    (4L, "c", Seq(1L)),
    (5L, "d", Seq(1L, 99L))) // 99 resolves to no page and must drop
    .toDF("id", "host", "links")

  test("linkGraph drops self-links + unresolved targets, aggregates weights") {
    val edges = Crawl.linkGraph(linkPages, "id", "host", col("links"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(edges == Map(
      ("a", "a") -> 2L, ("a", "b") -> 2L, ("b", "c") -> 1L,
      ("c", "a") -> 1L, ("d", "a") -> 1L))
  }

  test("pageRankHosts: one integer-micros iteration matches the hand calc") {
    // out_w: a=4 b=1 c=1 d=1; inflow(a) = 1e6*2 div 4 + 1e6 + 1e6 = 2.5e6,
    // inflow(b) = 5e5, inflow(c) = 1e6, inflow(d) = 0 (no inlinks -> base)
    val edges = Crawl.linkGraph(linkPages, "id", "host", col("links"))
    val r1 = Crawl.pageRankHosts(edges, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(r1 == Map(
      "a" -> (150000L + 85L * 2500000L / 100L),
      "b" -> (150000L + 85L * 500000L / 100L),
      "c" -> (150000L + 85L * 1000000L / 100L),
      "d" -> 150000L))
  }

  test("pageRankHosts iterates: round 2 feeds round-1 ranks through edges") {
    val edges = Crawl.linkGraph(linkPages, "id", "host", col("links"))
    val r1 = Crawl.pageRankHosts(edges, iters = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val r2 = Crawl.pageRankHosts(edges, iters = 2)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    def next(inflow: Long) = 150000L + 85L * inflow / 100L
    assert(r2("a") == next(r1("a") * 2 / 4 + r1("c") + r1("d")))
    assert(r2("b") == next(r1("a") * 2 / 4))
    assert(r2("c") == next(r1("b")))
    assert(r2("d") == 150000L)
  }

  test("host-graph fixpoints: driver path equals the distributed path") {
    // the bounded-edges gate (graft.graph.driver_max_edges) picks a driver
    // loop for small graphs; both paths must produce identical integer
    // trajectories
    val edges = Crawl.linkGraph(linkPages, "id", "host", col("links"))
    def maps() = (
      Crawl.pageRankHosts(edges, iters = 3)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap,
      Crawl.hitsHosts(edges, iters = 2)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap,
      Crawl.labelPropagate(edges, iters = 2)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap)
    val (prD, hitsD, lpD) = maps()
    spark.conf.set("graft.graph.driver_max_edges", "0")
    try {
      val (prX, hitsX, lpX) = maps()
      assert(prD == prX)
      assert(hitsD == hitsX)
      assert(lpD == lpX)
    } finally spark.conf.unset("graft.graph.driver_max_edges")
  }

  test("finishRounds releases the pinned frames when the eager checkpoint throws") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pinned = spark.range(0, 100, 1, 4).toDF("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pinned.count()
    val pinnedRdds = sc.getPersistentRDDs.keySet -- before
    assert(pinnedRdds.nonEmpty, "the pinned frame must hold cached blocks")
    val boom = udf { (id: Long) =>
      if (id >= 0) throw new IllegalStateException("checkpoint failed"); id
    }
    intercept[org.apache.spark.SparkException](
      Crawl.finishRounds(pinned)(pinned.select(boom(col("id")).as("id"))))
    assert(sc.getPersistentRDDs.keySet.intersect(pinnedRdds).isEmpty,
      "a pinned frame's cached RDD outlived the failed call")
    assert(pinned.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("frontier: per-host cap then global budget, (priority desc, url) order") {
    val cand = Seq(
      ("https://a/1", "a", 900L), ("https://a/2", "a", 900L),
      ("https://a/3", "a", 900L),
      ("https://b/1", "b", 500L), ("https://b/2", "b", 500L),
      ("https://c/1", "c", 700L)
    ).toDF("url", "host", "priority")
    val got = Crawl.frontier(cand, "url", "host", "priority", 2, 3)
      .select("url", "host_slot").collect()
      .map(r => r.getString(0) -> r.getInt(1))
    // cap drops a/3; budget 3 keeps a's two slots then c (700 > 500)
    assert(got.toSeq == Seq("https://a/1" -> 1, "https://a/2" -> 2,
      "https://c/1" -> 1))
  }

  test("frontier rejects non-positive budgets by name") {
    val cand = Seq(("u", "h", 1L)).toDF("url", "host", "priority")
    val e = intercept[IllegalArgumentException] {
      Crawl.frontier(cand, "url", "host", "priority", 0, 5)
    }
    assert(e.getMessage.contains("hostCap"))
  }

  test("gate_agreement kappa equals the per-doc verdict replay") {
    val sf = "/root/testdata/sf0.01"
    val row = SparkEntry.queries("gate_agreement")(spark, sf).collect()
    assert(row.length == 1)
    val (n, nb, nq, ng, nn, kappa) = (row(0).getLong(0), row(0).getLong(1),
      row(0).getLong(2), row(0).getLong(3), row(0).getLong(4),
      row(0).getDouble(5))
    assert(nb + nq + ng + nn == n && n > 0)
    val nd = n.toDouble
    val po = (nb + nn).toDouble / nd
    val pa = (nb + nq).toDouble / nd
    val pb = (nb + ng).toDouble / nd
    val pe = pa * pb + (1.0 - pa) * (1.0 - pb)
    val expect = if (1.0 - pe == 0.0) 0.0
      else BigDecimal((po - pe) / (1.0 - pe))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(kappa == expect)
    assert(kappa >= -1.0 && kappa <= 1.0)
    // the two gates are related but not identical — kappa discriminates
    assert(nq + ng > 0, "some disagreement must exist")
  }

  test("hitsHosts ranks directories as hubs and link targets as authorities") {
    // h1 links both authorities (weighted), h2 one; a1 also links out once
    val edges = Seq(
      ("h1", "a1", 2L), ("h1", "a2", 1L),
      ("h2", "a1", 1L), ("a1", "x", 1L)
    ).toDF("src_host", "dst_host", "weight")
    def run() = Crawl.hitsHosts(edges, iters = 2)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    val got = run()
    assert(got == run(), "integer-micros HITS must replay exactly")
    assert(got.keySet == Set("h1", "h2", "a1", "a2", "x"))
    // a1 draws the weighted inflow of both hubs: top authority at ~1e6
    assert(got("a1")._1 > got("a2")._1 && got("a2")._1 > 0)
    assert(got("a1")._1 >= 1000000L)
    // h1's two-authority outlinks beat h2's single link: top hub
    assert(got("h1")._2 > got("h2")._2 && got("h2")._2 > 0)
    assert(got("h1")._2 >= 1000000L)
    // pure sinks/isolates hold zeros, never negatives
    assert(got.values.forall { case (a, h) => a >= 0L && h >= 0L })
    assert(got("x")._2 == 0L) // x links nothing: no hub mass
  }

  test("hits_authority agrees with a driver-side integer replay") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("hits_authority")(spark, sf)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    // replay the micro-unit trajectory in plain Scala over the edge list
    val edges = SparkEntry.queries("link_graph")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val hosts = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var hub = hosts.map(_ -> 1000000L).toMap
    var auth = Map.empty[String, Long]
    def norm(raw: Map[String, Long]): Map[String, Long] = {
      val m = math.max(raw.values.max / 1000000L, 1L)
      hosts.map(h => h -> raw.getOrElse(h, 0L) / m).toMap
    }
    for (_ <- 1 to 2) {
      auth = norm(edges.groupBy(_._2).view.mapValues(
        es => es.map(e => hub(e._1) * e._3).sum).toMap)
      hub = norm(edges.groupBy(_._1).view.mapValues(
        es => es.map(e => auth(e._2) * e._3).sum).toMap)
    }
    assert(got == hosts.map(h => h -> ((auth(h), hub(h)))).toMap)
    assert(got.nonEmpty && got.values.exists(_._1 > 0))
  }
}
