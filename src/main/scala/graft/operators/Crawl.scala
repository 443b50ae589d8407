package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Crawl front-end operators — the steps a web-scale training-data pipeline
  * runs BEFORE the quality/dedup journey the rest of §2.7 covers: HTML text
  * extraction, URL canonicalization + URL-level dedup, the Gopher-style
  * composite quality rule set, and corpus-wide duplicated-line removal (the
  * C4/CCNet boilerplate pass).
  *
  * Reference anchor: the reference pipeline ingests already-clean records
  * (`sources/decoders.py`); these four are the upstream reality of a crawl
  * corpus, kept first-class per the brief.
  *
  * Scale posture: extraction, normalization, and the rule set are pure
  * codegen'd per-row string expressions — zero shuffle, they run at scan
  * speed. URL dedup shuffles one normalized-URL string per page (never the
  * body). Line dedup shuffles 60-bit line hashes for the frequency table and
  * pays exactly one document-keyed exchange to rebuild bodies.
  *
  * Every regex stays inside the RE2 subset (no backrefs, no lookaround) so
  * the DuckDB oracle runs character-identical patterns.
  */
object Crawl {

  // --- HTML extraction ----------------------------------------------------
  // Shared with the oracle SQL (QueriesCrawl) so the two engines cannot
  // drift. `(?s)` makes `.` span newlines in both Java regex and RE2.

  val ScriptPattern = "(?s)<script[^>]*>.*?</script>"
  val StylePattern = "(?s)<style[^>]*>.*?</style>"
  val CommentPattern = "(?s)<!--.*?-->"
  val TagPattern = "<[^>]*>"
  val TitlePattern = "(?s)<title>(.*?)</title>"

  /** Closing tags of block-level elements (and `<br>`): these become LINE
    * BREAKS in the extracted text, so extraction preserves the block
    * structure a downstream line-level boilerplate pass keys on — C4's
    * "lines" ARE extraction blocks. Source whitespace (including raw
    * newlines between tags) is normalized away FIRST; only block boundaries
    * make lines.
    */
  val BlockBreakPattern =
    "(?i)</(p|div|li|ul|ol|h[1-6]|tr|table|title|blockquote)>|<br[ /]*>"

  /** Entity decode table, applied in order — `&amp;` LAST so a literal
    * `&amp;lt;` decodes to `&lt;` (one level), not `<`.
    */
  val Entities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Visible text of an HTML document, one line per block element:
    * script/style/comment blocks removed (their content is code, not
    * prose), source whitespace normalized (raw newlines between tags do
    * NOT make lines), block-closing tags become `\n`, remaining tags become
    * spaces (so `</span><span>` never glues words), entities decoded,
    * spaces collapsed, empty lines dropped.
    *
    * Native codegen'd scanner (functions/HtmlText — no regex engine, three
    * literal removal passes + one finishing walk), char-identical to the
    * regex chain kept below as [[htmlTextRegex]], the spec reference the
    * DuckDB oracle runs (HtmlTextSpec property-pins the equality).
    */
  def htmlText(html: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.HtmlVisibleText(
        org.apache.spark.sql.GraftColumnBridge.expression(html)))

  /** The regex-chain form of [[htmlText]] — the executable spec both the
    * oracle SQL (QueriesCrawl.extractChainSql) and the native scanner are
    * held to. Not on the hot path.
    */
  private[graft] def htmlTextRegex(html: Column): Column = {
    val noBlocks = regexp_replace(
      regexp_replace(
        regexp_replace(html, ScriptPattern, " "),
        StylePattern, " "),
      CommentPattern, " ")
    val flat = regexp_replace(noBlocks, "\\s+", " ")
    val broken = regexp_replace(flat, BlockBreakPattern, "\n")
    val noTags = regexp_replace(broken, TagPattern, " ")
    val decoded = Entities.foldLeft(noTags) {
      case (c, (ent, ch)) => replace(c, lit(ent), lit(ch))
    }
    val tidy = regexp_replace(
      regexp_replace(decoded, "[ \t]+", " "),
      "[ ]*\n[\n ]*", "\n")
    trim(regexp_replace(tidy, "^\n+|\n+$", ""))
  }

  /** `<title>` content (entity-decoded, trimmed); empty when absent. */
  def htmlTitle(html: Column): Column = {
    val raw = regexp_extract(html, TitlePattern, 1)
    val decoded = Entities.foldLeft(raw) {
      case (c, (ent, ch)) => replace(c, lit(ent), lit(ch))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** Per-document extraction report: `(id, title, text, n_words)`. */
  def extractHtml(df: DataFrame, idCol: String, htmlCol: String): DataFrame = {
    val text = htmlText(col(htmlCol))
    df.select(col(idCol), htmlTitle(col(htmlCol)).as("title"),
      text.as("text"), Text.tokenCountWs(text).cast("long").as("n_words"))
  }

  // --- URL canonicalization + URL-level dedup -----------------------------

  val SchemePattern = "^([A-Za-z][A-Za-z0-9+.-]*)://"

  /** Query parameters that never identify content (tracking state). */
  val TrackingParamPattern = "^(utm_[a-z0-9_]*|ref|fbclid|gclid)(=|$)"

  /** Canonical form of a URL: lowercased scheme and host, default port
    * dropped, fragment dropped, tracking parameters removed, trailing
    * slashes collapsed (empty path → `/`). Path case and parameter ORDER are
    * preserved — both are content-significant. Pure per-row expression.
    */
  def normalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, SchemePattern, 1))
    val rest = regexp_replace(url, SchemePattern, "")
    val noFrag = regexp_replace(rest, "#.*$", "")
    val hostport = lower(regexp_extract(noFrag, "^([^/?#]+)", 1))
    val host = when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
    val pq = regexp_replace(noFrag, "^[^/?#]+", "")
    val path0 = regexp_replace(regexp_extract(pq, "^([^?]*)", 1), "/+$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val query = array_join(
      filter(split(regexp_extract(pq, "\\?(.*)$", 1), "&"),
        p => !p.rlike(TrackingParamPattern)),
      "&")
    concat(scheme, lit("://"), host, path,
      when(length(query) > 0, concat(lit("?"), query)).otherwise(lit("")))
  }

  /** Host of a normalized URL. */
  def urlHost(urlNorm: Column): Column =
    regexp_extract(urlNorm, "^[a-z][a-z0-9+.-]*://([^/?#]+)", 1)

  /** URL-level dedup: normalize, then one page per canonical URL (min id
    * wins — the deterministic keep), with a host blocklist flag. The only
    * shuffle carries `(id, url_norm)` — bodies never move; the blocklist is
    * a literal predicate (crawl blocklists are config-sized).
    *
    * Output: `(id, url_norm, host, blocked, canonical_id, keep)` where
    * keep = not blocked ∧ id == canonical_id.
    */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String,
               blockedHosts: Seq[String]): DataFrame = {
    val norm = df.select(col(idCol), normalizeUrl(col(urlCol)).as("url_norm"))
      .withColumn("host", urlHost(col("url_norm")))
    val canonical = min(col(idCol)).over(Window.partitionBy(col("url_norm")))
    norm
      .withColumn("blocked", col("host").isin(blockedHosts: _*))
      .withColumn("canonical_id", canonical)
      .withColumn("keep", !col("blocked") && col(idCol) === col("canonical_id"))
  }

  // --- Gopher-style composite quality rules -------------------------------

  /** Stop words whose PRESENCE (not ratio) signals natural language — the
    * Gopher rule counts how many distinct members appear.
    */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** The five Gopher signal columns of a text column:
    * `(n_words, mean_word_len, symbol_ratio, alpha_frac, n_stops)` — shared
    * by the report operator ([[gopherRules]]) and the config journey's gate
    * predicate ([[gopherKeep]]) so the two cannot drift.
    */
  private def gopherSignals(text: Column)
      : (Column, Column, Column, Column, Column) = {
    val toks = split(text, "\\s+")
    val nWords = size(toks).cast("long")
    val nWordsSafe = greatest(nWords, lit(1L)).cast("double")
    val meanLen = round(
      length(regexp_replace(text, "\\s+", "")).cast("double") / nWordsSafe, 6)
    val hashes = length(text) - length(replace(text, lit("#"), lit("")))
    val ellipses = (length(text) - length(replace(text, lit("..."), lit("")))) / 3
    val symbolRatio = round((hashes + ellipses).cast("double") / nWordsSafe, 6)
    // counted via regexp_count, not filter(split(...), rlike): the HOF
    // lambda is interpreted and split the per-row journey's single
    // whole-stage-codegen span (PlanAuditSpec gates this); one boundary-
    // anchored match per \S+ run containing a letter — same set the
    // filter counted (empty split tokens contain no letter either way)
    val alphaFrac = round(
      regexp_count(text, lit("(^|\\s)\\S*[A-Za-z]\\S*(?=\\s|$)"))
        .cast("double") / nWordsSafe, 6)
    val nStops = size(array_intersect(
      array_distinct(split(lower(text), "\\s+")),
      array(GopherStops.map(lit): _*))).cast("long")
    (nWords, meanLen, symbolRatio, alphaFrac, nStops)
  }

  /** The Gopher gate as ONE predicate over any subset of bounds — the
    * config journey's filter form (None = rule not applied). Same signal
    * expressions (and rounding) as [[gopherRules]].
    */
  def gopherKeep(text: Column,
                 minWords: Option[Long], maxWords: Option[Long],
                 minMeanLen: Option[Double], maxMeanLen: Option[Double],
                 maxSymbolRatio: Option[Double],
                 minAlphaFrac: Option[Double],
                 minStops: Option[Int]): Column = {
    val (nWords, meanLen, symbolRatio, alphaFrac, nStops) = gopherSignals(text)
    val conds = Seq(
      minWords.map(v => nWords >= v), maxWords.map(v => nWords <= v),
      minMeanLen.map(v => meanLen >= v), maxMeanLen.map(v => meanLen <= v),
      maxSymbolRatio.map(v => symbolRatio <= v),
      minAlphaFrac.map(v => alphaFrac >= v),
      minStops.map(v => nStops >= v.toLong)).flatten
    require(conds.nonEmpty, "gopherKeep needs at least one bound")
    conds.reduce(_ && _)
  }

  /** The Gopher-style repetition-free quality rule set (Rae et al. 2021,
    * §A1.1 — public), each signal emitted beside its verdict so a curation
    * run can audit WHICH rule dropped a document:
    *
    *  - word count within `[minWords, maxWords]`
    *  - mean word length within `[minMeanLen, maxMeanLen]`
    *  - symbol-to-word ratio (`#` and `...`) at most `maxSymbolRatio`
    *  - fraction of words containing an alphabetic character at least
    *    `minAlphaFrac`
    *  - at least `minStops` distinct stop words present
    *
    * One codegen'd pass; zero shuffle.
    */
  def gopherRules(df: DataFrame, idCol: String, textCol: String,
                  minWords: Long = 50, maxWords: Long = 100000,
                  minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                  maxSymbolRatio: Double = 0.1,
                  minAlphaFrac: Double = 0.8,
                  minStops: Int = 2): DataFrame = {
    val text = col(textCol)
    val (nWords, meanLen, symbolRatio, alphaFrac, nStops) = gopherSignals(text)
    df.select(col(idCol),
      nWords.as("n_words"),
      meanLen.as("mean_word_len"),
      symbolRatio.as("symbol_ratio"),
      alphaFrac.as("alpha_frac"),
      nStops.as("n_stops"),
      (nWords >= minWords && nWords <= maxWords).as("keep_words"),
      (meanLen >= minMeanLen && meanLen <= maxMeanLen).as("keep_mean_len"),
      (symbolRatio <= maxSymbolRatio).as("keep_symbol"),
      (alphaFrac >= minAlphaFrac).as("keep_alpha"),
      (nStops >= minStops).as("keep_stops"))
      .withColumn("keep",
        col("keep_words") && col("keep_mean_len") && col("keep_symbol") &&
          col("keep_alpha") && col("keep_stops"))
  }

  // --- Corpus-wide duplicated-line removal --------------------------------

  /** The C4/CCNet boilerplate pass: any LINE whose exact text occurs at
    * least `minFreq` times corpus-wide is removed from every document
    * (navigation, cookie banners, footers — the lines that repeat across a
    * crawl), and documents are rebuilt with their surviving lines in
    * original order.
    *
    * Shape (the r13 cost-audit rework — line BODIES never enter ANY
    * exchange): lines explode to `(id, pos, hash)` only; the frequency
    * table aggregates the portable 60-bit hashes (partial aggregation
    * collapses each partition's repeats map-side); the boilerplate hash
    * set (frequency ≥ minFreq) joins back against the hash rows to yield
    * DROPPED `(id, pos)` pairs — integers, partial-aggregated into one
    * sorted position list per affected doc; the doc-keyed join attaches
    * those lists to the ORIGINAL docs frame (AQE broadcasts the list side
    * when boilerplate is sparse — the common crawl case — and the SMJ
    * fallback exchanges each doc's text ONCE, versus the old rebuild's
    * exchange of every exploded line struct: fewer rows, no per-line
    * overhead, no wide sort); the rebuild itself is a pure per-row
    * position filter over the doc's own split. Dropping a
    * 60-bit-collision false positive is the accepted trade at 100 TB
    * (same posture as segmentDedup).
    *
    * Output: `(id, n_lines, n_dropped, text_clean)`.
    */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minFreq: Long = 2): DataFrame = {
    // snapshot (id, text) ONCE: three consumers read it (the frequency
    // explode, the dropped-position explode, and the rebuild join-back) —
    // without the checkpoint a caller whose text column is itself an
    // expression (the bench head synthesizes its multi-line body; a real
    // pipeline might pass an extraction) pays that expression once PER
    // CONSUMER (the CorpusDedupFuzzy multi-consumer lesson; measured the
    // difference at sf100: the third evaluation was the whole regression)
    // Null contract: null-text documents are DROPPED from the output —
    // the original posexplode shape's behavior (explode of a null array
    // emits nothing), kept explicit here because the left-join rework
    // would otherwise emit them as (n_lines = -1, text_clean = null)
    val snap = df.select(col(idCol), col(textCol))
      .where(col(textCol).isNotNull)
      .localCheckpoint(eager = false)
    val lines = snap
      .select(col(idCol), posexplode(split(col(textCol), "\n"))
        .as(Seq("pos", "line")))
      .select(col(idCol), col("pos"), Text.portableHash(col("line")).as("h"))
    val boiler = lines.groupBy(col("h"))
      .agg(count(lit(1)).as("freq"))
      .filter(col("freq") >= minFreq)
      .select(col("h"))
    val dropped = lines.join(boiler, Seq("h"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("pos"))).as("__drop"))
    // shuffle_hash, not sort-merge, when the position lists can't
    // broadcast: at sf100 EVERY doc carries a boilerplate line, so the
    // build side is doc-count-sized and the default SMJ SORTS the heavy
    // doc rows. Hashing the int-list side instead probes docs unsorted at
    // scan order; when boilerplate is sparse AQE still upgrades the
    // shuffled join to broadcast on measured size. The line array is
    // STAGED as a named projection (the fimTransform CollapseProject
    // lesson) so the split — and, when the caller's text column is itself
    // an expression, that expression — evaluates once per row; the
    // rebuild itself is the codegen'd LineRebuild two-pointer walk (the
    // HOF filter/array_contains chain interpreted per LINE and was the
    // dominant row cost at sf100 — functions/LineRebuild.scala, pinned to
    // the HOF reference in CrawlSpec).
    val staged = snap.join(dropped.hint("shuffle_hash"), Seq(idCol), "left")
      .select(col(idCol), col(textCol), col("__drop"),
        split(col(textCol), "\n").as("__lines"))
    staged.select(col(idCol),
      size(col("__lines")).cast("long").as("n_lines"),
      coalesce(size(col("__drop")), lit(0)).cast("long").as("n_dropped"),
      when(col("__drop").isNull, col(textCol))
        .otherwise(rebuildLines(col("__lines"), col("__drop")))
        .as("text_clean"))
  }

  /** Codegen'd kept-lines join (see functions/LineRebuild). */
  private def rebuildLines(lines: Column, drop: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.LineRebuild(
        org.apache.spark.sql.GraftColumnBridge.expression(lines),
        org.apache.spark.sql.GraftColumnBridge.expression(drop)))

  // --- Host link graph + PageRank -----------------------------------------

  /** Host-level link graph from per-page outlinks: each page contributes
    * `outlinks` (an array of target PAGE ids — a real crawl maps parsed
    * hrefs to ids upstream), self-links drop, targets resolve to their
    * host through one id-keyed join, and links aggregate to weighted
    * host→host edges `(src_host, dst_host, weight)`.
    *
    * Scale posture: the link-resolution join shuffles on the target id —
    * the unavoidable corpus-scale exchange of link resolution — but only
    * `(id, src_host, target)` rows enter it, never bodies; the host-pair
    * aggregate partial-aggregates map-side, so the edge frame that leaves
    * the shuffle is host-graph-sized (millions of hosts), not page-sized
    * (billions of pages).
    */
  def linkGraph(pages: DataFrame, idCol: String, hostCol: String,
                outlinks: Column): DataFrame = {
    val links = pages
      .select(col(idCol), col(hostCol).as("src_host"),
        explode(outlinks).as("__t"))
      .where(col("__t") =!= col(idCol))
    val hostOf = pages.select(col(idCol).as("__t"), col(hostCol).as("dst_host"))
    links.join(hostOf, "__t")
      .groupBy(col("src_host"), col("dst_host"))
      .agg(count(lit(1)).as("weight"))
  }

  /** PageRank over a weighted host graph, in INTEGER MICRO-UNITS — the
    * authority signal crawl curation ranks hosts by (the public PageRank
    * formulation, damping 0.85, scaled so ranks average ~1e6 micros).
    * All arithmetic is 64-bit integer (products, integer division, sums):
    * per iteration, each edge contributes `rank_src * w div out_w`, and
    * `rank' = baseMicros + dampNum * inflow div dampDen` — no IEEE
    * rounding anywhere, so the fixpoint trajectory replays exactly in any
    * engine (the quality_classifier 1e-6-grid discipline applied to a
    * graph iteration). Hosts with no inlinks settle at `baseMicros`.
    *
    * Scale posture: ranks STAY distributed (a web-scale host graph has
    * millions of nodes) — each of the `iters` rounds is one equi-join of
    * the edge frame with the rank frame plus one partial-aggregated
    * groupBy on the destination; the edge frame materializes once
    * (localCheckpoint) and each round's rank frame checkpoints so plan
    * depth stays constant across iterations (the curation_kmeans
    * discipline, with the state left distributed instead of collected).
    */
  /** Driver-path ceiling for the host-graph fixpoints ([[pageRankHosts]],
    * [[hitsHosts]], [[labelPropagate]]): edge frames at or under this
    * collect to an exact driver loop (integer arithmetic replays
    * identically either way); larger graphs run the distributed rounds
    * unchanged — the web-scale posture. Conf `graft.graph.driver_max_edges`
    * overrides (0 disables, for A/B and the distributed-path specs).
    */
  private[graft] val GraphDriverMaxEdges = 1 << 20

  /** Pin a loop-invariant frame's layout for iterated equi-joins on `key`
    * (r17, guide §2.4 "two operations keyed the same way share one
    * exchange"): hash-partition on the key at the session's shuffle
    * parallelism, sort within partitions, and persist. A persisted plan's
    * InMemoryTableScan preserves outputPartitioning AND outputOrdering
    * (measured in plans/r17/pagerank_round_pinned.txt — a localCheckpoint
    * does NOT: under AQE the captured LogicalRDD partitioning is Unknown,
    * and the per-round exchange comes back), so every subsequent
    * sort-merge join on `key` at that partition count reuses this one
    * exchange+sort instead of re-shuffling and re-sorting the edge-scale
    * side per round. The partition count is the session conf
    * (scale-adaptive), never a constant. Callers MUST unpersist after
    * driving the loop (see finishRounds) — nothing may stay cached past
    * the operator call.
    */
  private def pinnedByKey(df: DataFrame, key: String): DataFrame = {
    val np = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    df.repartition(np, col(key))
      .sortWithinPartitions(col(key))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Build the iterated rounds over the `pinned` loop-invariant frames and
    * drive their result eagerly (one localCheckpoint action — the rounds'
    * lazy checkpoints materialize through it), then drop the pinned frames
    * so no cache outlives the operator call — also when a round or the
    * final action throws. The caller gets an RDD-backed frame; results are
    * unchanged, only the moment of computation moves inside the operator —
    * which is where the pinned frames' lifetime must end.
    */
  private[graft] def finishRounds(pinned: DataFrame*)(
      rounds: => DataFrame): DataFrame =
    try rounds.localCheckpoint(eager = true)
    // blocking: the cleanup belongs to THIS operator call, not to whatever
    // the caller times next
    finally pinned.foreach(_.unpersist(blocking = true))

  /** Bounded take of the host edge list: Some(edges) when the graph fits
    * the driver ceiling, None when it doesn't (or the gate is disabled).
    */
  private def boundedHostEdges(
      edges: DataFrame): Option[Array[(String, String, Long)]] =
    DriverGate.take(edges.select(col("src_host").cast("string"),
        col("dst_host").cast("string"), col("weight").cast("long")),
      "graft.graph.driver_max_edges", GraphDriverMaxEdges)
      .map(_.map(r => (r.getString(0), r.getString(1), r.getLong(2))))

  def pageRankHosts(edges: DataFrame, iters: Int,
                    initMicros: Long = 1000000L, baseMicros: Long = 150000L,
                    dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    require(iters >= 1, s"pageRankHosts: need iters >= 1, got $iters")
    // bounded-graph driver loop (guide §1.2): the same integer trajectory
    // — per-edge `rank * w div out_w`, exact Long sums, `base + damp *
    // inflow div den` — without `iters` rounds of join+aggregate stages;
    // the labels return as a broadcast-sized local relation
    boundedHostEdges(edges).foreach { es =>
      val outW = new scala.collection.mutable.HashMap[String, Long]
      es.foreach { case (s, _, w) => outW(s) = outW.getOrElse(s, 0L) + w }
      val hosts: Array[String] = (es.iterator.map(_._1) ++
        es.iterator.map(_._2)).toArray.distinct
      var rank = hosts.iterator.map(_ -> initMicros).toMap
      for (_ <- 1 to iters) {
        val inflow = new scala.collection.mutable.HashMap[String, Long]
        es.foreach { case (s, dt, w) =>
          inflow(dt) = inflow.getOrElse(dt, 0L) + rank(s) * w / outW(s)
        }
        rank = hosts.iterator.map(h =>
          h -> (baseMicros + dampNum * inflow.getOrElse(h, 0L) / dampDen))
          .toMap
      }
      val spark = edges.sparkSession
      import spark.implicits._
      return broadcast(
        rank.toSeq.sortBy(_._1).toDF("host", "rank_micros"))
    }
    // r17: the edge frame is loop-invariant and every round equi-joins it
    // on src_host — pin its partitioning+ordering ONCE (pinnedByKey) so the
    // per-round join re-shuffles and re-sorts only the node-scale rank
    // frame, never the edge-scale side. The remaining per-round edge-scale
    // work is the partial-aggregated groupBy(dst_host) — the irreducible
    // message aggregation.
    val outW = edges.groupBy(col("src_host")).agg(sum(col("weight")).as("out_w"))
    val e = pinnedByKey(
      edges.join(outW, "src_host")
        .select(col("src_host"), col("dst_host"), col("weight"), col("out_w")),
      "src_host")
    val hosts = pinnedByKey(
      e.select(col("src_host").as("host"))
        .unionByName(e.select(col("dst_host").as("host")))
        .distinct(),
      "host")
    finishRounds(e, hosts) {
      var ranks = hosts.select(col("host"), lit(initMicros).as("rank_micros"))
      for (_ <- 1 to iters) {
        val inflow = e.join(ranks, col("src_host") === col("host"))
          .selectExpr("dst_host", "rank_micros * weight div out_w AS contrib")
          .groupBy(col("dst_host")).agg(sum(col("contrib")).as("inflow"))
        ranks = hosts
          .join(inflow, col("host") === col("dst_host"), "left")
          .select(col("host"), coalesce(col("inflow"), lit(0L)).as("inflow"))
          .selectExpr("host",
            s"CAST($baseMicros + ($dampNum * inflow div $dampDen) AS BIGINT)" +
              " AS rank_micros")
          .localCheckpoint(eager = false)
      }
      ranks
    }
  }

  /** HITS hubs & authorities over the weighted host graph — the second
    * classic authority signal beside [[pageRankHosts]] (hubs: hosts whose
    * OUTLINKS point at good authorities — directories, link lists;
    * authorities: hosts good hubs point AT). INTEGER MICRO-UNITS like
    * PageRank: each half-round is contribution `score * weight` summed
    * over edges, then MAX-normalization back onto the ~1e6 grid via
    * `raw div max(raw div 1e6, 1)` — all 64-bit integer ops, so the
    * fixpoint trajectory replays exactly in the oracle's chained CTEs
    * (no IEEE normalization drift; headroom: per-host weighted inflow
    * must stay under ~9e12, i.e. Long.MaxValue / 1e6).
    *
    * Scale posture: scores stay DISTRIBUTED — each half-round is one
    * edge⨝score equi-join plus one partial-aggregated groupBy; the
    * normalizer is a ONE-ROW max aggregate broadcast back into the plan
    * (never a collect of the score frame); per-round localCheckpoints
    * hold plan depth constant (the pageRankHosts discipline).
    */
  def hitsHosts(edges: DataFrame, iters: Int,
                initMicros: Long = 1000000L): DataFrame = {
    require(iters >= 1, s"hitsHosts: need iters >= 1, got $iters")
    // bounded-graph driver loop (see pageRankHosts): identical integer
    // half-rounds — raw = Σ score*w, then `raw div greatest(m div 1e6, 1)`
    // max-normalization with every absent host at raw 0
    boundedHostEdges(edges).foreach { es =>
      val hosts: Array[String] = (es.iterator.map(_._1) ++
        es.iterator.map(_._2)).toArray.distinct
      def normalized(raw: scala.collection.Map[String, Long]): Map[String, Long] = {
        // the plan's normalizer is max over the RAW aggregate rows only
        // (absent hosts join in after), greatest(m div 1e6, 1) guarding
        // the empty frame — replicate exactly
        val denom =
          if (raw.isEmpty) 1L
          else math.max(raw.values.max / 1000000L, 1L)
        hosts.iterator.map(h => h -> raw.getOrElse(h, 0L) / denom).toMap
      }
      var hub = hosts.iterator.map(_ -> initMicros).toMap
      var auth = hub
      for (_ <- 1 to iters) {
        val authRaw = new scala.collection.mutable.HashMap[String, Long]
        es.foreach { case (s, dt, w) =>
          authRaw(dt) = authRaw.getOrElse(dt, 0L) + hub(s) * w
        }
        auth = normalized(authRaw)
        val hubRaw = new scala.collection.mutable.HashMap[String, Long]
        es.foreach { case (s, dt, w) =>
          hubRaw(s) = hubRaw.getOrElse(s, 0L) + auth(dt) * w
        }
        hub = normalized(hubRaw)
      }
      val spark = edges.sparkSession
      import spark.implicits._
      return broadcast(hosts.sorted.toSeq
        .map(h => (h, auth(h), hub(h)))
        .toDF("host", "auth_micros", "hub_micros"))
    }
    // r17 measured-and-REJECTED: pinning the edge frame per join key
    // (one copy per half-round key, pinnedByKey) lost to this shape at
    // BOTH 200K-host and 1M-host synthetic scales (~1.2-1.3× slower,
    // 27→33 jobs — two cache builds plus per-half-round cache pressure
    // outweigh the exchanges they remove at iters=2; probe_graph_p3/p4).
    // The r16 shape stays: one unpinned checkpoint, half-rounds re-shuffle
    // it.
    val e = edges.select(col("src_host"), col("dst_host"), col("weight"))
      .localCheckpoint(eager = false)
    val hosts = e.select(col("src_host").as("host"))
      .unionByName(e.select(col("dst_host").as("host")))
      .distinct().localCheckpoint(eager = false)
    def normalized(raw: DataFrame, key: String, out: String): DataFrame = {
      val m = raw.agg(max(col("raw")).as("m"))
      hosts.join(raw, col("host") === col(key), "left")
        .select(col("host"), coalesce(col("raw"), lit(0L)).as("raw"))
        .crossJoin(broadcast(m))
        .selectExpr("host",
          s"CAST(raw div greatest(m div 1000000, 1) AS BIGINT) AS $out")
        .localCheckpoint(eager = false)
    }
    var hub = hosts.select(col("host"), lit(initMicros).as("hub_micros"))
    var auth: DataFrame = hosts.select(col("host"),
      lit(initMicros).as("auth_micros"))
    for (_ <- 1 to iters) {
      val authRaw = e.join(hub, col("src_host") === col("host"))
        .selectExpr("dst_host", "hub_micros * weight AS c")
        .groupBy(col("dst_host")).agg(sum(col("c")).as("raw"))
      auth = normalized(authRaw, "dst_host", "auth_micros")
      val hubRaw = e.join(auth, col("dst_host") === col("host"))
        .selectExpr("src_host", "auth_micros * weight AS c")
        .groupBy(col("src_host")).agg(sum(col("c")).as("raw"))
      hub = normalized(hubRaw, "src_host", "hub_micros")
    }
    auth.join(hub, Seq("host"))
  }

  /** Authority gate over a ranked host graph — the crawl-curation rule
    * that drops pages from low-authority hosts (the public CommonCrawl
    * -curation practice of domain-level quality priors): each page joins
    * its host's [[pageRankHosts]] rank and keeps iff the rank clears
    * `floorMicros`. The rank frame is host-graph-scale — orders of
    * magnitude under the page count — so the join broadcasts or
    * hash-joins on the host key; bodies never enter it. Output:
    * `(id, host, rank_micros, keep)`.
    */
  def authorityGate(pages: DataFrame, idCol: String, hostCol: String,
                    ranks: DataFrame, floorMicros: Long): DataFrame =
    pages.select(col(idCol), col(hostCol).as("host"))
      .join(ranks, Seq("host"))
      .select(col(idCol), col("host"), col("rank_micros"),
        (col("rank_micros") >= floorMicros).as("keep"))

  /** Synchronous label propagation over the weighted host graph — the
    * classic near-linear community detector (Raghavan/Albert/Kumara 2007)
    * beside the authority scores of [[pageRankHosts]]/[[hitsHosts]]: host
    * mirrors/syndication rings surface as one community, the domain-level
    * grouping a curation pipeline uses to cap near-identical sites.
    *
    * Deterministic variant so the trajectory replays exactly in the
    * oracle's unrolled CTEs: the graph is made UNDIRECTED (both edge
    * directions summed), every node starts labeled with itself, and each
    * round every node SIMULTANEOUSLY adopts the neighbor label with the
    * highest total edge weight, ties broken by smallest label — no
    * randomized visit order, no floats.
    *
    * Scale posture: labels stay DISTRIBUTED — each round is one
    * edge⨝label equi-join plus one partial-aggregated groupBy plus a
    * per-node top-1 window (group count bounded by the node's degree);
    * per-round localCheckpoints pin constant plan depth like the PageRank
    * loop. Output: `(host, community)`.
    */
  def labelPropagate(edges: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, s"labelPropagate: need iters >= 1, got $iters")
    // bounded-graph driver loop (see pageRankHosts): the same synchronous
    // rounds — symmetrize + merge parallel edges, then each node adopts
    // the (weight desc, label asc) top vote of its neighbors' labels
    boundedHostEdges(edges).foreach { es =>
      val und = new scala.collection.mutable.HashMap[(String, String), Long]
      es.foreach { case (s, dt, w) =>
        und((s, dt)) = und.getOrElse((s, dt), 0L) + w
        und((dt, s)) = und.getOrElse((dt, s), 0L) + w
      }
      val hosts: Array[String] = und.keysIterator.map(_._1).toArray.distinct
      var labels = hosts.iterator.map(h => h -> h).toMap
      for (_ <- 1 to iters) {
        val votes = new scala.collection.mutable.HashMap[(String, String), Long]
        und.foreach { case ((a, b), w) =>
          val l = labels(b)
          votes((a, l)) = votes.getOrElse((a, l), 0L) + w
        }
        labels = votes.toSeq.groupBy(_._1._1).map { case (a, vs) =>
          a -> vs.map { case ((_, l), w) => (l, w) }
            .minBy { case (l, w) => (-w, l) }._1
        }
      }
      val spark = edges.sparkSession
      import spark.implicits._
      return broadcast(labels.toSeq.sortBy(_._1)
        .toDF("host", "community"))
    }
    // r17: the per-node top-1 vote is an aggregate, not a window: min over
    // struct(-weight, label) IS the (weight desc, label asc) adoption
    // rule, and unlike row_number it partial-aggregates map-side and never
    // sorts whole partitions.
    val und = edges
      .select(col("src_host").as("a"), col("dst_host").as("b"), col("weight"))
      .unionByName(edges
        .select(col("dst_host").as("a"), col("src_host").as("b"), col("weight")))
      .groupBy(col("a"), col("b")).agg(sum(col("weight")).as("w"))
      .localCheckpoint(eager = false)
    var labels = und.select(col("a").as("host")).distinct()
      .withColumn("label", col("host"))
      .localCheckpoint(eager = false)
    for (_ <- 1 to iters) {
      val votes = und
        .join(labels, col("b") === col("host"))
        .groupBy(col("a"), col("label")).agg(sum(col("w")).as("lw"))
      labels = votes
        .groupBy(col("a"))
        .agg(min(struct((-col("lw")).as("nw"), col("label").as("label"))).as("t"))
        .select(col("a").as("host"), col("t.label").as("label"))
        .localCheckpoint(eager = false)
    }
    labels.select(col("host"), col("label").as("community"))
  }

  /** Frontier scheduling: pick the next fetch batch from the discovered
    * candidate set under the two budgets every polite crawler runs with —
    * a PER-HOST cap (politeness: at most `hostCap` URLs per host per
    * batch, deterministic slot order within the host) and a GLOBAL batch
    * budget (top `budget` by `(priority desc, url)` — the host-authority
    * prior steering fetch capacity at the dst end of the link graph, the
    * curation_authority signal applied BEFORE the fetch instead of after).
    *
    * Scale posture: one shuffle on the host key for the politeness window
    * (candidate rows are `(url, host, priority)` — metadata-scale, never
    * bodies), then the global cut is TakeOrderedAndProject: per-partition
    * top-`budget` heaps merged at the driver, bounded by the batch size no
    * matter how wide the frontier is. Output: input columns + `host_slot`.
    */
  def frontier(candidates: DataFrame, urlCol: String, hostCol: String,
               priorityCol: String, hostCap: Int, budget: Int): DataFrame = {
    require(hostCap >= 1, s"frontier: need hostCap >= 1, got $hostCap")
    require(budget >= 1, s"frontier: need budget >= 1, got $budget")
    val slot = row_number().over(
      Window.partitionBy(col(hostCol)).orderBy(col(urlCol)))
    candidates
      .withColumn("host_slot", slot)
      .where(col("host_slot") <= hostCap)
      .orderBy(col(priorityCol).desc, col(urlCol))
      .limit(budget)
  }

  /** Crawl-generation diff: classify every page id across two crawl
    * snapshots as `added` (new generation only), `removed` (old only),
    * `changed` (both, content digest differs), or `unchanged` — the
    * planning input of an incremental pipeline (what dedup_incremental's
    * increment IS: the added ∪ changed set; the reference's artifact
    * freshness walk applies the same stale/fresh discipline to derived
    * artifacts, `artifacts/planning.py`).
    *
    * Scale posture: bodies never move — each side collapses to
    * (id, sha256 digest) in the scan projection, and the diff is one
    * full-outer hash join on the id. Output: `(id, status)`.
    */
  def corpusDiff(oldGen: DataFrame, newGen: DataFrame, idCol: String,
                 textCol: String): DataFrame = {
    val o = oldGen.select(col(idCol),
      sha2(col(textCol).cast("string"), 256).as("__od"))
    val n = newGen.select(col(idCol),
      sha2(col(textCol).cast("string"), 256).as("__nd"))
    o.join(n, Seq(idCol), "full_outer")
      .select(col(idCol),
        when(col("__od").isNull, lit("added"))
          .when(col("__nd").isNull, lit("removed"))
          .when(col("__od") === col("__nd"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }
}
