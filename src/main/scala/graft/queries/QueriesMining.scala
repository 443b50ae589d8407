package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Curation, Retrieval}
import Q._

/** Corpus-mining heads (SURVEY.md §2.7 additions): BM25 sparse retrieval,
  * winnowing fingerprint screening, word-entropy quality gating,
  * deterministic weighted sampling, and PPMI co-occurrence mining. Each
  * Spark plan shares its scoring-formula STRING with the DuckDB oracle
  * (`expr(...)` on one side, verbatim SQL on the other), so the IEEE
  * expression trees are identical by construction — the bigram_logprob
  * discipline applied to every float in the module.
  */
object QueriesMining {

  // --- shared constants ----------------------------------------------------

  // BM25: the query set is ID-CAPPED (doc_id < BmQCap), not modulus-sliced,
  // so it stays CONSTANT-size at every scale factor (the hard_negatives
  // lesson); k1/b are the classic Robertson defaults.
  private val BmQCap = 20L
  private val BmTopK = 5

  // Winnowing: 8-char grams, window 4 — guarantee: docs sharing any 11-char
  // run share a fingerprint. Reference set = the same id-capped slice; the
  // 0.5 containment flag splits the observed 0.30..1.0 spread (and is an
  // exactly-representable double, so the >= lands identically cross-engine).
  private val WinK = 8
  private val WinW = 4
  private val WinRefCap = 20L
  private val WinThreshold = 0.5

  // Entropy gate: thresholds sit inside the observed sf0.01 spread
  // (entropy 1.64..3.35 median 3.09; distinct ratio 0.28..1.0 median 0.46)
  // so both rules discriminate.
  private val EntMin = 3.0
  private val DistMin = 0.45

  // Weighted sampling: A-Res keys on the sha256 ratio, weight = n_chars.
  private val WSeed = 1302
  private val WSampleK = 100

  // PPMI co-occurrence: skip-window distances 1..2, min pair count, top-k.
  private val CoocMin = 5L
  private val CoocTopK = 50
  // Hard ceiling on the dictionary path's driver-collected vocabulary
  // (ids must fit 32 bits regardless; 2M (token, count) tuples ≈ low
  // hundreds of MB of driver heap, and the PackedSkipPairs token→id map
  // broadcasts at the same scale). Above it the string-key plan runs.
  private[graft] val CoocMaxVocab = 1 << 21

  // Percolation: alert when a doc matches >= PercFrac of a standing
  // query's idf mass. 0.875 (exactly representable, identical literal in
  // both engines) sits at the ~65th percentile of the observed matched-mass
  // spread on this shared-vocabulary corpus, so the gate discriminates.
  // Shared with the streaming twin.
  private[queries] val PercQCap = 20L
  private[queries] val PercFrac = 0.875

  // Count-min-sketch heavy hitters: H sha-keyed rows × W cells (the tiny
  // shared vocabulary collides in a 64-cell row on purpose — the
  // min-over-rows estimate and the exact-verify stage both exercise);
  // threshold = total tokens DIV CmsDiv — 29 puts the cut INSIDE the
  // observed count cluster (sf0.01: counts 26..964, τ≈936), so collided
  // terms clear the sketch gate and fail the verify: real false positives
  // flow through the report. Integer state end to end, so the sketch
  // hash-verifies like an exact query. Shared with the streaming twin
  // (same cells accumulated in complete mode, bounded groups).
  private[queries] val CmsH = 2
  private[queries] val CmsW = 64L
  private[queries] val CmsDiv = 29L

  // Zipf fit: least-squares slope of ln(freq) on ln(rank) over the
  // vocabulary table — the frequency-law health check (a natural corpus
  // slopes ~ -1; template/boilerplate corpora flatten, spam steepens).
  // All sums are exact decimals of round-6 terms; products round BEFORE
  // the sum (the quality_length_corr lesson).
  private val ZipfMinCnt = 2L

  /** Max ranks per ZipfLevelSums row: a count LEVEL with more ranks than
    * this splits into additive sub-rows so the per-rank fold parallelizes
    * across tasks (the cnt == ZipfMinCnt level is vocabulary-scale at
    * crawl size — unchunked it is ONE single-threaded hot row). 4096 ranks
    * × 3 decimal roundings ≈ sub-millisecond per row.
    */
  private val ZipfChunk = 4096L

  // Span corruption (the T5/UL2 pretraining example builder), made
  // BLOCK-DETERMINISTIC: corruption decisions are keyed per (doc, 8-token
  // block) — gate < 0.5, offset in [0,6), length in {1,2} — so spans can
  // never overlap, every decision is independent (embarrassingly parallel,
  // exactly what a distributed builder wants), and both engines replay the
  // same sha-ratio draws. Sentinels number spans left to right. The
  // builder and its constants live in operators/Curation (shared with the
  // `corrupt:` corpus stage); the oracle interpolates the same values.
  private val ScBlock = Curation.SpanBlock
  private val ScGateSeed = Curation.SpanGateSeed
  private val ScOffSeed = Curation.SpanOffSeed
  private val ScLenSeed = Curation.SpanLenSeed

  // Fill-in-the-middle: half the corpus (sha-gated) re-orders into
  // <PRE> prefix <SUF> suffix <MID> middle with per-doc sha-ratio split
  // points; the other half passes through verbatim.
  private[queries] val FimRate = 0.5

  // TextTiling-lite segmentation: candidate boundaries every TileB tokens;
  // cohesion = Jaccard of the adjacent TileB-token windows' distinct
  // vocabularies; a boundary fires where cohesion dips under TileThresh
  // (set inside the observed sf0.01 spread so the gate discriminates).
  private[graft] val TileB = 10
  private val TileThresh = 0.1

  // Caption-media alignment: the media id map pairs each caption with a
  // pseudo-random partner, except every 5th pair which is PLANTED aligned
  // (same vector, cosine 1); 0.5 splits planted (1.0) from near-orthogonal.
  private val AlignThresh = 0.5

  // --- shared formula strings (Spark expr(...) == oracle SQL) -------------

  /** One BM25 term contribution over columns (tf, df, dl, n_corpus, avgdl).
    * Decimal literals only ever meet doubles (exact promotion both
    * engines); rounded to the 1e-6 grid BEFORE the decimal sum.
    */
  private val Bm25TermExpr =
    "round(ln((CAST(n_corpus AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * " +
      "((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * " +
      "(0.25 + 0.75 * (CAST(dl AS DOUBLE) / avgdl)))), 6)"

  /** One Shannon term `p * ln p` over columns (tf, dl), round-6 grid. */
  private val EntropyTermExpr =
    "round((CAST(tf AS DOUBLE) / dl) * ln(CAST(tf AS DOUBLE) / dl), 6)"

  /** The A-Res sampling key over columns (u, weight): ln(u)/w, largest
    * keys win with probability proportional to the weight.
    */
  private val WKeyExpr = "round(ln(u) / CAST(weight AS DOUBLE), 6)"

  /** Clipped PMI over columns (c12, c1, c2, t_total, p_total). */
  private val PpmiExpr =
    "greatest(0.0, round(ln((CAST(c12 AS DOUBLE) / p_total) / " +
      "((CAST(c1 AS DOUBLE) / t_total) * (CAST(c2 AS DOUBLE) / t_total))), 6))"

  private val WordsCte =
    """words AS (
         SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
         FROM documents)"""

  /** The span-corruption frame — delegates to the shared
    * [[graft.operators.Curation.spanCorrupt]] builder (the sftPackFrame
    * discipline: ONE transformation for the at-rest path, the at-ingest
    * path, and the `corrupt:` corpus stage, so they cannot drift).
    */
  private[graft] def spanCorruptFrame(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    Curation.spanCorrupt(docs, "doc_id", "text")

  /** DuckDB twin of [[graft.operators.Curation.fimTransform]] as tail CTEs
    * + final SELECT over any (doc_id, text) relation — fim_-prefixed names
    * so it composes into the corpus-journey WITH chains (the
    * spanCorruptTailSql discipline). Shared by fim_transform, stream_fim,
    * and the `fim:` corpus stage twins: the same per-doc sha-ratio draws
    * (gate + two split points over the lowercased token array), the same
    * PSM re-ordering, verbatim pass-through for ungated docs.
    */
  private[queries] def fimTailSql(rel: String, rate: Double): String = {
    def r(seed: Int) =
      s"CAST(CAST('0x' || substr(sha256('$seed|' || " +
        s"CAST(doc_id AS VARCHAR)), 3, 14) AS BIGINT) " +
        s"& 9007199254740991 AS DOUBLE) / 9007199254740992.0"
    import graft.operators.Curation._
    s"""fim_w0 AS (
          SELECT doc_id, text,
                 regexp_split_to_array(lower(text), '\\s+') AS w
          FROM $rel),
        fim_wn AS (
          SELECT doc_id, text, w, CAST(len(w) AS BIGINT) AS n FROM fim_w0),
        fim_cuts AS (
          SELECT doc_id, text, w, n,
                 ${r(FimGateSeed)} < $rate AS gate,
                 CAST(floor(${r(FimSplitSeedA)} * CAST(n + 1 AS DOUBLE))
                   AS BIGINT) AS i
          FROM fim_wn),
        fim_cuts2 AS (
          SELECT *, i + CAST(floor(${r(FimSplitSeedB)}
                   * CAST(n - i + 1 AS DOUBLE)) AS BIGINT) AS j
          FROM fim_cuts)
        SELECT doc_id, gate AS fim_applied, n AS n_tokens,
               CASE WHEN gate THEN i ELSE n END AS pre_len,
               CASE WHEN gate THEN j - i ELSE 0 END AS mid_len,
               CASE WHEN gate THEN n - j ELSE 0 END AS suf_len,
               CASE WHEN gate THEN
                 -- array_to_string of an EMPTY slice is NULL in DuckDB
                 -- (Spark's array_join gives ''), hence the coalesces
                 '$FimPre ' || coalesce(
                     array_to_string(list_slice(w, 1, i), ' '), '')
                   || ' $FimSuf '
                   || coalesce(
                     array_to_string(list_slice(w, j + 1, n), ' '), '')
                   || ' $FimMid '
                   || coalesce(
                     array_to_string(list_slice(w, i + 1, j), ' '), '')
               ELSE text END AS output
        FROM fim_cuts2"""
  }

  private def fimTransformSql: String =
    s"""WITH ${fimTailSql("documents", FimRate)}"""

  /** DuckDB twin of [[graft.operators.Curation.spanCorrupt]] as tail CTEs
    * over any (doc_id, text) relation — sc_-prefixed names so it composes
    * into the corpus-journey WITH chains (the chunkTailSql discipline).
    * Shared by span_corrupt, stream_span_corrupt, and config_corpus_pretrain.
    */
  private[queries] def spanCorruptTailSql(rel: String): String = {
    def r(seed: Int) =
      s"CAST(CAST('0x' || substr(sha256('$seed|' || " +
        s"CAST(doc_id AS VARCHAR) || ':' || CAST(b AS VARCHAR)), 3, 14) " +
        s"AS BIGINT) & 9007199254740991 AS DOUBLE) / 9007199254740992.0"
    s"""sc_words AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
          FROM $rel),
        sc_wn AS (
          SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM sc_words),
        sc_blocks AS (
          SELECT doc_id, w, n,
                 unnest(generate_series(0,
                   CAST(CEIL(n / $ScBlock.0) AS BIGINT) - 1)) AS b
          FROM sc_wn),
        sc_cand AS (
          SELECT doc_id, w, n, b,
                 ${r(ScGateSeed)} < 0.5 AS corrupt,
                 CAST(b * $ScBlock
                   + floor(${r(ScOffSeed)} * ${ScBlock - 2}) AS BIGINT)
                   AS start,
                 CAST(floor(${r(ScLenSeed)} * 2) + 1 AS BIGINT) AS ln0
          FROM sc_blocks),
        sc_spans AS (
          SELECT doc_id, w, n, start, LEAST(ln0, n - start) AS ln,
                 row_number() OVER (PARTITION BY doc_id ORDER BY start) - 1
                   AS idx
          FROM sc_cand WHERE corrupt AND start < n),
        sc_pos AS (
          SELECT doc_id, w, n, unnest(generate_series(1, n)) AS p
          FROM sc_wn),
        sc_emit AS (
          SELECT p.doc_id, p.p,
                 CASE WHEN s.start IS NULL THEN p.w[p.p]
                      WHEN p.p - 1 = s.start THEN '<X' || s.idx || '>'
                      ELSE NULL END AS tok
          FROM sc_pos p LEFT JOIN sc_spans s
            ON s.doc_id = p.doc_id
           AND p.p - 1 >= s.start AND p.p - 1 < s.start + s.ln),
        sc_inp AS (
          SELECT doc_id, string_agg(tok, ' ' ORDER BY p) AS inputs
          FROM sc_emit WHERE tok IS NOT NULL GROUP BY doc_id),
        sc_tseg AS (
          SELECT doc_id, idx,
                 '<X' || idx || '> '
                   || array_to_string(w[start + 1 : start + ln], ' ') AS seg
          FROM sc_spans),
        sc_tgt AS (
          SELECT doc_id, string_agg(seg, ' ' ORDER BY idx) AS targets
          FROM sc_tseg GROUP BY doc_id),
        sc_stats AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                 CAST(sum(ln) AS BIGINT) AS n_corrupted
          FROM sc_spans GROUP BY doc_id)
        SELECT d.doc_id, d.n AS n_tokens,
               coalesce(st.n_spans, 0) AS n_spans,
               coalesce(st.n_corrupted, 0) AS n_corrupted,
               coalesce(i.inputs, array_to_string(d.w, ' ')) AS inputs,
               coalesce(t.targets, '') AS targets
        FROM sc_wn d
        LEFT JOIN sc_stats st USING (doc_id)
        LEFT JOIN sc_inp i USING (doc_id)
        LEFT JOIN sc_tgt t USING (doc_id)"""
  }

  /** Per-row TextTiling candidate scores — array<struct<pos, cohesion>>
    * over candidate boundaries every TileB tokens, through the codegen'd
    * [[graft.functions.TileScores]] loop (the interpreted HOF formulation
    * — per-position slice/distinct/intersect/union lambda trees — measured
    * ~11x at the sf1→sf10 step; `CurationTwin.tileScoresHof` in the specs
    * is the pinned reference). Spec-pinned on a synthetic hard topic shift.
    */
  private[graft] def tileScores(
      text: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val fn = graft.functions.TileScores.register(
      org.apache.spark.sql.SparkSession.active, TileB)
    call_function(fn, Text.tokens(text))
  }

  // ---------------------------------------------------------------- queries

  val queries: Map[String, QueryFn] = Map(

    // BM25 top-k sparse retrieval, percolator-shaped: term frequency is
    // ROW-LOCAL, so once the corpus statistics are fitted (per-query-term
    // idf over the |query vocab|-bounded df aggregate, avgdl — metadata-
    // scale driver state, the PercolateScores discipline), every doc scores
    // all standing queries in ONE codegen'd fold and the only shuffle left
    // is the bounded map-side top-k cut plus a 100-row broadcast join-back
    // for n_terms. (The relational postings plan — explode, (doc, term, tf)
    // aggregate, broadcast qterm/df joins, per-(query, doc) decimal sum —
    // measured 10.1x at the sf1→sf10 step: linear in shuffled postings
    // with zero amortization.)
    "bm25_topk" -> { (s, d) =>
      val docs = documents(s, d)
      val toks = Text.tokens(col("text"))
      val corpus = docs.where(col("doc_id") >= BmQCap)
        .select(col("doc_id"), toks.as("w"))
      val qdocs = docs.where(col("doc_id") < BmQCap)
        .select(col("doc_id").as("qid"), toks.as("w"))
      val st = corpus.agg(count(lit(1)).as("n_corpus"),
        (sum(size(col("w"))).cast("double") / count(lit(1))).as("avgdl"))
        .head()
      val nCorpus = st.getLong(0)
      val avgdl = st.getDouble(1)
      val qt = qdocs
        .select(col("qid"), explode(array_distinct(col("w"))).as("term"))
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val qidSeq = qt.map(_._1).distinct.sorted.toSeq
      val qIdx = qidSeq.zipWithIndex.toMap
      val qvocab = qt.map(_._2).distinct.toSeq
      import s.implicits._
      val dfMap = corpus
        .select(explode(array_distinct(col("w"))).as("term"))
        .join(broadcast(qvocab.toDF("term")), Seq("term"), "left_semi")
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val masks = scala.collection.mutable.LinkedHashMap[String, Long]()
      qt.foreach { case (qid, term) =>
        if (dfMap.contains(term))
          masks(term) = masks.getOrElse(term, 0L) | (1L << qIdx(qid))
      }
      val terms = masks.keys.toSeq
      // same doubles, same association order as the oracle's
      // ln((CAST(n AS DOUBLE) - df + 0.5) / (CAST(df AS DOUBLE) + 0.5))
      val idfs = terms.map { t =>
        val df = dfMap(t)
        math.log((nCorpus.toDouble - df + 0.5) / (df.toDouble + 0.5))
      }
      val fn = graft.functions.Bm25Scores.register(s, terms, idfs,
        terms.map(masks), qidSeq, avgdl)
      val scored = corpus
        .select(col("doc_id"), explode(call_function(fn, col("w"))).as("e"))
        .select(col("e.qid").as("qid"), col("doc_id"),
          col("e.score").as("score"), col("e.n_terms").as("n_terms"))
      val top = Curation.groupTopK(scored, "qid", "doc_id", col("score"),
          BmTopK)
        .select(col("qid").cast("long").as("qid"), col("doc_id"),
          col("rank").cast("int").as("rnk"))
      scored.join(broadcast(top), Seq("qid", "doc_id"))
        .select(col("qid"), col("doc_id"), round(col("score"), 6).as("score"),
          col("n_terms"), col("rnk"))
    },

    // Winnowing fingerprint screen (MOSS): every corpus doc reports how much
    // of its winnowed k-gram fingerprint set appears in the id-capped
    // reference slice — the shared-passage detector that survives
    // insertions/reorderings exact-hash dedup misses. Fingerprinting is
    // per-row HOF work; the reference set is DISTINCT fingerprints of a
    // constant-size slice (broadcast), so the only shuffle is the per-doc
    // overlap count.
    "winnow_fingerprint" -> { (s, d) =>
      val fps = Retrieval.winnowFingerprints(
        documents(s, d), "doc_id", "text", WinK, WinW)
      val ref = fps.where(col("doc_id") < WinRefCap)
        .select(explode(col("fps")).as("fp")).distinct()
      // ONE fingerprint pass over the corpus: explode with n_fp carried,
      // left-join the broadcast reference set, per-doc count of hits —
      // no join-back, so bodies are fingerprinted exactly once.
      fps.where(col("doc_id") >= WinRefCap)
        .select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"),
          explode(col("fps")).as("fp"))
        .join(broadcast(ref.withColumn("hit", lit(1))), Seq("fp"), "left")
        .groupBy(col("doc_id"), col("n_fp"))
        .agg(count(col("hit")).as("shared"))
        .withColumn("containment",
          expr("round(CAST(shared AS DOUBLE) / greatest(n_fp, 1), 6)"))
        .withColumn("near_match", col("containment") >= WinThreshold)
        .select(col("doc_id"), col("n_fp"), col("shared"),
          col("containment"), col("near_match"))
    },

    // Word-entropy quality gate: repetitive/templated docs score LOW
    // Shannon entropy over their word distribution and low distinct ratio —
    // the information-theoretic cousin of repetition_ratio. Two corpus-
    // bounded aggregates (per-doc term counts, then the entropy fold);
    // every float is a round-6 grid point before the decimal sum.
    "entropy_gate" -> { (s, d) =>
      // row-local fold (functions.EntropyStats): a doc's entropy is a pure
      // function of its own tokens, so the former relational plan's two
      // exchanges (term-count aggregate + doc window) buy nothing — scan →
      // fold → project, zero shuffles at every scale. Result-equal to the
      // relational twin (MiningSpec pins it) and the DuckDB oracle: the
      // fold sums the SAME round-6 term micros the decimal sum accumulates.
      graft.functions.EntropyStats.register(s)
      documents(s, d)
        .select(col("doc_id"),
          call_function("entropy_stats", Text.tokens(col("text"))).as("st"))
        .select(col("doc_id"), col("st.n_words").as("n_words"),
          col("st.n_distinct").as("n_distinct"), col("st.entropy").as("entropy"))
        .withColumn("distinct_ratio",
          expr("round(CAST(n_distinct AS DOUBLE) / n_words, 6)"))
        .withColumn("keep",
          col("entropy") >= EntMin && col("distinct_ratio") >= DistMin)
    },

    // Deterministic weighted sampling (Efraimidis-Spirakis A-Res on a
    // sha256 ratio): key = ln(u)/w, global top-k — inclusion probability
    // proportional to the doc's weight (chars here; any quality score in
    // production), reproducible across runs AND engines. The cut is
    // TakeOrdered (per-partition heaps, driver merge bounded by k).
    "sample_weighted" -> { (s, d) =>
      val keyed = documents(s, d)
        .select(col("doc_id"), col("n_chars").as("weight"),
          Curation.hashRatio(col("doc_id"), WSeed).as("u"))
        .withColumn("skey", expr(WKeyExpr))
      val order = Seq(col("skey").desc, col("doc_id").asc)
      keyed.orderBy(order: _*).limit(WSampleK)
        .withColumn("rnk",
          row_number().over(Window.orderBy(order: _*)).cast("int"))
        .select(col("doc_id"), col("weight"), col("skey"), col("rnk"))
    },

    // Standing-query percolation (the Elasticsearch-percolator shape): the
    // id-capped query slice becomes a fitted idf weight table; every corpus
    // doc routes to the queries whose matched idf mass clears the fraction.
    // Batch form: docs explode DISTINCT terms (postings-free), join the
    // broadcast fitted table, ONE partial-aggregated decimal sum per
    // (doc, query), alert gate vs the broadcast per-query mass.
    "percolate_route" -> { (s, d) =>
      Retrieval.percolateBatch(documents(s, d), PercQCap, PercFrac)
    },

    // Count-min-sketch heavy hitters: the h×w integer sketch builds in ONE
    // map-side-merged pass (bounded state at any corpus size — the
    // mergeable-sketch posture), distinct terms probe the broadcast cells,
    // and only the candidates that clear total/CmsDiv pay an exact count
    // (semi-join) — the full-vocabulary aggregate never runs. Sketch false
    // positives surface as heavy=false rows (the verify stage's keep).
    "heavy_hitters" -> { (s, d) =>
      import graft.operators.Sketches
      val toks = documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("tok"))
      val cells = Sketches.cmsCells(toks, CmsH, CmsW)
        .localCheckpoint() // ≤ h×w rows; probed by row and by the total
      Sketches.cmsHeavyReport(toks, cells, CmsH, CmsW, CmsDiv)
    },

    // N-gram diversity per source (the Self-BLEU-style collapse detector:
    // synthetic or template-flooded sources repeat trigram windows, so
    // distinct/total falls): one (source, gram)-keyed exact two-level
    // aggregate — map-side partials, gram-vocabulary-bounded shuffle.
    "ngram_diversity" -> { (s, d) =>
      documents(s, d).select(col("source"),
          explode(Text.shingles(Text.tokens(col("text")), 3)).as("gram"))
        .groupBy(col("source"), col("gram")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("source"))
        .agg(count(lit(1)).cast("long").as("distinct_trigrams"),
          sum(col("cnt")).cast("long").as("n_trigrams"))
        .select(col("source"), col("n_trigrams"), col("distinct_trigrams"),
          round(col("distinct_trigrams").cast("double") / col("n_trigrams"),
            6).as("diversity"))
    },

    // Zipf's-law fit over the vocabulary: one vocab-bounded aggregate, a
    // level-table rank walk, and a one-row least-squares reduction — the
    // corpus-health metric that flags template-flooded or spam-steepened
    // corpora before training does.
    //
    // Ranks come from the LEVEL table (distinct count values — grid-
    // bounded), never a total order over tokens: the fit's sums are
    // invariant to which tied token receives which rank within a count
    // level (Σ f(rank) over base+1..base+k is assignment-independent), so
    // base = strictly-better cumsum over the level table (the skyline /
    // quality_rrf discipline) and each level's rank-run sums come from the
    // codegen'd ZipfLevelSums fold — no single-partition window over an
    // unbounded-in-principle vocabulary frame anywhere, and the token
    // strings never leave their aggregate.
    "zipf_fit" -> { (s, d) =>
      val freq = documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= ZipfMinCnt)
      val levels = freq.groupBy(col("cnt")).agg(count(lit(1)).as("k"))
      val wLvl = Window.orderBy(col("cnt").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val based = levels.withColumn("base", sum(col("k")).over(wLvl) - col("k"))
      // chunk wide levels into (base, k <= ZipfChunk) sub-rows BEFORE the
      // fold (the r13-advice skew fix): the low-count levels concentrate a
      // vocabulary-scale k into ONE row — at crawl scale the cnt == 2
      // level alone is millions of ranks, a single-threaded hot row no
      // task boundary can split. The rank-run sums are EXACTLY additive
      // over rank sub-ranges (integer micros, Decimal(30,6) partials), so
      // chunking changes the task layout and nothing else — every level
      // with k <= ZipfChunk stays one row, the gate result is bit-equal.
      val chunked = based
        .select(col("cnt"),
          explode(sequence(lit(0L), expr(s"(k - 1) div $ZipfChunk")))
            .as("ci"),
          col("base"), col("k"))
        .select(
          (col("base") + col("ci") * ZipfChunk).as("base"),
          least(lit(ZipfChunk), col("k") - col("ci") * ZipfChunk).as("k"),
          col("cnt"))
      val sums = chunked.select(
        org.apache.spark.sql.GraftColumnBridge.column(
          graft.functions.ZipfLevelSums(
            org.apache.spark.sql.GraftColumnBridge.expression(col("base")),
            org.apache.spark.sql.GraftColumnBridge.expression(col("k")),
            org.apache.spark.sql.GraftColumnBridge.expression(col("cnt"))))
          .as("s"))
      sums.agg(sum(col("s.n")).cast("long").as("n_vocab"),
          sum(col("s.sx")).cast("double").as("sx"),
          sum(col("s.sy")).cast("double").as("sy"),
          sum(col("s.sxy")).cast("double").as("sxy"),
          sum(col("s.sxx")).cast("double").as("sxx"))
        .select(col("n_vocab"),
          round((col("n_vocab") * col("sxy") - col("sx") * col("sy")) /
            (col("n_vocab") * col("sxx") - col("sx") * col("sx")), 6)
            .as("slope"),
          round((col("sy") - ((col("n_vocab") * col("sxy") -
            col("sx") * col("sy")) /
            (col("n_vocab") * col("sxx") - col("sx") * col("sx"))) *
            col("sx")) / col("n_vocab"), 6).as("intercept"))
    },

    // Fill-in-the-middle (the code-pretraining PSM recipe, Bavarian et al.
    // 2022 — public): sha-gated docs re-order into <PRE> prefix <SUF>
    // suffix <MID> middle with two per-doc sha-ratio split points; ungated
    // docs pass through verbatim. Pure per-row expressions, three sha
    // draws per DOC — zero shuffle, transform at scan speed.
    "fim_transform" -> { (s, d) =>
      Curation.fimTransform(documents(s, d), "doc_id", "text", FimRate)
    },

    // T5-style span corruption: one per-row pass builds (inputs, targets)
    // pretraining pairs — block-keyed sha-ratio draws pick the spans
    // (non-overlapping BY CONSTRUCTION, so no sequential scan state), an
    // aggregate fold splices sentinel tokens into the input, and a
    // two-arg transform numbers the target spans. Zero shuffle.
    "span_corrupt" -> { (s, d) => spanCorruptFrame(documents(s, d)) },

    // TextTiling-lite topic segmentation (Hearst 1997, the lexical-cohesion
    // form): candidate boundaries every TileB tokens score the Jaccard of
    // the adjacent windows' vocabularies, and low-cohesion valleys mark
    // topic shifts — the semantic chunker that beats fixed windows for
    // RAG/chunk curation. Pure per-row HOF work over the token array:
    // zero shuffle, embarrassingly parallel.
    "text_tiling" -> { (s, d) =>
      documents(s, d)
        .select(col("doc_id"), explode(tileScores(col("text"))).as("c"))
        .select(col("doc_id"), col("c.pos").as("pos"),
          col("c.cohesion").as("cohesion"),
          (col("c.cohesion") < TileThresh).as("is_boundary"))
    },

    // 2D Pareto front over (quality, length) — the skyline operator of
    // curation: a doc survives iff no other doc dominates it on both axes.
    // The front computes on the GRID-BOUNDED distinct-quality level table
    // (group-max per quality, then a running max over strictly-higher
    // quality levels) and broadcasts back — the corpus itself never sorts.
    "curation_skyline" -> { (s, d) =>
      val scored = documents(s, d).select(col("doc_id"),
        Text.qualityScore(col("text")).as("quality"),
        Text.tokenCountWs(col("text")).cast("long").as("n_tokens"))
      val glevel = scored.groupBy(col("quality"))
        .agg(max(col("n_tokens")).as("gmax"))
      val wcum = Window.orderBy(col("quality").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val fronts = glevel.withColumn("m1", max(col("gmax")).over(wcum))
      scored.join(broadcast(fronts), Seq("quality"))
        .select(col("doc_id"), col("quality"), col("n_tokens"),
          ((col("m1").isNull || col("m1") < col("n_tokens")) &&
            col("n_tokens") === col("gmax")).as("on_front"))
    },

    // Caption-media pair alignment (the CLIP-filter mechanics of LAION-style
    // multimodal curation, on deterministic stand-in embeddings): each
    // caption joins its paired media embedding through two id-keyed
    // equi-joins and gates on cosine — planted aligned pairs (same vector)
    // pass, pseudo-random partners sit near zero. Bodies never move; the
    // cosine is the shared sequential fold.
    "multimodal_pair_align" -> { (s, d) =>
      import graft.operators.Similarity
      val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
      val n = e.count() // metadata-scale plan-build count (annIvf precedent)
      val pairs = e.select(col("vec_id"),
        when(pmod(col("vec_id"), lit(5)) === 0, col("vec_id"))
          .otherwise(pmod(col("vec_id") * 7 + 3, lit(n))).as("media_id"))
      val med = e.select(col("vec_id").as("media_id"),
        col("embedding").as("mv"))
      pairs.join(e, Seq("vec_id")).withColumnRenamed("embedding", "cv")
        .join(med, Seq("media_id"))
        .withColumn("cos", round(Similarity.cosine(
          Similarity.toDouble(col("cv")), Similarity.toDouble(col("mv"))), 6))
        .select(col("vec_id"), col("media_id"), col("cos"),
          (col("cos") >= AlignThresh).as("aligned"))
    },

    // PPMI co-occurrence mining: skip-window word pairs (distances 1-2,
    // unordered) scored by clipped pointwise mutual information — the
    // association table behind phrase detection and embedding pre-training.
    // Pair space is vocabulary-bounded²  but only OBSERVED pairs
    // materialize; the corpus-scale pair aggregate runs on DICTIONARY-
    // ENCODED 8-byte packed-long keys while the corpus posture proves the
    // vocabulary bounded, with the string-keyed plan as the unbounded-
    // corpus fallback; top-k is TakeOrdered.
    "cooccurrence_ppmi" -> { (s, d) =>
      val docs = documents(s, d)
      val toks = Text.tokens(col("text"))
      // snapshot the token arrays ONCE (the line_dedup multi-consumer
      // lesson): the pair stream, the unigram table, and t_total all read
      // them, and without the checkpoint each consumer re-ran the
      // tokenizer over the corpus
      val words = docs.select(col("doc_id"), toks.as("w"))
        .localCheckpoint(eager = false)
      // the dictionary path driver-collects the vocabulary, so it is
      // gated on the SAME corpus-scan signal as VocabGuard's broadcast
      // ceiling (unknown estimates count as unbounded — a driver collect
      // is less forgiving than a hint AQE can re-decide)
      if (graft.pipeline.VocabGuard.corpusBounded(docs))
        coocPpmiPacked(s, words)
      else coocPpmiStringKey(words)
    }
  )

  /** The shared cooccurrence_ppmi tail: CoocMin-filtered scored pairs →
    * clipped PMI → deterministic top-k (TakeOrderedAndProject, never a
    * global sort). `scored` must carry (w1, w2, c12, c1, c2, t_total,
    * p_total).
    */
  private def coocPpmiTail(scored: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val ranked = scored.withColumn("ppmi", expr(PpmiExpr))
    val order = Seq(col("ppmi").desc, col("w1").asc, col("w2").asc)
    ranked.orderBy(order: _*).limit(CoocTopK)
      .withColumn("rnk",
        row_number().over(Window.orderBy(order: _*)).cast("int"))
      .select(col("w1"), col("w2"), col("c12"), col("ppmi"), col("rnk"))
  }

  /** Dictionary-encoded pair aggregate (r14 verdict ask #1, the
    * line_dedup lesson generalized): ONE vocabulary aggregate collects to
    * the driver (vocab-bounded, gated by the caller), tokens map to dense
    * ints ordered (count desc, token asc), and the corpus-scale pair
    * stream emits `min_id << 32 | max_id` packed longs from the codegen'd
    * [[graft.functions.PackedSkipPairs]] loop — an 8-byte fixed-width
    * binary-comparable key for the unsafe-map aggregate instead of a ~15+
    * byte concatenated string per pair. The id → (token, count)
    * dictionary joins back (broadcast local relation) only onto the
    * CoocMin survivors, where the lexicographic (w1, w2) orientation the
    * oracle emits is re-derived; counts are orientation-insensitive
    * either way, so the result is hash-identical to the string-keyed
    * plan (MiningSpec pins the equality).
    */
  private[graft] def coocPpmiPacked(s: org.apache.spark.sql.SparkSession,
                                      words: org.apache.spark.sql.DataFrame,
                                      maxVocab: Int = CoocMaxVocab)
      : org.apache.spark.sql.DataFrame = {
    import s.implicits._
    // DIRECT cap on the driver collect (r15 advice): the caller's
    // VocabGuard.corpusBounded gate is a corpus-BYTES proxy, but the
    // collected frame is the distinct-token vocabulary, which under
    // crawl noise (Heaps'-law caveat) is only loosely bounded by corpus
    // bytes. Collect at most maxVocab+1 rows (CollectLimit — the full
    // vocabulary never ships to the driver) and fall back to the
    // collect-free string-key plan when the cap trips; results are
    // hash-identical either way (MiningSpec pins the equality).
    val capped = graft.operators.DriverGate.take(
        words.select(explode(col("w")).as("tok"))
          .groupBy(col("tok")).agg(count(lit(1)).as("c")),
        maxVocab.toLong) match {
      case Some(rows) => rows
      case None => return coocPpmiStringKey(words)
    }
    val uniRows = capped.map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (t, c) => (-c, t) }
    val fn = graft.functions.PackedSkipPairs
      .register(s, uniRows.map(_._1).toIndexedSeq)
    val dict = broadcast(uniRows.toIndexedSeq.zipWithIndex
      .map { case ((t, c), i) => (i.toLong, t, c) }
      .toDF("id", "tok", "c"))
    val c12 = words.select(explode(call_function(fn, col("w"))).as("key"))
      .groupBy(col("key")).agg(count(lit(1)).as("c12"))
    // p_total = Σ c12 over the already-aggregated pair counts — the raw
    // pair stream is never exploded a second time; t_total needs only a
    // scan + array size, no explode.
    val totals = words
      .agg(sum(size(col("w"))).as("t_total"))
      .crossJoin(c12.agg(sum(col("c12")).as("p_total")))
    val dec = c12.where(col("c12") >= CoocMin)
      .withColumn("id1", shiftright(col("key"), 32))
      .withColumn("id2", col("key").bitwiseAND(lit(0xFFFFFFFFL)))
      .join(dict.select(col("id").as("id1"), col("tok").as("ta"),
        col("c").as("ca")), Seq("id1"))
      .join(dict.select(col("id").as("id2"), col("tok").as("tb"),
        col("c").as("cb")), Seq("id2"))
    val lexFirst = col("ta") <= col("tb")
    coocPpmiTail(dec.select(
        when(lexFirst, col("ta")).otherwise(col("tb")).as("w1"),
        when(lexFirst, col("tb")).otherwise(col("ta")).as("w2"),
        col("c12"),
        when(lexFirst, col("ca")).otherwise(col("cb")).as("c1"),
        when(lexFirst, col("cb")).otherwise(col("ca")).as("c2"))
      .crossJoin(broadcast(totals)))
  }

  /** The string-keyed plan — the unbounded-corpus fallback (no driver
    * vocabulary materialization anywhere) and the spec-pinned reference
    * the packed path must match.
    *
    * Pair keys are ONE concatenated string, measured and kept over two
    * alternatives that avoid the per-token concat allocation — a struct
    * key and two flat string key columns were both ~2.2x SLOWER at sf100
    * (155 s / 160 s vs ~70 s), because a single binary-comparable key is
    * what the aggregate's unsafe fast hash map is best at. Both skip
    * distances ride ONE Generate (array concat of the two zip_withs, each
    * emptied under its length guard) instead of a two-scan union — the
    * checkpointed token stream explodes once.
    */
  private[graft] def coocPpmiStringKey(words: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def pairsAt(dist: Int) = when(size(col("w")) >= dist + 1,
      zip_with(
        slice(col("w"), lit(1), size(col("w")) - dist),
        slice(col("w"), lit(1 + dist), size(col("w")) - dist),
        (a, b) => when(a <= b, concat(a, lit(" "), b))
          .otherwise(concat(b, lit(" "), a))))
      .otherwise(array().cast("array<string>"))
    val pairs = words
      .select(explode(concat(pairsAt(1), pairsAt(2))).as("pair"))
    val c12 = pairs.groupBy(col("pair")).agg(count(lit(1)).as("c12"))
      .select(split(col("pair"), " ").getItem(0).as("w1"),
        split(col("pair"), " ").getItem(1).as("w2"), col("c12"))
    val uni = words.select(explode(col("w")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
    val totals = words
      .agg(sum(size(col("w"))).as("t_total"))
      .crossJoin(c12.agg(sum(col("c12")).as("p_total")))
    // the unigram joins keep plain broadcast hints here: this branch IS
    // the over-ceiling posture, where the hint would be dropped — rely on
    // the shuffled join + AQE instead of forcing vocab into the driver
    coocPpmiTail(c12.where(col("c12") >= CoocMin)
      .join(uni.withColumnRenamed("tok", "w1")
        .withColumnRenamed("c", "c1"), Seq("w1"))
      .join(uni.withColumnRenamed("tok", "w2")
        .withColumnRenamed("c", "c2"), Seq("w2"))
      .crossJoin(broadcast(totals)))
  }

  // ------------------------------------------------------------ oracle SQL

  /** Shared by percolate_route and stream_percolate (the streaming twin
    * emits the same alert rows): fitted idf weights, per-query mass, and
    * the matched-mass gate — every float an exact-decimal sum of 1e-6-grid
    * idfs.
    */
  private[queries] def percolateSql: String =
    s"""WITH corpus AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
          FROM documents WHERE doc_id >= $PercQCap),
        qd AS (
          SELECT doc_id AS qid, regexp_split_to_array(lower(text), '\\s+') AS w
          FROM documents WHERE doc_id < $PercQCap),
        dfreq AS (
          SELECT term, CAST(count(*) AS BIGINT) AS df
          FROM (SELECT doc_id, unnest(list_distinct(w)) AS term FROM corpus)
          GROUP BY term),
        stats AS (SELECT CAST(count(*) AS BIGINT) AS n_corpus FROM corpus),
        qterms AS (
          SELECT DISTINCT qid, term
          FROM (SELECT qid, unnest(list_distinct(w)) AS term FROM qd)),
        qidf AS (
          SELECT qid, term, ${graft.operators.Retrieval.PercIdfExpr} AS idf
          FROM qterms JOIN dfreq USING (term) CROSS JOIN stats),
        qtot AS (
          SELECT qid, CAST(SUM(CAST(idf AS DECIMAL(30,6))) AS DOUBLE)
                   AS qtotal
          FROM qidf GROUP BY qid),
        hits AS (
          SELECT c.doc_id, q.qid,
                 CAST(SUM(CAST(q.idf AS DECIMAL(30,6))) AS DOUBLE) AS score
          FROM (SELECT doc_id, unnest(list_distinct(w)) AS term FROM corpus) c
          JOIN qidf q USING (term)
          GROUP BY c.doc_id, q.qid)
        SELECT h.doc_id, h.qid, ROUND(h.score, 6) AS score
        FROM hits h JOIN qtot t USING (qid)
        WHERE h.score >= $PercFrac * t.qtotal"""

  /** Shared by heavy_hitters and stream_heavy_hitters (the stream drains
    * the same integer cells): sketch build, min-over-rows probe, candidate
    * gate, exact verify on candidates only.
    */
  private[queries] def heavyHittersSql: String = {
    import graft.operators.Sketches.cmsPosSql
    val unions = (0 until CmsH).map(h =>
      s"SELECT $h AS h, ${cmsPosSql(h, "tok", CmsW)} AS pos FROM toks")
      .mkString("\n            UNION ALL\n            ")
    val joins = (0 until CmsH).map(h =>
      s"JOIN cells c$h ON c$h.h = $h AND c$h.pos = ${cmsPosSql(h, "d.tok", CmsW)}")
      .mkString("\n          ")
    val estExpr = (0 until CmsH).map(h => s"c$h.cnt").mkString("LEAST(", ", ", ")")
    s"""WITH toks AS (
          SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
          FROM documents),
        cells AS (
          SELECT h, pos, CAST(count(*) AS BIGINT) AS cnt
          FROM ($unions)
          GROUP BY h, pos),
        tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM cells WHERE h = 0),
        dist AS (SELECT DISTINCT tok FROM toks),
        probed AS (
          SELECT d.tok, $estExpr AS est
          FROM dist d
          $joins),
        cand AS (SELECT tok, est, total FROM probed, tot
                 WHERE est >= total // $CmsDiv),
        exact AS (
          SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks
          WHERE tok IN (SELECT tok FROM cand) GROUP BY tok)
        SELECT c.tok, c.est, e.cnt, e.cnt >= c.total // $CmsDiv AS heavy
        FROM cand c JOIN exact e USING (tok)"""
  }

  private val SkylineSrc =
    """(SELECT doc_id, text,
         CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens
       FROM documents) dsrc"""

  val oracleSql: Map[String, String] = Map(

    "fim_transform" -> fimTransformSql,

    "percolate_route" -> percolateSql,

    "heavy_hitters" -> heavyHittersSql,

    "span_corrupt" -> s"WITH ${spanCorruptTailSql("documents")}",

    "text_tiling" ->
      s"""WITH $WordsCte,
          wn AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS n FROM words),
          pos AS (
            SELECT doc_id, w, n,
                   unnest(generate_series(1, GREATEST((n - 1) // $TileB, 0)))
                     * $TileB AS p
            FROM wn WHERE n > $TileB),
          scored AS (
            SELECT doc_id, CAST(p AS BIGINT) AS pos,
                   ROUND(CAST(len(list_intersect(
                       list_distinct(w[p - $TileB + 1 : p]),
                       list_distinct(w[p + 1 : p + $TileB]))) AS DOUBLE)
                     / CAST(len(list_distinct(list_concat(
                       list_distinct(w[p - $TileB + 1 : p]),
                       list_distinct(w[p + 1 : p + $TileB])))) AS DOUBLE), 6)
                     AS cohesion
            FROM pos)
          SELECT doc_id, pos, cohesion,
                 cohesion < $TileThresh AS is_boundary
          FROM scored""",

    "ngram_diversity" ->
      """WITH words AS (
           SELECT source, regexp_split_to_array(lower(text), '\s+') AS w
           FROM documents),
         g AS (
           SELECT source,
                  unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          FOR i IN generate_series(1, len(w) - 2)]) AS gram
           FROM words WHERE len(w) >= 3)
         SELECT source, CAST(count(*) AS BIGINT) AS n_trigrams,
                CAST(count(DISTINCT gram) AS BIGINT) AS distinct_trigrams,
                ROUND(CAST(count(DISTINCT gram) AS DOUBLE) / count(*), 6)
                  AS diversity
         FROM g GROUP BY source""",

    "zipf_fit" ->
      s"""WITH toks AS (
            SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
            FROM documents),
          freq AS (
            SELECT tok, CAST(count(*) AS BIGINT) AS cnt FROM toks
            GROUP BY tok HAVING count(*) >= $ZipfMinCnt),
          r AS (
            SELECT cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC)
                     AS rnk
            FROM freq),
          xy AS (
            SELECT ROUND(ln(CAST(rnk AS DOUBLE)), 6) AS x,
                   ROUND(ln(CAST(cnt AS DOUBLE)), 6) AS y
            FROM r),
          x2 AS (SELECT x, y, ROUND(x * y, 6) AS xy, ROUND(x * x, 6) AS xx
                 FROM xy),
          s AS (
            SELECT CAST(count(*) AS BIGINT) AS n_vocab,
                   ${sumDecSql("x", 6)} AS sx, ${sumDecSql("y", 6)} AS sy,
                   ${sumDecSql("xy", 6)} AS sxy, ${sumDecSql("xx", 6)} AS sxx
            FROM x2)
          SELECT n_vocab,
                 ROUND((n_vocab * sxy - sx * sy)
                   / (n_vocab * sxx - sx * sx), 6) AS slope,
                 ROUND((sy - ((n_vocab * sxy - sx * sy)
                   / (n_vocab * sxx - sx * sx)) * sx) / n_vocab, 6)
                   AS intercept
          FROM s""",

    "curation_skyline" ->
      s"""WITH s AS (${QueriesLlm.qualityScoreSql(SkylineSrc, Seq("n_tokens"))}),
          g AS (SELECT quality, max(n_tokens) AS gmax FROM s GROUP BY quality),
          c AS (SELECT quality, gmax,
                       max(gmax) OVER (ORDER BY quality DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         AS m1
                FROM g)
          SELECT s.doc_id, s.quality, s.n_tokens,
                 ((c.m1 IS NULL OR c.m1 < s.n_tokens)
                   AND s.n_tokens = c.gmax) AS on_front
          FROM s JOIN c USING (quality)""",

    "multimodal_pair_align" ->
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
          nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
          p AS (SELECT vec_id,
                       CASE WHEN vec_id % 5 = 0 THEN vec_id
                            ELSE (vec_id * 7 + 3) % nn.n END AS media_id
                FROM e, nn),
          j AS (SELECT p.vec_id, p.media_id, c.embedding AS cv,
                       m.embedding AS mv
                FROM p JOIN e c ON c.vec_id = p.vec_id
                JOIN e m ON m.vec_id = p.media_id)
          SELECT vec_id, media_id,
                 ROUND(${QueriesLlm.cosSql("cv", "mv")}, 6) AS cos,
                 ROUND(${QueriesLlm.cosSql("cv", "mv")}, 6) >= $AlignThresh
                   AS aligned
          FROM j""",

    "bm25_topk" ->
      s"""WITH $WordsCte,
          corpus AS (SELECT doc_id, w FROM words WHERE doc_id >= $BmQCap),
          qd AS (SELECT doc_id AS qid, w FROM words WHERE doc_id < $BmQCap),
          tf AS (
            SELECT doc_id, dl, term, CAST(count(*) AS BIGINT) AS tf
            FROM (SELECT doc_id, CAST(len(w) AS BIGINT) AS dl,
                         unnest(w) AS term
                  FROM corpus)
            GROUP BY doc_id, dl, term),
          dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                    FROM tf GROUP BY term),
          stats AS (
            SELECT CAST(count(*) AS BIGINT) AS n_corpus,
                   CAST(sum(len(w)) AS DOUBLE) / count(*) AS avgdl
            FROM corpus),
          qterms AS (
            SELECT DISTINCT qid, term
            FROM (SELECT qid, unnest(w) AS term FROM qd)),
          contribs AS (
            SELECT q.qid, t.doc_id, $Bm25TermExpr AS contrib
            FROM tf t JOIN qterms q USING (term)
            JOIN dfreq USING (term), stats),
          agg AS (
            SELECT qid, doc_id,
                   CAST(SUM(CAST(contrib AS DECIMAL(30,6))) AS DOUBLE)
                     AS score,
                   CAST(count(*) AS BIGINT) AS n_terms
            FROM contribs GROUP BY qid, doc_id),
          ranked AS (
            SELECT qid, doc_id, score, n_terms,
                   CAST(row_number() OVER (PARTITION BY qid
                          ORDER BY score DESC, doc_id) AS INT) AS rnk
            FROM agg)
          SELECT qid, doc_id, ROUND(score, 6) AS score, n_terms, rnk
          FROM ranked WHERE rnk <= $BmTopK""",

    "winnow_fingerprint" ->
      s"""WITH t AS (SELECT doc_id, lower(text) AS t FROM documents),
          g AS (SELECT doc_id, ${Retrieval.gramHashesSql("t", WinK)} AS gh
                FROM t),
          f AS (SELECT doc_id,
                       ${Retrieval.winnowFingerprintsSql("t", WinK, WinW)}
                         AS fps
                FROM g),
          ref AS (SELECT DISTINCT fp
                  FROM (SELECT unnest(fps) AS fp FROM f
                        WHERE doc_id < $WinRefCap)),
          corpus AS (SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp, fps
                     FROM f WHERE doc_id >= $WinRefCap),
          e AS (SELECT doc_id, n_fp, unnest(fps) AS fp FROM corpus),
          r AS (SELECT e.doc_id, e.n_fp,
                       CAST(count(ref.fp) AS BIGINT) AS shared
                FROM e LEFT JOIN ref ON ref.fp = e.fp
                GROUP BY e.doc_id, e.n_fp)
          SELECT doc_id, n_fp, shared,
                 round(CAST(shared AS DOUBLE) / greatest(n_fp, 1), 6)
                   AS containment,
                 round(CAST(shared AS DOUBLE) / greatest(n_fp, 1), 6)
                   >= $WinThreshold AS near_match
          FROM r""",

    "entropy_gate" ->
      s"""WITH toks AS (
            SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+'))
                     AS tok
            FROM documents),
          tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
                 FROM toks GROUP BY doc_id, tok),
          agg AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl,
                         CAST(count(*) AS BIGINT) AS n_distinct
                  FROM tf GROUP BY doc_id),
          terms AS (
            SELECT tf.doc_id, a.dl, a.n_distinct, $EntropyTermExpr AS term
            FROM tf JOIN agg a USING (doc_id)),
          h AS (
            SELECT doc_id, dl, n_distinct,
                   -(CAST(SUM(CAST(term AS DECIMAL(30,6))) AS DOUBLE))
                     AS entropy
            FROM terms GROUP BY doc_id, dl, n_distinct)
          SELECT doc_id, dl AS n_words, n_distinct, entropy,
                 round(CAST(n_distinct AS DOUBLE) / dl, 6) AS distinct_ratio,
                 (entropy >= CAST($EntMin AS DOUBLE) AND
                  round(CAST(n_distinct AS DOUBLE) / dl, 6)
                    >= CAST($DistMin AS DOUBLE)) AS keep
          FROM h""",

    "sample_weighted" ->
      s"""WITH keyed AS (
            SELECT doc_id, n_chars AS weight,
                   ${QueriesCuration.ratioSql("doc_id", WSeed)} AS u
            FROM documents),
          s AS (SELECT doc_id, weight, $WKeyExpr AS skey FROM keyed),
          r AS (
            SELECT doc_id, weight, skey,
                   CAST(row_number() OVER (ORDER BY skey DESC, doc_id)
                     AS INT) AS rnk
            FROM s)
          SELECT doc_id, weight, skey, rnk FROM r WHERE rnk <= $WSampleK""",

    "cooccurrence_ppmi" ->
      s"""WITH $WordsCte,
          p1 AS (
            SELECT unnest([CASE WHEN w[i] <= w[i+1]
                             THEN w[i] || ' ' || w[i+1]
                             ELSE w[i+1] || ' ' || w[i] END
                           for i in generate_series(1, len(w) - 1)]) AS pair
            FROM words),
          p2 AS (
            SELECT unnest([CASE WHEN w[i] <= w[i+2]
                             THEN w[i] || ' ' || w[i+2]
                             ELSE w[i+2] || ' ' || w[i] END
                           for i in generate_series(1, len(w) - 2)]) AS pair
            FROM words),
          pairs AS (SELECT pair FROM p1 UNION ALL SELECT pair FROM p2),
          pc AS (SELECT pair, CAST(count(*) AS BIGINT) AS c12
                 FROM pairs GROUP BY pair),
          uni AS (SELECT tok, CAST(count(*) AS BIGINT) AS c
                  FROM (SELECT unnest(w) AS tok FROM words) GROUP BY tok),
          totals AS (
            SELECT (SELECT CAST(sum(len(w)) AS BIGINT) FROM words)
                     AS t_total,
                   (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS p_total),
          scored AS (
            SELECT string_split(pair, ' ')[1] AS w1,
                   string_split(pair, ' ')[2] AS w2,
                   c12, u1.c AS c1, u2.c AS c2, t_total, p_total
            FROM pc
            JOIN uni u1 ON u1.tok = string_split(pair, ' ')[1]
            JOIN uni u2 ON u2.tok = string_split(pair, ' ')[2]
            CROSS JOIN totals
            WHERE c12 >= $CoocMin),
          sc AS (SELECT w1, w2, c12, $PpmiExpr AS ppmi FROM scored),
          ranked AS (
            SELECT w1, w2, c12, ppmi,
                   CAST(row_number() OVER (ORDER BY ppmi DESC, w1, w2)
                     AS INT) AS rnk
            FROM sc)
          SELECT w1, w2, c12, ppmi, rnk FROM ranked WHERE rnk <= $CoocTopK"""
  )
}
