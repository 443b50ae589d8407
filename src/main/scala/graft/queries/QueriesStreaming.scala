package graft.queries

import java.util.concurrent.atomic.AtomicInteger

import graft.streaming.Streaming
import Q._

/** §2.8 Structured Streaming equivalence: the streamed hourly rollup over the
  * finite events input must equal the batch oracle exactly.
  */
object QueriesStreaming {

  private val runId = new AtomicInteger(0)

  /** SPARK_GRAFT_STREAM_SINK=parquet routes the two result-linear queries
    * (stream_attach, stream_asof) through a distributed parquet sink
    * instead of the driver-side memory table — the sf1 sweep sets it so
    * their 10x points time the operator, not a 1M-row driver collect. The
    * gate runs unset (memory sink, exact same rows).
    */
  private def fileSink(name: String): Option[String] =
    sys.env.get("SPARK_GRAFT_STREAM_SINK").filter(_ == "parquet")
      .map(_ => s"/tmp/graft_stream_sink/$name")

  // stream_dedup_index Bloom sizing (shared with the oracle's position
  // arithmetic). 2^17 bits holds the gate-scale archive at sub-percent FP;
  // a production archive sizes mBits to its key count (the parameter is
  // explicit on the operator).
  private val DedupIdxBits = 1 << 17
  private val DedupIdxHashes = 2

  /** DuckDB twin of the at-ingest dedup-index gate: the archive's (docs
    * with doc_id % 3 <> 0) digest and band-key sets define the Bloom
    * position sets (a bit is set iff its position is in the set — the
    * bitmap IS the characteristic function, the bloomDecontamCtes
    * formulation), and every arriving doc probes them per row.
    */
  private def streamDedupIndexSql: String = {
    import graft.functions.Text.portableHashSql
    def pos(i: Int, e: String) =
      s"${portableHashSql(s"'bloom$i:' || $e")} % $DedupIdxBits"
    val bandKey = "CAST(band AS VARCHAR) || ':' || CAST(band_hash AS VARCHAR)"
    def unionPos(rel: String) = (0 until DedupIdxHashes)
      .map(i => s"SELECT ${pos(i, "key")} AS p FROM $rel")
      .mkString("\n            UNION ALL\n            ")
    def allIn(keyExpr: String, posRel: String) = (0 until DedupIdxHashes)
      .map(i => s"${pos(i, keyExpr)} IN (SELECT p FROM $posRel)")
      .mkString(" AND ")
    s"""WITH ${QueriesLlm.minhashCtes()},
        di_band_keys AS (
          SELECT DISTINCT $bandKey AS key
          FROM banded JOIN words USING (doc_id)
          WHERE doc_id % 3 <> 0 AND len(w) >= 3),
        di_band_pos AS (SELECT DISTINCT p FROM (
          ${unionPos("di_band_keys")})),
        di_dig_keys AS (
          SELECT DISTINCT sha256(coalesce('t:' || text, 'null:')) AS key
          FROM documents
          WHERE doc_id % 3 <> 0
            AND len(regexp_split_to_array(lower(text), '\\s+')) >= 3),
        di_dig_pos AS (SELECT DISTINCT p FROM (
          ${unionPos("di_dig_keys")})),
        di_doc AS (
          SELECT doc_id,
                 len(regexp_split_to_array(lower(text), '\\s+')) >= 3 AS ok,
                 sha256(coalesce('t:' || text, 'null:')) AS dg
          FROM documents),
        di_dighit AS (
          SELECT doc_id, ${allIn("dg", "di_dig_pos")} AS digest_hit
          FROM di_doc WHERE ok),
        di_bandhit AS (
          SELECT b.doc_id, bool_or(${allIn("key", "di_band_pos")}) AS band_hit
          FROM (SELECT doc_id, $bandKey AS key FROM banded) b
          JOIN di_doc dd USING (doc_id)
          WHERE dd.ok
          GROUP BY b.doc_id)
        SELECT d.doc_id,
               coalesce(dh.digest_hit, FALSE) AS digest_hit,
               coalesce(bh.band_hit, FALSE) AS band_hit,
               NOT (coalesce(dh.digest_hit, FALSE)
                    OR coalesce(bh.band_hit, FALSE)) AS keep
        FROM di_doc d
        LEFT JOIN di_dighit dh USING (doc_id)
        LEFT JOIN di_bandhit bh USING (doc_id)"""
  }

  val queries: Map[String, QueryFn] = Map(
    "stream_windowed_agg" -> { (s, d) =>
      Streaming.runToBatch(s, d, s"graft_stream_agg_${runId.incrementAndGet()}")
    },
    // Custom per-key streaming state via mapGroupsWithState: the running
    // count's final emission per user equals the batch count.
    "stream_stateful_counts" -> { (s, d) =>
      Streaming.runUserCountsToBatch(s, d,
        s"graft_stream_counts_${runId.incrementAndGet()}")
    },
    // Watermark-bounded streaming exact dedup equals the batch DISTINCT.
    "stream_dedupe" -> { (s, d) =>
      Streaming.dedupedPairs(s, d,
        s"graft_stream_dedupe_${runId.incrementAndGet()}")
    },
    // Stateful gap sessionization: session-span state via
    // flatMapGroupsWithState equals the batch window-function sessionize.
    "stream_sessionize" -> { (s, d) =>
      Streaming.runSessionsToBatch(s, d,
        s"graft_stream_sessions_${runId.incrementAndGet()}")
    },
    // Stream-static dimension attach equals the batch equi-join.
    "stream_attach" -> { (s, d) =>
      val run = runId.incrementAndGet()
      Streaming.attachStatic(s, d, s"graft_stream_attach_$run",
        fileSink(s"attach_$run"))
    },
    // Stateful as-of attach equals DuckDB's native ASOF LEFT JOIN.
    "stream_asof" -> { (s, d) =>
      val run = runId.incrementAndGet()
      Streaming.asofAttach(s, d, s"graft_stream_asof_$run",
        fileSink(s"asof_$run"))
    },
    // The corpus report card at ingest: the live per-(source, lang)
    // monitoring aggregation equals the batch groupBy exactly.
    "stream_corpus_stats" -> { (s, d) =>
      Streaming.corpusStats(s, d,
        s"graft_stream_cstats_${runId.incrementAndGet()}")
    },
    // Drift monitoring at ingest: the reference histogram fits batch-side
    // once, the new-crawl slice aggregates per bucket live (≤10 groups of
    // state), and the drained counts report the same smoothed PSI terms
    // as the batch head — shared oracle, zero drift possible.
    "stream_drift" -> { (s, d) =>
      Streaming.driftMonitor(s, d,
        s"graft_stream_drift_${runId.incrementAndGet()}")
    },
    // The data contract at ingest: four per-row rules into one group of
    // complete-mode state; uniqueness stays an at-rest rule by design.
    "stream_data_contract" -> { (s, d) =>
      Streaming.contractMonitor(s, d,
        s"graft_stream_contract_${runId.incrementAndGet()}")
    },
    // Streaming corpus curation: the quality gate applied at ingest equals
    // the batch corpus_filter verdicts.
    "stream_corpus_filter" -> { (s, d) =>
      Streaming.corpusFilter(s, d,
        s"graft_stream_corpus_${runId.incrementAndGet()}")
    },
    // SFT template rendering at ingest: the sft_pack transformation as a
    // stateless per-row pass over arriving docs (shared frame code with
    // the batch head — no drift possible). Result-linear output with the
    // rendered text doubling each doc's bytes → the distributed parquet
    // sink at sweep scale, like stream_attach.
    "stream_sft_pack" -> { (s, d) =>
      val run = runId.incrementAndGet()
      Streaming.sftPackStream(s, d, s"graft_stream_sft_$run",
        fileSink(s"sft_$run"))
    },
    // Standing-query routing at ingest: the fitted idf table embeds as
    // literals (batch-fit reference state), every arriving doc scores
    // per-row — no state store; alert rows equal the batch percolate_route
    // exactly (shared oracle).
    "stream_percolate" -> { (s, d) =>
      val run = runId.incrementAndGet()
      Streaming.percolate(s, d, s"graft_stream_perc_$run",
        QueriesMining.PercQCap, QueriesMining.PercFrac,
        fileSink(s"perc_$run"))
    },
    // Span corruption at ingest: stateless per-row example building (the
    // block-keyed draws need no scan state), shared frame with the batch
    // head (shared oracle).
    "stream_span_corrupt" -> { (s, d) =>
      val run = runId.incrementAndGet()
      Streaming.spanCorrupt(s, d, s"graft_stream_sc_$run",
        fileSink(s"sc_$run"))
    },
    // Fill-in-the-middle at ingest: the PSM re-ordering is per-doc
    // sha-gated — no scan state — so arriving docs land as pretraining
    // examples stateless per row; shared transform with the batch head
    // (shared oracle).
    "stream_fim" -> { (s, d) =>
      val run = runId.incrementAndGet()
      Streaming.fimTransform(s, d, s"graft_stream_fim_$run",
        QueriesMining.FimRate, fileSink(s"fim_$run"))
    },
    // CMS heavy hitters at ingest: the integer sketch accumulates live in
    // complete mode (state ≤ h×w groups however many docs arrive); the
    // drained cells feed the batch head's candidate+verify report exactly
    // (shared oracle).
    "stream_heavy_hitters" -> { (s, d) =>
      val run = runId.incrementAndGet()
      Streaming.heavyHitters(s, d, s"graft_stream_cms_$run",
        QueriesMining.CmsH, QueriesMining.CmsW, QueriesMining.CmsDiv)
    },
    // Online cluster routing: centroids fit once batch-side, every arriving
    // embedding routes per-row through the codegen'd literal fold — the
    // shard assignment of a continuously embedded corpus. Rows equal the
    // batch curation_kmeans head exactly (shared oracle).
    "stream_embed_route" -> { (s, d) =>
      val run = runId.incrementAndGet()
      Streaming.embedRoute(s, d, s"graft_stream_route_$run", 4, 2,
        fileSink(s"route_$run"))
    },
    // The `corpus:` config journey streamed: quality gate + watermarked
    // exact dedup at ingest — a crawl lands curated AND deduped in one job.
    // Output is the digest set (digest-deterministic where the kept doc_id
    // is arrival-dependent), equal to the batch filter→dedup_exact prefix.
    "stream_corpus_dedup" -> { (s, d) =>
      import org.apache.spark.sql.functions.{col, sha2}
      val project = graft.pipeline.Config.parseProject(
        """sources:
          |  - id: docs
          |    loader: { transport: fs, path: documents.parquet, reader: { format: parquet } }
          |corpus:
          |  source: docs
          |  steps:
          |    - { step: filter, lang: en, min_quality: 0.3, max_repetition: 0.8 }
          |    - { step: dedup_exact }
          |""".stripMargin)
      Streaming.runCorpusStream(s, d, project,
        s"graft_stream_corpus_dedup_${runId.incrementAndGet()}")
        .select(sha2(col("text").cast("string"), 256).as("content_hash"))
    },

    // Cross-run dedup AT INGEST: the archive corpus builds the persisted
    // minhash index batch-side once; each arriving doc is screened against
    // the index's Bloom-literal digest + band-bucket bitmaps — pure per-row
    // probes, zero state, zero join. Exact re-crawls and near-dup
    // candidates drop at the door; the batch increment path remains the
    // verified archive-of-record update.
    "stream_dedup_index" -> { (s, d) =>
      import org.apache.spark.sql.functions.{col, lit, pmod}
      import graft.operators.IncrementalDedup
      val root = java.nio.file.Paths.get("/tmp/graft_scratch/stream_dedup_index")
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
      IncrementalDedup.update(s, root,
        graft.sources.Tables.documents(s, d)
          .filter(pmod(col("doc_id"), lit(3)) =!= 0),
        "text", "doc_id", genKey = "archive")
      Streaming.dedupIndexGate(s, d, root, DedupIdxBits, DedupIdxHashes,
        s"graft_stream_dedup_index_${runId.incrementAndGet()}")
    },

    // The crawl annotated AT INGEST under a pre-trained tokenizer: quality
    // gate + per-row token accounting from the hydrated merge artifact —
    // no state, no corpus-at-rest pass. The artifact trains batch-side on
    // the full corpus first (the deploy shape: train once, every later
    // crawl streams through it); output rows are arrival-independent.
    "stream_corpus_tokenize" -> { (s, d) =>
      import org.apache.spark.sql.functions.col
      import graft.operators.Bpe
      // train-if-missing (TokenizerCache, r14 ask #4): the deploy-shape
      // fit runs once per corpus fingerprint; every later stream hydrates
      val path = graft.pipeline.TokenizerCache.ensure(
        QueriesLlm.TokCacheRoot,
        graft.pipeline.TokenizerCache.state("bpe", QueriesLlm.BpeRounds,
          "full", s"$d/documents.parquet")) { p =>
        Bpe.saveTokenizer(p.toString, Bpe.merges(
          graft.sources.Tables.documents(s, d), "text", QueriesLlm.BpeRounds))
      }.toString
      val project = graft.pipeline.Config.parseProject(
        s"""sources:
           |  - id: docs
           |    loader: { transport: fs, path: documents.parquet, reader: { format: parquet } }
           |corpus:
           |  source: docs
           |  steps:
           |    - { step: filter, lang: en, min_quality: 0.3, max_repetition: 0.8 }
           |    - { step: tokenize, artifact: $path, rounds: ${QueriesLlm.BpeRounds} }
           |""".stripMargin)
      Streaming.runCorpusStream(s, d, project,
        s"graft_stream_corpus_tokenize_${runId.incrementAndGet()}")
        .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_tokens"))
    },

    // The tokenize step's THIRD-family twin: the same at-ingest annotation
    // under a pre-trained WORDPIECE artifact (family: wordpiece) — the
    // hydrated ##-marked merge table folds per row through the codegen'd
    // WordPieceStats loop; no state, no corpus-at-rest pass. Its rows equal
    // the batch journey's vocabulary join (StreamingSinkSpec pins it).
    "stream_corpus_tokenize_wp" -> { (s, d) =>
      import org.apache.spark.sql.functions.col
      import graft.operators.WordPiece
      val path = graft.pipeline.TokenizerCache.ensure(
        QueriesLlm.TokCacheRoot,
        graft.pipeline.TokenizerCache.state("wordpiece",
          QueriesLlm.BpeRounds, "full", s"$d/documents.parquet")) { p =>
        WordPiece.saveTokenizer(p.toString, WordPiece.train(
          graft.sources.Tables.documents(s, d), "text",
          QueriesLlm.BpeRounds).merges)
      }.toString
      val project = graft.pipeline.Config.parseProject(
        s"""sources:
           |  - id: docs
           |    loader: { transport: fs, path: documents.parquet, reader: { format: parquet } }
           |corpus:
           |  source: docs
           |  steps:
           |    - { step: filter, lang: en, min_quality: 0.3, max_repetition: 0.8 }
           |    - { step: tokenize, artifact: $path, rounds: ${QueriesLlm.BpeRounds}, family: wordpiece }
           |""".stripMargin)
      Streaming.runCorpusStream(s, d, project,
        s"graft_stream_corpus_tokenize_wp_${runId.incrementAndGet()}")
        .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_tokens"))
    }
  )

  val oracleSql: Map[String, String] = Map(
    "stream_windowed_agg" ->
      s"""SELECT epoch_us(ts) - epoch_us(ts) % 3600000000 AS hour_us,
          event_type, COUNT(*) AS n, ${sumDecSql("value")} AS total
          FROM events GROUP BY 1, event_type""",
    "stream_stateful_counts" ->
      "SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id",
    "stream_dedupe" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "stream_sessionize" ->
      """WITH flagged AS (
           SELECT user_id, ts, event_id,
                  CASE WHEN lag(ts) OVER w IS NULL
                         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
                       THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
         sess AS (
           SELECT user_id, ts,
                  CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
                    AS BIGINT) AS session_id
           FROM flagged)
         SELECT user_id, session_id, COUNT(*) AS n_events,
                min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS end_us
         FROM sess GROUP BY user_id, session_id""",
    "stream_attach" ->
      """SELECT e.event_id, e.user_id, e.event_type, c.c_acctbal
         FROM events e JOIN customer c ON c.c_custkey = e.user_id""",
    "stream_asof" ->
      """SELECT e.event_id, e.user_id, epoch_us(e.ts) AS t_us,
                p.value AS last_purchase
         FROM events e
         ASOF LEFT JOIN (SELECT user_id, ts, max(value) AS value
                         FROM events WHERE event_type = 'purchase'
                         GROUP BY user_id, ts) p
           ON e.user_id = p.user_id AND p.ts <= e.ts""",
    // identical gate, identical verdicts — at ingest instead of at rest
    "stream_corpus_filter" -> QueriesLlm.corpusFilterSql,

    // same twin as the batch head: the stream is a replay of the table
    "stream_sft_pack" -> QueriesLlm.sftPackSql,
    "stream_percolate" -> QueriesMining.percolateSql,
    "stream_embed_route" -> QueriesCuration.oracleSql("curation_kmeans"),
    "stream_heavy_hitters" -> QueriesMining.heavyHittersSql,
    "stream_span_corrupt" -> QueriesMining.oracleSql("span_corrupt"),
    "stream_fim" -> QueriesMining.oracleSql("fim_transform"),

    // same twin as corpus_drift: the live emission equals the batch head
    "stream_drift" -> QueriesServe.corpusDriftSql,

    // the batch contract minus its at-rest-only uniqueness rule
    "stream_data_contract" -> {
      val langs = graft.functions.Text.LangPriority
        .map(l => s"'$l'").mkString(", ")
      s"""WITH a AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS v_null,
                   CAST(sum(CASE WHEN lang NOT IN ($langs) THEN 1 ELSE 0 END)
                     AS BIGINT) AS v_lang,
                   CAST(sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0
                     END) AS BIGINT) AS v_chars,
                   CAST(sum(CASE WHEN length(text) <= 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS v_empty
            FROM documents)
          SELECT 'doc_id_not_null' AS rule, n AS n_checked,
                 v_null AS n_violations, v_null = 0 AS pass FROM a
          UNION ALL SELECT 'lang_allowed', n, v_lang, v_lang = 0 FROM a
          UNION ALL SELECT 'n_chars_consistent', n, v_chars, v_chars = 0 FROM a
          UNION ALL SELECT 'text_nonempty', n, v_empty, v_empty = 0 FROM a"""
    },

    "stream_dedup_index" -> streamDedupIndexSql,

    "stream_corpus_stats" ->
      s"""SELECT source, lang,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
              AS n_tokens,
            ROUND(CAST(SUM(CAST(q AS DECIMAL(30,6))) AS DOUBLE) / count(*), 6)
              AS mean_quality
          FROM (SELECT source, lang, text, ${QueriesServe.qualitySql} AS q
                FROM documents)
          GROUP BY source, lang""",
    // the batch filter→dedup_exact prefix of the corpus journey, projected
    // to the digest set (the arrival-independent identity)
    "stream_corpus_dedup" ->
      s"""WITH verdicts AS (${QueriesLlm.corpusFilterSql})
          SELECT DISTINCT sha256(d.text) AS content_hash
          FROM documents d JOIN verdicts f USING (doc_id)
          WHERE f.keep""",
    // the batch filter gate + encode stats under merges trained on the
    // FULL corpus (the artifact's training set) — per-row streaming fold
    // and vocabulary join are the same function of each word, so the
    // composed CTEs land exactly where the stream lands; filtered docs
    // with no tokens count zeros
    "stream_corpus_tokenize" ->
      s"""WITH verdicts AS (${QueriesLlm.corpusFilterSql}),
          ${QueriesLlm.bpeCtes(QueriesLlm.BpeRounds)},
          ${QueriesLlm.bpeStatsCtes(s"w${QueriesLlm.BpeRounds + 1}")}
          SELECT d.doc_id,
                 coalesce(s.n_words, CAST(0 AS BIGINT)) AS n_words,
                 coalesce(s.n_chars, CAST(0 AS BIGINT)) AS n_chars,
                 coalesce(s.n_tokens, CAST(0 AS BIGINT)) AS n_tokens
          FROM documents d
          JOIN verdicts f USING (doc_id)
          LEFT JOIN bpe_stats s USING (doc_id)
          WHERE f.keep""",

    // the wordpiece twin: the same filter gate + encode stats, with the
    // merge chain replayed under the LIKELIHOOD criterion and ##-marked
    // folds (QueriesLlm.wordpieceCtes) — the encode join is family-blind
    // (only segment counts enter it), so bpeStatsCtes is shared verbatim
    "stream_corpus_tokenize_wp" ->
      s"""WITH verdicts AS (${QueriesLlm.corpusFilterSql}),
          ${QueriesLlm.wordpieceCtes(QueriesLlm.BpeRounds)},
          ${QueriesLlm.bpeStatsCtes(s"v${QueriesLlm.BpeRounds + 1}")}
          SELECT d.doc_id,
                 coalesce(s.n_words, CAST(0 AS BIGINT)) AS n_words,
                 coalesce(s.n_chars, CAST(0 AS BIGINT)) AS n_chars,
                 coalesce(s.n_tokens, CAST(0 AS BIGINT)) AS n_tokens
          FROM documents d
          JOIN verdicts f USING (doc_id)
          LEFT JOIN bpe_stats s USING (doc_id)
          WHERE f.keep""")
}
