package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Text
import graft.operators.{Assembly, Dedup, Multimodal, Similarity}
import Q._

/** §2.7 LLM-training-data operators over `documents` and `embeddings`.
  * DuckDB oracle SQL is generated from the same marker tables / constants as
  * the Spark expressions, so the two sides cannot drift.
  */
object QueriesLlm {

  // --- SQL twins of graft.functions.Text ----------------------------------
  private def occSql(m: String): String =
    s"(length(text) - length(replace(text, '$m', ''))) / ${m.length}"

  private def scoreSql(lang: String): String =
    Text.LangMarkers.toMap.apply(lang).map(occSql).mkString(" + ")

  /** Sequential-fold dot product twin of Similarity.dot. */
  private def dotSql(e1: String, e2: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"[CAST($e1[i] AS DOUBLE) * CAST($e2[i] AS DOUBLE) for i in generate_series(1, len($e1))]), " +
      s"(acc, x) -> acc + x)"

  private[queries] def cosSql(e1: String, e2: String): String =
    s"(${dotSql(e1, e2)} / (sqrt(${dotSql(e1, e1)}) * sqrt(${dotSql(e2, e2)})))"

  private val shinglesSql =
    "list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] " +
      "for i in generate_series(1, greatest(len(w) - 2, 0))])"

  // --- SQL twins of the portable-hash dedup pipelines ---------------------
  // Generated from the SAME Scala constants (perm params, primes, plane
  // weights) as the Spark plans, so the two sides cannot drift.

  /** Shared CTE chain of the minhash pipelines (shingle → portable hash →
    * 64-perm signature → 16-band fold-hash buckets → candidate pairs → exact
    * Jaccard verify), mirroring Dedup.minhashScoredPairs stage for stage.
    * `src` names the (doc_id, text) relation the chain reads — "documents"
    * for the whole corpus, a CTE name for a curated subset (config_corpus).
    */
  private[queries] def minhashCtes(src: String = "documents"): String = {
    val p = Dedup.MersennePrime
    val fp = Dedup.BandFoldPrime
    val sigEntries = Dedup.permParams(64).map { case (a, b) =>
      s"list_min([(h * $a + $b) % $p for h in hs])"
    }.mkString(",\n              ")
    s"""words AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
          FROM $src),
        base AS (
          SELECT doc_id, $shinglesSql AS sh FROM words),
        hashed AS (
          SELECT doc_id, sh,
                 [${Text.portableHashSql("x")} % $p for x in sh] AS hs
          FROM base),
        sig AS (
          SELECT doc_id,
              [$sigEntries] AS sig
          FROM hashed),
        banded AS (
          SELECT doc_id, band,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                     sig[band * 4 + 1 : band * 4 + 4]),
                   (acc, h) -> (acc * 31 + h) % $fp) AS band_hash
          FROM sig, (SELECT unnest(generate_series(0, 15)) AS band) bands),
        cands AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.band_hash = r.band_hash
           AND l.doc_id < r.doc_id),
        verified AS (
          SELECT id_a, id_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jacc
          FROM cands
          JOIN base a ON a.doc_id = cands.id_a
          JOIN base b ON b.doc_id = cands.id_b)"""
  }

  /** Min-label transitive closure over the `verified` near-dup pairs
    * (jacc ≥ 0.5), seeded from `seedRel`'s doc_ids — the recursive-CTE
    * twin of Dedup.connectedComponents, shared by dedup_cluster,
    * dedup_keep, and the corpus journey so the closure text cannot drift
    * between oracles. Yields `lab(doc_id, cluster_id)`.
    */
  private[queries] def minhashClosureCtes(seedRel: String): String =
    s"""e AS (
          SELECT id_a AS src, id_b AS dst FROM verified WHERE jacc >= 0.5
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM verified WHERE jacc >= 0.5),
        reach(id, r) AS (
          SELECT doc_id, doc_id FROM $seedRel
          UNION
          SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
        lab AS (
          SELECT id AS doc_id, min(r) AS cluster_id FROM reach GROUP BY id)"""

  // split_leakage: fold ratios + seed shared between the Spark plan and
  // the oracle's hashSplitSql twin
  private val LeakFolds = Seq("train" -> 0.9, "test" -> 0.1)
  private val LeakSeed = 21

  /** split_leakage twin: per-doc count of verified near-dup partners
    * (jacc >= 0.5) whose hash-split fold differs — the direct (non
    * -collapsed) formulation; the operator's rep-collapse path is pinned
    * row-equal in the spec.
    */
  private def splitLeakageSql: String =
    s"""WITH ${minhashCtes()},
        folds AS (
          SELECT doc_id, ${QueriesAssembly.hashSplitSql("doc_id", LeakSeed,
            LeakFolds)} AS fold
          FROM documents),
        p AS (SELECT id_a, id_b FROM verified WHERE jacc >= 0.5),
        directed AS (
          SELECT id_a AS id, id_b AS o FROM p
          UNION ALL
          SELECT id_b AS id, id_a AS o FROM p),
        x AS (
          SELECT d.id AS doc_id, fa.fold, count(*) AS n_leaks
          FROM directed d
          JOIN folds fa ON fa.doc_id = d.id
          JOIN folds fb ON fb.doc_id = d.o
          WHERE fa.fold <> fb.fold
          GROUP BY d.id, fa.fold)
        SELECT doc_id, fold, n_leaks FROM x"""

  /** Planted-pair evaluation CTEs shared by dedup_recall and
    * dedup_band_sweep: the eval corpus `ev` (originals + exact copies on
    * every 10th doc, one-token near copies on every 50th, 60%-token-prefix
    * copies on every 25th — the jacc ≈ 0.58 zone where banding genuinely
    * misses) and the labeled `truth` pairs.
    */
  private def plantedCtes: String =
    s"""mx AS (SELECT max(doc_id) AS m FROM documents),
        ev AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + m + 1, text FROM documents, mx
          WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id + 2 * (m + 1), text || ' zznear' FROM documents, mx
          WHERE doc_id % 50 = 0
          UNION ALL
          SELECT doc_id + 3 * (m + 1),
                 array_to_string(pw[1 : (len(pw) * 3) // 5], ' ')
          FROM (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS pw
                FROM documents WHERE doc_id % 25 = 0), mx),
        truth AS (
          SELECT doc_id AS id_a, doc_id + m + 1 AS id_b, 'exact' AS kind
          FROM documents, mx WHERE doc_id % 10 = 0
          UNION ALL
          SELECT doc_id, doc_id + 2 * (m + 1), 'near'
          FROM documents, mx WHERE doc_id % 50 = 0
          UNION ALL
          SELECT doc_id, doc_id + 3 * (m + 1), 'prefix'
          FROM documents, mx WHERE doc_id % 25 = 0)"""

  /** dedup_recall twin: the planted-pair corpus, [[minhashCtes]] over it,
    * and per-kind recall of the banding against the labeled true pairs
    * (detection = membership in the band-bucket candidate set).
    */
  private def dedupRecallSql: String =
    s"""WITH $plantedCtes,
        ${minhashCtes("ev")},
        scored AS (
          SELECT t.kind,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE)
                   AS jacc,
                 (c.id_a IS NOT NULL) AS detected
          FROM truth t
          JOIN base a ON a.doc_id = t.id_a
          JOIN base b ON b.doc_id = t.id_b
          LEFT JOIN cands c ON c.id_a = t.id_a AND c.id_b = t.id_b)
        SELECT kind,
               CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_true,
               CAST(sum(CASE WHEN jacc >= 0.5 AND detected THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_detected,
               ROUND(CAST(sum(CASE WHEN jacc >= 0.5 AND detected
                                   THEN 1 ELSE 0 END) AS DOUBLE) /
                     GREATEST(sum(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END), 1),
                     6) AS recall
        FROM scored GROUP BY kind"""

  /** Twin of Text.qualityScore over `src`, carrying `carry` columns
    * through — shared by quality_score and preference_pairs.
    */
  private[queries] def qualityScoreSql(src: String,
                              carry: Seq[String] = Nil): String = {
    val stops = Text.StopMarkers.map(occSql).mkString(" + ")
    val c = carry.map(x => s"$x, ").mkString
    s"""SELECT ${c}doc_id,
        ROUND(LEAST(1.0, CAST(n_words AS DOUBLE) / 100.0)
              * (1.0 - CAST(punct AS DOUBLE) / GREATEST(n_chars_c, 1))
              * (0.5 + LEAST((stops) / CAST(GREATEST(n_words, 1) AS DOUBLE) * 2.0, 0.5)),
            6) AS quality
        FROM (SELECT ${c}doc_id,
                     length(text) AS n_chars_c,
                     len(regexp_extract_all(text, '\\S+')) AS n_words,
                     length(text) - length(translate(text, '${Text.PunctChars}', '')) AS punct,
                     $stops AS stops
              FROM $src)"""
  }

  // preference_pairs: minimum quality margin for a (chosen, rejected)
  // pair to count as a usable preference signal
  private val PrefMarginMin = 0.1

  // sft_pack: chat-template rendering bounds — the first SftPromptWords
  // whitespace words stand in for the prompt turn, the rest for the
  // response; docs under SftMinWords carry no usable pair; SftCtxTokens is
  // the training context the rendered record must fit (ws-token count).
  private val SftPromptWords = 8
  private val SftMinWords = 16
  private val SftCtxTokens = 64

  // heldout_nll: the train/test fold rule (hash_split's sha256-ratio) and
  // the add-1-smoothed unigram LM scored on the held-out fold
  private val HeldoutFolds = Seq("train" -> 0.8, "test" -> 0.2)
  private val HeldoutSeed = 42

  /** The sft_pack transformation over a (doc_id, source, lang, text)
    * frame — shared by the batch head and the streaming ingest twin so
    * the two cannot drift. Pure per-row expressions, so it applies
    * identically to a static or a streaming frame.
    */
  private[graft] def sftPackFrame(df: DataFrame): DataFrame = {
    val wl = filter(split(col("text"), "\\s+"), w => length(w) > lit(0))
    val prompt = concat(lit("<|user|>\n"),
      array_join(slice(col("w"), 1, SftPromptWords), " "),
      lit("\n<|assistant|>"))
    val response = concat(lit("\n"),
      array_join(slice(col("w"), lit(SftPromptWords + 1),
        size(col("w")) - SftPromptWords), " "),
      lit("\n<|end|>"))
    df
      .select(col("doc_id"), col("source"), col("lang"), wl.as("w"))
      .where(size(col("w")) >= SftMinWords)
      .select(col("doc_id"), col("source"), col("lang"),
        prompt.as("p"), response.as("r"))
      .select(col("doc_id"), col("source"), col("lang"),
        concat(col("p"), col("r")).as("rendered"),
        Text.tokenCountWs(col("p")).cast("long").as("n_tokens_mask"),
        Text.tokenCountWs(concat(col("p"), col("r"))).cast("long")
          .as("n_tokens"),
        (Text.tokenCountWs(concat(col("p"), col("r")))
          <= SftCtxTokens).as("fits_ctx"))
  }

  /** sft_pack twin shared with the streaming ingest head: whitespace-word
    * split, slice into prompt/response,
    * render the fixed chat template, and count the masked (prompt-span)
    * and total whitespace tokens the way token_count does.
    */
  private[queries] def sftPackSql: String =
    s"""WITH w AS (
          SELECT doc_id, source, lang,
                 regexp_extract_all(text, '\\S+') AS wl
          FROM documents),
        r AS (
          SELECT doc_id, source, lang,
                 '<|user|>' || chr(10) ||
                 array_to_string(wl[1:$SftPromptWords], ' ') ||
                 chr(10) || '<|assistant|>' AS prompt_span,
                 chr(10) ||
                 array_to_string(wl[${SftPromptWords + 1}:len(wl)], ' ') ||
                 chr(10) || '<|end|>' AS response_span
          FROM w WHERE len(wl) >= $SftMinWords)
        SELECT doc_id, source, lang,
               prompt_span || response_span AS rendered,
               len(regexp_extract_all(prompt_span, '\\S+')) AS n_tokens_mask,
               len(regexp_extract_all(prompt_span || response_span, '\\S+'))
                 AS n_tokens,
               len(regexp_extract_all(prompt_span || response_span, '\\S+'))
                 <= $SftCtxTokens AS fits_ctx
        FROM r"""

  /** preference_pairs twin: per-(source, lang) argmax/argmin quality with
    * the doc_id tiebreak, margin-gated.
    */
  private def preferencePairsSql: String =
    s"""WITH scored AS (
          ${qualityScoreSql("documents", Seq("source", "lang"))}),
        w AS (
          SELECT source, lang, doc_id, quality,
                 row_number() OVER (PARTITION BY source, lang
                                    ORDER BY quality DESC, doc_id) AS rc,
                 row_number() OVER (PARTITION BY source, lang
                                    ORDER BY quality ASC, doc_id) AS rr,
                 count(*) OVER (PARTITION BY source, lang) AS n
          FROM scored),
        c AS (SELECT source, lang, doc_id AS chosen_id,
                     quality AS chosen_q, n
              FROM w WHERE rc = 1),
        r AS (SELECT source, lang, doc_id AS rejected_id,
                     quality AS rejected_q
              FROM w WHERE rr = 1)
        SELECT c.source, c.lang, chosen_id, rejected_id, chosen_q,
               rejected_q, ROUND(chosen_q - rejected_q, 6) AS margin
        FROM c JOIN r USING (source, lang)
        WHERE n >= 2
          AND ROUND(chosen_q - rejected_q, 6) >= $PrefMarginMin"""

  // Banding settings swept by dedup_band_sweep — all splits of the same
  // 64-perm signature, so one signature pass serves every setting. The
  // S-curve P(detect) = 1-(1-j^r)^b moves from catch-almost-everything
  // (32x2) through the production 16x4 to precision-leaning 8x8.
  private val BandSweepSettings = Seq((32, 2), (16, 4), (8, 8))

  /** Band-fold detection twin of Dedup.bandMatch for one (bands, rows)
    * setting over two sig columns: at least one band's fold-hash collides.
    */
  private def bandMatchSql(a: String, b: String, bands: Int,
                           rows: Int): String = {
    val fp = Dedup.BandFoldPrime
    def fold(side: String) =
      s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
            $side[i * $rows + 1 : i * $rows + $rows]),
          (acc, h) -> (acc * 31 + h) % $fp)"""
    s"""list_contains([${fold(a)} = ${fold(b)}
          for i in generate_series(0, ${bands - 1})], true)"""
  }

  /** dedup_band_sweep twin: per-(bands, rows, kind) recall of direct
    * band-fold detection on the labeled planted pairs.
    */
  private def dedupBandSweepSql: String = {
    val detCols = BandSweepSettings.map { case (b, r) =>
      s"${bandMatchSql("a.sig", "b.sig", b, r)} AS d$b"
    }.mkString(",\n                 ")
    val perSetting = BandSweepSettings.map { case (b, r) =>
      s"""SELECT CAST($b AS INTEGER) AS bands,
                 CAST($r AS INTEGER) AS rows_per_band, kind,
                 CAST(count(*) AS BIGINT) AS n_pairs,
                 CAST(sum(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_true,
                 CAST(sum(CASE WHEN jacc >= 0.5 AND d$b THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_detected,
                 ROUND(CAST(sum(CASE WHEN jacc >= 0.5 AND d$b
                                     THEN 1 ELSE 0 END) AS DOUBLE) /
                       GREATEST(sum(CASE WHEN jacc >= 0.5
                                         THEN 1 ELSE 0 END), 1),
                       6) AS recall
          FROM scored GROUP BY kind"""
    }.mkString("\n        UNION ALL\n        ")
    s"""WITH $plantedCtes,
        ${minhashCtes("ev")},
        scored AS (
          SELECT t.kind,
                 CAST(len(list_intersect(ba.sh, bb.sh)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(ba.sh, bb.sh)))
                   AS DOUBLE) AS jacc,
                 $detCols
          FROM truth t
          JOIN sig a ON a.doc_id = t.id_a
          JOIN sig b ON b.doc_id = t.id_b
          JOIN base ba ON ba.doc_id = t.id_a
          JOIN base bb ON bb.doc_id = t.id_b)
        $perSetting"""
  }

  /** Per-doc minhash dedup report on top of [[minhashCtes]]. */
  private def minhashSql: String =
    s"""WITH ${minhashCtes()},
        perdoc AS (
          SELECT doc_id,
                 CAST(count(*) AS BIGINT) AS n_candidates,
                 CAST(sum(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
          FROM (SELECT unnest([id_a, id_b]) AS doc_id, jacc FROM verified)
          GROUP BY doc_id)
        SELECT d.doc_id,
               coalesce(p.n_candidates, 0) AS n_candidates,
               coalesce(p.n_dups, 0) AS n_dups
        FROM documents d LEFT JOIN perdoc p USING (doc_id)"""

  /** dedup_cluster twin: verified near-dup pairs as edges, transitive
    * closure via a recursive CTE, component label = min reachable doc id.
    */
  private def dedupClusterSql: String =
    s"""WITH RECURSIVE ${minhashCtes()},
        ${minhashClosureCtes("documents")}
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
               doc_id = cluster_id AS is_canonical
        FROM lab"""

  /** dedup_semantic twin (shared with dedup_incremental_semantic): the
    * planted-duplicate corpus of [[semanticCorpus]], pinned-6-plane LSH
    * buckets, exact-cosine edges, transitive closure via a recursive CTE.
    */
  private def dedupSemanticSql: String =
    s"""WITH RECURSIVE mx AS (SELECT max(vec_id) AS m FROM embeddings),
        corpus AS (
          SELECT vec_id, embedding FROM embeddings
          UNION ALL
          SELECT vec_id + m + 1, embedding FROM embeddings, mx
          WHERE vec_id % 10 = 0
          UNION ALL
          SELECT vec_id + 2 * m + 2, embedding FROM embeddings, mx
          WHERE vec_id % 50 = 0),
        sig AS (
          SELECT vec_id, embedding,
                 CAST(${lshBucketSql()} AS BIGINT) AS bucket
          FROM corpus),
        pairs AS (
          SELECT l.vec_id AS id_a, r.vec_id AS id_b
          FROM sig l JOIN sig r
            ON l.bucket = r.bucket AND l.vec_id < r.vec_id
          WHERE ${cosSql("l.embedding", "r.embedding")} >= 0.95),
        e AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION ALL
          SELECT id_b AS src, id_a AS dst FROM pairs),
        reach(id, rr) AS (
          SELECT vec_id, vec_id FROM corpus
          UNION
          SELECT e.dst, reach.rr FROM reach JOIN e ON e.src = reach.id),
        lab AS (
          SELECT id AS vec_id, min(rr) AS cluster_id FROM reach GROUP BY id)
        SELECT vec_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
               vec_id = cluster_id AS is_canonical
        FROM lab"""

  /** decontam_semantic twin: benchmark vectors (vec_id % 17 = 0) define
    * the LSH buckets, corpus vectors verify exact cosine on bucket-mates,
    * per-doc report left-joins back over the full corpus. Bucket and
    * cosine arithmetic shared with the ann_lsh / dedup_semantic twins.
    */
  private def decontamSemanticSql: String =
    s"""WITH sigd AS (
          SELECT vec_id, embedding, CAST(${lshBucketSql()} AS BIGINT) AS bucket
          FROM embeddings
          WHERE ${dotSql("embedding", "embedding")} > 0),
        b AS (
          SELECT vec_id AS bench_id, embedding AS bv, bucket
          FROM sigd WHERE vec_id % 17 = 0 AND vec_id < $SemBenchCap),
        c AS (SELECT vec_id AS corpus_id, embedding AS cv, bucket FROM sigd),
        p AS (
          SELECT corpus_id, ${cosSql("cv", "bv")} AS cos
          FROM c JOIN b USING (bucket)),
        perdoc AS (
          SELECT corpus_id,
                 CAST(count(*) AS BIGINT) AS n_candidates,
                 CAST(sum(CASE WHEN cos >= 0.95 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_matches,
                 ROUND(max(cos), 6) AS max_cos
          FROM p GROUP BY corpus_id)
        SELECT e.vec_id,
               coalesce(d.n_candidates, 0) AS n_candidates,
               coalesce(d.n_matches, 0) AS n_matches,
               d.max_cos,
               (coalesce(d.n_matches, 0) = 0) AS keep
        FROM embeddings e LEFT JOIN perdoc d ON d.corpus_id = e.vec_id"""

  /** Full simhash pipeline in DuckDB: token → portable hash → 60 bit-sign
    * sums → signature → 4×15-bit band bucket counts.
    */
  private def simhashSql: String = {
    val bits = Dedup.SimhashBits
    val bandBits = Dedup.SimhashBandBits
    val mask = Dedup.SimhashBandMask
    s"""WITH toks AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
          FROM documents),
        hashed AS (
          SELECT doc_id, ${Text.portableHashSql("tok")} AS h FROM toks),
        bits AS (
          SELECT doc_id, b, sum(((h >> b) & 1) * 2 - 1) AS s
          FROM hashed, (SELECT unnest(generate_series(0, ${bits - 1})) AS b) bb
          GROUP BY doc_id, b),
        sig AS (
          SELECT doc_id,
                 CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)
                      AS BIGINT) AS simhash
          FROM bits GROUP BY doc_id),
        banded AS (
          SELECT doc_id, simhash, band,
                 (simhash >> (band * $bandBits)) & $mask AS band_val
          FROM sig,
               (SELECT unnest(generate_series(0, ${Dedup.SimhashBands - 1})) AS band) bb),
        bucket AS (
          SELECT band, band_val, count(*) AS n
          FROM banded GROUP BY band, band_val)
        SELECT banded.doc_id, banded.simhash,
               CAST(sum(bucket.n - 1) AS BIGINT) AS n_candidates
        FROM banded JOIN bucket USING (band, band_val)
        GROUP BY banded.doc_id, banded.simhash"""
  }

  /** Hyperplane-LSH bucket key over an `embedding` column — constants from
    * the same Scala LCG as Similarity.planeWeights, so dot-product SIGN
    * agrees bit-for-bit (shared by ann_lsh and dedup_semantic).
    */
  private def lshBucketSql(planes: Int = 6, dim: Int = 64): String = {
    val w = Similarity.planeWeights(planes, dim)
    def dotPlane(p: Int): String = {
      val lst = w(p).map(_.toString).mkString("[", ", ", "]")
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"[CAST(embedding[i] AS DOUBLE) * ($lst)[i] " +
        s"for i in generate_series(1, len(embedding))]), (acc, x) -> acc + x)"
    }
    (0 until planes).map { p =>
      s"(CASE WHEN ${dotPlane(p)} >= 0 THEN ${1L << p} ELSE 0 END)"
    }.mkString("\n               + ")
  }

  /** ann_lsh twin: hyperplane constants embedded from the same Scala LCG;
    * dot-product sign, bucket join and rerank all reproduce exactly.
    */
  private def annLshSql: String = {
    s"""WITH sig AS (
          SELECT vec_id, embedding,
                 CAST(${lshBucketSql()} AS BIGINT) AS bucket
          FROM embeddings),
        q AS (SELECT vec_id AS query_id, embedding AS qv, bucket
              FROM sig WHERE vec_id < 5),
        c AS (SELECT vec_id AS neighbor_id, embedding AS cv, bucket FROM sig),
        sc AS (
          SELECT query_id, neighbor_id, bucket,
                 ${cosSql("qv", "cv")} AS cos
          FROM c JOIN q USING (bucket)
          WHERE query_id != neighbor_id),
        r AS (
          SELECT query_id, neighbor_id, bucket, cos,
                 row_number() OVER (PARTITION BY query_id
                                    ORDER BY cos DESC, neighbor_id ASC) AS rnk
          FROM sc)
        SELECT query_id, neighbor_id, bucket, ROUND(cos, 6) AS cos, rnk
        FROM r WHERE rnk <= 5"""
  }

  /** ann_ivf twin: same adaptive-stride centroids (max(37, ceil(sqrt(n)),
    * ceil(n/4096)) — the sqrt(n)-centroids rule with the linear-regime cap),
    * nearest-centroid assignment, nprobe=2 probing, in-list rerank — stage
    * for stage. The operator's duplicate pre-collapse is result-identical,
    * so the oracle stays the from-scratch pipeline.
    */
  private def annIvfSql: String =
    s"""WITH cent AS (
          SELECT vec_id AS centroid_id, embedding AS centv
          FROM embeddings
          WHERE vec_id % (SELECT GREATEST(37,
                            CAST(CEIL(SQRT(COUNT(*))) AS BIGINT),
                            CAST(CEIL(COUNT(*) / 4096.0) AS BIGINT))
                          FROM embeddings) = 0),
        a AS (
          SELECT e.vec_id AS neighbor_id, e.embedding AS cv, centroid_id,
                 ${cosSql("e.embedding", "centv")} AS acos
          FROM embeddings e, cent),
        inv AS (
          SELECT neighbor_id, cv, centroid_id
          FROM (SELECT *, row_number() OVER (PARTITION BY neighbor_id
                            ORDER BY acos DESC, centroid_id ASC) AS r FROM a)
          WHERE r = 1),
        q AS (SELECT vec_id AS query_id, embedding AS qv
              FROM embeddings WHERE vec_id < 5),
        p AS (
          SELECT query_id, qv, centroid_id
          FROM (SELECT query_id, qv, centroid_id,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY pcos DESC, centroid_id ASC) AS r
                FROM (SELECT query_id, qv, centroid_id,
                             ${cosSql("qv", "centv")} AS pcos
                      FROM q, cent))
          WHERE r <= 2),
        sc AS (
          SELECT query_id, neighbor_id, inv.centroid_id,
                 ${cosSql("qv", "cv")} AS cos
          FROM inv JOIN p USING (centroid_id)
          WHERE query_id != neighbor_id)
        SELECT query_id, neighbor_id, centroid_id, ROUND(cos, 6) AS cos, rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS rnk FROM sc)
        WHERE rnk <= 5"""

  /** ann_ivf_trained twin: the curation_kmeans CTE chain (k=4, 2 update
    * rounds — QueriesCuration's assign/update builders, so the training
    * arithmetic cannot drift between the two queries) trains the
    * centroids; a2 IS the inverted lists; queries probe their 2 nearest
    * centroids by the training metric and the in-list rerank scores
    * exact cosine — stage for stage the Spark composition.
    */
  private def annIvfTrainedSql: String = {
    import QueriesCuration.{assignSql, dist2Sql, updateSql}
    s"""WITH v AS (
          SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
          FROM embeddings),
        c0 AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                   AS cluster, v
          FROM (SELECT vec_id, v FROM v ORDER BY vec_id LIMIT 4)),
        a0 AS (${assignSql("v", "c0")}),
        c1 AS (${updateSql("a0")}),
        a1 AS (${assignSql("v", "c1")}),
        c2 AS (${updateSql("a1")}),
        a2 AS (${assignSql("v", "c2")}),
        q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 5),
        p AS (
          SELECT query_id, qv, cluster
          FROM (SELECT query_id, qv, cluster,
                       row_number() OVER (PARTITION BY query_id
                         ORDER BY dist, cluster) AS r
                FROM (SELECT q.query_id, q.qv, c.cluster,
                             ${dist2Sql("q.qv", "c.v")} AS dist
                      FROM q, c2 c))
          WHERE r <= 2),
        sc AS (
          SELECT query_id, neighbor_id, cluster,
                 ${cosSql("qv", "cv")} AS cos
          FROM (SELECT vec_id AS neighbor_id, v AS cv, cluster FROM a2) inv
          JOIN p USING (cluster)
          WHERE query_id != neighbor_id)
        SELECT query_id, neighbor_id, cluster AS centroid_id,
               ROUND(cos, 6) AS cos, rnk
        FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                          ORDER BY cos DESC, neighbor_id ASC) AS rnk FROM sc)
        WHERE rnk <= 5"""
  }

  /** The semantic-dedup test corpus, shared by dedup_semantic and
    * dedup_incremental_semantic: the synthetic embeddings are
    * near-orthogonal (max pair cosine ~0.48), so both engines plant the
    * SAME deterministic duplicates — one copy of every 10th vector, a
    * second copy of every 50th. Planted ids offset RELATIVE to max(vec_id)
    * so no scale factor can collide a copy with a real vector (a fixed
    * +100000 breaks once the corpus outgrows it); one metadata-scale max
    * per invocation.
    */
  // containment_dedup: planted 50%-token-prefix sub-docs (every 10th doc,
  // ids offset past max id — the semanticCorpus discipline) sit at
  // jacc ≈ 0.5 but containment 1.0: exactly the sub-duplication the
  // asymmetric measure exists to catch.
  private val ContainMod = 10
  private val ContainThreshold = 0.9

  private def containmentCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val w = Text.tokens(col("text"))
    val prefix = docs.filter(pmod(col("doc_id"), lit(ContainMod)) === 0)
      .select((col("doc_id") + maxId + 1).as("doc_id"),
        array_join(slice(w, lit(1),
          greatest(floor(size(w) / 2), lit(1)).cast("int")), " ").as("text"))
    docs.unionByName(prefix)
  }

  private def semanticCorpus(s: SparkSession, d: String): DataFrame = {
    val e = embeddings(s, d).select(col("vec_id"), col("embedding"))
    val maxId = e.agg(max(col("vec_id"))).head().getLong(0)
    def planted(mod: Int, offset: Long) =
      e.filter(pmod(col("vec_id"), lit(mod)) === 0)
        .select((col("vec_id") + offset).as("vec_id"), col("embedding"))
    e.unionByName(planted(10, maxId + 1))
      .unionByName(planted(50, 2 * maxId + 2))
  }

  /** Spark twin of [[plantedCtes]]: the planted-pair eval corpus and the
    * labeled truth pairs, shared by dedup_recall and dedup_band_sweep.
    * The 60%-token-prefix plant sits at jacc = (k-2)/(n-2) ≈ 0.58 — the
    * zone where banding genuinely misses some pairs, so recall < 1 and
    * the metric measures the banding curve.
    */
  private def plantedEval(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = documents(s, d).select(col("doc_id"), col("text"))
    val off = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
    val exact = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + off).as("doc_id"), col("text"))
    val near = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      .select((col("doc_id") + 2 * off).as("doc_id"),
        concat(col("text"), lit(" zznear")).as("text"))
    val toks = split(col("text"), "\\s+")
    val prefix = docs.filter(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + 3 * off).as("doc_id"),
        array_join(slice(toks, lit(1), ((size(toks) * 3) / 5).cast("int")),
          " ").as("text"))
    val evalCorpus = docs.unionByName(exact).unionByName(near)
      .unionByName(prefix)
    val truth = docs.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(col("doc_id").as("id_a"), (col("doc_id") + off).as("id_b"),
        lit("exact").as("kind"))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(50)) === 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 2 * off).as("id_b"), lit("near").as("kind")))
      .unionByName(docs.filter(pmod(col("doc_id"), lit(25)) === 0)
        .select(col("doc_id").as("id_a"),
          (col("doc_id") + 3 * off).as("id_b"), lit("prefix").as("kind")))
    (evalCorpus, truth)
  }

  val queries: Map[String, QueryFn] = Map(
    "dedup_exact" -> { (s, d) =>
      Dedup.exact(documents(s, d), "text", "doc_id")
    },

    "dedup_minhash" -> { (s, d) =>
      Dedup.minhashDedup(documents(s, d), "text", "doc_id")
    },

    // Train/test contamination audit: per-doc count of minhash-verified
    // near-dups (jacc >= 0.5, exact copies included) sitting in a DIFFERENT
    // hash-split fold — the leakage report a dataset release runs before
    // publishing a split. Leak-sized output, never pair-sized; a duplicated
    // corpus takes the exact-dup rep-collapse path behind the HLL probe.
    "split_leakage" -> { (s, d) =>
      val docs = Assembly.hashSplitLabel(documents(s, d), col("doc_id"),
        LeakFolds, LeakSeed, "fold")
      Dedup.splitLeakage(docs, "text", "doc_id", "fold")
    },

    // Dedup-pipeline EVALUATION (the ann_recall precedent applied to
    // minhash banding): plant exact copies (every 10th doc) and near
    // copies (every 50th, one appended token) with offset ids, then ask —
    // per pair kind — whether the banding would have CAUGHT each known
    // true pair. Truth-pair-driven: signatures join the labeled pairs
    // directly (bandMatch on the pair), so the evaluation never runs the
    // discovery self-join and stays linear in the truth size. The planted
    // corpus + truth construction is shared with dedup_band_sweep.
    "dedup_recall" -> { (s, d) =>
      val (evalCorpus, truth) = plantedEval(s, d)
      val foldFn = graft.functions.BandFold.register(s, 16, 4,
        Dedup.BandFoldPrime)
      val withBands = Dedup.signedShingles(evalCorpus, "text", "doc_id", 3, 64)
        .select(col("doc_id"), col("sh"),
          call_function(foldFn, col("sig")).as("bs"))
      val scored = truth
        .join(withBands.select(col("doc_id").as("id_a"), col("sh").as("sh_a"),
          col("bs").as("ba")), "id_a")
        .join(withBands.select(col("doc_id").as("id_b"), col("sh").as("sh_b"),
          col("bs").as("bb")), "id_b")
        .select(col("kind"), Text.jaccard(col("sh_a"), col("sh_b")).as("jacc"),
          Dedup.bandMatch(col("ba"), col("bb"), 16).as("detected"))
      scored.groupBy(col("kind")).agg(
        count(lit(1)).as("n_pairs"),
        sum(when(col("jacc") >= 0.5, 1L).otherwise(0L)).as("n_true"),
        sum(when(col("jacc") >= 0.5 && col("detected"), 1L).otherwise(0L))
          .as("n_detected"))
        .withColumn("recall", round(col("n_detected").cast("double") /
          greatest(col("n_true"), lit(1L)), 6))
    },

    // The banding TUNING curve (quality_threshold_sweep applied to LSH):
    // per-(bands, rows) recall on the same planted pairs, every setting a
    // split of ONE 64-perm signature pass — per-row fold expressions on
    // the shared signature frame, the truth join runs once, and the
    // settings stack through a per-row explode (no per-setting scans, no
    // self-joins). The S-curve P=1-(1-j^r)^b surfaces measurably: 32x2
    // catches nearly all jacc~0.58 prefix pairs, 16x4 some, 8x8 few.
    "dedup_band_sweep" -> { (s, d) =>
      val (evalCorpus, truth) = plantedEval(s, d)
      val fns = BandSweepSettings.map { case (b, r) =>
        (b, r, graft.functions.BandFold.register(s, b, r,
          Dedup.BandFoldPrime))
      }
      val withBands = Dedup.signedShingles(evalCorpus, "text", "doc_id",
        3, 64)
        .select(col("doc_id") +: col("sh") +:
          fns.map { case (b, _, fn) =>
            call_function(fn, col("sig")).as(s"bs$b") }: _*)
      val scored = truth
        .join(withBands.select(col("doc_id").as("id_a") +:
          col("sh").as("sh_a") +:
          fns.map { case (b, _, _) => col(s"bs$b").as(s"ba$b") }: _*),
          "id_a")
        .join(withBands.select(col("doc_id").as("id_b") +:
          col("sh").as("sh_b") +:
          fns.map { case (b, _, _) => col(s"bs$b").as(s"bb$b") }: _*),
          "id_b")
        .select(col("kind") +:
          Text.jaccard(col("sh_a"), col("sh_b")).as("jacc") +:
          fns.map { case (b, _, _) =>
            Dedup.bandMatch(col(s"ba$b"), col(s"bb$b"), b).as(s"d$b") }: _*)
      scored
        .select(col("kind"), col("jacc"), explode(array(
          fns.map { case (b, r, _) =>
            struct(lit(b).as("bands"), lit(r).as("rows_per_band"),
              col(s"d$b").as("detected"))
          }: _*)).as("st"))
        .select(col("kind"), col("jacc"), col("st.bands"),
          col("st.rows_per_band"), col("st.detected"))
        .groupBy(col("bands"), col("rows_per_band"), col("kind"))
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(col("jacc") >= 0.5, 1L).otherwise(0L)).as("n_true"),
          sum(when(col("jacc") >= 0.5 && col("detected"), 1L).otherwise(0L))
            .as("n_detected"))
        .withColumn("recall", round(col("n_detected").cast("double") /
          greatest(col("n_true"), lit(1L)), 6))
    },

    "dedup_cluster" -> { (s, d) =>
      Dedup.dupClusters(documents(s, d), "text", "doc_id")
        .select(col("doc_id"), col("cluster_id"),
          col("cluster_size").cast("long").as("cluster_size"),
          col("is_canonical"))
    },

    // SOFT dedup (the keep-everything alternative for data-scarce
    // regimes, e.g. Muennighoff et al. 2023's repeated-data scaling):
    // instead of dropping near-duplicates, every doc carries weight
    // 1/cluster_size, so a cluster's total training mass stays 1 however
    // many copies the crawl returned. Rides dupClusters unchanged — same
    // bucket-bounded candidates, same connected-components closure.
    "dedup_soft_weights" -> { (s, d) =>
      Dedup.dupClusters(documents(s, d), "text", "doc_id")
        .select(col("doc_id"), col("cluster_id"),
          col("cluster_size").cast("long").as("cluster_size"),
          round(lit(1.0) / col("cluster_size"), 6).as("weight"))
    },

    // Cross-run incremental dedup: build the persisted minhash index from
    // the base corpus (run 1), ingest the increment against the STORED
    // index (run 2 — only increment signatures computed), then label the
    // union. Must equal from-scratch dupClusters on the whole table, which
    // is exactly what the dedup_cluster oracle computes.
    "dedup_incremental" -> { (s, d) =>
      import graft.operators.IncrementalDedup
      val root = java.nio.file.Paths.get("/tmp/graft_scratch/dedup_incremental")
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
      val docs = documents(s, d)
      IncrementalDedup.update(s, root,
        docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "text", "doc_id",
        genKey = "run-base")
      IncrementalDedup.update(s, root,
        docs.filter(pmod(col("doc_id"), lit(5)) === 0), "text", "doc_id",
        genKey = "run-increment")
      IncrementalDedup.clusters(s, root)
        .select(col("doc_id"), col("cluster_id"),
          col("cluster_size").cast("long").as("cluster_size"),
          col("is_canonical"))
    },

    // Cross-run incremental SEMANTIC dedup: the same rebuild-only-stale
    // discipline applied to the SemDeDup embedding index — build the
    // persisted pinned-plane LSH index from the base crawl, ingest the
    // increment against the STORED vectors (level 1 absorbs re-crawled
    // identical embeddings as membership rows; only new distinct vectors
    // bucket), then label the union. Must equal from-scratch
    // semanticClusters on the whole corpus — the dedup_semantic oracle.
    "dedup_incremental_semantic" -> { (s, d) =>
      import graft.operators.IncrementalSemanticDedup
      val root = java.nio.file.Paths.get(
        "/tmp/graft_scratch/dedup_incremental_semantic")
      org.apache.commons.io.FileUtils.deleteQuietly(root.toFile)
      val corpus = semanticCorpus(s, d)
      val p = IncrementalSemanticDedup.Params(planes = 6, dim = 64,
        threshold = 0.95)
      IncrementalSemanticDedup.update(s, root,
        corpus.filter(pmod(col("vec_id"), lit(5)) =!= 0), "embedding",
        "vec_id", genKey = "crawl-base", p)
      IncrementalSemanticDedup.update(s, root,
        corpus.filter(pmod(col("vec_id"), lit(5)) === 0), "embedding",
        "vec_id", genKey = "crawl-increment", p)
      IncrementalSemanticDedup.clusters(s, root)
        .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
          col("is_canonical"))
    },

    "dedup_simhash" -> { (s, d) =>
      Dedup.simhashDedup(documents(s, d), "text", "doc_id")
        .select(col("doc_id"), col("simhash"),
          col("n_candidates").cast("long").as("n_candidates"))
    },

    "ngram_jaccard" -> { (s, d) =>
      val sh = array_distinct(Text.shingles(Text.tokens(col("text")), 3))
      val base = documents(s, d).select(col("doc_id"), sh.as("sh"))
      val a = base.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = base.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          Text.jaccard(col("sh_a"), col("sh_b")).as("jacc"))
    },

    "dedup_embed_cosine" -> { (s, d) =>
      Similarity.embedCosinePairs(embeddings(s, d), "vec_id", "embedding",
        lookahead = 3, threshold = 0.95)
        .select(col("id_a"), col("id_b"), round(col("cos"), 6).as("cos"),
          col("is_near_dup"))
    },

    // Asymmetric CONTAINMENT dedup: |A∩B|/|A| catches sub/superset
    // duplication (a quoted excerpt, a page + boilerplate) that symmetric
    // Jaccard dilutes below any threshold — the planted 50%-prefix
    // sub-docs land at cont 1.0 / jacc ≈ 0.5. Candidates come from the
    // SAME band buckets as minhash dedup (bucket-bounded, never
    // all-pairs); exact distinct-set arithmetic on candidates only.
    "containment_dedup" -> { (s, d) =>
      // exact-dup pre-collapse (the dupClusters discipline): only DISTINCT
      // texts sign and bucket — on a replicated corpus every exact copy
      // would otherwise band-collide quadratically (measured 5.2x at the
      // sf0.1→sf1 step); inert where texts are distinct
      val base = containmentCorpus(s, d).withColumn("__h",
        sha2(col("text"), 256))
      val reps = base.join(
        base.groupBy(col("__h")).agg(min(col("doc_id")).as("doc_id")),
        Seq("__h", "doc_id")).drop("__h")
      Dedup.minhashContainmentPairs(reps, "text", "doc_id")
        .select(col("id_a"), col("id_b"), col("cont_a"), col("cont_b"),
          (col("cont_a") >= ContainThreshold ||
            col("cont_b") >= ContainThreshold).as("is_contained"))
    },

    // Semantic duplicate clustering (SemDeDup shape): LSH buckets bound the
    // pairs, exact cosine verifies, connected components label clusters.
    // The clustering path (bucket agreement, threshold edges, transitive
    // closure, canonical keep) over semanticCorpus's planted duplicates is
    // what's under test, the same pattern pii_scrub uses for a PII-free
    // corpus.
    "dedup_semantic" -> { (s, d) =>
      Similarity.semanticClusters(semanticCorpus(s, d), "vec_id", "embedding",
        planes = 6, dim = 64, threshold = 0.95)
        .select(col("vec_id"), col("cluster_id"), col("cluster_size"),
          col("is_canonical"))
    },

    // Semantic benchmark decontamination: the embedding-space pillar beside
    // decontam_fuzzy's n-gram minhash — benchmark vectors (vec_id % 17 = 0,
    // a held-out suite overlapping the corpus, which is exactly the leak
    // the audit hunts) broadcast their LSH bucket keys; corpus vectors
    // verify exact cosine on bucket-mates only. The corpus never shuffles.
    // The benchmark slice is ID-CAPPED (the hard_negatives lesson): a real
    // benchmark is a FIXED suite, so it must not grow with the corpus — a
    // modulus alone made it 117k vectors at sf100, blowing the operator's
    // deliberate broadcast budget (caught by the full-surface sweep; the
    // cap is a no-op at the sf0.01 gate, whose ids all sit below it).
    "decontam_semantic" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.decontamSemantic(e,
        e.filter(pmod(col("vec_id"), lit(17)) === 0 &&
          col("vec_id") < SemBenchCap),
        "vec_id", "embedding", threshold = 0.95, planes = 6, dim = 64)
    },

    "ann_bruteforce" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.annBruteForceAgg(e.filter(col("vec_id") < 5), e, "vec_id",
        "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 6).as("cos"), col("rank").as("rnk"))
    },

    // Hard-negative mining for contrastive training (the retrieval-model
    // data op): per query, the MOST similar corpus vector that is NOT a
    // near-duplicate (cos < 0.95, the dedup_embed_cosine bar) — similar
    // enough to be informative, distinct enough not to be a false
    // negative — plus the count of near-dup candidates excluded. Mined
    // over the planted-duplicate corpus (every %40 query id is %10, so
    // each query carries at least one planted exact copy the bar must
    // reject — the exclusion path is live, not decorative). The
    // annBruteForceAgg posture: query side broadcasts, corpus scans once,
    // ONE partial-aggregated struct-argmax — Q rows leave the shuffle.
    // The query slice is BOUNDED (id cap, constant under ScaleUp's
    // disjoint-key replication): brute-force mining is the per-batch
    // shape — Q fixed, cost linear in the corpus. Mining negatives for
    // EVERY doc goes through the LSH/IVF index path (ann_lsh/ann_ivf),
    // never a corpus×corpus cross.
    "hard_negatives" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.hardNegatives(
        e.filter(pmod(col("vec_id"), lit(40)) === 0 &&
          col("vec_id") < 2000), semanticCorpus(s, d),
        "vec_id", "embedding", dupThreshold = 0.95)
    },

    "ann_lsh" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.annLsh(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
        k = 5, planes = 6, dim = 64)
        .select(col("query_id"), col("neighbor_id"), col("bucket"),
          round(col("cos"), 6).as("cos"), col("rank").as("rnk"))
    },

    "ann_ivf" -> { (s, d) =>
      val e = embeddings(s, d)
      // stats artifact: the stride's corpus count caches under the scratch
      // root keyed by the parquet stat snapshot — only the FIRST invocation
      // per corpus pays the count scan
      Similarity.annIvf(e.filter(col("vec_id") < 5), e, "vec_id", "embedding",
        k = 5, minStride = 37L, nprobe = 2,
        statsCache = Some(java.nio.file.Paths.get("/tmp/graft_scratch/ivf_stats")))
        .select(col("query_id"), col("neighbor_id"), col("centroid_id"),
          round(col("cos"), 6).as("cos"), col("rank").as("rnk"))
    },

    // IVF over a TRAINED coarse quantizer (the annIvf doc's promised slot):
    // deterministic Lloyd k-means (the curation_kmeans discipline, k=4,
    // 2 rounds) trains the centroids, assignment and probing run in the
    // training metric (squared Euclidean), the in-list rerank scores exact
    // cosine. The oracle re-runs the identical composition: the kmeans CTE
    // chain feeds the probe/rerank CTEs.
    "ann_ivf_trained" -> { (s, d) =>
      val e = embeddings(s, d)
      Similarity.annIvfTrained(e.filter(col("vec_id") < 5), e, "vec_id",
        "embedding", k = 5, kCentroids = 4, iters = 2, nprobe = 2)
        .select(col("query_id"), col("neighbor_id"), col("centroid_id"),
          round(col("cos"), 6).as("cos"), col("rank").as("rnk"))
    },

    "lang_id" -> { (s, d) =>
      val t = col("text")
      val scores = Text.LangPriority.map(l => Text.langScore(t, l))
      documents(s, d).select(col("doc_id"),
        Text.langId(t).as("lang_pred"),
        greatest(scores: _*).as("score_max"))
    },

    // Classifier evaluation against the corpus's ground-truth lang column:
    // per (truth, prediction) confusion cell — the eval loop a pipeline
    // runs before trusting a heuristic filter at scale.
    "lang_id_eval" -> { (s, d) =>
      documents(s, d)
        .groupBy(col("lang"), Text.langId(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .withColumn("correct", col("lang") === col("lang_pred"))
    },

    "quality_score" -> { (s, d) =>
      documents(s, d).select(col("doc_id"),
        Text.qualityScore(col("text")).as("quality"))
    },

    // Post-training preference-pair mining (the public DPO/RLHF data
    // discipline): within each prompt group — (source, lang) stands in
    // for the prompt key — pick the argmax-quality doc as `chosen` and
    // the argmin as `rejected` (doc_id tiebreak both ways), and keep only
    // pairs whose reward margin clears the floor (low-margin pairs are
    // label noise). ONE partial-aggregated groupBy: max/min over
    // (quality, id) structs — group-sized rows leave the shuffle, never
    // documents; no window, no sort, no self-join.
    "preference_pairs" -> { (s, d) =>
      val scored = documents(s, d).select(col("source"), col("lang"),
        col("doc_id"), Text.qualityScore(col("text")).as("q"))
      scored.groupBy(col("source"), col("lang"))
        .agg(
          max(struct(col("q"), (-col("doc_id")).as("nid"))).as("c"),
          min(struct(col("q"), col("doc_id"))).as("r"),
          count(lit(1)).as("n"))
        .where(col("n") >= 2)
        .select(col("source"), col("lang"),
          (-col("c.nid")).as("chosen_id"),
          col("r.doc_id").as("rejected_id"),
          col("c.q").as("chosen_q"), col("r.q").as("rejected_q"),
          round(col("c.q") - col("r.q"), 6).as("margin"))
        .where(col("margin") >= PrefMarginMin)
    },

    // Post-training SFT assembly (preference_pairs' sibling): render each
    // document into the fixed chat template — first SftPromptWords
    // whitespace words as the user turn, the remainder as the assistant
    // turn — and carry the two numbers every SFT loader needs: the
    // loss-mask boundary (tokens through '<|assistant|>', masked from the
    // loss) and the total token count against the training context.
    // Pure per-row string work: scan + filter + codegen'd expressions,
    // ZERO shuffles, embarrassingly parallel at any corpus size.
    "sft_pack" -> { (s, d) => sftPackFrame(documents(s, d)) },

    // Fuzzy benchmark decontamination: corpus docs (doc_id % 50 != 0)
    // screened against a held-out benchmark slice (doc_id % 50 == 0) via
    // minhash buckets + exact-Jaccard confirm — the near-duplicate leak
    // check exact n-gram decontam (curation_decontam) can't catch. The
    // benchmark side broadcasts; the corpus never self-joins.
    "decontam_fuzzy" -> { (s, d) =>
      val docs = documents(s, d)
      val corpus = docs.filter(pmod(col("doc_id"), lit(50)) =!= 0)
      val bench = docs.filter(pmod(col("doc_id"), lit(50)) === 0)
      graft.operators.Curation.decontaminateFuzzy(corpus, bench,
        "doc_id", "text", threshold = 0.5)
        .select(col("doc_id"), col("n_candidates"), col("n_matches"),
          round(col("max_jacc"), 6).as("max_jacc"), col("keep"))
    },

    // Corpus vocabulary construction: global top-k tokens by frequency with
    // a deterministic (count desc, word asc) tiebreak — the first pass of
    // tokenizer training. Two-phase: partial counts map-side, then a global
    // TakeOrdered over the distinct-token set (bounded by vocabulary, not
    // corpus size).
    "vocab_topk" -> { (s, d) =>
      val k = 50
      val counts = documents(s, d)
        .select(explode(Text.tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("word").asc).limit(k)
      counts.withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n").desc, col("word").asc)).cast("int"))
    },

    // BPE merge training (the second pass of tokenizer training, after
    // vocab_topk's counts): k rounds of corpus-weighted adjacent-pair
    // counting → deterministic best pair (count desc, pair asc) → leftmost
    // non-overlapping merge. One corpus-sized aggregate up front; every
    // round after runs on the vocabulary with a constant per-round plan.
    "bpe_merges" -> { (s, d) =>
      graft.operators.Bpe.mergesFrame(documents(s, d), "text", BpeRounds)
    },

    // The THIRD tokenizer family: WordPiece merge training (BERT's
    // likelihood criterion — merge the pair maximizing count(pair) /
    // (count(lhs)·count(rhs)), ## continuation markers on non-initial
    // symbols). Same scale posture as BPE: one corpus aggregate, then
    // vocabulary-bounded rounds with checkpoint-pinned plan depth. The
    // emitted evidence is integer (pair + symbol counts — the score is
    // derivable), so the head hash-verifies exactly.
    "wordpiece_merges" -> { (s, d) =>
      import s.implicits._
      graft.operators.WordPiece.train(documents(s, d), "text", BpeRounds)
        .merges.toDF("rnd", "lhs", "rhs", "cnt", "lhs_cnt", "rhs_cnt")
    },

    // Tokenizer APPLICATION (the third pass, closing the loop after
    // vocab_topk's counts and bpe_merges' training): per-document token
    // accounting under the trained merges. The encode map is the training
    // loop's fully-merged vocabulary; documents collapse to term
    // frequencies before joining it, so no corpus row re-runs a merge fold.
    "bpe_encode" -> { (s, d) =>
      graft.operators.Bpe.encodeStats(documents(s, d), "doc_id", "text",
        BpeRounds)
    },

    // The tokenizer ARTIFACT round trip (the reference's save/load_scaler
    // discipline applied to the merge table): train on the 4/5 split, save
    // the JSON artifact, hydrate it, encode the FULL corpus — words the
    // training split never saw still segment (characters + whichever
    // learned merges apply), the open-vocabulary BPE behavior. No
    // retraining job runs on the encode side, and the fit itself is
    // TRAIN-IF-MISSING (TokenizerCache, fingerprint-keyed on the corpus
    // walk — r14 ask #4): the first run trains, later runs hydrate.
    "bpe_artifact" -> { (s, d) =>
      import graft.operators.Bpe
      val docs = documents(s, d)
      val path = graft.pipeline.TokenizerCache.ensure(TokCacheRoot,
        graft.pipeline.TokenizerCache.state("bpe", BpeRounds, "mod5",
          s"$d/documents.parquet")) { p =>
        Bpe.saveTokenizer(p.toString, Bpe.merges(
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "text", BpeRounds))
      }
      Bpe.encodeStatsWith(docs, "doc_id", "text",
        Bpe.loadTokenizer(path.toString))
    },

    // The WordPiece artifact round trip — the third tokenizer family gets
    // the same train-once discipline as BPE (55o) and unigram (55q): train
    // the likelihood-scored merges on the 4/5 split, persist the JSON
    // (merge table WITH its integer evidence), hydrate, encode the FULL
    // corpus — out-of-training-vocabulary words still segment (initial
    // char + ## continuations + whichever stored merges apply; no [UNK]
    // sink needed, coverage is total by construction). Per-doc fertility
    // (tokens per word) rides along — the number a tokenizer owner reads.
    "wordpiece_artifact" -> { (s, d) =>
      import graft.operators.WordPiece
      val docs = documents(s, d)
      val path = graft.pipeline.TokenizerCache.ensure(TokCacheRoot,
        graft.pipeline.TokenizerCache.state("wordpiece", BpeRounds, "mod5",
          s"$d/documents.parquet")) { p =>
        WordPiece.saveTokenizer(p.toString, WordPiece.train(
          docs.filter(pmod(col("doc_id"), lit(5)) =!= 0), "text", BpeRounds)
          .merges)
      }
      WordPiece.encodeStatsWith(docs, "doc_id", "text",
          WordPiece.loadTokenizer(path.toString))
        .select(col("doc_id"), col("n_words"), col("n_chars"),
          col("n_tokens"),
          round(col("n_tokens").cast("double") /
            greatest(col("n_words"), lit(1L)), 6).as("fertility"))
    },

    // PRODUCTION WordPiece inference (r14 verdict ask #7): greedy
    // longest-match segmentation against the trained PIECE vocabulary —
    // the algorithm BERT's WordpieceTokenizer runs at serve time, as
    // opposed to the merge-chain replay the other wordpiece heads use.
    // Maximal munch can strand a tail the replay would have segmented;
    // such words become ONE [UNK] token (the BERT contract) and n_unk
    // counts them — the deviation this head exists to measure. The piece
    // set is alphabet+rounds bounded (collected, rides the codegen'd
    // WordPieceLmm fold); the oracle replays the same greedy walk as a
    // recursive CTE over the same replayed piece vocabulary.
    "wordpiece_encode_lmm" -> { (s, d) =>
      import graft.operators.WordPiece
      val docs = documents(s, d)
      val path = graft.pipeline.TokenizerCache.ensure(TokCacheRoot,
        graft.pipeline.TokenizerCache.state("wordpiece", BpeRounds, "full",
          s"$d/documents.parquet")) { p =>
        WordPiece.saveTokenizer(p.toString,
          WordPiece.train(docs, "text", BpeRounds).merges)
      }
      val merges = WordPiece.loadTokenizer(path.toString)
      val (headP, contP) = WordPiece.pieceVocab(docs, "text", merges)
      val fn = graft.functions.WordPieceLmm.register(s, headP, contP)
      docs.select(col("doc_id"),
          call_function(fn,
            filter(Text.tokens(col("text")), w => w =!= "")).as("st"))
        .select(col("doc_id"), col("st.n_words"), col("st.n_chars"),
          col("st.n_tokens"), col("st.n_unk"))
        // zero-token docs are absent, matching the oracle's tf join
        .where(col("n_words") > 0)
    },

    // Tokenizer EVALUATION: per-source fertility (tokens per word) and
    // compression (chars per token) under the trained merges — the metrics
    // a tokenizer owner reads before adopting a vocabulary for a corpus
    // mix. Integer token/word/char totals aggregate exactly; each report
    // value is one IEEE division rounded 6.
    "tokenizer_fertility" -> { (s, d) =>
      val docs = documents(s, d)
      graft.operators.Bpe.encodeStats(docs, "doc_id", "text", BpeRounds)
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(sum(col("n_words")).as("n_words"),
          sum(col("n_tokens")).as("n_tokens"),
          sum(col("n_chars")).as("n_chars"))
        .select(col("source"), col("n_words"), col("n_tokens"),
          round(col("n_tokens").cast("double") /
            greatest(col("n_words"), lit(1L)), 6).as("fertility"),
          round(col("n_chars").cast("double") /
            greatest(col("n_tokens"), lit(1L)), 6).as("chars_per_token"))
    },

    // Per-document salient terms by tf-idf (top 3, term-asc tiebreak) —
    // the keyword/topic feature a curation pipeline derives per doc. The
    // per-doc window is bounded by document vocabulary (≤ doc length), so
    // the rank never funnels unbounded cardinality; df comes from one
    // vocabulary-sized aggregate joined back.
    "tfidf_topterms" -> { (s, d) =>
      val docs = documents(s, d)
      val toks = docs.select(col("doc_id"),
        explode(Text.tokens(col("text"))).as("term"))
      // the (doc_id, term) aggregate partial-aggregates map-side before
      // its exchange (a doc_id-only repartition would ship RAW token
      // rows — measured 2.4x worse at sf0.1); the df table is
      // vocabulary-bounded -> broadcast UNDER THE GUARD's corpus-scan
      // ceiling (never a term-keyed co-shuffle of the corpus-scale tf
      // frame at test scales) and a shuffled join above it (crawl-noise
      // vocabularies outgrow any broadcast cap — VocabGuard); n_docs is a
      // metadata-scale count folded to a literal
      val tf = toks.groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
      // df = docs-containing-term, deduped ROW-LOCALLY (array_distinct
      // inside each doc's token array) before one vocab-keyed partial
      // aggregate — the previous tf.groupBy(term) derivation re-ran the
      // corpus explode AND its (doc_id, term) exchange on this side too
      // (column pruning makes the two tf subtrees differ, so Catalyst
      // never reuses the exchange — probed r15: 2 Generates, 0 reuse)
      val dfreq = docs.select(
          explode(array_distinct(Text.tokens(col("text")))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs.select(count(lit(1)).as("n_docs"))
      val scored = tf.join(
          graft.pipeline.VocabGuard.hint(dfreq, docs, "tfidf_topterms.df"),
          "term")
        .crossJoin(broadcast(n))
        .withColumn("tfidf",
          col("tf") * log(col("n_docs").cast("double") / col("df")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("term").asc)
      scored.withColumn("rnk", row_number().over(w).cast("int"))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("term"),
          round(col("tfidf"), 6).as("tfidf"), col("rnk"))
    },

    "token_count" -> { (s, d) =>
      documents(s, d).select(col("doc_id"),
        Text.tokenCountWs(col("text")).cast("long").as("ws_tokens"),
        Text.tokenCountBpe(col("text")).cast("long").as("bpe_tokens"))
    },

    "doc_fingerprint" -> { (s, d) =>
      // codegen'd custom expression; Text.fingerprint is the HOF reference
      // implementation (spec-proven identical on ASCII corpora)
      graft.functions.PolyHash.register(s)
      documents(s, d).select(col("doc_id"), expr("poly_hash(text)").as("fp"))
    },

    "multimodal_meta" -> { (s, d) =>
      val media = Multimodal.asMediaTable(documents(s, d), "doc_id", "text")
      Multimodal.featuresExpr(media)
        .select(col("media_id"), col("payload_len").cast("long").as("payload_len"),
          col("first_byte").cast("long").as("first_byte"),
          col("width").cast("long").as("width"), col("height").cast("long").as("height"),
          col("brightness"))
    },

    // Real JDK audio decode: payload bytes → synthetic PCM WAV →
    // AudioSystem container parse → frame stats. The oracle recomputes the
    // same stats straight off the bytes, so a header/framing bug on the
    // decode path fails the hash.
    "multimodal_audio" -> { (s, d) =>
      val media = Multimodal.asMediaTable(documents(s, d), "doc_id", "text")
      Multimodal.audioFeatures(s, media)
        .toDF()
        .select(col("media_id"), col("sample_rate").cast("long").as("sample_rate"),
          col("n_frames"), col("mean_amplitude"))
    },

    // Real container-level video frame sampling: payload bytes → synthetic
    // luma-only y4m clip → genuine stream parse (magic, W/H/C params, FRAME
    // markers, fixed-size plane reads) → every 2nd frame sampled for luma
    // stats. Width/height/frame count come from the PARSED container, so a
    // header or framing bug fails the hash; the oracle recomputes the
    // sampled-frame luma sum straight off the text bytes.
    "multimodal_video" -> { (s, d) =>
      val media = Multimodal.asMediaTable(documents(s, d), "doc_id", "text")
      Multimodal.videoFeatures(s, media).toDF()
        .select(col("media_id"), col("width"), col("height"),
          col("n_frames"), col("n_sampled"), col("mean_luma"))
    },

    "text_normalize" -> { (s, d) =>
      documents(s, d).select(col("doc_id"),
        Text.normalize(col("text")).as("norm_text"))
    },

    // The synthetic corpus carries no PII, so both engines assemble the SAME
    // deterministic PII-laden text from (source, doc_id) and then scrub it —
    // the redaction path is what's under test, end to end.
    "pii_scrub" -> { (s, d) =>
      val pii = concat(
        lit("contact "), col("source"), col("doc_id").cast("string"),
        lit("@example.com or +1 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" via https://"), col("source"), lit(".example/"),
        col("doc_id").cast("string"), lit(" :: "),
        substring(col("text"), 1, 40))
      documents(s, d).select(col("doc_id"),
        Text.scrubPii(pii).as("scrubbed"))
    },

    "repetition_ratio" -> { (s, d) =>
      val toks = Text.tokens(col("text"))
      documents(s, d).select(col("doc_id"),
        size(toks).cast("long").as("n_tokens"),
        size(array_distinct(toks)).cast("long").as("n_distinct"),
        Text.repetitionRatio(col("text")).as("rep_ratio"))
    },

    // Concat-then-chop sequence packing (the standard LLM pretraining
    // packing): per-source running token offsets chop into fixed L-token
    // packs. Packing is per source shard — cumulative sums stay inside a
    // partition key, no global ordering at 100 TB.
    "sequence_pack" -> { (s, d) =>
      val L = 512
      val toks = Text.tokenCountWs(col("text")).cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      documents(s, d)
        .select(col("doc_id"), col("source"), toks.as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens"))
          .over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          (col("cum") - col("n_tokens")).as("start_off"),
          ((col("cum") - col("n_tokens")) / L).cast("long").as("pack_id"),
          (greatest(col("cum") - 1, col("cum") - col("n_tokens")) / L).cast("long")
            .as("end_pack_id"))
        .withColumn("crosses_boundary", col("end_pack_id") =!= col("pack_id"))
    },

    // Packing EVALUATION (sequence_pack's report card): per source — how
    // many docs the concat-then-chop split across a pack boundary
    // (fragmentation the loader pays in attention masking) and how full
    // the packs run (the padding waste packing exists to remove; only the
    // final partial pack can be short). Same per-source window as
    // sequence_pack, then one partial-aggregated groupBy — source-count
    // rows leave the shuffle.
    "pack_efficiency" -> { (s, d) =>
      val L = 512
      val toks = Text.tokenCountWs(col("text")).cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("doc_id"))
      val nSplit = sum(when(col("split"), 1L).otherwise(0L))
      val nPacks = (((max(col("cum")) - 1) / L).cast("long") + 1L)
      documents(s, d)
        .select(col("doc_id"), col("source"), toks.as("n_tokens"))
        .withColumn("cum", sum(col("n_tokens"))
          .over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
        .select(col("source"), col("cum"),
          (((col("cum") - col("n_tokens")) / L).cast("long") =!=
            (greatest(col("cum") - 1, col("cum") - col("n_tokens")) / L)
              .cast("long")).as("split"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          nSplit.as("n_split"),
          round(nSplit.cast("double") / count(lit(1)), 6).as("split_frac"),
          nPacks.as("n_packs"),
          round(max(col("cum")).cast("double") /
            (nPacks * L).cast("double"), 6).as("fill_frac"))
    },

    // Int8-style quantization round-trip: per-vector scale = max|x|/127,
    // floor-quantize (floor is engine-portable; banker's-vs-half-up round
    // is not), dequantize, report the max reconstruction error.
    "embed_quantize" -> { (s, d) =>
      val v = Similarity.toDouble(col("embedding"))
      val scale = greatest(
        aggregate(v, lit(0.0), (acc, x) => greatest(acc, abs(x))) / 127.0,
        lit(1e-12))
      embeddings(s, d)
        .select(col("vec_id"), v.as("v"), scale.as("raw_scale"))
        // NOTE: the error fold must see the RAW scale; rounding happens in a
        // separate select because Spark 4's lateral column aliasing would
        // otherwise bind col("scale") to the rounded sibling alias.
        .select(col("vec_id"), col("raw_scale"),
          round(aggregate(
            zip_with(col("v"),
              transform(col("v"),
                x => floor(x / col("raw_scale")) * col("raw_scale")),
              (x, dq) => abs(dq - x)),
            lit(0.0), (acc, e) => greatest(acc, e)), 6).as("max_err"))
        .select(col("vec_id"), round(col("raw_scale"), 6).as("scale"),
          col("max_err"))
    },

    // Per-label mean embedding (class centroids): element-wise exact
    // decimal means via posexplode + two-level aggregation — the mergeable
    // shape; no vector ever collects to the driver. Emitted as one row per
    // (label, position) with a round-6 mean so every column is a scalar the
    // driver's comparator can hash (it cannot hash array cells).
    "label_centroids" -> { (s, d) =>
      embeddings(s, d)
        .select(col("label"), posexplode(Similarity.toDouble(col("embedding")))
          .as(Seq("pos", "x")))
        .groupBy(col("label"), col("pos"))
        .agg(round(sumDec(col("x"), 6) / count(col("x")), 6).as("m"),
          count(col("x")).as("n_vectors"))
        .select(col("label"), col("pos"), col("m"), col("n_vectors"))
    },

    // Unigram language-model scoring: token frequencies fitted over the
    // whole corpus (the vocabulary is a bounded dimension → broadcast),
    // each document scored by its mean token log-probability — the
    // statistical quality filter of a training-data pipeline. Exact decimal
    // mean of per-token logs keeps the score engine-portable.
    // Held-out NLL eval: fit an add-1-smoothed unigram LM on the train
    // fold (the hash_split discipline) and score the TEST fold — the
    // distribution-shift check a published split ships with (a fold whose
    // mean NLL diverges was not drawn iid). Vocab-bounded freq join
    // (broadcast), per-token round6 log on the unigram_logprob grid, one
    // lang-keyed exact-decimal aggregate; the two LM scalars (train token
    // count, vocab size) are a metadata-scale driver hop at plan build.
    "heldout_nll" -> { (s, d) =>
      val docs = graft.operators.Assembly.hashSplitLabel(
        documents(s, d).select(col("lang"), col("doc_id"), col("text")),
        col("doc_id"), HeldoutFolds, HeldoutSeed, "fold")
        .select(col("lang"), col("fold"), col("text"))
      val toks = docs.select(col("lang"), col("fold"),
        explode(Text.tokens(col("text"))).as("tok"))
      val train = toks.filter(col("fold") === "train")
      val st = train.agg(count(lit(1)).as("n"),
        countDistinct(col("tok")).as("v")).head()
      val denom = (st.getLong(0) + st.getLong(1)).toDouble
      val freq = train.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      toks.filter(col("fold") === "test")
        // vocab-broadcast guard: freq is distinct-token sized — forced
        // broadcast under the corpus-scan ceiling, shuffled join above it
        .join(graft.pipeline.VocabGuard.hint(freq, docs, "heldout_nll.freq"),
          Seq("tok"), "left")
        .select(col("lang"), col("cnt"),
          round(log((coalesce(col("cnt"), lit(0L)).cast("double") + 1.0)
            / denom), 6).as("lp"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("n_tokens"),
          sum(when(col("cnt").isNull, 1L).otherwise(0L)).as("n_unseen"),
          round(sumDec(-col("lp"), 6) / count(lit(1)), 6).as("mean_nll"))
    },

    "unigram_logprob" -> { (s, d) =>
      val docs = documents(s, d)
      val toks = docs
        .select(col("doc_id"), explode(Text.tokens(col("text"))).as("tok"))
      // vocabulary-bounded AT TEST SCALES: checkpoint so the corpus pays
      // ONE counting pass — the total reads off the materialized table
      // instead of a second corpus count — and the join hint goes through
      // the vocab-broadcast guard (forced broadcast under the corpus-scan
      // ceiling, shuffled join above it: a crawl-noise vocabulary outgrows
      // any broadcast cap)
      val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val total = freq.agg(sum(col("cnt"))).head().getLong(0)
      toks.join(graft.pipeline.VocabGuard.hint(freq, docs,
          "unigram_logprob.freq"), Seq("tok"))
        .select(col("doc_id"),
          log(col("cnt").cast("double") / total.toDouble).as("lp"))
        .groupBy(col("doc_id"))
        .agg(round(sumDec(round(col("lp"), 6), 6) / count(lit(1)), 6)
          .as("mean_logprob"),
          count(lit(1)).cast("long").as("n_tokens"))
    },

    // The composed corpus-quality gate a training pipeline actually runs:
    // language allowlist ∧ quality floor ∧ repetition ceiling, one codegen'd
    // pass, with the per-signal verdicts kept for auditability.
    "corpus_filter" -> { (s, d) =>
      val t = col("text")
      documents(s, d).select(col("doc_id"),
        (Text.langId(t) === "en").as("lang_ok"),
        (Text.qualityScore(t) >= 0.3).as("quality_ok"),
        (Text.repetitionRatio(t) <= 0.8).as("repetition_ok"))
        .withColumn("keep",
          col("lang_ok") && col("quality_ok") && col("repetition_ok"))
    },

    // End-to-end dedup journey: exact + near-dup clustering → keep exactly
    // one canonical doc per cluster. The output is the deduplicated corpus
    // id set — what a user feeds downstream.
    "dedup_keep" -> { (s, d) =>
      Dedup.dupClusters(documents(s, d), "text", "doc_id")
        .select(col("doc_id"), col("cluster_id"))
        .where(col("doc_id") === col("cluster_id"))
        .select(col("doc_id"))
    }
  )

  /** decontam_fuzzy twin: the full cross-corpus minhash pipeline per side
    * (corpus = doc_id % 50 != 0, benchmark = the rest), bucket-join
    * candidates, exact-Jaccard confirm, per-corpus-doc report.
    */
  private def decontamFuzzySql: String = {
    val p = Dedup.MersennePrime
    val fp = Dedup.BandFoldPrime
    val sigEntries = Dedup.permParams(64).map { case (a, b) =>
      s"list_min([(h * $a + $b) % $p for h in hs])"
    }.mkString(",\n              ")
    def side(name: String, pred: String) =
      s"""${name}_words AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
          FROM documents WHERE $pred),
        ${name}_base AS (
          SELECT doc_id, $shinglesSql AS sh FROM ${name}_words),
        ${name}_hashed AS (
          SELECT doc_id, sh,
                 [${Text.portableHashSql("x")} % $p for x in sh] AS hs
          FROM ${name}_base),
        ${name}_sig AS (
          SELECT doc_id,
              [$sigEntries] AS sig
          FROM ${name}_hashed),
        ${name}_banded AS (
          SELECT doc_id, band,
                 list_reduce(list_prepend(CAST(0 AS BIGINT),
                     sig[band * 4 + 1 : band * 4 + 4]),
                   (acc, h) -> (acc * 31 + h) % $fp) AS band_hash
          FROM ${name}_sig, (SELECT unnest(generate_series(0, 15)) AS band) bands)"""
    s"""WITH ${side("c", "doc_id % 50 != 0")},
        ${side("b", "doc_id % 50 = 0")},
        cands AS (
          SELECT DISTINCT l.doc_id AS corpus_id, r.doc_id AS bench_id
          FROM c_banded l JOIN b_banded r
            ON l.band = r.band AND l.band_hash = r.band_hash),
        verified AS (
          SELECT corpus_id, bench_id,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jacc
          FROM cands
          JOIN c_base a ON a.doc_id = cands.corpus_id
          JOIN b_base b ON b.doc_id = cands.bench_id),
        perdoc AS (
          SELECT corpus_id,
                 CAST(count(*) AS BIGINT) AS n_candidates,
                 CAST(sum(CASE WHEN jacc >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_matches,
                 max(jacc) AS max_jacc
          FROM verified GROUP BY corpus_id)
        SELECT d.doc_id,
               coalesce(p.n_candidates, 0) AS n_candidates,
               coalesce(p.n_matches, 0) AS n_matches,
               ROUND(p.max_jacc, 6) AS max_jacc,
               coalesce(p.n_matches, 0) = 0 AS keep
        FROM documents d LEFT JOIN perdoc p ON p.corpus_id = d.doc_id
        WHERE d.doc_id % 50 != 0"""
  }

  /** Rounds for bpe_merges — shared by the Spark query and the unrolled
    * oracle so the two cannot drift.
    */
  private[queries] val BpeRounds = 8

  /** Shared train-if-missing tokenizer cache root (r14 ask #4): the four
    * tokenizer heads key their fits here by (family, rounds, split,
    * corpus walk) — see pipeline/TokenizerCache.
    */
  private[queries] val TokCacheRoot = "/tmp/graft_scratch/tok_cache"

  /** decontam_semantic's benchmark id cap (shared with the oracle): a
    * benchmark is a FIXED suite — the cap keeps it constant-size at every
    * scale factor (all sf0.01 ids sit below it, so the gate result is
    * unchanged; at sf100 it keeps the bench side broadcastable by
    * construction instead of 117k vectors).
    */
  private[queries] val SemBenchCap = 500L

  /** Shared CTE chain of the BPE twins: k training rounds unrolled as CTE
    * blocks (the curation_kmeans pattern). The merge step is the same left
    * fold Spark's aggregate() runs, via list_reduce over the split symbol
    * string — and the pair rank carries the identical (count desc, lhs,
    * rhs) tiebreak. The word rides through every w$i so w${rounds+1} — the
    * fully-merged vocabulary — is the encode map, exactly as in Bpe.train.
    * DuckDB inlines unreferenced CTEs away, so bpe_merges pays nothing for
    * the final merge block it never reads. `trainWhere` restricts the
    * TRAINING corpus (the bpe_artifact split); the merge fold itself is
    * prefix-generalized so the artifact twin can run a second, full-corpus
    * apply chain off the same b$i winners.
    */
  private def bpeVocabCte(prefix: String, where: String): String =
    s"""${prefix}src AS (
          SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
            FROM documents $where)
          WHERE word != '' GROUP BY word),
        ${prefix}1 AS (
          SELECT word,
                 array_to_string([word[i] for i in generate_series(1, len(word))], ' ') AS syms,
                 n
          FROM ${prefix}src)"""

  private def bpeMergeCte(prefix: String, i: Int): String =
    s"""${prefix}${i + 1} AS (
          SELECT w.word AS word,
                 list_reduce(string_split(w.syms, ' '), (acc, s) ->
                   CASE WHEN s = b.rhs
                          AND (acc = b.lhs OR ends_with(acc, ' ' || b.lhs))
                        THEN substr(acc, 1, len(acc) - len(b.lhs))
                             || b.lhs || b.rhs
                        ELSE acc || ' ' || s END) AS syms,
                 w.n AS n
          FROM ${prefix}$i w, b$i b)"""

  private[queries] def bpeCtes(rounds: Int, trainWhere: String = ""): String = {
    def roundCtes(i: Int) =
      s"""p$i AS (
            SELECT u.lhs, u.rhs, CAST(SUM(u.n) AS BIGINT) AS cnt FROM (
              SELECT n, unnest([{'lhs': s[i], 'rhs': s[i+1]}
                                for i in generate_series(1, len(s) - 1)],
                       recursive := true) AS _
              FROM (SELECT string_split(syms, ' ') AS s, n FROM w$i)
            ) AS u(n, lhs, rhs)
            GROUP BY u.lhs, u.rhs),
          b$i AS (
            SELECT lhs, rhs, cnt FROM p$i
            ORDER BY cnt DESC, lhs, rhs LIMIT 1)"""
    val blocks = (1 to rounds)
      .map(i => roundCtes(i) + ",\n" + bpeMergeCte("w", i)).mkString(",\n")
    s"""${bpeVocabCte("w", trainWhere)},
        $blocks"""
  }

  /** ##-marked vocabulary CTE for the WordPiece twins: `prefixsrc` (word,
    * n) and `prefix1` (word, syms, n) with non-initial characters carrying
    * the continuation marker. `where` restricts the TRAINING corpus for
    * the artifact twin's split.
    */
  private def wordpieceVocabCte(prefix: String, where: String): String =
    s"""${prefix}src AS (
          SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
            SELECT unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
            FROM documents $where)
          WHERE word != '' GROUP BY word),
        ${prefix}1 AS MATERIALIZED (
          SELECT word,
                 CASE WHEN len(word) = 1 THEN word
                      ELSE word[1] || ' ' || array_to_string(
                        ['##' || word[j] for j in
                          generate_series(2, len(word))], ' ')
                 END AS syms,
                 n
          FROM ${prefix}src)"""

  /** One stored winner `vb$i` folded over `prefix$i` → `prefix${i+1}` —
    * the same ##-dropping leftmost merge WordPiece.applyMerge runs. Prefix-
    * generalized (the bpeMergeCte discipline) so the artifact twin can run
    * a second, full-corpus apply chain off the same vb$i winners.
    */
  private def wordpieceMergeCte(prefix: String, i: Int): String =
    s"""${prefix}${i + 1} AS MATERIALIZED (
          SELECT w.word AS word,
                 list_reduce(string_split(w.syms, ' '), (acc, s) ->
                   CASE WHEN s = b.rhs
                          AND (acc = b.lhs OR ends_with(acc, ' ' || b.lhs))
                        THEN substr(acc, 1, len(acc) - len(b.lhs))
                             || b.lhs ||
                             (CASE WHEN starts_with(b.rhs, '##')
                                   THEN substr(b.rhs, 3) ELSE b.rhs END)
                        ELSE acc || ' ' || s END) AS syms,
                 w.n AS n
          FROM ${prefix}$i w, vb$i b)"""

  /** The WordPiece training chain: per round, pair counts (vp$i) + symbol
    * counts (vs$i) over the round's vocabulary, the likelihood-scored
    * winner (vb$i — score = cnt/(lhs_cnt·rhs_cnt) as the identical IEEE
    * expression, (score desc, lhs, rhs) tiebreak), and the merged
    * vocabulary (v${i+1}). `trainWhere` restricts the training corpus.
    */
  private[queries] def wordpieceCtes(rounds: Int,
                                     trainWhere: String = ""): String = {
    def roundCtes(i: Int) =
      s"""vp$i AS (
            SELECT u.lhs, u.rhs, CAST(SUM(u.n) AS BIGINT) AS cnt FROM (
              SELECT n, unnest([{'lhs': s[j], 'rhs': s[j+1]}
                                for j in generate_series(1, len(s) - 1)],
                       recursive := true) AS _
              FROM (SELECT string_split(syms, ' ') AS s, n FROM v$i)
            ) AS u(n, lhs, rhs)
            GROUP BY u.lhs, u.rhs),
          vs$i AS (
            SELECT u.sym, CAST(SUM(u.n) AS BIGINT) AS c FROM (
              SELECT n, unnest(string_split(syms, ' ')) AS sym FROM v$i
            ) AS u(n, sym)
            GROUP BY u.sym),
          vb$i AS MATERIALIZED (
            SELECT p.lhs, p.rhs, p.cnt, a.c AS lhs_cnt, b.c AS rhs_cnt
            FROM vp$i p
            JOIN vs$i a ON a.sym = p.lhs
            JOIN vs$i b ON b.sym = p.rhs
            ORDER BY CAST(p.cnt AS DOUBLE) /
                     (CAST(a.c AS DOUBLE) * CAST(b.c AS DOUBLE)) DESC,
                     p.lhs, p.rhs
            LIMIT 1),
          ${wordpieceMergeCte("v", i)}"""
    s"""${wordpieceVocabCte("v", trainWhere)},
        ${(1 to rounds).map(roundCtes).mkString(",\n")}"""
  }

  /** DuckDB twin of WordPiece.train's merge table (see [[wordpieceCtes]]). */
  private def wordpieceMergesSql(rounds: Int): String = {
    val finals = (1 to rounds).map { i =>
      s"SELECT $i AS rnd, lhs, rhs, cnt, lhs_cnt, rhs_cnt FROM vb$i"
    }.mkString("\nUNION ALL ")
    s"""WITH ${wordpieceCtes(rounds)}
        $finals"""
  }

  /** DuckDB twin of the wordpiece_artifact round trip: the vb$i winners
    * train on the doc_id % 5 != 0 split only, then a SECOND ##-fold chain
    * (va*) replays those same stored winners over the FULL corpus's
    * vocabulary — words the training split never saw still segment
    * (initial char + ## continuations + whichever merges apply), exactly
    * as WordPiece.encodeStatsWith does after hydrating the JSON. The
    * encode join and the per-doc fertility are shared with the BPE twins.
    */
  private def wordpieceArtifactSql(rounds: Int): String = {
    val applyBlocks =
      (1 to rounds).map(wordpieceMergeCte("va", _)).mkString(",\n")
    s"""WITH ${wordpieceCtes(rounds, "WHERE doc_id % 5 != 0")},
        ${wordpieceVocabCte("va", "")},
        $applyBlocks,
        ${bpeStatsCtes(s"va${rounds + 1}")}
        SELECT doc_id, n_words, n_chars, n_tokens,
               ROUND(CAST(n_tokens AS DOUBLE) /
                     GREATEST(n_words, 1), 6) AS fertility
        FROM bpe_stats"""
  }

  /** DuckDB twin of wordpiece_encode_lmm: replay the likelihood-trained
    * merges over the full corpus (the wordpieceCtes chain), derive the
    * PIECE vocabulary (distinct final symbols — alphabet+rounds bounded),
    * then run the SAME greedy longest-match walk the codegen'd
    * WordPieceLmm fold runs, as a recursive CTE over the distinct words:
    * each step takes the longest class-matching piece prefixing the
    * remainder (head pieces at the word start, de-marked ## pieces
    * after); a step with no match kills the word into ONE [UNK] token.
    * Per-doc totals ride the usual tf-compressed join.
    */
  private def wordpieceLmmSql(rounds: Int): String = {
    val fin = s"v${rounds + 1}"
    s"""WITH RECURSIVE ${wordpieceCtes(rounds)},
        pieces AS (
          SELECT DISTINCT u.sym FROM (
            SELECT unnest(string_split(syms, ' ')) AS sym FROM $fin) u(sym)),
        allp AS (
          SELECT sym AS p, len(sym) AS pl, FALSE AS is_cont
          FROM pieces WHERE sym NOT LIKE '##%'
          UNION ALL
          SELECT substr(sym, 3) AS p, len(sym) - 2 AS pl, TRUE AS is_cont
          FROM pieces WHERE sym LIKE '##_%'),
        vw AS (SELECT DISTINCT word FROM $fin),
        walk(word, rest, cont, n, dead) AS (
          SELECT word, word, FALSE, 0, FALSE FROM vw
          UNION ALL
          SELECT word,
                 CASE WHEN bl IS NULL THEN rest
                      ELSE substr(rest, bl + 1) END,
                 TRUE,
                 n + CASE WHEN bl IS NULL THEN 0 ELSE 1 END,
                 bl IS NULL
          FROM (
            SELECT w.word, w.rest, w.cont, w.n,
                   (SELECT max(c.pl) FROM allp c
                     WHERE c.is_cont = w.cont
                       AND starts_with(w.rest, c.p)) AS bl
            FROM walk w WHERE w.rest != '' AND NOT w.dead) s),
        wstat AS (
          SELECT word,
                 CASE WHEN bool_or(dead) THEN CAST(1 AS BIGINT)
                      ELSE CAST(max(n) AS BIGINT) END AS wtoks,
                 bool_or(dead) AS unk
          FROM walk WHERE rest = '' OR dead GROUP BY word),
        tf AS (
          SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
            FROM documents)
          WHERE word != '' GROUP BY doc_id, word)
        SELECT doc_id,
               CAST(SUM(tf) AS BIGINT) AS n_words,
               CAST(SUM(tf * len(word)) AS BIGINT) AS n_chars,
               CAST(SUM(tf * wtoks) AS BIGINT) AS n_tokens,
               CAST(SUM(tf * CASE WHEN unk THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_unk
        FROM tf JOIN wstat USING (word)
        GROUP BY doc_id"""
  }

  /** DuckDB twin of Bpe.merges: the per-round winners. */
  private def bpeMergesSql(rounds: Int): String = {
    val finals = (1 to rounds).map { i =>
      s"SELECT $i AS rnd, lhs, rhs, cnt FROM b$i"
    }.mkString("\nUNION ALL ")
    s"""WITH ${bpeCtes(rounds)}
        $finals"""
  }

  /** The tf-compressed encode join (Bpe.encodeJoin's twin) as CTEs ending
    * in `bpe_stats` (doc_id, n_words, n_chars, n_tokens): `vocabRel` is
    * the fully-merged vocabulary serving as the word → token-count map.
    * Shared with the streaming tokenize oracle (QueriesStreaming).
    */
  private[queries] def bpeStatsCtes(vocabRel: String): String =
    s"""tokmap AS (
          SELECT word, CAST(len(string_split(syms, ' ')) AS BIGINT) AS wtoks
          FROM $vocabRel),
        tf AS (
          SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf FROM (
            SELECT doc_id,
                   unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
            FROM documents)
          WHERE word != '' GROUP BY doc_id, word),
        bpe_stats AS (
          SELECT doc_id,
                 CAST(SUM(tf) AS BIGINT) AS n_words,
                 CAST(SUM(tf * len(word)) AS BIGINT) AS n_chars,
                 CAST(SUM(tf * wtoks) AS BIGINT) AS n_tokens
          FROM tf JOIN tokmap USING (word)
          GROUP BY doc_id)"""

  private def bpeEncodeTail(vocabRel: String): String =
    s"""${bpeStatsCtes(vocabRel)}
        SELECT doc_id, n_words, n_chars, n_tokens FROM bpe_stats"""

  /** DuckDB twin of Bpe.encodeStats: the fully-merged vocabulary w${k+1} is
    * the word → token-count map; documents collapse to term frequencies and
    * join it, mirroring the Spark plan's tf-compressed join.
    */
  private def bpeEncodeSql(rounds: Int): String =
    s"""WITH ${bpeCtes(rounds)},
        ${bpeEncodeTail(s"w${rounds + 1}")}"""

  /** DuckDB twin of the bpe_artifact round trip: the b$i winners train on
    * the doc_id % 5 != 0 split only, then a SECOND merge chain (va*) folds
    * those same winners over the FULL corpus vocabulary — so words the
    * training split never saw still segment, exactly as
    * Bpe.encodeStatsWith does after hydrating the stored merge table.
    */
  private def bpeArtifactSql(rounds: Int): String = {
    val applyBlocks = (1 to rounds).map(bpeMergeCte("va", _)).mkString(",\n")
    s"""WITH ${bpeCtes(rounds, "WHERE doc_id % 5 != 0")},
        ${bpeVocabCte("va", "")},
        $applyBlocks,
        ${bpeEncodeTail(s"va${rounds + 1}")}"""
  }

  /** corpus_filter twin — shared with the streaming query
    * (stream_corpus_filter applies the identical gate at ingest).
    */
  private[queries] def corpusFilterSql: String = {
    val scoreCols = Text.LangPriority
      .map(l => s"${scoreSql(l)} AS sc_$l").mkString(", ")
    val m = Text.LangPriority.map(l => s"sc_$l").mkString("greatest(", ", ", ")")
    val cases = Text.LangPriority.dropRight(1)
      .map(l => s"WHEN sc_$l = m THEN '$l'").mkString(" ")
    val stops = Text.StopMarkers.map(occSql).mkString(" + ")
    s"""SELECT doc_id,
          (CASE $cases ELSE '${Text.LangPriority.last}' END) = 'en' AS lang_ok,
          q >= 0.3 AS quality_ok,
          rep <= 0.8 AS repetition_ok,
          ((CASE $cases ELSE '${Text.LangPriority.last}' END) = 'en'
            AND q >= 0.3 AND rep <= 0.8) AS keep
          FROM (SELECT doc_id, $scoreCols, $m AS m,
                  ROUND(LEAST(1.0, CAST(len(regexp_extract_all(text, '\\S+')) AS DOUBLE) / 100.0)
                    * (1.0 - CAST(length(text) - length(translate(text, '${Text.PunctChars}', '')) AS DOUBLE)
                        / GREATEST(length(text), 1))
                    * (0.5 + LEAST(($stops) / CAST(GREATEST(len(regexp_extract_all(text, '\\S+')), 1) AS DOUBLE) * 2.0, 0.5)),
                  6) AS q,
                  ROUND(1.0 - CAST(len(list_distinct(regexp_split_to_array(lower(text), '\\s+'))) AS DOUBLE) /
                    CAST(GREATEST(len(regexp_split_to_array(lower(text), '\\s+')), 1) AS DOUBLE), 6) AS rep
                FROM documents)"""
  }

  val oracleSql: Map[String, String] = Map(
    "dedup_minhash" -> minhashSql,
    "dedup_recall" -> dedupRecallSql,
    "dedup_band_sweep" -> dedupBandSweepSql,
    "split_leakage" -> splitLeakageSql,
    "decontam_fuzzy" -> decontamFuzzySql,
    "bpe_merges" -> bpeMergesSql(BpeRounds),
    "wordpiece_merges" -> wordpieceMergesSql(BpeRounds),
    "bpe_encode" -> bpeEncodeSql(BpeRounds),
    "bpe_artifact" -> bpeArtifactSql(BpeRounds),
    "wordpiece_artifact" -> wordpieceArtifactSql(BpeRounds),
    "wordpiece_encode_lmm" -> wordpieceLmmSql(BpeRounds),
    "tokenizer_fertility" ->
      s"""WITH ${bpeCtes(BpeRounds)},
          ${bpeStatsCtes(s"w${BpeRounds + 1}")},
          j AS (
            SELECT d.source, b.n_words, b.n_tokens, b.n_chars
            FROM bpe_stats b JOIN documents d USING (doc_id))
          SELECT source,
                 CAST(SUM(n_words) AS BIGINT) AS n_words,
                 CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
                 ROUND(CAST(SUM(n_tokens) AS DOUBLE) /
                       GREATEST(SUM(n_words), 1), 6) AS fertility,
                 ROUND(CAST(SUM(n_chars) AS DOUBLE) /
                       GREATEST(SUM(n_tokens), 1), 6) AS chars_per_token
          FROM j GROUP BY source""",

    "dedup_semantic" -> dedupSemanticSql,
    "decontam_semantic" -> decontamSemanticSql,
    // the increment+index composition must land exactly where a
    // from-scratch semantic clustering of the union corpus lands — same
    // oracle as dedup_semantic
    "dedup_incremental_semantic" -> dedupSemanticSql,

    "vocab_topk" ->
      """WITH toks AS (
           SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word
           FROM documents),
         counts AS (SELECT word, count(*) AS n FROM toks GROUP BY word),
         ranked AS (
           SELECT word, n,
                  CAST(row_number() OVER (ORDER BY n DESC, word) AS INT) AS rnk
           FROM counts)
         SELECT word, n, rnk FROM ranked WHERE rnk <= 50""",

    "tfidf_topterms" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(regexp_split_to_array(lower(text), '\s+')) AS term
           FROM documents),
         tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
         dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         n AS (SELECT count(*) AS n_docs FROM documents),
         scored AS (
           SELECT doc_id, term,
                  tf * ln(CAST(n_docs AS DOUBLE) / df) AS tfidf
           FROM tf JOIN dfreq USING (term), n),
         ranked AS (
           SELECT doc_id, term, tfidf,
                  CAST(row_number() OVER (PARTITION BY doc_id
                         ORDER BY tfidf DESC, term) AS INT) AS rnk
           FROM scored)
         SELECT doc_id, term, ROUND(tfidf, 6) AS tfidf, rnk
         FROM ranked WHERE rnk <= 3""",
    "dedup_cluster" -> dedupClusterSql,
    "dedup_soft_weights" ->
      s"""WITH soft AS ($dedupClusterSql)
          SELECT doc_id, cluster_id, cluster_size,
                 ROUND(CAST(1.0 AS DOUBLE) / cluster_size, 6) AS weight
          FROM soft""",
    // the increment+index composition must land exactly where a from-scratch
    // clustering of the union corpus lands — same oracle as dedup_cluster
    "dedup_incremental" -> dedupClusterSql,
    "dedup_simhash" -> simhashSql,
    "ann_lsh" -> annLshSql,
    "ann_ivf" -> annIvfSql,
    "ann_ivf_trained" -> annIvfTrainedSql,

    "dedup_exact" ->
      """SELECT sha256(text) AS content_hash, min(doc_id) AS keep_id,
         count(*) AS n_copies FROM documents GROUP BY sha256(text)""",

    "ngram_jaccard" ->
      s"""WITH s AS (
            SELECT doc_id, $shinglesSql AS sh
            FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
                  FROM documents))
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
                 CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE) AS jacc
          FROM s a JOIN s b ON b.doc_id = a.doc_id + 1""",

    "containment_dedup" ->
      s"""WITH cdocs AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + (SELECT max(doc_id) FROM documents) + 1 AS doc_id,
                   array_to_string(w[1 : CAST(GREATEST(floor(len(w) / 2), 1)
                     AS BIGINT)], ' ') AS text
            FROM (SELECT doc_id,
                         regexp_split_to_array(lower(text), '\\s+') AS w
                  FROM documents)
            WHERE doc_id % $ContainMod = 0),
          creps AS (
            SELECT c.doc_id, c.text FROM cdocs c
            JOIN (SELECT sha256(text) AS h, min(doc_id) AS doc_id
                  FROM cdocs GROUP BY sha256(text)) m
              ON sha256(c.text) = m.h AND c.doc_id = m.doc_id),
          ${minhashCtes("creps")},
          csets AS (SELECT doc_id, list_distinct(sh) AS sd FROM base)
          SELECT c.id_a, c.id_b,
                 ROUND(CAST(len(list_intersect(a.sd, b.sd)) AS DOUBLE)
                   / len(a.sd), 6) AS cont_a,
                 ROUND(CAST(len(list_intersect(a.sd, b.sd)) AS DOUBLE)
                   / len(b.sd), 6) AS cont_b,
                 (ROUND(CAST(len(list_intersect(a.sd, b.sd)) AS DOUBLE)
                    / len(a.sd), 6) >= $ContainThreshold
                  OR ROUND(CAST(len(list_intersect(a.sd, b.sd)) AS DOUBLE)
                    / len(b.sd), 6) >= $ContainThreshold) AS is_contained
          FROM cands c
          JOIN csets a ON a.doc_id = c.id_a
          JOIN csets b ON b.doc_id = c.id_b""",

    "dedup_embed_cosine" ->
      s"""WITH p AS (
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   a.embedding AS e1, b.embedding AS e2
            FROM embeddings a JOIN embeddings b
              ON b.vec_id > a.vec_id AND b.vec_id <= a.vec_id + 3)
          SELECT id_a, id_b, ROUND(${cosSql("e1", "e2")}, 6) AS cos,
                 ${cosSql("e1", "e2")} >= 0.95 AS is_near_dup
          FROM p""",

    "ann_bruteforce" ->
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qv
                     FROM embeddings WHERE vec_id < 5),
          c AS (SELECT vec_id AS neighbor_id, embedding AS cv FROM embeddings),
          sc AS (SELECT query_id, neighbor_id, ${cosSql("qv", "cv")} AS cos
                 FROM c, q WHERE query_id != neighbor_id),
          r AS (SELECT query_id, neighbor_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neighbor_id ASC) AS rnk
                FROM sc)
          SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos, rnk
          FROM r WHERE rnk <= 5""",

    "hard_negatives" ->
      s"""WITH mx AS (SELECT max(vec_id) AS m FROM embeddings),
          q AS (SELECT vec_id AS query_id, embedding AS qv
                FROM embeddings WHERE vec_id % 40 = 0 AND vec_id < 2000),
          c AS (SELECT vec_id AS neg_id, embedding AS cv FROM embeddings
                UNION ALL
                SELECT vec_id + m + 1, embedding FROM embeddings, mx
                WHERE vec_id % 10 = 0
                UNION ALL
                SELECT vec_id + 2 * m + 2, embedding FROM embeddings, mx
                WHERE vec_id % 50 = 0),
          sc AS (SELECT query_id, neg_id, ${cosSql("qv", "cv")} AS cos
                 FROM c, q WHERE query_id != neg_id),
          r AS (SELECT query_id, neg_id, cos,
                       row_number() OVER (PARTITION BY query_id
                                          ORDER BY cos DESC, neg_id ASC) AS rnk
                FROM sc WHERE cos < 0.95),
          d AS (SELECT query_id,
                       CAST(sum(CASE WHEN cos >= 0.95 THEN 1 ELSE 0 END)
                         AS BIGINT) AS n_dups_excluded
                FROM sc GROUP BY query_id)
          SELECT r.query_id, r.neg_id AS negative_id, ROUND(r.cos, 6) AS cos,
                 d.n_dups_excluded
          FROM r JOIN d USING (query_id) WHERE r.rnk = 1""",

    "lang_id_eval" -> {
      val scoreCols = Text.LangPriority
        .map(l => s"${scoreSql(l)} AS sc_$l").mkString(", ")
      val m = Text.LangPriority.map(l => s"sc_$l").mkString("greatest(", ", ", ")")
      val cases = Text.LangPriority.dropRight(1)
        .map(l => s"WHEN sc_$l = m THEN '$l'").mkString(" ")
      s"""SELECT lang, lang_pred, COUNT(*) AS n, lang = lang_pred AS correct
          FROM (SELECT lang,
                       CASE $cases ELSE '${Text.LangPriority.last}' END AS lang_pred
                FROM (SELECT lang, text, $scoreCols, $m AS m FROM documents))
          GROUP BY lang, lang_pred"""
    },

    "lang_id" -> {
      val scoreCols = Text.LangPriority
        .map(l => s"${scoreSql(l)} AS sc_$l").mkString(", ")
      val m = Text.LangPriority.map(l => s"sc_$l").mkString("greatest(", ", ", ")")
      val cases = Text.LangPriority.dropRight(1)
        .map(l => s"WHEN sc_$l = m THEN '$l'").mkString(" ")
      s"""SELECT doc_id,
          CASE $cases ELSE '${Text.LangPriority.last}' END AS lang_pred,
          m AS score_max
          FROM (SELECT doc_id, $scoreCols, $m AS m
                FROM documents)"""
    },

    "quality_score" -> qualityScoreSql("documents"),
    "preference_pairs" -> preferencePairsSql,

    "sft_pack" -> sftPackSql,

    "token_count" ->
      s"""SELECT doc_id,
          len(regexp_extract_all(text, '\\S+')) AS ws_tokens,
          len(regexp_extract_all(text, '${Text.BpeTokenPattern}')) AS bpe_tokens
          FROM documents""",

    "doc_fingerprint" ->
      """SELECT doc_id,
         list_reduce(
           list_prepend(CAST(0 AS BIGINT),
             [CAST(ascii(text[i]) AS BIGINT) for i in generate_series(1, length(text))]),
           (acc, c) -> (acc * 31 + c) % 1000000007) AS fp
         FROM documents""",

    // ascii(char) == payload byte only on an ASCII corpus (which documents
    // is — doc_fingerprint relies on the same equivalence); the Spark side
    // computes the true byte so it stays correct beyond ASCII.
    "multimodal_meta" ->
      """SELECT doc_id AS media_id,
         CAST(length(text) AS BIGINT) AS payload_len,
         CAST(ascii(text[1]) AS BIGINT) AS first_byte,
         CAST(length(text) % 640 AS BIGINT) AS width,
         CAST((doc_id * 37) % 480 AS BIGINT) AS height,
         CASE WHEN length(text) = 0 THEN 0.0 ELSE
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
               [CAST(ascii(text[i]) AS DOUBLE)
                for i in generate_series(1, least(16, length(text)))]),
             (acc, x) -> acc + x) / least(16, length(text))
         END AS brightness
         FROM documents""",

    // ascii(char) == sample byte on the ASCII corpus (same equivalence the
    // other multimodal/fingerprint oracles rely on).
    "multimodal_audio" ->
      s"""SELECT doc_id AS media_id,
          CAST(${Multimodal.AudioSampleRate} AS BIGINT) AS sample_rate,
          CAST(length(text) AS BIGINT) AS n_frames,
          CASE WHEN length(text) = 0 THEN 0.0 ELSE
            CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                [CAST(ascii(text[i]) AS BIGINT)
                 for i in generate_series(1, length(text))]),
              (acc, c) -> acc + c) AS DOUBLE) / length(text)
          END AS mean_amplitude
          FROM documents""",

    // ascii(char) == luma byte on the ASCII corpus; frame f covers text
    // positions (f*fb+1 .. f*fb+fb), zero-padded, every 2nd frame sampled.
    "multimodal_video" -> {
      val fb = Multimodal.VideoWidth * Multimodal.VideoHeight
      val k = Multimodal.VideoSampleStride
      s"""WITH v AS (
            SELECT doc_id, text,
                   CASE WHEN length(text) = 0 THEN CAST(1 AS BIGINT)
                        ELSE CAST(ceil(length(text) / $fb.0) AS BIGINT)
                   END AS n_frames
            FROM documents)
          SELECT doc_id AS media_id,
                 CAST(${Multimodal.VideoWidth} AS BIGINT) AS width,
                 CAST(${Multimodal.VideoHeight} AS BIGINT) AS height,
                 n_frames,
                 (n_frames + ${k - 1}) // $k AS n_sampled,
                 CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                     [CASE WHEN (CAST((i - 1) // $fb AS BIGINT) % $k) = 0
                           THEN CAST(ascii(text[i]) AS BIGINT)
                           ELSE CAST(0 AS BIGINT) END
                      for i in generate_series(1, length(text))]),
                   (acc, c) -> acc + c) AS DOUBLE)
                 / ($fb.0 * ((n_frames + ${k - 1}) // $k)) AS mean_luma
          FROM v"""
    },

    "text_normalize" ->
      s"""SELECT doc_id,
          trim(regexp_replace(regexp_replace(lower(text),
            '${Text.NormStripPattern}', '', 'g'), '\\s+', ' ', 'g')) AS norm_text
          FROM documents""",

    "pii_scrub" ->
      s"""SELECT doc_id,
          regexp_replace(regexp_replace(regexp_replace(
            'contact ' || source || CAST(doc_id AS VARCHAR)
              || '@example.com or +1 555-'
              || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
              || ' via https://' || source || '.example/'
              || CAST(doc_id AS VARCHAR) || ' :: ' || substr(text, 1, 40),
            '${Text.UrlPattern}', '<URL>', 'g'),
            '${Text.EmailPattern}', '<EMAIL>', 'g'),
            '${Text.PhonePattern}', '<PHONE>', 'g') AS scrubbed
          FROM documents""",

    "repetition_ratio" ->
      """SELECT doc_id,
         len(w) AS n_tokens,
         len(list_distinct(w)) AS n_distinct,
         ROUND(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) /
               CAST(GREATEST(len(w), 1) AS DOUBLE), 6) AS rep_ratio
         FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
               FROM documents)""",

    "heldout_nll" ->
      s"""WITH folds AS (
            SELECT doc_id, lang, text,
                   ${QueriesAssembly.hashSplitSql("doc_id", HeldoutSeed,
                     HeldoutFolds)} AS fold
            FROM documents),
          toks AS (
            SELECT lang, fold,
                   unnest(regexp_split_to_array(lower(text), '\\s+')) AS tok
            FROM folds),
          freq AS (
            SELECT tok, count(*) AS cnt FROM toks
            WHERE fold = 'train' GROUP BY tok),
          st AS (
            SELECT count(*) AS n, count(DISTINCT tok) AS v FROM toks
            WHERE fold = 'train'),
          t AS (
            SELECT lang, f.cnt,
                   ROUND(ln((CAST(coalesce(f.cnt, 0) AS DOUBLE) + 1.0)
                     / (st.n + st.v)), 6) AS lp
            FROM toks LEFT JOIN freq f USING (tok) CROSS JOIN st
            WHERE fold = 'test')
          SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
                 CAST(sum(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unseen,
                 ROUND(${sumDecSql("-lp", 6)} / count(*), 6) AS mean_nll
          FROM t GROUP BY lang""",

    "unigram_logprob" ->
      """WITH toks AS (
           SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\s+')) AS tok
           FROM documents),
         freq AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
         tot AS (SELECT COUNT(*) AS n FROM toks)
         SELECT doc_id,
                ROUND(CAST(SUM(CAST(ROUND(ln(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)), 6)
                      AS DECIMAL(30,6))) AS DOUBLE) / COUNT(*), 6) AS mean_logprob,
                COUNT(*) AS n_tokens
         FROM toks JOIN freq USING (tok), tot
         GROUP BY doc_id""",

    "sequence_pack" ->
      """SELECT doc_id, source, n_tokens,
         cum - n_tokens AS start_off,
         (cum - n_tokens) // 512 AS pack_id,
         GREATEST(cum - 1, cum - n_tokens) // 512 AS end_pack_id,
         (GREATEST(cum - 1, cum - n_tokens) // 512) != ((cum - n_tokens) // 512)
           AS crosses_boundary
         FROM (SELECT doc_id, source,
                      CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS n_tokens,
                      CAST(sum(len(regexp_extract_all(text, '\S+')))
                        OVER (PARTITION BY source ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                        AS BIGINT) AS cum
               FROM documents)""",

    "pack_efficiency" ->
      """WITH p AS (
           SELECT doc_id, source, n_tokens, cum,
                  (GREATEST(cum - 1, cum - n_tokens) // 512)
                    != ((cum - n_tokens) // 512) AS split
           FROM (SELECT doc_id, source,
                        CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT)
                          AS n_tokens,
                        CAST(sum(len(regexp_extract_all(text, '\S+')))
                          OVER (PARTITION BY source ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS BIGINT) AS cum
                 FROM documents))
         SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                CAST(sum(CASE WHEN split THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_split,
                ROUND(CAST(sum(CASE WHEN split THEN 1 ELSE 0 END) AS DOUBLE)
                      / count(*), 6) AS split_frac,
                CAST((max(cum) - 1) // 512 + 1 AS BIGINT) AS n_packs,
                ROUND(CAST(max(cum) AS DOUBLE) /
                      (((max(cum) - 1) // 512 + 1) * 512), 6) AS fill_frac
         FROM p GROUP BY source""",

    "embed_quantize" ->
      """SELECT vec_id, ROUND(scale, 6) AS scale,
         ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             [abs(floor(CAST(embedding[i] AS DOUBLE) / scale) * scale
                  - CAST(embedding[i] AS DOUBLE))
              for i in generate_series(1, len(embedding))]),
           (acc, e) -> greatest(acc, e)), 6) AS max_err
         FROM (SELECT vec_id, embedding,
                      GREATEST(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                          [abs(CAST(x AS DOUBLE)) for x in embedding]),
                        (acc, x) -> greatest(acc, x)) / 127.0, 1e-12) AS scale
               FROM embeddings)""",

    "label_centroids" ->
      """SELECT label, u.pos AS pos,
                ROUND(CAST(SUM(CAST(u.x AS DECIMAL(30,6))) AS DOUBLE)
                      / COUNT(u.x), 6) AS m,
                COUNT(u.x) AS n_vectors
         FROM (SELECT label,
                      unnest([{'pos': i - 1, 'x': CAST(embedding[i] AS DOUBLE)}
                              for i in generate_series(1, len(embedding))],
                        recursive := true) AS _
               FROM embeddings) AS u(label, pos, x)
         GROUP BY label, pos""",

    "corpus_filter" -> corpusFilterSql,

    "dedup_keep" ->
      s"""WITH RECURSIVE ${minhashCtes()},
          ${minhashClosureCtes("documents")}
          SELECT doc_id FROM lab WHERE doc_id = cluster_id"""
  )
}
