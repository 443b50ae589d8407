package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Curation
import Q._

/** §2.7 corpus-curation operators (graft.operators.Curation): benchmark
  * decontamination, deterministic stratified sampling, bounded per-group
  * top-k, and Lloyd k-means assignment. DuckDB oracle SQL mirrors the Spark
  * plans stage for stage; the sha256-ratio twin is shared with hash_split
  * (QueriesAssembly.hashSplitSql) so the two split/sample paths cannot drift.
  */
object QueriesCuration {

  /** Sampling strata for curation_sample (must match the oracle CASE). */
  private val SampleRates = Seq("de" -> 0.25, "en" -> 0.5)
  // per-cluster keep rates for curation_diversity (cluster ids as strings —
  // the stratum column contract)
  private val DiversityRates =
    Map("0" -> 0.2, "1" -> 0.5, "2" -> 0.5, "3" -> 1.0)
  private val DiversitySeed = 13
  private val SampleDefault = 0.1
  private val SampleSeed = 42
  // curation_quota: exact per-stratum budget + its own ratio seed
  private val QuotaK = 7
  private val QuotaSeed = 99
  // Bloom decontamination sizing (must match the oracle's hash exprs)
  private val BloomBits = 1 << 16
  private val BloomHashes = 2
  // quality classifier: hashed-feature logistic regression (full-batch GD)
  private[queries] val ClsBuckets = 64
  private[queries] val ClsIters = 3
  private[queries] val ClsEta = 1.0 // whole-number: updates stay on the 1e-6 grid
  // anneal_schedule: epoch-wise quality-annealed keep rates (epoch 0 is
  // tier-blind; later epochs shift mass toward the high tier — the
  // mid-training curriculum discipline). QHigh ~ the corpus quality median
  // so both tiers are populated and the anneal visibly reshapes epochs.
  private val AnnealEpochs = 3
  private val AnnealQHigh = 0.4
  private val AnnealHighRates = Seq(0.5, 0.7, 0.9)
  private val AnnealLowRates = Seq(0.5, 0.3, 0.1)
  private val AnnealSeed = 33
  // curation_funnel: the sequential gate chain (length → repetition →
  // quality), each doc attributed to its FIRST failing gate — the
  // per-source drop accounting every production curation run reports.
  private val FunnelMinWords = 30
  private val FunnelMaxRep = 0.6
  private val FunnelMinQuality = 0.35
  // budget_sample: per-stratum TOKEN budget (corpora are budgeted in
  // tokens, not docs — the fixed-count complement is curation_quota),
  // filled greedily in sha256-ratio order at BUCKET granularity: the
  // exact-histogram discipline — a doc-level greedy cumsum would need a
  // per-stratum total order (one partition per stratum at 100 TB); the
  // bucket histogram is (strata × BudgetBuckets) rows however large the
  // corpus, and the kept set is the largest bucket-prefix that fits.
  private val BudgetTokens = 2000L
  private val BudgetBuckets = 256
  private val BudgetSeed = 77
  // mixture_weights: temperature-smoothed (α = 0.5: share ∝ √tokens, the
  // multilingual-sampling upweighting of small sources) token-budget
  // allocation across sources, capped at MixEpochCap epochs per source,
  // with two deterministic waterfill redistribution rounds for budget the
  // caps bounce. Budget = floor(MixBudgetFactor × corpus tokens) — over
  // 1.0 so the caps genuinely bind on small sources.
  private val MixBudgetFactor = 1.2
  private val MixEpochCap = 1.25

  /** Shared distinct-3-gram CTE (the guard against <3-token docs is implicit
    * in DuckDB: generate_series(1, 0) is empty, unlike Spark's sequence).
    */
  private val ngramCte =
    """words AS (
         SELECT doc_id, regexp_split_to_array(lower(text), '\s+') AS w
         FROM documents),
       ng AS (
         SELECT doc_id,
                list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                               for i in generate_series(1, greatest(len(w) - 2, 0))]) AS sh
         FROM words)"""

  /** sha256 53-bit ratio twin of Curation.hashRatio (same as hashSplitSql's
    * ratio term).
    */
  private[queries] def ratioSql(tokenExpr: String, seed: Int): String =
    s"CAST(CAST('0x' || substr(sha256('$seed|' || CAST($tokenExpr AS VARCHAR)), 3, 14) AS BIGINT) & 9007199254740991 AS DOUBLE) / 9007199254740992.0"

  /** Squared-Euclidean distance between two DOUBLE lists as the same
    * sequential left fold Spark's aggregate(zip_with(...)) runs — the per
    * element op order is identical, so the rounded double matches bitwise.
    */
  private[queries] def dist2Sql(a: String, b: String): String =
    s"""ROUND(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
          [($a[i] - $b[i]) * ($a[i] - $b[i])
           for i in generate_series(1, len($a))]),
          (acc, x) -> acc + x), 6)"""

  /** One k-means assignment CTE body: nearest centroid of `cents` per vector
    * of `vecs` (dist asc, cluster asc tiebreak — Spark's struct array_min).
    */
  private[queries] def assignSql(vecs: String, cents: String): String =
    s"""SELECT vec_id, v, cluster, dist FROM (
          SELECT vec_id, v, cluster, dist,
                 row_number() OVER (PARTITION BY vec_id
                                    ORDER BY dist, cluster) AS r
          FROM (SELECT t.vec_id, t.v AS v, c.cluster,
                       ${dist2Sql("t.v", "c.v")} AS dist
                FROM $vecs t, $cents c))
        WHERE r = 1"""

  /** Centroid-update CTE body: element-wise exact decimal mean (round 6) of
    * the vectors assigned by `assigned`, rebuilt as an ordered list.
    */
  private[queries] def updateSql(assigned: String): String =
    s"""SELECT cluster, list(m ORDER BY pos) AS v FROM (
          SELECT cluster, u.pos AS pos,
                 ROUND(CAST(SUM(CAST(u.x AS DECIMAL(30,6))) AS DOUBLE)
                       / COUNT(u.x), 6) AS m
          FROM (SELECT cluster,
                       unnest([{'pos': i, 'x': v[i]}
                               for i in generate_series(1, len(v))],
                         recursive := true) AS _
                FROM $assigned) AS u(cluster, pos, x)
          GROUP BY cluster, u.pos)
        GROUP BY cluster"""

  /** The iterated full-batch-GD CTE chain behind quality_classifier's
    * oracle: sparse tf features → w0 = 0 → per round (decimal-summed score
    * → round6 sigmoid → gradient → round6 weight update). Every rounding
    * site mirrors graft.operators.Classifier exactly.
    */
  /** DuckDB twin of Classifier.sigmoid — the integer-micros hard sigmoid
    * (no libm, no double-rounding boundary). `s` may be DECIMAL or DOUBLE.
    */
  /** The Bloom decontamination replay as CTEs over `trainRel` (a (doc_id,
    * text) relation): benchmark = every 17th document of the FULL corpus
    * (the standing benchmark stand-in), BloomBits/BloomHashes sizing —
    * yields `bl_hit(doc_id, n_flagged)` for trainRel's documents. Shared by
    * the standalone decontam_bloom oracle and the composed
    * decontaminate-journey oracles (QueriesCorpus) so the hash family and
    * bitmap arithmetic cannot drift between them.
    */
  private[queries] def bloomDecontamCtes(trainRel: String): String = {
    import graft.functions.Text.portableHashSql
    def posSql(i: Int, e: String) =
      s"${portableHashSql(s"'bloom$i:' || $e")} % $BloomBits"
    val unionPos = (0 until BloomHashes)
      .map(i => s"SELECT ${posSql(i, "ngram")} AS p FROM bl_bench_ng")
      .mkString("\n            UNION ALL\n            ")
    val hCols = (0 until BloomHashes)
      .map(i => s"${posSql(i, "ngram")} AS h$i").mkString(",\n               ")
    val allSet = (0 until BloomHashes)
      .map(i => s"h$i IN (SELECT p FROM bl_pos)").mkString(" AND ")
    def ngList(rel: String) =
      s"""SELECT doc_id,
                 list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                                for i in generate_series(1, greatest(len(w) - 2, 0))]) AS sh
          FROM (SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS w
                FROM $rel)"""
    s"""bl_bench_ng AS (
          SELECT DISTINCT unnest(sh) AS ngram
          FROM (${ngList("(SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0)")})),
        bl_pos AS (SELECT DISTINCT p FROM (
          $unionPos)),
        bl_train_ng AS (
          SELECT doc_id,
             $hCols
          FROM (SELECT doc_id, unnest(sh) AS ngram FROM (${ngList(trainRel)}))),
        bl_hit AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_flagged
          FROM bl_train_ng
          WHERE $allSet
          GROUP BY doc_id)"""
  }

  private[queries] def hardSigmoidSql(s: String): String =
    s"CAST(least(1000000, greatest(0, 500000 + " +
      s"CAST(floor(CAST(ROUND(($s) * 1000000, 0) AS BIGINT) / 4.0) AS BIGINT)" +
      s")) AS DOUBLE) / 1000000.0"

  /** The full gradient-descent replay as CTEs over `rel` (a (doc_id, text)
    * relation; `labelSql` is the y expression over rel's columns) — yields
    * `cls_docs(doc_id, y)` and `cls_sF(doc_id, s)`. Shared by the
    * standalone quality_classifier oracle and the composed `classify`
    * config-journey oracles (QueriesCorpus) so training arithmetic cannot
    * drift between them.
    *
    * Training runs on the DETERMINISTIC sha-ratio SAMPLE (the twin of
    * Classifier.fitSampled: rate = least(1, cap/n), the same seed
    * and 53-bit ratio — both engines IEEE-divide the same exact values and
    * compare the same doubles); scoring (`cls_sF`) runs over the FULL
    * feature relation.
    */
  private[queries] def logRegCtes(buckets: Int, iters: Int, eta: Double,
                                  rel: String = "documents",
                                  labelSql: String =
                                    "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END")
      : String = {
    import graft.functions.Text.portableHashSql
    import graft.operators.Classifier.{TrainSampleCap, TrainSampleSeed}
    val sampled = s"${ratioSql("doc_id", TrainSampleSeed)} < " +
      s"(SELECT r FROM cls_rate)"
    val base =
      s"""cls_docs AS (
            SELECT doc_id, $labelSql AS y
            FROM $rel),
          cls_rate AS (
            SELECT least(1.0, $TrainSampleCap.0 / count(*)) AS r
            FROM cls_docs),
          cls_tdocs AS (
            SELECT doc_id, y FROM cls_docs WHERE $sampled),
          cls_tok AS (
            SELECT doc_id, CAST(${portableHashSql("t")} % $buckets AS INTEGER) AS pos
            FROM (SELECT doc_id,
                         unnest(regexp_split_to_array(lower(text), '\\s+')) AS t
                  FROM $rel)),
          cls_cnt AS (SELECT doc_id, pos, count(*) AS c FROM cls_tok GROUP BY 1, 2),
          cls_n AS (SELECT doc_id, sum(c) AS n FROM cls_cnt GROUP BY 1),
          cls_fx AS (
            SELECT c.doc_id, c.pos,
                   ROUND(CAST(c.c AS DOUBLE) / CAST(n.n AS DOUBLE), 6) AS x
            FROM cls_cnt c JOIN cls_n n USING (doc_id)
            UNION ALL
            SELECT doc_id, $buckets AS pos, 1.0 AS x FROM $rel),
          cls_fxt AS (
            SELECT doc_id, pos, x FROM cls_fx WHERE $sampled),
          cls_w0 AS (
            SELECT unnest(generate_series(0, $buckets)) AS pos, 0.0 AS w)"""
    val rounds = (0 until iters).map { r =>
      s"""cls_s$r AS (
            SELECT f.doc_id,
                   CAST(ROUND(SUM(CAST(ROUND(w.w * f.x, 12) AS DECIMAL(30,12))),
                         6) AS DOUBLE) AS s
            FROM cls_fxt f JOIN cls_w$r w USING (pos) GROUP BY 1),
          cls_e$r AS (
            SELECT d.doc_id, ${hardSigmoidSql("s.s")} - d.y AS err
            FROM cls_tdocs d JOIN cls_s$r s USING (doc_id)),
          cls_g$r AS (
            SELECT f.pos,
                   ROUND(CAST(SUM(CAST(ROUND(e.err * f.x, 12) AS DECIMAL(30,12)))
                         AS DOUBLE) / (SELECT count(*) FROM cls_tdocs), 6) AS g
            FROM cls_fxt f JOIN cls_e$r e USING (doc_id) GROUP BY 1),
          cls_w${r + 1} AS (
            SELECT w.pos, ROUND(w.w - $eta * coalesce(g.g, 0.0), 6) AS w
            FROM cls_w$r w LEFT JOIN cls_g$r g USING (pos))"""
    }
    (base +: rounds).mkString(",\n          ") +
      s""",
          cls_sF AS (
            SELECT f.doc_id,
                   CAST(ROUND(SUM(CAST(ROUND(w.w * f.x, 12) AS DECIMAL(30,12))),
                         6) AS DOUBLE) AS s
            FROM cls_fx f JOIN cls_w$iters w USING (pos) GROUP BY 1)"""
  }

  val queries: Map[String, QueryFn] = Map(
    // Benchmark n-gram decontamination: benchmark = every 17th document (a
    // deterministic stand-in for a held-out eval suite), train = the whole
    // corpus; flag any training doc sharing a distinct word 3-gram.
    "curation_decontam" -> { (s, d) =>
      val docs = documents(s, d)
      Curation.decontaminate(docs, docs.filter(pmod(col("doc_id"), lit(17)) === 0),
        "doc_id", "text", n = 3)
    },

    // Bloom-filter decontamination (the large-benchmark scale path): the
    // benchmark n-gram set collapses to a fixed 64Kbit bitmap literal and
    // the corpus probe is a pure per-row expression — zero shuffle, no
    // join. Same benchmark as curation_decontam; Bloom false positives are
    // deterministic and reproduced by the oracle.
    "decontam_bloom" -> { (s, d) =>
      val docs = documents(s, d)
      Curation.decontaminateBloom(docs,
        docs.filter(pmod(col("doc_id"), lit(17)) === 0),
        "doc_id", "text", n = 3, mBits = BloomBits, numHashes = BloomHashes)
    },

    // Trained quality classifier (the fastText/CCNet-style learned gate):
    // logistic regression over 64 hashed bag-of-words features, fitted by 3
    // rounds of full-batch gradient descent ON THE DETERMINISTIC sha-ratio
    // TRAINING SAMPLE (capped — a real gate fits on a bounded sample and
    // scores everything; at the gate scale the cap exceeds the corpus and
    // the sample IS the corpus) — per round one per-row fold of each doc's
    // feature row (weights enter as a literal) and one 65-row gradient
    // aggregate; only the weight vector crosses the driver. The oracle
    // replays the identical sampled rounds as an iterated CTE chain.
    "quality_classifier" -> { (s, d) =>
      val docs = documents(s, d)
      val labels = docs.select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
      // fit on the deterministic sample END TO END (the feature pass is
      // bounded by the cap too — fitSampled); the full-corpus feature
      // relation exists only for the single scoring aggregate below, so
      // it streams through classify unmaterialized
      val w = graft.operators.Classifier.fitSampled(docs, "doc_id", "text",
        when(col("lang") === "en", 1.0).otherwise(0.0),
        ClsBuckets, ClsIters, ClsEta)
      val feats = graft.operators.Classifier
        .features(docs, "doc_id", "text", ClsBuckets)
      graft.operators.Classifier.classify(feats, "doc_id", w)
        .join(labels, Seq("doc_id"))
        .select(col("doc_id"), (col("y") === 1.0).as("label"),
          col("prob"), col("predicted"))
    },

    // Classifier CALIBRATION (how a learned gate actually deploys: CCNet
    // tunes the cutoff to a keep-rate budget, not to raw 0.5): the score
    // threshold achieving ~50% keep comes from an exact histogram over the
    // 1e-6-grid probabilities (the perplexity_bucket discipline — the
    // driver walk is bounded by the decimal grid, not the corpus), and the
    // report carries the threshold + confusion/precision/recall/accuracy
    // vs the langId labels at that operating point. Exact integer counts,
    // one IEEE division per metric, denominators guarded identically on
    // both engines.
    "classifier_calibration" -> { (s, d) =>
      val docs = documents(s, d)
      val labels = docs.select(col("doc_id"),
        when(col("lang") === "en", 1.0).otherwise(0.0).as("y"))
      // bounded fit first (fitSampled — no full-corpus feature pass);
      // the full features stream once into the scoring aggregate
      val w = graft.operators.Classifier.fitSampled(docs, "doc_id", "text",
        when(col("lang") === "en", 1.0).otherwise(0.0),
        ClsBuckets, ClsIters, ClsEta)
      val feats = graft.operators.Classifier
        .features(docs, "doc_id", "text", ClsBuckets)
      val per = graft.operators.Classifier.classify(feats, "doc_id", w)
        .join(labels, Seq("doc_id"))
        .select((col("y") === 1.0).as("label"), col("prob"))
        .localCheckpoint(eager = false) // feeds the histogram AND the report
      val hist = per.groupBy(col("prob")).agg(count(lit(1)).as("c"))
        .orderBy(col("prob")).collect() // grid-bounded driver hop
      val n = hist.map(_.getLong(1)).sum
      val target = (n + 1) / 2
      var cum = 0L
      var t = Double.NaN
      hist.foreach { r =>
        if (cum < target) { cum += r.getLong(1)
          if (cum >= target) t = r.getDouble(0) } }
      def cnt(p: org.apache.spark.sql.Column) =
        sum(when(p, 1L).otherwise(0L))
      per.withColumn("predicted", col("prob") > t)
        .agg(cnt(col("label") && col("predicted")).as("tp"),
          cnt(!col("label") && col("predicted")).as("fp"),
          cnt(col("label") && !col("predicted")).as("fn"),
          cnt(!col("label") && !col("predicted")).as("tn"))
        .select(lit(t).as("threshold"),
          (col("tp") + col("fp")).as("n_kept"),
          col("tp"), col("fp"), col("fn"), col("tn"),
          round(col("tp").cast("double") /
            greatest(col("tp") + col("fp"), lit(1L)), 6).as("precision"),
          round(col("tp").cast("double") /
            greatest(col("tp") + col("fn"), lit(1L)), 6).as("recall"),
          round((col("tp") + col("tn")).cast("double") /
            greatest(col("tp") + col("fp") + col("fn") + col("tn"), lit(1L)),
            6).as("accuracy"))
    },

    // Deterministic stratified sampling by language: sha256-ratio filter,
    // zero shuffle, reproducible across engines.
    "curation_sample" -> { (s, d) =>
      Curation.stratifiedSample(documents(s, d), "lang", "doc_id",
        SampleRates.toMap, SampleDefault, SampleSeed)
        .select(col("doc_id"), col("lang"))
    },

    // EXACT-COUNT stratified sampling: exactly min(quota, n) docs per
    // source, chosen by sha256-ratio order (deterministic "random", ties
    // impossible-free by id) — the fixed-budget complement of
    // curation_sample's rate filter. The bounded TopK aggregator keeps
    // only source×quota rows in the shuffle.
    "curation_quota" -> { (s, d) =>
      Curation.groupTopK(documents(s, d), "source", "doc_id",
        -Curation.hashRatio(col("doc_id"), QuotaSeed), k = QuotaK)
        .select(col("source"), col("doc_id"), col("rank").as("rnk"))
    },

    // Top-5 events per event_type by (value desc, event_id asc) via the
    // bounded map-side TopK aggregator (only G×k rows shuffle).
    "curation_topk" -> { (s, d) =>
      Curation.groupTopK(events(s, d), "event_type", "event_id",
        col("value"), k = 5)
        .select(col("event_type"), col("event_id"),
          round(col("score"), 6).as("score"), col("rank").as("rnk"))
    },

    // Deterministic Lloyd k-means (k=4, 2 update rounds) over the embedding
    // table; output = final (vector, cluster, squared distance) assignment.
    "curation_kmeans" -> { (s, d) =>
      Curation.kmeansAssign(embeddings(s, d), "vec_id", "embedding",
        k = 4, iters = 2)
        .select(col("vec_id"), col("cluster"), col("dist"))
    },

    // Overlapping token-window chunking (64-token windows, stride 48):
    // pure per-row codegen, chunks at scan speed.
    "curation_chunk" -> { (s, d) =>
      Curation.chunkDocuments(documents(s, d), "doc_id", "text",
        chunkSize = 64, stride = 48)
    },

    // Cluster-balanced diversity sampling (the embedding-space twin of
    // language-stratified sampling): k-means assigns every vector to a
    // cluster, then per-cluster deterministic rates down-sample the
    // over-represented regions — the curation move that keeps a corpus
    // from being dominated by one dense mode. Both stages are
    // engine-reproducible (deterministic k-means + sha256-ratio filter),
    // so the composition oracle-checks end to end.
    "curation_diversity" -> { (s, d) =>
      val assigned = Curation.kmeansAssign(embeddings(s, d), "vec_id",
        "embedding", k = 4, iters = 2)
        .select(col("vec_id"), col("cluster"),
          col("cluster").cast("string").as("cluster_s"))
      Curation.stratifiedSample(assigned, "cluster_s", "vec_id",
        DiversityRates, defaultRate = 1.0, seed = DiversitySeed)
        .select(col("vec_id"), col("cluster"))
    },

    // EPOCH-ANNEALED sampling (the mid-training curriculum discipline):
    // epoch 0 samples both quality tiers evenly; each later epoch shifts
    // keep mass toward the high tier, so the final epoch is dominated by
    // high-quality docs. The keep decision is the sha256-ratio filter on
    // (doc_id, epoch) — deterministic across engines and runs — and the
    // whole schedule is scan + per-row explode + filter: ZERO shuffles,
    // no state, embarrassingly parallel at any corpus size.
    "anneal_schedule" -> { (s, d) =>
      import graft.functions.Text
      val epochs = explode(array((0 until AnnealEpochs).map(lit): _*))
      val high = array(AnnealHighRates.map(lit): _*)
      val low = array(AnnealLowRates.map(lit): _*)
      documents(s, d)
        .select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
        .select(col("doc_id"), col("quality"), epochs.as("epoch"))
        .select(col("doc_id"), col("epoch"),
          when(col("quality") >= AnnealQHigh, lit("high"))
            .otherwise(lit("low")).as("tier"),
          when(col("quality") >= AnnealQHigh,
            element_at(high, col("epoch") + 1))
            .otherwise(element_at(low, col("epoch") + 1)).as("rate"))
        .where(Curation.hashRatio(
          concat(col("doc_id").cast("string"), lit("#"),
            col("epoch").cast("string")), AnnealSeed) < col("rate"))
    },

    // Curation FUNNEL report: every doc walks the gate chain in order
    // (too short → too repetitive → low quality) and lands on its first
    // failing gate; the per-source funnel is then one partial-aggregated
    // groupBy — drop accounting at scan speed, the observability row a
    // 100 TB curation run prints per shard. All three gate scores are
    // per-row codegen'd expressions; ZERO extra shuffles beyond the one
    // source-keyed aggregate (source-count-sized rows, never documents).
    "curation_funnel" -> { (s, d) =>
      import graft.functions.Text
      val gate =
        when(Text.tokenCountWs(col("text")) < FunnelMinWords, "short")
          .when(Text.repetitionRatio(col("text")) > FunnelMaxRep,
            "repetitive")
          .when(Text.qualityScore(col("text")) < FunnelMinQuality,
            "low_quality")
          .otherwise("kept")
      documents(s, d)
        .select(col("source"), gate.as("gate"))
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_total"),
          sum(when(col("gate") === "short", 1L).otherwise(0L))
            .as("n_short"),
          sum(when(col("gate") === "repetitive", 1L).otherwise(0L))
            .as("n_repetitive"),
          sum(when(col("gate") === "low_quality", 1L).otherwise(0L))
            .as("n_low_quality"),
          sum(when(col("gate") === "kept", 1L).otherwise(0L))
            .as("n_kept"))
    },

    // Cluster-quality evaluation of the curation_kmeans fit (same k=4,
    // iters=2 replay): simplified centroid silhouette — a and b read off
    // the one sorted candidate array the assignment already computes, so
    // the eval costs one assignment pass; k report rows leave the shuffle.
    "cluster_silhouette" -> { (s, d) =>
      Curation.silhouette(embeddings(s, d), "vec_id", "embedding",
        k = 4, iters = 2)
    },

    // Token-budget sampling: fill each lang's token budget greedily in
    // sha256-ratio order at bucket granularity. Two bounded aggregates
    // (doc→bucket histogram, per-lang cutoff over ≤BudgetBuckets rows)
    // and a lang-keyed broadcast join back — no per-stratum total order,
    // no corpus-wide window; the histogram is strata×buckets rows at any
    // corpus size (the quality_threshold_sweep discipline applied to a
    // sampling budget).
    "budget_sample" -> { (s, d) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("bucket"))
      val base = documents(s, d).select(
        col("doc_id"), col("lang"),
        graft.functions.Text.tokenCountWs(col("text")).cast("long")
          .as("n_tokens"),
        floor(Curation.hashRatio(col("doc_id"), BudgetSeed) * BudgetBuckets)
          .cast("int").as("bucket"))
      val cutoff = base.groupBy(col("lang"), col("bucket"))
        .agg(sum(col("n_tokens")).as("btoks"))
        .withColumn("cum", sum(col("btoks")).over(w))
        .where(col("cum") <= BudgetTokens)
        .groupBy(col("lang")).agg(max(col("bucket")).as("cutoff"))
      base.join(broadcast(cutoff), Seq("lang"), "left")
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("bucket"),
          (col("bucket") <= coalesce(col("cutoff"), lit(-1))).as("keep"))
    },

    // Reciprocal-rank fusion of two quality signals (RRF, Cormack et al.
    // 2009) — the robust ensemble that combines heterogeneous scores
    // without calibrating them: each signal ranks docs through its
    // GRID-BOUNDED level table (strictly-better cumsum broadcast back —
    // the skyline discipline; the corpus never globally sorts) and
    // rrf = 1/(60 + rank_q) + 1/(60 + rank_r).
    "quality_rrf" -> { (s, d) =>
      import graft.functions.Text
      val scored = documents(s, d).select(col("doc_id"),
        Text.qualityScore(col("text")).as("quality"),
        Text.repetitionRatio(col("text")).as("rep_ratio"))
      val wq = org.apache.spark.sql.expressions.Window
        .orderBy(col("quality").desc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val rq = scored.groupBy(col("quality")).agg(count(lit(1)).as("n"))
        .withColumn("rank_q", coalesce(sum(col("n")).over(wq), lit(0L)))
        .select(col("quality"), col("rank_q"))
      val wr = org.apache.spark.sql.expressions.Window
        .orderBy(col("rep_ratio").asc)
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val rr = scored.groupBy(col("rep_ratio")).agg(count(lit(1)).as("n"))
        .withColumn("rank_r", coalesce(sum(col("n")).over(wr), lit(0L)))
        .select(col("rep_ratio"), col("rank_r"))
      scored.join(broadcast(rq), Seq("quality"))
        .join(broadcast(rr), Seq("rep_ratio"))
        .select(col("doc_id"), col("quality"), col("rep_ratio"),
          col("rank_q"), col("rank_r"),
          round(lit(1.0) / (lit(60) + col("rank_q"))
            + lit(1.0) / (lit(60) + col("rank_r")), 6).as("rrf"))
    },

    // Temperature-smoothed source-mixture planning (share ∝ √avail — the
    // multilingual-sampling rule), a token budget, per-source epoch caps,
    // and two waterfill redistribution rounds: the mixing table a training
    // run is configured from. ONE source-keyed corpus aggregate with
    // map-side partials; every later stage lives on the |sources|-bounded
    // frame (one-row scalar aggregates broadcast back, integer token
    // arithmetic, exact-decimal share sums — nothing order-dependent
    // crosses engines).
    "mixture_weights" -> { (s, d) =>
      import graft.functions.Text
      val per = documents(s, d).groupBy(col("source"))
        .agg(sum(Text.tokenCountWs(col("text")).cast("long")).as("avail"))
        .withColumn("share", round(sqrt(col("avail").cast("double")), 6))
      val stats = per.agg(sum(col("avail")).cast("long").as("tot_avail"),
        sumDec(col("share"), 6).as("tot_share"))
      val base = per.crossJoin(broadcast(stats))
        .withColumn("budget",
          floor(col("tot_avail").cast("double") * MixBudgetFactor)
            .cast("long"))
        .withColumn("w", col("share") / col("tot_share"))
        .withColumn("cap",
          floor(col("avail").cast("double") * MixEpochCap).cast("long"))
        .withColumn("a0",
          least(floor(col("budget").cast("double") * col("w")).cast("long"),
            col("cap")))
      val fill1 = base.agg(sum(col("a0")).cast("long").as("used0"),
        sumDec(when(col("a0") < col("cap"), col("share"))
          .otherwise(lit(0.0)), 6).as("ws1"))
      val r1 = base.crossJoin(broadcast(fill1))
        .withColumn("a1", when(col("a0") < col("cap") && col("ws1") > 0.0,
          least(col("cap"), col("a0") +
            floor((col("budget") - col("used0")).cast("double") *
              (col("share") / col("ws1"))).cast("long")))
          .otherwise(col("a0")))
      val fill2 = r1.agg(sum(col("a1")).cast("long").as("used1"),
        sumDec(when(col("a1") < col("cap"), col("share"))
          .otherwise(lit(0.0)), 6).as("ws2"))
      r1.crossJoin(broadcast(fill2))
        .withColumn("alloc", when(col("a1") < col("cap") && col("ws2") > 0.0,
          least(col("cap"), col("a1") +
            floor((col("budget") - col("used1")).cast("double") *
              (col("share") / col("ws2"))).cast("long")))
          .otherwise(col("a1")))
        .select(col("source"), col("avail").as("avail_tokens"),
          round(col("w"), 6).as("weight"), col("cap").as("cap_tokens"),
          col("alloc").as("alloc_tokens"),
          round(col("alloc").cast("double") / col("avail"), 6).as("epochs"))
    }
  )

  val oracleSql: Map[String, String] = Map(
    "quality_rrf" ->
      s"""WITH qs AS (${QueriesLlm.qualityScoreSql("documents")}),
          rs AS (
            SELECT doc_id,
                   ROUND(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) /
                     CAST(GREATEST(len(w), 1) AS DOUBLE), 6) AS rep_ratio
            FROM (SELECT doc_id,
                         regexp_split_to_array(lower(text), '\\s+') AS w
                  FROM documents)),
          s AS (SELECT qs.doc_id, qs.quality, rs.rep_ratio
                FROM qs JOIN rs USING (doc_id)),
          lq AS (SELECT quality, CAST(count(*) AS BIGINT) AS n
                 FROM s GROUP BY quality),
          rq AS (SELECT quality,
                        CAST(COALESCE(SUM(n) OVER (ORDER BY quality DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS BIGINT) AS rank_q
                 FROM lq),
          lr AS (SELECT rep_ratio, CAST(count(*) AS BIGINT) AS n
                 FROM s GROUP BY rep_ratio),
          rr AS (SELECT rep_ratio,
                        CAST(COALESCE(SUM(n) OVER (ORDER BY rep_ratio ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS BIGINT) AS rank_r
                 FROM lr)
          SELECT s.doc_id, s.quality, s.rep_ratio, rq.rank_q, rr.rank_r,
                 ROUND(CAST(1.0 AS DOUBLE) / (60 + rank_q)
                   + CAST(1.0 AS DOUBLE) / (60 + rank_r), 6) AS rrf
          FROM s JOIN rq USING (quality) JOIN rr USING (rep_ratio)""",

    "mixture_weights" ->
      s"""WITH per AS (
            SELECT source,
                   CAST(SUM(len(regexp_extract_all(text, '\\S+'))) AS BIGINT)
                     AS avail
            FROM documents GROUP BY source),
          per2 AS (
            SELECT source, avail,
                   ROUND(sqrt(CAST(avail AS DOUBLE)), 6) AS share
            FROM per),
          st AS (
            SELECT CAST(SUM(avail) AS BIGINT) AS tot_avail,
                   CAST(SUM(CAST(share AS DECIMAL(30,6))) AS DOUBLE)
                     AS tot_share
            FROM per2),
          base AS (
            SELECT source, avail, share,
                   CAST(floor(CAST(tot_avail AS DOUBLE)
                     * CAST($MixBudgetFactor AS DOUBLE)) AS BIGINT) AS budget,
                   share / tot_share AS w,
                   CAST(floor(CAST(avail AS DOUBLE)
                     * CAST($MixEpochCap AS DOUBLE)) AS BIGINT) AS cap
            FROM per2, st),
          b0 AS (
            SELECT *, LEAST(CAST(floor(CAST(budget AS DOUBLE) * w) AS BIGINT),
                            cap) AS a0
            FROM base),
          f1 AS (
            SELECT CAST(SUM(a0) AS BIGINT) AS used0,
                   CAST(SUM(CAST(CASE WHEN a0 < cap THEN share ELSE 0.0 END
                     AS DECIMAL(30,6))) AS DOUBLE) AS ws1
            FROM b0),
          b1 AS (
            SELECT b0.*,
                   CASE WHEN a0 < cap AND ws1 > 0.0
                     THEN LEAST(cap, a0 + CAST(floor(
                       CAST(budget - used0 AS DOUBLE) * (share / ws1))
                       AS BIGINT))
                     ELSE a0 END AS a1
            FROM b0, f1),
          f2 AS (
            SELECT CAST(SUM(a1) AS BIGINT) AS used1,
                   CAST(SUM(CAST(CASE WHEN a1 < cap THEN share ELSE 0.0 END
                     AS DECIMAL(30,6))) AS DOUBLE) AS ws2
            FROM b1),
          b2 AS (
            SELECT b1.*,
                   CASE WHEN a1 < cap AND ws2 > 0.0
                     THEN LEAST(cap, a1 + CAST(floor(
                       CAST(budget - used1 AS DOUBLE) * (share / ws2))
                       AS BIGINT))
                     ELSE a1 END AS alloc
            FROM b1, f2)
          SELECT source, avail AS avail_tokens, ROUND(w, 6) AS weight,
                 cap AS cap_tokens, alloc AS alloc_tokens,
                 ROUND(CAST(alloc AS DOUBLE) / avail, 6) AS epochs
          FROM b2""",

    "curation_decontam" ->
      s"""WITH $ngramCte,
          train_ng AS (SELECT doc_id, unnest(sh) AS ngram FROM ng),
          bench_ng AS (SELECT DISTINCT unnest(sh) AS ngram FROM ng
                       WHERE doc_id % 17 = 0),
          overlap AS (
            SELECT doc_id, COUNT(*) AS n_contaminated
            FROM train_ng JOIN bench_ng USING (ngram)
            GROUP BY doc_id)
          SELECT d.doc_id,
                 coalesce(o.n_contaminated, 0) AS n_contaminated,
                 coalesce(o.n_contaminated, 0) > 0 AS contaminated
          FROM documents d LEFT JOIN overlap o USING (doc_id)""",

    "decontam_bloom" ->
      s"""WITH ${bloomDecontamCtes("documents")}
          SELECT d.doc_id,
                 coalesce(h.n_flagged, CAST(0 AS BIGINT)) AS n_flagged,
                 coalesce(h.n_flagged, 0) > 0 AS contaminated
          FROM documents d LEFT JOIN bl_hit h USING (doc_id)""",

    "quality_classifier" ->
      s"""WITH ${logRegCtes(ClsBuckets, ClsIters, ClsEta)}
          SELECT d.doc_id, d.y = 1.0 AS label,
                 ${hardSigmoidSql("s.s")} AS prob,
                 ${hardSigmoidSql("s.s")} >= 0.5 AS predicted
          FROM cls_docs d JOIN cls_sF s USING (doc_id)""",

    "classifier_calibration" ->
      s"""WITH ${logRegCtes(ClsBuckets, ClsIters, ClsEta)},
          per AS (
            SELECT d.y = 1.0 AS label, ${hardSigmoidSql("s.s")} AS prob
            FROM cls_docs d JOIN cls_sF s USING (doc_id)),
          nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
          hist AS (SELECT prob, CAST(count(*) AS BIGINT) AS c
                   FROM per GROUP BY 1),
          cum AS (SELECT prob, SUM(c) OVER (ORDER BY prob) AS cc FROM hist),
          t AS (SELECT min(prob) AS v FROM cum, nn
                WHERE cc >= (n + 1) // 2),
          kept AS (SELECT label, prob > (SELECT v FROM t) AS predicted
                   FROM per),
          agg AS (
            SELECT
              CAST(SUM(CASE WHEN label AND predicted THEN 1 ELSE 0 END) AS BIGINT) AS tp,
              CAST(SUM(CASE WHEN NOT label AND predicted THEN 1 ELSE 0 END) AS BIGINT) AS fp,
              CAST(SUM(CASE WHEN label AND NOT predicted THEN 1 ELSE 0 END) AS BIGINT) AS fn,
              CAST(SUM(CASE WHEN NOT label AND NOT predicted THEN 1 ELSE 0 END) AS BIGINT) AS tn
            FROM kept)
          SELECT (SELECT v FROM t) AS threshold,
                 tp + fp AS n_kept, tp, fp, fn, tn,
                 ROUND(CAST(tp AS DOUBLE) / GREATEST(tp + fp, 1), 6)
                   AS precision,
                 ROUND(CAST(tp AS DOUBLE) / GREATEST(tp + fn, 1), 6)
                   AS recall,
                 ROUND(CAST(tp + tn AS DOUBLE) /
                       GREATEST(tp + fp + fn + tn, 1), 6) AS accuracy
          FROM agg""",

    "curation_sample" -> {
      val rate = SampleRates.foldLeft(SampleDefault.toString) {
        case (acc, (s, p)) => s"CASE WHEN lang = '$s' THEN $p ELSE $acc END"
      }
      s"""SELECT doc_id, lang FROM documents
          WHERE ${ratioSql("doc_id", SampleSeed)} < ($rate)"""
    },

    "curation_quota" ->
      s"""SELECT source, doc_id, CAST(rnk AS INTEGER) AS rnk
          FROM (SELECT source, doc_id,
                       row_number() OVER (PARTITION BY source
                         ORDER BY ${ratioSql("doc_id", QuotaSeed)} ASC,
                                  doc_id ASC) AS rnk
                FROM documents)
          WHERE rnk <= $QuotaK""",

    "curation_topk" ->
      """SELECT event_type, event_id, ROUND(value, 6) AS score,
                CAST(rnk AS INTEGER) AS rnk
         FROM (SELECT event_type, event_id, value,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY value DESC, event_id ASC) AS rnk
               FROM events)
         WHERE rnk <= 5""",

    "curation_kmeans" ->
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
          a2 AS (${assignSql("v", "c2")})
          SELECT vec_id, cluster, dist FROM a2""",

    "curation_diversity" -> {
      val rate = DiversityRates.toSeq.sortBy(_._1).foldLeft("1.0") {
        case (acc, (c, p)) =>
          s"CASE WHEN CAST(cluster AS VARCHAR) = '$c' THEN $p ELSE $acc END"
      }
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
          a2 AS (${assignSql("v", "c2")})
          SELECT vec_id, cluster FROM a2
          WHERE ${ratioSql("vec_id", DiversitySeed)} < ($rate)"""
    },

    "curation_chunk" -> s"WITH ${chunkTailSql("documents", 64, 48)}",

    "anneal_schedule" -> {
      def caseOf(rates: Seq[Double]) =
        rates.zipWithIndex.map { case (r, e) =>
          s"WHEN $e THEN CAST($r AS DOUBLE)"
        }.mkString("CASE epoch ", " ", " END")
      s"""WITH scored AS (
            ${QueriesLlm.qualityScoreSql("documents")}),
          x AS (
            SELECT doc_id,
                   CAST(epoch AS INTEGER) AS epoch,
                   CASE WHEN quality >= $AnnealQHigh THEN 'high'
                        ELSE 'low' END AS tier,
                   CASE WHEN quality >= $AnnealQHigh
                        THEN ${caseOf(AnnealHighRates)}
                        ELSE ${caseOf(AnnealLowRates)} END AS rate
            FROM scored,
                 (SELECT unnest(generate_series(0, ${AnnealEpochs - 1}))
                    AS epoch) e)
          SELECT doc_id, epoch, tier, rate FROM x
          WHERE ${ratioSql(
            "CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR)",
            AnnealSeed)} < rate"""
    },

    "curation_funnel" ->
      s"""WITH scored AS (
            ${QueriesLlm.qualityScoreSql("documents", Seq("source"))}),
          rep AS (
            SELECT doc_id,
                   len(regexp_extract_all(text, '\\S+')) AS n_words,
                   ROUND(1.0 - CAST(len(list_distinct(w)) AS DOUBLE) /
                         CAST(GREATEST(len(w), 1) AS DOUBLE), 6) AS rep_ratio
            FROM (SELECT doc_id, text,
                         regexp_split_to_array(lower(text), '\\s+') AS w
                  FROM documents)),
          g AS (
            SELECT s.source,
                   CASE WHEN r.n_words < $FunnelMinWords THEN 'short'
                        WHEN r.rep_ratio > $FunnelMaxRep THEN 'repetitive'
                        WHEN s.quality < $FunnelMinQuality THEN 'low_quality'
                        ELSE 'kept' END AS gate
            FROM scored s JOIN rep r USING (doc_id))
          SELECT source,
                 CAST(count(*) AS BIGINT) AS n_total,
                 CAST(sum(CASE WHEN gate = 'short' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_short,
                 CAST(sum(CASE WHEN gate = 'repetitive' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_repetitive,
                 CAST(sum(CASE WHEN gate = 'low_quality' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_low_quality,
                 CAST(sum(CASE WHEN gate = 'kept' THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_kept
          FROM g GROUP BY source""",

    "cluster_silhouette" ->
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
          cands AS (
            SELECT t.vec_id, c.cluster, ${dist2Sql("t.v", "c.v")} AS dist,
                   row_number() OVER (PARTITION BY t.vec_id
                                      ORDER BY ${dist2Sql("t.v", "c.v")},
                                               c.cluster) AS rn
            FROM v t, c2 c),
          ab AS (
            SELECT a.vec_id, a.cluster, a.dist AS da, b.dist AS db
            FROM cands a JOIN cands b USING (vec_id)
            WHERE a.rn = 1 AND b.rn = 2),
          s AS (
            SELECT cluster, da,
                   CASE WHEN GREATEST(da, db) = 0 THEN 0.0
                        ELSE ROUND((db - da) / GREATEST(da, db), 6)
                   END AS sil
            FROM ab)
          SELECT cluster, CAST(count(*) AS BIGINT) AS n,
                 ROUND(CAST(SUM(CAST(sil AS DECIMAL(30,6))) AS DOUBLE)
                       / count(*), 6) AS mean_sil,
                 ROUND(CAST(SUM(CAST(da AS DECIMAL(30,6))) AS DOUBLE)
                       / count(*), 6) AS mean_dist
          FROM s GROUP BY cluster""",

    "budget_sample" ->
      s"""WITH base AS (
            SELECT doc_id, lang,
                   CAST(len(regexp_extract_all(text, '\\S+')) AS BIGINT)
                     AS n_tokens,
                   CAST(floor(${ratioSql("doc_id", BudgetSeed)}
                     * $BudgetBuckets) AS INTEGER) AS bucket
            FROM documents),
          hist AS (
            SELECT lang, bucket, sum(n_tokens) AS btoks
            FROM base GROUP BY lang, bucket),
          cum AS (
            SELECT lang, bucket,
                   sum(btoks) OVER (PARTITION BY lang ORDER BY bucket) AS cum
            FROM hist),
          cutoff AS (
            SELECT lang, max(bucket) AS cutoff
            FROM cum WHERE cum <= $BudgetTokens GROUP BY lang)
          SELECT b.doc_id, b.lang, b.n_tokens, b.bucket,
                 b.bucket <= coalesce(c.cutoff, -1) AS keep
          FROM base b LEFT JOIN cutoff c USING (lang)"""
  )

  /** Overlapping token-window chunk CTEs + final select over `rel` —
    * shared with the corpus-journey oracle (QueriesPipeline) so the window
    * arithmetic cannot drift between the two.
    */
  private[queries] def chunkTailSql(rel: String, size: Int,
                                    stride: Int): String =
    s"""ck_w AS (
          SELECT doc_id, regexp_split_to_array(lower(text), '\\s+') AS toks
          FROM $rel),
        ck_n AS (
          SELECT doc_id, toks, len(toks) AS n,
                 CASE WHEN len(toks) <= $size THEN 1
                      ELSE CAST(CEIL((len(toks) - $size) / $stride.0) AS BIGINT) + 1
                 END AS nc
          FROM ck_w),
        ck_c AS (
          SELECT doc_id, toks, n,
                 unnest(generate_series(0, nc - 1)) AS chunk_id
          FROM ck_n)
        SELECT doc_id, chunk_id,
               CAST(LEAST($size, n - chunk_id * $stride) AS BIGINT) AS n_tokens,
               array_to_string(toks[chunk_id * $stride + 1 : chunk_id * $stride + $size], ' ')
                 AS chunk_text
        FROM ck_c"""
}
