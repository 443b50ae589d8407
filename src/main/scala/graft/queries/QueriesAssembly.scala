package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TimeFns
import graft.operators.{Assembly, Ordered, StreamKey}
import Q._

/** §2.5 dataset assembly / serving (reference: pipelines/sample/,
  * pipelines/dataset/split.py, artifacts/scaler.py, analysis/vector/
  * coverage_stats.py, transforms/vector/drop/).
  */
object QueriesAssembly {

  private val key = StreamKey(Seq("user_id"), "ts", Seq("event_id"))

  /** events + two deterministic missing masks for coverage ops. */
  private def masked(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .withColumn("value_m",
        when(col("event_id") % 7 === 0, lit(null)).otherwise(col("value")))
      .withColumn("value_m3",
        when(col("event_id") % 3 === 0, lit(null)).otherwise(col("value")))

  private val maskSql =
    """SELECT *,
       CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value_m,
       CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS value_m3
       FROM events"""

  val queries: Map[String, QueryFn] = Map(
    // Wide sample vectors keyed by (cadence bucket, sample keys).
    "sample_assembly" -> { (s, d) =>
      Assembly.sampleAssembly(events(s, d), "ts", "1h", Seq("user_id"), Seq(
        "n_events" -> count(lit(1)),
        "avg_value" -> (sumDec(col("value")) / count(lit(1))),
        "purchase_total" -> sumDec(when(col("event_type") === "purchase", col("value")))
      )).select(eu(col("sample_time")).as("sample_time_us"), col("user_id"),
        col("n_events"), round(col("avg_value"), 6).as("avg_value"),
        col("purchase_total"))
    },

    // Sliding sequence windows (size 4, stride 2) — scalars derived from the
    // window array prove content + order.
    "sequence_windows" -> { (s, d) =>
      Assembly.sequenceWindows(events(s, d), key, "value", 4, 2, "win")
        .select(col("user_id"), eu(col("ts")).as("t_us"),
          size(col("win")).as("win_n"),
          element_at(col("win"), 1).as("win_first"),
          element_at(col("win"), 4).as("win_last"),
          round(aggregate(col("win"), lit(0.0),
            (acc, x) => acc + x), 6).as("win_sum"))
    },

    "coverage_stats" -> { (s, d) =>
      Assembly.coverageStats(masked(s, d), Seq("value", "value_m", "value_m3"))
        .select(col("column"), col("present"), col("non_null"), col("coverage"))
    },

    "filter_rows_coverage" -> { (s, d) =>
      Assembly.filterRowsByCoverage(masked(s, d),
        Seq("value", "value_m", "value_m3"), 0.6)
        .select(col("event_id"), col("value"), col("value_m"), col("value_m3"))
    },

    "select_columns_coverage" -> { (s, d) =>
      Assembly.coverageStats(masked(s, d), Seq("value", "value_m", "value_m3"))
        .filter(col("coverage") >= 0.8)
        .select(col("column"))
    },

    // HLL++ cardinality sketch next to the exact count. The estimate itself
    // is engine-specific, so the deterministic contract is: exact count +
    // a boolean asserting the sketch landed within 3·rsd of exact (the
    // oracle asserts TRUE — a sketch outside its own error bound is a bug).
    "approx_distinct" -> { (s, d) =>
      val rsd = 0.05
      graft.operators.Sketches.distinctWithApprox(events(s, d),
        Seq("event_type"), "user_id", rsd)
        .select(col("event_type"), col("exact_distinct"),
          (abs(col("approx_distinct") - col("exact_distinct")) <=
            lit(3 * rsd) * col("exact_distinct")).as("within_bounds"))
    },

    // KLL-style quantile sketch beside the exact answer: the mergeable
    // shape that survives 1000-executor partial aggregation. within_bounds
    // brackets the estimate between exact p45/p55 so the output is
    // deterministic and hash-matchable despite the engine-specific sketch.
    "approx_quantiles" -> { (s, d) =>
      events(s, d).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("raw_p50"),
          expr("percentile(value, 0.45)").as("lo"),
          expr("percentile(value, 0.55)").as("hi"),
          percentile_approx(col("value"), lit(0.5), lit(10000)).as("approx"))
        .select(col("event_type"), round(col("raw_p50"), 6).as("exact_p50"),
          (col("approx") >= col("lo") && col("approx") <= col("hi"))
            .as("within_bounds"))
    },

    // Model-batch handoff (reference integrations/ml.py ModelBatch): bounded
    // metadata-ordered numeric batches, batched PER PARTITION KEY (per-user
    // windows — no global row numbering, so the shape survives 100 TB).
    // Each batch row carries its ordered key list and feature matrix,
    // serialized as delimited strings of exact integers/decimals (no
    // rounding, so the string is engine-deterministic) because the driver's
    // comparator cannot hash array cells.
    "model_batches" -> { (s, d) =>
      val batchSize = 8
      val assembled = events(s, d)
        .withColumn("hour", TimeFns.floorTime(col("ts"), "1h"))
        .groupBy(col("user_id"), eu(col("hour")).as("h_us"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(30,4)")).as("sum_value"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("h_us"))
      assembled
        .withColumn("rn", row_number().over(w))
        .withColumn("batch_id", ((col("rn") - 1) / lit(batchSize)).cast("long"))
        .groupBy(col("user_id"), col("batch_id"))
        .agg(count(lit(1)).cast("long").as("n"),
          sort_array(collect_list(struct(col("h_us"),
            // coalesce keeps the feature list aligned with the key list when
            // every value in a group is NULL (concat_ws would silently drop
            // the element; the oracle's || propagates NULL) — both engines
            // emit the literal 'null' instead
            concat_ws(";", col("n_events").cast("string"),
              coalesce(col("sum_value").cast("decimal(30,4)").cast("string"),
                lit("null"))).as("fv"))))
            .as("rows"))
        .select(col("user_id"), col("batch_id"), col("n"),
          array_join(transform(col("rows"),
            r => r.getField("h_us").cast("string")), ",").as("keys"),
          array_join(transform(col("rows"), r => r.getField("fv")), "|")
            .as("features"))
    },

    // Availability matrix (reference analysis/vector/matrix.py): per
    // (sample, configured entry) status rows — a configured-but-never-
    // assembled column reads `absent`, a purchase-less hour reads `null`,
    // and the sequence vector carries per-element statuses.
    "availability_matrix" -> { (s, d) =>
      import graft.operators.Assembly
      val assembled = events(s, d)
        .withColumn("hour", TimeFns.floorTime(col("ts"), "1h"))
        .groupBy(col("user_id"), eu(col("hour")).as("h_us"))
        .agg(count(lit(1)).as("n_events"),
          avg(when(col("event_type") === "purchase", col("value"))).as("avg_purchase"),
          array(min(col("value")),
            max(when(col("event_type") === "purchase", col("value")))).as("minmax_seq"))
      Assembly.availabilityMatrix(assembled, Seq("user_id", "h_us"),
        Seq(Assembly.MatrixEntry("feature", "n_events"),
          Assembly.MatrixEntry("feature", "avg_purchase"),
          Assembly.MatrixEntry("feature", "ghost_feature"),
          Assembly.MatrixEntry("target", "minmax_seq", Some(2))))
        // per-element statuses joined to one scalar cell for the hash gate
        .withColumn("elements", array_join(col("elements"), ","))
    },

    // Conform assembled samples to a vector-metadata contract: contract
    // order, absent column → NULL, extras dropped.
    "conform_vectors" -> { (s, d) =>
      val assembled = events(s, d)
        .withColumn("hour", TimeFns.floorTime(col("ts"), "1h"))
        .groupBy(col("user_id"), col("hour"))
        .agg(count(lit(1)).as("n_events"),
          (sumDec(col("value")) / count(lit(1))).as("avg_value"),
          max(col("event_type")).as("extra_col"))
      Assembly.conform(assembled, Seq("user_id", "hour"),
        Seq(Assembly.VectorEntry("n_events"), Assembly.VectorEntry("avg_value"),
          Assembly.VectorEntry("missing_feature")))
        .select(col("user_id"), eu(col("hour")).as("hour_us"),
          col("n_events").cast("long").as("n_events"),
          round(col("avg_value"), 6).as("avg_value"), col("missing_feature"))
    },

    // Declarative DATA CONTRACT over an ingest table — the expectations
    // gate a pipeline runs before trusting a new drop: every constraint
    // (null, referential-consistency, range, allowlist, uniqueness) folds
    // into ONE aggregate pass (CASE sums + one exact distinct for the
    // uniqueness term — approx_distinct is the stated 100 TB path), then
    // unpivots to a per-constraint verdict row. Zero joins; the report is
    // constraint-count-sized.
    "data_contract" -> { (s, d) =>
      val langs = graft.functions.Text.LangPriority
      val agg = documents(s, d).agg(
        count(lit(1)).as("n"),
        sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("v_null"),
        (count(lit(1)) - countDistinct(col("doc_id"))).as("v_uniq"),
        sum(when(!col("lang").isin(langs: _*), 1L).otherwise(0L))
          .as("v_lang"),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
          .as("v_chars"),
        sum(when(length(col("text")) <= 0, 1L).otherwise(0L)).as("v_empty"))
      agg.select(expr(
        """stack(5,
           'doc_id_not_null', v_null,
           'doc_id_unique', v_uniq,
           'lang_allowed', v_lang,
           'n_chars_consistent', v_chars,
           'text_nonempty', v_empty) AS (rule, n_violations)"""),
        col("n").as("n_checked"))
        .select(col("rule"), col("n_checked"),
          col("n_violations").cast("long").as("n_violations"),
          (col("n_violations") === 0L).as("pass"))
    },

    // sha256(seed|token) 53-bit ratio bucketing — bit-identical to reference
    // HashLabeler (pipelines/dataset/split.py).
    "hash_split" -> { (s, d) =>
      Assembly.hashSplitLabel(documents(s, d).select(col("doc_id")), col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42, "fold")
    },

    "time_split" -> { (s, d) =>
      orders(s, d).select(col("o_orderkey"),
        Assembly.timeSplitLabel(col("o_orderdate"), Seq(
          "train" -> Some("1998-01-01"),
          "val" -> Some("2000-01-01"),
          "test" -> None)).as("fold"))
    },

    // Scaler fitted on the hash-split train fold, applied everywhere.
    // std is rounded to 6dp at fit time on both sides so the per-row
    // (x - mean) / std arithmetic is bit-identical across engines.
    "standard_scaler" -> { (s, d) =>
      val e = Assembly.hashSplitLabel(events(s, d), col("event_id"),
        Seq("train" -> 0.8, "test" -> 0.2), seed = 7, "fold")
      val train = e.filter(col("fold") === "train")
      val stats = train.agg(
        (sumDec(col("value")) / count(col("value"))).as("mean"),
        round(greatest(coalesce(stddev_pop(col("value")), lit(0.0)), lit(1e-12)), 6).as("std"))
      Assembly.applyStandardScaler(e, stats, "value", "z")
        .select(col("event_id"), col("z"))
    }
  )

  private val hourSql = "epoch_us(ts) - epoch_us(ts) % 3600000000"

  /** SQL twin of Assembly.hashSplitLabel for a given seed/token expression. */
  private[queries] def hashSplitSql(tokenExpr: String, seed: Int,
                                    cases: Seq[(String, Double)]): String = {
    val r = s"CAST(CAST('0x' || substr(sha256('$seed|' || CAST($tokenExpr AS VARCHAR)), 3, 14) AS BIGINT) & 9007199254740991 AS DOUBLE) / 9007199254740992.0"
    val whens = {
      val cum = cases.scanLeft(0.0)(_ + _._2).tail
      cases.map(_._1).zip(cum).dropRight(1)
        .map { case (l, t) => s"WHEN $r < $t THEN '$l'" }.mkString(" ")
    }
    s"CASE $whens ELSE '${cases.last._1}' END"
  }

  val oracleSql: Map[String, String] = Map(
    "approx_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_distinct,
         TRUE AS within_bounds FROM events GROUP BY event_type""",

    "approx_quantiles" ->
      """SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS exact_p50,
         TRUE AS within_bounds FROM events GROUP BY event_type""",

    "model_batches" ->
      s"""WITH a AS (
            SELECT user_id, $hourSql AS h_us, COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(30,4))) AS DECIMAL(30,4))
                     AS sum_value
            FROM events GROUP BY user_id, 2),
          r AS (
            SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY h_us) AS rn
            FROM a)
          SELECT user_id, CAST((rn - 1) // 8 AS BIGINT) AS batch_id,
                 COUNT(*) AS n,
                 string_agg(CAST(h_us AS VARCHAR), ',' ORDER BY h_us) AS keys,
                 string_agg(CAST(n_events AS VARCHAR) || ';' ||
                   coalesce(CAST(sum_value AS VARCHAR), 'null'),
                   '|' ORDER BY h_us) AS features
          FROM r GROUP BY user_id, 2""",

    "availability_matrix" ->
      s"""WITH a AS (
            SELECT user_id, $hourSql AS h_us, COUNT(*) AS n_events,
                   avg(CASE WHEN event_type = 'purchase' THEN value END) AS avg_p,
                   max(CASE WHEN event_type = 'purchase' THEN value END) AS mx_p
            FROM events GROUP BY user_id, 2),
          g AS (SELECT CAST(user_id AS VARCHAR) || ', ' || CAST(h_us AS VARCHAR)
                         AS grp, avg_p, mx_p FROM a)
          SELECT 'feature' AS vector, 'n_events' AS identifier, grp,
                 'present' AS status, '' AS elements FROM g
          UNION ALL
          SELECT 'feature', 'avg_purchase', grp,
                 CASE WHEN avg_p IS NULL THEN 'null' ELSE 'present' END, '' FROM g
          UNION ALL
          SELECT 'feature', 'ghost_feature', grp, 'absent', '' FROM g
          UNION ALL
          SELECT 'target', 'minmax_seq', grp, 'present',
                 'present,' || CASE WHEN mx_p IS NULL THEN 'null' ELSE 'present' END
          FROM g""",

    "sample_assembly" ->
      s"""SELECT $hourSql AS sample_time_us, user_id, COUNT(*) AS n_events,
          ROUND(${sumDecSql("value")} / COUNT(*), 6) AS avg_value,
          ${sumDecSql("CASE WHEN event_type = 'purchase' THEN value END")} AS purchase_total
          FROM events GROUP BY 1, user_id""",

    "sequence_windows" ->
      """SELECT user_id, t_us, win_n, win_first, win_last, ROUND(win_sum, 6) AS win_sum
         FROM (
           SELECT user_id, epoch_us(ts) AS t_us,
                  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
                  count(*) OVER w4 AS win_n,
                  first_value(value) OVER w4 AS win_first,
                  value AS win_last,
                  0.0 + coalesce(lag(value, 3) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0)
                    + coalesce(lag(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0)
                    + coalesce(lag(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id), 0)
                    + value AS win_sum
           FROM events
           WINDOW w4 AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW))
         WHERE rn >= 4 AND (rn - 4) % 2 = 0""",

    "coverage_stats" ->
      s"""WITH m AS ($maskSql)
          SELECT 'value' AS "column", COUNT(*) AS present, COUNT(value) AS non_null,
                 CAST(COUNT(value) AS DOUBLE) / COUNT(*) AS coverage FROM m
          UNION ALL
          SELECT 'value_m', COUNT(*), COUNT(value_m),
                 CAST(COUNT(value_m) AS DOUBLE) / COUNT(*) FROM m
          UNION ALL
          SELECT 'value_m3', COUNT(*), COUNT(value_m3),
                 CAST(COUNT(value_m3) AS DOUBLE) / COUNT(*) FROM m""",

    "filter_rows_coverage" ->
      s"""SELECT event_id, value, value_m, value_m3 FROM ($maskSql)
          WHERE (CASE WHEN value IS NOT NULL THEN 1 ELSE 0 END
               + CASE WHEN value_m IS NOT NULL THEN 1 ELSE 0 END
               + CASE WHEN value_m3 IS NOT NULL THEN 1 ELSE 0 END) >= 1.7999999999999998""",

    "select_columns_coverage" ->
      s"""WITH m AS ($maskSql), cov AS (
            SELECT 'value' AS "column", CAST(COUNT(value) AS DOUBLE) / COUNT(*) AS coverage FROM m
            UNION ALL SELECT 'value_m', CAST(COUNT(value_m) AS DOUBLE) / COUNT(*) FROM m
            UNION ALL SELECT 'value_m3', CAST(COUNT(value_m3) AS DOUBLE) / COUNT(*) FROM m)
          SELECT "column" FROM cov WHERE coverage >= 0.8""",

    "conform_vectors" ->
      s"""SELECT user_id, $hourSql AS hour_us, COUNT(*) AS n_events,
          ROUND(${sumDecSql("value")} / COUNT(*), 6) AS avg_value,
          CAST(NULL AS DOUBLE) AS missing_feature
          FROM events GROUP BY user_id, 2""",

    "data_contract" -> {
      val langs = graft.functions.Text.LangPriority
        .map(l => s"'$l'").mkString(", ")
      s"""WITH a AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                     AS BIGINT) AS v_null,
                   CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) AS v_uniq,
                   CAST(sum(CASE WHEN lang NOT IN ($langs) THEN 1 ELSE 0 END)
                     AS BIGINT) AS v_lang,
                   CAST(sum(CASE WHEN n_chars != length(text) THEN 1 ELSE 0
                     END) AS BIGINT) AS v_chars,
                   CAST(sum(CASE WHEN length(text) <= 0 THEN 1 ELSE 0 END)
                     AS BIGINT) AS v_empty
            FROM documents)
          SELECT 'doc_id_not_null' AS rule, n AS n_checked,
                 v_null AS n_violations, v_null = 0 AS pass FROM a
          UNION ALL SELECT 'doc_id_unique', n, v_uniq, v_uniq = 0 FROM a
          UNION ALL SELECT 'lang_allowed', n, v_lang, v_lang = 0 FROM a
          UNION ALL SELECT 'n_chars_consistent', n, v_chars, v_chars = 0 FROM a
          UNION ALL SELECT 'text_nonempty', n, v_empty, v_empty = 0 FROM a"""
    },

    "hash_split" ->
      s"""SELECT doc_id, ${hashSplitSql("doc_id", 42,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))} AS fold FROM documents""",

    "time_split" ->
      """SELECT o_orderkey,
         CASE WHEN o_orderdate < TIMESTAMP '1998-01-01' THEN 'train'
              WHEN o_orderdate < TIMESTAMP '2000-01-01' THEN 'val'
              ELSE 'test' END AS fold FROM orders""",

    "standard_scaler" ->
      s"""WITH labeled AS (
            SELECT event_id, value, ${hashSplitSql("event_id", 7,
        Seq("train" -> 0.8, "test" -> 0.2))} AS fold FROM events),
          stats AS (
            SELECT ${sumDecSql("value")} / COUNT(value) AS mean,
                   ROUND(GREATEST(COALESCE(stddev_pop(value), 0.0), 1e-12), 6) AS std
            FROM labeled WHERE fold = 'train')
          SELECT event_id, (value - mean) / std AS z FROM labeled, stats"""
  )
}
