package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming equivalents (SURVEY.md §2.8). The reference engine is
  * iterator-streaming end-to-end (docs/dataflow.md); graft expresses the same
  * unbounded-stream semantics with Structured Streaming: file source →
  * event-time window aggregation with a watermark → sink.
  */
object Streaming {

  /** Unbounded read of ANY single table as a stream. The file source needs
    * a directory: a directory-shaped table (multi-file parquet, e.g. the
    * ScaleUp output) streams in place — the real-deployment path, pointing
    * at the ingest directory itself — while a single-file driver table is
    * staged into a per-table scratch dir. Schema comes from the parquet
    * footer.
    */
  def readTable(spark: SparkSession, sfDir: String, table: String): DataFrame =
    readParquetStream(spark, s"$sfDir/$table.parquet")

  /** Unbounded read of any parquet path as a stream (see [[readTable]]):
    * directories stream in place, single driver files stage into a
    * per-path scratch dir. Also the streaming entry for config-declared
    * corpus sources (ConfigRuntime.corpusStream).
    */
  def readParquetStream(spark: SparkSession, path: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val src = Paths.get(path)
    ensureParquetCompat(spark)
    val dir =
      if (Files.isDirectory(src)) src
      else {
        // Scratch dir keyed on a sha-256 of the FULL source path: a 32-bit
        // hashCode of the parent collides across datasets (and
        // abs(Int.MinValue) is negative), silently streaming a stale copy
        // staged by another source.
        val digest = java.security.MessageDigest.getInstance("SHA-256")
          .digest(src.toAbsolutePath.toString.getBytes("UTF-8"))
          .take(12).map("%02x".format(_)).mkString
        val d = Paths.get(s"/tmp/graft_stream_src/${digest}_${src.getFileName}")
        Files.createDirectories(d)
        Files.copy(src, d.resolve(src.getFileName),
          StandardCopyOption.REPLACE_EXISTING)
        d
      }
    val schema = spark.read.parquet(dir.toString).schema
    spark.readStream.schema(schema).parquet(dir.toString)
  }

  /** Driver-data parquet compatibility confs (TIMESTAMP(NANOS) columns read
    * as long ns; no NTZ inference). spark.conf.set is cheap and idempotent,
    * so set them on every call — a per-session memo keyed on
    * identityHashCode (the previous shape) can collide or alias a GC'd
    * session's slot and silently skip a NEW session, breaking
    * TIMESTAMP(NANOS) reads.
    */
  def ensureParquetCompat(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // Skip no-data micro-batches: after the last data batch the engine
    // otherwise runs ONE MORE empty batch to advance the watermark, and a
    // stateful plan re-loads and re-commits every state partition for it —
    // measured (r16 probe, sf0.1): the empty batch's addBatch was 4.3 s vs
    // 5.3 s for the 100K-row data batch, i.e. ~45% of a stateful head's
    // stream time for zero rows. Emission audit (OPTIMIZATION_r16.md): no
    // query in this repo emits rows FROM a no-data batch — aggregations
    // run complete/update mode, dropDuplicates and the stateless corpus
    // journeys emit on arrival, and the flatMapGroupsWithState heads use
    // NoTimeout — so results are identical (oracle-gated). A query that
    // needed watermark-triggered append emission (append-mode windowed
    // aggregation) would have to re-enable this.
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
  }

  /** The events table as a stream, with its TIMESTAMP(NANOS)-as-long layout
    * (driver data) normalized to µs-grain timestamps.
    */
  def readEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = readTable(spark, sfDir, "events")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else raw
  }

  /** Tumbling-window aggregation with a watermark — the streaming twin of the
    * batch hourly rollup. Watermark bounds state at scale; `complete` output
    * is only used by the finite verification harness.
    */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(30,4)")).cast("double").as("total"))
      .select(unix_micros(col("window.start")).as("hour_us"),
        col("event_type"), col("n"), col("total"))

  /** Custom streaming state (reference keeps per-partition history inside its
    * iterator transforms): running per-user event counts via
    * mapGroupsWithState. Update-mode emissions may appear once per
    * micro-batch; the final count per key is the max emission.
    */
  def runningUserCounts(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    events.select(col("user_id")).as[Long]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[Long], state: org.apache.spark.sql.streaming.GroupState[Long]) =>
          val n = state.getOption.getOrElse(0L) + rows.size
          state.update(n)
          (user, n)
      }
      .toDF("user_id", "n")
  }

  /** Drive [[runningUserCounts]] over the finite input; per-batch update
    * emissions collapse to the per-user max = total.
    */
  def runUserCountsToBatch(spark: SparkSession, sfDir: String,
                           tableName: String): DataFrame = {
    val q = runningUserCounts(spark, readEvents(spark, sfDir))
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(tableName).groupBy(col("user_id"))
      .agg(max(col("n")).as("n"))
  }

  /** Streaming exact dedup: dropDuplicates within the watermark horizon —
    * the unbounded twin of batch exact dedup (state is bounded by the
    * watermark, the property that makes it deployable on an infinite
    * stream). Emits distinct (user_id, event_type) pairs.
    */
  def dedupedPairs(spark: SparkSession, sfDir: String,
                   tableName: String): DataFrame = {
    val q = readEvents(spark, sfDir)
      .withWatermark("ts", "1 hour")
      .select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicates("user_id", "event_type")
      .select(col("user_id"), col("event_type"))
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(tableName)
  }

  /** One gap-closed run of events for a user. Bounds are epoch-µs. */
  case class SessionSpan(start: Long, end: Long, n: Long)

  /** Streaming gap-based sessionization (the unbounded twin of
    * Ordered.sessionize): per-user state is the set of DISJOINT session
    * spans — bounded by the number of sessions, not events, which is what
    * makes it deployable on an infinite stream (with an event-time timeout
    * evicting closed sessions older than the watermark; the finite
    * verification harness keeps them to emit the final snapshot).
    *
    * Insertion is order-insensitive: an event lands in any span within
    * `gap` of it, merging spans it bridges — so late/out-of-order arrivals
    * across micro-batches still converge to the exact batch answer.
    */
  def mergeEvent(sessions: Seq[SessionSpan], t: Long, gapUs: Long): Seq[SessionSpan] = {
    val (touching, rest) = sessions.partition(s =>
      t >= s.start - gapUs && t <= s.end + gapUs)
    val merged = SessionSpan(
      (t +: touching.map(_.start)).min,
      (t +: touching.map(_.end)).max,
      touching.map(_.n).sum + 1)
    (merged +: rest).sortBy(_.start)
  }

  /** Batch form of repeated [[mergeEvent]]: fold a WHOLE micro-batch of
    * event times into the span set in one sorted sweep. Gap-closure is a
    * fixpoint — the result is the same for any insertion order — so
    * sorting the batch and linear-merging against the (already sorted,
    * disjoint) state is exactly the per-event fold, without its per-event
    * partition/sort allocations (the r12 stream_sessionize premium: ~all
    * of the 5.2× batch/stream gap was this inner loop).
    * StreamingSinkSpec pins equality against the per-event fold.
    */
  def mergeEvents(sessions: Seq[SessionSpan], ts: Array[Long],
                  gapUs: Long): Seq[SessionSpan] = {
    if (ts.isEmpty) return sessions
    java.util.Arrays.sort(ts)
    val out = scala.collection.mutable.ArrayBuffer.empty[SessionSpan]
    var curStart = 0L; var curEnd = 0L; var curN = 0L; var open = false
    @inline def push(s: Long, e: Long, n: Long): Unit = {
      if (open && s <= curEnd + gapUs) {
        if (e > curEnd) curEnd = e
        curN += n
      } else {
        if (open) out += SessionSpan(curStart, curEnd, curN)
        curStart = s; curEnd = e; curN = n; open = true
      }
    }
    // two-pointer merge of the sorted state spans and the sorted batch
    // points (each a width-0 span of weight 1), in start order
    var i = 0; var j = 0
    while (i < sessions.length || j < ts.length) {
      if (j >= ts.length ||
        (i < sessions.length && sessions(i).start <= ts(j))) {
        val s = sessions(i); push(s.start, s.end, s.n); i += 1
      } else { push(ts(j), ts(j), 1L); j += 1 }
    }
    out += SessionSpan(curStart, curEnd, curN)
    out.toSeq
  }

  /** Per-batch update emissions: each touched user re-emits ONE row carrying
    * its full span array, tagged with the running event total (strictly
    * increasing per emission, so the final snapshot per user is the
    * max-total one). One row per user per batch — not one per session —
    * keeps the update log O(users × batches) and lets the final snapshot be
    * a hash aggregate instead of a sort.
    */
  def gapSessions(spark: SparkSession, events: DataFrame,
                  gapUs: Long): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    events.select(col("user_id"), unix_micros(col("ts")).as("t"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Seq[SessionSpan], (Long, Long, Seq[(Long, Long, Long)])](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long)],
         state: org.apache.spark.sql.streaming.GroupState[Seq[SessionSpan]]) =>
          val sessions = mergeEvents(state.getOption.getOrElse(Seq.empty),
            rows.map(_._2).toArray, gapUs)
          state.update(sessions)
          val total = sessions.map(_.n).sum
          Iterator.single((user, total, sessions.map(s => (s.n, s.start, s.end))))
      }
      .toDF("user_id", "total_n", "spans")
  }

  /** Drive [[gapSessions]] over the finite input; keep each user's last
    * (= max running total) snapshot — the exact sessionization. `max_by` is
    * a plain hash aggregate with a map-side partial, so the snapshot costs
    * no shuffle-sort over the update log (the r5 window-max did).
    */
  def runSessionsToBatch(spark: SparkSession, sfDir: String, tableName: String,
                         gap: String = "30min"): DataFrame = {
    val gapUs = graft.functions.TimeFns.parseCadenceMillis(gap) * 1000L
    val sessions = gapSessions(spark, readEvents(spark, sfDir), gapUs)
    // update-mode emissions can't use the parquet sink directly, but the
    // verification only needs the emission MULTISET (the memory sink in
    // update mode appends each batch's updated rows too) — so under
    // SPARK_GRAFT_STREAM_SINK=parquet each micro-batch appends to a
    // parquet dir via foreachBatch instead of collecting a >1 GiB
    // per-user-spans table onto the driver (sf100: maxResultSize abort,
    // the full-surface sweep's finding).
    val emitted = sys.env.get("SPARK_GRAFT_STREAM_SINK")
      .filter(_ == "parquet")
      .map(_ => s"/tmp/graft_stream_sink/$tableName") match {
      case None =>
        val q = sessions.writeStream
          .format("memory")
          .queryName(tableName)
          .outputMode("update")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.table(tableName)
      case Some(dir) =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        val q = sessions.writeStream
          .outputMode("update")
          .option("checkpointLocation", s"$dir/_chk")
          .foreachBatch {
            (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             _: Long) =>
              batch.write.mode("append").parquet(s"$dir/out")
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
        spark.read.parquet(s"$dir/out")
    }
    emitted
      .groupBy(col("user_id"))
      .agg(max_by(col("spans"), col("total_n")).as("spans"))
      .select(col("user_id"), posexplode(col("spans")).as(Seq("session_id", "s")))
      .select(col("user_id"), col("session_id").cast("long").as("session_id"),
        col("s._1").as("n_events"), col("s._2").as("start_us"), col("s._3").as("end_us"))
  }

  /** Stateful streaming as-of attach (the unbounded twin of the batch
    * Compose.asofJoin): every event carries the latest reference value at or
    * before its event time, where the reference stream is the user's own
    * purchase events. Per-user state is the reference series — in a
    * deployment a watermark evicts reference points older than the horizon
    * (only the newest point at-or-before the watermark can still win), so
    * state is bounded; the finite harness keeps them all. Duplicate
    * reference timestamps collapse to max(value) (both engines, so the
    * attach is deterministic even on colliding data).
    *
    * Events attach against every reference seen up to their own micro-batch
    * (within a batch, order-insensitively: refs merge before probes attach)
    * — the standard streaming caveat that a reference arriving later than
    * the watermark cannot retro-attach.
    */
  def asofAttach(spark: SparkSession, sfDir: String, tableName: String,
                 sinkDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    // file sinks are append-only; each event emits exactly once in its own
    // micro-batch, so Append and Update carry identical rows here — the
    // operator's declared mode just has to match the query's
    val mode = if (sinkDir.isDefined) OutputMode.Append() else OutputMode.Update()
    val tagged = readEvents(spark, sfDir)
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        col("event_id"), col("value"),
        (col("event_type") === "purchase").as("is_ref"))
      .as[(Long, Long, Long, Double, Boolean)]
    val attached = tagged
      .groupByKey(_._1)
      .flatMapGroupsWithState[Map[Long, Double], (Long, Long, Long, Option[Double])](
        mode, GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[(Long, Long, Long, Double, Boolean)],
         state: org.apache.spark.sql.streaming.GroupState[Map[Long, Double]]) =>
          val batch = rows.toVector
          var refs = state.getOption.getOrElse(Map.empty[Long, Double])
          batch.foreach { case (_, t, _, v, isRef) =>
            if (isRef) refs = refs.updated(t, refs.get(t).fold(v)(math.max(_, v)))
          }
          state.update(refs)
          val sortedTs = refs.keys.toArray.sorted
          batch.iterator.map { case (_, t, eventId, _, _) =>
            // binary search: latest reference ts <= t
            var lo = 0; var hi = sortedTs.length - 1; var best = -1
            while (lo <= hi) {
              val mid = (lo + hi) >>> 1
              if (sortedTs(mid) <= t) { best = mid; lo = mid + 1 } else hi = mid - 1
            }
            (eventId, user, t,
              if (best >= 0) Some(refs(sortedTs(best))) else None)
          }
      }
      .toDF("event_id", "user_id", "t_us", "last_purchase")
    sinkTo(spark, attached, tableName, "update", sinkDir)
  }

  /** Route a finished streaming frame to the verification sink: in-memory
    * table (gate scale — rows collect on the driver) or a parquet directory
    * (the DISTRIBUTED path — executors write shards, nothing funnels
    * through the driver; this is what a deployment does and what the sf1
    * sweep times, since a driver-side memory sink turns a 1M-row result
    * into a linear collect that measures the harness, not the operator).
    */
  private def sinkTo(spark: SparkSession, df: DataFrame, tableName: String,
                     memoryMode: String, sinkDir: Option[String]): DataFrame = {
    // SPARK_GRAFT_STREAM_SINK=parquet routes EVERY append-mode (result-
    // linear) streaming verification through the distributed sink, not
    // just the call sites that plumb a dir explicitly: at sf100 a
    // result-linear journey's memory table is a >1 GiB driver collect
    // (spark.driver.maxResultSize aborts it — the full-surface sweep
    // caught stream_corpus_{classify,extract,mix,tokenize} exactly there),
    // and even SUCCESSFUL memory tables accumulate on the driver heap for
    // the session's lifetime, starving later queries. Complete/update-mode
    // results are keyed-bounded by construction (and parquet sinks don't
    // support those modes), so they stay in-memory.
    val dir = sinkDir.orElse(
      if (memoryMode == "append")
        sys.env.get("SPARK_GRAFT_STREAM_SINK").filter(_ == "parquet")
          .map(_ => s"/tmp/graft_stream_sink/$tableName")
      else None)
    dir match {
      case None =>
        val q = df.writeStream.format("memory").queryName(tableName)
          .outputMode(memoryMode).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        spark.table(tableName)
      case Some(dir) =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
        val q = df.writeStream.format("parquet")
          .option("path", s"$dir/out")
          .option("checkpointLocation", s"$dir/_chk")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        spark.read.parquet(s"$dir/out")
    }
  }

  /** Stream-static join: attach dimension attributes to an unbounded event
    * stream — the streaming twin of the batch broadcast attach
    * (reference alignment/broadcast.py; batch twin: Compose.broadcastAttach).
    * Structured Streaming re-plans the static side per micro-batch, so the
    * dim broadcast stays fresh without any state store; append mode, no
    * watermark needed (a join adds no unbounded state for stream-static).
    */
  def attachStatic(spark: SparkSession, sfDir: String, tableName: String,
                   sinkDir: Option[String] = None): DataFrame = {
    val dim = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_acctbal"))
    val joined = readEvents(spark, sfDir)
      .join(dim, col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_acctbal"))
    sinkTo(spark, joined, tableName, "append", sinkDir)
  }

  /** Streaming corpus curation: the composed quality gate (language
    * allowlist ∧ quality floor ∧ repetition ceiling) applied to documents
    * AS THEY ARRIVE — the ingest-time filter of a continuously-fed training
    * corpus. Stateless (pure codegen'd column expressions, no watermark, no
    * state store), so it scales with scan throughput and emits in append
    * mode to any sink.
    */
  def corpusFilter(spark: SparkSession, sfDir: String, tableName: String,
                   sinkDir: Option[String] = None): DataFrame = {
    import graft.functions.Text
    val t = col("text")
    val gated = readTable(spark, sfDir, "documents")
      .select(col("doc_id"),
        (Text.langId(t) === "en").as("lang_ok"),
        (Text.qualityScore(t) >= 0.3).as("quality_ok"),
        (Text.repetitionRatio(t) <= 0.8).as("repetition_ok"))
      .withColumn("keep",
        col("lang_ok") && col("quality_ok") && col("repetition_ok"))
    sinkTo(spark, gated, tableName, "append", sinkDir)
  }

  /** Standing-query percolation AT INGEST (the Elasticsearch-percolator
    * shape, streamed): the fitted idf weight table comes from ONE batch
    * fit (the reference-state-batch-side monitors discipline) and embeds
    * as literals, so every arriving doc routes to its matching standing
    * queries with NO join, NO aggregation, NO state store — one token-map
    * build plus exact-decimal score folds per row, append mode to any
    * sink. Emits the same alert rows as the batch twin (shared oracle).
    */
  def percolate(spark: SparkSession, sfDir: String, tableName: String,
                qCap: Long, frac: Double,
                sinkDir: Option[String] = None): DataFrame = {
    import graft.operators.Retrieval
    val fitted = Retrieval.collectStandingQueries(
      Retrieval.percolatorFit(
        graft.sources.Tables.documents(spark, sfDir), qCap))
    val alerts = readTable(spark, sfDir, "documents")
      .where(col("doc_id") >= qCap)
      .select(col("doc_id"),
        explode(Retrieval.percolateAlerts(spark, col("text"), fitted, frac))
          .as("a"))
      .select(col("doc_id"), col("a.qid").as("qid"),
        col("a.score").as("score"))
    sinkTo(spark, alerts, tableName, "append", sinkDir)
  }

  /** Span corruption AT INGEST: the T5-style example builder applied to
    * arriving docs — corruption decisions are block-keyed sha draws, so
    * the pass is stateless per row (NO state store, NO join) and a crawl
    * lands as (inputs, targets) pretraining pairs as it arrives. Shares
    * ONE frame transformation (QueriesMining.spanCorruptFrame) with the
    * batch head, so the paths cannot drift (the sftPackFrame discipline).
    */
  def spanCorrupt(spark: SparkSession, sfDir: String, tableName: String,
                  sinkDir: Option[String] = None): DataFrame = {
    val pairs = graft.queries.QueriesMining.spanCorruptFrame(
      readTable(spark, sfDir, "documents"))
    sinkTo(spark, pairs, tableName, "append", sinkDir)
  }

  /** Fill-in-the-middle AT INGEST — the spanCorrupt discipline applied to
    * the PSM builder: per-doc sha-gated splits need no scan state, so
    * arriving docs land as re-ordered pretraining examples stateless per
    * row (NO state store, NO join); shares the transform with the batch
    * head, so the oracle is shared too.
    */
  def fimTransform(spark: SparkSession, sfDir: String, tableName: String,
                   rate: Double, sinkDir: Option[String] = None): DataFrame = {
    val out = graft.operators.Curation.fimTransform(
      readTable(spark, sfDir, "documents"), "doc_id", "text", rate)
    sinkTo(spark, out, tableName, "append", sinkDir)
  }

  /** Count-min-sketch heavy hitters AT INGEST: the h×w INTEGER cells
    * accumulate live in complete mode — state bounded at ≤ h×w groups
    * regardless of arrival count (the stream_drift discipline applied to a
    * mergeable sketch) — then the drained sketch feeds the same candidate
    * probe + exact-verify report as the batch head (SHARED oracle). The
    * at-rest slice pays the verify, the stream never holds more than the
    * sketch.
    */
  def heavyHitters(spark: SparkSession, sfDir: String, tableName: String,
                   h: Int, w: Long, divisor: Long): DataFrame = {
    import graft.operators.Sketches
    val toksLive = readTable(spark, sfDir, "documents")
      .select(explode(graft.functions.Text.tokens(col("text"))).as("tok"))
    val drained = sinkTo(spark, Sketches.cmsCells(toksLive, h, w),
      tableName, "complete", None)
    val toksRest = graft.sources.Tables.documents(spark, sfDir)
      .select(explode(graft.functions.Text.tokens(col("text"))).as("tok"))
    Sketches.cmsHeavyReport(toksRest, drained, h, w, divisor)
  }

  /** K-means cluster routing AT INGEST: the centroids fit ONCE batch-side
    * (Curation.kmeansCentroids — the batch-fit-reference-state discipline)
    * and embed as codegen'd literals, so every arriving embedding routes
    * to its nearest centroid with NO join, NO aggregation, NO state store
    * — the online shard/cluster assignment of a continuously embedded
    * corpus. Emits the same rows as the batch curation_kmeans head
    * (SHARED oracle).
    */
  def embedRoute(spark: SparkSession, sfDir: String, tableName: String,
                 k: Int, iters: Int,
                 sinkDir: Option[String] = None): DataFrame = {
    import graft.operators.Curation
    val centroids = Curation.kmeansCentroids(
      graft.sources.Tables.embeddings(spark, sfDir), "vec_id", "embedding",
      k, iters)
    val routed = Curation.assignTo(
      readTable(spark, sfDir, "embeddings"), "vec_id", "embedding", centroids)
      .select(col("vec_id"), col("cluster"), col("dist"))
    sinkTo(spark, routed, tableName, "append", sinkDir)
  }

  /** SFT template rendering AT INGEST: the sft_pack per-row
    * render/mask/ctx computation applied to arriving docs — stateless
    * codegen'd expressions, no state store, no join — so a post-training
    * corpus lands template-packed as it arrives. Shares the exact
    * transformation (QueriesLlm.sftPackFrame) with the batch head, so the
    * two paths cannot drift.
    */
  def sftPackStream(spark: SparkSession, sfDir: String, tableName: String,
                    sinkDir: Option[String] = None): DataFrame = {
    val packed = graft.queries.QueriesLlm.sftPackFrame(
      readTable(spark, sfDir, "documents"))
    sinkTo(spark, packed, tableName, "append", sinkDir)
  }

  /** The AUTHORITY gate AT INGEST: host ranks fit batch-side on the link
    * graph once (Crawl.pageRankHosts, persisted as a parquet artifact —
    * the train-once discipline) and every arriving page gates on its
    * host's rank through a STREAM-STATIC left join — the static side
    * re-plans per micro-batch, zero state store (the stream_attach shape;
    * at web scale the rank frame has millions of hosts, which is why this
    * is a join against the artifact, not a literal map). Hosts absent
    * from the rank table gate at rank 0 and drop — the conservative
    * posture for hosts unseen when the graph was fitted.
    *
    * Output per arriving page: `(id, host, rank_micros, keep)`.
    */
  def authorityGateStream(spark: SparkSession, sfDir: String,
                          hostExpr: org.apache.spark.sql.Column,
                          ranks: DataFrame, floorMicros: Long,
                          tableName: String,
                          sinkDir: Option[String] = None): DataFrame = {
    val gated = readTable(spark, sfDir, "documents")
      .select(col("doc_id"), hostExpr.as("host"))
      .join(ranks, Seq("host"), "left")
      .select(col("doc_id"), col("host"),
        coalesce(col("rank_micros"), lit(0L)).as("rank_micros"))
      .withColumn("keep", col("rank_micros") >= floorMicros)
    sinkTo(spark, gated, tableName, "append", sinkDir)
  }

  /** CROSS-RUN dedup AT INGEST: each arriving document is screened against
    * the PERSISTED minhash index's Bloom screens
    * ([[graft.operators.IncrementalDedup.ingestScreens]]) — an exact
    * re-crawl drops on the digest probe, a near-dup re-crawl drops on the
    * band-bucket probe. The band screen is CANDIDATE-level (drop on any
    * shared band bucket, no Jaccard verify — the conservative recall-max
    * gate; the batch increment path verifies exactly and remains the
    * archive-of-record update). Both screens are pure per-row expressions
    * over two plan-literal bitmaps: zero state store, zero join — the
    * decontam_bloom shape, so the same gate deploys on an unbounded crawl.
    * Docs too short to shingle bypass both screens (they cannot near-dup
    * and the index never signs them — the dupClusters contract).
    *
    * Output per arriving doc: `(doc_id, digest_hit, band_hit, keep)`.
    */
  def dedupIndexGate(spark: SparkSession, sfDir: String,
                     indexDir: java.nio.file.Path, mBits: Int,
                     numHashes: Int, tableName: String,
                     sinkDir: Option[String] = None): DataFrame = {
    import graft.functions.Text
    import graft.operators.{Curation, Dedup, IncrementalDedup}
    val (digBm, bandBm, p) =
      IncrementalDedup.ingestScreens(spark, indexDir, mBits, numHashes)
    val shingleFn = graft.functions.ShingleJoin.register(spark, p.shingleSize)
    val hashFn = graft.functions.PortableHashArr.register(spark,
      Dedup.MersennePrime)
    val sigFn = graft.functions.MinhashSig.register(spark,
      Dedup.permParams(p.numPerm), Dedup.MersennePrime)
    val foldFn = graft.functions.BandFold.register(spark, p.bands,
      p.numPerm / p.bands, Dedup.BandFoldPrime)
    val t = col("text")
    val shingleable = size(Text.tokens(t)) >= p.shingleSize
    val digest = Text.textDigest(t)
    val bands = call_function(foldFn, call_function(sigFn,
      call_function(hashFn, call_function(shingleFn, Text.tokens(t)))))
    // stage the signature chain once per row, then probe — the band array
    // is computed in one projection so the 16 probes don't re-run it
    val staged = readTable(spark, sfDir, "documents")
      .select(col("doc_id"), shingleable.as("__ok"), digest.as("__dg"),
        when(shingleable, bands).as("__bands"))
    val bandHit = (0 until p.bands).map { i =>
      Curation.bloomHitKey(
        concat(lit(s"$i:"), element_at(col("__bands"), i + 1).cast("string")),
        bandBm, mBits, numHashes)
    }.reduce(_ || _)
    val gated = staged.select(col("doc_id"),
      when(col("__ok"), Curation.bloomHitKey(col("__dg"), digBm, mBits,
        numHashes)).otherwise(lit(false)).as("digest_hit"),
      when(col("__ok"), bandHit).otherwise(lit(false)).as("band_hit"))
      .withColumn("keep", !col("digest_hit") && !col("band_hit"))
    sinkTo(spark, gated, tableName, "append", sinkDir)
  }

  /** The corpus report card AT INGEST: per-(source, lang) doc/token counts
    * and exact-decimal mean quality over the unbounded document stream — a
    * plain streaming aggregation (complete mode, no watermark: the group
    * key space is source×lang-bounded, so state is metadata-scale no
    * matter how many documents arrive). The monitoring view a crawl
    * ingest keeps live; final emission equals the batch groupBy exactly
    * (counts and decimal sums are order-free, the mean is one IEEE
    * division).
    */
  def corpusStats(spark: SparkSession, sfDir: String,
                  tableName: String): DataFrame = {
    import graft.functions.Text
    val t = col("text")
    val stats = readTable(spark, sfDir, "documents")
      .select(col("source"), col("lang"),
        Text.qualityScore(t).as("q"),
        Text.tokenCountWs(t).cast("long").as("tk"))
      .groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tk")).as("n_tokens"),
        round(graft.queries.Q.sumDec(col("q"), 6) / count(lit(1)), 6)
          .as("mean_quality"))
    sinkTo(spark, stats, tableName, "complete", None)
  }

  /** The DATA CONTRACT at ingest (data_contract's live twin, minus the
    * uniqueness rule — uniqueness is a corpus-at-rest property; the
    * at-ingest dedup need is served by stream_dedupe's watermarked state):
    * the four per-row rules fold into ONE global streaming aggregate
    * (complete mode, exactly one group of state regardless of arrival
    * count), and the drained row unpivots to the same per-rule verdict
    * shape as the batch head.
    */
  def contractMonitor(spark: SparkSession, sfDir: String,
                      tableName: String): DataFrame = {
    val langs = graft.functions.Text.LangPriority
    val agg = readTable(spark, sfDir, "documents").agg(
      count(lit(1)).as("n"),
      sum(when(col("doc_id").isNull, 1L).otherwise(0L)).as("v_null"),
      sum(when(!col("lang").isin(langs: _*), 1L).otherwise(0L)).as("v_lang"),
      sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L))
        .as("v_chars"),
      sum(when(length(col("text")) <= 0, 1L).otherwise(0L)).as("v_empty"))
    val drained = sinkTo(spark, agg, tableName, "complete", None)
    drained.select(expr(
      """stack(4,
         'doc_id_not_null', v_null,
         'lang_allowed', v_lang,
         'n_chars_consistent', v_chars,
         'text_nonempty', v_empty) AS (rule, n_violations)"""),
      col("n").as("n_checked"))
      .select(col("rule"), col("n_checked"),
        col("n_violations").cast("long").as("n_violations"),
        (col("n_violations") === 0L).as("pass"))
  }

  /** Distribution DRIFT monitoring AT INGEST (corpus_drift's live twin):
    * the REFERENCE quality histogram fits batch-side on the at-rest slice
    * (10 bucket-count rows — metadata-scale, the train-once discipline),
    * and the arriving new-crawl slice aggregates per bucket in complete
    * mode (bounded state: ≤10 groups regardless of arrival count). The
    * returned batch frame joins the drained counts onto the 10-bucket
    * spine and reports the same add-1-smoothed PSI terms as the batch
    * head — final emission equals corpus_drift exactly (shared oracle).
    */
  def driftMonitor(spark: SparkSession, sfDir: String,
                   tableName: String): DataFrame = {
    import graft.functions.Text
    val bucketOf = least(floor(Text.qualityScore(col("text")) * 10),
      lit(9.0)).cast("int").as("bucket")
    // reference histogram: batch-side, at rest
    val refCounts = graft.sources.Tables.documents(spark, sfDir)
      .where(pmod(col("doc_id"), lit(5)) =!= 0)
      .select(bucketOf).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_ref"))
    // live side: the new-crawl slice aggregates per bucket at ingest
    val curAgg = readTable(spark, sfDir, "documents")
      .where(pmod(col("doc_id"), lit(5)) === 0)
      .select(bucketOf).groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_cur"))
    val drained = sinkTo(spark, curAgg, tableName, "complete", None)
    val spine = spark.range(0, 10).select(col("id").cast("int").as("bucket"))
    val j = spine
      .join(refCounts, Seq("bucket"), "left")
      .join(drained, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
      .crossJoin(broadcast(
        refCounts.agg(sum(col("n_ref")).as("tr")).crossJoin(
          drained.agg(sum(col("n_cur")).as("tc")))))
    val pr = (col("n_ref").cast("double") + 1.0) /
      (col("tr").cast("double") + 10.0)
    val pc = (col("n_cur").cast("double") + 1.0) /
      (col("tc").cast("double") + 10.0)
    j.select(col("bucket"), col("n_ref"), col("n_cur"),
      round((pc - pr) * log(pc / pr), 6).as("psi"))
  }

  /** Drive a config-declared streaming corpus journey
    * (ConfigRuntime.corpusStream — quality gate + watermarked exact dedup
    * at ingest) over the finite input and return the batch result. Append
    * mode: every step emits each surviving doc exactly once.
    */
  def runCorpusStream(spark: SparkSession, dataDir: String,
                      project: graft.pipeline.Config.Project,
                      tableName: String,
                      sinkDir: Option[String] = None): DataFrame =
    sinkTo(spark,
      graft.pipeline.ConfigRuntime.corpusStream(spark, dataDir, project),
      tableName, "append", sinkDir)

  /** Run the streaming query to completion over the finite test input
    * (Trigger.AvailableNow) into an in-memory table; returns the final
    * result as a batch DataFrame.
    */
  def runToBatch(spark: SparkSession, sfDir: String,
                 tableName: String = "graft_stream_agg"): DataFrame = {
    val q = hourlyByType(readEvents(spark, sfDir))
      .writeStream
      .format("memory")
      .queryName(tableName)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(tableName)
  }
}
