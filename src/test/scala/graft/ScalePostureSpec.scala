package graft

import org.apache.spark.sql.functions._

import graft.sources.Tables

/** Cluster-scale plan-shape proofs on local data: bucketed co-located joins
  * eliminate the join exchange entirely, and partitioned sinks prune at the
  * source. These are the layouts a 100 TB deployment would pre-bake
  * (bucketed fact tables on join keys; date-partitioned ingest).
  */
class ScalePostureSpec extends SparkSpec {

  private def physicalPlan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("bucketed tables co-locate the join: no Exchange in the plan") {
    val sf = "/root/testdata/sf0.001"
    spark.sql("DROP TABLE IF EXISTS li_bucketed")
    spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    // a previous JVM's in-memory catalog can leave the dirs behind
    Seq("li_bucketed", "ord_bucketed").foreach { t =>
      org.apache.commons.io.FileUtils.deleteQuietly(
        new java.io.File(s"/tmp/graft_warehouse/$t"))
    }
    Tables.lineitem(spark, sf).write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bucketed")
    Tables.orders(spark, sf).write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_bucketed")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_quantity")).as("q"))
      val plan = physicalPlan(joined)
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      // the join's children (below it in tree text) must not shuffle — only
      // the post-join aggregation above it may
      val belowJoin = plan.substring(plan.indexOf("SortMergeJoin"))
      assert(!belowJoin.contains("Exchange"),
        s"bucketed join should not exchange its inputs:\n$plan")
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("a k-op ordered chain costs exactly one Exchange and one Sort") {
    // SURVEY §5's headline claim: every §2.3 transform is a step of an
    // ordered scan on the stream key, so a chain of k of them plans as
    // scans over ONE shuffle + ONE sort (a record-wise op between two of
    // them splits the scan, not the shuffle) — where the reference runs k
    // sequential per-record passes.
    import graft.pipeline.Pipeline
    import graft.pipeline.Pipeline._
    import graft.operators.StreamKey
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
    val key = StreamKey(Seq("user_id"), "ts", Seq("event_id"))
    val ops = Seq[Op](
      Lag("value", 1, "v_lag"),
      Lead("value", 2, "v_lead"),
      Rolling("value", "mean", 20, "v_mean"),
      Rolling("value", "max", 10, "v_max"),
      ForwardSum("value", 5, "v_fs"),
      ForwardFill("value", "v_ff"),
      Derive("v_mean", "sub", "v_centered", rightField = Some("value")),
      Log1p("v_max", "v_max_log1p"))
    val out = Pipeline.run(events, key, ops)
    val plan = physicalPlan(out)
    def count(needle: String): Int =
      needle.r.findAllMatchIn(plan).length
    val exchanges = count("Exchange hashpartitioning")
    val sorts = count("\\bSort \\[")
    assert(exchanges == 1, s"expected 1 exchange for an 8-op chain, got $exchanges:\n$plan")
    assert(sorts == 1, s"expected 1 sort for an 8-op chain, got $sorts:\n$plan")
    assert(out.count() > 0)
  }

  test("plan guardrail: no CartesianProduct anywhere; BNLJ only where a bounded broadcast is intended") {
    // Sweep EVERY registered query's physical plan at sf0.001. A
    // CartesianProduct is always a scale bug. BroadcastNestedLoopJoin is
    // acceptable only where the build side is bounded by construction:
    // one-row fitted stats (scaler crossJoins) or the deliberately-small
    // query/centroid sets of the ANN scorers.
    val bnljAllowed = Set(
      "ann_bruteforce",   // Q(5) x corpus exact scoring — the baseline path
      "hard_negatives",   // same broadcast-query cross, struct-argmax agg
      "hits_authority",   // one-row max normalizer broadcast per half-round
      "corpus_drift",     // one-row histogram totals broadcast cross
      "ann_ivf",          // corpus x centroid sample, then query x centroids
      "standard_scaler",  // one-row stats broadcast
      "dataset_pipeline", // one-row train-fold stats broadcast
      "config_dataset",   // one-row train-fold stats broadcast
      "ensure_ticks",     // one-row (min,max) grid bounds broadcast
      "tfidf_topterms",   // one-row corpus-count broadcast into the idf term
      "dsir_select",      // one-row token totals onto the buckets-row table
      "domain_mix",       // one-row mixture totals onto the per-domain table
      "config_corpus_serve", // same one-row mixture totals (the mix step)
      "config_corpus_full",  // same one-row mixture totals (the mix step)
      "cooccurrence_ppmi", // one-row pair/token totals broadcast into PMI
      "heavy_hitters",    // one-row sketch total broadcast onto the
                          //   vocabulary frame (was behind a checkpoint
                          //   before the unified probe+verify pass)
      "perplexity_bucket", // one-row tertile thresholds broadcast (the
                           //   level-table cumsum replacing the driver walk)
      "mixture_weights",  // one-row waterfill scalars (totals, used, ws)
                          //   broadcast onto the |sources|-bounded frame
      "ann_pq",           // ks-row codebook cross into encode + ADC LUT
      "ann_ivfpq",        // ks-row residual codebook cross into encode + LUT
      "ann_recall"        // ann_ivfpq's codebook cross + the Q(5)-query
                          //   brute-force truth side — both bounded builds
    )
    val skip = Set("sink_roundtrip", "sink_run_dir", "src_http", "src_csv",
      "src_jsonl") // side-effecting writes; plans are plain re-reads
    val sf = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (n, _) => n.startsWith("stream_") || skip.contains(n) }
      .flatMap { case (name, fn) =>
        val plan = physicalPlan(fn(spark, sf))
        val cart = plan.contains("CartesianProduct")
        val bnlj = plan.contains("BroadcastNestedLoopJoin") && !bnljAllowed(name)
        if (cart || bnlj)
          Some(s"$name: cartesian=$cart unexpected-bnlj=$bnlj")
        else None
      }
    assert(offenders.isEmpty, s"scale-hostile plans:\n${offenders.mkString("\n")}")
  }

  test("governed compaction: disk file count equals the governed bound") {
    val sf = "/root/testdata/sf0.001"
    val row = SparkEntry.queries("sink_compacted")(spark, sf).collect().head
    val files = new java.io.File("/tmp/graft_scratch/compact_out")
      .listFiles().filter(_.getName.endsWith(".parquet"))
    // the reported n_files is the real on-disk layout, not a plan estimate
    assert(files.length.toLong == row.getLong(1),
      s"disk=${files.length} reported=${row.getLong(1)}")
    assert(row.getBoolean(3), "a file exceeded the governed cap")
    // fragmented ingest really was fragmented before the rewrite
    assert(row.getLong(0) > row.getLong(1),
      "compaction must reduce the file count on the gate data")
  }

  test("incremental compaction: stat-planned, compliant files link forward") {
    import java.nio.file.{Files, Paths}
    val sf = "/root/testdata/sf0.001"
    val before = SparkEntry.queries("sink_compact_incremental")(spark, sf)
      .collect().head
    val src = Paths.get("/tmp/graft_scratch/compact_incr")
    val out = Paths.get("/tmp/graft_scratch/compact_incr_out")
    def parquetNames(d: java.nio.file.Path): Seq[String] = {
      val it = Files.list(d).iterator()
      val names = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val p = it.next().getFileName.toString
        if (p.endsWith(".parquet") && !p.startsWith(".")) names += p
      }
      names.toSeq
    }
    // the reported layout is the real on-disk layout of the snapshot
    assert(parquetNames(out).length.toLong == before.getLong(5),
      s"disk=${parquetNames(out).length} reported n_files_after=${before.getLong(5)}")
    // compliant files were never copied: the snapshot entries are HARD
    // LINKS to the source bytes (same inode)
    assert(before.getBoolean(4), "compliant files must link, not copy")
    val linked = parquetNames(out).toSet intersect parquetNames(src).toSet
    assert(linked.nonEmpty, "snapshot must carry the compliant files forward")
    linked.foreach { n =>
      assert(Files.isSameFile(src.resolve(n), out.resolve(n)),
        s"$n must share its inode with the source")
    }
    assert(before.getBoolean(6), "no file may exceed the governed cap")
    // the plan really was incremental: fragments existed and were absorbed
    // into exactly ceil(rewritten/target) governed files (at sf0.001 the
    // swarm is a single file, so the count holds rather than shrinks)
    assert(before.getLong(2) > 0, "fixture must fragment")
    val expectedAfter = before.getLong(1) +
      (before.getLong(3) + 19999) / 20000
    assert(before.getLong(5) == expectedAfter,
      s"governed layout: after=${before.getLong(5)} expected=$expectedAfter")
    // content survived: total rows = compliant + rewritten complement
    val total = graft.sources.Tables.table(spark, sf, "lineitem").count()
    assert(before.getLong(7) == total)

    // convergence: the snapshot holds at most the single REMAINDER file
    // (the ceil tail of the fragment rewrite) under the stat threshold
    val again = graft.operators.Compaction.plan(out.toString,
      graft.queries.QueriesSources.CompactIncrMinFraction)
    assert(again.undersized.length <= 1,
      s"fragment swarm must be absorbed in one pass, found ${again.undersized}")
    // snapshot semantics: the source layout stays intact, so the next pass
    // plans the same compaction (build once, compact per run)
    val replan = graft.operators.Compaction.plan(src.toString,
      graft.queries.QueriesSources.CompactIncrMinFraction)
    assert(replan.undersized.length.toLong == before.getLong(2),
      "source layout must remain intact for the next pass")
  }

  test("partitioned sink prunes partitions at the scan") {
    val sf = "/root/testdata/sf0.001"
    val out = "/tmp/graft_scratch/events_by_day"
    val e = Tables.events(spark, sf)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    e.write.mode("overwrite").partitionBy("day").parquet(out)
    val back = spark.read.parquet(out).filter(col("day") === "2024-01-05")
    val plan = physicalPlan(back)
    assert(plan.contains("PartitionFilters") && plan.contains("2024-01-05"),
      s"expected partition pruning:\n${plan.take(2000)}")
    val expect = e.filter(col("day") === "2024-01-05").count()
    assert(back.count() == expect && expect > 0)
  }

  test("ScaleUp.replicate: disjoint key spaces, join integrity, parallel generation") {
    import spark.implicits._
    val cust = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("c_custkey", "name")
    val ord = Seq((10L, 1L), (11L, 1L), (12L, 3L)).toDF("o_orderkey", "o_custkey")
    val factor = 4
    val c2 = ScaleUp.replicate(cust, Seq("c_custkey"), factor)
    val o2 = ScaleUp.replicate(ord, Seq("o_orderkey", "o_custkey"), factor)
    // cardinality multiplies, and shifted keys never collide across replicas
    assert(c2.count() == 3L * factor)
    assert(c2.select("c_custkey").distinct().count() == 3L * factor)
    // every scaled order still matches exactly one scaled customer — the
    // key shift is applied consistently to both sides of the relationship
    val joined = o2.join(c2, o2("o_custkey") === c2("c_custkey"))
    assert(joined.count() == 3L * factor)
    assert(joined.filter(col("name").isNull).count() == 0)
    // non-key columns copy verbatim into every replica
    assert(c2.groupBy("name").count().filter(col("count") =!= factor).count() == 0)
    // generation parallelizes: the pre-spread means more than one partition
    // feeds the factor-x crossJoin (the single-task 600M-row lesson)
    assert(c2.rdd.getNumPartitions > 1,
      s"replicate must generate in parallel, got ${c2.rdd.getNumPartitions} partition(s)")
  }
}
