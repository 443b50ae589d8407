package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Raised when [[Dedup.minhashCrossScoredPairs]]'s benchmark side exceeds the
  * broadcast row budget. The operator's whole scale posture is "benchmark
  * broadcasts, corpus never shuffles"; silently planning a corpus-wide
  * shuffle join against an oversized benchmark would be a 100 TB cliff, so
  * the contract fails loudly instead.
  */
final class BenchmarkTooLargeException(message: String)
  extends IllegalArgumentException(message)

/** Deduplication operators for LLM-training-data pipelines (SURVEY.md §2.7).
  *
  * Scale posture: every method is a shuffle-on-key pipeline — no driver
  * materialization, no cross join. MinHash/SimHash candidate generation
  * buckets by (band, signature) so the self-join degree is bounded by bucket
  * size; the verify stage only touches candidate pairs.
  *
  * All signatures are built on [[Text.portableHash]] (sha256-derived 60-bit
  * BIGINT) so the full pipelines are reproducible in the DuckDB oracle —
  * an engine-specific murmur here would make every downstream count
  * unverifiable.
  */
object Dedup {

  /** Exact dedup: group identical payloads by sha256, keep the minimum id.
    * One hash-shuffle; at 100 TB, group keys are 64-char digests, not bodies.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Segment-level exact dedup (the "Deduplicating Training Data Makes
    * Language Models Better" substring posture, at token-block granularity):
    * each doc is chopped into consecutive non-overlapping `segTokens`-token
    * blocks, every block is hashed, and a block occurring more than once in
    * the whole corpus is a duplicated passage. Per-doc report: block count,
    * duplicated-block count, duplicated fraction.
    *
    * Scale posture: blocks shuffle as 60-bit hashes (bodies never shuffle),
    * the frequency table is a partial-aggregated groupBy on the hash, and
    * the join back to blocks is keyed on the same hash — two hash
    * exchanges, no self-join, no candidate blow-up. Docs shorter than one
    * block contribute no segments and report zeros.
    */
  def segmentDedup(df: DataFrame, textCol: String, idCol: String,
                   segTokens: Int = 10): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val nseg = floor(size(toks) / segTokens).cast("int")
    // per-row block hashes; sequence() needs start <= stop, so short docs
    // are filtered out of the segment relation and re-attached by the
    // left join below
    val segs = df
      .select(col(idCol), toks.as("__toks"), nseg.as("__nseg"))
      .where(col("__nseg") >= 1)
      .select(col(idCol), explode(transform(
        sequence(lit(0), col("__nseg") - 1),
        i => Text.portableHash(
          concat_ws(" ", slice(col("__toks"), i * segTokens + 1, lit(segTokens))))))
        .as("h"))
    val freq = segs.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
    val perDoc = segs.join(freq, Seq("h"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).cast("long").as("n_segments"),
        sum(when(col("cnt") > 1, 1L).otherwise(0L)).as("n_dup_segments"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_segments"), lit(0L)).as("n_segments"),
        coalesce(col("n_dup_segments"), lit(0L)).as("n_dup_segments"))
      .withColumn("dup_fraction",
        round(col("n_dup_segments").cast("double") /
          greatest(col("n_segments"), lit(1L)), 6))
  }

  /** The exact-duplicate pre-collapse decision the near-dup paths share:
    * collapse when under 90% of the texts are distinct. One cheap probe
    * decides it — approx_count_distinct over the text hash is
    * partial-aggregated (per-partition HLL sketches, no row shuffle) and
    * deterministic. Both paths of every caller give identical results by
    * construction, so a caller that knows the answer passes `known` (texts
    * already exact-deduped) and no probe runs.
    */
  private def collapses(df: DataFrame, textCol: String,
                        known: Option[Boolean] = None): Boolean =
    known.getOrElse {
      val probe = df.agg(count(lit(1)).as("n"),
        approx_count_distinct(sha2(col(textCol).cast("string"), 256)).as("d"))
        .head()
      probe.getLong(1) < 0.9 * probe.getLong(0)
    }

  /** Duplicated-span EXTENTS at sliding k-gram granularity — the public
    * "Deduplicating Training Data" (Lee et al. 2021) suffix posture
    * approximated with hashed k-grams, the bucket-bounded shape
    * [[segmentDedup]]'s coarse 10-token BLOCKS only gesture at: every token
    * position starts a k-gram; a position is DUPLICATED iff its k-gram
    * hash occurs more than once in the corpus; per doc the duplicated
    * positions merge into maximal extents (overlapping or touching spans
    * coalesce — gap iff next start exceeds previous start + k). One row per
    * merged extent: (idCol, span_start, span_end, span_tokens), 1-based
    * token offsets, end exclusive.
    *
    * Scale posture: bodies never shuffle — 60-bit hashes ride with INT
    * positions; the frequency aggregate partial-aggregates map-side; the
    * per-doc island merge is a pure HOF fold over that doc's own sorted
    * positions (bounded by doc length, no window over the corpus).
    */
  def substringSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int): DataFrame = {
    // Exact-duplicate pre-collapse (the dupClusters discipline): the gram
    // explode + frequency join re-pays for EVERY exact copy of a
    // duplicated doc — at the 1000x replicated decade that was a
    // 460M-position join for 460K positions of distinct text. Same cheap
    // probe as dupClusters decides the path: a mostly-distinct corpus
    // skips the collapse (its text-hash window and member re-attach would
    // be pure overhead), a duplicated one runs grams on DISTINCT texts
    // only — copy multiplicity rides with each gram so the corpus-wide
    // duplicate criterion (total occurrences > 1, copies included) is
    // unchanged, and members inherit their representative's extents by
    // equi-join (identical text => identical spans). TextDedupSpec pins
    // collapsed == direct on a duplicated fixture.
    if (!collapses(df, textCol))
      spansOf(df, idCol, lit(1L), textCol, k)
    else {
      val byText = org.apache.spark.sql.expressions.Window
        .partitionBy(sha2(col(textCol).cast("string"), 256))
      val mapped = df.select(col(idCol), col(textCol),
          min(col(idCol)).over(byText).as("__rep"),
          count(lit(1)).over(byText).as("__mult"))
        .localCheckpoint(eager = false) // feeds reps AND the member attach
      val reps = mapped.where(col(idCol) === col("__rep"))
      val repSpans = spansOf(reps, "__rep", col("__mult"), textCol, k)
        .withColumnRenamed("__rep", "__rep_id")
      mapped.select(col(idCol), col("__rep"))
        .join(repSpans, col("__rep") === col("__rep_id"))
        .select(col(idCol), col("span_start"), col("span_end"),
          col("span_tokens"))
    }
  }

  /** The span pipeline proper, over `src` keyed by `keyCol`: every token
    * position starts a k-gram, `mult` copies of each gram enter the
    * corpus-wide frequency (sum-of-multiplicities ≡ the uncollapsed
    * count), duplicated positions island-merge per key.
    */
  private[graft] def spansOf(src: DataFrame, keyCol: String, mult: Column,
                             textCol: String, k: Int): DataFrame = {
    val toks = Text.tokens(col(textCol))
    val grams = src
      .select(col(keyCol), mult.as("__mult"), toks.as("__toks"))
      .where(size(col("__toks")) >= k)
      .select(col(keyCol), col("__mult"), posexplode(transform(
        sequence(lit(0), size(col("__toks")) - k),
        i => Text.portableHash(
          concat_ws(" ", slice(col("__toks"), i + 1, lit(k)))))))
      .select(col(keyCol), (col("pos") + 1).cast("long").as("p"),
        col("col").as("h"), col("__mult"))
    val freq = grams.groupBy(col("h")).agg(sum(col("__mult")).as("cnt"))
    val perDoc = grams.join(freq, Seq("h")).where(col("cnt") > 1)
      .groupBy(col(keyCol))
      .agg(sort_array(collect_list(col("p"))).as("__ps"))
    // island merge over sorted positions: extent starts where the previous
    // position is absent or more than k behind (element_at is 1-based, the
    // lambda index 0-based, so element_at(ps, i) IS the previous element)
    val ps = col("__ps")
    val starts = filter(ps, (v, i) =>
      (i === 0) || (v > element_at(ps, i) + k))
    val ends = filter(ps, (v, i) =>
      (i === size(ps) - 1) || (element_at(ps, i + 2) > v + k))
    perDoc
      .select(col(keyCol),
        explode(arrays_zip(starts.as("s"), transform(ends, v => v + k).as("e")))
          .as("__sp"))
      .select(col(keyCol),
        col("__sp.s").as("span_start"),
        col("__sp.e").as("span_end"),
        (col("__sp.e") - col("__sp.s")).as("span_tokens"))
  }

  // ---------------------------------------------------------------- minhash

  private[graft] val MersennePrime = 2147483647L // 2^31 - 1
  private[graft] val BandFoldPrime = 1000000007L

  /** Deterministic (a, b) permutation parameters (LCG, fixed seed).
    * Exposed package-private so the oracle SQL embeds the same constants.
    */
  private[graft] def permParams(numPerm: Int, seed: Long = 0x5eedL): Seq[(Long, Long)] = {
    var state = seed
    def next(): Long = { state = state * 6364136223846793005L + 1442695040888963407L; state }
    (0 until numPerm).map { _ =>
      val a = (math.abs(next()) % (MersennePrime - 1)) + 1
      val b = math.abs(next()) % MersennePrime
      (a, b)
    }
  }

  /** Fold a signature band slice into one BIGINT bucket key:
    * acc*31 + h mod 1e9+7 — the same portable fold the oracle reproduces
    * with `list_reduce` (an engine-murmur of the slice would not be).
    */
  private[graft] def bandHash(sl: Column): Column =
    aggregate(sl, lit(0L), (acc, h) => (acc * 31L + h) % BandFoldPrime)

  /** Banded LSH candidate pairs from a signed corpus: (band_id, fold-hash of
    * the band's slice) buckets; docs sharing a bucket become candidate pairs.
    * Returns (id_a, id_b) with id_a < id_b, distinct. Band keys via the
    * codegen'd [[graft.functions.BandFold]] (spec-proven equal to the
    * [[bandHash]] HOF fold).
    */
  def minhashCandidates(signed: DataFrame, idCol: String, sigCol: String,
                        bands: Int, rowsPerBand: Int): DataFrame = {
    val foldFn = graft.functions.BandFold.register(signed.sparkSession,
      bands, rowsPerBand, BandFoldPrime)
    val banded = signed.select(col(idCol),
      posexplode(call_function(foldFn, col(sigCol)))
        .as(Seq("band", "band_hash")))
    val l = banded.as("l")
    val r = banded.as("r")
    l.join(r, col(s"l.band") === col(s"r.band") &&
        col(s"l.band_hash") === col(s"r.band_hash") &&
        col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
  }

  /** Candidate pairs with their exact Jaccard: the shared core of the
    * per-doc report ([[minhashDedup]]) and duplicate clustering
    * ([[dupClusters]]). Returns (id_a, id_b, jacc), id_a < id_b.
    */
  /** (id, sh, sig): shingle set + minhash signature per document — the
    * shared first stage of every minhash pipeline. Shingles via the
    * codegen'd ShingleJoin (the HOF construction is CodegenFallback —
    * interpreted per element, ~20x slower; spec-proven equal). Materialized
    * ONCE (localCheckpoint, not persist: block storage is RDD-scoped, so
    * the ContextCleaner frees it when the plan is garbage-collected —
    * repeated invocations in one session don't accumulate pinned cache
    * entries. Tradeoff: lineage is cut, so lost blocks fail the job instead
    * of recomputing — acceptable for a deterministic batch stage that would
    * rerun anyway).
    */
  private[graft] def signedShingles(df: DataFrame, textCol: String,
                                    idCol: String, shingleSize: Int,
                                    numPerm: Int): DataFrame = {
    val spark = df.sparkSession
    val shingleFn = graft.functions.ShingleJoin.register(spark, shingleSize)
    val hashFn = graft.functions.PortableHashArr.register(spark, MersennePrime)
    val sigFn = graft.functions.MinhashSig.register(spark,
      permParams(numPerm), MersennePrime)
    df.select(col(idCol),
      call_function(shingleFn, Text.tokens(col(textCol))).as("sh"))
      .withColumn("sig", call_function(sigFn,
        call_function(hashFn, col("sh"))))
      .localCheckpoint(eager = false)
  }

  /** True iff two band-fold arrays collide in at least one band — the
    * banding detection predicate applied to a KNOWN pair (the evaluation
    * path: given labeled pairs, would the LSH have caught them?), without
    * the bucket self-join the discovery path needs. Unrolled equality
    * chain over the fixed band count — codegen-friendly.
    */
  def bandMatch(bandsA: Column, bandsB: Column, bands: Int): Column =
    (0 until bands)
      .map(i => element_at(bandsA, i + 1) === element_at(bandsB, i + 1))
      .reduce(_ || _)

  def minhashScoredPairs(df: DataFrame, textCol: String, idCol: String,
                         shingleSize: Int = 3, numPerm: Int = 64,
                         bands: Int = 16): DataFrame = {
    val rows = numPerm / bands
    // the base frame feeds both sides of the candidate self-join and the
    // verify join — one materialization
    val base = signedShingles(df, textCol, idCol, shingleSize, numPerm)
    val signed = base.select(col(idCol), col("sig"), col("sh"))
    val cands = minhashCandidates(signed, idCol, "sig", bands, rows)
    cands
      .join(base.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(base.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        Text.jaccard(col("sh_a"), col("sh_b")).as("jacc"))
  }

  /** LSH candidate pairs scored by CONTAINMENT — the asymmetric near-dup
    * measure |A∩B|/|A| that catches sub/superset duplication (a quoted
    * excerpt, a page plus appended boilerplate) where symmetric Jaccard
    * dilutes below any dedup threshold: a 50%-token prefix sits at
    * jacc ≈ 0.5 but containment 1.0. Same band-bucket candidate generation
    * as [[minhashScoredPairs]]; exact DISTINCT-set arithmetic on
    * candidates only, both directions reported.
    */
  def minhashContainmentPairs(df: DataFrame, textCol: String, idCol: String,
                              shingleSize: Int = 3, numPerm: Int = 64,
                              bands: Int = 16): DataFrame = {
    val rows = numPerm / bands
    val base = signedShingles(df, textCol, idCol, shingleSize, numPerm)
    val signed = base.select(col(idCol), col("sig"), col("sh"))
    val cands = minhashCandidates(signed, idCol, "sig", bands, rows)
    cands
      .join(base.select(col(idCol).as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(base.select(col(idCol).as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        size(array_intersect(array_distinct(col("sh_a")),
          array_distinct(col("sh_b")))).cast("long").as("inter"),
        size(array_distinct(col("sh_a"))).cast("long").as("size_a"),
        size(array_distinct(col("sh_b"))).cast("long").as("size_b"))
      .select(col("id_a"), col("id_b"),
        round(col("inter").cast("double") / col("size_a"), 6).as("cont_a"),
        round(col("inter").cast("double") / col("size_b"), 6).as("cont_b"))
  }

  /** Cross-corpus minhash candidate pairs with exact Jaccard — the fuzzy
    * half of benchmark decontamination (corpus docs near-duplicating a
    * held-out benchmark doc): band-fold buckets on BOTH sides, candidates
    * where a corpus doc shares a bucket with a benchmark doc, exact Jaccard
    * on candidates only. Returns (corpus_id, bench_id, jacc).
    *
    * Scale posture: the benchmark side is small by nature (a benchmark,
    * not a corpus) — its banded keys and shingle sets BROADCAST, so the
    * corpus is never shuffled and never self-joined; per-corpus-doc work is
    * bounded by bucket collisions, the same bound as within-corpus minhash.
    *
    * That posture is a hard contract, not a hope: a cheap count probe of the
    * benchmark side (metadata-pushdown for parquet; one scan otherwise)
    * guards the broadcast, and an oversized benchmark raises
    * [[BenchmarkTooLargeException]] instead of silently planning a shuffle
    * join of the full corpus. The dominant broadcast payload is the shingle
    * sets (~1 KB/doc), so the default budget of 100k docs bounds it at
    * ~100 MB — the outer edge of a sane executor broadcast; real benchmark
    * suites are thousands of docs.
    */
  def minhashCrossScoredPairs(corpus: DataFrame, benchmark: DataFrame,
                              textCol: String, idCol: String,
                              shingleSize: Int = 3, numPerm: Int = 64,
                              bands: Int = 16,
                              maxBenchmarkDocs: Long = 100000L): DataFrame = {
    val nBench = benchmark.count()
    if (nBench > maxBenchmarkDocs)
      throw new BenchmarkTooLargeException(
        s"decontamination benchmark side has $nBench docs, over the " +
          s"$maxBenchmarkDocs broadcast budget; a benchmark this large would " +
          "force a corpus-wide shuffle join — pre-aggregate or split the " +
          "benchmark, or raise maxBenchmarkDocs explicitly")
    val rows = numPerm / bands
    val spark = corpus.sparkSession
    val cb = signedShingles(corpus, textCol, idCol, shingleSize, numPerm)
    val bb = signedShingles(benchmark, textCol, idCol, shingleSize, numPerm)
    val foldFn = graft.functions.BandFold.register(spark, bands, rows,
      BandFoldPrime)
    def banded(f: DataFrame, as: String) = f.select(col(idCol).as(as),
      posexplode(call_function(foldFn, col("sig")))
        .as(Seq("band", "band_hash")))
    val cands = banded(cb, "corpus_id")
      .join(broadcast(banded(bb, "bench_id")), Seq("band", "band_hash"))
      .select(col("corpus_id"), col("bench_id")).distinct()
    cands
      .join(cb.select(col(idCol).as("corpus_id"), col("sh").as("sh_c")),
        "corpus_id")
      .join(broadcast(bb.select(col(idCol).as("bench_id"), col("sh").as("sh_b"))),
        "bench_id")
      .select(col("corpus_id"), col("bench_id"),
        Text.jaccard(col("sh_c"), col("sh_b")).as("jacc"))
  }

  /** Full minhash dedup report: per-doc candidate count and verified-duplicate
    * count (exact Jaccard on the candidate pairs only).
    */
  def minhashDedup(df: DataFrame, textCol: String, idCol: String,
                   shingleSize: Int = 3, numPerm: Int = 64, bands: Int = 16,
                   threshold: Double = 0.5,
                   collapseOverride: Option[Boolean] = None): DataFrame = {
    // The dupClusters exact-duplicate pre-collapse, applied to the REPORT
    // head: identical texts share identical signatures, hence identical
    // band buckets — a d-fold duplicated corpus otherwise explodes into
    // d²/2 candidate pairs per distinct text (at the 100x point, ~100
    // copies ≈ 5,000 pairs per text, each paying an exact-Jaccard array
    // pass). Representative-level pairs + group sizes reconstruct the
    // per-doc report EXACTLY: a doc in a g-member group has (g-1)
    // within-group candidates at jacc 1.0 (identical shingle sets), and
    // for each rep-level candidate pair (G, H) every member of G gains
    // |H| candidates at jacc(G, H) — the bucket sets are signature-
    // determined, so member pairs are candidates iff their rep pair is.
    if (!collapses(df, textCol, collapseOverride)) {
      val perDoc = minhashScoredPairs(df, textCol, idCol, shingleSize, numPerm, bands)
        .select(explode(array(col("id_a"), col("id_b"))).as(idCol), col("jacc"))
        .groupBy(idCol)
        .agg(count(lit(1)).as("n_candidates"),
          sum(when(col("jacc") >= threshold, 1L).otherwise(0L)).as("n_dups"))
      df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
        .na.fill(0, Seq("n_candidates", "n_dups"))
    } else {
      // short (< shingleSize tokens) docs never collapse — their empty
      // shingle sets make them their own representatives, exactly as the
      // direct path treats them
      val collapsible = size(Text.tokens(col(textCol))) >= shingleSize
      val byText = org.apache.spark.sql.expressions.Window
        .partitionBy(sha2(col(textCol).cast("string"), 256))
      val mapped = df.select(col(idCol), col(textCol),
          when(collapsible, min(col(idCol)).over(byText))
            .otherwise(col(idCol)).as("__rep"))
        .localCheckpoint(eager = false) // feeds reps, sizes, AND the re-attach
      val groupSize = mapped.groupBy(col("__rep"))
        .agg(count(lit(1)).as("__g"))
      val reps = mapped.where(col(idCol) === col("__rep"))
        .select(col(idCol), col(textCol))
      val repPairs =
        minhashScoredPairs(reps, textCol, idCol, shingleSize, numPerm, bands)
          .localCheckpoint(eager = false) // consumed from both directions
      val directed = repPairs
        .select(col("id_a").as("__rep"), col("id_b").as("__other"), col("jacc"))
        .unionAll(repPairs
          .select(col("id_b").as("__rep"), col("id_a").as("__other"), col("jacc")))
      val cross = directed
        .join(groupSize.select(col("__rep").as("__other"), col("__g").as("__h")),
          "__other")
        .groupBy(col("__rep"))
        .agg(sum(col("__h")).as("__c_cross"),
          sum(when(col("jacc") >= threshold, col("__h")).otherwise(0L))
            .as("__d_cross"))
      val within = when(lit(1.0 >= threshold), col("__g") - 1).otherwise(lit(0L))
      mapped.select(col(idCol), col("__rep"))
        .join(groupSize, "__rep")
        .join(cross, Seq("__rep"), "left")
        .select(col(idCol),
          (col("__g") - 1 + coalesce(col("__c_cross"), lit(0L)))
            .as("n_candidates"),
          (within + coalesce(col("__d_cross"), lit(0L))).as("n_dups"))
    }
  }

  /** Cross-fold near-dup LEAKAGE report — the contamination audit a dataset
    * release runs before publishing a train/test split: for every document
    * with at least one near-duplicate (jacc ≥ threshold, exact copies
    * included at jacc 1.0) in a DIFFERENT fold, the count of such
    * cross-fold partners. Output `(id, fold, n_leaks)`, leak-sized — never
    * pair-sized.
    *
    * Scale posture: the [[minhashDedup]] exact-duplicate pre-collapse,
    * applied to the leakage report. A d-fold duplicated corpus (every
    * re-crawl) otherwise explodes into d²/2 identical-text pairs per
    * distinct text (measured 12.6× on 10× data with 10-way duplication
    * before the collapse landed). Identical texts share signatures and
    * band buckets, so member-level pairs are near-dups iff their rep pair
    * is (or they share a group — jacc exactly 1.0); per-doc counts
    * reconstruct EXACTLY from rep-level pairs + per-(rep, fold) member
    * counts: a doc in group G with fold f leaks to G's other-fold members
    * plus, per verified rep pair (G, H), H's other-fold members. The probe
    * and dual-path contract match minhashDedup (the HLL probe arms the
    * collapse only when duplication is material; both paths are pinned
    * row-equal in the spec).
    */
  def splitLeakage(df: DataFrame, textCol: String, idCol: String,
                   foldCol: String, shingleSize: Int = 3, numPerm: Int = 64,
                   bands: Int = 16, threshold: Double = 0.5,
                   collapseOverride: Option[Boolean] = None): DataFrame = {
    val folds = df.select(col(idCol), col(foldCol))
    if (!collapses(df, textCol, collapseOverride)) {
      val pairs = minhashScoredPairs(df.select(col(idCol), col(textCol)),
        textCol, idCol, shingleSize, numPerm, bands)
        .where(col("jacc") >= threshold)
      val directed = pairs.select(col("id_a").as("__id"), col("id_b").as("__o"))
        .unionAll(pairs.select(col("id_b").as("__id"), col("id_a").as("__o")))
      directed
        .join(folds.select(col(idCol).as("__id"), col(foldCol).as("__fa")),
          "__id")
        .join(folds.select(col(idCol).as("__o"), col(foldCol).as("__fb")),
          "__o")
        .where(col("__fa") =!= col("__fb"))
        .groupBy(col("__id"), col("__fa"))
        .agg(count(lit(1)).as("n_leaks"))
        .select(col("__id").as(idCol), col("__fa").as(foldCol),
          col("n_leaks"))
    } else {
      // short (< shingleSize tokens) docs stay their own representatives —
      // identical short docs are NOT near-dups (empty shingle sets), the
      // dupClusters contract
      val collapsible = size(Text.tokens(col(textCol))) >= shingleSize
      val byText = org.apache.spark.sql.expressions.Window
        .partitionBy(sha2(col(textCol).cast("string"), 256))
      val mapped = df.select(col(idCol), col(textCol), col(foldCol),
          when(collapsible, min(col(idCol)).over(byText))
            .otherwise(col(idCol)).as("__rep"))
        .localCheckpoint(eager = false) // feeds comp, reps AND the re-attach
      // per-(rep, fold) member counts — rep-scale, folds are a handful
      val comp = mapped.groupBy(col("__rep"), col(foldCol))
        .agg(count(lit(1)).as("__m"))
        .localCheckpoint(eager = false)
      val repTotals = comp.groupBy(col("__rep")).agg(sum(col("__m")).as("__g"))
      val reps = mapped.where(col(idCol) === col("__rep"))
        .select(col(idCol), col(textCol))
      val repPairs = minhashScoredPairs(reps, textCol, idCol, shingleSize,
        numPerm, bands)
        .where(col("jacc") >= threshold)
        .localCheckpoint(eager = false) // consumed from both directions
      val directed = repPairs.select(col("id_a").as("__rep"), col("id_b").as("__o"))
        .unionAll(repPairs.select(col("id_b").as("__rep"), col("id_a").as("__o")))
      // neighbor members by their fold, then per (rep, fold-of-doc) leaks =
      // cross-total minus same-fold cross + own group's other-fold members
      val crossByFold = directed
        .join(comp.select(col("__rep").as("__o"), col(foldCol).as("__f"),
          col("__m")), "__o")
        .groupBy(col("__rep"), col("__f"))
        .agg(sum(col("__m")).as("__cm"))
        .localCheckpoint(eager = false)
      val crossTotal = crossByFold.groupBy(col("__rep"))
        .agg(sum(col("__cm")).as("__ct"))
      val withinArm = lit(1.0 >= threshold) // group mates tie at jacc 1.0
      val perRepFold = comp
        .join(repTotals, "__rep")
        .join(crossByFold.select(col("__rep"), col("__f").as(foldCol),
          col("__cm")), Seq("__rep", foldCol), "left")
        .join(crossTotal, Seq("__rep"), "left")
        .select(col("__rep"), col(foldCol),
          (when(withinArm, col("__g") - col("__m")).otherwise(lit(0L)) +
            (coalesce(col("__ct"), lit(0L)) - coalesce(col("__cm"), lit(0L))))
            .as("n_leaks"))
      mapped.select(col(idCol), col("__rep"), col(foldCol))
        .join(perRepFold, Seq("__rep", foldCol))
        .where(col("n_leaks") > 0L)
        .select(col(idCol), col(foldCol), col("n_leaks"))
    }
  }

  // --------------------------------------------------- duplicate clustering

  /** Connected components. Labels every node with the MINIMUM id of its
    * component. Two paths: a bounded driver union-find for
    * metadata-scale edge sets (below), and a distributed alternating
    * large-star/small-star contraction (Kiveris et al., SoCC 2014) above
    * the ceiling — each star round is one partial-aggregated groupBy plus
    * one equi-join over an edge set that CONTRACTS toward one star per
    * component, so round cost shrinks as the fixpoint nears and
    * convergence is O(log² n) rounds on any graph shape. Only
    * edge-touched nodes enter either path; untouched nodes are singletons
    * reattached at the end, so cost scales with the candidate-pair graph,
    * not the corpus. The driver reads one fingerprint scalar per
    * ALTERNATION (two star ops); localCheckpoint cuts the growing lineage.
    */
  /** Driver-path ceiling for [[connectedComponents]]: edge sets at or
    * under this collect to a driver union-find (one bounded take instead
    * of the iterated label-propagation jobs); larger graphs run the
    * distributed pointer-jumping loop unchanged. 1M edges ≈ ~50 MB of
    * driver rows — the VocabGuard/CoocMaxVocab bounded-collect posture.
    * Conf `graft.cc.driver_max_edges` overrides (0 disables, for A/B).
    */
  private[graft] val CcDriverMaxEdges = 1 << 20

  /** Union-find labels for a collected edge list: every endpoint maps to
    * the MINIMUM id of its component — exactly the fixpoint the
    * distributed loop converges to (TextDedupSpec pins equality).
    */
  private[graft] def unionFindMinLabels(
      edges: Array[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keysIterator.map(id => id -> find(id)).toMap
  }

  def connectedComponents(nodes: DataFrame, edges: DataFrame, idCol: String,
                          maxIter: Int = 30): DataFrame = {
    val spark = edges.sparkSession
    // Stats-gated driver path (guide §1.2: don't run a distributed
    // fixpoint for a metadata-scale graph): verified near-dup edge sets
    // are candidate-bounded and usually tiny relative to the corpus, and
    // the distributed loop below costs one driver action per round (the
    // convergence probe) plus an isEmpty probe. A bounded take decides:
    // at or under the ceiling, label with a driver union-find and
    // broadcast the labels back — same fixpoint, one job. Over the
    // ceiling (the 100 TB posture), fall through to the distributed loop.
    // The gated edges checkpoint lazily BEFORE the take: on overflow the
    // loop reads the blocks the take materialized, so the edge lineage
    // (minhash, banding, verify shuffles) runs once, not twice.
    val gated = edges.select(col("id_a"), col("id_b"))
      .localCheckpoint(eager = false)
    DriverGate.take(gated, "graft.cc.driver_max_edges", CcDriverMaxEdges)
      .foreach { taken =>
        val labels = unionFindMinLabels(
          taken.map(r => (r.getLong(0), r.getLong(1))))
        import spark.implicits._
        val labelsDf =
          if (labels.isEmpty)
            spark.emptyDataset[(Long, Long)].toDF(idCol, "__cc_label")
          else labels.toSeq.toDF(idCol, "__cc_label")
        return nodes.select(col(idCol))
          .join(org.apache.spark.sql.functions.broadcast(labelsDf),
            Seq(idCol), "left")
          .select(col(idCol),
            coalesce(col("__cc_label"), col(idCol)).as("cluster_id"))
      }
    // Distributed path (the 100 TB posture): alternating LARGE-STAR /
    // SMALL-STAR edge contraction (Kiveris et al., "Connected Components
    // in MapReduce and Beyond", SoCC 2014) replaces the r15 min-label
    // propagation loop. Each star op is ONE partial-aggregated groupBy
    // plus ONE equi-join over a CONTRACTING edge set — the old loop paid
    // three joins over the FIXED symmetric edge frame every round — and
    // the driver probes convergence once per ALTERNATION (two star ops),
    // not once per round: half the driver actions for the same O(log²n)
    // round bound. At the fixpoint the edge set IS the labeling: one star
    // per component, every non-minimum node pointing at the component
    // minimum (exactly the union-find/min-label fixpoint; TextDedupSpec
    // pins all three paths equal).
    def largeStar(e: DataFrame): DataFrame = {
      // for every node: connect each STRICTLY LARGER neighbor to the
      // minimum of the closed neighborhood (the min never exceeds the
      // node, so output edges stay canonical u > v and self-loop-free)
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // no distinct here: duplicates can't change smallStar's group minima
      // and its final distinct dedups the pair's output — one fewer
      // exchange per alternation (measured 53→62 job regression on
      // 64-chains with the extra distinct; see OPTIMIZATION_r17.md)
      sym.join(m, "u")
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
    }
    def smallStar(e: DataFrame): DataFrame = {
      // canonical input (u > v): connect every smaller neighbor, and the
      // node itself, to the group minimum — the row carrying the minimum
      // re-emits the (node, min) edge, the rest re-point to it
      val m = e.groupBy(col("u")).agg(min(col("v")).as("m"))
      e.join(m, "u")
        .select(
          when(col("v") === col("m"), col("u")).otherwise(col("v")).as("u"),
          col("m").as("v"))
        .distinct()
    }
    def fingerprint(e: DataFrame): (Long, Long, java.math.BigDecimal) = {
      // one scalar action per alternation: (edge count, xor fold, sum
      // fold) of a DISTINCT edge set — equal across alternations means both
      // star ops are at their joint fixpoint. Two independent folds: an xor
      // collision between distinct same-size edge sets would stop on a
      // non-fixpoint with silently wrong labels, so the exact sum of a
      // second hash (the swapped pair; decimal, since a Long sum overflows
      // under ANSI mode) must collide at the same time
      val r = e.agg(count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h"),
        coalesce(sum(xxhash64(col("v"), col("u")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("s")).head()
      (r.getLong(0), r.getLong(1), r.getDecimal(2))
    }
    var cur = gated
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(eager = false)
    var fp = fingerprint(cur)
    // no edges → every node is a singleton (surfaced by the pre-collapse
    // path, where a corpus of exact-dup groups can yield zero near-dup
    // edges); otherwise alternate until the edge set stabilizes
    var converged = fp._1 == 0L
    var iter = 0
    while (!converged && iter < maxIter) {
      val next = smallStar(largeStar(cur)).localCheckpoint(eager = false)
      val nfp = fingerprint(next)
      converged = nfp == fp
      fp = nfp
      cur = next
      iter += 1
    }
    require(converged,
      s"connectedComponents did not converge in $maxIter alternations")
    nodes.select(col(idCol))
      .join(cur.select(col("u").as(idCol), col("v").as("label")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("label"), col(idCol)).as("cluster_id"))
  }

  /** Duplicate clusters: connected components over the verified minhash
    * near-dup pairs (jacc ≥ threshold). cluster_id = min doc id of the
    * component; the canonical doc is the one a dedup pass would keep.
    *
    * Exact-duplicate pre-collapse (the standard before-near-dedup step at
    * corpus scale): identical shingleable texts always verify at jacc = 1,
    * so near-dup candidate generation, verification, and the CC loop run on
    * ONE representative (min id) per distinct text; members inherit their
    * representative's cluster by equi-join. Result-identical to the
    * uncollapsed pipeline — cluster_id = min doc id still holds because
    * every member id ≥ its representative's id — but minhash/CC work
    * scales with DISTINCT texts, not documents (a 10×-duplicated corpus
    * does ~10× less signature/join work). Docs too short to shingle are
    * NOT collapsed: with no shingles they produce no candidate pair (their
    * pairwise jaccard is NULL), so identical short docs must remain
    * singletons exactly as the uncollapsed path leaves them.
    */
  def dupClusters(df: DataFrame, textCol: String, idCol: String,
                  shingleSize: Int = 3, numPerm: Int = 64, bands: Int = 16,
                  threshold: Double = 0.5,
                  collapseOverride: Option[Boolean] = None): DataFrame = {
    // A mostly-distinct corpus skips the collapse — its text-hash shuffle
    // and member re-attach would be pure overhead (~1.5x measured at sf0.1,
    // where every text is unique) — a duplicated corpus takes it (3.2x
    // faster at the 10x-duplicated sf1).
    val collapse = collapses(df, textCol, collapseOverride)

    val labels =
      if (!collapse) {
        val edges = minhashScoredPairs(df, textCol, idCol, shingleSize, numPerm, bands)
          .where(col("jacc") >= threshold)
          .select(col("id_a"), col("id_b"))
        connectedComponents(df.select(col(idCol)), edges, idCol)
      } else {
        val collapsible = size(Text.tokens(col(textCol))) >= shingleSize
        val byText = org.apache.spark.sql.expressions.Window
          .partitionBy(sha2(col(textCol).cast("string"), 256))
        val mapped = df.select(col(idCol), col(textCol),
            when(collapsible, min(col(idCol)).over(byText))
              .otherwise(col(idCol)).as("__rep"))
          .localCheckpoint(eager = false) // feeds reps AND the member attach
        val reps = mapped.where(col(idCol) === col("__rep"))
          .select(col(idCol), col(textCol))
        val edges = minhashScoredPairs(reps, textCol, idCol, shingleSize, numPerm, bands)
          .where(col("jacc") >= threshold)
          .select(col("id_a"), col("id_b"))
        val repLabels = connectedComponents(reps.select(col(idCol)), edges, idCol)
          .withColumnRenamed(idCol, "__rep_id")
        mapped.select(col(idCol), col("__rep"))
          .join(repLabels, col("__rep") === col("__rep_id"))
          .select(col(idCol), col("cluster_id"))
      }
    val byCluster = org.apache.spark.sql.expressions.Window.partitionBy(col("cluster_id"))
    labels
      .withColumn("cluster_size", count(lit(1)).over(byCluster))
      .withColumn("is_canonical", col(idCol) === col("cluster_id"))
  }

  /** Quality-aware canonical selection over the near-dup clusters: keep the
    * BEST document per cluster by (`score` desc, id asc) instead of
    * [[dupClusters]]'s min-id convention — what a curation pipeline actually
    * wants when duplicates differ in extraction quality (reference keeps the
    * first-seen record, `pipeline/stream/dedupe.py`; a quality-ranked keep is
    * the corpus-curation refinement of that rule).
    *
    * `score` is evaluated against `df`'s columns in the scan projection, so
    * document bodies never shuffle: only (id, cluster_id, score) enters the
    * per-cluster ranking window — one hash exchange on cluster_id, the same
    * partitioning the cluster_size window already established.
    */
  def keepBest(df: DataFrame, textCol: String, idCol: String,
               score: Column, threshold: Double = 0.5,
               collapseOverride: Option[Boolean] = None): DataFrame = {
    val clusters = dupClusters(df, textCol, idCol, threshold = threshold,
      collapseOverride = collapseOverride)
      .select(col(idCol), col("cluster_id"), col("cluster_size"))
    val scored = df.select(col(idCol), score.as("score"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col(idCol).asc)
    clusters.join(scored, Seq(idCol))
      .withColumn("keep", row_number().over(w) === 1)
  }

  // ---------------------------------------------------------------- simhash

  /** SimHash signature width: 60 bits — the width of [[Text.portableHash]]
    * (15 hex chars), so the token hash is oracle-reproducible; banded into
    * 4 × 15-bit bands for candidate bucketing.
    */
  private[graft] val SimhashBits = 60
  private[graft] val SimhashBands = 4
  private[graft] val SimhashBandBits = SimhashBits / SimhashBands
  private[graft] val SimhashBandMask = (1L << SimhashBandBits) - 1

  /** Counter lanes for the packed simhash aggregation: 3 × 20-bit lanes per
    * long. 20 bits = max ~1M tokens per document before a lane overflows into
    * its neighbor (documents.parquet maxes out far below; a 100 TB corpus
    * with longer docs still fits — 2^20 tokens ≈ a 4 MB document).
    */
  private[graft] val SimhashLaneBits = 20
  private[graft] val SimhashLanesPerWord = 3
  private[graft] val SimhashWords = SimhashBits / SimhashLanesPerWord // 20

  /** Per-doc 60-bit SimHash via explode + packed per-bit counters
    * (partial-aggregated map-side: the scalable shape — the naive nested
    * higher-order-function fold is interpreted and quadratic per doc).
    * Bit b of the signature = 1 iff ones_b * 2 > n_tokens, i.e. the sign of
    * Σ_tokens (±1 from the token hash's bit b).
    *
    * Instead of 60 separate `sum` aggregates (whose generated update code is
    * large enough to fall off whole-stage codegen), the 60 per-bit one-counts
    * ride in 20 longs of 3 × 20-bit lanes: lane overflow is impossible below
    * 2^20 tokens/doc, so a single integer add updates 3 counters at once.
    */
  def simhashSigned(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(Text.tokens(col(textCol))).as("tok"))
      .select(col(idCol), Text.portableHash(col("tok")).as("__h"))
    val h = col("__h")
    // word w carries bits {w, w+20, w+40} in lanes 0/1/2
    val packedSums = (0 until SimhashWords).map { w =>
      val packed = (0 until SimhashLanesPerWord).map { lane =>
        shiftleft(shiftright(h, w + lane * SimhashWords).bitwiseAND(lit(1L)),
          lane * SimhashLaneBits)
      }.reduce(_ + _)
      sum(packed).as(s"__w$w")
    }
    val sums = toks.groupBy(col(idCol))
      .agg(count(lit(1L)).as("__n"), packedSums: _*)
    val laneMask = (1L << SimhashLaneBits) - 1
    val sig = (0 until SimhashBits).map { b =>
      val w = b % SimhashWords
      val lane = b / SimhashWords
      val ones = shiftright(col(s"__w$w"), lane * SimhashLaneBits)
        .bitwiseAND(lit(laneMask))
      when(ones * 2L > col("__n"), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    sums.select(col(idCol), sig.as("simhash"))
  }

  /** SimHash report: per-doc 60-bit signature + candidate count from 15-bit
    * band collisions (hamming-adjacent docs share ≥1 of 4 bands at distance
    * ≤3 by pigeonhole).
    */
  def simhashDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val signed = simhashSigned(df, textCol, idCol)
    val banded = signed.select(col(idCol), col("simhash"), posexplode(
      transform(sequence(lit(0), lit(SimhashBands - 1)),
        b => call_function("shiftright", col("simhash"), b * SimhashBandBits)
          .bitwiseAND(lit(SimhashBandMask))))
      .as(Seq("band", "band_val")))
    // bucket size via an unordered window (whole-bucket frame): one shuffle,
    // and `signed` (the expensive explode+aggregate) is computed exactly once
    // — a bucket-count self-join would recompute it on both sides.
    val bucketW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("band_val"))
    banded.withColumn("bucket_n", count(lit(1)).over(bucketW))
      .groupBy(col(idCol), col("simhash"))
      .agg(sum(col("bucket_n") - 1).as("n_candidates"))
  }

}
