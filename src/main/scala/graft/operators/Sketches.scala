package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate sketches for cardinality/quantiles at scale (SURVEY.md §2.5
  * adjunct). Both are order-independent mergeable sketches — the only shapes
  * that survive 1000-executor partial aggregation:
  *  - HyperLogLog++ (`approx_count_distinct`): register-max merge;
  *  - KLL-style quantiles (`percentile_approx`).
  * Estimates are engine-specific, so queries using these are rows-only; specs
  * bound the error against exact answers.
  */
object Sketches {

  /** Per-group exact + HLL cardinality side by side (rsd = relative sd).
    *
    * `broadcastApprox` gates the join hint: an explicit broadcast hint is
    * honored REGARDLESS of size (AQE's threshold never demotes a hinted
    * join — only the 8 GB hard cap / driver memory stops it), so callers
    * grouping on an unbounded key must pass false to get the shuffled
    * group-keyed join instead of an OOM (r15 advice — the old comment
    * wrongly claimed AQE backstops the hint).
    */
  def distinctWithApprox(df: DataFrame, groupCols: Seq[String], target: String,
                         rsd: Double = 0.05,
                         broadcastApprox: Boolean = true): DataFrame = {
    // Broadcast bound: the joined frames are one row per GROUP KEY —
    // bounded for the approx_distinct head (event types); a caller
    // grouping on a high-cardinality column owns that bound via the
    // broadcastApprox gate above.
    //
    // TWO separate aggregates joined group-keyed — NOT one fused agg
    // (r15, the r14 ask-#3 probe): fusing countDistinct with
    // approx_count_distinct makes Spark key the first aggregate by
    // (group, target) and carry the HLL's ~53-long register buffer
    // through EVERY distinct pair row (partial_approx + merge_approx per
    // pair, the buffers riding the pair shuffle) — measured at sf100:
    // fused 23.1 s vs sketch-only 1.1 s + exact-only 5.4 s. Split, each
    // term keeps its own optimal shape (the sketch is the pure 2-level
    // partial-agg production path, the exact term's pair rows carry no
    // sketch state) and the join is group-count bounded (broadcast).
    val exact = df.groupBy(groupCols.map(col): _*)
      .agg(countDistinct(col(target)).as("exact_distinct"))
    // null-SAFE equality on RENAMED sketch-side keys: both aggregates
    // emit a NULL-key group row and the fused shape returned it — a
    // null-rejecting equi-join would silently drop that group (and
    // diverge from the oracle's GROUP BY); the rename sidesteps the
    // self-join attribute ambiguity a shared-lineage <=> would hit
    val approx = groupCols.foldLeft(
      df.groupBy(groupCols.map(col): _*)
        .agg(approx_count_distinct(col(target), rsd).as("approx_distinct"))) {
      (d, c) => d.withColumnRenamed(c, s"__g_$c")
    }
    val cond = groupCols.map(c => col(c) <=> col(s"__g_$c")).reduce(_ && _)
    val rhs = if (broadcastApprox) broadcast(approx) else approx
    exact.join(rhs, cond)
      .select(groupCols.map(col) ++
        Seq(col("exact_distinct"), col("approx_distinct")): _*)
  }

  // --- count-min sketch (heavy hitters) ------------------------------------
  // Unlike HLL/KLL above, the CMS is INTEGER state under per-cell addition —
  // order-free and engine-exact, so its heads hash-verify against the
  // DuckDB oracle like any exact query. h×w cells bound the state however
  // large the corpus: executors build partial sketches, the shuffle merges
  // them, and a stream accumulates the same cells in complete mode with
  // ≤ h×w groups. The row hashes are h DISJOINT 60-bit windows of ONE
  // sha256 digest per token (functions/CmsPositions — native, one digest
  // walk, no hex round-trip), shared verbatim with the oracle's
  // `substr(sha256(tok), 1+15i, 15)` windows.

  /** All h sketch positions of a token column as `array<long>`. */
  def cmsPositions(tok: Column, h: Int, w: Long): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      graft.functions.CmsPositions(
        org.apache.spark.sql.GraftColumnBridge.expression(tok), h, w))

  /** SQL twin of row `h`'s position in [[cmsPositions]]. */
  def cmsPosSql(h: Int, e: String, w: Long): String =
    s"(CAST('0x' || substr(sha256($e), ${1 + 15 * h}, 15) AS BIGINT) % $w)"

  /** The h×w cell counts of a token frame — ONE pass, ONE digest per
    * token, map-side partial sums, ≤ h×w result rows at any corpus size.
    */
  def cmsCells(toks: DataFrame, h: Int, w: Long): DataFrame =
    toks.select(posexplode(cmsPositions(col("tok"), h, w)).as(Seq("h", "pos")))
      .groupBy(col("h"), col("pos"))
      .agg(count(lit(1)).as("cnt"))

  /** Heavy-hitter report over a (possibly drained-from-a-stream) sketch:
    * the vocabulary aggregates ONCE to `(term, exact count)` — this head's
    * report owes exact counts for its verdicts, so the aggregate is forced
    * by the contract, and the same rows serve both the sketch probe
    * (estimate = min over the broadcast cells, the CMS upper bound) and
    * the verification (a former shape ran a separate distinct() probe plus
    * a semi-join-restricted count — a third corpus pass shuffling the same
    * vocabulary rows the distinct already had). Candidates clear
    * `total div divisor` on the ESTIMATE; `heavy` = the exact-count
    * verdict, so sketch false positives surface as heavy=false rows.
    */
  def cmsHeavyReport(toks: DataFrame, cells: DataFrame, h: Int, w: Long,
                     divisor: Long): DataFrame = {
    val total = cells.where(col("h") === 0)
      .agg(sum(col("cnt")).cast("long").as("total"))
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("__cms", cmsPositions(col("tok"), h, w))
    val probed = (0 until h).foldLeft(vocab) {
      (df, i) =>
        df.join(broadcast(cells.where(col("h") === i)
            .select(col("pos").as(s"pos$i"), col("cnt").as(s"c$i"))),
          element_at(col("__cms"), i + 1) === col(s"pos$i"))
    }.withColumn("est", least((0 until h).map(i => col(s"c$i")): _*))
      .drop("__cms")
    probed.crossJoin(broadcast(total))
      .where(col("est") >= expr(s"total div $divisor"))
      .select(col("tok"), col("est"), col("cnt"),
        (col("cnt") >= expr(s"total div $divisor")).as("heavy"))
  }
}
