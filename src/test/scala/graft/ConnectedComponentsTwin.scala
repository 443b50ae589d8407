package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DataFrame twin of the distributed branch of
  * `Dedup.connectedComponents`, kept for the specs to pin it against.
  *
  * The same alternating LARGE-STAR / SMALL-STAR edge contraction (Kiveris
  * et al., "Connected Components in MapReduce and Beyond", SoCC 2014) as
  * Catalyst plans: each star op is one partial-aggregated groupBy plus one
  * equi-join over the contracting edge set, every alternation's output is
  * checkpointed, and one scalar fingerprint action per alternation probes
  * convergence. On the benchmark's 200-edge corpus graph it added 14 Spark
  * jobs (AQE stage jobs included) and 29 codegen-cache entries to the
  * journey. OPTIMIZATION_r17.md has the measurements that shaped it (one
  * exchange fewer per alternation without a distinct in the large star).
  */
object ConnectedComponentsTwin {

  def connectedComponents(nodes: DataFrame, edges: DataFrame, idCol: String,
                          maxIter: Int = 30): DataFrame = {
    def largeStar(e: DataFrame): DataFrame = {
      // for every node: connect each STRICTLY LARGER neighbor to the
      // minimum of the closed neighborhood (the min never exceeds the
      // node, so output edges stay canonical u > v and self-loop-free)
      val sym = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      // no distinct here: duplicates can't change smallStar's group minima
      // and its final distinct dedups the pair's output
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
      // (edge count, xor fold, sum fold) of a DISTINCT edge set — equal
      // across alternations means both star ops are at their joint
      // fixpoint; the sum is decimal, since a Long sum overflows under
      // ANSI mode
      val r = e.agg(count(lit(1)).as("n"),
        coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("h"),
        coalesce(sum(xxhash64(col("v"), col("u")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("s")).head()
      (r.getLong(0), r.getLong(1), r.getDecimal(2))
    }
    var cur = edges
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(eager = false)
    var fp = fingerprint(cur)
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
}
