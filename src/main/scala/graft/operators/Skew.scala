package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation (SURVEY.md §5): salting spreads a hot key across
  * `factor` shuffle partitions. AQE's skew-join handles sort-merge skew at
  * runtime; explicit salting is for what AQE can't re-plan — aggregations
  * over a hot key.
  */
object Skew {

  /** Deterministic salt in [0, factor) derived from a high-cardinality
    * column (NOT the group key — the point is to split within a key).
    */
  def withSalt(df: DataFrame, saltFrom: String, factor: Int,
               to: String = "__salt"): DataFrame =
    df.withColumn(to, pmod(xxhash64(col(saltFrom)), lit(factor.toLong)))

  /** Two-phase salted aggregation for algebraic aggregates over skewed keys:
    * phase 1 aggregates per (key, salt), phase 2 merges per key. `partial`
    * and `merge` name the same physical aggregate split in two (e.g.
    * sum/sum, count/sum, max/max).
    */
  def saltedAgg(df: DataFrame, keys: Seq[String], saltFrom: String,
                factor: Int, valueCol: String,
                partial: Column => Column, merge: Column => Column,
                to: String): DataFrame =
    withSalt(df, saltFrom, factor)
      .groupBy((keys :+ "__salt").map(col): _*)
      .agg(partial(col(valueCol)).as("__part"))
      .groupBy(keys.map(col): _*)
      .agg(merge(col("__part")).as(to))
}
