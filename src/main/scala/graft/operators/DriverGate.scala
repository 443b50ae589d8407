package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The bounded driver collect every small-input fast path shares (a
  * metadata-scale input should not pay for a distributed fixpoint or
  * fit). A stage takes at most `cap + 1` rows of its input: when they
  * all fit it runs its driver loop over them, otherwise it runs its
  * distributed plan — the posture a large input needs.
  *
  * One mechanism for the conf read, the disable rule and the Int clamp:
  * a cap above `Int.MaxValue` must clamp, never truncate to a small limit
  * that "fits" a PARTIAL input and silently returns a wrong answer.
  */
object DriverGate {
  /** Largest cap a take honours: `limit(cap + 1)` must fit an Int, and
    * the JVM caps arrays just below `Int.MaxValue`.
    */
  private val MaxCap: Long = Int.MaxValue - 2L

  /** The cap conf `key` sets, or `default` when it is unset. A value of 0
    * or below disables the gate; a value that is not an integer fails
    * loudly, naming the key, instead of falling back to the default.
    */
  private def cap(spark: SparkSession, key: String, default: Long): Long =
    spark.conf.getOption(key).fold(default) { v =>
      try v.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"conf $key must be an integer row count (0 or below disables " +
            s"the driver path), got '$v'")
      }
    }

  /** All rows of `df` when there are at most `cap` of them (clamped to
    * [[MaxCap]]); None when there are more, or when `cap` is 0 or below.
    * Only `cap + 1` rows ever reach the driver. A caller whose fallback
    * reads `df` again checkpoints it (lazily) first, so the take and the
    * fallback share one evaluation of its lineage.
    */
  def take(df: DataFrame, cap: Long): Option[Array[Row]] =
    if (cap <= 0) None
    else {
      val bound = math.min(cap, MaxCap)
      val rows = df.limit(bound.toInt + 1).collect()
      if (rows.length <= bound) Some(rows) else None
    }

  /** [[take]] under the cap conf `key` sets (`default` when unset). */
  def take(df: DataFrame, key: String, default: Long): Option[Array[Row]] =
    take(df, cap(df.sparkSession, key, default))
}
