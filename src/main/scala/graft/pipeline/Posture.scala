package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SortExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Per-plan reduce-parallelism posture — the round-10 sf100 lesson made the
  * engine's DEFAULT instead of a sweep-local env knob.
  *
  * The measured facts (BASELINE.md "Posture finding",
  * bench_sf100_ordered_tuned.json): advertising many AQE initial shuffle
  * partitions (256) and letting coalescePartitions shrink them is the right
  * shape for WIDE shuffles — hash aggregates and joins over 600M-row facts
  * want bounded per-reducer hash/sort state — but is a ~2× map-fanout TAX on
  * single-exchange SORT plans (the §2.3 ordered family: window transforms,
  * sessionize, as-of): an external sort handles large partitions gracefully
  * by spill-merge, so core-count partitions win (ensure_cadence 16.9 → 8.3 s,
  * asof_join 38.8 → 24.5 s, rolling_median 37.1 → 23.0 s at sf100). In
  * production this knob is per-job; here it is per-PLAN:
  *
  *  - every shuffle exchange in the pre-AQE physical plan is attributed to
  *    its CONSUMER (walking up through Sort/Project/Filter/Union — a sort
  *    under a merge join belongs to the join, not the sort family);
  *  - a plan whose shuffles all feed the window/sort family gets CORE-COUNT
  *    initial partitions;
  *  - a plan with any aggregate/join/other shuffle gets VOLUME-SCALED
  *    initial partitions: scanned bytes / 64 MB (Spark's own advisory
  *    post-shuffle partition size), clamped to [cores, 1024] — reduce
  *    parallelism tracks data volume the way a cluster sizes it, and AQE
  *    coalesces the unused fan-out back down on small inputs.
  *
  * The classifier is structural and conservative: unknown consumers count as
  * wide (the pre-round-11 global behavior), so a novel operator can only
  * ever fall back to the old posture, never silently under-parallelize.
  */
object Posture {

  /** Spark's advisory post-shuffle partition size (64 MB). */
  val TargetShuffleBytes: Long = 64L * 1024 * 1024
  /** Fan-out ceiling: beyond this, per-partition scheduling overhead
    * dominates any spill relief on a single executor-sized slice.
    */
  val MaxInitialPartitions = 1024

  /** Nodes an exchange's bytes flow THROUGH on the way to the operator that
    * actually consumes the partitioning.
    */
  private def passThrough(p: SparkPlan): Boolean = p match {
    case _: SortExec | _: ProjectExec | _: FilterExec | _: UnionExec => true
    case _ => false
  }

  private def isSortFamily(p: SparkPlan): Boolean = p match {
    case _: WindowExec | _: WindowGroupLimitExec => true
    case _: SortExec => true // a global/top sort with no consumer above
    case _ => false
  }

  private def isAgg(p: SparkPlan): Boolean = p match {
    case _: org.apache.spark.sql.execution.aggregate.HashAggregateExec => true
    case _: org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec => true
    case _: org.apache.spark.sql.execution.aggregate.SortAggregateExec => true
    case _ => false
  }

  /** An exchange input is RAW if SOME leaf-to-exchange branch carries rows
    * no aggregate has reduced (a union of an hourly rollup with the raw
    * fact stream is raw — the fact branch dominates its bytes).
    */
  private def hasRawBranch(p: SparkPlan): Boolean =
    if (isAgg(p)) false
    else if (p.children.isEmpty) true
    else p.children.exists(hasRawBranch)

  /** True iff the plan's shuffled DATA VOLUME is sort-dominated: it has at
    * least one RAW exchange (full fact rows — no partial aggregate between
    * the leaves and the exchange on some branch) and every raw exchange
    * feeds the window/sort family. Pre-aggregated exchanges don't vote:
    * their bytes are group-bounded, so they neither pay the fan-out tax nor
    * need the spill relief (asof_join's hourly rollup must not drag its
    * raw window shuffle onto the wide posture). A plan with no raw exchange
    * at all (aggregates, LSH band joins) counts as wide: partial-aggregate
    * outputs can still be huge when keys are high-cardinality
    * (vocabularies, signatures, n-grams), and wide is the conservative
    * fallback.
    */
  private[graft] def sortDominated(plan: SparkPlan): Boolean = {
    var rawSort = false
    var rawWide = false
    def visit(p: SparkPlan, ancestors: List[SparkPlan]): Unit = {
      p match {
        case e: ShuffleExchangeExec if hasRawBranch(e.child) =>
          val sortish = ancestors.find(!passThrough(_)) match {
            case Some(c) => isSortFamily(c)
            case None => ancestors.headOption.forall(isSortFamily)
          }
          if (sortish) rawSort = true else rawWide = true
        case _ =>
      }
      p.children.foreach(visit(_, p :: ancestors))
    }
    visit(plan, Nil)
    rawSort && !rawWide
  }

  /** Estimated input volume: the sum of the optimized plan's leaf-relation
    * size estimates (file-scan bytes for parquet sources; catalyst's
    * propagated estimate for checkpointed frames). An upper bound is fine —
    * AQE coalesces unused fan-out — but it must TRACK scale so the wide
    * posture grows with the data, not with a constant. Leaves WITHOUT a
    * real estimate (LogicalRDD built from createDataFrame) report the
    * `spark.sql.defaultSizeInBytes` sentinel (Long.MaxValue by default) —
    * counting those would pin every in-memory frame to the fan-out
    * ceiling, paying the map-side tax on tiny plans; they are skipped, and
    * a plan with NO usable estimate falls back to core count.
    */
  private[graft] def scanBytes(df: DataFrame): BigInt = {
    val sentinel = BigInt(
      org.apache.spark.sql.internal.SQLConf.get.defaultSizeInBytes)
    df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).filterNot(_ == sentinel).sum
  }

  /** The pre-AQE physical plan WITH its exchanges: EnsureRequirements runs
    * in the preparation phase, so `sparkPlan` has none — unwrap the
    * adaptive root's initial plan instead (no execution is triggered).
    */
  private[graft] def plannedWithExchanges(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }

  /** The initial AQE shuffle-partition count for this plan. */
  def initialShufflePartitions(df: DataFrame, cores: Int): Int =
    if (sortDominated(plannedWithExchanges(df))) cores
    else {
      val byVolume = (scanBytes(df) / TargetShuffleBytes).min(
        BigInt(MaxInitialPartitions)).toInt
      math.max(cores, byVolume)
    }

  /** AQE initial-partition knob the posture sets. */
  val InitialPartitionsKey =
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum"

  /** Run `action` under the per-plan posture of `df` — the one-call
    * pattern every entry point (Bench, Cli) shares. The session's own
    * value of [[InitialPartitionsKey]] (or its absence) comes back when
    * `action` ends, also when it throws: a posture set for one plan must
    * not leak into the plan-build jobs of the next action in the session
    * (a corpus write's 1024-partition posture used to tax every later
    * journey's eager jobs). A classification failure LOGS and falls back
    * to core count (a silent fallback would surface only as an
    * unexplained benchmark shift).
    */
  def during[T](df: DataFrame, cores: Int, label: String = "plan")(action: => T): T = {
    val parts =
      try initialShufflePartitions(df, cores)
      catch {
        case e: Exception =>
          System.err.println(
            s"[posture] $label: classification failed (${e.getClass.getSimpleName}: ${e.getMessage}); falling back to $cores")
          cores
      }
    val conf = df.sparkSession.conf
    val prior = conf.getOption(InitialPartitionsKey)
    conf.set(InitialPartitionsKey, parts.toString)
    try action
    finally prior.fold(conf.unset(InitialPartitionsKey))(
      conf.set(InitialPartitionsKey, _))
  }
}
