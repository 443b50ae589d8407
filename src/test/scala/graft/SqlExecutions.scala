package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Records the physical plan of every SQL execution `body` runs, for specs
  * that pin which exchanges a path plans (or that a query never runs).
  * Adaptive plans are read after execution, query stages included.
  */
object SqlExecutions extends AdaptiveSparkPlanHelper {

  def recorded[T](spark: SparkSession)(body: => T): (T, Seq[SparkPlan]) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(qe.executedPlan)
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (out, scala.jdk.CollectionConverters.IterableHasAsScala(plans).asScala.toSeq)
    } finally spark.listenerManager.unregister(listener)
  }

  /** One root SQL execution `body` started, in start order: the value SQL
    * conf `key` had for it (None when the session left it unset) and
    * whether it writes files (a `Cli` write, as opposed to a plan-build
    * job).
    */
  final case class Started(conf: Option[String], writes: Boolean)

  def started[T](spark: SparkSession, key: String)(body: => T): (T, Seq[Started]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Started)]
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart
            if s.rootExecutionId.forall(_ == s.executionId) =>
          seen.add(s.executionId -> Started(s.modifiedConfigs.get(key),
            s.physicalPlanDescription.contains("InsertIntoHadoopFsRelation")))
        case _ =>
      }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      ListenerBusDrain(spark.sparkContext)
      (out, scala.jdk.CollectionConverters.IterableHasAsScala(seen).asScala
        .toSeq.sortBy(_._1).map(_._2))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Every shuffle exchange of `plan`, subqueries included: its hash keys
    * by name, or the partitioning's name when it is not hash partitioned.
    */
  def shuffleKeys(plan: SparkPlan): Seq[Seq[String]] =
    collectWithSubqueries(plan) { case s: ShuffleExchangeExec => keysOf(s) }

  private def keysOf(s: ShuffleExchangeExec): Seq[String] =
    s.outputPartitioning match {
      case h: HashPartitioning => h.expressions.map {
        case a: Attribute => a.name
        case e => e.sql
      }
      case p => Seq(p.getClass.getSimpleName)
    }

  /** One shuffle exchange: its hash keys (as in [[shuffleKeys]]) and the
    * records and bytes its map side wrote.
    */
  final case class Exchange(keys: Seq[String], records: Long, bytes: Long)

  /** Every shuffle exchange of an executed `plan`, subqueries included, with
    * its `shuffleRecordsWritten` and `shuffleBytesWritten` metrics (0 for an
    * exchange that never ran).
    */
  def exchanges(plan: SparkPlan): Seq[Exchange] =
    collectWithSubqueries(plan) { case s: ShuffleExchangeExec =>
      Exchange(keysOf(s), s.metrics("shuffleRecordsWritten").value,
        s.metrics("shuffleBytesWritten").value)
    }

  /** Every operator of `plan`, subqueries and query stages included, by
    * node name.
    */
  def nodeNames(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) { case p => p.nodeName }

  /** Every join operator of `plan`, subqueries included, by node name. */
  def joins(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) { case j: BaseJoinExec => j.nodeName }
}
