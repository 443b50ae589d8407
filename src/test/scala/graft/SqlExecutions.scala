package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
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

  /** Every shuffle exchange of `plan`, subqueries included: its hash keys
    * by name, or the partitioning's name when it is not hash partitioned.
    */
  def shuffleKeys(plan: SparkPlan): Seq[Seq[String]] =
    collectWithSubqueries(plan) { case s: ShuffleExchangeExec =>
      s.outputPartitioning match {
        case h: HashPartitioning => h.expressions.map {
          case a: Attribute => a.name
          case e => e.sql
        }
        case p => Seq(p.getClass.getSimpleName)
      }
    }

  /** Every join operator of `plan`, subqueries included, by node name. */
  def joins(plan: SparkPlan): Seq[String] =
    collectWithSubqueries(plan) { case j: BaseJoinExec => j.nodeName }
}
