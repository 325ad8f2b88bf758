package graft.operators

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** Root actions, shuffle exchanges and windows of Spark work, counted the
  * way perfbench counts `job.actions` and `spark.exchanges`: the plan
  * budget specs assert on these and print them.
  */
object PlanBudget extends Eventually with AdaptiveSparkPlanHelper {

  /** Shuffle exchanges in an executed plan, through adaptive and query
    * stage wrappers.
    */
  def exchanges(p: SparkPlan): Int = {
    val here = p match {
      case _: ShuffleExchangeLike => 1
      case _ => 0
    }
    val below = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children ++ other.innerChildren.collect {
        case c: SparkPlan => c }
    }
    here + below.map(exchanges).sum
  }

  def windows(p: SparkPlan): Int =
    collectWithSubqueries(p) { case w: WindowExecBase => w }.size

  /** Run `body`; return the name and executed plan of every root action
    * it ran, in order.
    */
  def actions(spark: SparkSession)(body: => Unit): Seq[(String, SparkPlan)] = {
    val Marker = "plan_budget_marker"
    val plans = new ConcurrentLinkedQueue[(String, SparkPlan)]()
    @volatile var sawMarker = false
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == Marker)) sawMarker = true
        else plans.add(funcName -> qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
        plans.add(s"$funcName (failed)" -> qe.executedPlan)
    }
    spark.listenerManager.register(listener)
    try {
      body
      // listener events arrive in order: once the marker query is seen,
      // every action of the body has been delivered
      spark.range(1).toDF(Marker).collect()
      eventually(timeout(Span(60, Seconds))) { assert(sawMarker) }
    } finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  /** (root actions, exchanges, a one-line report) of `actions`' output. */
  def tally(plans: Seq[(String, SparkPlan)]): (Int, Int, String) = {
    val perAction = plans.map { case (f, pl) => f -> exchanges(pl) }
    val (nActions, nEx) = (perAction.size, perAction.map(_._2).sum)
    (nActions, nEx, s"$nActions root actions, $nEx exchanges: " +
      perAction.map { case (f, n) => s"$f=$n" }.mkString(", "))
  }
}
