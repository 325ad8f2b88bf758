package graft.operators

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.fixtures.CrawlFixtures
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.window.WindowExecBase
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Plan budget of the polite frontier path: the robots parser runs in
  * one narrow pass, and one polite batch stays within its root actions
  * and shuffle exchanges. A change that adds one fails here with the
  * numbers.
  */
class FrontierBudgetSpec extends AnyFunSuite with Eventually
    with AdaptiveSparkPlanHelper {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Shuffle exchanges in an executed plan, through adaptive and query
    * stage wrappers (perfbench's `spark.exchanges` count).
    */
  private def exchanges(p: SparkPlan): Int = {
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

  test("robotsRules runs with no Exchange and no Window") {
    val dir = Files.createTempDirectory("robots-budget").toString
    (0 until 50).map(i =>
      (s"h$i.example.com",
       s"User-agent: otherbot\nDisallow: /\n\nUser-agent: *\nDisallow: /p/$i\nCrawl-delay: ${i % 3}\n"))
      .toDF("host_key", "content").write.mode("overwrite").parquet(dir)
    val rules = Frontier.robotsRules(spark.read.parquet(dir))
    assert(rules.count() == 50)
    val plan = rules.queryExecution.executedPlan
    val nEx = exchanges(plan)
    val nWin = collectWithSubqueries(plan) { case w: WindowExecBase => w }.size
    info(s"robotsRules: $nEx exchanges, $nWin windows")
    assert(nEx == 0 && nWin == 0,
      s"robotsRules: $nEx exchanges, $nWin windows in\n$plan")
  }

  test("a polite runBatch stays within 5 root actions and 8 exchanges") {
    val p = CrawlFixtures.Params(nRecords = 2000, nUrls = 1000, nHosts = 25)
    val (d1, d2) = CrawlFixtures.rawLines(p).partition(_.file_ord < 3)
    val rules = (0L until p.nHosts).map(h =>
      (s"h$h.example.com", "/p/1", false)).toDF("host_key", "path_prefix", "allow")
    val table = Files.createTempDirectory("frontier-budget").toString
    def run(lines: Seq[graft.model.RawIndexLine], id: String) =
      FrontierJob.runBatch(spark, lines.toDF(), table, robots = Some(rules),
        politenessQuota = 4, dumpId = id)
    run(d1, "d1") // the second dump runs against committed seen state

    val Marker = "frontier_budget_marker"
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
      run(d2, "d2")
      // listener events arrive in order: once the marker query is seen,
      // every action of the batch has been delivered
      spark.range(1).toDF(Marker).collect()
      eventually(timeout(Span(60, Seconds))) { assert(sawMarker) }
    } finally spark.listenerManager.unregister(listener)

    val perAction = plans.asScala.toSeq.map { case (f, pl) => f -> exchanges(pl) }
    val (nActions, nEx) = (perAction.size, perAction.map(_._2).sum)
    val numbers = s"$nActions root actions, $nEx exchanges: " +
      perAction.map { case (f, n) => s"$f=$n" }.mkString(", ")
    info(numbers)
    assert(nActions <= 5 && nEx <= 8, numbers)
  }
}
