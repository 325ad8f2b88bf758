package graft.operators

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.fixtures.CrawlFixtures
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** The polite path's pins: the gate→rank chain (robots gate, salted
  * pre-prune window, host window) executes once per batch although
  * crawlOrderByWarc reads it twice, and every pin a batch takes is
  * released by the time it returns.
  */
class FrontierPinGuardSpec extends AnyFunSuite with Eventually
    with AdaptiveSparkPlanHelper {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val Marker = "frontier_pin_guard_marker"

  /** Shuffle exchanges hash-partitioned on the salted pre-prune key. */
  private def saltExchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    collectWithSubqueries(plan) {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning =>
          h.expressions.flatMap(_.references).exists(_.name == "__salt")
        case _ => false
      }) => e
    }

  test("polite runBatch runs the salted rank once and releases its pins") {
    val p = CrawlFixtures.Params(nRecords = 2000, nUrls = 1000, nHosts = 25)
    val (d1, d2) = CrawlFixtures.rawLines(p).partition(_.file_ord < 3)
    val rules = (0L until p.nHosts).map(h =>
      (s"h$h.example.com", "/p/1", false)).toDF("host_key", "path_prefix", "allow")
    val table = Files.createTempDirectory("frontier-pin-guard").toString
    def run(lines: Seq[graft.model.RawIndexLine], id: String) =
      FrontierJob.runBatch(spark, lines.toDF(), table, robots = Some(rules),
        politenessQuota = 4, dumpId = id)
    run(d1, "d1") // the second dump runs against committed seen state

    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    @volatile var sawMarker = false
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.analyzed.output.exists(_.name == Marker)) sawMarker = true
        else plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    spark.listenerManager.register(listener)
    try {
      run(d2, "d2")
      // listener events arrive in order: once the marker query is seen,
      // every plan of the batch has been delivered
      spark.range(1).toDF(Marker).collect()
      eventually(timeout(Span(60, Seconds))) { assert(sawMarker) }
    } finally spark.listenerManager.unregister(listener)

    val nSalted = plans.asScala.toSeq.flatMap(saltExchanges).size
    assert(nSalted == 1,
      s"salted rank window exchanges across the batch's plans: $nSalted")
    // releases are non-blocking; the pins must all be gone shortly after
    eventually(timeout(Span(60, Seconds))) {
      val leaked = spark.sparkContext.getPersistentRDDs.keySet.toSet -- before
      assert(leaked.isEmpty, s"pinned RDDs left by the batch: $leaked")
    }
  }
}
