package graft.operators

import java.nio.file.Files

import graft.TestSpark
import graft.fixtures.CrawlFixtures
import graft.operators.PlanBudget.{actions, exchanges, tally, windows}
import graft.state.UrlSeenState
import org.scalatest.funsuite.AnyFunSuite

/** Plan budget of the frontier paths: the robots parser runs in one
  * narrow pass, and one polite or fast-path batch stays within its root
  * actions and shuffle exchanges. A change that adds one fails here with
  * the numbers.
  */
class FrontierBudgetSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

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
    val nWin = windows(plan)
    info(s"robotsRules: $nEx exchanges, $nWin windows")
    assert(nEx == 0 && nWin == 0,
      s"robotsRules: $nEx exchanges, $nWin windows in\n$plan")
  }

  test("a polite runBatch stays within 4 root actions and 8 exchanges") {
    val p = CrawlFixtures.Params(nRecords = 2000, nUrls = 1000, nHosts = 25)
    val (d1, d2) = CrawlFixtures.rawLines(p).partition(_.file_ord < 3)
    val rules = (0L until p.nHosts).map(h =>
      (s"h$h.example.com", "/p/1", false)).toDF("host_key", "path_prefix", "allow")
    val table = Files.createTempDirectory("frontier-budget").toString
    def run(lines: Seq[graft.model.RawIndexLine], id: String) =
      FrontierJob.runBatch(spark, lines.toDF(), table, robots = Some(rules),
        politenessQuota = 4, dumpId = id)
    run(d1, "d1") // the second dump runs against committed seen state

    val (nActions, nEx, numbers) = tally(actions(spark)(run(d2, "d2")))
    info(numbers)
    assert(nActions <= 4 && nEx <= 8, numbers)
  }

  test("a fast-path runBatch stays within 3 root actions and 8 exchanges") {
    val p = CrawlFixtures.Params(nRecords = 2000, nUrls = 1000, nHosts = 25)
    val (d1, d2) = CrawlFixtures.rawLines(p).partition(_.file_ord < 3)
    val table = Files.createTempDirectory("frontier-budget-fast").toString
    def run(lines: Seq[graft.model.RawIndexLine], id: String) =
      FrontierJob.runBatch(spark, lines.toDF(), table, robots = None,
        politenessQuota = Int.MaxValue, dumpId = id)
    run(d1, "d1") // the second dump runs against committed seen state

    val (nActions, nEx, numbers) = tally(actions(spark)(run(d2, "d2")))
    info(numbers)
    assert(nActions <= 3 && nEx <= 8, numbers)
  }

  test("a forced compaction runs as one root action with one exchange") {
    val dir = Files.createTempDirectory("compact-budget").toString
    val urls = (0 until 6000).map(i => s"https://h${i % 31}.example.com/c/$i")
    UrlSeenState.updateDistributed(spark, urls.take(100).toDF("url"), None,
      s"$dir/s0", partitions = 4, deltaDir = s"$dir/d0")
    val grown = UrlSeenState.updateDistributed(spark, urls.toDF("url"),
      Some(s"$dir/s0"), s"$dir/s1", partitions = 4, deltaDir = s"$dir/d1")
    assert(grown.values.forall(_.segments > 1))

    val (nActions, nEx, numbers) = tally(actions(spark) {
      UrlSeenState.compactDistributed(spark, urls.toDF("url"), s"$dir/s1",
        partitions = 4)
    })
    info(numbers)
    assert(nActions == 1 && nEx == 1, numbers)
  }
}
