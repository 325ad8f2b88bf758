package graft.operators

import java.nio.file.Files

import graft.{Pin, TestSpark}
import graft.fixtures.DocFixtures
import graft.functions.{MinHashF, Urls}
import graft.operators.PlanBudget.{actions, exchanges, tally, windows}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Plan budget of the corpus job: a `runPipeline` call stays within its
  * root actions (one write per stage plus the pins the stage bodies take)
  * and shuffle exchanges, and frequent-paragraph removal is one per-domain
  * pass. A change that adds one fails here with the numbers.
  */
class CorpusBudgetSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpusDf(n: Long): DataFrame =
    DocFixtures.docs(DocFixtures.Params(nDocs = n, nHosts = 8))
      .zipWithIndex.map { case (d, i) =>
        (Urls.host(d.doc_id), i.toLong, d.doc_id, d.spans)
      }
      .toDF("domain", "ord", "doc_id", "spans")

  test("filterFrequent over pinned inputs runs one exchange and no Window") {
    val b = MinHashF.optimalBands(0.9)
    val docs = Pin(corpusDf(300).withColumn("pbands",
      FrequentParagraphs.paragraphBandsCol(
        FrequentParagraphs.textSpans(col("spans")), b)))
    val freqs = Pin(FrequentParagraphs.collect(docs))
    val kept = FrequentParagraphs.filterFrequent(docs, freqs)
    assert(kept.collect().length > 0)
    val plan = kept.queryExecution.executedPlan
    val (nEx, nWin) = (exchanges(plan), windows(plan))
    info(s"filterFrequent: $nEx exchanges, $nWin windows")
    assert(nEx == 1 && nWin == 0,
      s"filterFrequent: $nEx exchanges, $nWin windows in\n$plan")
    Pin.release(docs, freqs)
  }

  test("a runPipeline call stays within 9 root actions and 13 exchanges") {
    val all = corpusDf(300)
    val dir1 = Files.createTempDirectory("corpus-budget1").toString
    val ms1 = CorpusJob.runPipeline(spark, all.filter($"ord" < 150), dir1)
    // the second dump cross-dedups against the first, as perfbench's
    // corpus_build does
    val seen = spark.read.parquet(s"$dir1/${ms1(1).dataPath}")
    val dir2 = Files.createTempDirectory("corpus-budget2").toString
    val (nActions, nEx, numbers) = tally(actions(spark) {
      CorpusJob.runPipeline(spark, all.filter($"ord" >= 150), dir2,
        seenMh = Some(seen))
    })
    info(numbers)
    assert(nActions <= 9 && nEx <= 13, numbers)
  }
}
