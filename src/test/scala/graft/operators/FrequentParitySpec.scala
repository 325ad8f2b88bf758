package graft.operators

import graft.TestSpark
import graft.fixtures.DocFixtures
import graft.functions.{MinHashF, Urls}
import graft.ref.RefFrequent
import graft.ref.RefFrequent.DomainDoc
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FrequentParitySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  val p = DocFixtures.Params(nDocs = 400, nHosts = 8)
  val b = MinHashF.optimalBands(0.95)
  lazy val ddocs: Seq[DomainDoc] = DocFixtures.docs(p).zipWithIndex.map {
    case (d, i) => DomainDoc(Urls.host(d.doc_id), i.toLong, d)
  }

  def docsDf(partitions: Int): DataFrame =
    ddocs.map(dd => (dd.domain, dd.ord, dd.doc.doc_id, dd.doc.spans))
      .toDF("domain", "ord", "doc_id", "spans")
      .repartition(partitions)
      .withColumn("pbands", RefFrequent.paragraphBandsUdf(
        FrequentParagraphs.textSpans($"spans"), lit(b)))

  type FreqRow = (String, Int, Seq[Long], Double, Long)

  def sparkCollect(partitions: Int): Seq[FreqRow] =
    FrequentParagraphs.collect(docsDf(partitions))
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getSeq[Long](2),
                 r.getDouble(3), r.getLong(4)))
      .toSeq

  lazy val refFreq: Seq[FreqRow] = RefFrequent.collect(ddocs, b)

  test("fixtures have frequent-paragraph signal") {
    assert(refFreq.nonEmpty, "some frequents must be found")
    assert(refFreq.size < 100, "but not everything is frequent")
    assert(refFreq.exists(_._5 >= 10), "footers should accumulate count")
  }

  test("A3 collect matches the sequential oracle") {
    val got = sparkCollect(5)
    assert(got.toSet == refFreq.toSet)
  }

  test("A3 collect is partitioning-invariant") {
    assert(sparkCollect(1).toSet == sparkCollect(13).toSet)
  }

  test("A4 filter matches the determinized sequential semantics") {
    val freqDf = refFreq.toDF("domain", "pdata_id", "bands", "score", "count")
    val got = FrequentParagraphs.filterFrequent(docsDf(7), freqDf)
      .select($"domain", $"ord", $"spans")
      .collect()
      .map { r =>
        (r.getString(0), r.getLong(1),
         r.getSeq[org.apache.spark.sql.Row](2)
           .map(s => (s.getString(0), s.getString(1), s.getString(2),
                      s.getInt(3))))
      }
      .toSet
    val exp = RefFrequent.filterFrequent(ddocs, b, refFreq)
      .map(dd => (dd.domain, dd.ord,
        dd.doc.spans.map(s => (s.kind, s.text, s.media_ref, s.offset))))
      .toSet
    assert(got == exp)
    assert(got.size < ddocs.size, "filter must drop or trim docs")
  }

  test("A4 with old frequents drops all their occurrences") {
    // use the first collected frequent as an "old" frequent
    val old    = refFreq.take(2)
    val oldDf  = old.toDF("domain", "pdata_id", "bands", "score", "count")
    val freqDf = refFreq.drop(2).toDF("domain", "pdata_id", "bands", "score", "count")
    val got = FrequentParagraphs.filterFrequent(
        docsDf(4), freqDf, Some(oldDf))
      .select($"domain", $"ord").as[(String, Long)].collect().toSet
    val exp = RefFrequent.filterFrequent(ddocs, b, refFreq.drop(2), old)
      .map(dd => (dd.domain, dd.ord)).toSet
    assert(got == exp)
  }
}
