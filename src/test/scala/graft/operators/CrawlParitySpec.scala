package graft.operators

import graft.TestSpark
import graft.fixtures.CrawlFixtures
import graft.functions.Mimes
import graft.model.RawIndexLine
import graft.ref.RefInterpreter
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** Parity of the distributed index-filter + URL-dedup + crawl-order chain
  * against the single-threaded reference interpreter, on the seeded
  * fixtures — including partitioning invariance (SURVEY.md §7.4 risk 1:
  * results must not depend on how the input is split).
  */
class CrawlParitySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  val params = CrawlFixtures.Params(nRecords = 3000, nUrls = 800, nHosts = 40)
  lazy val lines: Seq[RawIndexLine] = CrawlFixtures.rawLines(params)
  val bad = Seq(CrawlFixtures.BadIndexPattern)

  lazy val refFiltered = RefInterpreter.filterIndex(lines, badIndexPatterns = bad)
  lazy val refWinners  = RefInterpreter.collectWinners(refFiltered)
  lazy val refKept     = RefInterpreter.keepWinners(refFiltered, refWinners)
  lazy val refOrdered  = RefInterpreter.crawlOrder(refKept)

  def sparkFiltered(partitions: Int): DataFrame = {
    val raw = spark.createDataset(lines).toDF().repartition(partitions)
    IndexPipeline.filterIndex(IndexPipeline.parseRaw(raw),
                              badIndexPatterns = bad)
  }

  private def filteredKey(df: DataFrame): Set[(String, String, String, Long, Long, String, Long)] =
    df.select("domain", "url", "warc", "offset", "length", "file", "line_ord")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getLong(3),
                 r.getLong(4), r.getString(5), r.getLong(6)))
      .toSet

  private def refFilteredKey: Set[(String, String, String, Long, Long, String, Long)] =
    refFiltered.map(k => (k.fields.domain, k.fields.url, k.fields.warc,
                          k.fields.offset.toLong, k.fields.length.toLong,
                          k.file, k.lineOrd)).toSet

  test("fixtures exercise the interesting paths") {
    val allRaw = lines.size
    assert(allRaw == params.nRecords)
    assert(refFiltered.size < allRaw, "some lines must be filtered")
    assert(refFiltered.size > allRaw / 3, "most lines should survive")
    assert(refWinners.size < refFiltered.size, "URL dups must exist")
    // ties: at least one URL with >1 kept line (identical winner record)
    assert(refKept.size >= refWinners.size)
  }

  test("F2–F6 index filter matches the reference interpreter") {
    assert(filteredKey(sparkFiltered(4)) == refFilteredKey)
  }

  test("index filter is partitioning-invariant") {
    assert(filteredKey(sparkFiltered(1)) == filteredKey(sparkFiltered(13)))
  }

  test("A0 winners match reference (keep=biggest)") {
    val got = UrlDedup.winners(sparkFiltered(5), "biggest")
      .collect()
      .map(r => r.getString(0) -> RefInterpreter.Record(
        r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(got.size == refWinners.size)
    refWinners.foreach { case (url, rec) =>
      assert(got(url) == rec, s"winner mismatch for $url")
    }
  }

  test("A0 winners match reference (keep=latest)") {
    val refW = RefInterpreter.collectWinners(refFiltered, keep = "latest")
    val got = UrlDedup.winners(sparkFiltered(7), "latest")
      .collect()
      .map(r => r.getString(0) -> RefInterpreter.Record(
        r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .toMap
    assert(got.size == refW.size)
    refW.foreach { case (url, rec) =>
      assert(got(url) == rec, s"winner mismatch for $url")
    }
  }

  test("J3 winner semi-join keeps exactly the reference's lines") {
    val f   = sparkFiltered(6)
    val got = filteredKey(UrlDedup.keepWinners(f, UrlDedup.winners(f)))
    val exp = refKept.map(k => (k.fields.domain, k.fields.url, k.fields.warc,
                                k.fields.offset.toLong, k.fields.length.toLong,
                                k.file, k.lineOrd)).toSet
    assert(got == exp)
  }

  test("O3 crawl order is row-identical to the reference") {
    val f       = sparkFiltered(4)
    val ordered = UrlDedup.crawlOrderByWarc(UrlDedup.keepWinners(f, UrlDedup.winners(f)))
    val got = ordered.orderBy("ord")
      .select("url", "warc", "offset", "ord")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val exp = refOrdered.zipWithIndex.map { case (k, i) =>
      (k.fields.url, k.fields.warc, k.fields.offset.toLong, i.toLong)
    }
    assert(got.toSeq == exp)
  }

  test("J2 anti-join vs seen set drops exactly seen URLs") {
    val f = sparkFiltered(4)
    // take every 3rd winner URL as "seen yesterday"
    val seenUrls = refWinners.keys.zipWithIndex.collect {
      case (u, i) if i % 3 == 0 => u
    }.toSeq
    val seenDf = seenUrls.toDF("url")
    val got = UrlDedup.antiJoinSeen(f, seenDf, spark)
      .select("url").distinct().as[String].collect().toSet
    val expected = refFiltered.map(_.fields.url).toSet -- seenUrls
    assert(got == expected)
  }

  test("mime normalization: column form == scala form on fixture mimes") {
    val mimes = (0L until 12L).map(CrawlFixtures.mimeOf) ++
      Seq("text/html", "\"/text/html/\"", "weird", "a.PDF", "x,y")
    val df  = mimes.toDF("m")
    val got = df.select(Mimes.normalizeCol($"m")).as[String].collect()
    val exp = mimes.map(m => Option(Mimes.normalize(m)).orNull)
    assert(got.toSeq == exp.toSeq)
  }
}
