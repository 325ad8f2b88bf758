package graft.operators

import graft.TestSpark
import graft.functions.MinHashF
import graft.fixtures.DocFixtures
import graft.functions.Urls
import graft.ref.RefFrequent
import graft.ref.RefFrequent.DomainDoc
import graft.sources.CorpusSource
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClusterCorpusSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Sequential transcription of the production bisect variant,
    * find_pattern_in_index (cc_corpus/index.py:136–168): predecessor of
    * the insertion point always included, scan appends while the 3-way
    * compare (subdomain-matches-0) is >= 0.
    */
  private def refPrune(clusters: Seq[(String, String, Long, Long)],
                       pattern: String): Seq[(String, String, Long, Long)] = {
    def cmp(p: Array[String], o: Array[String]): Int = {
      p.zip(o).foreach { case (a, b) =>
        if (a > b) return 1
        if (a < b) return -1
      }
      if (p.length > o.length) 1 else 0
    }
    val pat  = pattern.split(",")
    val idx0 = clusters.indexWhere(_._1 >= pattern) match {
      case -1 => clusters.length
      case i  => i
    }
    val start = if (idx0 != 0) idx0 - 1 else idx0
    clusters.drop(start)
      .takeWhile(c => cmp(pat, c._1.split(",")) >= 0)
  }

  // surt-sorted synthetic cluster index with pattern boundaries mid-run
  val clusterRows: Seq[(String, String, Long, Long)] = {
    val domains = Seq("com,alpha", "com,beta", "com,beta,www2", "com,betax",
      "com,gamma", "hu,elte", "hu,elte,nlp", "hu,eltex", "hu,zeta",
      "org,example")
    domains.zipWithIndex.flatMap { case (d, i) =>
      (0 until 3).map(j =>
        (if (j == 0) d else s"$d,s$j", f"cdx-${i % 4}%02d.gz",
         (i * 3 + j) * 1000L, 1000L))
    }.sortBy(r => (r._1, r._2, r._3))
  }

  test("O1 cluster pruning matches the sequential reference incl. predecessor") {
    val df = clusterRows.toDF("surt", "file_name", "offset", "length")
    for (pattern <- Seq("hu,elte", "com,beta", "com,gamma", "aa,none",
                        "zz,after")) {
      val got = ClusterIndex.pruneClusters(df, pattern)
        .as[(String, String, Long, Long)].collect().toSet
      val exp = refPrune(clusterRows, pattern).toSet
      assert(got == exp, s"pattern=$pattern")
    }
  }

  test("S1 cluster.idx line parsing") {
    val lines = Seq(
      "hu,elte)/path\t20240101\tcdx-00000.gz\t12345\t678\t42").toDF("line")
    val got = ClusterIndex.parse(lines)
      .as[(String, String, Long, Long)].head()
    assert(got == (("hu,elte", "cdx-00000.gz", 12345L, 678L)))
  }

  test("S5/S12 JSONL corpus roundtrip preserves paragraph order") {
    val dir  = java.nio.file.Files.createTempDirectory("corpus").toString
    val docs = DocFixtures.docs(DocFixtures.Params(nDocs = 50)).zipWithIndex
      .map { case (d, i) => (d.doc_id + s"#$i", d.spans) }
      .toDF("doc_id", "spans")
    CorpusSource.writeJsonl(docs, s"$dir/out")
    val back = CorpusSource.readJsonl(spark, s"$dir/out")
    val exp = docs.select($"doc_id",
      transform(filter($"spans", s => s.getField("kind") === "p"),
                s => s.getField("text")).as("texts"))
      .as[(String, Seq[String])].collect().toMap
    val got = back.select($"doc_id",
      transform($"spans", s => s.getField("text")).as("texts"))
      .as[(String, Seq[String])].collect().toMap
    assert(got == exp)
  }

  test("O7 batched sink: even files, ordering preserved") {
    val dir = java.nio.file.Files.createTempDirectory("batched").toString
    val df  = spark.range(1000).select($"id", ($"id" * 7 % 1000).as("v"))
    assert(CorpusSource.writeBatched(df, s"$dir/out", "id",
      recordsPerFile = 100, rows = 1000) == 1000)
    val files = new java.io.File(s"$dir/out").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 10, s"got ${files.length} files")
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == 1000)
  }

  test("O8 seeded shuffle is deterministic and a permutation") {
    val df = spark.range(500).toDF("id")
    val a  = CorpusSource.shuffled(df, 42L, "id").as[Long].collect().toSeq
    val b  = CorpusSource.shuffled(df, 42L, "id").as[Long].collect().toSeq
    val c  = CorpusSource.shuffled(df, 43L, "id").as[Long].collect().toSeq
    assert(a == b, "same seed, same order")
    assert(a != c, "different seed, different order")
    assert(a.sorted == (0L until 500L).toSeq)
  }

  test("J6 bootstrap: distributed collect with bootstrap == sequential") {
    val b = MinHashF.optimalBands(0.95)
    val ddocs = DocFixtures.docs(DocFixtures.Params(nDocs = 200, nHosts = 5))
      .zipWithIndex.map { case (d, i) =>
        DomainDoc(Urls.host(d.doc_id), i.toLong, d)
      }
    val (first, second) = ddocs.partition(_.ord < 100)
    val boot = RefFrequent.collect(first, b)
    val bootMap = boot.groupBy(_._1).map { case (d, rows) =>
      d -> rows.map(r => (r._3.toArray, r._4, r._5))
    }
    val exp = RefFrequent.collect(second, b, bootstrap = bootMap).toSet

    val docsDf = second
      .map(dd => (dd.domain, dd.ord, dd.doc.doc_id, dd.doc.spans))
      .toDF("domain", "ord", "doc_id", "spans")
      .repartition(5)
      .withColumn("pbands", RefFrequent.paragraphBandsUdf(
        FrequentParagraphs.textSpans($"spans"), lit(b)))
    val bootDf = boot.toDF("domain", "pdata_id", "bands", "score", "count")
    val got = FrequentParagraphs.collect(docsDf, bootstrapDf = Some(bootDf))
      .as[(String, Int, Seq[Long], Double, Long)].collect().toSet
    assert(got == exp)
    assert(got.nonEmpty)
  }
}
