package graft.state

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{Sessions, TestSpark}
import graft.fixtures.{CrawlFixtures, DocFixtures}
import graft.functions.Urls
import graft.model.RawIndexLine
import graft.operators.{CorpusJob, FrontierJob}
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot writer: every table the jobs commit is zstd parquet,
  * tables committed by the earlier snappy writer still resume, and the
  * frontier's batches files are in crawl order and re-read with the
  * schema they were written with.
  */
class SnapshotWriterSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpusDf(n: Long): DataFrame =
    DocFixtures.docs(DocFixtures.Params(nDocs = n, nHosts = 8))
      .zipWithIndex.map { case (d, i) =>
        (Urls.host(d.doc_id), i.toLong, d.doc_id, d.spans)
      }
      .toDF("domain", "ord", "doc_id", "spans")

  private lazy val crawl: (Seq[RawIndexLine], Seq[RawIndexLine]) =
    CrawlFixtures.rawLines(CrawlFixtures.Params(nRecords = 2000, nUrls = 1000,
      nHosts = 25)).partition(_.file_ord < 3)

  private def frontier(table: String, lines: Seq[RawIndexLine], id: String) =
    FrontierJob.runBatch(spark, lines.toDF(), table, politenessQuota = 4,
      dumpId = id)

  /** Parquet data files under `dir`, in name order. */
  private def parquetFiles(dir: String): Seq[Path] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala
      .filter(f => Files.isRegularFile(f) && f.toString.endsWith(".parquet"))
      .toList.sortBy(_.toString)
    finally walk.close()
  }

  /** Codecs of `f`'s column chunks, read from its footer. */
  private def codecs(f: Path): Set[CompressionCodecName] = {
    val in = HadoopInputFile.fromPath(new HPath(f.toUri),
      spark.sessionState.newHadoopConf())
    val r = ParquetFileReader.open(in)
    try r.getFooter.getBlocks.asScala
      .flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
    finally r.close()
  }

  /** Rewrites `dir`'s parquet as snappy, as the writer before zstd did. */
  private def toSnappy(dir: String): Unit = {
    val tmp = s"$dir.snappy"
    spark.read.parquet(dir).write.option("compression", "snappy").parquet(tmp)
    Sessions.deleteTree(Paths.get(dir))
    Files.move(Paths.get(tmp), Paths.get(dir))
    parquetFiles(dir).foreach(f => assert(codecs(f) == Set(CompressionCodecName.SNAPPY)))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("every committed parquet file is zstd: corpus, frontier, lsh-seen") {
    val all = corpusDf(240)
    val c1 = Files.createTempDirectory("zstd-corpus1").toString
    val ms1 = CorpusJob.runPipeline(spark, all.filter($"ord" < 120), c1)
    val c2 = Files.createTempDirectory("zstd-corpus2").toString
    CorpusJob.runPipeline(spark, all.filter($"ord" >= 120), c2,
      seenMh = Some(spark.read.parquet(s"$c1/${ms1(1).dataPath}")))
    val f = Files.createTempDirectory("zstd-frontier").toString
    frontier(f, crawl._1, "d1")
    frontier(f, crawl._2, "d2")
    val l = Files.createTempDirectory("zstd-lsh").toString
    val mh = spark.read.parquet(s"$c1/${ms1(1).dataPath}")
    LshSeen.append(spark, l, mh, "d1")
    LshSeen.compact(spark, l)

    val files = Seq(c1, c2, f, l).flatMap(parquetFiles)
    assert(files.exists(_.toString.contains("-batches")))
    val notZstd = files.map(p => p -> codecs(p))
      .filter { case (_, cs) => cs != Set(CompressionCodecName.ZSTD) }
    assert(notZstd.isEmpty, notZstd.mkString("\n"))
  }

  test("a corpus table whose first stages are snappy resumes row-identically") {
    val corpus = corpusDf(200)
    val refDir = Files.createTempDirectory("snappy-corpus-ref").toString
    val ref = CorpusJob.runPipeline(spark, corpus, refDir)
    // stages 0 and 1 committed by the snappy writer, 2..4 not yet run
    val dir = Files.createTempDirectory("snappy-corpus").toString
    val ms = CorpusJob.runPipeline(spark, corpus, dir)
    (2L to 4L).foreach(id =>
      Files.delete(Paths.get(dir, "_snapshots", s"v$id.json")))
    ms.take(2).foreach(m => toSnappy(s"$dir/${m.dataPath}"))

    val resumed = CorpusJob.runPipeline(spark, corpus, dir)
    assert(resumed.map(_.metrics) == ref.map(_.metrics))
    resumed.zip(ref).foreach { case (a, b) =>
      assert(rows(spark.read.parquet(s"$dir/${a.dataPath}")) ==
             rows(spark.read.parquet(s"$refDir/${b.dataPath}")), a.lineage)
    }
  }

  test("a frontier table with a snappy snapshot reads its mixed chain") {
    val ref = Files.createTempDirectory("snappy-frontier-ref").toString
    frontier(ref, crawl._1, "d1")
    val r2 = frontier(ref, crawl._2, "d2")
    val t = Files.createTempDirectory("snappy-frontier").toString
    val m1 = frontier(t, crawl._1, "d1").manifest
    toSnappy(s"$t/${m1.dataPath}")
    toSnappy(s"$t/${m1.dataPath}-batches")

    val t2 = frontier(t, crawl._2, "d2")
    assert(t2.manifest.metrics == r2.manifest.metrics)
    assert(rows(t2.batches) == rows(r2.batches))
    assert(rows(Snapshots.readData(spark, t, Seq(t2.manifest))) ==
           rows(Snapshots.readData(spark, ref, Seq(r2.manifest))))
    assert(rows(UrlSeenState.seenUrls(spark, t, Snapshots.chain(t))) ==
           rows(UrlSeenState.seenUrls(spark, ref, Snapshots.chain(ref))))
  }

  test("each batches file is in crawl order; re-reads keep the written schema") {
    val t = Files.createTempDirectory("batches-order").toString
    frontier(t, crawl._1, "d1")
    val r = frontier(t, crawl._2, "d2")
    val dir = s"$t/${r.manifest.dataPath}-batches"
    val files = parquetFiles(dir)
    assert(files.nonEmpty)
    files.foreach { f =>
      val ords = spark.read.parquet(f.toString).select("ord").as[Long].collect()
      assert(ords.toSeq == ords.sorted.toSeq, s"$f: ord not ascending")
    }
    // the written schemas, nullability included, are the inferred ones
    assert(r.batches.schema == spark.read.parquet(dir).schema)
    val chain = Snapshots.chain(t)
    assert(UrlSeenState.seenUrls(spark, t, chain).schema ==
           spark.read.parquet(chain.map(m => s"$t/${m.dataPath}"): _*).schema)
  }
}
