package graft.operators

import graft.TestSpark
import graft.fixtures.DocFixtures
import graft.functions.Urls
import graft.state.Snapshots
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{concat, lit}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

class CorpusJobSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def corpusDf(n: Long) = {
    val docs = DocFixtures.docs(DocFixtures.Params(nDocs = n, nHosts = 8))
      .zipWithIndex.map { case (d, i) =>
        (Urls.host(d.doc_id), i.toLong, d.doc_id, d.spans)
      }
    docs.toDF("domain", "ord", "doc_id", "spans")
  }

  /** Every stage's manifest rows_in/rows_out equal a fresh count() of the
    * stage's input (the corpus, then the previous stage's parquet) and of
    * its own parquet.
    */
  private def assertCounts(dir: String, corpus: DataFrame,
                           ms: Seq[Snapshots.Manifest]): Unit =
    ms.zipWithIndex.foreach { case (m, i) =>
      def rows(k: Int) = spark.read.parquet(s"$dir/${ms(k).dataPath}").count()
      val in = if (i == 0) corpus.count() else rows(i - 1)
      assert((m.metrics("rows_in"), m.metrics("rows_out")) == ((in, rows(i))),
        s"stage $i (${m.lineage}): manifest ${m.metrics}")
    }

  test("full pipeline: five committed stages, monotone funnel, resumable") {
    val dir = Files.createTempDirectory("corpusjob").toString
    val corpus = corpusDf(300)
    val ms = CorpusJob.runPipeline(spark, corpus, dir, minTokens = 5)
    assert(ms.map(_.lineage.stripPrefix("corpus stage=")) ==
      Seq("filter", "minhash", "dedup", "frequent", "renumber"))
    assert(ms.map(_.snapshotId) == (0L to 4L))
    // funnel: filter and dedup only remove; minhash is 1:1
    val outs = ms.map(_.metrics("rows_out"))
    assert(ms(0).metrics("rows_in") == 300)
    assert(outs(1) == outs(0), "minhash is row-preserving")
    assert(outs(2) <= outs(1), "dedup only removes")
    assert(outs(2) < outs(1), "fixture plants duplicates; some must go")
    assert(outs(4) == outs(3), "renumber is row-preserving")
    // final output: contiguous ord, parseable spans, batched files
    val fin = spark.read.parquet(s"$dir/${ms.last.dataPath}")
    val ords = fin.select("ord").as[Long].collect().sorted
    assert(ords.toSeq == (0L until outs(4)).toSeq)
    assertCounts(dir, corpus, ms)

    // a SECOND run over the same table recomputes nothing: every stage
    // resumes from its committed manifest (same ids, same metrics)
    val ms2 = CorpusJob.runPipeline(spark, corpus, dir, minTokens = 5)
    assert(ms2.map(m => (m.snapshotId, m.metrics)) ==
      ms.map(m => (m.snapshotId, m.metrics)))
  }

  test("kill mid-pipeline: rerun completes from the first uncommitted stage") {
    val dir = Files.createTempDirectory("corpusjob2").toString
    val corpus = corpusDf(200)
    // simulate the crash: run the full pipeline elsewhere to learn the
    // expected outputs, then replay only the first two commits into a
    // fresh table (as if the job died during stage 3)
    val refDir = Files.createTempDirectory("corpusjob2ref").toString
    val ref = CorpusJob.runPipeline(spark, corpus, refDir, minTokens = 5)
    val partial = CorpusJob.runPipeline(spark, corpus, dir, minTokens = 5)
    // wipe snapshots 2..4 (keep 0,1): delete manifests + staged dirs
    (2L to 4L).foreach { id =>
      Files.deleteIfExists(
        java.nio.file.Paths.get(dir, "_snapshots", s"v$id.json"))
    }
    assert(Snapshots.latest(dir).get.snapshotId == 1)
    // also leave a half-written stage-2 orphan: stage() must clean it
    val orphan = java.nio.file.Paths.get(dir, "data", "snap-2", "junk.bin")
    Files.createDirectories(orphan.getParent)
    Files.write(orphan, Array[Byte](1, 2, 3))
    val resumed = CorpusJob.runPipeline(spark, corpus, dir, minTokens = 5)
    assert(resumed.map(_.snapshotId) == (0L to 4L))
    // stages 0-1 reused verbatim; 2-4 recomputed to the same funnel
    assert(resumed.map(_.metrics("rows_out")) ==
      ref.map(_.metrics("rows_out")))
    val a = spark.read.parquet(s"$dir/${resumed.last.dataPath}")
      .select("doc_id", "ord").as[(String, Long)].collect().toSet
    val b = spark.read.parquet(s"$refDir/${ref.last.dataPath}")
      .select("doc_id", "ord").as[(String, Long)].collect().toSet
    assert(a == b, "resumed history must equal the uninterrupted one")
    assertCounts(dir, corpus, resumed)
  }

  test("observed counts hold when renumber writes several files") {
    val dir = Files.createTempDirectory("corpusjob-files").toString
    val corpus = corpusDf(300)
    val ms = CorpusJob.runPipeline(spark, corpus, dir, minTokens = 5,
      recordsPerFile = 60)
    assertCounts(dir, corpus, ms)
    val files = new java.io.File(s"$dir/${ms.last.dataPath}").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files >= 3, s"renumber wrote $files files")
  }

  test("an empty corpus commits five empty stages") {
    val dir = Files.createTempDirectory("corpusjob-empty").toString
    val ms = CorpusJob.runPipeline(spark, corpusDf(20).limit(0), dir)
    assert(ms.map(m => (m.metrics("rows_in"), m.metrics("rows_out"))) ==
      Seq.fill(5)((0L, 0L)))
  }

  test("a stage re-read with its written schema equals the inferred one") {
    val dir = Files.createTempDirectory("corpusjob-schema").toString
    // tuple columns are non-nullable; the file source reads them nullable
    val df = corpusDf(20)
    assert(df.schema.exists(!_.nullable))
    df.write.mode("overwrite").parquet(dir)
    assert(spark.read.schema(df.schema).parquet(dir).schema ==
      spark.read.parquet(dir).schema)
  }

  test("resume refuses a foreign snapshot chain") {
    val dir = Files.createTempDirectory("corpusjob-foreign").toString
    val (id, d, _) = Snapshots.stage(dir)
    Files.writeString(d.resolve("x.parquet"), "not ours")
    Snapshots.commit(dir, id, Map("n_scheduled" -> 5L), "frontier dump=d1")
    val e = intercept[IllegalArgumentException] {
      CorpusJob.runPipeline(spark, corpusDf(20), dir, minTokens = 5)
    }
    assert(e.getMessage.contains("foreign snapshot"))
  }

  test("cross-dedup wiring: dump 2 drops docs colliding with dump 1") {
    val dir1 = Files.createTempDirectory("corpusjob3a").toString
    val dir2 = Files.createTempDirectory("corpusjob3b").toString
    val all = corpusDf(160)
    val dump1 = all.filter($"ord" < 80)
    // dump 2 = fresh docs PLUS 20 exact re-crawls of dump-1 docs under
    // new URLs/ords (span-identical text -> certain band collisions;
    // different doc_id so self-dedup's same-id coupling cannot fire)
    val recrawls = all.filter($"ord" < 20).select(
      $"domain", ($"ord" + 1000).as("ord"),
      concat($"doc_id", lit("?recrawl")).as("doc_id"), $"spans")
    val dump2 = all.filter($"ord" >= 80).unionByName(recrawls)
    val ms1 = CorpusJob.runPipeline(spark, dump1, dir1, minTokens = 5)
    // seen batch = dump 1's surviving minhash table (stage 1 output
    // semi-joined to stage 2 survivors)
    val mh1 = spark.read.parquet(s"$dir1/${ms1(1).dataPath}")
    val kept1 = spark.read.parquet(s"$dir1/${ms1(2).dataPath}")
    val seen = mh1.join(kept1.select("ord"), Seq("ord"), "left_semi")
      .select("doc_id", "ord", "bands")
    val ms2 = CorpusJob.runPipeline(spark, dump2, dir2,
      minTokens = 5, seenMh = Some(seen))
    val dirSelf = Files.createTempDirectory("corpusjob3c").toString
    val msSelf = CorpusJob.runPipeline(spark, dump2, dirSelf, minTokens = 5)
    // every planted re-crawl whose original SURVIVED dump 1 must go in
    // the cross run and stay in the self-only run
    assert(ms2(2).metrics("rows_out") < msSelf(2).metrics("rows_out"),
      s"cross: ${ms2(2).metrics}, self-only: ${msSelf(2).metrics}")
    val keptIds = spark.read.parquet(s"$dir2/${ms2(2).dataPath}")
      .select("doc_id").as[String].collect().toSet
    val survivors1 = kept1.select("doc_id").as[String].collect().toSet
    val mustDrop = all.filter($"ord" < 20)
      .select("doc_id").as[String].collect().toSet
      .intersect(survivors1).map(_ + "?recrawl")
    assert(mustDrop.nonEmpty)
    assert(keptIds.intersect(mustDrop).isEmpty,
      "re-crawls of surviving dump-1 docs must be cross-deduped")
  }
}
