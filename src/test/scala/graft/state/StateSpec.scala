package graft.state

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.fixtures.CrawlFixtures
import graft.model.RawIndexLine
import graft.operators.FrontierJob
import graft.state.StateBatches.{advance, growBatches, update}
import org.apache.spark.sql.functions.{col, input_file_name}
import org.scalatest.funsuite.AnyFunSuite

class StateSpec extends AnyFunSuite {

  test("cuckoo filter: insert/lookup/delete laws, no false negatives") {
    val cf = CuckooFilter.forCapacity(10000)
    val keys = (0L until 8000L).map(CrawlFixtures.mix)
    keys.foreach(k => assert(cf.insert(k), s"insert failed at load ${cf.loadFactor}"))
    keys.foreach(k => assert(cf.contains(k), "false negative"))
    // false positive rate on fresh keys is tiny
    val fresh = (100000L until 120000L).map(CrawlFixtures.mix)
    val fp = fresh.count(cf.contains)
    assert(fp < 50, s"fp rate too high: $fp/20000")
    // delete removes membership (for uniquely-inserted keys)
    val del = keys.take(1000)
    del.foreach(k => assert(cf.delete(k)))
    val stillThere = del.count(cf.contains)
    assert(stillThere < 10, s"deletes did not take: $stillThere")
    assert(cf.size == 7000)
  }

  test("cuckoo filter: deterministic serialization roundtrip") {
    val a = CuckooFilter.forCapacity(1000)
    val b = CuckooFilter.forCapacity(1000)
    (0L until 700L).map(CrawlFixtures.mix).foreach { k =>
      a.insert(k); b.insert(k)
    }
    assert(a.toBytes.toSeq == b.toBytes.toSeq, "same inserts, same bytes")
    val c = CuckooFilter.fromBytes(a.toBytes)
    assert((0L until 700L).map(CrawlFixtures.mix).forall(c.contains))
    assert(c.size == a.size)
  }

  test("cuckoo chain grows past the first segment's capacity") {
    val chain = CuckooChain.forCapacity(100)
    val keys  = (0L until 5000L).map(CrawlFixtures.mix)
    keys.foreach(k => assert(chain.insert(k), s"insert must never fail: $k"))
    assert(chain.numSegments > 1, "overflow must append segments")
    assert(keys.forall(chain.contains), "no false negatives across segments")
    val rt = CuckooChain.fromBytes(chain.toBytes)
    assert(keys.forall(rt.contains))
    assert(rt.size == chain.size && rt.numSegments == chain.numSegments)
    assert(rt.delete(keys.head))
  }

  test("cuckoo insert at kick exhaustion retains the key and never " +
       "double-inserts via the chain (no phantom membership after delete)") {
    // force kick exhaustion: tiny filter, keys well past capacity
    val cf = CuckooFilter.forCapacity(16)
    val keys = (0L until 2000L).map(CrawlFixtures.mix)
    var closedAt = -1
    var i = 0
    while (i < keys.length && closedAt < 0) {
      if (!cf.insert(keys(i))) closedAt = i
      i += 1
    }
    assert(closedAt > 0, "filter must eventually close")
    // every key that insert() returned true for must be a member —
    // including the one whose kick loop exhausted (stash-as-success)
    keys.take(closedAt).foreach(k => assert(cf.contains(k), "false negative"))
    // chain: insert each key exactly once; a key must be deletable with
    // ONE delete (the r2 bug double-inserted the exhausting key, so one
    // delete left a phantom copy behind)
    val chain = CuckooChain.forCapacity(16)
    val ck = (0L until 3000L).map(CrawlFixtures.mix)
    ck.foreach(chain.insert)
    assert(chain.size == ck.length.toLong,
           s"count drift: ${chain.size} != ${ck.length}")
    ck.foreach(chain.delete)
    val phantom = ck.count(chain.contains)
    // residual hits are fingerprint collisions only, not stuck duplicates
    assert(phantom < 30, s"phantom membership after delete: $phantom/3000")
  }

  test("cuckoo chain loads a legacy bare-filter blob (CUKF magic)") {
    val cf = CuckooFilter.forCapacity(500)
    val keys = (0L until 400L).map(CrawlFixtures.mix)
    keys.foreach(cf.insert)
    val chain = CuckooChain.fromBytes(cf.toBytes) // pre-chain snapshot blob
    assert(chain.numSegments == 1)
    assert(keys.forall(chain.contains))
    assert(chain.size == cf.size)
  }

  test("compaction bounds FP rate back to single-filter level") {
    // grow a chain through several segments, measure FP rate, then
    // rebuild right-sized from the key set (what compactDistributed does
    // per partition) and require the compacted FP rate to drop to the
    // single-filter ballpark
    val keys = (0L until 20000L).map(CrawlFixtures.mix)
    val grown = CuckooChain.forCapacity(256)
    keys.foreach(grown.insert)
    assert(grown.numSegments > 3, s"need a long chain, got ${grown.numSegments}")
    val fresh = (1000000L until 1100000L).map(CrawlFixtures.mix)
    val fpGrown = fresh.count(grown.contains)

    val sorted = keys.toArray; java.util.Arrays.sort(sorted)
    val compact = CuckooChain.forCapacity(sorted.length)
    sorted.foreach(compact.insert)
    assert(compact.numSegments == 1, "right-sized rebuild must be 1 segment")
    assert(keys.forall(compact.contains), "compaction lost a key")
    val fpCompact = fresh.count(compact.contains)
    assert(fpCompact * 2 < fpGrown,
           s"compaction should materially cut FPs: $fpCompact vs $fpGrown")
    // and byte-determinism of the rebuild
    val compact2 = CuckooChain.forCapacity(sorted.length)
    sorted.foreach(compact2.insert)
    assert(compact.toBytes.toSeq == compact2.toBytes.toSeq)
  }

  test("A3 per-domain size metrics land in snapshot manifests") {
    val spark = TestSpark.spark
    import spark.implicits._
    // skewed shape: one domain owns 60 of 100 docs
    val docs = ((0 until 60).map(i => ("mega.example.com", i)) ++
                (0 until 40).map(i => (s"d${i % 8}.example.com", i)))
      .toDF("domain", "ord")
    val m = graft.operators.FrequentParagraphs.domainSizeMetrics(docs)
    assert(m("n_domains") == 9L)
    assert(m("max_domain_docs") == 60L)
    assert(m("n_docs") == 100L)
    val table = Files.createTempDirectory("pdata-snap").toString
    val (id, _, _) = Snapshots.stage(table)
    Snapshots.commit(table, id, m, "pdata collect metrics")
    val got = Snapshots.latest(table).get.metrics
    assert(got("max_domain_docs") == 60L, s"metric missing from manifest: $got")
    assert(got("n_domains") == 9L)
  }

  private def urls(from: Int, until: Int): Seq[String] =
    (from until until).map(i => s"https://h${i % 97}.example.com/p/$i")

  test("distributed cuckoo IO goes through the Hadoop FS API (file: URI)") {
    // exercises the URI entry points end-to-end: update with no previous
    // state, carry-forward + update from a previous URI dir, load and
    // compact through the same `file:` filesystem. On a cluster the same
    // code paths address hdfs:/s3a: via the session Hadoop conf.
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("cuckoo-hfs").toString
    val uri = "file://" + dir
    val first = urls(0, 5000)
    val stats = UrlSeenState.updateDistributed(
      spark, first.toDF("url"), None, s"$uri/s1", partitions = 4,
      deltaDir = s"$uri/d1")
    assert(stats.values.map(_.inserted).sum == 5000L)
    val more = urls(5000, 6000)
    UrlSeenState.updateDistributed(
      spark, more.toDF("url"), Some(s"$uri/s1"), s"$uri/s2", partitions = 4,
      deltaDir = s"$uri/d2")
    val loaded = UrlSeenState.load(s"$uri/s2")
    assert((first ++ more).forall(u => loaded.contains(xxhash(u))))
    // the delta holds the batch's urls, each partition's rows in one file
    // and sorted by key
    val delta = spark.read.parquet(s"$uri/d1")
      .select(col("url"), input_file_name())
      .as[(String, String)].collect().toSeq
    assert(delta.map(_._1).sorted == first.sorted)
    val byFile = delta.groupBy(_._2).values.map(_.map { case (u, _) =>
      val h = xxhash(u); (UrlSeenState.partitionOf(h, 4), h) })
    byFile.foreach(rows => assert(rows == rows.sorted, "delta file not key-sorted"))
    assert(byFile.toSeq.flatMap(_.map(_._1).distinct).size == 4,
      "a partition's rows span two files")
    // compact in place through the URI as well; membership preserved
    val segs = UrlSeenState.compactDistributed(
      spark, (first ++ more).toDF("url"), s"$uri/s2", partitions = 4)
    assert(segs.values.forall(_ == 1))
    val compacted = UrlSeenState.load(s"$uri/s2")
    assert((first ++ more).forall(u => compacted.contains(xxhash(u))))
  }

  test("compactDistributed rebuilds grown chains to one segment, " +
       "membership preserved") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("cuckoo-u").toString
    val all = urls(0, 40000)
    // a small first batch sizes each chain for ~500 keys; a second batch
    // 40x larger forces multi-segment chains
    val (first, second) = all.splitAt(1000)
    val stats = growBatches(dir, Seq(first, second))(update(4)).last
    assert(stats.values.exists(_.segments > 2), s"need grown chains: $stats")
    assert(stats.values.map(_.inserted).sum == second.size.toLong)
    val loaded = UrlSeenState.load(s"$dir/s1")
    assert(all.forall(u => loaded.contains(xxhash(u))))

    // compact from the authoritative url set into the same layout
    Files.createDirectory(Paths.get(dir, "s2"))
    Files.list(Paths.get(dir, "s1")).forEach(p =>
      Files.copy(p, Paths.get(dir, "s2").resolve(p.getFileName.toString)))
    val segs = UrlSeenState.compactDistributed(
      spark, all.toDF("url"), s"$dir/s2", partitions = 4)
    assert(segs.values.forall(_ == 1), s"compaction must right-size: $segs")
    val compacted = UrlSeenState.load(s"$dir/s2")
    assert(all.forall(u => compacted.contains(xxhash(u))), "compaction lost a key")
    assert(compacted.parts.map(_.numSegments).forall(_ == 1))
    // FP rate materially better than the grown chain's
    val fresh = urls(1000000, 1040000).map(xxhash)
    val fpGrown   = fresh.count(loaded.contains)
    val fpCompact = fresh.count(compacted.contains)
    assert(fpCompact * 2 < fpGrown + 100,
           s"fp not reduced: $fpCompact vs $fpGrown")
  }

  test("advance compacts a chain grown past 2 segments from seen ∪ delta") {
    val dir = Files.createTempDirectory("cuckoo-advance").toString
    val all = urls(0, 40000)
    val (first, second) = all.splitAt(1000)
    val stats = growBatches(dir, Seq(first, second))(advance).last
    assert(stats.values.exists(_.segments > 2), s"no growth: $stats")
    val state = UrlSeenState.load(s"$dir/s1")
    assert(state.parts.forall(_.numSegments == 1), "state was not compacted")
    assert(state.size == all.size.toLong)
    assert(all.forall(u => state.contains(xxhash(u))))
  }

  test("an update inserts each distinct key once") {
    val spark = TestSpark.spark
    import spark.implicits._
    val dir = Files.createTempDirectory("cuckoo-dup").toString
    val us = urls(0, 2000)
    val stats = UrlSeenState.updateDistributed(spark,
      (us ++ us.take(300)).toDF("url"), None, s"$dir/s0", partitions = 4,
      deltaDir = s"$dir/d0")
    assert(stats.values.map(_.inserted).sum == 2000L)
    assert(UrlSeenState.load(s"$dir/s0").size == 2000L)
    assert(spark.read.parquet(s"$dir/d0").count() == 2300L,
      "the delta keeps every row")
  }

  test("snapshot log: stage/commit/latest/parent chain + commit race") {
    val dir = Files.createTempDirectory("snaptest").toString
    assert(Snapshots.latest(dir).isEmpty)
    val (id0, d0, _) = Snapshots.stage(dir)
    Files.writeString(d0.resolve("x.txt"), "data0")
    val m0 = Snapshots.commit(dir, id0, Map("rows" -> 10L), "first")
    assert(m0.snapshotId == 0 && m0.parentId == -1)
    val (id1, d1, _) = Snapshots.stage(dir)
    Files.writeString(d1.resolve("x.txt"), "data1")
    val m1 = Snapshots.commit(dir, id1, Map("rows" -> 20L), "second")
    assert(m1.parentId == 0)
    val latest = Snapshots.latest(dir).get
    assert(latest.snapshotId == 1 && latest.metrics("rows") == 20L)
    // double-commit of same id must fail
    intercept[IllegalStateException] {
      Snapshots.commit(dir, id1, Map.empty, "dup")
    }
  }

  test("stage() cleans orphan staging from a crashed pre-commit attempt") {
    val dir = Files.createTempDirectory("snaporphan").toString
    // run 1 stages snap-0, writes data + a state blob, DIES before commit
    val (id0, d0, s0) = Snapshots.stage(dir)
    Files.writeString(d0.resolve("orphan.parquet"), "uncommitted delta")
    Files.writeString(s0.resolve("part-00003.cuckoo"), "uncommitted inserts")
    // run 2 resumes: latest() is still empty, stage() hands out the SAME
    // id — the orphan files must be GONE, or the untouched-partition
    // carry-forward would smuggle never-committed inserts into snap-0
    val (id1, d1, s1) = Snapshots.stage(dir)
    assert(id1 == id0)
    assert(!Files.exists(d1.resolve("orphan.parquet")))
    assert(!Files.exists(s1.resolve("part-00003.cuckoo")))
    assert(Files.list(d1).count() == 0 && Files.list(s1).count() == 0)
    // a committed snapshot's dirs are never touched by later stage calls
    Files.writeString(d1.resolve("real.parquet"), "committed delta")
    Snapshots.commit(dir, id1, Map("rows" -> 1L), "c")
    val (id2, _, _) = Snapshots.stage(dir)
    assert(id2 == id1 + 1)
    assert(Files.exists(d1.resolve("real.parquet")))
  }

  test("frontier job: two batches, resume from committed snapshot") {
    val spark = TestSpark.spark
    import spark.implicits._
    val table = Files.createTempDirectory("frontier").toString
    val p     = CrawlFixtures.Params(nRecords = 1200, nUrls = 500, nHosts = 20)
    val lines = CrawlFixtures.rawLines(p)
    val (day1, day2) = lines.partition(_.file_ord < 3)

    val r1 = FrontierJob.runBatch(spark, day1.toDF(), table, dumpId = "d1")
    assert(r1.manifest.snapshotId == 0)
    assert(r1.manifest.metrics("n_scheduled") > 0)
    val scheduled1 = r1.batches.select("url").distinct().as[String].collect().toSet

    // "crash" happens here: nothing in-flight, resume = latest snapshot.
    // The seen set is append-only: the reader view is the union of the
    // manifest chain's delta paths.
    def seenSet(): Set[String] = {
      val paths = Snapshots.chain(table).map(m => s"$table/${m.dataPath}")
      spark.read.parquet(paths: _*).as[String].collect().toSet
    }
    val resumed = Snapshots.latest(table).get
    assert(resumed.snapshotId == 0)
    val seen1 = seenSet()

    val r2 = FrontierJob.runBatch(spark, day2.toDF(), table, dumpId = "d2")
    assert(r2.manifest.snapshotId == 1 && r2.manifest.parentId == 0)
    val scheduled2 = r2.batches.select("url").distinct().as[String].collect().toSet

    // day-2 schedule must not contain anything already seen on day 1
    assert(scheduled2.intersect(seen1).isEmpty)
    // seen set grows monotonically across the snapshot chain
    val seen2 = seenSet()
    assert(seen1.subsetOf(seen2))
    assert(scheduled2.subsetOf(seen2 -- seen1))
    assert(Snapshots.latest(table).get.metrics("n_seen_urls") == seen2.size)

    // cuckoo state mirrors the table across resume
    val state = UrlSeenState.load(
      Paths.get(table, Snapshots.latest(table).get.statePath))
    val hashes = (scheduled1 ++ scheduled2).toSeq
    val present = hashes.count(u => state.contains(xxhash(u)))
    assert(present == hashes.size, "cuckoo state must contain all winners")
  }

  test("cuckoo batch ordering in crawl order matches (warc, offset)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val table = Files.createTempDirectory("frontier2").toString
    val p     = CrawlFixtures.Params(nRecords = 600, nUrls = 300, nHosts = 10)
    val r = FrontierJob.runBatch(spark, CrawlFixtures.rawLines(p).toDF(), table)
    val rows = r.batches.orderBy("ord")
      .select("warc", "offset").as[(String, Long)].collect()
    assert(rows.toSeq == rows.sortBy(x => (x._1, x._2)).toSeq)
  }

  private def xxhash(u: String): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(u),
      org.apache.spark.sql.types.StringType, 42L)

  /** (file name, bytes) of every file in `dir`, sorted by name. */
  private def files(dir: java.nio.file.Path): Seq[(String, Seq[Byte])] = {
    val st = Files.list(dir)
    try st.iterator().asScala.toSeq
      .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq)
      .sortBy(_._1)
    finally st.close()
  }

  private def statePath(table: String) =
    Paths.get(table, Snapshots.latest(table).get.statePath)

  test("partitionCol routes every hash as partitionOf does") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val hs = Seq(0L, -1L, Long.MinValue, Long.MaxValue) ++
      Seq.fill(10000)(rnd.nextLong())
    val df = hs.toDF("h")
    Seq(4, 16, 256).foreach { p =>
      val got = df.select(col("h"), UrlSeenState.partitionCol(col("h"), p))
        .as[(Long, Int)].collect()
      assert(got.length == hs.length)
      val bad = got.filter { case (h, q) => q != UrlSeenState.partitionOf(h, p) }
      assert(bad.isEmpty, s"P=$p: ${bad.take(5).toSeq}")
    }
  }

  test("state dir holds at most 16 B per seen URL plus a per-blob header") {
    val spark = TestSpark.spark
    import spark.implicits._
    val table = Files.createTempDirectory("frontier-bytes").toString
    val p = CrawlFixtures.Params(nRecords = 1200, nUrls = 500, nHosts = 20)
    val (day1, day2) = CrawlFixtures.rawLines(p).partition(_.file_ord < 3)
    FrontierJob.runBatch(spark, day1.toDF(), table, dumpId = "d1")
    val m = FrontierJob.runBatch(spark, day2.toDF(), table, dumpId = "d2")
      .manifest
    val nSeen = m.metrics("n_seen_urls")
    val st = files(statePath(table))
    val blobs = st.count(_._1.startsWith("cuckoo-"))
    val bytes = st.map(_._2.length.toLong).sum
    // a one-segment chain blob carries 48 B of headers; the FS may keep
    // a checksum file per blob (8 B + 4 B per 512 B), so each blob gets
    // 64 B of fixed overhead besides its table
    val bound = 16 * nSeen + 64L * blobs
    info(s"$bytes B for $nSeen seen URLs in $blobs blobs (bound $bound)")
    assert(nSeen > 0 && bytes <= bound, s"$bytes B > $bound B")
  }

  test("one batch run into two fresh tables gives byte-identical blobs") {
    val spark = TestSpark.spark
    import spark.implicits._
    val lines = CrawlFixtures.rawLines(
      CrawlFixtures.Params(nRecords = 1200, nUrls = 500, nHosts = 20)).toDF()
    def blobs() = {
      val table = Files.createTempDirectory("frontier-det").toString
      FrontierJob.runBatch(spark, lines, table, dumpId = "d1")
      files(statePath(table)).filter(_._1.startsWith("cuckoo-"))
    }
    val a = blobs()
    assert(a.nonEmpty)
    assert(a == blobs(), "same batch, same state bytes")
  }

  test("a table with legacy fixed-capacity blobs resumes with every " +
       "winner present") {
    val spark = TestSpark.spark
    import spark.implicits._
    val table = Files.createTempDirectory("frontier-legacy").toString
    val p = CrawlFixtures.Params(nRecords = 1200, nUrls = 500, nHosts = 20)
    val (day1, day2) = CrawlFixtures.rawLines(p).partition(_.file_ord < 3)
    // the winners of each committed snapshot: its seen delta
    def won(): Seq[String] = spark.read
      .parquet(s"$table/${Snapshots.latest(table).get.dataPath}")
      .as[String].collect().toSeq
    FrontierJob.runBatch(spark, day1.toDF(), table, dumpId = "d1")
    val won1 = won()
    // rewrite snapshot 0's state as the old writer did: every partition
    // one chain of fixed capacity 1 << 16, whatever it holds
    val dir = statePath(table)
    val nParts = files(dir).count(_._1.startsWith("cuckoo-"))
    val legacy = UrlSeenState.create(nParts, 1 << 16)
    won1.foreach(u => legacy.insert(xxhash(u)))
    legacy.save(dir)
    assert(files(dir).filter(_._1.startsWith("cuckoo-"))
      .forall(_._2.length > (1 << 16)), "legacy blobs are fixed-size")

    FrontierJob.runBatch(spark, day2.toDF(), table, dumpId = "d2")
    val won2 = won()
    assert(won1.nonEmpty && won2.nonEmpty)
    val state = UrlSeenState.load(statePath(table))
    assert(state.parts.length == nParts)
    val missing = (won1 ++ won2).filterNot(u => state.contains(xxhash(u)))
    assert(missing.isEmpty, s"winners missing from the state: $missing")
    assert(state.size == (won1 ++ won2).size.toLong)
  }
}
