package graft.operators

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import graft.functions.Urls
import graft.state.{Snapshots, UrlSeenState}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The end-to-end frontier slice (SURVEY.md §7.2 M2/M3): given the
  * committed url_seen state and a batch of raw index lines, emit the
  * fetch frontier in crawl order and commit the next snapshot —
  * scan → filter → anti-join(seen) → argmax winners → robots gate →
  * politeness waves → crawl-order sort → snapshot commit with
  * per-partition lineage + metrics. A killed run never observes a
  * half-commit: resume = `Snapshots.latest`.
  */
object FrontierJob {

  case class Result(batches: DataFrame, manifest: Snapshots.Manifest)

  private val phaseLog = sys.env.contains("GRAFT_PHASE_LOG")
  private def phase[A](name: String)(f: => A): A = {
    if (!phaseLog) f
    else {
      val t0 = System.nanoTime()
      val a  = f
      println(f"[fj] $name%-18s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      a
    }
  }

  /** One frontier batch against the table at `tableDir`. */
  def runBatch(spark: SparkSession,
               rawLines: DataFrame,
               tableDir: String,
               robots: Option[DataFrame] = None,
               keep: String = "biggest",
               politenessQuota: Int = 100,
               fetchBatchSize: Long = 1000,
               dumpId: String = "batch",
               cacheIntermediates: Boolean = true): Result = {
    // What is pinned, so that each chain with two consumers runs once:
    //  - the gated winners, whenever the quota is effectively unbounded
    //    (politenessRankByFile: its cum-count aggregate and its rank
    //    window both read them). Always on; on the fast path (no robots,
    //    unlimited quota) the written batches parquet then feeds the seen
    //    delta, so `kept` is never pinned there.
    //  - with cacheIntermediates, on the polite path (robots or a finite
    //    quota): `kept` (the robots gate and the seen-delta write both
    //    read it) and, for a small quota, the ranked frame out of
    //    politenessRankEx (crawlOrderByWarc's per-warc window and per-warc
    //    count both read it; unpinned, the robots gate and the salted
    //    rank window ran once per consumer).
    // Pins are localCheckpoint()s, not persist(): AQE may not coalesce a
    // cached plan's output partitioning, so with a persisted `kept` every
    // stage below it ran the url window's full shuffle partition count,
    // each task deserializing a binary that carried the cached plan. A
    // local checkpoint goes through AQE (coalesced partitions) and
    // truncates lineage (small task binaries). Measured per polite batch
    // on a 4-core box (15k lines, 400 hosts, quota 4, robots): 318 -> 28
    // tasks, 4.2 -> 2.0 s executor CPU, and 4.9 -> 2.8 s for the pins,
    // batches write and seen-delta write together.
    //
    // Failure semantics: a local checkpoint cannot be recomputed. If a
    // pinned block is lost (its executor died), the batch fails loudly
    // before its commit, and a rerun resumes from Snapshots.latest. It
    // never returns different rows. With cacheIntermediates = false the
    // polite path pins neither frame and each consumer recomputes.
    //
    // Two shuffle byte-diets were measured here (r3, min-of-3 A/B at 8M
    // URLs, local[32]) and REJECTED — recorded so they aren't re-tried:
    // (a) dictionary-encoding warc/file to 8-byte ids through the
    //     shuffles: -35% shuffle bytes, but the dict needs its own
    //     from_json pass per batch plus a broadcast string-join on the
    //     hot path — wall +60%, task GC x3. Revisit only on a
    //     network-shuffle cluster with the dict persisted across batches
    //     in snapshot state (the warc set is append-only per dump).
    // (b) skipping the politeness window when quota is unlimited:
    //     -25% shuffle bytes (one full exchange removed), yet wall +25%
    //     reproducibly — the host-window stage boundary evidently leaves
    //     the range-sort sampling a cheaper child to re-read than the
    //     url-window stage does. Lesson: on this engine, bytes-moved is
    //     not the cost model; stage-boundary placement is.

    // the seen set is append-only: each snapshot's dataPath holds only
    // that batch's winners; the reader unions the manifest chain
    val prev      = Snapshots.latest(tableDir)
    val seenPaths = Snapshots.chain(tableDir).map(m => s"$tableDir/${m.dataPath}")
    val seenUrls =
      if (seenPaths.nonEmpty) spark.read.parquet(seenPaths: _*)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField(
            "url", org.apache.spark.sql.types.StringType))))

    // 1. parse + filter (F1–F5; raw order as processing order — no
    // per-file re-sort shuffle on the hot path), then project to the
    // frontier's columns before anything shuffles
    val filtered = IndexPipeline
      .filterIndex(IndexPipeline.parseRaw(rawLines), resort = false)
      .select("url", "warc", "offset", "length", "file", "file_ord",
              "line_ord")

    // 2. J2 anti-join vs seen — one distributed left-anti join; no
    // driver-side structure, no extra pass over the seen set
    val obsNew = Observation("frontier_new")
    val prevSeenCount = prev.flatMap(_.metrics.get("n_seen_urls"))
    val fresh = UrlDedup
      .antiJoinSeen(filtered, seenUrls.select("url"), spark)
      .observe(obsNew, count(lit(1)).as("n_new_entries"))

    // 3. A0+J3 fused: the winner LINE per URL in one window shuffle (the
    // groupBy + semi-join pair re-shuffled the full index twice). kept
    // feeds the order chain once (into the crawl-order cache) and the
    // seen-delta/cuckoo/count branch. When neither robots nor the quota
    // can drop rows, the crawl-order cache already holds exactly the
    // winner rows — reuse it instead of materializing kept twice (one
    // full pass through the memory subsystem per batch saved).
    val keptIsOrdered = robots.isEmpty && politenessQuota == Int.MaxValue
    // winners count rides as an Observation on the kept frame when the
    // robots/quota path can drop rows downstream — the metrics collect
    // during the pin job (or, unpinned, the seen-delta write) instead of
    // a dedicated count job
    val obsWin  = Observation()
    val kept0raw = UrlDedup.winnersKept(fresh, keep)
    val kept0 = if (keptIsOrdered) kept0raw
                else kept0raw.observe(obsWin, count(lit(1)).as("n_winners"))
    val pinPolite = cacheIntermediates && !keptIsOrdered
    val kept = if (pinPolite) phase("pin kept")(kept0.localCheckpoint())
               else kept0

    // 4. J8 robots gate on (host_key, path)
    val gated = robots match {
      case Some(r) =>
        val cand = kept
          .withColumn("host_key", Urls.hostCol(col("url")))
          .withColumn("path",
            coalesce(regexp_extract(col("url"), "^[a-z]+://[^/]*(/.*)$", 1),
                     lit("/")))
        Frontier.robotsGate(cand, r).drop("path")
      case None => kept.withColumn("host_key", Urls.hostCol(col("url")))
    }

    // 5. politeness waves (per-host quota), then O3 crawl order + batches.
    //
    // The frontier's priority IS (file_ord, line_ord), so the rank
    // decomposes per index file (politenessRankByFile): one hash
    // shuffle, no range sort, no full-width sorted checkpoint — r6 cut
    // of the batch's block-manager traffic. The input is pinned once
    // (the cum-count aggregate and the rank window are two consumers of
    // the parse→anti-join→winner chain); a small quota still routes to
    // the salted window path, which prunes losers before they shuffle.
    val useByFile = politenessQuota >= Int.MaxValue / 16 &&
      !sys.env.contains("GRAFT_POLITE_WINDOW")
    // Measured alternatives to this pin, both slower: no pin, relying on
    // ReuseExchange to share the winner-window shuffle (4M URLs,
    // local[32], min of 3: 24.3 s vs the pin's 14.9 s, since the
    // parse→anti-join chain re-executes per consumer), and persist()'s
    // compressed columnar cache in place of the raw-row checkpoint.
    val (ranked, rankCache, warcCountSrc) = phase("politeness rank") {
      if (useByFile) {
        val pinned = gated.localCheckpoint()
        val r = Frontier.politenessRankByFile(pinned, "host_key")
        val limited =
          if (politenessQuota < Int.MaxValue)
            r.filter(col("wave") <= politenessQuota)
          else r
        // the wave join preserves the row multiset only when the quota
        // cannot drop rows — only then may the crawl-order count branch
        // read the pin instead of the ranked chain
        val cntSrc = if (politenessQuota < Int.MaxValue) None else Some(pinned)
        (limited, Seq(pinned), cntSrc)
      } else {
        val (r, caches) = Frontier.politenessRankEx(
          gated, "host_key", Seq(asc("file_ord"), asc("line_ord")),
          politenessQuota)
        // crawlOrderByWarc reads its input twice (per-warc window and
        // per-warc count); the salted pre-prune's row-id salt keeps the
        // two from sharing an exchange, so pin the (quota-capped) rank
        if (pinPolite) {
          val pinned = r.localCheckpoint()
          (pinned, caches :+ pinned, None)
        } else (r, caches, None)
      }
    }
    // O3 without a range sort or checkpoint: ord decomposes per warc
    // (crawlOrderByWarc) and every downstream consumer reads the written
    // parquet, so nothing past the rank needs pinning — the order→batch
    // chain materializes exactly once, in the batches write.
    val ordered =
      phase("order (df-native)")(UrlDedup.crawlOrderByWarc(ranked, warcCountSrc))
    val obsBatch = Observation("frontier_batches")
    val batches0 = UrlDedup.fetchBatches(ordered, fetchBatchSize)
      .observe(obsBatch, count(lit(1)).as("n_scheduled"),
               max(col("batch_id")).as("max_batch"))

    // 6. snapshot commit: new url_seen = old ∪ winners, partition metrics.
    // batches are computed exactly once (the write); metrics and the
    // returned frame re-read the written parquet instead of re-running
    // the sort chain.
    val (snapId, dataDir, stateDir) = Snapshots.stage(tableDir)
    val batchesPath = dataDir.resolveSibling(s"snap-$snapId-batches").toString
    phase("write batches") {
      batches0.write.mode("overwrite").option("compression", "snappy")
        .parquet(batchesPath)
    }
    val batches = spark.read.parquet(batchesPath)

    // Seen delta: exactly one row per winner URL. When nothing below the
    // winner window dropped rows, the just-written batches parquet holds
    // exactly the winner set — the delta is a single-COLUMN re-read of it
    // (parquet prunes to `url`), not another full-width pass over the
    // sort checkpoint. Only the robots/quota path still pays a pass over
    // `kept` (its pin, when cacheIntermediates).
    val winnerSrc = if (keptIsOrdered) batches else kept
    phase("write seen delta") {
      winnerSrc.select("url").write.mode("overwrite").parquet(dataDir.toString)
    }
    // downstream state updates read the narrow seen-delta parquet, never
    // the full-width intermediates again
    val deltaHashes = spark.read.parquet(dataDir.toString)
      .select(xxhash64(col("url")).as("h"))

    // cuckoo partitions: distributed update (shuffle by state partition,
    // one task per blob, untouched blobs carried forward)
    val prevStateDir = prev
      .map(m => Paths.get(tableDir, m.statePath))
      .filter(java.nio.file.Files.isDirectory(_))
    // State partition count is a property of the TABLE, not the session:
    // resume derives it from the existing blobs (routing must match the
    // layout they were written under); a fresh table sizes to the core
    // count so the per-blob update tasks don't cap parallelism at 16 on
    // wider machines (measured: the update phase was wall-flat 8→32
    // cores with 16 fixed blobs).
    val stateParts = prevStateDir
      .map { d =>
        // close the listing stream (Snapshots.stage's Files.walk
        // discipline) — the iterator path leaked one directory fd per
        // resumed batch on the driver
        val st = java.nio.file.Files.list(d)
        val n =
          try st.iterator().asScala
            .count(_.getFileName.toString.startsWith("cuckoo-"))
          finally st.close()
        math.max(n, 1)
      }
      .getOrElse(math.min(256,
        math.max(16, spark.sparkContext.defaultParallelism)))
    val perPartInserts = phase("cuckoo update")(UrlSeenState.updateDistributed(
      spark, deltaHashes,
      prevStateDir, stateDir, partitions = stateParts,
      capacityPerPartition = 1 << 16))
    // FP-rate bound: a chain that has grown past 2 segments gets rebuilt
    // into one right-sized filter from the authoritative seen set (old
    // chain ∪ this batch's winners). Grow-cycles are logarithmic in total
    // inserts, so this full pass amortizes to ~O(1) per batch.
    if (perPartInserts.values.exists(_.segments > 2)) phase("cuckoo compact") {
      val allSeen = seenUrls.select(xxhash64(col("url")).as("h"))
        .union(deltaHashes)
      UrlSeenState.compactDistributed(spark, allSeen, stateDir,
        partitions = stateParts, capacityPerPartition = 1 << 16)
    }

    val nKept    = obsBatch.get("n_scheduled").asInstanceOf[Long]
    val nBatches = obsBatch.get("max_batch").asInstanceOf[Long] + 1
    val nWinners =
      if (keptIsOrdered) nKept
      else obsWin.get("n_winners").asInstanceOf[Long]
    rankCache.foreach(UrlDedup.releaseOrderCache)
    if (pinPolite) UrlDedup.releaseOrderCache(kept)
    val metrics = Map(
      "n_new_entries" -> obsNew.get("n_new_entries").asInstanceOf[Long],
      "n_winners"     -> nWinners,
      "n_scheduled"   -> nKept,
      "n_fetch_batches" -> nBatches,
      // winners are all unseen (anti-joined), so the new seen-set size is
      // exactly parent + winners — no counting pass over the union
      "n_seen_urls"   -> (prevSeenCount.getOrElse(0L) + nWinners)
    ) ++ perPartInserts.flatMap { case (pid, st) =>
      Seq(f"part_$pid%05d_inserted" -> st.inserted,
          f"part_$pid%05d_segments" -> st.segments.toLong)
    }
    val manifest = phase("commit")(Snapshots.commit(
      tableDir, snapId, metrics,
      lineage = s"frontier dump=$dumpId parent=${prev.map(_.snapshotId).getOrElse(-1L)} keep=$keep quota=$politenessQuota"))
    Result(batches, manifest)
  }
}
