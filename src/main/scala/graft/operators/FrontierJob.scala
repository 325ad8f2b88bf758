package graft.operators

import graft.Pin
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

  /** One frontier batch against the table at `tableDir`. */
  def runBatch(spark: SparkSession,
               rawLines: DataFrame,
               tableDir: String,
               robots: Option[DataFrame] = None,
               keep: String = "biggest",
               politenessQuota: Int = 100,
               fetchBatchSize: Long = 1000,
               dumpId: String = "batch"): Result = Pin.scoped { pin =>
    // What is pinned (see Pin for why a pin and what a lost block does),
    // so that each chain with two consumers runs once; every pin is freed
    // when the batch returns or throws:
    //  - the winners with their host key, `kept`, on every path: the
    //    robots gate or the rank, and the seen-delta write, read it (for
    //    an unbounded quota politenessRankByFile's cum-count aggregate
    //    and rank window are its two consumers);
    //  - for a small quota, the ranked frame out of politenessRank
    //    (crawlOrderByWarc's per-warc window and per-warc count both read
    //    it; unpinned, the robots gate and the salted rank window ran once
    //    per consumer).
    // Pinned rather than persisted, `kept` measured per polite batch on a
    // 4-core box (15k lines, 400 hosts, quota 4, robots): 318 -> 28
    // tasks, 4.2 -> 2.0 s executor CPU, and 4.9 -> 2.8 s for the pins,
    // batches write and seen-delta write together.
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
    val chain    = Snapshots.chain(tableDir)
    val prev     = chain.headOption
    val seenUrls = UrlSeenState.seenUrls(spark, tableDir, chain)

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
    // groupBy + semi-join pair re-shuffled the full index twice). The
    // winners count rides as an Observation on the pin, so the metrics
    // collect during the pin job instead of a dedicated count job.
    val obsWin = Observation()
    val kept = pin(UrlDedup.winnersKept(fresh, keep)
      .withColumn("host_key", Urls.hostCol(col("url")))
      .observe(obsWin, count(lit(1)).as("n_winners")))

    // 4. J8 robots gate on (host_key, path): each candidate joins its
    // host's rule list (one exchange over the rules only; AQE picks the
    // join) and a per-row kernel keeps it or not — no per-URL shuffle
    val gated = robots match {
      case Some(r) =>
        val cand = kept.withColumn("path",
          coalesce(regexp_extract(col("url"), "^[a-z]+://[^/]*(/.*)$", 1),
                   lit("/")))
        Frontier.robotsGate(cand, r).drop("path")
      case None => kept
    }

    // 5. politeness waves (per-host quota), then O3 crawl order + batches.
    //
    // The frontier's priority IS (file_ord, line_ord), so the rank
    // decomposes per index file (politenessRankByFile): one hash
    // shuffle, no range sort, no full-width sorted checkpoint — r6 cut
    // of the batch's block-manager traffic. Its two consumers of the
    // parse→anti-join→winner chain read the `kept` pin; a small quota
    // still routes to the salted window path, which prunes losers
    // before they shuffle.
    val useByFile = politenessQuota >= Int.MaxValue / 16
    // Measured alternatives to this pin, both slower: no pin, relying on
    // ReuseExchange to share the winner-window shuffle (4M URLs,
    // local[32], min of 3: 24.3 s vs the pin's 14.9 s, since the
    // parse→anti-join chain re-executes per consumer), and persist()'s
    // compressed columnar cache in place of the pin.
    val (ranked, warcCountSrc) =
      if (useByFile) {
        val r = Frontier.politenessRankByFile(gated, "host_key")
        // the wave join preserves the row multiset only when the quota
        // cannot drop rows — only then may the crawl-order count branch
        // read `gated` (without robots, the pin itself) instead of the
        // ranked chain
        if (politenessQuota < Int.MaxValue)
          (r.filter(col("wave") <= politenessQuota), None)
        else (r, Some(gated))
      } else {
        // crawlOrderByWarc reads its input twice (per-warc window and
        // per-warc count); the salted pre-prune's row-id salt keeps the
        // two from sharing an exchange, so pin the (quota-capped) rank
        (pin(Frontier.politenessRank(gated, "host_key",
          Seq(asc("file_ord"), asc("line_ord")), politenessQuota)), None)
      }
    // O3 without a range sort or checkpoint: ord decomposes per warc
    // (crawlOrderByWarc) and every downstream consumer reads the written
    // parquet, so nothing past the rank needs pinning — the order→batch
    // chain materializes exactly once, in the batches write.
    val ordered = UrlDedup.crawlOrderByWarc(ranked, warcCountSrc)
    val obsBatch = Observation("frontier_batches")
    val batches0 = UrlDedup.fetchBatches(ordered, fetchBatchSize)
      .observe(obsBatch, count(lit(1)).as("n_scheduled"),
               max(col("batch_id")).as("max_batch"))

    // 6. snapshot commit: new url_seen = old ∪ winners, partition metrics.
    // batches are computed exactly once (the write); metrics and the
    // returned frame re-read the written parquet, with the schema it was
    // written with, instead of re-running the sort chain. Each file is
    // sorted by `ord`, so a batches file read in file order is in crawl
    // order (a local sort: no exchange).
    val (snapId, dataDir, stateDir) = Snapshots.stage(tableDir)
    val batchesPath = s"$dataDir-batches"
    Snapshots.writeData(batches0.sortWithinPartitions("ord"), batchesPath)
    val batches = spark.read.schema(batches0.schema).parquet(batchesPath)

    // Seen delta and cuckoo state in one job (UrlSeenState.advance),
    // reading the winners' urls from the `kept` pin.
    val perPartInserts = UrlSeenState.advance(spark, kept.select("url"),
      seenUrls, prev.map(m => s"$tableDir/${m.statePath}"), stateDir.toString,
      deltaDir = dataDir.toString)

    val nKept    = obsBatch.get("n_scheduled").asInstanceOf[Long]
    val nBatches = obsBatch.get("max_batch").asInstanceOf[Long] + 1
    val nWinners = obsWin.get("n_winners").asInstanceOf[Long]
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
    val manifest = Snapshots.commit(
      tableDir, snapId, metrics,
      lineage = s"frontier dump=$dumpId parent=${prev.map(_.snapshotId).getOrElse(-1L)} keep=$keep quota=$politenessQuota")
    Result(batches, manifest)
  }
}
