package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan quality gates: predicate pushdown reaches the parquet
  * scan, column pruning trims ReadSchema, dimension joins broadcast, and
  * the hot paths stay inside whole-stage codegen. Plans are inspected
  * AFTER an action so AQE has re-planned (isFinalPlan=true) — the
  * pre-execution adaptive plan hides codegen stages and join selections.
  */
class PlanSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, dir)
    df.collect() // finalize THIS queryExecution's AQE plan (count() builds its own)
    df.queryExecution.executedPlan.toString
  }

  /** Codegen stages print as `*(n)` operator prefixes in executedPlan. */
  private def hasCodegen(p: String): Boolean =
    p.contains("WholeStageCodegen") || p.contains("*(")

  test("filter pushdown reaches the parquet scan (semi join build side)") {
    val p = finalPlan("q_semi_join")
    assert(p.contains("PushedFilters: ["), p.take(2000))
    assert(p.contains("EqualTo(c_mktsegment,BUILDING)"),
           "segment filter must be pushed to the scan")
  }

  test("column pruning: q_agg_pricing reads only the needed columns") {
    val p = finalPlan("q_agg_pricing")
    val read = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("l_returnflag") && read.contains("l_quantity"))
    assert(!read.contains("l_shipdate") && !read.contains("l_partkey"),
           s"over-wide scan: $read")
  }

  test("dimension joins broadcast (no shuffle join for small dims)") {
    val p = finalPlan("q_join_region_sales")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
           "dims must not fall back to sort-merge")
  }

  test("anti/semi joins pick broadcast-hash strategies at this scale") {
    assert(finalPlan("q_anti_join").contains("LeftAnti"))
    assert(finalPlan("q_semi_join").contains("LeftSemi"))
  }

  test("aggregation pipeline stays in whole-stage codegen") {
    val p = finalPlan("q_agg_pricing")
    assert(hasCodegen(p), p.take(1200))
    assert(p.contains("HashAggregate"), "partial+final hash agg expected")
  }

  test("argmax is one aggregation (no window sort over the whole input)") {
    val p = finalPlan("q_urlseen_winners")
    assert(p.contains("max_by"), p.take(1500))
    assert(!p.contains("Window"), "winners must not need a window")
  }

  test("fused winner window is ONE shuffle (no groupBy + semi-join pair)") {
    import org.apache.spark.sql.functions._
    val idx = spark.read.parquet(s"$dir/events.parquet").select(
      concat(lit("u"), pmod(col("event_id"), lit(50L))).as("url"),
      lit("w").as("warc"), col("event_id").as("offset"),
      col("user_id").as("length"), lit(0L).as("file_ord"),
      col("event_id").as("line_ord"), lit("f").as("file"))
    val kept = graft.operators.UrlDedup.winnersKept(idx)
    kept.collect()
    // AQE prints Final + Initial plans; count the final section only
    val p = kept.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val shuffles = "Exchange".r.findAllIn(p).length
    assert(shuffles == 1, s"expected exactly one shuffle, plan:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin") && !p.contains("BroadcastHashJoin"),
           "fused path must not join")
  }

  test("crawl order is DF-native (no RDD scan, ord via partition offsets)") {
    import org.apache.spark.sql.functions._
    val idx = spark.read.parquet(s"$dir/events.parquet").select(
      concat(lit("u"), col("event_id")).as("url"),
      lit("w").as("warc"), col("event_id").as("offset"),
      col("user_id").as("length"), lit(0L).as("file_ord"),
      col("event_id").as("line_ord"), lit("f").as("file"))
    val ordered = graft.operators.UrlDedup.ordByPartitionOffsets(idx,
      Seq(asc("warc"), asc("offset"), asc("url"), asc("file_ord"),
          asc("line_ord")), "ord")
    val rows = ordered.orderBy("ord").collect()
    val p = ordered.queryExecution.executedPlan.toString
    // the offsets side must broadcast (no shuffle over the sorted data
    // beyond the sort itself); ord must be contiguous 0..n-1 in sort order
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoop"),
           "offsets must broadcast-join, not shuffle")
    assert(rows.map(_.getAs[Long]("ord")).toSeq == (0L until rows.length).toSeq,
           "ord must be contiguous from 0")
    val sortKey = rows.map(r => (r.getAs[Long]("offset")))
    assert(sortKey.sameElements(sortKey.sorted), "ord must follow sort order")
    Pin.release(ordered)
  }

  test("ivfSearchIndexed prunes to the probed list partitions") {
    import org.apache.spark.sql.functions.col
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val idx = java.nio.file.Files.createTempDirectory("ivf-prune").toString
    graft.operators.Similarity.ivfBuild(emb, idx, kLists = 8, iters = 3)
    val qVec = emb.filter(col("vec_id") === 0)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0)
    val df = graft.operators.Similarity.ivfSearchIndexed(
      spark, idx, qVec, k = 10, nProbe = 2, excludeId = Some(0L))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the list_id filter must prune at the file listing: 2 of 8 list
    // directories selected, and the partition filter visible on the scan
    val m = "partition values|PartitionFilters: \\[[^\\]]*list_id".r
    assert("PartitionFilters: \\[[^\\]]*list_id".r.findFirstIn(p).isDefined,
           s"list_id must be a partition filter, plan:\n${p.take(3000)}")
    // the scan's partition count after pruning must be <= nProbe (of 8)
    val prunedParts = df.queryExecution.executedPlan.collectLeaves()
      .collect { case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.selectedPartitions.partitionCount }
    assert(prunedParts.nonEmpty && prunedParts.forall(_ <= 2),
           s"probe must read <= nProbe list partitions, got $prunedParts")
  }

  test("simhash verify join: exactly one UDF (the token loop), hamming " +
       "is built-in bit_count") {
    val p = finalPlan("q_simhash_neardup")
    // the per-token simhash loop is a legitimate single-arg UDF (appears
    // on both sides of the self-join); the Hamming distance must not be
    // a second, two-arg one — bit_count(a ^ b) is codegen'd
    assert(!"UDF\\([^()]*,".r.findFirstIn(p).isDefined,
           s"two-arg UDF (hamming) found in plan:\n${p.take(1500)}")
    assert(p.contains("bit_count"), "hamming must be the built-in bit_count")
  }

  test("substring dedup: pruned scan, no cartesian, md5 outside lambdas") {
    val p = finalPlan("q_substring_dedup")
    // multiple scans: the fingerprint side reads (doc_id, text); the
    // anti-join probe side prunes all the way down to doc_id alone
    val reads = "ReadSchema: [^\\n]*".r.findAllIn(p).toSeq
    assert(reads.nonEmpty)
    assert(reads.exists(_.contains("text")), reads.mkString("\n"))
    assert(reads.forall(r => !r.contains("source") && !r.contains("url")),
           s"over-wide scan: $reads")
    assert(!p.contains("CartesianProduct") &&
           !p.contains("BroadcastNestedLoopJoin"),
           "keep/drop form must stay join/agg only")
    // the hash must be a top-level projection (codegen), not buried in
    // an interpreted transform() lambda
    assert(p.contains("md5"), p.take(1500))
    assert(!"transform\\([^\\n]*md5".r.findFirstIn(p).isDefined,
           "md5 inside a HOF lambda evaluates interpreted")
  }

  test("PQ search: top-k is TakeOrdered over code columns, no embeddings") {
    val p = finalPlan("q_ann_pq")
    assert(p.contains("TakeOrderedAndProject"),
           s"top-k must not be a global sort:\n${p.take(1500)}")
    // ADC ranks via literal-LUT lookups over the code columns —
    // element_at(array literal, code+1) must appear in the plan (the
    // sqdist expressions legitimately present belong to the ENCODE
    // stage's argmin, not the ranking)
    assert(p.contains("element_at"),
           s"ADC must come from LUT lookups:\n${p.take(2000)}")
  }

  test("index filter chain is codegen'd column work (no UDF)") {
    import spark.implicits._
    val p0 = graft.fixtures.CrawlFixtures.Params(nRecords = 200)
    val tmp = java.nio.file.Files.createTempDirectory("plan").toString
    spark.createDataset(graft.fixtures.CrawlFixtures.rawLines(p0))
      .write.mode("overwrite").parquet(tmp)
    val filtered = graft.operators.IndexPipeline.filterIndex(
      graft.operators.IndexPipeline.parseRaw(spark.read.parquet(tmp)),
      resort = false)
    filtered.collect()
    val p = filtered.queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("batchevalpython"))
    assert(hasCodegen(p), p.take(1200))
    assert(!p.contains("Exchange"), "hot-path filter must not shuffle")
  }

  test("vocabCoverage: the vocab joins the corpus as a broadcast, " +
      "never a shuffle join") {
    val p = finalPlan("q_vocab_coverage")
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastExchange"), p.take(1500))
    assert(!p.contains("CartesianProduct"))
  }

  test("registeredDomain: PSL rule joins broadcast; no cartesian " +
      "anywhere in the plan") {
    val p = finalPlan("q_registered_domain")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the wildcard match must stay an equi-join on the parent key")
  }

  test("imageNearDupPairs: band blocking is an equi-join (no " +
      "cartesian); the decode UDF is the only non-codegen stage") {
    val p = finalPlan("q_image_neardup")
    assert(!p.contains("CartesianProduct"),
      "pairs must come from the band-bucket equi-join")
    assert(!p.toLowerCase.contains("batchevalpython"))
  }

  test("crossDupGramFraction: gram-keyed aggs with partial " +
      "(map-side) combine, no cartesian") {
    val p = finalPlan("q_dup_ngram_cross")
    assert(!p.contains("CartesianProduct"))
    // partial_count before the exchange = map-side combine is on
    assert(p.contains("partial_count") || p.contains("partial_"),
      p.take(1500))
  }

  test("mineBitext without candidates is the documented exact form: " +
      "the cross join exists ONLY there and is the guarded path") {
    val p = finalPlan("q_bitext_mine")
    // exact all-pairs IS a cartesian by definition — assert the rest
    // of the pipeline is shuffle-keyed windows, not nested loops
    assert(p.contains("Window"), p.take(1200))
    assert(!p.toLowerCase.contains("batchevalpython"))
  }

  test("annRecallEval: the query set rides as broadcasts into both " +
      "scoring joins; per-query top-k never sorts globally") {
    val p = finalPlan("q_ann_recall")
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastHashJoin"), p.take(1500))
    // the m·N pair frame must not be globally range-sorted: top-k is
    // windowed (two bounded phases), not a Sort+Limit over all pairs
    assert(p.contains("Window"), p.take(1200))
    assert(!p.contains("TakeOrderedAndProject( limit=200000"),
      "global take over the pair frame")
  }

  test("sq8Quantize: single codegen map pass — no explode/shuffle " +
      "after the min/max model collect") {
    val p = finalPlan("q_sq8_quantize")
    // the code/err pass reads the source scan directly: one stage,
    // no Exchange between scan and project
    val afterScan = p.substring(p.indexOf("Scan"))
    assert(!afterScan.contains("Generate"),
      "explode leaked into the quantization pass")
    assert(hasCodegen(p), p.take(800))
  }

  test("epochShuffle: exactly one exchange (by shard) feeds the " +
      "in-shard rank window") {
    // count in the FINAL section only — the AQE dump repeats the
    // pre-execution plan under "== Initial Plan ==" below it
    val p = finalPlan("q_epoch_shuffle").split("== Initial Plan ==").head
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"want 1 shard exchange, got $exchanges\n" +
      p.take(1500))
    assert(p.contains("Window"))
  }

  test("silhouette: centroid distances are pure column work — one " +
      "partial-agg shuffle by cid, no join against a centroid table") {
    val p = finalPlan("q_silhouette")
    assert(p.contains("partial_"), p.take(1200))
    // after k-means (its own jobs), the scoring pass has no join at all
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
  }

  test("klDivergence: term counts partial-combine before the full-outer " +
      "join; the totals ride back as a broadcast") {
    val p = finalPlan("q_kl_drift")
    assert(p.contains("partial_count") || p.contains("partial_"),
      p.take(1500))
    assert(p.contains("BroadcastNestedLoopJoin") ||
           p.contains("BroadcastExchange"), "totals must broadcast")
    assert(p.contains("FullOuter"), p.take(1200))
  }

  test("de-globalized statistical ops: no corpus/key-scale rank through " +
      "a single-partition row_number window") {
    // sampleWeighted / vocabCoverage: top-k is TakeOrderedAndProject
    // (per-partition top-k + driver merge), windowless
    for (q <- Seq("q_weighted_sample", "q_vocab_coverage")) {
      val p = finalPlan(q)
      assert(!p.contains("row_number"),
        s"$q ranks through a global row_number window again")
      assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    }
    // gini / spearman: ranks come from the distributed ordinal
    // (range sort + broadcast partition offsets); the only remaining
    // single-partition frames are partition-count-scale (__pid) or the
    // one-row scalar aggregate
    for (q <- Seq("q_gini_hosts", "q_rank_corr")) {
      val p = finalPlan(q)
      assert(!p.contains("row_number"),
        s"$q ranks through a global row_number window again")
    }
    // ksDrift: the cumulative sums are partition-local windows plus
    // broadcast offsets — no unpartitioned window ordered over the
    // distinct-value column v
    val pk = finalPlan("q_ks_drift")
    assert(!pk.contains("windowspecdefinition(v#"),
      "ksDrift cumsum runs through a single-partition window over v")
  }
}
