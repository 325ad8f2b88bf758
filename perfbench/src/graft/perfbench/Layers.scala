package graft.perfbench

import scala.collection.mutable

import graft.functions.{MinHashF, Urls}
import graft.operators._
import graft.state.{Snapshots, UrlSeenState}
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Layer self times: each layer's public functions are called in job
  * order and every prefix of the chain is sent to a `noop` sink. A
  * prefix span records its parent prefix; self time = prefix − parent,
  * computed by the reporting side. Row counts ride on each prefix as an
  * Observation, so ratios are measured where the work happens.
  */
final class Prefixes(spark: SparkSession, spans: Spans, root: Int) {

  /** Times building `df` (some layers pin eagerly) plus draining it. */
  def time(name: String, parent: String)(df: => DataFrame): DataFrame = {
    val obs = Observation()
    val t0 = Clock.nowMs
    val d = df
    d.observe(obs, count(lit(1)).as("n"))
      .write.format("noop").mode("overwrite").save()
    val t1 = Clock.nowMs
    val rows = obs.get("n").asInstanceOf[Long]
    spans.add(root, s"prefix:$name", t0, t1,
      Map("parent" -> parent, "rows" -> rows))
    d
  }
}

object Layers {

  private val indexCols = Seq("url", "warc", "offset", "length", "file",
                              "file_ord", "line_ord")

  /** Frontier chain for dump 1 against the seen set committed by dump 0. */
  def frontier(spark: SparkSession, px: Prefixes, inputs: String,
               table: String, quota: Int, robots: Boolean): Unit = {
    val seenPaths = Snapshots.chainAsOf(table, 0).map(m => s"$table/${m.dataPath}")
    val seen = spark.read.parquet(seenPaths: _*).select("url")
    val raw = px.time("raw", "")(spark.read.parquet(s"$inputs/dump-1"))
    val filtered = px.time("index", "raw")(IndexPipeline
      .filterIndex(IndexPipeline.parseRaw(raw), resort = false)
      .select(indexCols.map(col): _*))
    val fresh = px.time("antijoin", "index")(
      UrlDedup.antiJoinSeen(filtered, seen, spark))
    val kept = px.time("winners", "antijoin")(UrlDedup.winnersKept(fresh))
    val withHost = kept.withColumn("host_key", Urls.hostCol(col("url")))
    val (gated, gateParent) =
      if (!robots) (withHost, "winners")
      else {
        val files = px.time("robots_files", "")(
          spark.read.parquet(s"$inputs/robots"))
        val rules = px.time("robots_rules", "robots_files")(
          Frontier.robotsRules(files))
        val cand = withHost.withColumn("path",
          coalesce(regexp_extract(col("url"), "^[a-z]+://[^/]*(/.*)$", 1),
                   lit("/")))
        (px.time("robots", "winners")(
          Frontier.robotsGate(cand, rules).drop("path")), "robots")
      }
    // as in the job: the unlimited-quota rank reads a pinned input, which
    // also feeds the crawl-order count branch. Layers after a pin do not
    // recompute what it holds, so their parent is a scan of the pin.
    val caches = mutable.ArrayBuffer.empty[DataFrame]
    var countSrc: Option[DataFrame] = None
    val ranked =
      if (quota == Int.MaxValue) {
        val pinned = px.time("pin", gateParent)(gated.localCheckpoint())
        px.time("pinned", "")(pinned)
        caches += pinned
        countSrc = Some(pinned)
        px.time("rank", "pinned")(Frontier.politenessRankByFile(pinned, "host_key"))
      } else px.time("rank", gateParent) {
        val (r, cs) = Frontier.politenessRankEx(gated, "host_key",
          Seq(asc("file_ord"), asc("line_ord")), quota)
        caches ++= cs
        r
      }
    px.time("order", "rank")(
      UrlDedup.fetchBatches(UrlDedup.crawlOrderByWarc(ranked, countSrc)))
    caches.foreach(UrlDedup.releaseOrderCache)
  }

  /** Corpus chain for dump 1: each stage from its committed input, as the
    * job reads it, with dump 0's minhash output as the seen batch.
    */
  def corpus(spark: SparkSession, px: Prefixes, inputs: String,
             tables: String, minTokens: Int): Map[String, Double] = {
    val chain = Snapshots.chain(s"$tables/corpus-1").reverse
    val seenM = Snapshots.chain(s"$tables/corpus-0")
      .find(_.lineage == "corpus stage=minhash").get
    val seen = spark.read.parquet(s"$tables/corpus-0/${seenM.dataPath}")
    def stageOut(k: Int) =
      spark.read.parquet(s"$tables/corpus-1/${chain(k).dataPath}")
    val b = MinHashF.optimalBands(0.9)
    val docText = array_join(FrequentParagraphs.textSpans(col("spans")), "\n")
    val base = Seq("domain", "ord", "doc_id", "spans").map(col)

    val in = px.time("corpus_in", "")(spark.read.parquet(s"$inputs/dump-1"))
    px.time("filter", "corpus_in")(in.withColumn("__text", docText)
      .filter(size(split(trim(col("__text")), "\\s+")) >= minTokens)
      .select(base: _*))
    val mIn = px.time("filter_out", "")(stageOut(0))
    px.time("minhash", "filter_out")(
      LshDedup.minhashed(mIn.withColumn("text", docText), b)
        .select((base :+ col("bands")): _*))
    val dIn = px.time("minhash_out", "")(stageOut(1))
    val cross = px.time("lsh_cross", "minhash_out")(LshDedup.crossDedup(dIn, seen))
    px.time("lsh_self", "lsh_cross")(LshDedup.selfDedup(cross))
    val fIn = px.time("dedup_out", "")(stageOut(2))
    // pinned as in the job: collect and filter both consume it
    val withP = px.time("pbands", "dedup_out")(fIn.withColumn("pbands",
      FrequentParagraphs.paragraphBandsCol(
        FrequentParagraphs.textSpans(col("spans")), b)).localCheckpoint())
    px.time("pbands_pinned", "")(withP)
    val freqs = px.time("frequent_collect", "pbands_pinned")(
      FrequentParagraphs.collect(withP, minFreq = 2))
    val kept = px.time("frequent_filter", "frequent_collect")(
      FrequentParagraphs.filterFrequent(withP, freqs, minFreq = 2))
    def paragraphs(df: DataFrame): Double =
      df.agg(sum(size(FrequentParagraphs.textSpans(col("spans")))))
        .head().getLong(0).toDouble
    val r = Map("frequent.paragraphs_in" -> paragraphs(fIn),
      "frequent.paragraphs_out" -> paragraphs(kept),
      "minhash.docs_per_s" -> minhashKernel(spark, inputs, b))
    UrlDedup.releaseOrderCache(withP)
    r
  }

  /** Single-thread minhash kernel throughput (signature + banding). */
  private def minhashKernel(spark: SparkSession, inputs: String, b: Int): Double = {
    import spark.implicits._
    val texts = spark.read.parquet(s"$inputs/dump-1").limit(2000)
      .select(array_join(FrequentParagraphs.textSpans(col("spans")), "\n"))
      .as[String].collect()
    def pass(): Unit = texts.foreach(t => MinHashF.bandHashes(MinHashF.signature(t), b))
    pass()
    var docs = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 500000000L) { pass(); docs += texts.length }
    docs / ((System.nanoTime() - t0) / 1e9)
  }

  /** Seen-set state of the frontier table after its last dump. */
  def state(spark: SparkSession, spans: Spans, root: Int,
            table: String): Map[String, Double] = {
    import spark.implicits._
    val chain = Snapshots.chain(table)
    val stateDir = s"$table/${chain.head.statePath}"
    val seenPaths = chain.map(m => s"$table/${m.dataPath}")
    val t0 = Clock.nowMs
    spark.read.parquet(seenPaths: _*).select("url")
      .write.format("noop").mode("overwrite").save()
    val t1 = Clock.nowMs
    spans.add(root, "state.chain_read", t0, t1)
    val present = spark.read.parquet(seenPaths: _*)
      .select(xxhash64(col("url"))).as[Long].collect()
    val absent = spark.range(200000)
      .select(xxhash64(concat(lit("https://absent.invalid/p/"),
        col("id").cast("string")))).as[Long].collect()
    val loaded = UrlSeenState.load(stateDir)
    val blobs = new java.io.File(stateDir).list()
      .count(_.startsWith("cuckoo-"))
    def nsPer(n: Int)(f: => Unit): Double = {
      f // warm-up pass
      val s = System.nanoTime(); f; (System.nanoTime() - s).toDouble / n
    }
    val lookupNs = nsPer(present.length + absent.length) {
      present.foreach(loaded.contains); absent.foreach(loaded.contains)
    }
    val falsePos = absent.count(loaded.contains)
    def insertPass(): Double = {
      val fresh = UrlSeenState.create(blobs, 1 << 16)
      val s = System.nanoTime()
      present.foreach(fresh.insert)
      (System.nanoTime() - s).toDouble / present.length
    }
    insertPass() // warm-up pass
    val insertNs = insertPass()
    val segs = chain.head.metrics.collect {
      case (k, v) if k.endsWith("_segments") => v }
    Map(
      "state.cuckoo_insert_ns" -> insertNs,
      "state.cuckoo_lookup_ns" -> lookupNs,
      "state.cuckoo_false_positives" -> falsePos.toDouble,
      "state.cuckoo_absent_probes" -> absent.length.toDouble,
      "state.cuckoo_segments_max" -> (if (segs.isEmpty) 0.0 else segs.max.toDouble),
      "state.cuckoo_bytes" -> Harness.dirBytes(stateDir).toDouble,
      "state.seen_segments" -> chain.size.toDouble,
      "state.chain_read_s" -> (t1 - t0) / 1000.0)
  }
}
