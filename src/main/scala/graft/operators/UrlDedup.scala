package graft.operators

import graft.Pin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** URL-seen set construction + frontier dedup (SURVEY.md §2.4 A0, §2.3
  * J2/J3, §2.5 O3) — the reference's single-process bottleneck
  * (deduplicate_index_urls.py, README.md:185–187) as distributed
  * aggregations.
  *
  * Winner semantics (uniq_record, deduplicate_index_urls.py:135–156):
  * a later record replaces the incumbent only when *strictly greater*
  * (`<=` rejects), so the overall winner per URL is
  *   keep=biggest: max length, ties -> earliest (file_ord, line_ord)
  *   keep=latest:  max warc string, ties -> earliest (file_ord, line_ord)
  * Expressed as one `max_by` aggregation — Catalyst's partial+final hash
  * agg is exactly the reference's per-file dict + global merge, minus the
  * single process.
  */
object UrlDedup {

  /** Priority struct for max_by: lexicographic on (key, -file_ord,
    * -line_ord) so equal keys resolve to the earliest processing order.
    */
  private def priority(keep: String): Column = keep match {
    case "latest" =>
      struct(col("warc"), (-col("file_ord")).cast(LongType),
             -col("line_ord"))
    case _ =>
      struct(col("length"), (-col("file_ord")).cast(LongType),
             -col("line_ord"))
  }

  /** A0: one winner row per URL. */
  def winners(filtered: DataFrame, keep: String = "biggest"): DataFrame =
    filtered
      .groupBy("url")
      .agg(
        max_by(
          struct(col("warc"), col("offset"), col("length"),
                 col("file").as("index")),
          priority(keep)
        ).as("w")
      )
      .select(col("url"), col("w.warc"), col("w.offset"), col("w.length"),
              col("w.index"))

  /** J3: re-scan keep — lines whose (url, warc, offset, length) equal the
    * stored winner (IndexRecord.__eq__ with index=None matches all).
    */
  def keepWinners(filtered: DataFrame, winnersDf: DataFrame): DataFrame =
    filtered.join(
      winnersDf.select("url", "warc", "offset", "length"),
      Seq("url", "warc", "offset", "length"),
      "left_semi")

  /** A0+J3 fused: the winner *line* per URL in ONE shuffle — row_number
    * over (url) ordered by the same strict-greater priority, keep rank 1.
    * Versus winners()+keepWinners() this replaces a groupBy shuffle plus a
    * semi-join re-shuffle of the full index with a single window shuffle,
    * and the output retains every input column (file_ord/line_ord feed the
    * politeness ranking downstream). The priority is a total order per URL
    * ((file_ord, line_ord) is unique per line), so rank 1 is exactly the
    * reference's dict winner.
    */
  def winnersKept(filtered: DataFrame, keep: String = "biggest"): DataFrame = {
    val w = Window.partitionBy("url").orderBy(priority(keep).desc)
    filtered
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** J2: drop entries whose URL is already in the seen set — a plain
    * distributed left-anti join. The seen side shuffles by url hash across
    * executors; no single-node structure is ever built (the previous
    * driver-side bloom build aggregated the whole seen set into one
    * driver allocation — ~12 GB at the 10^10-URL north rule — and was a
    * serial section in every batch). At cluster scale the seen snapshots
    * are written hash-distributed on xxhash64(url) (Snapshots layout), so
    * the anti-join's shuffle of the seen side is a co-located re-read;
    * Spark's runtime row-level bloom (AQE) can further prune the probe
    * side when beneficial.
    */
  def antiJoinSeen(entries: DataFrame, seenUrls: DataFrame,
                   spark: SparkSession, fpp: Double = 0.01,
                   expectedItems: Option[Long] = None): DataFrame =
    entries.join(seenUrls.select("url"), Seq("url"), "left_anti")

  /** O3 crawl order with NO range sort and NO checkpoint — the r6
    * production path. The global rank by (warc, offset, url, file_ord,
    * line_ord) decomposes per WARC file, because warc is the leading
    * sort key:
    *
    *   ord = Σ_{w' < warc} count(w')                (cum table)
    *       + row_number within warc by (offset, url, file_ord, line_ord)
    *       - 1
    *
    * This replaces the range exchange (plus its boundary-sampling pass
    * over the child) with one hash exchange, and — since every column
    * is a deterministic function of the data, no
    * monotonically_increasing_id — the full-width pin of the sorted
    * frame (ordByPartitionOffsets) disappears entirely:
    * repeated consumers recompute identical rows.
    *
    * Skew: the window task unit is ONE warc's records — bounded by WARC
    * file size (~1 GB / ~10^5 records, a format constant), never by
    * host or URL skew. The cum table is one narrow row per warc
    * (~10^5/dump at CC scale); its running sum is a single-partition
    * window over that tiny frame — the same shape as the partition-
    * offsets idiom below. The join back needs no exchange on the big
    * side (the rank window already hash-partitioned it by warc).
    *
    * Identical tie semantics to the range-sort form: exact duplicate
    * rows receive distinct-but-arbitrary adjacent ords; the (ord, row)
    * multiset is deterministic.
    */
  def crawlOrderByWarc(kept: DataFrame,
                       countFrom: Option[DataFrame] = None): DataFrame =
    ordByGroupCounts(kept, "warc",
      Seq(asc("offset"), asc("url"), asc("file_ord"), asc("line_ord")),
      "ord", countFrom)

  /** The group-count global-rank idiom behind crawlOrderByWarc,
    * parameterized: groups ordered by `groupCol` asc, rows within a
    * group by `innerSort`; contiguous 0-based `ordCol`. Use when group
    * cardinality is large (the per-group window is the parallel unit)
    * and per-group size is bounded by construction.
    *
    * `countFrom`: an alternative frame to count groups over — pass a
    * pinned upstream frame with the same row multiset (e.g. the input
    * before a multiset-preserving join) so the count branch reads the
    * cheap pin instead of re-executing `df`'s chain.
    */
  def ordByGroupCounts(df: DataFrame, groupCol: String,
                       innerSort: Seq[Column], ordCol: String,
                       countFrom: Option[DataFrame] = None): DataFrame = {
    val wIn = Window.partitionBy(col(groupCol)).orderBy(innerSort: _*)
    val cum = countFrom.getOrElse(df)
      .groupBy(col(groupCol)).agg(count(lit(1)).as("__c"))
      .withColumn("__goff",
        coalesce(
          sum(col("__c")).over(
            Window.orderBy(asc(groupCol))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col(groupCol), col("__goff"))
    df.withColumn("__grn", row_number().over(wIn))
      .join(cum, Seq(groupCol))
      .withColumn(ordCol, col("__goff") + col("__grn") - 1L)
      .drop("__grn", "__goff")
  }

  /** Global rank without a single-partition window: range sort on
    * `sortCols`, then a contiguous 0-based `ordCol`, all codegen column
    * work. After the sort, `monotonically_increasing_id()` encodes
    * (partition << 33 | row-in-partition); the per-partition row counts
    * are one row per partition, so each partition's global offset is a
    * running sum over that small frame, broadcast back.
    *
    * The sorted frame is pinned: the offsets aggregate and the join back
    * must see the same partitioning and row order, and the chain above
    * runs once for both. Free it with `Pin.release(ranked)` once the
    * result is consumed.
    */
  def ordByPartitionOffsets(df: DataFrame, sortCols: Seq[Column],
                            ordCol: String): DataFrame = {
    val mask = lit((1L << 33) - 1)
    val sorted = Pin(df.orderBy(sortCols: _*)
      .withColumn("__mid", monotonically_increasing_id()))
    val offsets = sorted
      .groupBy(shiftright(col("__mid"), 33).as("__pid"))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__offset",
        coalesce(
          sum(col("__cnt")).over(
            Window.orderBy(asc("__pid"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__pid"), col("__offset"))
    sorted
      .withColumn("__pid", shiftright(col("__mid"), 33))
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn(ordCol, col("__offset") + col("__mid").bitwiseAND(mask))
      .drop("__pid", "__mid", "__offset")
  }

  /** Kept for the benchmark harness under perfbench/, which compiles
    * against this name; src/main calls `Pin.release`.
    */
  def releaseOrderCache(df: DataFrame): Unit = Pin.release(df)

  /** Fetch-batch assignment: the reference chunks the crawl-ordered index
    * into 1000-line shards per download thread
    * (download_pages.py:226–237); batch id = ord / batchSize.
    */
  def fetchBatches(ordered: DataFrame, batchSize: Long = 1000): DataFrame =
    ordered.withColumn("batch_id", (col("ord") / batchSize).cast(LongType))
}
