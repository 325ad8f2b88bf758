package graft.operators

import graft.Pin
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

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
    *
    * `spark` is unused; it stays because callers (the perfbench harness
    * among them) pass it positionally.
    */
  def antiJoinSeen(entries: DataFrame, seenUrls: DataFrame,
                   spark: SparkSession): DataFrame =
    entries.join(seenUrls.select("url"), Seq("url"), "left_anti")

  /** O3 crawl order with no range sort and no pin: warc is the leading
    * sort key of (warc, offset, url, file_ord, line_ord), so the global
    * rank decomposes per WARC file (ordByGroupCounts). Exact duplicate
    * rows get distinct adjacent ords in an arbitrary order, as under a
    * range sort; the (ord, row) multiset is deterministic.
    */
  def crawlOrderByWarc(kept: DataFrame,
                       countFrom: Option[DataFrame] = None): DataFrame =
    ordByGroupCounts(kept, "warc",
      Seq(asc("offset"), asc("url"), asc("file_ord"), asc("line_ord")),
      "ord", countFrom)

  /** Global rank by group counts: groups ordered by `groupCol` asc, rows
    * within a group by `innerSort`; contiguous 0-based `ordCol`.
    *
    *   ord = Σ_{g' < g} count(g')           (cum table)
    *       + row_number within g by innerSort − 1
    *
    * `within` restarts the running sum, and so the ord, per distinct
    * value of those columns (politenessRankByFile ranks per host this
    * way, with index files as the groups).
    *
    * Skew: the window task unit is one (within, group), so use it where
    * the format caps group size — one WARC file (~10^5 records), a
    * host's lines in one fixed-size index shard — never host or URL
    * popularity; a mega-host spreads across shards. The cum table is one
    * narrow, map-side-combined row per group, and its running sum
    * folds over that small frame, one task per `within` value. The
    * join back re-exchanges only the cum side: the rank window already
    * hash-partitioned the big side on the join keys. Against
    * ordByPartitionOffsets this saves the range sort's sampling pass and
    * the full-width sorted pin; every column is a function of the data,
    * so repeated consumers recompute the same ords without a pin.
    *
    * `countFrom`: an alternative frame to count groups over — pass a
    * pinned upstream frame with the same row multiset (e.g. the input
    * before a multiset-preserving join) so the count branch reads the
    * cheap pin instead of re-executing `df`'s chain.
    */
  def ordByGroupCounts(df: DataFrame, groupCol: String,
                       innerSort: Seq[Column], ordCol: String,
                       countFrom: Option[DataFrame] = None,
                       within: Seq[String] = Nil): DataFrame = {
    val keys = within :+ groupCol
    val wIn = Window.partitionBy(keys.map(col): _*).orderBy(innerSort: _*)
    val counts = countFrom.getOrElse(df)
      .groupBy(keys.map(col): _*).agg(count(lit(1)).as("__c"))
    val cum = runningOffsets(counts, within, groupCol, "__c", "__goff")
    df.withColumn("__grn", row_number().over(wIn))
      .join(cum, keys)
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
    * Skew: range boundaries fall inside a hot key, so its rows spread
    * over several tasks; no task ever owns a whole mega-group (the
    * opposite of a key-partitioned window). A mapPartitions streaming
    * counter computing the same ords was measured ~45% slower at 8M URLs
    * (full-row object deserialization, serialization and task GC, twice)
    * than this plan, which stays inside Tungsten.
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
    val offsets = runningOffsets(
      sorted.groupBy(shiftright(col("__mid"), 33).as("__pid"))
        .agg(count(lit(1)).as("__cnt")),
      Nil, "__pid", "__cnt", "__offset")
    sorted
      .withColumn("__pid", shiftright(col("__mid"), 33))
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn(ordCol, col("__offset") + col("__mid").bitwiseAND(mask))
      .drop("__pid", "__mid", "__offset")
  }

  /** (`within`…, `key`, `off`): exclusive running sums of the long `cnt`
    * in `key` order (nulls first) over one row per (`within`, `key`),
    * restarting per `within` value. Rows are routed by `within` (to one
    * task when it is empty) and folded there; an unpartitioned window
    * would make Spark warn on every plan.
    */
  private def runningOffsets(counts: DataFrame, within: Seq[String],
                             key: String, cnt: String,
                             off: String): DataFrame = {
    val keys = within :+ key
    val schema = StructType(keys.map(counts.schema(_)) :+
                            StructField(off, LongType, nullable = false))
    val routed =
      if (within.isEmpty) counts.repartition(1)
      else counts.repartition(within.map(col): _*)
    val w = within.size
    routed.select((keys :+ cnt).map(col): _*)
      .sortWithinPartitions(keys.map(asc): _*)
      .mapPartitions { it =>
        var group: Seq[Any] = null
        var acc = 0L
        it.map { r =>
          val g = (0 until w).map(r.get)
          if (g != group) { group = g; acc = 0L }
          val o = acc
          acc += r.getLong(w + 1)
          Row.fromSeq((0 to w).map(r.get) :+ o)
        }
      }(Encoders.row(schema))
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
