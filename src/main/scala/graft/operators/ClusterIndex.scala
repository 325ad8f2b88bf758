package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CC cluster.idx handling (SURVEY.md §2.1 S1, §2.5 O1): parse the
  * index-of-index and prune it to the clusters that can contain a SURT
  * domain pattern — the reference's binary search with predecessor
  * widening (cc_corpus/index.py:136–168) expressed as sargable filters:
  * the prefix match pushes down to the scan (StringStartsWith), and the
  * predecessor is a TakeOrdered(1) over the below-pattern range, so with
  * surt-sorted storage Catalyst prunes row groups instead of bisecting
  * RAM.
  *
  * Comma-joined SURT keys compare identically to the reference's
  * label-tuple comparison because ',' sorts below every label character.
  */
object ClusterIndex {

  /** Parse tab-separated cluster.idx lines:
    * `surt)/path \t timestamp \t file_name \t offset \t length [\t id]`
    * (cc_corpus/index.py:39–59). The surt domain is the part before `)`.
    */
  def parse(lines: DataFrame, lineCol: String = "line"): DataFrame = {
    val parts = split(col(lineCol), "\t")
    lines.select(
      regexp_extract(parts.getItem(0), "^([^)]*)", 1).as("surt"),
      parts.getItem(2).as("file_name"),
      parts.getItem(3).cast(LongType).as("offset"),
      parts.getItem(4).cast(LongType).as("length")
    )
  }

  /** O1: clusters matching `pattern` (pattern is a label-prefix of the
    * cluster domain — subdomains match) plus the single predecessor
    * cluster (a domain may start mid-cluster; index.py:160–163).
    */
  def pruneClusters(clusters: DataFrame, pattern: String): DataFrame = {
    val matching = clusters.filter(
      col("surt") === pattern || col("surt").startsWith(pattern + ","))
    val predecessor = clusters
      .filter(col("surt") < pattern)
      .orderBy(desc("surt"), desc("file_name"), desc("offset"))
      .limit(1)
    matching.unionByName(predecessor).distinct()
  }

  private val gzipBlockUdf = org.apache.spark.sql.functions.udf(
    (lines: Seq[org.apache.spark.sql.Row]) =>
      graft.sources.WarcGzip.gzipOneMember(
        (lines.map(_.getString(1)).mkString("\n") + "\n")
          .getBytes("UTF-8")))

  /** BUILD the index the reader above consumes — the inverse of S1/O1
    * and the merged form of the per-shard WARC indexes
    * (cc_corpus reads Common Crawl's; a self-hosted crawl must write
    * its own). Input: one row per capture (surtCol = full
    * `domain)/path` key, tsCol). Output:
    * (cdxFiles (file_name, bytes), clusterIdx (line)) where each cdx
    * file is `blocksPerFile` independent gzip members of `blockSize`
    * sorted lines and cluster.idx carries each block's FIRST key +
    * (file, offset, length, block id) — exactly what `parse` +
    * `pruneClusters` + the ranged gzip reader expect.
    *
    * Scale shape: the global (surt, ts) rank comes from
    * ordByGroupCounts' domain decomposition (domain order is
    * prefix-consistent because ')' sorts below every domain
    * character), so there is NO single-partition sort window; blocks
    * gzip from a bounded collect_list (blockSize rows); file offsets
    * are a per-file window sum like the WARC index shards.
    */
  def buildIndex(rows: DataFrame, blockSize: Int, blocksPerFile: Int,
                 surtCol: String = "surt_path", tsCol: String = "ts")
      : (DataFrame, DataFrame) = {
    require(blockSize >= 1 && blocksPerFile >= 1)
    val ordered = UrlDedup.ordByGroupCounts(
      rows.withColumn("__dom",
        regexp_extract(col(surtCol), "^([^)]*)", 1)),
      "__dom", Seq(asc(surtCol), asc(tsCol)), "__ord")
    val lines = ordered
      .withColumn("__blk", (col("__ord") / blockSize).cast(LongType))
      .withColumn("__line",
        concat(col(surtCol), lit("\t"), col(tsCol).cast("string")))
    val blocks = lines.groupBy("__blk").agg(
        min(struct(col("__ord"), col(surtCol).as("s"),
          col(tsCol).cast("string").as("t"))).as("first"),
        gzipBlockUdf(sort_array(collect_list(
          struct(col("__ord"), col("__line"))))).as("bytes"))
      .withColumn("file_name", concat(lit("cdx-"),
        lpad((col("__blk") / blocksPerFile).cast(LongType).cast("string"),
          5, "0"),
        lit(".gz")))
      .withColumn("length", length(col("bytes")).cast(LongType))
      .withColumn("offset", coalesce(
        sum(col("length")).over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("file_name").orderBy("__blk")
            .rowsBetween(org.apache.spark.sql.expressions.Window
              .unboundedPreceding, -1)), lit(0L)))
    val clusterIdx = blocks.select(concat(
      col("first.s"), lit("\t"), col("first.t"), lit("\t"),
      col("file_name"), lit("\t"), col("offset"), lit("\t"),
      col("length"), lit("\t"), col("__blk")).as("line"))
    val files = graft.sources.WarcGzip.shardBytes(
      blocks.select(col("file_name"), col("__blk"), col("bytes")),
      "file_name", "__blk", "bytes")
    (files, clusterIdx)
  }

  /** The reference's index-acquisition flow (get_indexfiles.py) run
    * against a SELF-BUILT index: parse cluster.idx, prune to the
    * pattern's clusters (+ predecessor), ranged-decode each block's
    * gzip member, split lines, line-level re-match. Returns
    * (surt_path, ts) of the matching captures.
    */
  def acquire(cdxFiles: DataFrame, clusterIdx: DataFrame,
              pattern: String): DataFrame = {
    val pruned = pruneClusters(parse(clusterIdx), pattern)
    val lines = pruned.join(cdxFiles, "file_name")
      .select(explode(split(regexp_replace(
        decode(graft.sources.WarcGzip.gzipMemberAtUdf(
          col("bytes"), col("offset"), col("length")), "UTF-8"),
        "\n+\\z", ""), "\n")).as("line"))
    lines.select(
        split(col("line"), "\t").getItem(0).as("surt_path"),
        split(col("line"), "\t").getItem(1)
          .cast(org.apache.spark.sql.types.LongType).as("ts"))
      .where(regexp_extract(col("surt_path"), "^([^)]*)", 1) === pattern ||
        regexp_extract(col("surt_path"), "^([^)]*)", 1)
          .startsWith(pattern + ","))
  }
}
