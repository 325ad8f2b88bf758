package graft.state

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Lifecycle of the cumulative LSH seen-band table — the durable state
  * behind A2 cross-dump dedup (scripts/lsh.py:331–381 semantics: each
  * dump's surviving documents' band hashes join the seen set; later
  * dumps only query it).
  *
  * The only thing cross-dedup ever reads is the DISTINCT (band, bhash)
  * set (LshDedup.crossDedupBands), so that is exactly what this table
  * stores — one narrow row per distinct band hash per dump, tagged with
  * the dump that (most recently) produced it:
  *
  *   segment layout: parquet (band:int, bhash:long, dump_ord:long)
  *
  * Without lifecycle ops the table grows monotonically with every dump
  * (BENCH r5: dump2's cross join already cost 2.4× dump1). Growth is
  * managed as snapshot operations on the same manifest log the frontier
  * uses (Snapshots):
  *
  *   - `append`    one delta segment per dump, distinct WITHIN the dump;
  *   - `compact`   fold all live segments into ONE keeping
  *                 max(dump_ord) per (band, bhash): removes cross-dump
  *                 duplicates and caps reader fan-in at one segment;
  *   - `retire`    compact + drop bands whose LATEST occurrence is
  *                 older than the cutoff. A band seen in dump 1 AND
  *                 dump 3 survives retiring dump 1 — max(dump_ord)
  *                 carries it — so retirement never forgets state a
  *                 live dump still owns.
  *
  * compact/retire commit a REBASE snapshot (lineage marker): readers
  * union only the segments committed after the last rebase, so old
  * segments become dead weight on disk (droppable by any GC) rather
  * than part of every query. Manifest metrics carry the growth curve:
  * `n_bands` per segment, `n_rows_live` (reader's pre-distinct fan-in)
  * and `n_segments_live` at each commit.
  *
  * Scale: a segment row is ~20 bytes; compaction is one partial-
  * aggregated groupBy over the live segments — the same shape as the
  * cross-dedup join itself, so any cluster that can query the table can
  * compact it. No driver-side state anywhere.
  */
object LshSeen {

  private val RebasePrefix = "lsh-seen rebase"

  /** Live segments, oldest first: everything at or after the last
    * rebase (compact/retire) snapshot.
    */
  def liveSegments(table: String): Seq[Snapshots.Manifest] = {
    val newestFirst = Snapshots.chain(table)
    val upToRebase = newestFirst.span(!_.lineage.startsWith(RebasePrefix))
    (upToRebase._1 ++ upToRebase._2.headOption).reverse
  }

  private def readSegments(spark: SparkSession, table: String,
                           segs: Seq[Snapshots.Manifest]): DataFrame = {
    require(segs.nonEmpty, s"lsh-seen table $table has no committed segments")
    Snapshots.readData(spark, table, segs)
  }

  /** The distinct (band, bhash) set cross-dedup queries. One live
    * segment (fresh table or just-compacted) is already distinct and is
    * returned as-is — no shuffle; multiple segments pay one distinct
    * over their union (duplicates only exist ACROSS dumps).
    */
  def seenBands(spark: SparkSession, table: String): DataFrame = {
    val segs = liveSegments(table)
    val df = readSegments(spark, table, segs).select("band", "bhash")
    if (segs.size <= 1) df else df.distinct()
  }

  /** As seenBands but keeping dump_ord (max per band when folding) —
    * what compact/retire operate on.
    */
  private def seenBandsWithDump(spark: SparkSession, table: String): DataFrame =
    readSegments(spark, table, liveSegments(table))
      .groupBy("band", "bhash").agg(max("dump_ord").as("dump_ord"))

  /** Append one dump's surviving band hashes. `survivorsMh` needs a
    * `bands` array column (LshDedup.minhashed output filtered to
    * survivors). The committed dump_ord is the snapshot id — retire
    * cutoffs are expressed in it.
    */
  def append(spark: SparkSession, table: String,
             survivorsMh: DataFrame, dumpId: String): Snapshots.Manifest = {
    val (id, dataDir, _) = Snapshots.stage(table)
    val segment = survivorsMh
      .select(posexplode(col("bands")).as(Seq("band", "bhash")))
      .distinct()
      .withColumn("dump_ord", lit(id))
    Snapshots.writeData(segment, dataDir.toString)
    commitWithGrowth(spark, table, id, dataDir, s"lsh-seen append dump=$dumpId")
  }

  /** Fold all live segments into one distinct segment (max dump_ord per
    * band). Readers after this touch exactly one segment and skip the
    * distinct shuffle.
    */
  def compact(spark: SparkSession, table: String): Snapshots.Manifest = {
    val folded = seenBandsWithDump(spark, table)
    val (id, dataDir, _) = Snapshots.stage(table)
    Snapshots.writeData(folded, dataDir.toString)
    commitWithGrowth(spark, table, id, dataDir, s"$RebasePrefix compact")
  }

  /** Compact AND drop bands whose latest occurrence predates
    * `minDumpOrd` — dump retirement. Bands re-seen by a still-live dump
    * keep their max dump_ord and survive.
    */
  def retire(spark: SparkSession, table: String,
             minDumpOrd: Long): Snapshots.Manifest = {
    val kept = seenBandsWithDump(spark, table)
      .filter(col("dump_ord") >= minDumpOrd)
    val (id, dataDir, _) = Snapshots.stage(table)
    Snapshots.writeData(kept, dataDir.toString)
    commitWithGrowth(spark, table, id, dataDir,
      s"$RebasePrefix retire min=$minDumpOrd")
  }

  /** Commit snapshot `id` with the growth metrics read back from the
    * segment just written to its `dataDir` (count of the new segment;
    * live fan-in after this commit). The count reads the narrow written
    * file, not the upstream plan.
    */
  private def commitWithGrowth(spark: SparkSession, table: String, id: Long,
                               dataDir: Path, lineage: String): Snapshots.Manifest = {
    val nBands = spark.read.parquet(dataDir.toString).count()
    // fan-in AFTER this commit: segments after the last rebase, where
    // this commit itself rebases when its lineage says so
    val priorLive =
      if (lineage.startsWith(RebasePrefix)) Seq.empty
      else liveSegments(table)
    val nRowsLive = priorLive.map(_.metrics.getOrElse("n_bands", 0L)).sum + nBands
    Snapshots.commit(table, id,
      Map("n_bands" -> nBands,
          "n_rows_live" -> nRowsLive,
          "n_segments_live" -> (priorLive.size + 1L)),
      lineage)
  }
}
