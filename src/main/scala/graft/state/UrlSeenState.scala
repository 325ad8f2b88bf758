package graft.state

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Partitioned cuckoo-filter state for the live frontier (scheduled /
  * in-flight URL hashes): exact-ish membership with delete support so a
  * URL can be retired and become eligible for recrawl — the operation a
  * bloom filter cannot do. Partitions are growable chains (CuckooChain)
  * sized by what they hold: a partition's first segment is sized for
  * twice its first batch's inserts, overflow appends doubled segments
  * (no silent insert failures at any scale), and compaction rebuilds a
  * long chain to twice its keys — so state bytes track the seen URLs, a
  * few bytes each, not a fixed capacity per partition. Partition = bits
  * of the url hash (`partitionOf`), pinned in the serialized form
  * (SURVEY.md §7.4 risk 5: P is part of the state).
  *
  * Role split in the frontier (north rule "bloom/cuckoo URL-seen"):
  * the *url_seen table*'s distributed anti-join is the only membership
  * check on the job path (exact, no false drops, no driver-side
  * structure). FrontierJob writes this state into every snapshot's
  * state dir (`advance`), but nothing in the jobs reads it back: it is
  * the loadable point-lookup and retirement (delete) structure over the
  * same set, and no bloom pre-pass sits in front of the anti-join.
  *
  * The url_seen table is the snapshot chain's data deltas, read through
  * `Snapshots.readData` (`seenUrls`); Snapshots owns the table layout.
  * This object owns what is inside a snapshot's state dir: the blob
  * names, the partition count and the 2-segment bound.
  *
  * All blob IO goes through the Hadoop FileSystem API resolved from the
  * directory URI, so state dirs work identically on `file:`, `hdfs:` and
  * `s3a:`; tasks get the Hadoop conf through Spark's
  * SerializableConfiguration broadcast. This is what makes the "one task
  * per partition, no driver collect" design hold on a real cluster:
  * executors write the SHARED filesystem the driver commits, not
  * node-local disks (which a plain java.nio path would silently hit).
  */
final class UrlSeenState private[state] (val parts: Array[CuckooChain])
    extends Serializable {

  require((parts.length & (parts.length - 1)) == 0,
          "partition count must be a power of two")

  private def partOf(h: Long): CuckooChain =
    parts(UrlSeenState.partitionOf(h, parts.length))

  def insert(h: Long): Boolean = partOf(h).insert(h)
  def contains(h: Long): Boolean = partOf(h).contains(h)
  def delete(h: Long): Boolean = partOf(h).delete(h)
  def size: Long = parts.map(_.size).sum

  /** One blob per partition, deterministic file names. */
  def save(dir: String, conf: Configuration = new Configuration()): Unit = {
    val d = new HPath(dir)
    val fs = d.getFileSystem(conf)
    fs.mkdirs(d)
    parts.zipWithIndex.foreach { case (p, i) =>
      UrlSeenState.writeBlob(fs, new HPath(d, UrlSeenState.blobName(i)), p.toBytes)
    }
  }
  def save(dir: Path): Unit = save(dir.toString)
}

object UrlSeenState {

  def create(partitions: Int, capacityPerPartition: Long): UrlSeenState =
    new UrlSeenState(Array.fill(CuckooFilter.nextPow2(partitions))(
      CuckooChain.forCapacity(capacityPerPartition)))

  def load(dir: String, conf: Configuration): UrlSeenState = {
    val d = new HPath(dir)
    val fs = d.getFileSystem(conf)
    val parts = blobs(fs, d)
    require(parts.nonEmpty, s"no cuckoo partitions in $dir")
    new UrlSeenState(parts.map(p => CuckooChain.fromBytes(readBlob(fs, p))))
  }
  def load(dir: String): UrlSeenState = load(dir, new Configuration())
  def load(dir: Path): UrlSeenState = load(dir.toString)

  def partitionOf(h: Long, numParts: Int): Int =
    (CuckooFilter.mix(h) & (numParts - 1)).toInt

  /** `partitionOf` as a native column over a long hash column, the one
    * routing of rows to state partitions (update and compaction).
    */
  def partitionCol(h: Column, numParts: Int): Column = {
    require((numParts & (numParts - 1)) == 0 && numParts > 0,
            "partition count must be a power of two")
    column(StatePartition(expression(h), numParts))
  }

  private case class StatePartition(child: Expression, numParts: Int)
      extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_state_partition needs a long input, got ${child.dataType}")
    override def dataType: DataType = IntegerType
    override def prettyName: String = "graft_state_partition"

    override def nullSafeEval(h: Any): Any =
      partitionOf(h.asInstanceOf[Long], numParts)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, h =>
        s"graft.state.UrlSeenState.partitionOf($h, $numParts)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  private[graft] def blobName(i: Int) = f"cuckoo-$i%05d.bin"

  /** The partition blobs in `dir`, in partition order. */
  private def blobs(fs: FileSystem, dir: HPath): Array[HPath] =
    fs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith("cuckoo-"))
      .sortBy(_.getName)

  private def readBlob(fs: FileSystem, p: HPath): Array[Byte] = {
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"cuckoo blob too large: $p ($len bytes)")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0L, buf) finally in.close()
    buf
  }

  /** Partition `pid`'s blob in `dir`, if there is one. */
  private def prevBlob(conf: Configuration, dir: Option[String],
                       pid: Int): Option[Array[Byte]] =
    dir.map(d => new HPath(d, blobName(pid)))
      .filter(b => b.getFileSystem(conf).exists(b))
      .map(b => readBlob(b.getFileSystem(conf), b))

  private def writeBlob(fs: FileSystem, p: HPath, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Per-partition lineage stats from a distributed state update. */
  case class PartStats(inserted: Long, segments: Int)

  /** A seen delta's schema, as parquet reads it back. */
  private val SeenSchema = StructType.fromDDL("url STRING")

  /** The url_seen table as of `chain` (newest first): the union of every
    * snapshot's seen delta, read with its written schema (no inference
    * job), or no urls for a fresh table.
    */
  def seenUrls(spark: SparkSession, table: String,
               chain: Seq[Snapshots.Manifest]): DataFrame =
    if (chain.nonEmpty) Snapshots.readData(spark, table, chain, Some(SeenSchema))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], SeenSchema)

  /** One frontier batch's state step: the seen-delta pass
    * (`updateDistributed`), then, once a chain has grown past 2 segments,
    * a rebuild from `seen` ∪ the delta (`compactDistributed`): the
    * false-positive rate grows with the segment count, and grow-cycles
    * are logarithmic in total inserts, so this amortizes to ~O(1) per
    * batch. The partition count is a property of the table: a resumed
    * table keeps its previous blob count (routing must match the layout
    * they were written under); a fresh one sizes to the core count, so
    * the per-blob tasks don't cap parallelism at 16 on wider machines
    * (measured: the update phase was wall-flat 8→32 cores with 16 fixed
    * blobs). Returns the update's per-partition stats.
    */
  def advance(spark: SparkSession, winners: DataFrame, seen: DataFrame,
              prevDir: Option[String], outDir: String, deltaDir: String)
      : Map[Int, PartStats] = {
    val conf = spark.sessionState.newHadoopConf()
    val prev = prevDir.map(new HPath(_)).filter(d => d.getFileSystem(conf).exists(d))
    val partitions = prev
      .map(d => math.max(blobs(d.getFileSystem(conf), d).length, 1))
      .getOrElse(math.min(256, math.max(16, spark.sparkContext.defaultParallelism)))
    val stats = updateDistributed(spark, winners, prev.map(_.toString),
                                  outDir, partitions, deltaDir)
    if (stats.values.exists(_.segments > 2))
      compactDistributed(spark,
        seen.select("url").union(spark.read.schema(SeenSchema).parquet(deltaDir)),
        outDir, partitions)
    stats
  }

  /** The one state builder behind update and compaction. Each url's key
    * is its xxhash64; rows are routed to their state partition
    * (`partitionCol`) and sorted by (partition, key). For each partition
    * id, the task holding it loads the previous chain from `prevDir` (a
    * partition with no previous keys starts at twice its keys), inserts
    * them in key order (equal adjacent keys once) and writes the next blob to `outDir`, while the rows stream on
    * to `write`, the one action. A blob is a pure function of its
    * previous blob and the keys, so a retried task rewrites identical
    * bytes; the stats come from a result-stage accumulator, where each
    * task counts once. Partitions without keys keep their blob.
    */
  private def build(spark: SparkSession, urls: DataFrame,
                    prevDir: Option[String], outDir: String, p: Int)
                   (write: Dataset[String] => Unit): Map[Int, PartStats] = {
    val bConf = spark.sparkContext.broadcast(
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))
    val stats = spark.sparkContext.collectionAccumulator[(Int, PartStats)]
    // one task per core at most: on frontier_polite (P = 16, 4 cores,
    // seeds 1-5) P tasks took 0.32 s per update against 0.20 s. One task,
    // and AQE's size-coalesced plan, took 0.18-0.19 s there, so the
    // choice below the cap is not shown to matter at that size.
    val tasks = math.min(p, spark.sparkContext.defaultParallelism)
    write(urls
      .select(col("url"), xxhash64(col("url")).as("h"))
      .withColumn("pid", partitionCol(col("h"), p))
      .repartition(tasks, col("pid"))
      .sortWithinPartitions("pid", "h")
      .mapPartitions { it =>
        val c = bConf.value.value
        val keys = new scala.collection.mutable.ArrayBuilder.ofLong
        var pid = -1
        var last = 0L
        def finish(): Unit = if (pid >= 0) {
          val hs = keys.result()
          val chain = prevBlob(c, prevDir, pid).map(CuckooChain.fromBytes)
            .filter(_.size > 0)
            .getOrElse(CuckooChain.forCapacity(2L * hs.length))
          var n = 0L
          hs.foreach(x => if (chain.insert(x)) n += 1)
          val out = new HPath(outDir, blobName(pid))
          writeBlob(out.getFileSystem(c), out, chain.toBytes)
          stats.add(pid -> PartStats(n, chain.numSegments))
          keys.clear()
          pid = -1
        }
        new Iterator[String] {
          def hasNext: Boolean = it.hasNext || { finish(); false }
          def next(): String = {
            val r = it.next()
            val h = r.getLong(1)
            if (r.getInt(2) != pid) { finish(); pid = r.getInt(2); keys += h }
            else if (h != last) keys += h
            last = h
            r.getString(0)
          }
        }
      }(Encoders.STRING))
    stats.value.asScala.toMap
  }

  /** The seen-delta pass: writes the batch's seen urls to `deltaDir`,
    * partitioned and key-sorted, and the next state to `outDir` in one
    * job (`build`), with no driver-side collect; blobs untouched by this
    * batch are carried forward. Returns per-partition inserted counts and
    * segment-chain lengths. Dirs are Hadoop-FS URIs (plain paths resolve
    * as `file:`); executors and driver must see the same filesystem
    * (`hdfs:`/`s3a:` on a cluster, any path on a single box).
    */
  def updateDistributed(spark: SparkSession, urls: DataFrame,
                        prevDir: Option[String], outDir: String,
                        partitions: Int, deltaDir: String)
      : Map[Int, PartStats] = {
    val p = CuckooFilter.nextPow2(partitions)
    val conf = spark.sessionState.newHadoopConf()
    val outPath = new HPath(outDir)
    val fs = outPath.getFileSystem(conf)
    fs.mkdirs(outPath)
    val touched = build(spark, urls, prevDir, outDir, p)(
      ds => Snapshots.writeData(ds.toDF("url"), deltaDir))
    // carry forward untouched partitions (driver-side, same FS API)
    (0 until p).filterNot(touched.contains).foreach { pid =>
      writeBlob(fs, new HPath(outPath, blobName(pid)), prevBlob(conf, prevDir, pid)
        .getOrElse(CuckooChain.forCapacity(0).toBytes))
    }
    touched
  }

  /** Segment-chain compaction: rebuilds each partition's chain in `outDir`
    * in place as one filter sized for twice its keys, from the
    * authoritative seen set `urls` (the url_seen table; the cuckoo state
    * is derived from it). It is `build` with no previous chains, in one
    * job whose rows go to the `noop` sink; duplicate urls insert once, so
    * a rebuilt blob is byte-deterministic for a given seen set. Returns
    * per-partition rebuilt segment counts (1 except at pathological
    * load).
    */
  def compactDistributed(spark: SparkSession, urls: DataFrame,
                         outDir: String, partitions: Int): Map[Int, Int] = {
    build(spark, urls, None, outDir, CuckooFilter.nextPow2(partitions))(
      _.write.format("noop").mode("overwrite").save())
      .map { case (pid, st) => pid -> st.segments }
  }
}
