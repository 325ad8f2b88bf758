package graft.state

import java.nio.file.Path

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions.{col, xxhash64}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

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
  * the *url_seen table*'s distributed anti-join is the cross-batch
  * authority (exact, no false drops, no driver-side structure);
  * this cuckoo state deduplicates within the live crawl session and
  * supports retirement, and rides in every snapshot's state dir.
  *
  * All blob IO goes through the Hadoop FileSystem API resolved from the
  * directory URI, so state dirs work identically on `file:`, `hdfs:` and
  * `s3a:`. This is what makes the "one task per partition, no driver
  * collect" design hold on a real cluster: executors write the SHARED
  * filesystem the driver commits, not node-local disks (which a plain
  * java.nio path would silently hit).
  */
final class UrlSeenState private[state] (val parts: Array[CuckooChain])
    extends Serializable {

  require((parts.length & (parts.length - 1)) == 0,
          "partition count must be a power of two")

  private def partOf(h: Long): Int =
    (CuckooFilter.mix(h) & (parts.length - 1)).toInt

  def insert(h: Long): Boolean = parts(partOf(h)).insert(h)
  def contains(h: Long): Boolean = parts(partOf(h)).contains(h)
  def delete(h: Long): Boolean = parts(partOf(h)).delete(h)
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
    val blobs = fs.listStatus(d).map(_.getPath)
      .filter(_.getName.startsWith("cuckoo-"))
      .sortBy(_.getName)
    require(blobs.nonEmpty, s"no cuckoo partitions in $dir")
    new UrlSeenState(blobs.map(p =>
      CuckooChain.fromBytes(readBlob(fs, p))).toArray)
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

  private def blobName(i: Int) = f"cuckoo-$i%05d.bin"

  private def readBlob(fs: FileSystem, p: HPath): Array[Byte] = {
    val len = fs.getFileStatus(p).getLen
    require(len <= Int.MaxValue, s"cuckoo blob too large: $p ($len bytes)")
    val buf = new Array[Byte](len.toInt)
    val in = fs.open(p)
    try in.readFully(0L, buf) finally in.close()
    buf
  }

  private def writeBlob(fs: FileSystem, p: HPath, bytes: Array[Byte]): Unit = {
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Hadoop Configuration is not java-serializable; ship it to tasks via
    * its own writable form (same trick as Spark's internal
    * SerializableConfiguration, which is not public API).
    */
  private final class SerConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** Per-partition lineage stats from a distributed state update. */
  case class PartStats(inserted: Long, segments: Int)

  /** The seen-delta pass: writes the batch's seen urls to `deltaDir` and
    * the next cuckoo state to `outDir` in one job. Each url's state key
    * is its xxhash64; rows are routed to their state partition
    * (`partitionCol`) and sorted by (partition, key); for each partition
    * id, the task holding it loads the previous chain from `prevDir`,
    * inserts the keys in key order and writes the next blob while the
    * rows stream on to the parquet write. The delta therefore lands partitioned and
    * key-sorted, and a blob is a pure function of its previous blob and
    * the batch (a retried task rewrites identical bytes). No driver-side
    * collect; blobs untouched by this batch are carried forward.
    *
    * Sizing follows the data: a partition with no previous keys starts
    * at twice its inserts; a full chain appends a doubled segment. The
    * result holds per-partition inserted counts and segment-chain
    * lengths, from a result-stage accumulator (each task's update counts
    * once); a caller seeing segments > 2 should schedule
    * `compactDistributed`.
    *
    * Dirs are Hadoop-FS URIs (plain paths resolve as `file:`); executors
    * and driver must see the same filesystem (`hdfs:`/`s3a:` on a
    * cluster, any path on a single box).
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
    val bConf = spark.sparkContext.broadcast(new SerConf(conf))
    val stats = spark.sparkContext.collectionAccumulator[(Int, PartStats)]
    // one task per core at most: each blob costs a fixed file-IO overhead,
    // which one size-coalesced task would pay serially for every partition
    val tasks = math.min(p, spark.sparkContext.defaultParallelism)
    urls
      .select(col("url"), xxhash64(col("url")).as("h"))
      .withColumn("pid", partitionCol(col("h"), p))
      .repartition(tasks, col("pid"))
      .sortWithinPartitions("pid", "h")
      .mapPartitions { it =>
        val c = bConf.value.value
        val keys = new scala.collection.mutable.ArrayBuilder.ofLong
        var pid = -1
        // one pid group done: previous chain (or a fresh one at twice the
        // group's inserts) + the group's keys, in key order
        def finish(): Unit = if (pid >= 0) {
          val hs = keys.result()
          val chain = prevDir.map(d => new HPath(d, blobName(pid)))
            .filter(b => b.getFileSystem(c).exists(b))
            .map(b => CuckooChain.fromBytes(readBlob(b.getFileSystem(c), b)))
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
            if (r.getInt(2) != pid) { finish(); pid = r.getInt(2) }
            keys += r.getLong(1)
            r.getString(0)
          }
        }
      }(Encoders.STRING)
      .toDF("url")
      .write.mode("overwrite").parquet(deltaDir)
    val touched = stats.value.asScala.toMap
    // carry forward untouched partitions (driver-side, same FS API)
    (0 until p).filterNot(touched.contains).foreach { pid =>
      val out = new HPath(outPath, blobName(pid))
      prevDir.map(d => new HPath(d, blobName(pid)))
        .filter(prev => prev.getFileSystem(conf).exists(prev)) match {
        case Some(prev) =>
          writeBlob(fs, out, readBlob(prev.getFileSystem(conf), prev))
        case None =>
          writeBlob(fs, out, CuckooChain.forCapacity(0).toBytes)
      }
    }
    touched
  }

  /** Segment-chain compaction at snapshot commit: rebuild each partition's
    * chain as ONE filter sized for twice its keys, from the authoritative
    * seen set `urls` (the url_seen table — the cuckoo state is a derived
    * accelerator, so the table is the source of truth to rebuild from).
    * Bounds the false-positive rate, which otherwise grows linearly with
    * segment count, and leaves the next batches room to insert into one
    * segment. One task per partition, blob overwritten in place in the
    * still-uncommitted snapshot state dir. Keys are sorted before insert
    * so the rebuilt blob is byte-deterministic for a given seen set.
    * Returns per-partition rebuilt segment counts (1 except at
    * pathological load).
    */
  def compactDistributed(spark: SparkSession, urls: DataFrame,
                         outDir: String, partitions: Int): Map[Int, Int] = {
    import spark.implicits._
    val p = CuckooFilter.nextPow2(partitions)
    val bConf = spark.sparkContext.broadcast(
      new SerConf(spark.sessionState.newHadoopConf()))
    urls
      .select(xxhash64(col("url")).as("h"))
      .select(partitionCol(col("h"), p).as("pid"), col("h"))
      // Dedup before rebuild: a caller unioning overlapping snapshot sets
      // would otherwise insert duplicate fingerprints — count drift plus
      // phantom membership after one delete. Cheap relative to the rebuild
      // (same shuffle keys, partial agg upstream).
      .distinct()
      .as[(Int, Long)]
      .groupByKey(_._1)
      .mapGroups { (pid, it) =>
        val b = Array.newBuilder[Long]
        it.foreach(kv => b += kv._2)
        val keys = b.result()
        java.util.Arrays.sort(keys)
        val chain = CuckooChain.forCapacity(2L * keys.length)
        keys.foreach(chain.insert)
        val out = new HPath(outDir, blobName(pid))
        writeBlob(out.getFileSystem(bConf.value.value), out, chain.toBytes)
        (pid, chain.numSegments)
      }
      .collect().toMap
  }
}
