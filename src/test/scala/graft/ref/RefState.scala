package graft.ref

import graft.state.{CuckooChain, CuckooFilter, UrlSeenState}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, xxhash64}

/** Segment-chain compaction as a distinct → groupByKey → collect chain,
  * kept as the parity reference for `UrlSeenState.compactDistributed`
  * (test oracle only): each partition's seen urls, deduplicated by
  * (partition, key), rebuild one chain sized for twice its keys, keys
  * inserted in sorted order, written over the partition's blob in
  * `outDir` from the driver. Partitions without keys keep their blob.
  * Returns per-partition rebuilt segment counts.
  */
object RefState {

  def compact(spark: SparkSession, urls: DataFrame, outDir: String,
              partitions: Int): Map[Int, Int] = {
    import spark.implicits._
    val p = CuckooFilter.nextPow2(partitions)
    val rebuilt = urls
      .select(xxhash64(col("url")).as("h"))
      .select(UrlSeenState.partitionCol(col("h"), p).as("pid"), col("h"))
      .distinct()
      .as[(Int, Long)]
      .groupByKey(_._1)
      .mapGroups { (pid, it) =>
        val keys = it.map(_._2).toArray
        java.util.Arrays.sort(keys)
        val chain = CuckooChain.forCapacity(2L * keys.length)
        keys.foreach(chain.insert)
        (pid, chain.numSegments, chain.toBytes)
      }
      .collect()
    val conf = spark.sessionState.newHadoopConf()
    rebuilt.foreach { case (pid, _, bytes) =>
      val blob = new Path(outDir, UrlSeenState.blobName(pid))
      val out = blob.getFileSystem(conf).create(blob, true)
      try out.write(bytes) finally out.close()
    }
    rebuilt.map { case (pid, segs, _) => pid -> segs }.toMap
  }
}
