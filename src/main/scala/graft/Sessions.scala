package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session, table-loading and pin helpers shared by SparkEntry / Verify /
  * Bench / Probe / tests. The repo builds sessions in exactly three places:
  *   - `Sessions.local`: tests (`TestSpark`) and `Verify`;
  *   - `Bench.session`: `Bench` and `Probe` (tmpfs shuffle dir, 2x cores
  *     shuffle partitions, 8g off-heap) so their timings agree;
  *   - `Main.clusterSession`: spark-submit and the perfbench harness (the
  *     master and executor sizing come from the submit conf).
  * Settings follow the scale guidance: AQE on, shuffle partitions sized to
  * the core count rather than the 200 default.
  */
object Sessions {

  /** Local session for tests & ad-hoc runs. `cores` mirrors executor
    * parallelism; shuffle partitions follow it so small-SF runs don't pay
    * 200-partition scheduling overhead.
    */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // off-heap Tungsten buffers: task GC drops ~4x on shuffle/sort-heavy
      // pipelines (see Bench.session) — same default for library users
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", "4g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Drop every pin in `spark`: cached Datasets (clearCache) and the
    * persistent RDDs behind localCheckpoint()s, which clearCache does not
    * cover and Dataset.unpersist cannot reach. Non-blocking. Run between
    * queries so one query's blocks never skew the next one's timing.
    */
  def releasePins(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Read one of the driver-provided parquet tables under `dir`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private val exitDeletes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Recursively delete `path` on JVM exit (idempotent per path). For
    * scratch artifacts that must outlive a query but not the process.
    */
  def deleteOnExit(path: String): Unit =
    if (exitDeletes.add(path)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        val p = java.nio.file.Paths.get(path)
        if (java.nio.file.Files.exists(p)) {
          val walk = java.nio.file.Files.walk(p)
          try walk.sorted(java.util.Comparator.reverseOrder())
            .forEach(f => java.nio.file.Files.deleteIfExists(f))
          catch { case scala.util.control.NonFatal(_) => () }
          finally walk.close()
        }
      }))
    }
}
