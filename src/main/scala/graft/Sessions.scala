package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session and table-loading helpers shared by SparkEntry / Verify /
  * Bench / Probe / tests. The repo builds sessions in exactly three places:
  *   - `Sessions.local`: tests (`TestSpark`) and `Verify`;
  *   - `Bench.session`: `Bench` and `Probe` (tmpfs shuffle dir, 2x cores
  *     shuffle partitions, 8g off-heap) so their timings agree;
  *   - `Main.clusterSession`: spark-submit and the perfbench harness (the
  *     master and executor sizing come from the submit conf).
  * Settings follow the scale guidance: AQE on, shuffle partitions sized to
  * the core count rather than the 200 default. All three install
  * `LocalFsConf`.
  */
object Sessions {

  /** `file:` paths through `LocalFs`, which starts no `chmod` process per
    * file and directory it creates. Hadoop caches one file system per
    * scheme and user, so this holds only when the session's conf is the
    * first to resolve `file:` in the JVM. Code that calls
    * `FileSystem.get` on a `file:` path before the session is built, or
    * spark-submit resolving local `--jars`, caches the stock class
    * instead: outputs are the same, but each created file and directory
    * starts a `chmod` process again (without the native Hadoop library).
    */
  val LocalFsConf: Map[String, Any] =
    Map("spark.hadoop.fs.file.impl" -> classOf[LocalFs].getName)

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
      .config(LocalFsConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Read one of the driver-provided parquet tables under `dir`. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  private val exitDeletes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Delete `path` and everything under it (no-op if absent); throws on
    * the first file it cannot delete.
    */
  def deleteTree(path: Path): Unit =
    if (Files.exists(path)) {
      val walk = Files.walk(path)
      try walk.sorted(Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
      finally walk.close()
    }

  /** Recursively delete `path` on JVM exit (idempotent per path), errors
    * ignored. For scratch artifacts that must outlive a query but not the
    * process.
    */
  def deleteOnExit(path: String): Unit =
    if (exitDeletes.add(path)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() =>
        try deleteTree(Paths.get(path))
        catch { case scala.util.control.NonFatal(_) => () }))
    }
}
