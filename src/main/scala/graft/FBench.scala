package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Dev tool: frontier-only trials at one parallelism level, for fast
  * A/B of engine changes without the full Bench pass. Prints per-trial
  * wall secs + the min.
  */
object FBench {
  def main(args: Array[String]): Unit = {
    val cpus   = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val n      = sys.env.getOrElse("SPARK_GRAFT_N", "4000000").toLong
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt
    Files.createDirectories(Paths.get("/dev/shm/graft-spark"))
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName(s"graft-fbench-$cpus")
      .config("spark.sql.shuffle.partitions", (cpus * 2).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.ui.enabled", "false")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", "8g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Bench.frontierRun(spark, n / 10, warm = false) // JIT warm
    val secs = (1 to trials).map { t =>
      val s = Bench.frontierRun(spark, n, warm = false)
      println(f"[fb] trial $t: $s%6.2f s (${n / s / 1000}%.0fk urls/s)")
      s
    }
    println(f"[fb] cpus=$cpus n=$n min=${secs.min}%6.2f s " +
      f"(${n / secs.min / 1000}%.0fk urls/s)")
    spark.stop()
  }
}
