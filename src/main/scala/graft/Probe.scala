package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/** Per-query dev probe over SparkEntry queries, on Bench's session:
  *
  *   runMain graft.Probe time q_a [q_b ...]
  *   runMain graft.Probe plan <outDir> <suffix> q_a [q_b ...]
  *
  * `time` warms the JVM with one query, then reports each query's wall
  * seconds and row count. `plan` writes each query's formatted explain to
  * `<outDir>/<query>_<suffix>.txt` (the `plans/` layout); it only plans,
  * apart from the driver-side collects some query builders run while
  * assembling their plan. Both read the SF dir and core count Bench reads
  * (SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS) and drop every pin after each
  * query.
  */
object Probe {

  /** (query, wall seconds, rows) per query, after one warm-up query. */
  def time(spark: SparkSession, sfDir: String,
           names: Seq[String]): Seq[(String, Double, Long)] = {
    try SparkEntry.queries("q_agg_pricing")(spark, sfDir).count()
    finally Pin.releaseAll(spark)
    names.map { name =>
      val t0 = System.nanoTime()
      try {
        val n = SparkEntry.queries(name)(spark, sfDir).count()
        (name, (System.nanoTime() - t0) / 1e9, n)
      } finally Pin.releaseAll(spark)
    }
  }

  /** Writes each query's formatted plan; returns the paths written. */
  def plan(spark: SparkSession, sfDir: String, outDir: String,
           suffix: String, names: Seq[String]): Seq[String] = {
    Files.createDirectories(Paths.get(outDir))
    names.map { name =>
      val path = Paths.get(outDir, s"${name}_$suffix.txt")
      try Files.writeString(path, SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.explainString(FormattedMode))
      finally Pin.releaseAll(spark)
      path.toString
    }
  }

  def main(args: Array[String]): Unit = {
    val usage = "usage: time <q...> | plan <outDir> <suffix> <q...>"
    require(args.nonEmpty, usage)
    val (sfDir, cpus) = Bench.settings
    val spark = Bench.session(cpus)
    try args(0) match {
      case "time" =>
        time(spark, sfDir, args.drop(1).toSeq).foreach { case (q, s, n) =>
          println(f"[probe] $q%-24s $s%8.2f s ($n rows)")
        }
      case "plan" if args.length >= 3 =>
        plan(spark, sfDir, args(1), args(2), args.drop(3).toSeq)
          .foreach(p => println(s"[probe] wrote $p"))
      case _ => sys.error(usage)
    } finally spark.stop()
  }
}
