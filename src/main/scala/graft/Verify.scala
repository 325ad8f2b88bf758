package graft
import java.nio.file.{Files, Paths}
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = Sessions.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally Pin.releaseAll(spark)
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Serialization.write(SparkEntry.oracleSql)(DefaultFormats))
    spark.stop()
  }
}
