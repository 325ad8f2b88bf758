package graft

import org.apache.spark.sql.SparkSession

/** spark-submit entry point (north rule: "launched with spark-submit on
  * N and 4N executors"). Unlike the dev mains (Verify/Bench/Probe),
  * this builder NEVER forces a master: under spark-submit the cluster
  * manager supplies `spark.master` and executor sizing, and the session
  * inherits them — the same jar runs unchanged on local[N], YARN, k8s
  * or standalone. Shuffle partitions default to the cluster's
  * `default.parallelism` unless the submit conf overrides them.
  *
  *   spark-submit --class graft.Main graft.jar frontier <inDir> <table> <dumpId> [quota]
  *   spark-submit --class graft.Main graft.jar corpus   <inDir> <table> [minTokens]
  *   spark-submit --class graft.Main graft.jar curate   <inDir> <outDir> [minSentences] [topNum/topDen]
  *
  * `frontier` runs one incremental FrontierJob batch against the
  * snapshot table (resumes from the latest committed snapshot);
  * `corpus` runs/resumes the CorpusJob pipeline over a spanized
  * parquet corpus (domain, ord, doc_id, spans); `curate` runs the
  * text-curation funnel (C4 line/page cleaning → Flesch readability →
  * per-language top-fraction gate) over a (doc_id, lang, text) parquet
  * table and writes the surviving docs with their scores.
  */
object Main {

  private[graft] def clusterSession(appName: String): SparkSession = {
    val b = SparkSession.builder()
      .appName(appName)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config(Sessions.LocalFsConf)
    // only force a master when NOTHING supplied one (bare `java -cp`
    // runs); spark-submit / SPARK_MASTER always win
    val withMaster =
      if (sys.props.contains("spark.master") ||
          sys.env.contains("SPARK_MASTER")) b
      else b.master(s"local[${Runtime.getRuntime.availableProcessors()}]")
    val spark = withMaster.getOrCreate()
    // LOCAL masters only: size shuffles to the core count instead of
    // Spark's fixed 200. On cluster managers defaultParallelism at
    // session-creation time reflects only the executors registered so
    // far (near zero under dynamic allocation), so pinning from it
    // would cap every shuffle — there, the submit conf + AQE coalesce
    // own the sizing, and any explicit setting is left untouched.
    // "Explicit" is detected via the SparkConf, not the resolved value:
    // comparing to "200" can't tell the built-in default from a user's
    // deliberate --conf spark.sql.shuffle.partitions=200.
    if (spark.sparkContext.master.startsWith("local") &&
        !spark.sparkContext.getConf.contains("spark.sql.shuffle.partitions"))
      spark.conf.set("spark.sql.shuffle.partitions",
        math.max(spark.sparkContext.defaultParallelism * 2, 32))
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty,
      "usage: frontier <inDir> <table> <dumpId> [quota] | " +
      "corpus <inDir> <table> [minTokens]")
    // when embedded (tests, notebooks) getOrCreate returns the caller's
    // session — only stop what this main itself created
    val preexisting = SparkSession.getDefaultSession.isDefined
    val spark = clusterSession(s"graft-${args(0)}")
    args(0) match {
      case "frontier" =>
        require(args.length >= 4,
          "usage: frontier <inDir> <table> <dumpId> [quota]")
        val Array(_, inDir, table, dumpId) = args.take(4)
        val quota =
          if (args.length > 4) args(4).toInt else Int.MaxValue
        val r = graft.operators.FrontierJob.runBatch(
          spark, spark.read.parquet(inDir), table,
          politenessQuota = quota, dumpId = dumpId)
        println(s"committed snapshot ${r.manifest.snapshotId}: " +
          r.manifest.metrics.toSeq.sortBy(_._1)
            .map { case (k, v) => s"$k=$v" }.mkString(" "))
      case "corpus" =>
        require(args.length >= 3, "usage: corpus <inDir> <table> [minTokens]")
        val Array(_, inDir, table) = args.take(3)
        val minTokens = if (args.length > 3) args(3).toInt else 5
        val ms = graft.operators.CorpusJob.runPipeline(
          spark, spark.read.parquet(inDir), table, minTokens = minTokens)
        ms.foreach(m => println(
          s"stage ${m.snapshotId} (${m.lineage}): " +
          s"rows_in=${m.metrics("rows_in")} rows_out=${m.metrics("rows_out")}"))
      case "curate" =>
        require(args.length >= 3,
          "usage: curate <inDir> <outDir> [minSentences] [topNum/topDen]")
        val Array(_, inDir, outDir) = args.take(3)
        val minSentences = if (args.length > 3) args(3).toInt else 5
        val (num, den) =
          if (args.length > 4) {
            val Array(n, d) = args(4).split('/'); (n.toLong, d.toLong)
          } else (1L, 2L)
        val out = curate(spark.read.parquet(inDir), minSentences, num, den)
        out.write.mode("overwrite").parquet(outDir)
        val kept = spark.read.parquet(outDir).count()
        println(s"curate: wrote $kept surviving docs to $outDir")
      case other =>
        sys.error(s"unknown command $other (frontier|corpus|curate)")
    }
    if (!preexisting) spark.stop()
  }

  /** The curation funnel as one library call (the q_curation_pipeline
    * composition): C4-cleaned pages that survive the line/page gates,
    * scored with Flesch, gated to the per-language top num/den by
    * score. Returns the survivors (doc_id, lang, clean_text, flesch).
    */
  private[graft] def curate(docs: org.apache.spark.sql.DataFrame,
                            minSentences: Int, num: Long,
                            den: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val c4 = graft.operators.Curation
      .c4Filter(docs, "text", minSentences = minSentences)
      .filter(col("keep"))
      .select(col("doc_id"), col("lang"), col("clean_text"))
    val scored = graft.operators.CorpusStats
      .readability(c4.withColumnRenamed("clean_text", "text"), "text")
    graft.operators.Curation.keepTopFraction(
        scored.select(col("doc_id"), col("lang"), col("flesch"),
          col("text").as("clean_text")),
        Seq("lang"), "flesch", "doc_id", num, den)
      .filter(col("kept"))
      .select(col("doc_id"), col("lang"), col("clean_text"), col("flesch"))
  }
}
