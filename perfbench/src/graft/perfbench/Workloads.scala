package graft.perfbench

import graft.fixtures.{CrawlFixtures, DocFixtures}
import graft.operators.{CorpusJob, Frontier, FrontierJob, IndexPipeline}
import graft.state.Snapshots
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One output check of one cycle. */
case class Check(name: String, ok: Boolean, detail: String)

/** A workload: seeded inputs, the job calls of one cycle (each one dump,
  * each submitted after the previous one committed), and the checks on
  * a finished cycle's outputs.
  */
sealed trait Workload {
  def spark: SparkSession
  def dumps: Int
  def itemsPerDump: Long
  def writeInputs(dir: String): Unit
  /** Job call for dump `d` against the tables under `tables`. */
  def call(inputs: String, tables: String, d: Int): Unit
  def check(inputs: String, tables: String): Seq[Check]
  /** Order-insensitive digests of the last checked cycle's outputs, by
    * output name, for comparing separate runs of one seed.
    */
  def digests: Map[String, String] = Map.empty
  /** Snapshot tables a cycle writes under `tables`. */
  def tableDirs(tables: String): Seq[String]
}

object Workload {
  def apply(spark: SparkSession, name: String, seed: Long,
            p: Map[String, String]): Workload = {
    def l(k: String) = p(k).toLong
    name match {
      case "frontier_incremental" | "frontier_polite" =>
        new FrontierWorkload(spark, seed, l("dumps").toInt, l("lines"),
          CrawlFixtures.Params(nRecords = l("lines"), nUrls = l("urls"),
            nHosts = l("hosts"), filesPerDump = l("files").toInt),
          quota = p.get("quota").map(_.toInt).getOrElse(Int.MaxValue),
          robots = p.get("robots").contains("1"))
      case "corpus_build" =>
        new CorpusWorkload(spark, seed, l("docs"),
          DocFixtures.Params(nDocs = l("docs"), nHosts = l("hosts"),
            nTemplates = l("templates"), vocabSize = l("vocab").toInt),
          minTokens = l("min_tokens").toInt)
      case other => sys.error(s"unknown workload $other")
    }
  }
}

final class FrontierWorkload(val spark: SparkSession, val seed: Long,
                             val dumps: Int, lines: Long,
                             p: CrawlFixtures.Params, val quota: Int,
                             val robots: Boolean) extends Workload {
  import spark.implicits._

  def itemsPerDump: Long = lines

  def writeInputs(dir: String): Unit = {
    (0 until dumps).foreach(d =>
      Inputs.writeIndexDump(spark, seed, d, lines, p, s"$dir/dump-$d"))
    if (robots) Inputs.writeRobots(spark, seed, p.nHosts, s"$dir/robots")
  }

  def tableDirs(tables: String): Seq[String] = Seq(s"$tables/frontier")

  def call(inputs: String, tables: String, d: Int): Unit = {
    val rules =
      if (robots) Some(Frontier.robotsRules(spark.read.parquet(s"$inputs/robots")))
      else None
    FrontierJob.runBatch(spark, spark.read.parquet(s"$inputs/dump-$d"),
      s"$tables/frontier", robots = rules, politenessQuota = quota,
      dumpId = s"dump-$d")
  }

  /** Scheduled rows of each committed dump, oldest first. */
  private def batches(table: String): Seq[DataFrame] =
    Snapshots.chain(table).reverse
      .map(m => spark.read.parquet(s"$table/${m.dataPath}-batches"))

  private val hostOfUrl = regexp_extract(col("url"), "^[a-z]+://([^/?#]*)", 1)
  private val pathOfUrl = regexp_extract(col("url"), "^[a-z]+://[^/]*(/.*)$", 1)

  def check(inputs: String, tables: String): Seq[Check] = {
    val table = s"$tables/frontier"
    val chain = Snapshots.chain(table).reverse
    val committed = Check("all_dumps_committed", chain.size == dumps,
      s"${chain.size} of $dumps dumps committed")
    if (chain.isEmpty) return Seq(committed)
    val bs = batches(table)
    if (robots) committed +: bs.zipWithIndex.flatMap { case (b, d) =>
      politeChecks(b, d) }
    else {
      val r = bs.map(_.select("url")).reduce(_ union _)
        .agg(count(lit(1)), count_distinct(col("url"))).head()
      val (n, nd) = (r.getLong(0), r.getLong(1))
      // with no quota and no robots every distinct URL that passes the
      // index filter is scheduled exactly once, in the dump that first has it
      val distinctIn = (0 until dumps)
        .map(d => IndexPipeline.filterIndex(IndexPipeline.parseRaw(
          spark.read.parquet(s"$inputs/dump-$d")), resort = false).select("url"))
        .reduce(_ union _).agg(count_distinct(col("url"))).head().getLong(0)
      val seen = chain.last.metrics("n_seen_urls")
      Seq(committed,
        Check("scheduled_unique", n == nd, s"$n scheduled, $nd distinct"),
        Check("scheduled_equals_distinct_inputs", n == distinctIn,
          s"$n scheduled, $distinctIn distinct filtered input urls"),
        Check("seen_equals_distinct_inputs", seen == distinctIn,
          s"last manifest n_seen_urls=$seen, $distinctIn distinct filtered input urls"))
    }
  }

  private lazy val prefixRules: DataFrame =
    (for {
      h <- 0L until p.nHosts
      (hk, v) <- Inputs.hostKeys(h).zipWithIndex
      pre <- Inputs.prefixDisallows(seed, h, v)
    } yield (hk, pre)).toDF("__host", "__prefix")

  private def politeChecks(b: DataFrame, d: Int): Seq[Check] = {
    val withHost = b.withColumn("__host", hostOfUrl)
    val worst = withHost.groupBy("__host")
      .agg(count(lit(1)).as("n"), max(col("wave")).as("w"))
      .agg(max("n"), max("w")).head()
    val (maxN, maxWave) =
      if (worst.isNullAt(0)) (0L, 0L)
      else (worst.getLong(0), worst.getAs[Number](1).longValue)
    val disallowed = withHost.withColumn("__path", pathOfUrl)
      .join(broadcast(prefixRules), Seq("__host"))
      .filter(col("__path").startsWith(col("__prefix")))
      .count()
    Seq(
      Check(s"dump$d.quota_respected", maxN <= quota && maxWave <= quota,
        s"max $maxN urls / wave $maxWave per host, quota $quota"),
      Check(s"dump$d.robots_prefix_respected", disallowed == 0,
        s"$disallowed scheduled urls match a generated Disallow prefix"))
  }
}

final class CorpusWorkload(val spark: SparkSession, seed: Long, docs: Long,
                           p: DocFixtures.Params, val minTokens: Int)
    extends Workload {

  val dumps = 2
  def itemsPerDump: Long = docs

  /** First digest seen per table name; every later cycle must match it. */
  private val firstDigests = scala.collection.mutable.Map.empty[String, String]
  private val lastDigests = scala.collection.mutable.Map.empty[String, String]
  override def digests: Map[String, String] = lastDigests.toMap

  def writeInputs(dir: String): Unit =
    (0 until dumps).foreach(d =>
      Inputs.writeCorpusDump(spark, seed, d, docs, p, s"$dir/dump-$d"))

  def tableDirs(tables: String): Seq[String] =
    (0 until dumps).map(d => s"$tables/corpus-$d")

  def call(inputs: String, tables: String, d: Int): Unit = {
    // dump 2 cross-dedups against dump 1's minhash-stage output
    val seen = if (d == 0) None else {
      val prev = s"$tables/corpus-${d - 1}"
      Snapshots.chain(prev).find(_.lineage == "corpus stage=minhash")
        .map(m => spark.read.parquet(s"$prev/${m.dataPath}"))
    }
    CorpusJob.runPipeline(spark, spark.read.parquet(s"$inputs/dump-$d"),
      s"$tables/corpus-$d", minTokens = minTokens, seenMh = seen)
  }

  def check(inputs: String, tables: String): Seq[Check] =
    tableDirs(tables).zipWithIndex.flatMap { case (t, d) =>
      val chain = Snapshots.chain(t).reverse
      if (chain.size != 5)
        Seq(Check(s"dump$d.stages_committed", ok = false,
          s"${chain.size} of 5 stages committed"))
      else {
        val funnel = Checks.funnel(chain.map(m =>
          (m.metrics("rows_in"), m.metrics("rows_out"))))
        val out = spark.read.parquet(s"$t/${chain.last.dataPath}")
        val r = out.agg(count(lit(1)), count_distinct(col("ord")),
          min("ord"), max("ord"),
          sum(xxhash64(col("doc_id"), col("ord"), to_json(col("spans")))
            .cast("decimal(38,0)"))).head()
        val n = r.getLong(0)
        val contiguous = n == 0 || (r.getLong(1) == n &&
          r.getLong(2) == 0 && r.getLong(3) == n - 1)
        val digest = s"$n:${r.get(4)}"
        val first = firstDigests.getOrElseUpdate(s"dump$d", digest)
        lastDigests(s"dump$d") = digest
        Seq(
          Check(s"dump$d.funnel_never_grows", funnel.isEmpty,
            funnel.getOrElse("rows_out <= rows_in at every stage")),
          Check(s"dump$d.ord_contiguous", contiguous,
            s"$n rows, ${r.getLong(1)} distinct ords in [${r.get(2)}, ${r.get(3)}]"),
          Check(s"dump$d.digest_stable", digest == first,
            s"digest $digest, first cycle $first"))
      }
    }
}

object Checks {
  /** None when every stage keeps rows_out <= rows_in and each stage's
    * rows_in is its predecessor's rows_out; else the first violation.
    */
  def funnel(stages: Seq[(Long, Long)]): Option[String] = {
    val grows = stages.indexWhere { case (in, out) => out > in }
    val gap = stages.sliding(2).indexWhere {
      case Seq((_, out), (in, _)) => in != out
      case _ => false
    }
    if (grows >= 0) Some(s"stage $grows: rows_out ${stages(grows)._2} > rows_in ${stages(grows)._1}")
    else if (gap >= 0) Some(s"stage ${gap + 1}: rows_in differs from stage $gap rows_out")
    else None
  }
}
