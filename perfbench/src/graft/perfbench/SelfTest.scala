package graft.perfbench

import java.nio.file.Path

import graft.state.Snapshots
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Shows that the output checks catch a wrong output: one clean cycle must
  * pass every check, then a planted fault must fail the named checks.
  */
object SelfTest {

  def run(spark: SparkSession, wl: Workload, work: Path): Map[String, Any] = {
    val inputs = work.resolve("inputs").toString
    val tables = work.resolve("tables").toString
    wl.writeInputs(inputs)
    (0 until wl.dumps).foreach(d => wl.call(inputs, tables, d))
    val clean = wl.check(inputs, tables)
    val (planted, mustFail) = plant(spark, wl, tables)
    val after = wl.check(inputs, tables)
    val caught = mustFail.map(n => n -> after.exists(c => c.name == n && !c.ok))
    val funnelCaught = Checks.funnel(Seq((10L, 10L), (10L, 11L))).isDefined &&
      Checks.funnel(Seq((10L, 9L), (8L, 8L))).isDefined &&
      Checks.funnel(Seq((10L, 9L), (9L, 9L))).isEmpty
    Map(
      "clean" -> clean.map(c => Map("name" -> c.name, "ok" -> c.ok,
        "detail" -> c.detail)),
      "planted" -> planted,
      "caught" -> (caught.toMap + ("funnel_arithmetic" -> funnelCaught)),
      "ok" -> (clean.forall(_.ok) && caught.forall(_._2) && funnelCaught))
  }

  /** Appends a wrong row to a committed output. Returns what was planted
    * and the checks that must now fail.
    */
  private def plant(spark: SparkSession, wl: Workload,
                    tables: String): (String, Seq[String]) = wl match {
    case f: FrontierWorkload if !f.robots =>
      val t = s"$tables/frontier"
      val path = s"$t/${Snapshots.chain(t).last.dataPath}-batches"
      spark.read.parquet(path).limit(1).write.mode("append").parquet(path)
      ("one scheduled row duplicated in dump 0",
       Seq("scheduled_unique", "scheduled_equals_distinct_inputs"))
    case f: FrontierWorkload =>
      val t = s"$tables/frontier"
      val path = s"$t/${Snapshots.chain(t).last.dataPath}-batches"
      val (host, prefix) = (0L until 1000L).iterator.flatMap { h =>
        Inputs.hostKeys(h).zipWithIndex.flatMap { case (hk, v) =>
          Inputs.prefixDisallows(f.seed, h, v).map(hk -> _) }
      }.next()
      val row = spark.read.parquet(path).limit(1)
        .withColumn("url", lit(s"https://$host${prefix}planted"))
        .withColumn("host_key", lit(host))
        .withColumn("wave", lit(f.quota + 1).cast(spark.read.parquet(path)
          .schema("wave").dataType))
      row.write.mode("append").parquet(path)
      (s"https://$host${prefix}planted scheduled at wave ${f.quota + 1} in dump 0",
       Seq("dump0.quota_respected", "dump0.robots_prefix_respected"))
    case _: CorpusWorkload =>
      val t = s"$tables/corpus-0"
      val path = s"$t/${Snapshots.chain(t).head.dataPath}"
      val out = spark.read.parquet(path)
      val maxOrd = out.agg(max("ord")).head().getLong(0)
      out.limit(1).withColumn("ord", lit(maxOrd + 10)).write.mode("append")
        .parquet(path)
      (s"one output row re-appended with ord ${maxOrd + 10} in dump 0",
       Seq("dump0.ord_contiguous", "dump0.digest_stable"))
  }
}
