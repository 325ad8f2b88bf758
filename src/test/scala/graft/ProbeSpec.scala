package graft

import java.nio.file.{Files, Paths}

import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Probe's two subcommands as library calls: `plan` writes one formatted
  * explain per query under the plans/ file naming, `time` counts the same
  * rows as the bare query, and neither leaves a pin behind.
  * q_frontier_pipeline is in each call because it pins while it builds.
  */
class ProbeSpec extends AnyFunSuite with Eventually {

  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def persistent: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `f`, then waits until no RDD it persisted is left (unpersist
    * does not block).
    */
  private def leavesNoPins[A](f: => A): A = {
    val before = persistent
    val a = f
    eventually(timeout(Span(60, Seconds))) {
      val leaked = persistent -- before
      assert(leaked.isEmpty, s"persistent RDDs left by the call: $leaked")
    }
    a
  }

  test("the pin probe query does pin when run bare") {
    val before = persistent
    SparkEntry.queries("q_frontier_pipeline")(spark, dir).count()
    try assert((persistent -- before).nonEmpty)
    finally Sessions.releasePins(spark)
  }

  test("plan writes <query>_<suffix>.txt with the formatted physical plan") {
    val out = Files.createTempDirectory("probe-plan").toString
    val names = Seq("q_politeness_rank", "q_frontier_pipeline")
    val paths = leavesNoPins(Probe.plan(spark, dir, out, "spec", names))
    assert(paths == names.map(q => Paths.get(out, s"${q}_spec.txt").toString))
    paths.foreach { p =>
      assert(Files.readString(Paths.get(p)).contains("== Physical Plan =="), p)
    }
  }

  test("time reports each query's row count") {
    val names = Seq("q_politeness_rank", "q_outlinks", "q_frontier_pipeline")
    val expected = names.map { q =>
      try q -> SparkEntry.queries(q)(spark, dir).count()
      finally Sessions.releasePins(spark)
    }
    val timed = leavesNoPins(Probe.time(spark, dir, names))
    assert(timed.map { case (q, _, n) => q -> n } == expected)
    assert(timed.forall(_._2 > 0))
  }
}
