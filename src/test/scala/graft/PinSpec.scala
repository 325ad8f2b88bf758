package graft

import java.nio.file.Files

import graft.fixtures.CrawlFixtures
import graft.operators.{FrontierJob, HostRank, LshDedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

/** Pin frees what it should: `release` the pins a frame reads directly,
  * `scoped` its pins on return and on a throw, and the operators that
  * pin per round keep at most their returned pin. Unpersist does not
  * block, so every check polls the context's persistent RDDs.
  */
class PinSpec extends AnyFunSuite with Eventually {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val patience = timeout(Span(60, Seconds))

  private def live: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Ids of the pinned RDDs `df` reads directly. */
  private def pinIds(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet

  private def freed(ids: Set[Int]): Unit =
    eventually(patience) { assert((live & ids).isEmpty, s"still pinned: ${live & ids}") }

  test("release frees a pin and the pin under a derived frame, not deeper ones") {
    val a = Pin(spark.range(100).toDF("x"))
    val b = Pin(spark.range(100).toDF("x"))
    val inner = Pin(spark.range(100).toDF("x"))
    val outer = Pin(inner.select((col("x") + 1).as("x")))
    val (ia, ib, iInner, iOuter) = (pinIds(a), pinIds(b), pinIds(inner), pinIds(outer))
    assert(Seq(ia, ib, iInner, iOuter).forall(ids => ids.size == 1 && ids.subsetOf(live)))

    Pin.release(a, b.withColumn("y", col("x") * 2), outer)
    freed(ia ++ ib ++ iOuter)
    assert(iInner.subsetOf(live), "a pin under a pin is not read directly")
    Pin.release(inner)
    freed(iInner)
  }

  test("scoped frees its pins on return and on a throw") {
    var taken = Set.empty[Int]
    val n = Pin.scoped { pin =>
      val p = pin(spark.range(50).toDF("x"))
      val q = pin.hold(Pin(spark.range(20).toDF("x")).select(col("x")))
      taken = pinIds(p) ++ pinIds(q)
      p.count() + q.count()
    }
    assert(n == 70 && taken.size == 2)
    freed(taken)

    taken = Set.empty
    intercept[IllegalStateException] {
      Pin.scoped { pin =>
        taken = pinIds(pin(spark.range(30).toDF("x")))
        throw new IllegalStateException("body failed")
      }
    }
    assert(taken.size == 1)
    freed(taken)
  }

  test("a polite runBatch that throws after pinning leaves no pin behind") {
    val p = CrawlFixtures.Params(nRecords = 400, nUrls = 200, nHosts = 10)
    // no path_prefix column: the robots gate fails to resolve after
    // `kept` was pinned
    val rules = Seq(("h0.example.com", false)).toDF("host_key", "allow")
    val table = Files.createTempDirectory("pin-spec-frontier").toString
    val before = live
    intercept[Exception] {
      FrontierJob.runBatch(spark, CrawlFixtures.rawLines(p).toDF(), table,
        robots = Some(rules), politenessQuota = 4)
    }
    eventually(patience) {
      val leaked = live -- before
      assert(leaked.isEmpty, s"pins left by the failed batch: $leaked")
    }
  }

  private lazy val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (5L, 6L),
    (6L, 7L), (8L, 9L), (9L, 10L), (10L, 8L)).toDF("src", "dst")

  test("labelPropagation keeps only its result pinned") {
    val before = live
    val labels = HostRank.labelPropagation(edges, iters = 4)
    assert(labels.count() == 10)
    eventually(patience) {
      val left = live -- before
      assert(left.subsetOf(pinIds(labels)), s"labelPropagation left: $left")
    }
    Pin.release(labels)
  }

  test("the distributed connectedComponents keeps only its result pinned") {
    val before = live
    val comps = LshDedup.connectedComponents(edges, localThreshold = 0)
    assert(comps.as[(Long, Long)].collect().toMap ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 5L, 6L -> 5L,
        7L -> 5L, 8L -> 8L, 9L -> 8L, 10L -> 8L))
    eventually(patience) {
      val left = live -- before
      assert(left.subsetOf(pinIds(comps)), s"connectedComponents left: $left")
    }
    Pin.release(comps)
  }
}
