package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.fixtures.CrawlFixtures
import graft.operators.{Frontier, FrontierJob, HostRank, LshDedup, Spectral}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
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

  /** The messages logged while `body` runs, from every logger. */
  private def logged(body: => Unit): Seq[String] = {
    val msgs = new ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("pin-spec", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        msgs.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getRootLogger
    root.addAppender(appender)
    try body
    finally { root.removeAppender(appender); appender.stop() }
    msgs.asScala.toSeq
  }

  private val CheckpointWarn = "locally checkpointed"

  test("release and releaseAll free pins without the local-checkpoint WARN") {
    // control: a raw unpersist of a pin's RDD logs the line, so the
    // capture below would see one
    val control = Pin(spark.range(10).toDF("x"))
    val raw = logged(control.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    })
    assert(raw.exists(_.contains(CheckpointWarn)), raw.mkString("\n"))
    freed(pinIds(control))

    val a = Pin(spark.range(100).toDF("x"))
    val b = Pin(spark.range(100).toDF("x"))
    val (ia, ib) = (pinIds(a), pinIds(b))
    val released = logged(Pin.release(a))
    freed(ia)
    assert(ib.subsetOf(live))
    val all = logged(Pin.releaseAll(spark))
    freed(ib)
    val warns = (released ++ all).filter(_.contains(CheckpointWarn))
    assert(warns.isEmpty, warns.mkString("\n"))
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

  test("releasing politenessRankEx's pins after an unbounded call frees them all") {
    val cand = (0 until 2000).map { i =>
      val h = if (i % 2 == 0) "mega.example.com" else s"h${i % 37}.example.com"
      (h, s"u$i", i.toLong)
    }.toDF("host_key", "url", "pri").repartition(8)
    val before = live
    val (ranked, pins) = Frontier.politenessRankEx(cand, "host_key",
      Seq(col("pri").asc), quota = Int.MaxValue)
    assert(ranked.count() == 2000)
    Pin.release(pins: _*)
    eventually(patience) {
      val leaked = live -- before
      assert(leaked.isEmpty, s"pins left by the unbounded rank: $leaked")
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

  test("pcaTop keeps only the pins its result reads") {
    val emb = Seq(
      (1L, Seq(1.0, 2.0, 0.5)), (2L, Seq(2.0, 4.1, 1.0)),
      (3L, Seq(0.5, 1.0, 0.2)), (4L, Seq(3.0, 5.9, 1.6)),
      (5L, Seq(1.5, 3.2, 0.7))).toDF("vec_id", "embedding")
    val before = live
    val top = Spectral.pcaTop(emb, iters = 5)
    assert(top.count() == 3)
    eventually(patience) {
      val left = live -- before
      assert(left.subsetOf(pinIds(top)), s"pcaTop left: $left")
    }
    Pin.release(top)
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
