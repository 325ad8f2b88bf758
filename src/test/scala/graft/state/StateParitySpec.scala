package graft.state

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.TestSpark
import graft.ref.RefState
import org.apache.spark.sql.functions.{col, xxhash64}
import org.scalatest.funsuite.AnyFunSuite

/** Compaction parity: `UrlSeenState.compactDistributed` (the update's
  * per-partition builder with no previous chains) writes the same blob
  * bytes and reports the same segment counts as the distinct → groupByKey
  * reference (`graft.ref.RefState`), on grown states whose seen set holds
  * duplicate urls and leaves some partitions without keys.
  */
class StateParitySpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def copyDir(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    val st = Files.list(from)
    try st.iterator().asScala.foreach(f =>
      Files.copy(f, to.resolve(f.getFileName.toString)))
    finally st.close()
  }

  /** Grow a `parts`-partition state over `sizes` batches of urls that avoid
    * partitions `skip`, then compact it both ways from the url set plus
    * `dups` of its urls again; (new, reference) segment counts and blobs.
    */
  private def compactBoth(parts: Int, sizes: Seq[Int], skip: Set[Int],
                          dups: Int) = {
    val dir = Files.createTempDirectory("state-parity")
    val pool = (0 until sizes.sum * 8)
      .map(i => s"https://h${i % 53}.example.com/q/$i").toDF("url")
      .withColumn("pid", UrlSeenState.partitionCol(xxhash64(col("url")), parts))
      .filter(!col("pid").isin(skip.toSeq: _*))
      .select("url").as[String].collect().toSeq.take(sizes.sum)
    assert(pool.size == sizes.sum)
    val bounds = sizes.scanLeft(0)(_ + _)
    StateBatches.growBatches(dir.toString,
      bounds.zip(bounds.tail).map { case (a, b) => pool.slice(a, b) })(
      StateBatches.update(parts))
    val grown = dir.resolve(s"s${sizes.size - 1}")
    val (mine, ref) = (dir.resolve("mine"), dir.resolve("ref"))
    copyDir(grown, mine)
    copyDir(grown, ref)
    val seen = (pool ++ pool.take(dups)).toDF("url")
    val segsMine = UrlSeenState.compactDistributed(spark, seen, mine.toString, parts)
    val segsRef = RefState.compact(spark, seen, ref.toString, parts)
    def blobs(d: Path) = UrlSeenState.load(d.toString).parts.map(_.toBytes.toSeq).toSeq
    (UrlSeenState.load(grown.toString), segsMine, segsRef, blobs(mine), blobs(ref))
  }

  test("compacted blobs are byte-identical to the reference's") {
    val (grown, segsMine, segsRef, mine, ref) =
      compactBoth(parts = 8, sizes = Seq(400, 1600, 6400), skip = Set(2, 5),
                  dups = 700)
    assert(grown.parts.exists(_.numSegments > 2), "the state did not grow")
    assert(Seq(2, 5).forall(p => grown.parts(p).size == 0))
    assert(segsMine == segsRef)
    assert(!segsMine.contains(2) && !segsMine.contains(5),
      s"a partition without keys was rebuilt: $segsMine")
    assert(mine.size == 8 && mine == ref, "blob bytes differ from the reference")
  }

  test("compaction parity with a single grown batch and most partitions empty") {
    val (_, segsMine, segsRef, mine, ref) =
      compactBoth(parts = 16, sizes = Seq(50, 3000),
                  skip = (0 until 16).toSet -- Set(1, 9, 12), dups = 3050)
    assert(segsMine.keySet == Set(1, 9, 12))
    assert(segsMine == segsRef)
    assert(mine == ref, "blob bytes differ from the reference")
  }
}
