package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ClusterIndexSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  test("acquire's trailing-newline strip equals the two-argument rtrim") {
    val s = spark
    import s.implicits._
    // \z, not $: Java's $ also matches before a final line terminator,
    // so "\n+$" would also strip the \n before "\r\n" in the last input
    val in = Seq[String](null, "", "\n", "a", "a\n\n", "a\nb\n", "a\n\r\n")
      .toDF("c")
    val got = in.select(col("c"), regexp_replace(col("c"), "\n+\\z", "").as("re"),
        rtrim(col("c"), "\n").as("rt"))
      .as[(String, String, String)].collect()
    got.foreach { case (c, re, rt) => assert(re == rt, s"on ${String.valueOf(c)}") }
    assert(got.map(_._2).toSeq ==
      Seq(null, "", "", "a", "a", "a\nb", "a\n\r"))
  }

  test("buildIndex round-trips through parse/prune/ranged-decode") {
    val s = spark
    import s.implicits._
    // 3 domains x 30 captures, blockSize 7 (patterns start mid-block on
    // purpose), 2 blocks per cdx file
    val rows = (for {
      d <- Seq("com,aaa", "com,bbb", "com,ccc")
      i <- 0 until 30
    } yield (s"$d)/p$i", i.toLong)).toDF("surt_path", "ts")
    val (files, cidx) = ClusterIndex.buildIndex(rows, 7, 2)
    // the cluster.idx parses with the production parser
    val parsed = ClusterIndex.parse(cidx).collect()
    assert(parsed.length == math.ceil(90.0 / 7).toInt)
    parsed.foreach { r =>
      assert(r.getAs[String]("file_name").matches("cdx-\\d{5}\\.gz"))
      assert(r.getAs[Long]("length") > 0)
    }
    // acquisition returns exactly the domain's captures — com,bbb
    // starts mid-block, so the predecessor widening is exercised
    val got = ClusterIndex.acquire(files, cidx, "com,bbb")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == (0 until 30).map(i => (s"com,bbb)/p$i", i.toLong)).toSet)
    // a pattern with no captures yields nothing (predecessor block is
    // scanned but line-matched away)
    assert(ClusterIndex.acquire(files, cidx, "com,bba").count() == 0)
  }
}
