package graft.operators

import graft.TestSpark
import graft.ref.RefWinnowing
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class WinnowingSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  // The winnowing paper's worked example hash sequence (Schleimer/
  // Wilkerson/Aiken §2, "77 74 42 17 98 ..."): plain winnowing with
  // w=4 and the rightmost-min tie rule selects exactly the paper's
  // fingerprint multiset {17, 17, 8, 39, 17} at positions 4,7,9,12,16.
  private val paperHashes =
    Seq(77L, 74L, 42L, 17L, 98L, 50L, 17L, 98L, 8L, 88L, 67L, 39L,
        77L, 74L, 42L, 17L, 98L)

  test("winnowSelect reproduces the paper example (rightmost min)") {
    val got = Seq(Tuple1(paperHashes)).toDF("h")
      .select(explode(RefWinnowing.winnowSelect(col("h"), w = 4)).as("s"))
      .select($"s.pos", $"s.fp").as[(Long, Long)].collect().toSet
    assert(got == Set((4L, 17L), (7L, 17L), (9L, 8L), (12L, 39L),
                      (16L, 17L)))
  }

  test("coverage: every window contains a selected position") {
    val sel = Seq(Tuple1(paperHashes)).toDF("h")
      .select(explode(RefWinnowing.winnowSelect(col("h"), w = 4)).as("s"))
      .select($"s.pos").as[Long].collect().toSet
    (1 to paperHashes.size - 3).foreach { j =>
      assert((j until j + 4).exists(p => sel.contains(p.toLong)),
        s"window at $j uncovered")
    }
  }

  test("selected values are true window minima") {
    val rows = Seq(Tuple1(paperHashes)).toDF("h")
      .select(explode(RefWinnowing.winnowSelect(col("h"), w = 4)).as("s"))
      .select($"s.pos", $"s.fp").as[(Long, Long)].collect()
    rows.foreach { case (pos, fp) =>
      assert(paperHashes(pos.toInt - 1) == fp, "fp is the hash at pos")
    }
  }

  test("short inputs yield no fingerprints; k+w-1 chars yield one") {
    val docs = Seq(
      (1L, "ab"),            // < k chars: no grams
      (2L, "a b, c-d e!f"),  // 6 normalized chars -> 2 grams < w
      (3L, "abcdefgh")       // 8 = k+w-1 chars -> exactly one window
    ).toDF("doc_id", "text")
    val byDoc = Winnowing.fingerprints(docs)
      .groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    assert(!byDoc.contains(1L) && !byDoc.contains(2L))
    assert(byDoc(3L) == 1L)
  }

  test("winnowing guarantee: shared substring >= k+w-1 chars => " +
       "shared fingerprint value") {
    val docs = Seq(
      (1L, "zzzz the quick brown foxes leap yyyy"),
      (2L, "aa the quick brown foxes leap bb"),
      (3L, "completely unrelated word soup goes here instead")
    ).toDF("doc_id", "text")
    val pairs = Winnowing.sharedPairs(docs)
      .select("a_id", "b_id").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("fused winnow kernel == the HOF column chain it replaced, " +
       "across alphabets, punctuation, unicode and edge lengths") {
    val rnd = new scala.util.Random(42)
    val alpha = "abcxyz 0189,.!-éÉ中"
    val texts = (0 until 40).map { i =>
      (i.toLong, (0 until rnd.nextInt(160))
        .map(_ => alpha(rnd.nextInt(alpha.length))).mkString)
    } ++ Seq((100L, ""), (101L, "ABCdefGHIjkl"), (102L, "!!!???"),
      (103L, "ÀÉÎ中文 UPPER lower 0123456789 mix"))
    val docs = texts.toDF("doc_id", "text")
    val got = Winnowing.fingerprints(docs)
      .as[(Long, Long, Long)].collect().toSeq.sorted
    val want = docs
      .select(col("doc_id"), RefWinnowing.gramCodes(col("text")).as("__codes"))
      .select(col("doc_id"),
        RefWinnowing.gramHashesFromCodes(col("__codes")).as("__h"))
      .select(col("doc_id"),
        explode(RefWinnowing.winnowSelect(col("__h"))).as("sel"))
      .select(col("doc_id"), $"sel.pos", $"sel.fp")
      .as[(Long, Long, Long)].collect().toSeq.sorted
    assert(got == want)
    assert(want.nonEmpty, "fixture produced no fingerprints")
  }

  test("hot fingerprints above maxDf are dropped before the pair join") {
    val common = "the quick brown foxes leap over the lazy dogs daily"
    val docs = (1L to 5L).map(i => (i, s"doc$i $common")).toDF(
      "doc_id", "text")
    val pairs = Winnowing.sharedPairs(docs, maxDf = 3)
    assert(pairs.count() == 0, "df=5 buckets dropped by maxDf=3")
  }
}
