package graft.expressions

import graft.TestSpark
import graft.functions.MinHashF
import graft.operators.{FrequentParagraphs, LshDedup, Similarity}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The native kernels' Column forms build their Catalyst expressions
  * directly, so they need no SQL name: on a new session, whose function
  * registry holds none of graft's names, each one evaluates and equals
  * its Scala entry point.
  */
class NativeColumnsSpec extends AnyFunSuite {

  lazy val fresh = TestSpark.spark.newSession()
  import fresh.implicits._

  private def u(s: String): UTF8String = UTF8String.fromString(s)

  private val texts = Seq("the cat und der hund sat on the mat",
    "cafe\u0301 \u00e9t\u00e9 \u00c3\u00a9t\u00c3\u00a9 na\u00efve", "x", "")

  private def pairs(a: ArrayData): Seq[(Long, Long)] =
    (0 until a.numElements()).map { i =>
      val s = a.getStruct(i, 2); (s.getLong(0), s.getLong(1))
    }

  test("string kernels equal their Scala entry points") {
    Seq("graft_lang_id", "graft_minhash_bands", "graft_nfc", "graft_winnow")
      .foreach(f => assert(!fresh.catalog.functionExists(f), f))
    val t = col("t")
    val rows = texts.toDF("t").select(t,
      LangExpressions.langIdCol(t), NormalizeExpressions.nfcCol(t),
      NormalizeExpressions.stripAccentsCol(t),
      NormalizeExpressions.fixMojibakeCol(t), MinHashExpressions.bandsCol(t, 8),
      WinnowExpressions.winnowCol(t, 4, 3)).collect()
    assert(rows.length == texts.length)
    rows.foreach { r =>
      val s = r.getString(0)
      assert(r.getString(1) == LangExpressions.langId(u(s)).toString, s)
      assert(r.getString(2) == NormalizeExpressions.nfc(u(s)).toString, s)
      assert(r.getString(3) == NormalizeExpressions.stripAccents(u(s)).toString, s)
      assert(r.getString(4) == NormalizeExpressions.fixMojibake(u(s)).toString, s)
      assert(r.getSeq[Long](5) ==
        MinHashF.bandHashes(MinHashF.signature(s), 8).toSeq, s)
      assert(r.getSeq[Row](6).map(p => (p.getLong(0), p.getLong(1))) ==
        pairs(WinnowExpressions.winnow(u(s), 4, 3)), s)
    }
  }

  test("pair kernels equal their Scala entry points") {
    val cases = Seq(
      ("https://a.com/d1/d2/page.html", "../x.html"),
      ("https://a.com/d1/", "//cdn.net/y"),
      ("https://a.com/", "mailto:someone@a.com"),
      ("https://a.com/abc", "https://a.com/abd"))
    val rows = cases.toDF("a", "b").select(col("a"), col("b"),
      LcpExpressions.lcpCol(col("a"), col("b")),
      UrlExpressions.resolveUrlCol(col("a"), col("b"))).collect()
    rows.foreach { r =>
      val (a, b) = (r.getString(0), r.getString(1))
      assert(r.getLong(2) == LcpExpressions.commonPrefixLen(u(a), u(b)))
      assert(Option(r.getString(3)) ==
        Option(UrlExpressions.resolve(u(a), u(b))).map(_.toString))
    }
    assert(rows.exists(_.isNullAt(3)) && rows.exists(!_.isNullAt(3)))
  }

  test("vector kernels equal their Scala entry points") {
    val vs = Seq((Seq(1.0, 2.0, 3.5), Seq(0.5, -4.0, 2.0)),
      (Seq(0.1, 0.2, 0.3), Seq(0.3, 0.2, 0.1)))
    val rows = vs.toDF("a", "b").select(col("a"), col("b"),
      VectorExpressions.dotCol(col("a"), col("b")),
      VectorExpressions.sqDistCol(col("a"), col("b"))).collect()
    rows.foreach { r =>
      val a = new GenericArrayData(r.getSeq[Double](0).toArray)
      val b = new GenericArrayData(r.getSeq[Double](1).toArray)
      assert(r.getDouble(2) == VectorExpressions.dot(a, b))
      assert(r.getDouble(3) == VectorExpressions.sqDist(a, b))
    }
  }

  test("operators that call a Column form need no registration") {
    val q = Seq(1.0, 0.0, 2.0)
    val emb = Seq(3.0, 4.0, 0.5)
    val cos = Seq(emb).toDF("e")
      .select(Similarity.cosineCol(col("e"), q)).head().getDouble(0)
    val dot = emb.zip(q).map { case (x, y) => x * y }.sum
    assert(math.abs(cos - dot / (math.sqrt(emb.map(x => x * x).sum) *
      math.sqrt(q.map(x => x * x).sum))) < 1e-12)

    val paras = Seq("first paragraph text", "second one", "")
    val got = Seq(paras).toDF("ps")
      .select(FrequentParagraphs.paragraphBandsCol(col("ps"), 8))
      .head().getSeq[Seq[Long]](0)
    assert(got == paras.map(p =>
      MinHashF.bandHashes(MinHashF.signature(p), 8).toSeq))
  }

  test("minhashed takes a text column whose name is no SQL identifier") {
    val text = "some text for the band hashes"
    val mh = LshDedup.minhashed(
      Seq((1L, 0L, text)).toDF("doc_id", "ord", "body text"), 8,
      textCol = "body text")
    assert(mh.select("bands").head().getSeq[Long](0) ==
      MinHashF.bandHashes(MinHashF.signature(text), 8).toSeq)
  }
}
