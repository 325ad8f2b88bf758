package graft.expressions

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

class NormalizeExpressionsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  // explicit escapes — source-encoding-proof
  private val Decomposed = "café" // e + combining acute
  private val Composed   = "café"       // precomposed é

  test("graft_nfc composes combining marks, is idempotent, keeps nulls") {
    graft.functions.Registry.register(spark)
    assert(Decomposed != Composed) // sanity: the fixture is decomposed
    val texts = Seq(Decomposed, Composed, "plain ascii", "", null)
    val rows = texts.toDF("t").selectExpr("t", "graft_nfc(t) AS n")
      .collect()
    val got = rows.map(r => Option(r.getString(0)) -> (
      if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(got(Some(Decomposed)) == Composed)  // composed
    assert(got(Some(Composed)) == Composed)    // already NFC: unchanged
    assert(got(Some("plain ascii")) == "plain ascii")
    assert(got(Some("")) == "")
    assert(got(None) == null)
    // matches the JDK normalizer on a mixed string (the oracle's
    // nfc_normalize agrees with this by the Unicode spec)
    val mixed = "å b ö ñ x"
    val df2 = Seq(mixed).toDF("t").selectExpr("graft_nfc(t) AS n")
    assert(df2.collect().head.getString(0) ==
      java.text.Normalizer.normalize(mixed,
        java.text.Normalizer.Form.NFC))
  }

  test("normalization changes hash identity — the reason the op exists") {
    graft.functions.Registry.register(spark)
    val r = Seq(("é", "é")).toDF("a", "b")
      .selectExpr("md5(a) = md5(b) AS raw_eq",
        "md5(graft_nfc(a)) = md5(graft_nfc(b)) AS norm_eq")
      .collect().head
    assert(!r.getBoolean(0) && r.getBoolean(1))
  }

  test("stripAccents: accents drop, non-composition chars pass through") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    graft.functions.Registry.register(spark)
    val cases = Seq(
      ("café åño öko", "cafe ano oko"),     // precomposed Latin
      ("ṓm", "om"),                          // two stacked marks
      ("søster ßeta đen", "søster ßeta đen"),// NOT base+mark: unchanged
      ("ёж йод", "еж иод"),                  // Cyrillic breve/diaeresis
      ("plain ascii text", "plain ascii text"))
    val got = cases.map(_._1).toDF("t")
      .selectExpr("graft_strip_accents(t) AS s").as[String].collect()
    got.zip(cases.map(_._2)).foreach { case (g, w) => assert(g == w) }
  }

  test("stripAccents is idempotent and NFC-composition-insensitive") {
    val spark = graft.TestSpark.spark
    import spark.implicits._
    graft.functions.Registry.register(spark)
    // decomposed e + COMBINING ACUTE vs precomposed é: same output
    val r = Seq(("é", "é")).toDF("a", "b")
      .selectExpr(
        "graft_strip_accents(a) = graft_strip_accents(b) AS eq",
        "graft_strip_accents(graft_strip_accents(a)) = " +
          "graft_strip_accents(a) AS idem",
        "graft_strip_accents(a) AS sa")
      .collect().head
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getString(2) == "e")
  }

  test("graft_fix_mojibake repairs latin-1 and cp1252 renderings, " +
       "double-encoding, and leaves clean text alone") {
    graft.functions.Registry.register(spark)
    def corrupt(s: String): String = new String(
      s.getBytes("UTF-8"), java.nio.charset.StandardCharsets.ISO_8859_1)
    def corrupt1252(s: String): String = {
      val b = s.getBytes("UTF-8")
      val sb = new StringBuilder
      b.foreach { by =>
        val u = by & 0xFF
        // cp1252 rendering: 0x80-0x9F band shows smart-quote glyphs
        sb.append(new String(Array(by),
          if (u >= 0x80 && u <= 0x9F) "windows-1252"
          else "ISO-8859-1"))
      }
      sb.toString
    }
    val cases = Seq(
      corrupt("café zür")          -> "café zür",       // latin-1 class
      corrupt("don’t – …")         -> "don’t – …",      // C1-control class
      corrupt1252("don’t – …")     -> "don’t – …",      // smart-quote class
      corrupt(corrupt("café"))     -> "café",           // double-encoded
      "søster ña"                  -> "søster ña",      // clean: untouched
      "plain ascii"                -> "plain ascii",
      ""                           -> "")
    val got = cases.map(_._1).toDF("t")
      .selectExpr("t", "graft_fix_mojibake(t) AS f").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    cases.foreach { case (in, want) =>
      assert(got(in) == want, s"input <$in>")
      // idempotent: a repaired string has nothing left to repair
      val again = Seq(got(in)).toDF("t")
        .selectExpr("graft_fix_mojibake(t) AS f").collect().head.getString(0)
      assert(again == got(in), s"not idempotent on <$in>")
    }
  }
}
