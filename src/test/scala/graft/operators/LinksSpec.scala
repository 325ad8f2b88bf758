package graft.operators

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LinksSpec extends AnyFunSuite {

  private def spark = TestSpark.spark

  private def resolve(base: String, href: String): Option[String] = {
    val s = spark
    import s.implicits._
    Option(Seq((base, href)).toDF("b", "h")
      .select(Links.resolveCol(col("b"), col("h")))
      .head().getString(0))
  }

  test("resolveCol covers the RFC 3986 crawler cases") {
    val base = "https://a.com/d1/d2/page.html?q=1#top"
    assert(resolve(base, "https://b.org/x") == Some("https://b.org/x"))
    assert(resolve(base, "HTTP://B.ORG/x") == Some("HTTP://B.ORG/x"))
    assert(resolve(base, "//cdn.net/y") == Some("https://cdn.net/y"))
    assert(resolve(base, "/root.html") == Some("https://a.com/root.html"))
    assert(resolve(base, "sib.html") == Some("https://a.com/d1/d2/sib.html"))
    assert(resolve(base, "./sib.html") == Some("https://a.com/d1/d2/sib.html"))
    assert(resolve(base, "../up.html") == Some("https://a.com/d1/up.html"))
    assert(resolve(base, "../../top.html") == Some("https://a.com/top.html"))
    // fragments stripped from survivors
    assert(resolve(base, "sib.html#sec2") ==
      Some("https://a.com/d1/d2/sib.html"))
    // host-only base resolves relatives against '/'
    assert(resolve("https://a.com", "p.html") == Some("https://a.com/p.html"))
  }

  test("resolveCol drops non-fetchable and empty targets") {
    val base = "https://a.com/p"
    Seq("mailto:x@y.z", "javascript:void(0)", "tel:+123", "data:text/x,1",
      "", "#frag").foreach { h =>
      assert(resolve(base, h).isEmpty, s"href '$h' must drop")
    }
  }

  test("outlinks: both quote styles extracted, entities decoded, deduped") {
    val s = spark
    import s.implicits._
    val html = """<a href="/a">1</a><a href='/b'>2</a>""" +
      """<a class="x" href="/c?p=1&amp;q=2">3</a><a href="/a">dup</a>"""
    val out = Links.outlinks(
      Seq((1L, "https://h.co/base/p", html)).toDF("page_id", "url", "html"))
      .collect().map(_.getString(2)).toSet
    assert(out == Set("https://h.co/a", "https://h.co/b",
      "https://h.co/c?p=1&q=2"))
  }

  test("frontierCandidates strips tracking params from resolved links") {
    val s = spark
    import s.implicits._
    val html = """<a href="/p?utm_source=x&id=7">l</a>"""
    val out = Links.frontierCandidates(
      Seq((1L, "https://h.co/", html)).toDF("page_id", "url", "html"))
      .collect().map(_.getString(0)).toSet
    assert(out == Set("https://h.co/p?id=7"))
  }

  test("nofollow: rel'd anchors and robots-meta pages are not enqueued") {
    val s = spark
    import s.implicits._
    val follow = """<a href="/ok">k</a><a rel="nofollow" href="/paid">p</a>""" +
      """<a rel='ugc nofollow' href='/ugc'>u</a>"""
    val metaPage = """<meta name="robots" content="noindex, nofollow">""" +
      """<a href="/never">n</a>"""
    val out = Links.outlinks(Seq(
        (1L, "https://h.co/", follow),
        (2L, "https://h.co/", metaPage)).toDF("page_id", "url", "html"))
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(out.toSet == Set((1L, "https://h.co/ok")))
  }

  test("canonical: both attribute orders, unquoted rel, noindex drop, " +
       "self-canonical fallback, group winner") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      (1L, "https://a.co/p1",
        """<html><link rel="canonical" href="https://a.co/c"> xx</html>"""),
      (2L, "https://a.co/p2",
        """<html><link href="/c" rel="canonical"> yyyyyyyy</html>"""),
      (3L, "https://a.co/p3",
        """<html><link rel=canonical href="/c"> z</html>"""),
      (4L, "https://a.co/p4", "<html>no tag</html>"),
      (5L, "https://a.co/p5",
        """<html><meta name="robots" content="noindex">""" +
          """<link rel="canonical" href="/c"></html>"""),
      (6L, "https://a.co/p6",
        """<html><link rel="canonical" href="mailto:x"> w</html>""")
    ).toDF("page_id", "url", "html")
    val targets = Links.canonicalTargets(pages)
      .select("page_id", "canonical").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(targets == Map(
      1L -> "https://a.co/c", 2L -> "https://a.co/c", 3L -> "https://a.co/c",
      4L -> "https://a.co/p4",      // no tag -> self
      6L -> "https://a.co/p6"))     // unresolvable href -> self; 5 dropped
    val winners = Links.canonicalDedup(pages)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    // page 1 has the longest html in the /c group (61 vs 54 vs 43 chars)
    assert(winners("https://a.co/c") == (1L, 3L))
    assert(winners("https://a.co/p4") == (4L, 1L))
  }
}
