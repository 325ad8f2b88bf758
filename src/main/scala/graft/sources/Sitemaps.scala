package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sitemap ingestion for the frontier: the seed channel a continuous
  * crawler reads besides the index dumps the reference consumes
  * (robots.txt `Sitemap:` lines — which `Frontier.robotsSitemaps` already
  * surfaces — point here). Parses both document kinds from the
  * sitemaps.org protocol: `<urlset>` page entries (url + lastmod) and
  * `<sitemapindex>` child-sitemap pointers, as pure codegen'd regex
  * columns — one row per entry after a single explode, no XML library,
  * no UDF.
  */
object Sitemaps {

  /** Minimal XML entity decode for `<loc>` payloads (the five
    * predefined entities; `&amp;` last so it cannot re-activate the
    * others — the standard decode order).
    */
  def xmlUnescape(c: Column): Column = {
    val steps = Seq("&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&apos;" -> "'", "&amp;" -> "&")
    // literal StringReplace, not regexp_replace: the patterns were
    // Pattern.quote'd literals anyway, and the regex engine cost ~1 s
    // per million anchors in the outlink chain; replace-all semantics
    // and left-to-right order are identical
    steps.foldLeft(c) { case (acc, (e, ch)) =>
      org.apache.spark.sql.functions.replace(acc, lit(e), lit(ch))
    }
  }

  /** Parse sitemap XML documents: input (idCol, xmlCol) → one row per
    * entry (idCol, kind 'url' | 'sitemap', url, lastmod — empty string
    * when the entry carries none). Malformed blocks without a `<loc>`
    * are dropped. Real-world tolerant: container/entry tags may carry
    * attributes (the protocol REQUIRES xmlns on urlset) and documents
    * may be pretty-printed — all patterns run in DOTALL mode
    * (`(?s)`), and a single pass computes both containers' entries
    * (one explode, no second scan of the payloads).
    */
  def parse(sitemaps: DataFrame,
            idCol: String = "sitemap_id",
            xmlCol: String = "xml"): DataFrame = {
    def entryStructs(container: String, tag: String, kind: String) =
      transform(
        regexp_extract_all(
          regexp_extract(col(xmlCol),
            s"(?s)<$container(?:\\s[^>]*)?>(.*)</$container>", 1),
          lit(s"(?s)<$tag(?:\\s[^>]*)?>(.*?)</$tag>"), lit(1)),
        e => struct(lit(kind).as("kind"), e.as("e")))
    // NOTE: trim() strips only spaces in both engines — pretty-printed
    // values carry newlines, so whitespace-trim via regexp
    def wsTrim(c: org.apache.spark.sql.Column) =
      regexp_replace(c, "^\\s+|\\s+$", "")
    sitemaps.select(col(idCol),
        explode(concat(entryStructs("urlset", "url", "url"),
          entryStructs("sitemapindex", "sitemap", "sitemap"))).as("s"))
      .select(col(idCol), col("s.kind").as("kind"),
        xmlUnescape(wsTrim(regexp_extract(col("s.e"),
          "(?s)<loc(?:\\s[^>]*)?>(.*?)</loc>", 1))).as("url"),
        wsTrim(regexp_extract(col("s.e"),
          "(?s)<lastmod(?:\\s[^>]*)?>(.*?)</lastmod>", 1)).as("lastmod"))
      .where(col("url") =!= "")
  }
}
