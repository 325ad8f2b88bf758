package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Outlink extraction — the operator that closes the crawl loop
  * (fetch → extract → resolve → enqueue): `<a href>` targets pulled
  * from fetched HTML and resolved against the page URL so the frontier
  * can ingest them as candidates. The reference never recrawls (it
  * reads the Common Crawl index), so this is frontier-native surface
  * beyond it.
  *
  * Everything is codegen'd regexp/CASE columns inside the RE2-safe
  * subset — the DuckDB oracle replays the identical patterns.
  * Resolution covers the RFC 3986 cases a crawler meets: absolute
  * http(s), protocol-relative, root-relative, and directory-relative
  * with bounded dot-segment removal (`MaxDotSegments` passes of the
  * `x/../` collapse — deeper chains are left unresolved; RE2 has no
  * lookahead, so a segment starting with '.' is not collapsed, which
  * only under-resolves, never corrupts). Non-fetchable schemes
  * (mailto:, javascript:, tel:, data:), fragment-only and empty
  * targets are dropped; fragments are stripped from survivors.
  */
object Links {

  val MaxDotSegments: Int = graft.expressions.UrlExpressions.MaxDotSegments

  /** rel="nofollow" inside an anchor tag — crawlers must not enqueue
    * the target (RE2-safe; also matches rel='nofollow' and space-
    * separated token lists).
    */
  val NofollowRel: String = "(?i)rel\\s*=\\s*[\"']?[^\"'>]*nofollow"

  /** Page-level robots meta nofollow: every link on the page is
    * non-enqueueable.
    */
  val MetaNofollow: String =
    "(?i)<meta\\s[^>]*name\\s*=\\s*[\"']?robots[\"']?[^>]*" +
      "content\\s*=\\s*[\"'][^\"']*nofollow"

  /** Whole `<a ...>` opening tags from an HTML column — tag-level so
    * per-anchor attributes (rel=nofollow) can gate the href.
    */
  def anchorTagsCol(html: Column): Column =
    regexp_extract_all(html, lit("(?i)<a\\s[^>]*>"), lit(0))

  /** Raw href value from one anchor tag (double- then single-quoted;
    * '' when absent/empty — resolve drops it). Callers entity-decode
    * after exploding (Sitemaps.xmlUnescape, amp last) — inside an
    * array lambda the decode chain would run interpreted per element
    * (HOFs are CodegenFallback).
    */
  def hrefFromTag(tag: Column): Column = {
    val dq = regexp_extract(tag, "(?i)href\\s*=\\s*\"([^\"]*)\"", 1)
    val sq = regexp_extract(tag, "(?i)href\\s*=\\s*'([^']*)'", 1)
    when(dq =!= "", dq).otherwise(sq)
  }

  /** Resolve one href column against a base-URL column. Returns null
    * for dropped targets (non-fetchable scheme, fragment-only, empty).
    *
    * Backed by the NATIVE `graft_resolve_url` expression
    * ([[graft.expressions.UrlExpressions]]) — the equivalent pure-
    * Column CASE nests the whole resolution tree inside each of the
    * dot-segment regexp_replace levels, blowing generated code past
    * the JIT limit and dropping the stage to interpreted mode
    * (measured 24 s for 900k rows; the compiled scalar does the same
    * work in under a second).
    */
  def resolveCol(base: Column, href: Column): Column =
    graft.expressions.UrlExpressions.resolveUrlCol(base, href)

  /** (idCol, urlCol, link) — one row per resolved outlink, de-duplicated
    * per page. Explode + pure columns; the only shuffle is the final
    * distinct, keyed on (page, link).
    */
  def outlinks(pages: DataFrame, idCol: String = "page_id",
               urlCol: String = "url",
               htmlCol: String = "html"): DataFrame = {
    pages
      .where(!col(htmlCol).rlike(MetaNofollow)) // page-level nofollow
      .select(col(idCol), col(urlCol),
        explode(anchorTagsCol(col(htmlCol))).as("tag"))
      .where(!col("tag").rlike(NofollowRel)) // per-anchor nofollow
      .withColumn("href",
        graft.sources.Sitemaps.xmlUnescape(hrefFromTag(col("tag"))))
      .withColumn("link", resolveCol(col(urlCol), col("href")))
      .where(col("link").isNotNull)
      .select(col(idCol), col(urlCol), col("link"))
      .distinct()
  }

  /** Page-level robots meta noindex: the page must not enter the
    * corpus/index at all (stronger than nofollow).
    */
  val MetaNoindex: String =
    "(?i)<meta\\s[^>]*name\\s*=\\s*[\"']?robots[\"']?[^>]*" +
      "content\\s*=\\s*[\"'][^\"']*noindex"

  /** rel=canonical target per page: the URL the page itself declares
    * as its canonical form — the dedup signal that beats any content
    * similarity when present (CMSes emit the same article under
    * session/tracking/pagination URL variants, all pointing one
    * canonical). Pure codegen'd regex columns in the RE2-safe subset
    * (both attribute orders; unquoted rel); when two differently-
    * ordered canonical tags disagree, the rel-before-href one wins —
    * deterministic and replayed identically by the oracle. noindex
    * pages are dropped entirely; pages without a canonical link (or
    * whose href does not resolve) are their own canonical.
    */
  def canonicalTargets(pages: DataFrame, idCol: String = "page_id",
                       urlCol: String = "url",
                       htmlCol: String = "html"): DataFrame = {
    val t1 = regexp_extract(col(htmlCol),
      "(?i)<link\\s[^>]*rel\\s*=\\s*[\"']?canonical[\"']?[^>]*" +
        "href\\s*=\\s*[\"']([^\"']*)[\"']", 1)
    val t2 = regexp_extract(col(htmlCol),
      "(?i)<link\\s[^>]*href\\s*=\\s*[\"']([^\"']*)[\"'][^>]*" +
        "rel\\s*=\\s*[\"']?canonical", 1)
    val href = when(t1 =!= "", t1).otherwise(t2)
    pages.where(!col(htmlCol).rlike(MetaNoindex))
      .withColumn("canonical",
        when(href === "", col(urlCol))
          .otherwise(coalesce(resolveCol(col(urlCol), href), col(urlCol))))
  }

  /** Canonical-group dedup: one winner per declared canonical URL —
    * longest html (the fullest rendering of the article), smallest
    * page id on ties (the A0 argmax idiom, one window-free max_by
    * shuffle keyed by canonical).
    */
  def canonicalDedup(pages: DataFrame, idCol: String = "page_id",
                     urlCol: String = "url",
                     htmlCol: String = "html"): DataFrame =
    canonicalTargets(pages, idCol, urlCol, htmlCol)
      .groupBy("canonical")
      .agg(
        max_by(col(idCol),
          struct(length(col(htmlCol)), col(idCol) * -1)).as("winner_id"),
        count(lit(1)).as("n_members"))

  /** Frontier candidates from fetched pages: resolved outlinks with
    * tracking params stripped — ready for the seen-set anti join.
    */
  def frontierCandidates(pages: DataFrame, idCol: String = "page_id",
                         urlCol: String = "url",
                         htmlCol: String = "html"): DataFrame =
    outlinks(pages, idCol, urlCol, htmlCol)
      .select(graft.functions.Urls
        .stripTrackingCol(col("link")).as("url"))
      .distinct()
}
