package graft.functions

import java.nio.charset.{CodingErrorAction, StandardCharsets}
import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** URL canonicalization, faithful to the reference's Python semantics:
  *   - `unquoteInf`: percent-decode to fixpoint (cc_corpus/utils.py:297–308)
  *   - `host`: urlsplit().netloc (scripts/filter_index.py:113–117)
  *   - `stripWww`: ^(www|ww2|ww3|www2|www3)\. (filter_index.py:39)
  *   - `surtKey`: reversed host labels, `www[1-9]?`/`*` head dropped
  *     (cc_corpus/index.py:26–36)
  *   - `bareUrl`: protocol-less URL for http/https twin matching
  *     (scripts/frequent_paragraphs.py:226–229)
  *
  * Pure Scala versions feed the single-threaded reference interpreter and
  * the UDFs; everything regex-shaped is also exposed as Column expressions
  * built from `functions._` so the hot path stays inside whole-stage
  * codegen.
  */
object Urls {

  // ---- pure Scala (reference-parity) ----

  /** One round of Python `urllib.parse.unquote`: decode runs of %XX
    * triplets as UTF-8 with replacement; malformed escapes pass through.
    */
  def unquoteOnce(s: String): String = {
    val n = s.length
    if (s.indexOf('%') < 0) return s
    val out = new java.lang.StringBuilder(n)
    var i = 0
    val bytes = new java.io.ByteArrayOutputStream()
    def flushBytes(): Unit = if (bytes.size() > 0) {
      val dec = StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPLACE)
        .onUnmappableCharacter(CodingErrorAction.REPLACE)
      out.append(dec.decode(ByteBuffer.wrap(bytes.toByteArray)).toString)
      bytes.reset()
    }
    def isHex(c: Char): Boolean =
      (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f') || (c >= 'A' && c <= 'F')
    while (i < n) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < n &&
          isHex(s.charAt(i + 1)) && isHex(s.charAt(i + 2))) {
        bytes.write(Integer.parseInt(s.substring(i + 1, i + 3), 16))
        i += 3
      } else {
        flushBytes()
        out.append(c)
        i += 1
      }
    }
    flushBytes()
    out.toString
  }

  /** Percent-decode repeatedly until fixpoint (multi-quoted URLs). Bounded
    * at 16 rounds as a safety net; the reference loops unboundedly but a
    * decode strictly shrinks or stabilizes the string.
    */
  def unquoteInf(s: String): String = {
    var cur = s
    var i = 0
    while (i < 16) {
      val next = unquoteOnce(cur)
      if (next == cur) return cur
      cur = next
      i += 1
    }
    cur
  }

  private val HostRe = "^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//([^/?#]*).*$".r

  /** Python urlsplit().netloc: authority after `scheme://` (or leading
    * `//`), up to the first `/`, `?` or `#`; "" when the URL has none.
    */
  def host(url: String): String = url match {
    case HostRe(h) => h
    case _         => ""
  }

  private val WwwPrefix = "^(?:www|ww2|ww3|www2|www3)\\.".r
  private val WwwLabel  = "www[1-9]?".r

  /** filter_index.py http_filter: strip the www-ish prefix off a netloc. */
  def stripWww(hostname: String): String =
    WwwPrefix.replaceFirstIn(hostname, "")

  /** SURT domain key: host labels reversed, joined with ','; a leading
    * `www[1-9]?` or `*` label (i.e. the *last* element after reversal) is
    * dropped. cc_corpus/index.py:29–36.
    */
  def surtKey(hostname: String): String = {
    val labels = hostname.split("\\.", -1).reverse
    val trimmed =
      if (labels.nonEmpty &&
          (labels.last == "*" || WwwLabel.pattern.matcher(labels.last).matches()))
        labels.dropRight(1)
      else labels
    trimmed.mkString(",")
  }

  /** Protocol-less URL: `url[url.find('://') + 3:]`. The reference's
    * find()-returns--1 quirk (no "://" → drop first two chars) is
    * reproduced deliberately for parity.
    */
  def bareUrl(url: String): String = {
    val i = url.indexOf("://")
    url.substring(math.min(i + 3, url.length).max(0))
  }

  // ---- Column forms (codegen-friendly where possible) ----

  /** netloc as a Column: regexp over the raw URL (no UDF). */
  def hostCol(url: Column): Column =
    regexp_extract(url, "^(?:[a-zA-Z][a-zA-Z0-9+.-]*:)?//([^/?#]*)", 1)

  /** www-stripped domain (http_filter). */
  def domainCol(url: Column): Column =
    regexp_replace(hostCol(url), "^(?:www|ww2|ww3|www2|www3)\\.", "")

  /** SURT key column: reverse(split(host,'.')) with the www-or-star head
    * label dropped.
    */
  def surtKeyCol(hostC: Column): Column = {
    val rev  = reverse(split(hostC, "\\.", -1))
    val last = element_at(rev, size(rev))
    val trimmed = when(
      size(rev) > 0 &&
        (last === "*" || last.rlike("^www[1-9]?$")),
      slice(rev, lit(1), size(rev) - 1)
    ).otherwise(rev)
    array_join(trimmed, ",")
  }

  /** Protocol-less URL column (with the same find() quirk; first
    * occurrence of "://", like Python str.find).
    */
  def bareUrlCol(url: Column): Column = {
    val i = instr(url, "://")
    when(i > 0, url.substr(i + lit(3), length(url)))
      .otherwise(url.substr(lit(3), length(url)))
  }

  private val unquoteInfUdf = udf(unquoteInf _)

  /** Canonical URL column: percent-decode fixpoint (UDF — inherently
    * iterative; upgrade path is a Catalyst Expression with codegen).
    */
  def canonicalUrlCol(url: Column): Column = unquoteInfUdf(url)

  /** Query parameters that never change page content — analytics and
    * click-attribution noise. Stripping them before the seen-set hash
    * collapses what would otherwise be unbounded synthetic URL variants
    * of one page (every email campaign mints fresh utm_* strings).
    * RE2-safe alternation so the DuckDB oracle runs the SAME pattern.
    */
  val TrackingParams: String =
    "utm_[^=&#]*|gclid|fbclid|msclkid|mc_eid|igshid|yclid|_ga|ref_src"

  /** Strip tracking parameters from a URL's query string: each
    * `[?&]<param>=<value>` pair is removed, and if the leading `?` went
    * with a removed pair the first surviving `&` is promoted back to
    * `?`. Two codegen'd regexp passes, no UDF. Fragments and non-query
    * text are untouched.
    */
  def stripTrackingCol(url: Column): Column = {
    val removed = regexp_replace(url,
      s"[?&](?:$TrackingParams)=[^&#]*", "")
    // '^([^?#]+)&' can only match once (anchored), so Spark's
    // always-global replace promotes exactly the first '&'
    regexp_replace(removed, "^([^?#]+)&", "$1?")
  }

  /** Cyrillic/Greek -> Latin confusables (the IDN-homograph core set,
    * Unicode confusables.txt lineage): single source of truth for the
    * Column skeleton AND the generated oracle SQL.
    */
  val Confusables: Seq[(String, String)] = Seq(
    "а" -> "a", "е" -> "e", "о" -> "o", "р" -> "p", "с" -> "c",
    "х" -> "x", "і" -> "i", "ѕ" -> "s", "у" -> "y", "ј" -> "j",
    "ԁ" -> "d", "ɡ" -> "g", "ν" -> "v", "ο" -> "o", "α" -> "a",
    "ι" -> "l", "ⅼ" -> "l", "ｍ" -> "m")

  /** Homoglyph skeleton: lower-case, then map each confusable to its
    * Latin target — 'gооɡle.com' (Cyrillic о) skeletons to
    * 'google.com'. A host whose skeleton equals a protected name while
    * its raw form differs is a spoof candidate (IDN homograph attack);
    * crawlers gate such hosts before trusting their content. A
    * generated chain of replace() calls, identical in any engine.
    */
  def homoglyphSkeletonCol(host: Column): Column =
    Confusables.foldLeft(lower(host)) { case (c, (from, to)) =>
      replace(c, lit(from), lit(to))
    }

  /** The SQL twin of [[homoglyphSkeletonCol]]. */
  def homoglyphSkeletonSql(expr: String): String =
    Confusables.foldLeft(s"lower($expr)") { case (e, (from, to)) =>
      s"replace($e, '$from', '$to')"
    }

  private val SchemeRe = "^[a-zA-Z][a-zA-Z0-9+.-]*:"

  /** RFC 3986 §5.2.4 remove_dot_segments over an ABSOLUTE path (the
    * only kind a crawler's merge step produces): segments fold left —
    * "." skipped, ".." pops, anything else (incl. "..g", "g.") pushed.
    * Empty segments ("a//b") collapse, the usual crawler
    * canonicalization. A trailing "/", "/." or "/.." keeps the
    * trailing slash, per the RFC's output examples; the empty path
    * resolves to "/".
    */
  def removeDotSegmentsCol(path: Column): Column = {
    val segs = filter(split(path, "/"), s => s =!= "")
    val out = aggregate(segs, array().cast("array<string>"),
      (acc, s) => when(s === ".", acc)
        .when(s === "..",
          slice(acc, lit(1), greatest(size(acc) - 1, lit(0))))
        .otherwise(concat(acc, array(s))))
    val trailing = path.rlike("(/|/\\.|/\\.\\.)$")
    when(size(out) === 0, lit("/"))
      .otherwise(concat(lit("/"), array_join(out, "/"),
        when(trailing, lit("/")).otherwise(lit(""))))
  }

  /** Resolve an outlink `href` against an absolute hierarchical `base`
    * (RFC 3986 §5.2; download-side link discovery feeding the
    * frontier). Fragments are always dropped — a crawler's URL space is
    * fragment-free — which is the one documented deviation from the
    * RFC's reference results (it keeps them). Handles: empty href
    * (base sans fragment, path untouched), opaque schemes (mailto:,
    * javascript: — returned verbatim), absolute URLs, protocol-relative
    * (//host/p), root-relative, query-only and path-relative forms;
    * every hierarchical result gets remove_dot_segments and an empty
    * path becomes "/". Pure columns (one fold HOF) — no UDF, no
    * shuffle.
    */
  def resolveUrlCol(base: Column, href: Column): Column = {
    val h = regexp_replace(href, "#.*$", "")
    val bNoF = regexp_replace(base, "#.*$", "")
    val scheme = regexp_extract(bNoF, "^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    val auth = regexp_extract(bNoF, SchemeRe + "//([^/?#]*)", 1)
    val bPath = regexp_extract(bNoF, SchemeRe + "//[^/?#]*([^?#]*)", 1)
    val root = concat(scheme, lit("://"), auth)
    val hPath = regexp_extract(h, "^([^?#]*)", 1)
    val hQuery = regexp_extract(h, "^[^?]*(\\?.*)$", 1)
    val isAbs = h.rlike(SchemeRe + "//")
    val isOpaque = h.rlike(SchemeRe) && !isAbs
    val isProtoRel = h.startsWith("//")
    val isRooted = h.startsWith("/") && !isProtoRel
    val isQueryOnly = h.startsWith("?")
    val dir = when(bPath === "", lit("/"))
      .otherwise(regexp_replace(bPath, "[^/]*$", ""))
    val absAuth = regexp_extract(h, SchemeRe + "//([^/?#]*)", 1)
    val absScheme = regexp_extract(h, "^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    val absPath = regexp_extract(h, SchemeRe + "//[^/?#]*([^?#]*)", 1)
    val prAuth = regexp_extract(h, "^//([^/?#]*)", 1)
    val prPath = regexp_extract(h, "^//[^/?#]*([^?#]*)", 1)
    when(h === "", bNoF)
      .when(isOpaque, h)
      .when(isAbs, concat(absScheme, lit("://"), absAuth,
        removeDotSegmentsCol(absPath), hQuery))
      .when(isProtoRel, concat(scheme, lit("://"), prAuth,
        removeDotSegmentsCol(prPath), hQuery))
      .when(isRooted, concat(root, removeDotSegmentsCol(hPath), hQuery))
      .when(isQueryOnly, concat(root,
        when(bPath === "", lit("/")).otherwise(bPath), h))
      .otherwise(concat(root,
        removeDotSegmentsCol(concat(dir, hPath)), hQuery))
  }
}
