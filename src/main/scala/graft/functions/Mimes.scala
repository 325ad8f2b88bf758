package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** MIME normalization per scripts/filter_index.py:94–110 (mime_filter):
  *   1. strip `\`, `/`, `"` characters off both ends (mime1p)
  *   2. cut everything from the first `,` or `;` (mime2p — parameters /
  *      multiple types)
  *   3. `\` → `/` (`text\html` → `text/html`)
  *   4. if the result doesn't look like `type/subtype`, fall back to
  *      extension-based guessing (Python mimetypes.guess_type; here a
  *      fixed, documented subset of its table)
  *   5. keep only rows whose mime is in the allow-list.
  */
object Mimes {

  /** Subset of Python's mimetypes table used by the guess_type fallback.
    * Deterministic and identical on the Scala and Column paths.
    */
  val ExtToMime: Map[String, String] = Map(
    "html" -> "text/html", "htm" -> "text/html", "txt" -> "text/plain",
    "xml"  -> "text/xml", "json" -> "application/json",
    "pdf"  -> "application/pdf", "csv" -> "text/csv",
    "jpg"  -> "image/jpeg", "jpeg" -> "image/jpeg", "png" -> "image/png",
    "gif"  -> "image/gif", "mp3" -> "audio/mpeg", "mp4" -> "video/mp4"
  )

  /** Default allow-list (shape of the reference's data/allowed_mimes.txt;
    * content is ours — the reference file is a hand-grown site-specific
    * list).
    */
  val DefaultAllowed: Set[String] = Set(
    "text/html", "text/plain", "application/xhtml+xml", "application/xml",
    "application/atom+xml", "application/rss+xml", "application/pdf",
    "text/xml"
  )

  private val Valid = "^(?:[-\\w]+|[*])/(?:[-+.\\w]+|[*])$".r

  /** Pure normalization (reference-interpreter path). Returns null when
    * the fallback fails, mirroring guess_type's (None, None).
    */
  def normalize(mime: String): String = {
    var m = mime.replaceAll("^[\\\\/\"]+", "").replaceAll("[\\\\/\"]+$", "")
    m = m.replaceAll("[,;].*$", "")
    m = m.replace('\\', '/')
    if (Valid.pattern.matcher(m).matches()) m
    else {
      val dot = m.lastIndexOf('.')
      if (dot >= 0 && dot < m.length - 1)
        ExtToMime.getOrElse(m.substring(dot + 1).toLowerCase, null)
      else null
    }
  }

  /** F18 MIME sniffing: magic-bytes content detection over the first
    * `SniffLen` bytes (cc_corpus/mime.py:19–38 rides libmagic; this is a
    * dependency-free signature table covering the formats the pipeline
    * routes on). Returns the detected full mime; `simplify` maps it to
    * the reference's simplified classes ("txt" | "html" | null).
    */
  val SniffLen = 2048

  private def startsWith(b: Array[Byte], sig: Int*): Boolean =
    b.length >= sig.length && sig.zipWithIndex.forall { case (s, i) =>
      (b(i) & 0xff) == s
    }

  def sniff(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.isEmpty) return "application/octet-stream"
    val b = if (bytes.length > SniffLen) bytes.take(SniffLen) else bytes
    if (startsWith(b, 0x25, 0x50, 0x44, 0x46, 0x2d)) return "application/pdf" // %PDF-
    if (startsWith(b, 0x89, 0x50, 0x4e, 0x47))       return "image/png"
    if (startsWith(b, 0xff, 0xd8, 0xff))             return "image/jpeg"
    if (startsWith(b, 0x47, 0x49, 0x46, 0x38))       return "image/gif"     // GIF8
    if (startsWith(b, 0x50, 0x4b, 0x03, 0x04))       return "application/zip"
    if (startsWith(b, 0x1f, 0x8b))                   return "application/gzip"
    if (startsWith(b, 0x4f, 0x67, 0x67, 0x53))       return "audio/ogg"     // OggS
    if (startsWith(b, 0x49, 0x44, 0x33))             return "audio/mpeg"    // ID3
    if (b.length >= 12 && (b(0) & 0xff) == 0x52 && (b(1) & 0xff) == 0x49 &&
        (b(2) & 0xff) == 0x46 && (b(3) & 0xff) == 0x46) {                   // RIFF
      val kind = new String(b.slice(8, 12), "ISO-8859-1")
      return if (kind == "WAVE") "audio/wav"
             else if (kind == "AVI ") "video/x-msvideo"
             else "application/octet-stream"
    }
    if (b.length >= 12 && new String(b.slice(4, 8), "ISO-8859-1") == "ftyp")
      return "video/mp4"
    // text-ish: decode the head, look for markup
    val head = new String(b, java.nio.charset.StandardCharsets.ISO_8859_1)
    val t = head.dropWhile(c => c.isWhitespace || c == '\uFEFF').toLowerCase
    if (t.startsWith("<!doctype html") || t.startsWith("<html") ||
        t.contains("<head") || t.contains("<body")) return "text/html"
    if (t.startsWith("<?xml")) {
      if (t.contains("<rss"))  return "application/rss+xml"
      if (t.contains("<feed")) return "application/atom+xml"
      return "application/xml"
    }
    // printable heuristic: >= 95% printable/whitespace bytes -> text
    val printable = b.count(x => { val v = x & 0xff
      v == 9 || v == 10 || v == 13 || (v >= 32 && v < 127) || v >= 128 })
    if (printable.toDouble / b.length >= 0.95) "text/plain"
    else "application/octet-stream"
  }

  /** The reference's simplified mime ("txt" | "html" | null),
    * mime.py:13–16: txt = exactly text/plain, html = contains "html".
    */
  def simplify(fullMime: String): String =
    if (fullMime == "text/plain") "txt"
    else if (fullMime != null && fullMime.contains("html")) "html"
    else null

  private val CharsetRe = "(?i)charset=\"?([\\w.:-]+)".r

  /** Decode a text payload: honor the HTTP Content-Type charset when one
    * is present (WarcGzip surfaces the header); otherwise probe strict
    * UTF-8 and fall back to ISO-8859-1 — a lossless byte↔char round
    * trip, so Latin-1/Windows-1252 bodies (common in Common Crawl) don't
    * get replacement-character corruption. This mirrors the reference's
    * path through BS4's charset handling (mime.py), where sniffing is
    * byte-based but decoding is charset-aware.
    */
  def decodeText(bytes: Array[Byte], contentType: String = null): String = {
    val fromHeader = Option(contentType)
      .flatMap(CharsetRe.findFirstMatchIn(_))
      .map(_.group(1))
      .flatMap { n =>
        try Some(java.nio.charset.Charset.forName(n))
        catch { case _: Exception => None }
      }
    fromHeader match {
      case Some(cs) => new String(bytes, cs)
      case None =>
        try {
          java.nio.charset.StandardCharsets.UTF_8.newDecoder()
            .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
            .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
            .decode(java.nio.ByteBuffer.wrap(bytes))
            .toString
        } catch {
          case _: java.nio.charset.CharacterCodingException =>
            new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
        }
    }
  }

  /** F19 content normalization (mime.py:41–70 semantics, sans BS4
    * re-serialization): txt/html content is guaranteed the html/body
    * boilerplate — fragments get wrapped; other types return null.
    * `contentType` (the HTTP header, possibly with a charset parameter)
    * steers the decode; see decodeText.
    */
  def normalizeContent(bytes: Array[Byte], contentType: String): String = {
    simplify(sniff(bytes)) match {
      case null => null
      case _ =>
        val s = decodeText(bytes, contentType)
        val l = s.toLowerCase
        if (l.contains("<body")) s
        else if (l.contains("<html"))
          s.replaceAll("(?i)(<html[^>]*>)", "$1<body>") + "</body>"
        else s"<html><body>$s</body></html>"
    }
  }

  def normalizeContent(bytes: Array[Byte]): String =
    normalizeContent(bytes, null)

  /** Column form — pure `functions._` chain, stays in codegen. */
  def normalizeCol(mime: Column): Column = {
    val stripped = regexp_replace(
      regexp_replace(mime, "^[\\\\/\"]+", ""), "[\\\\/\"]+$", "")
    val cut    = regexp_replace(stripped, "[,;].*$", "")
    val fixed  = regexp_replace(cut, "\\\\", "/")
    val extMap = map(
      ExtToMime.toSeq.sortBy(_._1)
        .flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val ext = when(fixed.contains("."),
      lower(substring_index(fixed, ".", -1))).otherwise(lit(null))
    val full = when(fixed.rlike("^(?:[-\\w]+|[*])/(?:[-+.\\w]+|[*])$"), fixed)
      .otherwise(element_at(extMap, ext))
    // Fast path for the overwhelmingly common already-clean mime
    // ("text/html"): ONE regex instead of four. The fast pattern is a
    // strict subset of the slow path's accept pattern, and such a value
    // is a fixpoint of all three strips (no leading/trailing [\/"],
    // no [,;], no backslash — none of those characters can appear in
    // [-\w]+/[-+.\w]+), so both paths return the input unchanged.
    when(mime.rlike("^[-\\w]+/[-+.\\w]+$"), mime).otherwise(full)
  }
}
