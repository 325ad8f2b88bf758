package graft.fixtures

import graft.model.RawIndexLine

/** Deterministic, seed-fixed synthetic crawl fixtures (FIXTURES.md §3–§7).
  * Everything is a pure function of the record id via splitmix64 mixing, so
  * the same rows can be produced driver-side (small Seq for parity tests)
  * or distributed via `spark.range(n)` (bench scale) with identical
  * content and no partitioning dependence.
  *
  * The raw form mirrors a CC index line: `SURT timestamp {json}`
  * (cc_corpus/index.py:271–276), with the quirks the reference's filters
  * must handle: robots.txt paths, non-200 statuses, malformed mimes
  * (`text\html`, `"text/html; charset=utf-8"`), multi-quoted URLs,
  * www/www2 host prefixes, http/https twins, cross-dump duplicate URLs
  * with tied and differing lengths, and bad-index victims.
  */
object CrawlFixtures {

  val Seed = 42L

  /** splitmix64 — deterministic 64-bit mixer (the state package's). */
  def mix(x0: Long): Long = graft.state.CuckooFilter.mix(x0)

  /** k-th deterministic draw for record i, in [0, bound). */
  def draw(i: Long, k: Long, bound: Long): Long = {
    val h = mix(mix(Seed + i) ^ (k * 0x632be59bd9b4e019L))
    java.lang.Long.remainderUnsigned(h, bound)
  }

  val Dumps: Vector[String] = Vector("2024-10", "2024-18", "2024-26")

  case class Params(
      nRecords: Long = 3000,
      nUrls: Long = 1000,
      nHosts: Long = 50,
      filesPerDump: Int = 2
  )

  /** Host id with quadratic skew (a few hot hosts, long tail). */
  def hostId(u: Long, p: Params): Long = {
    val r = draw(u, 1, 1L << 20).toDouble / (1L << 20)
    math.min((p.nHosts * r * r).toLong, p.nHosts - 1)
  }

  def hostName(u: Long, p: Params): String = {
    val h   = hostId(u, p)
    val tld = if (h % 7 == 0) "org" else "com"
    s"h$h.example.$tld"
  }

  /** The URL string as it appears in the index (with prefix/scheme/quirk
    * variants baked in — these are distinct URLs to the URL-seen set).
    */
  def urlOf(u: Long, p: Params): String = {
    val host = hostName(u, p)
    val prefix = draw(u, 2, 10) match {
      case 0     => "www."
      case 1     => "www2."
      case _     => ""
    }
    val scheme = if (draw(u, 3, 4) == 0) "http" else "https"
    val pathId = draw(u, 4, p.nUrls)
    val path = draw(u, 5, 20) match {
      case 0 => s"/p/a%2561b$pathId"       // double-quoted: -> a%61b -> aab
      case 1 => s"/p/x%20y$pathId"         // single-quoted space
      case 2 => "/robots.txt"              // dropped by basic_filter
      case _ => s"/p/$pathId"
    }
    val query = if (draw(u, 6, 5) == 0) s"?q=${draw(u, 7, 100)}" else ""
    s"$scheme://$prefix$host$path$query"
  }

  def statusOf(i: Long): Int = draw(i, 8, 20) match {
    case 0 => 301
    case 1 => 404
    case _ => 200
  }

  def mimeOf(i: Long): String = draw(i, 9, 12) match {
    case 0 => "\"text/html; charset=utf-8\""
    case 1 => "text\\html"
    case 2 => "application/pdf"
    case 3 => "unknown/unknown"  // not in allow-list -> dropped
    case 4 => "index.html"       // invalid -> guess_type fallback
    case 5 => "application/xhtml+xml"
    case _ => "text/html"
  }

  def dumpOf(i: Long): String = Dumps((i % Dumps.length).toInt)

  def warcOf(i: Long): String = {
    val dump = dumpOf(i)
    val seg  = draw(i, 10, 4)
    f"crawl-data/CC-MAIN-$dump/segments/17${seg}%04d/warc/CC-MAIN-part-${draw(i, 11, 8)}%05d.warc.gz"
  }

  def offsetOf(i: Long): Long = draw(i, 12, 1L << 30)

  /** Length: same URL across dumps gets differing lengths, with exact ties
    * injected (draw%4==0) to exercise first-wins tie-breaking.
    */
  def lengthOf(i: Long, u: Long): Long =
    if (draw(u, 13, 4) == 0) 1000 + draw(u, 14, 9000)          // tie across dumps
    else 1000 + draw(i, 15, 9000)                              // varies per record

  /** Index file name for record i: `cdx-NNN-<dump>.gz`; the trailing
    * `\d{4}-\d{2}-\d+` is what file_name_p extracts as the file id
    * (deduplicate_index_urls.py:82).
    */
  def fileOf(i: Long, p: Params): String = {
    val dump = dumpOf(i)
    val part = draw(i, 16, p.filesPerDump)
    s"cdx-$part-$dump.gz"
  }

  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c    => c.toString
    }

  /** Render record i as a raw `SURT timestamp {json}` index line. Offsets,
    * lengths and status are JSON *strings*, as in the real CC index.
    */
  def rawLine(i: Long, p: Params): String = {
    val u    = java.lang.Long.remainderUnsigned(mix(Seed * 31 + i), p.nUrls)
    val url  = urlOf(u, p)
    val ts   = 20240101000000L + draw(i, 17, 100000)
    val json = s"""{"url": "${jsonEscape(url)}", "filename": "${jsonEscape(warcOf(i))}", """ +
      s""""offset": "${offsetOf(i)}", "length": "${lengthOf(i, u)}", """ +
      s""""status": "${statusOf(i)}", "mime": "${jsonEscape(mimeOf(i))}"}"""
    val surt = graft.functions.Urls.surtKey(
      graft.functions.Urls.host(url)) + ")/"
    s"$surt $ts $json"
  }

  /** Bad-index regex (filter_index.py:120–140 shape): drop a specific
    * host's lines wholesale.
    */
  val BadIndexPattern: String = ".*h13\\.example\\.com.*"

  /** Distributed generation for bench scale: same per-id content as
    * `rawLines`, via `spark.range` (no driver materialization). Uses the
    * global id as line_ord — a valid total processing order; the
    * driver-side variant's per-file renumbering is only needed for
    * reference-interpreter parity, not for benchmarking.
    */
  def rawLinesDf(spark: org.apache.spark.sql.SparkSession,
                 p: Params): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    val pp = p
    spark.range(p.nRecords).map { i =>
      val file = fileOf(i, pp)
      val part = draw(i, 16, pp.filesPerDump).toInt
      val dumpIdx = (i % Dumps.length).toInt
      graft.model.RawIndexLine(file, part * Dumps.length + dumpIdx, i,
                               rawLine(i, pp))
    }.toDF()
  }

  /** Driver-side generation for tests: all raw lines with their file
    * identity and in-file line order (insertion order per file).
    */
  def rawLines(p: Params): Seq[RawIndexLine] = {
    val byFile = (0L until p.nRecords)
      .map(i => (fileOf(i, p), i))
      .groupBy(_._1)
    val fileNames = byFile.keys.toSeq.sorted
    fileNames.zipWithIndex.flatMap { case (f, fOrd) =>
      byFile(f).map(_._2).zipWithIndex.map { case (i, lineNo) =>
        RawIndexLine(f, fOrd, lineNo.toLong, rawLine(i, p))
      }
    }
  }
}
