package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** JusText-style boilerplate classification (the reference's removal
  * quality path: cc_corpus/boilerplate.py:34–45 wraps the justext
  * library; this is a from-scratch implementation of the published
  * algorithm core — Pomikálek 2011 — with its default thresholds).
  *
  * Split of labor: the HTML→paragraph parser is a per-document Scala
  * function (tag scanning with link-char accounting is not column work),
  * while the CLASSIFICATION — context-free rules + the context-sensitive
  * revision — is pure Spark columns and windows, so the whole decision
  * logic sits under the DuckDB oracle gate (q_boilerplate).
  */
object Boilerplate {

  // justext default parameters
  val LengthLow          = 70
  val LengthHigh         = 200
  val StopwordsLow       = 0.30
  val StopwordsHigh      = 0.32
  val MaxLinkDensity     = 0.2
  val MaxHeadingDistance = 200

  /** Deterministic built-in stoplist (English core). The reference pulls
    * justext.get_stoplist(language); hash-identity of the list is not
    * part of the semantics.
    */
  val StopwordsEn: Set[String] = Set(
    "the", "a", "an", "of", "and", "to", "in", "is", "it", "that", "was",
    "for", "on", "are", "as", "with", "at", "by", "be", "this", "have",
    "from", "or", "had", "not", "but", "what", "all", "were", "when",
    "we", "there", "can", "his", "her", "they", "you", "i")

  private val BlockTags = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
    "table", "tr", "td", "th", "blockquote", "section", "article",
    "header", "footer", "nav", "aside", "pre", "form", "br", "hr",
    "body", "html", "head", "title", "main")
  /** Sections a trafilatura-style extractor prunes wholesale. */
  private val UnwantedTags = Set("nav", "header", "footer", "aside", "form")
  /** Main-content candidates (trafilatura's priority selectors). */
  private val MainTags = Set("article", "main")
  private val SkipContent = Set("script", "style")
  private val Entities = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"",
    "apos" -> "'", "nbsp" -> " ", "copy" -> "©")

  /** One parsed block: whitespace-collapsed text, the number of its
    * characters that came from inside <a> elements, and whether any of
    * its text sat inside an h1–h6 element (justext's `\bh\d\b` dom-path
    * test — drives the heading promotion passes).
    */
  case class Block(text: String, link_chars: Int, heading: Boolean = false)

  /** Block with section context for the trafilatura-style extractor:
    * `unwanted` = any of its text sat inside nav/header/footer/aside/
    * form; `in_main` = inside article/main.
    */
  case class CtxBlock(text: String, link_chars: Int, heading: Boolean,
                      unwanted: Boolean, in_main: Boolean)

  private def collapse(s: String): String =
    s.replaceAll("\\s+", " ").trim

  /** Lightweight HTML block parser: block-level tags delimit paragraphs,
    * inline tags (a, b, span, ...) do not; script/style content is
    * skipped; a small entity table is decoded; per block the collapsed
    * text and the count of characters contributed inside <a> runs.
    */
  def parseBlocks(html: String): Vector[Block] =
    parseBlocksCtx(html).map(b => Block(b.text, b.link_chars, b.heading))

  /** As parseBlocks, additionally tracking the unwanted-section and
    * main-content depths per block (one parser serves both extractors).
    */
  def parseBlocksCtx(html: String): Vector[CtxBlock] = {
    if (html == null) return Vector.empty
    val out  = Vector.newBuilder[CtxBlock]
    val text = new mutable.StringBuilder
    val link = new mutable.StringBuilder
    var aDepth   = 0
    var hDepth   = 0
    var uDepth   = 0
    var mDepth   = 0
    var inHeading  = false
    var inUnwanted = false
    var inMain     = false
    var skipTag: String = null
    def flush(): Unit = {
      val t = collapse(text.toString)
      val l = collapse(link.toString).length
      if (t.nonEmpty)
        out += CtxBlock(t, math.min(l, t.length), inHeading,
                        inUnwanted, inMain)
      text.clear(); link.clear()
      inHeading = false; inUnwanted = false; inMain = false
    }
    def decode(s: String): String = {
      if (!s.contains('&')) s
      else {
        // &amp; decodes LAST so "&amp;lt;" yields "&lt;", not "<"
        val ordered = Entities.toSeq.sortBy(_._1 == "amp")
        ordered.foldLeft(s) { case (acc, (k, v)) =>
          acc.replace(s"&$k;", v)
        }
      }
    }
    var i = 0
    val n = html.length
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<') {
        val close = html.indexOf('>', i)
        if (close < 0) { i = n } // malformed tail: drop
        else {
          val raw  = html.substring(i + 1, close).trim
          val isEnd = raw.startsWith("/")
          val name = raw.dropWhile(_ == '/').takeWhile(ch =>
            ch.isLetterOrDigit).toLowerCase
          if (skipTag != null) {
            if (isEnd && name == skipTag) skipTag = null
          } else if (SkipContent.contains(name) && !isEnd) {
            skipTag = name
          } else if (name == "a") {
            if (isEnd) aDepth = math.max(0, aDepth - 1) else aDepth += 1
          } else if (BlockTags.contains(name)) {
            flush()
            if (name.length == 2 && name.charAt(0) == 'h' &&
                name.charAt(1) >= '1' && name.charAt(1) <= '6') {
              if (isEnd) hDepth = math.max(0, hDepth - 1) else hDepth += 1
            }
            if (UnwantedTags.contains(name)) {
              if (isEnd) uDepth = math.max(0, uDepth - 1) else uDepth += 1
            }
            if (MainTags.contains(name)) {
              if (isEnd) mDepth = math.max(0, mDepth - 1) else mDepth += 1
            }
          } else {
            // inline tag: acts as whitespace-free separator; append a
            // space so adjacent runs don't fuse into one token
            text.append(' ')
          }
          i = close + 1
        }
      } else {
        val next = html.indexOf('<', i)
        val end  = if (next < 0) n else next
        if (skipTag == null) {
          val run = decode(html.substring(i, end))
          text.append(run)
          if (aDepth > 0) link.append(run)
          if (run.trim.nonEmpty) {
            if (hDepth > 0) inHeading = true
            if (uDepth > 0) inUnwanted = true
            if (mDepth > 0) inMain = true
          }
        }
        i = end
      }
    }
    flush()
    out.result()
  }

  val parseBlocksUdf = udf((html: String) => parseBlocks(html))

  /** Context-free JusText class for one block, as a pure column over
    * (text, link_chars): "good" | "neargood" | "short" | "bad".
    */
  def contextFreeClass(text: Column, linkChars: Column): Column = {
    val len = length(text)
    val words = split(lower(text), "\\s+")
    val nWords = size(words)
    val nStops = size(filter(words, w =>
      array_contains(array(StopwordsEn.toSeq.sorted.map(lit): _*), w)))
    val stopDensity = when(nWords > 0, nStops * lit(1.0) / nWords)
      .otherwise(lit(0.0))
    val linkDensity = when(len > 0, linkChars * lit(1.0) / len)
      .otherwise(lit(0.0))
    when(linkDensity > MaxLinkDensity, "bad")
      .when(text.contains("©"), "bad")
      .when(len < LengthLow,
            when(linkChars > 0, "bad").otherwise("short"))
      .when(stopDensity >= StopwordsHigh,
            when(len > LengthHigh, "good").otherwise("neargood"))
      .when(stopDensity >= StopwordsLow, "neargood")
      .otherwise("bad")
  }

  /** Context-sensitive revision over blocks ordered by (docCol, idxCol) —
    * justext's `revise_paragraph_classification`, exactly, as five pure
    * window phases. Input needs `cf`, `text`, `heading` columns; adds
    * `final_class`.
    *
    * Phase map (sequential loops → windows):
    *  p2  good headings: a SHORT heading becomes neargood when a
    *      (context-free) good block follows within MaxHeadingDistance
    *      summed text chars. Closed form with S = running length sum:
    *      ∃ good j>i with S(j-1) − S(i) ≤ d  ⇔  min over following goods
    *      of S(j-1), minus S(i), ≤ d.
    *  p3  shorts: nearest prev/next good/bad (neargood skipped) over the
    *      p2 classes; justext collects all updates before applying, so
    *      the snapshot windows are exact.
    *  p4  neargoods: justext mutates in place scanning ascending, but by
    *      then every earlier block is resolved good/bad and every later
    *      one is p3 — so the sequential loop collapses to immediate
    *      lag/lead over p3: a neargood dies only when lag(p3) and
    *      lead(p3) are both literally "bad" (an adjacent neargood or
    *      good on either side rescues it).
    *  p5  more good headings: a heading left bad (but not context-free
    *      bad) turns good when a p4-good follows within distance — same
    *      closed form as p2 over p4 classes. Promotions at earlier
    *      indices can't appear in a later heading's forward scan, so
    *      this is also snapshot-safe.
    */
  def revise(blocks: DataFrame, docCol: String, idxCol: String): DataFrame = {
    val w     = Window.partitionBy(docCol).orderBy(col(idxCol).asc)
    val wPrev = w.rowsBetween(Window.unboundedPreceding, -1)
    val wFol  = w.rowsBetween(1, Window.unboundedFollowing)
    val len   = length(col("text"))
    val s     = sum(len).over(w.rowsBetween(Window.unboundedPreceding, 0))

    // p2: good headings
    val goodS2 = when(col("cf") === "good", s - len)
    val m2     = min(goodS2).over(wFol)
    val p2 = when(col("heading") && col("cf") === "short" &&
                    (m2 - s) <= MaxHeadingDistance, lit("neargood"))
      .otherwise(col("cf"))

    val withP2 = blocks.withColumn("__p2", p2)

    // p3: shorts against p2 snapshot
    val gb  = when(col("__p2").isin("good", "bad"), col("__p2"))
    val gnb = when(col("__p2").isin("good", "bad", "neargood"), col("__p2"))
    val prevGB  = coalesce(last(gb, ignoreNulls = true).over(wPrev), lit("bad"))
    val nextGB  = coalesce(first(gb, ignoreNulls = true).over(wFol), lit("bad"))
    val prevGNB = coalesce(last(gnb, ignoreNulls = true).over(wPrev), lit("bad"))
    val nextGNB = coalesce(first(gnb, ignoreNulls = true).over(wFol), lit("bad"))
    val p3 = when(col("__p2") === "short",
        when(prevGB === "good" && nextGB === "good", "good")
          .when(prevGB === "bad" && nextGB === "bad", "bad")
          .when((prevGB === "bad" && prevGNB === "neargood") ||
                  (nextGB === "bad" && nextGNB === "neargood"), "good")
          .otherwise("bad"))
      .otherwise(col("__p2"))

    val withP3 = withP2.withColumn("__p3", p3)

    // p4: neargoods via immediate lag/lead over p3
    val p4 = when(col("__p3") === "neargood",
        when(coalesce(lag(col("__p3"), 1).over(w), lit("bad")) === "bad" &&
               coalesce(lead(col("__p3"), 1).over(w), lit("bad")) === "bad",
             "bad").otherwise("good"))
      .otherwise(col("__p3"))

    val withP4 = withP3.withColumn("__p4", p4)

    // p5: more good headings over p4
    val goodS4 = when(col("__p4") === "good", s - len)
    val m4     = min(goodS4).over(wFol)
    val finalClass = when(col("heading") && col("__p4") === "bad" &&
                            col("cf") =!= "bad" &&
                            (m4 - s) <= MaxHeadingDistance, lit("good"))
      .otherwise(col("__p4"))

    withP4.withColumn("final_class", finalClass)
      .drop("__p2", "__p3", "__p4")
  }

  /** End-to-end: html column -> exploded blocks with final classes.
    * Output: (docCol, p_idx, text, link_chars, cf, final_class).
    */
  def classify(docs: DataFrame, htmlCol: String, docCol: String): DataFrame = {
    val blocks = docs
      .select(col(docCol),
              posexplode(parseBlocksUdf(col(htmlCol))).as(Seq("p_idx", "b")))
      .select(col(docCol), col("p_idx"),
              col("b.text").as("text"), col("b.link_chars").as("link_chars"),
              col("b.heading").as("heading"))
      .withColumn("cf", contextFreeClass(col("text"), col("link_chars")))
    revise(blocks, docCol, "p_idx")
  }

  /** Kept (non-boilerplate) paragraph texts per document, in order —
    * the JustextRemover.remove contract (boilerplate.py:42–45).
    */
  def extract(docs: DataFrame, htmlCol: String, docCol: String): DataFrame =
    classify(docs, htmlCol, docCol)
      .filter(col("final_class") === "good")
      .groupBy(docCol)
      .agg(sort_array(collect_list(struct(col("p_idx"), col("text"))))
        .as("ps"))
      .select(col(docCol), transform(col("ps"), p => p.getField("text"))
        .as("paragraphs"))

  // ---- per-document local form (for pipeline embedding) ----

  /** Context-free class of one block — same rules as contextFreeClass. */
  def contextFreeClassLocal(text: String, linkChars: Int): String = {
    val len = text.length
    val words = text.toLowerCase.split("\\s+").filter(_.nonEmpty)
    val stopDensity =
      if (words.isEmpty) 0.0
      else words.count(StopwordsEn.contains).toDouble / words.length
    val linkDensity = if (len > 0) linkChars.toDouble / len else 0.0
    if (linkDensity > MaxLinkDensity) "bad"
    else if (text.contains("©")) "bad"
    else if (len < LengthLow) { if (linkChars > 0) "bad" else "short" }
    else if (stopDensity >= StopwordsHigh) {
      if (len > LengthHigh) "good" else "neargood"
    }
    else if (stopDensity >= StopwordsLow) "neargood"
    else "bad"
  }

  /** Sequential revise — the literal justext
    * `revise_paragraph_classification` loops (incl. both heading
    * passes), over one document's blocks in order. The no-args-beyond-cf
    * overload treats every block as a non-heading (phases 2/5 no-op).
    * The column `revise` above is the window re-expression of exactly
    * this; BoilerplateSpec cross-checks them.
    */
  def reviseLocal(cf: IndexedSeq[String],
                  headings: IndexedSeq[Boolean] = IndexedSeq.empty,
                  lens: IndexedSeq[Int] = IndexedSeq.empty,
                  maxHeadingDistance: Int = MaxHeadingDistance): IndexedSeq[String] = {
    val n   = cf.length
    val cls = cf.toArray
    val hd  = if (headings.isEmpty) Array.fill(n)(false) else headings.toArray
    val ln  = if (lens.isEmpty) Array.fill(n)(0) else lens.toArray
    // good headings
    var i = 0
    while (i < n) {
      if (hd(i) && cls(i) == "short") {
        var j = i + 1; var dist = 0; var done = false
        while (!done && j < n && dist <= maxHeadingDistance) {
          if (cls(j) == "good") { cls(i) = "neargood"; done = true }
          dist += ln(j); j += 1
        }
      }
      i += 1
    }
    def neigh(i: Int, inc: Int, ignoreNeargood: Boolean): String = {
      var j = i + inc
      while (j >= 0 && j < n) {
        val c = cls(j)
        if (c == "good" || c == "bad") return c
        if (c == "neargood" && !ignoreNeargood) return c
        j += inc
      }
      "bad"
    }
    // classify short (snapshot: collect, then apply)
    val shortUpdates = (0 until n).collect {
      case i if cls(i) == "short" =>
        val p = neigh(i, -1, true); val x = neigh(i, 1, true)
        i -> (
          if (p == "good" && x == "good") "good"
          else if (p == "bad" && x == "bad") "bad"
          else if ((p == "bad" && neigh(i, -1, false) == "neargood") ||
                   (x == "bad" && neigh(i, 1, false) == "neargood")) "good"
          else "bad")
    }
    shortUpdates.foreach { case (i, c) => cls(i) = c }
    // revise neargood (in place, ascending — justext order)
    i = 0
    while (i < n) {
      if (cls(i) == "neargood") {
        cls(i) =
          if (neigh(i, -1, false) == "bad" && neigh(i, 1, false) == "bad") "bad"
          else "good"
      }
      i += 1
    }
    // more good headings
    i = 0
    while (i < n) {
      if (hd(i) && cls(i) == "bad" && cf(i) != "bad") {
        var j = i + 1; var dist = 0; var done = false
        while (!done && j < n && dist <= maxHeadingDistance) {
          if (cls(j) == "good") { cls(i) = "good"; done = true }
          dist += ln(j); j += 1
        }
      }
      i += 1
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(cls)
  }

  /** html -> kept (good) paragraph texts, fully local per document. */
  def extractLocal(html: String): Seq[String] = {
    val blocks = parseBlocks(html)
    val cf  = blocks.map(b => contextFreeClassLocal(b.text, b.link_chars))
    val fin = reviseLocal(cf, blocks.map(_.heading),
                          blocks.map(_.text.length))
    blocks.zip(fin).collect { case (b, "good") => b.text }
  }

  /** Per-document multi-chunk form (content conversion may emit several
    * HTML chunks per record — DocPipeline.convertChunks).
    */
  val extractGoodChunksUdf =
    udf((chunks: Seq[String]) => chunks.flatMap(extractLocal))
}
