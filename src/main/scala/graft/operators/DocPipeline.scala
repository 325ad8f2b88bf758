package graft.operators

import graft.functions.{TextAnalysis, Urls}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** WARC → interleaved-span document materialization (SURVEY.md §2.1 S4,
  * §2.2 F13–F15/F20, §2.3 J1, §2.4 A5): the remove_boilerplate.py stage
  * re-expressed over the synthetic warc_store table.
  *
  * The boilerplate remover itself is a deterministic stand-in (block-tag
  * splitting + tag stripping — JusText/Trafilatura are not available in
  * this environment); everything around it (alignment join, content-type
  * dispatch, escaping, token/paragraph filters, span interleaving with
  * media refs, same-doc dedup) is the real pipeline and is what the
  * span-sequence invariant is tested on.
  */
object DocPipeline {

  /** J1: align fetched index entries with WARC records. The reference
    * zips two sorted streams and matches on unquote_inf(url)
    * (remove_boilerplate.py:90–107); with a keyed store the equi-join on
    * (warc, offset) is exact and order-free.
    */
  def fetchJoin(entries: DataFrame, warcStore: DataFrame): DataFrame =
    entries.join(warcStore, Seq("warc", "offset"), "inner")

  /** F20 content conversion: dispatch on content type; each WARC payload
    * becomes an array of HTML chunks (content_conversion.py:112–126).
    * atom → <content> elements, rss → <description> elements, bib →
    * blank-line-separated records, everything else → the body as-is.
    */
  def convertChunks(body: Column, mime: Column): Column = {
    val atomChunks = regexp_extract_all(
      body, lit("(?s)<content[^>]*>(.*?)</content>"), lit(1))
    val rssChunks = regexp_extract_all(
      body, lit("(?s)<description[^>]*>(.*?)</description>"), lit(1))
    val bibChunks = split(body, "\n\\s*\n")
    val chunks = when(mime === "application/atom+xml", atomChunks)
      .when(mime === "application/rss+xml", rssChunks)
      .when(mime === "text/x-bibtex", bibChunks)
      .otherwise(array(body))
    filter(chunks, c => trim(c) =!= "")
  }

  /** Deterministic boilerplate stand-in: split an HTML chunk on block
    * tags, strip remaining tags, keep paragraphs with >= minChars chars.
    * Returns array<string> of paragraph texts.
    */
  def extractParagraphs(chunk: Column, minChars: Int = 10): Column = {
    val blocks = split(chunk, "(?i)<(?:/?p|/?div|br\\s*/?|/?h[1-6]|/?li)[^>]*>")
    val texts = transform(blocks, b =>
      trim(regexp_replace(regexp_replace(b, "(?s)<[^>]*>", " "), "\\s+", " ")))
    filter(texts, t => length(t) >= minChars)
  }

  /** Media references in document order: img/audio/video/source src
    * attributes (the interleaved-media half of the input_hint schema).
    */
  def extractMediaRefs(chunk: Column): Column =
    regexp_extract_all(chunk,
      lit("(?i)<(?:img|audio|video|source)[^>]*src\\s*=\\s*\"([^\"]+)\""),
      lit(1))

  /** F15: saxutils.escape + whitespace collapse, per paragraph. */
  def escapeParagraph(p: Column): Column = {
    val esc = regexp_replace(
      regexp_replace(regexp_replace(p, "&", "&amp;"), "<", "&lt;"),
      ">", "&gt;")
    trim(regexp_replace(esc, "\\s+", " "))
  }

  /** F13 token filter: keep tokens that are whitelisted, are a word
    * ending in "...", or do NOT contain 3+ consecutive
    * non-word/non-space chars (remove_boilerplate.py:37–40, 234–251).
    * (?U) gives Python's unicode \w semantics.
    */
  def filterTokens(p: Column, whitelist: Seq[String] = DefaultWhitelist): Column = {
    val wl = array(whitelist.map(lit): _*)
    array_join(
      filter(split(p, " "), t =>
        array_contains(wl, t) ||
          t.rlike("(?U)^\\w+\\.\\.\\.$") ||
          !t.rlike("(?U)[^\\w\\s]{3}")),
      " ")
  }

  val DefaultWhitelist: Seq[String] = Seq("...", "'''", "(!)", "[...]", ":).")

  /** F14 cookie/consent paragraph filter (case-insensitive search). */
  def cookiePattern(patterns: Seq[String]): String =
    "(?i)" + patterns.map(p => s"(?:$p)").mkString("|")

  val DefaultCookiePatterns: Seq[String] = Seq(
    "^(?:cookie|cookieconsent)$",
    "(?:cookie|javascript).*(?:dis|en)abled?",
    "this (?:web)?site uses cookies",
    "accept (?:all )?cookies"
  )

  /** Full chunk→span assembly for one document row: paragraphs (escaped,
    * token-filtered, cookie-filtered) interleaved with media refs, as the
    * input_hint `spans` array with contiguous offsets. Expects columns
    * `chunk_body` (string) and `mime`; adds `spans`.
    */
  def spanize(docs: DataFrame,
              minChars: Int = 10,
              tokenFiltering: Boolean = true,
              cookiePatterns: Seq[String] = DefaultCookiePatterns,
              justext: Boolean = false,
              extractor: String = "simple"): DataFrame = {
    val chunks = convertChunks(col("chunk_body"), col("mime"))
    // extractor choice mirrors the reference's boilerplate config
    // (boilerplate.py:61–74 offers justext AND trafilatura): "simple"
    // block-splitter (SQL-mirrorable, used by the oracle-gated queries),
    // "justext" (full 5-phase classifier), or "trafilatura" (section
    // pruning + main restriction + density/length/dup rules)
    val which = if (justext) "justext" else extractor
    val rawParas = which match {
      case "justext" =>
        graft.functions.Boilerplate.extractGoodChunksUdf(chunks)
      case "trafilatura" =>
        graft.functions.Trafilatura.extractChunksUdf(chunks)
      case _ =>
        flatten(transform(chunks, c => extractParagraphs(c, minChars)))
    }
    // both extractors emit whitespace-collapsed text, so escaping needs
    // only the literal entity replacements (no regex, no re-collapse)
    val escaped = transform(rawParas, p =>
      replace(
        replace(
          replace(p, lit("&"), lit("&amp;")),
          lit("<"), lit("&lt;")),
        lit(">"), lit("&gt;")))
    val tokened =
      if (tokenFiltering) transform(escaped, p => filterTokens(p))
      else escaped
    val cooked = filter(tokened, p =>
      !p.rlike(cookiePattern(cookiePatterns)) && length(trim(p)) > 0)
    val media = extractMediaRefs(col("chunk_body"))
    val pSpans = transform(cooked, p =>
      struct(lit("p").as("kind"), p.as("text"), lit("").as("media_ref")))
    val mSpans = transform(media, m =>
      struct(lit("media").as("kind"), lit("").as("text"), m.as("media_ref")))
    // paragraphs first, then media, re-offset contiguously (document
    // order within each kind is preserved; media interleaving positions
    // are synthetic in the stand-in remover)
    val all = concat(pSpans, mSpans)
    docs.withColumn("spans",
      transform(all, (s, i) =>
        struct(s.getField("kind").as("kind"), s.getField("text").as("text"),
               s.getField("media_ref").as("media_ref"),
               i.cast("int").as("offset"))))
  }

  /** A5: within-document exact-duplicate span removal, keeping the first
    * occurrence (remove_same_p.py:90–114). Pure column fold: rebuild the
    * array keeping spans whose (kind, text, media_ref) key is unseen.
    */
  def sameDocDedup(spans: Column): Column = {
    val deduped = aggregate(
      spans,
      struct(
        array().cast("array<struct<kind:string,text:string,media_ref:string,offset:int>>")
          .as("kept"),
        array().cast("array<string>").as("seen")),
      (acc, s) => {
        val key = concat_ws("", s.getField("kind"), s.getField("text"),
                            s.getField("media_ref"))
        when(array_contains(acc.getField("seen"), key), acc)
          .otherwise(struct(
            concat(acc.getField("kept"), array(s)).as("kept"),
            concat(acc.getField("seen"), array(key)).as("seen")))
      },
      acc => acc.getField("kept"))
    transform(deduped, (s, i) =>
      struct(s.getField("kind").as("kind"), s.getField("text").as("text"),
             s.getField("media_ref").as("media_ref"),
             i.cast("int").as("offset")))
  }

  /** F10 length filter values: word count = whitespace tokens summed over
    * text spans; char count = sum of lengths + (n_text_spans - 1)
    * newlines (cc_corpus/corpus.py:43–64).
    */
  def wcWords(spans: Column): Column =
    aggregate(
      filter(spans, s => s.getField("kind") === "p"),
      lit(0L),
      (acc, s) => acc + size(split(trim(s.getField("text")), "\\s+")))

  def wcChars(spans: Column): Column = {
    val texts = filter(spans, s => s.getField("kind") === "p")
    aggregate(texts, lit(0L), (acc, s) => acc + length(s.getField("text"))) +
      greatest(size(texts) - 1, lit(0)).cast("long")
  }

  /** Span-sequence invariant validator: the per-row contract of the
    * interleaved-document table (doc_id, spans<kind,text,media_ref,
    * offset>) made executable — offsets strictly increasing in array
    * order, kind from the allowed set, text spans carry text, media
    * spans carry a media_ref. A corpus ingest gate runs this before
    * commit: a violation is data corruption, not a quality judgment.
    * Plan: one posexplode + per-doc lag window (shuffle keyed by doc
    * id, group = span count — skew-free) + partial-agg rollup.
    * Output: (idCol, n_violations, first_bad_pos, valid). Docs with an
    * empty/NULL spans array don't reach the validator's domain — gate
    * them with a size() filter first.
    */
  def validateSpans(docs: DataFrame, idCol: String = "doc_id",
                    spansCol: String = "spans",
                    kinds: Seq[String] =
                      Seq("text", "image", "audio", "video"),
                    textKind: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = docs.select(col(idCol),
      posexplode(col(spansCol)).as(Seq("pos", "sp")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    val prevOff = lag(col("sp.offset"), 1).over(w)
    val isBad =
      (prevOff.isNotNull && col("sp.offset") <= prevOff) ||
        !col("sp.kind").isin(kinds: _*) ||
        (col("sp.kind") === textKind &&
          (col("sp.text").isNull || col("sp.text") === "")) ||
        (col("sp.kind") =!= textKind &&
          (col("sp.media_ref").isNull || col("sp.media_ref") === ""))
    ex.withColumn("__bad", isBad) // window fn must project before agg
      .groupBy(idCol)
      .agg(sum(col("__bad").cast("long")).as("n_violations"),
        min(when(col("__bad"), col("pos").cast("long")))
          .as("first_bad_pos"))
      .withColumn("valid", col("n_violations") === 0)
  }

  /** Interleaved-span profile of the input-contract table — the
    * shape report a 100 TB multimodal corpus gets before any stage
    * decides batch sizes or media-fetch budgets: per doc, span/text/
    * media counts, total text chars, distinct non-empty media refs
    * and the media fraction (4dp). Pure array-lambda columns over the
    * spans array (kind, text, media_ref, offset) — no explode, no
    * shuffle; composes in front of spanize/fetch planning for free.
    */
  /** Span normalization over the interleaved contract: drop degenerate
    * spans (empty text, ref-less media), merge RUNS of consecutive text
    * spans (single-space joined, original order), and re-derive each
    * surviving span's offset as the cumulative merged-text chars before
    * it — the canonical form every downstream packer/pairer assumes.
    * Media spans never merge. Gaps-and-islands windows per doc; output
    * one row per normalized span:
    * (idCol, ord, kind, text, media_ref, offset).
    */
  def normalizeSpans(docs: DataFrame, spansCol: String = "spans",
                     idCol: String = "doc_id",
                     textKind: String = "text"): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(asc("i"))
    val sp = docs
      .select(col(idCol), posexplode(col(spansCol)).as(Seq("i", "s")))
      .select(col(idCol), col("i"), col("s.kind").as("kind"),
        col("s.text").as("text"), col("s.media_ref").as("media_ref"))
      .filter(!(col("kind") === textKind && col("text") === "") &&
              !(col("kind") =!= textKind && col("media_ref") === ""))
      .withColumn("istext", col("kind") === textKind)
      .withColumn("brk",
        when(lag("istext", 1).over(w).isNull ||
               lag("istext", 1).over(w) =!= col("istext") ||
               !col("istext"), 1L).otherwise(0L))
      .withColumn("unit", sum("brk").over(w))
    val units = sp.groupBy(col(idCol), col("unit"))
      .agg(min("i").as("i0"), min("kind").as("kind"),
        array_join(
          transform(sort_array(collect_list(struct(col("i"), col("text")))),
            s => s.getField("text")), " ").as("text"),
        min("media_ref").as("media_ref"))
    val w2 = Window.partitionBy(idCol).orderBy(asc("i0"))
    units
      .withColumn("ord", (row_number().over(w2) - 1).cast("long"))
      .withColumn("offset",
        coalesce(
          sum(when(col("kind") === textKind,
            length(col("text")).cast("long")).otherwise(0L))
            .over(w2.rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col(idCol), col("ord"), col("kind"), col("text"),
        col("media_ref"), col("offset"))
  }

  /** Context-budget truncation: keep spans in order while the text
    * consumed so far is under `maxChars`; the crossing text span is cut
    * to the remaining budget, everything after is dropped (media spans
    * consume no budget but fall with the cut). Per doc:
    * (idCol, n_spans_kept, text_chars_kept, truncated).
    */
  def truncateSpans(docs: DataFrame, maxChars: Long,
                    spansCol: String = "spans",
                    idCol: String = "doc_id",
                    textKind: String = "text"): DataFrame = {
    val w = Window.partitionBy(idCol).orderBy(asc("i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val sp = docs
      .select(col(idCol), posexplode(col(spansCol)).as(Seq("i", "s")))
      .select(col(idCol), col("i"), col("s.kind").as("kind"),
        length(col("s.text")).cast("long").as("len"))
      .withColumn("tlen",
        when(col("kind") === textKind, col("len")).otherwise(0L))
      .withColumn("cum", coalesce(sum("tlen").over(w), lit(0L)))
      .withColumn("kept", col("cum") < maxChars)
      .withColumn("kchars",
        when(col("kept"),
          least(col("tlen"), lit(maxChars) - col("cum"))).otherwise(0L))
    sp.groupBy(idCol).agg(
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_spans_kept"),
      sum("kchars").as("text_chars_kept"),
      (sum(when(col("kept"), 0L).otherwise(1L)) > 0 ||
        sum(col("tlen") - col("kchars")) > 0).as("truncated"))
  }

  def spanStats(docs: DataFrame, spansCol: String = "spans",
                textKind: String = "text"): DataFrame = {
    import org.apache.spark.sql.types.LongType
    val sp = col(spansCol)
    val nAll = size(sp)
    val nText = size(filter(sp, s => s("kind") === textKind))
    docs
      .withColumn("n_spans", nAll.cast(LongType))
      .withColumn("n_text", nText.cast(LongType))
      .withColumn("n_media", (nAll - nText).cast(LongType))
      .withColumn("text_chars",
        aggregate(sp, lit(0L), (acc, s) =>
          acc + when(s("kind") === textKind,
            length(s("text")).cast(LongType)).otherwise(0L)))
      .withColumn("n_media_refs",
        size(array_distinct(transform(
          filter(sp, s => s("kind") =!= textKind && s("media_ref") =!= ""),
          s => s("media_ref")))).cast(LongType))
      .withColumn("media_frac",
        when(nAll > 0,
          round((nAll - nText) * lit(1.0) / nAll, 4)).otherwise(lit(0.0)))
  }
}
