package graft.operators

import graft.expressions.LcpExpressions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed suffix array over a document corpus, and the exact
  * duplicated-span extraction built on it — the suffix-array
  * formulation of exact substring dedup (Lee et al. 2021,
  * "Deduplicating Training Data Makes Language Models Better"),
  * complementing the fingerprint-based `SubstringDedup`
  * (cc_corpus's dedup family: lsh.py, frequent_paragraphs.py) with a
  * collision-free exact method that also yields *maximal* repeat
  * lengths, not just fixed-window hits.
  *
  * Shape: suffixes never cross document boundaries (each doc is its own
  * string; a doc-end-short suffix sorts before its extensions — exactly
  * memcmp prefix order with an implicit terminator below every char).
  * Because text is truncated to `maxLen` chars up front, every suffix is
  * a bounded string and the suffix order IS the binary string order of
  * the truncated suffixes — so construction is ONE distributed ordinal
  * sort of those strings (range sort + stage-local ids + broadcast
  * per-partition offsets; no single-partition window ever sees the
  * corpus). Earlier rounds used Manber–Myers prefix doubling here; for
  * bounded maxLen the direct sort shuffles strictly fewer bytes — one
  * pass moving ≤ maxLen-byte rows versus log₂(maxLen/16) rounds that
  * each re-shuffle the corpus through two joins plus an ordinal sort of
  * the (r1, r2) pair table — and drops the per-round pins and
  * early-exit count jobs. Prefix doubling remains
  * the construction of record only when suffix length is unbounded.
  *
  * Ordering contract: Spark's string sort and DuckDB's default
  * collation share binary UTF-8 order (UTF-8 is code-point
  * order-preserving), so the final suffix order is plain memcmp order
  * of the truncated suffixes with ties broken by (doc_id, pos). Text is
  * truncated to `maxLen` chars — comparisons are exact within that
  * horizon (callers wanting full-doc precision raise it; repeats longer
  * than maxLen still surface, as equal-rank runs).
  */
object SuffixArray {

  /** Ranked suffixes with the suffix text still in hand:
    * (doc_id, pos: long, __suf, sa). The shared core of [[build]] and
    * [[adjacentLcp]] — one explode, one ordinal sort, nothing else.
    */
  private[graft] def buildRanked(docs: DataFrame, idCol: String,
                                 textCol: String, maxLen: Int): DataFrame = {
    val base = docs
      .select(col(idCol).as("doc_id"),
        substring(col(textCol), 1, maxLen).as("__t"))
      .filter(length(col("__t")) > 0) // sequence(1,0) would DESCEND
    val sufs = base
      .select(col("doc_id"),
        explode(sequence(lit(1), length(col("__t")))).as("pos"),
        col("__t"))
      .select(col("doc_id"), col("pos").cast(LongType).as("pos"),
        expr("substring(__t, pos)").as("__suf"))
    UrlDedup.ordByPartitionOffsets(sufs,
      Seq(col("__suf").asc, col("doc_id").asc, col("pos").asc), "sa")
  }

  /** Suffix array: one row per suffix (doc_id, pos 1-based), `sa` the
    * 0-based position in the global lexicographic order of all
    * truncated suffixes, ties (identical suffixes) by (doc_id, pos).
    */
  def build(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text", maxLen: Int = 256): DataFrame =
    buildRanked(docs, idCol, textCol, maxLen)
      .select(col("doc_id"), col("pos"), col("sa"))

  /** Adjacent pairs in suffix order with their exact LCP: one row per
    * consecutive (sa, sa+1), columns (doc_a, pos_a, doc_b, pos_b, lcp)
    * plus the a-side suffix text `__sufa` (so callers needing the
    * repeated prefix — [[longestRepeats]] — slice it without another
    * join against the corpus). LCP is one codegen'd byte-walk per pair
    * ([[LcpExpressions]]); the suffix strings are already in hand from
    * the build sort, so the only extra cost over the sort itself is the
    * sa/sa+1 adjacency join off the checkpointed rank table.
    */
  private[graft] def adjacentLcpWithText(docs: DataFrame, idCol: String,
                                         textCol: String,
                                         maxLen: Int): DataFrame = {
    val sufs = buildRanked(docs, idCol, textCol, maxLen)
    val a = sufs.select(col("sa"), col("doc_id").as("doc_a"),
      col("pos").as("pos_a"), col("__suf").as("__sufa"))
    val b = sufs.select((col("sa") - 1).as("sa"), col("doc_id").as("doc_b"),
      col("pos").as("pos_b"), col("__suf").as("__sufb"))
    a.join(b, Seq("sa"))
      .select(col("sa"), col("doc_a"), col("pos_a"), col("doc_b"),
        col("pos_b"),
        LcpExpressions.lcpCol(col("__sufa"), col("__sufb")).as("lcp"),
        col("__sufa"))
  }

  /** Public adjacency view (no suffix text column). */
  def adjacentLcp(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text",
                  maxLen: Int = 256): DataFrame =
    adjacentLcpWithText(docs, idCol, textCol, maxLen)
      .select(col("sa"), col("doc_a"), col("pos_a"), col("doc_b"),
        col("pos_b"), col("lcp"))

  /** Exact duplicated spans: per doc, the merged char intervals
    * [span_start, span_end) (1-based, end-exclusive) covered by some
    * substring of length >= minLen that occurs at least twice anywhere
    * in the corpus. A suffix's max LCP against ALL other suffixes is
    * max(lcp with SA-predecessor, lcp with SA-successor) — the
    * classical SA property — so adjacent pairs suffice for exactness.
    */
  def duplicateSpans(docs: DataFrame, minLen: Int,
                     idCol: String = "doc_id", textCol: String = "text",
                     maxLen: Int = 256): DataFrame = {
    val pairs = adjacentLcp(docs, idCol, textCol, maxLen)
    val cov = pairs.select(col("doc_a").as("doc_id"),
        col("pos_a").as("pos"), col("lcp"))
      .unionByName(pairs.select(col("doc_b").as("doc_id"),
        col("pos_b").as("pos"), col("lcp")))
      .groupBy(col("doc_id"), col("pos"))
      .agg(max(col("lcp")).as("__m"))
      .filter(col("__m") >= minLen)
      .select(col("doc_id"), col("pos").as("__s"),
        (col("pos") + col("__m")).as("__e"))
    // classic gaps-and-islands merge, per-doc partitions (skew-free:
    // a doc's intervals are one group, bounded by its length)
    val w = Window.partitionBy("doc_id").orderBy("__s")
    cov
      .withColumn("__pmax", max(col("__e"))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__brk",
        when(col("__pmax").isNull || col("__s") > col("__pmax"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__brk"))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("doc_id"), col("__isl"))
      .agg(min(col("__s")).cast(LongType).as("span_start"),
        max(col("__e")).cast(LongType).as("span_end"))
      .select(col("doc_id"), col("span_start"), col("span_end"))
  }

  /** Doc-level duplicate-coverage verdict (the Lee et al. document
    * criterion): fraction of each doc's truncated chars lying inside
    * some >=minLen substring duplicated elsewhere in the corpus; docs
    * at or above `dropFrac` are flagged. Docs with no duplicated span
    * appear with coverage 0 — the keep/drop decision is total.
    */
  def duplicateCoverage(docs: DataFrame, minLen: Int, dropFrac: Double,
                        idCol: String = "doc_id",
                        textCol: String = "text",
                        maxLen: Int = 256): DataFrame = {
    val spans = duplicateSpans(docs, minLen, idCol, textCol, maxLen)
      .groupBy("doc_id")
      .agg(sum(col("span_end") - col("span_start")).as("dup_chars"))
    docs
      .select(col(idCol).as("doc_id"),
        length(substring(col(textCol), 1, maxLen)).cast(LongType)
          .as("n_chars"))
      .filter(col("n_chars") > 0)
      .join(spans, Seq("doc_id"), "left")
      .withColumn("dup_chars", coalesce(col("dup_chars"), lit(0L)))
      .withColumn("dup_frac",
        round(col("dup_chars").cast("double")
          / col("n_chars").cast("double"), 6))
      .withColumn("drop_doc", col("dup_frac") >= dropFrac)
      .select(col("doc_id"), col("n_chars"), col("dup_chars"),
        col("dup_frac"), col("drop_doc"))
  }

  /** Longest repeats: top-`n` adjacent-suffix pairs by LCP (ties by
    * (doc_a, pos_a)), with the repeated prefix itself. The corpus-wide
    * longest duplicated substring is row 1. The repeat text is sliced
    * from the a-side suffix already in hand (`substring(suffix_a, 1,
    * lcp)` ≡ `substring(text_a, pos_a, lcp)`), not re-joined from the
    * corpus.
    */
  def longestRepeats(docs: DataFrame, n: Int,
                     idCol: String = "doc_id", textCol: String = "text",
                     maxLen: Int = 256): DataFrame =
    adjacentLcpWithText(docs, idCol, textCol, maxLen)
      .withColumn("repeat_str", expr("substring(__sufa, 1, lcp)"))
      .select(col("doc_a"), col("pos_a"), col("doc_b"), col("pos_b"),
        col("lcp"), col("repeat_str"))
      .orderBy(desc("lcp"), asc("doc_a"), asc("pos_a"),
        asc("doc_b"), asc("pos_b"))
      .limit(n)
}
