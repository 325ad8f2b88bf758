package graft.operators

import graft.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact substring-overlap deduplication over token windows — the
  * "exact substring dedup" of LLM training-data pipelines (two docs
  * sharing any w-token run are near-certain template/quote duplicates;
  * complements MinHash, which needs whole-doc similarity). No direct
  * reference analogue (cc_corpus dedups whole docs and paragraphs —
  * lsh.py, frequent_paragraphs.py); this fills the window granularity
  * between those two.
  *
  * Fingerprint = md5 of the space-joined w-token window (content-defined,
  * whitespace-normalized), so the DuckDB oracle reproduces it exactly
  * with `md5(array_to_string(tokens[i:i+w], ' '))` — no custom hash to
  * drift.
  *
  * Scale shape: the fingerprint table is ~one row per token (like the
  * LSH band table); everything downstream is hash joins/aggregations on
  * `fp`. The pair form is quadratic per fingerprint bucket — real
  * corpora have mega-buckets (boilerplate windows), so `sharedPairs`
  * caps bucket width and the production keep/drop form (`survivors`)
  * never materializes pairs at all: a doc is dropped iff one of its
  * windows also occurs in a SMALLER doc_id (min-per-bucket join,
  * skew-free partial agg), which is deterministic and
  * partitioning-invariant.
  */
object SubstringDedup {

  /** (doc_id, widx, fp): one md5 fingerprint per w-token window.
    * Requires (doc_id, text); pure codegen columns, no UDF.
    *
    * Plan shape follows the Curation.cdcChunks lesson: posexplode to
    * one (doc, pos, tok) row per token — all codegen — then the window
    * string assembles from `lag` over a per-doc window, so the whole
    * chain runs compiled. The previous form built every window string
    * inside an array `transform` lambda; higher-order functions are
    * CodegenFallback, so that O(tokens·w) string assembly evaluated
    * interpreted per doc. The one window exchange moves compact
    * single-token rows, repartitioned by doc up front so the explode
    * parallelizes regardless of input file count.
    */
  def windowFingerprints(docs: DataFrame, w: Int = 8,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = split(trim(col(textCol)), "\\s+")
    val posToks = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol).as("doc_id"),
        posexplode(toks).as(Seq("pos0", "tok")))
    val ow = Window.partitionBy(col("doc_id")).orderBy(col("pos0"))
    // window ending at pos0: (lag(w-1), ..., lag(1), tok); rows with
    // pos0 < w-1 (incomplete windows) are filtered, so the null-skipping
    // of concat_ws never shortens a kept window
    val win = concat_ws(" ",
      ((w - 1) to 1 by -1).map(k => lag(col("tok"), k).over(ow)) :+
        col("tok"): _*)
    posToks
      .withColumn("__wtext", win)
      .where(col("pos0") >= w - 1)
      .select(col("doc_id"), (col("pos0") - (w - 1)).as("widx"),
        md5(col("__wtext")).as("fp"))
  }

  /** Distinct doc pairs sharing >= minShared window fingerprints, with
    * the shared-window count. `maxBucket` drops fingerprints occurring
    * in more than that many docs (boilerplate mega-buckets — quadratic
    * blowup for zero dedup signal; the survivors form handles them
    * linearly). Loudly capped: callers at scale read the doc.
    */
  def sharedPairs(docs: DataFrame, w: Int = 8, minShared: Long = 1,
                  maxBucket: Int = 64): DataFrame = {
    val fps = windowFingerprints(docs, w)
      .select("doc_id", "fp").distinct()
    // pinned: both self-join sides consume this frame — without it
    // the tokenize+md5 chain (the dominant cost) runs twice
    val small = Pin(fps.withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("fp")))
      .where(col("n") <= maxBucket).drop("n"))
    small.alias("x").join(small.alias("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
  }

  /** Keep/drop form, linear in the fingerprint table: a doc survives
    * iff none of its windows occurs in any smaller doc_id. min-per-fp
    * is a partial-aggregated groupBy (map-side combine, skew-free);
    * the drop test is one semi join.
    */
  def survivors(docs: DataFrame, w: Int = 8,
                idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val fps = windowFingerprints(
      docs.select(col(idCol).as("doc_id"), col(textCol).as("text")), w)
      .select("doc_id", "fp").distinct()
    val minPer = fps.groupBy("fp").agg(min("doc_id").as("min_id"))
    val dropped = fps.join(minPer, Seq("fp"))
      .where(col("doc_id") > col("min_id"))
      .select("doc_id").distinct()
    docs.join(dropped.withColumnRenamed("doc_id", idCol),
              Seq(idCol), "left_anti")
  }
}
