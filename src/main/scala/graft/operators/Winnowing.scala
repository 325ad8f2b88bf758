package graft.operators

import graft.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken, the MOSS
  * local fingerprinting algorithm): hash every k-gram of the normalized
  * text, slide a window of `w` consecutive gram hashes, and select each
  * window's minimum hash — RIGHTMOST occurrence on ties — recording the
  * gram position. The selected (position, hash) set is the document's
  * fingerprint: any shared substring of length ≥ k + w − 1 is guaranteed
  * to contribute at least one shared fingerprint (the winnowing
  * guarantee), while expected density is 2/(w+1) — a robust, bounded-size
  * sketch the fixed-stride window digests in SubstringDedup don't give.
  *
  * The reference pipeline has no winnowing stage (its substring dedup is
  * stride-window md5); this is the scale path for plagiarism-style local
  * overlap at 100 TB: everything below is per-row array math inside
  * whole-stage codegen — the only shuffle is the caller's downstream
  * groupBy on fp, which map-side combines.
  *
  * Hashing matches the repo's cross-engine idiom (TextQueries
  * minhashBandsCte): base-131 polynomial over char codes (exact in
  * int64 for k ≤ 5 ASCII chars), mixed by ·1000003 mod 2^31−1 — every
  * step BIGINT-exact in both Spark and DuckDB.
  */
object Winnowing {

  val K = 5 // k-gram length (chars, after normalization)
  val W = 4 // winnowing window (grams)

  /** Per-document fingerprint table: (idCol, pos, fp) — one row per
    * selected gram, distinct within a doc. Runs the fused codegen kernel
    * (expressions.WinnowExpressions) — semantically the higher-order
    * column chain kept as the test reference (graft.ref.RefWinnowing),
    * which is CodegenFallback and measured ~5× slower than the kernel
    * at sf0.1.
    */
  def fingerprints(docs: DataFrame, k: Int = K, w: Int = W,
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    docs
      .select(col(idCol), explode(graft.expressions.WinnowExpressions
        .winnowCol(col(textCol), k, w)).as("sel"))
      .select(col(idCol), col("sel.pos").as("pos"), col("sel.fp").as("fp"))
  }

  /** Overlap pairs sharing ≥ minShared fingerprint VALUES (the MOSS
    * match step): docs are candidates iff a winnowed hash collides.
    * Hot-key guard as in SubstringDedup: a fingerprint value appearing
    * in more than `maxDf` docs is dropped before the self-join (boiler-
    * plate text would otherwise quadratically blow up the join).
    */
  def sharedPairs(docs: DataFrame, minShared: Long = 1, maxDf: Int = 64,
                  k: Int = K, w: Int = W,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    // pinned: referenced three times below (df guard + both self-join
    // sides) — without it the whole O(n·w) winnowing chain re-runs per
    // reference
    val fps = Pin(fingerprints(docs, k, w, idCol, textCol)
      .select(col(idCol), col("fp")).distinct())
    val ok = fps.groupBy("fp").count().filter(col("count") <= maxDf)
      .select("fp")
    val kept = fps.join(ok, Seq("fp"))
    kept.alias("a")
      .join(kept.alias("b"),
        col("a.fp") === col("b.fp") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
