package graft.ref

import graft.operators.Winnowing
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Winnowing as a chain of higher-order columns (normalize → char codes
  * → k-gram base-131 hashes → rightmost-min window selection), kept as
  * the parity reference for the fused kernel behind
  * `Winnowing.fingerprints` (expressions.WinnowExpressions; test oracle
  * only).
  */
object RefWinnowing {

  /** Char-code array of the normalized text. MUST be materialized as
    * its own projection column before feeding [[gramHashesFromCodes]]:
    * higher-order lambdas evaluate their argument subtree per element,
    * so inlining this regex+split chain into the per-gram element_at
    * sites would re-run the regex O(n·k) times per row (measured: a
    * 500-doc batch went from minutes to milliseconds after staging).
    * CollapseProject keeps the stage: the expression is non-cheap and
    * multiply-referenced downstream.
    */
  def gramCodes(text: Column): Column =
    transform(
      filter(split(regexp_replace(lower(text), "[^a-z0-9]", ""), ""),
        c => length(c) > 0),
      c => ascii(c).cast("long"))

  /** Gram-hash array from a MATERIALIZED char-code array column: one
    * base-131/mix hash per k-gram, empty when fewer than k codes.
    */
  def gramHashesFromCodes(codes: Column, k: Int = Winnowing.K): Column = {
    val n = (size(codes) - k + 1).cast("long")
    // polynomial over the k char codes at 1-based gram start i
    def poly(i: Column): Column =
      (0 until k).foldLeft(lit(0L).cast("long")) { (acc, j) =>
        acc * 131 + element_at(codes, (i + lit(j)).cast("int"))
      }
    when(n >= 1,
      transform(sequence(lit(1L), n),
        i => pmod(poly(i) * 1000003L, lit(2147483647L))))
      .otherwise(array().cast("array<bigint>"))
  }

  /** Winnowing selection over an arbitrary hash array: returns the
    * distinct array<struct<pos,fp>> of selected fingerprints, pos =
    * 1-based index into `hashes`, rightmost-min per window. Factored so
    * specs can drive it with literal hash sequences (the MOSS paper's
    * worked example) independent of the hashing.
    */
  def winnowSelect(hashes: Column, w: Int = Winnowing.W): Column = {
    val n = size(hashes).cast("long")
    val sel = transform(sequence(lit(1L), n - w + 1), { j =>
      val win  = slice(hashes, j, lit(w))
      val minv = array_min(win)
      // rightmost occurrence: position from the right end, mirrored
      val pos = j + lit(w.toLong) - array_position(reverse(win), minv)
      struct(pos.as("pos"), minv.as("fp"))
    })
    when(n >= w, array_distinct(sel))
      .otherwise(array().cast("array<struct<pos:bigint,fp:bigint>>"))
  }
}
