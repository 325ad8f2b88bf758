package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The full winnowing selection (Schleimer–Wilkerson–Aiken / MOSS) as
  * ONE codegen'd kernel: normalize → k-gram base-131 hashes → w-window
  * rightmost-min selection → first-occurrence-deduped
  * array<struct<pos,fp>>. Semantics are exactly the column chain in
  * the test reference graft.ref.RefWinnowing (gramCodes →
  * gramHashesFromCodes → winnowSelect), which this replaces on the hot
  * path: those are higher-order-function
  * columns, and HOFs are CodegenFallback — per document they built a
  * char array, a gram-hash array, then per window a slice + reverse +
  * array_position, all interpreted with per-element boxing. Here it is
  * two tight primitive loops and one output array.
  *
  * Equivalences relied on (spec-checked against the column chain):
  *   - `lower()` is UTF8String.toLowerCase — called identically here;
  *   - `regexp_replace(lower, "[^a-z0-9]", "")` keeps exactly the bytes
  *     in [a-z0-9]: multi-byte UTF-8 units are all >= 0x80 so a plain
  *     byte scan cannot mistake a continuation byte for a kept char;
  *   - `ascii(c)` of a kept single char is its byte value;
  *   - hash math is exact in Long for k ≤ 5 ASCII chars (max
  *     poly ≈ 3.6e10, ×1000003 ≈ 3.6e16 < 2^63);
  *   - rightmost-min tie-break and the 1-based positions match
  *     winnowSelect; dedup preserves first occurrence (array_distinct).
  */
object WinnowExpressions {

  private val Mod = 2147483647L // 2^31 - 1

  /** Static entry point for generated code. */
  def winnow(text: UTF8String, k: Int, w: Int): ArrayData = {
    // normalize: lowercase, keep [a-z0-9] bytes
    val lowered = text.toLowerCase
    val nb = lowered.numBytes()
    val codes = new Array[Long](nb)
    var n = 0
    var i = 0
    while (i < nb) {
      val b = lowered.getByte(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        codes(n) = b.toLong
        n += 1
      }
      i += 1
    }
    val nG = n - k + 1
    if (nG < 1) return new GenericArrayData(Array.empty[Any])
    val hashes = new Array[Long](nG)
    var g = 0
    while (g < nG) {
      var acc = 0L
      var j = 0
      while (j < k) { acc = acc * 131 + codes(g + j); j += 1 }
      hashes(g) = math.floorMod(acc * 1000003L, Mod)
      g += 1
    }
    val nW = nG - w + 1
    if (nW < 1) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[Any](2 * nW / (w + 1) + 4)
    val seen = new java.util.HashSet[Long]()
    var jw = 0
    while (jw < nW) {
      // rightmost min of hashes[jw .. jw+w-1]
      var best = hashes(jw + w - 1)
      var bestPos = jw + w - 1
      var t = jw + w - 2
      while (t >= jw) {
        if (hashes(t) < best) { best = hashes(t); bestPos = t }
        t -= 1
      }
      val pos = (bestPos + 1).toLong // 1-based gram position
      val key = pos * Mod + best // injective: best < Mod
      if (seen.add(key))
        out.add(InternalRow(pos, best))
      jw += 1
    }
    new GenericArrayData(out.toArray)
  }

  case class Winnow(first: Expression, second: Expression,
                    third: Expression) extends TernaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (first.dataType == StringType &&
          second.dataType == IntegerType && third.dataType == IntegerType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_winnow needs (string, int, int), got " +
          s"(${first.dataType}, ${second.dataType}, ${third.dataType})")
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("pos", LongType, nullable = false),
        StructField("fp", LongType, nullable = false))),
      containsNull = false)
    override def prettyName: String = "graft_winnow"

    override def nullSafeEval(t: Any, k: Any, w: Any): Any =
      winnow(t.asInstanceOf[UTF8String],
        k.asInstanceOf[Int], w.asInstanceOf[Int])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (t, k, w) =>
        s"graft.expressions.WinnowExpressions.winnow($t, $k, $w)")

    override protected def withNewChildrenInternal(
        newFirst: Expression, newSecond: Expression,
        newThird: Expression): Expression =
      copy(first = newFirst, second = newSecond, third = newThird)
  }

  /** Column form (SQL name `graft_winnow`, see functions.Registry). */
  def winnowCol(text: Column, k: Int, w: Int): Column =
    column(Winnow(expression(text), Literal(k), Literal(w)))
}
