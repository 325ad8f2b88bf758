package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Longest-common-prefix length of two strings, in CODE POINTS — the
  * suffix-array LCP kernel. One byte-compare walk per pair inside
  * whole-stage codegen, replacing the previous per-pair construction of
  * two char arrays (`split(s,"")`) plus a boolean `transform` +
  * `array_position` chain: for 256-char suffixes that allocated ~512
  * single-char strings and a boolean array per pair; this allocates
  * nothing. Counting code points (not bytes, not UTF-16 units) matches
  * both the replaced `split("")` semantics (Java regex splits between
  * code points) and DuckDB's `string_split(s, '')` oracle twin, and
  * agrees with the code-point positions `substring`/`substr` use.
  */
object LcpExpressions {

  /** Static entry point for generated code: number of leading code
    * points on which `a` and `b` agree. A multi-byte code point only
    * counts when ALL its bytes match in both strings (a partially
    * matching lead byte is a differing code point, and UTF-8 bytes of
    * distinct code points can never be rearranged into each other at
    * the same offset — lead/continuation bytes are disjoint ranges).
    */
  def commonPrefixLen(a: UTF8String, b: UTF8String): Long = {
    val n = math.min(a.numBytes(), b.numBytes())
    var pos = 0
    var cnt = 0L
    while (pos < n) {
      val l = UTF8String.numBytesForFirstByte(a.getByte(pos))
      if (pos + l > n) return cnt
      var i = 0
      while (i < l) {
        if (a.getByte(pos + i) != b.getByte(pos + i)) return cnt
        i += 1
      }
      cnt += 1
      pos += l
    }
    cnt
  }

  case class CommonPrefixLen(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (left.dataType == StringType && right.dataType == StringType)
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_lcp needs two string inputs, got " +
          s"(${left.dataType}, ${right.dataType})")
    override def dataType: DataType = LongType
    override def prettyName: String = "graft_lcp"

    override def nullSafeEval(a: Any, b: Any): Any =
      commonPrefixLen(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, (a, b) =>
        s"graft.expressions.LcpExpressions.commonPrefixLen($a, $b)")

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** Column form (SQL name `graft_lcp`, see functions.Registry). */
  def lcpCol(a: Column, b: Column): Column =
    column(CommonPrefixLen(expression(a), expression(b)))
}
