package graft.expressions

import graft.functions.TextAnalysis
import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native single-node language-ID expression. The Column-algebra scorer
  * (the test reference graft.ref.RefLangId) is ~700 expression nodes at
  * 22 languages, more at 124 (44 padded-replace counters + argmax
  * chain); at ~100 µs/row of tree
  * overhead it dominated q_lang_paragraphs (4–10 s for 65k paragraph
  * evaluations). This expression computes the identical value — the
  * same non-overlapping " marker " occurrence counts (indexOf advancing
  * by needle length ≡ the (len − len(replace))/len arithmetic), the
  * same first-wins argmax over LangMarkers order, 'unk' on all-zero —
  * in ONE JVM call per row. The DuckDB oracle (TextAnalysis.langIdSql)
  * is unchanged: it mirrors the replace arithmetic whose counts this
  * scan reproduces exactly.
  */
object LangExpressions {

  private val langs: Array[UTF8String] =
    TextAnalysis.LangMarkers.map(m => UTF8String.fromString(m._1)).toArray
  private val markers: Array[Array[String]] =
    TextAnalysis.LangMarkers.map(_._2.map(m => s" $m ").toArray).toArray
  private val Unk = UTF8String.fromString("unk")

  /** Non-overlapping occurrence count — identical to
    * (length(padded) - length(replace(padded, needle, ''))) / |needle|.
    */
  def countOcc(padded: String, needle: String): Long = {
    var n = 0L
    var i = padded.indexOf(needle)
    while (i >= 0) {
      n += 1
      i = padded.indexOf(needle, i + needle.length)
    }
    n
  }

  /** Static entry point for generated code. */
  def langId(text: UTF8String): UTF8String = {
    val padded = " " + text.toString + " "
    var bestIdx = -1
    var best = 0L
    var i = 0
    while (i < markers.length) {
      var s = 0L
      val ms = markers(i)
      var j = 0
      while (j < ms.length) { s += countOcc(padded, ms(j)); j += 1 }
      // strict > keeps the FIRST language on ties — LangMarkers priority
      if (s > best) { best = s; bestIdx = i }
      i += 1
    }
    if (bestIdx < 0) Unk else langs(bestIdx)
  }

  case class LangId(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_lang_id needs a string input, got ${child.dataType}")
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_lang_id"

    override def nullSafeEval(t: Any): Any =
      langId(t.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, t =>
        s"graft.expressions.LangExpressions.langId($t)")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column form (SQL name `graft_lang_id`, see functions.Registry). */
  def langIdCol(c: Column): Column = column(LangId(expression(c)))
}
