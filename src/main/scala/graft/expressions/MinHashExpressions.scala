package graft.expressions

import graft.functions.MinHashF
import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions for the minhash hot path (SURVEY.md §2.8
  * upgrade path: "Scala UDF first; upgrade: Catalyst Expression with
  * codegen"). Versus ScalaUDF this avoids the per-row encoder round-trip
  * and keeps the operator inside whole-stage codegen via a static call.
  *
  * Scala callers use the Column form [[bandsCol]]; SQL users reach both
  * expressions through functions.Registry (`graft_minhash_bands`,
  * `graft_minhash_sig`). No SparkSessionExtensions module is needed
  * (SURVEY.md §4: no custom Rule/Strategy strictly required).
  */
object MinHashExpressions {

  /** Static entry point for generated code. */
  def bandsFromUTF8(text: UTF8String, b: Int): GenericArrayData = {
    val sig = MinHashF.signature(if (text == null) null else text.toString)
    new GenericArrayData(MinHashF.bandHashes(sig, b))
  }

  def signatureFromUTF8(text: UTF8String): GenericArrayData =
    new GenericArrayData(
      MinHashF.signature(if (text == null) null else text.toString))

  case class MinHashBands(child: Expression, b: Int)
      extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_bands needs a string input, got ${child.dataType}")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_bands"

    override def nullSafeEval(input: Any): Any =
      bandsFromUTF8(input.asInstanceOf[UTF8String], b)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.expressions.MinHashExpressions.bandsFromUTF8($c, $b);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  case class MinHashSignature(child: Expression)
      extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_sig needs a string input, got ${child.dataType}")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "graft_minhash_sig"

    override def nullSafeEval(input: Any): Any =
      signatureFromUTF8(input.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = graft.expressions.MinHashExpressions.signatureFromUTF8($c);")

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Column form: the `b` band hashes of `text`'s minhash signature
    * (SQL name `graft_minhash_bands`, see functions.Registry).
    */
  def bandsCol(text: Column, b: Int): Column =
    column(MinHashBands(expression(text), b))
}
