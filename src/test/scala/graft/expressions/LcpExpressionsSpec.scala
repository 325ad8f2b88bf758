package graft.expressions

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd common-prefix-length kernel vs a from-definition
  * code-point walk, and vs the split("")-based Spark formulation it
  * replaced in SuffixArray.adjacentLcp.
  */
class LcpExpressionsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def refLcp(a: String, b: String): Long = {
    // common prefix in CODE POINTS, from definition
    var ia = 0; var ib = 0; var n = 0L
    while (ia < a.length && ib < b.length) {
      val ca = a.codePointAt(ia)
      val cb = b.codePointAt(ib)
      if (ca != cb) return n
      n += 1
      ia += Character.charCount(ca)
      ib += Character.charCount(cb)
    }
    n
  }

  private val cases = Seq(
    ("", ""), ("", "a"), ("abc", ""),
    ("abc", "abc"), ("abc", "abd"), ("abc", "abcdef"),
    ("same prefix here X tail", "same prefix here Y tail"),
    ("café", "cafe"),              // multi-byte é vs ASCII e
    ("cafés", "caféx"),  // agree through the 2-byte char
    ("éè", "éê"), // multi-byte chars sharing lead byte
    ("héllo wörld", "héllo wörld!"),
    ("日本語テキスト", "日本語テスト"), // 3-byte chars
    ("a𝄞b", "a𝄞c"),               // 4-byte (surrogate-pair) char matches
    ("𝄞", "𝄟"),                   // 4-byte chars differing in last byte
    ("aa", "ab"), ("a", "a"))

  test("commonPrefixLen == code-point walk on ASCII and multi-byte cases") {
    for ((a, b) <- cases) {
      val got = LcpExpressions.commonPrefixLen(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(got == refLcp(a, b), s"lcp($a, $b)")
    }
  }

  test("column form under codegen matches the split(\"\") formulation " +
      "it replaced") {
    import org.apache.spark.sql.functions._
    val df = cases.toDF("a", "b")
      .withColumn("got", LcpExpressions.lcpCol(col("a"), col("b")))
      // the SuffixArray.adjacentLcp chain this kernel replaced
      .withColumn("__ca", filter(split(col("a"), ""), c => c =!= lit("")))
      .withColumn("__cb", filter(split(col("b"), ""), c => c =!= lit("")))
      .withColumn("__n", least(size(col("__ca")), size(col("__cb"))))
      // sequence(1, 0) DESCENDS — guard the empty-string cases the
      // SuffixArray chain never produced (suffixes have length >= 1)
      .withColumn("__eq", when(col("__n") >= 1,
        transform(sequence(lit(1), col("__n")),
          i => element_at(col("__ca"), i) === element_at(col("__cb"), i)))
        .otherwise(array().cast("array<boolean>")))
      .withColumn("__fp", array_position(col("__eq"), false))
      .withColumn("want", when(col("__fp") > 0, col("__fp") - 1)
        .otherwise(col("__n")).cast("long"))
    val rows = df.select("a", "b", "got", "want").collect()
    for (r <- rows)
      assert(r.getLong(2) == r.getLong(3),
        s"lcp(${r.getString(0)}, ${r.getString(1)})")
  }

  test("null inputs yield null") {
    import org.apache.spark.sql.functions._
    val r = Seq((Option("a"), Option.empty[String]))
      .toDF("a", "b")
      .select(LcpExpressions.lcpCol(col("a"), col("b")))
      .collect().head
    assert(r.isNullAt(0))
  }
}
