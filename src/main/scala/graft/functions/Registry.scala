package graft.functions

import graft.expressions.LangExpressions.LangId
import graft.expressions.LcpExpressions.CommonPrefixLen
import graft.expressions.MinHashExpressions.{MinHashBands, MinHashSignature}
import graft.expressions.NormalizeExpressions.{FixMojibake, NfcNormalize, StripAccents}
import graft.expressions.UrlExpressions.ResolveUrl
import graft.expressions.VectorExpressions.{DotProduct, SqDist}
import graft.expressions.WinnowExpressions.Winnow
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression

/** SQL-facing function registry: exposes the engine's scalar functions to
  * `spark.sql(...)` users so the library is usable without the Scala API.
  * This is the only table of graft's SQL names. Scala callers never need
  * it: the native kernels' Column forms (`graft.expressions`) build their
  * Catalyst expressions directly.
  */
object Registry {

  def register(spark: SparkSession): Unit = {
    spark.udf.register("graft_unquote", Urls.unquoteInf _)
    spark.udf.register("graft_host", Urls.host _)
    spark.udf.register("graft_surt", (h: String) => Urls.surtKey(h))
    spark.udf.register("graft_strip_www", Urls.stripWww _)
    spark.udf.register("graft_bare_url", Urls.bareUrl _)
    spark.udf.register("graft_mime_normalize", (m: String) => Mimes.normalize(m))
    spark.udf.register("graft_minhash", (t: String) => MinHashF.signature(t))
    spark.udf.register("graft_simhash", TextAnalysis.simhash64 _)
    spark.udf.register("graft_shingle_fp",
      (t: String) => TextAnalysis.minShingleHash(t))
    spark.udf.register("graft_est_jaccard",
      (a: Seq[Long], b: Seq[Long]) =>
        MinHashF.estJaccard(a.toArray, b.toArray))
    spark.udf.register("graft_sniff_mime", (b: Array[Byte]) => Mimes.sniff(b))
    spark.udf.register("graft_mime_simplify",
      (m: String) => Mimes.simplify(m))
    spark.udf.register("graft_normalize_content",
      (b: Array[Byte]) => Mimes.normalizeContent(b))
    spark.udf.register("graft_boilerplate_extract",
      (html: String) => Boilerplate.extractLocal(html))
    // the codegen'd native kernels, as Catalyst expressions
    def native(name: String)(build: Seq[Expression] => Expression): Unit =
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, build, "built-in")
    native("graft_lang_id")(e => LangId(e.head))
    native("graft_lcp")(e => CommonPrefixLen(e.head, e(1)))
    native("graft_minhash_sig")(e => MinHashSignature(e.head))
    native("graft_minhash_bands")(e =>
      MinHashBands(e.head, e(1).eval().asInstanceOf[Number].intValue()))
    native("graft_nfc")(e => NfcNormalize(e.head))
    native("graft_strip_accents")(e => StripAccents(e.head))
    native("graft_fix_mojibake")(e => FixMojibake(e.head))
    native("graft_resolve_url")(e => ResolveUrl(e.head, e(1)))
    native("graft_dot")(e => DotProduct(e.head, e(1)))
    native("graft_sqdist")(e => SqDist(e.head, e(1)))
    native("graft_winnow")(e => Winnow(e.head, e(1), e(2)))
  }
}
