package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.ExpressionBridge.{column, expression}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Unicode NFC normalization — the canonical-composition pass a
  * web corpus needs before any hash-based dedup or token matching
  * (crawled HTML mixes precomposed and combining-mark encodings of the
  * SAME text; their md5/minhash/shingle fingerprints differ until
  * normalized). Spark ships no normalizer, so this is a one-call
  * codegen'd expression over java.text.Normalizer; DuckDB's built-in
  * `nfc_normalize` is the oracle twin.
  */
object NormalizeExpressions {

  /** Static entry point for generated code. Fast path: Normalizer
    * .isNormalized is a cheap scan that avoids allocating for the
    * (overwhelmingly common) already-NFC input.
    */
  def nfc(text: UTF8String): UTF8String = {
    val s = text.toString
    if (java.text.Normalizer.isNormalized(s, java.text.Normalizer.Form.NFC))
      text
    else UTF8String.fromString(
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
  }

  case class NfcNormalize(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_nfc needs a string input, got ${child.dataType}")
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_nfc"

    override def nullSafeEval(t: Any): Any =
      nfc(t.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, t =>
        s"graft.expressions.NormalizeExpressions.nfc($t)")

    override protected def withNewChildInternal(
        newChild: Expression): Expression = copy(child = newChild)
  }

  /** Accent stripping: NFD decomposition, then every combining mark
    * (general category M) removed — 'café'→'cafe', 'Åño'→'Ano'.
    * The other half of hash-key canonicalization: queries and crawled
    * text disagree on diacritics even after NFC. Characters that are
    * NOT canonical base+mark compositions (ø, ß, đ) pass through —
    * matching DuckDB's utf8proc-based `strip_accents`, the oracle
    * twin. Fast path: pure-ASCII input (the overwhelming web case)
    * returns unchanged without allocating.
    */
  def stripAccents(text: UTF8String): UTF8String = {
    val s = text.toString
    var ascii = true
    var i = 0
    while (ascii && i < s.length) { ascii = s.charAt(i) < 128; i += 1 }
    if (ascii) text
    else {
      val d = java.text.Normalizer.normalize(
        s, java.text.Normalizer.Form.NFD)
      val sb = new java.lang.StringBuilder(d.length)
      var j = 0
      while (j < d.length) {
        val cp = d.codePointAt(j)
        val t = Character.getType(cp)
        if (t != Character.NON_SPACING_MARK &&
            t != Character.COMBINING_SPACING_MARK &&
            t != Character.ENCLOSING_MARK)
          sb.appendCodePoint(cp)
        j += Character.charCount(cp)
      }
      UTF8String.fromString(sb.toString)
    }
  }

  case class StripAccents(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_strip_accents needs a string input, got ${child.dataType}")
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_strip_accents"

    override def nullSafeEval(t: Any): Any =
      stripAccents(t.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, t =>
        s"graft.expressions.NormalizeExpressions.stripAccents($t)")

    override protected def withNewChildInternal(
        newChild: Expression): Expression = copy(child = newChild)
  }

  /** cp1252 byte for the 27 codepoints Windows-1252 maps into
    * 0x80–0x9F (the smart-quote/dash/euro band); -1 when not one of
    * them. Mojibake text displayed through cp1252 shows THESE
    * characters where latin-1 display shows invisible C1 controls —
    * the repair must reverse both renderings.
    */
  private def cp1252Byte(cp: Int): Int = cp match {
    case 0x20AC => 0x80; case 0x201A => 0x82; case 0x0192 => 0x83
    case 0x201E => 0x84; case 0x2026 => 0x85; case 0x2020 => 0x86
    case 0x2021 => 0x87; case 0x02C6 => 0x88; case 0x2030 => 0x89
    case 0x0160 => 0x8A; case 0x2039 => 0x8B; case 0x0152 => 0x8C
    case 0x017D => 0x8E; case 0x2018 => 0x91; case 0x2019 => 0x92
    case 0x201C => 0x93; case 0x201D => 0x94; case 0x2022 => 0x95
    case 0x2013 => 0x96; case 0x2014 => 0x97; case 0x02DC => 0x98
    case 0x2122 => 0x99; case 0x0161 => 0x9A; case 0x203A => 0x9B
    case 0x0153 => 0x9C; case 0x017E => 0x9E; case 0x0178 => 0x9F
    case _ => -1
  }

  /** The string's bytes under the 8-bit rendering mojibake comes from
    * (latin-1 for cp <= 0xFF, the cp1252 band above) — null when any
    * character has no 8-bit rendering, i.e. the text cannot be
    * byte-misdecoded output at all.
    */
  private def as8Bit(s: String): Array[Byte] = {
    val out = new Array[Byte](s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i).toInt
      if (c <= 0xFF) out(i) = c.toByte
      else {
        val b = cp1252Byte(c)
        if (b < 0) return null
        out(i) = b.toByte
      }
      i += 1
    }
    out
  }

  /** Strict UTF-8 decode — null on ANY malformed/unmappable sequence
    * (the validity test that keeps genuinely-accented clean text
    * untouched: its 8-bit bytes are not valid UTF-8).
    */
  private def strictUtf8(bytes: Array[Byte]): String =
    try {
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
    } catch { case _: java.nio.charset.CharacterCodingException => null }

  /** Mojibake repair (ftfy lineage): text whose characters are the
    * latin-1/cp1252 RENDERING of valid UTF-8 bytes is re-decoded —
    * 'cafÃ©' → 'café', 'donâ€™t' → 'don’t'. Two passes handle the
    * double-encoded case; anything that is not byte-for-byte valid
    * UTF-8 under the 8-bit rendering is returned unchanged, so clean
    * accented text passes through (its bytes are NOT valid UTF-8).
    * The inherent ambiguity (clean text that happens to read as valid
    * UTF-8, e.g. a bare 'Â¿') resolves toward repair, like ftfy.
    * ASCII fast path: no allocation.
    */
  def fixMojibake(text: UTF8String): UTF8String = {
    val s = text.toString
    var ascii = true
    var i = 0
    while (ascii && i < s.length) { ascii = s.charAt(i) < 128; i += 1 }
    if (ascii) text
    else {
      var cur = s
      var rounds = 0
      var go = true
      while (go && rounds < 2) {
        val bytes = as8Bit(cur)
        val dec = if (bytes == null) null else strictUtf8(bytes)
        if (dec == null || dec == cur) go = false
        else { cur = dec; rounds += 1 }
      }
      if (cur == s) text else UTF8String.fromString(cur)
    }
  }

  case class FixMojibake(child: Expression) extends UnaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"graft_fix_mojibake needs a string input, got ${child.dataType}")
    override def dataType: DataType = StringType
    override def prettyName: String = "graft_fix_mojibake"

    override def nullSafeEval(t: Any): Any =
      fixMojibake(t.asInstanceOf[UTF8String])

    override protected def doGenCode(ctx: CodegenContext,
                                     ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, t =>
        s"graft.expressions.NormalizeExpressions.fixMojibake($t)")

    override protected def withNewChildInternal(
        newChild: Expression): Expression = copy(child = newChild)
  }

  /** Column forms (SQL names `graft_nfc`, `graft_strip_accents`,
    * `graft_fix_mojibake`, see functions.Registry).
    */
  def nfcCol(c: Column): Column = column(NfcNormalize(expression(c)))

  def stripAccentsCol(c: Column): Column = column(StripAccents(expression(c)))

  def fixMojibakeCol(c: Column): Column = column(FixMojibake(expression(c)))
}
