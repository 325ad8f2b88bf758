package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the training-data pipeline: token
  * counting, language-ID heuristic, quality scoring, document
  * fingerprinting (exact + rolling-hash shingle + simhash). The
  * SQL-portable subset (counts/ratios via length/replace arithmetic) is
  * expressed as Column builders so the DuckDB oracle can replicate it
  * verbatim; the hash-based fingerprints are Scala functions + UDFs
  * (engine-specific, checked by ScalaTest instead).
  */
object TextAnalysis {

  /** Canonical case-folded whitespace tokenization shared by the
    * model-based operators (QualityClassifier, Dsir) and their DuckDB
    * oracles (`string_split_regex(trim(lower(text)), '\s+')`). One
    * definition so the operators cannot silently diverge.
    */
  def wsTokensLower(c: Column): Column = split(trim(lower(c)), "\\s+")

  /** Whitespace token count: size(split(trim(text), '\s+')). */
  def tokenCountCol(text: Column): Column =
    size(split(trim(text), "\\s+"))

  /** Non-overlapping count of the word `w` with single-space padding —
    * pure length/replace arithmetic, portable to any SQL engine.
    */
  def wordCountCol(text: Column, w: String): Column = {
    val padded = concat(lit(" "), text, lit(" "))
    val needle = s" $w "
    ((length(padded) - length(
      replace(padded, lit(needle), lit(""))))
      / needle.length).cast("long")
  }

  /** Stopword-score language ID: argmax of per-language function-word
    * counts, fixed priority on ties (seq order), 'unk' when all scores
    * are zero. Deterministic heuristic per the builder brief (the
    * reference uses cld2 over ~100 languages, filter_corpus.py:95–147);
    * breadth covers 124 space-delimited-script
    * languages (22 original + four breadth waves below) of the reference's corpora. Markers are chosen to be
    * high-frequency function words that are near-unique to the language
    * (priority order resolves the genuine collisions, e.g. no/da 'og').
    * CJK scripts are out of scope for this heuristic: space-padded word
    * matching cannot see unsegmented text.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "de" -> Seq("der", "und"),
    "fr" -> Seq("le", "et"),
    "es" -> Seq("el", "y"),
    "pt" -> Seq("não", "uma"),
    "it" -> Seq("il", "che"),
    "nl" -> Seq("het", "een"),
    "ru" -> Seq("и", "не"),
    "pl" -> Seq("się", "nie"),
    "cs" -> Seq("se", "že"),
    "sv" -> Seq("och", "att"),
    "no" -> Seq("og", "ikke"),
    "da" -> Seq("af", "det"),
    "fi" -> Seq("ja", "ei"),
    "hu" -> Seq("és", "nem"),
    "ro" -> Seq("și", "nu"),
    "tr" -> Seq("ve", "bir"),
    "id" -> Seq("yang", "dan"),
    "vi" -> Seq("và", "của"),
    "el" -> Seq("και", "να"),
    "ar" -> Seq("في", "من"),
    "he" -> Seq("של", "את"),
    // r5 breadth extension toward the reference's cld2 coverage
    // (filter_corpus.py:95–147), space-delimited scripts only. Appended
    // AFTER the original 22 so existing tie priority is unchanged; the
    // Column scorer, the native codegen'd expression and the DuckDB
    // oracle all generate from this table, so each added row extends
    // all three at once.
    "uk" -> Seq("що", "це"),
    "bg" -> Seq("това", "към"),
    "sr" -> Seq("је", "су"),
    "hr" -> Seq("koji", "ili"),
    "sk" -> Seq("čo", "ktorý"),
    "sl" -> Seq("tudi", "lahko"),
    "lt" -> Seq("ir", "yra"),
    "lv" -> Seq("arī", "nav"),
    "et" -> Seq("ning", "või"),
    "be" -> Seq("гэта", "што"),
    "mk" -> Seq("дека", "во"),
    "fa" -> Seq("که", "از"),
    "ur" -> Seq("کے", "ہے"),
    "hi" -> Seq("है", "के"),
    "bn" -> Seq("এবং", "করে"),
    "ta" -> Seq("மற்றும்", "ஒரு"),
    "te" -> Seq("మరియు", "ఒక"),
    "ml" -> Seq("ഒരു", "എന്ന്"),
    "tl" -> Seq("ang", "ng"),
    "sw" -> Seq("kwa", "ya"),
    "af" -> Seq("die", "nie"),
    "ca" -> Seq("amb", "els"),
    "gl" -> Seq("unha", "máis"),
    "eu" -> Seq("eta", "bat"),
    "sq" -> Seq("dhe", "një"),
    "az" -> Seq("və", "üçün"),
    "kk" -> Seq("және", "бір"),
    "uz" -> Seq("va", "bilan"),
    "ky" -> Seq("жана", "менен"),
    "hy" -> Seq("և", "որ"),
    "ka" -> Seq("და", "რომ"),
    "mn" -> Seq("нь", "байна"),
    "ne" -> Seq("छ", "गरेको"),
    "si" -> Seq("සහ", "ඇත"),
    "is" -> Seq("við", "það"),
    "ga" -> Seq("agus", "sé"),
    "cy" -> Seq("bod", "wedi"),
    "mt" -> Seq("huwa", "jew"),
    "am" -> Seq("ነው", "እና"),
    // second breadth wave (r5): Indic scripts, African and Austronesian
    // languages, Iranian family — same mechanics, appended to keep
    // priority stable. CJK/Thai/Khmer/Lao/Burmese remain out of scope
    // (unsegmented scripts).
    "mr" -> Seq("आहे", "आणि"),
    "gu" -> Seq("છે", "અને"),
    "pa" -> Seq("ਹੈ", "ਅਤੇ"),
    "kn" -> Seq("ಮತ್ತು", "ಒಂದು"),
    "or" -> Seq("ଏବଂ", "ଅଛି"),
    "yo" -> Seq("àti", "jẹ́"),
    "ha" -> Seq("kuma", "yana"),
    "zu" -> Seq("futhi", "ukuthi"),
    "xh" -> Seq("kwaye", "ukuba"),
    "so" -> Seq("iyo", "waa"),
    "rw" -> Seq("kandi", "cyane"),
    "mg" -> Seq("dia", "izay"),
    "ceb" -> Seq("ug", "kini"),
    "jv" -> Seq("lan", "iku"),
    "su" -> Seq("jeung", "anu"),
    "tg" -> Seq("ва", "аст"),
    "ps" -> Seq("او", "دی"),
    "ku" -> Seq("û", "heye"),
    // third breadth wave (r6) to cld2 parity (~100+ languages,
    // filter_corpus.py:95–147): Turkic (Arabic/Cyrillic/Latin scripts),
    // Celtic, creoles/constructed, Bantu/Niger-Congo, Indic literary
    // registers, and diaspora scripts. Same mechanics: appended AFTER
    // the earlier waves so existing tie priority is unchanged; markers
    // are chosen to be disjoint from every earlier language's markers
    // (near-identical pairs pick spellings that differ: ms 'kerana' vs
    // id 'karena', tk 'üçin' vs az 'üçün', tt 'белән' vs ky 'менен').
    // CJK/Thai/Khmer/Lao/Burmese/Tibetan remain out of scope
    // (unsegmented or non-space-delimited scripts).
    "ms"  -> Seq("kerana", "boleh"),
    "la"  -> Seq("est", "quod"),
    "eo"  -> Seq("kaj", "estas"),
    "ht"  -> Seq("nan", "yon"),
    "lb"  -> Seq("ass", "vun"),
    "fy"  -> Seq("fan", "wurde"),
    "gd"  -> Seq("tha", "anns"),
    "br"  -> Seq("hag", "eo"),
    "oc"  -> Seq("dins", "aquò"),
    "mi"  -> Seq("ngā", "kei"),
    "ny"  -> Seq("ndipo", "chifukwa"),
    "sn"  -> Seq("uye", "zvino"),
    "st"  -> Seq("hore", "empa"),
    "tn"  -> Seq("gore", "mme"),
    "ig"  -> Seq("nke", "bụ"),
    "om"  -> Seq("keessa", "kana"),
    "ti"  -> Seq("እዩ", "ናይ"),
    "sd"  -> Seq("جي", "آهي"),
    "ug"  -> Seq("ۋە", "بىلەن"),
    "tt"  -> Seq("һәм", "белән"),
    "tk"  -> Seq("bilen", "üçin"),
    "yi"  -> Seq("און", "איז"),
    "sa"  -> Seq("अस्ति", "एव"),
    "as"  -> Seq("আৰু", "হয়"),
    // fourth breadth wave (r6): North Germanic/Insular minority
    // languages, Romance regionals, Philippine languages, Andean and
    // Paraguayan indigenous, West/Central African, the remaining Bantu
    // official languages, and two Cyrillic-script Volga/Caucasus
    // languages. Same rules as every wave: appended after the earlier
    // waves (tie priority unchanged), >= 2 markers each, all markers
    // disjoint from every earlier marker, BMP-only, no quotes/spaces.
    "fo"  -> Seq("hevur", "teirra"),
    "sco" -> Seq("tae", "wis"),
    "gv"  -> Seq("ayns", "jannoo"),
    "co"  -> Seq("chì", "induve"),
    "sc"  -> Seq("custu", "comente"),
    "rm"  -> Seq("quai", "ina"),
    "an"  -> Seq("enta", "atros"),
    "ast" -> Seq("nesti", "asina"),
    "ilo" -> Seq("dagiti", "kadagiti"),
    "hmn" -> Seq("thiab", "lawv"),
    "qu"  -> Seq("chaymanta", "kaypi"),
    "ay"  -> Seq("ukat", "ukhama"),
    "gn"  -> Seq("avei", "guive"),
    "wo"  -> Seq("dafa", "loolu"),
    "ln"  -> Seq("mpe", "bango"),
    "ts"  -> Seq("leswaku", "naswona"),
    "ss"  -> Seq("kutsi", "ngako"),
    "ve"  -> Seq("ngauri", "havha"),
    "nso" -> Seq("gomme", "bjalo"),
    "cv"  -> Seq("тата", "пулать"),
    "os"  -> Seq("æмæ", "уыцы")
  )

  def langScoreCol(text: Column, lang: String): Column =
    LangMarkers.toMap.apply(lang)
      .map(wordCountCol(text, _))
      .reduce(_ + _)

  def langIdCol(text: Column): Column = {
    val scores = LangMarkers.map { case (l, _) => l -> langScoreCol(text, l) }
    val maxAll = scores.map(_._2).reduce(greatest(_, _))
    scores.foldRight(lit("unk"): Column) { case ((l, s), elseC) =>
      when(s === maxAll && s > 0, lit(l)).otherwise(elseC)
    }
  }

  /** The language-ID scorer as generated ANSI SQL over a text expression
    * — the oracle is GENERATED from the same LangMarkers table the
    * Column version reads, so the two engines cannot drift. Returns the
    * (scoreSelectList, caseExpr) pair: per-language score expressions
    * aliased `__s_<lang>`, and the argmax CASE over those aliases.
    */
  def langIdSql(textExpr: String): (String, String) = {
    def wcSql(w: String): String = {
      val p = s"' '||$textExpr||' '"
      s"(length($p) - length(replace($p, ' $w ', ''))) / ${w.length + 2}"
    }
    val scores = LangMarkers.map { case (l, ws) =>
      s"${ws.map(wcSql).mkString(" + ")} AS __s_$l"
    }.mkString(",\n             ")
    val g = s"greatest(${LangMarkers.map(l => s"__s_${l._1}").mkString(", ")})"
    val cases = LangMarkers.map { case (l, _) =>
      s"WHEN __s_$l = $g AND __s_$l > 0 THEN '$l'"
    }.mkString("\n                ")
    (scores, s"CASE $cases\n                ELSE 'unk' END")
  }

  /** Deterministic fixed-size "paragraphs" for texts without structural
    * breaks: consecutive `parWords`-token chunks. Mirrors 1:1 in SQL
    * (list slicing over the same regex split).
    */
  def paragraphsCol(text: Column, parWords: Int = 12): Column = {
    val toks = split(trim(text), "\\s+")
    val nP = ceil(size(toks) / lit(parWords.toDouble)).cast("int")
    transform(sequence(lit(0), nP - 1), i =>
      array_join(slice(toks, i * parWords + 1, lit(parWords)), " "))
  }

  // ---- hash fingerprints (Scala + UDF; not SQL-portable) ----

  /** 64-bit simhash over whitespace tokens (unit weight per token). */
  def simhash64(text: String): Long = {
    val acc = new Array[Int](64)
    if (text != null) {
      val toks = text.trim.split("\\s+")
      var t = 0
      while (t < toks.length) {
        val h = MinHashF.fnv64(toks(t))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
          j += 1
        }
        t += 1
      }
    }
    var out = 0L
    var j = 0
    while (j < 64) {
      if (acc(j) > 0) out |= (1L << j)
      j += 1
    }
    out
  }

  /** Min rolling hash over word k-shingles — a compact document
    * fingerprint for containment-ish matching (reference has no direct
    * analogue; complements md5 exact and minhash near dedup).
    */
  def minShingleHash(text: String, k: Int = 3): Long = {
    if (text == null) return 0L
    val toks = text.trim.split("\\s+")
    if (toks.length < k) return MinHashF.fnv64(text.trim)
    var best = Long.MaxValue
    var i = 0
    while (i + k <= toks.length) {
      var h = 0xcbf29ce484222325L
      var j = i
      while (j < i + k) {
        h ^= MinHashF.fnv64(toks(j))
        h *= 0x100000001b3L
        j += 1
      }
      if (h < best) best = h
      i += 1
    }
    best
  }

  def hamming64(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Min polynomial rolling hash over char n-grams, as a pure column —
    * codegen'd and exactly SQL-mirrorable (base-131 polynomial of the
    * char codes fits in int64 for n <= 7 ASCII chars, so both engines
    * compute identical values with no overflow). Texts shorter than n
    * chars fingerprint as -1.
    */
  def polyShingleFpCol(text: org.apache.spark.sql.Column, n: Int = 5): org.apache.spark.sql.Column = {
    val codes = transform(split(text, ""), c => ascii(c).cast("long"))
    val hashes = transform(sequence(lit(1), size(codes) - (n - 1)), i =>
      (1 until n).foldLeft(element_at(codes, i)) { (acc, k) =>
        acc * 131L + element_at(codes, i + k)
      })
    when(length(text) >= n, array_min(hashes)).otherwise(lit(-1L))
  }

  /** F24: greedy longest-match wordpiece tokenization
    * (cc_corpus/wordpiece.py:12–82): per whitespace token, repeatedly
    * take the longest vocab prefix; continuation pieces are looked up
    * with the `##` prefix; tokens with an unmatchable remainder map to
    * `[UNK]`.
    */
  def wordpiece(text: String, vocab: Set[String],
                maxPieceLen: Int = 100): Seq[String] = {
    if (text == null) return Seq.empty
    text.trim.split("\\s+").toSeq.filter(_.nonEmpty).flatMap { token =>
      val pieces = scala.collection.mutable.ArrayBuffer.empty[String]
      var start  = 0
      var bad    = false
      while (start < token.length && !bad) {
        var end   = math.min(token.length, start + maxPieceLen)
        var found = false
        while (end > start && !found) {
          val sub   = token.substring(start, end)
          val piece = if (start > 0) "##" + sub else sub
          if (vocab.contains(piece)) {
            pieces += piece
            start = end
            found = true
          } else end -= 1
        }
        if (!found) bad = true
      }
      if (bad) Seq("[UNK]") else pieces.toSeq
    }
  }

  val simhashUdf        = udf(simhash64 _)
}
