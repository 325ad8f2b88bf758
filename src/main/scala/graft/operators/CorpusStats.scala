package graft.operators

import graft.Pin
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus-level statistical profiling for training-data triage:
  * per-document readability / lexical-diversity signals and per-group
  * Zipf rank-frequency fits. Readability is a map-only column pass
  * (composes with the C4/Gopher gates for free); the Zipf fit is one
  * partial-agg word-count shuffle + one per-group rank window — the
  * group key (source/domain/language) bounds every window task, and the
  * regression itself reduces to six scalar sums, so the fit costs
  * nothing beyond the term count.
  */
object CorpusStats {

  private def toks(text: Column): Column = split(trim(text), "\\s+")

  /** Flesch reading-ease + type-token ratio per document. Sentences =
    * terminal-punctuation runs ([.!?]+, floored at 1); words =
    * whitespace tokens; syllables = vowel-group runs with
    * vowel-less words counting 1. Appends n_words, n_sentences,
    * n_syllables, flesch (206.835 − 1.015·W/S − 84.6·Y/W, 4dp) and
    * ttr (distinct lowered words / words, 4dp). Pure columns — no
    * shuffle, no explode.
    */
  def readability(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val words = toks(t)
    val nWords = size(words).cast(LongType)
    val nSents = greatest(
      size(regexp_extract_all(t, lit("[.!?]+"), lit(0))), lit(1))
      .cast(LongType)
    // text-level vowel-group count == sum of per-word counts (the class
    // cannot cross whitespace); words with no vowel group add 1 each
    val nSyll = (size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
      + size(filter(words, w => !lower(w).rlike("[aeiouy]")))).cast(LongType)
    df.withColumn("n_words", nWords)
      .withColumn("n_sentences", nSents)
      .withColumn("n_syllables", nSyll)
      .withColumn("flesch",
        round(lit(206.835)
          - lit(1.015) * (col("n_words") * lit(1.0) / col("n_sentences"))
          - lit(84.6) * (col("n_syllables") * lit(1.0) / col("n_words")),
          4))
      .withColumn("ttr",
        round(size(array_distinct(transform(words, lower(_))))
          * lit(1.0) / col("n_words"), 4))
  }

  /** Distribution drift between two corpus snapshots (the
    * between-dump monitoring gate): per key (content type, language,
    * TLD, …) the chi-square contribution of the current count against
    * the expectation scaled from the previous snapshot — with
    * new/gone/drifted/stable verdicts. A crawl whose mime or language
    * mix lurches between dumps usually changed its seed list or broke
    * a parser, not the web; this is the query that notices. Two
    * partial-agg counts + two model-scale totals; everything else is
    * pure columns.
    *
    * Output: (keyCol, n_prev, n_cur, exp_cur 4dp, chi2_term 6dp —
    * null for keys absent from prev — and status ∈
    * new|gone|drifted|stable; drifted at chi2 > `chi2Threshold`,
    * default 3.84 = χ²₁ at p=0.05).
    */
  def distributionDrift(prev: DataFrame, cur: DataFrame, keyCol: String,
                        chi2Threshold: Double = 3.84): DataFrame = {
    val p = prev.groupBy(col(keyCol)).agg(count(lit(1)).as("n_prev"))
    val c = cur.groupBy(col(keyCol)).agg(count(lit(1)).as("n_cur"))
    val totals = p.agg(sum(col("n_prev")).as("tot_prev"))
      .crossJoin(c.agg(sum(col("n_cur")).as("tot_cur")))
    val j = p.join(c, Seq(keyCol), "full_outer")
      .crossJoin(broadcast(totals))
      .withColumn("np", coalesce(col("n_prev"), lit(0L)))
      .withColumn("nc", coalesce(col("n_cur"), lit(0L)))
    val exp = col("np") * col("tot_cur") * lit(1.0) / col("tot_prev")
    val chi2 = (col("nc") - exp) * (col("nc") - exp) / exp
    j.select(col(keyCol),
      col("np").as("n_prev"), col("nc").as("n_cur"),
      when(col("np") > 0, round(exp, 4)).as("exp_cur"),
      when(col("np") > 0, round(chi2, 6)).as("chi2_term"),
      when(col("np") === 0, lit("new"))
        .when(col("nc") === 0, lit("gone"))
        .when(chi2 > chi2Threshold, lit("drifted"))
        .otherwise(lit("stable")).as("status"))
  }

  /** Character-level Shannon entropy per document (bits/char, 4dp) —
    * the information-theoretic twin of the gzip-compressibility
    * signal, but SQL-replayable: keyboard mashing and repeated
    * boilerplate sit far below natural text's ~4 bits/char, random
    * base64 blobs far above. Computed as ln(n)/ln2 − Σc·ln(c)/(n·ln2)
    * — one explode + one per-doc partial agg; the c·ln(c) form makes
    * the sum order-insensitive up to FP noise far below the 4dp
    * rounding.
    *
    * Output: (idCol, n_chars, n_distinct, entropy_bits).
    */
  def charEntropy(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val chars = df.select(col(idCol),
      explode(split(col(textCol), "")).as("ch"))
      // Java's split("", -1) appends a trailing "" — drop it
      .filter(col("ch") =!= "")
      .groupBy(col(idCol), col("ch"))
      .agg(count(lit(1)).as("c"))
    chars.groupBy(col(idCol))
      .agg(
        sum(col("c")).as("n_chars"),
        count(lit(1)).as("n_distinct"),
        sum(col("c") * log(col("c").cast("double"))).as("__clnc"))
      .select(col(idCol), col("n_chars"), col("n_distinct"),
        round((log(col("n_chars").cast("double"))
          - col("__clnc") / col("n_chars")) / lit(math.log(2.0)), 4)
          .as("entropy_bits"))
  }

  /** Robust outlier flags via median absolute deviation, per group:
    * |x − median| > k·MAD marks the row. Medians are EXACT discrete
    * lower-medians (the value at rank ⌈n/2⌉ in ascending order — no
    * interpolation, no approx-percentile, so any engine reproduces the
    * flag bit-for-bit), and MAD is the same rule over |x − median|.
    * The robust alternative to z-scores for length/score triage: one
    * spam megadoc moves a mean, not a median. Two rank windows + two
    * joins, all keyed by the group.
    *
    * Output: (groupCol, idCol, xCol, med, mad, outlier).
    */
  def madOutliers(df: DataFrame, groupCol: String, idCol: String,
                  xCol: String, k: Int = 3): DataFrame = {
    require(k > 0)
    def medianOf(in: DataFrame, vCol: String, out: String): DataFrame = {
      val w = Window.partitionBy(col(groupCol)).orderBy(col(vCol))
      in.withColumn("__rn", row_number().over(w))
        .withColumn("__n",
          count(lit(1)).over(Window.partitionBy(col(groupCol))))
        .filter(col("__rn") === ceil(col("__n") / 2.0).cast("long"))
        .select(col(groupCol), col(vCol).as(out))
    }
    val base = df.select(col(groupCol), col(idCol),
      col(xCol).cast(LongType).as(xCol))
    val med = medianOf(base, xCol, "med")
    val dev = base.join(med, groupCol)
      .withColumn("__d", abs(col(xCol) - col("med")))
    val mad = medianOf(dev.select(col(groupCol), col("__d")), "__d",
      "mad")
    dev.join(mad, groupCol)
      .select(col(groupCol), col(idCol), col(xCol), col("med"),
        col("mad"),
        (abs(col(xCol) - col("med")) > col("mad") * k).as("outlier"))
  }

  /** Unicode-script mix per document: letter counts for the five
    * highest-volume web scripts + ASCII digits, the dominant script
    * (priority-ordered tie-break) and a mixed-script flag — the
    * cheap pre-langID routing signal, and the page-level complement
    * of the host-level homoglyph gate (mixed Latin/Cyrillic inside
    * one page is the same spoof smell). Pure regex-count columns.
    */
  def scriptMix(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    def cnt(re: String): Column =
      size(regexp_extract_all(t, lit(re), lit(0))).cast(LongType)
    val out = df
      .withColumn("n_latin", cnt("\\p{IsLatin}"))
      .withColumn("n_cyrillic", cnt("\\p{IsCyrillic}"))
      .withColumn("n_greek", cnt("\\p{IsGreek}"))
      .withColumn("n_han", cnt("\\p{IsHan}"))
      .withColumn("n_arabic", cnt("\\p{IsArabic}"))
      .withColumn("n_digit", cnt("[0-9]"))
    val top = greatest(col("n_latin"), col("n_cyrillic"), col("n_greek"),
      col("n_han"), col("n_arabic"))
    val nz = Seq("n_latin", "n_cyrillic", "n_greek", "n_han", "n_arabic")
      .map(c => when(col(c) > 0, 1).otherwise(0)).reduce(_ + _)
    out
      .withColumn("dominant",
        when(top === 0, lit("none"))
          .when(col("n_latin") === top, lit("latin"))
          .when(col("n_cyrillic") === top, lit("cyrillic"))
          .when(col("n_greek") === top, lit("greek"))
          .when(col("n_han") === top, lit("han"))
          .otherwise(lit("arabic")))
      .withColumn("mixed", nz >= 2)
  }

  /** Zipf rank-frequency fit per `groupCol`: lowered-whitespace term
    * frequencies, ranked (freq desc, term asc — deterministic ties),
    * then ordinary least squares of ln(freq) on ln(rank). Returns one
    * row per group: (groupCol, n_terms, n_tokens, zipf_slope,
    * zipf_intercept), slope/intercept at 6dp. A healthy natural-language
    * corpus fits slope ≈ −1; template farms and spam skew shallower —
    * the triage signal. Plan: one (group, term) partial-agg count, one
    * rank window bounded by the group, one scalar-agg per group.
    */
  /** Vocabulary coverage under a frequency-top-`vocabSize` vocab: per
    * doc, token count and the OOV fraction a tokenizer/embedding table
    * of that size would see. Vocab rank ties break (freq desc, term) —
    * deterministic. The vocab is model state (vocabSize rows,
    * broadcast); the corpus pays one explode + one partial-agg.
    *
    * Output: (idCol, n_tokens, n_oov, oov_frac 4dp).
    */
  def vocabCoverage(docs: DataFrame, idCol: String, textCol: String,
                    vocabSize: Int): DataFrame = {
    require(vocabSize > 0)
    val terms = docs.select(col(idCol),
      explode(toks(lower(col(textCol)))).as("term"))
    // top-vocabSize by (f desc, term asc) via orderBy+limit — Spark
    // compiles this to TakeOrderedAndProject (per-partition top-k +
    // driver merge), replacing the previous single-partition
    // row_number window over the whole distinct-term table (vocab is
    // 10⁸⁺ rows at 100 TB); `term` is unique after the groupBy so the
    // selected set is identical
    val vocab = terms.groupBy("term").agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("term")).limit(vocabSize)
      .select(col("term"), lit(1).as("__in"))
    terms.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_frac",
        round(col("n_oov") * lit(1.0) / col("n_tokens"), 4))
  }

  def zipfStats(df: DataFrame, groupCol: String, textCol: String)
      : DataFrame = {
    val terms = df
      .select(col(groupCol), explode(toks(lower(col(textCol)))).as("term"))
      .groupBy(col(groupCol), col("term"))
      .agg(count(lit(1)).as("freq"))
    val w = Window.partitionBy(col(groupCol))
      .orderBy(col("freq").desc, col("term"))
    val xy = terms
      .withColumn("x", log(row_number().over(w).cast("double")))
      .withColumn("y", log(col("freq").cast("double")))
    xy.groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("n_terms"),
        sum(col("freq")).as("n_tokens"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(
        col(groupCol),
        col("n_terms"),
        col("n_tokens"),
        round((col("n_terms") * col("sxy") - col("sx") * col("sy"))
          / (col("n_terms") * col("sxx") - col("sx") * col("sx")), 6)
          .as("zipf_slope"),
        round((col("sy") - ((col("n_terms") * col("sxy")
            - col("sx") * col("sy"))
          / (col("n_terms") * col("sxx") - col("sx") * col("sx")))
          * col("sx")) / col("n_terms"), 6).as("zipf_intercept"))
  }

  /** Character-bigram conditional entropy H(next|cur) per document —
    * the sequence-level gibberish/loop detector that unigram entropy
    * misses ("ababab…" has high H(X) but H(next|cur)=0). Computed in
    * the c·ln(c) form: numerator Σ c_xy·(ln c_x − ln c_xy) as exact
    * integer micro-units (each term rounded at 1e8, ln-parity
    * discipline), denominator = bigram count — no float division
    * crosses the engine boundary. Output:
    * (idCol, n_bigrams, h_num_micro).
    */
  def bigramCondEntropy(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val chars = docs.select(col(idCol),
      posexplode(split(col(textCol), "")).as(Seq("i", "ch")))
      .filter(col("ch") =!= "") // Java split keeps a trailing ""
    val big = chars
      .withColumn("y", lead("ch", 1).over(
        Window.partitionBy(col(idCol)).orderBy(asc("i"))))
      .filter(col("y").isNotNull)
      .select(col(idCol), col("ch").as("x"), col("y"))
    val cxy = big.groupBy(idCol, "x", "y").agg(count(lit(1)).as("cxy"))
    val cx  = cxy.groupBy(idCol, "x").agg(sum("cxy").as("cx"))
    cxy.join(cx, Seq(idCol, "x"))
      .select(col(idCol),
        col("cxy"),
        round((log(col("cx").cast("double")) -
                 log(col("cxy").cast("double"))) * col("cxy") * lit(1e8),
              0).cast("long").as("tm"))
      .groupBy(idCol)
      .agg(sum("cxy").as("n_bigrams"), sum("tm").as("h_num_micro"))
  }

  /** Exact per-group order statistics of an integer column: n, p50/p90/
    * p99 at the ⌈q·n⌉-th value in (value, tie-break) order — the corpus
    * length profile a packing/curation pass sizes against, exact (no
    * t-digest approximation) and deterministic under ties. One shuffle
    * by group; the rank window is per-group bounded.
    */
  def lengthPercentiles(df: DataFrame, keyCol: String,
                        valCol: String): DataFrame = {
    val ranked = df.select(col(keyCol).as("k"), col(valCol).as("v"))
      .withColumn("rw", row_number().over(
        Window.partitionBy("k").orderBy(asc("v"))).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("k")))
    def pick(q: Double, name: String) =
      max(when(col("rw") ===
        greatest(ceil(lit(q) * col("n")).cast("long"), lit(1L)),
        col("v"))).as(name)
    ranked.groupBy(col("k").as(keyCol))
      .agg(max("n").as("n"), pick(0.5, "p50"), pick(0.9, "p90"),
           pick(0.99, "p99"))
  }

  /** Heaps'-law vocabulary growth: distinct-term counts at 10 doc-count
    * checkpoints (each term attributed to its FIRST document in doc-id
    * order — one min-agg, no cumulative re-scan per checkpoint) and the
    * log-log OLS fit V(n) ≈ K·n^β — the "how fast does my vocabulary
    * keep growing?" scaling diagnostic (β≈0.5 natural text; β→1 means
    * id-like noise still flooding the corpus). Checkpoint thresholds
    * are exact order statistics via the distributed partition-offset
    * rank; the OLS follows zipfStats' float discipline. Output row:
    * (n_docs, vocab, heaps_beta 6dp, heaps_lnk 6dp).
    */
  def heapsLaw(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val did = col(idCol).cast("long")
    val dd = docs.select(did.as("d")).distinct()
    val ranked = UrlDedup.ordByPartitionOffsets(dd, Seq(asc("d")), "rw0")
    val tot = ranked.agg(count(lit(1)).as("n"))
    val is = ranked.sparkSession.range(1, 11)
      .select(col("id").as("i"))
    val cp = ranked.crossJoin(broadcast(tot)).crossJoin(broadcast(is))
      .filter(col("rw0") + 1L ===
        ceil(col("n").cast("double") * col("i") / lit(10.0)).cast("long"))
      .select(col("i"), (col("rw0") + 1L).as("ni"), col("d").as("dmax"),
        col("n"))
    val fa = docs
      .select(did.as("d"), explode(toks(lower(col(textCol)))).as("term"))
      .groupBy("term").agg(min("d").as("fd"))
    val v = fa.join(broadcast(cp), col("fd") <= col("dmax"))
      .groupBy("i", "ni", "n").agg(count(lit(1)).as("vi"))
    val pts = v.select(col("n"), col("ni"), col("vi"),
      log(col("ni").cast("double")).as("x"),
      log(col("vi").cast("double")).as("y"))
    pts.agg(max("n").as("n_docs"),
        max(when(col("ni") === col("n"), col("vi"))).as("vocab"),
        count(lit(1)).as("k"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("n_docs"), col("vocab"),
        round((col("k") * col("sxy") - col("sx") * col("sy"))
                / (col("k") * col("sxx") - col("sx") * col("sx")), 6)
          .as("heaps_beta"),
        round((col("sy") - ((col("k") * col("sxy")
                - col("sx") * col("sy"))
              / (col("k") * col("sxx") - col("sx") * col("sx")))
            * col("sx")) / col("k"), 6).as("heaps_lnk"))
  }

  /** Corpus stopword induction: the k most document-frequent terms with
    * their IDF in integer micro-units (ln of ONE exact-integer division
    * N/df — the usual parity discipline). This is where a language-
    * agnostic pipeline gets the stopword list its quality signals
    * (Gopher stop-ratio, C4) consume, instead of shipping a fixed
    * English list. One distinct + partial-agg pass; the rank window
    * runs over the k survivors only. Output:
    * (rank, term, df, idf_micro).
    */
  def stopwordInduction(docs: DataFrame, k: Int,
                        idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val termDf = docs
      .select(col(idCol), explode(toks(lower(col(textCol)))).as("term"))
      .distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val top = termDf.orderBy(desc("df"), asc("term")).limit(k)
    top.crossJoin(broadcast(n))
      .withColumn("rank",
        row_number().over(Window.orderBy(desc("df"), asc("term")))
          .cast("long"))
      .select(col("rank"), col("term"), col("df"),
        round(log(col("n").cast("double") / col("df").cast("double"))
                * lit(1e8), 0).cast("long").as("idf_micro"))
  }

  /** Hashing-trick featurizer profile: every distinct term maps to a
    * bucket in a 2^bits feature space via an md5 fold (engine-portable,
    * unlike murmur seeds), and the doc-level collision accounting —
    * n_terms − n_features — is the signal that says whether `bits` is
    * big enough for this corpus before training a hashed linear model.
    * One tokenize pass, term-distinct agg, all partial-combined.
    * Output: (idCol, n_tokens, n_terms, n_features, n_collisions).
    */
  def featureHashProfile(docs: DataFrame, idCol: String = "doc_id",
                         textCol: String = "text",
                         bits: Int = 12): DataFrame = {
    val tok = docs.select(col(idCol),
      explode(toks(lower(col(textCol)))).as("term"))
    val nTok = tok.groupBy(idCol).agg(count(lit(1)).as("n_tokens"))
    val idx = conv(substring(md5(col("term")), 1, 6), 16, 10)
      .cast("long") % lit(1L << bits)
    val dist = tok.distinct().withColumn("fi", idx)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_terms"),
        countDistinct(col("fi")).as("n_features"))
    nTok.join(dist, Seq(idCol))
      .select(col(idCol), col("n_tokens"), col("n_terms"),
        col("n_features"),
        (col("n_terms") - col("n_features")).as("n_collisions"))
  }

  /** Per-host burst detection over hourly activity windows: a window is
    * a burst when its event count exceeds `factor`× the host's (lower)
    * median nonempty-window count — the fetch-anomaly/recrawl-trigger
    * signal. Exact integers throughout (lower median = the ⌈n/2⌉-th
    * count in (count, window) order). Output:
    * (host, n_windows, median_cnt, n_bursts).
    */
  def burstWindows(events: DataFrame, hostCol: String,
                   tsCol: String = "ts", factor: Long = 3L): DataFrame = {
    val cnts = events
      .select(col(hostCol).as("host"),
        floor(unix_timestamp(col(tsCol)) / lit(3600.0)).cast("long")
          .as("w"))
      .groupBy("host", "w").agg(count(lit(1)).as("cnt"))
    val ranked = cnts.withColumn("rw",
      row_number().over(Window.partitionBy("host")
        .orderBy(asc("cnt"), asc("w"))).cast("long"))
    val med = ranked
      .groupBy("host").agg(count(lit(1)).as("n_windows"))
      .join(ranked.select(col("host"), col("rw"), col("cnt").as("mc")),
        Seq("host"))
      .filter(col("rw") ===
        floor((col("n_windows") + 1L) / lit(2.0)).cast("long"))
      .select(col("host"), col("n_windows"), col("mc").as("median_cnt"))
    cnts.join(med, Seq("host"))
      .groupBy(col("host"), col("n_windows"), col("median_cnt"))
      .agg(sum(when(col("cnt") > lit(factor) * col("median_cnt"), 1L)
        .otherwise(0L)).as("n_bursts"))
  }

  /** Kolmogorov–Smirnov drift between two corpora over an integer-valued
    * column (doc length, token count): D = max |F₁−F₂| computed as EXACT
    * integers — per distinct value the statistic's numerator is
    * |cum₁·N₂ − cum₂·N₁|, so nothing floats until the single final
    * division. The cumulative window is ordered over DISTINCT values
    * (metadata scale), not rows. Output row:
    * (n_prev, n_cur, d_num, ks 6dp).
    */
  def ksDrift(prev: DataFrame, cur: DataFrame,
              valueCol: String): DataFrame = {
    def counts(df: DataFrame, n: String) =
      df.groupBy(col(valueCol).as("v")).agg(count(lit(1)).as(n))
    // consumed by the cumulative pass AND the totals row
    val j = Pin(counts(prev, "c1")
      .join(counts(cur, "c2"), Seq("v"), "full_outer")
      .na.fill(0L, Seq("c1", "c2")))
    // distributed cumulative sums by the partition-offset idiom
    // (UrlDedup.ordByPartitionOffsets): range-sort by v, per-partition
    // running sums inside partition-keyed windows, broadcast
    // per-partition offsets — no single-partition window ever sees the
    // distinct-value table
    val mask = lit((1L << 33) - 1)
    val sorted = Pin(j.orderBy(col("v").asc)
      .withColumn("__mid", monotonically_increasing_id()))
    val offsets = sorted
      .groupBy(shiftright(col("__mid"), 33).as("__pid"))
      .agg(sum("c1").as("__s1"), sum("c2").as("__s2"))
      .withColumn("__o1",
        coalesce(sum(col("__s1")).over(Window.orderBy(asc("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("__o2",
        coalesce(sum(col("__s2")).over(Window.orderBy(asc("__pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__pid"), col("__o1"), col("__o2"))
    val lw = Window.partitionBy(col("__pid"))
      .orderBy(col("__mid").bitwiseAND(mask))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = sorted.withColumn("__pid", shiftright(col("__mid"), 33))
      .join(broadcast(offsets), Seq("__pid"))
      .select((col("__o1") + sum("c1").over(lw)).as("f1"),
              (col("__o2") + sum("c2").over(lw)).as("f2"))
    val tot = j.agg(sum("c1").as("n1"), sum("c2").as("n2"))
    cum.crossJoin(broadcast(tot))
      .select(abs(col("f1") * col("n2") - col("f2") * col("n1")).as("dn"),
              col("n1"), col("n2"))
      .groupBy("n1", "n2").agg(max("dn").as("d_num"))
      .select(col("n1").as("n_prev"), col("n2").as("n_cur"), col("d_num"),
        round(col("d_num").cast("double") /
                (col("n1") * col("n2")).cast("double"), 6).as("ks"))
  }

  /** Gini coefficient of per-key counts — crawl/corpus concentration
    * ("how skewed is the host budget actually spent?"). Exact integer
    * sums through the sorted-rank formula G = (2S − (n+1)T)/(nT); the
    * rank window runs over key-count rows (metadata scale). Output row:
    * (n_keys, n_total, gini 6dp).
    */
  def gini(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol).as("k")).agg(count(lit(1)).as("x"))
    // distributed ordinal (range sort + partition offsets) instead of a
    // single-partition row_number window over the key-count table —
    // key-scale (hosts) is still millions of rows at 100 TB; (x, k) is
    // a total order (k unique), so i is identical to the old rank
    val ranked = UrlDedup.ordByPartitionOffsets(counts,
        Seq(asc("x"), asc("k")), "__i0")
      .withColumn("i", col("__i0") + 1L)
    ranked
      .agg(count(lit(1)).as("n"), sum("x").as("t"),
           sum(col("i") * col("x")).as("s"))
      .select(col("n").as("n_keys"), col("t").as("n_total"),
        round((lit(2L) * col("s") - (col("n") + 1L) * col("t"))
                .cast("double") /
              (col("n") * col("t")).cast("double"), 6).as("gini"))
  }

  /** Wilson score lower bound (z = 1.96) of a per-key pass rate — the
    * small-sample-honest host/source quality ranking (a 2/2 host must
    * not outrank a 95/100 one). Integer (n, k) per key; the bound is
    * one canonical float expression both engines evaluate identically.
    * Output: (keyCol, n, k, wilson_lb 6dp).
    */
  def wilsonLowerBound(df: DataFrame, keyCol: String,
                       passCond: Column): DataFrame = {
    val g = df.groupBy(keyCol).agg(
      count(lit(1)).as("n"),
      sum(when(passCond, 1L).otherwise(0L)).as("k"))
    val nd = col("n").cast("double")
    val p = col("k").cast("double") / nd
    val ctr = p + lit(3.8416) / (lit(2.0) * nd)
    val rad = sqrt((p * (lit(1.0) - p) + lit(3.8416) / (lit(4.0) * nd)) / nd)
    g.select(col(keyCol), col("n"), col("k"),
      round((ctr - lit(1.96) * rad) / (lit(1.0) + lit(3.8416) / nd), 6)
        .as("wilson_lb"))
  }

  /** Information-theoretic corpus drift: add-1-smoothed unigram KL in
    * both directions plus Jensen–Shannon, between two corpora's term
    * distributions (the retraining-trigger signal next to
    * [[distributionDrift]]'s per-key χ²). Terms follow the
    * vocabCoverage convention (whitespace split of trimmed lowercase).
    * Scale shape: two token-count aggregations (map-side combined), one
    * full-outer join on term, one scalar totals row broadcast back; the
    * per-term contributions ride as exact integer micro-units
    * (round(x·1e8) per term, integer sum), so engines summing floats in
    * different orders agree exactly. Every double fed to ln() is ONE
    * IEEE division of integer-valued operands — both engines walk the
    * identical float path. Output row: (vocab, tok_prev, tok_cur,
    * kl_pq_micro, kl_qp_micro, js_micro).
    */
  def klDivergence(prev: DataFrame, cur: DataFrame,
                   textCol: String = "text"): DataFrame = {
    def termCounts(df: DataFrame, n: String) = df
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("term"))
      .groupBy("term").agg(count(lit(1)).as(n))
    val j = termCounts(prev, "np")
      .join(termCounts(cur, "nq"), Seq("term"), "full_outer")
      .na.fill(0L, Seq("np", "nq"))
    val tot = j.agg(sum("np").as("tp"), sum("nq").as("tq"),
                    count(lit(1)).as("v"))
    val pP = (col("np") + 1).cast("double") /
             (col("tp") + col("v")).cast("double")
    val qP = (col("nq") + 1).cast("double") /
             (col("tq") + col("v")).cast("double")
    val mP = (pP + qP) / lit(2.0)
    def micro(c: Column): Column = round(c * lit(1e8), 0).cast("long")
    j.crossJoin(broadcast(tot))
      .select(col("tp"), col("tq"), col("v"),
        micro(pP * log(pP / qP)).as("c_pq"),
        micro(qP * log(qP / pP)).as("c_qp"),
        micro(lit(0.5) * pP * log(pP / mP) +
              lit(0.5) * qP * log(qP / mP)).as("c_js"))
      .groupBy(col("v").as("vocab"), col("tp").as("tok_prev"),
               col("tq").as("tok_cur"))
      .agg(sum("c_pq").as("kl_pq_micro"),
           sum("c_qp").as("kl_qp_micro"),
           sum("c_js").as("js_micro"))
  }
}
