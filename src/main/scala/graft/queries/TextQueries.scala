package graft.queries

import graft.Pin
import graft.Sessions.table
import graft.functions.{MinHashF, TextAnalysis}
import graft.operators.{LshDedup, Similarity}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Training-data pipeline operators over `documents` / `embeddings`:
  * deduplication (exact, MinHash+LSH, simhash, n-gram Jaccard), text
  * analysis (language ID, quality, token counts, fingerprints) and
  * similarity search (brute-force cosine top-k, LSH buckets). The
  * SQL-expressible subset carries DuckDB oracles; hash-based operators
  * are rows-only here and parity-tested in ScalaTest.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** tmpfs scratch for the materialized-index queries (BM25 postings,
    * IVF lists): the VM disk writes at ~150 MB/s and serialized those
    * builds; /dev/shm matches corpus_pipeline's discipline. Falls back
    * to java.io.tmpdir where /dev/shm is absent.
    */
  private val scratchRootStr: String =
    if (java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get("/dev/shm"))) "/dev/shm"
    else sys.props("java.io.tmpdir")
  private def bm25ScratchRoot: java.nio.file.Path =
    java.nio.file.Paths.get(scratchRootStr)

  /** (doc_id, ord, text) fanned out to the session's parallelism: the sf
    * tables are one parquet file -> one scan partition, which would run
    * the whole 256-perm signature chain on a single core. At corpus
    * scale the scan has thousands of partitions and this repartition is
    * a no-op cost-wise (rows are a few hundred bytes).
    */
  private def lshDocs(s: SparkSession, dir: String): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), col("doc_id").cast(LongType).as("ord"),
              col("text"))
      .repartition(s.sparkContext.defaultParallelism)

  val defs: Map[String, Q] = Map(
    "q_token_count" -> { (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.tokenCountCol(col("text")).cast(LongType).as("n_tokens"))
    },

    // Per-source language-mix entropy (a mixed-language source is the
    // classic scraped-spam fingerprint). Each -p·ln(p) term is rounded
    // to nano-units and summed as a Long — order-insensitive, so the
    // two engines' aggregation orders cannot diverge the doubles.
    "q_source_entropy" -> { (s, dir) =>
      val counts = table(s, dir, "documents")
        .groupBy("source", "lang").agg(count(lit(1)).as("c"))
      val totals = counts.groupBy("source")
        .agg(sum("c").as("n"), count(lit(1)).as("n_langs"))
      val p = col("c").cast("double") / col("n")
      counts.join(totals, "source")
        .withColumn("term_nano",
          round((-p * log(p)) * lit(1000000000.0), 0).cast(LongType))
        .groupBy("source")
        .agg(max("n").as("n_docs"), max("n_langs").as("n_langs"),
          round(sum("term_nano").cast("double") / lit(1000000000.0), 6)
            .as("entropy"))
    },

    // Language-ID confidence: margin between the best and second-best
    // marker scores — the gate that keeps only confidently-identified
    // docs (cld2 exposes the same is_reliable signal). Scores are
    // integer counts, so top1 - top2 is exact on both engines.
    "q_lang_margin" -> { (s, dir) =>
      val scores = TextAnalysis.LangMarkers.map { case (l, _) =>
        TextAnalysis.langScoreCol(col("text"), l) }
      val arr = sort_array(array(scores: _*), asc = false)
      table(s, dir, "documents").select(
        col("doc_id"),
        graft.expressions.LangExpressions.langIdCol(col("text"))
          .as("pred_lang"),
        (element_at(arr, 1) - element_at(arr, 2)).as("margin"))
    },

    "q_lang_id" -> { (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        graft.expressions.LangExpressions.langIdCol(col("text"))
          .as("pred_lang"))
    },

    // Paragraph-pruning language filter (the reference's doc+paragraph
    // mode, filter_corpus.py:95–147: drop paragraphs not in the doc's
    // language, keep the doc). Texts carry no structural breaks, so
    // "paragraphs" are deterministic 12-token chunks — pure array
    // columns, no explode/shuffle. The per-paragraph scorer is the
    // NATIVE graft_lang_id expression: the 700-node Column-algebra
    // scorer evaluated interpreted inside the array lambda (HOFs are
    // CodegenFallback) at ~100 µs/element — 4.2 s here; one JVM call
    // per element brings it under a second with identical values.
    "q_lang_paragraphs" -> { (s, dir) =>
      def lang(c: org.apache.spark.sql.Column) =
        graft.expressions.LangExpressions.langIdCol(c)
      val pars    = TextAnalysis.paragraphsCol(col("text"))
      val docLang = lang(col("text"))
      val kept    = filter(pars, p => lang(p) === docLang)
      table(s, dir, "documents").select(
        col("doc_id"),
        docLang.as("doc_lang"),
        size(pars).cast(LongType).as("n_pars"),
        size(kept).cast(LongType).as("n_kept"),
        array_join(kept, " ").as("kept_text"))
    },

    // Flesch reading-ease + type-token ratio: the fixture soup has no
    // punctuation, so it is re-sentenced deterministically (doc_id%5+5
    // words per sentence, '. ' separators + trailing '.') on both
    // engines, then the operator's word / sentence / vowel-group
    // syllable counts and the 4dp Flesch and TTR formulas must
    // hash-match.
    "q_readability" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val sWords = (pmod(id, lit(5L)) + 5).cast("int")
      val t0 = split(trim(col("text")), "\\s+")
      val nS = ceil(size(t0) / sWords.cast("double")).cast("int")
      val sents = transform(sequence(lit(0), nS - 1), i =>
        concat_ws(" ", slice(t0, i * sWords + 1, sWords)))
      val docs = table(s, dir, "documents").select(
        col("doc_id"),
        concat(array_join(sents, ". "), lit(".")).as("text"))
      graft.operators.CorpusStats.readability(docs, "text")
        .select(col("doc_id"), col("n_words"), col("n_sentences"),
          col("n_syllables"), col("flesch"), col("ttr"))
    },

    "q_quality_score" -> { (s, dir) =>
      val words = TextAnalysis.tokenCountCol(col("text")).cast(LongType)
      val stops = TextAnalysis.wordCountCol(col("text"), "the") +
        TextAnalysis.wordCountCol(col("text"), "a")
      table(s, dir, "documents").select(
        col("doc_id"),
        length(col("text")).cast(LongType).as("n_chars"),
        words.as("n_words"),
        round(length(col("text")) * lit(1.0) / words, 4).as("avg_chars_per_word"),
        round(stops * lit(1.0) / words, 4).as("stop_ratio"))
    },

    // Gopher-style repetition/quality signals (Rae et al. 2021 §A1.1
    // shape, thresholds tuned to the fixture): word stats as pure
    // columns, the top-word fraction via explode + partial-agg groupBy
    // keyed by doc_id (skew-free — a doc's words land in one group).
    // Driven through the library operator (operators/Retrieval.scala);
    // the defaults there ARE this oracle's thresholds and rounding. The
    // pass thresholds compare the UNROUNDED ratios — the oracle does
    // too; mixing rounded display values into the verdict would make
    // pass diverge between the engines at the rounding boundary.
    "q_quality_gopher" -> { (s, dir) =>
      graft.operators.Retrieval.gopherQuality(table(s, dir, "documents"))
    },

    // BM25 retrieval (Robertson/Sparck-Jones, k1=1.2 b=0.75) for a fixed
    // term set: corpus stats (N, avgdl) are model-scale scalars; tf/df
    // are partial-aggregated groupBys. Float discipline for the oracle:
    // idf rounded to 6 right after ln on BOTH sides, constants written
    // as the same literals (2.2, 1.2, 0.25, 0.75 — never derived), the
    // final score rounded to 4. dl sums are integer-valued doubles, so
    // sum order cannot change avgdl.
    // Driven through the library operator (operators/Retrieval.scala):
    // default Bm25Params match the oracle's literals exactly (k1+1.0
    // == 2.2 and 1.0-b == 0.25 are exact IEEE doubles for 1.2/0.75).
    "q_bm25_search" -> { (s, dir) =>
      graft.operators.Retrieval.bm25(table(s, dir, "documents"),
        Seq("join", "scan", "window"))
    },

    // Incremental index maintenance: build on 2/3 of the corpus, APPEND
    // the remaining third (the continuous-crawl dump shape), query the
    // merged index. The oracle is the SAME full-corpus bm25 SQL —
    // append == rebuild is the contract.
    "q_bm25_incremental" -> { (s, dir) =>
      // tmpfs when available (corpus_pipeline's discipline): the index
      // build writes postings parquet the ~150 MB/s VM disk serializes
      val idx = java.nio.file.Files
        .createTempDirectory(bm25ScratchRoot, "graft-bm25-inc").toString
      val docs = table(s, dir, "documents")
      graft.operators.Retrieval.bm25Build(
        docs.filter(pmod(col("doc_id"), lit(3L)) =!= 0), idx)
      graft.operators.Retrieval.bm25Append(s,
        docs.filter(pmod(col("doc_id"), lit(3L)) === 0), idx)
      graft.operators.Retrieval.bm25Indexed(s, idx,
        Seq("join", "scan", "window"))
    },

    // TF-IDF keyword extraction: top-3 terms per doc by tf·ln(N/df) —
    // the per-doc keyword signal (BM25 is per-QUERY scoring; this is
    // its corpus-indexing twin). Identical double shape both engines;
    // (score, term) tie-break makes the per-doc top-k deterministic.
    "q_tfidf_topk" -> { (s, dir) =>
      val docs = table(s, dir, "documents")
      val n = docs.count().toDouble
      val tok = docs.select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("w"))
      val tf = tok.groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id")
        .orderBy(col("tfidf").desc, col("w").asc)
      tf.join(df, "w")
        .withColumn("tfidf", round(
          col("tf").cast("double") * log(lit(n) / col("df")), 6))
        .withColumn("rk", row_number().over(w).cast(LongType))
        .filter(col("rk") <= 3)
        .select("doc_id", "w", "tf", "tfidf", "rk")
    },

    // Keyword-in-context (KWIC) concordance: every occurrence of a
    // term with its +/-2-token window — the corpus-inspection tool
    // behind every "show me how this word is used" audit.
    "q_kwic" -> { (s, dir) =>
      val toks = split(trim(col("text")), "\\s+")
      table(s, dir, "documents")
        .select(col("doc_id"), toks.as("t"),
          posexplode(toks).as(Seq("pos0", "w")))
        .filter(col("w") === "spark")
        .select(col("doc_id"), (col("pos0") + 1).cast(LongType).as("pos"),
          concat_ws(" ", slice(col("t"),
            greatest(col("pos0") - 1, lit(1)),
            when(col("pos0") < 2, col("pos0") + 3)
              .otherwise(lit(5)))).as("context"))
    },

    // PMI collocations: top bigrams by pointwise mutual information,
    // both engines evaluating the identical ln((cxy*Nu*Nu)/((cx*cy)*Nb))
    // double shape (the BM25 idf discipline).
    "q_pmi_bigrams" -> { (s, dir) =>
      graft.operators.Retrieval.pmiBigrams(table(s, dir, "documents"),
        minCount = 20, topK = 50)
    },

    // Positional phrase search: exact token-sequence matches with count
    // and first position — the op bag-of-words BM25 cannot express.
    "q_phrase_search" -> { (s, dir) =>
      graft.operators.Retrieval.phraseSearch(table(s, dir, "documents"),
        Seq("slow", "hash", "batch"))
    },

    // BM25 against the MATERIALIZED inverted index (bm25Build ->
    // bm25Indexed): postings partitioned by term bucket, the query
    // prunes to its terms' bucket directories at file listing. Must
    // equal q_bm25_search bit-for-bit -- the oracle IS the same SQL.
    "q_bm25_indexed" -> { (s, dir) =>
      val idx = java.nio.file.Files
        .createTempDirectory(bm25ScratchRoot, "graft-bm25-idx").toString
      graft.operators.Retrieval.bm25Build(
        table(s, dir, "documents"), idx)
      graft.operators.Retrieval.bm25Indexed(s, idx,
        Seq("join", "scan", "window"))
    },

    // Unicode NFC normalization (native codegen'd expression vs
    // DuckDB's built-in nfc_normalize): the fixture text is ASCII, so
    // each row gets a deterministic decomposed suffix (combining marks
    // that NFC composes) appended from doc_id — both engines build the
    // identical pre-normalization string.
    "q_normalize_text" -> { (s, dir) =>
      val suffix = element_at(array(
          lit(""),
          lit(" zéta"),
          lit(" öko"),
          lit(" åño")),
        (pmod(col("doc_id").cast(LongType), lit(4L)) + 1).cast("int"))
      val raw = concat(col("text"), suffix)
      table(s, dir, "documents").select(
        col("doc_id"),
        graft.expressions.NormalizeExpressions.nfcCol(raw)
          .as("norm_text"),
        length(raw).cast(LongType).as("n_chars_raw"))
        .withColumn("n_chars_norm",
          length(col("norm_text")).cast(LongType))
        .withColumn("changed", col("n_chars_norm") =!= col("n_chars_raw"))
    },

    // Accent stripping (native graft_strip_accents = NFD + remove
    // combining marks vs DuckDB's utf8proc strip_accents): suffixes by
    // doc_id%4 cover precomposed Latin accents, multi-mark stacks,
    // Cyrillic ё/й, and the pass-through class (ø ß đ) that is NOT a
    // base+mark composition on either engine.
    "q_strip_accents" -> { (s, dir) =>
      val suffix = element_at(array(
          lit(""),
          lit(" café zéta"),
          lit(" öko åño ṓm"),
          lit(" søster ßeta đen ёж йод")),
        (pmod(col("doc_id").cast(LongType), lit(4L)) + 1).cast("int"))
      val raw = concat(col("text"), suffix)
      table(s, dir, "documents").select(
        col("doc_id"),
        graft.expressions.NormalizeExpressions.stripAccentsCol(raw)
          .as("stripped"),
        (graft.expressions.NormalizeExpressions.stripAccentsCol(raw)
          =!= raw).as("changed"))
    },

    // De-hyphenation (print/PDF-lineage text repair): a word broken as
    // 'exam-\nple' rejoins; a legitimate hyphenated compound followed
    // by a space survives. Same regex both engines.
    "q_dehyphenate" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val m = pmod(id, lit(3L))
      val raw = when(m === 0, col("text"))
        .when(m === 1, concat(lit("exam-\nple broken li-\n  ne "),
          col("text")))
        .otherwise(concat(lit("well-known multi-\nword "), col("text")))
      val fixed = regexp_replace(raw,
        "(\\p{L})-\\n\\s*(\\p{L})", "$1$2")
      table(s, dir, "documents").select(col("doc_id"),
        fixed.as("fixed"), (fixed =!= raw).as("changed"))
    },

    // Title + meta-description extraction — the two indexing fields
    // every search/snippet pipeline reads; both meta attribute orders,
    // entity-decoded, missing -> empty. Pure RE2 columns.
    "q_title_meta" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val m = pmod(id, lit(4L))
      val html = when(m === 0, concat(
          lit("<html><title>Doc &amp; co "), id,
          lit("</title><meta name=\"description\" content=\"sum "),
          id, lit("\">"), col("text")))
        .when(m === 1, concat(
          lit("<html><meta content=\"rev "), id,
          lit("\" name=\"description\"><title> padded "), id,
          lit(" </title>"), col("text")))
        .when(m === 2, concat(lit("<html><title>only title "), id,
          lit("</title>"), col("text")))
        .otherwise(concat(lit("<html>"), col("text")))
      val title = regexp_extract(html, "(?i)<title>([^<]*)</title>", 1)
      val descr = {
        val nf = regexp_extract(html,
          "(?i)<meta\\s[^>]*name\\s*=\\s*[\"']description[\"']" +
            "[^>]*content\\s*=\\s*[\"']([^\"']*)[\"']", 1)
        val cf = regexp_extract(html,
          "(?i)<meta\\s[^>]*content\\s*=\\s*[\"']([^\"']*)[\"']" +
            "[^>]*name\\s*=\\s*[\"']description[\"']", 1)
        when(nf =!= "", nf).otherwise(cf)
      }
      table(s, dir, "documents").select(col("doc_id"),
        trim(graft.sources.Sitemaps.xmlUnescape(title)).as("title"),
        descr.as("descr"))
    },

    // Mojibake repair (ftfy lineage): classes 1/2 are REAL corruptions
    // built by re-decoding UTF-8 bytes as latin-1 (the classic
    // 'cafÃ©'/'donâ€™t' web damage); class 3 is clean accented text the
    // repair must NOT touch (its 8-bit bytes are not valid UTF-8); the
    // oracle predicts the repaired output from the same generator.
    "q_mojibake_fix" -> { (s, dir) =>
      val m = pmod(col("doc_id").cast(LongType), lit(4L))
      val suffix = element_at(array(
          lit(""),
          lit(" café zür"),
          lit(" don’t – co…"),
          lit(" søster ña")),
        (m + 1).cast("int"))
      val clean = concat(col("text"), suffix)
      val raw = when(m === 1 || m === 2,
          decode(encode(clean, "UTF-8"), "ISO-8859-1"))
        .otherwise(clean)
      table(s, dir, "documents").select(
        col("doc_id"),
        graft.expressions.NormalizeExpressions.fixMojibakeCol(raw)
          .as("fixed"),
        (graft.expressions.NormalizeExpressions.fixMojibakeCol(raw)
          =!= raw).as("changed"))
    },

    // Exact dedup: hash-groupBy on full text, keep lexicographically
    // smallest doc_id as the representative.
    "q_dedup_exact" -> { (s, dir) =>
      table(s, dir, "documents")
        .groupBy("text")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n"))
        .select("keep_id", "n")
    },

    "q_fingerprint_md5" -> { (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"), md5(col("text")).as("fp"))
    },

    // Exact substring-overlap pairs: docs sharing >= 1 eight-token
    // window (the LLM-pipeline "exact substring dedup" granularity
    // between whole-doc md5 and MinHash similarity). md5 window
    // fingerprints are reproduced verbatim by the oracle.
    "q_substring_pairs" -> { (s, dir) =>
      graft.operators.SubstringDedup.sharedPairs(
        table(s, dir, "documents").select("doc_id", "text"))
    },

    // Keep/drop form (linear, no pair materialization): survivors have
    // no window shared with a smaller doc_id.
    "q_substring_dedup" -> { (s, dir) =>
      graft.operators.SubstringDedup.survivors(
        table(s, dir, "documents").select("doc_id", "text"))
        .select("doc_id")
    },

    // Winnowing (MOSS) fingerprints: k-gram base-131 hashes, w-window
    // minima with RIGHTMOST tie-break, distinct (pos, fp) per doc. The
    // oracle replays normalization, the polynomial, the window argmin
    // and the tie rule with list functions — a wrong tie side or an
    // off-by-one window start breaks the hash.
    "q_winnow_fp" -> { (s, dir) =>
      graft.operators.Winnowing.fingerprints(
        table(s, dir, "documents").select("doc_id", "text"))
    },

    // The MOSS match step on top: pairs sharing >= 3 winnowed hash
    // values under the df<=64 hot-key guard (both engines apply it).
    "q_winnow_pairs" -> { (s, dir) =>
      graft.operators.Winnowing.sharedPairs(
        table(s, dir, "documents").select("doc_id", "text"),
        minShared = 3)
    },

    // N-gram (word-set) Jaccard near-dup pairs, blocked by source —
    // exact two-regime set-similarity join (deletion signatures + prefix
    // filter; see SetSimilarity). The word sets feed both regimes and
    // the verification joins -> pin.
    "q_ngram_jaccard" -> { (s, dir) =>
      val sets = Pin(graft.operators.SetSimilarity
        .wordSets(table(s, dir, "documents")))
      graft.operators.SetSimilarity.jaccardSelfJoin(sets, t = 0.95)
    },

    // Directional word-set containment (a mostly-inside-b) at t=0.8:
    // every 10th doc gets a planted "excerpt" twin (id+100000) made of
    // the first ceil(0.7c) of its sorted distinct tokens plus two novel
    // tokens, so containment lands at k/(k+2) — above threshold but
    // below 1.0. The prefix-filtered join must equal the oracle's
    // exhaustive within-block pair scan (losslessness is the claim).
    "q_ngram_containment" -> { (s, dir) =>
      val base = table(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("text"))
      val toksD = array_sort(array_distinct(
        split(trim(col("text")), "\\s+")))
      val kKeep = ceil(size(toksD) * lit(0.7)).cast("int")
      val excerpts = base
        .filter(pmod(col("doc_id").cast(LongType), lit(10L)) === 0)
        .select((col("doc_id") + 100000L).as("doc_id"), col("source"),
          concat_ws(" ",
            array_join(slice(toksD, lit(1), kKeep), " "),
            concat(lit("zzza"), col("doc_id")),
            concat(lit("zzzb"), col("doc_id"))).as("text"))
      val sets = Pin(graft.operators.SetSimilarity
        .wordSets(base.unionByName(excerpts)))
      graft.operators.SetSimilarity.containmentJoin(sets, t = 0.8)
    },

    // Deterministic sparse random projection (JL) of the embeddings to
    // 8 dims: md5-parity signs, micro-unit Long sums (order-insensitive
    // on both engines), one broadcast sign join + one partial agg.
    "q_random_projection" -> { (s, dir) =>
      Similarity.randomProjection(table(s, dir, "embeddings"), outDim = 8)
    },

    // Brute-force cosine top-k against vec_id=0's embedding.
    "q_ann_cosine" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") === 0)
        .select("embedding").head().getSeq[Float](0).map(_.toDouble)
      Similarity.bruteForceTopK(emb.filter(col("vec_id") =!= 0), q, 20)
    },

    // Unicode-script mix: per doc_id%5 a Cyrillic/Greek/Han/Arabic
    // phrase is appended to the Latin soup plus the doc_id digits;
    // script letter counts, dominant script and the mixed flag must
    // match DuckDB's RE2 \p{Script} counts against Java's \p{IsScript}
    // — two independent Unicode engines agreeing on the same classes.
    "q_script_mix" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val suffix = element_at(array(
        lit(""),
        lit(" привет мир как дела"),
        lit(" γεια σου κόσμε"),
        lit(" 你好 世界 测试"),
        lit(" مرحبا بالعالم")), (pmod(id, lit(5L)) + 1).cast("int"))
      val docs = table(s, dir, "documents").select(col("doc_id"),
        concat(col("text"), suffix, lit(" "), id.cast("string"))
          .as("text"))
      graft.operators.CorpusStats.scriptMix(docs, "text")
        .select(col("doc_id"), col("n_latin"), col("n_cyrillic"),
          col("n_greek"), col("n_han"), col("n_arabic"), col("n_digit"),
          col("dominant"), col("mixed"))
    },

    // Vocabulary coverage: per-doc OOV fraction under the corpus
    // frequency-top-64 vocabulary ((freq desc, term) rank ties). The
    // oracle rebuilds the vocab with the same window and replays the
    // join + fraction.
    "q_vocab_coverage" -> { (s, dir) =>
      graft.operators.CorpusStats.vocabCoverage(
        table(s, dir, "documents"), "doc_id", "text", vocabSize = 64)
    },

    // Character-level Shannon entropy (bits/char): every 13th doc is
    // replaced by an 'aa…' run so the signal separates degenerate
    // repetition (~0 bits) from natural soup (~4 bits). Both engines
    // compute the order-insensitive c·ln(c) form and round to 4dp.
    "q_char_entropy" -> { (s, dir) =>
      val docs = table(s, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id").cast(LongType), lit(13L)) === 0,
          lit("a" * 160)).otherwise(col("text")).as("text"))
      graft.operators.CorpusStats.charEntropy(docs, "doc_id", "text")
    },

    // Bigram conditional entropy H(next|cur): every 13th doc an 'a'-run
    // and every 13th+1 an 'ababab' loop — both MUST score 0 here even
    // though the loop's unigram entropy is high (the sequence-level
    // gibberish/loop detector). Integer-micro numerator, ln parity.
    "q_bigram_entropy" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val docs = table(s, dir, "documents").select(col("doc_id"),
        when(pmod(id, lit(13L)) === 0, lit("a" * 160))
          .when(pmod(id, lit(13L)) === 1, lit("ab" * 80))
          .otherwise(col("text")).as("text"))
      graft.operators.CorpusStats.bigramCondEntropy(docs, "doc_id",
        "text")
    },

    // Near-dup component-size histogram over the same band graph as
    // q_lsh_components: the dedup health report (giant components =
    // over-merging; all singletons = under-matching).
    "q_dedup_cluster_sizes" -> { (s, dir) =>
      val b = MinHashF.optimalBands(0.9)
      LshDedup.componentSizeHistogram(
        LshDedup.minhashed(lshDocs(s, dir), b))
    },

    // MAD outlier flags per source over document lengths (every 97th
    // doc gets +500 chars planted so true outliers exist): exact
    // discrete lower-medians, |x-med| > 3*MAD. All integers.
    "q_mad_outliers" -> { (s, dir) =>
      val docs = table(s, dir, "documents").select(
        col("source"), col("doc_id"),
        (col("n_chars") + when(pmod(col("doc_id").cast(LongType),
          lit(97L)) === 0, 500L).otherwise(0L)).as("x"))
      graft.operators.CorpusStats.madOutliers(docs, "source", "doc_id",
        "x")
    },

    // Jaro-Winkler record linkage over synthesized name records: three
    // spelling variants per doc_id%40 family (typo, transposition,
    // vowel swap), blocked by family. The Spark side runs OUR
    // from-scratch JW (classic window/transposition/prefix-boost
    // semantics); the oracle runs DuckDB's independent builtin — two
    // implementations must agree to 6dp on every surviving pair.
    "q_jw_linkage" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val variant = element_at(array(
        lit("smith john"), lit("smith jhon"), lit("smyth john")),
        (pmod(id, lit(3L)) + 1).cast("int"))
      val docs = table(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("rec "), pmod(id, lit(40L)), lit(" "), variant)
          .as("name"),
        concat(lit("b"), pmod(id, lit(40L))).as("blk"))
      graft.operators.SetSimilarity.jaroWinklerPairs(docs, "doc_id",
        "name", "blk", minSim = 0.9)
    },

    // Edit-distance fuzzy dedup over synthesized titles: docs sharing
    // doc_id%40 get near-identical titles differing in a rev digit and
    // a source tag, blocked by the page number (the scale lever), all
    // in-block pairs at levenshtein <= 3. Both engines run their
    // builtin classic Levenshtein, so any blocking/pairing/threshold
    // drift breaks the hash.
    "q_edit_dedup" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val docs = table(s, dir, "documents").select(
        col("doc_id"),
        concat(lit("page "), pmod(id, lit(40L)), lit(" rev "),
          pmod(id, lit(3L)), lit(" "),
          substring(col("source"), 1, 4)).as("title"),
        concat(lit("b"), pmod(id, lit(40L))).as("blk"))
      graft.operators.SetSimilarity.editNearDupPairs(docs, "doc_id",
        "title", "blk", maxDist = 3)
    },

    // Margin-based bitext mining (Artetxe & Schwenk 2019): side A =
    // even vec_ids, side B = odd; margin = cos / mean-top-4
    // neighborhood sim, mined pairs = mutual best-margin above 1.02.
    // Cosines quantize to int64 micro-units ONCE; ranks, k-NN sums and
    // the margin stay integer until one final division — a mean of
    // 6dp-rounded doubles lands exactly on rounding boundaries where
    // engine summation order decides the digit (hard-won: the avg form
    // diverged on exactly one fixture pair). The oracle replays the
    // integer pipeline.
    "q_bitext_mine" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      Similarity.mineBitext(
        emb.filter(pmod(col("vec_id"), lit(2L)) === 0),
        emb.filter(pmod(col("vec_id"), lit(2L)) === 1),
        k = 4, threshold = 1.02)
    },

    // MinHash+LSH band table: (doc_id, ord, band, bhash) straight off the
    // codegen'd signature expression. Fully oracled: the base-131 shingle
    // hash keeps every intermediate BIGINT/HUGEINT-exact in DuckDB.
    "q_lsh_bands" -> { (s, dir) =>
      val b = MinHashF.optimalBands(0.9)
      LshDedup.bandTable(LshDedup.minhashed(lshDocs(s, dir), b))
        .select(col("doc_id"), col("ord"),
                col("band").cast(LongType).as("band"), col("bhash"))
    },

    // LSH candidate-pair set: distinct ord pairs sharing any band bucket
    // (the `query` criterion of the reference's datasketch LSH). The
    // production self-dedup uses chain edges (k-1 per bucket) instead of
    // this quadratic form; as a driver query the bucket sizes are tiny.
    // The band table is checkpointed: both sides of the self-join need
    // it and the signature chain is the dominant cost.
    // Analytic banding S-curve for the production (b=8, r=32) config:
    // exact square/sqrt chains only — the table that justifies the LSH
    // threshold, empirically confirmed by q_dedup_eval.
    "q_lsh_scurve" -> { (s, dir) =>
      graft.operators.LshDedup.sCurve(s, b = MinHashF.optimalBands(0.9),
        r = MinHashF.NumPerm / MinHashF.optimalBands(0.9), gridN = 20)
    },

    "q_lsh_pairs" -> { (s, dir) =>
      val b = MinHashF.optimalBands(0.9)
      val bt = Pin(LshDedup.bandTable(LshDedup.minhashed(lshDocs(s, dir), b))
        .select("ord", "band", "bhash"))
      bt.alias("x").join(bt.alias("y"),
          col("x.band") === col("y.band") &&
          col("x.bhash") === col("y.bhash") &&
          col("x.ord") < col("y.ord"))
        .select(col("x.ord").as("a_ord"), col("y.ord").as("b_ord"))
        .distinct()
    },

    // Band-graph connected components (the CC stage of self-dedup,
    // exposed directly): comp = min ord of the component, singletons
    // label themselves. Oracle: transitive closure over the conflict
    // pairs (band collisions ∪ same-doc_id couples) as a recursive CTE.
    "q_lsh_components" -> { (s, dir) =>
      val b = MinHashF.optimalBands(0.9)
      LshDedup.components(LshDedup.minhashed(lshDocs(s, dir), b))
    },

    // Quality-argmax representative per near-dup component: same band
    // graph as q_lsh_components, but the survivor is the LONGEST doc
    // of each conflict set ((n_chars desc, ord) argmax) instead of the
    // first seen — the curation-grade dedup. The oracle extends the
    // transitive-closure replay with the same argmax window.
    "q_dedup_representatives" -> { (s, dir) =>
      val b = MinHashF.optimalBands(0.9)
      val quality = table(s, dir, "documents")
        .select(col("doc_id").cast(LongType).as("ord"),
          col("n_chars").as("q"))
      LshDedup.dedupRepresentatives(
          LshDedup.minhashed(lshDocs(s, dir), b), quality)
        .select(col("ord"), col("comp"), col("q"), col("kept"))
    },

    // MinHash+LSH self-dedup survivors over the documents table, via the
    // production first-wins replay (b bands for t=0.9). Oracle: the same
    // greedy replay as a DuckDB recursive CTE over the conflict-pair
    // graph (kept-set carried as a LIST through the recursion).
    "q_lsh_dedup" -> { (s, dir) =>
      val b = MinHashF.optimalBands(0.9)
      LshDedup.selfDedup(LshDedup.minhashed(lshDocs(s, dir), b))
    },

    // ---- rows-only (hash-based; parity in ScalaTest) ----

    // Gzip-compressibility spam signal (JVM Deflater — no SQL twin, so
    // this is a rows-only query; CurationSpec pins the semantics):
    // every third doc is made pathologically repetitive, which the
    // ratio separates from natural soup by a wide margin.
    "q_compress_ratio" -> { (s, dir) =>
      val id = col("doc_id").cast(LongType)
      val docs = table(s, dir, "documents").select(col("doc_id"),
        when(pmod(id, lit(3L)) === 0,
          concat_ws(" ", array_repeat(lit("buy now click here"), 40)))
          .otherwise(col("text")).as("text"))
      graft.operators.Curation.compressionSignal(docs, "text")
        .select(col("doc_id"), col("raw_bytes"), col("deflate_bytes"),
          col("compress_ratio"))
    },

    // Simhash near-duplicate pairs (Hamming <= 3, exact via 4-band
    // block). The oracle replays the FNV64 token hash with HUGEINT
    // wrap-around arithmetic and the per-bit voting in SQL.
    "q_simhash_neardup" -> { (s, dir) =>
      Similarity.simhashNearDupPairs(
        table(s, dir, "documents").select("doc_id", "text"))
    },

    // Rolling-hash shingle fingerprint: min base-131 polynomial over char
    // 5-grams — pure codegen columns, exactly mirrored by the oracle.
    "q_fingerprint_shingle" -> { (s, dir) =>
      table(s, dir, "documents").select(
        col("doc_id"),
        TextAnalysis.polyShingleFpCol(col("text")).as("fp"))
    },

    // Hyperplane-LSH bucket histogram (the ANN scale path).
    "q_ann_buckets" -> { (s, dir) =>
      Similarity.hyperplaneBuckets(
        table(s, dir, "embeddings"), nPlanes = 8, dim = 64)
        .groupBy("bucket").agg(count(lit(1)).as("n"))
    },

    // ANN query path: multi-probe bucket search (<=1 flipped plane) +
    // exact cosine verification, top-k.
    "q_ann_search" -> { (s, dir) =>
      Similarity.annSearch(table(s, dir, "embeddings"),
        queryVecId = 0, k = 10, nPlanes = 8, dim = 64)
    },

    // PCA top component by power iteration: per-dimension loading of
    // PC1 plus the Rayleigh eigenvalue and its variance share — the
    // embedding-collapse health check and whitening precursor. The
    // oracle unrolls the identical 5 iterations (means 6dp, covariance
    // sums 6dp, iterates 8dp) so both engines walk the same float path.
    "q_pca_top" -> { (s, dir) =>
      graft.operators.Spectral.pcaTop(table(s, dir, "embeddings"),
        iters = 5)
    },

    // Whitening coordinates: per-vector PC1 projection + residual
    // energy (outlier/collapse ranking). Same unrolled power-iteration
    // chain as q_pca_top on the oracle side; ±0.0 canonicalized.
    "q_pca_project" -> { (s, dir) =>
      graft.operators.Spectral.pcaProject(table(s, dir, "embeddings"),
        iters = 5)
    },

    // Contrastive-pair mining: hardest in-bucket same-label positive +
    // cross-label negative per anchor, int64 micro-unit cosines, ties
    // to the smaller candidate id. The oracle replays the hyperplane
    // buckets, the per-bucket pair cosines (list_dot_product = the
    // same left-to-right fold as the native expression) and both
    // argmaxes.
    "q_contrastive_pairs" -> { (s, dir) =>
      Similarity.mineContrastive(table(s, dir, "embeddings"),
        nPlanes = 4, dim = 64)
    },

    // IVF-ANN: deterministic k-means coarse quantizer (fixed init +
    // iteration count, rounded means), probe the 2 nearest inverted
    // lists, exact-cosine top-k inside them. The oracle replays the
    // k-means iterations unrolled in SQL.
    "q_ann_ivf" -> { (s, dir) =>
      Similarity.ivfSearch(table(s, dir, "embeddings"),
        queryVecId = 0, k = 10, kLists = 8, nProbe = 2, iters = 3)
    },

    // External clustering eval: purity + NMI of the IVF clusters
    // against the label column — with q_silhouette the internal/
    // external eval pair.
    "q_cluster_purity" -> { (s, dir) =>
      Similarity.clusterPurity(table(s, dir, "embeddings"),
        kClusters = 8, iters = 3)
    },

    // Centroid-silhouette clustering health over the IVF quantizer:
    // per-cluster exact integer silhouette sums — "are these 8 lists
    // actually separated?" as a query.
    "q_silhouette" -> { (s, dir) =>
      Similarity.silhouette(table(s, dir, "embeddings"),
        kClusters = 8, iters = 3)
    },

    // Scalar int8 quantization: per-dim min/max grid, codes + exact
    // integer-micro reconstruction error per vector — the vector-store
    // compression pass (with q_ann_pq as the subspace variant).
    "q_sq8_quantize" -> { (s, dir) =>
      Similarity.sq8Quantize(table(s, dir, "embeddings"))
    },

    // ANN quality eval: recall@10 of the IVF probe path vs exact
    // brute-force ground truth over 20 query vectors, as one distributed
    // plan (broadcast query set, salted two-phase top-k windows) — the
    // index-tuning feedback loop (kLists/nProbe trade-off) as a query.
    "q_ann_recall" -> { (s, dir) =>
      Similarity.annRecallEval(table(s, dir, "embeddings"),
        nQueries = 20, k = 10, kLists = 8, nProbe = 2, iters = 3)
    },

    // SemDeDup: deterministic k-means (same trainer/replay as IVF) +
    // within-cluster cosine dedup keeping the most-central doc. The
    // oracle replays clustering, per-doc centroid cosine and the
    // dominator rule.
    "q_semdedup" -> { (s, dir) =>
      Similarity.semDedup(table(s, dir, "embeddings"),
        simThreshold = 0.35, kClusters = 8, iters = 3)
    },

    // Same search against a MATERIALIZED IVF index (build once, probe
    // reads only the nProbe list partitions — partition pruning at file
    // listing). Oracle: identical to q_ann_ivf.
    "q_ann_ivf_indexed" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      // per-PROCESS deterministic path with a shutdown-hook delete:
      // a fresh createTempDirectory per run leaked one index copy per
      // invocation, while a purely input-keyed path raced concurrent
      // harness processes (one overwrites mid-read of the other). The
      // pid suffix isolates processes; the hook reclaims the space.
      val idx = java.nio.file.Paths.get(
        scratchRootStr,
        s"graft-ivf-idx-${Integer.toHexString(dir.hashCode)}-" +
          ProcessHandle.current().pid()).toString
      graft.Sessions.deleteOnExit(idx)
      Similarity.ivfBuild(emb, idx, kLists = 8, iters = 3)
      val qVec = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      Similarity.ivfSearchIndexed(s, idx, qVec, k = 10, nProbe = 2,
        excludeId = Some(0L))
    },

    // Product-quantization ADC search: train per-subspace codebooks
    // (m=4 x 16 dims, k=8, 2 iters), encode the corpus to 4 code
    // columns, rank by asymmetric distance to vec 0. The oracle
    // replays the per-subspace k-means with the shared CTE, the
    // encoding argmin and the LUT-sum — every rounding step mirrored.
    "q_ann_pq" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val books = Similarity.pqTrain(emb, m = 4, k = 8, iters = 2)
      val q = emb.filter(col("vec_id") === 0)
        .select(col("embedding").cast("array<double>"))
        .head().getSeq[Double](0)
      Similarity.pqSearch(Similarity.pqEncode(emb, books), books, q,
        k = 10, excludeId = Some(0L))
    },

    // The PQ code table itself (vec_id -> one code per subspace): the
    // compressed representation every downstream ADC search reads.
    "q_ann_pq_codes" -> { (s, dir) =>
      val emb = table(s, dir, "embeddings")
      val books = Similarity.pqTrain(emb, m = 4, k = 8, iters = 2)
      Similarity.pqEncode(emb, books).select(
        col("vec_id"),
        col("code0").cast(LongType).as("code0"),
        col("code1").cast(LongType).as("code1"),
        col("code2").cast(LongType).as("code2"),
        col("code3").cast(LongType).as("code3"))
    },

    // Embedding-cosine near-dup pairs, exact within blocks. The raw
    // embeddings carry no near-duplicates (max pairwise cosine ~0.51),
    // so the frame plants exact copies of vec_id < 50 at id+10000
    // (same block: 10000 % 25 = 0) — the operator must find exactly
    // those pairs and nothing else.
    "q_cosine_neardup" -> { (s, dir) =>
      val e = table(s, dir, "embeddings").select(
        col("vec_id"), col("embedding"))
      val planted = e.filter(col("vec_id") < 50)
        .select((col("vec_id") + 10000).as("vec_id"), col("embedding"))
      val frame = e.unionByName(planted)
        .withColumn("block", pmod(col("vec_id"), lit(25L)))
      Similarity.cosineNearDupPairs(frame, t = 0.99)
    }
  )

  /** The hyperplane table as DuckDB VALUES literals (1-based idx to match
    * generate_subscripts). Doubles print in round-trip form, so both
    * engines bucket with bit-identical weights.
    */
  private def planesValuesSql(nPlanes: Int, dim: Int): String =
    Similarity.planes(nPlanes, dim).zipWithIndex.flatMap { case (pl, p) =>
      pl.zipWithIndex.map { case (w, d) => s"($p,${d + 1},$w)" }
    }.mkString(",")

  private def bucketsCte(nPlanes: Int, dim: Int): String =
    s"""p(plane, idx, w) AS (VALUES ${planesValuesSql(nPlanes, dim)}),
       e AS (
         SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
                CAST(unnest(embedding) AS DOUBLE) AS v
         FROM embeddings),
       dots AS (
         SELECT e.vec_id, p.plane, round(sum(e.v * p.w), 8) AS d
         FROM e JOIN p USING (idx) GROUP BY 1, 2),
       b AS (
         SELECT vec_id,
                CAST(sum(CASE WHEN d > 0 THEN (1::BIGINT << plane)
                              ELSE 0 END) AS BIGINT) AS bucket
         FROM dots GROUP BY 1)"""

  /** One unrolled k-means iteration: cents `$in(cid, idx, w)` →
    * `$out(cid, idx, w)`; assignment = rounded-argmin, mean rounded 6dp,
    * empty clusters carry the previous centroid.
    */
  private def kmeansIterCte(in: String, out: String,
                            e: String = "e"): String =
    s"""d_$out AS (
         SELECT e.vec_id, c.cid,
                round(sum((e.v - c.w) * (e.v - c.w)), 8) AS d
         FROM $e e JOIN $in c ON c.idx = e.idx
         GROUP BY 1, 2),
       a_$out AS (
         SELECT vec_id, cid FROM (
           SELECT vec_id, cid,
                  row_number() OVER (PARTITION BY vec_id
                                     ORDER BY d ASC, cid ASC) AS rw
           FROM d_$out) WHERE rw = 1),
       m_$out AS (
         SELECT a.cid, e.idx, round(avg(e.v), 6) AS w
         FROM a_$out a JOIN $e e ON e.vec_id = a.vec_id
         GROUP BY 1, 2),
       $out AS MATERIALIZED (
         SELECT c.cid, c.idx, coalesce(m.w, c.w) AS w
         FROM $in c LEFT JOIN m_$out m
           ON m.cid = c.cid AND m.idx = c.idx)"""

  /** MinHash band table as DuckDB CTEs over a relation `src(k, text)`
    * the caller must define earlier in the WITH list (k: BIGINT key):
    * base-131 shingle hash (< 2^53, BIGINT-exact), (a*h+b) mod 2^31-1
    * permutations in plain BIGINT, FNV-1a band fold in HUGEINT-mod-2^64
    * — value-identical to MinHashF.signature/bandHashes. Ends with
    * `bands(k, band, bhash)`, MATERIALIZED so multi-reference queries
    * (pairs, the recursive replays) compute the chain once.
    */
  /** The 256-perm permutation table — shared by every minhash CTE
    * instance in one WITH list; emit exactly once.
    */
  private[queries] val permsCte: String =
    s"perms(j, pa, pb) AS (VALUES ${MinHashF.permValuesSql})"

  /** Prefixed minhash band chain over the relation `$src(k, text)`;
    * requires `perms` defined earlier. Ends with `${p}bands`.
    */
  private[queries] def minhashBandsCte(b: Int, p: String,
                                       src: String): String = {
    val r = MinHashF.NumPerm / b
    s"""${p}sh AS (
         SELECT DISTINCT k,
                ((((CAST(unicode(text[i]) AS BIGINT) * 131
                    + unicode(text[i+1])) * 131
                   + unicode(text[i+2])) * 131
                  + unicode(text[i+3])) * 131
                 + unicode(text[i+4])) AS h0
         FROM (SELECT k, text, unnest(range(1, length(text) - 3)) AS i
               FROM $src WHERE length(text) >= 5)),
       ${p}sig0 AS (
         SELECT k, j, min((pa * (h0 % 2147483647) + pb) % 2147483647) AS v
         FROM ${p}sh CROSS JOIN perms GROUP BY 1, 2),
       ${p}sig AS (
         SELECT d.k, p.j, coalesce(s.v, 9223372036854775807) AS v
         FROM (SELECT DISTINCT k FROM $src) d CROSS JOIN perms p
         LEFT JOIN ${p}sig0 s ON s.k = d.k AND s.j = p.j),
       ${p}bands AS MATERIALIZED (
         SELECT k, CAST(band0 AS BIGINT) AS band,
                CAST(CASE WHEN hu >= 9223372036854775808
                          THEN hu - 18446744073709551616
                          ELSE hu END AS BIGINT) AS bhash
         FROM (
           SELECT k, j // $r AS band0,
                  list_reduce(
                    list_prepend(CAST(14695981039346656037 AS HUGEINT),
                      list_transform(list(v ORDER BY j ASC),
                                     x -> CAST(x AS HUGEINT))),
                    (h, x) -> (xor(h, x) * 1099511628211)
                              % 18446744073709551616) AS hu
           FROM ${p}sig GROUP BY k, j // $r))"""
  }

  private[queries] def minhashBandsCte(b: Int): String =
    permsCte + ",\n       " + minhashBandsCte(b, "", "src")

  /** Winnowing replay (Winnowing.scala semantics, k/w from the
    * operator's constants): normalization, the base-131 gram
    * polynomial mixed ·1000003 mod 2^31−1, per-window min with the
    * rightmost tie rule. Ends with `wsel(doc_id, pos, fp)`.
    */
  private val winnowSelCte: String = {
    val k = graft.operators.Winnowing.K
    val w = graft.operators.Winnowing.W
    val poly = (1 until k).foldLeft("CAST(unicode(s[i]) AS BIGINT)") {
      (acc, j) => s"($acc * 131 + unicode(s[i+$j]))"
    }
    s"""wc AS (
         SELECT doc_id,
                regexp_replace(lower(text), '[^a-z0-9]', '', 'g') AS s
         FROM documents),
       whs AS (
         SELECT doc_id, length(s) - ${k - 1} AS n,
                list_transform(range(1, length(s) - ${k - 2}),
                  i -> $poly * 1000003 % 2147483647) AS hl
         FROM wc WHERE length(s) >= $k),
       wwj AS (
         SELECT doc_id, hl, unnest(range(1, n - ${w - 2})) AS j
         FROM whs WHERE n >= $w),
       wsel AS MATERIALIZED (
         SELECT DISTINCT doc_id,
                j + $w - list_position(list_reverse(hl[j:j+${w - 1}]),
                                       list_min(hl[j:j+${w - 1}])) AS pos,
                list_min(hl[j:j+${w - 1}]) AS fp
         FROM wwj)"""
  }

  /** First-wins LSH self-dedup replay (lsh.py:96–135 semantics) over
    * `$docsRel(doc_id, ord)` with band rows `$bandsRel(k, band, bhash)`;
    * ends with `${p}kept(doc_id, ord)`. Conflict = shared band bucket OR
    * equal doc_id; a doc is dropped iff it conflicts with an
    * already-KEPT doc (dropped docs never suppress later ones).
    */
  private[queries] def lshReplayCte(p: String, docsRel: String,
                                    bandsRel: String): String =
    s"""${p}pairs AS MATERIALIZED (
         SELECT DISTINCT x.k AS a_ord, y.k AS b_ord
         FROM $bandsRel x JOIN $bandsRel y
           ON x.band = y.band AND x.bhash = y.bhash AND x.k < y.k),
       ${p}conf AS MATERIALIZED (
         SELECT a_ord, b_ord FROM ${p}pairs
         UNION
         SELECT x.ord, y.ord FROM $docsRel x JOIN $docsRel y
         ON x.doc_id = y.doc_id AND x.ord < y.ord),
       ${p}seq AS MATERIALIZED (
         SELECT ord, row_number() OVER (ORDER BY ord ASC) AS rn
         FROM $docsRel),
       ${p}confl AS MATERIALIZED (
         SELECT b_ord, list(a_ord) AS froms FROM ${p}conf GROUP BY 1),
       ${p}st(i, kept) AS (
         SELECT 0, CAST([] AS BIGINT[])
         UNION ALL
         -- join-driven step (one doc per iteration, terminates when seq
         -- runs out). NOTE two DuckDB 1.0 recursion quirks: a scalar
         -- subquery returns NULL on the first iteration, and a
         -- correlated EXISTS against the materialized conflict CTE
         -- never fires — hence plain joins + list_has_any only.
         SELECT st.i + 1,
                CASE WHEN list_has_any(st.kept, coalesce(cf.froms, []))
                     THEN st.kept
                     ELSE list_append(st.kept, s.ord) END
         FROM ${p}st st JOIN ${p}seq s ON s.rn = st.i + 1
         LEFT JOIN ${p}confl cf ON cf.b_ord = s.ord),
       ${p}kept AS (
         SELECT d.doc_id, d.ord
         FROM $docsRel d,
              (SELECT kept FROM ${p}st ORDER BY i DESC LIMIT 1) k
         WHERE list_contains(k.kept, d.ord))"""

  /** `docs` + `src` CTEs keying the band chain by doc ord. */
  private val docSrcCte: String =
    """docs AS MATERIALIZED (
         SELECT doc_id, CAST(doc_id AS BIGINT) AS ord, text FROM documents),
       src AS (SELECT ord AS k, text FROM docs)"""

  /** Candidate pairs on top of `bands` (MATERIALIZED: the recursive
    * replay references the conflict set every iteration).
    */
  private val lshPairsCte: String =
    """pairs AS MATERIALIZED (
         SELECT DISTINCT x.k AS a_ord, y.k AS b_ord
         FROM bands x JOIN bands y
           ON x.band = y.band AND x.bhash = y.bhash AND x.k < y.k)"""

  /** Shared WITH prefix for the PQ oracles: per-subspace k-means (the
    * parameterized kmeansIterCte per subspace), argmin codes and the
    * query's LUT distances — q_ann_pq appends the ADC ranking select,
    * q_ann_pq_codes the code-table select.
    */
  private lazy val pqOracleWith: String = {
    val m = 4; val kc = 8; val sd = 16
    val subCtes = (0 until m).map { s =>
      s"""es$s AS MATERIALIZED (
            SELECT vec_id, idx - ${s * sd} AS idx, v FROM e
            WHERE idx BETWEEN ${s * sd + 1} AND ${(s + 1) * sd}),
          s${s}c0 AS MATERIALIZED (
            SELECT r.cid, es.idx, es.v AS w
            FROM (SELECT vec_id,
                         CAST(row_number() OVER (ORDER BY vec_id ASC) - 1
                              AS INT) AS cid
                  FROM embeddings ORDER BY vec_id ASC LIMIT $kc) r
            JOIN es$s es ON es.vec_id = r.vec_id),
          ${kmeansIterCte(s"s${s}c0", s"s${s}c1", s"es$s")},
          ${kmeansIterCte(s"s${s}c1", s"s${s}c2", s"es$s")}"""
    }.mkString(",\n          ")
    val assigns = (0 until m).map { s =>
      s"""da$s AS (
            SELECT e2.vec_id, c.cid,
                   round(sum((e2.v - c.w) * (e2.v - c.w)), 8) AS d
            FROM es$s e2 JOIN s${s}c2 c ON c.idx = e2.idx
            GROUP BY 1, 2),
          code$s AS (
            SELECT vec_id, cid FROM (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d ASC, cid ASC) AS rw
              FROM da$s) WHERE rw = 1),
          lut$s AS (
            SELECT c.cid, round(sum((q.v - c.w) * (q.v - c.w)), 8) AS d
            FROM es$s q JOIN s${s}c2 c ON c.idx = q.idx
            WHERE q.vec_id = 0 GROUP BY 1)"""
    }.mkString(",\n          ")
    s"""WITH e AS MATERIALIZED (
          SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
                 CAST(unnest(embedding) AS DOUBLE) AS v
          FROM embeddings),
        $subCtes,
        $assigns"""
  }

  private val bm25Sql: String =
    """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         d AS (SELECT doc_id, CAST(len(t) AS DOUBLE) AS dl, t FROM toks),
         stats AS (
           SELECT CAST(count(*) AS DOUBLE) AS n,
                  sum(dl) / count(*) AS avgdl
           FROM d),
         w AS (SELECT doc_id, dl, unnest(t) AS w FROM d),
         tf AS (
           SELECT doc_id, dl, w, CAST(count(*) AS DOUBLE) AS tf
           FROM w WHERE w IN ('join', 'scan', 'window')
           GROUP BY 1, 2, 3),
         dft AS (SELECT w, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
         sc AS (
           SELECT tf.doc_id,
                  round(sum(
                    round(ln(1.0 + (s.n - dft.df + 0.5) / (dft.df + 0.5)), 6)
                    * tf.tf * 2.2
                    / (tf.tf + 1.2 * (0.25 + 0.75 * tf.dl / s.avgdl))), 4)
                    AS bm25
           FROM tf JOIN dft USING (w) CROSS JOIN stats s
           GROUP BY 1)
         SELECT doc_id, bm25 FROM sc
         ORDER BY bm25 DESC, doc_id ASC LIMIT 20"""

  private val oraclesBase: Map[String, String] = Map(
    "q_token_count" ->
      """SELECT doc_id,
           CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
             AS n_tokens
         FROM documents""",
    // GENERATED from TextAnalysis.LangMarkers (124 languages) — the
    // oracle SQL and the Column scorer read the same marker table, so
    // the two engines cannot drift as breadth grows.
    "q_source_entropy" ->
      """WITH counts AS (
           SELECT source, lang, count(*) AS c
           FROM documents GROUP BY 1, 2),
         totals AS (
           SELECT source, CAST(sum(c) AS BIGINT) AS n,
                  count(*) AS n_langs
           FROM counts GROUP BY 1),
         terms AS (
           SELECT counts.source, n, n_langs,
                  CAST(round(
                    (-(CAST(c AS DOUBLE) / n) * ln(CAST(c AS DOUBLE) / n))
                      * 1000000000.0, 0) AS BIGINT) AS term_nano
           FROM counts JOIN totals ON counts.source = totals.source)
         SELECT source, max(n) AS n_docs, max(n_langs) AS n_langs,
                round(CAST(sum(term_nano) AS DOUBLE) / 1000000000.0, 6)
                  AS entropy
         FROM terms GROUP BY 1""",

    "q_lang_margin" -> {
      val (scores, caseExpr) = TextAnalysis.langIdSql("text")
      val lst = TextAnalysis.LangMarkers
        .map(l => s"__s_${l._1}").mkString("[", ", ", "]")
      s"""WITH s AS (
           SELECT doc_id, text,
             $scores
           FROM documents),
         m AS (
           SELECT doc_id,
             $caseExpr AS pred_lang,
             list_sort($lst, 'DESC') AS l
           FROM s)
         SELECT doc_id, pred_lang,
                CAST(l[1] - l[2] AS BIGINT) AS margin
         FROM m"""
    },

    "q_lang_id" -> {
      val (scores, caseExpr) = TextAnalysis.langIdSql("text")
      s"""WITH s AS (
           SELECT doc_id,
             $scores
           FROM documents)
         SELECT doc_id,
           $caseExpr AS pred_lang
         FROM s"""
    },

    "q_lang_paragraphs" -> {
      val (pScores, pCase) = TextAnalysis.langIdSql("ptext")
      val (dScores, dCase) = TextAnalysis.langIdSql("text")
      s"""WITH toks AS (
           SELECT doc_id, text,
                  string_split_regex(trim(text), '\\s+') AS t
           FROM documents),
         par AS (
           SELECT doc_id,
                  unnest(range(CAST(ceil(len(t) / 12.0) AS BIGINT))) AS p_id,
                  t
           FROM toks),
         ptexts AS (
           SELECT doc_id, p_id,
                  array_to_string(t[(p_id*12+1):(p_id*12+12)], ' ') AS ptext
           FROM par),
         ps AS (SELECT doc_id, p_id, ptext, $pScores FROM ptexts),
         pl AS (SELECT doc_id, p_id, ptext, $pCase AS p_lang FROM ps),
         ds AS (SELECT doc_id, $dScores FROM documents),
         dl AS (SELECT doc_id, $dCase AS doc_lang FROM ds)
         SELECT pl.doc_id AS doc_id, doc_lang,
                CAST(count(*) AS BIGINT) AS n_pars,
                CAST(sum(CASE WHEN p_lang = doc_lang THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_kept,
                coalesce(string_agg(
                  CASE WHEN p_lang = doc_lang THEN ptext END,
                  ' ' ORDER BY p_id), '') AS kept_text
         FROM pl JOIN dl USING (doc_id)
         GROUP BY 1, 2"""
    },
    "q_readability" ->
      """WITH d AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t,
                  CAST(doc_id AS BIGINT) % 5 + 5 AS S
           FROM documents),
         x AS (
           SELECT doc_id,
                  array_to_string(list_transform(
                      range(CAST(ceil(len(t) / (S * 1.0)) AS BIGINT)),
                      i -> array_to_string(t[(i*S+1):(i*S+S)], ' ')),
                    '. ') || '.' AS text
           FROM d),
         w AS (
           SELECT doc_id, text,
                  string_split_regex(trim(text), '\s+') AS wl
           FROM x),
         m AS (
           SELECT doc_id,
                  len(wl)::BIGINT AS n_words,
                  greatest(len(regexp_extract_all(text, '[.!?]+')),
                           1)::BIGINT AS n_sentences,
                  (len(regexp_extract_all(lower(text), '[aeiouy]+'))
                   + len(list_filter(wl, w ->
                       NOT regexp_matches(lower(w), '[aeiouy]'))))::BIGINT
                    AS n_syllables,
                  len(list_distinct(list_transform(wl, w -> lower(w))))
                    AS nd
           FROM w)
         SELECT doc_id, n_words, n_sentences, n_syllables,
                round(206.835 - 1.015 * (n_words * 1.0 / n_sentences)
                              - 84.6 * (n_syllables * 1.0 / n_words), 4)
                  AS flesch,
                round(nd * 1.0 / n_words, 4) AS ttr
         FROM m""",

    "q_quality_score" ->
      """WITH s AS (
           SELECT doc_id, text,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_words,
             (length(' '||text||' ') - length(replace(' '||text||' ', ' the ', ''))) / 5
           + (length(' '||text||' ') - length(replace(' '||text||' ', ' a ', ''))) / 3
               AS stops
           FROM documents)
         SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars, n_words,
                round(length(text) * 1.0 / n_words, 4) AS avg_chars_per_word,
                round(stops * 1.0 / n_words, 4) AS stop_ratio
         FROM s""",
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n
         FROM documents GROUP BY text""",
    "q_fingerprint_md5" ->
      "SELECT doc_id, md5(text) AS fp FROM documents",
    "q_bm25_search" -> bm25Sql,
    "q_bm25_incremental" -> bm25Sql,

    "q_tfidf_topk" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(trim(text), '\s+')) AS w
           FROM documents),
         tf AS (SELECT doc_id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
         df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
         nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         sc AS (
           SELECT tf.doc_id, tf.w, tf.tf,
                  round(CAST(tf.tf AS DOUBLE) * ln(n / df.df), 6) AS tfidf
           FROM tf JOIN df USING (w) CROSS JOIN nn),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY tfidf DESC, w ASC)::BIGINT AS rk
           FROM sc)
         SELECT doc_id, w, tf, tfidf, rk FROM r WHERE rk <= 3""",

    "q_kwic" ->
      """WITH tok AS (
           SELECT doc_id,
                  string_split_regex(trim(text), '\s+') AS t,
                  unnest(string_split_regex(trim(text), '\s+')) AS w,
                  generate_subscripts(
                    string_split_regex(trim(text), '\s+'), 1) AS pos
           FROM documents)
         SELECT doc_id, pos,
                array_to_string(t[greatest(pos - 2, 1):(pos + 2)], ' ')
                  AS context
         FROM tok WHERE w = 'spark'""",

    "q_pmi_bigrams" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(trim(text), '\s+')) AS w,
                  generate_subscripts(
                    string_split_regex(trim(text), '\s+'), 1) AS pos
           FROM documents),
         bi0 AS (
           SELECT doc_id, w AS w1,
                  lead(w) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
           FROM tok),
         bi AS (SELECT w1, w2 FROM bi0 WHERE w2 IS NOT NULL),
         uni AS (SELECT w, count(*) AS c FROM tok GROUP BY 1),
         tot AS (SELECT CAST(count(*) AS DOUBLE) AS nu FROM tok),
         totb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM bi),
         cx AS (SELECT w1, w2, count(*) AS cxy FROM bi GROUP BY 1, 2)
         SELECT cx.w1, cx.w2, cx.cxy,
                round(ln((CAST(cx.cxy AS DOUBLE) * nu * nu) /
                         ((CAST(c1.c AS DOUBLE) * c2.c) * nb)), 6) AS pmi
         FROM cx
         CROSS JOIN tot CROSS JOIN totb
         JOIN uni c1 ON cx.w1 = c1.w
         JOIN uni c2 ON cx.w2 = c2.w
         WHERE cx.cxy >= 20
         ORDER BY pmi DESC, cx.w1 ASC, cx.w2 ASC
         LIMIT 50""",

    "q_phrase_search" ->
      """WITH tok AS (
           SELECT doc_id,
                  unnest(string_split_regex(trim(text), '\s+')) AS w,
                  generate_subscripts(
                    string_split_regex(trim(text), '\s+'), 1) AS pos
           FROM documents)
         SELECT a.doc_id, count(*) AS n_matches, min(a.pos) AS first_pos
         FROM tok a
         JOIN tok b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
                   AND b.w = 'hash'
         JOIN tok c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
                   AND c.w = 'batch'
         WHERE a.w = 'slow'
         GROUP BY 1""",
    // the indexed path must reproduce the direct computation exactly
    "q_bm25_indexed" -> bm25Sql,
    "q_quality_gopher" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         base AS (
           SELECT doc_id, len(t) AS n,
                  list_sum(list_transform(t, w -> length(w))) AS chars,
                  len(list_distinct(t)) AS nd, t
           FROM toks),
         cnt AS (
           SELECT doc_id, word, count(*) AS c
           FROM (SELECT doc_id, unnest(t) AS word FROM toks)
           GROUP BY 1, 2),
         top AS (SELECT doc_id, max(c) AS topc FROM cnt GROUP BY 1)
         SELECT b.doc_id,
                CAST(b.n AS BIGINT) AS n_words,
                round(b.chars * 1.0 / b.n, 4) AS mean_word_len,
                round(b.nd * 1.0 / b.n, 4) AS ttr,
                round(t.topc * 1.0 / b.n, 4) AS top_word_frac,
                (b.n >= 10 AND b.chars * 1.0 / b.n >= 2.0
                 AND b.chars * 1.0 / b.n <= 12.0
                 AND b.nd * 1.0 / b.n >= 0.3
                 AND t.topc * 1.0 / b.n <= 0.2) AS pass
         FROM base b JOIN top t ON t.doc_id = b.doc_id""",
    "q_substring_pairs" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         fp0 AS (
           SELECT doc_id, unnest(range(1, len(t) - 6)) AS i, t
           FROM toks WHERE len(t) >= 8),
         fps AS (
           SELECT DISTINCT doc_id,
                  md5(array_to_string(t[i:i+7], ' ')) AS fp
           FROM fp0),
         ok AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 64),
         f2 AS (SELECT fps.* FROM fps JOIN ok USING (fp))
         SELECT x.doc_id AS a_id, y.doc_id AS b_id,
                count(*) AS n_shared
         FROM f2 x JOIN f2 y ON x.fp = y.fp AND x.doc_id < y.doc_id
         GROUP BY 1, 2""",
    "q_substring_dedup" ->
      """WITH toks AS (
           SELECT doc_id, string_split_regex(trim(text), '\s+') AS t
           FROM documents),
         fp0 AS (
           SELECT doc_id, unnest(range(1, len(t) - 6)) AS i, t
           FROM toks WHERE len(t) >= 8),
         fps AS (
           SELECT DISTINCT doc_id,
                  md5(array_to_string(t[i:i+7], ' ')) AS fp
           FROM fp0),
         minp AS (SELECT fp, min(doc_id) AS min_id FROM fps GROUP BY fp),
         dropd AS (
           SELECT DISTINCT f.doc_id FROM fps f
           JOIN minp USING (fp) WHERE f.doc_id > min_id)
         SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT doc_id FROM dropd)""",
    "q_winnow_fp" ->
      s"""WITH $winnowSelCte
         SELECT doc_id, pos, fp FROM wsel""",
    "q_winnow_pairs" ->
      s"""WITH $winnowSelCte,
         wfps AS (SELECT DISTINCT doc_id, fp FROM wsel),
         wok AS (SELECT fp FROM wfps GROUP BY fp HAVING count(*) <= 64),
         wf2 AS (SELECT wfps.* FROM wfps JOIN wok USING (fp))
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                count(*) AS n_shared
         FROM wf2 a JOIN wf2 b
           ON a.fp = b.fp AND a.doc_id < b.doc_id
         GROUP BY 1, 2 HAVING count(*) >= 3""",
    "q_lsh_bands" ->
      s"""WITH $docSrcCte,
          ${minhashBandsCte(MinHashF.optimalBands(0.9))}
          SELECT d.doc_id, b.k AS ord, b.band, b.bhash
          FROM bands b JOIN docs d ON d.ord = b.k""",
    "q_lsh_pairs" ->
      s"""WITH $docSrcCte,
          ${minhashBandsCte(MinHashF.optimalBands(0.9))},
          $lshPairsCte
          SELECT a_ord, b_ord FROM pairs""",
    // components = transitive closure over the symmetric conflict graph
    // (UNION dedups each round -> terminates at the fixpoint); comp is
    // the min reachable ord. Same conf edges as the q_lsh_dedup replay.
    "q_lsh_components" ->
      s"""WITH RECURSIVE $docSrcCte,
          ${minhashBandsCte(MinHashF.optimalBands(0.9))},
          $lshPairsCte,
          conf AS MATERIALIZED (
            SELECT a_ord, b_ord FROM pairs
            UNION
            SELECT x.ord, y.ord FROM docs x JOIN docs y
            ON x.doc_id = y.doc_id AND x.ord < y.ord),
          sym AS MATERIALIZED (
            SELECT a_ord AS x, b_ord AS y FROM conf
            UNION SELECT b_ord, a_ord FROM conf),
          reach(a, b) AS (
            SELECT ord, ord FROM docs
            UNION
            SELECT r.a, s.y FROM reach r JOIN sym s ON s.x = r.b)
          SELECT a AS ord, min(b) AS comp FROM reach GROUP BY a""",

    "q_dedup_representatives" ->
      s"""WITH RECURSIVE $docSrcCte,
          ${minhashBandsCte(MinHashF.optimalBands(0.9))},
          $lshPairsCte,
          conf AS MATERIALIZED (
            SELECT a_ord, b_ord FROM pairs
            UNION
            SELECT x.ord, y.ord FROM docs x JOIN docs y
            ON x.doc_id = y.doc_id AND x.ord < y.ord),
          sym AS MATERIALIZED (
            SELECT a_ord AS x, b_ord AS y FROM conf
            UNION SELECT b_ord, a_ord FROM conf),
          reach(a, b) AS (
            SELECT ord, ord FROM docs
            UNION
            SELECT r.a, s.y FROM reach r JOIN sym s ON s.x = r.b),
          cc AS (SELECT a AS ord, min(b) AS comp FROM reach GROUP BY a)
          SELECT cc.ord, cc.comp, d.n_chars AS q,
                 row_number() OVER (PARTITION BY cc.comp
                   ORDER BY d.n_chars DESC, cc.ord) = 1 AS kept
          FROM cc JOIN documents d ON d.doc_id = cc.ord""",
    // First-wins replay as a sequential state machine: one recursion step
    // per doc in ord order, the kept set carried as a LIST; a doc is
    // dropped iff it conflicts (shared band bucket, or same doc_id) with
    // an already-kept doc — exactly LshDedup.selfDedup's insert/query
    // loop semantics.
    "q_lsh_dedup" ->
      s"""WITH RECURSIVE $docSrcCte,
          ${minhashBandsCte(MinHashF.optimalBands(0.9))},
          ${lshReplayCte("L", "docs", "bands")}
          SELECT doc_id, ord FROM Lkept""",
    "q_fingerprint_shingle" ->
      """SELECT doc_id,
           CASE WHEN length(text) >= 5 THEN
             list_aggregate(list_transform(range(1, length(text) - 3),
               i -> ((((CAST(unicode(text[i]) AS BIGINT) * 131 + unicode(text[i+1])) * 131
                       + unicode(text[i+2])) * 131
                      + unicode(text[i+3])) * 131
                     + unicode(text[i+4]))), 'min')
           ELSE -1 END AS fp
         FROM documents""",
    "q_ngram_jaccard" ->
      """WITH w AS (
           SELECT DISTINCT doc_id, source,
                  unnest(string_split_regex(trim(text), '\s+')) AS word
           FROM documents),
         n AS (SELECT doc_id, count(*) AS c FROM w GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
           FROM w a JOIN w b
             ON a.word = b.word AND a.source = b.source
            AND a.doc_id < b.doc_id
           GROUP BY 1, 2)
         SELECT a_id, b_id,
                round(i * 1.0 / (na.c + nb.c - i), 4) AS jac
         FROM inter
         JOIN n na ON na.doc_id = a_id
         JOIN n nb ON nb.doc_id = b_id
         WHERE round(i * 1.0 / (na.c + nb.c - i), 4) >= 0.95""",
    "q_ngram_containment" ->
      """WITH ex AS (
           SELECT documents.doc_id + 100000 AS doc_id, source,
                  array_to_string(
                    list_sort(list_distinct(
                      string_split_regex(trim(text), '\s+')))[1:CAST(
                        ceil(len(list_distinct(
                          string_split_regex(trim(text), '\s+'))) * 0.7)
                        AS INT)], ' ')
                  || ' zzza' || documents.doc_id
                  || ' zzzb' || documents.doc_id AS text
           FROM documents WHERE doc_id % 10 = 0),
         d AS (
           SELECT doc_id, source, text FROM documents
           UNION ALL SELECT doc_id, source, text FROM ex),
         w AS (
           SELECT DISTINCT doc_id, source,
                  unnest(string_split_regex(trim(text), '\s+')) AS word
           FROM d),
         n AS (SELECT doc_id, count(*) AS c FROM w GROUP BY doc_id),
         inter AS (
           SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS i
           FROM w a JOIN w b
             ON a.word = b.word AND a.source = b.source
            AND a.doc_id <> b.doc_id
           GROUP BY 1, 2)
         SELECT a_id, b_id, round(i * 1.0 / na.c, 4) AS containment
         FROM inter JOIN n na ON na.doc_id = a_id
         WHERE i * 1.0 / na.c >= 0.8""",
    "q_ann_buckets" ->
      s"""WITH ${bucketsCte(8, 64)}
          SELECT bucket, count(*) AS n FROM b GROUP BY 1""",
    "q_pca_top" -> {
      val iterCtes = (1 to 5).map { t =>
        val pv = if (t == 1) "v0" else s"v${t - 1}"
        s"""w$t AS (SELECT cov.i, round(sum(cov.c * $pv.vj), 8) AS w
              FROM cov JOIN $pv ON $pv.j = cov.j GROUP BY 1),
           n$t AS (SELECT round(sqrt(sum(w * w)), 8) AS n FROM w$t),
           v$t AS (SELECT i AS j, round(w / n, 8) AS vj FROM w$t, n$t)"""
      }.mkString(",\n")
      s"""WITH x AS (
           SELECT vec_id AS r, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         mu AS (SELECT i, round(avg(v), 6) AS mu FROM x GROUP BY 1),
         cx AS (SELECT x.r, x.i, x.v - mu.mu AS xv
                FROM x JOIN mu USING (i)),
         cov AS (SELECT a.i AS i, b.i AS j,
                        round(sum(a.xv * b.xv), 6) AS c
                 FROM cx a JOIN cx b ON a.r = b.r GROUP BY 1, 2),
         v0 AS (SELECT i AS j, 1.0e0 AS vj FROM mu),
         $iterCtes,
         eig AS (SELECT round(sum(cov.c * a.vj * b.vj), 6) AS e
                 FROM cov JOIN v5 a ON a.j = cov.i
                 JOIN v5 b ON b.j = cov.j),
         tr AS (SELECT round(sum(c), 6) AS t FROM cov WHERE i = j)
         SELECT v5.j::BIGINT AS idx, v5.vj AS loading,
                round(e, 6) AS eigenvalue, round(e / t, 6) AS var_frac
         FROM v5, eig, tr"""
    },
    "q_pca_project" -> {
      val iterCtes = (1 to 5).map { t =>
        val pv = if (t == 1) "v0" else s"v${t - 1}"
        s"""w$t AS (SELECT cov.i, round(sum(cov.c * $pv.vj), 8) AS w
              FROM cov JOIN $pv ON $pv.j = cov.j GROUP BY 1),
           n$t AS (SELECT round(sqrt(sum(w * w)), 8) AS n FROM w$t),
           v$t AS (SELECT i AS j, round(w / n, 8) AS vj FROM w$t, n$t)"""
      }.mkString(",\n")
      s"""WITH x AS (
           SELECT vec_id AS r, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         mu AS (SELECT i, round(avg(v), 6) AS mu FROM x GROUP BY 1),
         cx AS MATERIALIZED (SELECT x.r, x.i, x.v - mu.mu AS xv
                FROM x JOIN mu USING (i)),
         cov AS (SELECT a.i AS i, b.i AS j,
                        round(sum(a.xv * b.xv), 6) AS c
                 FROM cx a JOIN cx b ON a.r = b.r GROUP BY 1, 2),
         v0 AS (SELECT i AS j, 1.0e0 AS vj FROM mu),
         $iterCtes,
         sc AS (
           SELECT cx.r,
                  round(sum(cx.xv * v5.vj), 4) AS s4,
                  sum(cx.xv * cx.xv) AS ssq
           FROM cx JOIN v5 ON v5.j = cx.i GROUP BY 1)
         SELECT r AS vec_id, s4 + 0 AS score,
                round(ssq - s4 * s4, 4) + 0 AS resid
         FROM sc"""
    },
    "q_contrastive_pairs" ->
      s"""WITH ${bucketsCte(4, 64)},
          el AS (SELECT vec_id, label,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings),
          bb AS (SELECT el.vec_id, el.label, el.v, b.bucket,
                   sqrt(list_dot_product(el.v, el.v)) AS nrm
                 FROM el JOIN b USING (vec_id)),
          pr AS (SELECT a.vec_id AS anchor, c.vec_id AS cand,
                   a.label = c.label AS same,
                   round(list_dot_product(a.v, c.v) / (a.nrm * c.nrm)
                     * 1000000.0e0, 0)::BIGINT AS micro
                 FROM bb a JOIN bb c
                   ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
          rk AS (SELECT anchor, cand, micro, same,
                   row_number() OVER (PARTITION BY anchor, same
                     ORDER BY micro DESC, cand ASC) AS rn
                 FROM pr),
          pos AS (SELECT anchor, cand AS pos_id, micro AS pm
                  FROM rk WHERE same AND rn = 1),
          neg AS (SELECT anchor, cand AS neg_id, micro AS nm
                  FROM rk WHERE NOT same AND rn = 1)
          SELECT p.anchor, p.pos_id,
                 round(pm / 1000000.0e0, 6) AS pos_sim,
                 n.neg_id, round(nm / 1000000.0e0, 6) AS neg_sim,
                 round((pm - nm) / 1000000.0e0, 6) AS margin
          FROM pos p JOIN neg n USING (anchor)""",
    "q_ann_search" ->
      s"""WITH ${bucketsCte(8, 64)},
          qb AS (SELECT bucket FROM b WHERE vec_id = 0),
          cands AS (
            SELECT b.vec_id FROM b, qb
            WHERE b.vec_id <> 0
              AND bit_count(xor(b.bucket, qb.bucket)) <= 1),
          q AS (SELECT idx, v AS qv FROM e WHERE vec_id = 0),
          sims AS (
            SELECT e.vec_id,
                   round(sum(e.v * q.qv) /
                         (sqrt(sum(e.v * e.v)) * sqrt(sum(q.qv * q.qv))), 4)
                     AS sim
            FROM e JOIN q USING (idx)
            WHERE e.vec_id IN (SELECT vec_id FROM cands)
            GROUP BY 1)
          SELECT vec_id, sim FROM sims
          ORDER BY sim DESC, vec_id ASC LIMIT 10""",
    "q_ann_ivf" ->
      s"""WITH e AS MATERIALIZED (
            SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings),
          c0 AS MATERIALIZED (
            SELECT r.cid, e.idx, e.v AS w
            FROM (SELECT vec_id,
                         CAST(row_number() OVER (ORDER BY vec_id ASC) - 1
                              AS INT) AS cid
                  FROM embeddings ORDER BY vec_id ASC LIMIT 8) r
            JOIN e ON e.vec_id = r.vec_id),
          ${kmeansIterCte("c0", "c1")},
          ${kmeansIterCte("c1", "c2")},
          ${kmeansIterCte("c2", "c3")},
          dq AS (
            SELECT c.cid, round(sum((e.v - c.w) * (e.v - c.w)), 8) AS d
            FROM e JOIN c3 c ON c.idx = e.idx
            WHERE e.vec_id = 0 GROUP BY 1),
          probes AS (SELECT cid FROM dq ORDER BY d ASC, cid ASC LIMIT 2),
          d_f AS (
            SELECT e.vec_id, c.cid,
                   round(sum((e.v - c.w) * (e.v - c.w)), 8) AS d
            FROM e JOIN c3 c ON c.idx = e.idx
            GROUP BY 1, 2),
          a_f AS (
            SELECT vec_id, cid FROM (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d ASC, cid ASC) AS rw
              FROM d_f) WHERE rw = 1),
          cands AS (
            SELECT vec_id FROM a_f
            WHERE cid IN (SELECT cid FROM probes) AND vec_id <> 0),
          q AS (SELECT idx, v AS qv FROM e WHERE vec_id = 0),
          sims AS (
            SELECT e.vec_id,
                   round(sum(e.v * q.qv) /
                         (sqrt(sum(e.v * e.v)) * sqrt(sum(q.qv * q.qv))), 4)
                     AS sim
            FROM e JOIN q USING (idx)
            WHERE e.vec_id IN (SELECT vec_id FROM cands)
            GROUP BY 1)
          SELECT vec_id, sim FROM sims
          ORDER BY sim DESC, vec_id ASC LIMIT 10""",
    "q_lsh_scurve" ->
      """WITH g AS (SELECT unnest(range(1, 20)) AS k),
         a AS (SELECT k, CAST(k AS DOUBLE) / 20.0e0 AS s FROM g),
         p2 AS (SELECT k, s, s * s AS s2 FROM a),
         p4 AS (SELECT *, s2 * s2 AS s4 FROM p2),
         p8 AS (SELECT *, s4 * s4 AS s8 FROM p4),
         p16 AS (SELECT *, s8 * s8 AS s16 FROM p8),
         p32 AS (SELECT *, s16 * s16 AS s32 FROM p16),
         q0 AS (SELECT *, 1.0e0 - s32 AS q FROM p32),
         q2 AS (SELECT *, q * q AS qq2 FROM q0),
         q4 AS (SELECT *, qq2 * qq2 AS qq4 FROM q2),
         q8 AS (SELECT *, qq4 * qq4 AS qq8 FROM q4)
         SELECT k, round(s, 4) AS s,
                round(1.0e0 - qq8, 6) AS p_collide,
                CAST(8 AS BIGINT) AS b, CAST(32 AS BIGINT) AS r,
                round(sqrt(sqrt(sqrt(sqrt(sqrt(1.0e0 / 8.0e0))))), 6)
                  AS midpoint
         FROM q8""",
    "q_cluster_purity" ->
      s"""WITH e AS MATERIALIZED (
            SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings),
          c0 AS MATERIALIZED (
            SELECT r.cid, e.idx, e.v AS w
            FROM (SELECT vec_id,
                         CAST(row_number() OVER (ORDER BY vec_id ASC) - 1
                              AS INT) AS cid
                  FROM embeddings ORDER BY vec_id ASC LIMIT 8) r
            JOIN e ON e.vec_id = r.vec_id),
          ${kmeansIterCte("c0", "c1")},
          ${kmeansIterCte("c1", "c2")},
          ${kmeansIterCte("c2", "c3")},
          d_f AS (
            SELECT e.vec_id, c.cid,
                   round(sum((e.v - c.w) * (e.v - c.w)), 8) AS d
            FROM e JOIN c3 c ON c.idx = e.idx
            GROUP BY 1, 2),
          a_f AS (
            SELECT vec_id, cid FROM (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d ASC, cid ASC) AS rw
              FROM d_f) WHERE rw = 1),
          cl AS MATERIALIZED (
            SELECT a.cid, e2.label AS lab, count(*)::BIGINT AS ncl
            FROM a_f a JOIN embeddings e2 ON e2.vec_id = a.vec_id
            GROUP BY 1, 2),
          ct AS (SELECT cid, CAST(sum(ncl) AS BIGINT) AS nc
                 FROM cl GROUP BY 1),
          lt AS (SELECT lab, CAST(sum(ncl) AS BIGINT) AS nl
                 FROM cl GROUP BY 1),
          t AS (SELECT CAST(sum(ncl) AS BIGINT) AS n FROM cl),
          im AS (
            SELECT CAST(sum(CAST(round(ncl
                     * ln(CAST(n * ncl AS DOUBLE)
                          / CAST(nc * nl AS DOUBLE)) * 1e8, 0)
                     AS BIGINT)) AS BIGINT) AS i_micro
            FROM cl JOIN ct USING (cid) JOIN lt USING (lab), t),
          hc AS (
            SELECT CAST(sum(CAST(round(nc
                     * ln(CAST(n AS DOUBLE) / CAST(nc AS DOUBLE))
                     * 1e8, 0) AS BIGINT)) AS BIGINT) AS hc_micro
            FROM ct, t),
          hl AS (
            SELECT CAST(sum(CAST(round(nl
                     * ln(CAST(n AS DOUBLE) / CAST(nl AS DOUBLE))
                     * 1e8, 0) AS BIGINT)) AS BIGINT) AS hl_micro
            FROM lt, t),
          pu AS (
            SELECT CAST(sum(mx) AS BIGINT) AS purity_num
            FROM (SELECT cid, max(ncl) AS mx FROM cl GROUP BY 1))
          SELECT t.n, pu.purity_num,
                 round(CAST(pu.purity_num AS DOUBLE)
                       / CAST(t.n AS DOUBLE), 6) AS purity,
                 im.i_micro, hc.hc_micro, hl.hl_micro,
                 CASE WHEN hc_micro > 0 AND hl_micro > 0
                      THEN round(CAST(i_micro AS DOUBLE)
                                 / sqrt(CAST(hc_micro AS DOUBLE)
                                        * CAST(hl_micro AS DOUBLE)), 6)
                      ELSE 0.0e0 END AS nmi
          FROM t, im, hc, hl, pu""",
    "q_silhouette" ->
      s"""WITH e AS MATERIALIZED (
            SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings),
          c0 AS MATERIALIZED (
            SELECT r.cid, e.idx, e.v AS w
            FROM (SELECT vec_id,
                         CAST(row_number() OVER (ORDER BY vec_id ASC) - 1
                              AS INT) AS cid
                  FROM embeddings ORDER BY vec_id ASC LIMIT 8) r
            JOIN e ON e.vec_id = r.vec_id),
          ${kmeansIterCte("c0", "c1")},
          ${kmeansIterCte("c1", "c2")},
          ${kmeansIterCte("c2", "c3")},
          d_f AS (
            SELECT e.vec_id, c.cid,
                   round(sum((e.v - c.w) * (e.v - c.w)), 8) AS d
            FROM e JOIN c3 c ON c.idx = e.idx
            GROUP BY 1, 2),
          r2 AS (
            SELECT vec_id, cid, d,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY d ASC, cid ASC) AS rw
            FROM d_f),
          pair AS (
            SELECT a.vec_id, a.cid, a.d AS d1, b.d AS d2
            FROM r2 a JOIN r2 b
              ON b.vec_id = a.vec_id AND a.rw = 1 AND b.rw = 2),
          sm AS (
            SELECT cid,
                   CAST(round(
                     (CASE WHEN d2 > 0
                           THEN (sqrt(d2) - sqrt(d1))
                                / greatest(sqrt(d1), sqrt(d2))
                           ELSE 0.0e0 END) * 1e8, 0) AS BIGINT) AS s
            FROM pair)
          SELECT cid, count(*)::BIGINT AS n,
                 CAST(sum(s) AS BIGINT) AS sil_micro
          FROM sm GROUP BY 1""",
    "q_sq8_quantize" ->
      s"""WITH e AS (
            SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings),
          mm AS (
            SELECT i, round(min(x), 6) AS mn, round(max(x), 6) AS mx
            FROM e GROUP BY 1),
          c AS (
            SELECT e.vec_id, e.i, e.x, mm.mn, mm.mx - mm.mn AS sc
            FROM e JOIN mm USING (i)),
          q AS (
            SELECT vec_id, i, x, mn, sc,
                   CASE WHEN sc > 0
                        THEN CAST(floor(round((x - mn) * 255.0 / sc, 6)
                                        + 0.5) AS INT)
                        ELSE 0 END AS code
            FROM c),
          r AS (
            SELECT vec_id, i, code,
                   CAST(round((x - (CASE WHEN sc > 0
                                         THEN round(mn + CAST(code AS DOUBLE)
                                                         * sc / 255.0, 6)
                                         ELSE mn END))
                              * (x - (CASE WHEN sc > 0
                                           THEN round(mn + CAST(code AS DOUBLE)
                                                           * sc / 255.0, 6)
                                           ELSE mn END))
                              * 1e8, 0) AS BIGINT) AS e8
            FROM q)
          SELECT vec_id, list(code ORDER BY i) AS codes,
                 CAST(sum(e8) AS BIGINT) AS err_micro
          FROM r GROUP BY 1""",
    "q_ann_recall" ->
      s"""WITH e AS MATERIALIZED (
            SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings),
          c0 AS MATERIALIZED (
            SELECT r.cid, e.idx, e.v AS w
            FROM (SELECT vec_id,
                         CAST(row_number() OVER (ORDER BY vec_id ASC) - 1
                              AS INT) AS cid
                  FROM embeddings ORDER BY vec_id ASC LIMIT 8) r
            JOIN e ON e.vec_id = r.vec_id),
          ${kmeansIterCte("c0", "c1")},
          ${kmeansIterCte("c1", "c2")},
          ${kmeansIterCte("c2", "c3")},
          qs AS (SELECT vec_id AS qid FROM embeddings
                 ORDER BY vec_id ASC LIMIT 20),
          qe AS MATERIALIZED (
            SELECT q.qid, e.idx, e.v AS qv
            FROM qs q JOIN e ON e.vec_id = q.qid),
          sims AS MATERIALIZED (
            SELECT qe.qid, e.vec_id,
                   round(sum(e.v * qe.qv) /
                         (sqrt(sum(e.v * e.v)) * sqrt(sum(qe.qv * qe.qv))), 4)
                     AS sim
            FROM e JOIN qe USING (idx)
            WHERE e.vec_id <> qe.qid
            GROUP BY 1, 2),
          ex AS (
            SELECT qid, vec_id FROM (
              SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY sim DESC, vec_id ASC) AS rw
              FROM sims) WHERE rw <= 10),
          dq AS (
            SELECT qe.qid, c.cid,
                   round(sum((qe.qv - c.w) * (qe.qv - c.w)), 8) AS d
            FROM qe JOIN c3 c USING (idx) GROUP BY 1, 2),
          probes AS (
            SELECT qid, cid FROM (
              SELECT qid, cid,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY d ASC, cid ASC) AS rw
              FROM dq) WHERE rw <= 2),
          d_f AS (
            SELECT e.vec_id, c.cid,
                   round(sum((e.v - c.w) * (e.v - c.w)), 8) AS d
            FROM e JOIN c3 c ON c.idx = e.idx
            GROUP BY 1, 2),
          a_f AS (
            SELECT vec_id, cid FROM (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d ASC, cid ASC) AS rw
              FROM d_f) WHERE rw = 1),
          ivc AS (
            SELECT s.qid, s.vec_id, s.sim
            FROM sims s
            JOIN a_f a ON a.vec_id = s.vec_id
            JOIN probes p ON p.qid = s.qid AND p.cid = a.cid),
          iv AS (
            SELECT qid, vec_id FROM (
              SELECT qid, vec_id,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY sim DESC, vec_id ASC) AS rw
              FROM ivc) WHERE rw <= 10),
          h AS (SELECT x.qid, count(*) AS hits
                FROM ex x JOIN iv USING (qid, vec_id) GROUP BY 1)
          SELECT q.qid, CAST(coalesce(h.hits, 0) AS BIGINT) AS hits,
                 round(coalesce(h.hits, 0) / CAST(10 AS DOUBLE), 4) AS recall
          FROM qs q LEFT JOIN h ON h.qid = q.qid""",
    // NFC replay: identical decomposed suffixes built from codepoints,
    // DuckDB's nfc_normalize against the native expression.
    "q_random_projection" ->
      """WITH e AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS i,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings),
         s AS (
           SELECT j, i,
                  CASE WHEN CAST('0x' || substr(md5(j || ':' || i), 1, 1)
                            AS BIGINT) >= 8
                       THEN 1 ELSE -1 END AS sgn
           FROM (SELECT unnest(range(8)) AS j),
                (SELECT unnest(range(1, 65)) AS i))
         SELECT e.vec_id, CAST(s.j AS BIGINT) AS j,
                round(sum(s.sgn * CAST(round(e.v * 1000000.0, 0)
                                       AS BIGINT)) / 1000000.0, 6) AS proj
         FROM e JOIN s USING (i)
         GROUP BY 1, 2""",

    "q_dehyphenate" ->
      """WITH w AS (
           SELECT doc_id,
                  CASE doc_id % 3
                    WHEN 0 THEN text
                    WHEN 1 THEN 'exam-' || chr(10) || 'ple broken li-'
                                || chr(10) || '  ne ' || text
                    ELSE 'well-known multi-' || chr(10) || 'word '
                         || text
                  END AS raw
           FROM documents)
         SELECT doc_id,
                regexp_replace(raw, '(\p{L})-\n\s*(\p{L})', '\1\2', 'g')
                  AS fixed,
                regexp_replace(raw, '(\p{L})-\n\s*(\p{L})', '\1\2', 'g')
                  <> raw AS changed
         FROM w""",

    "q_title_meta" ->
      """WITH h AS (
           SELECT doc_id,
             CASE doc_id % 4
               WHEN 0 THEN '<html><title>Doc &amp; co ' || doc_id ||
                           '</title><meta name="description" content="sum '
                           || doc_id || '">' || text
               WHEN 1 THEN '<html><meta content="rev ' || doc_id ||
                           '" name="description"><title> padded ' ||
                           doc_id || ' </title>' || text
               WHEN 2 THEN '<html><title>only title ' || doc_id ||
                           '</title>' || text
               ELSE '<html>' || text
             END AS html
           FROM documents),
         x AS (
           SELECT doc_id,
             regexp_extract(html, '(?i)<title>([^<]*)</title>', 1) AS t,
             regexp_extract(html,
               '(?i)<meta\s[^>]*name\s*=\s*["'']description["''][^>]*content\s*=\s*["'']([^"'']*)["'']',
               1) AS nf,
             regexp_extract(html,
               '(?i)<meta\s[^>]*content\s*=\s*["'']([^"'']*)["''][^>]*name\s*=\s*["'']description["'']',
               1) AS cf
           FROM h)
         SELECT doc_id,
                trim(replace(replace(replace(replace(replace(t,
                  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                  '&apos;', ''''), '&amp;', '&')) AS title,
                CASE WHEN nf <> '' THEN nf ELSE cf END AS descr
         FROM x""",

    "q_mojibake_fix" ->
      """SELECT doc_id,
                text || CASE doc_id % 4
                  WHEN 0 THEN ''
                  WHEN 1 THEN ' café zür'
                  WHEN 2 THEN ' don’t – co…'
                  ELSE ' søster ña'
                END AS fixed,
                (doc_id % 4) IN (1, 2) AS changed
         FROM documents""",

    "q_strip_accents" ->
      """WITH w AS (
           SELECT doc_id,
                  text || CASE doc_id % 4
                    WHEN 0 THEN ''
                    WHEN 1 THEN ' café zéta'
                    WHEN 2 THEN ' öko åño ṓm'
                    ELSE ' søster ßeta đen ёж йод'
                  END AS raw
           FROM documents)
         SELECT doc_id, strip_accents(raw) AS stripped,
                strip_accents(raw) <> raw AS changed
         FROM w""",

    "q_normalize_text" ->
      """WITH w AS (
           SELECT doc_id,
                  text || CASE doc_id % 4
                    WHEN 0 THEN ''
                    WHEN 1 THEN ' ze' || chr(769) || 'ta'
                    WHEN 2 THEN ' o' || chr(776) || 'ko'
                    ELSE ' a' || chr(778) || 'n' || chr(771) || 'o'
                  END AS raw
           FROM documents)
         SELECT doc_id, nfc_normalize(raw) AS norm_text,
                CAST(length(raw) AS BIGINT) AS n_chars_raw,
                CAST(length(nfc_normalize(raw)) AS BIGINT) AS n_chars_norm,
                length(nfc_normalize(raw)) <> length(raw) AS changed
         FROM w""",

    // SemDeDup replay: identical k-means prefix to q_ann_ivf, then
    // centroid cosine (6dp) per doc and the dominator EXISTS (pair
    // cosine 4dp vs threshold; more-central wins, id tie-break).
    "q_semdedup" ->
      s"""WITH e AS MATERIALIZED (
            SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
                   CAST(unnest(embedding) AS DOUBLE) AS v
            FROM embeddings),
          c0 AS MATERIALIZED (
            SELECT r.cid, e.idx, e.v AS w
            FROM (SELECT vec_id,
                         CAST(row_number() OVER (ORDER BY vec_id ASC) - 1
                              AS INT) AS cid
                  FROM embeddings ORDER BY vec_id ASC LIMIT 8) r
            JOIN e ON e.vec_id = r.vec_id),
          ${kmeansIterCte("c0", "c1")},
          ${kmeansIterCte("c1", "c2")},
          ${kmeansIterCte("c2", "c3")},
          d_f AS (
            SELECT e.vec_id, c.cid,
                   round(sum((e.v - c.w) * (e.v - c.w)), 8) AS d
            FROM e JOIN c3 c ON c.idx = e.idx
            GROUP BY 1, 2),
          a_f AS (
            SELECT vec_id, cid FROM (
              SELECT vec_id, cid,
                     row_number() OVER (PARTITION BY vec_id
                                        ORDER BY d ASC, cid ASC) AS rw
              FROM d_f) WHERE rw = 1),
          cs AS MATERIALIZED (
            SELECT e.vec_id, a.cid,
                   round(sum(e.v * c.w) /
                         (sqrt(sum(e.v * e.v)) * sqrt(sum(c.w * c.w))), 6)
                     AS cent_sim
            FROM e JOIN a_f a ON a.vec_id = e.vec_id
            JOIN c3 c ON c.cid = a.cid AND c.idx = e.idx
            GROUP BY 1, 2),
          pr AS MATERIALIZED (
            SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                   round(sum(ea.v * eb.v) /
                         (sqrt(sum(ea.v * ea.v)) * sqrt(sum(eb.v * eb.v))),
                         4) AS sim
            FROM a_f a JOIN a_f b
              ON a.cid = b.cid AND a.vec_id <> b.vec_id
            JOIN e ea ON ea.vec_id = a.vec_id
            JOIN e eb ON eb.vec_id = b.vec_id AND eb.idx = ea.idx
            GROUP BY 1, 2)
          SELECT cs.vec_id, cs.cid, cs.cent_sim,
                 NOT EXISTS (
                   SELECT 1 FROM pr JOIN cs p ON p.vec_id = pr.b_id
                   WHERE pr.a_id = cs.vec_id AND pr.sim >= 0.35
                     AND (p.cent_sim > cs.cent_sim
                          OR (p.cent_sim = cs.cent_sim
                              AND p.vec_id < cs.vec_id))) AS kept
          FROM cs""",

    "q_ann_pq" ->
      (pqOracleWith + """
          SELECT c0.vec_id,
                 round(l0.d + l1.d + l2.d + l3.d, 4) AS adc
          FROM code0 c0
          JOIN code1 c1 USING (vec_id)
          JOIN code2 c2 USING (vec_id)
          JOIN code3 c3 USING (vec_id)
          JOIN lut0 l0 ON l0.cid = c0.cid
          JOIN lut1 l1 ON l1.cid = c1.cid
          JOIN lut2 l2 ON l2.cid = c2.cid
          JOIN lut3 l3 ON l3.cid = c3.cid
          WHERE c0.vec_id <> 0
          ORDER BY adc ASC, c0.vec_id ASC LIMIT 10"""),
    "q_ann_pq_codes" ->
      (pqOracleWith + """
          SELECT c0.vec_id,
                 CAST(c0.cid AS BIGINT) AS code0,
                 CAST(c1.cid AS BIGINT) AS code1,
                 CAST(c2.cid AS BIGINT) AS code2,
                 CAST(c3.cid AS BIGINT) AS code3
          FROM code0 c0
          JOIN code1 c1 USING (vec_id)
          JOIN code2 c2 USING (vec_id)
          JOIN code3 c3 USING (vec_id)"""),
    "q_simhash_neardup" ->
      """WITH toks AS (
           SELECT doc_id,
                  unnest(string_split_regex(trim(text), '\s+')) AS tok
           FROM documents),
         th AS (
           SELECT doc_id,
                  list_reduce(
                    list_prepend(CAST(14695981039346656037 AS HUGEINT),
                      list_transform(string_split(tok, ''),
                                     c -> CAST(unicode(c) AS HUGEINT))),
                    (h, b) -> (xor(h, b) * 1099511628211)
                              % 18446744073709551616) AS h
           FROM toks),
         bits AS (
           SELECT doc_id, j,
                  sum(CASE WHEN (h // power(2::HUGEINT, j)::HUGEINT) % 2 = 1
                           THEN 1 ELSE -1 END) AS acc
           FROM th, range(64) t(j)
           GROUP BY 1, 2),
         sh AS (
           SELECT doc_id,
                  CAST(sum(CASE WHEN acc > 0 AND j < 32
                                THEN (1::BIGINT << CAST(j AS INT))
                                ELSE 0 END) AS BIGINT) AS lo,
                  CAST(sum(CASE WHEN acc > 0 AND j >= 32
                                THEN (1::BIGINT << CAST(j - 32 AS INT))
                                ELSE 0 END) AS BIGINT) AS hi
           FROM bits GROUP BY 1),
         banded AS (
           SELECT doc_id, lo, hi, b.band,
                  CASE b.band WHEN 0 THEN lo & 65535
                              WHEN 1 THEN (lo >> 16) & 65535
                              WHEN 2 THEN hi & 65535
                              ELSE (hi >> 16) & 65535 END AS bh
           FROM sh, (SELECT unnest([0,1,2,3]) AS band) b),
         pairs AS (
           SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
                  CAST(bit_count(xor(a.lo, b.lo))
                       + bit_count(xor(a.hi, b.hi)) AS INT) AS dist
           FROM banded a JOIN banded b
             ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)
         SELECT a_id, b_id, dist FROM pairs WHERE dist <= 3""",
    "q_cosine_neardup" ->
      """WITH e0 AS (
           SELECT vec_id,
                  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         e AS (
           SELECT vec_id, vec_id % 25 AS blk, v FROM e0
           UNION ALL
           SELECT vec_id + 10000, (vec_id + 10000) % 25, v
           FROM e0 WHERE vec_id < 50),
         p AS (
           SELECT a.vec_id AS a_id, b.vec_id AS b_id,
                  round(list_dot_product(a.v, b.v) /
                        (sqrt(list_dot_product(a.v, a.v)) *
                         sqrt(list_dot_product(b.v, b.v))), 4) AS sim
           FROM e a JOIN e b ON a.blk = b.blk AND a.vec_id < b.vec_id)
         SELECT a_id, b_id, sim FROM p WHERE sim >= 0.99""",
    "q_script_mix" ->
      """WITH d AS (
           SELECT doc_id,
                  text || CASE CAST(doc_id AS BIGINT) % 5
                    WHEN 1 THEN ' привет мир как дела'
                    WHEN 2 THEN ' γεια σου κόσμε'
                    WHEN 3 THEN ' 你好 世界 测试'
                    WHEN 4 THEN ' مرحبا بالعالم'
                    ELSE '' END || ' ' || CAST(doc_id AS VARCHAR)
                    AS text
           FROM documents),
         c AS (
           SELECT doc_id,
                  len(regexp_extract_all(text, '\p{Latin}'))::BIGINT
                    AS n_latin,
                  len(regexp_extract_all(text, '\p{Cyrillic}'))::BIGINT
                    AS n_cyrillic,
                  len(regexp_extract_all(text, '\p{Greek}'))::BIGINT
                    AS n_greek,
                  len(regexp_extract_all(text, '\p{Han}'))::BIGINT
                    AS n_han,
                  len(regexp_extract_all(text, '\p{Arabic}'))::BIGINT
                    AS n_arabic,
                  len(regexp_extract_all(text, '[0-9]'))::BIGINT
                    AS n_digit
           FROM d),
         g AS (
           SELECT *,
                  greatest(n_latin, n_cyrillic, n_greek, n_han,
                           n_arabic) AS top
           FROM c)
         SELECT doc_id, n_latin, n_cyrillic, n_greek, n_han, n_arabic,
                n_digit,
                CASE WHEN top = 0 THEN 'none'
                     WHEN n_latin = top THEN 'latin'
                     WHEN n_cyrillic = top THEN 'cyrillic'
                     WHEN n_greek = top THEN 'greek'
                     WHEN n_han = top THEN 'han'
                     ELSE 'arabic' END AS dominant,
                ((CASE WHEN n_latin > 0 THEN 1 ELSE 0 END) +
                 (CASE WHEN n_cyrillic > 0 THEN 1 ELSE 0 END) +
                 (CASE WHEN n_greek > 0 THEN 1 ELSE 0 END) +
                 (CASE WHEN n_han > 0 THEN 1 ELSE 0 END) +
                 (CASE WHEN n_arabic > 0 THEN 1 ELSE 0 END)) >= 2
                  AS mixed
         FROM g""",

    "q_vocab_coverage" ->
      """WITH t AS (
           SELECT doc_id,
                  unnest(string_split_regex(trim(lower(text)), '\s+'))
                    AS term
           FROM documents),
         f AS (SELECT term, count(*) AS f FROM t GROUP BY 1),
         v AS (
           SELECT term FROM (
             SELECT term,
                    row_number() OVER (ORDER BY f DESC, term) AS r
             FROM f) WHERE r <= 64)
         SELECT t.doc_id,
                count(*)::BIGINT AS n_tokens,
                sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)::BIGINT
                  AS n_oov,
                round(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END)
                      * 1.0 / count(*), 4) AS oov_frac
         FROM t LEFT JOIN v ON t.term = v.term
         GROUP BY 1""",

    "q_bigram_entropy" ->
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN CAST(doc_id AS BIGINT) % 13 = 0
                         THEN repeat('a', 160)
                       WHEN CAST(doc_id AS BIGINT) % 13 = 1
                         THEN repeat('ab', 80)
                       ELSE text END AS text
           FROM documents),
         c AS (
           SELECT doc_id,
                  unnest(string_split(text, '')) AS ch,
                  generate_subscripts(string_split(text, ''), 1) AS i
           FROM d),
         b AS (
           SELECT doc_id, ch AS x,
                  lead(ch) OVER (PARTITION BY doc_id ORDER BY i) AS y
           FROM c),
         cxy AS (
           SELECT doc_id, x, y, count(*)::BIGINT AS cxy
           FROM b WHERE y IS NOT NULL GROUP BY 1, 2, 3),
         cx AS (
           SELECT doc_id, x, CAST(sum(cxy) AS BIGINT) AS cx
           FROM cxy GROUP BY 1, 2),
         t AS (
           SELECT cxy.doc_id, cxy.cxy,
                  CAST(round((ln(CAST(cx.cx AS DOUBLE))
                              - ln(CAST(cxy.cxy AS DOUBLE)))
                             * cxy.cxy * 1e8, 0) AS BIGINT) AS tm
           FROM cxy JOIN cx ON cx.doc_id = cxy.doc_id AND cx.x = cxy.x)
         SELECT doc_id, CAST(sum(cxy) AS BIGINT) AS n_bigrams,
                CAST(sum(tm) AS BIGINT) AS h_num_micro
         FROM t GROUP BY 1""",
    "q_char_entropy" ->
      """WITH d AS (
           SELECT doc_id,
                  CASE WHEN CAST(doc_id AS BIGINT) % 13 = 0
                       THEN repeat('a', 160) ELSE text END AS text
           FROM documents),
         c AS (
           SELECT doc_id, ch, count(*)::BIGINT AS c
           FROM (SELECT doc_id, unnest(string_split(text, '')) AS ch
                 FROM d)
           WHERE ch <> ''
           GROUP BY 1, 2),
         a AS (
           SELECT doc_id, sum(c)::BIGINT AS n_chars,
                  count(*)::BIGINT AS n_distinct,
                  sum(c * ln(c)) AS clnc
           FROM c GROUP BY 1)
         SELECT doc_id, n_chars, n_distinct,
                round((ln(n_chars) - clnc / n_chars) / ln(2), 4)
                  AS entropy_bits
         FROM a""",

    "q_dedup_cluster_sizes" ->
      s"""WITH RECURSIVE $docSrcCte,
          ${minhashBandsCte(MinHashF.optimalBands(0.9))},
          $lshPairsCte,
          conf AS MATERIALIZED (
            SELECT a_ord, b_ord FROM pairs
            UNION
            SELECT x.ord, y.ord FROM docs x JOIN docs y
            ON x.doc_id = y.doc_id AND x.ord < y.ord),
          sym AS MATERIALIZED (
            SELECT a_ord AS x, b_ord AS y FROM conf
            UNION SELECT b_ord, a_ord FROM conf),
          reach(a, b) AS (
            SELECT ord, ord FROM docs
            UNION
            SELECT r.a, s.y FROM reach r JOIN sym s ON s.x = r.b),
          cc AS (SELECT a AS ord, min(b) AS comp FROM reach GROUP BY a)
          SELECT sz::BIGINT AS cluster_size,
                 count(*)::BIGINT AS n_components
          FROM (SELECT comp, count(*) AS sz FROM cc GROUP BY comp)
          GROUP BY 1""",

    "q_mad_outliers" ->
      """WITH d AS (
           SELECT source, doc_id,
                  n_chars + CASE WHEN CAST(doc_id AS BIGINT) % 97 = 0
                                 THEN 500 ELSE 0 END AS x
           FROM documents),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY source
                       ORDER BY x) AS rn,
                  count(*) OVER (PARTITION BY source) AS n
           FROM d),
         med AS (
           SELECT source, x AS med FROM r
           WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)),
         dev AS (
           SELECT d.source, d.doc_id, d.x, m.med,
                  abs(d.x - m.med) AS ad
           FROM d JOIN med m USING (source)),
         r2 AS (
           SELECT source, ad,
                  row_number() OVER (PARTITION BY source
                    ORDER BY ad) AS rn,
                  count(*) OVER (PARTITION BY source) AS n
           FROM dev),
         mad AS (
           SELECT source, ad AS mad FROM r2
           WHERE rn = CAST(ceil(n / 2.0) AS BIGINT))
         SELECT dev.source, dev.doc_id, dev.x::BIGINT AS x,
                dev.med::BIGINT AS med, mad.mad::BIGINT AS mad,
                abs(dev.x - dev.med) > mad.mad * 3 AS outlier
         FROM dev JOIN mad USING (source)""",

    "q_jw_linkage" ->
      """WITH t AS (
           SELECT doc_id,
                  'rec ' || (doc_id % 40) || ' ' ||
                  CASE CAST(doc_id AS BIGINT) % 3
                    WHEN 0 THEN 'smith john'
                    WHEN 1 THEN 'smith jhon'
                    ELSE 'smyth john' END AS name,
                  'b' || (doc_id % 40) AS blk
           FROM documents)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                round(jaro_winkler_similarity(a.name, b.name), 6) AS jw
         FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
         WHERE round(jaro_winkler_similarity(a.name, b.name), 6) >= 0.9""",

    "q_edit_dedup" ->
      """WITH t AS (
           SELECT doc_id,
                  'page ' || (doc_id % 40) || ' rev ' || (doc_id % 3)
                    || ' ' || substr(source, 1, 4) AS title,
                  'b' || (doc_id % 40) AS blk
           FROM documents)
         SELECT a.doc_id AS a_id, b.doc_id AS b_id,
                levenshtein(a.title, b.title)::BIGINT AS dist
         FROM t a JOIN t b ON a.blk = b.blk AND a.doc_id < b.doc_id
         WHERE levenshtein(a.title, b.title) <= 3""",

    "q_bitext_mine" ->
      """WITH av AS (
           SELECT vec_id AS a_id, generate_subscripts(embedding, 1) AS idx,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings WHERE vec_id % 2 = 0),
         bv AS (
           SELECT vec_id AS b_id, generate_subscripts(embedding, 1) AS idx,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings WHERE vec_id % 2 = 1),
         an AS (SELECT a_id, sqrt(sum(v*v)) AS nrm FROM av GROUP BY 1),
         bn AS (SELECT b_id, sqrt(sum(v*v)) AS nrm FROM bv GROUP BY 1),
         dots AS (
           SELECT av.a_id, bv.b_id, sum(av.v * bv.v) AS dp
           FROM av JOIN bv ON av.idx = bv.idx
           GROUP BY 1, 2),
         p AS (
           SELECT d.a_id, d.b_id,
                  CAST(round(d.dp / (an.nrm * bn.nrm) * 1000000, 0)
                       AS BIGINT) AS micro
           FROM dots d
           JOIN an ON d.a_id = an.a_id
           JOIN bn ON d.b_id = bn.b_id),
         ra AS (
           SELECT *, row_number() OVER (PARTITION BY a_id
                       ORDER BY micro DESC, b_id) AS rn
           FROM p),
         ma AS (SELECT a_id, sum(micro)::BIGINT AS mka
                FROM ra WHERE rn <= 4 GROUP BY 1),
         rb AS (
           SELECT *, row_number() OVER (PARTITION BY b_id
                       ORDER BY micro DESC, a_id) AS rn
           FROM p),
         mb AS (SELECT b_id, sum(micro)::BIGINT AS mkb
                FROM rb WHERE rn <= 4 GROUP BY 1),
         sc AS (
           SELECT p.a_id, p.b_id, p.micro,
                  round(p.micro * 8 / (ma.mka + mb.mkb), 6) AS margin
           FROM p JOIN ma USING (a_id) JOIN mb USING (b_id)),
         mm AS (
           SELECT *,
                  row_number() OVER (PARTITION BY a_id
                    ORDER BY margin DESC, b_id) AS ka,
                  row_number() OVER (PARTITION BY b_id
                    ORDER BY margin DESC, a_id) AS kb
           FROM sc)
         SELECT a_id, b_id, micro / 1000000.0 AS sim, margin FROM mm
         WHERE ka = 1 AND kb = 1 AND margin >= 1.02""",

    "q_ann_cosine" ->
      """WITH q AS (
           SELECT generate_subscripts(embedding, 1) AS idx,
                  CAST(unnest(embedding) AS DOUBLE) AS qv
           FROM embeddings WHERE vec_id = 0),
         e AS (
           SELECT vec_id, generate_subscripts(embedding, 1) AS idx,
                  CAST(unnest(embedding) AS DOUBLE) AS v
           FROM embeddings WHERE vec_id <> 0),
         sims AS (
           SELECT e.vec_id,
                  round(sum(e.v * q.qv) /
                        (sqrt(sum(e.v * e.v)) * sqrt(sum(q.qv * q.qv))), 4)
                    AS sim
           FROM e JOIN q ON e.idx = q.idx
           GROUP BY e.vec_id)
         SELECT vec_id, sim FROM sims
         ORDER BY sim DESC, vec_id ASC LIMIT 20"""
  )

  // the materialized-index search returns exactly what the in-place IVF
  // search returns -> same oracle replay
  val oracles: Map[String, String] =
    oraclesBase + ("q_ann_ivf_indexed" -> oraclesBase("q_ann_ivf"))
}
