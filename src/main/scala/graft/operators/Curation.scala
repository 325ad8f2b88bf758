package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Training-data curation operators a 100 TB pipeline needs beyond the
  * reference's surface: PII scrubbing, benchmark decontamination
  * (n-gram overlap against an eval suite) and greedy sequence packing
  * into fixed token budgets. All three are pure DataFrame plans —
  * scrubbing is codegen'd regex columns, decontamination broadcasts the
  * (small, fixed) benchmark n-gram set so the corpus never shuffles,
  * and packing decomposes per shard so each task streams one bounded
  * slice in order (no global sequential state).
  */
object Curation {

  /** One redaction rule: Java-regex pattern (kept inside the RE2-safe
    * subset — no backrefs/lookaround — so DuckDB oracles can run the
    * SAME pattern) and its replacement tag.
    */
  final case class PiiRule(name: String, pattern: String, tag: String)

  /** Default rules, applied in order. Order matters and is part of the
    * contract: emails go first so their digit runs can never be
    * re-matched as IPs/phones by later rules.
    */
  val DefaultPiiRules: Seq[PiiRule] = Seq(
    PiiRule("email", "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}",
            "<EMAIL>"),
    PiiRule("ip", "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b", "<IP>"),
    PiiRule("phone", "\\+\\d{1,2}-\\d{3}-\\d{3}-\\d{4}", "<PHONE>")
  )

  /** Scrub PII from `textCol`: appends one `n_<rule>` match-count column
    * per rule (counted on the ORIGINAL text) and a `clean_text` column
    * with all rules applied in order. Pure regexp columns — stays inside
    * whole-stage codegen, no UDF, embarrassingly parallel at any scale.
    */
  def scrubPii(df: DataFrame, textCol: String,
               rules: Seq[PiiRule] = DefaultPiiRules): DataFrame = {
    val withCounts = rules.foldLeft(df) { (d, r) =>
      d.withColumn(s"n_${r.name}",
        size(regexp_extract_all(col(textCol), lit(r.pattern), lit(0)))
          .cast(LongType))
    }
    val cleaned = rules.foldLeft(col(textCol)) { (c, r) =>
      regexp_replace(c, r.pattern, r.tag)
    }
    withCounts.withColumn("clean_text", cleaned)
  }

  /** Token array for the shared whitespace tokenization (same semantics
    * as TextAnalysis.tokenCountCol and every oracle: split on runs of
    * whitespace after trim).
    */
  private def toksCol(text: Column): Column = split(trim(text), "\\s+")

  /** Distinct word n-grams of `textCol` per id row: (idCol, gram).
    * Strings are built INSIDE the array lambda and only the exploded
    * gram string leaves the row — carrying the token array through an
    * explode is O(n^2) bytes (r5 lesson). Docs shorter than n emit
    * nothing.
    */
  def ngrams(df: DataFrame, idCol: String, textCol: String,
             n: Int): DataFrame = {
    val toks = toksCol(col(textCol))
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol), explode(grams).as("gram"))
      .dropDuplicates(idCol, "gram")
  }

  /** Benchmark decontamination: for each corpus doc, how many of its
    * distinct word `n`-grams appear anywhere in `benchmark`'s text —
    * the standard train/eval overlap check (e.g. GPT-3 appendix C /
    * Gopher §A.3 shape; exact-match variant). Returns the full corpus
    * with (is_benchmark-agnostic) `n_shared` and `contaminated`.
    *
    * Scale design: the benchmark side is a FIXED eval suite — thousands
    * of docs, not corpus-scale — so its distinct gram set is broadcast
    * and the 100 TB side is a map-only scan + explode + broadcast semi
    * count; the corpus never shuffles by gram. The per-doc count rides
    * a partial agg keyed by the corpus doc id (skew-free: one doc's
    * grams land in one group).
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
                    benchmark: DataFrame, benchTextCol: String,
                    n: Int = 8): DataFrame = {
    val benchGrams = ngrams(
      benchmark.select(lit(0L).as("__b"), col(benchTextCol)),
      "__b", benchTextCol, n).select("gram").distinct()
    val shared = ngrams(corpus, idCol, textCol, n)
      .join(broadcast(benchGrams), Seq("gram"))
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
    corpus.select(col(idCol))
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
  }

  /** Deterministic source mixing: downsample each source to a target
    * corpus mix. Given per-source weights (numerators over `weightDen`)
    * and a target total of `targetTotal` docs, a source-s doc is kept
    * when its deterministic uniform draw u(id) falls under s's keep
    * rate `weight_s/weightDen * targetTotal / n_s` — i.e. expected kept
    * ≈ the target mix, exact-replayable anywhere. The comparison is
    * pure int64 arithmetic (u * weightDen * n_s < w * targetTotal *
    * 10^6), never a float, so engines can't diverge at rate boundaries.
    *
    * Scale: per-source counts and weights are a model-scale table
    * (thousands of sources, not docs) — broadcast; the corpus side is a
    * map-only scan. An over-weighted source (rate >= 1) keeps all its
    * docs, which falls out of the inequality naturally.
    *
    * `weights` must carry (`sourceCol`, `w_num` long). At extreme doc
    * counts rearrange toward DECIMAL: u*weightDen*n_s can reach 10^8 *
    * n_s, overflowing int64 past ~10^10 docs per source.
    */
  def mixSources(docs: DataFrame, idCol: String, sourceCol: String,
                 weights: DataFrame, weightDen: Long,
                 targetTotal: Long): DataFrame = {
    val counts = docs.groupBy(col(sourceCol))
      .agg(count(lit(1)).as("__n_docs"))
      .join(weights, Seq(sourceCol))
    val u = pmod(col(idCol).cast(LongType) * lit(2654435761L), lit(1000000L))
    docs.join(broadcast(counts), Seq(sourceCol))
      .select(col(idCol), col(sourceCol),
        (u * lit(weightDen) * col("__n_docs") <
          col("w_num") * lit(targetTotal) * lit(1000000L)).as("kept"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1: duplicate
    * n-gram / duplicate paragraph fractions): per doc, the fraction of
    * word `n`-grams and of fixed-size paragraphs that are repeats of an
    * earlier occurrence. Pure array columns — the gram list never
    * explodes, so this is a map-only scan at any scale.
    */
  def repetitionSignals(df: DataFrame, textCol: String, n: Int = 5,
                        parWords: Int = 12): DataFrame = {
    val toks = toksCol(col(textCol))
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
    val pars = graft.functions.TextAnalysis.paragraphsCol(col(textCol),
      parWords)
    def dupFrac(arr: Column): Column =
      when(size(arr) > 0,
        round((size(arr) - size(array_distinct(arr))) * lit(1.0) / size(arr),
          4))
        .otherwise(lit(0.0))
    df.withColumn("n_grams", size(grams).cast(LongType))
      .withColumn("dup_gram_frac", dupFrac(grams))
      .withColumn("n_pars", size(pars).cast(LongType))
      .withColumn("dup_par_frac", dupFrac(pars))
  }

  /** Greedy sequence packing for training-window assembly: shard docs
    * by `shardExpr`, then within each shard, in `orderCol` order, fill
    * windows of `budget` tokens — a doc joins the current window iff it
    * fits, else opens the next one (a doc longer than the budget gets a
    * window alone). Deterministic given (shard, order): the semantics
    * are per-shard sequential BY DEFINITION, so the scalable form is
    * exactly this decomposition — shards are the parallelism unit
    * (hash-partitioned; at corpus scale use enough shards that one
    * shard's docs fit a task's stream), and each task streams its
    * shards' rows once via the partition-local sort, no global state.
    *
    * Input must carry `idCol` (long), the shard and order columns, and
    * `nTokensCol` (long). Output: (id, shard, window_id, n_tokens,
    * token_offset) with window_id/token_offset per shard.
    */
  def packSequences(docs: DataFrame, idCol: String, shardCol: String,
                    orderCol: String, nTokensCol: String,
                    budget: Long): DataFrame = {
    val spark = docs.sparkSession
    val prepared = docs.select(
      col(idCol).cast(LongType).as("id"),
      col(shardCol).cast(LongType).as("shard"),
      col(orderCol).cast(LongType).as("ord"),
      col(nTokensCol).cast(LongType).as("n_tokens"))
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    val packed = prepared
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "ord")
      .mapPartitions { rows: Iterator[Row] =>
        // a partition holds whole shards (hash partitioning), sorted so
        // each shard's rows are contiguous and in order; state resets at
        // every shard boundary
        var curShard = Long.MinValue
        var window = 0L
        var fill = 0L
        rows.map { r =>
          val id = r.getLong(0); val shard = r.getLong(1)
          val nt = r.getLong(3)
          if (shard != curShard) { curShard = shard; window = 0L; fill = 0L }
          else if (fill + nt > budget) { window += 1; fill = 0L }
          val off = fill
          fill += nt
          (id, shard, window, nt, off)
        }
      }(enc)
    packed.toDF("id", "shard", "window_id", "n_tokens", "token_offset")
      .withColumnRenamed("id", idCol)
  }

  /** Content-defined chunking (LBFS/rsync lineage) at token
    * granularity: a chunk boundary falls AFTER token i whenever the
    * hash of the `w`-token window ending at i lands in the 1/p residue
    * class (plus a forced boundary at end-of-doc). Because boundaries
    * depend only on local content, a shared passage produces the SAME
    * chunks no matter where it sits in a document — the property fixed
    * 12-token paragraphs (dedupParagraphs) lack, and why storage-level
    * dedup uses CDC. Deterministic md5 window hash keeps it
    * oracle-checkable; expected chunk length ≈ p tokens.
    *
    * Plan shape: plain posexplode to (i, tok) — all codegen — then the
    * w-token window string assembles from `lag` over the SAME per-doc
    * (id, i) window the chunk-id cumsum needs anyway, so the one
    * shuffle is shared and no interpreted HOF builds strings (an array
    * lambda here measured 2x the whole query; HOFs are
    * CodegenFallback — the r5 SubstringDedup lesson, taken further).
    * Then groupBy (doc, chunk) rebuilds chunk text. Output: (idCol,
    * chunk_id, n_toks, chunk_text, chunk_md5).
    */
  def cdcChunks(docs: DataFrame, idCol: String, textCol: String,
                w: Int = 3, p: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = toksCol(col(textCol))
    // repartition the COMPACT doc rows by id up front: the window's
    // exchange is then already satisfied, so the one shuffle moves
    // ~doc-count rows instead of ~token-count exploded rows, and the
    // explode+tokenize parallelizes across the cluster instead of
    // running inside however few tasks the input file listing gave us.
    // The partition count is pinned: AQE sizes coalescing by the doc
    // rows' BYTES, which under-counts the exploded per-token work this
    // stage fans into (measured: it collapsed the whole chain to one
    // task and serialized it)
    val posToks = docs.repartition(
        docs.sparkSession.sparkContext.defaultParallelism, col(idCol))
      .select(col(idCol), size(toks).as("n"),
        posexplode(toks).as(Seq("pos0", "tok")))
      .select(col(idCol), (col("pos0") + 1).as("i"), col("tok"), col("n"))
    val ow = Window.partitionBy(col(idCol)).orderBy(col("i"))
    // toks[i-w+1..i] == (lag(w-1), ..., lag(1), tok); concat_ws skips
    // the null lags of the first w-1 positions, whose `win` is only
    // read by the i >= w guard anyway
    val win = concat_ws(" ",
      ((w - 1) to 1 by -1).map(k => lag(col("tok"), k).over(ow)) :+
        col("tok"): _*)
    val bnd = posToks.withColumn("win", win).withColumn("bnd",
      when((col("i") >= w &&
        pmod(conv(substring(md5(col("win")), 1, 4), 16, 10)
          .cast(LongType), lit(p.toLong)) === 0) || col("i") === col("n"),
        1L).otherwise(0L))
    // chunk id of token i = boundaries strictly BEFORE i (a boundary
    // token is the LAST token of its chunk)
    val cw = Window.partitionBy(col(idCol)).orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, -1)
    bnd.withColumn("chunk_id",
        coalesce(sum(col("bnd")).over(cw), lit(0L)))
      .groupBy(col(idCol), col("chunk_id"))
      .agg(
        count(lit(1)).as("n_toks"),
        array_join(transform(sort_array(collect_list(
          struct(col("i"), col("tok")))), s => s("tok")), " ")
          .as("chunk_text"))
      .withColumn("chunk_md5", md5(col("chunk_text")))
  }

  /** Corpus-wide chunk-level dedup over the CDC chunks: the first
    * (idCol, chunk_id) occurrence of each distinct chunk survives,
    * later copies are counted as duplicate bytes — the storage-dedup
    * measure. One window keyed by chunk hash (uniform, no skew) + one
    * rebuild groupBy, exactly the dedupParagraphs plan shape. Output:
    * (idCol, n_chunks, n_kept, toks_total, toks_dup).
    */
  def cdcDedup(docs: DataFrame, idCol: String, textCol: String,
               w: Int = 3, p: Int = 8): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val chunks = cdcChunks(docs, idCol, textCol, w, p)
    val win = Window.partitionBy(col("chunk_md5"))
      .orderBy(col(idCol), col("chunk_id"))
    chunks.withColumn("rn", row_number().over(win))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_toks")).as("toks_total"),
        sum(when(col("rn") > 1, col("n_toks")).otherwise(0L))
          .as("toks_dup"))
  }

  /** Per-host token-budget cap (domain balancing, RefinedWeb/C4
    * lineage): within each host, docs are taken in (orderCol asc,
    * idCol asc) priority order until the host's running token total
    * reaches `budget` — a doc is kept iff the total BEFORE it is under
    * budget (so the doc crossing the line still ships and every host
    * with any docs keeps at least one). Caps boilerplate mega-hosts
    * from dominating the training mix.
    *
    * One window cumsum keyed by host: group size = docs-per-host,
    * sort spills handle mega-hosts; if one host exceeds a task, the
    * politeness-rank group-counts decomposition applies unchanged.
    * Output: docs + (cum_before, kept).
    */
  def capHostBudget(docs: DataFrame, idCol: String, hostCol: String,
                    orderCol: String, nTokensCol: String,
                    budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(hostCol))
      .orderBy(col(orderCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs.withColumn("cum_before",
        coalesce(sum(col(nTokensCol).cast(LongType)).over(w), lit(0L)))
      .withColumn("kept", col("cum_before") < budget)
  }

  /** CCNet-style corpus-wide paragraph dedup (Wenzek et al. 2020 §3.2
    * shape): every paragraph is hashed, only the FIRST occurrence in
    * (idCol, position) order survives anywhere in the corpus, and each
    * document is reconstructed from its surviving paragraphs. Distinct
    * from FrequentParagraphs (which drops by frequency threshold):
    * here the first copy always stays and every later copy always
    * goes, which is what kills boilerplate headers/footers shared
    * across sites.
    *
    * Plan: explode to (id, p_id, ptext) → ONE window over md5(ptext)
    * (the shuffle is by paragraph hash — uniform by construction, no
    * skew) → groupBy id to rebuild. Two shuffles total, both keyed on
    * high-cardinality columns; no self-join, no collect.
    *
    * Output: (idCol, n_pars, n_kept, clean_text) — clean_text "" when
    * every paragraph was a later duplicate.
    */
  def dedupParagraphs(docs: DataFrame, idCol: String, textCol: String,
                      parWords: Int = 12): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pars = docs.select(col(idCol),
      posexplode(graft.functions.TextAnalysis
        .paragraphsCol(col(textCol), parWords)).as(Seq("p_id", "ptext")))
    val w = Window.partitionBy(md5(col("ptext")))
      .orderBy(col(idCol), col("p_id"))
    pars.withColumn("rn", row_number().over(w))
      .groupBy(idCol)
      .agg(
        count(lit(1)).as("n_pars"),
        sum(when(col("rn") === 1, 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            sort_array(collect_list(
              when(col("rn") === 1,
                struct(col("p_id"), col("ptext"))))),
            s => s("ptext")),
          " ").as("clean_text"))
  }

  /** Deterministic uniform k-per-group sample: rows rank inside each
    * group by (md5(key), key) — a content-derived order any engine
    * reproduces, unlike rand() — and the first k ship. The standard
    * "inspect 25 URLs per host" / "cap the eval slice per source" op.
    * One window per group; group sort is bounded by group size, and a
    * mega-group falls back to the politeness group-counts
    * decomposition like capHostBudget.
    */
  def samplePerGroup(df: DataFrame, groupCol: String, keyCol: String,
                     k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    df.withColumn("rk", row_number().over(w).cast(LongType))
      .filter(col("rk") <= k)
  }

  /** Stratified sample with EXACT per-stratum quotas: keep
    * ceil(n_s · num / den) rows of every stratum — the eval-set /
    * ablation-slice constructor where proportional representation must
    * be exact, not expected (a Bernoulli rand() sample under- or
    * over-fills small strata, and is not reproducible across engines).
    * Order within a stratum is (md5(key), key) — content-derived, so
    * the SAME rows are kept under any partitioning/engine (the
    * samplePerGroup discipline). One partial-agg count per stratum +
    * one rank window; a mega-stratum bounds its own window task (the
    * politeness group-counts decomposition applies if one stratum
    * outgrows a task).
    */
  def sampleStratified(df: DataFrame, strataCols: Seq[String],
                       keyCol: String, num: Long, den: Long): DataFrame = {
    require(num >= 0 && den > 0, "need a valid num/den fraction")
    import org.apache.spark.sql.expressions.Window
    val sc = strataCols.map(col)
    val w = Window.partitionBy(sc: _*)
      .orderBy(md5(col(keyCol).cast("string")), col(keyCol))
    val counts = df.groupBy(sc: _*).agg(count(lit(1)).as("__ns"))
    df.withColumn("__rk", row_number().over(w).cast(LongType))
      .join(counts, strataCols)
      .filter(col("__rk") <= (col("__ns") * num + (den - 1)) / den)
      .drop("__rk", "__ns")
  }

  /** Per-group top-fraction quality gate (the FineWeb-style "keep the
    * best 30% of every language" rule): rank by (scoreCol desc, keyCol
    * asc) inside each group and keep rank ≤ ⌈n·num/den⌉ — the
    * threshold is a PER-GROUP quantile learned from the data, so a
    * high-resource language's bar is higher than a low-resource one's
    * (a single global threshold empties small groups). Same exact-quota
    * window shape as [[sampleStratified]] but score-ordered, not
    * hash-ordered.
    */
  def keepTopFraction(df: DataFrame, groupCols: Seq[String],
                      scoreCol: String, keyCol: String,
                      num: Long, den: Long): DataFrame = {
    require(num >= 0 && den > 0)
    import org.apache.spark.sql.expressions.Window
    val gc = groupCols.map(col)
    val w = Window.partitionBy(gc: _*)
      .orderBy(col(scoreCol).desc, col(keyCol))
    val counts = df.groupBy(gc: _*).agg(count(lit(1)).as("__ns"))
    df.withColumn("__rk", row_number().over(w).cast(LongType))
      .join(counts, groupCols)
      .withColumn("kept",
        col("__rk") <= (col("__ns") * num + (den - 1)) / den)
      .drop("__rk", "__ns")
  }

  /** Checksum-validated payment-card scrubbing (the PII rule regexes
    * cannot express): 16-digit runs are redacted ONLY when they pass
    * the Luhn mod-10 checksum — a random 16-digit id has a 10% false-
    * positive rate under a bare regex, so the checksum is what makes
    * card redaction precise. The digit-doubling fold runs inside an
    * array lambda (no UDF); redaction is a replace() fold over the
    * distinct valid runs (fixed-length runs can't be substrings of
    * each other, so fold order is immaterial).
    *
    * Appends: n_cc (valid card count), clean_text.
    */
  def scrubLuhn(df: DataFrame, textCol: String): DataFrame = {
    val runs = regexp_extract_all(col(textCol), lit("[0-9]{16}"), lit(0))
    def luhnOk(n: Column): Column = {
      val total = aggregate(sequence(lit(1), lit(16)), lit(0),
        (acc, i) => {
          val d = ascii(n.substr(lit(17) - i, lit(1))) - lit(48)
          val dd = when(pmod(i, lit(2)) === 0,
            when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
          acc + dd
        })
      pmod(total, lit(10)) === 0
    }
    val valid = filter(runs, luhnOk(_))
    df.withColumn("n_cc", size(valid).cast(LongType))
      .withColumn("clean_text",
        aggregate(array_distinct(valid), col(textCol),
          (acc, n) => replace(acc, n, lit("<CC>"))))
  }

  /** Gzip-compressibility quality signal: highly repetitive pages
    * (keyword stuffing, template spam, generated filler) deflate far
    * below natural text. `compress_ratio` = raw UTF-8 bytes /
    * deflated bytes at level 6 — natural English sits ~2-3×,
    * template spam 10×+. A JVM Deflater UDF (no SQL twin exists, so
    * this operator is spec-verified; the driver's rows-only check
    * covers the query) — embarrassingly parallel, one pass, no
    * shuffle.
    */
  def compressionSignal(df: DataFrame, textCol: String): DataFrame = {
    val deflatedLen = udf((s: String) => {
      if (s == null) 0L
      else {
        val d = new java.util.zip.Deflater(6)
        d.setInput(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        d.finish()
        val buf = new Array[Byte](8192)
        var total = 0L
        while (!d.finished()) total += d.deflate(buf)
        d.end()
        total
      }
    })
    df.withColumn("raw_bytes",
        length(encode(col(textCol), "UTF-8")).cast(LongType))
      .withColumn("deflate_bytes", deflatedLen(col(textCol)))
      .withColumn("compress_ratio",
        when(col("deflate_bytes") > 0,
          round(col("raw_bytes") * lit(1.0) / col("deflate_bytes"), 4))
          .otherwise(lit(0.0)))
  }

  /** Pair-set evaluation (the dedup/blocking quality harness):
    * predicted vs ground-truth pair sets → tp/fp/fn and
    * precision/recall/F1 (4dp). The evaluation every approximate
    * dedup (LSH bands, simhash blocks, aHash bands, ANN candidates)
    * owes its user — and the executable form of an exactness CLAIM: a
    * blocking scheme advertised as lossless under its distance bound
    * must score P = R = 1 against the exhaustive pairs. One full
    * outer join on the pair key; both inputs are pair tables (already
    * reduced), so this costs nothing next to producing them.
    */
  def evalPairs(predicted: DataFrame, truth: DataFrame,
                keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty)
    val p = predicted.select(keyCols.map(col): _*).distinct()
      .withColumn("__p", lit(1))
    val t = truth.select(keyCols.map(col): _*).distinct()
      .withColumn("__t", lit(1))
    p.join(t, keyCols, "full_outer")
      .agg(
        sum(when(col("__p").isNotNull && col("__t").isNotNull, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("__p").isNotNull && col("__t").isNull, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("__p").isNull && col("__t").isNotNull, 1L)
          .otherwise(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("fn"),
        round(col("tp") * lit(1.0) / (col("tp") + col("fp")), 4)
          .as("precision"),
        round(col("tp") * lit(1.0) / (col("tp") + col("fn")), 4)
          .as("recall"),
        round(col("tp") * lit(2.0) / (col("tp") * 2 + col("fp")
          + col("fn")), 4).as("f1"))
  }

  /** Deterministic weighted sample without replacement
    * (Efraimidis–Spirakis 2006, the one-pass weighted-reservoir rule):
    * each row gets key ln(u)/w — u a content-derived "uniform" from
    * the first 8 md5 hex digits of its id, w its weight — and the k
    * LARGEST keys win. Inclusion probability follows the weights
    * exactly as the ES scheme prescribes, yet everything is a pure
    * function of (id, w): reproducible across engines, partitionings
    * and reruns (a rand() sample is none of these). The key stays
    * internal (keys near u→1 collapse to ±0 under display rounding —
    * emitting them invites sign-of-zero drift); the ranking uses the
    * raw double, which both engines derive from the same exact
    * integers, with the id as tie-break.
    *
    * Edge keys: the winners attach back by `keyCol` equality, so a row
    * whose key is null is never kept (not even when k exceeds the row
    * count), and a winning key keeps every row that has it — with
    * repeated keys the kept count can exceed k. Every input row comes
    * out exactly once, however many of its key's rows rank in the top k.
    *
    * Output: df + kept.
    */
  def sampleWeighted(df: DataFrame, keyCol: String, wCol: String,
                     k: Int): DataFrame = {
    require(k > 0)
    val h = conv(substring(md5(col(keyCol).cast("string")), 1, 8), 16, 10)
      .cast(LongType)
    val u = (h + 1) / lit(4294967296.0)
    val scored = df.withColumn("__es", log(u) / col(wCol))
    // the k winners via orderBy+limit — TakeOrderedAndProject
    // (per-partition top-k + driver merge) instead of the previous
    // corpus-wide single-partition row_number window; keyCol is the
    // sample unit (unique per the ES scheme), so the kept set equals
    // the old rank <= k set, attached back as a broadcast semi-join
    val top = scored.orderBy(col("__es").desc, col(keyCol)).limit(k)
      .select(col(keyCol).as("__sw_key")).distinct()
    scored
      .join(broadcast(top), col(keyCol) === col("__sw_key"), "left")
      .withColumn("kept", col("__sw_key").isNotNull)
      .drop("__es", "__sw_key")
  }

  /** Overlapping sliding-window chunking (the long-document →
    * embedding/context-window prep): token windows of `window` words
    * every `stride` words, so consecutive chunks share window−stride
    * words of context. Chunk starts run 0, stride, … through
    * ceil(max(n−window,0)/stride)·stride — every token is covered, the
    * final chunk may be short, and a doc shorter than one window is
    * one chunk. Map-only (transform + posexplode); chunk ids are
    * per-doc positions, so downstream joins key on (id, chunk_id).
    *
    * Output: (idCol, chunk_id, tok_offset, n_toks, chunk_text).
    */
  def chunkWithStride(docs: DataFrame, idCol: String, textCol: String,
                      window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      "need 0 < stride <= window")
    val toks = toksCol(col(textCol))
    val n = size(toks)
    val nChunks =
      (ceil(greatest(n - window, lit(0)) / lit(stride.toDouble)) + 1)
        .cast("int")
    val chunks = transform(sequence(lit(0), nChunks - 1), i => struct(
      (i * stride).cast(LongType).as("tok_offset"),
      least(n - i * stride, lit(window)).cast(LongType).as("n_toks"),
      concat_ws(" ", slice(toks, i * stride + 1, lit(window)))
        .as("chunk_text")))
    docs.select(col(idCol), posexplode(chunks).as(Seq("chunk_id", "c")))
      .select(col(idCol), col("chunk_id").cast(LongType).as("chunk_id"),
        col("c.tok_offset"), col("c.n_toks"), col("c.chunk_text"))
  }

  /** Corpus-wide duplicate n-gram fraction (the RefinedWeb/Gopher
    * CROSS-document repetition signal — [[repetitionSignals]] measures
    * repeats inside one doc; this measures how much of a doc's n-gram
    * mass exists in OTHER documents, the template/boilerplate smell
    * that survives within-doc checks). Per doc: the fraction of its
    * n-gram OCCURRENCES whose gram appears in ≥2 distinct documents.
    *
    * Plan: one (doc, gram) partial-agg count, one gram-keyed corpus
    * count (uniform key — a gram shared by everything is exactly what
    * the signal detects, and its count row is still one row), join
    * back, one per-doc agg. No gram list ever materializes per row.
    *
    * Returns (idCol, n_grams, dup_frac) — n_grams counts occurrences,
    * dup_frac at 4dp, 0.0 for docs too short for any gram.
    */
  def crossDupGramFraction(docs: DataFrame, idCol: String,
                           textCol: String, n: Int = 5): DataFrame = {
    val occ = ngramOccurrences(docs, idCol, textCol, n)
      .groupBy(col(idCol), col("gram"))
      .agg(count(lit(1)).as("cnt"))
    val corpus = occ.groupBy(col("gram"))
      .agg(count(lit(1)).as("nd"))
    val joined = occ.join(corpus, "gram")
      .groupBy(col(idCol))
      .agg(sum(col("cnt")).as("n_grams"),
        sum(when(col("nd") > 1, col("cnt")).otherwise(0L)).as("dup"))
    docs.select(col(idCol)).join(joined, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        when(coalesce(col("n_grams"), lit(0L)) > 0,
          round(col("dup") * lit(1.0) / col("n_grams"), 4))
          .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** ALL word n-gram occurrences (not distinct) of `textCol` per row:
    * (idCol, gram).
    */
  private def ngramOccurrences(df: DataFrame, idCol: String,
                               textCol: String, n: Int): DataFrame = {
    val toks = toksCol(col(textCol))
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - lit(n)),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
    df.select(col(idCol), explode(grams).as("gram"))
  }

  /** Token-budget water-filling across sources (the data-mixing
    * allocator): split a `target` token budget over sources
    * proportionally to `wCol`, capping each source at `capCol` and
    * re-distributing the overflow to the others — the exact
    * capacity-constrained proportional fill, solved in CLOSED FORM
    * rather than by iteration. In cap/weight ratio order the saturated
    * set is a prefix (the classic water-filling monotonicity), so one
    * cumulative window finds it: source j saturates iff
    * cap_j·(W − cumw_j) ≤ (target − cumcap_j)·w_j. Unsaturated sources
    * get floor(rem·w/W_rest) plus largest-remainder +1s — all int64,
    * so the result is bit-exact on any engine/partitioning.
    *
    * The allocation table is per-source (domains at worst — orders of
    * magnitude below row scale), so the global-ordered windows are one
    * small task; the corpus itself is never touched here.
    *
    * Returns (keyCol, cap, w, alloc, saturated) with
    * Σalloc = min(target, Σcap).
    */
  def allocateBudget(df: DataFrame, keyCol: String, capCol: String,
                     wCol: String, target: Long): DataFrame = {
    require(target >= 0, "target must be non-negative")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(keyCol), col(capCol).cast(LongType).as("cap"),
      col(wCol).cast(LongType).as("w"))
    val ord = Window.orderBy(col("cap") * lit(1.0) / col("w"), col(keyCol))
    val pre = ord.rowsBetween(Window.unboundedPreceding, -1)
    val c = base
      .crossJoin(broadcast(base.agg(sum(col("w")).as("wt"))))
      .withColumn("cumcap", coalesce(sum(col("cap")).over(pre), lit(0L)))
      .withColumn("cumw", coalesce(sum(col("w")).over(pre), lit(0L)))
      .withColumn("sat",
        col("cap") * (col("wt") - col("cumw")) <=
          (lit(target) - col("cumcap")) * col("w"))
    val sums = c.agg(
      sum(when(col("sat"), col("cap")).otherwise(0L)).as("satcap"),
      sum(when(!col("sat"), col("w")).otherwise(0L)).as("w_rest"))
    val d = c.crossJoin(broadcast(sums))
      .withColumn("rem", greatest(lit(target) - col("satcap"), lit(0L)))
      .withColumn("base_alloc",
        when(col("sat"), col("cap"))
          .when(col("w_rest") === 0, lit(0L))
          .otherwise(expr("(rem * w) div w_rest")))
      .withColumn("frac",
        when(col("sat") || col("w_rest") === 0, lit(-1L))
          .otherwise(pmod(col("rem") * col("w"), col("w_rest"))))
    val fs = d.agg(
      sum(when(!col("sat"), greatest(col("frac"), lit(0L))).otherwise(0L))
        .as("fs"))
    val rkW = Window.orderBy(col("frac").desc, col(keyCol))
    d.crossJoin(broadcast(fs))
      .withColumn("rk", row_number().over(rkW))
      .withColumn("alloc",
        col("base_alloc") +
          when(!col("sat") && col("w_rest") > 0 &&
            col("rk") <= expr("fs div w_rest"), 1L).otherwise(0L))
      .select(col(keyCol), col("cap"), col("w"), col("alloc"),
        col("sat").as("saturated"))
  }

  /** C4-style page + line cleaning (Raffel et al. 2020 §2.2, the
    * canonical web-corpus pass): keep only lines that end in a terminal
    * punctuation mark AND carry at least `minLineWords` whitespace
    * words AND contain none of `lineBadWords`; kill the whole page when
    * it contains any of `pageBadPhrases` (literal, case-insensitive —
    * C4 uses "lorem ipsum" and the code-smell "{") or when fewer than
    * `minSentences` lines survive. Everything is array columns over
    * split(text, "\n") — a map-only scan with no shuffle at any scale,
    * so it composes in front of the dedup stages for free.
    *
    * Appends: n_lines, n_kept, has_bad_phrase, keep, clean_text
    * (kept lines re-joined with "\n"; "" when the page is dropped).
    */
  def c4Filter(docs: DataFrame, textCol: String,
               minLineWords: Int = 3, minSentences: Int = 5,
               pageBadPhrases: Seq[String] = Seq("lorem ipsum", "{"),
               lineBadWords: Seq[String] = Seq("javascript")): DataFrame = {
    require(lineBadWords.nonEmpty, "need at least one line-level bad word")
    val lines = split(col(textCol), "\n")
    val badWordRe = "\\b(" + lineBadWords.map(java.util.regex.Pattern.quote)
      .mkString("|") + ")\\b"
    val keptLine = (l: Column) =>
      l.rlike("[.!?\"]\\s*$") &&
        size(split(trim(l), "\\s+")) >= minLineWords &&
        !lower(l).rlike(badWordRe)
    val kept = filter(lines, keptLine)
    val hasBad = pageBadPhrases
      .map(p => lower(col(textCol)).contains(p.toLowerCase))
      .reduceOption(_ || _).getOrElse(lit(false))
    docs
      .withColumn("n_lines", size(lines).cast(LongType))
      .withColumn("n_kept", size(kept).cast(LongType))
      .withColumn("has_bad_phrase", hasBad)
      .withColumn("keep",
        !col("has_bad_phrase") && col("n_kept") >= minSentences)
      .withColumn("clean_text",
        when(col("keep"), array_join(kept, "\n")).otherwise(lit("")))
  }

  /** Classifier calibration table: rank by score (distributed
    * partition-offset rank — no single-task global window), cut into
    * `bins` equal-rank bins, and report per-bin gold-positive and
    * predicted-positive counts — "is the quality filter's score
    * monotone in actual quality, and where does it saturate?". Exact
    * integers until the per-bin rate division. Output:
    * (decile, n, n_gold_pos, n_pred_pos, gold_rate 6dp).
    */
  def calibrationTable(scored: DataFrame, scoreCol: String,
                       labelCol: String, predCol: String,
                       idCol: String, bins: Int = 10): DataFrame = {
    val ranked = UrlDedup.ordByPartitionOffsets(
      scored, Seq(col(scoreCol).asc, col(idCol).asc), "__rw0")
    val tot = ranked.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(tot))
      .withColumn("decile",
        (floor(col("__rw0") * lit(bins.toDouble) / col("__n")) + 1)
          .cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_gold_pos"),
        sum(when(col(predCol), 1L).otherwise(0L)).as("n_pred_pos"))
      .withColumn("gold_rate",
        round(col("n_gold_pos").cast("double") / col("n").cast("double"),
              6))
  }

  /** Document dating: extract ISO `yyyy-mm-dd` tokens, validate them as
    * real civil dates (month range, month length, Gregorian leap rule)
    * and normalize to epoch days with the days-from-civil integer
    * formula (Hinnant's algorithm; floor-division shape chosen so the
    * oracle's double/floor replay is bit-identical on these ranges).
    * The freshness signal a recrawl/mix scheduler keys on. Per doc:
    * (idCol, n_dates, first_day, last_day — epoch days, −1 when none).
    */
  def extractDates(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    val parts = docs.select(col(idCol),
      explode_outer(expr(
        s"regexp_extract_all($textCol, '([0-9]{4})-([0-9]{2})-([0-9]{2})', 0)"))
        .as("ds"))
      .withColumn("y", substring(col("ds"), 1, 4).cast("long"))
      .withColumn("m", substring(col("ds"), 6, 2).cast("long"))
      .withColumn("d", substring(col("ds"), 9, 2).cast("long"))
    val leap = col("y") % 4 === 0 &&
      (col("y") % 100 =!= 0 || col("y") % 400 === 0)
    val dim = when(col("m").isin(1L, 3L, 5L, 7L, 8L, 10L, 12L), 31L)
      .when(col("m").isin(4L, 6L, 9L, 11L), 30L)
      .otherwise(when(leap, 29L).otherwise(28L))
    val valid = col("ds").isNotNull &&
      col("y") >= 1600L && col("y") <= 9999L &&
      col("m") >= 1L && col("m") <= 12L &&
      col("d") >= 1L && col("d") <= dim
    val yp  = col("y") - when(col("m") <= 2, 1L).otherwise(0L)
    val era = floor(yp / lit(400.0)).cast("long")
    val yoe = yp - era * 400L
    val mp  = col("m") + when(col("m") > 2, -3L).otherwise(9L)
    val doy = floor((lit(153L) * mp + 2L) / lit(5.0)).cast("long") +
      col("d") - 1L
    val doe = yoe * 365L + floor(yoe / lit(4.0)).cast("long") -
      floor(yoe / lit(100.0)).cast("long") + doy
    val day = era * 146097L + doe - 719468L
    parts
      .withColumn("day", when(valid, day))
      .groupBy(idCol)
      .agg(sum(when(col("day").isNotNull, 1L).otherwise(0L)).as("n_dates"),
        coalesce(min("day"), lit(-1L)).as("first_day"),
        coalesce(max("day"), lit(-1L)).as("last_day"))
  }
}
