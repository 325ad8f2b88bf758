package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Library-level text retrieval + quality scoring operators — the
  * parameterized forms of the q_bm25_search / q_quality_gopher query
  * plans, promoted so users drive them through an API instead of
  * copying query code.
  *
  * Scale shape (unchanged from the oracled queries): corpus stats are
  * two scalars (N, avgdl) computed once; tf/df are partial-aggregated
  * groupBys (map-side combine — a term's postings never sit in one
  * task until the final per-(doc,term) count, which is bounded by the
  * doc itself); scores are pure column arithmetic. Gopher signals are
  * per-row columns except the top-word fraction, whose groupBy is
  * keyed by doc_id — skew-free since one doc's words form one group.
  */
object Retrieval {

  /** BM25 parameters (Robertson/Sparck-Jones). The defaults match the
    * q_bm25_search oracle bit-for-bit: k1+1.0 == 2.2 and 1.0-b == 0.25
    * are exact in IEEE doubles for (1.2, 0.75), and the rounding knobs
    * mirror the oracle's float discipline (idf rounded right after ln,
    * final score rounded at the end — on BOTH engines).
    */
  final case class Bm25Params(
      k1: Double = 1.2,
      b: Double = 0.75,
      idfRoundDigits: Int = 6,
      scoreRoundDigits: Int = 4)

  /** BM25 scores of `docs` for a fixed term set; top `limit` rows by
    * (score desc, id asc). Input needs (idCol, textCol); tokenization
    * is whitespace, like the reference corpus format's token-per-space
    * text spans.
    */
  def bm25(docs: DataFrame, terms: Seq[String],
           params: Bm25Params = Bm25Params(),
           limit: Int = 20,
           idCol: String = "doc_id",
           textCol: String = "text"): DataFrame = {
    require(terms.nonEmpty, "bm25 needs at least one query term")
    val toks = docs.select(col(idCol),
        split(trim(col(textCol)), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    // Model-scale scalars: N docs, average doc length — ONE fully
    // map-side-combining agg action. dl sums are integer-valued
    // doubles, so the sum is order-insensitive. Deliberately a second
    // scan of the source rather than a pin of the tokenized
    // corpus: at 100 TB the pin would spool the whole corpus
    // into executor-local storage (and its blocks would have to outlive
    // this call for the returned lazy plan to run), while the rescan is
    // a pruned two-column parquet read.
    val stats = toks.agg(count(lit(1)).cast("double").as("n"),
      sum("dl").as("sdl")).head()
    val n = stats.getDouble(0)
    val avgdl = stats.getDouble(1) / n
    val tf = toks.select(col(idCol), col("dl"), explode(col("toks")).as("w"))
      .where(col("w").isin(terms: _*))
      .groupBy(idCol, "dl", "w")
      .agg(count(lit(1)).cast("double").as("tf"))
    val dft = tf.groupBy("w").agg(countDistinct(idCol).as("df"))
    val scored = tf.join(dft, "w")
      .withColumn("idf", round(
        log(lit(1.0) + (lit(n) - col("df") + lit(0.5))
          / (col("df") + lit(0.5))), params.idfRoundDigits))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(params.k1 + 1.0) /
          (col("tf") + lit(params.k1) * (lit(1.0 - params.b)
            + lit(params.b) * col("dl") / lit(avgdl))))
      .groupBy(idCol)
      .agg(round(sum("contrib"), params.scoreRoundDigits).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
    scored.limit(limit)
  }

  /** Deterministic term bucket — the physical partition key of the
    * materialized inverted index (md5 hex-prefix arithmetic, the
    * sketches' discipline).
    */
  def termBucketCol(w: org.apache.spark.sql.Column,
                    nBuckets: Int): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(w), 1, 4), 16, 10).cast(LongType),
      lit(nBuckets.toLong))

  /** JVM twin of [[termBucketCol]] for driver-side probe planning. */
  def termBucket(w: String, nBuckets: Int): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(w.getBytes("UTF-8")).take(2).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(h, 16) % nBuckets
  }

  /** Materialize the inverted index: postings (w, id, tf, dl) written
    * PARTITIONED BY term bucket, corpus stats (N, Σdl) alongside as
    * model state — the retrieval twin of Similarity.ivfBuild. One
    * corpus pass + one (id, w) partial-agg shuffle; build cost
    * amortizes across every subsequent query, and a query reads ONLY
    * its terms' bucket directories (partition pruning at file listing)
    * instead of re-tokenizing the corpus like `bm25` does.
    */
  def bm25Build(docs: DataFrame, indexDir: String, nBuckets: Int = 64,
                idCol: String = "doc_id",
                textCol: String = "text"): Unit = {
    val toks = docs.select(col(idCol),
        split(trim(col(textCol)), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    toks.select(col(idCol), col("dl"), explode(col("toks")).as("w"))
      .groupBy(idCol, "dl", "w")
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("bucket", termBucketCol(col("w"), nBuckets))
      .write.mode("overwrite").partitionBy("bucket")
      .parquet(s"$indexDir/postings")
    toks.agg(count(lit(1)).cast("double").as("n"),
        sum("dl").as("sdl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/stats")
  }

  /** Incremental index maintenance: append a NEW batch of documents to
    * a `bm25Build` index without touching the existing postings — the
    * continuous-crawl shape (each dump adds documents; re-tokenizing
    * the whole corpus per dump is the thing a 100 TB deployment cannot
    * afford). The new batch's postings append into the same
    * bucket-partitioned layout (file-level append, existing files
    * untouched) and the corpus stats fold additively: dl values are
    * integer-valued doubles, so n' = n + Δn and Σdl' = Σdl + ΔΣdl are
    * EXACT — `bm25Indexed` after an append is bit-for-bit equal to a
    * full rebuild over the union (RetrievalSpec pins this).
    *
    * Doc ids must be disjoint from the already-indexed corpus (dump
    * ids are); like bm25Build this is not crash-atomic — drive it from
    * a Snapshots stage/commit pair when resumability matters.
    */
  def bm25Append(spark: org.apache.spark.sql.SparkSession,
                 newDocs: DataFrame, indexDir: String, nBuckets: Int = 64,
                 idCol: String = "doc_id",
                 textCol: String = "text"): Unit = {
    val toks = newDocs.select(col(idCol),
        split(trim(col(textCol)), "\\s+").as("toks"))
      .withColumn("dl", size(col("toks")).cast("double"))
    toks.select(col(idCol), col("dl"), explode(col("toks")).as("w"))
      .groupBy(idCol, "dl", "w")
      .agg(count(lit(1)).cast("double").as("tf"))
      .withColumn("bucket", termBucketCol(col("w"), nBuckets))
      .write.mode("append").partitionBy("bucket")
      .parquet(s"$indexDir/postings")
    val old = spark.read.parquet(s"$indexDir/stats").head()
    val d = toks.agg(count(lit(1)).cast("double").as("n"),
      sum("dl").as("sdl")).head()
    spark.range(1)
      .select(lit(old.getDouble(0) + d.getDouble(0)).as("n"),
              lit(old.getDouble(1) + d.getDouble(1)).as("sdl"))
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/stats")
  }

  /** BM25 against a materialized `bm25Build` index: identical results
    * to `bm25` for the same corpus and params (same float discipline),
    * but the scan is pruned to the query terms' bucket partitions at
    * file listing — at 100 TB a query touches terms/nBuckets of the
    * index, never the corpus.
    */
  def bm25Indexed(spark: org.apache.spark.sql.SparkSession,
                  indexDir: String, terms: Seq[String],
                  params: Bm25Params = Bm25Params(),
                  limit: Int = 20, nBuckets: Int = 64,
                  idCol: String = "doc_id"): DataFrame = {
    require(terms.nonEmpty, "bm25Indexed needs at least one query term")
    val st = spark.read.parquet(s"$indexDir/stats").head()
    val n = st.getDouble(0)
    val avgdl = st.getDouble(1) / n
    val buckets = terms.map(termBucket(_, nBuckets)).distinct
    val tf = spark.read.parquet(s"$indexDir/postings")
      // bucket is the physical partition column -> prunes at file
      // listing; w is a min/max-indexed data column inside the bucket
      .filter(col("bucket").isin(buckets: _*))
      .filter(col("w").isin(terms: _*))
    val dft = tf.groupBy("w").agg(countDistinct(idCol).as("df"))
    tf.join(dft, "w")
      .withColumn("idf", round(
        log(lit(1.0) + (lit(n) - col("df") + lit(0.5))
          / (col("df") + lit(0.5))), params.idfRoundDigits))
      .withColumn("contrib",
        col("idf") * col("tf") * lit(params.k1 + 1.0) /
          (col("tf") + lit(params.k1) * (lit(1.0 - params.b)
            + lit(params.b) * col("dl") / lit(avgdl))))
      .groupBy(idCol)
      .agg(round(sum("contrib"), params.scoreRoundDigits).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(limit)
  }

  /** Gopher-style quality thresholds (Rae et al. 2021 §A1.1 shape).
    * Defaults match the q_quality_gopher oracle; the pass verdict
    * always compares the UNROUNDED ratios (rounding is display only).
    */
  final case class GopherParams(
      minWords: Long = 10L,
      minMeanWordLen: Double = 2.0,
      maxMeanWordLen: Double = 12.0,
      minTypeTokenRatio: Double = 0.3,
      maxTopWordFrac: Double = 0.2,
      displayRoundDigits: Int = 4)

  /** Per-doc Gopher signals + pass verdict: word count, mean word
    * length, type-token ratio, top-word fraction. Output columns:
    * (idCol, n_words, mean_word_len, ttr, top_word_frac, pass).
    */
  def gopherQuality(docs: DataFrame,
                    params: GopherParams = GopherParams(),
                    idCol: String = "doc_id",
                    textCol: String = "text"): DataFrame = {
    val toks  = split(trim(col(textCol)), "\\s+")
    val n     = size(toks).cast(LongType)
    val meanW = aggregate(transform(toks, w => length(w)), lit(0L), _ + _)
      .cast("double") / n
    val ttr   = size(array_distinct(toks)) * lit(1.0) / n
    val base  = docs.select(
      col(idCol), n.as("n_words"), meanW.as("mw_raw"),
      ttr.as("ttr_raw"), toks.as("toks"))
    val top = base.select(col(idCol), explode(col("toks")).as("w"))
      .groupBy(idCol, "w").agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(max("c").as("topc"))
    val d = params.displayRoundDigits
    base.join(top, Seq(idCol))
      .select(col(idCol), col("n_words"),
        round(col("mw_raw"), d).as("mean_word_len"),
        round(col("ttr_raw"), d).as("ttr"),
        round(col("topc") * lit(1.0) / col("n_words"), d)
          .as("top_word_frac"),
        (col("n_words") >= params.minWords &&
         col("mw_raw") >= params.minMeanWordLen &&
         col("mw_raw") <= params.maxMeanWordLen &&
         col("ttr_raw") >= params.minTypeTokenRatio &&
         col("topc") * lit(1.0) / col("n_words") <= params.maxTopWordFrac)
          .as("pass"))
  }

  /** PMI collocations: the top bigrams by pointwise mutual information
    * — the corpus-analytics pass that surfaces multiword expressions
    * ("new york", "click here") for tokenizer vocab decisions and
    * boilerplate-phrase lists. pmi = ln(P(xy) / (P(x)·P(y))) computed
    * as ln((cxy·Nu·Nu) / ((cx·cy)·Nb)) with BOTH engines evaluating the
    * identical double-arithmetic shape (the BM25 idf discipline), then
    * rounded; `minCount` kills the low-frequency noise PMI is infamous
    * for.
    *
    * Plan: one posexplode + per-doc lead() (shuffle keyed by doc id,
    * group = doc length — skew-free), then partial-agg counts; corpus
    * totals are two model-scale scalars. Top-k ties break on the
    * bigram itself, so the limit boundary is deterministic.
    */
  def pmiBigrams(docs: DataFrame, minCount: Long = 20, topK: Int = 50,
                 idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col(idCol).as("__id"),
      posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "w")))
    val wDoc = Window.partitionBy("__id").orderBy("pos")
    val bi = toks
      .withColumn("w2", lead(col("w"), 1).over(wDoc))
      .filter(col("w2").isNotNull)
      .select(col("w").as("w1"), col("w2"))
    val nu = toks.count().toDouble
    val nb = bi.count().toDouble
    val uni = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
    val cxy = bi.groupBy("w1", "w2").agg(count(lit(1)).as("cxy"))
      .filter(col("cxy") >= minCount)
    cxy
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), Seq("w1"))
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), Seq("w2"))
      .select(col("w1"), col("w2"), col("cxy"),
        round(log((col("cxy").cast("double") * lit(nu) * lit(nu)) /
          ((col("c1").cast("double") * col("c2")) * lit(nb))), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
  }

  /** Positional phrase search: documents containing the exact token
    * sequence `phrase`, with match count and first position — the
    * retrieval op BM25's bag-of-words scoring cannot express. Postings
    * are filtered to the phrase's terms BEFORE anything shuffles (at
    * an indexed deployment this is the bm25Build bucket prune), then
    * each consecutive term pair joins on (doc, start) — candidate sets
    * are term-frequency-sized, never corpus-sized. Overlapping matches
    * count separately; positions are 1-based.
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String],
                   idCol: String = "doc_id",
                   textCol: String = "text"): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one term")
    val toks = docs.select(col(idCol),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos0", "w")))
      .select(col(idCol), (col("pos0") + 1).cast("long").as("pos"), col("w"))
    val parts = phrase.zipWithIndex.map { case (t, k) =>
      toks.filter(col("w") === t)
        .select(col(idCol), (col("pos") - k).as("start"))
    }
    parts.reduce((a, b) => a.join(b, Seq(idCol, "start")))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_matches"), min("start").as("first_pos"))
  }
}
