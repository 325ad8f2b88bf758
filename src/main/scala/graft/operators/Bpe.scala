package graft.operators

import java.util.regex.{Matcher, Pattern}

import graft.Pin
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Byte-pair-encoding tokenizer TRAINING as a distributed job — the
  * op an LLM-data pipeline runs once per corpus before token counting
  * and sequence packing mean anything (Sennrich et al. 2016 semantics).
  *
  * Scale shape: the corpus is touched exactly once (a distinct-word
  * count aggregation — the only corpus-wide shuffle); every merge
  * iteration then runs over the VOCABULARY table, which is orders of
  * magnitude smaller (Heaps' law), as one partial-aggregated pair
  * count plus a one-row argmax. The chosen merge is model state (like
  * k-means centroids), applied to the vocab with a pure regexp column.
  * Encoding joins the corpus against the segmented vocab by word, so
  * each distinct word pays the merge chain once, not once per
  * occurrence.
  *
  * Merge application is the classic left-to-right non-overlapping
  * scan. On space-joined symbol strings that is a single
  * `regexp_replace` with lookaround boundaries (`(?<= )a b(?= )` on a
  * space-padded string): the boundaries assert whole-symbol matches
  * without consuming the shared separator, so "a a a a" under merge
  * (a,a) becomes "aa aa" exactly like the scan. DuckDB's RE2 has no
  * lookaround, so the oracle replays the same scan as a recursive-CTE
  * fold per word — two independent realizations of one contract.
  */
object Bpe {

  /** One learned merge: rank (1-based), the symbol pair, its count at
    * selection time. `a + b` is the new symbol.
    */
  final case class Merge(rank: Int, a: String, b: String, cnt: Long)

  /** Engine-identical tokenization for the trainer fixture queries:
    * lowercased [a-z]+ runs (ASCII-only so character symbolization is
    * byte-exact in both engines; real corpora would pre-NFC via
    * graft_nfc and extend the class).
    */
  def wordsCol(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  /** Distinct-word count table: (word, c). The ONE corpus-wide pass —
    * a partial-aggregated groupBy, same shape as wc.
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(wordsCol(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).cast(LongType).as("c"))

  /** Initial segmentation: every character a symbol plus the word-end
    * marker, space-joined ("low" -> "l o w </w>").
    */
  private def initSeg(word: Column): Column =
    concat(regexp_replace(word, "(.)", "$1 "), lit("</w>"))

  /** The merge-application column: left-to-right non-overlapping
    * replacement of `a b` by `ab` at whole-symbol boundaries.
    */
  private def applyMergeCol(seg: Column, a: String, b: String): Column = {
    val pat = "(?<= )" + Pattern.quote(a) + " " + Pattern.quote(b) + "(?= )"
    val rep = Matcher.quoteReplacement(a + b)
    trim(regexp_replace(concat(lit(" "), seg, lit(" ")), pat, rep))
  }

  /** Train `nMerges` merges over a (word, c) table. Returns the merge
    * list (model state) and the final segmented vocabulary
    * (word, c, seg). Stops early when no pair reaches `minCount`.
    *
    * Each iteration is one vocab-scale aggregation job plus one
    * vocab-scale pin (previous iteration's blocks are
    * released, so lineage and storage stay O(1) in the iteration
    * count). Ties break on (count desc, a asc, b asc) — fully
    * deterministic and partition-layout invariant because pair counts
    * are exact Long sums.
    */
  def train(words: DataFrame, nMerges: Int, minCount: Long = 2L)
      : (Seq[Merge], DataFrame) = {
    require(nMerges >= 0 && minCount >= 1)
    var vocab = Pin(words
      .select(col("word"), col("c").cast(LongType).as("c"),
        initSeg(col("word")).as("seg")))
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var done = nMerges == 0
    while (!done) {
      val syms = split(col("seg"), " ")
      // fully-merged words have ONE symbol: sequence(0, -1) would run
      // DESCENDING in Spark, so the pair array must be guarded empty
      val best = vocab
        .select(col("c"), syms.as("s"))
        .where(size(col("s")) >= 2)
        .select(col("c"), explode(
          transform(sequence(lit(0), size(col("s")) - 2),
            i => struct(element_at(col("s"), i + 1).as("a"),
                        element_at(col("s"), i + 2).as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("c").as("cnt"))
        .orderBy(desc("cnt"), asc("a"), asc("b"))
        .limit(1).collect()
      if (best.isEmpty || best(0).getAs[Long]("cnt") < minCount) done = true
      else {
        val (a, b, cnt) = (best(0).getAs[String]("a"),
          best(0).getAs[String]("b"), best(0).getAs[Long]("cnt"))
        merges += Merge(rank, a, b, cnt)
        val prev = vocab
        vocab = Pin(vocab
          .withColumn("seg", applyMergeCol(col("seg"), a, b)))
        Pin.release(prev)
        rank += 1
        if (rank > nMerges) done = true
      }
    }
    (merges.result(), vocab)
  }

  /** Segment an arbitrary (word) frame with an already-learned merge
    * list: pure chained regexp columns, no jobs.
    */
  def segmentCol(word: Column, merges: Seq[Merge]): Column =
    merges.foldLeft(initSeg(word))((seg, m) => applyMergeCol(seg, m.a, m.b))

  /** Encode documents with a learned merge list: (idCol, n_words,
    * n_tokens). Distinct words pay the merge chain once; the corpus
    * joins the segmented vocab by word (AQE picks broadcast when the
    * vocab is small enough).
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
             merges: Seq[Merge]): DataFrame = {
    val occ = docs.select(col(idCol), explode(wordsCol(col(textCol)))
      .as("word"))
    val vocab = occ.select("word").distinct()
      .withColumn("n_sym", size(split(segmentCol(col("word"), merges), " "))
        .cast(LongType))
    occ.join(vocab, "word")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"), sum("n_sym").as("n_tokens"))
  }
}
