package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** SentencePiece-style unigram-LM tokenizer: a piece vocabulary scored
  * by corpus frequency and a per-word Viterbi segmentation minimizing
  * total −log₁₀ p(piece), in exact integer micro-units so an oracle can
  * replay every step.
  *
  * Training (the model pass, all map-side-combining aggregations):
  *   1. words = lowercased [a-z]+ runs (Bpe.wordsCol semantics);
  *   2. piece counts = every substring of length 1..MaxPieceLen of
  *      every word OCCURRENCE (multiplicity counts);
  *   3. vocab = top `vocabSize` pieces by (count desc, piece asc) ∪ all
  *      single-char pieces (segmentability guarantee);
  *   4. cost(piece) = −round(round(log₁₀(cnt/total), 6)·10⁶) ≥ 0, the
  *      repo's proven cross-engine float chain (NgramLM.scala), where
  *      total sums counts over the SELECTED vocab.
  *
  * Segmentation (pure per-row column folds, zero shuffle beyond the
  * distinct-word dedup): Viterbi DP over word positions with candidate
  * pieces of length 1..MaxPieceLen; candidates pack as cost·8+len so
  * array_min gives "min cost, tie → SHORTEST piece" in one exact
  * integer comparison. The model ships as a literal map (a few hundred
  * entries collected to the driver — the same model-to-plan pattern as
  * Bpe.train), so executors pay a hash lookup per candidate, not a
  * join.
  *
  * The reference pipeline tokenizes with external tools; this is the
  * engine-native scale path: distinct words pay the DP once, the
  * corpus joins back by word (AQE broadcasts the vocab side).
  */
object UnigramLm {

  val MaxPieceLen = 4

  case class Piece(piece: String, cnt: Long, costMicro: Long)

  /** Piece-occurrence counts: (piece, cnt) over all word occurrences.
    * Distinct words first (Heaps' law: the vocabulary is orders of
    * magnitude smaller than the occurrence stream), then the substring
    * explosion runs once per DISTINCT word and each piece row carries
    * the word's occurrence count — sum(weight) ≡ the old per-occurrence
    * count(*), with the O(len·MaxPieceLen) interpreted substring lambda
    * paid vocab-many times instead of corpus-many times (the same
    * distinct-words-pay-once discipline encode and Bpe already use).
    */
  def pieceCounts(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val words = docs.select(explode(Bpe.wordsCol(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("__wc"))
    // stage the word column, then explode (start, len) pairs
    words
      .select(col("__wc"), explode(transform(
        flatten(transform(sequence(lit(1), length(col("word"))), st =>
          transform(
            sequence(lit(1),
              least(lit(MaxPieceLen), length(col("word")) - st + 1)),
            ln => struct(st.as("st"), ln.as("ln"))))),
        p => col("word").substr(p.getField("st"), p.getField("ln"))))
        .as("piece"))
      .groupBy("piece").agg(sum("__wc").cast(LongType).as("cnt"))
  }

  /** Train the vocabulary: top-V by (cnt desc, piece asc) ∪ single
    * chars, costs in micro −log₁₀ units. Collects the few-hundred-row
    * model to the driver (model-to-plan, not a data-path collect).
    */
  def trainVocab(docs: DataFrame, vocabSize: Int = 256,
                 textCol: String = "text"): Seq[Piece] = {
    val pc = pieceCounts(docs, textCol)
    val top = pc
      .withColumn("__rn", row_number().over(
        Window.orderBy(desc("cnt"), asc("piece"))))
      .filter(col("__rn") <= vocabSize).drop("__rn")
    val sel = top.union(pc.filter(length(col("piece")) === 1)).distinct()
    val total = sel.agg(sum("cnt")).head.getLong(0)
    val lp = round(log10(col("cnt").cast("double") / lit(total.toDouble)), 6)
    sel
      .select(col("piece"), col("cnt"),
        (-round(lp * 1e6, 0)).cast(LongType).as("cost_micro"))
      .collect()
      .map(r => Piece(r.getString(0), r.getLong(1), r.getLong(2)))
      .toSeq
  }

  /** Viterbi segmentation of a word column against a literal cost map:
    * returns struct(seg array<string>, cost_micro bigint). The word
    * column MUST be a plain attribute: higher-order lambdas evaluate
    * their argument subtree once per element.
    */
  def segmentCol(word: Column, vocab: Seq[Piece]): Column = {
    val vmap = typedlit(vocab.map(p => p.piece -> p.costMicro).toMap)
    val L    = length(word).cast("long")
    // forward DP: acc = struct(best array<bigint>, par array<bigint>)
    val init = struct(
      array(lit(0L)).as("best"),
      array(lit(0L)).as("par"))
    val fwd = aggregate(sequence(lit(1L), L), init, (acc, i) => {
      val cands = filter(
        transform(sequence(lit(1L), lit(MaxPieceLen.toLong)), l => {
          val cost = element_at(vmap, word.substr(
            (i - l + 1).cast("int"), l.cast("int")))
          when(l <= i && cost.isNotNull,
            (element_at(acc.getField("best"), (i - l + 1).cast("int"))
              + cost) * 8L + l)
            .otherwise(lit(null).cast("bigint"))
        }),
        c => c.isNotNull)
      val packed = array_min(cands)
      // packed ≥ 0: shiftright/bitwiseAND decode exactly (Column `/`
      // would promote to double)
      struct(
        concat(acc.getField("best"),
          array(shiftright(packed, 3))).as("best"),
        concat(acc.getField("par"),
          array(packed.bitwiseAND(lit(7L)))).as("par"))
    })
    // backtrace: walk i from L to 0 prepending pieces (≤ L steps)
    val btInit = struct(L.as("i"), array().cast("array<string>").as("seg"))
    def bt(parArr: Column) =
      aggregate(sequence(lit(1L), L), btInit, (acc, _) => {
        val i = acc.getField("i")
        val l = element_at(parArr, (i + 1).cast("int"))
        when(i > 0, struct(
          (i - l).as("i"),
          concat(array(word.substr((i - l + 1).cast("int"), l.cast("int"))),
            acc.getField("seg")).as("seg")))
          .otherwise(acc)
      })
    struct(
      bt(fwd.getField("par")).getField("seg").as("seg"),
      element_at(fwd.getField("best"), (L + 1).cast("int"))
        .cast(LongType).as("cost_micro"))
  }

  /** Encode documents: one row per word occurrence —
    * (idCol, wi 1-based, word, seg '|'-joined, n_pieces, cost_micro).
    * Distinct words pay the Viterbi once; occurrences join back.
    */
  def encode(docs: DataFrame, vocab: Seq[Piece], idCol: String = "doc_id",
             textCol: String = "text"): DataFrame = {
    val occ = docs
      .select(col(idCol), posexplode(Bpe.wordsCol(col(textCol)))
        .as(Seq("__p", "word")))
      .select(col(idCol), (col("__p") + 1).cast(LongType).as("wi"),
        col("word"))
    val seg = occ.select("word").distinct()
      .select(col("word"), segmentCol(col("word"), vocab).as("__s"))
      .select(col("word"),
        array_join(col("__s.seg"), "|").as("seg"),
        size(col("__s.seg")).cast(LongType).as("n_pieces"),
        col("__s.cost_micro").as("cost_micro"))
    occ.join(seg, "word")
      .select(col(idCol), col("wi"), col("word"), col("seg"),
        col("n_pieces"), col("cost_micro"))
  }
}
