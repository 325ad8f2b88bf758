package graft.ref

import graft.functions.TextAnalysis.{LangMarkers, langScoreCol}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The stopword-score language ID as Column algebra (padded-replace
  * counters per marker and an argmax chain over LangMarkers order, 'unk'
  * when every score is zero), kept as the parity reference for the
  * native `LangExpressions.langIdCol` (test oracle only).
  */
object RefLangId {

  def langIdCol(text: Column): Column = {
    val scores = LangMarkers.map { case (l, _) => l -> langScoreCol(text, l) }
    val maxAll = scores.map(_._2).reduce(greatest(_, _))
    scores.foldRight(lit("unk"): Column) { case ((l, s), elseC) =>
      when(s === maxAll && s > 0, lit(l)).otherwise(elseC)
    }
  }
}
