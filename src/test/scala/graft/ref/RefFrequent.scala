package graft.ref

import graft.functions.MinHashF
import graft.model.{Doc, Span}
import graft.operators.FrequentParagraphs.Collector

import scala.collection.mutable

import org.apache.spark.sql.functions.udf

/** Sequential oracle for the frequent-paragraph stages: runs the shared
  * Collector state machine per domain over docs in global order (A3), and
  * the determinized filter semantics (A4: global-order occurrence counter,
  * smallest matching pdata_id) in one thread. Test oracle only.
  */
object RefFrequent {

  case class DomainDoc(domain: String, ord: Long, doc: Doc)

  def paragraphBands(doc: Doc, b: Int): Seq[Array[Long]] =
    doc.spans.filter(_.kind == "p")
      .map(s => MinHashF.bandHashes(MinHashF.signature(s.text), b))

  /** Row-at-a-time form of `FrequentParagraphs.paragraphBandsCol`: band
    * arrays for a document's text spans.
    */
  val paragraphBandsUdf = udf((paras: Seq[String], b: Int) =>
    paras.map(p => MinHashF.bandHashes(MinHashF.signature(p), b)))

  /** A3: (domain, pdata_id, bands, score, count) rows. */
  def collect(docs: Seq[DomainDoc], b: Int, decay: Double = 0.99,
              minFreq: Long = 2, decayThreshold: Double = 0.5,
              bootstrap: Map[String, Seq[(Array[Long], Double, Long)]] = Map.empty)
      : Seq[(String, Int, Seq[Long], Double, Long)] = {
    docs.groupBy(_.domain).toSeq.sortBy(_._1).flatMap { case (domain, ds) =>
      val c = new Collector(decay, decayThreshold)
      bootstrap.get(domain).foreach(c.bootstrap)
      ds.sortBy(_.ord).foreach { dd =>
        c.addDoc(dd.doc.doc_id, paragraphBands(dd.doc, b))
      }
      c.wrapUp(minFreq).map { case (id, pd) =>
        (domain, id, pd.bands.toSeq, pd.score, pd.count)
      }
    }
  }

  /** A4 with determinized semantics; returns surviving docs with spans
    * filtered and re-offset.
    */
  def filterFrequent(docs: Seq[DomainDoc], b: Int,
                     frequents: Seq[(String, Int, Seq[Long], Double, Long)],
                     oldFrequents: Seq[(String, Int, Seq[Long], Double, Long)] = Seq.empty,
                     minFreq: Long = 2): Seq[DomainDoc] = {
    def bandSets(fs: Seq[(String, Int, Seq[Long], Double, Long)])
        : Map[String, Seq[(Int, Array[Long])]] =
      fs.groupBy(_._1).map { case (d, rows) =>
        d -> rows.map(r => (r._2, r._3.toArray))
      }
    val freqByDomain = bandSets(frequents)
    val oldByDomain  = bandSets(oldFrequents)
    val counters = mutable.HashMap.empty[(String, Int), Long]

    def hits(pb: Array[Long], cands: Seq[(Int, Array[Long])]): Seq[Int] =
      cands.collect {
        case (id, fb) if pb.indices.exists(i => pb(i) == fb(i)) => id
      }

    docs.sortBy(_.ord).flatMap { dd =>
      val cands    = freqByDomain.getOrElse(dd.domain, Seq.empty)
      val oldCands = oldByDomain.getOrElse(dd.domain, Seq.empty)
      val pSpans   = dd.doc.spans.filter(_.kind == "p")
      val pBands   = paragraphBands(dd.doc, b)
      val oldHit = pBands.zipWithIndex.collect {
        case (pb, idx) if hits(pb, oldCands).nonEmpty => idx + 1
      }.toSet
      val freqFound: Map[Int, Int] = pBands.zipWithIndex.flatMap {
        case (pb, idx) if !oldHit.contains(idx + 1) =>
          val h = hits(pb, cands)
          if (h.nonEmpty) Some((idx + 1) -> h.min) else None
        case _ => None
      }.toMap
      val dropNew: Set[Int] = if (freqFound.nonEmpty) {
        val presentFreqIds = freqFound.values.toSet
        presentFreqIds.foreach { fid =>
          counters((dd.domain, fid)) =
            counters.getOrElse((dd.domain, fid), 0L) + 1
        }
        val seenEnough = presentFreqIds.filter(fid =>
          counters((dd.domain, fid)) >= minFreq)
        freqFound.collect { case (pId, fid) if seenEnough.contains(fid) => pId }
          .toSet
      } else Set.empty
      val dropAll = dropNew ++ oldHit
      var pIdx = 0
      val kept = dd.doc.spans.flatMap { s =>
        if (s.kind == "p") {
          pIdx += 1
          if (dropAll.contains(pIdx)) None else Some(s)
        } else Some(s)
      }
      if (kept.exists(_.kind == "p"))
        Some(dd.copy(doc = Doc(dd.doc.doc_id,
          kept.zipWithIndex.map { case (s, i) => s.copy(offset = i) })))
      else None
    }
  }
}
