package graft.ref

import graft.functions.MinHashF
import graft.model.{Doc, Span}
import graft.operators.FrequentParagraphs.Collector

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sequential oracle for the frequent-paragraph stages: runs the shared
  * Collector state machine per domain over docs in global order (A3), and
  * the determinized filter semantics (A4: global-order occurrence counter,
  * smallest matching pdata_id) in one thread. Test oracle only.
  *
  * It also keeps the join/window form of A4 (`filterFrequentChain`) that
  * the per-domain pass of `FrequentParagraphs.filterFrequent` replaced,
  * as a second, distributed oracle for it.
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

  /** A4 as a chain of joins, a window and aggregates over exploded band
    * rows: docs need (domain, ord, doc_id, spans, pbands); frequents as
    * produced by `collect` (domain, pdata_id, bands). Same semantics as
    * `FrequentParagraphs.filterFrequent`, keyed by (domain, ord).
    */
  def filterFrequentChain(docs: DataFrame, frequents: DataFrame,
                          oldFrequents: Option[DataFrame] = None,
                          minFreq: Long = 2): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._

    // paragraph-level band rows: (domain, ord, p_id, band, bhash)
    val pBandRows = docs.select($"domain", $"ord",
        posexplode($"pbands").as(Seq("p_idx", "bands")))
      .select($"domain", $"ord", ($"p_idx" + 1).as("p_id"),
        posexplode($"bands").as(Seq("band", "bhash")))

    def freqBandRows(f: DataFrame) = f.select($"domain", $"pdata_id",
        posexplode($"bands").as(Seq("band", "bhash")))

    // old frequents: any collision -> drop all occurrences. When there
    // are none (first run), skip the anti-join and union stages entirely
    // instead of scheduling them against an empty frame.
    val oldHits = oldFrequents.map { of =>
      pBandRows.join(freqBandRows(of).drop("pdata_id"),
                     Seq("domain", "band", "bhash"), "left_semi")
        .select($"domain", $"ord", $"p_id").distinct()
    }

    // new frequents: smallest matching pdata_id per paragraph, old hits
    // excluded (the reference filters them out before matching)
    val newBase = oldHits match {
      case Some(oh) => pBandRows.join(oh, Seq("domain", "ord", "p_id"), "left_anti")
      case None     => pBandRows
    }
    val newHits = newBase
      .join(freqBandRows(frequents), Seq("domain", "band", "bhash"))
      .groupBy("domain", "ord", "p_id")
      .agg(min("pdata_id").as("freq_id"))

    // occurrence rank of each (domain, freq_id) over docs in ord order;
    // the doc's hit is dropped iff rank >= min_freq
    val docFreq = newHits.select($"domain", $"ord", $"freq_id").distinct()
    val ranked = docFreq.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy($"domain", $"freq_id").orderBy($"ord")))
    val dropNew = newHits
      .join(ranked.filter($"rank" >= minFreq), Seq("domain", "ord", "freq_id"))
      .select($"domain", $"ord", $"p_id")

    val dropAll = oldHits.fold(dropNew)(oh => dropNew.unionByName(oh))
      .distinct()
      .groupBy("domain", "ord")
      .agg(collect_set($"p_id").as("drop_pids"))

    // drop matched paragraphs + re-offset, as a pure column fold (same
    // pattern as DocPipeline.sameDocDedup) — stays in codegen, no UDF
    val spanArrayT = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    val pids = coalesce($"drop_pids", array().cast("array<bigint>"))
    val folded = aggregate(
      $"spans",
      struct(lit(0L).as("pidx"), array().cast(spanArrayT).as("kept")),
      (acc, s) => {
        val isP  = s.getField("kind") === "p"
        val pIdx = acc.getField("pidx") + when(isP, 1L).otherwise(0L)
        val dropIt = isP && array_contains(pids, pIdx)
        struct(
          pIdx.as("pidx"),
          when(dropIt, acc.getField("kept"))
            .otherwise(concat(acc.getField("kept"), array(s))).as("kept"))
      },
      acc => acc.getField("kept"))
    val reoffset = transform(folded, (s, i) =>
      struct(s.getField("kind").as("kind"), s.getField("text").as("text"),
             s.getField("media_ref").as("media_ref"),
             i.cast("int").as("offset")))

    docs.join(dropAll, Seq("domain", "ord"), "left_outer")
      .withColumn("spans", reoffset)
      .drop("drop_pids")
      .filter(size(filter($"spans", s => s.getField("kind") === "p")) > 0)
  }
}
