package graft.operators

import graft.expressions.MinHashExpressions
import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StructType}

import scala.collection.mutable

/** Per-domain frequent-paragraph ("domain boilerplate") detection and
  * removal (SURVEY.md §2.4 A3/A4; scripts/frequent_paragraphs.py:404–493,
  * 632–748): the MMDS decayed frequent-items algorithm keyed by domain.
  *
  * A3 collect is inherently sequential per domain — domains are the
  * parallel unit. Implemented as the secondary-sort idiom: repartition by
  * domain, sortWithinPartitions(domain, ord), then a single mapPartitions
  * pass running the state machine over consecutive same-domain runs (no
  * collect_list materialization — a hot domain streams through).
  *
  * A4 filter is one pass per domain as well (frequent_paragraphs.py:
  * 632–748), on the same idiom: the domain's frequents sort before its
  * docs, which then stream through their band index. It determinizes
  * the reference's racy cross-process counter
  * (frequent_paragraphs.py:634–640, Manager dict + lock: which copy
  * survives depends on worker timing) into rank-by-global-order: a doc's
  * matching paragraph is dropped iff the doc's occurrence rank for that
  * frequent is >= min_freq (first min_freq-1 occurrences survive), and a
  * paragraph matching several frequents counts the *smallest* pdata_id
  * (the reference takes an arbitrary dict-order hit). Same intent, now
  * partitioning-invariant.
  */
object FrequentParagraphs {

  /** Mutable PData (cc_corpus/frequent.py:19–50). */
  final class PDataMut(val bands: Array[Long], var score: Double,
                       var count: Long)

  /** The A3 state machine, shared verbatim by the distributed operator
    * and the sequential reference oracle (RefFrequent) — parity tests
    * cover the distributed plumbing around it.
    */
  final class Collector(decay: Double, decayThreshold: Double) {
    val freqPs  = mutable.LinkedHashMap.empty[String, PDataMut]
    private val buckets = mutable.HashMap.empty[(Int, Long), mutable.Set[String]]

    /** J6 bootstrap: seed the state from a previous run's frequents
      * (frequent_paragraphs.py:433–439 — pdatas inserted with their
      * carried score/count under synthetic 1-based keys).
      */
    def bootstrap(pdatas: Seq[(Array[Long], Double, Long)]): Unit =
      pdatas.zipWithIndex.foreach { case ((bands, score, count), i) =>
        val key = (i + 1).toString
        freqPs(key) = new PDataMut(bands, score, count)
        var b = 0
        while (b < bands.length) {
          buckets.getOrElseUpdate((b, bands(b)), mutable.Set.empty) += key
          b += 1
        }
      }

    /** Exact state restore (streaming continuation): re-inserts entries
      * under their ORIGINAL keys in the given order — unlike bootstrap,
      * which assigns synthetic keys for a new epoch. LinkedHashMap
      * order = insertion order, so snapshot→restore is the identity.
      */
    def restore(entries: Seq[(String, Array[Long], Double, Long)]): Unit =
      entries.foreach { case (key, bands, score, count) =>
        freqPs(key) = new PDataMut(bands, score, count)
        var b = 0
        while (b < bands.length) {
          buckets.getOrElseUpdate((b, bands(b)), mutable.Set.empty) += key
          b += 1
        }
      }

    /** Serializable state snapshot, insertion order preserved. */
    def snapshot: Seq[(String, Seq[Long], Double, Long)] =
      freqPs.iterator.map { case (k, pd) =>
        (k, pd.bands.toSeq, pd.score, pd.count)
      }.toSeq

    private def insert(key: String, bands: Array[Long]): Unit = {
      freqPs(key) = new PDataMut(bands, 1.0, 1L)
      var i = 0
      while (i < bands.length) {
        buckets.getOrElseUpdate((i, bands(i)), mutable.Set.empty) += key
        i += 1
      }
    }

    private def remove(key: String): Unit = {
      freqPs.remove(key).foreach { pd =>
        var i = 0
        while (i < pd.bands.length) {
          buckets.get((i, pd.bands(i))).foreach { s =>
            s -= key
            if (s.isEmpty) buckets.remove((i, pd.bands(i)))
          }
          i += 1
        }
      }
    }

    private def query(bands: Array[Long]): Set[String] = {
      val out = mutable.Set.empty[String]
      var i = 0
      while (i < bands.length) {
        buckets.get((i, bands(i))).foreach(out ++= _)
        i += 1
      }
      out.toSet
    }

    /** One document: decay, match/insert paragraphs, purge. */
    def addDoc(url: String, pBands: Seq[Array[Long]]): Unit = {
      freqPs.valuesIterator.foreach(_.score *= decay)
      val alreadyIncreased = mutable.Set.empty[String]
      pBands.zipWithIndex.foreach { case (mh, pIdx) =>
        var foundDup = false
        query(mh).foreach { dup =>
          if (!alreadyIncreased.contains(dup)) {
            val pd = freqPs(dup)
            pd.score += 1
            pd.count += 1
            alreadyIncreased += dup
            foundDup = true
          }
        }
        // no *new* increment (no hits, or — reference quirk — every hit
        // was already increased by an earlier paragraph of this doc)
        // -> insert as a fresh candidate
        if (!foundDup) {
          val key = url + "_" + (pIdx + 1)
          insert(key, mh)
          alreadyIncreased += key
        }
      }
      // purge: decay_filter default `score < 0.5` drops
      val toDrop = freqPs.iterator.collect {
        case (k, pd) if pd.score < decayThreshold => k
      }.toList
      toDrop.foreach(remove)
    }

    /** Domain wrap-up: frequents with count >= minFreq, insertion order,
      * 1-based pdata ids.
      */
    def wrapUp(minFreq: Long): Seq[(Int, PDataMut)] =
      freqPs.valuesIterator.filter(_.count >= minFreq).toSeq
        .zipWithIndex.map { case (pd, i) => (i + 1, pd) }
  }

  /** Paragraph band arrays for the text spans of a document, on the
    * codegen'd native expression (`graft_minhash_bands`).
    */
  def paragraphBandsCol(paras: org.apache.spark.sql.Column, b: Int): org.apache.spark.sql.Column =
    transform(paras, p => MinHashExpressions.bandsCol(p, b))

  def textSpans(spans: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(filter(spans, s => s.getField("kind") === "p"),
              s => s.getField("text"))

  /** Per-domain size guard for A3's forced serialization: collect() is
    * sequential per domain (the reference's state machine is too), so a
    * mega-domain is one task by construction. These metrics ride in the
    * pdata snapshot manifest so a 100× run sees the straggler coming
    * before it bites — one tiny partial-agg job over the domain column.
    */
  def domainSizeMetrics(docs: DataFrame): Map[String, Long] = {
    val row = docs.groupBy(col("domain")).agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_domains"),
           max(col("n")).as("max_domain_docs"),
           sum(col("n")).as("n_docs"))
      .head()
    Map("n_domains"       -> row.getLong(0),
        "max_domain_docs" -> row.getLong(1),
        "n_docs"          -> row.getLong(2))
  }

  /** A3: collect frequent paragraphs per domain. Input requires columns
    * (domain, ord, doc_id, pbands: array<array<long>>); output one row
    * per (domain, pdata_id) with bands, score, count.
    *
    * J6 bootstrap (previous epoch's pdata) is a domain-keyed JOIN, not a
    * driver collect+broadcast: bootstrap rows union into the doc stream
    * with a sort key that places them before every doc of their domain
    * (and in pdata_id order among themselves), so the one
    * repartition+sortWithinPartitions that already feeds the state
    * machine co-locates each domain's seed state with its docs. At 100×
    * the per-domain frequent state of a whole previous crawl never
    * touches the driver — it shuffles like any other table. Domains
    * present only in the bootstrap (no new docs) emit nothing, matching
    * the reference (frequent_paragraphs.py:433–439 seeds state only for
    * domains it is about to read). Docs and bootstrap rows with a null
    * domain yield no frequents: A4 matches nothing on a null domain, so
    * every paragraph of such a doc is kept.
    */
  def collect(docs: DataFrame, decay: Double = 0.99,
              minFreq: Long = 2, decayThreshold: Double = 0.5,
              bootstrapDf: Option[DataFrame] = None): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pbandsT = "array<array<bigint>>"
    val docRows = docs.select(
      $"domain", lit(1).as("__k"), lit(0L).as("__bord"),
      $"ord", $"doc_id".cast("string").as("doc_id"), $"pbands",
      array().cast("array<bigint>").as("__bbands"),
      lit(0.0).as("__bscore"), lit(0L).as("__bcount"))
    val unified = bootstrapDf match {
      case None => docRows
      case Some(bdf) =>
        // per-domain seed order MUST be canonical: Collector.bootstrap
        // assigns keys in seed order, so first-match/min semantics of
        // the frequent state depend on it. collect() output always
        // carries pdata_id; a frame without one would fall back to
        // partition-layout-dependent order and fork history between
        // environments — refuse instead.
        require(bdf.columns.contains("pdata_id"),
          "bootstrap frame must carry a pdata_id column (the per-domain " +
          "seed order); collect() output does — for hand-built frames " +
          "add an explicit order column named pdata_id")
        val bord = col("pdata_id").cast("long")
        docRows.unionByName(bdf.select(
          $"domain", lit(0).as("__k"), bord.as("__bord"),
          lit(0L).as("ord"), lit("").as("doc_id"),
          array().cast(pbandsT).as("pbands"),
          $"bands".as("__bbands"),
          $"score".cast("double").as("__bscore"),
          $"count".cast("long").as("__bcount")))
    }
    unified
      .filter($"domain".isNotNull)
      .repartition($"domain")
      .sortWithinPartitions($"domain", $"__k", $"__bord", $"ord")
      .as[(String, Int, Long, Long, String, Seq[Seq[Long]], Seq[Long], Double, Long)]
      .mapPartitions { it =>
        val out = mutable.ArrayBuffer.empty[(String, Int, Seq[Long], Double, Long)]
        var curDomain: String = null
        var collector: Collector = null
        val bootBuf = mutable.ArrayBuffer.empty[(Array[Long], Double, Long)]
        def flush(): Unit = if (collector != null) {
          collector.wrapUp(minFreq).foreach { case (id, pd) =>
            out += ((curDomain, id, pd.bands.toSeq, pd.score, pd.count))
          }
        }
        it.foreach { case (domain, k, _, _, docId, pbands, bbands, bscore, bcount) =>
          if (domain != curDomain) {
            flush()
            curDomain = domain
            collector = new Collector(decay, decayThreshold)
            bootBuf.clear()
          }
          if (k == 0) bootBuf += ((bbands.toArray, bscore, bcount))
          else {
            if (bootBuf.nonEmpty) {
              collector.bootstrap(bootBuf.toSeq)
              bootBuf.clear()
            }
            collector.addDoc(docId, pbands.map(_.toArray))
          }
        }
        flush()
        out.iterator
      }
      .toDF("domain", "pdata_id", "bands", "score", "count")
  }

  /** A4: remove frequent paragraphs. `docs` needs (domain, ord, spans,
    * pbands); its other columns pass through. `frequents`/`oldFrequents`
    * as produced by `collect` (domain, pdata_id, bands). Returns docs with
    * spans filtered, re-offset, and empty-text docs dropped. A null
    * domain matches nothing. Docs sharing one (domain, ord) count as one
    * doc and drop their merged hits. A doc with a null ord fails loudly.
    */
  def filterFrequent(docs: DataFrame, frequents: DataFrame,
                     oldFrequents: Option[DataFrame] = None,
                     minFreq: Long = 2): DataFrame = {
    // the column order this API has always returned: (domain, ord) first
    val cols = Seq("domain", "ord") ++ docs.columns.filterNot(Set("domain", "ord"))
    val outT = StructType(cols.map(docs.schema(_)))
    val bandsT = ArrayType(LongType)
    def freqRows(f: DataFrame, old: Boolean) = f.select(col("domain"),
      lit(0).as("__k"), col("pdata_id").cast(LongType).as("__o"),
      lit(old).as("__old"), col("bands").cast(bandsT).as("__fb"),
      lit(null).cast(outT).as("__doc"))
    val docRows = docs.select(col("domain"),
      lit(1).as("__k"), col("ord").cast(LongType).as("__o"),
      lit(false).as("__old"), lit(null).cast(bandsT).as("__fb"),
      struct(cols.map(col): _*).as("__doc"))
    (docRows +: freqRows(frequents, old = false) +:
      oldFrequents.map(freqRows(_, old = true)).toSeq)
      .reduce(_ unionByName _)
      .repartition(col("domain"))
      .sortWithinPartitions(col("domain"), col("__k"), col("__o"))
      .mapPartitions(filterPass(_, minFreq))(Encoders.row(outT))
  }

  /** `filterFrequent`'s pass over one sorted partition: per domain, the
    * frequents build the (band, bhash) → min pdata_id index and the old
    * band set, then the domain's docs stream through it in ord order.
    */
  private def filterPass(rows: Iterator[Row], minFreq: Long): Iterator[Row] = {
    type Bands = collection.Seq[java.lang.Long]
    def bandKeys(bands: Bands): Iterator[(Int, Long)] =
      bands.iterator.zipWithIndex.collect {
        case (h, j) if h != null => (j, h.longValue)
      }
    val in = rows.buffered
    val unset = new AnyRef // no domain seen yet; null is a domain value
    var domain: Any = unset
    val index = mutable.HashMap.empty[(Int, Long), Long]
    val old   = mutable.HashSet.empty[(Int, Long)]
    val occurrences = mutable.HashMap.empty[Long, Long]
    def sameDomain(r: Row) = java.util.Objects.equals(r.get(0), domain)

    // p_ids (1-based paragraph positions) a run of docs drops
    def drops(group: collection.Seq[Row]): collection.Set[Long] = {
      val oldHit = mutable.HashSet.empty[Long]
      val freqOf = mutable.HashMap.empty[Long, Long] // p_id -> min pdata_id
      for (r <- group; pbands = r.getStruct(5).getAs[collection.Seq[Bands]]("pbands")
           if pbands != null; (bands, i) <- pbands.zipWithIndex if bands != null;
           key <- bandKeys(bands)) {
        if (old.contains(key)) oldHit += i + 1L
        index.get(key).foreach { f =>
          freqOf(i + 1L) = math.min(f, freqOf.getOrElse(i + 1L, f))
        }
      }
      freqOf --= oldHit
      val due = freqOf.valuesIterator.toSet.filter { f =>
        occurrences(f) = occurrences.getOrElse(f, 0L) + 1
        occurrences(f) >= minFreq
      }
      oldHit ++ freqOf.collect { case (pid, f) if due(f) => pid }
    }

    // the doc without its dropped paragraphs, re-offset; None if no
    // paragraph is left
    def kept(doc: Row, drop: collection.Set[Long]): Option[Row] = {
      def isP(s: Row) = s.getAs[String]("kind") == "p"
      if (doc.getAs[AnyRef]("spans") == null) return None
      var pIdx = 0L
      val spans = doc.getAs[collection.Seq[Row]]("spans").filter { s =>
        if (isP(s)) pIdx += 1
        !(isP(s) && drop.contains(pIdx))
      }
      if (!spans.exists(isP)) None
      else Some(Row.fromSeq(doc.toSeq.updated(doc.fieldIndex("spans"),
        spans.zipWithIndex.map { case (s, i) =>
          Row.fromSeq(s.toSeq.updated(s.fieldIndex("offset"), i)) })))
    }

    in.flatMap { r =>
      if (!sameDomain(r)) {
        domain = r.get(0)
        index.clear(); old.clear(); occurrences.clear()
      }
      if (r.getInt(1) == 0) {
        if (domain != null && !r.isNullAt(4))
          bandKeys(r.getAs[Bands](4)).foreach { key =>
            if (r.getBoolean(3)) old += key
            // a new frequent without a pdata_id is never the min hit
            else if (!r.isNullAt(2))
              index(key) = math.min(r.getLong(2), index.getOrElse(key, Long.MaxValue))
          }
        Iterator.empty
      } else {
        require(!r.isNullAt(2), "filterFrequent: a doc with a null ord " +
          s"has no place in its domain's occurrence order (domain $domain)")
        val group = mutable.ArrayBuffer(r)
        while (in.hasNext && in.head.getInt(1) == 1 && sameDomain(in.head) &&
               in.head.getLong(2) == r.getLong(2)) group += in.next()
        val drop = if (domain == null) Set.empty[Long] else drops(group)
        group.iterator.flatMap(g => kept(g.getStruct(5), drop))
      }
    }
  }
}
