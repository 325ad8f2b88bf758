package graft.operators

import graft.Pin
import graft.expressions.MinHashExpressions
import graft.functions.MinHashF
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import scala.collection.mutable

/** MinHash-LSH document deduplication (SURVEY.md §2.3 J5, §2.4 A1/A2,
  * §2.3 J4) — the reference's in-memory datasketch loop (scripts/lsh.py
  * :96–223) re-expressed distributed.
  *
  * Self-dedup (A1) is *order-dependent*: the reference streams docs in
  * order; a doc is dropped if its doc_id was already inserted or any LSH
  * band collides with a previously *kept* doc; kept docs are inserted.
  * Dropped docs never suppress later docs (first-wins chains).
  *
  * Distributed exactly:
  *   1. band table: explode each signature into (band, band_hash)
  *   2. connectivity edges: per band bucket, *chain* consecutive ords
  *      (k-1 edges instead of k²/2 — a clique and its chain have the same
  *      components), plus chains over same-doc_id ords (the `key in lsh`
  *      check couples equal ids across text variants)
  *   3. connected components by min-label propagation with pointer
  *      jumping (converges in O(log diameter) joins, no GraphFrames)
  *   4. per-component sequential replay of the insert/query loop in
  *      `flatMapGroups` — components are the parallel unit; the replay
  *      state (inserted band set + id set) is bounded by component size.
  *
  * Cross-dedup (A2) is query-only and order-insensitive: one anti band
  * join against the seen batch.
  */
object LshDedup {

  /** Attach band hashes (single pass: signature + banding fused in the
    * native Catalyst expression — stays in whole-stage codegen, no UDF
    * encoder round-trip). Input needs (doc_id, ord, text); `b` = bands.
    */
  def minhashed(docs: DataFrame, b: Int,
                textCol: String = "text"): DataFrame = {
    docs.withColumn("bands", MinHashExpressions.bandsCol(col(textCol), b))
  }

  /** (doc_id, ord, band, bhash) — one row per band. */
  def bandTable(mh: DataFrame): DataFrame =
    mh.select(col("doc_id"), col("ord"),
              posexplode(col("bands")).as(Seq("band", "bhash")))

  /** Connectivity edges: chains within each band bucket + same-doc_id
    * chains. Returned as (src, dst) ord pairs with src < dst.
    */
  private def chainEdges(mh: DataFrame): DataFrame = {
    val spark = mh.sparkSession
    import spark.implicits._
    val bandChains = bandTable(mh)
      .groupBy("band", "bhash")
      .agg(sort_array(collect_list("ord")).as("ords"))
      .filter(size(col("ords")) > 1)
      .select(explode(expr(
        "transform(slice(ords, 1, size(ords) - 1), (x, i) -> struct(x as src, ords[i + 1] as dst))"))
        .as("e"))
      .select($"e.src", $"e.dst")
    val idChains = mh
      .groupBy("doc_id")
      .agg(sort_array(collect_list("ord")).as("ords"))
      .filter(size(col("ords")) > 1)
      .select(explode(expr(
        "transform(slice(ords, 1, size(ords) - 1), (x, i) -> struct(x as src, ords[i + 1] as dst))"))
        .as("e"))
      .select($"e.src", $"e.dst")
    bandChains.unionByName(idChains).distinct()
  }

  /** Min-label propagation with pointer jumping over (src, dst) edges.
    * Returns (ord, comp) for every node appearing in an edge.
    *
    * Every iteration ends in a [[graft.Pin]]: iterative DataFrame
    * loops otherwise double their logical plan each round (persist caches
    * data but does NOT truncate lineage), so planning cost grows
    * geometrically and one lost executor recomputes the whole chain. The
    * pin materializes the (tiny) label table and restarts lineage from
    * it — constant plan size, constant per-iteration cost. A round's
    * labels are freed once the next round's are materialized.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 25,
                          localThreshold: Long = 2000000L): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    // Hybrid solve: the edge set after chain-compression is ~the number
    // of near-duplicate relations — typically orders of magnitude
    // smaller than the corpus. When it fits one task, a single
    // executor-side union-find replaces the whole iterate-join-
    // checkpoint loop (~6 jobs/iteration) with ONE job; above the
    // threshold the distributed min-label/pointer-jump loop runs.
    // Labels match the loop exactly: component = min member ord.
    // The edges are pinned first (their count observed on the pin job),
    // so either solve reads the pin instead of re-running the edge chain.
    // The local solve's lazy result still reads the pin, so it is left
    // to the context cleaner there; the loop below releases it.
    val obsEdges = Observation("cc_edges")
    val pinned = Pin(edges.observe(obsEdges, count(lit(1)).as("n")))
    val nEdges = obsEdges.get("n").asInstanceOf[Long]
    if (nEdges <= localThreshold) {
      return pinned.select($"src", $"dst").as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = mutable.HashMap.empty[Long, Long]
          def find(x0: Long): Long = {
            var x = x0
            while (parent.getOrElse(x, x) != x) {
              val p = parent(x)
              parent(x) = parent.getOrElse(p, p) // path halving
              x = parent(x)
            }
            x
          }
          it.foreach { case (a, b) =>
            parent.getOrElseUpdate(a, a)
            parent.getOrElseUpdate(b, b)
            val ra = find(a); val rb = find(b)
            if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
          }
          // min-root labels: union-by-min keeps the root the minimum.
          // Materialize the key set before mapping find() over it — find
          // mutates the map (path halving), and mutating a HashMap while
          // consuming its keysIterator is undocumented behavior.
          val ks = parent.keys.toArray
          ks.iterator.map(k => (k, find(k)))
        }
        .toDF("ord", "comp")
    }
    Pin.scoped { pin =>
      // released on exit: unpersists sym and frees the edge pin under it
      val sym = pin.hold(pinned.select($"src".as("a"), $"dst".as("b"))
        .unionByName(pinned.select($"dst".as("a"), $"src".as("b")))
        .persist(StorageLevel.MEMORY_AND_DISK))
      def checksum(df: DataFrame): java.math.BigDecimal =
        df.agg(sum($"comp".cast("decimal(38,0)"))).head().getDecimal(0)
      var labels = Pin(sym.groupBy($"a".as("ord"))
        .agg(least(min($"b"), first($"a")).as("comp")))
      var prevSum = checksum(labels)
      var iter = 0
      var converged = false
      while (iter < maxIter && !converged) {
        // neighbor min
        val viaNeighbors = sym
          .join(labels.withColumnRenamed("ord", "a"), Seq("a"))
          .groupBy($"b".as("ord")).agg(min($"comp").as("ncomp"))
        val stepped = labels.join(viaNeighbors, Seq("ord"), "left_outer")
          .select($"ord", least($"comp", coalesce($"ncomp", $"comp")).as("comp"))
        // pointer jump: comp <- label(comp). The self-join's two sides
        // share one plan below the rename -> the exchange is planned once
        // (ReuseExchange); the pin then materializes the result.
        val jumped = Pin(stepped.alias("l")
          .join(stepped.select($"ord".as("comp"), $"comp".as("ccomp")).alias("r"),
                Seq("comp"), "left_outer")
          .select($"ord", least($"comp", coalesce($"ccomp", $"comp")).as("comp")))
        // convergence probe: labels only ever decrease (least of mins), so
        // the label sum strictly decreases on any change — one tiny agg on
        // the pinned frame instead of a join against the previous one
        val newSum = checksum(jumped)
        converged = newSum == prevSum
        prevSum = newSum
        Pin.release(labels)
        labels = jumped
        iter += 1
      }
      // Non-convergence would mean WRONG components -> wrong dedup
      // survivors with no signal (the reference, single-process, cannot
      // have this failure mode). Fail loudly instead of shipping them:
      // with pointer jumping the iteration count is O(log diameter), so a
      // graph that legitimately needs more than maxIter rounds is
      // astronomically deep — treat hitting the cap as a bug, not a knob.
      if (!converged) {
        Pin.release(labels)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter iterations " +
          s"(label checksum still changing) — component labels would be " +
          s"wrong; raise maxIter only if the band graph is legitimately " +
          s"O(2^$maxIter) deep")
      }
      labels
    }
  }

  /** (ord, comp) for every input row: band-graph connected component
    * labeled by its minimum member ord (same-doc_id coupling included,
    * as in the replay); singletons label themselves. Exposes the CC
    * stage of selfDedup directly for inspection/oracling.
    */
  def components(mh: DataFrame): DataFrame = {
    val spark = mh.sparkSession
    import spark.implicits._
    val mhp   = Pin(mh)
    val comps = connectedComponents(chainEdges(mhp))
    mhp.select($"ord").join(comps, Seq("ord"), "left_outer")
      .withColumn("comp", coalesce($"comp", $"ord"))
  }

  /** Component-size histogram of the near-dup graph: how many
    * conflict sets of each size exist — the dedup HEALTH report
    * (a fat tail of giant components means the banding threshold is
    * merging unrelated docs; a wall of singletons means it's missing
    * dups). Two tiny aggs on top of [[components]].
    *
    * Output: (cluster_size, n_components).
    */
  def componentSizeHistogram(mh: DataFrame): DataFrame =
    components(mh)
      .groupBy(col("comp")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_components"))

  /** Quality-argmax representative selection over the near-dup
    * components: where [[selfDedup]] keeps the FIRST-seen doc of every
    * conflict set (the reference's insert/query replay), this keeps
    * the BEST one — per component, the row maximizing (`qCol` desc,
    * ord asc) survives. This is the curation-grade variant: when a
    * boilerplate family has one clean long copy and ten truncated
    * mirrors, first-wins keeps whichever crawled first; this keeps the
    * clean one. `quality` is any (ord, qCol) frame — chars, Gopher
    * score, model LLR. One join + one window, both keyed by
    * component/ord.
    *
    * Output: components(ord, comp) ⋈ quality + `kept`.
    */
  def dedupRepresentatives(mh: DataFrame, quality: DataFrame,
                           qCol: String = "q"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("comp"))
      .orderBy(col(qCol).desc, col("ord"))
    components(mh).join(quality, "ord")
      .withColumn("kept", row_number().over(w) === 1)
  }

  private case class ReplayDoc(doc_id: String, ord: Long, bands: Seq[Long])

  /** A1 self-dedup: survivors of the first-wins insert/query replay.
    * Returns the input rows (doc_id, ord) that are kept, with `doc_id`
    * in the INPUT column's exact dataType: the replay only ever compares
    * doc_ids for equality, so it stringifies them internally (injective
    * per column type), emits surviving `ord`s, and semi-joins back to
    * the source frame — the output schema is sliced from the input, not
    * re-encoded through a fixed tuple Encoder (which silently cast a
    * BIGINT doc_id to STRING in rounds 3–4).
    */
  def selfDedup(mh: DataFrame): DataFrame = {
    val spark = mh.sparkSession
    import spark.implicits._
    // a pin, not a cache: columnar caching of the bands array column is
    // slower than the minhash chain it memoizes
    val mhp    = Pin(mh)
    val edges  = chainEdges(mhp)
    val comps  = connectedComponents(edges)
    val member = mhp
      .select($"doc_id".cast("string").as("doc_id"), $"ord", $"bands")
      .join(comps, Seq("ord"), "left_outer")
      // singletons form their own component
      .withColumn("comp", coalesce($"comp", $"ord"))
      .select($"doc_id", $"ord", $"bands", $"comp")
      .as[(String, Long, Seq[Long], Long)]
    val keptOrds = member
      .groupByKey(_._4)
      .flatMapGroups { (_, it) =>
        val docs = it.map(t => ReplayDoc(t._1, t._2, t._3)).toArray
        java.util.Arrays.sort(docs, Ordering.by((d: ReplayDoc) => d.ord))
        val insertedIds   = mutable.HashSet.empty[String]
        val insertedBands = mutable.HashSet.empty[(Int, Long)]
        val out = mutable.ArrayBuffer.empty[Long]
        docs.foreach { d =>
          if (!insertedIds.contains(d.doc_id)) {
            val hit = d.bands.iterator.zipWithIndex
              .exists { case (h, i) => insertedBands.contains((i, h)) }
            if (!hit) {
              insertedIds += d.doc_id
              d.bands.iterator.zipWithIndex.foreach { case (h, i) =>
                insertedBands += ((i, h))
              }
              out += d.ord
            }
          }
        }
        out.iterator
      }
      .toDF("ord")
    // Join-back semi join: doc_id comes straight from the input frame,
    // type intact. No broadcast hint — survivors are typically MOST of
    // the corpus (dedup keeps the unique majority), so the right
    // strategy is AQE's call; a forced broadcast would OOM at scale.
    // Canonical output order: the kept SET is deterministic (per-component
    // replay over deterministic components), but emit order is
    // hash-partition order, stable per-plan yet not canonical across
    // environments — the sort is over the final (small) survivor set only.
    mhp.join(keptOrds, Seq("ord"), "left_semi")
      .select($"doc_id", $"ord")
      .orderBy("ord")
  }

  /** A2 cross-dedup: drop any new doc with a band collision against the
    * seen set (query-only, order-insensitive). `seenMh` needs (doc_id,
    * bands); returns surviving rows of `newMh`. For a long-lived seen
    * table prefer state.LshSeen + crossDedupBands — the packed-bands
    * form re-explodes and re-distincts the whole seen set on every dump.
    */
  def crossDedup(newMh: DataFrame, seenMh: DataFrame): DataFrame =
    crossDedupBands(newMh,
      seenMh.select(posexplode(col("bands")).as(Seq("band", "bhash")))
        .distinct())

  /** A2 against an already-exploded DISTINCT (band, bhash) table — the
    * exact shape state.LshSeen stores, so a compacted seen table joins
    * with no distinct pass. Caller guarantees distinctness (a duplicate
    * seen row cannot change the semi-join result, only its cost).
    */
  def crossDedupBands(newMh: DataFrame, seenBands: DataFrame): DataFrame = {
    val newBands = bandTable(newMh.select(col("doc_id"), col("ord"), col("bands")))
    val hitOrds = newBands
      .join(seenBands.select("band", "bhash"), Seq("band", "bhash"), "left_semi")
      .select("ord").distinct()
    newMh.join(hitOrds, Seq("ord"), "left_anti")
  }

  /** J4 dedup_filter: semi-join the corpus on surviving doc ids. */
  def dedupFilter(corpus: DataFrame, survivors: DataFrame,
                  idCol: String = "doc_id"): DataFrame =
    corpus.join(survivors.select(idCol).distinct(), Seq(idCol), "left_semi")

  /** Analytic banding S-curve for the configured (b, r): collision
    * probability p(s) = 1 − (1 − sʳ)ᵇ on a similarity grid, plus the
    * curve midpoint (1/b)^(1/r) — the table that justifies the LSH
    * configuration against its target threshold (and that
    * q_dedup_eval's empirical P/R then confirms). b and r must be
    * powers of two so every power is an exact square chain and the
    * midpoint an exact sqrt chain — no transcendental pow() crosses
    * the engine boundary. Output per grid point:
    * (k, s, p_collide, b, r, midpoint).
    */
  def sCurve(spark: SparkSession, b: Int, r: Int,
             gridN: Int = 20): DataFrame = {
    require(Integer.bitCount(b) == 1 && Integer.bitCount(r) == 1,
      "b and r must be powers of two for exact square/sqrt chains")
    def squares(x: org.apache.spark.sql.Column, e: Int) = {
      var c = x; var k = 1
      while (k < e) { c = c * c; k *= 2 }
      c
    }
    def roots(x: org.apache.spark.sql.Column, e: Int) = {
      var c = x; var k = 1
      while (k < e) { c = sqrt(c); k *= 2 }
      c
    }
    val s  = col("id").cast("double") / lit(gridN.toDouble)
    val qb = squares(lit(1.0) - squares(s, r), b)
    spark.range(1, gridN).select(
      col("id").as("k"), round(s, 4).as("s"),
      round(lit(1.0) - qb, 6).as("p_collide"),
      lit(b.toLong).as("b"), lit(r.toLong).as("r"),
      round(roots(lit(1.0) / lit(b.toDouble), r), 6).as("midpoint"))
  }
}
