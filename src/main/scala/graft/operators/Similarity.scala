package graft.operators

import graft.Pin
import graft.functions.TextAnalysis
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search + near-duplicate detection over embeddings and
  * simhash fingerprints (training-data pipeline surface; not in the
  * reference — new first-class components per the builder brief).
  */
object Similarity {

  /** Cosine similarity of an array<double> column against a literal
    * query vector, via the native graft_dot expression (same sequential
    * left-to-right fold as the zip_with+aggregate chain it replaced, so
    * values — and the DuckDB oracles — are bit-identical; but no
    * per-row intermediate array allocation). Caller must have run
    * `VectorExpressions.register` on the session.
    */
  def cosineCol(emb: Column, query: Seq[Double]): Column = {
    val q     = array(query.map(lit): _*)
    val dot   = graft.expressions.VectorExpressions.dotCol(emb, q)
    val normA = sqrt(graft.expressions.VectorExpressions.dotCol(emb, emb))
    val normQ = math.sqrt(query.map(x => x * x).sum)
    dot / (normA * lit(normQ))
  }

  /** Brute-force top-k by cosine against one query vector. Scale path:
    * the scan is embarrassingly parallel; the top-k is a TakeOrdered —
    * no full sort materialization.
    */
  def bruteForceTopK(embeddings: DataFrame, query: Seq[Double], k: Int,
                     idCol: String = "vec_id",
                     embCol: String = "embedding"): DataFrame = {
    graft.expressions.VectorExpressions.register(embeddings.sparkSession)
    embeddings
      .withColumn("sim", round(cosineCol(col(embCol).cast("array<double>"),
                                         query), 4))
      .select(col(idCol), col("sim"))
      .orderBy(desc("sim"), col(idCol).asc)
      .limit(k)
  }

  /** Deterministic pseudo-gaussian hyperplanes (sum of seeded uniforms).
    * Public so the DuckDB oracle can embed the identical literals.
    */
  def planes(nPlanes: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] =
    (0 until nPlanes).map { p =>
      (0 until dim).map { d =>
        val u = (0 until 4).map(r =>
          graft.fixtures.CrawlFixtures.draw(seed + p * 1000 + d, 50 + r,
                                            1 << 20).toDouble / (1 << 20))
        u.sum - 2.0
      }
    }

  /** LSH-bucketed ANN: random-hyperplane signatures (simhash for vectors)
    * put near vectors in shared buckets; queries only scan their bucket
    * union. `planes` deterministic from the seed. This is the 100-TB
    * path: bucket id is a partition key, the per-bucket scan is local.
    * The sign test rounds the dot product to 8dp so engines summing in a
    * different order (the oracle) agree on the bucket bit.
    */
  def hyperplaneBuckets(embeddings: DataFrame, nPlanes: Int, dim: Int,
                        seed: Long = 42L,
                        embCol: String = "embedding"): DataFrame = {
    graft.expressions.VectorExpressions.register(embeddings.sparkSession)
    val sigBits = planes(nPlanes, dim, seed).zipWithIndex.map { case (plane, i) =>
      val dot = graft.expressions.VectorExpressions.dotCol(
        col(embCol).cast("array<double>"), array(plane.map(lit): _*))
      when(round(dot, 8) > 0, lit(1L << i)).otherwise(lit(0L))
    }
    embeddings.withColumn("bucket",
      sigBits.reduce((a, b) => a.bitwiseOR(b)))
  }

  /** ANN query: multi-probe bucket search. Candidates are vectors whose
    * hyperplane bucket differs from the query's in <= maxHamming bits
    * (flipping one plane's sign probes the adjacent buckets — standard
    * multi-probe LSH), verified by exact cosine, top-k returned. At scale
    * the bucket column is the partition key: the probe reads
    * nPlanes+1 buckets, not the corpus; the head() is a single-row
    * query-vector lookup, not a data collect.
    */
  def annSearch(embeddings: DataFrame, queryVecId: Long, k: Int,
                nPlanes: Int, dim: Int, maxHamming: Int = 1,
                seed: Long = 42L,
                idCol: String = "vec_id",
                embCol: String = "embedding"): DataFrame = {
    val bucketed = hyperplaneBuckets(embeddings, nPlanes, dim, seed, embCol)
    val q = bucketed.filter(col(idCol) === queryVecId)
      .select(col("bucket"), col(embCol).cast("array<double>")).head()
    val qBucket = q.getLong(0)
    val qVec    = q.getSeq[Double](1)
    val cands = bucketed.filter(
      col(idCol) =!= queryVecId &&
        expr(s"bit_count(bucket ^ ${qBucket}L) <= $maxHamming"))
    bruteForceTopK(cands.drop("bucket"), qVec, k, idCol, embCol)
  }

  /** Deterministic IVF coarse quantizer (the second ANN scale path next
    * to hyperplane LSH): k-means over the embedding column with
    * deterministic init (the k smallest vec_ids' embeddings) and a FIXED
    * iteration count; per-iteration centroid means round to 6dp and
    * assignment distances to 8dp, so the quantizer is reproducible
    * across engines — the DuckDB oracle replays the iterations unrolled.
    * Centroids are model state (k×dim doubles — metadata scale), held on
    * the driver and broadcast into pure column expressions: assignment
    * is codegen'd per row, no shuffle. At corpus scale `list_id` is the
    * partition key — a probe reads nProbe lists, not the corpus.
    */
  def ivfCentroids(embeddings: DataFrame, k: Int, iters: Int,
                   idCol: String = "vec_id",
                   embCol: String = "embedding"): Array[Array[Double]] = {
    graft.expressions.VectorExpressions.register(embeddings.sparkSession)
    var cents: Array[Array[Double]] = embeddings
      .orderBy(col(idCol).asc).limit(k)
      .select(col(embCol).cast("array<double>"))
      .collect().map(_.getSeq[Double](0).toArray)
    Pin.scoped { pin =>
      // one materialization feeds every iteration — each k-means pass
      // otherwise re-reads (and re-decodes) the source per iteration
      val e = pin(embeddings.select(col(embCol).cast("array<double>").as("v")))
      (1 to iters).foreach { _ =>
        val assigned = e.withColumn("cid", assignListCol(col("v"), cents))
        val dims = assigned
          .select(col("cid"), posexplode(col("v")).as(Seq("idx", "x")))
          .groupBy("cid", "idx")
          .agg(round(avg("x"), 6).as("m"))
          .groupBy("cid")
          .agg(sort_array(collect_list(struct(col("idx"), col("m")))).as("ms"))
          .select(col("cid"), expr("transform(ms, s -> s.m)").as("c"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
        // empty clusters keep their previous centroid
        cents = cents.indices.map(i => dims.getOrElse(i, cents(i))).toArray
      }
    }
    cents
  }

  /** Nearest-centroid id as a pure column: argmin of rounded squared L2
    * distance over the centroid literals, centroid-id tie-break.
    */
  def assignListCol(v: Column, cents: Array[Array[Double]]): Column = {
    val entries = cents.zipWithIndex.map { case (c, i) =>
      val dist = round(graft.expressions.VectorExpressions.sqDistCol(
        v, array(c.map(lit): _*)), 8)
      struct(dist.as("d"), lit(i).as("cid"))
    }
    array_min(array(entries: _*)).getField("cid")
  }

  /** IVF-ANN query: assign the corpus to inverted lists, probe the
    * nProbe lists nearest the query vector, exact-cosine top-k inside
    * them.
    */
  def ivfSearch(embeddings: DataFrame, queryVecId: Long, k: Int,
                kLists: Int, nProbe: Int, iters: Int = 3,
                idCol: String = "vec_id",
                embCol: String = "embedding"): DataFrame = {
    graft.expressions.VectorExpressions.register(embeddings.sparkSession)
    val cents = ivfCentroids(embeddings, kLists, iters, idCol, embCol)
    val qVec = embeddings.filter(col(idCol) === queryVecId)
      .select(col(embCol).cast("array<double>")).head().getSeq[Double](0)
    def sq(c: Array[Double]): Double = {
      val d = c.zip(qVec).map { case (a, b) => (a - b) * (a - b) }.sum
      BigDecimal(d).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val probes = cents.zipWithIndex
      .sortBy { case (c, i) => (sq(c), i) }.take(nProbe).map(_._2)
    val cands = embeddings
      .withColumn("list_id",
        assignListCol(col(embCol).cast("array<double>"), cents))
      .filter(col("list_id").isin(probes.toSeq: _*) &&
              col(idCol) =!= queryVecId)
      .drop("list_id")
    bruteForceTopK(cands, qVec, k, idCol, embCol)
  }

  /** Per-query exact top-k over a (qid, vec_id, sim) pair frame as TWO
    * bounded window phases: phase 1 ranks within (qid, hash-salt) — the
    * exchange spreads each query's pair stream over `salts` groups, so
    * no single task ever owns a whole query's N candidates — phase 2
    * ranks the surviving ≤ salts·k rows per query. Exact regardless of
    * `salts` (the global top-k is contained in the union of per-salt
    * top-ks); the salt is hash-derived from vec_id, not partition
    * layout, so results are environment-independent.
    */
  private def topKPerQuery(pairs: DataFrame, k: Int,
                           salts: Int = 32): DataFrame = {
    val w1 = Window.partitionBy("qid", "__salt")
      .orderBy(desc("sim"), col("vec_id").asc)
    val w2 = Window.partitionBy("qid")
      .orderBy(desc("sim"), col("vec_id").asc)
    pairs
      .withColumn("__salt", pmod(xxhash64(col("vec_id")), lit(salts)))
      .withColumn("__r1", row_number().over(w1)).filter(col("__r1") <= k)
      .withColumn("__r2", row_number().over(w2)).filter(col("__r2") <= k)
      .select("qid", "vec_id")
  }

  /** ANN quality eval: recall@k of the IVF probe path against exact
    * brute-force ground truth for the `nQueries` smallest-id vectors —
    * ONE distributed plan: the query set broadcasts into both scoring
    * joins (m·N pair frames, embarrassingly parallel), per-query top-k
    * via the salted two-phase window, recall by joining the two top-k
    * sets. No per-query driver loop; the only collected state is the
    * k-means centroid model (kLists×dim doubles). Output:
    * (qid, hits, recall@k).
    */
  def annRecallEval(embeddings: DataFrame, nQueries: Int, k: Int,
                    kLists: Int, nProbe: Int, iters: Int = 3,
                    idCol: String = "vec_id",
                    embCol: String = "embedding"): DataFrame = {
    graft.expressions.VectorExpressions.register(embeddings.sparkSession)
    import graft.expressions.VectorExpressions.{dotCol, sqDistCol}
    val corpus = embeddings.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("v"))
    val queries = corpus.orderBy(col("vec_id").asc).limit(nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    def sim: Column = round(dotCol(col("v"), col("qv")) /
      (sqrt(dotCol(col("v"), col("v"))) * sqrt(dotCol(col("qv"), col("qv")))), 4)

    val exactTop = topKPerQuery(
      corpus.join(broadcast(queries), col("vec_id") =!= col("qid"))
        .withColumn("sim", sim), k)

    // IVF probe path — the same quantizer as ivfSearch; probe-list
    // selection is a pure column expression over the broadcast centroid
    // literals, evaluated per query row (no second collect)
    val cents = ivfCentroids(embeddings, kLists, iters, idCol, embCol)
    val probeEntries = cents.zipWithIndex.map { case (c, i) =>
      struct(round(sqDistCol(col("qv"), array(c.map(lit): _*)), 8).as("d"),
             lit(i).as("cid"))
    }
    val qProbes = queries.withColumn("probes",
      transform(slice(sort_array(array(probeEntries: _*)), 1, nProbe),
                s => s.getField("cid")))
    val assigned = corpus.withColumn("list_id",
      assignListCol(col("v"), cents))
    val ivfTop = topKPerQuery(
      assigned.join(broadcast(qProbes),
          array_contains(col("probes"), col("list_id")) &&
            col("vec_id") =!= col("qid"))
        .withColumn("sim", sim), k)

    val hits = exactTop.join(ivfTop, Seq("qid", "vec_id"))
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    queries.select("qid").join(hits, Seq("qid"), "left")
      .na.fill(0L, Seq("hits"))
      .select(col("qid"), col("hits"),
              round(col("hits") / lit(k.toDouble), 4).as("recall"))
  }

  /** Scalar int8 quantization of the embedding column (the 4×-8×
    * vector-store compressor that rides under every large ANN corpus):
    * per-dimension min/max in one partial-agg pass (2×dim doubles of
    * model state, folded back as literals), then codes + reconstruction
    * error in one codegen'd map pass over zip_with chains — no explode,
    * no shuffle, no per-row UDF. The reconstruction error rides as exact
    * integer micro-units (Σ round(err·1e8) per vector), so engines
    * summing in different orders agree bit-for-bit. Quantization grid:
    * code = floor(round((x−mn)·255/(mx−mn), 6) + 0.5), mn/mx rounded
    * 6dp; constant dimensions code to 0 and reconstruct to mn.
    * Output: (vec_id, codes array<int>, err_micro bigint).
    */
  def sq8Quantize(embeddings: DataFrame, idCol: String = "vec_id",
                  embCol: String = "embedding"): DataFrame = {
    val corpus = embeddings.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("v"))
    val mm = corpus
      .select(posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("i")
      .agg(round(min("x"), 6).as("mn"), round(max("x"), 6).as("mx"))
      .orderBy("i").collect()
    val mn = mm.map(_.getDouble(1))
    val sc = mm.map(r => r.getDouble(2) - r.getDouble(1))
    val mnLit = array(mn.map(lit): _*)
    val scLit = array(sc.map(lit): _*)
    val triples = zip_with(
      zip_with(col("v"), mnLit, (x, m) => struct(x.as("x"), m.as("m"))),
      scLit,
      (s, c) => struct(s.getField("x").as("x"), s.getField("m").as("m"),
                       c.as("sc")))
    def codeOf(s: Column): Column =
      when(s.getField("sc") > 0,
        floor(round((s.getField("x") - s.getField("m")) * lit(255.0) /
                      s.getField("sc"), 6) + lit(0.5)).cast("int"))
        .otherwise(lit(0))
    def errOf(s: Column): Column = {
      val recon = when(s.getField("sc") > 0,
        round(s.getField("m") +
                codeOf(s).cast("double") * s.getField("sc") / lit(255.0), 6))
        .otherwise(s.getField("m"))
      val d = s.getField("x") - recon
      round(d * d * lit(1e8), 0).cast("long")
    }
    corpus.select(
      col("vec_id"),
      transform(triples, codeOf _).as("codes"),
      aggregate(transform(triples, errOf _), lit(0L),
                (acc, e) => acc + e).as("err_micro"))
  }

  /** Centroid-silhouette clustering health: per vector, s = (d₂ − d₁) /
    * max(d₁, d₂) over EUCLIDEAN distances to the own and next-nearest
    * centroid (the O(N·k) silhouette variant — exact pairwise silhouette
    * is O(N²) and never runs at corpus scale). Same deterministic
    * quantizer as IVF/semdedup; distances reuse assignListCol's 8dp
    * rounding, so both engines rank ties identically. Per-cluster
    * output: (cid, n, sil_micro = Σ round(s·1e8) exact integers) — no
    * float mean crosses the engine boundary.
    */
  def silhouette(embeddings: DataFrame, kClusters: Int, iters: Int = 3,
                 idCol: String = "vec_id",
                 embCol: String = "embedding"): DataFrame = {
    graft.expressions.VectorExpressions.register(embeddings.sparkSession)
    val cents = ivfCentroids(embeddings, kClusters, iters, idCol, embCol)
    val v = col(embCol).cast("array<double>")
    val entries = cents.zipWithIndex.map { case (c, i) =>
      struct(
        round(graft.expressions.VectorExpressions.sqDistCol(
          v, array(c.map(lit): _*)), 8).as("d"),
        lit(i).as("cid"))
    }
    val sorted = sort_array(array(entries: _*))
    val d1 = element_at(sorted, 1).getField("d")
    val d2 = element_at(sorted, 2).getField("d")
    val s = when(d2 > 0,
      (sqrt(d2) - sqrt(d1)) / greatest(sqrt(d1), sqrt(d2)))
      .otherwise(lit(0.0))
    embeddings
      .select(element_at(sorted, 1).getField("cid").as("cid"),
              round(s * lit(1e8), 0).cast("long").as("sm"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"), sum("sm").as("sil_micro"))
  }

  /** External clustering eval against a label column: purity (exact
    * integer numerator) and normalized mutual information, with every
    * entropy/MI term carried as integer micro-units — each ln() input
    * is ONE division of exact-integer-valued doubles, so both engines
    * walk identical float paths. Completes the clustering eval pair
    * with [[silhouette]] (internal). Output row: (n, purity_num,
    * purity, i_micro, hc_micro, hl_micro, nmi).
    */
  def clusterPurity(embeddings: DataFrame, kClusters: Int,
                    iters: Int = 3, idCol: String = "vec_id",
                    labelCol: String = "label",
                    embCol: String = "embedding"): DataFrame = {
    val cents = ivfCentroids(embeddings, kClusters, iters, idCol, embCol)
    val assigned = embeddings.select(
      assignListCol(col(embCol).cast("array<double>"), cents).as("cid"),
      col(labelCol).as("lab"))
    val cl = Pin(assigned.groupBy("cid", "lab").agg(count(lit(1)).as("ncl")))
    val cTot = cl.groupBy("cid").agg(sum("ncl").as("nc"))
    val lTot = cl.groupBy("lab").agg(sum("ncl").as("nl"))
    val tot = cl.agg(sum("ncl").as("n"))
    def micro(c: Column): Column = round(c * lit(1e8), 0).cast("long")
    val joined = cl.join(cTot, Seq("cid")).join(lTot, Seq("lab"))
      .crossJoin(broadcast(tot))
    val stats = joined.agg(
      max("n").as("n"),
      sum(micro(col("ncl") *
        log((col("n") * col("ncl")).cast("double") /
            (col("nc") * col("nl")).cast("double")))).as("i_micro"))
    val hC = cTot.crossJoin(broadcast(tot)).agg(
      sum(micro(col("nc") *
        log(col("n").cast("double") / col("nc").cast("double"))))
        .as("hc_micro"))
    val hL = lTot.crossJoin(broadcast(tot)).agg(
      sum(micro(col("nl") *
        log(col("n").cast("double") / col("nl").cast("double"))))
        .as("hl_micro"))
    val pur = cl.groupBy("cid").agg(max("ncl").as("mx"))
      .agg(sum("mx").as("purity_num"))
    stats.crossJoin(pur).crossJoin(hC).crossJoin(hL).select(
      col("n"), col("purity_num"),
      round(col("purity_num").cast("double") / col("n").cast("double"), 6)
        .as("purity"),
      col("i_micro"), col("hc_micro"), col("hl_micro"),
      when(col("hc_micro") > 0 && col("hl_micro") > 0,
        round(col("i_micro").cast("double") /
              sqrt(col("hc_micro").cast("double") *
                   col("hl_micro").cast("double")), 6))
        .otherwise(lit(0.0)).as("nmi"))
  }

  /** Materialize the IVF index: the corpus written once as parquet
    * PARTITIONED BY list_id, centroids alongside as model state. This is
    * the piece that makes "list_id is the partition key" literal: a
    * probe against the materialized index reads only its nProbe list
    * directories (partition pruning at file listing — the scan never
    * touches the other lists' files), instead of re-assigning the corpus
    * per query as `ivfSearch` does. Build cost is one pass + one write;
    * amortized across every subsequent query.
    */
  def ivfBuild(embeddings: DataFrame, indexDir: String,
               kLists: Int, iters: Int = 3,
               idCol: String = "vec_id",
               embCol: String = "embedding"): Array[Array[Double]] = {
    val spark = embeddings.sparkSession
    val cents = ivfCentroids(embeddings, kLists, iters, idCol, embCol)
    embeddings
      .withColumn("list_id",
        assignListCol(col(embCol).cast("array<double>"), cents))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$indexDir/lists")
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c.toSeq) }.toSeq
      .toDF("cid", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$indexDir/centroids")
    cents
  }

  /** IVF-ANN query against a materialized `ivfBuild` index: pick the
    * nProbe nearest centroids (k×dim model state), read ONLY those list
    * partitions, exact-cosine top-k inside them. Identical results to
    * `ivfSearch` for the same build parameters.
    */
  def ivfSearchIndexed(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String, queryVec: Seq[Double],
                       k: Int, nProbe: Int,
                       excludeId: Option[Long] = None,
                       idCol: String = "vec_id",
                       embCol: String = "embedding"): DataFrame = {
    val cents = spark.read.parquet(s"$indexDir/centroids")
      .orderBy(col("cid").asc)
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
    def sq(c: Array[Double]): Double = {
      val d = c.zip(queryVec).map { case (a, b) => (a - b) * (a - b) }.sum
      BigDecimal(d).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val probes = cents.sortBy { case (i, c) => (sq(c), i) }
      .take(nProbe).map(_._1)
    val lists = spark.read.parquet(s"$indexDir/lists")
      // list_id is the physical partition column -> this filter prunes
      // at file listing; the scan never opens non-probed lists
      .filter(col("list_id").isin(probes.toIndexedSeq: _*))
    val cands = excludeId.fold(lists)(q => lists.filter(col(idCol) =!= q))
    bruteForceTopK(cands.drop("list_id"), queryVec, k, idCol, embCol)
  }

  // ---- Product quantization (PQ) — the compressed-ANN scale path ----
  // At 100 TB of embeddings, IVF prunes WHICH vectors are read but each
  // still costs dim*4 bytes; PQ compresses every vector to m bytes (a
  // codebook index per subspace), so the candidate scan and the ADC
  // distance are both ~dim/m smaller. Codebooks are model state
  // (m*k*subDim doubles on the driver, like IVF centroids); the corpus
  // never leaves the cluster.

  /** Train per-subspace codebooks: the embedding splits into m
    * contiguous subspaces; each runs the SAME deterministic k-means as
    * IVF (init = first k vectors' subvectors, mean rounded to 6,
    * distances to 8) so the SQL oracle replays it with the existing
    * k-means CTE. Returns [m][k][dim/m].
    */
  def pqTrain(embeddings: DataFrame, m: Int, k: Int, iters: Int = 2,
              idCol: String = "vec_id",
              embCol: String = "embedding"): Array[Array[Array[Double]]] = {
    val dim = embeddings.select(size(col(embCol))).head().getInt(0)
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sd = dim / m
    (0 until m).map { s =>
      val sub = embeddings.select(col(idCol),
        slice(col(embCol).cast("array<double>"), s * sd + 1, sd)
          .as("embedding"))
      ivfCentroids(sub, k, iters, idCol, "embedding")
    }.toArray
  }

  /** Encode: one code column per subspace (nearest codebook entry via
    * the shared assignListCol — rounded distances, cid tie-break).
    */
  def pqEncode(embeddings: DataFrame, books: Array[Array[Array[Double]]],
               idCol: String = "vec_id",
               embCol: String = "embedding"): DataFrame = {
    val sd = books(0)(0).length
    val v = col(embCol).cast("array<double>")
    val codes = books.indices.map(s =>
      assignListCol(slice(v, s * sd + 1, sd), books(s)).as(s"code$s"))
    embeddings.select(col(idCol) +: codes: _*)
  }

  /** ADC search: per-subspace lookup table of (query-sub ↔ codebook
    * entry) squared distances, summed across subspaces — the classic
    * asymmetric distance. Pure column work over the encoded frame: the
    * scan reads m small ints per vector, never the embedding.
    */
  def pqSearch(encoded: DataFrame, books: Array[Array[Array[Double]]],
               queryVec: Seq[Double], k: Int,
               excludeId: Option[Long] = None,
               idCol: String = "vec_id"): DataFrame = {
    val sd = books(0)(0).length
    def r8(x: Double): Double =
      BigDecimal(x).setScale(8, BigDecimal.RoundingMode.HALF_UP).toDouble
    val lut: Array[Array[Double]] = books.zipWithIndex.map { case (cents, s) =>
      val q = queryVec.slice(s * sd, (s + 1) * sd)
      cents.map(c => r8(c.zip(q).map { case (a, b) => (a - b) * (a - b) }.sum))
    }
    val adc = round(
      books.indices.map(s =>
        element_at(array(lut(s).map(lit).toIndexedSeq: _*),
                   col(s"code$s") + 1)).reduce(_ + _), 4)
    val base = excludeId.fold(encoded)(q => encoded.filter(col(idCol) =!= q))
    base.withColumn("adc", adc)
      .orderBy(col("adc").asc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("adc"))
  }

  /** Embedding-cosine near-duplicate pairs, exact within blocks: the
    * all-pairs cosine is quadratic, so a block column (a shard key —
    * here supplied by the caller) bounds each task's pair count; within
    * a block every pair with cosine >= t is emitted exactly. This is the
    * controlled-exact complement of the approximate ANN path
    * (hyperplane buckets + multi-probe): block = recall contract,
    * buckets = probabilistic recall at lower cost.
    */
  def cosineNearDupPairs(embeddings: DataFrame, t: Double,
                         idCol: String = "vec_id",
                         blockCol: String = "block",
                         embCol: String = "embedding"): DataFrame = {
    graft.expressions.VectorExpressions.register(embeddings.sparkSession)
    import graft.expressions.VectorExpressions.dotCol
    // norms precomputed per ROW (n of them), not per pair (n²/blocks):
    // the value is identical, the work is not
    val e = embeddings.select(col(idCol).as("id"), col(blockCol).as("blk"),
                              col(embCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dotCol(col("v"), col("v"))))
    e.alias("a")
      .join(e.alias("b"),
            col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .withColumn("sim",
        round(dotCol(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")), 4))
      .filter(col("sim") >= t)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"), col("sim"))
  }

  /** Contrastive-pair mining for embedding training: per anchor, the
    * hardest same-label positive (highest-cosine peer sharing the
    * label) and the hardest cross-label negative, both restricted to
    * the anchor's hyperplane-LSH bucket — the standard "hard negatives
    * come from the ANN index" recipe. Anchors lacking either kind of
    * peer in their bucket are omitted (no fallback row).
    *
    * Scale shape: the quadratic step is per-bucket (bucket = partition
    * key); cosines quantize to int64 micro-units once, and every
    * argmax/tie-break is integer (micro desc, candidate id asc) — no
    * float comparison anywhere after quantization.
    */
  def mineContrastive(embeddings: DataFrame, nPlanes: Int, dim: Int,
                      seed: Long = 42L, idCol: String = "vec_id",
                      embCol: String = "embedding",
                      labelCol: String = "label"): DataFrame = {
    graft.expressions.VectorExpressions.register(embeddings.sparkSession)
    import graft.expressions.VectorExpressions.dotCol
    val b = hyperplaneBuckets(embeddings, nPlanes, dim, seed, embCol)
      .select(col(idCol).as("id"), col(labelCol).as("lbl"), col("bucket"),
        col(embCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dotCol(col("v"), col("v"))))
    val pairs = b.alias("a")
      .join(b.alias("c"),
        col("a.bucket") === col("c.bucket") && col("a.id") =!= col("c.id"))
      .withColumn("micro",
        round(dotCol(col("a.v"), col("c.v"))
          / (col("a.nrm") * col("c.nrm")) * lit(1000000.0), 0)
          .cast(org.apache.spark.sql.types.LongType))
      .select(col("a.id").as("anchor"), col("c.id").as("cand"),
        (col("a.lbl") === col("c.lbl")).as("__same"), col("micro"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("anchor"), col("__same"))
      .orderBy(desc("micro"), asc("cand"))
    val best = pairs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    val pos = best.filter(col("__same"))
      .select(col("anchor"), col("cand").as("pos_id"),
        col("micro").as("__pm"))
    val neg = best.filter(!col("__same"))
      .select(col("anchor"), col("cand").as("neg_id"),
        col("micro").as("__nm"))
    pos.join(neg, Seq("anchor"))
      .select(col("anchor"), col("pos_id"),
        round(col("__pm") / lit(1000000.0), 6).as("pos_sim"),
        col("neg_id"),
        round(col("__nm") / lit(1000000.0), 6).as("neg_sim"),
        round((col("__pm") - col("__nm")) / lit(1000000.0), 6)
          .as("margin"))
  }

  /** Simhash near-duplicate pairs: 4x16-bit band blocking over the 64-bit
    * simhash, exact Hamming verification <= maxDist. Band blocking is
    * exact for maxDist <= 3 (pigeonhole: 4 bands, <=3 differing bits ->
    * at least one band equal).
    */
  def simhashNearDupPairs(docs: DataFrame, maxDist: Int = 3,
                          idCol: String = "doc_id",
                          textCol: String = "text"): DataFrame = {
    require(maxDist <= 3, "4-band blocking is only exact for maxDist <= 3")
    val hashed = docs
      .select(col(idCol), TextAnalysis.simhashUdf(col(textCol)).as("sh"))
    val banded = hashed.select(
      col(idCol), col("sh"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
               col("sh").bitwiseAND(lit(0xffffL << (16 * b))).as("bh"))): _*))
        .as("bb"))
      .select(col(idCol), col("sh"), col("bb.band"), col("bb.bh"))
    // Hamming via the built-in bit_count(xor) — keeps the verification
    // join inside whole-stage codegen (no UDF in the physical plan).
    banded.alias("a")
      .join(banded.alias("b"),
            col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
              col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("a_id"), col(s"b.$idCol").as("b_id"),
              bit_count(col("a.sh").bitwiseXOR(col("b.sh"))).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup via embedding
    * clustering — k-means the corpus, then within each cluster drop
    * every doc that has a cosine-≥-threshold neighbour closer to the
    * cluster centroid (tie: lower id wins). The cluster bound is what
    * makes the quadratic comparison tractable: pairs are confined to a
    * cluster, so kClusters is the cost knob (cluster size ≈ n/k; at
    * corpus scale pick k so clusters fit a task, exactly like the
    * reference SemDeDup runs k-means at ~0.1% of corpus size). Reuses
    * the deterministic IVF trainer, so the whole operator — init,
    * fixed iterations, rounded means, assignment tie-breaks — replays
    * in SQL; "closest to centroid survives" replaces the paper's
    * keep-a-random-one so the output is engine-reproducible.
    *
    * Output: (idCol, cid, cent_sim, kept). Centroids are model state
    * (k×dim doubles); the pair join's equi-key is the cluster id, the
    * cosine is a codegen'd native expression in the join filter.
    */
  def semDedup(embeddings: DataFrame, simThreshold: Double,
               kClusters: Int = 8, iters: Int = 3,
               idCol: String = "vec_id",
               embCol: String = "embedding",
               maxClusterSize: Long = 200000L): DataFrame = {
    graft.expressions.VectorExpressions.register(embeddings.sparkSession)
    import graft.expressions.VectorExpressions.dotCol
    val cents = ivfCentroids(embeddings, kClusters, iters, idCol, embCol)
    val centOf = element_at(
      array(cents.map(c => array(c.map(lit).toIndexedSeq: _*))
        .toIndexedSeq: _*),
      col("cid") + 1)
    // assignment + norms computed ONCE: the frame feeds the guard
    // action, both sides of the pair self-join and the final kept-join
    // (4 plan references) — without the pin each would re-run the
    // kClusters-way distance argmin over the corpus. Its blocks belong
    // to the returned plan; Pin.release on the result (or
    // Pin.releaseAll) reclaims them.
    val e = Pin(embeddings
      .select(col(idCol).as("id"), col(embCol).cast("array<double>").as("v"))
      .withColumn("cid", assignListCol(col("v"), cents))
      .withColumn("nrm", sqrt(dotCol(col("v"), col("v"))))
      .withColumn("cent_sim", round(
        dotCol(col("v"), centOf) /
          (col("nrm") * sqrt(dotCol(centOf, centOf))), 6)))
    // LOUD guard against silent quadratic blowup: the pair join is
    // O(size²) within a cluster by design — a skewed quantizer (or a
    // kClusters too small for the corpus) must fail with advice, not
    // quietly melt a stage. One small agg over cluster ids.
    val biggest = e.groupBy("cid").count()
      .agg(max("count")).head().getLong(0)
    require(biggest <= maxClusterSize,
      s"semDedup: largest cluster has $biggest vectors " +
        s"(> maxClusterSize=$maxClusterSize); raise kClusters " +
        s"(~0.1% of corpus size) or maxClusterSize explicitly")
    // a dominator of row a: same cluster, sim >= threshold, strictly
    // more central (or equally central with a smaller id). Rounding
    // disciplines match the oracle: pair sim 4dp, cent_sim 6dp.
    val dominated = e.alias("a")
      .join(e.alias("b"),
        col("a.cid") === col("b.cid") && col("a.id") =!= col("b.id") &&
          round(dotCol(col("a.v"), col("b.v")) /
            (col("a.nrm") * col("b.nrm")), 4) >= simThreshold &&
          (col("b.cent_sim") > col("a.cent_sim") ||
            (col("b.cent_sim") === col("a.cent_sim") &&
              col("b.id") < col("a.id"))))
      .select(col("a.id").as("id")).distinct()
      .withColumn("__dom", lit(true))
    e.join(dominated, Seq("id"), "left")
      .select(col("id").as(idCol), col("cid"), col("cent_sim"),
        coalesce(col("__dom"), lit(false)).unary_!.as("kept"))
  }

  /** Deterministic sparse random projection (Achlioptas/JL lineage):
    * out_j = Σ_i sign(md5(j ':' i)) · v_i for j in [0, outDim) — the
    * dimensionality-reduction pass that runs BEFORE clustering/LSH at
    * 100 TB so every downstream distance costs outDim instead of dim.
    * The "random" signs are the md5-derived hex-digit parity, so the
    * projection is an engine-independent function of (j, i) — no RNG
    * state, fully oracle-checkable, and the projection of a merge of
    * two corpora is trivially the union of their projections.
    *
    * Float discipline: each term is rounded to micro-units and summed
    * as a Long (order-insensitive — doubles summed in shuffle order
    * would diverge), divided back once at the end. Plan: sign table =
    * outDim×dim rows (model-scale, broadcast), corpus side = ONE
    * explode + partial-agg groupBy keyed by (id, j) — a vector's terms
    * form one group, skew-free.
    */
  def randomProjection(embeddings: DataFrame, outDim: Int,
                       idCol: String = "vec_id",
                       embCol: String = "embedding"): DataFrame = {
    val spark = embeddings.sparkSession
    val dims = embeddings.select(
      posexplode(col(embCol)).as(Seq("pos", "v")), col(idCol))
      .select(col(idCol), (col("pos") + 1).as("i"),
              col("v").cast("double").as("v"))
    val signs = spark.range(outDim.toLong).toDF("j")
      .crossJoin(
        embeddings.select(size(col(embCol)).as("d")).limit(1))
      .select(col("j"), explode(sequence(lit(1), col("d"))).as("i"))
      .withColumn("sgn",
        when(conv(substring(md5(concat(col("j"), lit(":"), col("i"))),
          1, 1), 16, 10).cast("int") >= 8, 1L).otherwise(-1L))
    dims.join(broadcast(signs), Seq("i"))
      .groupBy(col(idCol), col("j"))
      .agg(sum(col("sgn") *
        round(col("v") * lit(1000000.0), 0).cast("long")).as("micro"))
      .select(col(idCol), col("j"),
        round(col("micro") / lit(1000000.0), 6).as("proj"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the
    * LASER/CCMatrix parallel-corpus recipe): score every candidate
    * (a, b) pair by cosine normalized by both sides' mean top-`k`
    * neighborhood similarity — margin(a,b) = cos(a,b) /
    * ((mean_kNN(a) + mean_kNN(b)) / 2) — then keep pairs that are each
    * other's best margin match (mutual top-1) above `threshold`. The
    * margin cancels hubness: a vector that is "close to everything"
    * gets its raw cosines deflated by its own dense neighborhood.
    *
    * `candidates` restricts the pair space (the production path: feed
    * LSH/IVF bucket pairs from hyperplaneBuckets/ivfBuild, so the
    * margin is computed over the ANN shortlist exactly as CCMatrix
    * does); None = exact all-pairs, guarded by `maxSide` against
    * silent quadratic blowup.
    *
    * Float discipline: cosines quantize to int64 MICRO-UNITS once, and
    * every downstream quantity (top-k rank, neighborhood mean, margin)
    * is integer arithmetic until the final display division — a mean
    * of k 6dp-rounded doubles has 10⁻⁶/k granularity, so it lands
    * EXACTLY on rounding boundaries where summation order would decide
    * the digit; integer sums cannot. Ranking ties break on the partner
    * id.
    *
    * Returns (a_id, b_id, sim, margin) for the mined pairs.
    */
  def mineBitext(a: DataFrame, b: DataFrame, k: Int, threshold: Double,
                 idCol: String = "vec_id", embCol: String = "embedding",
                 candidates: Option[DataFrame] = None,
                 maxSide: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.expressions.VectorExpressions.register(a.sparkSession)
    import graft.expressions.VectorExpressions.dotCol
    def side(df: DataFrame, n: String) = df
      .select(col(idCol).as(s"${n}_id"),
        col(embCol).cast("array<double>").as(s"${n}_v"))
      .withColumn(s"${n}_nrm", sqrt(dotCol(col(s"${n}_v"), col(s"${n}_v"))))
    val ea = side(a, "a")
    val eb = side(b, "b")
    val raw = candidates match {
      case Some(c) => ea.join(c, "a_id").join(eb, "b_id")
      case None =>
        require(a.count() <= maxSide && b.count() <= maxSide,
          s"mineBitext: exact all-pairs above maxSide=$maxSide — pass " +
            "ANN bucket candidates (hyperplaneBuckets/ivfBuild) instead")
        ea.crossJoin(eb)
    }
    val pairs = raw.select(col("a_id"), col("b_id"),
      round(dotCol(col("a_v"), col("b_v"))
        / (col("a_nrm") * col("b_nrm")) * 1000000.0, 0)
        .cast(org.apache.spark.sql.types.LongType).as("micro"))
    val wa = Window.partitionBy(col("a_id"))
      .orderBy(col("micro").desc, col("b_id"))
    val wb = Window.partitionBy(col("b_id"))
      .orderBy(col("micro").desc, col("a_id"))
    val mkA = pairs.withColumn("rn", row_number().over(wa))
      .filter(col("rn") <= k).groupBy("a_id")
      .agg(sum(col("micro")).as("mka"))
    val mkB = pairs.withColumn("rn", row_number().over(wb))
      .filter(col("rn") <= k).groupBy("b_id")
      .agg(sum(col("micro")).as("mkb"))
    // sim/((mka/k + mkb/k)/2) == micro·2k/(mka+mkb): exact integers in,
    // one double division out
    val scored = pairs.join(mkA, "a_id").join(mkB, "b_id")
      .withColumn("margin",
        round(col("micro") * lit(2L * k) / (col("mka") + col("mkb")), 6))
    val ba = Window.partitionBy(col("a_id"))
      .orderBy(col("margin").desc, col("b_id"))
    val bb = Window.partitionBy(col("b_id"))
      .orderBy(col("margin").desc, col("a_id"))
    scored
      .withColumn("ra", row_number().over(ba))
      .withColumn("rb", row_number().over(bb))
      .filter(col("ra") === 1 && col("rb") === 1 &&
        col("margin") >= threshold)
      .select(col("a_id"), col("b_id"),
        (col("micro") / 1000000.0).as("sim"), col("margin"))
  }
}
