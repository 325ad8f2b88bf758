package graft.operators

import graft.Pin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Spectral embedding analysis: PCA by distributed power iteration —
  * the whitening/compression precursor to every embedding pipeline
  * stage here (IVF, PQ, hyperplane LSH all behave better on
  * decorrelated vectors; the top component's variance share is the
  * standard "are these embeddings collapsed?" health check).
  *
  * Scale shape: the covariance build is one explode + self-join +
  * partial agg keyed by (i, j) — dim² accumulators, corpus never
  * shuffles twice; the iteration state is a dim-row vector frame and
  * every matrix-vector product is a dim²-row join, i.e. model-scale
  * after the single corpus pass. Float discipline follows the k-means
  * oracle: means at 6dp, covariance sums at 6dp, every iterate
  * re-rounded at 8dp, so both engines walk the identical float
  * sequence.
  */
object Spectral {

  /** Mean-centered covariance entries (i, j, c), i/j 1-based, c =
    * round(Σ (xᵢ−μᵢ)(xⱼ−μⱼ), 6) / n kept UNdivided — the power
    * iteration is scale-invariant, so dividing by n is deferred to the
    * variance outputs where it matters.
    */
  def covariance(embeddings: DataFrame, idCol: String = "vec_id",
                 embCol: String = "embedding"): DataFrame = {
    val x = embeddings
      .select(col(idCol).as("__r"),
        posexplode(col(embCol).cast("array<double>"))
          .as(Seq("__i0", "__v")))
      .select(col("__r"), (col("__i0") + 1).as("i"), col("__v").as("v"))
    val mu = x.groupBy("i").agg(round(avg(col("v")), 6).as("mu"))
    val cx = x.join(broadcast(mu), Seq("i"))
      .select(col("__r"), col("i"), (col("v") - col("mu")).as("x"))
    cx.as("a").join(cx.as("b"), col("a.__r") === col("b.__r"))
      .groupBy(col("a.i").as("i"), col("b.i").as("j"))
      .agg(round(sum(col("a.x") * col("b.x")), 6).as("c"))
  }

  /** Top principal component by `iters` power iterations from the
    * all-ones start: returns one row per dimension (idx, loading) plus
    * the Rayleigh eigenvalue and its share of total variance (both
    * identical on every row — flat schema keeps the oracle a plain
    * table compare). Sign convention: the all-ones start fixes it.
    */
  def pcaTop(embeddings: DataFrame, iters: Int = 5,
             idCol: String = "vec_id",
             embCol: String = "embedding"): DataFrame = {
    val sess = embeddings.sparkSession
    import sess.implicits._
    val cov = Pin(covariance(embeddings, idCol, embCol))
    val dim = cov.agg(max("i")).head().getInt(0)
    var v: DataFrame = (1 to dim).map(i => (i, 1.0)).toDF("j", "vj")
    for (_ <- 1 to iters) {
      val w = cov.join(broadcast(v), Seq("j"))
        .groupBy("i").agg(round(sum(col("c") * col("vj")), 8).as("w"))
      val nrm = w.agg(round(sqrt(sum(col("w") * col("w"))), 8).as("n"))
      val next = Pin(w.crossJoin(broadcast(nrm))
        .select(col("i").as("j"), round(col("w") / col("n"), 8).as("vj")))
      Pin.release(v)
      v = next
    }
    // Rayleigh quotient v'Cv (v is unit-norm) and the variance share
    val eig = cov
      .join(broadcast(v.select(col("j").as("i"), col("vj").as("vi"))),
        Seq("i"))
      .join(broadcast(v), Seq("j"))
      .agg(round(sum(col("c") * col("vi") * col("vj")), 6).as("e"))
    val trace = cov.filter(col("i") === col("j"))
      .agg(round(sum(col("c")), 6).as("t"))
    v.select(col("j").cast("long").as("idx"), col("vj").as("loading"))
      .crossJoin(broadcast(eig)).crossJoin(broadcast(trace))
      .select(col("idx"), col("loading"),
        round(col("e"), 6).as("eigenvalue"),
        round(col("e") / col("t"), 6).as("var_frac"))
  }

  /** Whitening scores: every vector's projection onto PC1 plus its
    * residual energy — the outlier/duplicate-cloud coordinates an
    * embedding-curation pass ranks by. The model state (per-dim means +
    * the converged PC1 iterate from [[pcaTop]]'s chain) is dim-scale,
    * collected once and folded back as array literals; the per-row pass
    * is two native dot products (sequential fold, codegen'd) — no
    * shuffle. Outputs are 4dp with +0.0 normalization (a 4dp-rounded
    * projection can land on −0.0, which engines disagree on; adding
    * zero canonicalizes the sign). Output: (vec_id, score, resid).
    */
  def pcaProject(embeddings: DataFrame, iters: Int = 5,
                 idCol: String = "vec_id",
                 embCol: String = "embedding"): DataFrame = {
    val top = pcaTop(embeddings, iters, idCol, embCol)
      .orderBy("idx").collect()
    val vLit = array(top.map(r => lit(r.getDouble(1))): _*)
    val x = embeddings
      .select(col(idCol).as("__r"),
        posexplode(col(embCol).cast("array<double>"))
          .as(Seq("__i0", "__v")))
    val mu = x.groupBy((col("__i0") + 1).as("i"))
      .agg(round(avg(col("__v")), 6).as("mu"))
      .orderBy("i").collect().map(_.getDouble(1))
    val muLit = array(mu.map(lit): _*)
    val cx = zip_with(col(embCol).cast("array<double>"), muLit,
      (a, m) => a - m)
    val dot = graft.expressions.VectorExpressions.dotCol _
    embeddings.select(
      col(idCol).as("vec_id"),
      (round(dot(cx, vLit), 4) + lit(0.0)).as("score"),
      (round(dot(cx, cx) -
               round(dot(cx, vLit), 4) * round(dot(cx, vLit), 4), 4)
         + lit(0.0)).as("resid"))
  }
}
