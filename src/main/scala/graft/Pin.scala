package graft

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one way to pin an intermediate that several consumers read, or
  * whose lineage an iterative loop must cut. A pin is a local checkpoint,
  * not `Dataset.persist`:
  *   - its blocks hold raw UnsafeRows; the columnar cache re-encodes and
  *     compresses every row (measured: a ~10 s non-scaling constant per
  *     2M-row frontier batch, against ~5.6 s for the checkpoint);
  *   - it goes through AQE, so stages above it keep coalesced partitions
  *     where a cached plan fixes them at the full shuffle partition count;
  *   - it cuts lineage (small plans and task binaries across iterations)
  *     and fixes a nondeterministic column such as
  *     `monotonically_increasing_id` once for every consumer.
  *
  * Failure semantics: a local checkpoint cannot be recomputed. If a pinned
  * block is lost with its executor, the next job that reads it fails
  * loudly; it never returns different rows. The jobs commit a snapshot
  * only after its pins are consumed, so a rerun resumes from the last one.
  */
object Pin {

  /** Pin `df`; `eager = false` defers the materialization to its first
    * consumer.
    */
  def apply(df: DataFrame, eager: Boolean = true): DataFrame =
    df.localCheckpoint(eager)

  /** Free every pin that each frame reads directly: a pin itself, or the
    * pins under a frame derived from one (not pins under those pins).
    * Non-blocking. The blocks belong to the RDD inside the LogicalRDD, so
    * `Dataset.unpersist` alone would not free them.
    */
  def release(dfs: DataFrame*): Unit = dfs.foreach { df =>
    df.unpersist(blocking = false)
    df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
  }

  /** Drop every pin in `spark`: cached Datasets and the persistent RDDs
    * behind pins, which clearCache does not cover. Non-blocking. Run
    * between queries so one query's blocks never skew the next one's
    * timing.
    */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** The pins of one [[scoped]] body. */
  final class Scope private[Pin] () {
    private[Pin] val held = mutable.ArrayBuffer.empty[DataFrame]

    /** Pin `df` until the scope exits. */
    def apply(df: DataFrame): DataFrame = hold(Pin(df))

    /** Release, when the scope exits, the pins `df` reads directly: for a
      * frame that an operator pinned inside.
      */
    def hold(df: DataFrame): DataFrame = { held += df; df }
  }

  /** Run `body`, then free the pins it took through its scope, whether it
    * returns or throws. Only for bodies that consume their pins before
    * returning: the result must not read them.
    */
  def scoped[T](body: Scope => T): T = {
    val scope = new Scope
    try body(scope)
    finally release(scope.held.toSeq: _*)
  }
}
