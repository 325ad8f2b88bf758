package graft.state

import graft.TestSpark
import org.apache.spark.sql.DataFrame

/** Consecutive URL-seen state steps for the state specs. */
object StateBatches {

  /** One state step: (batch urls, urls seen before the batch, previous
    * state dir, next state dir, delta dir) → per-partition stats.
    */
  type Step = (DataFrame, DataFrame, Option[String], String, String) =>
    Map[Int, UrlSeenState.PartStats]

  /** `UrlSeenState.updateDistributed` over `partitions`; the seen urls
    * go unused.
    */
  def update(partitions: Int): Step = (batch, _, prev, out, delta) =>
    UrlSeenState.updateDistributed(TestSpark.spark, batch, prev, out,
                                   partitions, delta)

  /** `UrlSeenState.advance`, which compacts from the seen urls. */
  val advance: Step = (batch, seen, prev, out, delta) =>
    UrlSeenState.advance(TestSpark.spark, batch, seen, prev, out, delta)

  /** Run `batches` through `step` in turn, state dirs `s0`, `s1`, … and
    * delta dirs `d0`, `d1`, … under `dir`; each batch's stats.
    */
  def growBatches(dir: String, batches: Seq[Seq[String]])(step: Step)
      : Seq[Map[Int, UrlSeenState.PartStats]] = {
    val spark = TestSpark.spark
    import spark.implicits._
    batches.zipWithIndex.map { case (b, i) =>
      step(b.toDF("url"), batches.take(i).flatten.toDF("url"),
           Option.when(i > 0)(s"$dir/s${i - 1}"), s"$dir/s$i", s"$dir/d$i")
    }
  }
}
