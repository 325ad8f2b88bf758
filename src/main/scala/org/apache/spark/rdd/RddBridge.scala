package org.apache.spark.rdd

/** Frees an RDD's blocks. `RDD.unpersist` warns, for a local checkpoint,
  * that its lineage cannot be recomputed once freed, then calls
  * `SparkContext.unpersistRDD`; Spark keeps both that call and the
  * local-checkpoint test private to its own packages. graft.Pin frees
  * only the pins it took, once their readers are done, so for a local
  * checkpoint it calls `unpersistRDD` here directly; every other RDD
  * still goes through `unpersist`.
  */
object RddBridge {
  def free(rdd: RDD[_], blocking: Boolean): Unit =
    if (rdd.isLocallyCheckpointed) rdd.sparkContext.unpersistRDD(rdd.id, blocking)
    else rdd.unpersist(blocking)
}
