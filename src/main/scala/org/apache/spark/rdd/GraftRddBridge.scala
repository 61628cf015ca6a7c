package org.apache.spark.rdd

/** Bridge to RDD internals (private[rdd], private[spark]). Same pattern as
  * graftbridge.ColumnBridge: the ONLY file that needs this package.
  */
object GraftRddBridge {
  /** BlockJanitor must distinguish localCheckpoint block sets (graft-owned
    * pins) from CacheManager-owned persisted RDDs (Dataset.persist's).
    */
  def isLocallyCheckpointed(r: RDD[_]): Boolean = r.isLocallyCheckpointed

  /** What `RDD.unpersist` does, without its warning that a locally
    * checkpointed RDD cannot be recomputed: the engine frees one only once
    * nothing reads it again.
    */
  def release(r: RDD[_], blocking: Boolean): Unit = r.sparkContext.unpersistRDD(r.id, blocking)
}
