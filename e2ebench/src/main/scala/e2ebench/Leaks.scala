package e2ebench

import org.apache.spark.SparkContext

/** Releases the persisted RDDs a pass leaves behind, through Spark's
  * public API only. RDDs that were already persisted before the pass
  * (memoised artifacts built during warm-up) are left alone: only ids
  * that appeared during the pass are unpersisted, blocking, so the
  * release finishes before the next timed pass starts.
  */
object Leaks {

  def persistedIds(sc: SparkContext): Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Unpersist every RDD persisted now but not in `before`; returns how many. */
  def releaseSince(sc: SparkContext, before: Set[Int]): Int = {
    val leaked = sc.getPersistentRDDs.filter { case (id, _) => !before.contains(id) }
    leaked.values.foreach(_.unpersist(blocking = true))
    leaked.size
  }
}
