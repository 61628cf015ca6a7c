package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.graftbridge.CheckpointBridge

/** Pins and their owners.
  *
  * A pin is an eager localCheckpoint (an iterative round or final, a
  * fan-out table). It has no lineage to recompute from, so it may be freed
  * only once nothing reads it, and the operator that makes one usually
  * returns a frame that still reads it. Its owner is the innermost
  * [[scope]] open on the thread that made it; the consumer runs the build
  * and its action in that scope, which then frees exactly its own pins.
  * Concurrent consumers (Verify's dump threads) never free each other's.
  *
  * A plain ThreadLocal: a streaming query's execution thread started
  * inside a build does not join its starter's scope. A pin made with no
  * scope open is owned by no one and lives as long as its context, unless
  * its maker frees it ([[Artifacts.memo]] keeps the pins its value reads).
  */
object Pins {

  private val open = new ThreadLocal[scala.collection.mutable.ArrayBuffer[RDD[_]]]

  /** `ds` checkpointed locally and eagerly, owned by the open scope. */
  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val pinned = ds.localCheckpoint()
    Option(open.get).foreach(buf => CheckpointBridge.checkpointedRdd(pinned).foreach(buf += _))
    pinned
  }

  /** `body`'s value and the pins made under it, still held; a body that
    * throws frees its pins first.
    */
  def made[A](body: => A): (A, Seq[RDD[_]]) = {
    val outer = open.get
    val buf = scala.collection.mutable.ArrayBuffer.empty[RDD[_]]
    open.set(buf)
    try {
      val value = body
      (value, buf.toSeq)
    } catch { case t: Throwable => release(buf.toSeq); throw t }
    finally open.set(outer)
  }

  /** `body`'s value; the pins made under it are freed, blocking, once it
    * returns or throws. Consume the result inside `body`.
    */
  def scope[A](body: => A): A = {
    val (value, pins) = made(body)
    release(pins)
    value
  }

  private[graft] def release(pins: Seq[RDD[_]]): Unit =
    pins.foreach(CheckpointBridge.release(_, blocking = true))
}
