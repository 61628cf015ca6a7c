package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's private[sql] Expression↔Column converters (Spark 4.x
  * wraps Column around ColumnNode; ExpressionUtils is the supported internal
  * conversion). Lives under org.apache.spark.sql so the private[sql] scope
  * is visible; keep this the ONLY file that needs it.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
}

/** Bridge to the RDD behind a (local)checkpointed Dataset. A checkpointed
  * Dataset's logical plan is a `LogicalRDD` wrapping the materialized
  * blocks; Dataset itself exposes no way to free a checkpoint, so
  * [[graft.Pins]] and the iterative loops free through this object.
  * Returns None for non-checkpoint plans, so a caller can never unpersist
  * an RDD it doesn't own.
  */
object CheckpointBridge {
  import org.apache.spark.rdd.{LocalRDDCheckpointData, RDD}
  import org.apache.spark.sql.Dataset
  import org.apache.spark.sql.execution.LogicalRDD

  def checkpointedRdd(ds: Dataset[_]): Option[RDD[_]] =
    ds.queryExecution.logical match {
      case l: LogicalRDD => Some(l.rdd)
      case _             => None
    }

  /** Drop the blocks behind a checkpointed Dataset (no-op otherwise).
    * ONLY call once nothing downstream will read `ds` again: a
    * localCheckpoint has no lineage to recompute from.
    */
  def freeCheckpoint(ds: Dataset[_]): Unit =
    checkpointedRdd(ds).foreach(release(_, blocking = false))

  /** What `RDD.unpersist` does, without its warning that a locally
    * checkpointed RDD cannot be recomputed: the engine frees one only once
    * nothing reads it again. Freeing an RDD twice, or one of a stopped
    * context, is a no-op.
    */
  def release(r: RDD[_], blocking: Boolean): Unit =
    if (!r.sparkContext.isStopped) r.sparkContext.unpersistRDD(r.id, blocking)

  /** Whether `r` is a localCheckpoint's block set, as opposed to a
    * Dataset.persist'ed RDD.
    */
  def isLocallyCheckpointed(r: RDD[_]): Boolean =
    r.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])

  /** EVERY locally-checkpointed RDD a Dataset's plan reads, not just a
    * root LogicalRDD: a memoized artifact is typically a Project/Filter
    * over its checkpoint (or joins several), and [[graft.Artifacts.memo]]
    * keeps each of them. Subqueries included (scalar-subquery pins).
    */
  def checkpointedRdds(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRDD if isLocallyCheckpointed(l.rdd) => l.rdd
    }
}
