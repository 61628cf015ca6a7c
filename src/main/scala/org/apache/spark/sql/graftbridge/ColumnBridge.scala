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
  * blocks; iterative algorithms (Graph.connectedComponents*) need the
  * handle to unpersist superseded rounds — Dataset itself exposes no way
  * to free a checkpoint. Returns None for non-checkpoint plans, so a
  * caller can never unpersist an RDD it doesn't own.
  */
object CheckpointBridge {
  import org.apache.spark.rdd.RDD
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
    checkpointedRdd(ds).foreach(
      org.apache.spark.rdd.GraftRddBridge.release(_, blocking = false))

  /** EVERY locally-checkpointed RDD a Dataset's plan reads — not just a
    * root LogicalRDD: cached artifacts are typically a Project/Filter
    * over their checkpoint (or join several), and [[graft.BlockJanitor]]
    * must protect each underlying block set, not only root-shaped plans.
    * Subqueries included for completeness (scalar-subquery pins).
    */
  def checkpointedRdds(ds: Dataset[_]): Seq[RDD[_]] =
    ds.queryExecution.analyzed.collectWithSubqueries {
      case l: LogicalRDD
          if org.apache.spark.rdd.GraftRddBridge.isLocallyCheckpointed(l.rdd) =>
        l.rdd
    }
}
