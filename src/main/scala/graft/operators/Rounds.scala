package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftbridge.CheckpointBridge
import graft.Pins

/** The round loop of the single-frame iterative operators.
  *
  * Checkpoint-and-free discipline: a kept round is an eager
  * localCheckpoint, so neither lineage nor the analyzed plan grows with
  * the round count (an unchecked loop doubles its plan per round and
  * re-analyzes all of it). Each new checkpoint frees the one it
  * supersedes, and only after the new one is materialized: a superseded
  * round is dead (a localCheckpoint has no lineage to recompute from, and
  * nothing reads it again), so its blocks go at once instead of piling up
  * in executor storage until the ContextCleaner runs. The returned frame
  * is the last checkpoint, the only block set a loop leaves behind; the
  * caller's result reads it, and the caller's [[graft.Pins.scope]] frees
  * it.
  */
private[operators] object Rounds {

  /** `rounds` applications of `step` to `init`. `init`, every `every`-th
    * round and the last round are checkpointed; the rounds in between
    * stay lazy on top of the last checkpoint.
    */
  def fixed(init: DataFrame, rounds: Int, every: Int = 1)(
      step: DataFrame => DataFrame): DataFrame = {
    var kept = Pins(init)
    var cur = kept
    for (k <- 1 to rounds) {
      cur = step(cur)
      if (k % every == 0 || k == rounds) {
        cur = supersede(kept, Pins(cur))
        kept = cur
      }
    }
    kept
  }

  /** Checkpoints `init`, then applies `step` until a round is stable, but
    * at least `minRounds` times. A round is stable when it is empty or
    * its row count and `signature` (named aggregate columns) equal the
    * previous round's. Both are collected by an Observation on the job
    * that checkpoints the round, so a round costs one job, not one plus
    * a separate count. Still unstable after `maxRounds`: the last
    * checkpoint is freed (a retrying caller must not accumulate one per
    * attempt) and IllegalStateException names `op`, because an
    * unconverged result looks like a converged one.
    */
  def untilStable(op: String, init: DataFrame, signature: Seq[Column], maxRounds: Int,
                  minRounds: Int = 0)(step: DataFrame => DataFrame): DataFrame = {
    def checkpoint(df: DataFrame): (DataFrame, Map[String, Any]) = {
      val obs = Observation()
      val ckpt = Pins(df.observe(obs, count(lit(1)).as(Rows), signature: _*))
      (ckpt, obs.get)
    }
    var (cur, sig) = checkpoint(init)
    var stable = sig(Rows) == 0L
    var r = 0
    while (r < minRounds || (!stable && r < maxRounds)) {
      val (next, nextSig) = checkpoint(step(cur))
      cur = supersede(cur, next)
      stable = nextSig(Rows) == 0L || nextSig == sig
      sig = nextSig
      r += 1
    }
    if (!stable) {
      CheckpointBridge.freeCheckpoint(cur)
      throw new IllegalStateException(
        s"$op did not converge in $maxRounds rounds (${sig(Rows)} rows still changing)")
    }
    cur
  }

  private val Rows = "rounds_rows"

  private def supersede(old: DataFrame, next: DataFrame): DataFrame = {
    CheckpointBridge.freeCheckpoint(old)
    next
  }
}
