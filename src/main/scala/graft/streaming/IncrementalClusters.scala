package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Graph}
import graft.Pins

/** Streaming near-duplicate clustering: dedup → MinHash/LSH → incremental
  * connected components composed into ONE foreachBatch fold, so a live
  * document stream maintains the same cluster labels the batch pipeline
  * (lshCandidatePairs → connectedComponentsStar) would produce over the
  * accumulated corpus — spec-asserted equivalent under replay and exact
  * redelivery (StatefulStreamingSpec).
  *
  * Per micro-batch:
  *   1. exact dedup: drop redelivered doc_ids (anti-join against the
  *      corpus signature table — the streaming twin of the reference's
  *      idempotent insert-if-absent sink, extract-events.ts:108-116);
  *   2. sign the survivors once (minhash signatureTable);
  *   3. LSH edges = batch↔corpus banding (Dedup.bandedPairs against the
  *      persisted signatures — corpus TEXT is never re-read) plus
  *      batch-internal banding;
  *   4. fold the edges into the label table via
  *      Graph.incrementalComponents — O(touched clusters), no recompute;
  *   5. append the batch signatures to the corpus state.
  *
  * State is two tables — signatures O(corpus docs × k longs) and labels
  * O(paired docs) — and ships in two durability shapes:
  *
  *   - [[start]]: in-memory localCheckpoints, re-checkpointed each fold so
  *     lineage can't grow across batches. Fast, but NOT restart-recoverable:
  *     a JVM restart resumes source offsets from the checkpoint dir while
  *     the state restarts from [[empty]] — already-absorbed batches are not
  *     redelivered, so their state is lost. Use only when the stream can be
  *     replayed from offset zero (drop the checkpoint dir to re-fold).
  *   - [[startDurable]]: state persisted per batch as versioned parquet
  *     artifacts under a state dir, committed via an atomically-renamed
  *     manifest, reloaded on restart. The batch fold is idempotent
  *     (absorbed doc_ids anti-join away), so the crash window between
  *     state commit and source-offset commit is safe: the redelivered
  *     batch re-folds as a no-op. This is the real deployment shape — at
  *     100 TB the two artifacts are catalog tables (Delta/Iceberg) and the
  *     manifest rename is the catalog's snapshot commit.
  */
object IncrementalClusters {

  /** The stream's accumulated knowledge: per-doc signatures + cluster
    * labels (labels cover only docs that have ever paired, matching the
    * batch pipeline's output domain).
    */
  final case class CorpusState(sigs: DataFrame, labels: DataFrame)

  /** Empty state (schemas derived from an empty doc frame). */
  def empty(spark: SparkSession): CorpusState = {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    CorpusState(
      Dedup.signatureTable(noDocs),
      Seq.empty[(Long, Long)].toDF("node", "cluster"))
  }

  /** The fold's data work, shared by both durability shapes: the batch's
    * NEW signatures (redelivered/duplicate doc_ids absorbed) and the
    * updated label table. Both returned frames are localCheckpointed;
    * the caller owns freeing them.
    */
  private def foldCore(state: CorpusState, batch: DataFrame,
                       k: Int, bands: Int): (DataFrame, DataFrame) = {
    // 1. absorb redelivery + batch-internal id dups (exactly-once fold)
    val fresh = batch.select(col("doc_id"), col("text"))
      .dropDuplicates("doc_id")
      .join(state.sigs.select(col("doc_id")), Seq("doc_id"), "left_anti")
    // 2. sign once; reuse for both edge joins below
    val batchSigs = Pins(Dedup.signatureTable(fresh, k))
    // 3. LSH candidate edges: batch↔corpus + batch-internal
    val crossEdges = Dedup.bandedPairs(batchSigs, state.sigs, k, bands)
    val innerEdges = Dedup.bandedPairs(batchSigs, batchSigs, k, bands)
      .where(col("a") < col("b"))
    // 4. incremental CC fold — O(touched), never a corpus recompute
    val labels = Pins(Graph.incrementalComponents(
      state.labels, crossEdges.unionByName(innerEdges)))
    (batchSigs, labels)
  }

  /** Fold one micro-batch of (doc_id, text) into the state. */
  def foldBatch(state: CorpusState, batch: DataFrame,
                k: Int = 32, bands: Int = 8): CorpusState = {
    val (batchSigs, labels) = foldCore(state, batch, k, bands)
    val sigs = Pins(state.sigs.unionByName(batchSigs))
    org.apache.spark.sql.graftbridge.CheckpointBridge.freeCheckpoint(state.sigs)
    org.apache.spark.sql.graftbridge.CheckpointBridge.freeCheckpoint(state.labels)
    CorpusState(sigs, labels)
  }

  /** Attach the fold to a streaming document source with in-memory state
    * (see class doc for the durability caveat). Caller owns the returned
    * query's lifecycle; current state is read via `state()`.
    */
  def start(docsStream: DataFrame, checkpointDir: String,
            k: Int = 32, bands: Int = 8): (org.apache.spark.sql.streaming.StreamingQuery, () => CorpusState) = {
    val spark = docsStream.sparkSession
    @volatile var st = empty(spark)
    val q = docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        st = foldBatch(st, batch, k, bands)
        ()
      }
      .start()
    (q, () => st)
  }

  // ---------------------------------------------------------------------
  // Durable state: versioned parquet artifacts + manifest commit.
  //
  // Layout under stateDir:
  //   v{batchId}/sigs/    parquet (+_SUCCESS) — the signatures ADDED at
  //                       this batch (a delta), or the full table when
  //                       this version is a compaction (sigs/_FULL marker)
  //   v{batchId}/labels/  parquet (+_SUCCESS) — full label snapshot
  //   _LATEST             text file holding the committed batchId
  //
  // Signatures are immutable per doc, so the per-batch write is O(batch),
  // not O(corpus): the live signature table is the UNION of every sig
  // segment at or below the committed version (deduped by doc_id — heals
  // the crash window between a compaction's manifest swap and its GC).
  // Labels are O(paired docs) and genuinely change each batch, so they
  // snapshot per version. When segments exceed maxSegs the commit writes
  // the full union once (_FULL) and GC drops the older segments — the
  // same amortization as Sinks.upsertCommitted's generation compaction.
  //
  // Commit protocol (poor-man's snapshot log, same as Sinks' swap):
  // write the version dir, then atomically rename a tmp manifest over
  // _LATEST, then GC. A reader never follows a half-written version:
  // _LATEST moves only after both _SUCCESS markers exist, and if _LATEST
  // itself is missing/torn the loader falls back to the newest COMPLETE
  // version on disk.
  // ---------------------------------------------------------------------

  private def versionDirs(stateDir: java.io.File): Seq[(Long, java.io.File)] =
    Option(stateDir.listFiles()).getOrElse(Array.empty)
      .collect { case f if f.isDirectory && f.getName.matches("v\\d+") =>
        (f.getName.drop(1).toLong, f) }
      .toSeq.sortBy(_._1)

  private def isComplete(vDir: java.io.File): Boolean =
    new java.io.File(vDir, "sigs/_SUCCESS").exists() &&
      new java.io.File(vDir, "labels/_SUCCESS").exists()

  /** The committed version under `stateDir`, if any: the manifest's target
    * when it is readable and complete, else the newest complete version.
    */
  def committedVersion(stateDir: String): Option[Long] = {
    val base = new java.io.File(stateDir)
    val fromManifest =
      try {
        val m = new java.io.File(base, "_LATEST")
        if (!m.exists()) None
        else Some(new String(java.nio.file.Files.readAllBytes(m.toPath),
          "UTF-8").trim.toLong)
      } catch { case _: Exception => None }
    fromManifest.filter(v => isComplete(new java.io.File(base, s"v$v")))
      .orElse(versionDirs(base).filter(p => isComplete(p._2)).lastOption.map(_._1))
  }

  /** Complete sig segments at or below `upTo`, oldest first. */
  private def sigSegments(stateDir: String, upTo: Long): Seq[java.io.File] =
    versionDirs(new java.io.File(stateDir))
      .filter { case (v, d) => v <= upTo && new java.io.File(d, "sigs/_SUCCESS").exists() }
      .map(p => new java.io.File(p._2, "sigs"))

  /** Load the committed durable state, or None if nothing is committed.
    * Signatures are the union of every live segment, deduped by doc_id
    * (duplicates exist only in the compaction-swap-to-GC crash window,
    * where a _FULL segment briefly coexists with the deltas it folded).
    */
  def loadState(spark: SparkSession, stateDir: String): Option[CorpusState] =
    committedVersion(stateDir).map { v =>
      val segs = sigSegments(stateDir, v)
      CorpusState(
        spark.read.parquet(segs.map(_.getPath): _*).dropDuplicates("doc_id"),
        spark.read.parquet(new java.io.File(stateDir, s"v$v/labels").getPath))
    }

  /** Commit a batch's DELTA (new signatures + the full label snapshot) as
    * `version`; when `fullSigs` is set the sigs dir is the complete table
    * (a compaction) and gets the _FULL marker. Idempotent: if this version
    * is already complete on disk (a redelivered batch after a crash
    * between state commit and offset commit), the write is skipped — the
    * redelivered fold was a no-op against the recovered state, so the
    * bytes would be identical anyway, and skipping avoids a re-write
    * window over the only complete copy.
    */
  private def persistVersion(sigs: DataFrame, labels: DataFrame, stateDir: String,
                             version: Long, fullSigs: Boolean): Unit =
    persistVersionImpl(sigs, labels, stateDir, version, fullSigs)

  /** [[persistVersion]] with crash injection for the StatefulStreamingSpec
    * crash matrix (SinksSpec.upsertCommittedImpl discipline): kill between
    * the segment write and the manifest rename, or between the rename and
    * GC — the two windows the commit-protocol note above claims are safe.
    */
  private[graft] def persistVersionImpl(sigs: DataFrame, labels: DataFrame,
                                        stateDir: String, version: Long,
                                        fullSigs: Boolean,
                                        crashBeforeManifest: Boolean = false,
                                        crashBeforeGc: Boolean = false): Unit = {
    val base = new java.io.File(stateDir)
    base.mkdirs()
    val vDir = new java.io.File(base, s"v$version")
    if (!isComplete(vDir)) {
      val sigDir = new java.io.File(vDir, "sigs")
      sigs.write.mode("overwrite").parquet(sigDir.getPath)
      if (fullSigs)
        java.nio.file.Files.write(
          new java.io.File(sigDir, "_FULL").toPath, Array.emptyByteArray)
      labels.write.mode("overwrite")
        .parquet(new java.io.File(vDir, "labels").getPath)
    }
    if (crashBeforeManifest)
      throw new RuntimeException("injected crash: segment written, manifest not renamed")
    val tmp = new java.io.File(base, s"_LATEST.tmp.$version")
    java.nio.file.Files.write(tmp.toPath, version.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp.toPath, new java.io.File(base, "_LATEST").toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    if (crashBeforeGc)
      throw new RuntimeException("injected crash: manifest renamed, GC not run")
    // GC strictly after the manifest points at the new version: drop
    // segments folded into the newest _FULL, old label snapshots, and
    // whole versions with neither live sigs nor the current labels
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(); ()
    }
    val newestFull = versionDirs(base)
      .filter { case (v, d) => v <= version && new java.io.File(d, "sigs/_FULL").exists() }
      .lastOption.map(_._1).getOrElse(-1L)
    versionDirs(base).foreach { case (v, d) =>
      if (v < newestFull) rm(d)
      else if (v < version) rm(new java.io.File(d, "labels"))
    }
  }

  /** Back-compat full-state commit (used by tooling/tests that hold a
    * complete state): persists the whole signature table as a _FULL
    * segment.
    */
  def persistState(state: CorpusState, stateDir: String, version: Long): Unit =
    persistVersion(state.sigs, state.labels, stateDir, version, fullSigs = true)

  /** [[start]] with durable state: resumes from the committed state under
    * `stateDir` (paired with the source offsets under `checkpointDir`) and
    * commits each batch's sig DELTA + label snapshot before the batch
    * completes — per-batch write cost O(batch + labels), never O(corpus).
    * Segments fold into one _FULL table when they exceed `maxSegs`.
    * Restart with the same two dirs recovers exactly; see the
    * commit-protocol note above for the crash windows.
    */
  def startDurable(docsStream: DataFrame, checkpointDir: String, stateDir: String,
                   k: Int = 32, bands: Int = 8, maxSegs: Int = 16): (org.apache.spark.sql.streaming.StreamingQuery, () => CorpusState) = {
    val spark = docsStream.sparkSession
    @volatile var st = loadState(spark, stateDir).getOrElse(empty(spark))
    val q = docsStream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val prev = st
        val (batchSigs, labels) = foldCore(prev, batch, k, bands)
        if (batchSigs.isEmpty && committedVersion(stateDir).isDefined) {
          // fully-absorbed redelivery of an already-committed state:
          // nothing changed, don't mint an empty version
          org.apache.spark.sql.graftbridge.CheckpointBridge.freeCheckpoint(batchSigs)
          org.apache.spark.sql.graftbridge.CheckpointBridge.freeCheckpoint(labels)
        } else {
          val compact = sigSegments(stateDir, Long.MaxValue).size + 1 > maxSegs
          if (compact)
            persistVersion(prev.sigs.unionByName(batchSigs), labels,
              stateDir, batchId, fullSigs = true)
          else
            persistVersion(batchSigs, labels, stateDir, batchId, fullSigs = false)
          org.apache.spark.sql.graftbridge.CheckpointBridge.freeCheckpoint(batchSigs)
          org.apache.spark.sql.graftbridge.CheckpointBridge.freeCheckpoint(labels)
          st = loadState(spark, stateDir).getOrElse(prev)
        }
        ()
      }
      .start()
    (q, () => st)
  }
}
