package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.hypermap.{Decode, EntriesFold, Schemas, Sinks}

/** ST1-ST4: the reference's "continuous mode"
  * (/root/reference/scripts/scan-events.ts:129,148-300 — poll head every
  * 30 s, scan new ranges, upsert, loop) as Structured Streaming.
  *
  *   - ST1 tail: a file-based raw-log source stands in for the RPC fetcher
  *     (which is driver-side I/O, not engine work): each landed file is a
  *     scanned block range. `Trigger.ProcessingTime(30s)` reproduces the
  *     poll cadence; `Trigger.AvailableNow` drains for tests/backfill.
  *   - ST2 offsets: the checkpoint dir persists source offsets — the
  *     engine's `currentStartBlock = endBlock + 1` equivalent, crash-safe.
  *   - ST3 exactly-once: at-least-once file delivery + the idempotent
  *     event_id sink (anti-join insert) ⇒ effectively-once tables, same
  *     trick as the reference's upsert-by-_id, minus the N+1 round trips.
  *   - ST4 running counts: streaming aggregation over eventType (7 keys,
  *     unbounded-safe, no watermark needed — mirrors the reference's
  *     running totals).
  *
  * ST5 (reorg handling) is absent in the reference and documented
  * out-of-scope for parity. The natural extension — confirmation depth
  * (index only blocks ≤ head − N) — IS implemented, fetcher-first:
  * [[graft.hypermap.Rpc.pollOnce]]'s `confirmations` cap means an
  * unconfirmed block is never fetched at all; once it clears the depth
  * it is fetched exactly once, with its post-reorg final content, and
  * only that version is ever indexed. [[startWithEntriesCommitted]]'s
  * `confirmedUpTo` bound is the engine-side HALF: an assertion that the
  * fetcher respected the depth, failing loud on unconfirmed rows rather
  * than silently dropping them (dropped rows would never be re-delivered
  * — see the parameter doc). Cap what you fetch; assert what you index.
  * Spec: StreamingSpec "ST5 extension" (live reorg through the real
  * fetcher) + the fail-loud misconfiguration test.
  */
object Tail {

  /** Stream raw-log files (JSON lines) → decode → idempotent events table.
    * Exactly-once via foreachBatch + insert-if-absent on event_id.
    */
  def start(spark: SparkSession, rawDir: String, eventsDir: String,
            checkpointDir: String,
            trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
            blocks: Option[DataFrame] = None): StreamingQuery = {
    val raw = spark.readStream.schema(Schemas.rawLogs).json(rawDir)
    raw.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // decode is stateless per micro-batch; the sink dedupes re-delivery
        Sinks.insertIfAbsent(spark, eventsDir, Decode.decode(batch, blocks))
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** Tail that maintains BOTH tables: events (idempotent insert) and the
    * derived entries, refreshing only the namehashes each batch touches.
    * The streaming equivalent of the reference's storeEvents +
    * processEventsToEntries per chunk (scripts/extract-events.ts:95-136,
    * mongodb.ts:113-144), minus its per-event round trips.
    *
    * Snapshot: the entries table lives behind the manifest of
    * [[graft.hypermap.Sinks.upsertCommitted]], so a reader concurrent
    * with (or interrupted by) a micro-batch sees either the previous or
    * the next complete snapshot, never a mix. Read it with
    * `Sinks.readCommitted` or `Sinks.lookupCommitted`.
    *
    * Compaction: a commit folds the snapshot back to ONE generation once
    * it references more than `maxGens`, amortized O(table/maxGens) per
    * batch with the same crash-safety as any commit, so the serving table
    * holds ≤ maxGens·nBuckets files at all times (StreamingSpec
    * "auto-compacts"); the table sizes `nBuckets` from its own row count.
    * The events dir is the write-once archive log, deliberately
    * append-only; its file hygiene is an offline `ZOrder.compaction` pass.
    *
    * Cost contract, per micro-batch with new events:
    *   - scans: the batch once for the insert and once for its keys; the
    *     events table once for the insert's existing ids and once, with a
    *     hash-set filter on the touched keys, for their history; ROOT's
    *     one committed bucket; the touched buckets once, in the merge;
    *   - writes: the novel events and one new generation holding only
    *     the touched buckets (plus, every `maxGens` batches, a compaction
    *     of the whole table);
    *   - jobs: a fixed number for the insert, the key and history
    *     collects and the upsert; none for the fold over the collected
    *     history, which runs on the driver without a Spark plan, none per
    *     live generation and none to list or infer a schema
    *     (TailJobBudgetSpec pins the count);
    *   - driver memory: O(history of TOUCHED keys) up to
    *     `EntriesFold.incrementalDelta`'s cap, past which the fold runs
    *     distributed.
    * That is the tail shape — small triggers touching few keys. A bulk
    * BACKFILL through this path re-folds ~the whole history per batch; it
    * belongs to the batch path (`EtlJob.run`), then start the tail from
    * its checkpoint.
    *
    * `confirmedUpTo` (ST5 extension): when set, each micro-batch ASSERTS
    * that every row is at or below `confirmedUpTo()` — the
    * confirmation-depth bound (head − N), evaluated per batch — and FAILS
    * LOUD otherwise, at the cost of one max-aggregate job over the batch.
    * It asserts instead of filtering because a dropped row would never
    * come back: a re-landed chunk keeps its filename, which the file
    * source never reprocesses, and the coverage manifest counts it as
    * covered. Capping the FETCHER ([[graft.hypermap.Rpc.pollOnce]] with
    * confirmations ≥ this depth) means it never fires; the error names
    * the remedies if it does.
    */
  def startWithEntriesCommitted(spark: SparkSession, rawDir: String, eventsDir: String,
                                entriesDir: String, checkpointDir: String,
                                trigger: Trigger = Trigger.ProcessingTime("30 seconds"),
                                blocks: Option[DataFrame] = None,
                                maxGens: Int = 16,
                                confirmedUpTo: Option[() => Long] = None): StreamingQuery = {
    val raw = spark.readStream.schema(Schemas.rawLogs).json(rawDir)
    raw.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        confirmedUpTo.foreach { f =>
          val bound = f()
          val top = batch.agg(max(col("blockNumber"))).head()
          if (!top.isNullAt(0) && top.getLong(0) > bound)
            throw new IllegalStateException(
              s"micro-batch contains blocks up to ${top.getLong(0)}, above the " +
                s"confirmation bound $bound: the fetcher landed UNCONFIRMED blocks. " +
                "Dropping them would be silent loss (re-landed chunks reuse their " +
                "filenames, which the file source never reprocesses, and the poll " +
                "frontier advances past them). Run the fetcher with confirmations " +
                ">= this tail's depth (Rpc.pollOnce(confirmations = N)), or re-land " +
                "the unconfirmed range under fresh filenames.")
        }
        val decoded = Decode.decode(batch, blocks).cache()
        try {
          val inserted = Sinks.insertIfAbsent(spark, eventsDir, decoded)
          if (inserted > 0 && Sinks.exists(spark, eventsDir)) {
            val allEvents = Sinks.readFlat(spark, eventsDir)
            // incrementalDelta only probes the previous entries for ROOT
            val prev =
              if (Sinks.readManifest(spark, entriesDir).isDefined)
                Sinks.lookupCommitted(spark, entriesDir, Seq(Schemas.RootHash))
              else spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Schemas.entries)
            val (_, refreshed) =
              EntriesFold.incrementalDelta(allEvents, prev, decoded)
            Sinks.upsertCommitted(spark, entriesDir, refreshed,
              keyCol = "namehash", maxGens = maxGens)
          }
        } finally decoded.unpersist()
        ()
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** ST7 — progress reporting (index-events.ts:150-155's 15 s ticker):
    * a StreamingQueryListener invoking `onProgress` with (batchId,
    * numInputRows) per completed micro-batch. Returns the listener so
    * callers can remove it.
    */
  def withProgressListener(spark: SparkSession)(
      onProgress: (Long, Long) => Unit): org.apache.spark.sql.streaming.StreamingQueryListener = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val l = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        onProgress(e.progress.batchId, e.progress.numInputRows)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    l
  }

  /** ST4 — running per-type counts, update-mode streaming aggregation. */
  def runningCounts(spark: SparkSession, rawDir: String, queryName: String,
                    trigger: Trigger = Trigger.ProcessingTime("30 seconds")): StreamingQuery = {
    val raw = spark.readStream.schema(Schemas.rawLogs).json(rawDir)
    Decode.decode(raw)
      .groupBy(col("eventType")).count()
      .writeStream
      .outputMode("complete")
      .format("memory")
      .queryName(queryName)
      .trigger(trigger)
      .start()
  }
}
