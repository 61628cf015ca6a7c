package e2ebench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.hypermap.{Decode, EntriesFold, EtlJob, Fixtures, Layout, QueryService, Rpc, Schemas, Sinks}
import graft.streaming.Tail

/** `pipeline`: the paper's lifecycle on one seeded chain. First a cold
  * backfill from genesis through the batch path, as the one-shot CLI runs
  * it: `Rpc.fetch` against the mock node with a seeded 429 schedule, then
  * `EtlJob.run(checkCoverage = true)`. Then continuous mode: the committed
  * entries are seeded with the history's full fold,
  * `Tail.startWithEntriesCommitted` runs on a fresh raw dir, and each step
  * advances the mock head by one seeded batch that continues the same
  * hub-biased namespace, polls, waits for the stream to commit, checks the
  * new names are visible and issues a seeded explorer mix. One client,
  * closed loop: a step starts only when the previous one is done.
  */
object Pipeline {

  /** Blocks of the mock chain hold 7 logs each: a 7,000-log history and
    * 98-log live steps, timed while the window lasts, up to [[MaxSteps]].
    */
  val HistoryBlocks = 1000
  val StepBlocks = 14
  val MaxSteps = 4
  /** `Rpc.fetch` sleeps base·2^attempt ms per retry; 2 ms keeps the
    * retry path exercised without sleeping dominating the pass.
    */
  val BaseRetryDelayMs = 2L
  val EntryViewsPerStep = 4
  val FeedViewsPerStep = 4
  val FeedTypes = Seq("Mint", "Note", "Fact", "Transfer")

  final case class Backfilled(logs: Int, fetchS: Double, etlS: Double, requests: Long,
                              chunks: Long, retries: Long, backoffS: Double,
                              problems: Seq[String]) {
    def secs: Double = fetchS + etlS
  }

  /** One explorer page: its latency, rows returned, and whether the
    * traced run's listener was attached while it ran.
    */
  final case class View(ms: Double, rows: Long, listened: Boolean)

  final case class Step(freshS: Double, logs: Int, visible: Boolean,
                        entry: Seq[View], feed: Seq[View], gens: Int)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val rnd = new scala.util.Random(ctx.seed)
    // any prefix of the generated chain is itself a chain, so the history
    // and the live steps after it come from one call
    val chain = Fixtures.randomLogs(7 * (HistoryBlocks + StepBlocks * MaxSteps), ctx.seed).toIndexedSeq
    val history = Chain.batches(chain, HistoryBlocks).head
    val steps = Chain.batches(chain.drop(history.size), StepBlocks)
    val genesis = history.head.blockNumber
    val histHead = history.last.blockNumber
    val mock = new Rpc.MockRpc(history, histHead, Chain.rateLimitPlan(ctx.seed))
    val work = ctx.dir("pipeline")
    var query: StreamingQuery = null
    try {
      /** Fetch `logs` (a chain prefix) into a fresh raw dir and index it;
        * the output check is untimed.
        */
      def backfill(logs: IndexedSeq[Fixtures.Log], name: String): Backfilled = {
        val raw = ctx.dir(s"pipeline/$name/raw")
        val slept = new AtomicLong
        val req0 = mock.logsRequests
        val (fetched, fetchS) = Timer.secs(ctx.span("rpc")(Rpc.fetch(mock.endpoint, genesis,
          logs.last.blockNumber, raw, baseRetryDelayMs = BaseRetryDelayMs,
          sleeper = ms => { slept.addAndGet(ms); Thread.sleep(ms) })))
        val (report, etlS) = Timer.secs(ctx.span("etl")(
          EtlJob.run(spark, raw, s"$work/$name/out", checkCoverage = true)))
        val entries = spark.read.parquet(s"$work/$name/out/entries").count()
        val problems = Seq(
          Option.when(report.byType != Chain.typeCounts(logs))(s"event types ${report.byType}"),
          Option.when(report.inserted != logs.size)(s"inserted ${report.inserted} of ${logs.size}"),
          Option.when(entries != Chain.entryCount(logs))(s"$entries entries")).flatten
        Backfilled(logs.size, fetchS, etlS, mock.logsRequests - req0, fetched.chunks,
          fetched.retries, slept.get / 1000.0, problems)
      }

      var setupS = ctx.sinceStart

      // ---- timed: the backfill of the whole history
      val gc0 = Layers.gcSeconds()
      val cost0 = ctx.probe.map(_.snapshot()._1)
      val persisted0 = Leaks.persistedIds(spark.sparkContext).size
      val bf = backfill(history, "history")
      progress(f"backfill fetch ${bf.fetchS}%.2f s (${bf.requests} requests, ${bf.retries} retries), " +
        f"etl ${bf.etlS}%.2f s")

      // ---- set-up: committed entries from the history's fold, then the tail
      val t1 = System.nanoTime()
      val events = s"$work/history/out/events"
      val entries = s"$work/committed"
      Sinks.upsertCommitted(spark, entries, EntriesFold.fold(spark.read.parquet(events)),
        keyCol = "namehash")
      progress("committed entries seeded")
      val tailRaw = ctx.dir("pipeline/tail_raw")
      query = Tail.startWithEntriesCommitted(spark, tailRaw, events, entries,
        ctx.dir("pipeline/checkpoint"), trigger = Trigger.ProcessingTime(0L))
      val minted = mutable.ArrayBuffer.from(Chain.minted(history))
      setupS += (System.nanoTime() - t1) / 1e9
      progress("tail started")

      /** A traced run detaches its listener on some views of each kind
        * ([[Ctx.listens]]), to price tracing within one request type.
        */
      val views = mutable.Map.empty[String, Int].withDefaultValue(0)
      def view(kind: String)(body: => Long): View = {
        val listened = ctx.listens(views(kind))
        views(kind) += 1
        if (!listened) ctx.probe.foreach(_.detach())
        val (rows, secs) = Timer.secs(ctx.span(kind)(body))
        if (!listened) ctx.probe.foreach(_.attach())
        View(secs * 1000, rows, listened)
      }

      def entryView(key: String): View = view("entry_view") {
        Sinks.lookupCommitted(spark, entries, Seq(key)).collect().length +
          QueryService.getEventsForEntry(spark.read.parquet(events), key).collect().length
      }

      def feedView(t: String, page: Int): View = view("feed_view") {
        val (rows, total) = QueryService.getEvents(spark.read.parquet(events), Some(t), page = page)
        rows.collect().length + 1L // the page and its total
      }

      /** Hub-biased pick, the generator's own parent bias. */
      def hubKey(): String =
        minted(math.min(minted.size - 1, (math.pow(rnd.nextDouble(), 3.0) * minted.size).toInt))

      def step(batch: IndexedSeq[Fixtures.Log]): Step = {
        val keys = Chain.minted(batch)
        val t0 = System.nanoTime()
        mock.logs = mock.logs ++ batch
        mock.head = batch.last.blockNumber
        ctx.span("rpc")(Rpc.pollOnce(mock.endpoint, tailRaw, genesis = histHead + 1,
          baseRetryDelayMs = BaseRetryDelayMs))
        query.processAllAvailable()
        var visible = false
        while (!visible && (System.nanoTime() - t0) / 1e9 < 60)
          visible = ctx.span("freshness")(Sinks.lookupCommitted(spark, entries, keys)
            .select("namehash").distinct().count()) == keys.size
        val freshS = (System.nanoTime() - t0) / 1e9
        minted ++= keys
        val gens = genDirs(entries).size
        val entry = (0 until EntryViewsPerStep).map(i =>
          entryView(if (i % 2 == 0 && keys.nonEmpty) keys(rnd.nextInt(keys.size)) else hubKey()))
        val feed = (0 until FeedViewsPerStep).map(_ =>
          feedView(FeedTypes(rnd.nextInt(FeedTypes.size)), 1 + rnd.nextInt(5)))
        Step(freshS, batch.size, visible, entry, feed, gens)
      }

      // ---- timed: live steps until the window is spent
      val done = mutable.ArrayBuffer.empty[Step]
      val t0 = System.nanoTime()
      do {
        done += step(steps(done.size))
        val s = done.last
        progress(f"step ${done.size} fresh ${s.freshS}%.2f s, entry views " +
          s.entry.map(v => f"${v.ms}%.0f").mkString(",") + " ms, feed views " +
          s.feed.map(v => f"${v.ms}%.0f").mkString(",") + " ms")
      } while ((System.nanoTime() - t0) / 1e9 < ctx.seconds && done.size < steps.size)
      query.stop()
      progress("steps done")
      val gcS = Layers.gcSeconds() - gc0
      val leaked = Leaks.persistedIds(spark.sparkContext).size - persisted0
      val window = ctx.probe.map { p =>
        val c = Probe.total(p.snapshot()._1); cost0.foreach(b => c -= Probe.total(b)); c }

      // ---- output checks, untimed
      val allEvents = spark.read.parquet(events)
      val committed = Sinks.readCommitted(spark, entries)
      val (diff, gotEntries) = entriesDiff(committed, EntriesFold.fold(allEvents))
      val wantEntries = Chain.entryCount(history ++ steps.take(done.size).flatten)
      val checks = Seq(
        ("backfill_counts", bf.problems.isEmpty, bf.problems.mkString("; ")),
        ("live_entries_equal_fold", diff == 0L, s"$diff rows differ"),
        ("live_entry_count", gotEntries == wantEntries, s"$gotEntries of $wantEntries")) ++
        done.zipWithIndex.map { case (s, i) => (s"step_${i}_visible", s.visible, "names not visible") }

      progress("checks done")
      val fresh = Stats.median(done.map(_.freshS).toSeq)
      val entryMs = done.flatMap(_.entry).filter(_.listened).map(_.ms).toSeq
      val feedMs = done.flatMap(_.feed).filter(_.listened).map(_.ms).toSeq
      val tailRate = done.map(_.logs).sum / done.map(_.freshS).sum
      val backfillRate = bf.logs / bf.secs
      val metrics = Map(
        "setup_s" -> (setupS, "s"),
        "throughput_per_s" -> (backfillRate, "1/s"),
        "primary_ms" -> (fresh * 1000, "ms"),
        "secondary_ms" -> (Stats.median(entryMs), "ms"))
      def pct(name: String, xs: Seq[Double]) =
        Seq(s"${name}_p50_ms" -> Some(Stats.median(xs)), s"${name}_p90_ms" -> Stats.percentile(xs, 0.9))
          .collect { case (k, Some(v)) => k -> (v, "ms") }
      val detail = Map(
        "backfill_logs_per_s" -> (backfillRate, "logs/s"),
        "freshness_p50_s" -> (fresh, "s"), "tail_logs_per_s" -> (tailRate, "logs/s"),
        "setup_s" -> (setupS, "s"), "backfill_logs" -> (bf.logs.toDouble, "count"),
        "timed_steps" -> (done.size.toDouble, "count"),
        "entry_views" -> (entryMs.size.toDouble, "count"),
        "feed_views" -> (feedMs.size.toDouble, "count")) ++
        pct("entry_view", entryMs) ++ pct("feed_view", feedMs)
      val attempted = 1 + done.size + done.map(s => s.entry.size + s.feed.size).sum + 2

      lazy val layers = {
        val probe = ctx.probe.get
        // Lazy layers run inside EtlJob's actions; price each public
        // function in its own span on the backfill's own inputs.
        val attr = s"$work/attribution"
        val rawDf = spark.read.schema(Schemas.rawLogs).json(s"$work/history/raw")
        val decodeS = Timer.secs(ctx.span("attr:decode")(noop(Decode.decode(rawDf))))._2
        val decoded = Decode.decode(rawDf).cache()
        val nDecoded = decoded.count()
        val (inserted, insertS) = Timer.secs(ctx.span("attr:insert")(
          Sinks.insertIfAbsent(spark, s"$attr/events", decoded)))
        decoded.unpersist()
        val histEvents = spark.read.parquet(s"$attr/events")
        val foldS = Timer.secs(ctx.span("attr:fold")(noop(EntriesFold.fold(histEvents))))._2
        val layoutS = Timer.secs(ctx.span("attr:layout")(
          Layout.writeEntries(EntriesFold.fold(histEvents), s"$attr/entries")))._2 - foldS
        val children = decodeS + insertS + foldS + layoutS

        // The tail's two stages on its last batch, after the checks above:
        // re-committing the refreshed rows leaves the table's content as is.
        val lastChunk = new java.io.File(tailRaw).listFiles()
          .filter(f => f.isFile && f.getName.endsWith(".json")).maxBy(_.lastModified)
        val batchDf = Decode.decode(spark.read.schema(Schemas.rawLogs).json(lastChunk.getPath)).cache()
        val allEv = spark.read.parquet(events)
        val (affected, refreshed) = EntriesFold.incrementalDelta(allEv, Sinks.readCommitted(spark, entries), batchDf)
        val deltaS = Timer.secs(ctx.span("attr:delta")(noop(refreshed)))._2
        val nAffected = affected.count()
        val historyRows = allEv.join(broadcast(affected), col("childhash") === col("k") ||
          col("parenthash") === col("k") || col("entry") === col("k") || col("id") === col("k"),
          "left_semi").count()
        val nRefreshed = refreshed.count()
        val upsertS = Timer.secs(ctx.span("attr:upsert")(
          Sinks.upsertCommitted(spark, entries, refreshed, keyCol = "namehash")))._2
        batchDf.unpersist()
        val newest = genDirs(entries).maxBy(_.getName)
        val buckets = newest.listFiles().filter(_.getName.startsWith("bucket="))
        val files = buckets.flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))

        val (bySpan, _) = probe.snapshot()
        def spanCost(k: String) = bySpan.getOrElse(k, new Cost)
        val (entryCost, feedCost) = (spanCost("entry_view"), spanCost("feed_view"))
        val entryViews = done.flatMap(_.entry).filter(_.listened)
        val feedViews = done.flatMap(_.feed).filter(_.listened)
        val lastKey = minted.last
        val filesPerView = Sinks.lookupCommitted(spark, entries, Seq(lastKey)).inputFiles.length +
          spark.read.parquet(events).inputFiles.length
        val batches = probe.streamBatches
        def batchMs(k: String) = Stats.median(batches.map(_.getOrElse(k, 0L).toDouble))
        def overhead(vs: Seq[View]): Double = {
          val (on, off) = vs.partition(_.listened)
          Stats.median(on.map(_.ms)) / Stats.median(off.map(_.ms)) - 1
        }
        Layers.complete(window.map(Layers.spark(_, gcS)).getOrElse(Map.empty) ++ Map(
          "rpc.fetch_s" -> bf.fetchS, "rpc.requests" -> bf.requests.toDouble,
          "rpc.chunks" -> bf.chunks.toDouble, "rpc.retries" -> bf.retries.toDouble,
          "rpc.backoff_s" -> bf.backoffS, "rpc.logs_per_s" -> bf.logs / bf.fetchS,
          "decode.s" -> decodeS, "decode.logs_per_s" -> bf.logs / decodeS,
          "sinks.insert_s" -> insertS, "sinks.insert_novel_frac" -> inserted.toDouble / nDecoded,
          "fold.s" -> foldS, "fold.events_per_s" -> nDecoded / foldS,
          "layout.entries_s" -> layoutS, "etl.self_s" -> (bf.etlS - children),
          "trace.child_cover_frac" -> children / bf.etlS,
          "fold.delta_s" -> deltaS, "fold.affected_keys" -> nAffected.toDouble,
          "fold.history_rows_per_key" -> historyRows.toDouble / math.max(1L, nAffected),
          "sinks.upsert_s" -> upsertS, "sinks.touched_buckets" -> buckets.length.toDouble,
          "sinks.files_written" -> files.length.toDouble,
          "sinks.bytes_per_row" -> files.map(_.length).sum.toDouble / math.max(1L, nRefreshed),
          "sinks.gens_live" -> genDirs(entries).size.toDouble,
          "sinks.compactions" -> done.map(_.gens).toSeq.sliding(2)
            .count(g => g.size == 2 && g(1) < g(0)).toDouble,
          "tail.batch_s" -> batchMs("triggerExecution") / 1000,
          "tail.planning_ms" -> batchMs("queryPlanning"), "tail.get_batch_ms" -> batchMs("getBatch"),
          "tail.add_batch_ms" -> batchMs("addBatch"), "tail.wal_commit_ms" -> batchMs("walCommit"),
          "query.entry_view_jobs" -> entryCost.jobs.toDouble / entryViews.size,
          "query.feed_view_jobs" -> feedCost.jobs.toDouble / feedViews.size,
          "query.files_per_view" -> filesPerView.toDouble,
          "query.rows_scanned_per_row" -> (entryCost.recordsRead + feedCost.recordsRead).toDouble /
            math.max(1L, (entryViews ++ feedViews).map(_.rows).sum),
          "artifacts.build_s" -> Layers.artifactBuildSeconds(),
          "storage.leaked_rdds" -> leaked.toDouble,
          // a step's first view of each kind runs cold, listener or not
          "trace.overhead_frac" -> Stats.median(Seq(overhead(done.flatMap(_.entry.drop(1)).toSeq),
            overhead(done.flatMap(_.feed.drop(1)).toSeq)))))
      }
      Outcome(attempted.toLong, checks.count(!_._2).toLong, checks,
        if (ctx.trace) layers else metrics, detail)
    } finally {
      if (query != null) { query.stop(); query.awaitTermination() }
      mock.stop()
    }
  }

  private def progress(msg: String): Unit =
    System.err.println(f"e2ebench: pipeline [${(System.nanoTime() - T0) / 1e9}%.1f s] $msg")
  private val T0 = System.nanoTime()

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Generation dirs of a committed table (unreferenced ones are removed
    * at each commit, so these are the live ones).
    */
  private def genDirs(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty[java.io.File])
      .filter(f => f.isDirectory && f.getName.startsWith("gen-")).toSeq

  /** Rows in one entries table but not the other, as multisets, with maps
    * and sets in a canonical order, and the row count of `a`. Both tables
    * hold a few thousand rows, so they are collected and compared in
    * memory: two collects instead of the jobs of two set differences.
    */
  def entriesDiff(a: DataFrame, b: DataFrame): (Long, Long) = {
    def canon(df: DataFrame): DataFrame = df.select(
      col("namehash"), col("label"), col("parentHash"), col("fullName"), col("owner"),
      col("gene"), array_sort(map_entries(col("notes"))).as("notes"),
      array_sort(map_entries(col("facts"))).as("facts"),
      array_sort(col("children")).as("children"), col("creationBlock"),
      col("lastUpdateBlock"))
    val (x, y) = (canon(a).collect().toSeq, canon(b).collect().toSeq)
    ((x.diff(y).size + y.diff(x).size).toLong, x.size.toLong)
  }
}
