package graft

import graft.hypermap.{Decode, EntriesFold, Fixtures, Sinks}
import graft.streaming.Tail
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The committed tail's cost in Spark jobs per micro-batch, and in stages
  * that write shuffle output. Job count, not data, sets a small batch's
  * latency, so both counts are pinned: a change that adds a scan, a
  * listing, a schema inference or an exchange to the batch shows up here
  * before it shows up as seconds.
  */
class TailJobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Counts the Spark jobs one streaming query starts, and those jobs'
    * stages that wrote shuffle output.
    */
  private final class QueryJobs(queryId: () => String) extends SparkListener {
    val count = new AtomicInteger
    val shuffleStages = new AtomicInteger
    private val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") == queryId())) {
        count.incrementAndGet()
        e.stageIds.foreach(stages.add(_))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (stages.contains(e.stageInfo.stageId) &&
          e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten > 0)
        shuffleStages.incrementAndGet()
  }

  test("a committed micro-batch stays within its job budget, flat in live generations") {
    val base = Files.createTempDirectory("graft-tail-jobs")
    val rawDir = base.resolve("raw").toString
    val enDir = base.resolve("en").toString
    new java.io.File(rawDir).mkdirs()
    val maxGens = 5
    val all = Fixtures.goldenLogs
    // the entries table is seeded at one row per bucket from the golden
    // range plus 7 names no batch touches: 9 rows over 16 buckets, so the
    // seed's generation stays live and there are empty buckets to fill
    // (the production size would give these few rows one bucket, and
    // every commit one generation)
    val seed = all ++ (1 to 7).map(i => Fixtures.mint(Fixtures.Root, s"seed$i", 27430000L + i, 0))
    Sinks.upsertCommittedImpl(spark, enDir, EntriesFold.fold(Decode.decode(Fixtures.toDF(spark, seed))),
      keyCol = "namehash", maxGens = maxGens, rowsPerBucket = 1, crashBeforeCommit = false)
    val seeded = Sinks.readManifest(spark, enDir).get
    // top-level mint labels whose names hash to distinct EMPTY buckets, so
    // that each mint commits one new bucket into a generation of its own
    val labels = {
      import spark.implicits._
      val candidates = (1 to 64).map(i => s"gen$i")
      val buckets = candidates.map(l => graft.functions.EvmCodec.namehash(Fixtures.Root, l))
        .toDF("namehash").select(Sinks.bucketCol("namehash", seeded.nBuckets)).as[Long].collect()
      candidates.zip(buckets).filterNot(lb => seeded.buckets.contains(lb._2))
        .groupBy(_._2).values.map(_.head).toSeq.sortBy(_._2).map(_._1).take(4)
    }
    assert(labels.size == 4, s"too few empty buckets in $seeded")
    // batch 0 creates the events table; batch 1 is the budgeted one, the
    // rest of the golden range on top of it; then the single mints, enough
    // to take the live generations (2 or 3 after batch 1) past maxGens
    val batches = Seq(all.take(8), all.drop(8)) ++ labels.zipWithIndex.map { case (l, i) =>
      Seq(Fixtures.mint(Fixtures.Root, l, 27440001L + i, 0)) }
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val listener = new QueryJobs(() => Option(q).map(_.id.toString).orNull)
    spark.sparkContext.addSparkListener(listener)
    try {
      q = Tail.startWithEntriesCommitted(spark, rawDir + "/*/", base.resolve("ev").toString,
        enDir, base.resolve("ck").toString, trigger = Trigger.ProcessingTime(0L),
        maxGens = maxGens)
      val (jobs, shuffles, gens) = batches.zipWithIndex.map { case (b, i) =>
        val (before, shufflesBefore) = (listener.count.get, listener.shuffleStages.get)
        Fixtures.toDF(spark, b).coalesce(1).write.json(rawDir + s"/b$i")
        q.processAllAvailable()
        ListenerBusBridge.drain(spark.sparkContext)
        (listener.count.get - before, listener.shuffleStages.get - shufflesBefore,
          Sinks.readManifest(spark, enDir).get.buckets.values.toSet.size)
      }.unzip3
      info(s"jobs per batch $jobs, shuffle-writing stages $shuffles, " +
        s"live generations after each $gens")
      val budget = 8 // recorded: 6 golden, 6 later (7 with ROOT's bucket live), 8 compacting
      assert(jobs(1) <= budget, s"golden batch took ${jobs(1)} jobs, budget $budget; all: $jobs")
      // batches that only add a generation cost the same whatever the
      // count of live ones; the batch that compacts adds the compaction
      val (growing, compacting) = (2 until batches.size).partition(i => gens(i) > gens(i - 1))
      assert(gens.max == maxGens, s"generations never reached maxGens: $gens")
      assert(growing.map(jobs).distinct.size == 1,
        s"jobs per batch grew with live generations: jobs $jobs, generations $gens")
      assert(compacting.nonEmpty && compacting.forall(jobs(_) <= budget),
        s"compacting batch over budget $budget: jobs $jobs, generations $gens")
      // one exchange per batch, the upsert's repartition by bucket; a batch
      // whose commit compacts (its live generations drop) adds the rewrite's
      val compacted = (1 until batches.size).filter(i => gens(i) < gens(i - 1)).toSet
      assert(compacted.nonEmpty &&
        shuffles.indices.forall(i => shuffles(i) == (if (compacted(i)) 2 else 1)),
        s"shuffle-writing stages per batch $shuffles, generations $gens")
    } finally {
      if (q != null) q.stop()
      spark.sparkContext.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    }
  }
}
