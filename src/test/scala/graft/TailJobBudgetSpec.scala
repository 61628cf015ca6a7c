package graft

import graft.hypermap.{Fixtures, Sinks}
import graft.streaming.Tail
import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The committed tail's cost in Spark jobs per micro-batch. Job count,
  * not data, sets a small batch's latency, so the count is pinned: a
  * change that adds a scan, a listing or a schema inference to the batch
  * shows up here before it shows up as seconds.
  */
class TailJobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Counts the Spark jobs one streaming query starts. */
  private final class QueryJobs(queryId: () => String) extends SparkListener {
    val count = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty("sql.streaming.queryId") == queryId()))
        count.incrementAndGet()
  }

  test("a committed micro-batch stays within its job budget, flat in live generations") {
    val base = Files.createTempDirectory("graft-tail-jobs")
    val rawDir = base.resolve("raw").toString
    val enDir = base.resolve("en").toString
    new java.io.File(rawDir).mkdirs()
    val maxGens = 3
    val all = Fixtures.goldenLogs
    // batch 0 creates both tables; batch 1 is the budgeted one, the rest
    // of the golden range on top of them; then single top-level mints,
    // each committing one bucket into a new generation
    val batches = Seq(all.take(8), all.drop(8)) ++ (1 to maxGens + 1).map(i =>
      Seq(Fixtures.mint(Fixtures.Root, s"gen$i", 27440000L + i, 0)))
    var q: org.apache.spark.sql.streaming.StreamingQuery = null
    val listener = new QueryJobs(() => Option(q).map(_.id.toString).orNull)
    spark.sparkContext.addSparkListener(listener)
    try {
      q = Tail.startWithEntriesCommitted(spark, rawDir + "/*/", base.resolve("ev").toString,
        enDir, base.resolve("ck").toString, trigger = Trigger.ProcessingTime(0L),
        maxGens = maxGens)
      val (jobs, gens) = batches.zipWithIndex.map { case (b, i) =>
        val before = listener.count.get
        Fixtures.toDF(spark, b).coalesce(1).write.json(rawDir + s"/b$i")
        q.processAllAvailable()
        ListenerBusBridge.drain(spark.sparkContext)
        (listener.count.get - before, Sinks.readManifest(spark, enDir).get.buckets.values.toSet.size)
      }.unzip
      info(s"jobs per batch $jobs, live generations after each $gens")
      val budget = 23 // recorded: 23 for the golden batch, 16 per later batch
      assert(jobs(1) <= budget, s"golden batch took ${jobs(1)} jobs, budget $budget; all: $jobs")
      // batches that only add a generation cost the same whatever the
      // count of live ones; the batch that compacts adds the compaction
      val (growing, compacting) = (2 until batches.size).partition(i => gens(i) > gens(i - 1))
      assert(gens.max == maxGens, s"generations never reached maxGens: $gens")
      assert(growing.map(jobs).distinct.size == 1,
        s"jobs per batch grew with live generations: jobs $jobs, generations $gens")
      assert(compacting.nonEmpty && compacting.forall(jobs(_) <= budget),
        s"compacting batch over budget $budget: jobs $jobs, generations $gens")
    } finally {
      if (q != null) q.stop()
      spark.sparkContext.removeSparkListener(listener)
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    }
  }
}
