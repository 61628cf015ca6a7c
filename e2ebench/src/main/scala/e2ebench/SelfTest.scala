package e2ebench

import org.apache.spark.sql.functions.col

import graft.GraftSession
import graft.hypermap.{Decode, EntriesFold, Fixtures}

/** The benchmark's own tests: `python3 e2ebench/test.py`. */
object SelfTest {

  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case t: Throwable => println(s"  $t"); false }
    if (!ok) failures += 1
    println(s"${if (ok) "PASS" else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("p90 of 100 samples has 10 beyond it")(Stats.percentile(xs, 0.9) == Some(90.0))
    check("p90 of 99 samples has 9 beyond it, so none")(Stats.percentile(xs.take(99), 0.9).isEmpty)
    check("p99 needs 1000 samples")(Stats.percentile(xs, 0.99).isEmpty &&
      Stats.percentile((1 to 1000).map(_.toDouble), 0.99) == Some(990.0))
    check("median of an even count is the mean of the middle two")(
      Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)

    val golden = Fixtures.goldenLogs
    check("golden range: Note 8, Transfer 4, Mint 2, without the engine")(
      Chain.typeCounts(golden) == Map("Note" -> 8L, "Transfer" -> 4L, "Mint" -> 2L))
    check("golden range: 2 entries (os, alice), without the engine")(Chain.entryCount(golden) == 2L)

    val chain = Fixtures.randomLogs(7 * 60, 5L).toIndexedSeq
    val batches = Chain.batches(chain, 7)
    check("batches never split a block")(batches.flatten == chain &&
      batches.sliding(2).forall(p => p(0).last.blockNumber < p(1).head.blockNumber))
    val plan = Chain.rateLimitPlan(5L)
    check("the 429 plan hits every fourth request, never two in a row")(
      (0 until 1000).count(plan) == 250 && (1 until 1000).forall(i => !(plan(i) && plan(i - 1))))

    val spark = GraftSession.local(cpus = "2", appName = "e2ebench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val events = Decode.decode(Fixtures.toDF(spark, chain)).cache()
      val byType = events.groupBy("eventType").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      check("engine-free counts match the engine on a random chain")(
        byType == Chain.typeCounts(chain) &&
          EntriesFold.fold(events).count() == Chain.entryCount(chain))
      val folded = EntriesFold.fold(events).cache()
      val oneKey = folded.first().getAs[String]("namehash")
      check("entriesDiff is 0 for a fold against itself and sees a dropped row")(
        Pipeline.entriesDiff(folded, EntriesFold.fold(events)) == ((0L, folded.count())) &&
          Pipeline.entriesDiff(folded, folded.where(col("namehash") =!= oneKey))._1 == 1L)
      folded.unpersist(); events.unpersist()

      val traced = Ctx(spark, seed = 0L, seconds = 1, trace = true, work = "", t0Nanos = 0L)
      check("a traced run listens on, off, off, on; an untraced run always")(
        (0 until 8).map(traced.listens) == Seq(true, false, false, true, true, false, false, true) &&
          (0 until 8).forall(traced.copy(trace = false).listens))

      val sc = spark.sparkContext
      val memo = spark.range(100).localCheckpoint() // a memoised artifact
      val before = Leaks.persistedIds(sc)
      spark.range(50).localCheckpoint().count()
      spark.range(50).rdd.persist().count()
      val released = Leaks.releaseSince(sc, before)
      check("leak release frees only RDDs persisted during the pass")(
        released == 2 && Leaks.persistedIds(sc) == before && memo.count() == 100L)
    } finally spark.stop()
    if (failures > 0) sys.exit(1)
  }
}
