package graft

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger

/** The iterative graph gates' cost in Spark jobs per warm pass. These
  * gates are bound by job count, not data (every job pays the scheduling
  * floor), so the count is pinned: a loop that adds an action per round
  * shows up here before it shows up as seconds.
  */
class GraphJobBudgetSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val Tag = "graft.jobBudget"

  /** Counts the Spark jobs started under local property `Tag` = `gate`. */
  private final class GateJobs(gate: String) extends SparkListener {
    val count = new AtomicInteger
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (Option(e.properties).exists(_.getProperty(Tag) == gate)) count.incrementAndGet()
  }

  // recorded: one warm pass at sf0.001, collected. gr_kcore's convergence
  // count rides its checkpoint jobs; a separate count per peel round
  // (two jobs under AQE) puts it at 36.
  private val budgets = Seq("gr_pagerank" -> 28, "gr_kcore" -> 26, "gr_triangles" -> 18)

  budgets.foreach { case (gate, budget) =>
    test(s"$gate stays within its job budget per warm pass") {
      val sc = spark.sparkContext
      val q = SparkEntry.queries(gate)
      q(spark, SparkTestSession.smokeSf).collect() // builds the memoised pair graph
      val listener = new GateJobs(gate)
      sc.addSparkListener(listener)
      sc.setLocalProperty(Tag, gate)
      try {
        q(spark, SparkTestSession.smokeSf).collect()
        ListenerBusBridge.drain(sc)
        val jobs = listener.count.get
        info(s"$gate: $jobs jobs")
        assert(jobs <= budget, s"$gate took $jobs jobs, budget $budget")
      } finally {
        sc.setLocalProperty(Tag, null)
        sc.removeSparkListener(listener)
      }
    }
  }
}
