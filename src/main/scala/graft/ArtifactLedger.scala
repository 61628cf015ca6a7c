package graft

/** Build-cost ledger for session artifacts ([[Artifacts]]). The bench's
  * warmup phase deliberately absorbs artifact builds so timed passes
  * measure the read path; every build records its wall seconds here,
  * keyed by family, and Bench emits the ledger as `artifact_build_sec`
  * in the detail JSON, so build cost stays separable from query cost.
  *
  * Accumulating (`+=`), not last-write: a family rebuilt after a bench
  * session restart charges both builds.
  */
object ArtifactLedger {
  private val secs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()

  def record(family: String, sec: Double): Unit =
    secs.merge(family, sec, (a, b) => a + b): Unit

  /** Time `build`, record it under `family`, return its result. */
  def timed[A](family: String)(build: => A): A = {
    val t0 = System.nanoTime()
    try build finally record(family, (System.nanoTime() - t0) / 1e9)
  }

  def snapshot: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    secs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  private[graft] def reset(): Unit = secs.clear()
}
