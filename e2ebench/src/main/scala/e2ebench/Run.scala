package e2ebench

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** What one workload run hands back to [[Main]]. `metrics` are the
  * end-to-end metrics of BENCHMARK.json (untraced run) or per-layer metrics
  * (traced run); `detail` carries the workload's figures under their own
  * names, printed beside them.
  */
final case class Outcome(attempted: Long, failed: Long, checks: Seq[(String, Boolean, String)],
                         metrics: Map[String, (Double, String)],
                         detail: Map[String, (Double, String)])

/** Everything a workload needs from the command line. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int, trace: Boolean,
                     work: String, t0Nanos: Long) {
  /** Seconds since the process started setting up. */
  def sinceStart: Double = (System.nanoTime() - t0Nanos) / 1e9
  def dir(name: String): String = {
    val f = new java.io.File(work, name); f.mkdirs(); f.getAbsolutePath
  }
  val probe: Option[Probe] = if (trace) Some(new Probe(spark)) else None
  def span[A](name: String)(body: => A): A = probe.fold(body)(_.span(name)(body))

  /** Whether the `i`-th (0-based) operation of one kind runs with the
    * listener attached. A traced run detaches it on and off in the order
    * on, off, off, on, so that a steady trend over the operations (the
    * JIT still warming) cancels out of `trace.overhead_frac`.
    */
  def listens(i: Int): Boolean = !trace || i % 4 == 0 || i % 4 == 3
}

object Timer {
  def secs[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Jackson from the Spark jars; the Scala module writes Scala maps and
  * sequences as JSON objects and arrays.
  */
object Json {
  val mapper: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule).build()
}
