package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (Array(sfDir, outDir), only) = (args.take(2), args.drop(2).toSet)
    val spark = GraftSession.local(appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    val selected = // extra args = iterate on a subset; driver passes none
      if (only.isEmpty) SparkEntry.queries
      else SparkEntry.queries.filter { case (n, _) => only(n) }
    // Queries are independent and results are tiny at sf0.01 — the old
    // sequential loop spent ~8.5 min mostly on per-query job latency with
    // local[32] idle (VERDICT r12 §wrong-1). Spark sessions are thread-safe
    // for concurrent actions, so run the dump on a fixed pool; session
    // artifacts stay single-build per key (Artifacts.memo), and each
    // thread's scope frees only the pins its own gate made.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      sys.env.getOrElse("GRAFT_VERIFY_THREADS", "8").toInt)
    val futures = selected.toSeq.map { case (name, fn) =>
      pool.submit(new Runnable {
        def run(): Unit =
          try Pins.scope(fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name"))
          catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
      })
    }
    // finally-shutdown: the pool's threads are non-daemon, so an
    // exception escaping the waits would otherwise leave the JVM alive
    // and wedge the driver's verify step until an external timeout
    try futures.foreach(_.get())
    finally pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    System.err.println(s"[verify] ${spark.sparkContext.getPersistentRDDs.size} persisted RDDs at exit")
    spark.stop()
  }
}
