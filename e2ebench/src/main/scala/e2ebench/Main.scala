package e2ebench

import graft.GraftSession

/** Benchmark process: `Main --workload W --seed N --seconds S --trace 0|1
  * --work DIR --out FILE --t0-ms EPOCH_MS [--data DIR]`. Runs one
  * workload and writes its [[Outcome]] as JSON to FILE; `run.py` builds
  * this program, prepares DIR and prints the final result line.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String): String = opts.getOrElse(k, sys.error(s"missing --$k"))
    val t0EpochMs = opts.get("t0-ms").map(_.toLong).getOrElse(System.currentTimeMillis())
    val t0Nanos = System.nanoTime() - (System.currentTimeMillis() - t0EpochMs) * 1000000L
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = GraftSession.local(cpus = cpus, appName = "e2ebench")
    spark.sparkContext.setLogLevel("ERROR")
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1",
      opt("work"), t0Nanos)
    ctx.probe.foreach(_.attach())
    val (out, byCallSite) =
      try {
        val o = opt("workload") match {
          case "gates" => Gates.run(ctx, opt("data"))
          case "pipeline" => Pipeline.run(ctx)
          case w => sys.error(s"unknown workload $w")
        }
        (o, ctx.probe.map(_.snapshot()._2).getOrElse(Map.empty[String, Cost]))
      } finally spark.stop()
    // a traced run also charges its jobs to the source file of each call site
    val detail = out.detail ++ byCallSite.flatMap { case (file, c) =>
      Seq(s"jobs_at.$file" -> (c.jobs.toDouble, "count"), s"job_s_at.$file" -> (c.jobMs / 1e3, "s"))
    }
    def metricMap(m: Map[String, (Double, String)]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    val json = Json.mapper.writeValueAsString(Map(
      "attempted" -> out.attempted, "failed" -> out.failed,
      "checks" -> out.checks.map { case (n, ok, why) => Map("name" -> n, "ok" -> ok, "why" -> why) },
      "metrics" -> metricMap(out.metrics),
      "detail" -> metricMap(detail)))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")), json)
  }
}
