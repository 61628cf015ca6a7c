package graft

/** Plan evidence: run gate queries and dump each one's executed plan.
  * Usage: tools/run_main.sh graft.PlanDump <sfDir> [query ...] — every
  * query in `SparkEntry.queries` when none is named. The artifact PERF.md
  * cites when claiming pushdown/broadcast/no-global-shuffle properties:
  * re-runnable instead of trusted.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.PlanDump <sfDir> [query ...]")
      sys.exit(2)
    }
    val d = args(0)
    val names = if (args.length > 1) args.drop(1).toSeq
                else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(cpus = "32", appName = "plancheck")
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n===== $name =====")
      SparkEntry.queries.get(name) match {
        case None => println(s"unknown query (${SparkEntry.queries.size} known; " +
          "see SparkEntry.queries keys)")
        case Some(fn) =>
          try {
            val df = fn(spark, d)
            val t0 = System.nanoTime()
            // execute df's OWN query execution (not a derived count plan) so the
            // printed AdaptiveSparkPlan is the AQE-final one
            df.queryExecution.toRdd.count()
            println(f"wall: ${(System.nanoTime() - t0) / 1e9}%.2f s")
            println(df.queryExecution.executedPlan.toString)
          } catch { case e: Exception => println(s"FAILED: $e") }
      }
    }
    spark.stop()
  }
}
