package e2ebench

import scala.collection.mutable

import graft.SparkEntry

/** `gates`: a fixed subset of `SparkEntry.queries` over seeded TPC-H-like
  * tables, timed in rounds over the whole list (a gate's passes are
  * spread over the window instead of run back to back, so one gate's
  * leftovers cannot flatter its own next pass). One pass builds the
  * gate's frame and writes its result; the last round's results are
  * what the DuckDB oracle check compares.
  */
object Gates {

  /** Iterative operators: several Spark jobs per loop round, so their
    * cost is set by job and task count, not by data.
    */
  val Iterative: Seq[String] = Seq("gr_pagerank", "gr_kcore", "gr_triangles")

  /** Non-iterative control: an iteration-only change predicts no move here. */
  val Control: Seq[String] = Seq("tpch_q1", "tpch_q6")

  val All: Seq[String] = Iterative ++ Control

  final case class Pass(secs: Double, leaked: Int, releaseSecs: Double,
                        jobs: Long, tasks: Long, ok: Boolean)

  def run(ctx: Ctx, dataDir: String): Outcome = {
    val spark = ctx.spark
    val sc = spark.sparkContext
    val queries = SparkEntry.queries
    val missing = All.filterNot(queries.contains)
    require(missing.isEmpty, s"gates missing from SparkEntry.queries: ${missing.mkString(", ")}")
    val resultsDir = ctx.dir("gate_results")
    val errors = mutable.LinkedHashMap.empty[String, String]

    /** One pass: build the gate and write its result inside the timer,
      * then release what the pass left persisted, outside it. The warm-up
      * round builds the memoised artifacts, so nothing is released after
      * it.
      */
    def pass(name: String, release: Boolean): Pass = {
      val before = Leaks.persistedIds(sc)
      val costBefore = ctx.probe.map(_.snapshot()._1)
      val (ok, secs) = Timer.secs {
        try {
          ctx.span(s"gate:$name")(queries(name)(spark, dataDir)
            .write.mode("overwrite").parquet(s"$resultsDir/$name"))
          true
        } catch { case t: Throwable =>
          errors.getOrElseUpdate(name, s"${t.getClass.getSimpleName}: ${t.getMessage}".take(300))
          false
        }
      }
      val (leaked, releaseS) = if (release) Timer.secs(Leaks.releaseSince(sc, before)) else (0, 0.0)
      val (jobs, tasks) = (for (p <- ctx.probe; b <- costBefore) yield {
        val c = Probe.delta(p.snapshot()._1, b, s"gate:$name"); (c.jobs, c.tasks)
      }).getOrElse((0L, 0L))
      Pass(secs, leaked, releaseS, jobs, tasks, ok)
    }

    def round(release: Boolean): Map[String, Pass] = All.map(n => n -> pass(n, release)).toMap

    // ---- warm-up: one round, which also builds the memoised artifacts
    val warm = round(release = false)
    progress(f"warm-up round ${All.map(warm(_).secs).sum}%.2f s: " +
      All.map(n => f"$n ${warm(n).secs}%.2f").mkString(", "))
    val setupS = ctx.sinceStart

    // ---- timed: whole rounds until the window is spent. A traced run
    // alternates the listener over at least four rounds, to price tracing.
    val passes = mutable.LinkedHashMap.from(All.map(_ -> mutable.ArrayBuffer.empty[Pass]))
    val rounds = mutable.ArrayBuffer.empty[(Double, Boolean)]
    val gc0 = Layers.gcSeconds()
    val cost0 = ctx.probe.map(_.snapshot()._1)
    val t0 = System.nanoTime()
    do {
      val listening = ctx.listens(rounds.size)
      if (!listening) ctx.probe.foreach(_.detach())
      val r = round(release = true)
      if (!listening) ctx.probe.foreach(_.attach())
      if (listening) r.foreach { case (n, p) => passes(n) += p }
      rounds += ((All.map(r(_).secs).sum, listening))
      progress(f"timed round ${rounds.size} ${rounds.last._1}%.2f s")
    } while ((ctx.trace && rounds.size < 4) || (System.nanoTime() - t0) / 1e9 < ctx.seconds)
    val gcS = Layers.gcSeconds() - gc0
    val window = ctx.probe.map { p =>
      val c = Probe.total(p.snapshot()._1); cost0.foreach(b => c -= Probe.total(b)); c }

    val oracles = SparkEntry.oracleSql
    Json.mapper.writeValue(new java.io.File(resultsDir, "oracle_sql.json"),
      All.flatMap(n => oracles.get(n).map(n -> _)).toMap)

    // ---- metrics
    def med(n: String): Double = {
      val ok = passes(n).filter(_.ok).map(_.secs).toSeq
      if (ok.isEmpty) Double.NaN else Stats.median(ok)
    }
    val iterS = Iterative.map(med).sum
    val ctrlS = Control.map(med).sum
    val allPasses = passes.values.flatten.toSeq
    val checks = All.map(n => (s"gate_runs:$n", !errors.contains(n), errors.getOrElse(n, "")))
    val metrics = Map(
      "setup_s" -> (setupS, "s"),
      "throughput_per_s" -> (All.size / (iterS + ctrlS), "1/s"),
      "primary_ms" -> (iterS * 1000, "ms"),
      "secondary_ms" -> (ctrlS * 1000, "ms"))
    val detail = Map(
      "gates_iter_s" -> (iterS, "s"), "gates_ctrl_s" -> (ctrlS, "s"), "setup_s" -> (setupS, "s"),
      "gates_per_s" -> (All.size / (iterS + ctrlS), "1/s"),
      "timed_rounds" -> (rounds.size.toDouble, "count")) ++
      All.map(n => s"gate.${n}_s" -> (med(n), "s"))

    lazy val layers = {
      val (on, off) = rounds.partition(_._2)
      Layers.complete(All.flatMap { n =>
        val ps = passes(n).toSeq
        Seq(s"gate.${n}_s" -> med(n),
          s"gate.${n}_jobs" -> Stats.median(ps.map(_.jobs.toDouble)),
          s"gate.${n}_tasks" -> Stats.median(ps.map(_.tasks.toDouble)))
      }.toMap ++ Layers.spark(window.get, gcS) ++ Map(
        "gate.pass_growth_max" -> All.map { n =>
          val ps = passes(n).map(_.secs); ps.last / ps.head }.max,
        "artifacts.build_s" -> Layers.artifactBuildSeconds(),
        "storage.leaked_rdds" -> Stats.median(allPasses.map(_.leaked.toDouble)),
        "storage.release_s" -> allPasses.map(_.releaseSecs).sum / on.size,
        "trace.overhead_frac" -> (Stats.median(on.map(_._1).toSeq) /
          Stats.median(off.map(_._1).toSeq) - 1)))
    }
    Outcome(allPasses.size.toLong, allPasses.count(!_.ok).toLong, checks,
      if (ctx.trace) layers else metrics, detail)
  }

  private def progress(msg: String): Unit = System.err.println(s"e2ebench: gates $msg")
}
