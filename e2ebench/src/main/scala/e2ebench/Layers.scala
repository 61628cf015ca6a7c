package e2ebench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** The per-layer metrics of a traced run. Every traced run reports every
  * name below; a layer the workload does not exercise reads 0.
  */
object Layers {

  val Names: Seq[(String, String)] = Seq(
    "rpc.fetch_s" -> "s", "rpc.requests" -> "count", "rpc.chunks" -> "count",
    "rpc.retries" -> "count", "rpc.backoff_s" -> "s", "rpc.logs_per_s" -> "logs/s",
    "decode.s" -> "s", "decode.logs_per_s" -> "logs/s",
    "sinks.insert_s" -> "s", "sinks.insert_novel_frac" -> "ratio",
    "fold.s" -> "s", "fold.events_per_s" -> "events/s",
    "layout.entries_s" -> "s", "etl.self_s" -> "s",
    "fold.delta_s" -> "s", "fold.affected_keys" -> "count", "fold.history_rows_per_key" -> "rows",
    "sinks.upsert_s" -> "s", "sinks.touched_buckets" -> "count", "sinks.files_written" -> "count",
    "sinks.bytes_per_row" -> "B", "sinks.gens_live" -> "count", "sinks.compactions" -> "count",
    "tail.batch_s" -> "s", "tail.planning_ms" -> "ms", "tail.get_batch_ms" -> "ms",
    "tail.add_batch_ms" -> "ms", "tail.wal_commit_ms" -> "ms",
    "query.entry_view_jobs" -> "count", "query.feed_view_jobs" -> "count",
    "query.files_per_view" -> "count", "query.rows_scanned_per_row" -> "rows") ++
    Gates.All.flatMap(g => Seq(s"gate.${g}_s" -> "s", s"gate.${g}_jobs" -> "count",
      s"gate.${g}_tasks" -> "count")) ++ Seq(
    "gate.pass_growth_max" -> "ratio",
    "artifacts.build_s" -> "s", "storage.leaked_rdds" -> "count", "storage.release_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_run_s" -> "s", "spark.sched_delay_s" -> "s", "spark.shuffle_read_mb" -> "MB",
    "spark.shuffle_write_mb" -> "MB", "spark.spill_mb" -> "MB", "jvm.gc_s" -> "s",
    "trace.overhead_frac" -> "ratio", "trace.child_cover_frac" -> "ratio")

  private val units = Names.toMap

  /** All names, with `values` filled in and 0 elsewhere. */
  def complete(values: Map[String, Double]): Map[String, (Double, String)] = {
    val unknown = values.keySet -- units.keySet
    require(unknown.isEmpty, s"undeclared layer metrics: ${unknown.mkString(", ")}")
    Names.map { case (n, u) => n -> (values.getOrElse(n, 0.0), u) }.toMap
  }

  /** Spark work of the timed window (all spans together). */
  def spark(c: Cost, gcS: Double): Map[String, Double] = Map(
    "spark.jobs" -> c.jobs.toDouble, "spark.stages" -> c.stages.toDouble,
    "spark.tasks" -> c.tasks.toDouble, "spark.task_run_s" -> c.taskRunMs / 1e3,
    "spark.sched_delay_s" -> c.schedDelayMs / 1e3,
    "spark.shuffle_read_mb" -> c.shuffleRead / 1e6, "spark.shuffle_write_mb" -> c.shuffleWrite / 1e6,
    "spark.spill_mb" -> c.spill / 1e6, "jvm.gc_s" -> gcS)

  /** Seconds of collector time since the JVM started. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** Seconds of artifact builds the engine has recorded, read reflectively
    * so the benchmark still builds if that ledger is removed (then 0).
    */
  def artifactBuildSeconds(): Double =
    try {
      val cls = Class.forName("graft.ArtifactLedger$")
      val ledger = cls.getField("MODULE$").get(null)
      cls.getMethod("snapshot").invoke(ledger).asInstanceOf[Map[String, Double]].values.sum
    } catch { case _: ReflectiveOperationException => 0.0 }
}
