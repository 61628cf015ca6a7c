package graft.hypermap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.GraftSession

/** The reference's CLI batch ETL (`npm run index-events -- --from=A --to=B
  * [--print]`, /root/reference/scripts/index-events.ts:72-314) as one Spark
  * job: read raw logs → decode → idempotent sink → entries rebuild →
  * per-chunk report.
  *
  * The reference's hand-rolled 5000-block chunk loop with inter-chunk
  * sleeps and N+1 timestamp/entry lookups (SURVEY.md §3.1) collapses into
  * one declarative plan: input splits replace chunking, a broadcast join
  * replaces per-event getBlock, and keyed aggregation replaces per-event
  * findOne/updateOne. The chunk-counts report (A5) is a grouped
  * aggregation over the same pass.
  *
  * Usage: runMain graft.hypermap.EtlJob <rawLogsDir> <outDir>
  *          [--from=N] [--to=N] [--print] [--blocks=dir]
  */
object EtlJob {

  case class Report(scanned: Long, decoded: Long, inserted: Long,
                    byType: Map[String, Long], lastBlock: Option[Long])

  def run(spark: SparkSession, rawDir: String, outDir: String,
          fromBlock: Option[Long] = None, toBlock: Option[Long] = None,
          printOnly: Boolean = false, blocksDir: Option[String] = None,
          checkCoverage: Boolean = false): Report = {
    // SURVEY §4 completeness gate: when the raw dir was landed by
    // Rpc.fetch (it has a _coverage/ manifest), verify the requested
    // block range has no un-fetched chunk holes BEFORE indexing —
    // fail-loud replacement for the reference's silent skip-and-continue
    // (index-events.ts:274-283). Range defaults to the manifest's own
    // span, which still catches every INTERNAL hole.
    if (checkCoverage) {
      // explicit pre-check: a missing manifest would otherwise surface as
      // Spark's generic PATH_NOT_FOUND, hiding what the flag requires
      if (!new java.io.File(s"$rawDir/_coverage").isDirectory)
        throw new IllegalStateException(
          s"--check-coverage requires a fetcher-landed raw dir, but " +
            s"$rawDir has no _coverage/ manifest (land it with Rpc.fetch/" +
            "pollOnce, or drop the flag for manually-assembled dirs)")
      // the manifest is one record per chunk: bounds and gaps are a
      // driver-side sweep, no Spark job
      val ranges = Rpc.coverageRanges(rawDir)
      if (ranges.nonEmpty) {
        val lo = fromBlock.getOrElse(ranges.map(_._1).min)
        val hi = toBlock.getOrElse(ranges.map(_._2).max)
        Coverage.requireComplete(spark, rawDir, lo, hi)
      } else if (fromBlock.nonEmpty || toBlock.nonEmpty) {
        throw new IllegalStateException(
          s"coverage check requested but $rawDir/_coverage is empty")
      }
    }
    var raw = spark.read.schema(Schemas.rawLogs).json(rawDir)
    // S1: the only predicates pushed to the source — address (inside
    // decode) and block range
    fromBlock.foreach(b => raw = raw.where(col("blockNumber") >= b))
    toBlock.foreach(b => raw = raw.where(col("blockNumber") <= b))
    val scanned = raw.count()

    val blocks = blocksDir.map(d => spark.read.schema(Schemas.blocks).parquet(d))
    val decoded = Decode.decode(raw, blocks).cache()
    val nDecoded = decoded.count()
    val byType = decoded.groupBy(col("eventType")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val lastBlock = decoded.agg(max(col("blockNumber"))).head().getAs[Any](0) match {
      case null => None
      case v: Long => Some(v)
    }

    val inserted =
      if (printOnly) 0L // S4: dry run — decode + report, no storage
      else {
        val n = Sinks.insertIfAbsent(spark, s"$outDir/events", decoded)
        // entries rebuild over the FULL events table (fold is
        // deterministic-by-construction, so rebuild ≡ incremental replay)
        val events = spark.read.parquet(s"$outDir/events")
        Layout.writeEntries(EntriesFold.fold(events), s"$outDir/entries")
        n
      }
    decoded.unpersist()
    Report(scanned, nDecoded, inserted, byType, lastBlock)
  }

  def main(args: Array[String]): Unit = {
    val positional = args.filterNot(_.startsWith("--"))
    require(positional.length == 2,
      "usage: EtlJob <rawLogsDir> <outDir> [--from=N] [--to=N] [--print] " +
        "[--blocks=dir] [--check-coverage]")
    val Array(rawDir, outDir) = positional
    def flag(name: String): Option[String] =
      args.collectFirst { case a if a.startsWith(s"--$name=") => a.substring(name.length + 3) }
    val spark = GraftSession.local(appName = "graft-etl")
    val report = run(spark, rawDir, outDir,
      fromBlock = flag("from").map(_.toLong),
      toBlock = flag("to").map(_.toLong),
      printOnly = args.contains("--print"),
      blocksDir = flag("blocks"),
      checkCoverage = args.contains("--check-coverage"))
    // the reference's per-chunk summary table (index-events.ts:224-254)
    println(s"scanned=${report.scanned} decoded=${report.decoded} " +
      s"inserted=${report.inserted} lastBlock=${report.lastBlock.getOrElse(-1L)}")
    report.byType.toSeq.sortBy(-_._2).foreach { case (t, n) => println(s"  $t: $n") }
    spark.stop()
  }
}
