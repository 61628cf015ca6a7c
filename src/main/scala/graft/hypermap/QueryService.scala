package graft.hypermap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's read/query surface (SURVEY.md §2.5, §2.3) over the wide
  * events table and derived entries table.
  */
object QueryService {

  /** Q1 — getEvents (events/actions.ts:14-60): optional type filter,
    * optional `timestamp >= unix(startDate)`, newest-first, offset
    * pagination with the reference's [1,100] limit clamp and page>=1 clamp.
    * Returns (page rows, total count) like GetEventsResponse.
    *
    * Offset pagination needs a global order; the page is the top
    * page*limit rows minus the first (page-1)*limit, which Spark plans as
    * one distributed top-k with an offset (TakeOrderedAndProject — each
    * task keeps its local top page*limit, only those reach the
    * driver-side merge). A window over the filtered table would move
    * every surviving row to one partition — the classic 100 TB cliff. For
    * deep pages use getEventsAfter below (seekable, no top-k growth).
    */
  def getEvents(events: DataFrame, eventType: Option[String] = None,
                startDate: Option[String] = None, page: Int = 1,
                limit: Int = 20): (DataFrame, Long) = {
    val p = math.max(1, page)
    val l = math.min(100, math.max(1, limit))
    var filtered = events
    eventType.filter(_ != "All").foreach(t => filtered = filtered.where(col("eventType") === t))
    startDate.foreach { d =>
      filtered = filtered.where(col("timestamp") >=
        unix_timestamp(to_date(lit(d), "yyyy-MM-dd")))
    }
    val total = filtered.count()
    val top = math.min(p.toLong * l, Int.MaxValue.toLong).toInt
    val pageDf = filtered
      .orderBy(col("blockNumber").desc, col("logIndex").desc)
      .limit(top)
      .offset(math.min((p - 1).toLong * l, top.toLong).toInt)
    (pageDf, total)
  }

  /** Keyset variant of Q1 — the 100 TB-safe pagination: seek below the last
    * (blockNumber, logIndex) seen instead of a global row_number.
    */
  def getEventsAfter(events: DataFrame, eventType: Option[String],
                     afterBlock: Long, afterLogIndex: Int, limit: Int): DataFrame = {
    val l = math.min(100, math.max(1, limit))
    var filtered = events
    eventType.filter(_ != "All").foreach(t => filtered = filtered.where(col("eventType") === t))
    filtered
      .where(col("blockNumber") < afterBlock ||
        (col("blockNumber") === afterBlock && col("logIndex") < afterLogIndex))
      .orderBy(col("blockNumber").desc, col("logIndex").desc)
      .limit(l)
  }

  /** Q2 — getEventsForEntry (mongodb.ts:75-94): OR of six
    * (eventType, field) = namehash pairs, ascending chain order.
    */
  def getEventsForEntry(events: DataFrame, namehash: String): DataFrame =
    events.where(
      (col("eventType") === "Mint" && col("parenthash") === namehash) ||
      (col("eventType") === "Mint" && col("childhash") === namehash) ||
      (col("eventType") === "Fact" && col("parenthash") === namehash) ||
      (col("eventType") === "Note" && col("parenthash") === namehash) ||
      (col("eventType") === "Gene" && col("entry") === namehash) ||
      (col("eventType") === "Transfer" && col("id") === namehash))
      .orderBy(col("blockNumber").asc, col("logIndex").asc)

  /** Q3 — getEntry point lookup (mongodb.ts:99-107). */
  def getEntry(entries: DataFrame, namehash: String): DataFrame =
    entries.where(col("namehash") === namehash)

  /** A1/A2 — status counts by type with percentage (status.ts:65-89):
    * one pass over events vs the reference's 7 countDocuments calls.
    * The unpartitioned window runs AFTER the hash aggregate, over at most
    * one row per event type (7) — scale-independent, and cheaper than a
    * cross-join with a separate total (which would scan events twice).
    */
  def statusCounts(events: DataFrame): DataFrame =
    events.groupBy(col("eventType")).count()
      .withColumn("pct",
        round(col("count") * 100.0 / sum(col("count")).over(Window.partitionBy())))
      .orderBy(col("count").desc, col("eventType"))

  /** A3/A6/Q6 — last processed block, its timestamp, resume point
    * (status.ts:96-99, actions.ts:125-143).
    */
  def syncStatus(events: DataFrame, chainHead: Long): DataFrame =
    events.agg(
      max(col("blockNumber")).as("lastBlock"),
      max_by(col("timestamp"), struct(col("blockNumber"), col("logIndex")))
        .as("lastTimestamp"))
      .select(col("lastBlock"), col("lastTimestamp"),
        (lit(chainHead) - col("lastBlock")).as("blocksBehind"),
        (col("lastBlock") + 1).as("nextStartBlock"))

  /** A5 — per-chunk counts by type (index-events.ts:201-254): the chunk loop
    * becomes a derived bucket column.
    */
  def chunkCounts(events: DataFrame, chunkSize: Long = 5000L): DataFrame =
    events.withColumn("chunkStart",
      (floor(col("blockNumber") / chunkSize) * chunkSize).cast("long"))
      .groupBy(col("chunkStart"), col("eventType")).count()
      .orderBy(col("chunkStart"), col("eventType"))
}
