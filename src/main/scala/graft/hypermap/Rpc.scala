package graft.hypermap

import java.io.{ByteArrayOutputStream, OutputStream}
import java.net.{HttpURLConnection, InetSocketAddress, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardOpenOption}
import java.util.concurrent.atomic.AtomicInteger

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The live extract path: a chunked `eth_getLogs` fetcher with
  * exponential backoff, a deterministic mock JSON-RPC chain to drive it
  * against, and block-coverage gap detection.
  *
  * Reference behavior reproduced (scripts/index-events.ts:144-147,
  * 162-198, 256-284; scripts/extract-events.ts:191-237):
  *   - scan [from, to] in fixed-size block chunks (CHUNK_SIZE 5000),
  *     one `eth_getLogs` per chunk filtered to the contract address;
  *   - on a rate-limit error ("429" / "Too Many Requests" / "rate
  *     limit" / "exceeded"), retry up to MAX_RETRIES=5 times with
  *     delay = BASE_RETRY_DELAY·2^retry + jitter (BASE 3000 ms);
  *   - an optional inter-chunk delay (DEFAULT_DELAY 2000 ms).
  *
  * Reference behavior deliberately NOT reproduced: after MAX_RETRIES
  * the reference logs the error and *moves on to the next chunk*
  * (index-events.ts:274-283) — silent data loss the reference itself
  * can never detect. This fetcher FAILS LOUD instead (SURVEY §4 retry
  * row), and every successfully fetched chunk writes a coverage
  * manifest record, so completeness of any raw-log directory is
  * checkable after the fact via [[Coverage.gaps]] — including
  * directories assembled by interrupted or concurrent fetch runs.
  *
  * Everything here is DRIVER-SIDE I/O, not engine: the fetcher is the
  * thin ingest shim that lands raw-log files for [[EtlJob]] /
  * [[graft.streaming.Tail]]; only the coverage check is a Spark plan.
  */
object Rpc {

  private val mapper = new ObjectMapper()

  private def hex(n: Long): String = "0x" + java.lang.Long.toHexString(n)
  private def parseHexLong(s: String): Long =
    java.lang.Long.parseLong(s.stripPrefix("0x"), 16)

  // ------------------------------------------------------------ mock chain

  /** Deterministic in-process JSON-RPC server backed by a fixture log
    * set. Serves `eth_blockNumber`, `eth_getLogs` (address +
    * fromBlock/toBlock filter, hex quantities exactly like a real
    * node), and `eth_getBlockByNumber` (timestamp = a fixed function
    * of the block number, so enrichment is reproducible). `failPlan`
    * injects HTTP 429 responses by eth_getLogs request ordinal
    * (0-based), which is how the specs schedule mid-scan rate-limit
    * bursts. `logs` and `head` are mutable so specs can advance the
    * chain AND simulate a reorg (rewrite a tail block's content before
    * it confirms). Test infrastructure, but in main so gate queries
    * (hm_rpc_extract) can drive the real fetcher end-to-end.
    */
  final class MockRpc(@volatile var logs: Seq[Fixtures.Log], @volatile var head: Long,
                      failPlan: Int => Boolean = _ => false) {
    private val getLogsCalls = new AtomicInteger(0)
    private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

    /** Total eth_getLogs requests seen (including 429-rejected ones). */
    def logsRequests: Int = getLogsCalls.get()

    val endpoint: String = {
      server.createContext("/", new HttpHandler {
        override def handle(ex: HttpExchange): Unit = {
          val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
          val req = mapper.readTree(body)
          val id = if (req.has("id")) req.get("id").asLong(1L) else 1L
          req.get("method").asText() match {
            case "eth_blockNumber" =>
              respond(ex, 200, result(id, mapper.getNodeFactory.textNode(hex(head))))
            case "eth_getBlockByNumber" =>
              val n = parseHexLong(req.get("params").get(0).asText())
              val blk = mapper.createObjectNode()
              blk.put("number", hex(n))
              blk.put("hash", graft.functions.EvmCodec.keccakUtf8("block:" + n))
              blk.put("timestamp", hex(blockTimestamp(n)))
              respond(ex, 200, result(id, blk))
            case "eth_getLogs" =>
              if (failPlan(getLogsCalls.getAndIncrement())) {
                respond(ex, 429, """{"error":{"code":-32005,"message":"Too Many Requests"}}""")
              } else {
                val f = req.get("params").get(0)
                val lo = parseHexLong(f.get("fromBlock").asText())
                val hi = parseHexLong(f.get("toBlock").asText())
                val addr = Option(f.get("address")).map(_.asText().toLowerCase)
                val arr = mapper.createArrayNode()
                logs.filter(l => l.blockNumber >= lo && l.blockNumber <= hi &&
                    addr.forall(_ == l.address.toLowerCase))
                  .sortBy(l => (l.blockNumber, l.logIndex))
                  .foreach(l => arr.add(wireLog(l)))
                respond(ex, 200, result(id, arr))
              }
            case m =>
              respond(ex, 200,
                s"""{"jsonrpc":"2.0","id":$id,"error":{"code":-32601,"message":"unknown method $m"}}""")
          }
        }
      })
      server.start()
      s"http://127.0.0.1:${server.getAddress.getPort}/"
    }

    def stop(): Unit = server.stop(0)

    private def result(id: Long, res: JsonNode): String = {
      val o = mapper.createObjectNode()
      o.put("jsonrpc", "2.0"); o.put("id", id); o.set[ObjectNode]("result", res)
      mapper.writeValueAsString(o)
    }

    /** ethers-v6 wire shape: hex-string quantities throughout. */
    private def wireLog(l: Fixtures.Log): ObjectNode = {
      val o = mapper.createObjectNode()
      o.put("address", l.address)
      val ts = mapper.createArrayNode()
      l.topics.foreach(ts.add)
      o.set[ObjectNode]("topics", ts)
      o.put("data", l.data)
      o.put("blockNumber", hex(l.blockNumber))
      o.put("blockHash", l.blockHash)
      o.put("transactionHash", l.transactionHash)
      o.put("transactionIndex", hex(l.transactionIndex.toLong))
      o.put("logIndex", hex(l.logIndex.toLong))
      o.put("removed", false)
      o
    }

    private def respond(ex: HttpExchange, status: Int, body: String): Unit = {
      val bytes = body.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(status, bytes.length.toLong)
      val os: OutputStream = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }

  /** Mock-chain block timestamp: deterministic 2 s cadence. */
  def blockTimestamp(block: Long): Long = 1700000000L + block * 2

  // --------------------------------------------------------------- fetcher

  /** One fetch run's outcome. `retries` counts backoff sleeps actually
    * taken — the spec asserts it is >0 under an injected 429 burst, so
    * the retry path is provably exercised, not just present.
    */
  case class FetchReport(chunks: Long, logs: Long, retries: Long)

  /** Reference constants (index-events.ts:144-147). */
  val ChunkSize = 5000L
  val MaxRetries = 5
  val BaseRetryDelayMs = 3000L

  /** HTTP socket timeouts (r14 ADVICE): without them a hung RPC endpoint
    * blocks fetch/pollOnce — and the whole continuous loop — forever with
    * no error. A timeout surfaces as a LOUD IOException, not a rate-limit
    * retry: retrying a dead endpoint on the backoff schedule just delays
    * the operator noticing. The reference's provider layer (ethers) has
    * equivalent request timeouts.
    */
  val ConnectTimeoutMs = 15000
  val ReadTimeoutMs = 60000

  private def isRateLimited(status: Int, body: String): Boolean =
    status == 429 || body.contains("Too Many Requests") ||
      body.contains("rate limit") || body.contains("429") ||
      body.contains("exceeded")

  /** Chunk-looped `eth_getLogs` over [from, to], landing one NDJSON
    * raw-log file per chunk (shape = [[Schemas.rawLogs]], numeric
    * quantities decoded from the wire hex) plus one coverage record
    * per chunk under `outDir/_coverage/`. Backoff: sleep
    * base·2^(retry+1) + jitter(retry) before re-attempting, at most
    * `maxRetries` times per chunk — the reference's schedule with the
    * clock injected (`sleeper`/`jitter` params) so specs run in
    * milliseconds. A chunk that still rate-limits after the budget
    * THROWS: no silent skip (see object doc). Non-rate-limit HTTP
    * failures throw immediately — retrying a 500 with a rate-limit
    * schedule just delays the inevitable and hides the real error.
    *
    * Files land under a per-chunk name (`chunk_<start>_<end>.json`),
    * so re-running a failed extract with the same grid simply
    * overwrites its completed chunks — the fetch is idempotent at
    * chunk granularity, and the coverage manifest stays accurate.
    * Re-running with a DIFFERENT chunkSize into the same dir leaves the
    * old grid's files beside the new ones: coverage stays correct
    * (gaps() handles overlaps) but raw rows duplicate — harmless to the
    * tables (the idempotent event_id sink dedupes downstream) yet it
    * inflates scan counts; prefer a fresh dir when changing the grid.
    */
  def fetch(endpoint: String, from: Long, to: Long, outDir: String,
            address: Option[String] = Some(Schemas.ContractAddress),
            chunkSize: Long = ChunkSize,
            maxRetries: Int = MaxRetries,
            baseRetryDelayMs: Long = BaseRetryDelayMs,
            interChunkDelayMs: Long = 0L,
            jitter: Int => Long = _ => 0L,
            sleeper: Long => Unit = Thread.sleep): FetchReport = {
    require(from <= to, s"empty range [$from, $to]")
    require(chunkSize > 0, "chunkSize must be positive")
    val covDir = Paths.get(outDir, "_coverage")
    Files.createDirectories(covDir)
    var totalLogs = 0L
    var totalRetries = 0L
    var chunks = 0L
    var start = from
    while (start <= to) {
      val end = math.min(start + chunkSize - 1, to)
      var attempt = 0
      var done = false
      while (!done) {
        val (status, body) = post(endpoint, getLogsBody(start, end, address))
        if (status == 200 && !mapper.readTree(body).has("error")) {
          val res = mapper.readTree(body).get("result")
          writeChunk(outDir, start, end, res.asInstanceOf[ArrayNode])
          totalLogs += res.size()
          done = true
        } else if (isRateLimited(status, body)) {
          if (attempt >= maxRetries)
            throw new java.io.IOException(
              s"rate-limited fetching blocks $start-$end after $maxRetries retries; " +
                "refusing to skip the chunk (reference index-events.ts:274-283 " +
                "skips here — that is silent data loss)")
          attempt += 1
          totalRetries += 1
          sleeper(baseRetryDelayMs * (1L << attempt) + jitter(attempt))
        } else {
          throw new java.io.IOException(
            s"eth_getLogs blocks $start-$end failed (HTTP $status): ${body.take(200)}")
        }
      }
      chunks += 1
      start = end + 1
      if (interChunkDelayMs > 0 && start <= to) sleeper(interChunkDelayMs)
    }
    FetchReport(chunks, totalLogs, totalRetries)
  }

  /** One iteration of the reference's continuous poll loop
    * (scan-events.ts:129-300: poll head, scan [resume, head], loop):
    * fetch every block range in [genesis, confirmed head] the coverage
    * manifest does not yet vouch for — the frontier tail AND any
    * interior holes (r14 ADVICE: resuming from max(chunkEnd)+1 would
    * permanently skip a hole in a dir assembled from mixed runs or
    * grids; the loop now self-heals it on the next poll).
    *
    * The resume set comes from the MANIFEST, not the events table: an
    * eventless chunk and an unfetched chunk look identical in events
    * (the SURVEY §5.4 ambiguity), so resuming from max(blockNumber)+1 —
    * what the reference's sync_status effectively does when a chunk
    * lands empty before a crash — would re-fetch covered empty ranges
    * at best and, with a sparse tail, re-fetch forever. The manifest
    * records fetch coverage directly. Driver-side manifest read is
    * O(chunks) — one row per 5000 blocks, ~6k for a full L2 history,
    * and the gap scan ([[Coverage.gapsLocal]]) is a sort of that list.
    *
    * Returns None when already caught up (no uncovered range at or
    * below the confirmed head) — the loop sleeps and polls again; the
    * reference's 30 s cadence (and the streaming half of the engine)
    * lives in [[graft.streaming.Tail]], which ingests the files this
    * lands. Pair `confirmations` with the tail's depth: the tail
    * FAILS LOUD on rows above its bound (see
    * [[graft.streaming.Tail.startWithEntriesCommitted]]), so run the fetcher
    * with confirmations >= the tail's depth.
    */
  def pollOnce(endpoint: String, outDir: String, genesis: Long,
               confirmations: Int = 0,
               address: Option[String] = Some(Schemas.ContractAddress),
               chunkSize: Long = ChunkSize,
               maxRetries: Int = MaxRetries,
               baseRetryDelayMs: Long = BaseRetryDelayMs,
               jitter: Int => Long = _ => 0L,
               sleeper: Long => Unit = Thread.sleep): Option[FetchReport] = {
    val head = confirmedHead(endpoint, confirmations)
    if (head < genesis) return None
    val holes = Coverage.gapsLocal(coverageRanges(outDir), genesis, head)
    if (holes.isEmpty) None
    else {
      val reps = holes.map { case (lo, hi) =>
        fetch(endpoint, lo, hi, outDir, address, chunkSize,
          maxRetries, baseRetryDelayMs, interChunkDelayMs = 0L, jitter, sleeper)
      }
      Some(FetchReport(reps.map(_.chunks).sum, reps.map(_.logs).sum,
        reps.map(_.retries).sum))
    }
  }

  /** All (chunkStart, chunkEnd) ranges in `outDir`'s manifest — the
    * driver-side mirror of the `_coverage` records (one per 5000-block
    * chunk: trivially small even for a full chain history).
    */
  def coverageRanges(outDir: String): Seq[(Long, Long)] = {
    val covDir = new java.io.File(outDir, "_coverage")
    val files = Option(covDir.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".json"))
    files.toSeq.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try src.getLines().filter(_.nonEmpty)
        .map { l =>
          val n = mapper.readTree(l)
          (n.get("chunkStart").asLong(), n.get("chunkEnd").asLong())
        }
        .toList
      finally src.close()
    }
  }

  /** Highest block covered by `outDir`'s manifest, if any. Reporting
    * only — the poll loop resumes from the GAP SET ([[pollOnce]]), not
    * this frontier, so an interior hole can't be skipped.
    */
  def coveredUpTo(outDir: String): Option[Long] = {
    val ends = coverageRanges(outDir).map(_._2)
    if (ends.isEmpty) None else Some(ends.max)
  }

  /** Block-timestamp dim fetch (`eth_getBlockByNumber` per distinct
    * block) — the reference's per-EVENT getBlock N+1 collapsed to one
    * call per distinct block; the engine then broadcast-joins the dim
    * (S3) instead of looking up per row.
    */
  def fetchBlockTimestamps(endpoint: String, blocks: Seq[Long]): Seq[(Long, Long)] =
    blocks.distinct.sorted.map { n =>
      val (status, body) = post(endpoint,
        s"""{"jsonrpc":"2.0","id":1,"method":"eth_getBlockByNumber","params":["${hex(n)}",false]}""")
      require(status == 200, s"eth_getBlockByNumber($n) failed: HTTP $status")
      n -> parseHexLong(mapper.readTree(body).get("result").get("timestamp").asText())
    }

  /** Confirmation-depth cap (ST5 extension, pairs with
    * [[graft.streaming.Tail.startWithEntriesCommitted]]'s `confirmedUpTo`): the
    * highest block a reorg-safe poll loop should fetch. Scanning only to
    * `confirmedHead` means a shallow block that later gets rewritten is
    * fetched exactly once, with its final content — the resume point
    * never advances past an unconfirmed range.
    */
  def confirmedHead(endpoint: String, confirmations: Int): Long = {
    require(confirmations >= 0, "confirmations must be >= 0")
    blockNumber(endpoint) - confirmations
  }

  def blockNumber(endpoint: String): Long = {
    val (status, body) = post(endpoint,
      """{"jsonrpc":"2.0","id":1,"method":"eth_blockNumber","params":[]}""")
    require(status == 200, s"eth_blockNumber failed: HTTP $status")
    parseHexLong(mapper.readTree(body).get("result").asText())
  }

  private def getLogsBody(from: Long, to: Long, address: Option[String]): String = {
    val f = mapper.createObjectNode()
    address.foreach(a => f.put("address", a))
    f.put("fromBlock", hex(from)); f.put("toBlock", hex(to))
    val o = mapper.createObjectNode()
    o.put("jsonrpc", "2.0"); o.put("id", 1); o.put("method", "eth_getLogs")
    o.set[ObjectNode]("params", mapper.createArrayNode().add(f))
    mapper.writeValueAsString(o)
  }

  private[graft] def post(endpoint: String, body: String,
                             connectTimeoutMs: Int = ConnectTimeoutMs,
                             readTimeoutMs: Int = ReadTimeoutMs): (Int, String) = {
    val conn = URI.create(endpoint).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    try {
      conn.setConnectTimeout(connectTimeoutMs)
      conn.setReadTimeout(readTimeoutMs)
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(UTF_8))
      val status = conn.getResponseCode
      val is = if (status >= 400) conn.getErrorStream else conn.getInputStream
      val buf = new ByteArrayOutputStream()
      if (is != null) { is.transferTo(buf); is.close() }
      (status, buf.toString(UTF_8))
    } catch {
      case e: java.net.SocketTimeoutException =>
        // not a rate limit: fail loud (fetch's non-429 branch), never retry
        throw new java.io.IOException(
          s"RPC endpoint $endpoint timed out (connect ${connectTimeoutMs} ms / " +
            s"read ${readTimeoutMs} ms): ${e.getMessage}", e)
    } finally conn.disconnect()
  }

  /** Land one chunk: raw logs as NDJSON in [[Schemas.rawLogs]] shape
    * (numeric fields as numbers — the wire's hex quantities are decoded
    * here, at the ingest boundary, so the engine never sees hex), plus
    * the chunk's coverage record. The coverage record is written LAST —
    * a crash between the two files leaves the chunk uncovered, which
    * [[Coverage.gaps]] then reports: coverage can under-claim, never
    * over-claim.
    */
  private def writeChunk(outDir: String, start: Long, end: Long,
                         logs: ArrayNode): Unit = {
    val sb = new StringBuilder
    logs.forEach { l =>
      val o = mapper.createObjectNode()
      o.put("address", l.get("address").asText())
      o.set[ObjectNode]("topics", l.get("topics"))
      o.put("data", l.get("data").asText())
      o.put("blockNumber", parseHexLong(l.get("blockNumber").asText()))
      o.put("blockHash", l.get("blockHash").asText())
      o.put("transactionHash", l.get("transactionHash").asText())
      o.put("transactionIndex", parseHexLong(l.get("transactionIndex").asText()).toInt)
      o.put("logIndex", parseHexLong(l.get("logIndex").asText()).toInt)
      sb.append(mapper.writeValueAsString(o)).append('\n')
    }
    Files.write(Paths.get(outDir, s"chunk_${start}_$end.json"),
      sb.toString.getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    Files.write(covDirPath(outDir).resolve(s"chunk_${start}_$end.json"),
      s"""{"chunkStart":$start,"chunkEnd":$end,"nLogs":${logs.size()}}\n""".getBytes(UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  }

  private def covDirPath(outDir: String) = Paths.get(outDir, "_coverage")
}

/** Block-coverage completeness check — the SURVEY §4/§5.4 commitment:
  * a missing chunk must be DETECTABLE from block coverage, because
  * event presence can't prove absence (an eventless chunk and a
  * skipped chunk look identical in the events table — exactly the
  * ambiguity the reference's skip-and-continue creates and can never
  * resolve).
  */
object Coverage {

  /** Schema of the fetcher's `_coverage/` manifest. */
  val schema: StructType = StructType(Seq(
    StructField("chunkStart", LongType, nullable = false),
    StructField("chunkEnd", LongType, nullable = false),
    StructField("nLogs", LongType, nullable = false)))

  /** Missing block ranges of [from, to] not covered by any manifest
    * record — classic gaps-and-islands: clip records to the range,
    * running-max of chunkEnd in chunkStart order, a gap wherever a
    * record starts past prevMax+1, plus the tail after the global max
    * (which also yields the whole range when the manifest is empty).
    * Overlapping / duplicate / unordered records are all fine.
    *
    * Scale note: the single-partition ORDER BY window is deliberate —
    * the manifest is one row per CHUNK (5000 blocks), i.e. ~6k rows
    * for an entire L2 history; at 100 TB the manifest is still driver-
    * trivial while the DATA it vouches for is what's huge. If chunks
    * ever became fine-grained enough to matter, the same running-max
    * is range-partitionable (per-partition max + prefix-scan of
    * partition maxima).
    */
  def gaps(coverage: DataFrame, from: Long, to: Long): DataFrame = {
    require(from <= to, s"empty range [$from, $to]")
    val cov = coverage
      .select(greatest(col("chunkStart"), lit(from)).as("s"),
        least(col("chunkEnd"), lit(to)).as("e"))
      .where(col("e") >= col("s"))
    val prev = Window.orderBy(col("s"), col("e"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val internal = cov
      .withColumn("expected", coalesce(max(col("e")).over(prev) + 1, lit(from)))
      .where(col("s") > col("expected"))
      .select(col("expected").as("gapStart"), (col("s") - 1).as("gapEnd"))
    val tail = cov.agg(max(col("e")).as("m"))
      .select((coalesce(col("m"), lit(from - 1)) + 1).as("gapStart"),
        lit(to).as("gapEnd"))
      .where(col("gapStart") <= col("gapEnd"))
    // distinct: two records may open the SAME gap when an overlapped
    // pair both start past the running max (e.g. [0,9],[20,24],[20,29])
    internal.unionByName(tail).distinct().orderBy(col("gapStart"))
  }

  /** Convenience over a fetcher output directory. */
  def gapsInDir(spark: SparkSession, rawDir: String, from: Long, to: Long): DataFrame =
    gaps(spark.read.schema(schema).json(s"$rawDir/_coverage"), from, to)

  /** Driver-side [[gaps]] over an in-memory manifest — the same
    * running-max sweep without a Spark job, for the poll loop's
    * per-iteration resume decision ([[Rpc.pollOnce]]): the manifest is
    * one record per CHUNK, so this is a sort of a few thousand tuples.
    * Semantics are spec-asserted equal to the Spark plan (RpcSpec
    * property test drives both).
    */
  def gapsLocal(records: Seq[(Long, Long)], from: Long, to: Long): Seq[(Long, Long)] = {
    require(from <= to, s"empty range [$from, $to]")
    val clipped = records
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e >= s }
      .sorted
    val (gaps, frontier) = clipped.foldLeft((Vector.empty[(Long, Long)], from)) {
      case ((acc, next), (s, e)) =>
        val acc2 = if (s > next) acc :+ ((next, s - 1)) else acc
        (acc2, math.max(next, e + 1))
    }
    if (frontier <= to) gaps :+ ((frontier, to)) else gaps
  }

  /** Fail-loud completeness assertion for [[EtlJob]]: throws listing
    * the missing ranges if [from, to] is not fully covered. Runs on the
    * driver ([[Rpc.coverageRanges]] + [[gapsLocal]]) and starts no Spark
    * job; `spark` is kept for source compatibility.
    */
  def requireComplete(spark: SparkSession, rawDir: String, from: Long, to: Long): Unit = {
    val g = gapsLocal(Rpc.coverageRanges(rawDir), from, to).map { case (s, e) => s"$s-$e" }
    if (g.nonEmpty)
      throw new IllegalStateException(
        s"raw-log dir $rawDir does not cover blocks $from-$to; missing: " +
          g.mkString(", ") + " (a skipped extract chunk — re-fetch before indexing)")
  }
}
