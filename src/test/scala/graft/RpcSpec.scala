package graft

import graft.hypermap.{Coverage, EtlJob, Fixtures, Rpc, Schemas}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.collection.mutable.ArrayBuffer

/** The live extract path end-to-end (VERDICT r13 item 1) and the
  * SURVEY §4/§5.4 block-coverage completeness commitment (item 2):
  * a fixture-backed mock JSON-RPC chain drives the real chunked
  * fetcher — including a mid-scan 429 burst through the exponential
  * backoff — into raw-log files that the batch job indexes to the
  * golden sanity counts; and dropping ANY chunk is detectable from the
  * coverage manifest (the fail-loud replacement for the reference's
  * silent skip-and-continue at scripts/index-events.ts:274-283).
  */
class RpcSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def check(p: Prop): Unit = {
    val res = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(50), p)
    assert(res.passed, res.status.toString)
  }

  private val From = 27430000L
  private val To = 27434999L

  // ------------------------------------------------------ fetch end-to-end

  test("mock chain → chunked fetch with 429 burst → EtlJob → golden counts") {
    val mock = new Rpc.MockRpc(
      Fixtures.goldenLogs ++ Fixtures.adversarialLogs, head = To,
      failPlan = i => i >= 1 && i <= 3) // 2nd chunk rate-limited 3× then ok
    val base = Files.createTempDirectory("graft-rpc-e2e")
    val rawDir = base.resolve("raw").toString
    try {
      assert(Rpc.blockNumber(mock.endpoint) == To)
      assert(Rpc.confirmedHead(mock.endpoint, 12) == To - 12)
      val sleeps = ArrayBuffer.empty[Long]
      val rep = Rpc.fetch(mock.endpoint, From, To, rawDir,
        chunkSize = 1000L, baseRetryDelayMs = 3000L,
        jitter = r => r.toLong, sleeper = sleeps += _)
      // 5000 blocks / 1000-block chunks = 5 chunks; 3 backoffs taken
      assert(rep.chunks == 5 && rep.retries == 3)
      // the reference's schedule: base·2^attempt + jitter(attempt)
      assert(sleeps.toSeq == Seq(3000L * 2 + 1, 3000L * 4 + 2, 3000L * 8 + 3))
      // foreign-address adversarial log is filtered AT THE NODE (the
      // getLogs address filter), so 18 of the 19 fixture rows land
      assert(rep.logs == 18)
      assert(Coverage.gapsInDir(spark, rawDir, From, To).count() == 0)

      // the landed files ARE Schemas.rawLogs shape: index them end-to-end
      val report = EtlJob.run(spark, rawDir, base.resolve("out").toString,
        checkCoverage = true)
      assert(report.scanned == 18)
      assert(report.decoded == 14)
      assert(report.byType == Map("Note" -> 8L, "Transfer" -> 4L, "Mint" -> 2L))
    } finally {
      mock.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    }
  }

  test("fetch is idempotent at chunk granularity: re-run overwrites, coverage stays exact") {
    val mock = new Rpc.MockRpc(Fixtures.goldenLogs, head = To)
    val dir = Files.createTempDirectory("graft-rpc-rerun").toString
    try {
      Rpc.fetch(mock.endpoint, From, To, dir, chunkSize = 1000L)
      Rpc.fetch(mock.endpoint, From, To, dir, chunkSize = 1000L)
      val cov = spark.read.schema(Coverage.schema).json(s"$dir/_coverage")
      assert(cov.count() == 5) // one record per chunk, not per run
      assert(spark.read.schema(Schemas.rawLogs).json(dir)
        .count() == Fixtures.goldenLogs.size)
    } finally {
      mock.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("a chunk that rate-limits past the retry budget THROWS (no silent skip)") {
    val mock = new Rpc.MockRpc(Fixtures.goldenLogs, head = To,
      failPlan = _ => true)
    val dir = Files.createTempDirectory("graft-rpc-fail").toString
    try {
      val ex = intercept[java.io.IOException] {
        Rpc.fetch(mock.endpoint, From, To, dir, chunkSize = 1000L,
          maxRetries = 2, sleeper = _ => ())
      }
      assert(ex.getMessage.contains("refusing to skip"))
      // nothing claimed: the failed chunk wrote no coverage record
      assert(Coverage.gapsInDir(spark, dir, From, To).count() == 1)
    } finally {
      mock.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("non-rate-limit HTTP failure throws immediately, without retrying") {
    // minimal always-500 endpoint: not a rate limit, must NOT be retried
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
      val b = "boom".getBytes("UTF-8")
      ex.sendResponseHeaders(500, b.length.toLong)
      val os = ex.getResponseBody; os.write(b); os.close()
    })
    server.start()
    val dir = Files.createTempDirectory("graft-rpc-500").toString
    try {
      var slept = 0
      val ex = intercept[java.io.IOException] {
        Rpc.fetch(s"http://127.0.0.1:${server.getAddress.getPort}/",
          From, To, dir, sleeper = _ => slept += 1)
      }
      assert(ex.getMessage.contains("HTTP 500") && slept == 0)
    } finally {
      server.stop(0)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    }
  }

  test("poll loop: resume from the manifest frontier, fetch only the new range, no-op when caught up") {
    val mock = new Rpc.MockRpc(Fixtures.goldenLogs, head = 27431999L)
    val base = Files.createTempDirectory("graft-rpc-poll")
    val rawDir = base.resolve("raw").toString
    try {
      // poll 1: nothing covered yet → fetch [genesis, head]
      val r1 = Rpc.pollOnce(mock.endpoint, rawDir, genesis = From,
        chunkSize = 1000L).get
      assert(r1.chunks == 2) // 27430000-27430999, 27431000-27431999
      assert(Rpc.coveredUpTo(rawDir).contains(27431999L))

      // chain advances; poll 2 fetches ONLY the new blocks
      mock.head = To
      val r2 = Rpc.pollOnce(mock.endpoint, rawDir, genesis = From,
        chunkSize = 1000L).get
      assert(r2.chunks == 3) // 27432000..27434999
      // logs from the already-covered range were not refetched
      assert(r1.logs + r2.logs == Fixtures.goldenLogs.size)

      // caught up → no-op (poll loop sleeps)
      assert(Rpc.pollOnce(mock.endpoint, rawDir, genesis = From,
        chunkSize = 1000L).isEmpty)

      // confirmation depth caps the fetch: nothing above head − N lands
      mock.head = To + 10
      assert(Rpc.pollOnce(mock.endpoint, rawDir, genesis = From,
        confirmations = 10, chunkSize = 1000L).isEmpty)

      // the union of both polls covers the range and indexes to golden
      Coverage.requireComplete(spark, rawDir, From, To)
      val report = EtlJob.run(spark, rawDir, base.resolve("out").toString,
        checkCoverage = true)
      assert(report.byType == Map("Note" -> 8L, "Transfer" -> 4L, "Mint" -> 2L))
    } finally {
      mock.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    }
  }

  test("poll loop heals an interior manifest hole instead of skipping it forever") {
    // r14 ADVICE: a dir assembled from mixed runs (or a manually fetched
    // later range) can hold a hole BELOW the frontier; resuming from
    // max(chunkEnd)+1 would never backfill it. pollOnce resumes from the
    // gap set, so the next poll fetches exactly the hole + the new tail.
    val mock = new Rpc.MockRpc(Fixtures.goldenLogs, head = To)
    val base = Files.createTempDirectory("graft-rpc-hole")
    val rawDir = base.resolve("raw").toString
    try {
      // two disjoint manual fetches leave blocks 27431000-27431999 uncovered
      Rpc.fetch(mock.endpoint, From, From + 999L, rawDir, chunkSize = 1000L)
      Rpc.fetch(mock.endpoint, From + 2000L, To, rawDir, chunkSize = 1000L)
      assert(Rpc.coveredUpTo(rawDir).contains(To)) // frontier is PAST the hole
      val r = Rpc.pollOnce(mock.endpoint, rawDir, genesis = From,
        chunkSize = 1000L).get
      assert(r.chunks == 1) // exactly the hole, nothing re-fetched
      Coverage.requireComplete(spark, rawDir, From, To)
      // all golden rows landed exactly once across the three runs
      assert(spark.read.schema(Schemas.rawLogs).json(rawDir)
        .count() == Fixtures.goldenLogs.size)
      // caught up: the healed dir no-ops
      assert(Rpc.pollOnce(mock.endpoint, rawDir, genesis = From,
        chunkSize = 1000L).isEmpty)
    } finally {
      mock.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    }
  }

  test("a hung endpoint times out LOUDLY instead of blocking the poll loop forever") {
    // accepts the connection, never responds: read timeout must fire
    val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (_: com.sun.net.httpserver.HttpExchange) => {
      Thread.sleep(10000) // never responds within the test timeout
    })
    server.start()
    try {
      val ex = intercept[java.io.IOException] {
        Rpc.post(s"http://127.0.0.1:${server.getAddress.getPort}/",
          """{"jsonrpc":"2.0","id":1,"method":"eth_blockNumber","params":[]}""",
          readTimeoutMs = 250)
      }
      assert(ex.getMessage.contains("timed out"))
    } finally server.stop(0)
  }

  test("block-timestamp dim fetch: one call per DISTINCT block, deterministic clock") {
    val mock = new Rpc.MockRpc(Nil, head = 100L)
    try {
      val dim = Rpc.fetchBlockTimestamps(mock.endpoint, Seq(7L, 3L, 7L, 3L))
      assert(dim == Seq(3L -> Rpc.blockTimestamp(3L), 7L -> Rpc.blockTimestamp(7L)))
    } finally mock.stop()
  }

  // ----------------------------------------------------- coverage gaps

  private def gapsOf(records: Seq[(Long, Long, Long)], from: Long, to: Long) =
    Coverage.gaps(records.toDF("chunkStart", "chunkEnd", "nLogs"), from, to)
      .as[(Long, Long)].collect().toSeq

  test("gaps: hand-derived holes, overlaps, duplicates, out-of-range records") {
    val cov = Seq[(Long, Long, Long)](
      (0L, 9L, 3L), (10L, 19L, 0L), (30L, 39L, 2L), (40L, 49L, 1L),
      (35L, 44L, 1L), (30L, 39L, 2L), (70L, 79L, 5L), (120L, 129L, 9L))
    assert(gapsOf(cov, 0L, 99L) == Seq((20L, 29L), (50L, 69L), (80L, 99L)))
  }

  test("gaps: empty manifest reports the whole range; full coverage reports none") {
    assert(gapsOf(Nil, 5L, 25L) == Seq((5L, 25L)))
    assert(gapsOf(Seq((0L, 30L, 1L)), 5L, 25L).isEmpty)
  }

  test("property: dropping any chunk subset ⇒ gaps ≡ exactly the uncovered blocks") {
    val gen = for {
      chunk <- Gen.chooseNum(1L, 7L)
      n <- Gen.chooseNum(1, 12) // number of chunks in the grid
      keep <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield (chunk, n, keep)
    check(Prop.forAll(gen) { case (chunk, n, keep) =>
      val to = n * chunk - 1
      val kept = (0 until n).zip(keep).collect {
        case (i, true) => (i * chunk, (i + 1) * chunk - 1, 1L)
      }
      val reported = gapsOf(kept, 0L, to)
      val uncovered = (0L to to).toSet --
        kept.flatMap { case (s, e, _) => s to e }
      // exact reconstruction: ranges are disjoint, sorted, and their
      // union is precisely the uncovered block set
      val expanded = reported.flatMap { case (s, e) => s to e }
      // the poll loop's driver-side sweep must agree with the Spark plan
      val local = Coverage.gapsLocal(kept.map { case (s, e, _) => (s, e) }, 0L, to)
      expanded.toSet == uncovered && expanded.size == uncovered.size &&
        reported == reported.sorted && local == reported
    })
  }

  test("requireComplete names the missing ranges; EtlJob --check-coverage fails loud") {
    val mock = new Rpc.MockRpc(Fixtures.goldenLogs, head = To)
    val base = Files.createTempDirectory("graft-rpc-cov")
    val rawDir = base.resolve("raw").toString
    try {
      Rpc.fetch(mock.endpoint, From, To, rawDir, chunkSize = 1000L)
      // complete: no throw
      Coverage.requireComplete(spark, rawDir, From, To)
      // punch a hole: delete chunk 2's coverage record (blocks 27432000-27432999)
      val covFile = new java.io.File(s"$rawDir/_coverage/chunk_27432000_27432999.json")
      assert(covFile.delete(), s"fixture drift: $covFile not found")
      val ex = intercept[IllegalStateException] {
        EtlJob.run(spark, rawDir, base.resolve("out").toString,
          checkCoverage = true, fromBlock = Some(From), toBlock = Some(To))
      }
      assert(ex.getMessage.contains("27432000-27432999"))
    } finally {
      mock.stop()
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
    }
  }
}
