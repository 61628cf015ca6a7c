package graft.hypermap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.EvmCodec

/** Driver-gate queries exercising the hypermap pipeline itself.
  *
  * The generic testdata has no hypermap tables, so these queries run the
  * full decode→fold pipeline over the deterministic golden fixture
  * (Fixtures.goldenLogs + adversarial rows; sfDir is ignored) and the
  * oracle side is the HAND-DERIVED expected output as a VALUES literal —
  * i.e. the reference semantics written down independently of the
  * implementation. docs/SANITY_CHECKS.md:9-27 is the source of the counts.
  */
object HypermapQueries {

  type Q = (SparkSession, String) => DataFrame

  private val Root = Schemas.RootHash
  private val Os = Fixtures.OsHash // namehash(ROOT, "os")
  private val Alice = EvmCodec.namehash(Os, "alice")

  /** Decoded golden fixture, memoized per session: the fixture is 19 rows,
    * but every gate query re-running ABI encode + decode keeps ~2 s of
    * fixed plan work in each bench entry. Caching truncates the lineage so
    * downstream plans (fold, pagination) start from the materialized rows.
    */
  private def pipeline(s: SparkSession): DataFrame =
    graft.Artifacts.memo(s, "hm_decoded", "")(
      Decode.decode(Fixtures.toDF(s,
        Fixtures.goldenLogs ++ Fixtures.adversarialLogs)).persist())

  /** T1/T2 + §5 golden contract: decode with silent-skip of 5 adversarial
    * logs → exactly {Note:8, Transfer:4, Mint:2}.
    */
  val decodeCounts: Q = (s, _) => {
    import s.implicits._
    pipeline(s).groupBy($"eventType").count()
      .select($"eventType", $"count".as("n")).orderBy($"eventType")
  }
  val decodeCountsSql: String =
    """SELECT * FROM (VALUES ('Mint', CAST(2 AS BIGINT)), ('Note', CAST(8 AS BIGINT)),
      |  ('Transfer', CAST(4 AS BIGINT))) AS t(eventType, n) ORDER BY eventType""".stripMargin

  /** §2.4 fold summary: per-entry creation/update attrs and collection
    * sizes. Expected rows derived by hand from the fixture event sequence.
    */
  val entriesFold: Q = (s, _) => {
    import s.implicits._
    EntriesFold.fold(pipeline(s))
      .select($"namehash", $"label", $"parentHash", $"creationBlock",
        $"lastUpdateBlock", size($"children").cast("long").as("n_children"),
        size($"notes").cast("long").as("n_notes"),
        size($"facts").cast("long").as("n_facts"),
        $"owner")
      .orderBy($"namehash")
  }
  val entriesFoldSql: String =
    s"""SELECT * FROM (VALUES
       |  ('$Os', 'os', '$Root', CAST(27430010 AS BIGINT), CAST(27432200 AS BIGINT),
       |   CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(NULL AS VARCHAR)),
       |  ('$Alice', 'alice', '$Os', CAST(27430500 AS BIGINT), CAST(27434000 AS BIGINT),
       |   CAST(0 AS BIGINT), CAST(5 AS BIGINT), CAST(0 AS BIGINT), CAST(NULL AS VARCHAR)))
       |  AS t(namehash, label, parentHash, creationBlock, lastUpdateBlock,
       |       n_children, n_notes, n_facts, owner)
       |ORDER BY namehash""".stripMargin

  /** E7 NORMALIZED-owner mode (r15 verdict item 3): same fold summary,
    * but Transfer ids are uint-decimal→bytes32 normalized before the
    * entry join, so the two fixture transfers whose ids round-trip to
    * real namehashes resolve owners — the mode a real user runs, vs the
    * gated-elsewhere faithful mode that reproduces the reference's
    * decimal-vs-hex mismatch (reference/src/lib/services/mongodb.ts:256-270,
    * where Transfer.hypermap_id is the raw decimal string and the Mongo
    * upsert keyed on hex namehash silently never matches). Hand-derived
    * expectations: os owned by addr1 (zero→addr1 at 27430800, after its
    * Mint), alice by addr2 (addr1→addr2 at 27433500 is the last writer),
    * the id-12345 transfer matches no entry, and neither ownerBump
    * exceeds the note-driven lastUpdateBlock. Owner strings are EIP-55
    * checksummed by the same public rule the decoder applies.
    */
  val entriesFoldNorm: Q = (s, _) => {
    import s.implicits._
    EntriesFold.fold(pipeline(s), normalizeTransferIds = true)
      .select($"namehash", $"label", $"parentHash", $"creationBlock",
        $"lastUpdateBlock", size($"children").cast("long").as("n_children"),
        size($"notes").cast("long").as("n_notes"),
        size($"facts").cast("long").as("n_facts"),
        $"owner")
      .orderBy($"namehash")
  }
  val entriesFoldNormSql: String = {
    val addr1 = EvmCodec.checksumAddress("0x" + "11" * 20)
    val addr2 = EvmCodec.checksumAddress("0x" + "22" * 20)
    s"""SELECT * FROM (VALUES
       |  ('$Os', 'os', '$Root', CAST(27430010 AS BIGINT), CAST(27432200 AS BIGINT),
       |   CAST(1 AS BIGINT), CAST(2 AS BIGINT), CAST(0 AS BIGINT), '$addr1'),
       |  ('$Alice', 'alice', '$Os', CAST(27430500 AS BIGINT), CAST(27434000 AS BIGINT),
       |   CAST(0 AS BIGINT), CAST(5 AS BIGINT), CAST(0 AS BIGINT), '$addr2'))
       |  AS t(namehash, label, parentHash, creationBlock, lastUpdateBlock,
       |       n_children, n_notes, n_facts, owner)
       |ORDER BY namehash""".stripMargin
  }

  /** Q1 pagination on the hypermap events table: Notes newest-first,
    * page 2 at limit 3 → rows 4-6 of 8.
    */
  val eventPage: Q = (s, _) => {
    import s.implicits._
    val (page, _) = QueryService.getEvents(pipeline(s),
      eventType = Some("Note"), page = 2, limit = 3)
    page.select($"blockNumber", $"logIndex".cast("long").as("logIndex"), $"label")
      .orderBy($"blockNumber".desc, $"logIndex".desc)
  }
  val eventPageSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(27432200 AS BIGINT), CAST(3 AS BIGINT), '~routers'),
      |  (CAST(27432000 AS BIGINT), CAST(0 AS BIGINT), '~net-key'),
      |  (CAST(27431500 AS BIGINT), CAST(0 AS BIGINT), '~ip'))
      |  AS t(blockNumber, logIndex, label)
      |ORDER BY blockNumber DESC, logIndex DESC""".stripMargin

  /** Q2 — all events referencing alice's namehash (Transfer.id is a decimal
    * string and never matches the hex namehash — faithful E7 quirk).
    */
  val entryEvents: Q = (s, _) => {
    import s.implicits._
    QueryService.getEventsForEntry(pipeline(s), Alice)
      .select($"eventType", $"blockNumber", $"logIndex".cast("long").as("logIndex"))
  }
  val entryEventsSql: String =
    """SELECT * FROM (VALUES
      |  ('Mint', CAST(27430500 AS BIGINT), CAST(1 AS BIGINT)),
      |  ('Note', CAST(27431000 AS BIGINT), CAST(0 AS BIGINT)),
      |  ('Note', CAST(27431000 AS BIGINT), CAST(1 AS BIGINT)),
      |  ('Note', CAST(27431500 AS BIGINT), CAST(0 AS BIGINT)),
      |  ('Note', CAST(27433000 AS BIGINT), CAST(0 AS BIGINT)),
      |  ('Note', CAST(27433100 AS BIGINT), CAST(1 AS BIGINT)),
      |  ('Note', CAST(27434000 AS BIGINT), CAST(0 AS BIGINT)))
      |  AS t(eventType, blockNumber, logIndex)
      |ORDER BY blockNumber, logIndex""".stripMargin

  /** T2 full-width check: one log of each of the 7 event types; output the
    * per-type distinguishing fields. Expected values computed from the
    * same public EVM rules (keccak/EIP-55) the decoder must honor.
    */
  private val GeneAddr = "0x" + "ab" * 20
  private val ZeroAddr = "0x" + "cd" * 20
  private val ImplAddr = "0x" + "ef" * 20

  private def allTypesLogs: Seq[Fixtures.Log] = Seq(
    Fixtures.mint(Root, "os", 100L, 0),
    Fixtures.fact(Os, "!sig", "sealed".getBytes("UTF-8"), 110L, 0),
    Fixtures.note(Os, "~ip", "1.2.3.4".getBytes("UTF-8"), 120L, 0),
    Fixtures.gene(Os, GeneAddr, 130L, 0),
    Fixtures.zero(ZeroAddr, 140L, 0),
    Fixtures.transfer("0x" + "00" * 20, "0x" + "11" * 20, "42", 150L, 0),
    Fixtures.upgraded(ImplAddr, 160L, 0))

  val allTypes: Q = (s, _) => {
    import s.implicits._
    Decode.decode(Fixtures.toDF(s, allTypesLogs))
      .select($"eventType", $"blockNumber",
        coalesce($"label", lit("")).as("label"),
        coalesce($"data", lit("")).as("data"),
        coalesce($"gene", $"to", $"zeroTba", $"implementation", lit("")).as("addr"),
        coalesce($"id", lit("")).as("id"))
      .orderBy($"blockNumber")
  }
  val allTypesSql: String = {
    val factData = "0x" + graft.functions.Keccak.bytesToHex("sealed".getBytes("UTF-8"))
    val noteData = "0x" + graft.functions.Keccak.bytesToHex("1.2.3.4".getBytes("UTF-8"))
    val gene = EvmCodec.checksumAddress(GeneAddr)
    val to = EvmCodec.checksumAddress("0x" + "11" * 20)
    val zero = EvmCodec.checksumAddress(ZeroAddr)
    val impl = EvmCodec.checksumAddress(ImplAddr)
    s"""SELECT * FROM (VALUES
       |  ('Mint', CAST(100 AS BIGINT), 'os', '', '', ''),
       |  ('Fact', CAST(110 AS BIGINT), '!sig', '$factData', '', ''),
       |  ('Note', CAST(120 AS BIGINT), '~ip', '$noteData', '', ''),
       |  ('Gene', CAST(130 AS BIGINT), '', '', '$gene', ''),
       |  ('Zero', CAST(140 AS BIGINT), '', '', '$zero', ''),
       |  ('Transfer', CAST(150 AS BIGINT), '', '', '$to', '42'),
       |  ('Upgraded', CAST(160 AS BIGINT), '', '', '$impl', ''))
       |  AS t(eventType, blockNumber, label, data, addr, id)
       |ORDER BY blockNumber""".stripMargin
  }

  /** str_replay_equiv — ST3 exactly-once under the DRIVER'S oracle: the
    * golden+adversarial fixture replayed through
    * [[graft.streaming.Tail.startWithEntriesCommitted]] in four landed
    * micro-batches, with (a) batch 2 REDELIVERING three of batch 1's
    * rows (at-least-once delivery — the event_id anti-join sink must
    * dedupe), (b) a full query RESTART on the same checkpoint between
    * batches 2 and 3 (ST2 offset resume — the new query must not replay
    * b1/b2), and (c) batch 4 being 100% duplicates (must be a no-op).
    * The streamed entries table then projects to the SAME hand-derived
    * VALUES oracle as hm_entries_fold — equality proves the incremental
    * fold + idempotent sinks converge to the batch semantics end-to-end.
    *
    * Memoized per session: the replay is a side-effecting fixture build
    * (temp dirs + two streaming queries, ~5 s); verify's parallel dump
    * and bench both reuse the one materialized result.
    */
  val entriesReplay: Q = (s, _) => {
    import s.implicits._
    val streamed = graft.Artifacts.memo(s, "hm_replay", "") {
      import org.apache.spark.sql.streaming.Trigger
      val base = java.nio.file.Files.createTempDirectory("graft-replay")
      val rawDir = base.resolve("raw").toString
      new java.io.File(rawDir).mkdirs()
      val (ev, en, ck) = (base.resolve("ev").toString,
        base.resolve("en").toString, base.resolve("ck").toString)
      val all = Fixtures.goldenLogs ++ Fixtures.adversarialLogs
      val land: Seq[(Int, Seq[Fixtures.Log])] = Seq(
        1 -> all.take(7),
        2 -> all.slice(4, 12), // redelivers rows 4-6
        3 -> all.drop(12),
        4 -> all.take(7))      // pure redelivery: must be a no-op
      def run(batches: Seq[(Int, Seq[Fixtures.Log])]): Unit = {
        val q = graft.streaming.Tail.startWithEntriesCommitted(s, rawDir + "/*/",
          ev, en, ck, trigger = Trigger.ProcessingTime("1 second"))
        // finally-stop: a failed landing/batch must not leak a live
        // query bound to the shared checkpoint (a same-session retry
        // would otherwise start a SECOND query on the same dirs)
        try batches.foreach { case (i, logs) =>
          Fixtures.toDF(s, logs).coalesce(1).write.json(s"$rawDir/b$i")
          q.processAllAvailable()
        } finally q.stop()
      }
      run(land.take(2))
      run(land.drop(2)) // restart on the same checkpoint (ST2)
      val result = Sinks.readCommitted(s, en).localCheckpoint(true)
      // the fixture dirs are consumed once the checkpoint materializes
      org.apache.commons.io.FileUtils.deleteQuietly(base.toFile)
      result
    }
    streamed
      .select($"namehash", $"label", $"parentHash", $"creationBlock",
        $"lastUpdateBlock", size($"children").cast("long").as("n_children"),
        size($"notes").cast("long").as("n_notes"),
        size($"facts").cast("long").as("n_facts"),
        $"owner")
      .orderBy($"namehash")
  }

  /** hm_rpc_extract — the LIVE extract path end-to-end (spec-only
    * until round 14): a fixture-backed mock JSON-RPC chain serves the
    * golden+adversarial logs; [[Rpc.fetch]] chunk-loops `eth_getLogs`
    * over the sanity range (1000-block chunks → 5 chunks) with a
    * 429 burst injected on requests 1-3 (so the SECOND chunk backs off
    * three times before landing — the retry path provably runs);
    * coverage is asserted complete; the landed NDJSON files are then
    * decoded by the same engine path as hm_decode_counts and must
    * reproduce the golden {Mint:2, Note:8, Transfer:4} contract
    * (docs/SANITY_CHECKS.md:9-11). Memoized per session like the
    * replay gate — the fetch is a side-effecting fixture build.
    */
  val rpcExtract: Q = (s, _) => {
    import s.implicits._
    val decoded = graft.Artifacts.memo(s, "hm_rpc", "") {
      val mock = new Rpc.MockRpc(
        Fixtures.goldenLogs ++ Fixtures.adversarialLogs, head = 27434999L,
        failPlan = i => i >= 1 && i <= 3) // burst: 2nd-4th getLogs calls 429
      val dir = try {
        val d = java.nio.file.Files.createTempDirectory("graft-rpc").toString
        val rep = Rpc.fetch(mock.endpoint, 27430000L, 27434999L, d,
          chunkSize = 1000L, baseRetryDelayMs = 1L)
        require(rep.chunks == 5 && rep.retries == 3,
          s"expected 5 chunks / 3 backoffs, got $rep")
        d
      } finally mock.stop()
      Coverage.requireComplete(s, dir, 27430000L, 27434999L)
      val result = Decode.decode(
        s.read.schema(Schemas.rawLogs).json(dir))
        .localCheckpoint(true)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      result
    }
    decoded.groupBy($"eventType").count()
      .select($"eventType", $"count".as("n")).orderBy($"eventType")
  }

  /** hm_gap_check — [[Coverage.gaps]] under the driver oracle (SURVEY
    * §5.4: "missing chunk ⇒ detectable from block coverage"). The
    * fixture manifest covers [0,99] in 10-block chunks with chunks
    * 20-29, 50-69 and 80-99 missing, one overlapping record (35-44),
    * one duplicate, and one record outside the range (120-129) —
    * expected gaps hand-derived.
    */
  val gapCheck: Q = (s, _) => {
    import s.implicits._
    val cov = Seq[(Long, Long, Long)](
      (0L, 9L, 3L), (10L, 19L, 0L), (30L, 39L, 2L), (40L, 49L, 1L),
      (35L, 44L, 1L), (30L, 39L, 2L), (70L, 79L, 5L), (120L, 129L, 9L))
      .toDF("chunkStart", "chunkEnd", "nLogs")
    Coverage.gaps(cov, 0L, 99L)
  }
  val gapCheckSql: String =
    """SELECT * FROM (VALUES
      |  (CAST(20 AS BIGINT), CAST(29 AS BIGINT)),
      |  (CAST(50 AS BIGINT), CAST(69 AS BIGINT)),
      |  (CAST(80 AS BIGINT), CAST(99 AS BIGINT)))
      |  AS t(gapStart, gapEnd)
      |ORDER BY gapStart""".stripMargin

  val queries: Map[String, Q] = Map(
    "hm_all_types"      -> allTypes,
    "hm_decode_counts"  -> decodeCounts,
    "hm_entries_fold"   -> entriesFold,
    "hm_entries_fold_norm" -> entriesFoldNorm,
    "hm_event_page"     -> eventPage,
    "hm_entry_events"   -> entryEvents,
    "hm_rpc_extract"    -> rpcExtract,
    "hm_gap_check"      -> gapCheck,
    "str_replay_equiv"  -> entriesReplay,
  )

  val oracles: Map[String, String] = Map(
    "hm_all_types"      -> allTypesSql,
    "hm_decode_counts"  -> decodeCountsSql,
    "hm_entries_fold"   -> entriesFoldSql,
    "hm_entries_fold_norm" -> entriesFoldNormSql,
    "hm_event_page"     -> eventPageSql,
    "hm_entry_events"   -> entryEventsSql,
    "hm_rpc_extract"    -> decodeCountsSql, // same golden contract, via live path
    "hm_gap_check"      -> gapCheckSql,
    "str_replay_equiv"  -> entriesFoldSql, // same hand-derived expected table
  )
}
