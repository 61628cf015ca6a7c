package graft

import graft.functions.{EvmCodec, evm}
import graft.hypermap.{Decode, EntriesFold, Fixtures, Schemas}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Golden-output + semantics tests for the hypermap decode and entries fold
  * (SURVEY.md §5 — the reference's only stated correctness contract plus the
  * unit fixtures from FIXTURES.md §5).
  */
class HypermapSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  lazy val goldenRaw = Fixtures.toDF(spark, Fixtures.goldenLogs ++ Fixtures.adversarialLogs)
  lazy val decoded = Decode.decode(goldenRaw).cache()

  test("golden range decodes to exactly 14 events: 8 Note, 4 Transfer, 2 Mint") {
    val counts = decoded.groupBy($"eventType").count()
      .as[(String, Long)].collect().toMap
    assert(counts == Map("Note" -> 8L, "Transfer" -> 4L, "Mint" -> 2L))
    assert(decoded.count() == 14) // all 5 adversarial logs silently skipped
  }

  test("decoded fields match ethers semantics") {
    val mint = decoded.where($"eventType" === "Mint" && $"label" === "os")
      .head()
    assert(mint.getAs[String]("parenthash") == Schemas.RootHash)
    assert(mint.getAs[String]("childhash") == Fixtures.OsHash)
    // indexed dynamic bytes topic = keccak(label), stored verbatim
    assert(mint.getAs[String]("labelhash") == EvmCodec.keccakUtf8("os"))

    val xfer = decoded.where($"eventType" === "Transfer" && $"id" === "12345").head()
    // addresses come out EIP-55 checksummed (ethers getAddress)
    assert(xfer.getAs[String]("from") == EvmCodec.checksumAddress("0x" + "11" * 20))
    assert(xfer.getAs[String]("to") == EvmCodec.checksumAddress("0x" + "22" * 20))

    val note = decoded.where($"eventType" === "Note" && $"label" === "~ip" &&
      $"blockNumber" === 27431000L && $"logIndex" === 0).head()
    assert(note.getAs[String]("data") == "0x" + graft.functions.Keccak.bytesToHex(
      "10.0.0.1".getBytes("UTF-8")))
    assert(note.getAs[String]("event_id").endsWith("_0"))
  }

  test("blocks dimension left join yields nullable timestamps") {
    val blocks = Seq((27430010L, 1740000000L), (27430500L, 1740000600L))
      .toDF("blockNumber", "timestamp")
    val withTs = Decode.decode(goldenRaw, Some(blocks))
    val ts = withTs.where($"eventType" === "Mint")
      .select($"blockNumber", $"timestamp").as[(Long, Option[Long])]
      .collect().toMap
    assert(ts(27430010L).contains(1740000000L))
    val missing = withTs.where($"timestamp".isNull).count()
    assert(missing == 12) // all non-Mint blocks absent from the dim
  }

  // ------------------------------------------------------------- fold

  lazy val entries = EntriesFold.fold(decoded).cache()

  test("fold: alice entry has LWW notes, os has children") {
    val alice = entries.where($"label" === "alice").head()
    val notes = alice.getAs[Map[String, String]]("notes")
    // ~ip written twice; later (block 27431500) wins
    assert(notes("~ip") == "0x" + graft.functions.Keccak.bytesToHex("10.0.0.2".getBytes("UTF-8")))
    assert(notes.keySet == Set("~ip", "~port", "~bio", "~avatar", "~website"))
    assert(alice.getAs[Long]("creationBlock") == 27430500L)

    val os = entries.where($"namehash" === Fixtures.OsHash).head()
    assert(os.getAs[Seq[String]]("children").toSet ==
      Set(EvmCodec.namehash(Fixtures.OsHash, "alice")))
    assert(os.getAs[Map[String, String]]("notes").keySet == Set("~net-key", "~routers"))
  }

  test("fold: faithful mode never sets owner (decimal id vs hex namehash quirk)") {
    assert(entries.where($"owner".isNotNull).count() == 0)
  }

  test("fold: normalized mode resolves Transfer owners") {
    val norm = EntriesFold.fold(decoded, normalizeTransferIds = true)
    val alice = norm.where($"label" === "alice").head()
    // last Transfer of alice's id (block 27433500) set owner to addr2
    assert(alice.getAs[String]("owner") == EvmCodec.checksumAddress("0x" + "22" * 20))
    // os transferred at 27430800 — AFTER its Mint at 27430010 → applied
    val os = norm.where($"namehash" === Fixtures.OsHash).head()
    assert(os.getAs[String]("owner") == EvmCodec.checksumAddress("0x" + "11" * 20))
    // id 12345 matches no entry → no extra rows
    assert(norm.count() == entries.count())
  }

  test("fold: placeholder parent for mints under unknown parents") {
    // a Mint whose parent was never minted → parent entry with label [unknown]
    val orphanParent = EvmCodec.namehash(Schemas.RootHash, "never-minted")
    val logs = Seq(Fixtures.mint(orphanParent, "orphan", 100L, 0))
    val e = EntriesFold.fold(Decode.decode(Fixtures.toDF(spark, logs)))
    val parent = e.where($"namehash" === orphanParent).head()
    assert(parent.getAs[String]("label") == "[unknown]")
    assert(parent.getAs[String]("parentHash") == Schemas.RootHash)
    assert(parent.getAs[Seq[String]]("children").toSet ==
      Set(EvmCodec.namehash(orphanParent, "orphan")))
    // placeholder creation keeps [unknown] even if minted LATER
    val logs2 = logs :+ Fixtures.mint(Schemas.RootHash, "never-minted", 200L, 0)
    val e2 = EntriesFold.fold(Decode.decode(Fixtures.toDF(spark, logs2)))
    val p2 = e2.where($"namehash" === orphanParent).head()
    assert(p2.getAs[String]("label") == "[unknown]") // $setOnInsert skipped
    assert(p2.getAs[Long]("creationBlock") == 100L)
    assert(p2.getAs[Long]("lastUpdateBlock") == 200L) // later Mint still bumps
  }

  test("fold: Fact/Note before entry creation are dropped") {
    val h = EvmCodec.namehash(Schemas.RootHash, "late")
    val logs = Seq(
      Fixtures.note(h, "~early", "x".getBytes("UTF-8"), 50L, 0), // before Mint
      Fixtures.mint(Schemas.RootHash, "late", 100L, 0),
      Fixtures.note(h, "~after", "y".getBytes("UTF-8"), 150L, 0))
    val e = EntriesFold.fold(Decode.decode(Fixtures.toDF(spark, logs)))
    val notes = e.where($"namehash" === h).head().getAs[Map[String, String]]("notes")
    assert(notes.keySet == Set("~after")) // ~early dropped (unknown entry)
  }

  test("fold: permutation determinism — shuffled input yields identical entries") {
    val logs = Fixtures.goldenLogs ++ Fixtures.adversarialLogs
    val shuffled = new Random(7).shuffle(logs)
    val a = EntriesFold.fold(Decode.decode(Fixtures.toDF(spark, logs)))
    val b = EntriesFold.fold(Decode.decode(Fixtures.toDF(spark, shuffled)))
    EntriesAssert.assertSameEntries(b, a)
  }

  test("fold: gene applies only to existing entries (updateOne, no upsert)") {
    val h = EvmCodec.namehash(Schemas.RootHash, "g")
    val addr = "0x" + "ab" * 20
    val logs = Seq(
      Fixtures.gene(h, addr, 50L, 0), // before Mint → silent no-op
      Fixtures.mint(Schemas.RootHash, "g", 100L, 0),
      Fixtures.gene(h, addr, 150L, 0), // after Mint → applied
      Fixtures.gene(h, "0x" + "cd" * 20, 200L, 0)) // last writer wins
    val e = EntriesFold.fold(Decode.decode(Fixtures.toDF(spark, logs)))
    val row = e.where($"namehash" === h).head()
    assert(row.getAs[String]("gene") == EvmCodec.checksumAddress("0x" + "cd" * 20))
    assert(row.getAs[Long]("lastUpdateBlock") == 200L)
    // entry for a never-minted gene target must not exist
    val e2 = EntriesFold.fold(Decode.decode(Fixtures.toDF(spark,
      Seq(Fixtures.gene(EvmCodec.namehash(Schemas.RootHash, "ghost"), addr, 10L, 0)))))
    assert(e2.count() == 0)
  }

  test("incremental entries equals full rebuild after each batch") {
    val all = Fixtures.goldenLogs
    val batches = Seq(all.take(5), all.slice(5, 10), all.drop(10))
    var history = Seq.empty[Fixtures.Log]
    var entriesState = EntriesFold.fold(
      Decode.decode(Fixtures.toDF(spark, Seq.empty)))
    batches.foreach { b =>
      history = history ++ b
      val allEvents = Decode.decode(Fixtures.toDF(spark, history))
      val newBatch = Decode.decode(Fixtures.toDF(spark, b))
      // the previous entries minus the affected keys, plus the refreshed rows
      val (affected, refreshed) =
        EntriesFold.incrementalDelta(allEvents, entriesState, newBatch)
      entriesState = entriesState
        .join(affected, $"namehash" === $"k", "left_anti")
        .unionByName(refreshed)
      EntriesAssert.assertSameEntries(entriesState, EntriesFold.fold(allEvents),
        s"incremental diverges from rebuild after batch of ${b.size}")
    }
  }

  test("incremental entries: the collected and the distributed fold commit identical entries") {
    // the same batches through incrementalDelta's two routes, the fold of
    // the collected history on the driver (cap above it) and the fold over
    // the filtered scan (cap 0, as a spread batch past the cap would take),
    // against the rebuild, in both transfer-id modes. ROOT gets an entry
    // only when a Mint names it as its child; minting it under itself makes
    // that Mint one ROOT's children must not count (it is not after ROOT's
    // creation), and a Transfer of id 0 is ROOT's own in normalized mode
    val Root = Fixtures.Root
    def asRoot(m: Fixtures.Log) = m.copy(topics = m.topics.updated(2, Root))
    val late = EvmCodec.namehash(Root, "late")
    val addr = "0x" + "ab" * 20
    val rootLogs = Seq(
      Fixtures.mint(Root, "early", 100L, 0),
      Fixtures.note(Root, "~early", "x".getBytes("UTF-8"), 101L, 0),
      asRoot(Fixtures.mint(Root, "root", 200L, 0)),
      Fixtures.mint(Root, "same", 200L, 1),
      Fixtures.mint(Root, "late", 300L, 0),
      Fixtures.note(Root, "~k", "v".getBytes("UTF-8"), 301L, 0),
      Fixtures.fact(Root, "!f", "w".getBytes("UTF-8"), 302L, 0),
      Fixtures.gene(Root, addr, 303L, 0),
      Fixtures.transfer(addr, "0x" + "cd" * 20, "0", 304L, 0),
      Fixtures.mint(late, "leaf", 400L, 0),
      Fixtures.mint(EvmCodec.namehash(Root, "unminted"), "orphan", 401L, 0),
      asRoot(Fixtures.mint(Fixtures.OsHash, "again", 500L, 0)),
      Fixtures.mint(Root, "last", 501L, 0))
    val fixtures = Seq(1L, 2L, 3L).map(s => s"randomLogs seed $s" -> Fixtures.randomLogs(150, s)) ++
      Seq("golden + adversarial" -> (Fixtures.goldenLogs ++ Fixtures.adversarialLogs),
        "ROOT minted as a child" -> rootLogs)
    assert(Fixtures.toDF(spark, rootLogs).rdd.getNumPartitions > 1)
    val rnd = new Random(11)
    // without AQE an action is one job, not one per exchange; no result
    // depends on it
    val session = spark.newSession()
    session.conf.set("spark.sql.adaptive.enabled", "false")
    // a frame's rows as a local relation, so that a state does not carry
    // the plans of the steps before it
    def local(df: DataFrame) = session.createDataFrame(df.collect().toSeq.asJava, df.schema)
    val empty = local(EntriesFold.fold(Decode.decode(Fixtures.toDF(session, Seq.empty))))
    for ((name, logs) <- fixtures; normalize <- Seq(false, true)) {
      // three batches at random cut points
      val cuts = 0 +: rnd.shuffle((1 until logs.size).toList).take(2).sorted :+ logs.size
      var (collected, distributed) = (empty, empty)
      cuts.sliding(2).foreach { case Seq(from, until) =>
        val allEvents = Decode.decode(Fixtures.toDF(session, logs.take(until)))
        val newBatch = Decode.decode(Fixtures.toDF(session, logs.slice(from, until)))
        def step(state: DataFrame, cap: Int) = {
          val (affected, refreshed) = EntriesFold.incrementalDeltaImpl(allEvents, state,
            newBatch, normalize, cap)
          (affected, refreshed,
            state.join(affected, $"namehash" === $"k", "left_anti").unionByName(refreshed))
        }
        def isLocal(refreshed: DataFrame) =
          refreshed.queryExecution.analyzed.isInstanceOf[LocalRelation]
        val clue = s"$name, normalizeTransferIds = $normalize, after logs $from until $until"
        val (affected, collectedRefresh, c) = step(collected, 1 << 20)
        val (_, distributedRefresh, d) = step(distributed, 0)
        assert(collectedRefresh.schema == distributedRefresh.schema, clue)
        // the cap bounds the whole collected history, not each partition's
        // share of it: a cap of exactly the history's size collects, one
        // less does not
        val keys = affected.as[String].collect()
        val tkey = if (normalize) evm.uint_dec_to_bytes32($"id") else $"id"
        val historyRows = allEvents.where($"childhash".isin(keys: _*) ||
          $"parenthash".isin(keys: _*) || $"entry".isin(keys: _*) ||
          ($"eventType" === "Transfer" && tkey.isin(keys: _*))).count().toInt
        if (historyRows > 1) {
          assert(isLocal(step(collected, historyRows)._2), clue)
          assert(!isLocal(step(collected, historyRows - 1)._2), clue)
          assert(isLocal(collectedRefresh) && !isLocal(distributedRefresh), clue)
        }
        collected = local(c)
        distributed = local(d)
        EntriesAssert.assertSameEntries(collected, distributed, clue)
        EntriesAssert.assertSameEntries(collected, local(EntriesFold.fold(allEvents, normalize)),
          clue)
      }
    }
  }

  test("fullName resolution walks parent chain") {
    val resolved = EntriesFold.resolveFullNames(entries, maxDepth = 4)
    val alice = resolved.where($"label" === "alice").head()
    assert(alice.getAs[String]("fullName") == "alice.os")
  }
}
