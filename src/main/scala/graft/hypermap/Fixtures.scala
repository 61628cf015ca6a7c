package graft.hypermap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.functions.{EvmCodec, Keccak}

/** ABI-correct synthetic raw-log generator (FIXTURES.md §5).
  *
  * Encodes logs exactly as the EVM would emit them for the 7 hypermap
  * events (standard solidity ABI: indexed args as topics — dynamic indexed
  * args as their keccak — non-indexed dynamic bytes in the data section
  * with head offsets + length-prefixed padded tails). The golden fixture
  * reproduces the reference's only stated correctness contract:
  * blocks 27,430,000–27,434,999 containing exactly 14 events —
  * 8 Note, 4 Transfer, 2 Mint (docs/SANITY_CHECKS.md:9-11).
  */
object Fixtures {

  import Schemas.ContractAddress

  // ------------------------------------------------------------ ABI encode

  private def bareWord(hex: String): String = {
    val s = if (hex.startsWith("0x")) hex.substring(2) else hex
    require(s.length <= 64, s"word too long: $hex")
    "0" * (64 - s.length) + s
  }

  /** 0x-prefixed 32-byte topic word (ethers log topics carry the prefix). */
  private def word(hex: String): String = "0x" + bareWord(hex)

  private def intWord(v: Long): String = bareWord(java.lang.Long.toHexString(v))

  private def padRight(hex: String): String = {
    val rem = hex.length % 64
    if (rem == 0) hex else hex + "0" * (64 - rem)
  }

  /** Encode a data section of dynamic `bytes` args (head offsets + tails). */
  def encodeBytesArgs(args: Seq[Array[Byte]]): String = {
    val n = args.length
    val tails = new StringBuilder
    val heads = new StringBuilder
    var tailOffset = n * 32
    args.foreach { a =>
      heads.append(intWord(tailOffset))
      val body = padRight(Keccak.bytesToHex(a))
      tails.append(intWord(a.length)).append(body)
      tailOffset += 32 + body.length / 2
    }
    "0x" + heads.toString + tails.toString
  }

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  // ------------------------------------------------------------- log rows

  /** One raw log row matching Schemas.rawLogs field order. */
  case class Log(address: String, topics: Seq[String], data: String,
                 blockNumber: Long, blockHash: String, transactionHash: String,
                 transactionIndex: Int, logIndex: Int)

  private def txHash(seed: String): String = EvmCodec.keccakUtf8("tx:" + seed)
  private def blkHash(n: Long): String = EvmCodec.keccakUtf8("block:" + n)

  def mint(parent: String, label: String, block: Long, logIndex: Int,
           address: String = ContractAddress): Log = {
    val child = EvmCodec.namehash(parent, label)
    val labelBytes = utf8(label)
    Log(address,
      Seq(Decode.SigMint, word(parent), word(child),
        "0x" + Keccak.bytesToHex(Keccak.hash(labelBytes))),
      encodeBytesArgs(Seq(labelBytes)),
      block, blkHash(block), txHash(s"mint:$parent:$label:$block:$logIndex"),
      0, logIndex)
  }

  def factOrNote(kind: String, parent: String, label: String, data: Array[Byte],
                 block: Long, logIndex: Int): Log = {
    val sig = if (kind == "Fact") Decode.SigFact else Decode.SigNote
    val subhash = EvmCodec.namehash(parent, label)
    val labelBytes = utf8(label)
    Log(ContractAddress,
      Seq(sig, word(parent), word(subhash),
        "0x" + Keccak.bytesToHex(Keccak.hash(labelBytes))),
      encodeBytesArgs(Seq(labelBytes, data)),
      block, blkHash(block), txHash(s"$kind:$parent:$label:$block:$logIndex"),
      0, logIndex)
  }

  def note(parent: String, label: String, data: Array[Byte], block: Long,
           logIndex: Int): Log = factOrNote("Note", parent, label, data, block, logIndex)
  def fact(parent: String, label: String, data: Array[Byte], block: Long,
           logIndex: Int): Log = factOrNote("Fact", parent, label, data, block, logIndex)

  def transfer(from: String, to: String, idDec: String, block: Long,
               logIndex: Int): Log =
    Log(ContractAddress,
      Seq(Decode.SigTransfer, word(from), word(to),
        word(new java.math.BigInteger(idDec).toString(16))),
      "0x", block, blkHash(block), txHash(s"xfer:$from:$to:$idDec:$block:$logIndex"),
      0, logIndex)

  def gene(entry: String, geneAddr: String, block: Long, logIndex: Int): Log =
    Log(ContractAddress, Seq(Decode.SigGene, word(entry), word(geneAddr)),
      "0x", block, blkHash(block), txHash(s"gene:$entry:$block:$logIndex"), 0, logIndex)

  def zero(tba: String, block: Long, logIndex: Int): Log =
    Log(ContractAddress, Seq(Decode.SigZero, word(tba)),
      "0x", block, blkHash(block), txHash(s"zero:$tba:$block:$logIndex"), 0, logIndex)

  def upgraded(impl: String, block: Long, logIndex: Int): Log =
    Log(ContractAddress, Seq(Decode.SigUpgraded, word(impl)),
      "0x", block, blkHash(block), txHash(s"upg:$impl:$block:$logIndex"), 0, logIndex)

  // --------------------------------------------------------- golden range

  val Root: String = Schemas.RootHash
  val OsHash: String = EvmCodec.namehash(Root, "os")

  /** The sanity range 27,430,000–27,434,999: exactly 2 Mint, 8 Note,
    * 4 Transfer (docs/SANITY_CHECKS.md:9-27).
    */
  def goldenLogs: Seq[Log] = {
    val aHash = EvmCodec.namehash(OsHash, "alice")
    val addr1 = "0x" + "11" * 20
    val addr2 = "0x" + "22" * 20
    Seq(
      mint(Root, "os", 27430010L, 0),
      mint(OsHash, "alice", 27430500L, 1),
      note(aHash, "~ip", utf8("10.0.0.1"), 27431000L, 0),
      note(aHash, "~port", utf8("8080"), 27431000L, 1),
      note(aHash, "~ip", utf8("10.0.0.2"), 27431500L, 0), // last-writer-wins
      note(OsHash, "~net-key", Keccak.hexToBytes("0x" + "ab" * 32), 27432000L, 0),
      note(OsHash, "~routers", utf8("r1,r2"), 27432200L, 3),
      note(aHash, "~bio", utf8("hello world"), 27433000L, 0),
      note(aHash, "~avatar", utf8("ipfs://Qm123"), 27433100L, 1),
      note(aHash, "~website", utf8("https://example.org"), 27434000L, 0),
      transfer("0x" + "00" * 20, addr1, new java.math.BigInteger(aHash.substring(2), 16).toString, 27431200L, 0),
      transfer(addr1, addr2, new java.math.BigInteger(aHash.substring(2), 16).toString, 27433500L, 0),
      transfer("0x" + "00" * 20, addr1, new java.math.BigInteger(OsHash.substring(2), 16).toString, 27430800L, 0),
      transfer(addr1, addr2, "12345", 27434500L, 0))
  }

  /** Adversarial rows the decoder must silently skip or tolerate. */
  def adversarialLogs: Seq[Log] = Seq(
    // foreign contract address
    mint(Root, "evil", 27430100L, 7, address = "0x" + "99" * 20),
    // unknown topic0
    Log(ContractAddress, Seq(EvmCodec.keccakUtf8("Bogus(bytes32)"), word(Root)),
      "0x", 27430101L, blkHash(27430101L), txHash("bogus"), 0, 0),
    // wrong topics arity for Mint (missing labelhash topic)
    Log(ContractAddress, Seq(Decode.SigMint, word(Root), word(OsHash)),
      encodeBytesArgs(Seq(utf8("x"))), 27430102L, blkHash(27430102L), txHash("arity"), 0, 0),
    // malformed ABI data (offset past end)
    Log(ContractAddress,
      Seq(Decode.SigMint, word(Root), word(EvmCodec.namehash(Root, "bad")),
        "0x" + "cd" * 32),
      "0x" + "00" * 31 + "ff", 27430103L, blkHash(27430103L), txHash("malformed"), 0, 0),
    // invalid UTF-8 label bytes (lone continuation byte) → whole log skipped
    Log(ContractAddress,
      Seq(Decode.SigMint, word(Root), word(EvmCodec.namehash(Root, "ghost")),
        "0x" + "ef" * 32),
      encodeBytesArgs(Seq(Array(0x80.toByte))), 27430104L, blkHash(27430104L),
      txHash("badutf8"), 0, 0))

  /** Deterministic bulk fixture: n ABI-correct logs forming a realistic
    * power-law namespace (a few parents own most children — the skew shape
    * the fold must survive). Mix ≈ 45% Mint, 35% Note, 10% Fact, 8%
    * Transfer, 2% Gene. Used for decode/fold scale benchmarks (PERF.md).
    */
  def randomLogs(n: Int, seed: Long = 42L, idOffset: Long = 0L): Seq[Log] = {
    val rnd = new scala.util.Random(seed)
    val minted = scala.collection.mutable.ArrayBuffer[String](Root)
    // idOffset lets chunked callers generate disjoint label and block
    // spaces per chunk so insertIfAbsent never dedups across chunks; ×8
    // clears a chunk's WORST-CASE block advance ((n/7)·50 ≈ 7.15n) — ×4
    // only covered the expected advance (~3.6n), leaving overlap
    // statistically possible for unlucky seeds.
    var block = 27300000L + idOffset * 8
    (0 until n).map { i =>
      if (i % 7 == 0) block += rnd.nextInt(50) + 1
      val logIndex = i % 7
      val roll = rnd.nextInt(100)
      // power-law parent pick: bias toward early (hub) entries
      def pickEntry(): String =
        minted(math.min(minted.length - 1,
          (math.pow(rnd.nextDouble(), 3.0) * minted.length).toInt))
      if (roll < 45 || minted.length < 3) {
        val parent = pickEntry()
        val label = s"n${idOffset + i}"
        val log = mint(parent, label, block, logIndex)
        minted += EvmCodec.namehash(parent, label)
        log
      } else if (roll < 80) {
        note(pickEntry(), s"~k${rnd.nextInt(20)}",
          utf8(s"v${rnd.nextInt(1000)}"), block, logIndex)
      } else if (roll < 90) {
        fact(pickEntry(), s"!f${rnd.nextInt(10)}",
          utf8(s"d${rnd.nextInt(1000)}"), block, logIndex)
      } else if (roll < 98) {
        val id = new java.math.BigInteger(pickEntry().substring(2), 16).toString
        transfer("0x" + "%02x".format(rnd.nextInt(256)) * 20,
          "0x" + "%02x".format(rnd.nextInt(256)) * 20, id, block, logIndex)
      } else {
        gene(pickEntry(), "0x" + "ab" * 20, block, logIndex)
      }
    }
  }

  def toDF(spark: SparkSession, logs: Seq[Log]): DataFrame = {
    val rows = logs.map(l => Row(l.address, l.topics, l.data, l.blockNumber,
      l.blockHash, l.transactionHash, l.transactionIndex, l.logIndex))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 4), Schemas.rawLogs)
  }
}
