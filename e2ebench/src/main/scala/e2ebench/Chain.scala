package e2ebench

import scala.collection.mutable

import graft.hypermap.{Decode, Fixtures, Schemas}

/** A seeded mock chain and the counts the engine must derive from it,
  * computed without Spark.
  */
object Chain {

  /** `logs` cut into consecutive batches of `blocksPer` whole blocks, so
    * no block is split between two batches (the poll loop resumes at the
    * block after the last one it covered).
    */
  def batches(logs: IndexedSeq[Fixtures.Log], blocksPer: Int): IndexedSeq[IndexedSeq[Fixtures.Log]] = {
    val blocks = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Fixtures.Log]]
    logs.foreach { l =>
      if (blocks.isEmpty || blocks.last.head.blockNumber != l.blockNumber)
        blocks += mutable.ArrayBuffer(l)
      else blocks.last += l
    }
    blocks.grouped(blocksPer).map(_.flatten.toIndexedSeq).toIndexedSeq
  }

  /** A 429 on every fourth `eth_getLogs` request by ordinal, at a seeded
    * offset: every backfill retries, and no chunk is refused twice in a
    * row, so none runs out of retries.
    */
  def rateLimitPlan(seed: Long): Int => Boolean =
    i => java.lang.Math.floorMod(i + seed, 4L) == 0L

  private val bySig: Map[String, String] = Map(
    Decode.SigMint -> "Mint", Decode.SigFact -> "Fact", Decode.SigNote -> "Note",
    Decode.SigGene -> "Gene", Decode.SigZero -> "Zero", Decode.SigTransfer -> "Transfer",
    Decode.SigUpgraded -> "Upgraded")

  /** Event type of a well-formed log (right contract, known topic0 and
    * topic count), or None. The generators only emit well-formed data
    * sections, so these are the decoder's counts for their logs.
    */
  def eventType(l: Fixtures.Log): Option[String] =
    if (!l.address.equalsIgnoreCase(Schemas.ContractAddress)) None
    else l.topics.headOption.flatMap(bySig.get)
      .filter(t => Decode.topicArity(t) == l.topics.size)

  def typeCounts(logs: Seq[Fixtures.Log]): Map[String, Long] =
    logs.flatMap(eventType).groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }

  /** Entries the fold creates: every minted child, plus every non-root
    * parent a Mint names (a placeholder when it was never minted).
    */
  def entryCount(logs: Seq[Fixtures.Log]): Long = {
    val mints = logs.filter(l => eventType(l).contains("Mint"))
    (mints.map(_.topics(2)) ++ mints.map(_.topics(1)).filter(_ != Schemas.RootHash))
      .distinct.size.toLong
  }

  /** Namehashes minted by `logs`. */
  def minted(logs: Seq[Fixtures.Log]): Seq[String] =
    logs.filter(l => eventType(l).contains("Mint")).map(_.topics(2)).distinct
}
