package graft.hypermap

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._
import graft.functions.{EvmCodec, evm}

/** §2.4: the sequential per-event Mongo fold
  * (/root/reference/src/lib/services/mongodb.ts:113-270) re-expressed as a
  * set of per-key aggregations. Deterministic because every transition is
  * keyed and ordered by the total event order `(blockNumber, logIndex)` —
  * never arrival order.
  *
  * Sequential-semantics subtleties reproduced faithfully:
  *   - E1/E3: an entry's creation attrs come from its FIRST creating event:
  *     either a Mint-as-child (label, parentHash=parenthash) or a
  *     placeholder (referenced as a parent before being minted:
  *     label='[unknown]', parentHash=ROOT, mongodb.ts:149-163). Within one
  *     Mint the placeholder is written BEFORE the child upsert, so the
  *     placeholder wins ties → ordering key (block, logIndex, prio) with
  *     prio 0 for placeholders, 1 for child creates. A later real Mint does
  *     NOT overwrite a placeholder's label ($setOnInsert skipped on
  *     existing docs, mongodb.ts:166-183).
  *   - E2: children $addToSet applies iff the parent entry exists at that
  *     moment — always true for non-ROOT parents (the placeholder was just
  *     ensured), never true for ROOT unless ROOT itself was minted earlier
  *     (mongodb.ts:147-163,185-194).
  *   - E4/E5: Fact/Note on an entry that does not exist YET (in event
  *     order) is dropped with a warning (mongodb.ts:198-217).
  *   - E6: Gene is updateOne without upsert → silent no-op unless the entry
  *     exists at that moment (mongodb.ts:242-253).
  *   - E7: Transfer matches `namehash = id` where id is the uint256 DECIMAL
  *     string — which never equals a 0x-hex namehash, so faithful mode
  *     never sets owner (mongodb.ts:256-270 admits the assumption).
  *     normalizeTransferIds=true converts id → bytes32 hex first (the
  *     "correct" variant, flagged as an extension).
  *   - E8: lastUpdateBlock = max block over APPLIED transitions only.
  *
  * Scale: every aggregation/join here keys on namehash (high-cardinality) —
  * one shuffle per stream, merged by a final multi-way join on the same key
  * so Catalyst reuses the exchange. No driver-side iteration in `fold`;
  * the live tail's small collected histories are folded on the driver
  * instead, by the same streams translated to plain Scala ([[foldLocal]]).
  */
object EntriesFold {

  private val ROOT = Schemas.RootHash

  def fold(events: DataFrame, normalizeTransferIds: Boolean = false): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._

    val ord = struct($"blockNumber", $"logIndex")

    val mints = events.where($"eventType" === "Mint")
      .select($"parenthash", $"childhash", $"label", $"blockNumber", $"logIndex")

    // ---- E1 + E3: creation stream (first writer wins, placeholder-first) --
    val childCreates = mints.select(
      $"childhash".as("namehash"), $"label", $"parenthash".as("parentHash"),
      $"blockNumber", $"logIndex", lit(1).as("prio"))
    val placeholders = mints.where($"parenthash" =!= ROOT).select(
      $"parenthash".as("namehash"), lit("[unknown]").as("label"),
      lit(ROOT).as("parentHash"), $"blockNumber", $"logIndex", lit(0).as("prio"))

    val creations = childCreates.unionByName(placeholders)
      .groupBy($"namehash")
      .agg(min_by(struct($"label", $"parentHash", $"blockNumber", $"logIndex", $"prio"),
        struct($"blockNumber", $"logIndex", $"prio")).as("c"))
      .select($"namehash", $"c.label".as("label"), $"c.parentHash".as("parentHash"),
        $"c.blockNumber".as("creationBlock"),
        struct($"c.blockNumber".as("blockNumber"), $"c.logIndex".as("logIndex"))
          .as("creationOrd"))

    // creation order key per namehash, for sequential-existence checks
    val creationKeys = creations.select($"namehash".as("k_namehash"), $"creationOrd")

    // ---- E2: children sets ----------------------------------------------
    val childrenNonRoot = mints.where($"parenthash" =!= ROOT)
      .groupBy($"parenthash".as("namehash"))
      .agg(collect_set($"childhash").as("children"),
        max($"blockNumber").as("childBump"))
    // ROOT parent: applies only if ROOT exists (was minted as a child) before
    // the Mint — a degenerate case; handled via a tiny broadcast join.
    val rootCreation = creationKeys.where($"k_namehash" === ROOT)
    val childrenRoot = mints.where($"parenthash" === ROOT)
      .join(broadcast(rootCreation), $"parenthash" === $"k_namehash")
      .where(struct($"blockNumber", $"logIndex") > $"creationOrd")
      .groupBy($"parenthash".as("namehash"))
      .agg(collect_set($"childhash").as("children"),
        max($"blockNumber").as("childBump"))
    val children = childrenNonRoot.unionByName(childrenRoot)

    // ---- E4/E5: facts & notes maps (existence-checked, last writer wins) -
    def lwwMap(evType: String): DataFrame =
      events.where($"eventType" === evType)
        .join(creationKeys, $"parenthash" === $"k_namehash", "inner")
        .where(ord > $"creationOrd") // entry must exist before the event
        .groupBy($"parenthash", $"label")
        .agg(max_by($"data", ord).as("v"), max($"blockNumber").as("bump"))
        .groupBy($"parenthash")
        .agg(map_from_entries(collect_list(struct($"label", $"v"))).as("m"),
          max($"bump").as("bump"))
        .select($"parenthash".as("namehash"), $"m", $"bump")

    val facts = lwwMap("Fact").withColumnsRenamed(Map("m" -> "facts", "bump" -> "factBump"))
    val notes = lwwMap("Note").withColumnsRenamed(Map("m" -> "notes", "bump" -> "noteBump"))

    // ---- E6: gene (no upsert → existence-checked, last writer wins) ------
    val genes = events.where($"eventType" === "Gene")
      .join(creationKeys, $"entry" === $"k_namehash", "inner")
      .where(ord > $"creationOrd")
      .groupBy($"entry".as("namehash"))
      .agg(max_by($"gene", ord).as("gene"), max($"blockNumber").as("geneBump"))

    // ---- E7: owner from Transfer ----------------------------------------
    val transferKey =
      if (normalizeTransferIds) evm.uint_dec_to_bytes32($"id") else $"id"
    val owners = events.where($"eventType" === "Transfer")
      .withColumn("tkey", transferKey)
      .join(creationKeys, $"tkey" === $"k_namehash", "inner")
      .where(ord > $"creationOrd")
      .groupBy($"tkey".as("namehash"))
      .agg(max_by($"to", ord).as("owner"), max($"blockNumber").as("ownerBump"))

    // ---- assemble + E8 ---------------------------------------------------
    // every Mint of an existing childhash also bumps lastUpdateBlock.
    // (The parent-side bump is already childBump — same filter, same
    // grouping, same max — so no separate placeholder-bump stream.)
    val mintBumps = mints.groupBy($"childhash".as("namehash"))
      .agg(max($"blockNumber").as("mintBump"))

    creations
      .join(children, Seq("namehash"), "left")
      .join(facts, Seq("namehash"), "left")
      .join(notes, Seq("namehash"), "left")
      .join(genes, Seq("namehash"), "left")
      .join(owners, Seq("namehash"), "left")
      .join(mintBumps, Seq("namehash"), "left")
      .select(
        $"namehash", $"label", $"parentHash",
        lit(null).cast("string").as("fullName"), // never populated (types/index.ts:98)
        $"owner", $"gene",
        coalesce($"notes", map()).as("notes"),
        coalesce($"facts", map()).as("facts"),
        coalesce($"children", array()).as("children"),
        $"creationBlock",
        greatest(
          $"creationBlock",
          coalesce($"childBump", lit(Long.MinValue)),
          coalesce($"factBump", lit(Long.MinValue)),
          coalesce($"noteBump", lit(Long.MinValue)),
          coalesce($"geneBump", lit(Long.MinValue)),
          coalesce($"ownerBump", lit(Long.MinValue)),
          coalesce($"mintBump", lit(Long.MinValue))).as("lastUpdateBlock"))
  }

  /** Incremental maintenance: recompute only the entries a new event batch
    * touches. The fold restricted to events referencing an affected key is
    * exact for that key (creation, children, facts/notes existence checks,
    * gene, transfers all join on the key itself), so:
    *   affected  = keys referenced by the batch;
    *   relevant  = full event history filtered to affected keys;
    *   refreshed = fold(relevant) limited to affected keys.
    * Returns (affected keys as a one-column `k` frame, refreshed entry
    * rows for those keys). The caller upserts ONLY the refreshed rows
    * (`Sinks.upsertCommitted`). Safe as an upsert because the event log is
    * append-only: a key once folded to an entry always refolds to one
    * (refreshed never "deletes"). Previous entries with the affected keys
    * anti-joined away, unioned with `refreshed`, equal the full rebuild
    * (HypermapSpec).
    *
    * `previousEntries` is only probed for the ROOT row, so a caller may
    * pass a point read of it (Tail passes `Sinks.lookupCommitted`).
    *
    * Cost contract, per call, run eagerly: one job collects the batch's
    * keys; at most one probes `previousEntries` for ROOT (only when the
    * batch references it); one job scans `allEvents` with a hash-set
    * filter on the keys and collects their history, holding at most
    * 2 × [[HistoryCap]] + 1 rows on the driver. At or under the cap the
    * call runs ≤ 3 jobs and plans no fold: the collected rows are folded
    * on the driver ([[foldLocal]]) and `refreshed` is a local relation of
    * the result in the caller's session, with `fold`'s schema: driver
    * memory O(batch keys + touched history), no blocks held. Over it (a
    * spread batch, e.g. a restart after an outage) `refreshed` is `fold`
    * over the filtered scan, lazy and distributed: the call runs ≤ 3 jobs
    * and the caller's action runs the fold. A batch touching most keys
    * refolds most of the history either way: backfill is `EtlJob.run`.
    */
  def incrementalDelta(allEvents: DataFrame, previousEntries: DataFrame,
                       newBatch: DataFrame,
                       normalizeTransferIds: Boolean = false): (DataFrame, DataFrame) =
    incrementalDeltaImpl(allEvents, previousEntries, newBatch, normalizeTransferIds,
      HistoryCap)

  /** Bounds driver memory, not time: collected history costs ~0.95 KB of
    * heap a row, so the cap is ~95 MB, about 100× a tail batch's history.
    * How much driver memory the distributed route saves past it is not
    * measured.
    */
  private val HistoryCap = 100000

  private[graft] def incrementalDeltaImpl(
      allEvents: DataFrame, previousEntries: DataFrame, newBatch: DataFrame,
      normalizeTransferIds: Boolean, historyCap: Int): (DataFrame, DataFrame) = {
    val spark = allEvents.sparkSession
    import spark.implicits._
    val tkey =
      if (normalizeTransferIds) evm.uint_dec_to_bytes32($"id") else $"id"
    val refs = newBatch.select($"childhash", $"parenthash", $"entry",
      when($"eventType" === "Transfer", tkey)).collect()
    val keys = refs.flatMap(r => (0 until 4).map(r.getString)).filter(_ != null).distinct
    // ROOT is normally excluded (it has no entry, and including it would
    // drag every top-level Mint into `relevant` each batch). But if a ROOT
    // entry EXISTS (degenerate minted-as-child case the fold supports), it
    // must refresh when referenced, or its children set goes stale.
    val rootHasEntry = keys.contains(ROOT) &&
      (refs.exists(_.getString(0) == ROOT) ||
        !previousEntries.where($"namehash" === ROOT).isEmpty)
    val affectedKeys = keys.filter(k => rootHasEntry || k != ROOT).toSeq
    val history = allEvents.where(
      $"childhash".isin(affectedKeys: _*) || $"parenthash".isin(affectedKeys: _*) ||
        $"entry".isin(affectedKeys: _*) ||
        ($"eventType" === "Transfer" && tkey.isin(affectedKeys: _*)))
    // one job: each partition ships at most cap + 1 rows, and the driver
    // stops keeping them once the total passes the cap, so it holds at
    // most 2 × cap + 1 (a `limit` would plan an incremental take instead,
    // a job per round of partitions)
    val collected = scala.collection.mutable.ArrayBuffer.empty[Row]
    spark.sparkContext.runJob(history.rdd.mapPartitions(_.take(historyCap + 1)),
      (it: Iterator[Row]) => it.toArray,
      (_: Int, part: Array[Row]) => if (collected.length <= historyCap) collected ++= part)
    val refreshed =
      if (collected.length > historyCap)
        fold(history, normalizeTransferIds).where($"namehash".isin(affectedKeys: _*))
      else spark.createDataFrame(foldLocal(collected.toSeq, allEvents.schema,
        affectedKeys.toSet, normalizeTransferIds).asJava, FoldSchema)
    (affectedKeys.toDF("k"), refreshed)
  }

  /** The schema `fold` returns (HypermapSpec checks the two agree). */
  private val FoldSchema = StructType(Seq(
    StructField("namehash", StringType), StructField("label", StringType),
    StructField("parentHash", StringType), StructField("fullName", StringType),
    StructField("owner", StringType), StructField("gene", StringType),
    StructField("notes", MapType(StringType, StringType), nullable = false),
    StructField("facts", MapType(StringType, StringType), nullable = false),
    StructField("children", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("creationBlock", LongType),
    StructField("lastUpdateBlock", LongType, nullable = false)))

  /** [[fold]] over driver-local event rows, limited to `keys`, stream by
    * stream (E1–E8) and with its null rules: a row whose join or group key
    * is null joins nothing, `children` drops null childhashes, and an
    * existence check is strict, in `(blockNumber, logIndex)` order. Exact
    * for a key when `events` holds every event referencing it, which is
    * what the history collect of [[incrementalDeltaImpl]] gathers.
    */
  private def foldLocal(events: Seq[Row], schema: StructType, keys: Set[String],
                        normalizeTransferIds: Boolean): Seq[Row] = {
    import scala.math.Ordering.Implicits._
    val Seq(tpe, bn, li, parent, child, label, data, entry, gene, to, id) =
      Seq("eventType", "blockNumber", "logIndex", "parenthash", "childhash", "label",
        "data", "entry", "gene", "to", "id").map(schema.fieldIndex)
    def ord(r: Row) = (r.getLong(bn), r.getInt(li))
    def key(r: Row, i: Int) = Option(r.getString(i)).filter(keys)
    val byType = events.groupBy(r => r.getString(tpe)).withDefaultValue(Seq.empty)
    val mints = byType("Mint")

    // ---- E1 + E3: creation stream (first writer wins, placeholder-first) --
    // namehash -> (label, parentHash, creation order, prio)
    val creations = (mints.flatMap(m => key(m, child).map(k =>
        k -> (m.getString(label), m.getString(parent), ord(m), 1))) ++
      mints.filter(_.getString(parent) != ROOT).flatMap(m => key(m, parent).map(k =>
        k -> ("[unknown]", ROOT, ord(m), 0))))
      .groupBy(_._1).map { case (k, cs) => k -> cs.map(_._2).minBy(c => (c._3, c._4)) }
    // the entry exists, in event order, before `r`
    def existsBefore(r: Row, k: String) = creations.get(k).exists(c => ord(r) > c._3)

    // ---- E2: children sets (ROOT's only once ROOT exists) ---------------
    val children = mints.flatMap(m => key(m, parent).map(_ -> m))
      .filter { case (k, m) => k != ROOT || existsBefore(m, k) }
      .groupBy(_._1).map { case (k, kms) =>
        val ms = kms.map(_._2)
        k -> (ms.flatMap(m => Option(m.getString(child))).distinct, ms.map(_.getLong(bn)).max)
      }

    // ---- E4-E7: existence-checked, last writer wins ---------------------
    // key -> (applied rows, bump)
    def lww(rs: Seq[(String, Row)]) = rs.filter { case (k, r) => existsBefore(r, k) }
      .groupBy(_._1).map { case (k, krs) =>
        val applied = krs.map(_._2)
        k -> (applied, applied.map(_.getLong(bn)).max)
      }
    def lwwMap(evType: String) = lww(byType(evType).flatMap(r => key(r, parent).map(_ -> r)))
      .map { case (k, (rs, bump)) =>
        k -> (rs.groupBy(_.getString(label)).map { case (l, ls) =>
          l -> ls.maxBy(ord).getString(data) }, bump)
      }
    def lastOf(rs: Seq[(String, Row)], value: Int) = lww(rs)
      .map { case (k, (applied, bump)) => k -> (applied.maxBy(ord).getString(value), bump) }
    val facts = lwwMap("Fact")
    val notes = lwwMap("Note")
    val genes = lastOf(byType("Gene").flatMap(r => key(r, entry).map(_ -> r)), gene)
    val owners = lastOf(byType("Transfer").flatMap { r =>
      val tkey = if (normalizeTransferIds) EvmCodec.uintDecToBytes32(r.getString(id))
        else r.getString(id)
      Option(tkey).filter(keys).map(_ -> r)
    }, to)

    // ---- assemble + E8 --------------------------------------------------
    val mintBumps = mints.flatMap(m => key(m, child).map(_ -> m.getLong(bn)))
      .groupBy(_._1).map { case (k, bs) => k -> bs.map(_._2).max }
    creations.toSeq.map { case (k, (lbl, parentHash, (block, _), _)) =>
      val bumps = Seq(children.get(k).map(_._2), facts.get(k).map(_._2),
        notes.get(k).map(_._2), genes.get(k).map(_._2), owners.get(k).map(_._2),
        mintBumps.get(k)).flatten
      Row(k, lbl, parentHash, null, owners.get(k).map(_._1).orNull,
        genes.get(k).map(_._1).orNull,
        notes.get(k).fold(Map.empty[String, String])(_._1),
        facts.get(k).fold(Map.empty[String, String])(_._1),
        children.get(k).fold(Seq.empty[String])(_._1),
        block, (block +: bumps).max)
    }
  }

  /** E10 extension (off by default in parity mode): resolve fullName by
    * iterating parent links label.parent.grandparent…, bounded depth.
    * Iterative self-join — each step is one broadcast-able join on the
    * parent hash; terminates at ROOT or maxDepth.
    */
  def resolveFullNames(entries: DataFrame, maxDepth: Int = 16): DataFrame = {
    val spark = entries.sparkSession
    import spark.implicits._
    var acc = entries.select($"namehash", $"label".as("fullName"),
      $"parentHash".as("cursor"))
    val parents = entries.select($"namehash".as("p_namehash"),
      $"label".as("p_label"), $"parentHash".as("p_parent"))
    var depth = 0
    while (depth < maxDepth) {
      acc = acc.join(parents, $"cursor" === $"p_namehash", "left")
        .select($"namehash",
          when($"p_label".isNotNull && $"p_label" =!= "[unknown]",
            concat($"fullName", lit("."), $"p_label")).otherwise($"fullName")
            .as("fullName"),
          coalesce($"p_parent", lit(ROOT)).as("cursor"))
      depth += 1
    }
    entries.drop("fullName")
      .join(acc.select($"namehash", $"fullName"), Seq("namehash"), "left")
  }
}
