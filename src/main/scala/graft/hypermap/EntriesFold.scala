package graft.hypermap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._
import graft.functions.evm

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
  * so Catalyst reuses the exchange. No driver-side iteration.
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
    * (`Sinks.upsertCommitted`), an O(touched) write. Safe as an upsert
    * because the event log is append-only: a key once folded to an entry
    * always refolds to one (refreshed never "deletes"). Previous entries
    * with the affected keys anti-joined away, unioned with `refreshed`,
    * equal the full rebuild (HypermapSpec).
    *
    * `previousEntries` is only probed for the ROOT row, so a caller may
    * pass a point read of it (Tail passes `Sinks.lookupCommitted`).
    *
    * Cost contract, per call, run eagerly: one job collects the batch's
    * keys to the driver; at most one job probes `previousEntries` for
    * ROOT (only when the batch references ROOT); one job scans
    * `allEvents` once, with a hash-set filter on the keys, and collects
    * the touched keys' history. Driver memory is O(batch keys + history
    * of touched keys). Both returned frames are local plans over that
    * collected data: they hold no cached blocks, and each action on
    * `refreshed` runs only the fold's own jobs over the history, never
    * another scan of `allEvents`. That is the tail shape; a batch that
    * touches most keys collects most of the history, so a backfill
    * belongs to the batch path (`EtlJob.run`).
    */
  def incrementalDelta(allEvents: DataFrame, previousEntries: DataFrame,
                       newBatch: DataFrame,
                       normalizeTransferIds: Boolean = false): (DataFrame, DataFrame) = {
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
    val relevant = spark.createDataFrame(history.collect().toSeq.asJava, allEvents.schema)
    val refreshed = fold(relevant, normalizeTransferIds)
      .where($"namehash".isin(affectedKeys: _*))
    (affectedKeys.toDF("k"), refreshed)
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
