package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.{t => tbl}

/** End-to-end corpus cleaning — the composition every LLM training-data
  * pipeline runs: normalize → language gate → quality gate → exact dedup →
  * keep. Each stage exists as a standalone operator (TextAnalysis, Dedup);
  * this operator proves they COMPOSE into one declarative plan: a single
  * scan, narrow per-row expressions for every gate, and one keyed
  * shuffle (the dedup key) plus the presentation sort — at 100 TB the
  * pipeline runs at scan speed plus one keyed exchange, instead of one
  * pass per stage.
  *
  * Mirrors the reference's multi-stage shape (decode → validity filter →
  * idempotent dedup, SURVEY.md §2.2 T1/T6 + §2.1 S5) lifted to the
  * training-data domain.
  */
object Pipeline {

  type Q = (SparkSession, String) => DataFrame

  private val stopSqlList = TextAnalysis.stopSqlList

  /** Per-doc stage columns, all narrow: token stats, stopword ratio
    * (language gate), normalized text, and the dedup key — md5 of the
    * 60-char normalized prefix (prefix fingerprinting: catches
    * boilerplate/near-identical openings the way URL-prefix dedup does,
    * while staying exact and oracle-checkable).
    */
  private def staged(docs: DataFrame): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    docs
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("stop_ratio",
        size(expr(s"filter(toks, t -> t IN ($stopSqlList))")).cast("double") /
          col("n_toks").cast("double"))
      .withColumn("norm_key", md5(substring(norm, 1, 60)))
      .withColumn("norm_len", length(norm).cast("long"))
      .withColumn("lang_ok", col("stop_ratio") >= 0.02)
      .withColumn("qual_ok", col("lang_ok") && col("n_toks") >= 20L)
  }
  /** The staged corpus as a per-snapshot parquet artifact: staging is
    * the single most-recomputed sub-plan of this family (corpus_clean,
    * funnel, and pretrain — TWICE inside pretrain's plan, once per
    * consumer of `survivors`), and its stop-ratio filter is a
    * higher-order lambda, i.e. CodegenFallback/interpreted, so each
    * recompute pays two regex passes + an interpreted token filter over
    * every document (r15 sf10 probe: ~14 s per staging pass at 500k
    * docs). A real pipeline materializes the staged table once per
    * ingest and runs every downstream read off it — this is that table.
    * `toks` is dropped before landing (derivable, doubles the artifact).
    * Values roundtrip parquet exactly: md5 strings, integer lengths, and
    * stop_ratio an exact integer division.
    */
  private def stagedTable(s: SparkSession, d: String): DataFrame = {
    val fp = graft.Artifacts.fingerprint(s"$d/documents.parquet")
    graft.Artifacts.table(s, "pl_staged", s"$d|$fp")(
      staged(tbl(s, d, "documents")).drop("toks"))
  }

  private val stagedSql: String =
    s"""SELECT doc_id, lang, text,
       |  len(string_split(text, ' ')) AS n_toks,
       |  CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stopSqlList))) AS DOUBLE)
       |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
       |  md5(substr(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), 1, 60)) AS norm_key,
       |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
       |FROM documents""".stripMargin

  /** pl_corpus_clean — the surviving documents: pass both gates, then
    * keep the min doc_id per dedup key. One scan, one shuffle.
    */
  val corpusClean: Q = (s, d) => {
    val st = stagedTable(s, d).where(col("qual_ok"))
    st.withColumn("rn", row_number().over(
        Window.partitionBy(col("norm_key")).orderBy(col("doc_id"))))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("n_toks"), col("norm_len"))
      .orderBy(col("doc_id"))
  }
  val corpusCleanSql: String =
    s"""SELECT doc_id, n_toks, norm_len
       |FROM ($stagedSql)
       |WHERE stop_ratio >= 0.02 AND n_toks >= 20
       |QUALIFY row_number() OVER (PARTITION BY norm_key ORDER BY doc_id) = 1
       |ORDER BY doc_id""".stripMargin

  /** pl_funnel — pipeline observability in ONE aggregate pass: how many
    * docs enter, survive the language gate, survive the quality gate,
    * and remain after dedup. Conditional aggregation means the funnel
    * costs one scan regardless of stage count.
    */
  val funnel: Q = (s, d) =>
    stagedTable(s, d).agg(
      count(lit(1)).as("n_total"),
      count(when(col("lang_ok"), 1)).as("n_lang"),
      count(when(col("qual_ok"), 1)).as("n_quality"),
      countDistinct(when(col("qual_ok"), col("norm_key"))).as("n_kept"))
  val funnelSql: String =
    s"""SELECT count(*) AS n_total,
       |  count(*) FILTER (stop_ratio >= 0.02) AS n_lang,
       |  count(*) FILTER (stop_ratio >= 0.02 AND n_toks >= 20) AS n_quality,
       |  count(DISTINCT CASE WHEN stop_ratio >= 0.02 AND n_toks >= 20
       |                      THEN norm_key END) AS n_kept
       |FROM ($stagedSql)""".stripMargin

  /** pl_pretrain — the WHOLE pre-training data pipeline in one declarative
    * plan: quality/language gates → prefix-fingerprint dedup →
    * decontamination (drop docs sharing a word-3-gram with the held-out
    * eval slice, and the eval docs themselves) → deterministic per-lang
    * mixture sampling → sequence packing. What lands in the optimizer is
    * one corpus scan for the gates + dedup (narrow expressions + one keyed
    * window), one explode-side gram pass for decontamination whose eval
    * side BROADCASTS, and one per-lang window for packing — no stage
    * materializes an intermediate table.
    *
    * At 100 TB: the gram anti-join is a broadcast bloom in practice, the
    * mixture gate is a pure per-row hash predicate, and packing is
    * SHARDED — the window partitions by (lang, doc_id div 2048), so each
    * 2048-doc shard packs independently and the sort parallelizes with
    * the cluster instead of serializing each language's whole doc stream
    * through one partition (the round-9 sf10 finding: the per-lang
    * window was the largest single-node term at 8.0×/decade). The cost
    * is bounded waste: the LAST pack of each (lang, shard) may be
    * under-filled — ≤1 short pack per shard boundary, the same contract
    * as ly_compaction's per-partition bins — so a pack is globally
    * identified by (lang, pack_shard, seq_id). Nothing in the plan is a
    * global sort except the presentation ORDER BY.
    */
  val pretrain: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
    // gates + prefix dedup (same stages as pl_corpus_clean, keeping text)
    val survivors = stagedTable(s, d).where(col("qual_ok"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("norm_key")).orderBy(col("doc_id"))))
      .where(col("rn") === 1)
    // decontamination: eval slice out, plus anything sharing a 3-gram
    val evalGrams = Dedup.docNGrams(docs.where(col("doc_id") % 97 === 0), 3)
      .select(col("gram")).distinct()
    val contaminated = Dedup.docNGrams(
        survivors.select(col("doc_id"), col("text")), 3)
      .join(broadcast(evalGrams), Seq("gram"))
      .select(col("doc_id")).distinct()
    val clean = survivors
      .where(col("doc_id") % 97 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
    // deterministic domain mixture — Sampling.mixtureThr IS sp_mixture's
    val mixed = clean.where(
      md5(concat(lit("mix:"), col("doc_id"))) < Sampling.mixtureThr)
    // sharded sequence packing: per-(lang, shard) token cumsum → 512-token seqs
    val w = Window.partitionBy(col("lang"), col("pack_shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    mixed
      .withColumn("pack_shard", expr("doc_id div 2048"))
      .withColumn("cum_prev", coalesce(sum(col("n_toks")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_toks"), col("pack_shard"),
        expr("cum_prev div 512").as("seq_id"))
      .orderBy(col("doc_id"))
  }
  val pretrainSql: String =
    s"""WITH st AS ($stagedSql),
       |sv AS (
       |  SELECT doc_id, lang, text, n_toks FROM st
       |  WHERE stop_ratio >= 0.02 AND n_toks >= 20
       |  QUALIFY row_number() OVER (PARTITION BY norm_key ORDER BY doc_id) = 1),
       |ev AS (
       |  SELECT DISTINCT ${Dedup.ngramUnnestSql(3)} AS gram
       |  FROM documents WHERE doc_id % 97 = 0 AND ${Dedup.ngramGuardSql(3)}),
       |bad AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id, ${Dedup.ngramUnnestSql(3)} AS gram
       |    FROM sv WHERE ${Dedup.ngramGuardSql(3)}) g
       |  JOIN ev USING (gram)),
       |mixed AS (
       |  SELECT doc_id, lang, n_toks FROM sv
       |  WHERE doc_id % 97 != 0
       |    AND doc_id NOT IN (SELECT doc_id FROM bad)
       |    AND md5('mix:' || doc_id) < ${Sampling.mixtureThrSql})
       |SELECT doc_id, lang, n_toks, doc_id // 2048 AS pack_shard,
       |  CAST(COALESCE(sum(n_toks) OVER (PARTITION BY lang, doc_id // 2048 ORDER BY doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS seq_id
       |FROM mixed ORDER BY doc_id""".stripMargin

  /** pl_distill — span-level dedup composed into the pipeline: remove
    * corpus-duplicated 5-gram spans from every doc (Dedup.spanRemoval,
    * served by the shared memoized dup-gram artifact), drop docs that
    * are too short or lost half their content to duplication, and report
    * the per-language distilled token budget. The shape a pretrain data
    * refresh runs after ingesting a scrape: one corpus scan + the
    * artifact join, one groupBy — removal composes with the report
    * instead of materializing an intermediate cleaned table.
    */
  val distill: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
    // counts-only span stats off the dup-occurrence artifact: the budget
    // report never reads clean_text, and the full spanRemoval plan's
    // per-token anti-join was the one sf10 full-battery heap OOM (r17 —
    // see the spanRemovalCounts scaladoc for the forensics)
    val cleaned = Dedup.spanRemovalCounts(docs, Dedup.cachedDupOccurrences(s, d))
    cleaned
      .where(col("n_toks") >= 10L && col("n_removed") * 2 < col("n_toks"))
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_toks") - col("n_removed")).as("kept_tokens"),
        round(avg(col("n_removed").cast("double") / col("n_toks").cast("double")), 6)
          .as("avg_removed_frac"))
      .orderBy(col("lang"))
  }
  val distillSql: String = {
    val sr = Dedup.spanRemovalSql.stripSuffix(" ORDER BY doc_id")
    s"""SELECT lang, count(*) AS n_docs,
       |  CAST(sum(n_toks - n_removed) AS BIGINT) AS kept_tokens,
       |  round(avg(CAST(n_removed AS DOUBLE) / n_toks), 6) AS avg_removed_frac
       |FROM ($sr) sr JOIN documents USING (doc_id)
       |WHERE n_toks >= 10 AND n_removed * 2 < n_toks
       |GROUP BY lang ORDER BY lang""".stripMargin
  }

  /** pl_pack_bpe — sequence packing driven by the TRAINED tokenizer's
    * real counts: encode every doc with the corpus-trained BPE merges
    * (tx_bpe_train's artifact, served from its cache) and pack per-lang
    * 512-token sequences from the actual BPE token counts, not the
    * whitespace proxy tx_pack uses. This is what a production packing
    * pass consumes — budgets in model tokens. One replace-chain scan for
    * the counts + one per-(lang, shard) window (sharded like
    * [[pretrain]]'s packing: the per-lang window serializes a language's
    * whole stream through one partition at scale; 2048-doc shards pack
    * independently at the cost of ≤1 under-filled pack per boundary);
    * the oracle re-trains, re-encodes, and re-packs in SQL.
    */
  val packBpe: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
    val counts = TextAnalysis
      .bpeEncode(docs, TextAnalysis.trainedMerges(s, d))
      .groupBy(col("doc_id"))
      .agg(sum(size(col("bpe_toks"))).cast("long").as("n_bpe"))
    val w = Window.partitionBy(col("lang"), col("pack_shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    counts.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("pack_shard", expr("doc_id div 2048"))
      .withColumn("cum_prev", coalesce(sum(col("n_bpe")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_bpe"), col("pack_shard"),
        expr("cum_prev div 512").as("seq_id"))
      .orderBy(col("doc_id"))
  }
  val packBpeSql: String = {
    val be = TextAnalysis.bpeEncodeSql.stripSuffix(" ORDER BY doc_id")
    s"""SELECT doc_id, lang, n_bpe, doc_id // 2048 AS pack_shard,
       |  CAST(COALESCE(sum(n_bpe) OVER (PARTITION BY lang, doc_id // 2048 ORDER BY doc_id
       |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) // 512 AS BIGINT) AS seq_id
       |FROM ($be) be JOIN documents USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** w6_prefix_sum — DISTRIBUTED exclusive prefix sum over doc order:
    * every doc's global token offset in the concatenated corpus stream.
    * A naive `sum() OVER (ORDER BY doc_id)` is a single-partition window
    * — the one windowing shape that cannot scale. The classic two-level
    * decomposition instead: docs hash into id-range buckets; the
    * per-bucket cumulative runs in a PARTITIONED window (parallel), and
    * only the bucket TOTALS — a table 1/B the size — take an ordered
    * scan, whose exclusive cumulation broadcasts back as each bucket's
    * base offset. At 100 TB, recurse once more on the bucket table (B²
    * reduction) — same shape, documented here, not needed at gate scale.
    * The oracle is the naive global window, proving the decomposition
    * is exactly equivalent.
    */
  def tokenOffsets(docs: DataFrame, bucket: Long = 64L): DataFrame = {
    val tok = docs
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("b", expr(s"CAST(floor(doc_id / $bucket.0) AS BIGINT)"))
    val wIn = Window.partitionBy(col("b")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = tok.withColumn("cum_in", coalesce(sum(col("n_toks")).over(wIn), lit(0L)))
    val wB = Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)
    val base = tok.groupBy(col("b")).agg(sum(col("n_toks")).as("bt"))
      .withColumn("boff", coalesce(sum(col("bt")).over(wB), lit(0L)))
      .select(col("b"), col("boff"))
    local.join(broadcast(base), Seq("b"))
      .select(col("doc_id"), col("n_toks"), (col("cum_in") + col("boff")).as("off"))
  }

  val prefixSum: Q = (s, d) =>
    tokenOffsets(tbl(s, d, "documents")).orderBy(col("doc_id"))
  val prefixSumSql: String =
    """SELECT doc_id, n_toks,
      |       CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** pl_shards — token-balanced OUTPUT SHARD assignment: cut the
    * doc-ordered corpus into S=16 shards of ~equal TOKEN mass (not doc
    * count — doc lengths are 10–100× skewed, and a data loader reading
    * doc-count-balanced shards stalls on the heavy ones). Shard id is
    * pure arithmetic on the distributed prefix sum ([[tokenOffsets]]):
    * shard = floor(off / ceil(T/S)) — contiguous in doc order (sequential
    * read locality preserved), each shard within one max-doc of the
    * target mass. The webdataset/Megatron shard-balancing step as a
    * gate, reported per shard: doc count, token mass, id range.
    *
    * Scale shape: prefix sum is the two-level decomposition (no global
    * window); the corpus total T is ONE 1-row aggregate joined back on a
    * constant-valued key DERIVED FROM AN ATTRIBUTE (x·0) so constant
    * folding cannot collapse the equi-condition to `true` — the planner
    * keeps a BroadcastHashJoin instead of the nested-loop product a bare
    * literal key degenerates to (the PlanGuard-clean form of the
    * scalar-join class). Everything else is a stateless projection and
    * an O(S) rollup.
    */
  val Shards = 16
  val shardsQ: Q = (s, d) => {
    val off = tokenOffsets(tbl(s, d, "documents"))
    val tot = off.agg(sum(col("n_toks")).as("t"))
      .withColumn("jk", coalesce(col("t") * lit(0L), lit(0L)))
    off.withColumn("jk", coalesce(col("n_toks") * lit(0L), lit(0L)))
      .join(broadcast(tot), Seq("jk"))
      .select(col("doc_id"), col("n_toks"),
        floor(col("off") / ceil(col("t") / lit(Shards.toDouble))).cast("long").as("shard"))
      .groupBy(col("shard")).agg(
        count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"))
  }
  val shardsSql: String =
    s"""WITH o AS (
      |  SELECT doc_id, n_toks,
      |         CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents)),
      |t AS (SELECT sum(n_toks) AS t FROM o)
      |SELECT CAST(floor(off / ceil(t / $Shards.0)) AS BIGINT) AS shard,
      |       count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      |       min(doc_id) AS first_doc, max(doc_id) AS last_doc
      |FROM o CROSS JOIN t
      |GROUP BY 1 ORDER BY shard""".stripMargin

  /** pl_curriculum — sequence-length-warmup CURRICULUM assignment: order
    * the corpus by token length (short → long, the standard
    * length-warmup curriculum) and cut it into P = 4 phases of ~equal
    * TOKEN mass, so each training phase consumes the same budget while
    * sequence length ramps. Reported per phase: doc count, token mass,
    * and the length band [min, max] it covers — the schedule a trainer
    * reads off.
    *
    * THE SCALE SHAPE — a prefix sum over a COMPUTED ordering, without
    * globally sorting the corpus: ranks in (n_toks, doc_id) order come
    * from the two-level decomposition keyed on the composite bucket
    * (n_toks, doc_id div 64) — the within-bucket cumulative runs in a
    * PARTITIONED window, and only the O(|distinct lengths| · chunks)
    * bucket-total table takes an ordered scan (the [[tokenOffsets]]
    * discipline, generalized from the physical doc order to a computed
    * sort key; the chunk split keeps a popular length value from
    * dragging its whole equivalence class into one partition). Phase id
    * is then pure arithmetic on the offset; the corpus total attaches
    * via the jk literal-key broadcast equi-join ([[shardsQ]]'s
    * PlanGuard-clean scalar form). The oracle is the naive global
    * ORDER BY (n_toks, doc_id) window, proving the decomposition exact.
    */
  val CurriculumPhases = 4
  val curriculum: Q = (s, d) => {
    val tok = tbl(s, d, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("chunk", expr("doc_id div 64"))
    val wIn = Window.partitionBy(col("n_toks"), col("chunk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = tok.withColumn("cum_in", coalesce(sum(col("n_toks")).over(wIn), lit(0L)))
    val wB = Window.orderBy(col("n_toks"), col("chunk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = tok.groupBy(col("n_toks"), col("chunk"))
      .agg(sum(col("n_toks")).as("bt"))
      .withColumn("boff", coalesce(sum(col("bt")).over(wB), lit(0L)))
      .select(col("n_toks"), col("chunk"), col("boff"))
    val off = local.join(broadcast(base), Seq("n_toks", "chunk"))
      .select(col("doc_id"), col("n_toks"), (col("cum_in") + col("boff")).as("off"))
    val tot = off.agg(sum(col("n_toks")).as("t"))
      .withColumn("jk", coalesce(col("t") * lit(0L), lit(0L)))
    off.withColumn("jk", coalesce(col("n_toks") * lit(0L), lit(0L)))
      .join(broadcast(tot), Seq("jk"))
      .select(col("doc_id"), col("n_toks"),
        floor(col("off") / ceil(col("t") / lit(CurriculumPhases.toDouble)))
          .cast("long").as("phase"))
      .groupBy(col("phase")).agg(
        count(lit(1)).as("n_docs"), sum(col("n_toks")).as("n_tokens"),
        min(col("n_toks")).as("min_len"), max(col("n_toks")).as("max_len"))
      .orderBy(col("phase"))
  }
  val curriculumSql: String =
    s"""WITH o AS (
      |  SELECT doc_id, n_toks,
      |         CAST(coalesce(sum(n_toks) OVER (ORDER BY n_toks, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents)),
      |t AS (SELECT sum(n_toks) AS t FROM o)
      |SELECT CAST(floor(off / ceil(t / $CurriculumPhases.0)) AS BIGINT) AS phase,
      |       count(*) AS n_docs, CAST(sum(n_toks) AS BIGINT) AS n_tokens,
      |       CAST(min(n_toks) AS BIGINT) AS min_len, CAST(max(n_toks) AS BIGINT) AS max_len
      |FROM o CROSS JOIN t
      |GROUP BY 1 ORDER BY phase""".stripMargin

  /** pl_pack_concat — GPT-style packing: concatenate the whole corpus in
    * doc order and cut fixed 512-token sequences, docs SPANNING sequence
    * boundaries (tx_pack / pl_pack_bpe are the budget-binned alternative
    * where docs never split). Entirely arithmetic on the distributed
    * prefix sum — no token materialization: each doc's occupied sequence
    * range is [floor(off/512), floor((off+n-1)/512)]. The exploded
    * (sequence → doc-slice) view is one sequence() away; the gate pins
    * the ranges, which determine it.
    */
  val packConcat: Q = (s, d) =>
    tokenOffsets(tbl(s, d, "documents"))
      .select(col("doc_id"), col("n_toks"), col("off"),
        expr("CAST(floor(off / 512.0) AS BIGINT)").as("first_seq"),
        expr("CAST(floor((off + n_toks - 1) / 512.0) AS BIGINT)").as("last_seq"))
      .orderBy(col("doc_id"))
  val packConcatSql: String =
    """SELECT doc_id, n_toks, off,
      |       CAST(floor(off / 512.0) AS BIGINT) AS first_seq,
      |       CAST(floor((off + n_toks - 1) / 512.0) AS BIGINT) AS last_seq
      |FROM (
      |  SELECT doc_id, n_toks,
      |         CAST(coalesce(sum(n_toks) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS off
      |  FROM (SELECT doc_id, len(string_split(text, ' ')) AS n_toks FROM documents))
      |ORDER BY doc_id""".stripMargin

  // ------------------------------------------------------ search-index build

  /** pl_search_index — the post-dedup index build: LSH clusters →
    * canonical-per-cluster keep set → sharded inverted-index manifest
    * (docs / terms / postings per shard). The composition a corpus
    * pipeline runs nightly: dedup decides WHAT to index, retrieval
    * decides HOW, and this gate proves the two families hand off through
    * one anti-join — the keep/drop verdict travels as an O(candidates)
    * broadcast against the token stream, never a corpus shuffle.
    *
    * Reuses the memoized cluster artifacts (Graph.ccClusters /
    * ddCanonical read the memoized LSH labels — the corpus is not
    * re-shingled here), exactly as a production index build reads the
    * dedup pipeline's published label table rather than recomputing it.
    */
  val searchIndex: Q = (s, d) => {
    import s.implicits._
    val labels = Graph.ccClusters(s, d)
    val canon = Graph.ddCanonical(s, d).select($"cluster", $"keep_doc")
    val drops = labels.join(canon, Seq("cluster"))
      .where($"doc_id" =!= $"keep_doc")
      .select($"doc_id")
    tbl(s, d, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .where(length($"tok") > 0)
      .join(drops, Seq("doc_id"), "left_anti")
      .distinct()
      .withColumn("shard", expr("doc_id div 100"))
      .groupBy($"shard")
      .agg(countDistinct($"doc_id").as("n_docs"),
        countDistinct($"tok").as("n_terms"),
        count(lit(1)).as("n_postings"))
      .orderBy($"shard")
  }
  val searchIndexSql: String =
    s"""${Graph.ccReachCte},
       |lab AS (SELECT n AS doc_id, CAST(min(r) AS BIGINT) AS cluster FROM reach GROUP BY n),
       |keepdoc AS (
       |  SELECT cluster, max_by(d.doc_id, d.n_chars * 2147483648 - d.doc_id) AS keep_doc
       |  FROM lab JOIN documents d USING (doc_id) GROUP BY cluster),
       |drops AS (
       |  SELECT l.doc_id FROM lab l JOIN keepdoc k USING (cluster)
       |  WHERE l.doc_id <> k.keep_doc),
       |dt AS (
       |  SELECT DISTINCT doc_id, tok
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE len(tok) > 0 AND doc_id NOT IN (SELECT doc_id FROM drops))
       |SELECT doc_id // 100 AS shard,
       |       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |       CAST(count(DISTINCT tok) AS BIGINT) AS n_terms,
       |       count(*) AS n_postings
       |FROM dt GROUP BY shard ORDER BY shard""".stripMargin

  /** pl_corpus_build — the WHOLE pre-training admission pipeline as one
    * declarative plan: every corpus document is admitted or dropped with
    * a reason, precedence contaminated ≻ duplicate ≻ low-quality —
    *   - contaminated: shares a 13-gram with the benchmark slice (the
    *     [[decontam]] screen, same planted fixture);
    *   - duplicate: a non-canonical member of an LSH connected-component
    *     cluster (the pl_search_index keep-set);
    *   - low_quality: under the 200-char floor (stand-in for the full
    *     tx_quality score — same plan shape, trivially mirrored).
    * Output is the per-language admission report a data-governance
    * review signs off on. The point of the gate is COMPOSITION: three
    * families' verdicts reach one plan as two anti-join-able doc sets
    * plus a scan predicate, Catalyst prunes whatever the report doesn't
    * need, and the oracle re-runs all three stages in SQL — so the
    * handoffs, not just the stages, are hash-checked.
    *
    * Scale shape: the gram screen broadcasts an eval-sized set; the
    * cluster verdict is the memoized label artifact (O(clustered
    * docs)); both reach the corpus scan as broadcast semi-joins; the
    * report aggregation is one map-side-combined shuffle of O(langs)
    * groups.
    */
  val corpusBuild: Q = (s, d) => {
    import s.implicits._
    val docs = tbl(s, d, "documents")
    // stage 1: contamination (planted like pl_decontam, same screen)
    val evalDocs = docs.where($"doc_id" < 20)
      .select($"doc_id".as("eval_id"), $"text".as("etext"))
    val planted = docs.where($"doc_id" >= 20)
      .join(broadcast(evalDocs), col("doc_id") % 20 === col("eval_id"))
      .select($"doc_id",
        when($"doc_id" % 7 === 3, concat($"text", lit(" "), substring($"etext", 1, 120)))
          .otherwise($"text").as("text"))
    def grams(df: DataFrame, idCol: String) =
      Dedup.wordGramsZip(df, idCol, 13, out = "g")
    val contaminated = grams(planted, "doc_id")
      .join(broadcast(grams(evalDocs.select($"eval_id", $"etext".as("text")), "eval_id")
        .select($"g").distinct()), Seq("g"))
      .select($"doc_id").distinct().withColumn("contam", lit(1L))
    // stage 2: dedup drops (LSH clusters → canonical keep set)
    val labels = Graph.ccClusters(s, d)
    val canon = Graph.ddCanonical(s, d).select($"cluster", $"keep_doc")
    val dups = labels.join(canon, Seq("cluster"))
      .where($"doc_id" =!= $"keep_doc")
      .select($"doc_id").withColumn("dup", lit(1L))
    // stage 3: admission with reason precedence, per-language report
    docs.where($"doc_id" >= 20)
      .join(contaminated, Seq("doc_id"), "left")
      .join(dups, Seq("doc_id"), "left")
      .select($"lang",
        when($"contam" === 1L, "contaminated")
          .when($"dup" === 1L, "duplicate")
          .when($"n_chars" < 200, "low_quality")
          .otherwise("kept").as("verdict"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"verdict" === "kept", 1L).otherwise(0L)).as("n_kept"),
        sum(when($"verdict" === "contaminated", 1L).otherwise(0L)).as("n_contaminated"),
        sum(when($"verdict" === "duplicate", 1L).otherwise(0L)).as("n_dup"),
        sum(when($"verdict" === "low_quality", 1L).otherwise(0L)).as("n_lowq"))
      .orderBy($"lang")
  }
  val corpusBuildSql: String =
    s"""${Graph.ccReachCte},
       |lab AS (SELECT n AS doc_id, CAST(min(r) AS BIGINT) AS cluster FROM reach GROUP BY n),
       |keepdoc AS (
       |  SELECT cluster, max_by(d.doc_id, d.n_chars * 2147483648 - d.doc_id) AS keep_doc
       |  FROM lab JOIN documents d USING (doc_id) GROUP BY cluster),
       |dups AS (
       |  SELECT l.doc_id FROM lab l JOIN keepdoc k USING (cluster)
       |  WHERE l.doc_id <> k.keep_doc),
       |ev AS (SELECT doc_id AS eval_id, text AS etext FROM documents WHERE doc_id < 20),
       |planted AS (
       |  SELECT c.doc_id,
       |         CASE WHEN c.doc_id % 7 = 3
       |              THEN c.text || ' ' || substr(e.etext, 1, 120)
       |              ELSE c.text END AS text
       |  FROM documents c JOIN ev e ON c.doc_id % 20 = e.eval_id
       |  WHERE c.doc_id >= 20),
       |eg AS (
       |  SELECT DISTINCT g FROM (
       |    SELECT unnest(list_transform(range(1, len(w) - 11),
       |           i -> array_to_string(w[i:i+12], ' '))) AS g
       |    FROM (SELECT string_split(etext, ' ') AS w FROM ev)
       |    WHERE len(w) >= 13)),
       |contam AS (
       |  SELECT DISTINCT doc_id FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(w) - 11),
       |           i -> array_to_string(w[i:i+12], ' '))) AS g
       |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM planted)
       |    WHERE len(w) >= 13)
       |  WHERE g IN (SELECT g FROM eg)),
       |verdicts AS (
       |  SELECT lang,
       |         CASE WHEN doc_id IN (SELECT doc_id FROM contam) THEN 'contaminated'
       |              WHEN doc_id IN (SELECT doc_id FROM dups) THEN 'duplicate'
       |              WHEN n_chars < 200 THEN 'low_quality'
       |              ELSE 'kept' END AS verdict
       |  FROM documents WHERE doc_id >= 20)
       |SELECT lang, count(*) AS n_docs,
       |       CAST(sum(CASE WHEN verdict = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       |       CAST(sum(CASE WHEN verdict = 'contaminated' THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
       |       CAST(sum(CASE WHEN verdict = 'duplicate' THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |       CAST(sum(CASE WHEN verdict = 'low_quality' THEN 1 ELSE 0 END) AS BIGINT) AS n_lowq
       |FROM verdicts GROUP BY lang ORDER BY lang""".stripMargin

  // ------------------------------------------------------------------ DSIR

  /** pl_dsir — data selection via importance resampling (Xie et al. 2023,
    * arXiv:2302.03169): score every raw document by how much more likely
    * its hashed-unigram bag is under a TARGET distribution (here the
    * English slice — the paper's "formal/quality" proxy) than under the
    * raw pool, log w(x) = Σ_tokens [ln p̂_tgt(bucket) − ln p̂_raw(bucket)],
    * length-normalized. Resampling by this weight is how pretraining
    * pipelines tilt a web crawl toward a curated domain without training
    * a classifier first (the counting dual of tx_clf_score).
    *
    * Mechanics: tokens hash into 512 buckets via the md5-hex decode
    * (integer-exact in both engines), both distributions are add-one-
    * smoothed bucket counts — all BIGINT aggregates — and the per-doc
    * score is one keyed sum of identical ln terms, quantized to 6 dp.
    * Scale shape: ONE token-explode pass — the md5 bucket decode (the
    * expensive per-token term) runs exactly once, collapsing immediately
    * into the per-doc bucket HISTOGRAM (map-side-combined on
    * (doc_id, b); ~|buckets a doc touches| rows per doc, a ~10× row cut
    * at typical doc lengths). Everything else derives from that
    * artifact: both smoothed count tables from a second keyed rollup of
    * the histogram (never the corpus), totals from the O(buckets) table,
    * and the per-doc score a cnt-weighted sum over histogram rows. The
    * first formulation re-derived tgt/raw/tots as three independent
    * aggregations of the token stream and re-scanned it for the score —
    * 4× the decode work, partially hidden locally by idle cores (solo
    * 3-pass median 2.40 → 1.76 s at sf0.1); at cluster scale pass count
    * IS cost.
    */
  val plDsir: Q = (s, d) => {
    import s.implicits._
    // r18, two fixes measured together (guide §2.4 + §1.2):
    // (1) the 6-term per-hex-digit decode is now ONE conv() of the first
    //     6 md5 hex chars — the same integer (Σ digit_i·16^(6−i) IS the
    //     base-16 value of the 6-char prefix), bit-identical buckets,
    //     and the geo_radius r18 lesson applied: the 6-term form invited
    //     CollapseProject to duplicate the md5 across consumers;
    // (2) `both` (≤512 rows) is pinned eagerly: it fed tots, llr, AND
    //     (via broadcast(llr)) the score join, so the token explode +
    //     md5 pass it derives from was replicated 6× in the physical
    //     plan (plans/r18/pl_dsir_before.txt: 6 scans, 6 Generates).
    //     After: 2 corpus passes — one building `both`, one scoring —
    //     which is the true floor for "distributions, then score".
    val bucketExpr = "(CAST(conv(substr(md5(tok), 1, 6), 16, 10) AS BIGINT) % 512)"
    val hist = tbl(s, d, "documents")
      .select($"doc_id", $"lang", explode(split($"text", " ")).as("tok"))
      .where(length($"tok") > 0)
      .withColumn("b", expr(bucketExpr))
      .groupBy($"doc_id", $"lang", $"b").agg(count(lit(1)).as("c"))
    val both = hist.groupBy($"b").agg(
      sum($"c").as("cr"),
      sum(when($"lang" === "en", $"c").otherwise(0L)).as("ct"))
      .localCheckpoint(true)
    val tots = both.agg(sum($"ct").as("tt"), sum($"cr").as("tr"))
    val llr = both.crossJoin(broadcast(tots))
      .select($"b",
        (log(($"ct" + 1L).cast("double") / ($"tt" + 512L)) -
          log(($"cr" + 1L).cast("double") / ($"tr" + 512L))).as("llr"))
    hist.join(broadcast(llr), Seq("b"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_toks"),
        round(sum($"llr" * $"c") / sum($"c"), 6).as("dsir_logw"))
      .orderBy($"doc_id")
  }
  val plDsirSql: String = {
    val bucket = "(" + (1 to 6).map(i =>
      s"(instr('0123456789abcdef', substr(md5(tok), $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}")
      .mkString(" + ") + ") % 512"
    s"""WITH toks AS (
       |  SELECT doc_id, lang, $bucket AS b
       |  FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE len(tok) > 0),
       |tgt AS (SELECT b, count(*) AS ct FROM toks WHERE lang = 'en' GROUP BY b),
       |raw AS (SELECT b, count(*) AS cr FROM toks GROUP BY b),
       |tots AS (
       |  SELECT CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS tt,
       |         count(*) AS tr
       |  FROM toks),
       |llr AS (
       |  SELECT raw.b,
       |         ln(CAST(coalesce(tgt.ct, 0) + 1 AS DOUBLE) / (tots.tt + 512))
       |         - ln(CAST(raw.cr + 1 AS DOUBLE) / (tots.tr + 512)) AS llr
       |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tots)
       |SELECT t.doc_id, count(*) AS n_toks,
       |       round(sum(l.llr) / count(*), 6) AS dsir_logw
       |FROM toks t JOIN llr l ON l.b = t.b
       |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin
  }

  /** pl_decontam — benchmark-contamination screen (the GPT-3 appendix-C
    * recipe, kept by every serious pretraining pipeline since): a corpus
    * document is contaminated when it shares any 13-token n-gram with the
    * held-out evaluation set, and must be dropped (or span-scrubbed)
    * BEFORE training so benchmark numbers measure generalization, not
    * memorization. The gate treats docs 0–19 as the "benchmark" and
    * plants real contamination — every corpus doc ≡ 3 (mod 7) gets a
    * 120-char span of one benchmark doc appended — so the screen fires
    * non-vacuously and the hit counts are exactly checkable.
    *
    * Scale shape: the benchmark gram set is EVAL-sized (thousands of
    * grams, not corpus-sized) → builds once, broadcasts onto one corpus
    * scan's exploded gram stream; the per-doc aggregation is the only
    * shuffle and carries matching grams only (the inner join prunes the
    * stream to hits before the exchange). At 100 TB this is scan speed —
    * the same shape as tx_clf_score's broadcast weight join.
    */
  val decontam: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
    val evalDocs = docs.where(col("doc_id") < 20)
      .select(col("doc_id").as("eval_id"), col("text").as("etext"))
    val planted = docs.where(col("doc_id") >= 20)
      .join(broadcast(evalDocs), col("doc_id") % 20 === col("eval_id"))
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 3,
          concat(col("text"), lit(" "), substring(col("etext"), 1, 120)))
          .otherwise(col("text")).as("text"))
    def grams(df: DataFrame, idCol: String) =
      Dedup.wordGramsZip(df, idCol, 13, out = "g")
    val eg = grams(evalDocs.select(col("eval_id"), col("etext").as("text")), "eval_id")
      .distinct()
    // The broadcast join must run BEFORE any corpus-side distinct (r18
    // batch 2, guide §2.3 "prune before the exchange"): the old
    // `.distinct()` on the exploded gram stream shuffled every
    // (doc_id, 13-gram string) pair — the one corpus-sized exchange in
    // the gate, carrying exactly the long strings the scaladoc above
    // says never move — when countDistinct in the aggregation already
    // dedupes repeated in-doc grams AFTER the join has cut the stream
    // to eval hits. Same result by construction; the only post-join
    // exchange carries matching grams only.
    grams(planted, "doc_id")
      .join(broadcast(eg), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_grams"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy(col("doc_id"))
  }
  val decontamSql: String =
    """WITH ev AS (SELECT doc_id AS eval_id, text AS etext FROM documents WHERE doc_id < 20),
      |planted AS (
      |  SELECT c.doc_id,
      |         CASE WHEN c.doc_id % 7 = 3
      |              THEN c.text || ' ' || substr(e.etext, 1, 120)
      |              ELSE c.text END AS text
      |  FROM documents c JOIN ev e ON c.doc_id % 20 = e.eval_id
      |  WHERE c.doc_id >= 20),
      |eg AS (
      |  SELECT DISTINCT eval_id, g FROM (
      |    SELECT eval_id,
      |           unnest(list_transform(range(1, len(w) - 11),
      |                  i -> array_to_string(w[i:i+12], ' '))) AS g
      |    FROM (SELECT eval_id, string_split(etext, ' ') AS w FROM ev)
      |    WHERE len(w) >= 13)),
      |cg AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(w) - 11),
      |                  i -> array_to_string(w[i:i+12], ' '))) AS g
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM planted)
      |    WHERE len(w) >= 13))
      |SELECT cg.doc_id, count(DISTINCT cg.g) AS n_grams,
      |       count(DISTINCT eg.eval_id) AS n_eval_docs
      |FROM cg JOIN eg USING (g)
      |GROUP BY cg.doc_id ORDER BY cg.doc_id""".stripMargin

  // ------------------------------------------------------- RAG chunking

  /** pl_chunk — overlapping token-window chunking, the ingestion step of
    * every retrieval/RAG pipeline (and of long-context eval set
    * construction): each doc explodes into windows of `size`=64 tokens
    * at `stride`=48 (16-token overlap so no boundary sentence is ever
    * split away from all its context). Chunk k covers tokens
    * [k·stride, k·stride+size); the last chunk may be short, and a doc
    * shorter than one window still yields chunk 0 — every token lands in
    * ≥1 chunk.
    *
    * Scale shape: one narrow scan + a bounded explode (≤ n_toks/stride
    * rows per doc, output-proportional like any chunker); no shuffle at
    * all until the presentation sort. The chunk text re-joins from the
    * SAME token array the count came from, so chunk boundaries are
    * byte-exact reproducible — the property a retriever's incremental
    * re-index depends on.
    */
  val chunk: Q = (s, d) => {
    val size = 64
    val stride = 48
    tbl(s, d, "documents").where(col("doc_id") < 2000)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", org.apache.spark.sql.functions.size(col("toks")).cast("long"))
      .withColumn("k", explode(expr(s"sequence(0L, (n_toks - 1) div $stride)")))
      .select(col("doc_id"), col("k").as("chunk_id"),
        expr(s"array_join(slice(toks, k * $stride + 1, $size), ' ')").as("chunk_text"),
        least(lit(size.toLong), col("n_toks") - col("k") * stride).as("n_chunk_toks"))
      .orderBy(col("doc_id"), col("chunk_id"))
  }
  val chunkSql: String =
    """WITH d AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |         len(string_split(text, ' ')) AS n_toks
      |  FROM documents WHERE doc_id < 2000)
      |SELECT doc_id, k AS chunk_id,
      |       array_to_string(toks[k*48+1 : k*48+64], ' ') AS chunk_text,
      |       CAST(least(64, n_toks - k*48) AS BIGINT) AS n_chunk_toks
      |FROM d, unnest(range(0, (n_toks - 1)//48 + 1)) AS t(k)
      |ORDER BY doc_id, chunk_id""".stripMargin

  // --------------------------------------------- length-bucket packing

  /** pl_len_buckets — padding-waste accounting for length-bucketed
    * batching: round every doc's token count up to the next multiple of
    * 32 (its bucket), and report per-bucket doc counts, real tokens,
    * padded tokens, and the waste fraction. This is the table that
    * decides a training run's bucket boundaries: naive single-max-length
    * batching wastes (max−mean)/max of compute, bucketing reclaims most
    * of it, and the waste column quantifies what remains per bucket.
    * One scan, one keyed aggregate over ≤ (max_len/32) buckets.
    */
  val lenBuckets: Q = (s, d) => {
    tbl(s, d, "documents")
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(split(col("text"), " ")).cast("long").as("n_toks"))
      .withColumn("bucket_len", expr("((n_toks + 31) div 32) * 32"))
      .groupBy(col("bucket_len"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks")).as("real_tokens"),
        sum(col("bucket_len") - col("n_toks")).as("pad_tokens"))
      .withColumn("waste_frac",
        round(col("pad_tokens").cast("double") /
          (col("real_tokens") + col("pad_tokens")).cast("double"), 6))
      .orderBy(col("bucket_len"))
  }
  val lenBucketsSql: String =
    """WITH d AS (
      |  SELECT doc_id, len(string_split(text, ' ')) AS n_toks,
      |         ((len(string_split(text, ' ')) + 31) // 32) * 32 AS bucket_len
      |  FROM documents)
      |SELECT CAST(bucket_len AS BIGINT) AS bucket_len,
      |       count(*) AS n_docs,
      |       CAST(sum(n_toks) AS BIGINT) AS real_tokens,
      |       CAST(sum(bucket_len - n_toks) AS BIGINT) AS pad_tokens,
      |       round(CAST(sum(bucket_len - n_toks) AS DOUBLE) /
      |             CAST(sum(bucket_len) AS DOUBLE), 6) AS waste_frac
      |FROM d GROUP BY bucket_len ORDER BY bucket_len""".stripMargin

  val queries: Map[String, Q] = Map(
    "pl_chunk"        -> chunk,
    "pl_len_buckets"  -> lenBuckets,
    "pl_decontam"     -> decontam,
    "pl_corpus_build" -> corpusBuild,
    "pl_dsir"         -> plDsir,
    "pl_corpus_clean" -> corpusClean,
    "pl_funnel"       -> funnel,
    "pl_pretrain"     -> pretrain,
    "pl_distill"      -> distill,
    "pl_pack_bpe"     -> packBpe,
    "w6_prefix_sum"   -> prefixSum,
    "pl_shards"       -> shardsQ,
    "pl_curriculum"   -> curriculum,
    "pl_pack_concat"  -> packConcat,
    "pl_search_index" -> searchIndex)

  val oracles: Map[String, String] = Map(
    "pl_chunk"        -> chunkSql,
    "pl_len_buckets"  -> lenBucketsSql,
    "pl_decontam"     -> decontamSql,
    "pl_corpus_build" -> corpusBuildSql,
    "pl_dsir"         -> plDsirSql,
    "pl_corpus_clean" -> corpusCleanSql,
    "pl_funnel"       -> funnelSql,
    "pl_pretrain"     -> pretrainSql,
    "pl_distill"      -> distillSql,
    "pl_pack_bpe"     -> packBpeSql,
    "w6_prefix_sum"   -> prefixSumSql,
    "pl_shards"       -> shardsSql,
    "pl_curriculum"   -> curriculumSql,
    "pl_pack_concat"  -> packConcatSql,
    "pl_search_index" -> searchIndexSql)
}
