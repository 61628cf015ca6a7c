package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pins
import graft.Tables.{t => tbl}

/** Deduplication operator family for large-scale training-data pipelines
  * (BASELINE.json north star): exact, MinHash+LSH banding, SimHash, n-gram
  * Jaccard, embedding-cosine near-dup.
  *
  * Two hash regimes:
  *   - The oracle-checked queries hash with md5 (present and bit-identical
  *     in both Spark and DuckDB) and take minima over the hex strings —
  *     lexicographic min over a uniform hash is a valid minhash and
  *     reproduces exactly across engines.
  *   - The scale-path API (minhashSignatures/lshCandidatePairs) defaults to
  *     xxhash64 (codegen'd long hashing, no string materialization) — the
  *     variant a 100 TB run uses; same structure, cheaper hash.
  *
  * Scale design: shingling is a narrow explode (no shuffle); signatures are
  * one hash-aggregate keyed by doc; banding re-keys by (band, signature) so
  * candidate generation is one shuffle whose fan-in is bucket-bounded; the
  * verify step joins only candidate pairs, never the full cross product.
  * Skewed buckets (e.g. boilerplate shingles) are handled by AQE skew-join
  * splitting; at extreme skew, cap bucket size before pairing.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  /** Character 5-gram shingles, exploded: (doc_id, sh). Narrow op. */
  /** Char-5-gram stream — the hottest scale-path explode (every
    * signature/LSH/Jaccard query starts here). Positions explode FIRST
    * and the substr runs as a codegen'd projection after the generate:
    * the old transform(sequence, λ) form evaluated an interpreted
    * lambda per element (CodegenFallback — the wordGramsZip lesson,
    * r13 audit; measured ~1.3× on the signature build).
    */
  private def shingles(docs: DataFrame): DataFrame =
    docs.where(length(col("text")) >= 5)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(1), length(col("text")) - 4)).as("i"))
      .select(col("doc_id"), expr("substr(text, i, 5)").as("sh"))

  private val NumHashes = 8

  /** md5-based minhash signature columns mh0..mh7 keyed by doc_id. */
  private def md5Signatures(docs: DataFrame): DataFrame = {
    val sh = shingles(docs)
    val aggs = (0 until NumHashes).map(j =>
      min(md5(concat(lit(s"$j:"), col("sh")))).as(s"mh$j"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  // ---------------------------------------------------------- oracle queries

  /** Exact dedup (hash-groupBy): corpus-level duplicate stats. */
  val exactStats: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
    docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(md5(col("text"))).as("n_distinct"),
      (count(lit(1)) - countDistinct(md5(col("text")))).as("n_dupes"))
  }
  val exactStatsSql: String =
    """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_distinct,
      |       count(*) - count(DISTINCT md5(text)) AS n_dupes FROM documents""".stripMargin

  /** MinHash signatures for a probe set of documents. */
  val minhashSig: Q = (s, d) =>
    md5Signatures(tbl(s, d, "documents").where(col("doc_id") < 20))
      .orderBy(col("doc_id"))
  val minhashSigSql: String = {
    val mins = (0 until NumHashes)
      .map(j => s"min(md5('$j:' || sh)) AS mh$j").mkString(",\n       ")
    s"""SELECT doc_id, $mins
       |FROM (SELECT doc_id,
       |             unnest(list_transform(range(1, len(text)-3), i -> substr(text, i, 5))) AS sh
       |      FROM documents WHERE doc_id < 20 AND len(text) >= 5)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** 2 bands × 4 rows over the 8-hash md5 signature → (doc_id, band, bsig). */
  private def md5Banded(docs: DataFrame): DataFrame =
    md5Signatures(docs).select(col("doc_id"),
      expr("stack(2, 0, md5(concat_ws('|', mh0, mh1, mh2, mh3)), " +
        "1, md5(concat_ws('|', mh4, mh5, mh6, mh7))) AS (band, bsig)"))

  /** LSH banding: 2 bands × 4 rows over the 8-hash signature; candidate
    * pairs = docs sharing any band signature. Bounded probe set.
    */
  val lshPairs: Q = (s, d) => {
    val banded = md5Banded(tbl(s, d, "documents").where(col("doc_id") < 200))
    val a = banded.select(col("doc_id").as("a"), col("band"), col("bsig"))
    val b = banded.select(col("doc_id").as("b"), col("band"), col("bsig"))
    a.join(b, Seq("band", "bsig")).where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
      .orderBy(col("a"), col("b"))
  }

  /** Incremental dedup candidates: a NEW batch checked against an
    * EXISTING corpus through band signatures — the shape every growing
    * training corpus needs. At scale the corpus side is the PERSISTED
    * signature table (signatureTable below): corpus text is never
    * re-shingled, and the banded join is bucket-bounded, never
    * batch × corpus.
    */
  val ddIncremental: Q = (s, d) => {
    val banded = md5Banded(tbl(s, d, "documents").where(col("doc_id") < 260))
    val batch = banded.where(col("doc_id") >= 200)
      .select(col("doc_id").as("new_id"), col("band"), col("bsig"))
    val corpus = banded.where(col("doc_id") < 200)
      .select(col("doc_id").as("corpus_id"), col("band"), col("bsig"))
    batch.join(corpus, Seq("band", "bsig"))
      .select(col("new_id"), col("corpus_id")).distinct()
      .orderBy(col("new_id"), col("corpus_id"))
  }
  val ddIncrementalSql: String = {
    val mins = (0 until NumHashes)
      .map(j => s"min(md5('$j:' || sh)) AS mh$j").mkString(", ")
    s"""WITH sig AS (
       |  SELECT doc_id, $mins
       |  FROM (SELECT doc_id,
       |               unnest(list_transform(range(1, len(text)-3), i -> substr(text, i, 5))) AS sh
       |        FROM documents WHERE doc_id < 260 AND len(text) >= 5)
       |  GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3) AS bsig FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, md5(mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7) AS bsig FROM sig)
       |SELECT DISTINCT b.doc_id AS new_id, c.doc_id AS corpus_id
       |FROM (SELECT * FROM banded WHERE doc_id >= 200) b
       |JOIN (SELECT * FROM banded WHERE doc_id < 200) c
       |  ON b.band = c.band AND b.bsig = c.bsig
       |ORDER BY new_id, corpus_id""".stripMargin
  }
  val lshPairsSql: String = {
    val mins = (0 until NumHashes)
      .map(j => s"min(md5('$j:' || sh)) AS mh$j").mkString(", ")
    s"""WITH sig AS (
       |  SELECT doc_id, $mins
       |  FROM (SELECT doc_id,
       |               unnest(list_transform(range(1, len(text)-3), i -> substr(text, i, 5))) AS sh
       |        FROM documents WHERE doc_id < 200 AND len(text) >= 5)
       |  GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3) AS bsig FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, md5(mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7) AS bsig FROM sig)
       |SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |FROM banded x JOIN banded y ON x.band = y.band AND x.bsig = y.bsig
       |WHERE x.doc_id < y.doc_id ORDER BY a, b""".stripMargin
  }

  /** Exact n-gram Jaccard over a probe set: the LSH verify step. */
  val ngramJaccard: Q = (s, d) => {
    // pinned (r18 batch 4): probe-bounded (30 docs) shingle set feeds
    // the size aggregate and both self-join sides — 3 unpinned copies
    // of the scan+explode+distinct subtree
    val sh = Pins(shingles(tbl(s, d, "documents").where(col("doc_id") < 30)).distinct())
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = sh.select(col("doc_id").as("a"), col("sh"))
      .join(sh.select(col("doc_id").as("b"), col("sh")), Seq("sh"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("sza") + col("szb") - col("inter")).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= 0.2)
      .orderBy(col("a"), col("b"))
  }
  val ngramJaccardSql: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(text)-3), i -> substr(text, i, 5))) AS sh
      |    FROM documents WHERE doc_id < 30 AND len(text) >= 5)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      |  FROM sh x JOIN sh y ON x.sh = y.sh WHERE x.doc_id < y.doc_id
      |  GROUP BY 1, 2)
      |SELECT a, b,
      |       CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
      |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
      |WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.2
      |ORDER BY a, b""".stripMargin

  /** dd_lsh_eval — the measured point behind dd_lsh_curve's theory sheet:
    * precision/recall of the 2-band×4-row LSH candidate set against
    * EXACT Jaccard ≥ 0.2 ground truth on the probe domain (doc_id <
    * 200, the lshPairs fixture). The eval every banding re-tune runs
    * before shipping: the curve says P(candidate | s) analytically; this
    * measures what the corpus actually yields — recall misses are pairs
    * above threshold that no band caught, precision misses are band
    * collisions below it (the verify stage's workload). The measured
    * point agrees with the sheet: at a J ≈ 0.2 ground-truth bar the
    * curve predicts P(candidate) = 1−(1−0.2⁴)² ≈ 0.003, and the gate
    * measures recall in exactly that band — the b=2, r=4 banding is a
    * NEAR-dup sieve; catching 0.2-similar pairs needs more bands of
    * fewer rows (the curve names the trade).
    *
    * Scale shape: ground truth comes from the shared-shingle equi-join
    * (pairs with zero shared shingles have J = 0 and can't enter either
    * set), LSH candidates from the banded equi-join — both
    * bucket-bounded; the two pair sets full-outer-join on (a, b) and
    * reduce to one metrics row. At corpus scale ground truth is computed
    * on a SAMPLED probe domain exactly like this gate's.
    */
  val lshEval: Q = (s, d) => {
    val docs = tbl(s, d, "documents").where(col("doc_id") < 200)
    // r18, examined and deliberately LEFT ALONE: the plan duplicates the
    // shingle/minhash subtrees (plans/r18/dd_lsh_eval_before.txt — 6
    // scans, 11 exchanges), but both A/B'd pin variants LOST to the
    // duplication on wall clock (same-session isolated medians: plain
    // 1.06–1.33 s; +banded checkpoint 1.71; +shingle checkpoint too
    // 1.19): the duplicated subtrees are probe-domain-bounded
    // (doc_id < 200 at every sf) and run concurrently on idle cores,
    // while each eager checkpoint is a serial job on the critical path.
    // The bound means the trade cannot flip with corpus scale.
    val sh = shingles(docs).distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val truth = sh.select(col("doc_id").as("a"), col("sh"))
      .join(sh.select(col("doc_id").as("b"), col("sh")), Seq("sh"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
      .where(col("inter").cast("double") /
        (col("sza") + col("szb") - col("inter")).cast("double") >= 0.2)
      .select(col("a"), col("b"), lit(1L).as("in_truth"))
    val banded = md5Banded(docs)
    val cand = banded.select(col("doc_id").as("a"), col("band"), col("bsig"))
      .join(banded.select(col("doc_id").as("b"), col("band"), col("bsig")),
        Seq("band", "bsig"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
      .withColumn("in_cand", lit(1L))
    truth.join(cand, Seq("a", "b"), "full_outer")
      .agg(
        coalesce(sum(col("in_cand")), lit(0L)).as("n_candidates"),
        coalesce(sum(col("in_truth")), lit(0L)).as("n_truth"),
        coalesce(sum(col("in_cand") * col("in_truth")), lit(0L)).as("tp"))
      .select(col("n_candidates"), col("n_truth"), col("tp"),
        round(col("tp").cast("double") / col("n_candidates"), 6).as("precision"),
        round(col("tp").cast("double") / col("n_truth"), 6).as("recall"))
  }
  val lshEvalSql: String = {
    val mins = (0 until NumHashes)
      .map(j => s"min(md5('$j:' || sh)) AS mh$j").mkString(", ")
    s"""WITH shj AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id,
       |           unnest(list_transform(range(1, len(text)-3), i -> substr(text, i, 5))) AS sh
       |    FROM documents WHERE doc_id < 200 AND len(text) >= 5)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shj GROUP BY doc_id),
       |truth AS (
       |  SELECT a, b, 1 AS in_truth FROM (
       |    SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
       |    FROM shj x JOIN shj y ON x.sh = y.sh WHERE x.doc_id < y.doc_id
       |    GROUP BY 1, 2) i
       |  JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
       |  WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.2),
       |sig AS (
       |  SELECT doc_id, $mins
       |  FROM (SELECT doc_id,
       |               unnest(list_transform(range(1, len(text)-3), i -> substr(text, i, 5))) AS sh
       |        FROM documents WHERE doc_id < 200 AND len(text) >= 5)
       |  GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3) AS bsig FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, md5(mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7) AS bsig FROM sig),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b, 1 AS in_cand
       |  FROM banded x JOIN banded y ON x.band = y.band AND x.bsig = y.bsig
       |  WHERE x.doc_id < y.doc_id),
       |joined AS (
       |  SELECT coalesce(t.in_truth, 0) AS in_truth, coalesce(c.in_cand, 0) AS in_cand
       |  FROM truth t FULL OUTER JOIN cand c ON t.a = c.a AND t.b = c.b)
       |SELECT CAST(sum(in_cand) AS BIGINT) AS n_candidates,
       |       CAST(sum(in_truth) AS BIGINT) AS n_truth,
       |       CAST(sum(in_cand * in_truth) AS BIGINT) AS tp,
       |       round(CAST(sum(in_cand * in_truth) AS DOUBLE) / sum(in_cand), 6) AS precision,
       |       round(CAST(sum(in_cand * in_truth) AS DOUBLE) / sum(in_truth), 6) AS recall
       |FROM joined""".stripMargin
  }

  /** Substring-level duplication signal (the word-k-gram approximation of
    * suffix-array exact-substring dedup, Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better"): a k-gram position is
    * "duplicated" when its gram occurs ≥2 times anywhere in the corpus
    * (another doc OR a repeat in the same doc); per doc we report the
    * fraction of duplicated positions — the score a span-removal pass
    * thresholds on.
    *
    * Scale shape: one explode (doc scan) → one shuffle keyed on the gram
    * for the global count → one shuffle back to doc_id. Gram cardinality
    * is O(corpus tokens), so the count table is hash-partitioned, never
    * collected or broadcast; at 100 TB both shuffles are map-side-combined
    * hash aggregations. No pairwise anything.
    */
  val DupK = 5

  /** (doc_id, start, gram) k-gram occurrences — k shifted slices zipped,
    * not transform(sequence, λ): higher-order functions are
    * CodegenFallback (interpreted); measured 2.7× slower.
    */
  private def dupGramsWithStart(docs: DataFrame): DataFrame = {
    val slices = (0 until DupK).map(i =>
      slice(col("toks"), lit(i + 1), size(col("toks")) - (DupK - 1)))
    val gramCols = (0 until DupK).map(i => col(s"z.$i"))
    docs
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= DupK)
      .select(col("doc_id"), posexplode(arrays_zip(slices: _*)).as(Seq("start", "z")))
      .select(col("doc_id"), col("start"), concat_ws(" ", gramCols: _*).as("gram"))
  }

  /** The DUPLICATED-gram count table (n ≥ 2 only) — the shared artifact
    * both dup-scoring and span-removal consume. O(duplicated distinct
    * grams), a strict subset of the full gram-count table, and like the
    * LM counts a per-corpus-snapshot build: the Q wrappers memoize it per
    * (session, dir) so scorer and remover run against ONE materialized
    * count pass instead of each re-exploding the corpus.
    */
  def dupGramCounts(docs: DataFrame): DataFrame =
    dupGramsWithStart(docs)
      .groupBy(col("gram")).agg(count(lit(1)).as("n"))
      .where(col("n") >= 2)

  /** The corpus-duplicated-gram table (gram, n≥2) as a per-snapshot
    * parquet artifact. Previously a memoized
    * localCheckpoint: a CORPUS-sized table in executor block storage —
    * the exact failure class the trigram index (r14), geo neighbor
    * graph (r14), rc_ pair table (r15), and gr_hits edges (r15) each
    * hit before moving to parquet. The r16 full-battery sf10 run caught
    * it live: under neighbor-gate storage pressure the checkpointed
    * blocks' disk reads raced eviction ("temp_local_* No such file"),
    * the lost task KILLED the local SparkContext, and 153 later gates
    * cascaded. The parquet artifact is also the production shape — the
    * dup-gram table is built once per corpus snapshot and joined by
    * every span-dedup pass.
    */
  private[operators] def cachedDupCounts(s: SparkSession, d: String): DataFrame = {
    val fp = graft.Artifacts.fingerprint(s"$d/documents.parquet")
    graft.Artifacts.table(s, "dd_dupgrams", s"$d|$fp")(
      dupGramCounts(tbl(s, d, "documents")))
  }

  /** Duplicated-gram OCCURRENCES (doc_id, start) as a per-snapshot
    * artifact — the companion to [[cachedDupCounts]] that makes
    * counts-only consumers ([[spanRemovalCounts]] / pl_distill) free of
    * gram re-derivation at query time: the 100M-gram corpus explode
    * happens once per snapshot in this build (which itself rides the
    * committed counts artifact — a NESTED materialize, safe since the
    * root lock went reentrant), and the artifact is O(dup positions) —
    * tiny, because corpus-duplicated 5-grams are rare by construction.
    * Measured (sf10, isolated): pl_distill 101 s → artifact-served
    * seconds; before the counts-only split it was the battery's one
    * heap-OOM JVM kill.
    */
  private[operators] def cachedDupOccurrences(s: SparkSession, d: String): DataFrame = {
    val fp = graft.Artifacts.fingerprint(s"$d/documents.parquet")
    graft.Artifacts.table(s, "dd_dupocc", s"$d|$fp")(
      dupGramsWithStart(tbl(s, d, "documents").select(col("doc_id"), col("text")))
        .join(cachedDupCounts(s, d), Seq("gram"))
        .select(col("doc_id"), col("start")))
  }

  def dupNgramStats(docs: DataFrame,
                    counts: Option[DataFrame] = None): DataFrame = {
    val c = counts.getOrElse(dupGramCounts(docs))
    // left join against the n≥2 artifact: a unique gram simply misses
    dupGramsWithStart(docs).join(c, Seq("gram"), "left")
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("n").isNotNull, 1L).otherwise(0L)).as("n_dup"))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        round(col("n_dup").cast("double") / col("n_grams").cast("double"), 6)
          .as("dup_frac"))
  }

  val dupNgrams: Q = (s, d) =>
    dupNgramStats(tbl(s, d, "documents"), Some(cachedDupCounts(s, d)))
      .orderBy(col("doc_id"))

  val dupNgramsSql: String =
    s"""WITH g AS (
       |  SELECT doc_id,
       |         unnest(list_transform(range(0, len(toks) - $DupK + 1),
       |                i -> array_to_string(toks[i + 1 : i + $DupK], ' '))) AS gram
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
       |  WHERE len(toks) >= $DupK),
       |c AS (SELECT gram, count(*) AS n FROM g GROUP BY gram)
       |SELECT doc_id, count(*) AS n_grams,
       |       CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
       |       round(CAST(sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
       |             / count(*), 6) AS dup_frac
       |FROM g JOIN c USING (gram)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Span-level duplicate REMOVAL — the second half of the Lee et al.
    * recipe ([[dupNgramStats]] scores; this one edits): every token
    * position covered by a k-gram that occurs ≥2 times corpus-wide is
    * dropped, and the survivors are re-joined into the cleaned text, with
    * removed token/char counts for the budgeting report.
    *
    * Scale shape — same as the scorer plus one bounded explode: corpus
    * scan → gram-keyed count shuffle → rejoin of only DUPLICATED gram
    * occurrences → k-wide position explode (O(k × dup positions), k=5) →
    * anti-join against the token stream → per-doc re-assembly. No
    * pairwise work, nothing collected; the per-doc sort happens inside a
    * hash aggregate, not a global order.
    *
    * Docs shorter than k tokens carry no grams and pass through verbatim
    * (left join + coalesce) — a doc whose every position is duplicated
    * comes out as the empty string, not a dropped row, so the output stays
    * row-aligned with the input corpus.
    */
  def spanRemoval(docs: DataFrame,
                  counts: Option[DataFrame] = None): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val toks = base.select(col("doc_id"),
      posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
    val dupOcc = dupGramsWithStart(base)
      .join(counts.getOrElse(dupGramCounts(base)), Seq("gram"))
    val covered = dupOcc
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + lit(DupK - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("doc_id", "pos"), "left_anti")
      .groupBy(col("doc_id")).agg(
        array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          x => x.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"),
        sum(length(col("tok"))).as("kept_chars"))
    base
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"),
        (length(col("text")) - (size(split(col("text"), " ")) - 1)).cast("long")
          .as("tok_chars"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        (col("n_toks") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        (col("tok_chars") - coalesce(col("kept_chars"), lit(0L))).as("n_chars_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Per-doc span-removal COUNTS without text reconstruction:
    * (doc_id, n_toks, n_removed) where n_removed = |covered positions|.
    *
    * Why this exists next to [[spanRemoval]] (r17, found by the first
    * complete sf10 battery): a BUDGET consumer (pl_distill's per-lang
    * token report) needs only the counts, but riding the full
    * spanRemoval plan pays its per-token machinery — posexplode of
    * EVERY token (~100M rows at sf10), the (doc_id, pos) anti-join, and
    * a per-doc hash aggregation over all surviving tokens. Isolated
    * that fits; late in a full battery, with warmup-cached artifacts
    * holding storage memory, its execution-memory spike was the one
    * Java-heap OOM in 331 gates (executor-thread OOM → Spark's uncaught
    * handler exits the JVM — not even a session restart survives it).
    * The counts need none of that: duplicated grams are rare by
    * construction, so `dupOcc` ([[cachedDupOccurrences]], the
    * per-snapshot (doc_id, start) artifact) and `covered` (occurrences
    * × K positions) are tiny, n_removed is one small keyed count off
    * them, and n_toks is scan-side arithmetic — no gram re-derivation
    * at query time at all. At 100 TB the same split holds: reporting
    * reads the occurrence artifact; actual text rewriting is a
    * once-per-snapshot artifact write (the dd_span_removal gate's
    * job), never recomputed per report.
    */
  def spanRemovalCounts(docs: DataFrame, dupOcc: DataFrame): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val covered = dupOcc
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + lit(DupK - 1))).as("pos"))
      .distinct()
    val cov = covered.groupBy(col("doc_id")).agg(count(lit(1)).as("n_removed"))
    base
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_toks"))
      .join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_toks"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"))
  }

  val spanRemovalQ: Q = (s, d) =>
    spanRemoval(tbl(s, d, "documents"), Some(cachedDupCounts(s, d)))
      .orderBy(col("doc_id"))

  val spanRemovalSql: String =
    s"""WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents),
       |tp AS (
       |  SELECT doc_id, u.pos AS pos, u.tok AS tok
       |  FROM (SELECT doc_id,
       |               unnest(list_transform(range(0, len(toks)),
       |                      i -> {'pos': i, 'tok': toks[i + 1]})) AS u
       |        FROM d)),
       |gs AS (
       |  SELECT doc_id, u.start AS start, u.gram AS gram
       |  FROM (SELECT doc_id,
       |               unnest(list_transform(range(0, len(toks) - $DupK + 1),
       |                      i -> {'start': i,
       |                            'gram': array_to_string(toks[i + 1 : i + $DupK], ' ')})) AS u
       |        FROM d WHERE len(toks) >= $DupK)),
       |c AS (SELECT gram FROM gs GROUP BY gram HAVING count(*) >= 2),
       |cov AS (SELECT DISTINCT doc_id, start + j AS pos
       |        FROM gs JOIN c USING (gram), range(0, $DupK) t(j)),
       |kept AS (SELECT tp.* FROM tp ANTI JOIN cov USING (doc_id, pos)),
       |ka AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text,
       |              count(*) AS n_kept, sum(len(tok)) AS kept_chars
       |       FROM kept GROUP BY doc_id)
       |SELECT d.doc_id,
       |       CAST(len(toks) AS BIGINT) AS n_toks,
       |       CAST(len(toks) - coalesce(n_kept, 0) AS BIGINT) AS n_removed,
       |       CAST((len(text) - (len(toks) - 1)) - coalesce(kept_chars, 0) AS BIGINT)
       |         AS n_chars_removed,
       |       coalesce(clean_text, '') AS clean_text
       |FROM d LEFT JOIN ka USING (doc_id) ORDER BY doc_id""".stripMargin

  /** dd_substr_pairs — longest shared VERBATIM token run per document
    * pair (the diagnostic half of Lee et al.'s exact-substring dedup:
    * [[spanRemoval]] edits positions out; this reports which pairs share
    * long literal spans and how long — the provenance/attribution view a
    * dedup audit wants before deciding removal policy).
    *
    * Anchor-diff islands, no suffix array needed: if two docs share a
    * verbatim run of R ≥ k tokens they share exactly R−k+1 consecutive
    * k-gram anchors whose position offset (pa − pb) is CONSTANT along
    * the run. So: equi-join k-gram occurrences on the gram string,
    * group by (a, b, diff), and gaps-and-islands (pa − row_number) the
    * anchor positions — each island of size m is a maximal shared run of
    * m + k − 1 tokens. Reported: the max run and the count of distinct
    * qualifying runs per pair, thresholded at MinRun = 8 tokens (the
    * measured corpus splits bimodally: chance single-anchor collisions
    * at run = k = 5, planted duplicated spans at 11+).
    *
    * Scale shape: the join is keyed on the gram — the same
    * dup-gram-bounded equi-join dd_span_removal's coverage step does
    * (candidate volume Σ_gram df², concentrated in genuinely duplicated
    * grams); islands run in (a, b, diff)-partitioned windows, never
    * global. No pairwise product over the corpus: a pair enters only
    * through a shared anchor.
    */
  val MinRun = 8

  /** The anchor-diff kernel over an arbitrary (doc_id, text) frame —
    * factored so a spec can drive it on a PLANTED corpus and assert the
    * Lee et al. maximal-run semantics directly (run length = island
    * size + k − 1), which the gate's live-corpus oracle replays but
    * cannot pin to known spans.
    *
    * `dfCap` is the 100 TB throttle (r12 VERDICT: this was the suite's
    * fastest-growing gate — 3.4× wall at 10× data, driven by Σ df² over
    * boilerplate grams). When set, pair discovery uses only anchors
    * with document frequency ≤ cap, then the island build runs EXACTLY
    * but restricted to discovered pairs' docs — so every reported
    * pair's runs are still exact maximal runs over ALL anchors. The
    * (documented) recall contract under a cap: a pair is reported iff
    * it shares ≥ 1 anchor occurring ≤ cap times in the corpus — pairs
    * whose ONLY shared content is >cap boilerplate (a 5-gram occurring
    * more times than the cap) are deliberately out of scope for the
    * pair report;
    * corpus-wide boilerplate is [[spanRemoval]]'s job, not a pair
    * audit's. The driver gate runs uncapped (exact, oracle-matched).
    */
  def substrPairsOf(docs: DataFrame, minRun: Int = MinRun,
                    dfCap: Option[Long] = None,
                    materializeAnchors: DataFrame => DataFrame = identity): DataFrame = {
    // m = the pair-anchor rows (a, b, pa, diff) the island build consumes
    val m = dfCap match {
      case None =>
        // the anchor table is THE per-snapshot index of this operator
        // (the k-gram stand-in for Lee et al.'s suffix array): without
        // the hook, both join sides recompute the 25M-row explode +
        // gram-string build (r15 probe: ~2/3 of the gate's sf10 wall);
        // the gate materializes it once as a parquet artifact and both sides
        // scan the parquet artifact
        val g = materializeAnchors(dupGramsWithStart(docs))
        val a = g.select(col("gram"), col("doc_id").as("a"), col("start").as("pa"))
        val b = g.select(col("gram"), col("doc_id").as("b"), col("start").as("pb"))
        a.join(b, Seq("gram")).where(col("a") < col("b"))
          .select(col("a"), col("b"), col("pa"), (col("pa") - col("pb")).as("diff"))
      case Some(cap) =>
        // the gram table feeds counts, phase 1, and phase 2 — persist it
        // once instead of re-exploding the corpus per consumer (measured
        // the difference between ~5 corpus explodes and 1)
        val g0 = dupGramsWithStart(docs).persist()
        try {
          // phase 1: pairs sharing a rare anchor — rarity from the
          // OCCURRENCE-count table (the same map-side-combined artifact
          // dupNgramStats/spanRemoval build), not a per-gram
          // countDistinct(doc_id), which measured 14× slower at sf10 for
          // no recall difference the contract cares about (occurrences ≥
          // docs, so the cap is merely stricter)
          val rare = g0.groupBy(col("gram")).agg(count(lit(1)).as("n"))
            .where(col("n") >= 2 && col("n") <= cap).select(col("gram"))
          val occ = g0.join(rare, Seq("gram"), "left_semi")
          val cand = occ.select(col("gram"), col("doc_id").as("a"))
            .join(occ.select(col("gram"), col("doc_id").as("b")), Seq("gram"))
            .where(col("a") < col("b"))
            .select(col("a"), col("b")).distinct()
          // phase 2: ALL anchors of candidate docs (runs stay exact),
          // routed THROUGH the discovered pairs: tag each left anchor
          // with its partners, then fetch only the partner's occurrences
          // of that gram — anchor volume is Σ_pairs(shared anchors),
          // never df² (a boilerplate gram among candidate docs would
          // otherwise re-explode quadratically)
          val docsIn = cand.select(col("a").as("doc_id"))
            .union(cand.select(col("b").as("doc_id"))).distinct()
          val g = g0.join(docsIn, Seq("doc_id"), "left_semi")
          val a = g.select(col("gram"), col("doc_id").as("a"), col("start").as("pa"))
          val b = g.select(col("gram"), col("doc_id").as("b"), col("start").as("pb"))
          // eager localCheckpoint: materializes the pair-anchor rows
          // (bounded by Σ_pairs shared anchors) so the corpus-scale g0
          // cache can be RELEASED here instead of pinning executor
          // storage for the session lifetime
          Pins(a.join(cand, Seq("a"))
            .join(b, Seq("gram", "b"))
            .select(col("a"), col("b"), col("pa"), (col("pa") - col("pb")).as("diff")))
        } finally g0.unpersist()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("a"), col("b"), col("diff")).orderBy(col("pa"))
    val runs = m.withColumn("island", col("pa") - row_number().over(w))
      .groupBy(col("a"), col("b"), col("diff"), col("island"))
      .agg((count(lit(1)) + lit(DupK - 1)).as("run_toks"))
    runs.groupBy(col("a").as("doc_a"), col("b").as("doc_b"))
      .agg(max(col("run_toks")).as("max_run"),
        sum(when(col("run_toks") >= minRun, 1L).otherwise(0L)).as("n_runs"))
      .where(col("max_run") >= minRun)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val substrPairs: Q = (s, d) => {
    val fp = graft.Artifacts.fingerprint(s"$d/documents.parquet")
    substrPairsOf(tbl(s, d, "documents").select(col("doc_id"), col("text")),
      materializeAnchors = df => graft.Artifacts.table(s, "substr_anchors", s"$d|$fp")(df))
  }
  val substrPairsSql: String =
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |gs AS (
       |  SELECT doc_id, u.start AS start, u.gram AS gram
       |  FROM (SELECT doc_id,
       |               unnest(list_transform(range(0, len(toks) - $DupK + 1),
       |                      i -> {'start': i,
       |                            'gram': array_to_string(toks[i + 1 : i + $DupK], ' ')})) AS u
       |        FROM d WHERE len(toks) >= $DupK)),
       |m AS (
       |  SELECT ga.doc_id AS a, gb.doc_id AS b, ga.start AS pa,
       |         ga.start - gb.start AS diff
       |  FROM gs ga JOIN gs gb USING (gram) WHERE ga.doc_id < gb.doc_id),
       |isl AS (
       |  SELECT a, b, diff, pa,
       |         pa - row_number() OVER (PARTITION BY a, b, diff ORDER BY pa) AS island
       |  FROM m),
       |runs AS (
       |  SELECT a, b, diff, island, count(*) + ${DupK - 1} AS run_toks
       |  FROM isl GROUP BY a, b, diff, island)
       |SELECT a AS doc_a, b AS doc_b, max(run_toks) AS max_run,
       |       CAST(sum(CASE WHEN run_toks >= $MinRun THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
       |FROM runs GROUP BY a, b
       |HAVING max(run_toks) >= $MinRun
       |ORDER BY doc_a, doc_b""".stripMargin

  /** SimHash: 16-bit signatures from token-level md5 parities. */
  val simhash: Q = (s, d) => {
    val toks = tbl(s, d, "documents").where(col("doc_id") < 50)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val sums = (0 until 16).map(i =>
      sum(expr(s"2 * (ascii(substr(md5(tok), ${i + 1}, 1)) % 2) - 1")).as(s"s$i"))
    val bits = (0 until 16).map(i =>
      when(col(s"s$i") > 0, lit(1L << i)).otherwise(lit(0L)))
    toks.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), bits.reduce(_ + _).cast("long").as("simhash"))
      .orderBy(col("doc_id"))
  }
  val simhashSql: String = {
    val sums = (0 until 16)
      .map(i => s"SUM(2 * (ascii(substr(md5(tok), ${i + 1}, 1)) % 2) - 1) AS s$i")
      .mkString(",\n         ")
    val bits = (0 until 16)
      .map(i => s"CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok
       |  FROM documents WHERE doc_id < 50),
       |sums AS (
       |  SELECT doc_id,
       |         $sums
       |  FROM toks GROUP BY doc_id)
       |SELECT doc_id, CAST($bits AS BIGINT) AS simhash
       |FROM sums ORDER BY doc_id""".stripMargin
  }

  /** Embedding-cosine near-duplicates over a probe set (float arrays cast
    * to double; result rounded to 6 dp — engines may associate the final
    * divide differently).
    */
  val embeddingNearDup: Q = (s, d) => {
    val e = tbl(s, d, "embeddings").where(col("vec_id") < 100)
    val a = e.select(col("vec_id").as("a"), col("embedding").as("ea"))
    val b = e.select(col("vec_id").as("b"), col("embedding").as("eb"))
    a.crossJoin(b).where(col("a") < col("b"))
      .select(col("a"), col("b"),
        round(graft.functions.vector.cosine_sim(col("ea"), col("eb")), 6).as("cos"))
      .where(col("cos") >= 0.3)
      .orderBy(col("a"), col("b"))
  }
  val embeddingNearDupSql: String =
    """SELECT x.vec_id AS a, y.vec_id AS b,
      |       round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
      |                                    CAST(y.embedding AS DOUBLE[])), 6) AS cos
      |FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
      |WHERE x.vec_id < 100 AND y.vec_id < 100
      |  AND round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
      |                                   CAST(y.embedding AS DOUBLE[])), 6) >= 0.3
      |ORDER BY a, b""".stripMargin

  // -------------------------------------------------------- scale-path API

  /** xxhash64 minhash signatures (the 100 TB path: long-typed, codegen'd,
    * no hex strings). k hash functions via seed mixing.
    */
  def minhashSignatures(docs: DataFrame, k: Int = 32): DataFrame = {
    val sh = shingles(docs)
    val aggs = (0 until k).map(j => min(xxhash64(lit(j), col("sh"))).as(s"mh$j"))
    sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** The corpus's persisted signature state: compute once per document at
    * ingest, store alongside the corpus, band on read. Re-used by every
    * later incremental batch (incrementalCandidates) without touching
    * corpus text again.
    */
  def signatureTable(docs: DataFrame, k: Int = 32): DataFrame =
    minhashSignatures(docs, k)

  /** Band xxhash64 signatures → (doc_id, band, bucket). */
  private def xxBanded(sig: DataFrame, k: Int, bands: Int): DataFrame = {
    // a non-dividing band count would silently drop the trailing k%bands
    // signature rows (changing recall with no warning), and bands > k
    // would build a zero-argument xxhash64 — fail fast instead
    require(bands > 0 && k % bands == 0,
      s"bands ($bands) must divide the signature length k ($k)")
    val rows = k / bands
    val bandCols = (0 until bands).map { bnd =>
      val cols = (bnd * rows until (bnd + 1) * rows).map(j => col(s"mh$j"))
      struct(lit(bnd).as("band"), xxhash64(cols: _*).as("bucket"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** LSH candidate pairs from xxhash64 signatures: `bands` bands of
    * k/bands rows; one shuffle keyed by (band, bucket).
    */
  def lshCandidatePairs(docs: DataFrame, k: Int = 32, bands: Int = 8): DataFrame = {
    val banded = xxBanded(minhashSignatures(docs, k), k, bands)
    banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
  }

  /** Candidate pairs BETWEEN two signature tables (band equi-join) —
    * the building block the incremental paths share: batch↔corpus uses
    * (batchSigs, corpusSigs); batch-internal uses (batchSigs, batchSigs).
    * Returns RAW (a, b) collisions: no orientation or self-pair policy
    * is applied HERE because the right policy depends on the call — a
    * batch-internal caller adds `a < b` (dedup + self-drop, as
    * IncrementalClusters.foldCore does), while a batch↔corpus caller
    * must NOT (batch ids and corpus ids are unordered relative to each
    * other, and a<b would silently drop half the cross pairs).
    */
  def bandedPairs(sigsA: DataFrame, sigsB: DataFrame,
                  k: Int = 32, bands: Int = 8): DataFrame = {
    val a = xxBanded(sigsA, k, bands)
      .select(col("doc_id").as("a"), col("band"), col("bucket"))
    val b = xxBanded(sigsB, k, bands)
      .select(col("doc_id").as("b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket")).select(col("a"), col("b")).distinct()
  }

  /** Incremental candidates at scale: band the batch's fresh signatures
    * against the corpus's persisted signatureTable. Returns
    * (new_id, corpus_id); verify survivors with exact Jaccard over just
    * the candidate docs (nearDuplicates' verify stage).
    */
  def incrementalCandidates(newDocs: DataFrame, corpusSigs: DataFrame,
                            k: Int = 32, bands: Int = 8): DataFrame =
    bandedPairs(minhashSignatures(newDocs, k), corpusSigs, k, bands)
      .select(col("a").as("new_id"), col("b").as("corpus_id"))

  /** End-to-end near-dup detection: LSH candidates verified by exact
    * shingle Jaccard ≥ threshold. Returns (a, b, jaccard).
    */
  def nearDuplicates(docs: DataFrame, threshold: Double = 0.7,
                     k: Int = 32, bands: Int = 8): DataFrame = {
    // one corpus shingle pass feeds signatures, sizes, and both verify
    // legs — unpersisted, Catalyst re-exploded the corpus ~4× per call
    // (the substrPairsOf dfCap lesson); the near-dup result is small, so
    // materialize it eagerly and release the shingle cache before return
    val sh = shingles(docs).distinct().persist()
    val aggs = (0 until k).map(j => min(xxhash64(lit(j), col("sh"))).as(s"mh$j"))
    val sigs = sh.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val banded = xxBanded(sigs, k, bands)
    val cands = banded.as("x").join(banded.as("y"), Seq("band", "bucket"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = cands
      .join(sh.select(col("doc_id").as("a"), col("sh")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("sh").as("shb")), Seq("b"))
      .where(col("sh") === col("shb"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    val out = inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
      .select(col("a"), col("b"),
        (col("inter").cast("double") / (col("sza") + col("szb") - col("inter")).cast("double"))
          .as("jaccard"))
      .where(col("jaccard") >= threshold)
    try Pins(out) finally sh.unpersist()
  }

  // ------------------------------------------------------- decontamination

  /** Distinct word n-grams per document — shared by dcOverlap's two sides
    * and the pl_pretrain composition. element_at is 1-indexed, matching
    * DuckDB list indexing, so the gram construction is
    * verbatim-identical in both engines.
    */
  def docNGrams(df: DataFrame, n: Int): DataFrame =
    wordGramsZip(df, "doc_id", n).distinct()

  /** (id, gram) word n-gram occurrences (duplicates kept) for any
    * (id, text) frame — n shifted slices zipped, the dupGramsWithStart
    * technique. NOT `transform(sequence, λ)`: higher-order functions are
    * CodegenFallback (interpreted) and re-evaluate non-foldable
    * subexpressions per element; the zip form measured 1.5–4× faster
    * across the gram-building gates (r12). Shared by Dedup, Pipeline,
    * and TextAnalysis so every gram build pays the codegen'd path.
    */
  def wordGramsZip(df: DataFrame, idCol: String, n: Int,
                   out: String = "gram"): DataFrame = {
    val slices = (0 until n).map(i =>
      slice(col("toks"), lit(i + 1), size(col("toks")) - (n - 1)))
    val gramCols = (0 until n).map(i => col(s"z.$i"))
    df.select(col(idCol), split(col("text"), " ").as("toks"))
      .where(size(col("toks")) >= n)
      .select(col(idCol), explode(arrays_zip(slices: _*)).as("z"))
      .select(col(idCol), concat_ws(" ", gramCols: _*).as(out))
  }

  /** DuckDB counterpart of docNGrams: the unnest expression + length
    * guard, generated from the same `n` so the oracles can't drift.
    */
  def ngramUnnestSql(n: Int): String = {
    val parts = (0 until n).map(j => s"string_split(text, ' ')[i+$j]")
      .mkString(" || ' ' || ")
    s"unnest(list_transform(range(1, len(string_split(text, ' ')) - ${n - 2}), i -> $parts))"
  }
  def ngramGuardSql(n: Int): String = s"len(string_split(text, ' ')) >= $n"

  /** dc_overlap — train/eval decontamination by word-3-gram overlap: flag
    * every training document sharing at least one 3-gram with the held-out
    * eval slice, with the count of distinct shared grams as evidence.
    * (Real pipelines use 8-13-token grams; the synthetic corpus' vocab is
    * ~30 words, so 3 grams is the length where overlap actually occurs —
    * the operator is length-parametric via `docNGrams`.)
    * The standard pre-training hygiene step (eval-set leakage detection).
    *
    * Scale shape: the eval side is tiny by construction (benchmarks are
    * KBs, corpora are TBs), so its distinct gram set BROADCASTS — the
    * corpus side is one narrow scan + explode + broadcast-semi-join +
    * keyed agg; the corpus never shuffles its text. At 100 TB swap the
    * exact broadcast set for a bloom filter built the same way (false
    * positives → a second exact pass over the ~0.1% flagged).
    *
    * Eval slice = doc_id % 97 == 0 (deterministic stand-in for a real
    * benchmark table); train probe capped at doc_id < 300 to bound gate
    * cost.
    */
  val dcOverlap: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
    val evalGrams = docNGrams(docs.where(col("doc_id") % 97 === 0), 3)
      .select(col("gram")).distinct()
    val trainGrams = docNGrams(docs.where(col("doc_id") < 300 && col("doc_id") % 97 =!= 0), 3)
    trainGrams.join(broadcast(evalGrams), Seq("gram"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("shared_grams"))
      .orderBy(col("doc_id"))
  }
  val dcOverlapSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, ${ngramUnnestSql(3)} AS gram
       |  FROM documents WHERE ${ngramGuardSql(3)}),
       |gd AS (SELECT DISTINCT doc_id, gram FROM g),
       |ev AS (SELECT DISTINCT gram FROM gd WHERE doc_id % 97 = 0),
       |tr AS (SELECT doc_id, gram FROM gd WHERE doc_id < 300 AND doc_id % 97 != 0)
       |SELECT doc_id, count(*) AS shared_grams
       |FROM tr JOIN ev USING (gram)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** The 100 TB decontamination path the dc_overlap scaladoc promises:
    * the eval gram set compressed to a Bloom filter (KBs instead of the
    * exact set's memory), corpus grams pre-filtered by `mightContain`,
    * then an EXACT confirm join over only the bloom-positive slice — so
    * false positives cost a second look at ~fpp of the grams, never a
    * wrong flag. Result is therefore identical to the exact overlap
    * (asserted in LlmOpsSpec), while the broadcast payload stays
    * constant-size no matter how many benchmarks the eval side holds.
    *
    * The probe is Spark's native [[org.apache.spark.sql.catalyst
    * .expressions.BloomFilterMightContain]] over an `xxhash64` of the
    * gram — the same (build: `bloom_filter_agg`, probe: `might_contain`)
    * expression pair Spark's own runtime row-level filtering injects, so
    * the filter sits INSIDE whole-stage codegen (the r10 verdict flagged
    * the previous per-row Scala udf here as the suite's only udf).
    * `might_contain` has no FunctionRegistry entry in 4.1, so the
    * expression is constructed through ColumnBridge; the bloom bytes
    * ride a constant literal (the eval-gram aggregate is KB-sized by the
    * fixed-eval-set contract, and the expression requires a
    * constant/scalar-subquery filter side).
    */
  def bloomContaminated(train: DataFrame, evalDocs: DataFrame, n: Int = 3,
                        fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    // Pinned (r18 batch 3): the eval gram set is referenced three times
    // (sizing count, bloom build, exact-confirm join) and each unpinned
    // reference re-ran the corpus scan + gram explode (measured: 4
    // parquet scans for an eval-slice-sized set). Eval sets are bounded
    // by construction — the broadcast-ability argument below already
    // depends on that.
    val evalGrams = Pins(docNGrams(evalDocs, n).select(col("gram")))
    val expected = math.max(evalGrams.count(), 1L)
    // standard sizing: m = -n·ln(fpp)/ln(2)², same formula stat.bloomFilter used
    val numBits = math.max(64L,
      math.ceil(-expected * math.log(fpp) / (math.log(2) * math.log(2))).toLong)
    // bloom_filter_agg has no SQL registration in 4.1 — build the
    // aggregate expression directly (same class runtime filtering uses)
    val agg = ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        ColumnBridge.expression(xxhash64(col("gram"))),
        org.apache.spark.sql.catalyst.expressions.Literal(expected),
        org.apache.spark.sql.catalyst.expressions.Literal(numBits))
        .toAggregateExpression())
    val bytes = evalGrams.select(agg.as("bf")).head().getAs[Array[Byte]](0)
    val probe = ColumnBridge.column(BloomFilterMightContain(
      org.apache.spark.sql.catalyst.expressions.Literal.create(
        bytes, org.apache.spark.sql.types.BinaryType),
      ColumnBridge.expression(xxhash64(col("gram")))))
    docNGrams(train, n)
      .where(probe)                            // codegen'd pre-filter, ~fpp FPs
      .join(evalGrams.distinct(), Seq("gram")) // exact confirm on the slice
      .select(col("doc_id")).distinct()
  }

  /** dc_bloom — the bloom path as a gate query: because of the exact
    * confirm join its answer is IDENTICAL to the exact overlap, so the
    * same DuckDB oracle checks the whole bloom pipeline (build → probe →
    * confirm) hash-exactly; fpp only moves the confirm-join input size.
    */
  val dcBloom: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
    bloomContaminated(
      docs.where(col("doc_id") < 300 && col("doc_id") % 97 =!= 0),
      docs.where(col("doc_id") % 97 === 0))
      .orderBy(col("doc_id"))
  }
  val dcBloomSql: String =
    s"""WITH g AS (
       |  SELECT doc_id, ${ngramUnnestSql(3)} AS gram
       |  FROM documents WHERE ${ngramGuardSql(3)}),
       |gd AS (SELECT DISTINCT doc_id, gram FROM g),
       |ev AS (SELECT DISTINCT gram FROM gd WHERE doc_id % 97 = 0),
       |tr AS (SELECT doc_id, gram FROM gd WHERE doc_id < 300 AND doc_id % 97 != 0)
       |SELECT DISTINCT doc_id FROM tr JOIN ev USING (gram) ORDER BY doc_id""".stripMargin

  // ----------------------------------------------------------------- export

  /** dd_ppjoin — EXACT all-pairs similarity join with prefix filtering
    * (PPJoin family, Xiao et al. 2011; the AllPairs candidate rule of
    * Bayardo et al. 2007): every doc pair with 5-gram-set Jaccard ≥ τ,
    * with NO false negatives — the exact counterpart to dd_lsh_pairs'
    * probabilistic banding.
    *
    * Pruning argument: order each doc's grams rarest-first (ascending
    * document frequency, gram string tie-break). If J(x,y) ≥ τ then
    * |x∩y| ≥ ⌈τ·|x|⌉, and any ⌈τ·|x|⌉ elements of x must intersect its
    * first |x|−⌈τ·|x|⌉+1 positions — so x and y share a PREFIX gram, and
    * the candidate stage is an equi-join on prefix grams only. Because
    * prefixes hold the RAREST grams, candidate buckets are the smallest
    * ones: work is Σ_prefix-gram df², not corpus². At 100 TB: the df
    * count and the df-annotation are one keyed shuffle each (no
    * corpus-sized broadcast anywhere), candidates shuffle on the prefix
    * gram, and verification is a bounded count-join over candidate pairs.
    * The ORACLE is the unpruned all-pairs join — the gate hash-proves the
    * pruned plan returns exactly the naive answer.
    */
  def ppJoin(docs: DataFrame, n: Int, tau: Double,
             materializeLists: DataFrame => DataFrame = Pins(_)): DataFrame = {
    // Each doc's grams become ONE sorted array of "df(10-digit)|gram"
    // keys — zero-padded df first, so UTF8 binary order ≡ the (df, gram)
    // rarest-first order, and the SAME array serves three stages: its
    // first plen entries are the prefix (candidate join key = the padded
    // string; equality on it ≡ equality on the gram), and the verify
    // intersection is a codegen'd merge scan over the two sorted arrays
    // (SortedIntersectCount) instead of a per-pair explode + count-join —
    // the explode-join formulation cost two more corpus-sized shuffles
    // (measured 2.2 → 2.0 s at sf0.1; the remaining floor is the 4-shuffle index build). The lists table is materialized
    // once (dupGramCounts discipline); at 100 TB it is the persisted
    // similarity index, and the da/db joins below are keyed equi-joins
    // AQE sizes (no broadcast hint — the table grows with the corpus).
    val grams = docNGrams(docs, n)
    val dfc = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val lists0 = grams.join(dfc, Seq("gram"))
      .select(col("doc_id"),
        concat(lpad(col("df").cast("string"), 10, "0"), lit("|"), col("gram")).as("key"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("key"))).as("gs"))
      .withColumn("sz", size(col("gs")).cast("long"))
      // ε-slack inside the ceil (r13 audit): sz·τ can overshoot in IEEE
      // (100·0.07 = 7.000000000000001 → ceil 8), SHORTENING the prefix
      // and dropping a true pair; subtracting the slack only lengthens
      // the prefix, preserving the no-false-negative contract at any τ
      .withColumn("plen",
        (col("sz") - ceil(col("sz") * lit(tau) - lit(1e-9)) + lit(1)).cast("int"))
    // materialized via the caller's hook: the gate routes it to an
    // parquet artifact (r15 — the 500k-doc lists table held
    // ~750 MB of block storage under localCheckpoint and the verify
    // stage died UNABLE_TO_ACQUIRE_MEMORY under batch pressure at sf10;
    // parquet is also what "persisted similarity index" means at 100 TB).
    // Library callers with small frames keep the localCheckpoint default.
    val listsM = materializeLists(lists0)
    // Candidate prunes beyond the prefix join, both classic PPJoin and
    // both UPPER-bound arguments (no false negatives — the unpruned
    // oracle hash-proves it):
    //  - length filter: J ≥ τ ⇒ τ·max(|x|,|y|) ≤ min(|x|,|y|);
    //  - positional filter: a shared prefix key at 0-based positions
    //    (pa, pb) bounds the overlap by min(|x|−pa, |y|−pb), which must
    //    reach the equivalent-overlap threshold τ/(1+τ)·(|x|+|y|).
    // The ε-slack only LOOSENS each cut, so double rounding can never
    // turn a true pair away; both run on the candidate rows before the
    // distinct and the verify joins ever see them.
    val minOv = (col("sza") + col("szb")) * lit(tau / (1 + tau)) - lit(1e-9)
    val prefix = listsM.select(col("doc_id"), col("sz"),
      posexplode(expr("slice(gs, 1, plen)")).as(Seq("pos", "key")))
    val cand = prefix
      .select(col("doc_id").as("da"), col("sz").as("sza"), col("pos").as("pa"), col("key"))
      .join(prefix
        .select(col("doc_id").as("db"), col("sz").as("szb"), col("pos").as("pb"), col("key")),
        Seq("key"))
      .where(col("da") < col("db") &&
        least(col("sza"), col("szb")).cast("double") >=
          greatest(col("sza"), col("szb")) * lit(tau) - lit(1e-9) &&
        least(col("sza") - col("pa"), col("szb") - col("pb")).cast("double") >= minOv)
      .select(col("da"), col("db")).distinct()
    cand
      .join(listsM.select(col("doc_id").as("da"), col("gs").as("gsa"), col("sz").as("sza")), Seq("da"))
      .join(listsM.select(col("doc_id").as("db"), col("gs").as("gsb"), col("sz").as("szb")), Seq("db"))
      .withColumn("inter",
        graft.functions.vector.sorted_intersect_count(col("gsa"), col("gsb")))
      .withColumn("jacc", round(col("inter") / (col("sza") + col("szb") - col("inter")), 6))
      .where(col("jacc") >= tau)
      .select(col("da"), col("db"), col("inter"), col("jacc"))
      .orderBy(col("da"), col("db"))
  }

  private val PpTau = 0.5

  val ppJoinQ: Q = (s, d) => {
    val fp = graft.Artifacts.fingerprint(s"$d/documents.parquet")
    ppJoin(tbl(s, d, "documents"), n = 5, tau = PpTau,
      materializeLists = df => graft.Artifacts.table(s, "pp_lists", s"$d|$fp")(df))
  }
  val ppJoinSql: String =
    s"""WITH g AS (
      |  SELECT DISTINCT doc_id, ${ngramUnnestSql(5)} AS gram
      |  FROM documents WHERE ${ngramGuardSql(5)}),
      |s AS (SELECT doc_id, count(*) AS sz FROM g GROUP BY doc_id),
      |i AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
      |      FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT da, db, inter,
      |       round(inter / (sa.sz + sb.sz - inter), 6) AS jacc
      |FROM i JOIN s sa ON sa.doc_id = da JOIN s sb ON sb.doc_id = db
      |WHERE round(inter / (sa.sz + sb.sz - inter), 6) >= $PpTau
      |ORDER BY da, db""".stripMargin

  // ------------------------------------------------- edit-distance join

  /** dd_editdist — bounded edit-distance near-duplicate pairs by a
    * blocked fuzzy join: block on the 20-char text prefix (a plain
    * equi-join key, so the corpus hash-partitions by block and no pair
    * ever forms across partitions), prune candidates with the length
    * filter (lev(a,b) ≥ |len(a) − len(b)|, so |Δlen| > k cannot match),
    * then verify survivors with the threshold-bounded Levenshtein —
    * Spark's 3-arg `levenshtein` abandons a candidate's DP row once the
    * running minimum exceeds k, making verification O(k·len) per pair
    * instead of O(len²).
    *
    * Prefix blocking is the recall/cost dial: it misses pairs whose
    * edits fall in the first 20 chars (here the planted near-dups
    * diverge later — the oracle uses the SAME blocking, so the gate
    * checks the join machinery, not the blocking's recall). For a
    * recall-guaranteed join at scale, swap the block key for the
    * positional q-gram prefix filter (EdJoin, VLDB'08) — the candidate
    * stage becomes the dd_ppjoin gram-join shape with count bound
    * |common grams| ≥ maxlen − q + 1 − k·q; the verify stage is
    * unchanged. Same plan skeleton, sound instead of heuristic.
    */
  val editDistPairs: Q = (s, d) => {
    import s.implicits._
    val docs = tbl(s, d, "documents").where($"doc_id" < 1000)
      .select($"doc_id", $"text", $"n_chars", substring($"text", 1, 20).as("blk"))
    val l = docs.select($"blk", $"doc_id".as("doc_a"), $"text".as("ta"), $"n_chars".as("la"))
    val r = docs.select($"blk", $"doc_id".as("doc_b"), $"text".as("tb"), $"n_chars".as("lb"))
    l.join(r, "blk")
      .where($"doc_a" < $"doc_b" && abs($"la" - $"lb") <= 6)
      .withColumn("lev", levenshtein($"ta", $"tb", 6))
      .where($"lev" >= 0)
      .select($"doc_a", $"doc_b", $"lev".cast("long").as("lev"))
      .orderBy($"doc_a", $"doc_b")
  }
  val editDistPairsSql: String =
    """WITH d AS (SELECT doc_id, text, n_chars, substr(text, 1, 20) AS blk
      |           FROM documents WHERE doc_id < 1000)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev
      |FROM d a JOIN d b
      |  ON a.blk = b.blk AND a.doc_id < b.doc_id AND abs(a.n_chars - b.n_chars) <= 6
      |WHERE levenshtein(a.text, b.text) <= 6
      |ORDER BY doc_a, doc_b""".stripMargin

  /** dd_jaro — Jaro-Winkler fuzzy-match over part names: the
    * entity-resolution companion to [[editDistPairs]] for SHORT strings
    * (names, titles, SKUs), where Levenshtein over-penalizes
    * transpositions and a similarity in [0,1] beats an absolute edit
    * budget. The scorer is the native [[graft.functions.JaroWinklerExpr]]
    * Catalyst expression — codegen'd static kernel, no UDF
    * serialization — probed equal to DuckDB's builtin
    * `jaro_winkler_similarity`, which is exactly what the oracle runs.
    *
    * Two scale disciplines replace round-9's brand-only blocking (which
    * was quadratic: brand cardinality is FIXED at 25, so blocks grew
    * linearly with the corpus and within-block pairs quadratically):
    *
    *  1. **Distinct-value factorization.** JW depends only on the two
    *     STRINGS, so the scorer runs once per distinct (brand, name)
    *     group pair, never once per row pair — the name table is
    *     vocabulary-bounded (64 distinct names across 20k parts at
    *     sf0.1) and grows sub-linearly in any real catalog. Row-pair
    *     multiplicity is carried EXACTLY as `n_pairs` = cnt_a·cnt_b
    *     (cnt·(cnt−1)/2 on the identical-name diagonal), so nothing the
    *     old pair list knew is lost — a consumer needing the exploded
    *     (part_a, part_b) list joins each side back to its name group,
    *     an output-bound expansion (geo_radius_join's caveat: a
    *     fixed-threshold pair LIST is quadratic in duplicate density by
    *     semantics; the factored form is the scalable contract).
    *  2. **Compound blocking.** Candidates form only within
    *     (p_brand × length-div-8 bucket × first token) — an equi-join
    *     key, so distinct-name blocks stay small even if the name
    *     vocabulary grows large. Cross-first-token matches are traded
    *     away, the standard single-pass blocking recall trade; the
    *     production recall dial is multi-pass blocking (union a second
    *     pass keyed on the LAST token), not a wider block.
    *
    * Scores quantize to 6 dp before the threshold so boundary
    * membership agrees across engines.
    */
  val jaroPairs: Q = (s, d) => {
    import s.implicits._
    val names = tbl(s, d, "part")
      .groupBy($"p_brand", $"p_name")
      .agg(count(lit(1)).as("cnt"))
      .withColumn("blk_len", expr("CAST(length(p_name) div 8 AS BIGINT)"))
      .withColumn("blk_tok", substring_index($"p_name", " ", 1))
    val l = names.select($"p_brand", $"blk_len", $"blk_tok",
      $"p_name".as("name_a"), $"cnt".as("ca"))
    val r = names.select($"p_brand", $"blk_len", $"blk_tok",
      $"p_name".as("name_b"), $"cnt".as("cb"))
    l.join(r, Seq("p_brand", "blk_len", "blk_tok"))
      .where($"name_a" <= $"name_b")
      .withColumn("jw", round(graft.functions.strsim.jaro_winkler($"name_a", $"name_b"), 6))
      .where($"jw" >= 0.9)
      .withColumn("n_pairs",
        expr("CAST(CASE WHEN name_a = name_b THEN ca * (ca - 1) div 2 ELSE ca * cb END AS BIGINT)"))
      .where($"n_pairs" > 0)
      .select($"p_brand", $"name_a", $"name_b", $"jw", $"n_pairs")
      .orderBy($"p_brand", $"name_a", $"name_b")
  }
  val jaroPairsSql: String =
    """WITH names AS (
      |  SELECT p_brand, p_name, count(*) AS cnt,
      |         len(p_name) // 8 AS blk_len,
      |         split_part(p_name, ' ', 1) AS blk_tok
      |  FROM part GROUP BY p_brand, p_name)
      |SELECT a.p_brand, a.p_name AS name_a, b.p_name AS name_b,
      |       round(jaro_winkler_similarity(a.p_name, b.p_name), 6) AS jw,
      |       CAST(CASE WHEN a.p_name = b.p_name THEN a.cnt * (a.cnt - 1) // 2
      |                 ELSE a.cnt * b.cnt END AS BIGINT) AS n_pairs
      |FROM names a JOIN names b
      |  ON a.p_brand = b.p_brand AND a.blk_len = b.blk_len
      | AND a.blk_tok = b.blk_tok AND a.p_name <= b.p_name
      |WHERE round(jaro_winkler_similarity(a.p_name, b.p_name), 6) >= 0.9
      |  AND (CASE WHEN a.p_name = b.p_name THEN a.cnt * (a.cnt - 1) // 2
      |            ELSE a.cnt * b.cnt END) > 0
      |ORDER BY a.p_brand, name_a, name_b""".stripMargin

  // --------------------------------------------- idf-weighted Jaccard

  /** dd_wjaccard — idf-WEIGHTED Jaccard near-duplicate scoring: shared
    * shingles count by their informativeness w = ln(N/df), so two docs
    * agreeing on rare content score high while agreement on boilerplate
    * shingles every page carries (headers, licence blurbs) is nearly
    * free — the standard fix for plain Jaccard's boilerplate blindness
    * (the same idea as tf-idf vs raw counts, applied to set overlap).
    *
    * Shape: distinct (doc, shingle) on the probe domain, a
    * vocabulary-bounded df aggregation broadcast back as weights, the
    * shingle equi-join for pair intersections (dd_ngram_jaccard's plan),
    * and per-doc weight totals joined in for the union term. Weights
    * quantize to 9 dp and sum as DECIMAL(18,9) — order-free — so the
    * ratio is one IEEE division, 6 dp, thresheld at 0.3.
    */
  val wJaccard: Q = (s, d) => {
    import s.implicits._
    // localCheckpoint (r18): the distinct (doc, shingle) stream is
    // referenced — directly or through w/n1/weighted — enough times that
    // Catalyst replicated the explode+distinct subtree 24× in the
    // physical plan (24 document scans, 23 exchanges;
    // plans/r18/dd_wjaccard_before.txt). The probe domain is bounded
    // (doc_id < 200, ~0.2 M shingle rows at any sf), so materializing it
    // once and fanning out from blocks is the guide §3.3 fix for
    // duplicated subtrees ("materialising an intermediate truncates the
    // plan"); after: 1 scan, 1 explode, 7 exchanges.
    val sh = Pins(shingles(tbl(s, d, "documents").where($"doc_id" < 200))
      .distinct())
    // corpus size N attaches via the jk literal-key broadcast equi-join
    // (pl_shards' PlanGuard-clean scalar form) — the first formulation
    // ran a DRIVER-SIDE count() at plan-build time, paying one extra
    // shingle build per invocation and making the op eagerly side-effect
    // its own plan construction. SUBTLETY: the jk expression must hang
    // off a NULLABLE attribute (here sum() and length(sh)) — x·0 over a
    // NON-nullable x (count, countDistinct) constant-folds to literal 0
    // on both sides, the equi-condition folds to true, and the join
    // silently degenerates to the BroadcastNestedLoopJoin this form
    // exists to avoid (caught by PlanGuard when first written with
    // countDistinct).
    val n1 = sh.select($"doc_id").distinct()
      .agg(sum(lit(1L)).as("n"))
      .withColumn("jk", coalesce($"n" * lit(0L), lit(0L)))
    val w = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
      .withColumn("jk", coalesce(length($"sh") * lit(0L), lit(0L)))
      .join(broadcast(n1), Seq("jk"))
      .select($"sh",
        round(log($"n".cast("double") / $"df"), 9).cast("decimal(18,9)").as("w"))
    val weighted = sh.join(broadcast(w), "sh")
    val tot = weighted.groupBy($"doc_id").agg(sum($"w").as("tw"))
    val inter = weighted.select($"sh", $"doc_id".as("da"), $"w")
      .join(weighted.select($"sh", $"doc_id".as("db")), "sh")
      .where($"da" < $"db")
      .groupBy($"da", $"db").agg(sum($"w").as("iw"))
    inter
      .join(broadcast(tot.select($"doc_id".as("da"), $"tw".as("ta"))), Seq("da"))
      .join(broadcast(tot.select($"doc_id".as("db"), $"tw".as("tb"))), Seq("db"))
      .withColumn("wjacc", round($"iw".cast("double") /
        ($"ta" + $"tb" - $"iw").cast("double"), 6))
      .where($"wjacc" >= 0.3)
      .select($"da", $"db", $"wjacc")
      .orderBy($"da", $"db")
  }
  val wJaccardSql: String =
    """WITH sh AS (
      |  SELECT DISTINCT doc_id,
      |         unnest(list_transform(range(1, len(text)-3), i -> substr(text, i, 5))) AS sh
      |  FROM documents WHERE doc_id < 200 AND len(text) >= 5),
      |n AS (SELECT count(DISTINCT doc_id) AS n FROM sh),
      |w AS (SELECT sh, CAST(round(ln(CAST((SELECT n FROM n) AS DOUBLE) / count(*)), 9)
      |                      AS DECIMAL(18,9)) AS w
      |      FROM sh GROUP BY sh),
      |ws AS (SELECT s.doc_id, s.sh, w.w FROM sh s JOIN w USING (sh)),
      |tot AS (SELECT doc_id, sum(w) AS tw FROM ws GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, sum(a.w) AS iw
      |  FROM ws a JOIN ws b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT da, db,
      |       round(CAST(iw AS DOUBLE) / CAST(ta.tw + tb.tw - iw AS DOUBLE), 6) AS wjacc
      |FROM inter JOIN tot ta ON ta.doc_id = da JOIN tot tb ON tb.doc_id = db
      |WHERE round(CAST(iw AS DOUBLE) / CAST(ta.tw + tb.tw - iw AS DOUBLE), 6) >= 0.3
      |ORDER BY da, db""".stripMargin

  // ---------------------------------------- sorted-neighborhood blocking

  /** dd_sorted_neighborhood — the third classic blocking scheme next to
    * [[editDistPairs]]' equi-key blocks and dd_lsh_pairs' hash buckets:
    * sort the corpus by a sorting key (here the 30-char text prefix),
    * then compare each record only against its w−1 successors in sort
    * order. Where key blocking drops a pair whose keys differ in ONE
    * char, sorted-neighborhood still adjacencies them — the recall/cost
    * dial is the window width, not the key's exactness.
    *
    * The single-node formulation ("slide a window down the sorted file")
    * is inherently sequential; the Spark-first re-expression is a RANK
    * OFFSET EQUI-JOIN: rank every record once with a global-sort
    * row_number, explode each probe row into (rank+1 … rank+w−1), and
    * hash-join ranks — pairs that straddle a sort-partition boundary
    * form exactly like interior ones, with no partition-edge special
    * case. The `row_number` over an unpartitioned Window moves the
    * (probe-bounded, doc_id < 1000) input through ONE partition — fine
    * here, but NOT the corpus-scale rank path: at scale assign ranks by
    * `sortWithinPartitions` after a range `repartitionByRange` plus a
    * per-partition offset join (the zipWithIndex decomposition, the same
    * two-level shape as w6_prefix_sum), which keeps the sort distributed.
    * The verify stage is the bounded 3-arg levenshtein of
    * [[editDistPairs]]. Survivors canonicalize to (least, greatest) doc
    * ids since sort order ≠ id order.
    */
  val sortedNeighborhood: Q = (s, d) => {
    import s.implicits._
    val docs = tbl(s, d, "documents").where($"doc_id" < 1000)
      .select($"doc_id", $"text", substring($"text", 1, 30).as("skey"))
    val rn = docs.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window.orderBy($"skey", $"doc_id")).cast("long"))
    val probe = rn.select($"rn", $"doc_id".as("id_a"), $"text".as("ta"))
      .withColumn("off", explode(array(lit(1L), lit(2L))))
      .withColumn("rn_b", $"rn" + $"off")
    val build = rn.select($"rn".as("rn_b"), $"doc_id".as("id_b"), $"text".as("tb"))
    probe.join(build, "rn_b")
      .withColumn("lev", levenshtein($"ta", $"tb", 6))
      .where($"lev" >= 0)
      .select(least($"id_a", $"id_b").as("doc_a"),
        greatest($"id_a", $"id_b").as("doc_b"), $"lev".cast("long").as("lev"))
      .orderBy($"doc_a", $"doc_b")
  }
  val sortedNeighborhoodSql: String =
    """WITH d AS (SELECT doc_id, text, substr(text, 1, 30) AS skey
      |           FROM documents WHERE doc_id < 1000),
      |rn AS (SELECT doc_id, text,
      |              row_number() OVER (ORDER BY skey, doc_id) AS rn
      |       FROM d)
      |SELECT least(a.doc_id, b.doc_id) AS doc_a,
      |       greatest(a.doc_id, b.doc_id) AS doc_b,
      |       CAST(levenshtein(a.text, b.text) AS BIGINT) AS lev
      |FROM rn a JOIN rn b ON b.rn - a.rn BETWEEN 1 AND 2
      |WHERE levenshtein(a.text, b.text) <= 6
      |ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------- probabilistic linkage

  /** dd_linkage — Fellegi–Sunter probabilistic record linkage (the 1969
    * model every production entity-resolution system — Splink, dedupe.io,
    * census matching — still runs): two noisy views of the customer table
    * are blocked, each candidate pair gets an agreement vector over the
    * compare fields, and the match score is the sum of per-field
    * log-likelihood weights ln(m/u) on agreement / ln((1−m)/(1−u)) on
    * disagreement. The m (P(agree|match)) and u (P(agree|non-match))
    * parameters are estimated EMPIRICALLY inside the query — m from the
    * known-same-key pairs, u from the blocked cross pairs — which is the
    * supervised estimation path (EM is the unsupervised variant; same
    * scoring once parameters exist). Probabilities clamp to
    * [1e-4, 1−1e-4] so a perfectly-agreeing field cannot emit ±∞.
    *
    * The "dirty source" plants field noise deterministically: name typo
    * on key ≡ 0 (mod 3), balance shift on ≡ 0 (mod 4), segment overwrite
    * on ≡ 0 (mod 7) — so m < 1 per field, u > 0 (segments collide 1-in-5,
    * balances rarely, names never), and the output mixes confident
    * matches with genuinely ambiguous all-field-disagree pairs.
    *
    * Scale shape (r10 re-block — the r9 nationkey-only blocking was the
    * dd_jaro disease: 25 fixed blocks ⇒ candidate pairs quadratic in
    * corpus size, measured 41× wall at 10× data): MULTI-PASS compound
    * blocking, the standard Fellegi–Sunter deployment shape. Pass 1
    * keys on (nation, last-6-of-name) — the planted typo touches
    * position 3, never the suffix, so EVERY true pair survives pass 1
    * and the m-estimation population is complete; pass 2 keys on
    * (nation, exact balance cents) to retain the name-disagreeing
    * balance-evidence pairs. Both keys' cardinalities GROW with the
    * corpus (digits of the key space, cents values), so per-block
    * populations stay bounded — candidates are the union (distinct) of
    * two bounded equi-joins. Pairs agreeing on segment alone are the
    * only class dropped, and their score is provably < 0 (two strong
    * disagreements against one weak agreement), so the score>0 output
    * is unchanged in kind.
    *
    * Known estimation bias (r10 advice): pass 1's blocking key is
    * effectively unique per custkey (a TPC-H name suffix IS the key
    * digits), so the non-match pairs that feed the u-estimates come
    * almost entirely from pass 2's balance-cents collisions — a
    * population that agrees on g_bal by construction. u is therefore
    * estimated on an agreement-biased sample (u_bal in particular is
    * inflated versus a random within-nation pairing), which shifts the
    * Fellegi–Sunter weights relative to the unblocked r9 semantics.
    * The gate stays exact because the oracle mirrors the same blocked
    * candidate population; a production deployment should estimate u
    * from a random within-block pair SAMPLE, not from the blocked
    * candidates.
    *
    * The m/u tables are TWO 1-row aggregates
    * broadcast back onto the pair stream (scalar-join class); agreement
    * columns are codegen'd comparisons. One pair-table materialization
    * serves all three consumers.
    */
  val linkage: Q = (s, d) => {
    import s.implicits._
    val c = tbl(s, d, "customer")
    val a = c.select($"c_custkey".as("ka"), $"c_nationkey".as("nk"),
      $"c_name".as("na"), $"c_acctbal".as("ba"), $"c_mktsegment".as("sa"))
    val b = c.where($"c_custkey" % 10 === 0).select(
      $"c_custkey".as("kb"), $"c_nationkey".as("nk"),
      when($"c_custkey" % 3 === 0,
        concat(substring($"c_name", 1, 2), lit("x"), substring($"c_name", 4, 100)))
        .otherwise($"c_name").as("nb"),
      when($"c_custkey" % 4 === 0, $"c_acctbal" + 1.0)
        .otherwise($"c_acctbal").as("bb"),
      when($"c_custkey" % 7 === 0, lit("AUTOMOBILE"))
        .otherwise($"c_mktsegment").as("sb"))
    def g(df: DataFrame) = df.select($"ka", $"kb",
      ($"na" === $"nb").cast("long").as("g_name"),
      ($"ba" === $"bb").cast("long").as("g_bal"),
      ($"sa" === $"sb").cast("long").as("g_mkt"))
    val p1 = a.withColumn("bk", concat($"nk", lit(":"), expr("right(na, 6)")))
      .join(b.withColumn("bk", concat($"nk", lit(":"), expr("right(nb, 6)"))), "bk")
    val p2 = a.withColumn("bk",
        concat($"nk", lit(":"), round($"ba" * 100).cast("long")))
      .join(b.withColumn("bk",
        concat($"nk", lit(":"), round($"bb" * 100).cast("long"))), "bk")
    val pairs = Pins(g(p1).unionByName(g(p2)).distinct())
    def clamp(p: org.apache.spark.sql.Column) =
      least(greatest(p, lit(0.0001)), lit(0.9999))
    val m = pairs.where($"ka" === $"kb").agg(
      avg($"g_name").as("m_name"), avg($"g_bal").as("m_bal"), avg($"g_mkt").as("m_mkt"))
    val u = pairs.where($"ka" =!= $"kb").agg(
      avg($"g_name").as("u_name"), avg($"g_bal").as("u_bal"), avg($"g_mkt").as("u_mkt"))
    def w(g: String, mP: String, uP: String) =
      round(when(col(g) === 1L, log(clamp(col(mP)) / clamp(col(uP))))
        .otherwise(log((lit(1.0) - clamp(col(mP))) / (lit(1.0) - clamp(col(uP))))), 6)
    pairs.crossJoin(broadcast(m)).crossJoin(broadcast(u))
      .select($"ka", $"kb", $"g_name", $"g_bal", $"g_mkt",
        round(w("g_name", "m_name", "u_name") + w("g_bal", "m_bal", "u_bal") +
          w("g_mkt", "m_mkt", "u_mkt"), 6).as("score"),
        ($"ka" === $"kb").cast("long").as("is_true"))
      .where($"score" > 0.0)
      .orderBy($"ka", $"kb")
  }
  val linkageSql: String =
    """WITH a AS (SELECT c_custkey AS ka, c_nationkey AS nk, c_name AS na,
      |                  c_acctbal AS ba, c_mktsegment AS sa FROM customer),
      |b AS (SELECT c_custkey AS kb, c_nationkey AS nk,
      |             CASE WHEN c_custkey % 3 = 0
      |                  THEN substr(c_name, 1, 2) || 'x' || substr(c_name, 4, 100)
      |                  ELSE c_name END AS nb,
      |             CASE WHEN c_custkey % 4 = 0 THEN c_acctbal + 1.0
      |                  ELSE c_acctbal END AS bb,
      |             CASE WHEN c_custkey % 7 = 0 THEN 'AUTOMOBILE'
      |                  ELSE c_mktsegment END AS sb
      |      FROM customer WHERE c_custkey % 10 = 0),
      |pairs AS (
      |  SELECT DISTINCT ka, kb,
      |         CAST(na = nb AS BIGINT) AS g_name,
      |         CAST(ba = bb AS BIGINT) AS g_bal,
      |         CAST(sa = sb AS BIGINT) AS g_mkt
      |  FROM (
      |    SELECT a.*, b.* FROM a JOIN b
      |      ON a.nk = b.nk AND right(a.na, 6) = right(b.nb, 6)
      |    UNION ALL
      |    SELECT a.*, b.* FROM a JOIN b
      |      ON a.nk = b.nk
      |     AND CAST(round(a.ba * 100) AS BIGINT) = CAST(round(b.bb * 100) AS BIGINT))),
      |m AS (SELECT avg(g_name) AS m_name, avg(g_bal) AS m_bal, avg(g_mkt) AS m_mkt
      |      FROM pairs WHERE ka = kb),
      |u AS (SELECT avg(g_name) AS u_name, avg(g_bal) AS u_bal, avg(g_mkt) AS u_mkt
      |      FROM pairs WHERE ka != kb),
      |scored AS (
      |  SELECT ka, kb, g_name, g_bal, g_mkt,
      |         round(
      |           round(CASE WHEN g_name = 1
      |             THEN ln(least(greatest(m_name, 0.0001), 0.9999) / least(greatest(u_name, 0.0001), 0.9999))
      |             ELSE ln((1.0 - least(greatest(m_name, 0.0001), 0.9999)) / (1.0 - least(greatest(u_name, 0.0001), 0.9999))) END, 6)
      |         + round(CASE WHEN g_bal = 1
      |             THEN ln(least(greatest(m_bal, 0.0001), 0.9999) / least(greatest(u_bal, 0.0001), 0.9999))
      |             ELSE ln((1.0 - least(greatest(m_bal, 0.0001), 0.9999)) / (1.0 - least(greatest(u_bal, 0.0001), 0.9999))) END, 6)
      |         + round(CASE WHEN g_mkt = 1
      |             THEN ln(least(greatest(m_mkt, 0.0001), 0.9999) / least(greatest(u_mkt, 0.0001), 0.9999))
      |             ELSE ln((1.0 - least(greatest(m_mkt, 0.0001), 0.9999)) / (1.0 - least(greatest(u_mkt, 0.0001), 0.9999))) END, 6), 6) AS score,
      |         CAST(ka = kb AS BIGINT) AS is_true
      |  FROM pairs CROSS JOIN m CROSS JOIN u)
      |SELECT * FROM scored WHERE score > 0.0 ORDER BY ka, kb""".stripMargin

  // ---------------------------------------------- asymmetric containment

  /** Directional shingle-containment table over the probe slice
    * (doc_id < 30): for every shingle-sharing pair, |A∩B| and BOTH
    * containments |A∩B|/|A|, |A∩B|/|B| (round-6). Jaccard misses a short
    * quote embedded in a long document — the intersection is tiny next to
    * the union — but containment flags it from the short side, which is
    * why excerpt/quote dedup (RealNews-style) thresholds containment,
    * not Jaccard.
    *
    * Memoized artifact: dd_containment reports the ≥0.5 survivors
    * and Graph.adamicAdar link-scores the same pair graph — one shingle
    * self-join per corpus snapshot (lshPairGraph discipline). The probe
    * slice is the correctness baseline; at scale the pair domain comes
    * from LSH candidates and this exact-containment verify runs on
    * candidates only (dd_ngram_jaccard's documented path).
    */
  def containmentTable(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.memo(s, "dd_containment", d) {
      val sh = shingles(tbl(s, d, "documents").where(col("doc_id") < 30)).distinct()
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val inter = sh.select(col("doc_id").as("a"), col("sh"))
        .join(sh.select(col("doc_id").as("b"), col("sh")), Seq("sh"))
        .where(col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
      Pins(inter
        .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
        .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
        .select(col("a"), col("b"), col("inter"),
          round(col("inter").cast("double") / col("sza"), 6).as("cont_a"),
          round(col("inter").cast("double") / col("szb"), 6).as("cont_b")))
    }

  val containment: Q = (s, d) =>
    containmentTable(s, d)
      .where(col("cont_a") >= 0.5 || col("cont_b") >= 0.5)
      .orderBy(col("a"), col("b"))

  /** Shared oracle CTE block through `cont` (full table) and `cpairs`
    * (the ≥0.5 graph) — reused by dd_containment and gr_adamic.
    */
  val containmentCteSql: String =
    """sh AS (
      |  SELECT DISTINCT doc_id, sh FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(1, len(text)-3), i -> substr(text, i, 5))) AS sh
      |    FROM documents WHERE doc_id < 30 AND len(text) >= 5)),
      |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT x.doc_id AS a, y.doc_id AS b, count(*) AS inter
      |  FROM sh x JOIN sh y ON x.sh = y.sh WHERE x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |cont AS (
      |  SELECT a, b, inter,
      |         round(CAST(inter AS DOUBLE) / sa.sz, 6) AS cont_a,
      |         round(CAST(inter AS DOUBLE) / sb.sz, 6) AS cont_b
      |  FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b),
      |cpairs AS (SELECT a, b FROM cont WHERE cont_a >= 0.5 OR cont_b >= 0.5)""".stripMargin

  val containmentSql: String =
    s"""WITH $containmentCteSql
       |SELECT a, b, inter, cont_a, cont_b FROM cont
       |WHERE cont_a >= 0.5 OR cont_b >= 0.5 ORDER BY a, b""".stripMargin

  // ----------------------------------------------------- LSH design curve

  /** dd_lsh_curve — the S-curve behind the suite's banding parameters:
    * with b bands of r rows, a pair at Jaccard s becomes an LSH
    * candidate with P = 1 − (1 − sʳ)ᵇ. This gate tabulates the curve for
    * the b=2, r=4 used by dd_lsh_pairs and the cc/gr family — the sheet a
    * 100 TB run reads to place the recall knee (here s* = (1/b)^(1/r) ≈
    * 0.84) before re-banding the corpus. Powers are written as explicit
    * multiplication chains so both engines run identical IEEE ops — no
    * libm pow.
    */
  val lshCurve: Q = (s, d) => {
    val sp = s
    import sp.implicits._
    sp.range(1, 10)
      .select(($"id" / 10.0).as("jaccard"))
      .withColumn("s4", $"jaccard" * $"jaccard" * $"jaccard" * $"jaccard")
      .select($"jaccard",
        round(lit(1.0) - (lit(1.0) - $"s4") * (lit(1.0) - $"s4"), 6)
          .as("p_candidate"))
      .orderBy($"jaccard")
  }
  val lshCurveSql: String =
    """SELECT i / 10.0 AS jaccard,
      |       round(1.0 - (1.0 - (i/10.0)*(i/10.0)*(i/10.0)*(i/10.0))
      |                 * (1.0 - (i/10.0)*(i/10.0)*(i/10.0)*(i/10.0)), 6) AS p_candidate
      |FROM (SELECT unnest(range(1, 10)) AS i) ORDER BY jaccard""".stripMargin

  val queries: Map[String, Q] = Map(
    "dc_overlap"      -> dcOverlap,
    "dc_bloom"        -> dcBloom,
    "dd_exact_stats"  -> exactStats,
    "dd_minhash_sig"  -> minhashSig,
    "dd_lsh_pairs"    -> lshPairs,
    "dd_ngram_jaccard" -> ngramJaccard,
    "dd_simhash"      -> simhash,
    "dd_dup_ngrams"   -> dupNgrams,
    "dd_span_removal" -> spanRemovalQ,
    "dd_substr_pairs" -> substrPairs,
    "dd_embedding"    -> embeddingNearDup,
    "dd_incremental"  -> ddIncremental,
    "dd_ppjoin"       -> ppJoinQ,
    "dd_editdist"     -> editDistPairs,
    "dd_jaro"         -> jaroPairs,
    "dd_sortnbr"      -> sortedNeighborhood,
    "dd_wjaccard"     -> wJaccard,
    "dd_linkage"      -> linkage,
    "dd_lsh_eval"     -> lshEval,
    "dd_containment"  -> containment,
    "dd_lsh_curve"    -> lshCurve,
  )

  val oracles: Map[String, String] = Map(
    "dc_overlap"      -> dcOverlapSql,
    "dc_bloom"        -> dcBloomSql,
    "dd_exact_stats"  -> exactStatsSql,
    "dd_minhash_sig"  -> minhashSigSql,
    "dd_lsh_pairs"    -> lshPairsSql,
    "dd_ngram_jaccard" -> ngramJaccardSql,
    "dd_simhash"      -> simhashSql,
    "dd_dup_ngrams"   -> dupNgramsSql,
    "dd_span_removal" -> spanRemovalSql,
    "dd_substr_pairs" -> substrPairsSql,
    "dd_embedding"    -> embeddingNearDupSql,
    "dd_incremental"  -> ddIncrementalSql,
    "dd_ppjoin"       -> ppJoinSql,
    "dd_editdist"     -> editDistPairsSql,
    "dd_jaro"         -> jaroPairsSql,
    "dd_sortnbr"      -> sortedNeighborhoodSql,
    "dd_wjaccard"     -> wJaccardSql,
    "dd_linkage"      -> linkageSql,
    "dd_lsh_eval"     -> lshEvalSql,
    "dd_containment"  -> containmentSql,
    "dd_lsh_curve"    -> lshCurveSql,
  )
}
