package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import graft.Tables.{t => tbl}

/** Text-analysis operators for training-data pipelines: token counting,
  * quality scoring, language-ID heuristic, rolling-hash fingerprinting.
  * All are narrow per-row expressions (no shuffle except final sort) and
  * stay in whole-stage codegen — at 100 TB these run at scan speed.
  */
object TextAnalysis {

  type Q = (SparkSession, String) => DataFrame

  /** Shared stopword list (deliberately small + ASCII; used by quality and
    * language-ID scoring).
    */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "to", "and", "in", "is")

  /** The stopword list as a SQL IN-list fragment — shared with Pipeline so
    * the Spark predicates and DuckDB oracles can never drift apart.
    */
  val stopSqlList: String = Stopwords.map(w => s"'$w'").mkString(", ")

  /** (doc_id, gram) word k-gram occurrences — [[Dedup.wordGramsZip]]'s
    * shifted-slice zip (4.3× over transform(sequence, λ) on tx_rouge,
    * 3.5× on tx_novelty, r12).
    */
  private def wordGrams(docs: DataFrame, k: Int): DataFrame =
    Dedup.wordGramsZip(docs, "doc_id", k)

  /** Token counting: whitespace tokens plus a BPE-ish proxy (4 chars ≈ 1
    * token, the common LLM heuristic) for budget estimation.
    */
  val tokens: Q = (s, d) =>
    tbl(s, d, "documents")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars_measured"),
        ceil(length(col("text")) / 4.0).cast("long").as("n_tokens_bpe_est"))
      .orderBy(col("doc_id"))
  val tokensSql: String =
    """SELECT doc_id, len(string_split(text, ' ')) AS n_tokens,
      |       len(text) AS n_chars_measured,
      |       CAST(ceil(len(text) / 4.0) AS BIGINT) AS n_tokens_bpe_est
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Quality scoring: length, mean token length, stopword ratio — the
    * standard cheap quality gates for corpus filtering.
    */
  val quality: Q = (s, d) => {
    val stopArray = Stopwords.map(w => s"'$w'").mkString("array(", ", ", ")")
    tbl(s, d, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("n_toks", size(col("toks")).cast("long"))
      .withColumn("n_stop",
        size(expr(s"filter(toks, t -> t IN ($stopSqlList))")).cast("long"))
      .withColumn("sum_len",
        expr("aggregate(transform(toks, t -> length(t)), 0, (acc, x) -> acc + x)").cast("long"))
      .select(col("doc_id"), col("n_toks"), col("n_stop"),
        (col("n_stop").cast("double") / col("n_toks").cast("double")).as("stop_ratio"),
        (col("sum_len").cast("double") / col("n_toks").cast("double")).as("mean_tok_len"))
      .orderBy(col("doc_id"))
  }
  val qualitySql: String =
    s"""SELECT doc_id,
       |  len(toks) AS n_toks,
       |  len(list_filter(toks, t -> t IN ($stopSqlList))) AS n_stop,
       |  CAST(len(list_filter(toks, t -> t IN ($stopSqlList))) AS DOUBLE)
       |    / CAST(len(toks) AS DOUBLE) AS stop_ratio,
       |  CAST(list_reduce(list_prepend(0, list_transform(toks, t -> len(t))),
       |                   (acc, x) -> acc + x) AS DOUBLE)
       |    / CAST(len(toks) AS DOUBLE) AS mean_tok_len
       |FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** Language-ID heuristic: stopword hit rate thresholds → coarse class.
    * (A real n-gram model plugs into the same shape; the corpus shares one
    * vocabulary across its `lang` labels, so this demonstrates the operator
    * not a classifier benchmark.)
    */
  val langid: Q = (s, d) =>
    tbl(s, d, "documents")
      .withColumn("toks", split(col("text"), " "))
      .withColumn("ratio",
        size(expr(s"filter(toks, t -> t IN ($stopSqlList))")).cast("double") /
          size(col("toks")).cast("double"))
      .select(col("doc_id"), col("lang"),
        when(col("ratio") >= 0.05, "en-like")
          .when(col("ratio") > 0.0, "latin-ish")
          .otherwise("und").as("predicted"))
      .orderBy(col("doc_id"))
  val langidSql: String =
    s"""SELECT doc_id, lang,
       |  CASE WHEN ratio >= 0.05 THEN 'en-like'
       |       WHEN ratio > 0.0 THEN 'latin-ish'
       |       ELSE 'und' END AS predicted
       |FROM (SELECT doc_id, lang,
       |             CAST(len(list_filter(string_split(text, ' '),
       |                                  t -> t IN ($stopSqlList))) AS DOUBLE)
       |               / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ratio
       |      FROM documents)
       |ORDER BY doc_id""".stripMargin

  /** tx_langid_eval — classifier evaluation as a first-class op: the
    * confusion table of the langid heuristic against the corpus' labeled
    * lang column, with each cell's share of its true-label row. Model
    * scoring over labeled data is itself a corpus-scale job (one scan +
    * one tiny keyed aggregate); the share window runs over the
    * |langs|×|classes| confusion rows, not the corpus.
    */
  val langidEval: Q = (s, d) => {
    import s.implicits._
    val conf = langid(s, d).groupBy($"lang", $"predicted")
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy($"lang")
    conf.withColumn("share", round($"n" / sum($"n").over(w).cast("double"), 6))
      .orderBy($"lang", $"predicted")
  }
  val langidEvalSql: String = {
    val core = langidSql.stripSuffix("\nORDER BY doc_id")
    s"""WITH conf AS (
       |  SELECT lang, predicted, count(*) AS n FROM ($core) GROUP BY lang, predicted)
       |SELECT lang, predicted, n,
       |       round(n / CAST(sum(n) OVER (PARTITION BY lang) AS DOUBLE), 6) AS share
       |FROM conf ORDER BY lang, predicted""".stripMargin
  }

  /** Document fingerprinting: 31-polynomial rolling hash mod 1e9+7 over the
    * raw characters — cheap content identity robust to storage format.
    */
  val fingerprint: Q = (s, d) =>
    tbl(s, d, "documents").where(col("doc_id") < 100)
      .select(col("doc_id"),
        expr("aggregate(sequence(1, length(text)), CAST(0 AS BIGINT), " +
          "(h, i) -> (h * 31 + ascii(substr(text, i, 1))) % 1000000007)").as("fp"))
      .orderBy(col("doc_id"))
  val fingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, len(text) + 1),
      |                     i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))),
      |    (h, c) -> (h * 31 + c) % 1000000007) AS fp
      |FROM documents WHERE doc_id < 100 ORDER BY doc_id""".stripMargin

  /** Text normalization — the canonical pre-dedup cleanup: lowercase,
    * strip non-alphanumerics, collapse whitespace, trim. Pure per-row
    * regex/codegen expressions; the character classes used are identical
    * under Java regex (Spark) and RE2 (DuckDB). Emits a bounded prefix +
    * length so the gate output stays small.
    */
  val normalize: Q = (s, d) => {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), " +", " "))
    tbl(s, d, "documents").where(col("doc_id") < 200)
      .select(col("doc_id"),
        substring(norm, 1, 40).as("norm_prefix"),
        length(norm).cast("long").as("norm_len"))
      .orderBy(col("doc_id"))
  }
  val normalizeSql: String =
    """SELECT doc_id,
      |  substring(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')), 1, 40) AS norm_prefix,
      |  CAST(length(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g'))) AS BIGINT) AS norm_len
      |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin

  /** Intra-document repetition (the Gopher-style quality gate): fraction
    * of word bigrams that are duplicates of an earlier bigram in the SAME
    * document. Boilerplate, template spam, and degenerate generations
    * score high; `rep_ok` applies the standard ≤5% cut. Narrow per-row
    * array expressions — runs at scan speed.
    */
  val repetition: Q = (s, d) =>
    tbl(s, d, "documents")
      .withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .withColumn("grams", expr(
        "transform(sequence(1, size(toks)-1), " +
          "i -> concat_ws(' ', element_at(toks, i), element_at(toks, i+1)))"))
      .withColumn("n_grams", size(col("grams")).cast("long"))
      .withColumn("n_distinct", size(array_distinct(col("grams"))).cast("long"))
      .withColumn("dup_ratio",
        (col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
      .select(col("doc_id"), col("n_grams"), col("n_distinct"),
        col("dup_ratio"), (col("dup_ratio") <= 0.05).as("rep_ok"))
      .orderBy(col("doc_id"))
  val repetitionSql: String =
    """SELECT doc_id, n_grams, n_distinct, dup_ratio, dup_ratio <= 0.05 AS rep_ok
      |FROM (SELECT doc_id, n_grams, n_distinct,
      |        CAST(n_grams - n_distinct AS DOUBLE) / n_grams AS dup_ratio
      |      FROM (SELECT doc_id, len(grams) AS n_grams,
      |              len(list_distinct(grams)) AS n_distinct
      |            FROM (SELECT doc_id,
      |                    list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]) AS grams
      |                  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |                  WHERE len(toks) >= 2)))
      |ORDER BY doc_id""".stripMargin

  /** Concat-and-chunk sequence packing — how pretraining turns documents
    * into fixed-budget training sequences: within each (lang, 2048-doc
    * shard) stream, docs are laid end-to-end in doc_id order and
    * assigned to the sequence their starting token offset falls in. One
    * shuffle (the sharded window — a bare per-lang window serializes
    * each language's whole stream through one partition at scale, the
    * round-9 sf10 finding on pl_pretrain; shards pack independently at
    * the cost of ≤1 under-filled pack per boundary, so a pack is keyed
    * (lang, pack_shard, seq_id)); integral cumulative sums so the
    * assignment is bit-exact on any engine. True bin packing (no
    * straddling) is the same plan with a greedy reset — this is the form
    * production pipelines actually run.
    */
  val pack: Q = (s, d) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang"), col("pack_shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    tbl(s, d, "documents")
      .withColumn("n_tok", ceil(length(col("text")) / 4.0).cast("long"))
      .withColumn("pack_shard", expr("doc_id div 2048"))
      .withColumn("cum_prev", coalesce(sum(col("n_tok")).over(w), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tok"), col("pack_shard"),
        expr("cum_prev div 2048").as("seq_id"))
      .orderBy(col("doc_id"))
  }
  val packSql: String =
    """SELECT doc_id, lang, n_tok, pack_shard, CAST(cum_prev // 2048 AS BIGINT) AS seq_id FROM (
      |  SELECT doc_id, lang, CAST(ceil(len(text) / 4.0) AS BIGINT) AS n_tok,
      |    doc_id // 2048 AS pack_shard,
      |    COALESCE(sum(CAST(ceil(len(text) / 4.0) AS BIGINT)) OVER (
      |      PARTITION BY lang, doc_id // 2048 ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** tx_entropy — per-document unigram (word) Shannon entropy, the quality
    * signal that separates natural text (mid-entropy) from boilerplate/spam
    * (low — few distinct tokens dominate) and random noise (max). Shape:
    * explode → count per (doc, token) → entropy per doc; two keyed
    * aggregations on the SAME key, so Catalyst reuses one shuffle — the
    * histogram never leaves its partition for the second agg. The window
    * total avoids a self-join on doc_id.
    *
    * Float parity: summation order differs between engines, so the result
    * is rounded to 6 decimals — drift for ≤1e4 terms is ≤1e-12, five
    * orders below the rounding grain. Caveat (applies to tx_tfidf too):
    * log2/ln are NOT IEEE-correctly-rounded, so JVM and libm may differ
    * by 1 ulp on identical inputs; a value landing within that of a
    * 0.5e-6 rounding boundary would round apart. P ≈ 2e-7 per value —
    * negligible here and empirically stable on the fixed gate data, but
    * unlike the add/mul/div-only queries this one is probabilistically,
    * not structurally, exact.
    */
  val entropy: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val counts = tbl(s, d, "documents")
      .where($"doc_id" < 300)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val n = sum($"c").over(Window.partitionBy($"doc_id"))
    counts
      .select($"doc_id", ($"c".cast("double") / n).as("p"))
      .groupBy($"doc_id")
      .agg(round(-sum($"p" * log2($"p")), 6).as("entropy"))
      .orderBy($"doc_id")
  }
  val entropySql: String =
    """WITH c AS (
      |  SELECT doc_id, tok, count(*) AS c
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents WHERE doc_id < 300)
      |  GROUP BY doc_id, tok),
      |p AS (SELECT doc_id,
      |             CAST(c AS DOUBLE) / sum(c) OVER (PARTITION BY doc_id) AS p
      |      FROM c)
      |SELECT doc_id, round(-sum(p * log2(p)), 6) AS entropy
      |FROM p GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** tx_tfidf — corpus-TF-IDF: document frequency across the corpus slice,
    * smoothed idf, per-document top term. The classic relevance/keyword
    * extraction primitive; also the shape of any "rare-token" quality
    * gate. Two aggregations over the SAME (doc_id, tok) shuffle (term
    * counts, then per-doc top-1) plus one broadcast-able token-level df
    * table — the corpus text is scanned once. At 100 TB the df table is
    * O(vocab) — millions of rows, broadcast or bucketed — while the
    * doc-level side streams.
    *
    * Determinism: scores rounded to 6 decimals BEFORE ranking, ties broken
    * lexicographically — identical rank both engines regardless of float
    * summation order.
    */
  val tfidf: Q = (s, d) => {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    // tf pinned (r18 batch 4, the ix_mlt fix): probe-bounded
    // (doc_id < 300) term-frequency table feeds n_docs/df/scored — 3
    // unpinned copies of the explode+count subtree
    val tf = tbl(s, d, "documents")
      .where($"doc_id" < 300)
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val nDocs = tf.select(countDistinct($"doc_id").as("n_docs"))
    val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(df), Seq("tok")).crossJoin(broadcast(nDocs))
      .select($"doc_id", $"tok",
        round($"tf" * (log(($"n_docs" + 1).cast("double") / ($"df" + 1)) + 1), 6)
          .as("score"))
    scored
      .withColumn("rn", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"score".desc, $"tok")))
      .where($"rn" === 1)
      .select($"doc_id", $"tok".as("top_tok"), $"score".as("top_score"))
      .orderBy($"doc_id")
  }
  val tfidfSql: String =
    """WITH tf AS (
      |  SELECT doc_id, tok, count(*) AS tf
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
      |        FROM documents WHERE doc_id < 300)
      |  GROUP BY doc_id, tok),
      |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tf),
      |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
      |scored AS (
      |  SELECT doc_id, tok,
      |         round(tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1), 6) AS score
      |  FROM tf JOIN df USING (tok) CROSS JOIN nd)
      |SELECT doc_id, tok AS top_tok, score AS top_score
      |FROM (SELECT doc_id, tok, score,
      |             row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rn
      |      FROM scored)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  /** GPT-2-style regex pre-tokenization (the split a BPE tokenizer applies
    * BEFORE merges: contractions, space-prefixed letter runs, digit runs,
    * punctuation runs, whitespace). The canonical GPT-2 pattern uses \p{L}
    * classes and a lookahead; this is the lookahead-free ASCII variant so
    * the SAME literal runs under Java regex (Spark, codegen'd
    * regexp_extract_all) and RE2 (DuckDB oracle). Narrow per-row work —
    * scan speed at 100 TB, and the honest cost model for "how many BPE
    * tokens is this corpus" budgeting (vs the 4-chars heuristic in
    * [[tokens]]).
    *
    * The punctuation fallback INCLUDES the apostrophe (GPT-2's fallback is
    * `[^\s\p{L}\p{N}]+`, which includes it too): a bare apostrophe that does
    * not start a contraction (quotes `'hello'`, possessives `dogs'`) must
    * still match some alternative or it is silently dropped and the split
    * is no longer lossless. Contractions are unaffected — leftmost-first
    * alternation (identical in Java regex and RE2) tries the contraction
    * branch before the fallback.
    */
  val PretokenRe: String =
    """'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"""

  def pretokenize(text: org.apache.spark.sql.Column) =
    regexp_extract_all(text, lit(PretokenRe), lit(0))

  val pretokens: Q = (s, d) =>
    tbl(s, d, "documents")
      .withColumn("pre", pretokenize(col("text")))
      .select(col("doc_id"),
        size(col("pre")).cast("long").as("n_pre"),
        size(array_distinct(col("pre"))).cast("long").as("n_distinct_pre"))
      .orderBy(col("doc_id"))
  val pretokensSql: String = {
    val re = PretokenRe.replace("'", "''") // SQL string-literal escaping
    s"""SELECT doc_id,
       |  len(regexp_extract_all(text, '$re')) AS n_pre,
       |  len(list_distinct(regexp_extract_all(text, '$re'))) AS n_distinct_pre
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------ quality classifier

  /** tx_clf_score — hashing-trick logistic quality scorer: the
    * fastText-lite stand-in every quality-filter pipeline runs (train a
    * tiny linear classifier on a labeled slice, score the whole corpus,
    * keep the top). Features are token-frequency counts hashed into
    * [[ClfD]] buckets (bias rides as pseudo-feature j = -1 with x = 1);
    * training is [[ClfIters]] full-batch gradient steps of logistic
    * regression over the labeled slice, all as DataFrame aggregations.
    *
    * Scale shape: feature extraction is one corpus scan (explode →
    * map-side-combined count keyed (doc, bucket)); each training step
    * touches only the labeled SLICE joined against a broadcast
    * weight table of D+1 rows; scoring is one pass over the features
    * with the same broadcast. At 100 TB the slice is the thing that
    * stays small (human labels are expensive), and the feature table is
    * a persisted artifact — nothing here collects or cross-joins the
    * corpus.
    *
    * Cross-engine exactness (lloydCentroids discipline): the token→bucket
    * hash is md5-hex-digit arithmetic (identical in both engines, no
    * engine hash involved); x and every weight update are quantized to
    * 6 dp, so the ~1e-15 noise from float summation order and libm exp
    * differences is five orders of magnitude below the rounding
    * granularity; labels derive from exact integer ratios. The DuckDB
    * oracle re-runs the entire training as unrolled MATERIALIZED CTEs.
    */
  val ClfD = 64
  val ClfIters = 3
  val ClfLr = 0.5
  val ClfSliceMax = 200L
  val ClfLabelThresh = 0.04

  // r18, Spark side only: one conv() of the first two md5 hex chars —
  // the same integer as the per-digit (d1·16 + d2) arithmetic (that sum
  // IS the base-16 value of the 2-char prefix), one md5 evaluation
  // instead of two. The DuckDB oracle keeps the digit form below (no
  // conv() there); equality of the two is hash-proven by the gate.
  private def clfBucket(tok: String): String =
    s"(CAST(conv(substr(md5($tok), 1, 2), 16, 10) AS BIGINT) % $ClfD)"
  private def clfBucketDuck(tok: String): String =
    s"CAST(((instr('0123456789abcdef', substr(md5($tok), 1, 1)) - 1) * 16 + " +
      s"instr('0123456789abcdef', substr(md5($tok), 2, 1)) - 1) % $ClfD AS BIGINT)"

  /** (doc_id, j, x): 6dp-quantized hashed token frequencies + bias row. */
  def clfFeatures(docs: DataFrame): DataFrame = {
    val toks = docs
      .withColumn("n", size(split(col("text"), " ")))
      .select(col("doc_id"), col("n"), explode(split(col("text"), " ")).as("tok"))
    toks
      .withColumn("j", expr(clfBucket("tok")))
      .groupBy(col("doc_id"), col("j"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("j"),
        round(col("cnt") / col("n").cast("double"), 6).as("x"))
      .unionByName(docs.select(col("doc_id"), lit(-1L).as("j"), lit(1.0).as("x")))
  }

  /** The gate's labeled slice: cheap stop-ratio quality proxy (a real
    * pipeline plugs human labels into the same shape).
    */
  def clfLabels(docs: DataFrame): DataFrame =
    docs.where(col("doc_id") < ClfSliceMax)
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        when(size(expr(s"filter(toks, t -> t IN ($stopSqlList))")).cast("double")
          / size(col("toks")).cast("double") >= ClfLabelThresh, 1.0)
          .otherwise(0.0).as("y"))

  /** Train on (doc_id, y) labels; returns the (j, w) weight table. The
    * label slice is read three times per gradient step (z-join, g-join,
    * normalizer) — pass a materialized frame (the gate serves it from the
    * session cache) so those reads hit blocks, not corpus re-scans.
    */
  def clfTrain(feats: DataFrame, labels: DataFrame): DataFrame = {
    val spark = feats.sparkSession
    val sliceFeats = feats.join(labels.select("doc_id"), Seq("doc_id"), "left_semi")
    val ns = labels.agg(count(lit(1)).cast("double").as("ns"))
    var w: DataFrame = spark.range(-1L, ClfD.toLong)
      .select(col("id").as("j"), lit(0.0).as("w"))
    for (t <- 1 to ClfIters) {
      val z = sliceFeats.join(broadcast(w), Seq("j"))
        .groupBy(col("doc_id")).agg(sum(col("x") * col("w")).as("z"))
      val g = z.join(labels, Seq("doc_id"))
        .select(col("doc_id"),
          (lit(1.0) / (lit(1.0) + exp(-col("z"))) - col("y")).as("g"))
      val grad = sliceFeats.join(g, Seq("doc_id"))
        .groupBy(col("j")).agg(sum(col("g") * col("x")).as("gs"))
        .crossJoin(broadcast(ns))
        .select(col("j"), (col("gs") / col("ns")).as("grad"))
      w = w.join(grad, Seq("j"), "left")
        .select(col("j"),
          round(col("w") - lit(ClfLr) * coalesce(col("grad"), lit(0.0)), 6).as("w"))
      // r18: pin each round's weight table (D+1 = 65 rows — the eager
      // job is O(1)). `w` feeds BOTH the next round's z-join and the
      // next round's own left join, so the lazy chain doubled the plan
      // per iteration: the 3-step training compiled to a 142-Exchange /
      // 88 KB physical plan whose optimizer+AQE time alone dominated
      // the gates (plans/r18/tx_clf_calib_before.txt; guide §3.3 "very
      // large plans — planning time itself becomes the bottleneck").
      // After: linear plan, 9 Exchanges.
      if (t < ClfIters) w = w.localCheckpoint(true)
    }
    w
  }

  /** The trained weight table, once per (session, corpus): tx_clf_score /
    * tx_clf_auc / tx_clf_calib all train the identical model on the
    * identical cached feats+labels, so the weights are a per-snapshot
    * artifact exactly like the feature table they derive from (the
    * lshPairs / bipartite-edge precedent). 65 rows, eagerly pinned.
    */
  private def trainedW(s: SparkSession, d: String,
                       feats: DataFrame, labels: DataFrame): DataFrame =
    graft.Artifacts.memo(s, "tx_clf_weights", d)(
      clfTrain(feats, labels).localCheckpoint(true))

  /** Score every doc with a trained weight table. */
  def clfScoreWith(feats: DataFrame, w: DataFrame): DataFrame =
    feats.join(broadcast(w), Seq("j"))
      .groupBy(col("doc_id"))
      .agg(round(lit(1.0) / (lit(1.0) + exp(-sum(col("x") * col("w")))), 6)
        .as("clf_score"))

  val clfScore: Q = (s, d) => {
    val feats = graft.Artifacts.memo(s, "tx_clf_features", d)(
      clfFeatures(tbl(s, d, "documents")).localCheckpoint(true))
    val labels = graft.Artifacts.memo(s, "tx_clf_labels", d)(
      clfLabels(tbl(s, d, "documents")).localCheckpoint(true))
    clfScoreWith(feats, trainedW(s, d, feats, labels)).orderBy(col("doc_id"))
  }

  /** DuckDB mirror: feature build, labels, and all [[ClfIters]] gradient
    * steps unrolled as MATERIALIZED CTEs (w{t-1} is referenced twice per
    * step — materialization stops exponential inlining, as in
    * [[bpeCteSql]]).
    */
  /** Shared oracle CTE prefix: feature build, labels, and the full
    * training unroll through `w$ClfIters` — reused by tx_clf_score and
    * tx_clf_auc so the two gates train the identical model.
    */
  private val clfCteSql: String = {
    val sb = new StringBuilder
    sb ++= s"""toks AS MATERIALIZED (
              |  SELECT doc_id, n, unnest(toks) AS tok
              |  FROM (SELECT doc_id, string_split(text, ' ') AS toks,
              |               len(string_split(text, ' ')) AS n
              |        FROM documents)),
              |feats AS MATERIALIZED (
              |  SELECT doc_id, j, round(count(*) / CAST(n AS DOUBLE), 6) AS x
              |  FROM (SELECT doc_id, n, ${clfBucketDuck("tok")} AS j FROM toks)
              |  GROUP BY doc_id, j, n
              |  UNION ALL SELECT doc_id, CAST(-1 AS BIGINT), 1.0 FROM documents),
              |lab AS MATERIALIZED (
              |  SELECT doc_id,
              |         CASE WHEN CAST(len(list_filter(string_split(text, ' '),
              |                          t -> t IN ($stopSqlList))) AS DOUBLE)
              |                / len(string_split(text, ' ')) >= $ClfLabelThresh
              |              THEN 1.0 ELSE 0.0 END AS y
              |  FROM documents WHERE doc_id < $ClfSliceMax),
              |ns AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM lab),
              |sf AS MATERIALIZED (SELECT f.* FROM feats f SEMI JOIN lab USING (doc_id)),
              |w0 AS (SELECT unnest(range(-1, $ClfD)) AS j, 0.0 AS w)""".stripMargin
    for (t <- 1 to ClfIters) {
      sb ++= s""",
                |z$t AS MATERIALIZED (
                |  SELECT doc_id, sum(x * w) AS z
                |  FROM sf JOIN w${t - 1} USING (j) GROUP BY doc_id),
                |g$t AS MATERIALIZED (
                |  SELECT doc_id, (1.0 / (1.0 + exp(-z)) - y) AS g
                |  FROM z$t JOIN lab USING (doc_id)),
                |w$t AS MATERIALIZED (
                |  SELECT wp.j, round(wp.w - $ClfLr * coalesce(gr.grad, 0), 6) AS w
                |  FROM w${t - 1} wp
                |  LEFT JOIN (SELECT j, sum(g * x) / (SELECT ns FROM ns) AS grad
                |             FROM sf JOIN g$t USING (doc_id) GROUP BY j) gr
                |    USING (j))""".stripMargin
    }
    sb.toString
  }

  val clfScoreSql: String =
    s"""WITH $clfCteSql
       |SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS clf_score
       |FROM (SELECT doc_id, sum(x * w) AS z
       |      FROM feats JOIN w$ClfIters USING (j) GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin

  /** tx_clf_auc — ROC-AUC of the trained quality classifier on its
    * labeled slice, via the rank-sum (Mann–Whitney U) identity:
    * AUC = (Σ ranks of positives − n₊(n₊+1)/2) / (n₊·n₋). The standard
    * "is the scorer better than chance" eval every filter pipeline
    * reports next to its scores — and rank-based, so it stays
    * informative even where the 3-step model's score spread is narrow.
    *
    * Ranks come from one window over the LABELED slice (≤200 rows — a
    * bounded eval set, never the corpus), ordered by (round-6 score,
    * doc_id) — a total order, identical in both engines. Everything is
    * integer arithmetic until the single final division.
    */
  val clfAuc: Q = (s, d) => {
    val feats = graft.Artifacts.memo(s, "tx_clf_features", d)(
      clfFeatures(tbl(s, d, "documents")).localCheckpoint(true))
    val labels = graft.Artifacts.memo(s, "tx_clf_labels", d)(
      clfLabels(tbl(s, d, "documents")).localCheckpoint(true))
    val ev = clfScoreWith(feats, trainedW(s, d, feats, labels))
      .join(labels, Seq("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("clf_score"), col("doc_id"))
    ev.withColumn("rk", row_number().over(w).cast("long"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y") === 1.0, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === 1.0, col("rk")).otherwise(0L)).as("s"))
      .select(col("n"), col("np").as("n_pos"),
        round((col("s") - col("np") * (col("np") + 1) / lit(2.0)) /
          (col("np") * (col("n") - col("np"))), 6).as("auc"))
  }
  val clfAucSql: String =
    s"""WITH $clfCteSql,
       |scored AS (
       |  SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS clf_score
       |  FROM (SELECT doc_id, sum(x * w) AS z
       |        FROM sf JOIN w$ClfIters USING (j) GROUP BY doc_id)),
       |ranked AS (
       |  SELECT s.doc_id, l.y,
       |         row_number() OVER (ORDER BY s.clf_score, s.doc_id) AS rk
       |  FROM scored s JOIN lab l USING (doc_id))
       |SELECT CAST(count(*) AS BIGINT) AS n,
       |       CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |       round((sum(CASE WHEN y = 1.0 THEN rk ELSE 0 END)
       |              - sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
       |                * (sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) + 1) / 2.0)
       |             / (sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END)
       |                * (count(*) - sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END))), 6) AS auc
       |FROM ranked""".stripMargin

  /** tx_clf_calib — reliability diagram of the trained quality scorer:
    * score the WHOLE corpus (not just the labeled slice), bin predictions
    * into deciles, and compare each bin's mean prediction against its
    * observed positive rate under the same stop-ratio labeling rule
    * extended corpus-wide. The companion eval to [[clfAuc]]: AUC says the
    * ranking works, calibration says whether 0.8 MEANS 80% — the number a
    * quality-threshold picker actually needs. Bins are score DECILES
    * (ntile over the 6-dp score with doc_id tie-break — a total order,
    * identical in both engines; equal-width bins would collapse onto the
    * 3-step model's narrow score band), counts are exact BIGINTs, and
    * the two means are final-step divisions.
    */
  val clfCalib: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
    val feats = graft.Artifacts.memo(s, "tx_clf_features", d)(
      clfFeatures(docs).localCheckpoint(true))
    val labels = graft.Artifacts.memo(s, "tx_clf_labels", d)(
      clfLabels(docs).localCheckpoint(true))
    val allLab = docs
      .withColumn("toks", split(col("text"), " "))
      .select(col("doc_id"),
        when(size(expr(s"filter(toks, t -> t IN ($stopSqlList))")).cast("double")
          / size(col("toks")).cast("double") >= ClfLabelThresh, 1L)
          .otherwise(0L).as("y"))
    val wb = org.apache.spark.sql.expressions.Window
      .orderBy(col("clf_score"), col("doc_id"))
    clfScoreWith(feats, trainedW(s, d, feats, labels))
      .join(allLab, Seq("doc_id"))
      .withColumn("bin", ntile(10).over(wb).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("clf_score")) / count(lit(1)), 6).as("mean_pred"),
        round(sum(col("y")).cast("double") / count(lit(1)), 6).as("frac_pos"))
      .orderBy(col("bin"))
  }
  val clfCalibSql: String =
    s"""WITH $clfCteSql,
       |scored AS (
       |  SELECT doc_id, round(1.0 / (1.0 + exp(-z)), 6) AS clf_score
       |  FROM (SELECT doc_id, sum(x * w) AS z
       |        FROM feats JOIN w$ClfIters USING (j) GROUP BY doc_id)),
       |alllab AS (
       |  SELECT doc_id,
       |         CASE WHEN CAST(len(list_filter(string_split(text, ' '),
       |                          t -> t IN ($stopSqlList))) AS DOUBLE)
       |                / len(string_split(text, ' ')) >= $ClfLabelThresh
       |              THEN 1 ELSE 0 END AS y
       |  FROM documents)
       |SELECT bin, count(*) AS n,
       |       round(sum(clf_score) / count(*), 6) AS mean_pred,
       |       round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS frac_pos
       |FROM (SELECT clf_score, y,
       |             CAST(ntile(10) OVER (ORDER BY clf_score, doc_id) AS BIGINT) AS bin
       |      FROM scored JOIN alllab USING (doc_id))
       |GROUP BY 1 ORDER BY bin""".stripMargin

  // ------------------------------------------------------------------ BPE

  /** BPE vocabulary training — the merge-pair iteration that completes the
    * tokenizer story [[PretokenRe]] starts: N rounds of "count adjacent
    * symbol pairs over the word-type histogram, merge the most frequent
    * pair everywhere", the classic Sennrich et al. recipe every modern
    * tokenizer trains with.
    *
    * Scale shape: the CORPUS is scanned exactly once, to build the
    * pretoken histogram (map-side-combined hash agg — word types, not
    * occurrences). Every training iteration then runs over that
    * vocab-sized table (the shape HF tokenizers uses), so 100 TB changes
    * the histogram build, not the loop. The per-iteration `.collect()` is
    * ONE row (the argmax pair) — driver-bounded by construction, N rows
    * total over a whole training run.
    *
    * Cross-engine exactness (same discipline as `lloydCentroids`): words
    * are carried as sentinel-wrapped symbol strings — each symbol `s`
    * becomes `\u0001s\u0002` — so applying a merge is a plain
    * non-overlapping left-to-right `replace` of `⟨l⟩⟨r⟩` with `⟨lr⟩`,
    * which is bit-identical in Spark and DuckDB and has no shared-boundary
    * ambiguity (adjacent occurrences never overlap, and `a a a` under
    * merge (a,a) correctly yields `aa a`). Pair counts are exact longs;
    * the argmax tie-breaks on (count DESC, lhs, rhs) — binary string
    * order in both engines.
    */
  private val BpeS1 = "\u0001"
  private val BpeS2 = "\u0002"
  val BpeN = 30

  /** (wrapped, freq) word-type histogram: one corpus scan. Single-char
    * word types are dropped at the source (r18 batch 2): a 1-symbol word
    * contributes no adjacent pair to any round's count and no merge can
    * ever apply to it (merges only shrink symbol counts), so carrying it
    * through 30 rounds of split+explode+replace is pure dead weight —
    * pair counts and the argmax sequence are unchanged by construction.
    */
  private def bpeWords0(docs: DataFrame): DataFrame =
    docs.select(explode(pretokenize(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .where(length(col("w")) >= 2)
      .select(regexp_replace(col("w"), "(?s)(.)", s"$BpeS1$$1$BpeS2").as("wrapped"),
        col("freq"))

  private def bpeSyms(wrapped: String): org.apache.spark.sql.Column =
    split(expr(s"substr($wrapped, 2, length($wrapped) - 2)"), s"$BpeS2$BpeS1")

  /** Train `n` merges; returns (merge_rank, lhs, rhs) in training order.
    * Hand-rolled rather than on [[Rounds]]: every round collects its
    * argmax pair to the driver, and the merges between checkpoints form
    * a lazy replace chain whose checkpoint is not a round of its own.
    */
  def bpeTrain(docs: DataFrame, n: Int = BpeN): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val words0 = bpeWords0(docs).localCheckpoint(true)
    var words = words0
    var lastCkpt = words0
    val merges = Seq.newBuilder[(Long, String, String)]
    for (t <- 1 to n) {
      // flatten the replace chain periodically: iteration t otherwise
      // re-executes t stacked replaces per pair-count pass (O(n²) total
      // re-work and a plan that grows every round — measured 4.0 s → 3.2 s
      // at sf0.1 with this checkpoint cadence). The table is vocab-sized,
      // so the materialization itself is cheap; the superseded round's
      // blocks are freed immediately (CC-loop hygiene).
      if (t % 8 == 0) {
        val ck = words.localCheckpoint(true)
        if (lastCkpt ne words0)
          org.apache.spark.sql.graftbridge.CheckpointBridge.freeCheckpoint(lastCkpt)
        lastCkpt = ck
        words = ck
      }
      val best = words
        .select(bpeSyms("wrapped").as("syms"), col("freq"))
        .where(size(col("syms")) >= 2)
        .select(explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("z"), col("freq"))
        .groupBy(col("z.0").as("lhs"), col("z.1").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs"), col("rhs"))
        .limit(1)
        .collect()(0) // 1 row: the argmax pair (driver-bounded, N total)
      val (l, r) = (best.getString(0), best.getString(1))
      merges += ((t.toLong, l, r))
      words = words.withColumn("wrapped",
        replace(col("wrapped"), lit(s"$BpeS1$l$BpeS2$BpeS1$r$BpeS2"),
          lit(s"$BpeS1$l$r$BpeS2")))
    }
    org.apache.spark.sql.graftbridge.CheckpointBridge.freeCheckpoint(words0)
    if (lastCkpt ne words0)
      org.apache.spark.sql.graftbridge.CheckpointBridge.freeCheckpoint(lastCkpt)
    merges.result().toDF("merge_rank", "lhs", "rhs")
  }

  /** Tokenize with a trained merge table: wrap, apply the merges in rank
    * order (the merge list is vocab-sized, folded into one codegen'd
    * replace chain — no per-row interpretation), unwrap.
    */
  def bpeEncode(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val wrapped0 = regexp_replace(col("w"), "(?s)(.)", s"$BpeS1$$1$BpeS2")
    val mergedCol = merges.foldLeft(wrapped0) { case (c, (l, r)) =>
      replace(c, lit(s"$BpeS1$l$BpeS2$BpeS1$r$BpeS2"), lit(s"$BpeS1$l$r$BpeS2"))
    }
    docs.select(col("doc_id"), posexplode(pretokenize(col("text"))).as(Seq("pre_idx", "w")))
      .withColumn("m", mergedCol)
      .select(col("doc_id"), col("pre_idx"), bpeSyms("m").as("bpe_toks"))
  }

  val bpeTrainQ: Q = (s, d) =>
    bpeTrain(tbl(s, d, "documents"), BpeN).orderBy(col("merge_rank"))

  /** DuckDB mirror of [[bpeTrain]]: the same histogram, pair-count,
    * argmax, and wrapped-replace update unrolled as chained CTEs
    * (w0 → p1 → b1 → w1 → …), generated from the same N so the engines
    * can't drift.
    */
  def bpeCteSql(n: Int): String = {
    val re = PretokenRe.replace("'", "''")
    val sb = new StringBuilder
    sb ++= s"""w0 AS MATERIALIZED (
              |  SELECT regexp_replace(w, '(?s)(.)', chr(1) || '\\1' || chr(2), 'g') AS wrapped,
              |         freq
              |  FROM (SELECT w, count(*) AS freq
              |        FROM (SELECT unnest(regexp_extract_all(text, '$re')) AS w FROM documents)
              |        GROUP BY w))""".stripMargin
    for (t <- 1 to n) {
      sb ++= s""",
                |p$t AS MATERIALIZED (
                |  SELECT u.l AS lhs, u.r AS rhs, CAST(sum(freq) AS BIGINT) AS cnt
                |  FROM (SELECT unnest(list_transform(range(0, len(syms) - 1),
                |               i -> {'l': syms[i + 1], 'r': syms[i + 2]})) AS u, freq
                |        FROM (SELECT string_split(substr(wrapped, 2, length(wrapped) - 2),
                |                                  chr(2) || chr(1)) AS syms, freq
                |              FROM w${t - 1})
                |        WHERE len(syms) >= 2)
                |  GROUP BY u.l, u.r),
                |b$t AS MATERIALIZED (SELECT lhs, rhs FROM p$t ORDER BY cnt DESC, lhs, rhs LIMIT 1),
                |w$t AS MATERIALIZED (SELECT replace(wrapped, chr(1) || lhs || chr(2) || chr(1) || rhs || chr(2),
                |                       chr(1) || lhs || rhs || chr(2)) AS wrapped, freq
                |       FROM w${t - 1} CROSS JOIN b$t)""".stripMargin
    }
    sb.toString
  }

  val bpeTrainSql: String = {
    val ranks = (1 to BpeN)
      .map(t => s"SELECT CAST($t AS BIGINT) AS merge_rank, lhs, rhs FROM b$t")
      .mkString("\n  UNION ALL ")
    s"""WITH ${bpeCteSql(BpeN)}
       |SELECT * FROM (
       |  $ranks)
       |ORDER BY merge_rank""".stripMargin
  }

  /** tx_bpe_encode — the ENCODE half of the tokenizer, oracle-checked
    * end-to-end: train [[BpeN]] merges, apply them to every document, and
    * report per-doc BPE token counts (the real token budget the 4-chars
    * heuristic in [[tokens]] approximates). The trained merge table is
    * collected once (N rows) and folded into a single codegen'd replace
    * chain over the corpus scan — at 100 TB this is the one-pass
    * tokenize-and-count every training-data pipeline runs. The oracle
    * re-trains AND re-encodes in SQL (the train CTEs from [[bpeCteSql]]
    * plus one replace level per merge over the pretoken stream).
    */
  /** The trained vocabulary, a per-corpus-snapshot artifact trained once
    * per session: (merges in rank order, training alphabet as a sorted
    * char string). The merge list (merge_rank ≥ 1) and the alphabet
    * (merge_rank = 0, one char per row) come back in one collect of
    * N + |alphabet| driver rows; every encode after that starts no job.
    */
  def trainedVocab(s: SparkSession, d: String): (Seq[(String, String)], String) =
    graft.Artifacts.memo(s, "bpe_vocab", d) {
      val alpha = tbl(s, d, "documents")
        .select(explode(pretokenize(col("text"))).as("w"))
        .select(explode(expr("regexp_extract_all(w, '(?s).', 0)")).as("c"))
        .distinct()
        .select(lit(0L).as("merge_rank"), col("c").as("lhs"),
          lit(null).cast("string").as("rhs"))
      val rows = bpeTrain(tbl(s, d, "documents"), BpeN).unionByName(alpha).collect()
      val merges = rows.filter(_.getLong(0) > 0L).sortBy(_.getLong(0))
        .map(r => (r.getString(1), r.getString(2))).toSeq
      (merges, rows.filter(_.getLong(0) == 0L).map(_.getString(1)).sorted.mkString)
    }

  def trainedMerges(s: SparkSession, d: String): Seq[(String, String)] =
    trainedVocab(s, d)._1

  val bpeEncodeQ: Q = (s, d) =>
    bpeEncode(tbl(s, d, "documents"), trainedMerges(s, d))
      .groupBy(col("doc_id"))
      .agg(sum(size(col("bpe_toks"))).cast("long").as("n_bpe"))
      .orderBy(col("doc_id"))

  val bpeEncodeSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH ${bpeCteSql(BpeN)},
              |e0 AS MATERIALIZED (
              |  SELECT doc_id,
              |         regexp_replace(w, '(?s)(.)', chr(1) || '\\1' || chr(2), 'g') AS wrapped
              |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '${PretokenRe.replace("'", "''")}')) AS w
              |        FROM documents))""".stripMargin
    for (t <- 1 to BpeN) {
      sb ++= s""",
                |e$t AS MATERIALIZED (
                |  SELECT doc_id, replace(wrapped, chr(1) || lhs || chr(2) || chr(1) || rhs || chr(2),
                |                         chr(1) || lhs || rhs || chr(2)) AS wrapped
                |  FROM e${t - 1} CROSS JOIN b$t)""".stripMargin
    }
    sb ++= s"""
              |SELECT doc_id,
              |       CAST(sum(len(string_split(substr(wrapped, 2, length(wrapped) - 2),
              |                                 chr(2) || chr(1)))) AS BIGINT) AS n_bpe
              |FROM e$BpeN GROUP BY doc_id ORDER BY doc_id""".stripMargin
    sb.toString
  }

  /** tx_fertility — per-language tokenizer fertility (chars per BPE
    * token) from the TRAINED merge table: the eval every tokenizer ships
    * with — a language whose fertility is far above the corpus mean pays
    * more sequence length per character, trains slower, and truncates
    * earlier, which is the budget argument for vocab rebalancing.
    * One encode pass (the bpeEncodeQ replace chain), one doc-keyed join
    * for lang, one aggregation; exact integer char/token sums, one IEEE
    * division, 6 dp.
    */
  val fertilityQ: Q = (s, d) => {
    val enc = bpeEncode(tbl(s, d, "documents"), trainedMerges(s, d))
      .groupBy(col("doc_id")).agg(sum(size(col("bpe_toks"))).cast("long").as("n_bpe"))
    tbl(s, d, "documents").select(col("doc_id"), col("lang"), col("n_chars"))
      .join(enc, "doc_id")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"),
        sum(col("n_bpe")).as("bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("chars"), col("bpe_tokens"),
        round(col("chars").cast("double") / col("bpe_tokens"), 6).as("chars_per_token"))
      .orderBy(col("lang"))
  }
  val fertilitySql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH ${bpeCteSql(BpeN)},
              |e0 AS MATERIALIZED (
              |  SELECT doc_id,
              |         regexp_replace(w, '(?s)(.)', chr(1) || '\\1' || chr(2), 'g') AS wrapped
              |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '${PretokenRe.replace("'", "''")}')) AS w
              |        FROM documents))""".stripMargin
    for (t <- 1 to BpeN) {
      sb ++= s""",
                |e$t AS MATERIALIZED (
                |  SELECT doc_id, replace(wrapped, chr(1) || lhs || chr(2) || chr(1) || rhs || chr(2),
                |                         chr(1) || lhs || rhs || chr(2)) AS wrapped
                |  FROM e${t - 1} CROSS JOIN b$t)""".stripMargin
    }
    sb ++= s"""
              |, nb AS (
              |  SELECT doc_id,
              |         CAST(sum(len(string_split(substr(wrapped, 2, length(wrapped) - 2),
              |                                   chr(2) || chr(1)))) AS BIGINT) AS n_bpe
              |  FROM e$BpeN GROUP BY doc_id)
              |SELECT d.lang, count(*) AS n_docs,
              |       CAST(sum(d.n_chars) AS BIGINT) AS chars,
              |       CAST(sum(nb.n_bpe) AS BIGINT) AS bpe_tokens,
              |       round(CAST(sum(d.n_chars) AS DOUBLE) / sum(nb.n_bpe), 6)
              |         AS chars_per_token
              |FROM nb JOIN documents d USING (doc_id)
              |GROUP BY d.lang ORDER BY d.lang""".stripMargin
    sb.toString
  }

  /** Byte-fallback wrapped form: each char inside the training alphabet
    * wraps as `⟨c⟩`; any OOV char decomposes into its UTF-8 bytes, each
    * a `⟨<0xXX>⟩` symbol — SentencePiece's `byte_fallback`, making the
    * vocabulary CLOSED (alphabet + merges + 256 byte symbols) so no
    * input can produce an unknown token. Pure per-char expression work
    * (regexp char split, membership against the alphabet literal, hex of
    * the UTF-8 encoding) — codegen'd, scan-speed, no extra shuffle.
    */
  private def wrappedWithFallback(alpha: String): org.apache.spark.sql.Column = {
    val chars = expr("regexp_extract_all(w, '(?s).', 0)")
    concat_ws("", transform(chars, c => {
      val hx = hex(encode(c, "UTF-8"))
      val bytes = concat_ws("", transform(
        sequence(lit(1), (length(hx) / lit(2)).cast("int")),
        i => concat(lit(s"$BpeS1<0x"), hx.substr(i * lit(2) - lit(1), lit(2)),
          lit(s">$BpeS2"))))
      when(lit(alpha).contains(c), concat(lit(BpeS1), c, lit(BpeS2)))
        .otherwise(bytes)
    }))
  }

  /** Encode with byte fallback: OOV chars become UTF-8 byte tokens, then
    * the trained merges apply unchanged (byte symbols are multi-char, so
    * no trained merge pattern can match across them unless the corpus
    * itself trained that literal — deterministic either way).
    */
  def bpeEncodeByteFallback(docs: DataFrame, merges: Seq[(String, String)],
                            alpha: String): DataFrame = {
    val mergedCol = merges.foldLeft(wrappedWithFallback(alpha)) { case (c, (l, r)) =>
      replace(c, lit(s"$BpeS1$l$BpeS2$BpeS1$r$BpeS2"), lit(s"$BpeS1$l$r$BpeS2"))
    }
    docs.select(col("doc_id"), posexplode(pretokenize(col("text"))).as(Seq("pre_idx", "w")))
      .withColumn("m", mergedCol)
      .select(col("doc_id"), col("pre_idx"), bpeSyms("m").as("bpe_toks"))
  }

  /** tx_bpe_oov — the OOV path oracle-gated end-to-end: plant characters
    * the training corpus never saw (é, 日本 — the corpus is ASCII) onto a
    * probe slice, encode FROM THE PERSISTED VOCAB ARTIFACT with byte
    * fallback, and report per-doc token count, byte-token count, and a
    * token-multiset md5. The oracle retrains the vocabulary in SQL
    * (bpeCteSql), rebuilds the alphabet, and re-runs the identical
    * fallback encode — so artifact-served and retrained-from-scratch
    * encodes are proven hash-equal, which is the artifact's correctness
    * contract. Planted chars use unicode escapes / chr() so both engines
    * see identical code points regardless of source encodings.
    */
  val bpeOovQ: Q = (s, d) => {
    val (merges, alpha) = trainedVocab(s, d)
    val planted = tbl(s, d, "documents").where(col("doc_id") < 200)
      .select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 3 === 0, lit(" caf\u00e9")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit(" \u65e5\u672c")).otherwise(lit("")))
        .as("text"))
    bpeEncodeByteFallback(planted, merges, alpha)
      .select(col("doc_id"), explode(col("bpe_toks")).as("tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bpe"),
        sum(when(col("tok").rlike("^<0x[0-9A-F]{2}>$"), 1L).otherwise(0L)).as("n_byte"),
        md5(concat_ws("\u0003", sort_array(collect_list(col("tok")))).cast("binary"))
          .as("tok_md5"))
      .orderBy(col("doc_id"))
  }
  val bpeOovSql: String = {
    val re = PretokenRe.replace("'", "''")
    s"""WITH ${bpeCteSql(BpeN)},
       |alpha AS (
       |  SELECT string_agg(c, '' ORDER BY c) AS alpha
       |  FROM (SELECT DISTINCT unnest(regexp_extract_all(w, '(?s).')) AS c
       |        FROM (SELECT unnest(regexp_extract_all(text, '$re')) AS w FROM documents))),
       |planted AS (
       |  SELECT doc_id,
       |         text || CASE WHEN doc_id % 3 = 0 THEN ' caf' || chr(233) ELSE '' END
       |              || CASE WHEN doc_id % 5 = 0 THEN ' ' || chr(26085) || chr(26412) ELSE '' END AS text
       |  FROM documents WHERE doc_id < 200),
       |f0 AS MATERIALIZED (
       |  SELECT doc_id,
       |         array_to_string(list_transform(regexp_extract_all(w, '(?s).'), c ->
       |           CASE WHEN contains(alpha, c) THEN chr(1) || c || chr(2)
       |                ELSE array_to_string(list_transform(
       |                       range(1, length(hex(encode(c))) // 2 + 1),
       |                       i -> chr(1) || '<0x' || substr(hex(encode(c)), i*2-1, 2) || '>' || chr(2)), '')
       |           END), '') AS wrapped
       |  FROM (SELECT doc_id, unnest(regexp_extract_all(text, '$re')) AS w FROM planted)
       |       CROSS JOIN alpha)${(1 to BpeN).map(t => s""",
       |f$t AS MATERIALIZED (
       |  SELECT doc_id, replace(wrapped, chr(1) || lhs || chr(2) || chr(1) || rhs || chr(2),
       |                         chr(1) || lhs || rhs || chr(2)) AS wrapped
       |  FROM f${t - 1} CROSS JOIN b$t)""").mkString}
       |SELECT doc_id, count(*) AS n_bpe,
       |       CAST(sum(CASE WHEN regexp_matches(tok, '^<0x[0-9A-F]{2}>$$') THEN 1 ELSE 0 END) AS BIGINT) AS n_byte,
       |       md5(string_agg(tok, chr(3) ORDER BY tok)) AS tok_md5
       |FROM (SELECT doc_id,
       |             unnest(string_split(substr(wrapped, 2, length(wrapped) - 2),
       |                                 chr(2) || chr(1))) AS tok
       |      FROM f$BpeN WHERE length(wrapped) >= 2)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** tx_lm_score — corpus-trained bigram language-model scoring: the cheap
    * statistical stand-in for perplexity-based quality filtering (the CCNet
    * / Gopher recipe — score every doc under an n-gram LM trained on the
    * corpus itself, drop the tails). Add-one smoothing:
    * P(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V); doc score = mean ln P over
    * its bigram positions.
    *
    * Scale shape — train/score split, like every perplexity-filter
    * pipeline: TRAINING (one corpus scan → map-side-combined hash agg
    * keyed on the bigram) produces a counts table that is O(distinct
    * bigrams), a per-corpus-snapshot ARTIFACT — materialized once and
    * reused by every scoring run (a memoized eager localCheckpoint
    * here; a parquet index table at 100 TB, the `Artifacts.table`
    * shape). SCORING is then one corpus scan joined against the broadcast
    * counts; c1 (unigram-left counts, O(vocab)) and V (a scalar) both
    * derive from the materialized counts for free. Without the
    * materialization, every consumer of c2's plan re-executes the corpus
    * explode — four full scans per run (measured: 1.8 s → 0.6 s at sf0.1).
    *
    * Determinism: mean over doubles is summation-order-sensitive in the
    * last bits, so the score rounds to 6 dp (the tx_tfidf convention) —
    * values sit at magnitude ~-5 where double noise is ~1e-13.
    */
  // arrays_zip of two shifted slices, not transform(sequence(...), λ):
  // higher-order functions are CodegenFallback (interpreted per row) and
  // measured 2.7× slower for the same bigram explode at sf0.1.
  private def bigramsOf(docs: DataFrame): DataFrame =
    docs.withColumn("toks", split(col("text"), " "))
      .where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1))).as("z"))
      .select(col("doc_id"), concat(col("z.0"), lit(" "), col("z.1")).as("bg"))

  private def bigramCounts(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.memo(s, "tx_lm_model", d)(
      bigramsOf(tbl(s, d, "documents"))
        .groupBy(col("bg")).agg(count(lit(1)).as("c2"))
        .localCheckpoint(true))

  /** Per-doc bigram-LM scores WITHOUT the gate's output sort — the table
    * [[withPpBucket]] consumes. Session-cached as materialized blocks
    * (r18 batch 2): tx_pp_bucket and sp_quality_sample each re-derived
    * the full scoring scan per reference — and the cuts-vs-rows fan-out
    * inside ONE bucket call already replicated it 2× (measured plan per
    * gate: 36 Exchanges / 16 scans) — where a CCNet-style production
    * pipeline scores the corpus once per snapshot and every consumer
    * (bucketing, sampling policy) reads the scored table, exactly the
    * [[bigramCounts]] / lshLabels / tx_clf-weights precedent. tx_lm_score
    * itself keeps scoring from the corpus per invocation — the gate is
    * the scoring pass.
    */
  private def lmScored(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.memo(s, "tx_lm_scored", d)(
      lmScoreOf(s, d).localCheckpoint(true))

  private def lmScoreOf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val c2 = bigramCounts(s, d)
    val c1 = c2
      .select(substring_index($"bg", " ", 1).as("w1"), $"c2")
      .groupBy($"w1").agg(sum($"c2").as("c1"))
    // V (distinct tokens seen in any bigram) comes from the DISTINCT-bigram
    // table, not another corpus scan: a token occurs in some bigram
    // occurrence iff it occurs in some distinct bigram — same set.
    val v = c2
      .select(explode(split($"bg", " ")).as("tok"))
      .agg(countDistinct($"tok").as("v"))
    // c1 (O(vocab)) and v (scalar) are safely broadcast at any scale; c2 is
    // DISTINCT-BIGRAM-bounded — O(min(corpus tokens, V^2)) — which grows
    // with the corpus, so at 100 TB drop the c2 hint and it becomes a
    // shuffle join against the persisted counts table, same plan shape.
    bigramsOf(tbl(s, d, "documents"))
      .join(broadcast(c2), Seq("bg"))
      .withColumn("w1", substring_index($"bg", " ", 1))
      .join(broadcast(c1), Seq("w1"))
      .crossJoin(broadcast(v))
      .groupBy($"doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log(($"c2" + 1).cast("double") / ($"c1" + $"v").cast("double"))), 6)
          .as("lm_score"))
  }

  val lmScore: Q = (s, d) => lmScoreOf(s, d).orderBy(col("doc_id"))
  /** Shared CTE block for the bigram-LM oracles: training counts +
    * per-doc scoring as `lmsc(doc_id, n_bigrams, lm_score)` — reused by
    * tx_lm_score and tx_pp_bucket so the two gates cannot drift.
    */
  private val lmCteSql: String =
    """bg AS (
      |  SELECT doc_id,
      |         unnest(list_transform(range(0, len(toks) - 1),
      |                i -> array_to_string(toks[i + 1 : i + 2], ' '))) AS bg
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
      |  WHERE len(toks) >= 2),
      |c2 AS (SELECT bg, count(*) AS c2 FROM bg GROUP BY bg),
      |c1 AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c2) AS BIGINT) AS c1
      |       FROM c2 GROUP BY 1),
      |v AS (SELECT count(DISTINCT tok) AS v
      |      FROM (SELECT unnest(string_split(bg, ' ')) AS tok FROM c2)),
      |lmsc AS (
      |  SELECT doc_id, count(*) AS n_bigrams,
      |         round(avg(ln(CAST(c2 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE))), 6)
      |           AS lm_score
      |  FROM bg
      |  JOIN c2 USING (bg)
      |  JOIN c1 ON c1.w1 = string_split(bg, ' ')[1]
      |  CROSS JOIN v
      |  GROUP BY doc_id)""".stripMargin

  val lmScoreSql: String =
    s"""WITH $lmCteSql
      |SELECT doc_id, n_bigrams, lm_score FROM lmsc ORDER BY doc_id""".stripMargin

  /** tx_kn_score — interpolated Kneser-Ney bigram scoring (Kneser & Ney
    * 1995; Chen & Goodman 1999's recommended form), the LM-quality
    * upgrade over tx_lm_score's add-one smoothing:
    * P(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁·)
    *            + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··), D = 0.75.
    * The continuation probability scores w₂ by how many CONTEXTS it
    * follows, not raw frequency — the fix for add-one's overestimate of
    * frequent-but-context-bound tokens, and the difference a perplexity
    * filter actually notices on boilerplate.
    *
    * Scale shape: identical to tx_lm_score — everything derives from the
    * one materialized bigram-count artifact (c1, the two N₁₊ tables, and
    * the scalar all aggregate c2, never rescan the corpus); scoring is
    * one corpus scan against broadcast side tables. Same 6-dp mean-log
    * rounding discipline.
    */
  val knScore: Q = (s, d) => {
    import s.implicits._
    val c2 = bigramCounts(s, d)
    val c1 = c2
      .select(substring_index($"bg", " ", 1).as("w1"), $"c2")
      .groupBy($"w1").agg(sum($"c2").as("c1"), count(lit(1)).as("n1f"))
    val n1b = c2
      .select(substring_index($"bg", " ", -1).as("w2"))
      .groupBy($"w2").agg(count(lit(1)).as("n1b"))
    val nbi = c2.agg(count(lit(1)).as("nbi"))
    val p = (greatest($"c2" - 0.75, lit(0.0)) +
      lit(0.75) * $"n1f" * ($"n1b".cast("double") / $"nbi")) / $"c1"
    bigramsOf(tbl(s, d, "documents"))
      .join(broadcast(c2), Seq("bg"))
      .withColumn("w1", substring_index($"bg", " ", 1))
      .withColumn("w2", substring_index($"bg", " ", -1))
      .join(broadcast(c1), Seq("w1"))
      .join(broadcast(n1b), Seq("w2"))
      .crossJoin(broadcast(nbi))
      .groupBy($"doc_id").agg(
        count(lit(1)).as("n_bigrams"),
        round(avg(log(p)), 6).as("kn_score"))
      .orderBy($"doc_id")
  }
  val knScoreSql: String =
    s"""WITH $lmCteSql,
       |kc1 AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(sum(c2) AS BIGINT) AS c1,
       |               count(*) AS n1f
       |        FROM c2 GROUP BY 1),
       |n1b AS (SELECT string_split(bg, ' ')[2] AS w2, count(*) AS n1b
       |        FROM c2 GROUP BY 1),
       |nbi AS (SELECT count(*) AS nbi FROM c2)
       |SELECT doc_id, count(*) AS n_bigrams,
       |       round(avg(ln((greatest(c2 - 0.75, 0.0)
       |                     + 0.75 * n1f * (CAST(n1b AS DOUBLE) / nbi)) / c1)), 6)
       |         AS kn_score
       |FROM bg
       |JOIN c2 USING (bg)
       |JOIN kc1 ON kc1.w1 = string_split(bg, ' ')[1]
       |JOIN n1b ON n1b.w2 = string_split(bg, ' ')[2]
       |CROSS JOIN nbi
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** tx_pp_bucket — CCNet-style perplexity bucketing (Wenzek et al. 2020):
    * score every doc under the corpus bigram LM, then split the corpus
    * into head / middle / tail thirds by score — the bucketing that CCNet
    * uses to keep the head, sample the middle, and drop the tail.
    *
    * Scale shape — the CCNet recipe, not a global sort: the cutoffs are
    * two order statistics of the PER-DOC score table (one row per doc,
    * already ~10⁶× smaller than the token stream), computed as a single
    * exact-percentile aggregation and broadcast; bucket assignment is
    * then a stateless compare inside the scan projection. No global
    * window, no single-partition cliff — the same threshold-broadcast
    * shape as sp_split. Spark `percentile` and DuckDB `quantile_cont`
    * share the (n-1)·q linear-interpolation definition (the sk_quantile
    * gate already pins this parity); thresholds and scores are both
    * round-6 so the compare sees identical doubles on both engines.
    */
  private def withPpBucket(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sc = lmScored(s, d).select($"doc_id", $"lm_score")
    val cuts = sc.agg(
      round(expr("percentile(lm_score, CAST(1 AS DOUBLE)/3)"), 6).as("t1"),
      round(expr("percentile(lm_score, CAST(2 AS DOUBLE)/3)"), 6).as("t2"))
    sc.crossJoin(broadcast(cuts))
      .select($"doc_id", $"lm_score",
        when($"lm_score" <= $"t1", lit("tail"))
          .when($"lm_score" <= $"t2", lit("middle"))
          .otherwise(lit("head")).as("bucket"))
  }

  val ppBucket: Q = (s, d) => withPpBucket(s, d).orderBy(col("doc_id"))
  val ppBucketSql: String =
    s"""WITH $lmCteSql,
      |cuts AS (SELECT round(quantile_cont(lm_score, CAST(1 AS DOUBLE)/3), 6) AS t1,
      |                round(quantile_cont(lm_score, CAST(2 AS DOUBLE)/3), 6) AS t2
      |         FROM lmsc)
      |SELECT doc_id, lm_score,
      |       CASE WHEN lm_score <= t1 THEN 'tail'
      |            WHEN lm_score <= t2 THEN 'middle'
      |            ELSE 'head' END AS bucket
      |FROM lmsc CROSS JOIN cuts ORDER BY doc_id""".stripMargin

  /** sp_quality_sample — the CCNet CONSUMPTION policy on top of the
    * buckets: keep the head outright, coin-flip the middle at ~50%, drop
    * the tail. The coin is the md5-prefix trick from sp_split (hex is
    * uniform, '8' cuts at 8/16) keyed on the doc id, so the decision is
    * stable under retries, repartitioning, and corpus growth — the same
    * reproducibility contract as the train/val/test split. One scan over
    * the score table; the filter is a stateless compare, no shuffle
    * beyond what scoring already did.
    */
  val qualitySample: Q = (s, d) => {
    import s.implicits._
    withPpBucket(s, d)
      .where($"bucket" === "head" ||
        ($"bucket" === "middle" && md5(concat(lit("qs:"), $"doc_id")) < "8"))
      .orderBy($"doc_id")
  }
  val qualitySampleSql: String =
    s"""WITH $lmCteSql,
      |cuts AS (SELECT round(quantile_cont(lm_score, CAST(1 AS DOUBLE)/3), 6) AS t1,
      |                round(quantile_cont(lm_score, CAST(2 AS DOUBLE)/3), 6) AS t2
      |         FROM lmsc),
      |b AS (SELECT doc_id, lm_score,
      |             CASE WHEN lm_score <= t1 THEN 'tail'
      |                  WHEN lm_score <= t2 THEN 'middle'
      |                  ELSE 'head' END AS bucket
      |      FROM lmsc CROSS JOIN cuts)
      |SELECT doc_id, lm_score, bucket FROM b
      |WHERE bucket = 'head'
      |   OR (bucket = 'middle' AND md5('qs:' || doc_id) < '8')
      |ORDER BY doc_id""".stripMargin

  /** tx_t5_spans — denoising-objective sample prep (T5 span corruption,
    * Raffel et al. 2020 §3.1.4): replace short token spans with sentinel
    * tokens, emit (input-with-sentinels, target-of-dropped-spans) pairs —
    * the seq2seq pretraining sample construction.
    *
    * T5 samples span starts/lengths randomly; a distributed, replayable
    * pipeline needs the corruption to be a pure function of the doc, so
    * spans here are hash-derived per 8-token block: md5(doc, block) gates
    * the block (~50%), picks the span offset (0-3) and length (1-3)
    * inside it. Blocks bound spans, so no overlap resolution (the one
    * part of the textbook recipe that is inherently sequential) is ever
    * needed — every row is independent, the op is one explode + one
    * partitioned window (sentinel numbering) + two grouped re-joins.
    * ~12% of tokens corrupted in expectation (½ gate × 2/8 mean span).
    * Hash-digit → int goes through ascii() (portable to every engine;
    * mildly non-uniform over 16 hex codes, irrelevant for masking).
    */
  val t5Spans: Q = (s, d) => {
    import s.implicits._
    // Single-stream shape (r18 batch 2, guide §2.4): the old plan split
    // the exploded token stream into corrupt/clean branches and re-joined
    // them — the md5-per-token derivation replicated 3× (measured plan:
    // 6 scans / 10 Exchanges / 4 Windows). The sentinel index k needs no
    // per-branch dense_rank: every corrupted block emits exactly one
    // pib = off row (tokens are contiguous from 0, so if ANY pib ≥ off
    // survives the block-length truncation, the off-token itself exists),
    // so k = running count of sentinel rows up the doc − 1 — one window
    // over the SAME doc_id key the final aggregation groups by, i.e. one
    // exchange total. input and target then fold in ONE grouped pass via
    // null-skipping collect_list. Identical strings by construction:
    // dense_rank over corrupted blocks ≡ sentinel-row running count.
    val t = tbl(s, d, "documents")
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("p", "tok")))
      .withColumn("b", expr("CAST(floor(p / 8.0) AS BIGINT)"))
      .withColumn("h", md5(concat(lit("t5:"), $"doc_id", lit(":"), $"b")))
      .withColumn("off", ascii(substring($"h", 1, 1)) % 4)
      .withColumn("len", ascii(substring($"h", 2, 1)) % 3 + 1)
      .withColumn("pib", $"p" - $"b" * 8)
      .withColumn("corrupt",
        ascii(substring($"h", 3, 1)) % 2 === 0 &&
        $"pib" >= $"off" && $"pib" < $"off" + $"len")
      .withColumn("sentinel", $"corrupt" && $"pib" === $"off")
      .withColumn("k",
        sum(when($"sentinel", 1L).otherwise(0L)).over(
          Window.partitionBy($"doc_id").orderBy($"p")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
    val staged = t
      .withColumn("in_piece", when(!$"corrupt", $"tok")
        .when($"sentinel", concat(lit("<extra_id_"), $"k", lit(">"))))
      .withColumn("tgt_piece",
        when($"sentinel", concat(lit("<extra_id_"), $"k", lit("> "), $"tok"))
          .when($"corrupt", $"tok"))
    staged.groupBy($"doc_id")
      .agg(
        expr("array_join(transform(array_sort(collect_list(" +
          "IF(isnotnull(in_piece), struct(p, in_piece), NULL))), " +
          "x -> x.in_piece), ' ')").as("input"),
        expr("array_join(transform(array_sort(collect_list(" +
          "IF(isnotnull(tgt_piece), struct(p, tgt_piece), NULL))), " +
          "x -> x.tgt_piece), ' ')").as("target"),
        coalesce(max(when($"corrupt", $"k")) + 1, lit(0L)).cast("long").as("n_spans"))
      .orderBy($"doc_id")
  }
  val t5SpansSql: String =
    """WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |t AS (SELECT doc_id, p, toks[p + 1] AS tok FROM (
      |        SELECT doc_id, toks, unnest(range(0, len(toks))) AS p FROM t0)),
      |c2 AS (SELECT *,
      |              ascii(substr(h, 1, 1)) % 4 AS off,
      |              ascii(substr(h, 2, 1)) % 3 + 1 AS len,
      |              p - b * 8 AS pib,
      |              ascii(substr(h, 3, 1)) % 2 = 0 AS gate
      |       FROM (SELECT *, md5('t5:' || doc_id || ':' || b) AS h FROM (
      |               SELECT *, CAST(floor(p / 8.0) AS BIGINT) AS b FROM t))),
      |c3 AS (SELECT *, gate AND pib >= off AND pib < off + len AS corrupt FROM c2),
      |cc AS (SELECT *, dense_rank() OVER (PARTITION BY doc_id ORDER BY b) - 1 AS k
      |       FROM c3 WHERE corrupt),
      |inp AS (SELECT doc_id, string_agg(piece, ' ' ORDER BY p) AS input FROM (
      |          SELECT doc_id, p, tok AS piece FROM c3 WHERE NOT corrupt
      |          UNION ALL
      |          SELECT doc_id, p, '<extra_id_' || k || '>' AS piece FROM cc
      |          WHERE pib = off)
      |        GROUP BY doc_id),
      |tgt AS (SELECT doc_id,
      |               string_agg(CASE WHEN pib = off
      |                               THEN '<extra_id_' || k || '> ' || tok
      |                               ELSE tok END, ' ' ORDER BY p) AS target,
      |               CAST(max(k) + 1 AS BIGINT) AS n_spans
      |        FROM cc GROUP BY doc_id)
      |SELECT i.doc_id, i.input, coalesce(t.target, '') AS target,
      |       coalesce(t.n_spans, 0) AS n_spans
      |FROM inp i LEFT JOIN tgt t USING (doc_id) ORDER BY i.doc_id""".stripMargin

  /** tx_cdc — CONTENT-DEFINED chunking: chunk boundaries chosen by a
    * rolling hash of the last 3 tokens (boundary where
    * md5-derived h(window) ≡ 0 mod 8 → ~8-token average chunks), not by
    * fixed offsets. The property fixed-size chunking ([[chunk]]) lacks:
    * an identical text run chunks IDENTICALLY wherever it appears, so
    * chunk-hash dedup catches shared content across documents even when
    * an insertion shifted every byte offset — the rsync/LBFS/storage-
    * dedup trick, applied to training-corpus chunk dedup.
    *
    * Shape: per-doc windows only (lag + a running boundary count,
    * partitioned by doc_id — parallel at any corpus size; docs are
    * bounded, the corpus is not), then one (doc, chunk) agg re-using the
    * spanRemoval ordered-reassembly idiom. The md5-derived boundary hash
    * is the cmsBucket cross-engine discipline. Emitted chunk_hash is the
    * dedup key downstream ops group by.
    */
  val cdc: Q = (s, d) => {
    import s.implicits._
    val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
    val toks = tbl(s, d, "documents")
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("pos", "tok")))
    val g = toks
      .withColumn("win", concat_ws(" ",
        lag($"tok", 2).over(wDoc), lag($"tok", 1).over(wDoc), $"tok"))
      .withColumn("b", $"pos" >= 2 &&
        conv(substring(md5($"win"), 1, 8), 16, 10).cast("long") % 8 === 0)
    val ch = g.withColumn("chunk", coalesce(
        sum($"b".cast("long")).over(
          wDoc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    ch.groupBy($"doc_id", $"chunk")
      .agg(min($"pos").cast("long").as("start_pos"),
        count(lit(1)).as("n_toks"),
        substring(md5(array_join(transform(
          array_sort(collect_list(struct($"pos", $"tok"))),
          x => x.getField("tok")), " ")), 1, 8).as("chunk_hash"))
      .orderBy($"doc_id", $"chunk")
  }
  val cdcSql: String =
    """WITH tp AS (
      |  SELECT doc_id, u.pos AS pos, u.tok AS tok
      |  FROM (SELECT doc_id,
      |               unnest(list_transform(range(0, len(toks)),
      |                      i -> {'pos': i, 'tok': toks[i + 1]})) AS u
      |        FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))),
      |g AS (
      |  SELECT doc_id, pos, tok,
      |         pos >= 2 AND
      |         CAST('0x' || substr(md5(
      |           lag(tok, 2) OVER w || ' ' || lag(tok, 1) OVER w || ' ' || tok), 1, 8)
      |           AS BIGINT) % 8 = 0 AS b
      |  FROM tp WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
      |ch AS (
      |  SELECT doc_id, pos, tok,
      |         coalesce(sum(CASE WHEN b THEN 1 ELSE 0 END) OVER (
      |           PARTITION BY doc_id ORDER BY pos
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS chunk
      |  FROM g)
      |SELECT doc_id, chunk, CAST(min(pos) AS BIGINT) AS start_pos,
      |       count(*) AS n_toks,
      |       substr(md5(string_agg(tok, ' ' ORDER BY pos)), 1, 8) AS chunk_hash
      |FROM ch GROUP BY doc_id, chunk ORDER BY doc_id, chunk""".stripMargin

  /** tx_chunk — sliding-window chunking with overlap (64-token windows,
    * stride 48 → 16-token overlap): the context-window preparation every
    * retrieval/embedding pipeline runs on long documents. One explode of
    * a per-doc chunk-index sequence + a slice per chunk — narrow, no
    * shuffle, no token re-scan per chunk (the slice reads the one split
    * array). Chunk starts are every stride while < n_toks, so the tail
    * is always covered and short docs yield exactly one chunk; both
    * engines cap the final slice at the array end identically.
    */
  val chunk: Q = (s, d) => {
    import s.implicits._
    tbl(s, d, "documents")
      .select($"doc_id", split($"text", " ").as("toks"))
      .withColumn("n", size($"toks").cast("long"))
      .select($"doc_id", $"toks", $"n",
        explode(expr("sequence(0L, CAST(floor((n - 1) / 48.0) AS BIGINT))")).as("chunk_id"))
      .withColumn("piece", expr("slice(toks, CAST(chunk_id * 48 + 1 AS INT), 64)"))
      .select($"doc_id", $"chunk_id",
        size($"piece").cast("long").as("n_chunk_toks"),
        array_join($"piece", " ").as("chunk_text"))
      .orderBy($"doc_id", $"chunk_id")
  }
  val chunkSql: String =
    """SELECT doc_id, chunk_id,
      |       len(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS n_chunk_toks,
      |       array_to_string(toks[chunk_id * 48 + 1 : chunk_id * 48 + 64], ' ') AS chunk_text
      |FROM (
      |  SELECT doc_id, toks,
      |         unnest(range(0, CAST(floor((len(toks) - 1) / 48.0) AS BIGINT) + 1)) AS chunk_id
      |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents))
      |ORDER BY doc_id, chunk_id""".stripMargin

  // ----------------------------------------------------- PMI collocations

  /** tx_colloc — PMI-ranked collocation mining: the phrase extractor a
    * corpus pipeline runs to find multiword units worth protecting from
    * tokenization ("new york"-style) or worth indexing as phrases.
    * PMI(a,b) = ln(c(ab)·N / (c(a·)·c(·b))) over the bigram distribution,
    * with a minimum pair count of 5 to keep the estimator out of its
    * noisy tail (Church & Hanks 1990's standard guard).
    *
    * Scale shape: everything derives from the SAME persisted bigram-count
    * artifact the LM scorer trains ([[bigramCounts]] — memoized blocks here,
    * a parquet index table at 100 TB), so the corpus is not re-scanned:
    * both marginals (left c(w1·), right c(·w2)) and the grand total N are
    * O(vocab)/O(1) aggregates OF the counts table, broadcast back onto
    * it. The only floats are one ln per surviving bigram, rounded to 6 dp
    * before the top-k (tx_entropy's grain argument), and the k-row result
    * comes from TakeOrderedAndProject with `bg` as the total tie-break.
    */
  val colloc: Q = (s, d) => {
    import s.implicits._
    val c2 = bigramCounts(s, d)
    val cl = c2.select(substring_index($"bg", " ", 1).as("w1"), $"c2")
      .groupBy($"w1").agg(sum($"c2").as("cl"))
    val cr = c2.select(substring_index($"bg", " ", -1).as("w2"), $"c2")
      .groupBy($"w2").agg(sum($"c2").as("cr"))
    val nn = c2.agg(sum($"c2").as("n"))
    c2.where($"c2" >= 5)
      .withColumn("w1", substring_index($"bg", " ", 1))
      .withColumn("w2", substring_index($"bg", " ", -1))
      .join(broadcast(cl), Seq("w1"))
      .join(broadcast(cr), Seq("w2"))
      .crossJoin(broadcast(nn))
      .select($"bg", $"c2".as("n_pair"),
        round(log(($"c2".cast("double") * $"n") / ($"cl".cast("double") * $"cr")), 6)
          .as("pmi"))
      .orderBy($"pmi".desc, $"bg")
      .limit(25)
  }
  val collocSql: String =
    s"""WITH $lmCteSql,
       |nn AS (SELECT CAST(sum(c2) AS BIGINT) AS n FROM c2),
       |cr AS (SELECT string_split(bg, ' ')[2] AS w2, CAST(sum(c2) AS BIGINT) AS cr
       |       FROM c2 GROUP BY 1)
       |SELECT bg, c2 AS n_pair,
       |       round(ln((CAST(c2 AS DOUBLE) * n) / (CAST(c1 AS DOUBLE) * cr)), 6) AS pmi
       |FROM c2
       |JOIN c1 ON c1.w1 = string_split(bg, ' ')[1]
       |JOIN cr ON cr.w2 = string_split(bg, ' ')[2]
       |CROSS JOIN nn
       |WHERE c2 >= 5
       |ORDER BY pmi DESC, bg LIMIT 25""".stripMargin

  // ------------------------------------------------------------- TextRank

  /** tx_burstiness — variance-to-mean ratio (VMR, over ALL docs incl.
    * zeros) of per-doc counts for the top-20 corpus tokens: the Church &
    * Gale burstiness diagnostic — function words spread evenly (VMR ≈ 1,
    * Poisson), content/topic words clump into the few docs about that
    * topic (VMR ≫ 1), and boilerplate repeated within templated pages
    * shows extreme VMR. A corpus-health signal tf-idf assumes but never
    * reports.
    *
    * The zeros never materialize: with N total docs, Σc and Σc² over
    * docs CONTAINING the token equal the sums over all docs, so
    * VMR = (Σc² − (Σc)²/N)/(N−1) / (Σc/N) comes from one (doc, tok)
    * count aggregation + one token rollup. All moments exact BIGINTs;
    * VMR is one IEEE sequence, 6 dp; top-20 by (count, token) total
    * order.
    */
  val burstiness: Q = (s, d) => {
    import s.implicits._
    val docs = tbl(s, d, "documents")
    val nDocs = docs.agg(count(lit(1)).as("nd"))
    val perDoc = docs
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .where(length($"tok") > 0)
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("c"))
    val byTok = perDoc.groupBy($"tok").agg(
      count(lit(1)).as("df"), sum($"c").as("total"), sum($"c" * $"c").as("sc2"))
    byTok.crossJoin(broadcast(nDocs))
      .withColumn("rk", row_number().over(
        Window.orderBy($"total".desc, $"tok")))
      .where($"rk" <= 20)
      .select($"rk".cast("long").as("rk"), $"tok", $"df", $"total",
        round(((col("sc2").cast("double") -
          col("total").cast("double") * col("total").cast("double") / col("nd")) /
          (col("nd") - 1)) / (col("total").cast("double") / col("nd")), 6).as("vmr"))
      .orderBy($"rk")
  }
  val burstinessSql: String =
    """WITH nd AS (SELECT count(*) AS nd FROM documents),
      |perdoc AS (
      |  SELECT doc_id, tok, count(*) AS c FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE len(tok) > 0 GROUP BY doc_id, tok),
      |bytok AS (
      |  SELECT tok, count(*) AS df, CAST(sum(c) AS BIGINT) AS total,
      |         CAST(sum(c * c) AS BIGINT) AS sc2
      |  FROM perdoc GROUP BY tok),
      |ranked AS (
      |  SELECT tok, df, total, sc2,
      |         row_number() OVER (ORDER BY total DESC, tok) AS rk
      |  FROM bytok)
      |SELECT CAST(rk AS BIGINT) AS rk, tok, df, total,
      |       round(((CAST(sc2 AS DOUBLE)
      |               - CAST(total AS DOUBLE) * CAST(total AS DOUBLE) / nd.nd)
      |              / (nd.nd - 1)) / (CAST(total AS DOUBLE) / nd.nd), 6) AS vmr
      |FROM ranked, nd WHERE rk <= 20 ORDER BY rk""".stripMargin

  /** tx_readability — Flesch reading-ease per document from three narrow
    * regexp counts: words (whitespace tokens), sentences (terminator
    * runs, floored at 1), and a syllable PROXY (vowel-group runs, the
    * standard cheap estimator — exact syllabification needs a
    * pronunciation lexicon no engine ships). The classic prose-difficulty
    * feature a quality-scoring stack adds next to tx_quality's
    * length/punct ratios; all three counts ride the projection (no
    * shuffle but the final sort), and the score is one IEEE formula over
    * exact integers, 4 dp.
    */
  val readability: Q = (s, d) => {
    import s.implicits._
    tbl(s, d, "documents").where($"doc_id" < 500)
      .select($"doc_id",
        size(expr("filter(split(text, ' '), t -> t <> '')")).cast("long").as("n_words"),
        greatest(lit(1L),
          size(expr("regexp_extract_all(text, '[.!?]+', 0)")).cast("long")).as("n_sents"),
        size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")).cast("long")
          .as("n_syll"))
      .withColumn("flesch", round(
        lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") / col("n_sents")) -
          lit(84.6) * (col("n_syll").cast("double") / col("n_words")), 4))
      .orderBy($"doc_id")
  }
  val readabilitySql: String =
    """WITH c AS (
      |  SELECT doc_id,
      |         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
      |           AS n_words,
      |         greatest(CAST(1 AS BIGINT),
      |           CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS n_sents,
      |         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT) AS n_syll
      |  FROM documents WHERE doc_id < 500)
      |SELECT doc_id, n_words, n_sents, n_syll,
      |       round(206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
      |                     - 84.6 * (CAST(n_syll AS DOUBLE) / n_words), 4) AS flesch
      |FROM c ORDER BY doc_id""".stripMargin

  /** tx_zipf — Zipf's-law fit of the token frequency distribution: OLS of
    * ln(freq) on ln(rank) over the top-200 ranks, reporting slope (≈ −1
    * for natural language; materially shallower/steeper flags synthetic,
    * boilerplate-heavy, or spam-like corpora), intercept, and r². The
    * one-number corpus-health read next to tx_entropy — a distribution-
    * level signal no per-doc quality score sees.
    *
    * Scale shape: ONE map-side-combined token count (O(vocab) out); the
    * rank window orders only the vocab table and the top-200 cut bounds
    * the regression input to a constant. Exactness: each ln quantizes to
    * 9 dp and every OLS moment sums those as DECIMAL(18,9)-derived
    * products (order-free); the closed form is st_linreg's double
    * sequence, 6 dp.
    */
  val zipf: Q = (s, d) => {
    import s.implicits._
    val freq = tbl(s, d, "documents")
      .select(explode(split($"text", " ")).as("tok"))
      .where(length($"tok") > 0)
      .groupBy($"tok").agg(count(lit(1)).as("freq"))
    val ranked = freq.withColumn("rank",
        row_number().over(Window.orderBy($"freq".desc, $"tok")))
      .where($"rank" <= 200)
      .select(round(log($"rank".cast("double")), 9).as("x"),
        round(log($"freq".cast("double")), 9).as("y"))
    val q = ranked.select(
      $"x".cast("decimal(18,9)").as("x"), $"y".cast("decimal(18,9)").as("y"),
      round($"x" * $"x", 9).cast("decimal(18,9)").as("xx"),
      round($"x" * $"y", 9).cast("decimal(18,9)").as("xy"),
      round($"y" * $"y", 9).cast("decimal(18,9)").as("yy"))
    def sd(c: String) = col(c).cast("double")
    val nD = col("n").cast("double")
    val covN = nD * sd("sxy") - sd("sx") * sd("sy")
    val varXN = nD * sd("sxx") - sd("sx") * sd("sx")
    val varYN = nD * sd("syy") - sd("sy") * sd("sy")
    q.agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"xx").as("sxx"), sum($"xy").as("sxy"), sum($"yy").as("syy"))
      .select(col("n"),
        round(covN / varXN, 6).as("slope"),
        round((sd("sy") - covN / varXN * sd("sx")) / nD, 6).as("intercept"),
        round(covN * covN / (varXN * varYN), 6).as("r2"))
  }
  val zipfSql: String =
    """WITH freq AS (
      |  SELECT tok, count(*) AS freq FROM (
      |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE len(tok) > 0 GROUP BY tok),
      |ranked AS (
      |  SELECT round(ln(CAST(rank AS DOUBLE)), 9) AS x,
      |         round(ln(CAST(freq AS DOUBLE)), 9) AS y FROM (
      |    SELECT freq, row_number() OVER (ORDER BY freq DESC, tok) AS rank
      |    FROM freq)
      |  WHERE rank <= 200),
      |q AS (
      |  SELECT CAST(x AS DECIMAL(18,9)) AS x, CAST(y AS DECIMAL(18,9)) AS y,
      |         CAST(round(x * x, 9) AS DECIMAL(18,9)) AS xx,
      |         CAST(round(x * y, 9) AS DECIMAL(18,9)) AS xy,
      |         CAST(round(y * y, 9) AS DECIMAL(18,9)) AS yy
      |  FROM ranked),
      |m AS (
      |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |         sum(xx) AS sxx, sum(xy) AS sxy, sum(yy) AS syy
      |  FROM q)
      |SELECT n,
      |       round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |             / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 6)
      |         AS slope,
      |       round((CAST(sy AS DOUBLE)
      |              - (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |                / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
      |                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept,
      |       round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |             * (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |             / ((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
      |              * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6)
      |         AS r2
      |FROM m""".stripMargin

  /** tx_heaps — Heaps'-law fit of vocabulary growth: V(n) = K·n^β, the
    * companion corpus-health gate to [[zipf]] (the two laws are duals —
    * Zipf's slope predicts Heaps' β). β ≈ 0.4–0.6 for natural language;
    * β near 1 flags a corpus of near-random strings (vocab grows as fast
    * as the text — an OCR-noise/garbage signature), β near 0 a template
    * corpus recycling a tiny vocabulary. Fit: OLS of ln(cum vocab) on
    * ln(cum tokens) at GEOMETRIC checkpoints — corpus prefixes ending at
    * doc_id < 2^k − 1 — in ingestion (doc_id) order.
    *
    * Scale shape: one token explode feeds two keyed aggregations (token
    * first-occurrence = min(doc_id) per token — vocab-bounded; token
    * count per checkpoint cell); cells are O(log corpus), so the
    * cumulative window orders a LOG-sized table and the regression input
    * is ~30 points at ANY corpus size — this is how "cumulative distinct
    * count" (inherently sequential at doc grain) becomes scale-free:
    * V(prefix k) = count of tokens whose FIRST doc falls in cells ≤ k,
    * no running distinct state anywhere. Checkpoint cells come from
    * length(bin(doc_id+1)) — exact integer bit-length, immune to the
    * floor(log2(2^k)) float-boundary hazard. OLS moments follow the
    * [[zipf]] discipline: ln quantized 9 dp, DECIMAL(18,9) sums, closed
    * form 6 dp.
    */
  val heaps: Q = (s, d) => {
    import s.implicits._
    val toks = tbl(s, d, "documents")
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .where(length($"tok") > 0)
    def cellOf(c: org.apache.spark.sql.Column) =
      (length(bin(c + lit(1L))) - lit(1)).cast("long")
    val tokCells = toks.groupBy(cellOf($"doc_id").as("cell"))
      .agg(count(lit(1)).as("tn"))
    val vocCells = toks.groupBy($"tok").agg(min($"doc_id").as("fd"))
      .groupBy(cellOf($"fd").as("cell")).agg(count(lit(1)).as("nv"))
    val w = Window.orderBy($"cell")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pts = tokCells.join(vocCells, Seq("cell"), "full_outer")
      .na.fill(0L, Seq("tn", "nv"))
      .withColumn("ct", sum($"tn").over(w))
      .withColumn("cv", sum($"nv").over(w))
      .where($"ct" > 0 && $"cv" > 0)
      .select(round(log($"ct".cast("double")), 9).as("x"),
        round(log($"cv".cast("double")), 9).as("y"))
    val q = pts.select(
      $"x".cast("decimal(18,9)").as("x"), $"y".cast("decimal(18,9)").as("y"),
      round($"x" * $"x", 9).cast("decimal(18,9)").as("xx"),
      round($"x" * $"y", 9).cast("decimal(18,9)").as("xy"),
      round($"y" * $"y", 9).cast("decimal(18,9)").as("yy"))
    def sd(c: String) = col(c).cast("double")
    val nD = col("n").cast("double")
    val covN = nD * sd("sxy") - sd("sx") * sd("sy")
    val varXN = nD * sd("sxx") - sd("sx") * sd("sx")
    val varYN = nD * sd("syy") - sd("sy") * sd("sy")
    q.agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"xx").as("sxx"), sum($"xy").as("sxy"), sum($"yy").as("syy"))
      .select(col("n"),
        round(covN / varXN, 6).as("beta"),
        round((sd("sy") - covN / varXN * sd("sx")) / nD, 6).as("logk"),
        round(covN * covN / (varXN * varYN), 6).as("r2"))
  }
  val heapsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, tok FROM (
      |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
      |  WHERE len(tok) > 0),
      |tc AS (SELECT len(bin(doc_id + 1)) - 1 AS cell, count(*) AS tn
      |       FROM toks GROUP BY 1),
      |vc AS (SELECT len(bin(fd + 1)) - 1 AS cell, count(*) AS nv
      |       FROM (SELECT tok, min(doc_id) AS fd FROM toks GROUP BY tok)
      |       GROUP BY 1),
      |cum AS (
      |  SELECT sum(tn) OVER (ORDER BY cell) AS ct,
      |         sum(nv) OVER (ORDER BY cell) AS cv
      |  FROM (SELECT coalesce(tc.cell, vc.cell) AS cell,
      |               coalesce(tn, 0) AS tn, coalesce(nv, 0) AS nv
      |        FROM tc FULL OUTER JOIN vc ON tc.cell = vc.cell)),
      |pts AS (
      |  SELECT round(ln(CAST(ct AS DOUBLE)), 9) AS x,
      |         round(ln(CAST(cv AS DOUBLE)), 9) AS y
      |  FROM cum WHERE ct > 0 AND cv > 0),
      |q AS (
      |  SELECT CAST(x AS DECIMAL(18,9)) AS x, CAST(y AS DECIMAL(18,9)) AS y,
      |         CAST(round(x * x, 9) AS DECIMAL(18,9)) AS xx,
      |         CAST(round(x * y, 9) AS DECIMAL(18,9)) AS xy,
      |         CAST(round(y * y, 9) AS DECIMAL(18,9)) AS yy
      |  FROM pts),
      |m AS (
      |  SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |         sum(xx) AS sxx, sum(xy) AS sxy, sum(yy) AS syy
      |  FROM q)
      |SELECT n,
      |       round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |             / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 6)
      |         AS beta,
      |       round((CAST(sy AS DOUBLE)
      |              - (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |                / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
      |                * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS logk,
      |       round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |             * (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
      |             / ((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
      |              * (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 6)
      |         AS r2
      |FROM m""".stripMargin

  /** tx_novelty — per-document n-gram novelty: the fraction of a doc's
    * distinct word 3-grams whose FIRST corpus occurrence (in doc_id
    * ingestion order) is this document. Novelty near 0 marks a document
    * assembled from already-seen phrasing — recombined boilerplate,
    * template spin, or memorized repeats that per-doc quality scores and
    * whole-doc dedup both miss (the doc is "new" while its content is
    * not); pretraining curricula use exactly this to down-weight
    * late-crawl recombinations.
    *
    * Scale shape: the same first-occurrence trick as [[heaps]] — one
    * gram explode, distinct per doc, then min(doc_id) attached by a
    * gram-PARTITIONED window (one gram-keyed shuffle; the groupBy+join
    * formulation costs an extra shuffle of the big gram table for the
    * same answer); no unpartitioned window, no pairwise doc work,
    * everything keyed on gram or doc. Ratios are one IEEE division of
    * exact counts, 6 dp.
    */
  val novelty: Q = (s, d) => {
    import s.implicits._
    val grams = wordGrams(tbl(s, d, "documents"), 3).distinct()
    grams
      .withColumn("fd", min($"doc_id").over(Window.partitionBy($"gram")))
      .groupBy($"doc_id").agg(
        count(lit(1)).as("n_grams"),
        sum(when($"fd" === $"doc_id", 1L).otherwise(0L)).as("n_novel"))
      .select($"doc_id", $"n_grams", $"n_novel",
        round($"n_novel".cast("double") / $"n_grams", 6).as("novelty"))
      .orderBy($"doc_id")
  }
  val noveltySql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |grams AS (
      |  SELECT DISTINCT doc_id, gram FROM (
      |    SELECT doc_id,
      |           unnest(list_transform(range(0, len(toks) - 2),
      |                  i -> array_to_string(toks[i + 1 : i + 3], ' '))) AS gram
      |    FROM d WHERE len(toks) >= 3)),
      |wf AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY gram) AS fd FROM grams)
      |SELECT doc_id, count(*) AS n_grams,
      |       CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |       round(CAST(sum(CASE WHEN fd = doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |             / count(*), 6) AS novelty
      |FROM wf GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** tx_rake — RAKE keyword extraction (Rose et al. 2010), the
    * non-iterative complement to [[textrank]]: candidate phrases are
    * maximal stopword-free token runs; each word scores deg/freq where
    * freq counts its phrase occurrences and deg additionally credits
    * co-occurring phrase words (deg = Σ phrase length over containing
    * phrases); a phrase scores the sum of its words. Multi-word terms
    * win because their words borrow each other's degree — the property
    * tf-idf and textrank (token-granular) both miss.
    *
    * Spark-first shape: phrase segmentation is gaps-and-islands — a
    * per-doc window (p − row_number over non-stopword tokens) labels
    * each run, so segmentation parallelizes per doc with no sequential
    * scan. Word stats are ONE keyed aggregation over phrase-word pairs
    * (vocabulary-bounded output); phrase scoring joins the broadcast
    * stats back to DISTINCT phrase texts (identical text ⇒ identical
    * score, so occurrences collapse first). Scores are exact-ratio
    * sums: deg/freq quantized 9 dp, ≤ 4 terms per phrase, result 6 dp.
    */
  val rake: Q = (s, d) => {
    import s.implicits._
    val t = tbl(s, d, "documents")
      .select($"doc_id", posexplode(split($"text", " ")).as(Seq("p", "tok")))
    val ns = t.where(!$"tok".isin(Stopwords: _*) && $"tok" =!= "")
      .withColumn("grp", $"p" - row_number().over(
        Window.partitionBy($"doc_id").orderBy($"p")))
    val occ = ns.groupBy($"doc_id", $"grp")
      .agg(expr("array_join(transform(array_sort(collect_list(struct(p, tok))), x -> x.tok), ' ')").as("phrase"),
        count(lit(1)).as("plen"))
    val wo = occ.select($"phrase", $"plen", explode(split($"phrase", " ")).as("w"))
    val stats = wo.groupBy($"w")
      .agg(count(lit(1)).as("freq"), sum($"plen").as("deg"))
    val bp = occ.where($"plen" <= 4)
      .groupBy($"phrase").agg(count(lit(1)).as("n_occur"))
      .where($"n_occur" >= 2)
    val sc = bp.select($"phrase", $"n_occur", explode(split($"phrase", " ")).as("w"))
      .join(broadcast(stats), Seq("w"))
      .groupBy($"phrase", $"n_occur")
      .agg(round(sum(round($"deg".cast("double") / $"freq", 9)), 6).as("score"))
    sc.withColumn("rk", row_number().over(Window.orderBy($"score".desc, $"phrase")))
      .where($"rk" <= 20)
      .select($"rk".cast("long").as("rk"), $"phrase", $"n_occur", $"score")
      .orderBy($"rk")
  }
  val rakeSql: String =
    s"""WITH t0 AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       |t AS (SELECT doc_id, p, toks[p + 1] AS tok FROM (
       |        SELECT doc_id, toks, unnest(range(0, len(toks))) AS p FROM t0)),
       |ns AS (SELECT doc_id, p, tok,
       |              p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
       |       FROM t WHERE tok NOT IN ($stopSqlList) AND tok <> ''),
       |occ AS (SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY p) AS phrase,
       |               count(*) AS plen
       |        FROM ns GROUP BY doc_id, grp),
       |wo AS (SELECT phrase, plen, unnest(string_split(phrase, ' ')) AS w FROM occ),
       |stats AS (SELECT w, count(*) AS freq, CAST(sum(plen) AS BIGINT) AS deg
       |          FROM wo GROUP BY w),
       |bp AS (SELECT phrase, count(*) AS n_occur FROM occ WHERE plen <= 4
       |       GROUP BY phrase HAVING count(*) >= 2),
       |wd AS (SELECT phrase, n_occur, unnest(string_split(phrase, ' ')) AS w FROM bp),
       |sc AS (SELECT phrase, n_occur,
       |              round(sum(round(CAST(deg AS DOUBLE) / freq, 9)), 6) AS score
       |       FROM wd JOIN stats USING (w) GROUP BY phrase, n_occur)
       |SELECT CAST(rk AS BIGINT) AS rk, phrase, n_occur, score FROM (
       |  SELECT phrase, n_occur, score,
       |         row_number() OVER (ORDER BY score DESC, phrase) AS rk FROM sc)
       |WHERE rk <= 20 ORDER BY rk""".stripMargin

  /** tx_textrank — corpus-level keyword extraction by weighted PageRank
    * over the word co-occurrence graph (Mihalcea & Tarau 2004): nodes are
    * non-stopword tokens, edge weight = adjacent-bigram frequency (both
    * directions summed), 5 damped power-iteration rounds, top-20 by
    * score. The unsupervised "what is this corpus about" signal a
    * pipeline wants per-source/per-cluster — unlike tf-idf it rewards
    * tokens that CONNECT to other central tokens, not just frequent ones.
    *
    * Scale shape: the graph is built FROM THE MATERIALIZED BIGRAM COUNTS
    * ([[bigramCounts]] — the same artifact tx_lm_score trains on), so no
    * extra corpus scan; the graph is vocabulary-bounded (O(distinct
    * bigrams) edges regardless of corpus rows), each iteration is one
    * join + one keyed aggregation over it, and the per-round 9-dp
    * rounding is the pageRank determinism discipline. The c2 ≥ 2 floor
    * prunes hapax edges — the standard noise cut that also bounds the
    * edge list under vocab².
    */
  val textrank: Q = (s, d) => {
    import s.implicits._
    val dirEdges = bigramCounts(s, d)
      .withColumn("w1", substring_index($"bg", " ", 1))
      .withColumn("w2", substring_index($"bg", " ", -1))
      .where($"w1" =!= $"w2" && $"c2" >= 2 &&
        !$"w1".isin(Stopwords: _*) && !$"w2".isin(Stopwords: _*))
    val und = dirEdges.select($"w1".as("x"), $"w2".as("y"), $"c2".as("c"))
      .unionByName(dirEdges.select($"w2".as("x"), $"w1".as("y"), $"c2".as("c")))
      .groupBy($"x", $"y").agg(sum($"c").as("w"))
    val wdeg = und.groupBy($"x").agg(sum($"w").as("wd")).localCheckpoint()
    val edges = und.join(wdeg, Seq("x"))
      .select($"x", $"y", ($"w".cast("double") / $"wd").as("frac"))
      .localCheckpoint()
    val n = wdeg.count()
    // Checkpoint every SECOND round, not every round: each eager
    // localCheckpoint is a whole job (~0.3 s scheduling floor per round,
    // PERF.md IterBench), and two rounds of lineage is a trivially small
    // plan — the per-round round(…, 9) barrier keeps the arithmetic
    // identical either way. Halves the job count of the
    // scheduling-floor-bound wall.
    val pr = Rounds.fixed(wdeg.select($"x".as("node"),
        round(lit(1.0 / math.max(n, 1L)), 9).as("pr")), 5, every = 2) { pr =>
      val contrib = pr.join(edges, pr("node") === edges("x"))
        .groupBy($"y").agg(sum($"pr" * $"frac").as("s"))
      wdeg
        .join(contrib, wdeg("x") === contrib("y"), "left")
        .select($"x".as("node"),
          round(lit(0.15 / math.max(n, 1L)) +
            lit(0.85) * coalesce($"s", lit(0.0)), 9).as("pr"))
    }
    Seq(wdeg, edges).foreach(CheckpointBridge.freeCheckpoint)
    pr.withColumn("rk", row_number().over(
        Window.orderBy($"pr".desc, $"node")))
      .where($"rk" <= 20)
      .select($"rk".cast("long").as("rk"), $"node".as("tok"),
        round($"pr", 6).as("score"))
      .orderBy($"rk")
  }
  val textrankSql: String = {
    val iterCtes = (1 to 5).map { k =>
      s"""tr$k AS (
         |  SELECT wdeg.x AS node,
         |         round(0.15 / (SELECT n FROM nn) + 0.85 * coalesce(c.s, 0), 9) AS pr
         |  FROM wdeg LEFT JOIN (
         |    SELECT e.y, sum(p.pr * e.frac) AS s
         |    FROM tr${k - 1} p JOIN edges e ON p.node = e.x GROUP BY e.y) c
         |  ON wdeg.x = c.y)""".stripMargin
    }.mkString(",\n")
    s"""WITH $lmCteSql,
       |de AS (
       |  SELECT w1, w2, c2 FROM (
       |    SELECT string_split(bg, ' ')[1] AS w1, string_split(bg, ' ')[2] AS w2, c2
       |    FROM c2)
       |  WHERE w1 <> w2 AND c2 >= 2
       |    AND w1 NOT IN ($stopSqlList) AND w2 NOT IN ($stopSqlList)),
       |und AS (
       |  SELECT x, y, CAST(sum(c) AS BIGINT) AS w FROM (
       |    SELECT w1 AS x, w2 AS y, c2 AS c FROM de
       |    UNION ALL SELECT w2 AS x, w1 AS y, c2 AS c FROM de)
       |  GROUP BY x, y),
       |wdeg AS (SELECT x, CAST(sum(w) AS BIGINT) AS wd FROM und GROUP BY x),
       |nn AS (SELECT count(*) AS n FROM wdeg),
       |edges AS (
       |  SELECT u.x, u.y, CAST(u.w AS DOUBLE) / d.wd AS frac
       |  FROM und u JOIN wdeg d ON u.x = d.x),
       |tr0 AS (SELECT x AS node, round(1.0 / (SELECT n FROM nn), 9) AS pr FROM wdeg),
       |$iterCtes
       |SELECT CAST(rk AS BIGINT) AS rk, node AS tok, round(pr, 6) AS score FROM (
       |  SELECT node, pr, row_number() OVER (ORDER BY pr DESC, node) AS rk FROM tr5)
       |WHERE rk <= 20 ORDER BY rk""".stripMargin
  }

  // ------------------------------------------------------------ tx_rouge

  /** tx_rouge — ROUGE-2 precision/recall/F1 between paired documents
    * (Lin 2004): the reference-overlap eval every summarization /
    * distillation pipeline runs on generated-vs-reference text, and the
    * clipped-count n-gram overlap behind contamination scoring. Docs
    * pair by id (candidate 2k vs reference 2k+1 — the "model output
    * stored next to its reference" layout); overlap is the CLIPPED
    * bigram count Σ_g min(c_cand(g), c_ref(g)), so a candidate cannot
    * farm credit by repeating one reference bigram. With P = ov/tc and
    * R = ov/tr, F1 = 2PR/(P+R) simplifies to 2·ov/(tc+tr) — an
    * integer-exact ratio, no intermediate float error to drift
    * cross-engine.
    *
    * Scale shape: one bigram explode keyed on (pair, gram) — the
    * per-pair clip is a keyed aggregation, never a doc×doc or gram×gram
    * product; pair totals are a second keyed agg of the SAME exploded
    * stream (no re-scan: both roll up from the (pair, gram, role)
    * counts). Pairs missing a side (or whose side has < 2 tokens) drop
    * via the tc > 0 AND tr > 0 guard identically on both engines.
    */
  val rouge: Q = (s, d) => {
    import s.implicits._
    val grams = wordGrams(tbl(s, d, "documents"), 2)
      .select(expr("doc_id div 2").as("pair"),
        ($"doc_id" % 2).cast("int").as("role"), $"gram")
    val byGram = grams.groupBy($"pair", $"gram").agg(
      sum(when($"role" === 0, 1L).otherwise(0L)).as("c_cand"),
      sum(when($"role" === 1, 1L).otherwise(0L)).as("c_ref"))
    byGram.groupBy($"pair").agg(
        sum(least($"c_cand", $"c_ref")).as("overlap"),
        sum($"c_cand").as("tc"),
        sum($"c_ref").as("tr"))
      .where($"tc" > 0 && $"tr" > 0)
      .select($"pair", $"overlap", $"tc", $"tr",
        round($"overlap".cast("double") / $"tc", 6).as("rouge_p"),
        round($"overlap".cast("double") / $"tr", 6).as("rouge_r"),
        round(lit(2.0) * $"overlap" / ($"tc" + $"tr"), 6).as("rouge_f"))
      .orderBy($"pair")
  }
  val rougeSql: String =
    """WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
      |grams AS (
      |  SELECT CAST(doc_id // 2 AS BIGINT) AS pair, CAST(doc_id % 2 AS INT) AS role,
      |         unnest(list_transform(range(0, len(toks) - 1),
      |                i -> array_to_string(toks[i + 1 : i + 2], ' '))) AS gram
      |  FROM d WHERE len(toks) >= 2),
      |bg AS (SELECT pair, gram,
      |              sum(CASE WHEN role = 0 THEN 1 ELSE 0 END) AS c_cand,
      |              sum(CASE WHEN role = 1 THEN 1 ELSE 0 END) AS c_ref
      |       FROM grams GROUP BY pair, gram),
      |pt AS (SELECT pair, CAST(sum(least(c_cand, c_ref)) AS BIGINT) AS overlap,
      |              CAST(sum(c_cand) AS BIGINT) AS tc, CAST(sum(c_ref) AS BIGINT) AS tr
      |       FROM bg GROUP BY pair)
      |SELECT pair, overlap, tc, tr,
      |       round(CAST(overlap AS DOUBLE) / tc, 6) AS rouge_p,
      |       round(CAST(overlap AS DOUBLE) / tr, 6) AS rouge_r,
      |       round(2.0 * overlap / (tc + tr), 6) AS rouge_f
      |FROM pt WHERE tc > 0 AND tr > 0 ORDER BY pair""".stripMargin

  val queries: Map[String, Q] = Map(
    "tx_rouge"       -> rouge,
    "tx_textrank"    -> textrank,
    "tx_rake"        -> rake,
    "tx_zipf"        -> zipf,
    "tx_readability" -> readability,
    "tx_burstiness"  -> burstiness,
    "tx_fertility"   -> fertilityQ,
    "tx_kn_score"    -> knScore,
    "tx_tokens"      -> tokens,
    "tx_quality"     -> quality,
    "tx_langid"      -> langid,
    "tx_langid_eval" -> langidEval,
    "tx_fingerprint" -> fingerprint,
    "tx_normalize"   -> normalize,
    "tx_repetition"  -> repetition,
    "tx_pack"        -> pack,
    "tx_entropy"     -> entropy,
    "tx_heaps"       -> heaps,
    "tx_novelty"     -> novelty,
    "tx_tfidf"       -> tfidf,
    "tx_lm_score"    -> lmScore,
    "tx_pp_bucket"   -> ppBucket,
    "sp_quality_sample" -> qualitySample,
    "tx_t5_spans"    -> t5Spans,
    "tx_chunk"       -> chunk,
    "tx_pretokens"   -> pretokens,
    "tx_bpe_train"   -> bpeTrainQ,
    "tx_bpe_encode"  -> bpeEncodeQ,
    "tx_bpe_oov"     -> bpeOovQ,
    "tx_clf_score"   -> clfScore,
    "tx_colloc"      -> colloc,
    "tx_clf_auc"     -> clfAuc,
    "tx_clf_calib"   -> clfCalib,
  )

  val oracles: Map[String, String] = Map(
    "tx_rouge"       -> rougeSql,
    "tx_textrank"    -> textrankSql,
    "tx_rake"        -> rakeSql,
    "tx_zipf"        -> zipfSql,
    "tx_readability" -> readabilitySql,
    "tx_burstiness"  -> burstinessSql,
    "tx_fertility"   -> fertilitySql,
    "tx_kn_score"    -> knScoreSql,
    "tx_tokens"      -> tokensSql,
    "tx_quality"     -> qualitySql,
    "tx_langid"      -> langidSql,
    "tx_langid_eval" -> langidEvalSql,
    "tx_fingerprint" -> fingerprintSql,
    "tx_normalize"   -> normalizeSql,
    "tx_repetition"  -> repetitionSql,
    "tx_pack"        -> packSql,
    "tx_entropy"     -> entropySql,
    "tx_heaps"       -> heapsSql,
    "tx_novelty"     -> noveltySql,
    "tx_tfidf"       -> tfidfSql,
    "tx_lm_score"    -> lmScoreSql,
    "tx_pp_bucket"   -> ppBucketSql,
    "sp_quality_sample" -> qualitySampleSql,
    "tx_t5_spans"    -> t5SpansSql,
    "tx_chunk"       -> chunkSql,
    "tx_pretokens"   -> pretokensSql,
    "tx_bpe_train"   -> bpeTrainSql,
    "tx_bpe_encode"  -> bpeEncodeSql,
    "tx_bpe_oov"     -> bpeOovSql,
    "tx_clf_score"   -> clfScoreSql,
    "tx_colloc"      -> collocSql,
    "tx_clf_auc"     -> clfAucSql,
    "tx_clf_calib"   -> clfCalibSql,
  )
}
