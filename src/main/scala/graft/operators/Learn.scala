package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pins
import graft.Tables.{t => tbl}

/** Supervised-learning operators beyond the logistic scorer
  * (TextAnalysis.clfScore): multinomial Naive Bayes trained and scored
  * entirely as DataFrame aggregations. NB is the workhorse baseline a
  * corpus pipeline reaches for when it needs a fast, trainable classifier
  * with per-class probabilities — here demonstrated as a trained
  * language-ID model (the learned upgrade of tx_langid's fixed n-gram
  * heuristic), but the operators are generic over any (doc, token, label)
  * triple.
  *
  * Scale shape: TRAINING is one scan of the labeled slice collapsed to a
  * (label, token) count table — map-side-combined, output O(labels ×
  * vocab), a per-snapshot artifact like the bigram-LM counts. SCORING is
  * one scan of the unlabeled corpus: per-doc token counts cross the
  * (tiny, broadcast) label list, left-join the broadcast count table, and
  * aggregate per (doc, label) — no shuffle keyed on anything bigger than
  * doc_id. At 100 TB the count table outgrows broadcast only if vocab
  * does; the join then degrades to a shuffle join on `tok` with the same
  * plan shape.
  *
  * Cross-engine exactness: every log term is quantized to 9 dp and summed
  * as DECIMAL(18,9) — an ORDER-FREE exact sum, so per-(doc,label) scores
  * hash-match without relying on float-summation luck, and the argmax is
  * decided on exact decimals with a total (score desc, label asc)
  * tie-break.
  */
object Learn {

  type Q = (SparkSession, String) => DataFrame

  /** Tokens of the documents table: lowercased whitespace split (the
    * corpusTokens convention), with per-(doc, tok) occurrence counts.
    */
  private def docTokens(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        explode(split(lower(col("text")), " ")).as("tok"))
      .where(length(col("tok")) > 0)

  private val TestMod = 5L // doc_id % 5 == 0 → test split; rest trains

  /** Per-(doc, label) NB log-posterior scores for the test split:
    * ln P(label) + Σ_tok count·ln P(tok|label), add-one smoothed over the
    * training vocabulary. Returns (doc_id, lang [true], label, score).
    */
  /** The trained NB model tables, once per (session, corpus) — the
    * scaladoc's own framing ("TRAINING … output O(labels × vocab), a
    * per-snapshot artifact"). r18: before, every broadcast subtree in
    * [[nbScores]] re-derived them — ctok, clang and vocab each re-ran
    * the training-token scan, priors/priorTerm re-scanned documents, and
    * both gates retrained from scratch: 16 parquet scans per invocation
    * (plans/r18/ml_nb_confusion_before.txt). Now one training pass per
    * session serves both gates; everything downstream reads the pinned
    * label×vocab count table (bounded — ~vocab·|langs| rows).
    */
  def nbScores(s: SparkSession, d: String): DataFrame = {
    val docs = tbl(s, d, "documents")
    val ctok = graft.Artifacts.memo(s, "ml_nb_ctok", d) {
      Pins(docTokens(docs.where(col("doc_id") % TestMod =!= 0))
        .groupBy(col("lang").as("label"), col("tok"))
        .agg(count(lit(1)).as("c")))
    }
    val clang = ctok.groupBy(col("label")).agg(sum(col("c")).as("ctot"))
    val vocab = ctok.agg(countDistinct(col("tok")).as("v"))
    val priors = graft.Artifacts.memo(s, "ml_nb_prior", d) {
      Pins(docs.where(col("doc_id") % TestMod =!= 0)
        .groupBy(col("lang").as("label")).agg(count(lit(1)).as("nd")))
    }
    val nTrain = priors.agg(sum(col("nd")).as("n"))
    val priorTerm = priors.crossJoin(broadcast(nTrain))
      .select(col("label"),
        round(log(col("nd").cast("double") / col("n")), 9)
          .cast("decimal(18,9)").as("prior_t"))

    val testToks = docTokens(docs.where(col("doc_id") % TestMod === 0))
      .groupBy(col("doc_id"), col("lang"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
    testToks
      .crossJoin(broadcast(priorTerm.select(col("label"))))
      .join(broadcast(ctok), Seq("label", "tok"), "left")
      .join(broadcast(clang), Seq("label"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("lang"), col("label"),
        round(col("cnt") *
          log((coalesce(col("c"), lit(0L)) + 1L).cast("double") /
            (col("ctot") + col("v")).cast("double")), 9)
          .cast("decimal(18,9)").as("term"))
      .groupBy(col("doc_id"), col("lang"), col("label"))
      .agg(sum(col("term")).as("ll"))
      .join(broadcast(priorTerm), Seq("label"))
      .select(col("doc_id"), col("lang"), col("label"),
        (col("ll") + col("prior_t")).cast("decimal(28,9)").as("score"))
  }

  /** Shared oracle CTE: `scored(doc_id, lang, label, score)` mirroring
    * [[nbScores]] step for step (same 9-dp quantization, same DECIMAL
    * sums), reused by both gates so the model lives in one place.
    */
  private val nbCteSql: String =
    s"""toks AS (
       |  SELECT doc_id, lang, tok FROM (
       |    SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS tok
       |    FROM documents)
       |  WHERE len(tok) > 0),
       |train AS (SELECT * FROM toks WHERE doc_id % $TestMod <> 0),
       |ctok AS (SELECT lang AS label, tok, count(*) AS c FROM train GROUP BY 1, 2),
       |clang AS (SELECT label, sum(c) AS ctot FROM ctok GROUP BY 1),
       |vocab AS (SELECT count(DISTINCT tok) AS v FROM ctok),
       |priors AS (SELECT lang AS label, count(*) AS nd FROM documents
       |           WHERE doc_id % $TestMod <> 0 GROUP BY 1),
       |ntrain AS (SELECT sum(nd) AS n FROM priors),
       |priort AS (
       |  SELECT label,
       |         CAST(round(ln(CAST(nd AS DOUBLE) / (SELECT n FROM ntrain)), 9)
       |              AS DECIMAL(18,9)) AS prior_t
       |  FROM priors),
       |testtoks AS (
       |  SELECT doc_id, lang, tok, count(*) AS cnt FROM toks
       |  WHERE doc_id % $TestMod = 0 GROUP BY 1, 2, 3),
       |terms AS (
       |  SELECT t.doc_id, t.lang, l.label,
       |         CAST(round(t.cnt * ln(CAST(coalesce(ct.c, 0) + 1 AS DOUBLE)
       |                                / CAST(cl.ctot + (SELECT v FROM vocab) AS DOUBLE)), 9)
       |              AS DECIMAL(18,9)) AS term
       |  FROM testtoks t
       |  CROSS JOIN (SELECT label FROM priort) l
       |  LEFT JOIN ctok ct ON ct.label = l.label AND ct.tok = t.tok
       |  JOIN clang cl ON cl.label = l.label),
       |scored AS (
       |  SELECT s.doc_id, s.lang, s.label,
       |         CAST(s.ll + p.prior_t AS DECIMAL(28,9)) AS score
       |  FROM (SELECT doc_id, lang, label, sum(term) AS ll
       |        FROM terms GROUP BY 1, 2, 3) s
       |  JOIN priort p USING (label))""".stripMargin

  /** ml_nb_score — the per-label log-posterior table for a bounded probe
    * set of test docs (every decimal digit hash-checked).
    */
  val nbScore: Q = (s, d) =>
    nbScores(s, d).where(col("doc_id") < 200)
      .select(col("doc_id"), col("label"),
        round(col("score").cast("double"), 6).as("score"))
      .orderBy(col("doc_id"), col("label"))
  val nbScoreSql: String =
    s"""WITH $nbCteSql
       |SELECT doc_id, label, round(CAST(score AS DOUBLE), 6) AS score
       |FROM scored WHERE doc_id < 200
       |ORDER BY doc_id, label""".stripMargin

  /** ml_nb_confusion — the argmax prediction per test doc against its
    * true lang label, as a confusion matrix (true_lang, pred_lang, n) —
    * the artifact a model review actually reads. Argmax by exact decimal
    * score with lang-asc tie-break.
    *
    * HONESTY NOTE: the driver's synthetic corpus draws every lang's text
    * from one shared vocabulary, so there is near-zero learnable signal —
    * measured test accuracy ≈ the majority-class prior (0.42 at sf0.01).
    * The gate verifies the OPERATOR (counts, smoothing, decimal-exact
    * scoring, argmax) end-to-end; on a real multilingual corpus the same
    * pipeline is the standard fast langid baseline.
    */
  val nbConfusion: Q = (s, d) => {
    val scored = nbScores(s, d)
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("label"))
    scored.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .groupBy(col("lang").as("true_lang"), col("label").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }
  val nbConfusionSql: String =
    s"""WITH $nbCteSql,
       |pred AS (
       |  SELECT doc_id, lang, label,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY score DESC, label) AS rk
       |  FROM scored)
       |SELECT lang AS true_lang, label AS pred_lang, count(*) AS n
       |FROM pred WHERE rk = 1
       |GROUP BY 1, 2 ORDER BY true_lang, pred_lang""".stripMargin

  // ------------------------------------------------- target (mean) encoding

  /** fe_target_encode — smoothed target encoding of a categorical column
    * (the feature-engineering workhorse for high-cardinality categories):
    * enc(c) = (Σ_c y + m·prior) / (n_c + m) with prior the global target
    * mean and m = 100 pseudo-observations — a rare category shrinks to
    * the prior, a common one approaches its own mean, and no category
    * ever leaks a raw small-sample mean into a model.
    *
    * Scale shape: ONE map-side-combined aggregation to O(categories)
    * moment rows; the global prior is a broadcast scalar; the encoder
    * table it emits is the broadcast-join artifact downstream feature
    * pipelines apply to the full corpus. Sums are exact decimals
    * (order-free); enc/prior are short identical IEEE sequences, 6 dp.
    */
  val targetEncode: Q = (s, d) => {
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(17,4)")
    val g = tbl(s, d, "events")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(dec(col("value"))).as("sv"))
    val tot = g.agg(sum(col("n")).as("gn"), sum(col("sv")).as("gs"))
    g.crossJoin(broadcast(tot))
      .withColumn("prior", col("gs").cast("double") / col("gn"))
      .select(col("event_type"), col("n"),
        round(col("prior"), 6).as("prior"),
        round((col("sv").cast("double") + lit(100.0) * col("prior")) /
          (col("n") + lit(100L)), 6).as("enc"))
      .orderBy(col("event_type"))
  }
  val targetEncodeSql: String =
    """WITH g AS (
      |  SELECT event_type, count(*) AS n,
      |         sum(CAST(value AS DECIMAL(17,4))) AS sv
      |  FROM events GROUP BY 1),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS gn, sum(sv) AS gs FROM g)
      |SELECT event_type, n,
      |       round(CAST(gs AS DOUBLE) / gn, 6) AS prior,
      |       round((CAST(sv AS DOUBLE) + 100.0 * (CAST(gs AS DOUBLE) / gn))
      |             / (n + 100), 6) AS enc
      |FROM g, tot ORDER BY event_type""".stripMargin

  // ------------------------------------------- embedding standardization

  /** fe_scale — per-dimension mean/std of the embedding column: the
    * standardization pass (whitening prep) every vector pipeline runs
    * before PCA/clustering/ANN, and the per-dim drift monitor for an
    * embedding source. Vectors explode positionally and collapse in ONE
    * map-side-combined aggregation keyed on dim — O(rows·dim) in,
    * O(dim) out, no shuffle wider than the dimension count.
    *
    * Exactness: floats quantize to 1e-6 fixed point FIRST (Similarity's
    * convention — floor(x·1e6) is the identical integer in both
    * engines), so every moment is an exact integer/decimal sum; the
    * mean/std formulas are one short IEEE sequence on those integers
    * (6 dp). Unbiased (n−1) variance.
    */
  val scaleStats: Q = (s, d) => {
    val x = tbl(s, d, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("i", "x")))
      .select(col("i").cast("long").as("dim"),
        floor(col("x") * lit(1e6)).cast("long").as("xq"))
    x.groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("xq").cast("decimal(28,0)")).as("sx"),
        sum((col("xq") * col("xq")).cast("decimal(38,0)")).as("sxx"))
      .select(col("dim"), col("n"),
        round(col("sx").cast("double") / 1e6 / col("n"), 6).as("mean"),
        round(sqrt((col("sxx").cast("double") -
            col("sx").cast("double") * col("sx").cast("double") / col("n")) /
          (col("n") - 1)) / 1e6, 6).as("std"))
      .orderBy(col("dim"))
  }
  val scaleStatsSql: String =
    """WITH e0 AS (SELECT vec_id, embedding AS e FROM embeddings),
      |x AS (
      |  SELECT i AS dim, CAST(floor(e[i + 1] * 1e6) AS BIGINT) AS xq
      |  FROM (SELECT vec_id, e, unnest(range(0, len(e))) AS i FROM e0)),
      |m AS (
      |  SELECT dim, count(*) AS n,
      |         sum(CAST(xq AS DECIMAL(28,0))) AS sx,
      |         sum(CAST(xq * xq AS DECIMAL(38,0))) AS sxx
      |  FROM x GROUP BY dim)
      |SELECT CAST(dim AS BIGINT) AS dim, n,
      |       round(CAST(sx AS DOUBLE) / 1e6 / n, 6) AS mean,
      |       round(sqrt((CAST(sxx AS DOUBLE)
      |                   - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
      |                  / (n - 1)) / 1e6, 6) AS std
      |FROM m ORDER BY dim""".stripMargin

  // ----------------------------------------------------- feature hashing

  /** fe_hashed — the hashing trick (Weinberger et al. 2009): tokens map
    * to a FIXED 64-bucket feature space via bucket = md5 low bits, with a
    * ±1 sign from another hash bit so collisions cancel in expectation —
    * the featurizer that needs NO vocabulary artifact, no fit step, and
    * no coordination, which is why online/streaming models default to
    * it. Emits per-doc signed bucket counts for two probe buckets plus
    * the L2 norm of the full hashed vector.
    *
    * One explode + one keyed aggregation; the hash arithmetic is the
    * suite's portable ascii()-on-md5 integer decode, so DuckDB replays
    * it bit-for-bit. Norms are exact integer sums (signed counts are
    * ints; Σc² is an int) with one final sqrt, 6 dp.
    */
  val featureHash: Q = (s, d) => {
    val t = tbl(s, d, "documents").where(col("doc_id") < 300)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("tok"))
      .where(length(col("tok")) > 0)
      .withColumn("h", md5(concat(lit("fh:"), col("tok"))))
      // bucket: first two hex chars → 0..255 → % 64; sign: third hex digit parity
      .withColumn("bucket",
        ((expr("instr('0123456789abcdef', substr(h, 1, 1)) - 1") * 16 +
          expr("instr('0123456789abcdef', substr(h, 2, 1)) - 1")) % 64).cast("long"))
      .withColumn("sign",
        when(expr("instr('0123456789abcdef', substr(h, 3, 1)) - 1") % 2 === 0, 1L)
          .otherwise(-1L))
    val vec = t.groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sign")).as("c"))
    vec.groupBy(col("doc_id"))
      .agg(round(sqrt(sum(col("c") * col("c")).cast("double")), 6).as("l2"),
        sum(when(col("bucket") === 7, col("c")).otherwise(0L)).as("b7"),
        sum(when(col("bucket") === 42, col("c")).otherwise(0L)).as("b42"))
      .orderBy(col("doc_id"))
  }
  val featureHashSql: String =
    """WITH t AS (
      |  SELECT doc_id, tok, md5('fh:' || tok) AS h FROM (
      |    SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
      |    FROM documents WHERE doc_id < 300)
      |  WHERE len(tok) > 0),
      |b AS (
      |  SELECT doc_id,
      |         CAST(((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * 16
      |               + instr('0123456789abcdef', substr(h, 2, 1)) - 1) % 64 AS BIGINT)
      |           AS bucket,
      |         CASE WHEN (instr('0123456789abcdef', substr(h, 3, 1)) - 1) % 2 = 0
      |              THEN 1 ELSE -1 END AS sign
      |  FROM t),
      |vec AS (
      |  SELECT doc_id, bucket, CAST(sum(sign) AS BIGINT) AS c
      |  FROM b GROUP BY doc_id, bucket)
      |SELECT doc_id,
      |       round(sqrt(CAST(sum(c * c) AS DOUBLE)), 6) AS l2,
      |       CAST(sum(CASE WHEN bucket = 7 THEN c ELSE 0 END) AS BIGINT) AS b7,
      |       CAST(sum(CASE WHEN bucket = 42 THEN c ELSE 0 END) AS BIGINT) AS b42
      |FROM vec GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ------------------------------------------------ histogram split finding

  /** ml_stump — histogram-based best-split search for a decision stump:
    * the core primitive of every scalable gradient-boosting / random-
    * forest trainer (LightGBM's histogram algorithm, XGBoost's approx
    * mode). Label y = (l_returnflag = 'R'); for each of three numeric
    * lineitem features the values collapse into fixed-width bins, and
    * the best boundary split per feature is chosen by Gini gain computed
    * entirely from cumulative bin counts — the "aggregate a histogram,
    * scan its prefix sums" shape that makes tree training feasible on
    * 100 TB when exact per-value splits are not.
    *
    * Scale: one corpus scan → map-side-combined (feat, bin) histogram of
    * O(features × bins) rows; the prefix-sum windows and the per-feature
    * argmax run over that tiny table, never the data. Gain arithmetic is
    * integer counts until the final few double ops (identical expression
    * trees both engines, round-6, CLOSE-tolerant); the per-feature
    * winner ties-break on bin asc.
    */
  /** The reusable split kernel: (feat, bin, y) rows → the best boundary
    * split per feature as (feat, bin, nl, pl, gain) — Gini gain from the
    * cumulative/total prefix-sum windows over the bin histogram, winner
    * tie-broken on bin asc. Factored so a fixture spec can drive it with
    * hand-computed histograms.
    */
  def stumpSplits(bins: DataFrame): DataFrame = {
    val hist = bins.groupBy(col("feat"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("np"))
    val wCum = Window.partitionBy(col("feat")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col("feat"))
    def gini(nn: Column, pp: Column): Column =
      lit(1.0) - (pp.cast("double") / nn) * (pp.cast("double") / nn) -
        ((nn - pp).cast("double") / nn) * ((nn - pp).cast("double") / nn)
    val cum = hist.select(col("feat"), col("bin"),
      sum(col("n")).over(wCum).as("nl"), sum(col("np")).over(wCum).as("pl"),
      sum(col("n")).over(wTot).as("nt"), sum(col("np")).over(wTot).as("pt"))
      .where(col("nl") < col("nt"))
    val scored = cum.select(col("feat"), col("bin"), col("nl"), col("pl"),
      round(gini(col("nt"), col("pt")) -
        (col("nl").cast("double") / col("nt")) * gini(col("nl"), col("pl")) -
        ((col("nt") - col("nl")).cast("double") / col("nt")) *
          gini(col("nt") - col("nl"), col("pt") - col("pl")), 6).as("gain"))
    val wRank = Window.partitionBy(col("feat"))
      .orderBy(col("gain").desc, col("bin"))
    scored.withColumn("rk", row_number().over(wRank)).where(col("rk") === 1)
      .drop("rk")
  }

  val stump: Q = (s, d) => {
    val li = tbl(s, d, "lineitem").select(
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("y"),
      (col("l_quantity").cast("double") / 5.0).as("qv"),
      (col("l_extendedprice").cast("double") / 10000.0).as("pv"),
      (col("l_discount").cast("double") * 100.0).as("dv"))
    val bins = li.select(col("y"), expr(
      """stack(3,
        |  'disc',  CAST(floor(dv) AS BIGINT),
        |  'price', CAST(floor(pv) AS BIGINT),
        |  'qty',   CAST(floor(qv) AS BIGINT)) AS (feat, bin)""".stripMargin))
    stumpSplits(bins)
      .select(col("feat"),
        when(col("feat") === "qty", (col("bin") + 1L) * 5.0)
          .when(col("feat") === "price", (col("bin") + 1L) * 10000.0)
          .otherwise((col("bin") + 1L) * 0.01).as("split_value"),
        col("nl").as("n_left"), col("pl").as("pos_left"), col("gain"))
      .orderBy(col("feat"))
  }
  val stumpSql: String =
    """WITH li AS (
      |  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
      |         CAST(l_quantity AS DOUBLE) / 5.0 AS qv,
      |         CAST(l_extendedprice AS DOUBLE) / 10000.0 AS pv,
      |         CAST(l_discount AS DOUBLE) * 100.0 AS dv
      |  FROM lineitem),
      |b AS (
      |  SELECT 'qty' AS feat, CAST(floor(qv) AS BIGINT) AS bin, y FROM li
      |  UNION ALL
      |  SELECT 'price', CAST(floor(pv) AS BIGINT), y FROM li
      |  UNION ALL
      |  SELECT 'disc', CAST(floor(dv) AS BIGINT), y FROM li),
      |hist AS (
      |  SELECT feat, bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS np
      |  FROM b GROUP BY feat, bin),
      |cum AS (
      |  SELECT feat, bin,
      |         sum(n) OVER (PARTITION BY feat ORDER BY bin
      |                      ROWS UNBOUNDED PRECEDING) AS nl,
      |         sum(np) OVER (PARTITION BY feat ORDER BY bin
      |                       ROWS UNBOUNDED PRECEDING) AS pl,
      |         sum(n) OVER (PARTITION BY feat) AS nt,
      |         sum(np) OVER (PARTITION BY feat) AS pt
      |  FROM hist),
      |scored AS (
      |  SELECT feat, bin, nl, pl,
      |         round(
      |           (1.0 - (CAST(pt AS DOUBLE)/nt)*(CAST(pt AS DOUBLE)/nt)
      |                - (CAST(nt-pt AS DOUBLE)/nt)*(CAST(nt-pt AS DOUBLE)/nt))
      |           - (CAST(nl AS DOUBLE)/nt) *
      |             (1.0 - (CAST(pl AS DOUBLE)/nl)*(CAST(pl AS DOUBLE)/nl)
      |                  - (CAST(nl-pl AS DOUBLE)/nl)*(CAST(nl-pl AS DOUBLE)/nl))
      |           - (CAST(nt-nl AS DOUBLE)/nt) *
      |             (1.0 - (CAST(pt-pl AS DOUBLE)/(nt-nl))*(CAST(pt-pl AS DOUBLE)/(nt-nl))
      |                  - (CAST((nt-nl)-(pt-pl) AS DOUBLE)/(nt-nl))
      |                    *(CAST((nt-nl)-(pt-pl) AS DOUBLE)/(nt-nl))), 6) AS gain
      |  FROM cum WHERE nl < nt)
      |SELECT feat,
      |       CAST(CASE WHEN feat = 'qty' THEN CAST(bin + 1 AS DOUBLE) * 5.0
      |                 WHEN feat = 'price' THEN CAST(bin + 1 AS DOUBLE) * 10000.0
      |                 ELSE CAST(bin + 1 AS DOUBLE) * 0.01 END AS DOUBLE)
      |         AS split_value,
      |       CAST(nl AS BIGINT) AS n_left, CAST(pl AS BIGINT) AS pos_left, gain
      |FROM (SELECT *, row_number() OVER (PARTITION BY feat
      |                                   ORDER BY gain DESC, bin) AS rk
      |      FROM scored)
      |WHERE rk = 1 ORDER BY feat""".stripMargin

  // ---------------------------------------------- quantile normalization

  /** fe_quantile_norm — cross-source QUANTILE NORMALIZATION of the
    * document length distribution (the microarray-era Bolstad et al.
    * 2003 transform, reached for whenever per-source score scales can't
    * be compared directly): each source's values are cut into B = 16
    * equal-frequency rank buckets, and bucket b's normalized value is
    * the MEAN ACROSS SOURCES of the per-source bucket-b means — so every
    * source maps onto one shared reference distribution. Pipelines use
    * exactly this to calibrate quality/length scores across crawls
    * before a global threshold or mixture weighting.
    *
    * THE SCALE SHAPE — no per-source sort of the corpus: an
    * equal-frequency cut needs ranks, and `ntile() OVER (PARTITION BY
    * source ORDER BY v)` drags each source onto ONE partition. Instead
    * the corpus collapses to a VALUE HISTOGRAM per source (one keyed
    * map-side-combined agg, output O(sources × |distinct v|)); ranks
    * come from a cumulative window over that histogram (tiny, the
    * w6_prefix_sum discipline); each histogram row's rank-span
    * [lo, hi] explodes across the ≤ span·B/n + 2 buckets it touches,
    * with exact per-bucket overlap counts from the closed-form bucket
    * boundaries lo_b = (b·n + B − 1) div B + 1. Bucket means are exact
    * integer ratios; rank bucket of rank r is ((r−1)·B) div n — floor
    * division on non-negatives, identical in both engines.
    *
    * Cross-engine determinism: per-source bucket means quantize to
    * floor(sum·1e6 / cnt) BEFORE the cross-source average (exact
    * integer division of exact sums), so the final mean is one IEEE
    * division of an exact integer sum — no float-accumulation order
    * anywhere. Assumes every source has ≥ B rows (so every bucket is
    * non-empty and intermediate buckets sit fully inside a span) — a
    * source smaller than the bucket count has no meaningful quantiles
    * to normalize.
    */
  val QnormB = 16
  val quantileNorm: Q = (s, d) => {
    val hist = tbl(s, d, "documents")
      .groupBy(col("source"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.partitionBy(col("source")).orderBy(col("v"))
    val spans = hist
      .withColumn("hi", sum(col("cnt")).over(wCum))
      .withColumn("n", sum(col("cnt")).over(Window.partitionBy(col("source"))))
      .withColumn("lo", col("hi") - col("cnt") + 1L)
    val perBucket = spans
      .withColumn("b", explode(expr(
        s"sequence((lo - 1) * $QnormB div n, (hi - 1) * $QnormB div n)")))
      .withColumn("lo_b", expr(s"(b * n + ${QnormB - 1}) div $QnormB + 1"))
      .withColumn("hi_b", expr(s"((b + 1) * n + ${QnormB - 1}) div $QnormB"))
      .withColumn("ov", least(col("hi"), col("hi_b")) - greatest(col("lo"), col("lo_b")) + 1L)
      .groupBy(col("source"), col("b"))
      .agg(sum(col("ov")).as("bucket_cnt"),
        sum(col("v") * col("ov")).as("bucket_sum"))
      .withColumn("mq", expr("bucket_sum * 1000000 div bucket_cnt"))
    val target = perBucket.groupBy(col("b"))
      .agg(sum(col("mq")).as("smq"), count(lit(1)).as("ns"))
      .select(col("b"), round(col("smq").cast("double") / col("ns") / 1e6, 6).as("norm_mean"))
    perBucket
      .join(broadcast(target), Seq("b"))
      .select(col("source"), col("b").as("bucket"), col("bucket_cnt"),
        round(col("mq").cast("double") / 1e6, 6).as("raw_mean"), col("norm_mean"))
      .orderBy(col("source"), col("bucket"))
  }
  val quantileNormSql: String =
    s"""WITH hist AS (
      |  SELECT source, n_chars AS v, count(*) AS cnt
      |  FROM documents GROUP BY source, n_chars),
      |spans AS (
      |  SELECT source, v, cnt,
      |         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v) AS BIGINT) AS hi,
      |         CAST(sum(cnt) OVER (PARTITION BY source) AS BIGINT) AS n,
      |         CAST(sum(cnt) OVER (PARTITION BY source ORDER BY v) - cnt + 1 AS BIGINT) AS lo
      |  FROM hist),
      |pb AS (
      |  SELECT source, b,
      |         CAST(sum(least(hi, ((b + 1) * n + ${QnormB - 1}) // $QnormB)
      |               - greatest(lo, (b * n + ${QnormB - 1}) // $QnormB + 1) + 1) AS BIGINT)
      |           AS bucket_cnt,
      |         CAST(sum(v * (least(hi, ((b + 1) * n + ${QnormB - 1}) // $QnormB)
      |               - greatest(lo, (b * n + ${QnormB - 1}) // $QnormB + 1) + 1)) AS BIGINT)
      |           AS bucket_sum
      |  FROM (SELECT source, v, lo, hi, n,
      |               unnest(range((lo - 1) * $QnormB // n,
      |                            (hi - 1) * $QnormB // n + 1)) AS b
      |        FROM spans)
      |  GROUP BY source, b),
      |pm AS (SELECT source, b, bucket_cnt, bucket_sum * 1000000 // bucket_cnt AS mq FROM pb),
      |tgt AS (SELECT b, round(CAST(sum(mq) AS DOUBLE) / count(*) / 1e6, 6) AS norm_mean
      |        FROM pm GROUP BY b)
      |SELECT source, CAST(pm.b AS BIGINT) AS bucket, bucket_cnt,
      |       round(CAST(mq AS DOUBLE) / 1e6, 6) AS raw_mean, norm_mean
      |FROM pm JOIN tgt ON pm.b = tgt.b
      |ORDER BY source, bucket""".stripMargin

  // ----------------------------------------------------------- GMM EM step

  /** ml_gmm_em — one EM round of a 2-component Gaussian mixture over the
    * document-length column: the soft-clustering primitive (vs k-means'
    * hard assignments in ann_kmeans_train / ml_kmeanspp) that length/
    * quality bimodality detection and mixture-of-domains modeling run
    * on. Fixed, documented init (μ = 150/450, shared σ = 120, equal
    * weights) makes the round deterministic; with a SHARED σ the E-step
    * log-odds collapse to the LINEAR form z = (300 − x)/48 — the
    * quadratic terms cancel — so the responsibility is one logistic per
    * row, no exp of large quadratics. Emits per component the M-step
    * weight, mean, and variance, the full state a driver loop would
    * iterate (the tx_bpe_train fixed-round discipline).
    *
    * Scale shape: ONE corpus scan collapsed by a single global
    * aggregation of 4 sums — map-side-combined, nothing shuffles but
    * partials. Cross-engine: responsibilities quantize to floor(r·1e9)
    * BEFORE summing (the clfScore discipline — order-free integer
    * sums in DECIMAL(38,0); the only engine-libm call is one exp whose
    * argument is an exact rational, then a 9-dp floor), and the three
    * output stats are short IEEE formulas on those exact sums, 6 dp.
    */
  val gmmEm: Q = (s, d) => {
    val r9 = tbl(s, d, "documents")
      .select(col("n_chars").cast("long").as("x"),
        floor(lit(1e9) / (lit(1.0) + exp((col("n_chars") - lit(300.0)) / lit(48.0))))
          .cast("long").as("rq"))
    val sums = r9.agg(
      count(lit(1)).as("n"),
      sum(col("rq").cast("decimal(38,0)")).as("sr"),
      sum((col("rq") * col("x")).cast("decimal(38,0)")).as("srx"),
      sum((col("rq") * col("x") * col("x")).cast("decimal(38,0)")).as("srxx"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum((col("x") * col("x")).cast("decimal(38,0)")).as("sxx"))
    // component 2's sums are complements: Σ(1e9−rq) = n·1e9 − Σrq, etc.
    sums.select(expr(
        """stack(2,
          |  1, CAST(sr AS DOUBLE), CAST(srx AS DOUBLE), CAST(srxx AS DOUBLE),
          |  2, CAST(n AS DOUBLE) * 1e9 - CAST(sr AS DOUBLE),
          |     CAST(sx AS DOUBLE) * 1e9 - CAST(srx AS DOUBLE),
          |     CAST(sxx AS DOUBLE) * 1e9 - CAST(srxx AS DOUBLE))
          |AS (component, w, wx, wxx)""".stripMargin),
        col("n"))
      .select(col("component").cast("int").as("component"),
        round(col("w") / col("n") / 1e9, 6).as("weight"),
        round(col("wx") / col("w"), 6).as("mean"),
        round(col("wxx") / col("w") - (col("wx") / col("w")) * (col("wx") / col("w")), 6)
          .as("variance"))
      .orderBy(col("component"))
  }
  val gmmEmSql: String =
    """WITH r AS (
      |  SELECT CAST(n_chars AS BIGINT) AS x,
      |         CAST(floor(1e9 / (1.0 + exp((n_chars - 300.0) / 48.0))) AS BIGINT) AS rq
      |  FROM documents),
      |sums AS (
      |  SELECT count(*) AS n,
      |         sum(CAST(rq AS DECIMAL(38,0))) AS sr,
      |         sum(CAST(rq * x AS DECIMAL(38,0))) AS srx,
      |         sum(CAST(rq * x * x AS DECIMAL(38,0))) AS srxx,
      |         sum(CAST(x AS DECIMAL(38,0))) AS sx,
      |         sum(CAST(x * x AS DECIMAL(38,0))) AS sxx
      |  FROM r),
      |comp AS (
      |  SELECT 1 AS component, CAST(sr AS DOUBLE) AS w,
      |         CAST(srx AS DOUBLE) AS wx, CAST(srxx AS DOUBLE) AS wxx, n FROM sums
      |  UNION ALL
      |  SELECT 2, CAST(n AS DOUBLE) * 1e9 - CAST(sr AS DOUBLE),
      |         CAST(sx AS DOUBLE) * 1e9 - CAST(srx AS DOUBLE),
      |         CAST(sxx AS DOUBLE) * 1e9 - CAST(srxx AS DOUBLE), n FROM sums)
      |SELECT CAST(component AS INT) AS component,
      |       round(w / n / 1e9, 6) AS weight,
      |       round(wx / w, 6) AS mean,
      |       round(wxx / w - (wx / w) * (wx / w), 6) AS variance
      |FROM comp ORDER BY component""".stripMargin

  val queries: Map[String, Q] = Map(
    "ml_gmm_em"       -> gmmEm,
    "fe_quantile_norm" -> quantileNorm,
    "ml_nb_score"     -> nbScore,
    "fe_hashed"       -> featureHash,
    "ml_nb_confusion" -> nbConfusion,
    "fe_target_encode" -> targetEncode,
    "fe_scale"        -> scaleStats,
    "ml_stump"        -> stump,
  )

  val oracles: Map[String, String] = Map(
    "ml_gmm_em"       -> gmmEmSql,
    "fe_quantile_norm" -> quantileNormSql,
    "ml_nb_score"     -> nbScoreSql,
    "fe_hashed"       -> featureHashSql,
    "ml_nb_confusion" -> nbConfusionSql,
    "fe_target_encode" -> targetEncodeSql,
    "fe_scale"        -> scaleStatsSql,
    "ml_stump"        -> stumpSql,
  )
}
