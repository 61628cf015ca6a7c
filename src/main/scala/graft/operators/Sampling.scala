package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pins
import graft.Tables.{t => tbl}

/** Deterministic sampling + profiling for corpus curation.
  *
  * All sampling here is HASH-deterministic (no RNG state): a row's
  * inclusion depends only on its key, so samples are reproducible across
  * runs, retries, engines, and cluster sizes — the property training-data
  * pipelines need for auditability. md5 keys keep the oracle bit-exact;
  * the xxhash64 variants are the cheaper scale path.
  */
object Sampling {

  type Q = (SparkSession, String) => DataFrame

  /** Per-group deterministic reservoir: top-k rows by hashed priority per
    * group ≡ uniform k-sample per group (A-Res with a hash in place of the
    * RNG). One shuffle on the group key.
    */
  val reservoirPerGroup: Q = (s, d) => {
    val w = Window.partitionBy(col("lang"))
      .orderBy(md5(concat(lit("rsv:"), col("doc_id"))), col("doc_id"))
    tbl(s, d, "documents")
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= 5)
      .select(col("lang"), col("rn"), col("doc_id"))
      .orderBy(col("lang"), col("rn"))
  }
  val reservoirPerGroupSql: String =
    """SELECT lang, rn, doc_id FROM (
      |  SELECT lang, doc_id,
      |         row_number() OVER (PARTITION BY lang
      |                            ORDER BY md5('rsv:' || doc_id), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 5 ORDER BY lang, rn""".stripMargin

  /** Stratified Bernoulli sample at ~25%: keep rows whose hashed key falls
    * under the threshold prefix (md5 hex is uniform; '4' cuts at 4/16).
    * Narrow — no shuffle at all; composes with any downstream op.
    */
  val stratifiedSample: Q = (s, d) =>
    tbl(s, d, "documents")
      .where(md5(concat(lit("smp:"), col("doc_id"))) < "4")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))
  val stratifiedSampleSql: String =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE md5('smp:' || doc_id) < '4' ORDER BY doc_id""".stripMargin

  /** sp_weighted — deterministic weighted sampling WITHOUT replacement
    * (Efraimidis–Spirakis A-Res): each row gets priority u^(1/w) with u a
    * hash-uniform in (0,1) and w its weight (n_chars — longer docs more
    * likely); the global top-k by priority IS a weighted sample. Ranking by
    * the monotone-equivalent ln(u)/w avoids pow entirely: the only libm
    * call is one ln, and the key rounds to 9 dp before ranking with doc_id
    * breaking ties (tx_entropy's 1-ulp-vs-grain argument).
    *
    * u is integer-exact cross-engine: the first 6 md5 hex digits decode via
    * instr('0123..f', ·) arithmetic — no conv()/from_hex dependency — so
    * both engines rank the same rationals. Narrow until the final top-k
    * (TakeOrderedAndProject): no shuffle touches the corpus, and the same
    * priority column drives a per-group weighted reservoir if ranked inside
    * a window instead.
    */
  val weightedSample: Q = (s, d) => {
    val hvTerms = (1 to 6).map(i =>
      s"(instr('0123456789abcdef', substr(__h, $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}L")
    tbl(s, d, "documents")
      .where(col("n_chars") > 0)
      .withColumn("__h", md5(concat(lit("ws:"), col("doc_id"))))
      .withColumn("__u", (expr(hvTerms.mkString(" + ")) + 0.5) / 16777216.0)
      .withColumn("priority", round(log(col("__u")) / col("n_chars") * 1000.0, 9))
      .orderBy(col("priority").desc, col("doc_id"))
      .limit(25)
      .select(col("doc_id"), col("n_chars"), col("priority"))
  }
  val weightedSampleSql: String = {
    val hvTerms = (1 to 6).map(i =>
      s"(instr('0123456789abcdef', substr(md5('ws:' || doc_id), $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}").mkString(" + ")
    s"""SELECT doc_id, n_chars,
       |       round(ln(($hvTerms + 0.5) / 16777216.0) / n_chars * 1000.0, 9) AS priority
       |FROM documents WHERE n_chars > 0
       |ORDER BY priority DESC, doc_id LIMIT 25""".stripMargin
  }

  /** Deterministic train/val/test split (~75/12.5/12.5 via md5 prefix
    * ranges — hex is uniform, so '0'..'b' ≈ 12/16). Assignment depends
    * only on the doc key: stable under retries, repartitioning, engine
    * swaps, and corpus growth (a doc never migrates between splits when
    * new docs arrive — the property eval-set hygiene requires). Narrow,
    * zero-shuffle; at 100 TB this is a free column on the scan.
    */
  def splitAssign(docs: DataFrame): DataFrame =
    docs
      .withColumn("h", md5(concat(lit("spl:"), col("doc_id"))))
      .select(col("doc_id"),
        when(col("h") < "c", "train").when(col("h") < "e", "val")
          .otherwise("test").as("split"))

  val split3: Q = (s, d) =>
    splitAssign(tbl(s, d, "documents")).orderBy(col("doc_id"))
  val split3Sql: String =
    """SELECT doc_id,
      |       CASE WHEN md5('spl:' || doc_id) < 'c' THEN 'train'
      |            WHEN md5('spl:' || doc_id) < 'e' THEN 'val'
      |            ELSE 'test' END AS split
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Column profiling: null/distinct/min/max per column — the cheap
    * data-quality gate before a training run (one pass, all aggregates
    * fused).
    */
  val profile: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
    docs.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("text").isNull, 1L).otherwise(0L)).as("null_text"),
      countDistinct(col("lang")).as("distinct_lang"),
      countDistinct(col("source")).as("distinct_source"),
      min(col("n_chars")).as("min_chars"),
      max(col("n_chars")).as("max_chars"),
      sum(col("n_chars")).as("total_chars"))
  }
  val profileSql: String =
    """SELECT count(*) AS n_rows,
      |       CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_text,
      |       count(DISTINCT lang) AS distinct_lang,
      |       count(DISTINCT source) AS distinct_source,
      |       min(n_chars) AS min_chars, max(n_chars) AS max_chars,
      |       CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents""".stripMargin

  /** pf_drift — snapshot drift monitor: compare the corpus composition
    * of an existing snapshot against an arriving batch (per-language doc
    * share and mean length, with the absolute share shift), the check a
    * continuously-ingesting pipeline runs before letting a batch into
    * the training mix. ONE conditional-aggregation scan produces both
    * sides (no per-snapshot pass), and the two 1-row totals broadcast
    * onto the per-lang rows — the same shape at any corpus size. Shares
    * and means round to 6 dp (suite convention).
    */
  val drift: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
    val isNew = col("doc_id") >= 250
    val byLang = docs.groupBy(col("lang")).agg(
      sum(when(!isNew, 1L).otherwise(0L)).as("n_old"),
      sum(when(isNew, 1L).otherwise(0L)).as("n_new"),
      sum(when(!isNew, col("n_chars"))).as("c_old"),
      sum(when(isNew, col("n_chars"))).as("c_new"))
    val totals = docs.agg(
      sum(when(!isNew, 1L).otherwise(0L)).as("t_old"),
      sum(when(isNew, 1L).otherwise(0L)).as("t_new"))
    byLang.crossJoin(broadcast(totals))
      .select(col("lang"), col("n_old"), col("n_new"),
        round(col("n_old") / col("t_old"), 6).as("share_old"),
        round(col("n_new") / col("t_new"), 6).as("share_new"),
        round(abs(col("n_old") / col("t_old") - col("n_new") / col("t_new")), 6)
          .as("share_shift"),
        round(col("c_old") / col("n_old"), 6).as("mean_chars_old"),
        round(col("c_new") / col("n_new"), 6).as("mean_chars_new"))
      .orderBy(col("lang"))
  }
  val driftSql: String =
    """SELECT lang,
      |       n_old, n_new,
      |       round(n_old / t_old, 6) AS share_old,
      |       round(n_new / t_new, 6) AS share_new,
      |       round(abs(n_old / t_old - n_new / t_new), 6) AS share_shift,
      |       round(c_old / n_old, 6) AS mean_chars_old,
      |       round(c_new / n_new, 6) AS mean_chars_new
      |FROM (
      |  SELECT lang,
      |         CAST(sum(CASE WHEN doc_id < 250 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
      |         CAST(sum(CASE WHEN doc_id >= 250 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |         sum(CASE WHEN doc_id < 250 THEN n_chars END) AS c_old,
      |         sum(CASE WHEN doc_id >= 250 THEN n_chars END) AS c_new
      |  FROM documents GROUP BY lang)
      |CROSS JOIN (
      |  SELECT CAST(sum(CASE WHEN doc_id < 250 THEN 1 ELSE 0 END) AS BIGINT) AS t_old,
      |         CAST(sum(CASE WHEN doc_id >= 250 THEN 1 ELSE 0 END) AS BIGINT) AS t_new
      |  FROM documents)
      |ORDER BY lang""".stripMargin

  /** Domain-mixture sampling — reweighting a corpus by per-domain keep
    * rates, the knob every pretraining mix sweeps. Each language keeps
    * a different hash-threshold slice of its documents (en 9/16,
    * es 6/16, zh 4/16, rest 2/16), deterministically per key, so the
    * sample is reproducible across runs and engines. The OUTPUT mix is
    * input_share × rate: to hit a target output proportion, set each
    * rate ∝ target_share / input_share (one count-by-domain pass
    * upstream gives the input shares). Narrow (no shuffle): the rate
    * CASE and the hash threshold are per-row expressions.
    */
  /** The per-lang mix rates, defined ONCE in Column and SQL form — shared
    * by sp_mixture and the pl_pretrain composition so the mix can't
    * silently diverge between them. md5-prefix < '9' keeps ~9/16 of the
    * hash space, etc.
    */
  val mixtureThr: org.apache.spark.sql.Column =
    when(col("lang") === "en", "9").when(col("lang") === "es", "6")
      .when(col("lang") === "zh", "4").otherwise("2")
  val mixtureThrSql: String =
    """CASE WHEN lang = 'en' THEN '9' WHEN lang = 'es' THEN '6'
      |       WHEN lang = 'zh' THEN '4' ELSE '2' END""".stripMargin

  val mixture: Q = (s, d) =>
    tbl(s, d, "documents")
      .where(md5(concat(lit("mix:"), col("doc_id"))) < mixtureThr)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  val mixtureSql: String =
    s"""SELECT doc_id, lang FROM documents
       |WHERE md5('mix:' || doc_id) < $mixtureThrSql
       |ORDER BY doc_id""".stripMargin

  /** sp_temperature — temperature-scaled mixture weights (the multilingual
    * sampling math of XLM / mBERT: p_l ∝ f_l^α with α < 1 upweighting
    * low-resource domains). Where sp_mixture APPLIES fixed per-domain
    * rates, this computes the rate table FROM the corpus: one count-by-
    * domain pass, then the α-power renormalization on the |domains|-row
    * summary — the planning step every pretrain mix runs before a
    * sp_mixture-style keep pass consumes the weights. Scale: the corpus
    * is touched once by the count; everything after runs on a table the
    * size of the domain set and broadcasts.
    */
  val temperature: Q = (s, d) => {
    import s.implicits._
    // pinned (r18 batch 4): the O(langs) count grid feeds the total and
    // the weight projection (which itself fans into the pw sum and the
    // final select) — unpinned, the documents scan ran up to 4×
    val c = Pins(tbl(s, d, "documents").groupBy($"lang").agg(count(lit(1)).as("n")))
    val t = c.agg(sum($"n").as("total"))
    val w = c.crossJoin(broadcast(t))
      .withColumn("share", $"n" / $"total")
      .withColumn("pw", pow($"share", lit(0.3)))
    val sw = w.agg(sum($"pw").as("spw"))
    w.crossJoin(broadcast(sw))
      .select($"lang", $"n", round($"share", 6).as("share"),
        round($"pw" / $"spw", 6).as("temp_weight"))
      .orderBy($"lang")
  }
  val temperatureSql: String =
    """WITH c AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c),
      |w AS (SELECT lang, n, CAST(n AS DOUBLE) / total AS share,
      |             pow(CAST(n AS DOUBLE) / total, 0.3) AS pw
      |      FROM c CROSS JOIN t)
      |SELECT lang, n, round(share, 6) AS share,
      |       round(pw / (SELECT sum(pw) FROM w), 6) AS temp_weight
      |FROM w ORDER BY lang""".stripMargin

  /** Scale-path variants (xxhash64, no string hashing). */
  def reservoir(df: DataFrame, group: String, key: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(group)).orderBy(xxhash64(lit("rsv"), col(key)), col(key))
    df.withColumn("__rn", row_number().over(w)).where(col("__rn") <= k).drop("__rn")
  }

  def bernoulli(df: DataFrame, key: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1)
    // pmod maps the hash uniformly onto [0, 2^62); the threshold lives in
    // the same range (2^62 ≈ 4.6e18 is exactly representable progression
    // for the product at double precision granularity we need here).
    val range = 1L << 62
    val threshold = (fraction * range).toLong
    df.where(pmod(xxhash64(lit("smp"), col(key)), lit(range)) < threshold)
  }

  /** SpaceSaving heavy-hitters over tokens. The corpus vocabulary fits the
    * sketch capacity, so the sketch is provably exact here and the oracle
    * is a plain groupBy count — on real corpora the same query degrades
    * gracefully to (est_count, max_err) bounds.
    */
  val topTokens: Q = (s, d) => {
    val toks = tbl(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
    toks.agg(graft.functions.sketch.top_k_freq(col("tok"), 10).as("tk"))
      .select(explode(col("tk")).as("s"))
      .select(col("s.item").as("item"), col("s.est_count").as("est_count"))
      .orderBy(col("est_count").desc, col("item"))
  }
  val topTokensSql: String =
    """SELECT tok AS item, count(*) AS est_count
      |FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
      |GROUP BY tok ORDER BY est_count DESC, item LIMIT 10""".stripMargin

  // ------------------------------------------------------- robust outliers

  /** pf_outliers — robust per-group outlier screen: median, MAD scaled by
    * 1.4826 (the consistency constant that makes MAD estimate σ under
    * normality), the count beyond 3 robust z, and the worst offender's
    * score. The metric-anomaly check a pipeline runs on every numeric
    * column before trusting a batch — median/MAD, unlike mean/stddev,
    * don't let the outliers vote on their own threshold.
    *
    * Exact `percentile` (not percentile_approx) so DuckDB's
    * `quantile_cont` mirrors it bit-for-bit — both implement (n−1)·q
    * linear interpolation (tx_pp_bucket precedent). Three aggregations
    * over the group key with the tiny per-group stats broadcast back
    * between passes; each pass is one map-side-combined hash aggregate,
    * and medians round to 6 dp before the dependent pass so downstream
    * arithmetic starts from identical doubles in both engines. At 100 TB
    * swap `percentile` for `percentile_approx` and the plan loses the
    * sort-based exact aggregate for a mergeable KLL sketch — same shape,
    * one fewer total ordering (the Sketches.scala rationale).
    */
  val outliers: Q = (s, d) => {
    val ev = tbl(s, d, "events").select(col("event_type"), col("value"))
    val med = ev.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, CAST(0.5 AS DOUBLE))"), 6).as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy(col("event_type"))
      .agg(first(col("med")).as("med"),
        round(expr("percentile(abs(value - med), CAST(0.5 AS DOUBLE))"), 6).as("mad"))
    ev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(first(col("med")).as("med"), first(col("mad")).as("mad"),
        count(lit(1)).as("n"),
        sum(when(abs(col("value") - col("med")) > lit(3) * lit(1.4826) * col("mad"), 1L)
          .otherwise(0L)).as("n_outliers"),
        round(max(abs(col("value") - col("med")) / (lit(1.4826) * col("mad"))), 6)
          .as("max_robust_z"))
      .orderBy(col("event_type"))
  }
  val outliersSql: String =
    """WITH med AS (
      |  SELECT event_type, round(quantile_cont(value, CAST(0.5 AS DOUBLE)), 6) AS med
      |  FROM events GROUP BY event_type),
      |mad AS (
      |  SELECT e.event_type, min(m.med) AS med,
      |         round(quantile_cont(abs(e.value - m.med), CAST(0.5 AS DOUBLE)), 6) AS mad
      |  FROM events e JOIN med m USING (event_type) GROUP BY e.event_type)
      |SELECT e.event_type, min(m.med) AS med, min(m.mad) AS mad,
      |       count(*) AS n,
      |       CAST(sum(CASE WHEN abs(e.value - m.med) > 3 * 1.4826 * m.mad
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
      |       round(max(abs(e.value - m.med) / (1.4826 * m.mad)), 6) AS max_robust_z
      |FROM events e JOIN mad m USING (event_type)
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  // ---------------------------------------------------------- winsorization

  /** pf_winsorize — tail-clamped (p05/p95) per-group mean of the event
    * value: the robust-mean companion to [[outliers]] — where that gate
    * FLAGS heavy tails, this one neutralizes them, the standard pre-step
    * before feeding a skewed metric to anything that assumes finite
    * variance (quality scores, per-domain averages, reward signals).
    *
    * Two passes: exact `percentile` per group (sort-based; at 100 TB swap
    * for `percentile_approx`'s mergeable KLL sketch — outliers' note),
    * fences rounded to 6 dp BEFORE the clamp so both engines clamp
    * against identical doubles; then one map-side-combined aggregation of
    * the clamped values quantized to decimal(17,4) — order-free sums,
    * doubles only in the final mean (6 dp).
    */
  val winsorize: Q = (s, d) => {
    val ev = tbl(s, d, "events").select(col("event_type"), col("value"))
    val fences = ev.groupBy(col("event_type")).agg(
      round(expr("percentile(value, CAST(0.05 AS DOUBLE))"), 6).as("p05"),
      round(expr("percentile(value, CAST(0.95 AS DOUBLE))"), 6).as("p95"))
    val w = ev.join(broadcast(fences), "event_type")
      .withColumn("wv", least(greatest(col("value"), col("p05")), col("p95")))
    w.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        first(col("p05")).as("p05"), first(col("p95")).as("p95"),
        sum(when(col("value") < col("p05"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("value") > col("p95"), 1L).otherwise(0L)).as("n_hi"),
        sum(col("value").cast("decimal(17,4)")).as("sraw"),
        sum(col("wv").cast("decimal(17,4)")).as("swin"))
      .select(col("event_type"), col("n"), col("p05"), col("p95"),
        col("n_lo"), col("n_hi"),
        round(col("sraw").cast("double") / col("n"), 6).as("mean_raw"),
        round(col("swin").cast("double") / col("n"), 6).as("mean_wins"))
      .orderBy(col("event_type"))
  }
  val winsorizeSql: String =
    """WITH f AS (
      |  SELECT event_type,
      |         round(quantile_cont(value, CAST(0.05 AS DOUBLE)), 6) AS p05,
      |         round(quantile_cont(value, CAST(0.95 AS DOUBLE)), 6) AS p95
      |  FROM events GROUP BY event_type),
      |w AS (
      |  SELECT e.event_type, f.p05, f.p95, e.value,
      |         least(greatest(e.value, f.p05), f.p95) AS wv
      |  FROM events e JOIN f USING (event_type))
      |SELECT event_type, count(*) AS n, min(p05) AS p05, min(p95) AS p95,
      |       CAST(sum(CASE WHEN value < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
      |       CAST(sum(CASE WHEN value > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
      |       round(CAST(sum(CAST(value AS DECIMAL(17,4))) AS DOUBLE) / count(*), 6) AS mean_raw,
      |       round(CAST(sum(CAST(wv AS DECIMAL(17,4))) AS DOUBLE) / count(*), 6) AS mean_wins
      |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin

  // ----------------------------------------------------- negative sampling

  /** sp_negatives — deterministic negative sampling for pairwise training
    * (BPR / contrastive recsys, embedding triplet mining): for each user
    * with purchases, k = 2 hash-picked catalog items the user did NOT
    * buy. Hash-ranked like every sampler in this file (md5 priority →
    * reproducible across runs, retries, engines), implemented as a
    * bounded user × catalog product minus an ANTI-join on the positives,
    * then a per-user top-k window. The anti-join is the correctness
    * core — a sampler that can emit a positive as a "negative" poisons
    * the loss. At catalog scale the cross product gives way to
    * rejection sampling over hash-picked candidates (same anti-join
    * verify per round); the probe bounds here keep the gate exact.
    */
  val negatives: Q = (s, d) => {
    val pos = tbl(s, d, "orders").where(col("o_custkey") < 30)
      .select(col("o_custkey").as("user"), col("o_orderkey"))
      .join(tbl(s, d, "lineitem").select(col("l_orderkey").as("o_orderkey"),
        col("l_partkey").as("item")), "o_orderkey")
      .select(col("user"), col("item")).distinct()
    val users = pos.select(col("user")).distinct()
    val catalog = tbl(s, d, "part").where(col("p_partkey") < 500)
      .select(col("p_partkey").as("item"))
    val cand = users.crossJoin(catalog)
      .join(pos, Seq("user", "item"), "left_anti")
      .withColumn("pri", md5(concat(lit("neg:"), col("user"), lit(":"), col("item"))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user")).orderBy(col("pri"), col("item"))
    cand.withColumn("rk", row_number().over(w))
      .where(col("rk") <= 2)
      .select(col("user"), col("rk").cast("long").as("rk"), col("item"))
      .orderBy(col("user"), col("rk"))
  }
  val negativesSql: String =
    """WITH pos AS (
      |  SELECT DISTINCT o.o_custkey AS user_k, l.l_partkey AS item
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  WHERE o.o_custkey < 30),
      |users AS (SELECT DISTINCT user_k FROM pos),
      |catalog AS (SELECT p_partkey AS item FROM part WHERE p_partkey < 500),
      |cand AS (
      |  SELECT u.user_k, c.item,
      |         md5('neg:' || u.user_k || ':' || c.item) AS pri
      |  FROM users u CROSS JOIN catalog c
      |  WHERE NOT EXISTS (SELECT 1 FROM pos p
      |                    WHERE p.user_k = u.user_k AND p.item = c.item))
      |SELECT user_k AS user, CAST(rk AS BIGINT) AS rk, item FROM (
      |  SELECT user_k, item,
      |         row_number() OVER (PARTITION BY user_k ORDER BY pri, item) AS rk
      |  FROM cand)
      |WHERE rk <= 2 ORDER BY user, rk""".stripMargin

  // ------------------------------------------------------ Poisson bootstrap

  /** Cumulative Poisson(1) CDF at k = 0..4 — identical decimal literals in
    * the Spark expression and the oracle SQL, so both engines parse the
    * same doubles and invert the same step function. P(X > 5) ≈ 6e-4 is
    * folded into the k=5 bucket (weights cap at 5).
    */
  private val poisCdf = Seq(
    "0.36787944117144233", "0.7357588823428847", "0.9196986029286058",
    "0.9810118431238463", "0.9963401531726563")
  private def poisCase(u: String): String =
    poisCdf.zipWithIndex
      .map { case (c, k) => s"WHEN $u < $c THEN $k" }
      .mkString("CASE ", " ", " ELSE 5 END")

  /** sp_bootstrap — Poisson-bootstrap confidence interval for the corpus
    * mean of n_chars: B=32 replicates, each reweighting every doc by an
    * independent Poisson(1) draw (Chamandy et al. 2012 — the bootstrap
    * that works on data too big to resample, because no replicate ever
    * materializes: each is just a weighted aggregate of the SAME scan).
    * The spread of the 32 replicate means IS the sampling distribution of
    * the estimator — the error bar a profiling pipeline should attach to
    * every corpus statistic it reports.
    *
    * Scale shape: the doc stream explodes ×B, but partial aggregation
    * combines per partition before the shuffle, so the exchange carries
    * B rows per partition — the corpus is scanned once and shuffled
    * never. Per (doc, b) the Poisson weight inverts the CDF at a
    * keyed-hash uniform (sp_weighted's integer-exact md5 decode), making
    * every replicate reproducible across engines, retries, and
    * partitionings. Σw and Σw·x are exact BIGINTs; the one float is the
    * final ratio, round-6.
    */
  val bootstrap: Q = (s, d) => {
    val hvTerms = (1 to 6).map(i =>
      s"(instr('0123456789abcdef', substr(__h, $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}L")
      .mkString(" + ")
    tbl(s, d, "documents")
      .select(col("doc_id"), col("n_chars"))
      .withColumn("b", explode(sequence(lit(0L), lit(31L))))
      .withColumn("__h", md5(concat(lit("bs:"), col("b"), lit(":"), col("doc_id"))))
      .withColumn("__u", (expr(hvTerms) + 0.5) / 16777216.0)
      .withColumn("w", expr(poisCase("__u")).cast("long"))
      .groupBy(col("b"))
      .agg(sum(col("w")).as("n_eff"),
        round(sum(col("w") * col("n_chars")).cast("double") /
          sum(col("w")).cast("double"), 6).as("mean_chars"))
      .orderBy(col("b"))
  }
  val bootstrapSql: String = {
    val hv = (1 to 6).map(i =>
      s"(instr('0123456789abcdef', substr(md5('bs:' || b || ':' || doc_id), $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}")
      .mkString(" + ")
    s"""WITH rep AS (
       |  SELECT d.doc_id, d.n_chars, b.b,
       |         (($hv) + 0.5) / 16777216.0 AS u
       |  FROM documents d CROSS JOIN (SELECT unnest(range(0, 32)) AS b) b),
       |w AS (SELECT b, n_chars, ${poisCase("u")} AS w FROM rep)
       |SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
       |       round(CAST(sum(w * n_chars) AS DOUBLE) / CAST(sum(w) AS DOUBLE), 6) AS mean_chars
       |FROM w GROUP BY b ORDER BY b""".stripMargin
  }

  /** sp_domain_mix — token-budget allocation across corpus domains with
    * per-domain epoch caps, by waterfilling: each domain wants a share of
    * the training budget ∝ its mixing weight, but no domain may repeat
    * more than `capEpochs` times (the "don't run 40 epochs of the tiny
    * high-quality domain" rule every data-mixing recipe enforces — the
    * Pile's epoch column, LLaMA's sampling proportions). Allocation:
    * proportional shares; domains over their cap freeze AT the cap; the
    * freed budget re-spreads ∝ weight over the uncapped rest; repeat.
    * The capped set grows monotonically, so the unrolled 3 rounds reach
    * the fixpoint for any realistic domain count (spec-asserted: round 3
    * changes nothing vs round 2).
    *
    * Weights here are md5-derived (1–4) to force real cap pressure on
    * the near-uniform synthetic sources; production passes its own
    * weight column (quality scores, DSIR importance means). Scale shape:
    * the whole computation runs on the O(domains) aggregate — ONE
    * map-side-combined pass over the corpus, then scalar-broadcast
    * rounds over a table of tens of rows; allocs are 6-dp-quantized
    * BEFORE every ≥-cap comparison so boundary membership agrees across
    * engines.
    */
  val domainMix: Q = (s, d) => {
    val capEpochs = 1.5
    // Pinned (r18 batch 3): each waterfilling round references `cur`
    // twice (per-round stats + re-allocation), so the unpinned corpus
    // aggregate doubled per round — 2³ copies of the documents scan in
    // the plan (measured: 47 Exchanges / 16 scans for a tens-of-rows
    // table). One eager checkpoint of the O(domains) aggregate leaves
    // the rounds duplicating only trivial in-memory scans.
    val toks = Pins(tbl(s, d, "documents").groupBy(col("source"))
      .agg(sum(col("n_chars")).as("tokens"))
      .withColumn("weight",
        expr("CAST((instr('0123456789abcdef', substr(md5(source), 1, 1)) - 1) % 4 AS DOUBLE)")
          + 1.0)
      .withColumn("cap", col("tokens").cast("double") * capEpochs))
    val tot = toks.agg(sum(col("tokens")).cast("double").as("budget"),
      sum(col("weight")).as("wsum"))
    var cur = toks.crossJoin(broadcast(tot))
      .withColumn("alloc", round(col("budget") * col("weight") / col("wsum"), 6))
      .withColumn("capped", (col("alloc") >= col("cap")).cast("long"))
      .select(col("source"), col("tokens"), col("weight"), col("cap"),
        col("budget"), col("alloc"), col("capped"))
    for (_ <- 1 to 3) {
      val stats = cur.agg(
        coalesce(sum(when(col("capped") === 1L, col("cap"))), lit(0.0)).as("fixed"),
        coalesce(sum(when(col("capped") === 0L, col("weight"))), lit(0.0)).as("uw"))
      cur = cur.crossJoin(broadcast(stats))
        .withColumn("alloc", when(col("capped") === 1L, col("cap"))
          .otherwise(round((col("budget") - col("fixed")) * col("weight") / col("uw"), 6)))
        .withColumn("capped", greatest(col("capped"),
          (col("alloc") >= col("cap")).cast("long")))
        .drop("fixed", "uw")
    }
    cur.select(col("source"), col("tokens"), col("weight"), col("alloc"),
        round(col("alloc") / col("tokens").cast("double"), 6).as("epochs"),
        col("capped"))
      .orderBy(col("source"))
  }
  val domainMixSql: String = {
    val rounds = (1 to 3).map { k =>
      s"""s$k AS (SELECT coalesce(sum(CASE WHEN capped = 1 THEN cap END), 0.0) AS fixed,
         |           coalesce(sum(CASE WHEN capped = 0 THEN weight END), 0.0) AS uw
         |    FROM a${k - 1}),
         |a$k AS (
         |  SELECT source, tokens, weight, cap, budget,
         |         CASE WHEN capped = 1 THEN cap
         |              ELSE round((budget - fixed) * weight / uw, 6) END AS alloc,
         |         greatest(capped, CAST(
         |           (CASE WHEN capped = 1 THEN cap
         |                 ELSE round((budget - fixed) * weight / uw, 6) END) >= cap
         |           AS BIGINT)) AS capped
         |  FROM a${k - 1} CROSS JOIN s$k)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (
       |  SELECT source, CAST(sum(n_chars) AS BIGINT) AS tokens,
       |         CAST((instr('0123456789abcdef', substr(md5(source), 1, 1)) - 1) % 4 AS DOUBLE)
       |           + 1.0 AS weight,
       |         CAST(sum(n_chars) AS DOUBLE) * 1.5 AS cap
       |  FROM documents GROUP BY source),
       |tot AS (SELECT CAST(sum(tokens) AS DOUBLE) AS budget, sum(weight) AS wsum FROM toks),
       |a0 AS (
       |  SELECT source, tokens, weight, cap, budget,
       |         round(budget * weight / wsum, 6) AS alloc,
       |         CAST(round(budget * weight / wsum, 6) >= cap AS BIGINT) AS capped
       |  FROM toks CROSS JOIN tot),
       |$rounds
       |SELECT source, tokens, weight, alloc,
       |       round(alloc / CAST(tokens AS DOUBLE), 6) AS epochs, capped
       |FROM a3 ORDER BY source""".stripMargin
  }

  // ------------------------------------------ deterministic epoch shuffle

  /** sp_epoch_shuffle — the deterministic global permutation a training
    * run needs per epoch: every doc gets a position 1..N, fully
    * reproducible from (epoch, doc_id) alone (resume a crashed run at
    * step k and the data order is identical), with no RNG state and no
    * coordination. The permutation key is md5("ep1:" ‖ doc_id); sorting
    * by it IS the shuffle (hash keys are uniform, so key order is a
    * uniform permutation).
    *
    * The naive `row_number() OVER (ORDER BY key)` is a single-partition
    * global sort — the one window shape banned at scale. Re-expressed
    * with the w6_prefix_sum two-level decomposition applied to HASH
    * order: the first 2 hex chars of the key are 256 ordered buckets
    * (hex-string order = full-key order prefix), so rank = (count of
    * keys in lower buckets) + (rank within own bucket). The within-
    * bucket window partitions 256 ways, and only the 256-row bucket
    * count table takes an ordered scan before broadcasting back. The
    * oracle is the naive global window — proving the decomposition
    * exact.
    */
  val epochShuffle: Q = (s, d) => {
    val keyed = tbl(s, d, "documents")
      .select(col("doc_id"),
        md5(concat(lit("ep1:"), col("doc_id"))).as("k"))
      .withColumn("b", substring(col("k"), 1, 2))
    val wIn = Window.partitionBy(col("b")).orderBy(col("k"), col("doc_id"))
    val local = keyed.withColumn("rk_in", row_number().over(wIn).cast("long"))
    val wB = Window.orderBy(col("b")).rowsBetween(Window.unboundedPreceding, -1)
    val base = keyed.groupBy(col("b")).agg(count(lit(1)).as("bn"))
      .withColumn("boff", coalesce(sum(col("bn")).over(wB), lit(0L)))
      .select(col("b"), col("boff"))
    local.join(broadcast(base), Seq("b"))
      .select(col("doc_id"), (col("boff") + col("rk_in")).as("pos"))
      .orderBy(col("pos"))
  }
  val epochShuffleSql: String =
    """SELECT doc_id,
      |       CAST(row_number() OVER (ORDER BY md5('ep1:' || doc_id), doc_id)
      |            AS BIGINT) AS pos
      |FROM documents ORDER BY pos""".stripMargin

  val queries: Map[String, Q] = Map(
    "sp_epoch_shuffle" -> epochShuffle,
    "sp_domain_mix" -> domainMix,
    "sp_reservoir"  -> reservoirPerGroup,
    "sp_stratified" -> stratifiedSample,
    "sp_mixture"    -> mixture,
    "sp_temperature" -> temperature,
    "sp_split"      -> split3,
    "sp_weighted"   -> weightedSample,
    "sp_bootstrap"  -> bootstrap,
    "pf_profile"    -> profile,
    "pf_drift"      -> drift,
    "pf_outliers"   -> outliers,
    "pf_winsorize"  -> winsorize,
    "sp_negatives"  -> negatives,
    "sk_top_tokens" -> topTokens,
  )

  val oracles: Map[String, String] = Map(
    "sp_epoch_shuffle" -> epochShuffleSql,
    "sp_domain_mix" -> domainMixSql,
    "sp_reservoir"  -> reservoirPerGroupSql,
    "sp_stratified" -> stratifiedSampleSql,
    "sp_mixture"    -> mixtureSql,
    "sp_temperature" -> temperatureSql,
    "sp_split"      -> split3Sql,
    "sp_weighted"   -> weightedSampleSql,
    "sp_bootstrap"  -> bootstrapSql,
    "pf_profile"    -> profileSql,
    "pf_drift"      -> driftSql,
    "pf_outliers"   -> outliersSql,
    "pf_winsorize"  -> winsorizeSql,
    "sp_negatives"  -> negativesSql,
    "sk_top_tokens" -> topTokensSql,
  )
}
