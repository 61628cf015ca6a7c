package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pins
import graft.Tables.{t => tbl}

/** Approximate-sketch operators and their correctness gates.
  *
  * Sketch outputs are approximate, so they can't hash-match a DuckDB
  * oracle directly. Instead each gate query emits (metric, exact, ok):
  * the EXACT value (deterministic, hash-checkable) plus a boolean
  * asserting the sketch landed within its published error bound — turning
  * an approximation into a deterministic pass/fail the driver can verify.
  *
  * Scale rationale: at 100 TB, count(DISTINCT) and exact percentile are
  * full-shuffle operators (every distinct value / every row to one
  * aggregation path). The sketches are one-pass, fixed-memory, and
  * mergeable — per-partition partials combine associatively, which is the
  * entire point: `hll_sketch_agg` is Spark 4's Apache DataSketches HLL
  * (binary sketch column, `hll_union` re-aggregable across grains);
  * `percentile_approx` is the KLL-style quantile summary. The exact
  * aggregates computed alongside here are affordable at gate scale and
  * double as the ground truth for the bound check.
  */
object Sketches {

  type Q = (SparkSession, String) => DataFrame

  /** sk_hll — mergeable HLL distinct-count of users vs exact, bound 5 %
    * (lgConfigK=12 ⇒ relative standard error ≈1.6 %; 3σ ≈ 5 %).
    */
  val hllBound: Q = (s, d) => {
    import s.implicits._
    tbl(s, d, "events").agg(
        hll_sketch_estimate(hll_sketch_agg($"user_id", lit(12))).as("approx"),
        countDistinct($"user_id").as("exact_n"))
      .select(lit("distinct_users").as("metric"), $"exact_n",
        (abs($"approx" - $"exact_n") <= $"exact_n" * 0.05).as("ok"))
  }
  val hllBoundSql: String =
    """SELECT 'distinct_users' AS metric, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_n,
      |       true AS ok FROM events""".stripMargin

  /** sk_quantile — approx p50 of documents.n_chars vs exact interpolated
    * median, bound 2 %.
    */
  val quantileBound: Q = (s, d) => {
    import s.implicits._
    tbl(s, d, "documents").agg(
        percentile_approx($"n_chars", lit(0.5), lit(10000)).as("approx"),
        expr("percentile(n_chars, 0.5)").as("exact"))
      .select(lit("p50_chars").as("metric"),
        round($"exact", 6).cast("double").as("exact_p50"),
        (abs($"approx" - $"exact") <= $"exact" * 0.02).as("ok"))
  }
  val quantileBoundSql: String =
    """SELECT 'p50_chars' AS metric,
      |       round(CAST(quantile_cont(n_chars, 0.5) AS DOUBLE), 6) AS exact_p50,
      |       true AS ok FROM documents""".stripMargin

  // ------------------------------------------------------- count-min sketch

  /** Count-min sketch (Cormode & Muthukrishnan 2005) over the corpus token
    * stream — the heavy-hitter / boilerplate-frequency sketch every
    * corpus-hygiene pipeline keeps, here with md5-derived row hashes so the
    * sketch itself is bit-identical in DuckDB: unlike the bound-style gates
    * above, BOTH the d×w counter table and the estimates it yields are
    * hash-checked exactly.
    *
    * Scale: one corpus scan; the d per-token bucket derivations explode to
    * d rows each and aggregate onto d·w cells with map-side combine, so
    * the shuffle carries at most d·w·|partitions| partial rows regardless
    * of corpus size. The finished table is d·w longs (8 KiB here) — it
    * broadcasts anywhere, merges across corpus shards by cell-wise +, and
    * answers any point frequency without rescanning. CMS guarantees
    * est ≥ exact (collisions only inflate), surfaced per probe as `ok`.
    */
  private val CmsDepth = 4
  private val CmsWidth = 256L

  /** Row-r bucket of a token: first 32 bits of md5("r:tok") mod width. */
  private def cmsBucket(r: Int, tok: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit(s"$r:"), tok)), 1, 8), 16, 10)
      .cast("long") % CmsWidth

  private def corpusTokens(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "documents")
      .select(explode(split(lower(col("text")), " ")).as("tok"))
      .where(length(col("tok")) > 0)

  /** Build the sketch: (r, b, c) cell table from a `tok` column. Public
    * scale-path API — cells absent from the output are zero.
    */
  def cmsCells(toks: DataFrame): DataFrame =
    toks
      .select(posexplode(array(
        (0 until CmsDepth).map(r => cmsBucket(r, col("tok"))): _*)).as(Seq("pos", "b")))
      .groupBy(col("pos").cast("long").as("r"), col("b"))
      .agg(count(lit(1)).as("c"))

  /** Merge shard sketches cell-wise — CMS is a counter array, so sketches
    * built per corpus shard combine by + into exactly the whole-corpus
    * sketch (the property that lets 100 TB sketch in one embarrassingly
    * parallel pass).
    */
  def cmsMerge(sketches: DataFrame*): DataFrame =
    sketches.reduce(_ unionAll _)
      .groupBy(col("r"), col("b")).agg(sum(col("c")).as("c"))

  /** Point-frequency estimates for a `tok` probe column against a built
    * sketch: min over the d row counters (missing cell = 0).
    */
  def cmsEstimate(sketch: DataFrame, probes: DataFrame): DataFrame = {
    val derived = probes
      .select(col("tok"), posexplode(array(
        (0 until CmsDepth).map(r => cmsBucket(r, col("tok"))): _*)).as(Seq("pos", "b")))
      .select(col("tok"), col("pos").cast("long").as("r"), col("b"))
    derived.join(sketch, Seq("r", "b"), "left_outer")
      .groupBy(col("tok"))
      .agg(min(coalesce(col("c"), lit(0L))).as("est"))
  }

  /** The DuckDB mirror of [[cmsBucket]]: '0x'-prefixed hex casts straight
    * to BIGINT.
    */
  private def cmsBucketSql(rExpr: String, tokExpr: String): String =
    s"CAST('0x' || substr(md5($rExpr || ':' || $tokExpr), 1, 8) AS BIGINT) % $CmsWidth"

  private val toksSql: String =
    """SELECT tok FROM (
      |    SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
      |  WHERE len(tok) > 0""".stripMargin

  /** Per-(session, dir) memo of the built sketch (dupGramCounts
    * discipline): the table is a per-corpus-snapshot build — both gates
    * and any number of point lookups read the one materialized 8 KiB
    * artifact instead of re-exploding the corpus.
    */
  private def cachedCms(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.memo(s, "sk_cms", d)(
      Pins(cmsCells(corpusTokens(s, d))))

  /** sk_cms_table — the full d×w counter table. */
  val cmsTable: Q = (s, d) =>
    cachedCms(s, d).orderBy(col("r"), col("b"))
  val cmsTableSql: String =
    s"""WITH toks AS (
       |  $toksSql)
       |SELECT r, ${cmsBucketSql("r", "tok")} AS b, count(*) AS c
       |FROM toks CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r)
       |GROUP BY 1, 2 ORDER BY r, b""".stripMargin

  /** sk_cms_heavy — the 20 most frequent tokens with their exact counts,
    * CMS estimates (min over the d row counters), and the est ≥ exact
    * sketch invariant. The probe side re-derives each token's d buckets
    * and equi-joins the cell table — the same lookup a 100 TB pipeline
    * does against the broadcast sketch.
    */
  val cmsHeavy: Q = (s, d) => {
    import s.implicits._
    val t = corpusTokens(s, d)
    val top = t.groupBy($"tok").agg(count(lit(1)).as("exact"))
      .orderBy($"exact".desc, $"tok").limit(20)
    val probes = top
      .select($"tok", $"exact", posexplode(array(
        (0 until CmsDepth).map(r => cmsBucket(r, $"tok")): _*)).as(Seq("pos", "b")))
      .select($"tok", $"exact", $"pos".cast("long").as("r"), $"b")
    probes.join(cachedCms(s, d), Seq("r", "b"))
      .groupBy($"tok", $"exact").agg(min($"c").as("est"))
      .select($"tok", $"exact", $"est", ($"est" >= $"exact").as("ok"))
      .orderBy($"exact".desc, $"tok")
  }
  val cmsHeavySql: String =
    s"""WITH toks AS (
       |  $toksSql),
       |cells AS (
       |  SELECT r, ${cmsBucketSql("r", "tok")} AS b, count(*) AS c
       |  FROM toks CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r)
       |  GROUP BY 1, 2),
       |top AS (
       |  SELECT tok, count(*) AS exact FROM toks GROUP BY tok
       |  ORDER BY exact DESC, tok LIMIT 20),
       |probes AS (
       |  SELECT tok, exact, r, ${cmsBucketSql("r", "tok")} AS b
       |  FROM top CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r))
       |SELECT tok, exact, min(c) AS est, min(c) >= exact AS ok
       |FROM probes JOIN cells USING (r, b)
       |GROUP BY tok, exact ORDER BY exact DESC, tok""".stripMargin

  // ------------------------------------------ from-first-principles HLL

  /** HyperLogLog with md5-derived register/rank (Flajolet et al. 2007),
    * p = 8 ⇒ m = 256 registers: register = first hash byte, rank =
    * leading-zero count of the next 32 hash bits + 1. Where sk_hll_bound
    * gates Spark's DataSketches HLL by its error bound, HERE the sketch
    * itself is engine-independent: the register table hash-matches DuckDB
    * cell for cell, and so does the estimate derived from it.
    *
    * Scale: one scan, one max-aggregate onto ≤256 rows (map-side
    * combined) — registers merge across shards by cell-wise max exactly
    * like [[cmsMerge]] sums counters. The estimator is the RAW HLL
    * harmonic mean (no small-range correction: the ln() libms of the two
    * engines aren't bit-identical, and the gate inputs sit in the
    * asymptotic regime n ≫ 2.5·m where the correction is inactive). The
    * 2^-M_j harmonic sum is computed as exact BIGINT 2^(40-M_j) terms —
    * float summation order can never move the result.
    */
  def hllRegisters(keys: org.apache.spark.sql.Column, df: DataFrame): DataFrame = {
    val h = md5(concat(lit("hll:"), keys.cast("string")))
    val v = conv(substring(h, 3, 8), 16, 10).cast("long")
    df.select(
        conv(substring(h, 1, 2), 16, 10).cast("long").as("reg"),
        when(v === 0L, lit(33L))
          .otherwise(lit(33L) - length(bin(v)).cast("long")).as("rank"))
      .groupBy(col("reg")).agg(max(col("rank")).as("mx"))
  }

  /** sk_hll_regs — the populated register table for lineitem order keys. */
  val hllRegs: Q = (s, d) =>
    hllRegisters(col("l_orderkey"), tbl(s, d, "lineitem")).orderBy(col("reg"))
  val hllRegsSql: String =
    """WITH h AS (SELECT md5('hll:' || l_orderkey) AS hx FROM lineitem),
      |rr AS (SELECT CAST('0x' || substr(hx, 1, 2) AS BIGINT) AS reg,
      |              CAST('0x' || substr(hx, 3, 8) AS BIGINT) AS v FROM h)
      |SELECT reg, CAST(max(CASE WHEN v = 0 THEN 33 ELSE 33 - len(bin(v)) END) AS BIGINT) AS mx
      |FROM rr GROUP BY reg ORDER BY reg""".stripMargin

  /** sk_hll_est — the raw-HLL estimate AND the exact count, both
    * hash-checked (identical double expression text both engines; the
    * harmonic sum is exact integer arithmetic).
    */
  val hllEst: Q = (s, d) => {
    val li = tbl(s, d, "lineitem")
    val regs = hllRegisters(col("l_orderkey"), li)
      .agg(sum(expr("shiftleft(CAST(1 AS BIGINT), 40 - mx)")).as("sp"),
        count(lit(1)).as("present"))
    val exact = li.agg(countDistinct(col("l_orderkey")).as("n_exact"))
    exact.crossJoin(regs)
      .withColumn("s", col("sp") + (lit(256L) - col("present")) * lit(1099511627776L))
      .select(col("n_exact"),
        round(lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0)) * lit(65536.0)
          * lit(1099511627776.0) / col("s").cast("double"), 4).as("est"))
  }
  val hllEstSql: String =
    """WITH h AS (SELECT md5('hll:' || l_orderkey) AS hx FROM lineitem),
      |rr AS (SELECT CAST('0x' || substr(hx, 1, 2) AS BIGINT) AS reg,
      |              CAST('0x' || substr(hx, 3, 8) AS BIGINT) AS v FROM h),
      |regs AS (SELECT reg, max(CASE WHEN v = 0 THEN 33 ELSE 33 - len(bin(v)) END) AS mx
      |         FROM rr GROUP BY reg),
      |agg AS (SELECT CAST(sum(CAST(1 AS BIGINT) << (40 - mx)) AS BIGINT) AS sp,
      |               count(*) AS present FROM regs)
      |SELECT (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS n_exact,
      |       round(0.7213 / (1.0 + 1.079 / 256.0) * 65536.0
      |             * 1099511627776.0 / CAST(sp + (256 - present) * 1099511627776 AS DOUBLE), 4) AS est
      |FROM agg""".stripMargin

  /** Scale-path API: per-group mergeable HLL sketches, re-aggregable to
    * coarser grains with hll_union_agg — the pattern for distinct-count
    * rollup cubes over 100 TB (sketch once at fine grain, merge upward,
    * never rescan).
    */
  def distinctSketchByGroup(df: DataFrame, groupCol: String, valueCol: String,
                            lgK: Int = 12): DataFrame =
    df.groupBy(col(groupCol))
      .agg(hll_sketch_agg(col(valueCol), lit(lgK)).as("hll_sketch"))

  def mergeSketches(sketches: DataFrame, groupCol: String): DataFrame =
    sketches.groupBy(col(groupCol))
      .agg(hll_sketch_estimate(hll_union_agg(col("hll_sketch"))).as("approx_distinct"))

  /** Approximate n-tile assignment without a global sort — the scale
    * alternative to exact ntile (Relational.w4Ntile) when the bucketed
    * column's cardinality is itself huge: one quantile-sketch pass for
    * the n-1 boundaries, then a stateless per-row bucket lookup. Equal-
    * size-bucket remainders differ from exact ntile (boundary ties all
    * land in one bucket) — that's the trade.
    */
  def approxNtileBounds(df: DataFrame, valueCol: String, n: Int,
                        relativeError: Double = 0.001): Array[Double] = {
    require(n > 1, "need at least 2 buckets")
    df.stat.approxQuantile(valueCol,
      (1 until n).map(_.toDouble / n).toArray, relativeError)
  }

  def assignByBounds(df: DataFrame, valueCol: String,
                     bounds: Array[Double]): DataFrame = {
    val boundsArr = array(bounds.map(lit(_)).toIndexedSeq: _*)
    // null values get a null bucket — approxQuantile ignored them when
    // computing the bounds, so folding them into bucket 1 would silently
    // skew it
    df.withColumn("bucket",
      when(col(valueCol).isNull, lit(null))
        .otherwise(lit(1) + size(filter(boundsArr, b => col(valueCol) > b)))
        .cast("long"))
  }

  // --------------------------------------------- CMS join-size estimation

  /** sk_cms_join — join-cardinality estimation from two sketches (the
    * AMS/CMS inner-product estimator, Cormode & Muthukrishnan §4.2):
    * |A ⋈ B on tok| = Σ_tok cntA·cntB, estimated as min over the d rows
    * of Σ_b A[r][b]·B[r][b]. The estimate a cost-based planner wants
    * BEFORE running a join — computed from two 8 KiB counter tables, no
    * contact with either input, and ≥ exact always (collisions only add
    * cross terms). Gate emits estimate, exact (re-derived from full
    * counts), and the invariant — all hash-checked.
    *
    * Probe pair here: the whole-corpus token sketch (the memoized
    * artifact) vs a sketch of the doc_id < 100 batch — the "how big is
    * new-batch ⋈ corpus" question an incremental dedup pass asks first.
    */
  val cmsJoinEst: Q = (s, d) => {
    import s.implicits._
    val batchToks = tbl(s, d, "documents").where($"doc_id" < 100)
      .select(explode(split(lower($"text"), " ")).as("tok"))
      .where(length($"tok") > 0)
    val est = cachedCms(s, d)
      .join(cmsCells(batchToks).select($"r", $"b", $"c".as("cb")), Seq("r", "b"))
      .groupBy($"r").agg(sum($"c" * $"cb").as("dot"))
      .agg(min($"dot").as("est"))
    val exact = corpusTokens(s, d).groupBy($"tok").agg(count(lit(1)).as("na"))
      .join(batchToks.groupBy($"tok").agg(count(lit(1)).as("nb")), "tok")
      .agg(coalesce(sum($"na" * $"nb"), lit(0L)).as("exact"))
    est.crossJoin(exact)
      .select($"est", $"exact", ($"est" >= $"exact").as("ok"))
  }
  val cmsJoinEstSql: String =
    s"""WITH toks AS (
       |  $toksSql),
       |btoks AS (
       |  SELECT tok FROM (
       |    SELECT unnest(string_split(lower(text), ' ')) AS tok
       |    FROM documents WHERE doc_id < 100)
       |  WHERE len(tok) > 0),
       |a AS (SELECT r, ${cmsBucketSql("r", "tok")} AS b, count(*) AS c
       |      FROM toks CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r)
       |      GROUP BY 1, 2),
       |bb AS (SELECT r, ${cmsBucketSql("r", "tok")} AS b, count(*) AS c
       |       FROM btoks CROSS JOIN (SELECT unnest(range(0, $CmsDepth)) AS r)
       |       GROUP BY 1, 2),
       |dots AS (SELECT a.r, sum(a.c * bb.c) AS dot
       |         FROM a JOIN bb ON a.r = bb.r AND a.b = bb.b GROUP BY a.r),
       |est AS (SELECT CAST(min(dot) AS BIGINT) AS est FROM dots),
       |ex AS (
       |  SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS exact
       |  FROM (SELECT tok, count(*) AS na FROM toks GROUP BY tok) ca
       |  JOIN (SELECT tok, count(*) AS nb FROM btoks GROUP BY tok) cb USING (tok))
       |SELECT est, exact, est >= exact AS ok FROM est, ex""".stripMargin

  // ------------------------------------------- KMV / theta distinct sketch

  /** K-minimum-values distinct sketch (Bar-Yossef et al. 2002; the
    * mechanism inside Theta sketches): hash every key to a uniform 48-bit
    * integer, keep the k smallest DISTINCT hash values; with u_k the k-th
    * smallest, est = (k−1)·2⁴⁸/u_k, and a sketch holding fewer than k
    * values IS the exact count. What KMV adds over HLL is SET ALGEBRA
    * BEYOND UNION: the k smallest of A∪B are computable from the two
    * sketches alone, and tagging each surviving hash with membership
    * gives the intersection estimate |K∩A∩B|/k · est(A∪B) — the
    * "users who did BOTH" question HLL registers cannot answer.
    *
    * Exactness discipline: hashes stay in BIGINT domain end-to-end (48
    * bits of md5 — conv here, '0x' cast in DuckDB); (k−1)·2⁴⁸ = 63·2⁴⁸ <
    * 2⁵⁴ is float-exact, so est is ONE double division, quantized 4 dp.
    *
    * Scale shape: the per-type sketch is a distinct-hash aggregation
    * (map-side combined) followed by a per-type top-k — at scale the
    * top-k rides the same partial-aggregation path (per-partition k
    * smallest, merged), so the full hash set never concentrates; the
    * finished sketch is k longs per group, broadcastable, and unions
    * across corpus shards by "merge + keep k smallest" exactly like
    * [[cmsMerge]] sums counters.
    */
  private val KmvK = 128
  private val KmvDomain = 281474976710656L // 2^48

  private def kmvHash(key: org.apache.spark.sql.Column) =
    conv(substring(md5(concat(lit("kmv:"), key.cast("string"))), 1, 12), 16, 10)
      .cast("long")
  private def kmvHashSql(keyExpr: String): String =
    s"CAST('0x' || substr(md5('kmv:' || $keyExpr), 1, 12) AS BIGINT)"

  /** The sketched key is the ACTIVE USER-DAY (user_id:calendar-day) — the
    * DAU-accounting unit whose per-type sets genuinely differ (every user
    * eventually touches every event type in the synthetic stream, but not
    * on every day), so union vs intersection is a real distinction.
    * Schema-adaptive ts decode per TimeSeries.dailyIdx.
    */
  private def userDayKey(ev: DataFrame) = {
    val day = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        to_date(timestamp_micros(expr("ts div 1000")))
      case _ => to_date(col("ts"))
    }
    concat(col("user_id").cast("string"), lit(":"), day.cast("string"))
  }
  private val userDayKeySql = "user_id || ':' || CAST(CAST(ts AS DATE) AS VARCHAR)"

  /** sk_kmv_est — per-event-type distinct active-user-day estimate from
    * the KMV sketch vs the exact count, with a ±40 % bound surfaced as
    * `ok` (≈4.5σ at k=128: the gate asserts the estimator is sane,
    * sk_kmv_merge asserts the sketch algebra).
    *
    * Bound history (r10 advice asked for the evidence to be recorded):
    * r10 widened this to ±50 % without recording the observed error that
    * motivated it, weakening the gate's power. Measured on the current
    * corpora (DuckDB oracle, all SFs), the worst per-type error is
    * +17.8 % (purchase @ sf0.01; sf0.001 ≤ 3.6 %, sf0.1 ≤ 15.9 %), so
    * r11 restores the r9 ±40 % with >2× measured headroom. σ ≈ 1/√(k−2)
    * ≈ 8.9 % at k=128 — a future corpus draw past 40 % is a ≥4.5σ event
    * and should be investigated as an estimator bug, not re-widened.
    */
  val kmvEst: Q = (s, d) => {
    import s.implicits._
    val ev = tbl(s, d, "events")
    val hashes = ev.select($"event_type", kmvHash(userDayKey(ev)).as("h")).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"event_type").orderBy($"h")
    val sk = hashes.withColumn("rk", row_number().over(w))
      .where($"rk" <= KmvK)
      .groupBy($"event_type").agg(
        count(lit(1)).as("m"),
        max(when($"rk" === KmvK, $"h")).as("uk"))
    val exact = ev.groupBy($"event_type")
      .agg(countDistinct(userDayKey(ev)).as("exact_n"))
    exact.join(sk, Seq("event_type"))
      .withColumn("est", round(
        when($"m" < KmvK, $"m".cast("double"))
          .otherwise(lit((KmvK - 1).toDouble * KmvDomain) / $"uk".cast("double")), 4))
      .select($"event_type", $"exact_n", $"est",
        (abs($"est" - $"exact_n") <= $"exact_n" * 0.4).as("ok"))
      .orderBy($"event_type")
  }
  val kmvEstSql: String =
    s"""WITH hs AS (
       |  SELECT DISTINCT event_type, ${kmvHashSql(s"($userDayKeySql)")} AS h FROM events),
       |rk AS (
       |  SELECT event_type, h,
       |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
       |  FROM hs),
       |sk AS (
       |  SELECT event_type, count(*) AS m,
       |         max(CASE WHEN rk = $KmvK THEN h END) AS uk
       |  FROM rk WHERE rk <= $KmvK GROUP BY event_type),
       |ex AS (
       |  SELECT event_type, count(DISTINCT $userDayKeySql) AS exact_n
       |  FROM events GROUP BY event_type)
       |SELECT event_type, exact_n,
       |       round(CASE WHEN m < $KmvK THEN CAST(m AS DOUBLE)
       |                  ELSE ${(KmvK - 1).toDouble * KmvDomain} / CAST(uk AS DOUBLE) END, 4)
       |         AS est,
       |       abs(round(CASE WHEN m < $KmvK THEN CAST(m AS DOUBLE)
       |                  ELSE ${(KmvK - 1).toDouble * KmvDomain} / CAST(uk AS DOUBLE) END, 4)
       |           - exact_n) <= exact_n * 0.4 AS ok
       |FROM ex JOIN sk USING (event_type)
       |ORDER BY event_type""".stripMargin

  /** sk_kmv_setops — the set-algebra payoff: estimate |viewed-days ∪
    * purchased-days| and their INTERSECTION (user-days with both a view
    * and a purchase — the same-day conversion set) from the KMV sketches
    * alone. The union sketch is the k smallest distinct hashes across
    * both sets; each carries (in_view, in_purchase) membership, so the
    * intersection estimate is ρ·est_union with ρ = fraction of the union
    * sketch in both. Both emit exact, est, and a bound check (union at
    * ±50 %, intersection ±60 % — ρ adds binomial noise on top of u_k's).
    */
  val kmvSetops: Q = (s, d) => {
    import s.implicits._
    val ev = tbl(s, d, "events").where($"event_type".isin("view", "purchase"))
    val flags = ev
      .select(kmvHash(userDayKey(ev)).as("h"), $"event_type")
      .groupBy($"h").agg(
        max(when($"event_type" === "view", 1).otherwise(0)).as("in_a"),
        max(when($"event_type" === "purchase", 1).otherwise(0)).as("in_b"))
    val w = org.apache.spark.sql.expressions.Window.orderBy($"h")
    val sk = flags.withColumn("rk", row_number().over(w))
      .where($"rk" <= KmvK)
      .agg(count(lit(1)).as("m"),
        max(when($"rk" === KmvK, $"h")).as("uk"),
        sum($"in_a" * $"in_b").as("rho_n"))
    val exact = ev.groupBy(userDayKey(ev).as("ud")).agg(
        max(when($"event_type" === "view", 1).otherwise(0)).as("a"),
        max(when($"event_type" === "purchase", 1).otherwise(0)).as("b"))
      .agg(count(lit(1)).as("exact_union"),
        sum($"a" * $"b").as("exact_inter"))
    exact.crossJoin(sk)
      .withColumn("est_union", round(
        when($"m" < KmvK, $"m".cast("double"))
          .otherwise(lit((KmvK - 1).toDouble * KmvDomain) / $"uk".cast("double")), 4))
      .withColumn("est_inter", round(
        $"rho_n".cast("double") / $"m" *
          when($"m" < KmvK, $"m".cast("double"))
            .otherwise(lit((KmvK - 1).toDouble * KmvDomain) / $"uk".cast("double")), 4))
      .select(
        $"exact_union", $"est_union",
        (abs($"est_union" - $"exact_union") <= $"exact_union" * 0.5).as("ok_union"),
        $"exact_inter", $"est_inter",
        (abs($"est_inter" - $"exact_inter") <= $"exact_inter" * 0.6).as("ok_inter"))
  }
  val kmvSetopsSql: String =
    s"""WITH ev AS (SELECT $userDayKeySql AS ud, event_type FROM events
       |            WHERE event_type IN ('view', 'purchase')),
       |flags AS (
       |  SELECT ${kmvHashSql("ud")} AS h,
       |         max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS in_a,
       |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
       |  FROM ev GROUP BY 1),
       |rk AS (SELECT h, in_a, in_b, row_number() OVER (ORDER BY h) AS rk FROM flags),
       |sk AS (SELECT count(*) AS m, max(CASE WHEN rk = $KmvK THEN h END) AS uk,
       |              sum(in_a * in_b) AS rho_n
       |       FROM rk WHERE rk <= $KmvK),
       |ue AS (SELECT CASE WHEN m < $KmvK THEN CAST(m AS DOUBLE)
       |                   ELSE ${(KmvK - 1).toDouble * KmvDomain} / CAST(uk AS DOUBLE) END AS eu,
       |              m, rho_n FROM sk),
       |ex AS (
       |  SELECT count(*) AS exact_union,
       |         CAST(sum(a * b) AS BIGINT) AS exact_inter
       |  FROM (SELECT ud,
       |               max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS a,
       |               max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
       |        FROM ev GROUP BY ud))
       |SELECT exact_union, round(eu, 4) AS est_union,
       |       abs(round(eu, 4) - exact_union) <= exact_union * 0.5 AS ok_union,
       |       exact_inter, round(CAST(rho_n AS DOUBLE) / m * eu, 4) AS est_inter,
       |       abs(round(CAST(rho_n AS DOUBLE) / m * eu, 4) - exact_inter)
       |         <= exact_inter * 0.6 AS ok_inter
       |FROM ex, ue""".stripMargin

  val queries: Map[String, Q] = Map(
    "sk_hll_bound"      -> hllBound,
    "sk_quantile_bound" -> quantileBound,
    "sk_cms_table"      -> cmsTable,
    "sk_cms_heavy"      -> cmsHeavy,
    "sk_hll_regs"       -> hllRegs,
    "sk_hll_est"        -> hllEst,
    "sk_cms_join"       -> cmsJoinEst,
    "sk_kmv_est"        -> kmvEst,
    "sk_kmv_setops"     -> kmvSetops,
  )

  val oracles: Map[String, String] = Map(
    "sk_hll_bound"      -> hllBoundSql,
    "sk_quantile_bound" -> quantileBoundSql,
    "sk_cms_table"      -> cmsTableSql,
    "sk_cms_heavy"      -> cmsHeavySql,
    "sk_hll_regs"       -> hllRegsSql,
    "sk_hll_est"        -> hllEstSql,
    "sk_cms_join"       -> cmsJoinEstSql,
    "sk_kmv_est"        -> kmvEstSql,
    "sk_kmv_setops"     -> kmvSetopsSql,
  )
}
