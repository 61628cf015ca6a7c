package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pins
import graft.Tables.{t => tbl}

/** PII detection and redaction — a first-class stage in any training-data
  * pipeline (scrub emails / phone numbers / IP addresses before the corpus
  * reaches a trainer or an eval set).
  *
  * Everything here is per-row regex work (`regexp_count`/`regexp_replace`)
  * that stays inside whole-stage codegen: at 100 TB these run at scan speed
  * with zero shuffle — the only shuffle in the gate query is its final
  * deterministic sort. Patterns are deliberately written in the common
  * Java-regex / RE2 subset so the same literal drives both Spark and the
  * DuckDB oracle.
  *
  * The driver's synthetic `documents` table contains no PII, so the gate
  * first plants deterministic PII derived from `doc_id` (same expression in
  * Spark and the oracle SQL) — the detection/redaction path is then
  * exercised on ~60% of rows, non-vacuously, and verified hash-exact.
  */
object Privacy {

  type Q = (SparkSession, String) => DataFrame

  /** Shared pattern literals (Java regex ∩ RE2 so Spark and DuckDB agree). */
  val EmailRe: String = """[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"""
  val PhoneRe: String = """\+1-\d{3}-\d{4}"""
  val Ipv4Re: String  = """\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"""

  /** Plant deterministic PII onto `text` keyed by doc_id (email on ×3,
    * phone on ×5, IPv4 on ×7). Mirrored verbatim by [[plantedSqlExpr]].
    */
  def plantPii(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    docs.withColumn("text",
      concat(col("text"),
        when(id % 3 === 0,
          concat(lit(" mail user"), id.cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(id % 5 === 0,
          concat(lit(" tel +1-555-"), lpad((id % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(id % 7 === 0,
          concat(lit(" host 10.0."), (id % 256).cast("string"), lit("."),
            (id % 100).cast("string")))
          .otherwise(lit(""))))
  }

  /** DuckDB expression producing byte-identical planted text. */
  val plantedSqlExpr: String =
    """text
      | || CASE WHEN doc_id % 3 = 0
      |         THEN ' mail user' || doc_id || '@example.com' ELSE '' END
      | || CASE WHEN doc_id % 5 = 0
      |         THEN ' tel +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
      | || CASE WHEN doc_id % 7 = 0
      |         THEN ' host 10.0.' || (doc_id % 256) || '.' || (doc_id % 100) ELSE '' END"""
      .stripMargin.replace("\n", "")

  /** Per-document PII hit counts — the "should this doc be quarantined"
    * signal. Pure narrow map, codegen'd.
    */
  def detect(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      regexp_count(col("text"), lit(EmailRe)).cast("long").as("n_email"),
      regexp_count(col("text"), lit(PhoneRe)).cast("long").as("n_phone"),
      regexp_count(col("text"), lit(Ipv4Re)).cast("long").as("n_ip"))

  /** Redact all three classes in one pass (email first — its domain part
    * would otherwise be half-eaten by the IPv4 rule on adversarial input).
    */
  def redact(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "[EMAIL]"),
        PhoneRe, "[PHONE]"),
      Ipv4Re, "[IP]")

  /** Gate: plant → detect → redact; verify counts plus an md5 of the
    * redacted text (proves byte-identical redaction, not just counts).
    */
  val piiScrub: Q = (s, d) => {
    val planted = plantPii(tbl(s, d, "documents"))
    detect(planted)
      .join(planted.select(col("doc_id"),
        md5(redact(col("text")).cast("binary")).as("redacted_md5"),
        length(redact(col("text"))).cast("long").as("redacted_len")), Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  val piiScrubSql: String = {
    // DuckDB regexp_replace needs the 'g' flag for replace-all (Spark's
    // default); regexp_extract_all + len mirrors regexp_count.
    s"""WITH p AS (SELECT doc_id, $plantedSqlExpr AS text FROM documents),
       |r AS (SELECT doc_id,
       |  regexp_replace(regexp_replace(regexp_replace(text,
       |    '$EmailRe', '[EMAIL]', 'g'),
       |    '$PhoneRe', '[PHONE]', 'g'),
       |    '$Ipv4Re', '[IP]', 'g') AS red, text FROM p)
       |SELECT doc_id,
       |  len(regexp_extract_all(text, '$EmailRe')) AS n_email,
       |  len(regexp_extract_all(text, '$PhoneRe')) AS n_phone,
       |  len(regexp_extract_all(text, '$Ipv4Re')) AS n_ip,
       |  md5(red) AS redacted_md5,
       |  len(red) AS redacted_len
       |FROM r ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------- k-anonymity

  /** pii_kanon — k-anonymity assessment with a two-level generalization
    * ladder (Mondrian-lite): documents grouped by the quasi-identifier
    * (lang, source, length bucket); equivalence classes smaller than k=5
    * are re-bucketed at 4× coarser length granularity; classes still
    * below k are suppressed outright. The release-readiness check a
    * privacy review runs before a corpus (or its metadata) leaves the
    * pipeline — re-identification risk lives in the SMALL classes, which
    * mean/median profiling never surfaces.
    *
    * Scale shape: rows are never enumerated — each ladder step is one
    * keyed aggregation, and the "which classes are too small" verdicts
    * travel back via a broadcast semi-join on the QI key (class tables
    * are O(distinct QI), orders of magnitude under the row count).
    * Deterministic ladder (fixed bucket widths, fixed k) keeps the
    * oracle an exact CTE mirror.
    */
  val kAnon: Q = (s, d) => {
    val k = 5
    val docs = tbl(s, d, "documents")
      .select(col("lang"), col("source"),
        expr("n_chars div 100").as("b0"), expr("n_chars div 400").as("b1"))
    // c0/c1 pinned (r18 batch 4): each equivalence-class grid feeds two
    // consumers (pass level + risky/suppressed overflow) — unpinned,
    // the documents scan + aggregation replicated per branch; both
    // grids are O(classes)
    val c0 = Pins(docs.groupBy(col("lang"), col("source"), col("b0"))
      .agg(count(lit(1)).as("n")))
    val level0 = c0.where(col("n") >= k)
      .select(lit(0L).as("level"), col("lang"), col("source"),
        concat(col("b0") * 100, lit("-"), col("b0") * 100 + 99).as("len_range"),
        col("n").as("class_size"))
    val risky = docs.join(
      broadcast(c0.where(col("n") < k).select(col("lang"), col("source"), col("b0"))),
      Seq("lang", "source", "b0"))
    val c1 = Pins(risky.groupBy(col("lang"), col("source"), col("b1"))
      .agg(count(lit(1)).as("n")))
    val level1 = c1.where(col("n") >= k)
      .select(lit(1L).as("level"), col("lang"), col("source"),
        concat(col("b1") * 400, lit("-"), col("b1") * 400 + 399).as("len_range"),
        col("n").as("class_size"))
    val suppressed = c1.where(col("n") < k)
      .agg(coalesce(sum(col("n")), lit(0L)).as("class_size"))
      .select(lit(2L).as("level"), lit("*").as("lang"), lit("*").as("source"),
        lit("*").as("len_range"), col("class_size"))
      .where(col("class_size") > 0)
    level0.unionByName(level1).unionByName(suppressed)
      .orderBy(col("level"), col("lang"), col("source"), col("len_range"))
  }
  val kAnonSql: String =
    """WITH docs AS (
      |  SELECT lang, source, n_chars // 100 AS b0, n_chars // 400 AS b1
      |  FROM documents),
      |c0 AS (SELECT lang, source, b0, count(*) AS n FROM docs GROUP BY 1, 2, 3),
      |level0 AS (
      |  SELECT CAST(0 AS BIGINT) AS level, lang, source,
      |         CAST(b0 * 100 AS VARCHAR) || '-' || CAST(b0 * 100 + 99 AS VARCHAR) AS len_range,
      |         n AS class_size
      |  FROM c0 WHERE n >= 5),
      |risky AS (
      |  SELECT d.* FROM docs d
      |  JOIN (SELECT lang, source, b0 FROM c0 WHERE n < 5) s
      |  USING (lang, source, b0)),
      |c1 AS (SELECT lang, source, b1, count(*) AS n FROM risky GROUP BY 1, 2, 3),
      |level1 AS (
      |  SELECT CAST(1 AS BIGINT) AS level, lang, source,
      |         CAST(b1 * 400 AS VARCHAR) || '-' || CAST(b1 * 400 + 399 AS VARCHAR) AS len_range,
      |         n AS class_size
      |  FROM c1 WHERE n >= 5),
      |suppressed AS (
      |  SELECT CAST(2 AS BIGINT) AS level, '*' AS lang, '*' AS source,
      |         '*' AS len_range, CAST(coalesce(sum(n), 0) AS BIGINT) AS class_size
      |  FROM c1 WHERE n < 5 HAVING coalesce(sum(n), 0) > 0)
      |SELECT * FROM level0 UNION ALL SELECT * FROM level1 UNION ALL SELECT * FROM suppressed
      |ORDER BY level, lang, source, len_range""".stripMargin

  // ----------------------------------------------- differential privacy

  /** pii_dp_counts — ε-differentially-private release of the event-type
    * histogram: exact bucket counts plus Laplace(Δf/ε) noise with ε = 1
    * and sensitivity Δf = 1 (one user event moves one bucket by one).
    * The third rung of the anonymization ladder after redaction
    * ([[piiScrub]]) and k-anonymity ([[kAnon]]): what a pipeline
    * publishes when even suppressed aggregates leak.
    *
    * The noise here is drawn by inverting the Laplace CDF at a
    * KEYED-HASH uniform — u from the first 6 md5 hex digits of the
    * bucket key (sp_weighted's integer-exact decode), then
    * noise = −b·sign(u−½)·ln(1−2|u−½|). A keyed hash makes the release
    * reproducible and lets the oracle mirror it bit-for-bit, which is
    * what the gate needs; the REQUIRED `noiseKey` argument makes the
    * secret-key contract explicit in the API — production callers MUST
    * pass a fresh secret per release (a key derivable from public
    * bucket names, like the gate's `"dp"`, is predictable, hence the
    * release is NOT formally private — same declared-stand-in
    * discipline as the Multimodal codec stub). There is no default, so
    * a caller cannot silently inherit the public demo key.
    * u ∈ [(0.5)/2²⁴, 1−(0.5)/2²⁴] keeps the ln
    * argument ≥ 2⁻²⁴, so the noise is finite by construction.
    *
    * Scale shape: one map-side-combined count over the stream, then
    * per-BUCKET scalar arithmetic — the noise work is O(buckets),
    * codegen'd, shuffle-free. Quantized to 4 dp (noise magnitudes are
    * O(1); the 6-dp-style grain argument of tx_entropy applies).
    */
  def dpCounts(noiseKey: String): Q = (s, d) => {
    val hvTerms = (1 to 6).map(i =>
      s"(instr('0123456789abcdef', substr(__h, $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}L")
      .mkString(" + ")
    tbl(s, d, "events")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .withColumn("__h", md5(concat(lit(noiseKey + ":"), col("event_type"))))
      .withColumn("__u", (expr(hvTerms) + 0.5) / 16777216.0)
      .withColumn("dp_n", round(
        col("n") + lit(-1.0) * signum(col("__u") - 0.5) *
          log(lit(1.0) - lit(2.0) * abs(col("__u") - 0.5)), 4))
      .select(col("event_type"), col("n"), col("dp_n"))
      .orderBy(col("event_type"))
  }
  val dpCountsSql: String = {
    val hv = (1 to 6).map(i =>
      s"(instr('0123456789abcdef', substr(md5('dp:' || event_type), $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}")
      .mkString(" + ")
    s"""WITH c AS (SELECT event_type, count(*) AS n FROM events GROUP BY event_type),
       |u AS (SELECT event_type, n, ($hv + 0.5) / 16777216.0 AS u FROM c)
       |SELECT event_type, n,
       |       round(n + (-1.0) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 4) AS dp_n
       |FROM u ORDER BY event_type""".stripMargin
  }

  // ------------------------------------------------------- ε-accounting

  /** pii_dp_ledger — privacy-budget accounting across a SEQUENCE of DP
    * releases over the same stream. One release is never the whole story:
    * a pipeline publishes the type histogram this week, the day-of-week
    * profile next week, the hourly load curve after that, and the privacy
    * loss COMPOSES. The ledger is the artifact a privacy review actually
    * audits: per release (ε, bucket count, a checksum certifying exactly
    * which noisy values left the building) and two running totals —
    *   - `eps_basic_total`: sequential composition, Σε (pure ε-DP;
    *     Laplace releases have δ = 0);
    *   - `eps_adv_total`: the heterogeneous advanced-composition bound
    *     (Dwork–Roth Thm 3.20), √(2·ln(1/δ′)·Σε²) + Σ ε·(e^ε − 1) at
    *     δ′ = 1e-6 (`adv_delta`) — tighter once many small-ε releases
    *     stack, and the number a reviewer compares against the org's
    *     total-budget policy.
    *
    * Scale shape: ONE scan of the stream — the three bucket keys are
    * melted via `stack` into (release, bucket) rows, so all histograms
    * share one map-side-combined aggregation; noise is O(total buckets)
    * scalar work; the ledger itself is 3 rows through a 1-partition
    * window (O(releases), never data-sized). The per-release checksum is
    * an md5 over the sorted "bucket:scaled-noisy-count" strings —
    * quantized to integers (×10⁴) so both engines hash identical bytes.
    *
    * Same keyed-hash Laplace stand-in as [[dpCounts]] (declared: the
    * gate's key is public, so the gate release is reproducible, not
    * formally private; production passes a fresh secret per release and
    * the ledger rows stay valid because composition depends only on ε).
    */
  def dpLedger(noiseKey: String): Q = (s, d) => {
    val hvTerms = (1 to 6).map(i =>
      s"(instr('0123456789abcdef', substr(__h, $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}L")
      .mkString(" + ")
    // __ts via the shared schema branch (Temporal.eventTs): events.ts is a
    // native timestamp in the driver's testdata but epoch-nanos LONG in
    // GenScale dirs and rounds-≤7 snapshots — weekday/hour on the raw
    // column is a type error there (sf10 probe, r14)
    val melted = tbl(s, d, "events")
      .withColumn("__ts", Temporal.eventTs(tbl(s, d, "events")))
      .select(
        expr("stack(3, 'a_type_hist', event_type, " +
          "'b_dow_hist', cast(weekday(__ts) + 1 as string), " +
          "'c_hour_hist', cast(hour(__ts) as string)) as (release, bucket)"))
    val eps = when(col("release") === "a_type_hist", 0.5)
      .when(col("release") === "b_dow_hist", 0.25)
      .otherwise(0.2)
    val noisy = melted.groupBy(col("release"), col("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__h", md5(concat(lit(noiseKey + ":"), col("release"),
        lit(":"), col("bucket"))))
      .withColumn("__u", (expr(hvTerms) + 0.5) / 16777216.0)
      .withColumn("dp_scaled",
        round((col("n") + lit(-1.0) / eps * signum(col("__u") - 0.5) *
          log(lit(1.0) - lit(2.0) * abs(col("__u") - 0.5))) * 10000.0)
          .cast("long"))
    val perRelease = noisy
      .withColumn("__s", concat(col("bucket"), lit(":"), col("dp_scaled").cast("string")))
      .groupBy(col("release"))
      .agg(max(eps).as("epsilon"),
        count(lit(1)).as("n_buckets"),
        md5(concat_ws("|", sort_array(collect_list(col("__s")))).cast("binary"))
          .as("release_md5"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("release"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    perRelease
      .withColumn("eps_basic_total", round(sum(col("epsilon")).over(w), 6))
      .withColumn("eps_adv_total", round(
        sqrt(lit(2.0) * log(lit(1000000.0)) *
          sum(col("epsilon") * col("epsilon")).over(w)) +
          sum(col("epsilon") * (exp(col("epsilon")) - 1.0)).over(w), 6))
      .withColumn("adv_delta", lit(1.0e-6))
      .select(col("release"), col("epsilon"), col("n_buckets"),
        col("release_md5"), col("eps_basic_total"), col("eps_adv_total"),
        col("adv_delta"))
      .orderBy(col("release"))
  }
  val dpLedgerSql: String = {
    def hv(h: String) = (1 to 6).map(i =>
      s"(instr('0123456789abcdef', substr($h, $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}")
      .mkString(" + ")
    s"""WITH melted AS (
       |  SELECT 'a_type_hist' AS release, event_type AS bucket FROM events
       |  UNION ALL
       |  SELECT 'b_dow_hist', CAST(isodow(ts) AS VARCHAR) FROM events
       |  UNION ALL
       |  SELECT 'c_hour_hist', CAST(hour(ts) AS VARCHAR) FROM events),
       |counts AS (
       |  SELECT release, bucket, count(*) AS n,
       |         CAST(CASE release WHEN 'a_type_hist' THEN 0.5
       |                           WHEN 'b_dow_hist' THEN 0.25
       |                           ELSE 0.2 END AS DOUBLE) AS eps,
       |         md5('ledger:' || release || ':' || bucket) AS h
       |  FROM melted GROUP BY 1, 2),
       |noisy AS (
       |  SELECT release, bucket, n, eps,
       |         (${hv("h")} + 0.5) / 16777216.0 AS u
       |  FROM counts),
       |scaled AS (
       |  SELECT release, eps,
       |         bucket || ':' || CAST(CAST(round(
       |           (n + (-1.0) / eps * sign(u - 0.5) *
       |            ln(1.0 - 2.0 * abs(u - 0.5))) * 10000.0) AS BIGINT) AS VARCHAR) AS s
       |  FROM noisy),
       |per_release AS (
       |  SELECT release, max(eps) AS epsilon, count(*) AS n_buckets,
       |         md5(string_agg(s, '|' ORDER BY s)) AS release_md5
       |  FROM scaled GROUP BY release)
       |SELECT release, epsilon, n_buckets, release_md5,
       |       round(sum(epsilon) OVER w, 6) AS eps_basic_total,
       |       round(sqrt(2.0 * ln(1000000.0) * sum(epsilon * epsilon) OVER w)
       |             + sum(epsilon * (exp(epsilon) - 1.0)) OVER w, 6) AS eps_adv_total,
       |       CAST(0.000001 AS DOUBLE) AS adv_delta
       |FROM per_release
       |WINDOW w AS (ORDER BY release ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       |ORDER BY release""".stripMargin
  }

  // ------------------------------------------- l-diversity / t-closeness

  /** pii_ldiversity — the attribute-disclosure check k-anonymity misses
    * (Machanavajjhala et al. 2007): a class can hold k rows yet leak the
    * SENSITIVE attribute if all k share one value. Per quasi-identifier
    * class (lang × 100-char length bucket, kAnon's level-0 grid) with
    * `source` as the sensitive attribute: class size, distinct-l, and
    * ENTROPY l-diversity exp(−Σ p·ln p) — the effective number of
    * sensitive values an attacker must still distinguish — with the
    * ok flag at distinct-l ≥ 3.
    *
    * Exactness: each −p·ln p term is quantized to 9 dp and summed as
    * DECIMAL (order-free, the Learn.nbScores discipline); the final exp
    * is one libm call on an identical input. Scale: one (class, source)
    * count — map-side combined, output O(classes × sources).
    */
  val lDiversity: Q = (s, d) => {
    val cells = tbl(s, d, "documents")
      .select(col("lang"), expr("n_chars div 100").as("b0"), col("source"))
      .groupBy(col("lang"), col("b0"), col("source")).agg(count(lit(1)).as("a"))
    val pc = cells.withColumn("n", sum(col("a")).over(
      org.apache.spark.sql.expressions.Window.partitionBy(col("lang"), col("b0"))))
    val p = col("a").cast("double") / col("n")
    val cls = pc.groupBy(col("lang"), col("b0")).agg(
      max(col("n")).as("n"),
      count(lit(1)).as("l_distinct"),
      sum(round(p * -log(p), 9).cast("decimal(18,9)")).as("h"))
    cls.select(col("lang"),
        concat(col("b0") * 100, lit("-"), col("b0") * 100 + 99).as("len_range"),
        col("n").as("class_size"), col("l_distinct"),
        round(exp(col("h").cast("double")), 6).as("entropy_l"),
        (col("l_distinct") >= 3).as("ok_l"))
      .orderBy(col("lang"), col("len_range"))
  }
  val lDiversitySql: String =
    """WITH cells AS (
      |  SELECT lang, n_chars // 100 AS b0, source, count(*) AS a
      |  FROM documents GROUP BY 1, 2, 3),
      |pc AS (
      |  SELECT lang, b0, source, a,
      |         sum(a) OVER (PARTITION BY lang, b0) AS n
      |  FROM cells),
      |cls AS (
      |  SELECT lang, b0, max(n) AS n, count(*) AS l_distinct,
      |         sum(CAST(round((CAST(a AS DOUBLE) / n) * -ln(CAST(a AS DOUBLE) / n), 9)
      |                  AS DECIMAL(18,9))) AS h
      |  FROM pc GROUP BY 1, 2)
      |SELECT lang,
      |       CAST(b0 * 100 AS VARCHAR) || '-' || CAST(b0 * 100 + 99 AS VARCHAR) AS len_range,
      |       CAST(n AS BIGINT) AS class_size, l_distinct,
      |       round(exp(CAST(h AS DOUBLE)), 6) AS entropy_l,
      |       l_distinct >= 3 AS ok_l
      |FROM cls ORDER BY lang, len_range""".stripMargin

  /** pii_tcloseness — the distribution-skew check l-diversity misses: a
    * class can be 3-diverse yet still reveal that its members are, say,
    * 90 % one source when the corpus is 20 %. Per QI class: the total-
    * variation distance ½·Σ_s |p_class(s) − p_corpus(s)| to the global
    * sensitive distribution, flagged at t ≤ 0.35.
    *
    * Exactness: TVD is computed as Σ|a·N − b·n| — EXACT BIGINT
    * numerators (a = class×source count, b = global source count) — with
    * the single division by 2·n·N deferred to the end; no float sum
    * anywhere. Absent (class, source) cells enter as |0 − b·n| via the
    * class × source cross join (sources are O(1) and broadcast).
    */
  val tCloseness: Q = (s, d) => {
    val docs = tbl(s, d, "documents")
      .select(col("lang"), expr("n_chars div 100").as("b0"), col("source"))
    // cells pinned (r18 batch 4): the O(grid) cell counts feed the class
    // totals AND the distance join — unpinned, two documents scans + aggs
    val cells = Pins(docs.groupBy(col("lang"), col("b0"), col("source"))
      .agg(count(lit(1)).as("a")))
    val cls = cells.groupBy(col("lang"), col("b0")).agg(sum(col("a")).as("n"))
    val glob = docs.groupBy(col("source")).agg(count(lit(1)).as("b"))
    val tot = glob.agg(sum(col("b")).as("nn"))
    cls.crossJoin(broadcast(glob))
      .join(cells, Seq("lang", "b0", "source"), "left")
      .crossJoin(broadcast(tot))
      .groupBy(col("lang"), col("b0"), col("n"), col("nn"))
      .agg(sum(abs(coalesce(col("a"), lit(0L)) * col("nn") - col("b") * col("n")))
        .as("num"))
      .select(col("lang"),
        concat(col("b0") * 100, lit("-"), col("b0") * 100 + 99).as("len_range"),
        col("n").as("class_size"),
        round(col("num").cast("double") / (lit(2.0) * col("n") * col("nn")), 6).as("tvd"),
        (col("num").cast("double") / (lit(2.0) * col("n") * col("nn")) <= 0.35).as("ok_t"))
      .orderBy(col("lang"), col("len_range"))
  }
  val tClosenessSql: String =
    """WITH docs AS (
      |  SELECT lang, n_chars // 100 AS b0, source FROM documents),
      |cells AS (SELECT lang, b0, source, count(*) AS a FROM docs GROUP BY 1, 2, 3),
      |cls AS (SELECT lang, b0, sum(a) AS n FROM cells GROUP BY 1, 2),
      |gsrc AS (SELECT source, count(*) AS b FROM docs GROUP BY 1),
      |tot AS (SELECT sum(b) AS nn FROM gsrc),
      |num AS (
      |  SELECT c.lang, c.b0, c.n,
      |         sum(abs(coalesce(ce.a, 0) * (SELECT nn FROM tot) - g.b * c.n)) AS num
      |  FROM cls c CROSS JOIN gsrc g
      |  LEFT JOIN cells ce ON ce.lang = c.lang AND ce.b0 = c.b0 AND ce.source = g.source
      |  GROUP BY 1, 2, 3)
      |SELECT lang,
      |       CAST(b0 * 100 AS VARCHAR) || '-' || CAST(b0 * 100 + 99 AS VARCHAR) AS len_range,
      |       CAST(n AS BIGINT) AS class_size,
      |       round(CAST(num AS DOUBLE) / (2.0 * n * (SELECT nn FROM tot)), 6) AS tvd,
      |       CAST(num AS DOUBLE) / (2.0 * n * (SELECT nn FROM tot)) <= 0.35 AS ok_t
      |FROM num ORDER BY lang, len_range""".stripMargin

  // ---------------------------------------------- keyed pseudonymization

  /** pii_pseudo — deterministic keyed pseudonymization with a referential-
    * integrity proof: customer keys map to md5(key‖id) pseudonyms in BOTH
    * the customer and orders tables, and the per-segment order counts are
    * computed ENTIRELY in pseudonym space — identical to the raw-key
    * counts because a keyed hash is consistent across tables (the
    * property that lets an analytics replica run on pseudonymized data at
    * all). The gate also emits the injectivity check (distinct pseudonyms
    * = distinct customers; a collision would silently merge histories).
    *
    * Like dpCounts, the REQUIRED `pseudoKey` makes the secret-key
    * contract explicit — the gate's key is public and disclosed; a
    * production caller supplies a vault key, or swaps md5 for
    * HMAC-SHA256 with the identical plan (re-identification resistance
    * then rests on the key, which is the design point of
    * pseudonymization as GDPR Art. 4(5) defines it).
    */
  def pseudonymize(pseudoKey: String): Q = (s, d) => {
    def pseudo(c: org.apache.spark.sql.Column) =
      md5(concat(lit(pseudoKey + ":"), c.cast("string")))
    val cust = tbl(s, d, "customer")
      .select(pseudo(col("c_custkey")).as("pid"), col("c_mktsegment"))
    val ords = tbl(s, d, "orders")
      .select(pseudo(col("o_custkey")).as("pid"))
    val inj = cust.agg(count(lit(1)).as("n_customers"),
      countDistinct(col("pid")).as("n_pseudonyms"))
    cust.join(ords, "pid")
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"))
      .crossJoin(broadcast(inj))
      .select(col("c_mktsegment"), col("n_orders"),
        col("n_customers"), col("n_pseudonyms"),
        (col("n_customers") === col("n_pseudonyms")).as("injective"))
      .orderBy(col("c_mktsegment"))
  }
  val pseudonymizeSql: String =
    """WITH cust AS (
      |  SELECT md5('pseudo:' || CAST(c_custkey AS VARCHAR)) AS pid, c_mktsegment
      |  FROM customer),
      |ords AS (
      |  SELECT md5('pseudo:' || CAST(o_custkey AS VARCHAR)) AS pid FROM orders),
      |inj AS (SELECT count(*) AS n_customers,
      |               count(DISTINCT pid) AS n_pseudonyms FROM cust)
      |SELECT c.c_mktsegment, count(*) AS n_orders,
      |       inj.n_customers, inj.n_pseudonyms,
      |       inj.n_customers = inj.n_pseudonyms AS injective
      |FROM cust c JOIN ords o USING (pid), inj
      |GROUP BY c.c_mktsegment, inj.n_customers, inj.n_pseudonyms
      |ORDER BY c_mktsegment""".stripMargin

  val queries: Map[String, Q] = Map(
    "pii_pseudo"    -> pseudonymize(pseudoKey = "pseudo"), // PUBLIC demo key, disclosed
    "pii_scrub"     -> piiScrub,
    "pii_kanon"     -> kAnon,
    "pii_ldiv"      -> lDiversity,
    "pii_tclose"    -> tCloseness,
    "pii_dp_counts" -> dpCounts(noiseKey = "dp"), // gate: PUBLIC demo key, disclosed non-private
    "pii_dp_ledger" -> dpLedger(noiseKey = "ledger"),
  )

  val oracles: Map[String, String] = Map(
    "pii_pseudo"    -> pseudonymizeSql,
    "pii_scrub"     -> piiScrubSql,
    "pii_kanon"     -> kAnonSql,
    "pii_ldiv"      -> lDiversitySql,
    "pii_tclose"    -> tClosenessSql,
    "pii_dp_counts" -> dpCountsSql,
    "pii_dp_ledger" -> dpLedgerSql,
  )
}
