package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.{t => tbl}

/** Temporal/ordered operators the reference's event-stream model implies but
  * Spark lacks as builtins: sessionization, as-of join, range join.
  *
  * All three are composed from existing Spark operators (SURVEY.md §2
  * preference order (a)): one shuffle each, no custom physical plan needed.
  * The events table orders by a monotone `event_id` (reference sorts on
  * `(blockNumber, logIndex)` — `src/app/events/actions.ts:45`); these
  * operators key their windows on the partition column so no global sort
  * or single-partition window appears at any scale.
  */
object Temporal {

  type Q = (SparkSession, String) => DataFrame

  // ------------------------------------------------------------ sessionize

  /** Gap-based sessionization: a new session starts when the gap between
    * consecutive `ordCol` values within a `partCol` group exceeds `gap`.
    * Returns the input plus a `session_id` column (0-based per group).
    * One shuffle (window partitioned by `partCol`); the classic
    * lag→break→running-sum composition, fully codegen'd.
    */
  /** Fail fast when an input already carries a working/output column a
    * generic operator is about to overwrite — withColumn would silently
    * replace it and corrupt downstream logic (e.g. re-sessionizing a
    * frame that still has session_id).
    */
  private def requireFreshCols(df: DataFrame, names: Seq[String], op: String): Unit = {
    val clash = names.filter(df.columns.contains)
    require(clash.isEmpty,
      s"$op would overwrite existing column(s) ${clash.mkString(", ")}; rename them first")
  }

  def sessionize(df: DataFrame, partCol: String, ordCol: String, gap: Long): DataFrame = {
    requireFreshCols(df, Seq("__brk", "session_id"), "sessionize")
    val w = Window.partitionBy(col(partCol)).orderBy(col(ordCol))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__brk",
        when(col(ordCol) - lag(col(ordCol), 1).over(w) > gap, 1).otherwise(0))
      .withColumn("session_id", sum(col("__brk")).over(run))
      .drop("__brk")
  }

  /** w3 — per-user session stats over the events table: gap of 300 in
    * event_id space splits sessions; report sessions per user and the
    * largest session size.
    */
  val w3Sessionize: Q = (s, d) => {
    import s.implicits._
    sessionize(tbl(s, d, "events"), "user_id", "event_id", 300L)
      .groupBy($"user_id", $"session_id").agg(count(lit(1)).as("cnt"))
      .groupBy($"user_id").agg(
        count(lit(1)).as("n_sessions"),
        max($"cnt").as("longest"))
      .orderBy($"user_id")
  }
  val w3SessionizeSql: String =
    """WITH s AS (
      |  SELECT user_id, event_id,
      |         CASE WHEN event_id - lag(event_id) OVER (PARTITION BY user_id ORDER BY event_id) > 300
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |sess AS (
      |  SELECT user_id, event_id,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM s)
      |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
      |       CAST(max(cnt) AS BIGINT) AS longest
      |FROM (SELECT user_id, sid, count(*) AS cnt FROM sess GROUP BY user_id, sid) g
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // -------------------------------------------------------------- as-of join

  /** As-of join (pandas merge_asof / DuckDB ASOF JOIN semantics): for each
    * probe row, the build row with the greatest `ordCol` ≤ the probe's,
    * within the same `partCols` group. Probe columns pass through; build's
    * `ordCol` and value columns come back as `asof_<name>` (null when no
    * build row precedes the probe).
    *
    * Implementation: union-tag + running `last(ignoreNulls)` — ONE shuffle
    * keyed by `partCols`, instead of the naive inequality join (which Spark
    * can only execute as a broadcast-nested-loop or a sort-merge with a
    * per-key scan). Build rows sort before probe rows at equal `ordCol`
    * (tag 0 < 1), giving the ≤ bound. Build columns travel inside ONE
    * struct so all asof_ values come from the same build row even when
    * some of its columns are null.
    */
  def asofJoin(probe: DataFrame, build: DataFrame,
               partCols: Seq[String], ordCol: String): DataFrame = {
    requireFreshCols(probe, Seq("__asof", "__tag"), "asofJoin")
    requireFreshCols(build, Seq("__asof", "__tag"), "asofJoin")
    val asofSrc = ordCol +: build.columns.filterNot(c =>
      partCols.contains(c) || c == ordCol).toSeq
    val probeExtra = probe.columns.filterNot(c =>
      partCols.contains(c) || c == ordCol).toSeq
    val common = partCols :+ ordCol
    // a NULL ordCol build row is not "≤" any probe (merge_asof/ASOF
    // semantics): null the whole packed struct so the running last()
    // skips it — NULLS FIRST ordering would otherwise make it the match
    // of record for every probe with no real predecessor
    val packed = when(build.col(ordCol).isNotNull,
      struct(asofSrc.map(c => build.col(c).as(c)): _*))
    val bSide = build.select(
      common.map(build.col) ++
        probeExtra.map(c => lit(null).cast(probe.schema(c).dataType).as(c)) :+
        packed.as("__asof") :+ lit(0).as("__tag"): _*)
    val pSide = probe.select(
      common.map(probe.col) ++ probeExtra.map(probe.col) :+
        lit(null).cast(bSide.schema("__asof").dataType).as("__asof") :+
        lit(1).as("__tag"): _*)
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col(ordCol), col("__tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = bSide.unionByName(pSide)
      .withColumn("__asof", last(col("__asof"), ignoreNulls = true).over(w))
      .where(col("__tag") === 1)
    val out = (common ++ probeExtra).map(col) ++
      asofSrc.map(c => col(s"__asof.$c").as(s"asof_$c"))
    filled.select(out: _*)
  }

  /** aj — for each click event (bounded probe set), the latest view event
    * of the same user at or before it.
    */
  val ajAsof: Q = (s, d) => {
    import s.implicits._
    val events = tbl(s, d, "events")
    val probe = events.where($"event_type" === "click" && $"user_id" < 30)
      .select($"user_id", $"event_id")
    val build = events.where($"event_type" === "view")
      .select($"user_id", $"event_id", $"value")
    asofJoin(probe, build, Seq("user_id"), "event_id")
      .select($"event_id", $"user_id",
        $"asof_event_id".as("view_event_id"), $"asof_value".as("view_value"))
      .orderBy($"event_id")
  }
  val ajAsofSql: String =
    """SELECT c.event_id, c.user_id, v.event_id AS view_event_id, v.value AS view_value
      |FROM (SELECT * FROM events WHERE event_type = 'click' AND user_id < 30) c
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON c.user_id = v.user_id AND v.event_id <= c.event_id
      |ORDER BY c.event_id""".stripMargin

  // ------------------------------------------------------------- range join

  /** Binned range join: facts matched to half-open ranges [lo, hi) by
    * expanding each range into the fixed-width bins it covers and
    * equi-joining on the fact's bin — turning an inequality join (which
    * Spark executes as broadcast-nested-loop) into a hash join. A fact
    * lands in exactly one bin, so no post-join dedup is needed. `binSize`
    * should be ≥ the typical range width (each range then expands to
    * O(1) bins).
    */
  def binnedRangeJoin(facts: DataFrame, factCol: String,
                      ranges: DataFrame, loCol: String, hiCol: String,
                      binSize: Double): DataFrame = {
    require(binSize > 0, "binSize must be positive")
    requireFreshCols(facts, Seq("__bin"), "binnedRangeJoin")
    requireFreshCols(ranges, Seq("__bin"), "binnedRangeJoin")
    // power-of-two grid: the bin division is then EXACT in doubles, so a
    // range's bin span can never round short and strand a fact at the hi
    // edge (same argument as BandJoinBucketRule.pow2ceil; binSize is a
    // performance knob, so widening it ≤2× only coarsens the grid).
    // The hi end expands to floor(hi/bin) VERBATIM — no exclusive-bound
    // epsilon: when hi sits exactly on a bin boundary the one extra
    // candidate bin is emptied by the residual `fact < hi`, whereas an
    // epsilon subtraction could round the span SHORT and silently drop
    // facts within ε below hi.
    val bin = graft.plans.BandJoinBucketRule.pow2ceil(binSize)
    val expanded = ranges.withColumn("__bin",
      explode(sequence(floor(col(loCol) / bin).cast("long"),
        floor(col(hiCol) / bin).cast("long"))))
    facts.withColumn("__bin", floor(col(factCol) / bin).cast("long"))
      .join(expanded, Seq("__bin"))
      .where(col(factCol) >= col(loCol) && col(factCol) < col(hiCol))
      .drop("__bin")
  }

  /** rj — events bucketed into fixed value bands via the binned range join
    * (bands broadcast: tiny build side → BroadcastHashJoin on __bin).
    */
  val rjRange: Q = (s, d) => {
    import s.implicits._
    val bands = s.createDataFrame((0 until 10).map(i => (i, i * 50.0, (i + 1) * 50.0)))
      .toDF("band_id", "lo", "hi")
    binnedRangeJoin(tbl(s, d, "events"), "value", broadcast(bands), "lo", "hi", 50.0)
      .groupBy($"band_id").agg(
        count(lit(1)).as("n"),
        sum(floor($"value").cast("long")).as("sum_floor"))
      .orderBy($"band_id")
  }
  val rjRangeSql: String =
    """WITH bands(band_id, lo, hi) AS (VALUES (0,0.0,50.0),(1,50.0,100.0),(2,100.0,150.0),
      |  (3,150.0,200.0),(4,200.0,250.0),(5,250.0,300.0),(6,300.0,350.0),(7,350.0,400.0),
      |  (8,400.0,450.0),(9,450.0,500.0))
      |SELECT band_id, CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(CAST(floor(value) AS BIGINT)) AS BIGINT) AS sum_floor
      |FROM events JOIN bands ON value >= lo AND value < hi
      |GROUP BY band_id ORDER BY band_id""".stripMargin

  // -------------------------------------------------------------- band join

  /** Band join: pairs within `width` of each other on a numeric column —
    * `|left.x − right.y| ≤ width` — plus optional equi-keys. The classic
    * "similar price / similar timestamp" join that naively plans as a
    * broadcast-nested-loop O(n·m) scan. Bucketing makes it a hash join:
    * each side keys on floor(x/width); the RIGHT side expands to its
    * bucket ±1 (any y within `width` of x lands in one of those three),
    * so the equi-join on (keys…, bucket) covers every qualifying pair
    * exactly once (left rows carry ONE bucket — no dedup needed) and the
    * residual |x−y| ≤ width filter drops the over-approximation.
    *
    * Scale shape: shuffle on (keys…, bucket) — both sides co-partition;
    * per-bucket row counts are value-density-bounded, so the expansion
    * factor is a flat 3× on the build side, never O(n·m). Pick `width`
    * at the band you actually need: the bucket grid IS the candidate
    * blocking, exactly like dd_lsh's bands or geo_radius_join's cells.
    */
  def bandJoin(left: DataFrame, leftCol: String, right: DataFrame,
               rightCol: String, width: Double,
               keys: Seq[String] = Nil): DataFrame = {
    require(width > 0, "width must be positive")
    requireFreshCols(left, Seq("__bucket"), "bandJoin")
    requireFreshCols(right, Seq("__bucket"), "bandJoin")
    // bucket on the next power of two ≥ width: the division is then EXACT
    // in doubles, making the ±1 candidate radius rigorous at any operand
    // magnitude (see BandJoinBucketRule.pow2ceil; the residual predicate
    // below still uses the true width, so results are identical)
    val w2 = graft.plans.BandJoinBucketRule.pow2ceil(width)
    val l = left.withColumn("__bucket", floor(col(leftCol) / w2).cast("long"))
    // Column API, not an interpolated expr string: a rightCol needing
    // quoting (space, dot, reserved word) must not break the parse
    val rBucket = floor(col(rightCol) / w2).cast("long")
    val r = right
      .withColumn("__bucket", explode(sequence(rBucket - 1L, rBucket + 1L)))
    l.join(r, keys :+ "__bucket")
      .where(abs(col(leftCol) - col(rightCol)) <= width)
      .drop("__bucket")
  }

  /** rj_band — same-nation (customer, supplier) pairs with account
    * balances within 250.0 of each other, via the bucketed band join
    * (hash join on (nation, bucket) instead of a nested-loop theta join).
    */
  val rjBand: Q = (s, d) => {
    import s.implicits._
    // Probe repartition: same rationale as rjBandKnn below — the ~4-split
    // customer scan otherwise runs the whole candidate expansion on 4 of
    // 32 threads (sf10: 12.3 → ~4 s).
    val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val cust = tbl(s, d, "customer")
      .select($"c_nationkey".as("nationkey"), $"c_custkey", $"c_acctbal")
      .repartition(parts)
    val supp = tbl(s, d, "supplier")
      .select($"s_nationkey".as("nationkey"), $"s_suppkey", $"s_acctbal")
    bandJoin(cust, "c_acctbal", supp, "s_acctbal", 250.0, Seq("nationkey"))
      .select($"nationkey", $"c_custkey", $"s_suppkey",
        round($"c_acctbal" - $"s_acctbal", 2).as("bal_diff"))
      .orderBy($"nationkey", $"c_custkey", $"s_suppkey")
  }

  /** Per-probe cap for [[rjBandKnn]] — part of the operator's contract
    * (the oracle applies the same k), not a tuning knob.
    */
  val RjBandK = 4

  /** rj_band_knn — the k-BOUNDED band join: geo_radius_knn's discipline
    * applied on the value axis. [[rjBand]] is OUTPUT-quadratic in
    * per-nation value density (sf10: 13.3 s, ~50×/decade — the r18
    * battery's steepest row, all of it answer rows), but real consumers
    * ("the most similar counterparties within tolerance") want at most
    * k per probe. Same bucketed band-join candidate generation, then
    * each customer keeps its k = 4 same-nation suppliers with the
    * closest balance via [[graft.functions.topk.min_k_pairs]] — the
    * TypedImperativeAggregate whose MAP-SIDE partials reduce every scan
    * partition's candidates to ≤k before the exchange, so shuffled
    * bytes stay O(k·probes·partitions) at any band density.
    *
    * The ranking score is the ROUNDED |balance diff| (2 dp — exact in
    * doubles at this magnitude, and [[rjBand]]'s hash-green round proves
    * the two engines round these exact values identically, so rank
    * order is identical too); ties break by s_suppkey via the
    * aggregate's (score, id) ordering, matching the oracle's
    * `ORDER BY adiff, s_suppkey`. Oracle: the unbucketed theta join +
    * row_number ≤ k — both the bucketing and the bounded top-k
    * machinery are hash-proven.
    */
  val rjBandKnn: Q = (s, d) => {
    import s.implicits._
    // Repartition the dim-sized probe BEFORE the band join (the geo
    // radius lesson, same defect class): a ~4-split probe scan leaves
    // the partial min_k_pairs with ~375k groups per task at sf10 —
    // past the objectHashAggregate fallback threshold, so the partial
    // silently degraded to SORT-based aggregation, sorting and
    // SPILLING the full candidate stream per task (thread-dump
    // evidence: SortBasedAggregator + UnsafeSorterSpillWriter; 82.8 s
    // vs rj_band's 12.3 s at sf10). 32-way, groups/task ≈ 47k keeps
    // the hash path; at 100 TB the probe has natural splits and the
    // shuffle is a no-op to drop.
    val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
    val cust = tbl(s, d, "customer")
      .select($"c_nationkey".as("nationkey"), $"c_custkey", $"c_acctbal")
      .repartition(parts)
    val supp = tbl(s, d, "supplier")
      .select($"s_nationkey".as("nationkey"), $"s_suppkey", $"s_acctbal")
    bandJoin(cust, "c_acctbal", supp, "s_acctbal", 250.0, Seq("nationkey"))
      // Rank by exact integer CENTS, not round(x, 2): Spark's round on a
      // double routes through BigDecimal.valueOf(Double.toString(x)) —
      // ~1 µs + allocations PER CANDIDATE (the r17 geo lesson; the
      // FloatingDecimal frames showed up in this gate's sf10 thread
      // dumps too). The balances are 2-dp decimals, so |diff|·100 is
      // within ~1e-9 of an integer n and floor(+0.5) recovers n exactly;
      // n ↦ n/100.0 is the same double round(x, 2) produces (both are
      // nearest-double of the 2-dp decimal), so ranking AND output are
      // unchanged — the brute-force spec and the DuckDB oracle prove it.
      .withColumn("cents",
        floor(abs($"c_acctbal" - $"s_acctbal") * 100.0 + 0.5).cast("double"))
      .groupBy($"nationkey", $"c_custkey")
      .agg(graft.functions.topk.min_k_pairs($"cents", $"s_suppkey", RjBandK).as("nn"))
      .select($"nationkey", $"c_custkey", posexplode($"nn"))
      .select($"nationkey", $"c_custkey", ($"pos" + 1).cast("long").as("rk"),
        $"col.id".as("s_suppkey"), ($"col.d" / 100.0).as("adiff"))
      .orderBy($"c_custkey", $"rk")
  }
  val rjBandKnnSql: String =
    s"""WITH r AS (
       |  SELECT c.c_nationkey AS nationkey, c.c_custkey, s.s_suppkey,
       |         round(abs(c.c_acctbal - s.s_acctbal), 2) AS adiff
       |  FROM customer c JOIN supplier s
       |    ON c.c_nationkey = s.s_nationkey
       |   AND abs(c.c_acctbal - s.s_acctbal) <= 250.0),
       |k AS (
       |  SELECT nationkey, c_custkey, s_suppkey, adiff,
       |         row_number() OVER (PARTITION BY c_custkey
       |                            ORDER BY adiff, s_suppkey) AS rk
       |  FROM r)
       |SELECT nationkey, c_custkey, CAST(rk AS BIGINT) AS rk, s_suppkey, adiff
       |FROM k WHERE rk <= $RjBandK ORDER BY c_custkey, rk""".stripMargin
  /** rj_band_auto — the SAME band join written as the naive theta join a
    * library user would type: `abs(c_acctbal − s_acctbal) <= 250` with no
    * equi key and no bucketing in the query. [[graft.plans.BandJoinBucketRule]]
    * (injected via GraftExtensions) re-plans it as the bucketed hash join
    * at optimization time — PlanGuardSpec asserts no nested loop survives,
    * and this gate proves the rewrite's RESULTS against the unbucketed
    * oracle. Cross-nation pairs are allowed here (no nation conjunct —
    * that would hand the planner an equi key and the rule would correctly
    * stand down), so the probe sides are narrowed to keep output bounded.
    */
  val rjBandAuto: Q = (s, d) => {
    import s.implicits._
    val cust = tbl(s, d, "customer").where($"c_custkey" <= 300)
      .select($"c_custkey", $"c_acctbal")
    val supp = tbl(s, d, "supplier")
      .select($"s_suppkey", $"s_acctbal")
    cust.join(supp, abs($"c_acctbal" - $"s_acctbal") <= 250.0)
      .select($"c_custkey", $"s_suppkey",
        round($"c_acctbal" - $"s_acctbal", 2).as("bal_diff"))
      .orderBy($"c_custkey", $"s_suppkey")
  }
  val rjBandAutoSql: String =
    """SELECT c.c_custkey, s.s_suppkey,
      |       round(c.c_acctbal - s.s_acctbal, 2) AS bal_diff
      |FROM customer c JOIN supplier s
      |  ON abs(c.c_acctbal - s.s_acctbal) <= 250.0
      |WHERE c.c_custkey <= 300
      |ORDER BY c_custkey, s_suppkey""".stripMargin

  /** rj_band_conj — the ASYMMETRIC two-conjunct band a user writes when
    * the tolerance differs by direction (`c_acctbal − s_acctbal <= 150
    * AND s_acctbal − c_acctbal <= 350`: the supplier may sit up to 350
    * above but only 150 below). No abs(), no equi key — round 9's rule
    * only matched the abs() form and this shape fell back to a
    * broadcast-nested-loop. [[graft.plans.BandJoinBucketRule]] now
    * normalizes each one-sided conjunct to `x − y ≤ c`, pairs the two
    * directions over the same expressions, and buckets by the LARGER
    * bound (the sound symmetric cover); PlanGuardSpec asserts the hash
    * plan, this gate proves the results against the naive oracle.
    */
  val rjBandConj: Q = (s, d) => {
    import s.implicits._
    val cust = tbl(s, d, "customer").where($"c_custkey" <= 300)
      .select($"c_custkey", $"c_acctbal")
    val supp = tbl(s, d, "supplier")
      .select($"s_suppkey", $"s_acctbal")
    cust.join(supp,
        $"c_acctbal" - $"s_acctbal" <= 150.0 && $"s_acctbal" - $"c_acctbal" <= 350.0)
      .select($"c_custkey", $"s_suppkey",
        round($"c_acctbal" - $"s_acctbal", 2).as("bal_diff"))
      .orderBy($"c_custkey", $"s_suppkey")
  }
  val rjBandConjSql: String =
    """SELECT c.c_custkey, s.s_suppkey,
      |       round(c.c_acctbal - s.s_acctbal, 2) AS bal_diff
      |FROM customer c JOIN supplier s
      |  ON c.c_acctbal - s.s_acctbal <= 150.0
      | AND s.s_acctbal - c.c_acctbal <= 350.0
      |WHERE c.c_custkey <= 300
      |ORDER BY c_custkey, s_suppkey""".stripMargin

  /** rj_band_between — the same band in BETWEEN syntax
    * (`c_acctbal BETWEEN s_acctbal − 250 AND s_acctbal + 250`), the form
    * range-lookup SQL most often arrives in. Catalyst expands BETWEEN to
    * the `x >= y − w AND x <= y + w` conjunct pair; the rule's
    * normalizer isolates the literal from either side of the comparison
    * (y + w, y − w) so the expanded pair still reads as a band.
    */
  val rjBandBetween: Q = (s, d) => {
    import s.implicits._
    val cust = tbl(s, d, "customer").where($"c_custkey" <= 300)
      .select($"c_custkey", $"c_acctbal")
    val supp = tbl(s, d, "supplier")
      .select($"s_suppkey", $"s_acctbal")
    cust.join(supp,
        $"c_acctbal".between($"s_acctbal" - 250.0, $"s_acctbal" + 250.0))
      .select($"c_custkey", $"s_suppkey",
        round($"c_acctbal" - $"s_acctbal", 2).as("bal_diff"))
      .orderBy($"c_custkey", $"s_suppkey")
  }
  val rjBandBetweenSql: String =
    """SELECT c.c_custkey, s.s_suppkey,
      |       round(c.c_acctbal - s.s_acctbal, 2) AS bal_diff
      |FROM customer c JOIN supplier s
      |  ON c.c_acctbal BETWEEN s.s_acctbal - 250.0 AND s.s_acctbal + 250.0
      |WHERE c.c_custkey <= 300
      |ORDER BY c_custkey, s_suppkey""".stripMargin

  // ----------------------------- streaming operators, batch-finalized

  /** `ts` as a proper timestamp regardless of the driver's parquet
    * encoding (see [[eventDay]] — NANOS-as-Long vs native MICROS).
    */
  // private[operators]: pii_dp_ledger (and any events reader outside this
  // file) must use the SAME schema branch — calling weekday/hour on a raw
  // epoch-nanos Long ts (rounds-≤7 testdata, GenScale sf dirs) is a type
  // error the sf10 probe caught live
  private[operators] def eventTs(ev: DataFrame): org.apache.spark.sql.Column =
    ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        timestamp_micros(expr("ts div 1000"))
      // NTZ → TIMESTAMP is instant-preserving here: session TZ pins UTC
      case _ => col("ts").cast("timestamp")
    }

  /** str_session — the FINALIZED output of
    * [[graft.streaming.StatefulOps.sessionWindowCounts]] (Spark's native
    * `session_window` gap-session aggregation), run in batch mode where
    * the watermark is a no-op and every session is final. Until round 9
    * this operator had spec coverage only (StatefulStreamingSpec's
    * batch-equivalence case); this gate adds the DuckDB oracle: the
    * gaps-and-islands mirror — break when the gap to the previous event
    * is ≥ 30 min (session_window's [start, last+gap) half-open windows
    * merge only on OVERLAP, so a gap of exactly 30 min starts a new
    * session), session_end = last event + gap. Bounds emit as epoch
    * micros (never raw `ts` — ns/us encoding varies by round).
    */
  val strSession: Q = (s, d) => {
    import s.implicits._
    val ev = tbl(s, d, "events")
    val prepared = ev.select($"user_id", eventTs(ev).as("tstamp"))
    graft.streaming.StatefulOps
      .sessionWindowCounts(prepared, "tstamp", "user_id", "30 minutes", "0 seconds")
      .select($"user_id", unix_micros($"session_start").as("s_us"),
        unix_micros($"session_end").as("e_us"), $"n")
      .orderBy($"user_id", $"s_us")
  }
  val strSessionSql: String =
    """WITH s AS (
      |  SELECT user_id, ts,
      |         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
      |                   OVER (PARTITION BY user_id ORDER BY ts) >= 1800000000
      |              THEN 1 ELSE 0 END AS brk
      |  FROM events),
      |g AS (
      |  SELECT user_id, ts,
      |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM s)
      |SELECT user_id, CAST(min(epoch_us(ts)) AS BIGINT) AS s_us,
      |       CAST(max(epoch_us(ts)) + 1800000000 AS BIGINT) AS e_us,
      |       CAST(count(*) AS BIGINT) AS n
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, s_us""".stripMargin

  /** str_interval — the finalized output of
    * [[graft.streaming.StatefulOps.intervalJoin]] (stream-stream
    * equi-key join bounded by a time range — the ad-attribution shape:
    * purchases within 2 h of a signup), run in batch mode where both
    * state stores are complete. The time-range conjunct is what bounds
    * streaming state; in batch it is exactly a range-predicated
    * equi-join, which is what the oracle runs.
    */
  val strInterval: Q = (s, d) => {
    import s.implicits._
    val ev = tbl(s, d, "events")
    val ts = eventTs(ev)
    val l = ev.where($"event_type" === "signup")
      .select($"user_id".as("l_user"), $"event_id".as("l_id"), ts.as("l_ts"))
    val r = ev.where($"event_type" === "purchase")
      .select($"user_id".as("r_user"), $"event_id".as("r_id"), ts.as("r_ts"))
    graft.streaming.StatefulOps
      .intervalJoin(l, r, "l_user", "r_user", "l_ts", "r_ts", "0 seconds", "2 hours")
      .select($"l_user".as("user_id"), $"l_id", $"r_id",
        (unix_micros($"r_ts") - unix_micros($"l_ts")).as("lag_us"))
      .orderBy($"l_id", $"r_id")
  }
  val strIntervalSql: String =
    """SELECT a.user_id, a.event_id AS l_id, b.event_id AS r_id,
      |       CAST(epoch_us(b.ts) - epoch_us(a.ts) AS BIGINT) AS lag_us
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 2 HOUR
      |WHERE a.event_type = 'signup' AND b.event_type = 'purchase'
      |ORDER BY l_id, r_id""".stripMargin

  val rjBandSql: String =
    """SELECT c.c_nationkey AS nationkey, c.c_custkey, s.s_suppkey,
      |       round(c.c_acctbal - s.s_acctbal, 2) AS bal_diff
      |FROM customer c JOIN supplier s
      |  ON c.c_nationkey = s.s_nationkey
      | AND abs(c.c_acctbal - s.s_acctbal) <= 250.0
      |ORDER BY nationkey, c_custkey, s_suppkey""".stripMargin

  // --------------------------------------------------------- calendar days

  /** Calendar day of `events.ts`, adaptive to how the driver's parquet
    * writer encoded the column — it has shipped BOTH shapes across rounds:
    * TIMESTAMP(NANOS), which GraftSession's nanosAsLong conf surfaces as
    * an epoch-nanos Long (integral `div` keeps exactness: a double
    * division of 1.7e18 nanos is already past 2^53 and would round the
    * microsecond), and TIMESTAMP(MICROS), which arrives as a native
    * timestamp. Branching on the resolved schema — not on a config — is
    * what makes the operator survive the upstream writer changing under
    * it. Session timezone is pinned UTC, so the calendar date matches
    * DuckDB's naive `CAST(ts AS DATE)` either way.
    */
  private def eventDay(ev: DataFrame): org.apache.spark.sql.Column =
    to_date(eventTs(ev))

  // ---------------------------------------------------------- cohort retention

  /** ev_retention — cohort retention over the event stream: cohort = the
    * calendar day of a user's first `signup` event; for every (cohort,
    * day-offset) count the distinct cohort members active that day. The
    * table behind every retention curve / triangle chart.
    *
    * Two aggregations and one join, all keyed on `user_id` or the
    * (cohort, offset) pair: the first-touch table is user-dimension-sized
    * (≪ events), the join back to the stream shuffles both sides on
    * user_id once, and the distinct-count aggregation reuses that
    * partitioning's key prefix. Nothing in the plan holds a day×cohort
    * matrix in memory — output cardinality is O(days²) regardless of
    * stream size.
    */
  val evRetention: Q = (s, d) => {
    import s.implicits._
    val events = tbl(s, d, "events")
    val ev = events
      .select($"user_id", eventDay(events).as("day"), $"event_type")
    val cohort = ev.where($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"day").as("cohort_day"))
    ev.join(cohort, "user_id")
      .where($"day" >= $"cohort_day")
      .groupBy($"cohort_day", datediff($"day", $"cohort_day").cast("long").as("day_offset"))
      .agg(countDistinct($"user_id").as("n_active"))
      .orderBy($"cohort_day", $"day_offset")
  }
  val evRetentionSql: String =
    """WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, event_type FROM events),
      |cohort AS (SELECT user_id, min(day) AS cohort_day
      |           FROM ev WHERE event_type = 'signup' GROUP BY user_id)
      |SELECT cohort_day, datediff('day', cohort_day, day) AS day_offset,
      |       CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active
      |FROM ev e JOIN cohort USING (user_id)
      |WHERE day >= cohort_day
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------ gap filling

  /** ev_gapfill — sparse→dense time-series resample: daily counts of a
    * rare event slice (value > 300) on a complete per-type calendar, with
    * missing days zero-filled and the last observed daily mean carried
    * forward. The densification every monitoring/feature pipeline runs
    * before charting or windowed modeling — an outer join against a
    * generated dimension, NOT a scan with gaps patched in the driver.
    *
    * The calendar is `sequence(min_day, max_day)` exploded — O(days) rows
    * from a 2-row aggregate — crossed with the distinct type dimension;
    * grid size is days × types no matter how many events stream in. The
    * forward-fill window partitions by type, so no global ordering exists
    * anywhere in the plan.
    */
  val evGapfill: Q = (s, d) => {
    import s.implicits._
    val events = tbl(s, d, "events")
    val ev = events.select($"event_type", eventDay(events).as("day"), $"value")
    val cal = ev.agg(min($"day").as("lo"), max($"day").as("hi"))
      .select(explode(sequence($"lo", $"hi")).as("day"))
    val grid = ev.select($"event_type").distinct().crossJoin(cal)
    val sparse = ev.where($"value" > 300)
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"), round(avg($"value"), 6).as("avg_val"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(sparse, Seq("event_type", "day"), "left")
      .select($"event_type", $"day",
        coalesce($"n", lit(0L)).as("n"),
        last($"avg_val", ignoreNulls = true).over(w).as("ffill_avg"))
      .orderBy($"event_type", $"day")
  }
  val evGapfillSql: String =
    """WITH ev AS (SELECT event_type, CAST(ts AS DATE) AS day, value FROM events),
      |cal AS (SELECT CAST(unnest(generate_series(
      |          (SELECT min(day) FROM ev), (SELECT max(day) FROM ev),
      |          INTERVAL 1 DAY)) AS DATE) AS day),
      |types AS (SELECT DISTINCT event_type FROM ev),
      |grid AS (SELECT event_type, day FROM types, cal),
      |sparse AS (SELECT event_type, day, count(*) AS n, round(avg(value), 6) AS avg_val
      |           FROM ev WHERE value > 300 GROUP BY 1, 2)
      |SELECT g.event_type, g.day, coalesce(s.n, 0) AS n,
      |       last_value(s.avg_val IGNORE NULLS) OVER (
      |         PARTITION BY g.event_type ORDER BY g.day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ffill_avg
      |FROM grid g LEFT JOIN sparse s USING (event_type, day)
      |ORDER BY g.event_type, g.day""".stripMargin

  // ------------------------------------------------------------ SCD2 history

  /** sn_scd2 — slowly-changing-dimension (type 2) history built from a
    * change stream: collapse each user's consecutive run of the same
    * `event_type` into one versioned validity interval
    * [valid_from, valid_to), open-ended (`is_current` = 1) on the last
    * run. The gaps-and-islands fold that turns an event log into the
    * dimension table a warehouse joins facts against "as of" a point in
    * time (pair with [[asofJoin]] for the lookup side).
    *
    * Same single-shuffle discipline as [[sessionize]]: every window is
    * partitioned by `user_id`; the island aggregation and the
    * next-version lead reuse that key, so one exchange serves all three
    * steps. Interval bounds are `event_id`s — the stream's monotone
    * ordering key (ts-nanos ordering is not hash-stable across engines;
    * see the parity note on [[eventDay]]).
    */
  def scd2History(df: DataFrame, keyCol: String, attrCol: String, ordCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(ordCol))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // Null-safe change test (<=>): a null attribute value opens its own
    // version rather than silently extending the previous one — the same
    // IS DISTINCT FROM semantics a SQL MERGE would apply.
    val versions = df
      .withColumn("__chg",
        when(!(lag(col(attrCol), 1).over(w) <=> col(attrCol)), 1L).otherwise(0L))
      .withColumn("version", sum(col("__chg")).over(run))
      .groupBy(col(keyCol), col("version"))
      .agg(first(col(attrCol)).as(attrCol),
        min(col(ordCol)).as("valid_from"),
        count(lit(1)).as("n_events"))
    val wv = Window.partitionBy(col(keyCol)).orderBy(col("version"))
    versions
      .withColumn("valid_to", lead(col("valid_from"), 1).over(wv))
      .withColumn("is_current", when(col("valid_to").isNull, 1L).otherwise(0L))
  }

  val snScd2: Q = (s, d) => {
    import s.implicits._
    scd2History(
      tbl(s, d, "events").where($"user_id" < 50)
        .select($"user_id", $"event_id", $"event_type"),
      "user_id", "event_type", "event_id")
      .orderBy($"user_id", $"version")
  }
  val snScd2Sql: String =
    """WITH ev AS (
      |  SELECT user_id, event_id, event_type,
      |         CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
      |                   IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
      |  FROM events WHERE user_id < 50),
      |runs AS (
      |  SELECT user_id, event_id, event_type,
      |         sum(chg) OVER (PARTITION BY user_id ORDER BY event_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version
      |  FROM ev),
      |versions AS (
      |  SELECT user_id, version, min(event_type) AS event_type,
      |         min(event_id) AS valid_from, count(*) AS n_events
      |  FROM runs GROUP BY user_id, version)
      |SELECT user_id, CAST(version AS BIGINT) AS version, event_type, valid_from,
      |       lead(valid_from) OVER (PARTITION BY user_id ORDER BY version) AS valid_to,
      |       CAST(CASE WHEN lead(valid_from) OVER (PARTITION BY user_id ORDER BY version)
      |            IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current,
      |       n_events
      |FROM versions ORDER BY user_id, version""".stripMargin

  // -------------------------------------------------------- snapshot diff

  /** sn_diff — CDC-style snapshot diff: given two snapshots of a keyed
    * table, classify every key as added / removed / changed / unchanged and
    * report per-class counts + key range. The companion to [[snScd2]]: SCD2
    * folds a change STREAM; this RECOVERS the change set when all you have
    * is two full snapshots (the nightly-dump reality of most upstream
    * sources). Both snapshots are deterministic transforms of `orders`
    * (modulo-keyed planted adds/removes/updates — the pii_scrub
    * planted-violation precedent), so every class is non-empty.
    *
    * Plan shape: ONE full-outer shuffle join on the snapshot key, then a
    * tiny groupBy on the 4-value class column — at 100 TB both snapshots
    * shuffle once on the same key (or co-locate for free if both are
    * bucketed by it, the Sinks.upsertCommitted layout), and only 4 counter
    * rows leave. Change detection compares the payload columns directly
    * (double equality is exact: both sides derive from the same stored
    * value) — a fingerprint column (md5 of concatenated payload, the
    * `Artifacts.fingerprint` discipline) is the drop-in at wider schemas.
    */
  val snDiff: Q = (s, d) => {
    import s.implicits._
    val orders = tbl(s, d, "orders")
    val old = orders.where(expr("o_orderkey % 10 <> 3"))
      .select($"o_orderkey",
        when(expr("o_orderkey % 10 = 7"), $"o_totalprice" + 1.0)
          .otherwise($"o_totalprice").as("price_o"),
        $"o_orderstatus".as("st_o"), lit(1).as("in_o"))
    val nw = orders.where(expr("o_orderkey % 10 <> 9"))
      .select($"o_orderkey", $"o_totalprice".as("price_n"),
        $"o_orderstatus".as("st_n"), lit(1).as("in_n"))
    old.join(nw, Seq("o_orderkey"), "full_outer")
      .withColumn("status",
        when($"in_o".isNull, "added")
          .when($"in_n".isNull, "removed")
          .when($"price_o" =!= $"price_n" || $"st_o" =!= $"st_n", "changed")
          .otherwise("unchanged"))
      .groupBy($"status")
      .agg(count(lit(1)).as("n"),
        min($"o_orderkey").as("min_key"), max($"o_orderkey").as("max_key"))
      .orderBy($"status")
  }
  val snDiffSql: String =
    """WITH old AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderkey % 10 = 7 THEN o_totalprice + 1.0
      |              ELSE o_totalprice END AS price_o,
      |         o_orderstatus AS st_o, 1 AS in_o
      |  FROM orders WHERE o_orderkey % 10 <> 3),
      |nw AS (
      |  SELECT o_orderkey, o_totalprice AS price_n, o_orderstatus AS st_n, 1 AS in_n
      |  FROM orders WHERE o_orderkey % 10 <> 9),
      |cls AS (
      |  SELECT COALESCE(old.o_orderkey, nw.o_orderkey) AS k,
      |         CASE WHEN in_o IS NULL THEN 'added'
      |              WHEN in_n IS NULL THEN 'removed'
      |              WHEN price_o <> price_n OR st_o <> st_n THEN 'changed'
      |              ELSE 'unchanged' END AS status
      |  FROM old FULL OUTER JOIN nw ON old.o_orderkey = nw.o_orderkey)
      |SELECT status, count(*) AS n, min(k) AS min_key, max(k) AS max_key
      |FROM cls GROUP BY status ORDER BY status""".stripMargin

  // ------------------------------------------------------- anomaly detection

  /** ev_anomaly — rolling z-score monitor over the daily event-count
    * series: each day scores against the trailing-7-day mean/stddev and
    * flags |z| ≥ 3. The detector every ingest pipeline runs on its volume
    * metrics before a bad day poisons downstream snapshots. A half-volume
    * outage is planted on 2024-01-20 (even event_ids dropped that day —
    * Audit.fkOrphans' lagged-dim precedent) so the gate provably FIRES:
    * z ≈ −13 on the planted day, while a natural −2.9 dip stays below
    * threshold.
    *
    * Scale shape: the stream collapses to the O(days) daily aggregate in
    * one map-side-combined shuffle; only THAT series rides the global
    * ordered window, so the single-partition frame holds days, never
    * events — bounded at any corpus size. Mean/variance come from exact
    * BIGINT window sums (Σn, Σn², m) with one double division each, and
    * z quantizes to 6 dp — identical IEEE steps in both engines. A
    * ZERO-VARIANCE trailing window (e.g. seven identical daily counts)
    * yields z = NULL (not ±Inf/NaN, whose ordering semantics diverge
    * between engines) and is_anomaly = false, in both Spark and oracle.
    */
  val evAnomaly: Q = (s, d) => {
    import s.implicits._
    val events = tbl(s, d, "events")
    val daily = events
      .select($"event_id", eventDay(events).as("day"))
      .where(!($"day" === to_date(lit("2024-01-20")) && $"event_id" % 2 === 0))
      .groupBy($"day").agg(count(lit(1)).as("n"))
    val w = Window.orderBy($"day").rowsBetween(-7, -1)
    daily
      .withColumn("s1", sum($"n").over(w))
      .withColumn("s2", sum($"n" * $"n").over(w))
      .withColumn("m", count(lit(1)).over(w))
      .where($"m" >= 4)
      .withColumn("mean7", round($"s1".cast("double") / $"m", 6))
      .withColumn("var7", ($"s2" - ($"s1" * $"s1").cast("double") / $"m") / $"m")
      .withColumn("z", when($"var7" <= 0.0, lit(null).cast("double"))
        .otherwise(round(
          ($"n" - $"s1".cast("double") / $"m") / sqrt($"var7"), 6)))
      .select($"day", $"n", $"mean7", $"z",
        coalesce(abs($"z") >= 3.0, lit(false)).as("is_anomaly"))
      .orderBy($"day")
  }
  val evAnomalySql: String =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n
      |  FROM events
      |  WHERE NOT (CAST(ts AS DATE) = DATE '2024-01-20' AND event_id % 2 = 0)
      |  GROUP BY 1),
      |win AS (
      |  SELECT day, n,
      |         sum(n)    OVER w AS s1,
      |         sum(n*n)  OVER w AS s2,
      |         count(*)  OVER w AS m
      |  FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
      |vz AS (
      |  SELECT day, n, m, s1, (s2 - CAST(s1*s1 AS DOUBLE) / m) / m AS var7
      |  FROM win WHERE m >= 4)
      |SELECT day, n,
      |       round(CAST(s1 AS DOUBLE) / m, 6) AS mean7,
      |       CASE WHEN var7 <= 0.0 THEN NULL
      |            ELSE round((n - CAST(s1 AS DOUBLE) / m) / sqrt(var7), 6) END AS z,
      |       coalesce(CASE WHEN var7 <= 0.0 THEN NULL
      |            ELSE abs(round((n - CAST(s1 AS DOUBLE) / m) / sqrt(var7), 6)) >= 3.0
      |       END, FALSE) AS is_anomaly
      |FROM vz ORDER BY day""".stripMargin

  // ------------------------------------------------------ transition matrix

  /** ev_markov — first-order event-transition matrix: P(next type | type)
    * from each user's event sequence (ordered by the monotone event_id —
    * the suite's stand-in for (blockNumber, logIndex) order). The Markov
    * table behind "what do users do after X" product analytics and the
    * sanity screen for synthetic event generators (a uniform matrix here
    * is CORRECT for this corpus — the generator draws types i.i.d., and
    * the gate proves we can measure that).
    *
    * One per-user window (partitioned — no global sort) emits the lagged
    * pairs; the 25-cell count table and its row totals are O(types²)
    * aggregates, broadcast-joined. Probabilities are exact-count ratios
    * rounded to 6 dp.
    */
  val evMarkov: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
    val seqd = tbl(s, d, "events")
      .select($"user_id", $"event_id", $"event_type")
      .withColumn("nxt", lead($"event_type", 1).over(w))
      .where($"nxt".isNotNull)
    val c = seqd.groupBy($"event_type", $"nxt").agg(count(lit(1)).as("n"))
    val tot = c.groupBy($"event_type").agg(sum($"n").as("t"))
    c.join(broadcast(tot), Seq("event_type"))
      .select($"event_type", $"nxt", $"n",
        round($"n".cast("double") / $"t", 6).as("p"))
      .orderBy($"event_type", $"nxt")
  }
  val evMarkovSql: String =
    """WITH seqd AS (
      |  SELECT event_type,
      |         lead(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS nxt
      |  FROM events),
      |c AS (SELECT event_type, nxt, count(*) AS n
      |      FROM seqd WHERE nxt IS NOT NULL GROUP BY 1, 2),
      |tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t FROM c GROUP BY 1)
      |SELECT c.event_type, nxt, n, round(CAST(n AS DOUBLE) / t, 6) AS p
      |FROM c JOIN tot USING (event_type) ORDER BY event_type, nxt""".stripMargin

  // ------------------------------------------------- activity heatmap

  /** ev_heatmap — the weekday × hour activity grid with per-cell share:
    * the load-shape panel behind capacity planning and anomaly baselines
    * (ev_anomaly's daily z-scores inherit their seasonality from exactly
    * this grid). ONE map-side-combined aggregation over the stream to
    * ≤ 168 cells; the total rides a window over those cells, not the
    * corpus. Hour extraction branches on the ts encoding like
    * [[eventDay]] (the driver has shipped both nanos-as-long and native
    * micros).
    */
  val evHeatmap: Q = (s, d) => {
    import s.implicits._
    val events = tbl(s, d, "events")
    val ts = eventTs(events)
    val cells = events
      .select(weekday(to_date(ts)).cast("long").as("dow"),
        hour(ts).cast("long").as("hr"))
      .groupBy($"dow", $"hr").agg(count(lit(1)).as("n"))
    cells
      .withColumn("total", sum($"n").over(Window.partitionBy()))
      .select($"dow", $"hr", $"n",
        round($"n".cast("double") / $"total", 6).as("share"))
      .orderBy($"dow", $"hr")
  }
  val evHeatmapSql: String =
    """WITH cells AS (
      |  SELECT CAST(isodow(CAST(ts AS DATE)) - 1 AS BIGINT) AS dow,
      |         CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells)
      |SELECT dow, hr, n, round(CAST(n AS DOUBLE) / total, 6) AS share
      |FROM cells, tot ORDER BY dow, hr""".stripMargin

  // ------------------------------------------------------- cohort LTV

  /** ev_ltv — cumulative value per user by cohort age: users cohort by
    * the calendar WEEK of their first event; each (cohort, week-offset)
    * cell sums event value and reports the RUNNING per-member LTV — the
    * curve a growth model fits and the companion to [[Temporal]] cohort
    * retention (that one counts survivors, this one weighs them). Value
    * sums are decimal(17,4)-quantized (order-free); the running sum is a
    * per-cohort window over O(cohorts × months) cells; cohort size is
    * the month-0 member count, carried by a broadcast join.
    */
  val evLtv: Q = (s, d) => {
    import s.implicits._
    val events = tbl(s, d, "events")
    val ev = events.select($"user_id", $"value",
      trunc(eventDay(events), "week").as("week"))
    // cohorts pinned (r18 batch 4): feeds the cohort-size aggregate AND
    // the per-event join — unpinned, the events scan + per-user min ran
    // twice; the table is per-user-bounded
    val cohorts = ev.groupBy($"user_id").agg(min($"week").as("cohort"))
      .localCheckpoint(true)
    val sizes = cohorts.groupBy($"cohort").agg(count(lit(1)).as("cohort_users"))
    val cells = ev.join(cohorts, "user_id")
      // both dates are week-truncated Mondays, so the day gap is an exact
      // multiple of 7 — integral division is portable where engine week
      // arithmetic is not
      .withColumn("off", expr("datediff(week, cohort) div 7"))
      .groupBy($"cohort", $"off")
      .agg(countDistinct($"user_id").as("n_active"),
        sum($"value".cast("decimal(17,4)")).as("val"))
    val w = Window.partitionBy($"cohort").orderBy($"off")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cells.join(broadcast(sizes), Seq("cohort"))
      .withColumn("cumval", sum($"val").over(w))
      .select($"cohort", $"off", $"cohort_users", $"n_active",
        round($"val".cast("double"), 2).as("week_value"),
        round($"cumval".cast("double") / $"cohort_users", 6).as("ltv_per_user"))
      .orderBy($"cohort", $"off")
  }
  val evLtvSql: String =
    """WITH ev AS (
      |  SELECT user_id, value, date_trunc('week', CAST(ts AS DATE)) AS week
      |  FROM events),
      |cohorts AS (SELECT user_id, min(week) AS cohort FROM ev GROUP BY user_id),
      |sizes AS (SELECT cohort, count(*) AS cohort_users FROM cohorts GROUP BY cohort),
      |cells AS (
      |  SELECT c.cohort,
      |         CAST(datediff('day', c.cohort, e.week) // 7 AS BIGINT) AS off,
      |         count(DISTINCT e.user_id) AS n_active,
      |         sum(CAST(e.value AS DECIMAL(17,4))) AS val
      |  FROM ev e JOIN cohorts c USING (user_id)
      |  GROUP BY 1, 2),
      |run AS (
      |  SELECT cohort, off, n_active, val,
      |         sum(val) OVER (PARTITION BY cohort ORDER BY off
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumval
      |  FROM cells)
      |SELECT CAST(r.cohort AS DATE) AS cohort, r.off, s.cohort_users, r.n_active,
      |       round(CAST(r.val AS DOUBLE), 2) AS week_value,
      |       round(CAST(r.cumval AS DOUBLE) / s.cohort_users, 6) AS ltv_per_user
      |FROM run r JOIN sizes s USING (cohort)
      |ORDER BY cohort, off""".stripMargin

  // -------------------------------------------------- conversion paths

  /** ev_paths — top converting paths: for every `purchase`, the ordered
    * pair of event types that immediately preceded it in that user's
    * stream, counted corpus-wide and ranked. Where pl_funnel checks ONE
    * prescribed sequence and ev_markov gives single-step transition
    * probabilities, this surfaces which multi-step approaches actually
    * END in conversion — the "what journeys convert" read. Two per-user
    * window lags (one ordered pass), one keyed count, a top-k rank;
    * boundary purchases (fewer than 2 predecessors) keep their short
    * path under a '∅' placeholder rather than vanishing.
    */
  val evPaths: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
    val paths = tbl(s, d, "events")
      .select($"user_id", $"event_id", $"event_type")
      .withColumn("p1", lag($"event_type", 1).over(w))
      .withColumn("p2", lag($"event_type", 2).over(w))
      .where($"event_type" === "purchase")
      .select(concat_ws(">", coalesce($"p2", lit("∅")),
        coalesce($"p1", lit("∅")), lit("purchase")).as("path"))
    paths.groupBy($"path").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(Window.orderBy($"n".desc, $"path")))
      .where($"rk" <= 15)
      .select($"rk".cast("long").as("rk"), $"path", $"n")
      .orderBy($"rk")
  }
  val evPathsSql: String =
    """WITH lagged AS (
      |  SELECT user_id, event_id, event_type,
      |         lag(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS p1,
      |         lag(event_type, 2) OVER (PARTITION BY user_id ORDER BY event_id) AS p2
      |  FROM events),
      |paths AS (
      |  SELECT coalesce(p2, '∅') || '>' || coalesce(p1, '∅') || '>purchase' AS path
      |  FROM lagged WHERE event_type = 'purchase'),
      |cnt AS (SELECT path, count(*) AS n FROM paths GROUP BY path)
      |SELECT CAST(rk AS BIGINT) AS rk, path, n FROM (
      |  SELECT path, n, row_number() OVER (ORDER BY n DESC, path) AS rk FROM cnt)
      |WHERE rk <= 15 ORDER BY rk""".stripMargin

  /** dq_freshness — per-stream staleness monitor: each event type's last
    * active calendar day, its lag in days behind the freshest stream,
    * and a stale flag at > 1 day — the ingest-liveness panel a pipeline
    * alerts on (a stream silently stopping is the most common unnoticed
    * failure). One map-side-combined max per type + a broadcast scalar;
    * day-granular (the suite's raw-ts emission rule).
    */
  val dqFreshness: Q = (s, d) => {
    import s.implicits._
    val events = tbl(s, d, "events")
    val lastByType = events
      .select($"event_type", eventDay(events).as("day"))
      .groupBy($"event_type").agg(max($"day").as("last_day"))
    val freshest = lastByType.agg(max($"last_day").as("max_day"))
    lastByType.crossJoin(broadcast(freshest))
      .select($"event_type", $"last_day",
        datediff($"max_day", $"last_day").cast("long").as("days_behind"),
        (datediff($"max_day", $"last_day") > 1).as("stale"))
      .orderBy($"event_type")
  }
  val dqFreshnessSql: String =
    """WITH lastd AS (
      |  SELECT event_type, max(CAST(ts AS DATE)) AS last_day
      |  FROM events GROUP BY event_type),
      |freshest AS (SELECT max(last_day) AS max_day FROM lastd)
      |SELECT event_type, last_day,
      |       CAST(datediff('day', last_day, max_day) AS BIGINT) AS days_behind,
      |       datediff('day', last_day, max_day) > 1 AS stale
      |FROM lastd, freshest ORDER BY event_type""".stripMargin

  // -------------------------------------------------- bitemporal versions

  /** sn_bitemporal — TWO-axis temporal versioning: valid time (when the
    * fact is true in the world — the order's date) × transaction time
    * (when the system learned it). [[snScd2]] tracks one axis and
    * silently rewrites history on a correction; the bitemporal table
    * keeps BOTH the wrong-then belief and the corrected one, which is
    * what restatement-safe analytics ("what did we report in Q3 WITH the
    * data we had then") and audit/compliance actually require.
    *
    * Corrections are planted deterministically: every 10th order is
    * restated (+100.00) thirty days after its valid date. The version
    * chain is ONE per-(key, valid-day) window — lead(tx_from) closes
    * each belief interval half-open, null tx_to = current knowledge —
    * so construction is a union plus a single keyed window at any scale.
    */
  /** The bitemporal version table WITHOUT the gate's presentation sort —
    * sn_asknown filters and re-windows this frame, and inheriting a
    * terminal global orderBy would pay a full range-partition sort whose
    * ordering the next shuffle discards.
    */
  private def bitemporalVersions(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = tbl(s, d, "orders").where($"o_orderkey" < 2000)
      .select($"o_orderkey", to_date($"o_orderdate").as("valid_day"),
        $"o_totalprice".cast("decimal(12,2)").as("price"))
    val orig = o.select($"o_orderkey", $"valid_day",
      $"valid_day".as("tx_from"), $"price")
    val corr = o.where($"o_orderkey" % 10 === 0)
      .select($"o_orderkey", $"valid_day", date_add($"valid_day", 30).as("tx_from"),
        ($"price" + lit(100).cast("decimal(12,2)")).cast("decimal(12,2)").as("price"))
    val w = Window.partitionBy($"o_orderkey", $"valid_day").orderBy($"tx_from")
    orig.unionByName(corr)
      // open intervals close at the DATE-max sentinel, the bitemporal
      // convention — and it keeps the column NULL-free (nullable dates
      // round-trip as NaT/None inconsistently across engine bridges).
      .withColumn("tx_to", coalesce(lead($"tx_from", 1).over(w),
        lit("9999-12-31").cast("date")))
      .withColumn("is_current",
        when($"tx_to" === lit("9999-12-31").cast("date"), 1L).otherwise(0L))
      .select($"o_orderkey", $"valid_day", $"tx_from", $"tx_to",
        $"price".cast("double").as("price"), $"is_current")
  }

  val snBitemporal: Q = (s, d) => {
    import s.implicits._
    bitemporalVersions(s, d).orderBy($"o_orderkey", $"tx_from")
  }
  val snBitemporalSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS valid_day,
      |         CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey < 2000),
      |bi AS (
      |  SELECT o_orderkey, valid_day, valid_day AS tx_from, price FROM o
      |  UNION ALL
      |  SELECT o_orderkey, valid_day, valid_day + INTERVAL 30 DAY,
      |         CAST(price + 100 AS DECIMAL(12,2))
      |  FROM o WHERE o_orderkey % 10 = 0)
      |SELECT o_orderkey, valid_day, CAST(tx_from AS DATE) AS tx_from,
      |       coalesce(CAST(lead(tx_from) OVER (PARTITION BY o_orderkey, valid_day
      |                                         ORDER BY tx_from) AS DATE),
      |                DATE '9999-12-31') AS tx_to,
      |       CAST(price AS DOUBLE) AS price,
      |       CAST(CASE WHEN lead(tx_from) OVER (PARTITION BY o_orderkey, valid_day
      |                                          ORDER BY tx_from) IS NULL
      |                 THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM bi ORDER BY o_orderkey, tx_from""".stripMargin

  /** sn_asknown — the bitemporal POINT query: the belief state as of
    * 1998-07-01 (mid-corpus: plenty of records exist and plenty of
    * corrections are still unrecorded) — each order's price as the system knew it THEN (a
    * correction recorded after the cutoff is invisible; one recorded
    * before shows restated). The max-tx_from-≤-T version picks by one
    * per-key window over tx_from ≤ T; `corrected` marks beliefs that
    * already differ from the original record.
    */
  val snAsknown: Q = (s, d) => {
    import s.implicits._
    val cutoff = lit("1998-07-01").cast("date")
    val bi = bitemporalVersions(s, d)
    val w = Window.partitionBy($"o_orderkey", $"valid_day").orderBy($"tx_from".desc)
    bi.where($"tx_from" <= cutoff)
      .withColumn("rk", row_number().over(w))
      .where($"rk" === 1)
      .select($"o_orderkey", $"valid_day", $"price".cast("double").as("price"),
        when($"tx_from" > $"valid_day", 1L).otherwise(0L).as("corrected"))
      .orderBy($"o_orderkey", $"valid_day")
  }
  val snAsknownSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, CAST(o_orderdate AS DATE) AS valid_day,
      |         CAST(o_totalprice AS DECIMAL(12,2)) AS price
      |  FROM orders WHERE o_orderkey < 2000),
      |bi AS (
      |  SELECT o_orderkey, valid_day, valid_day AS tx_from, price FROM o
      |  UNION ALL
      |  SELECT o_orderkey, valid_day, valid_day + INTERVAL 30 DAY,
      |         CAST(price + 100 AS DECIMAL(12,2))
      |  FROM o WHERE o_orderkey % 10 = 0),
      |known AS (
      |  SELECT o_orderkey, valid_day, tx_from, price,
      |         row_number() OVER (PARTITION BY o_orderkey, valid_day
      |                            ORDER BY tx_from DESC) AS rk
      |  FROM bi WHERE tx_from <= DATE '1998-07-01')
      |SELECT o_orderkey, valid_day, CAST(price AS DOUBLE) AS price,
      |       CAST(CASE WHEN tx_from > valid_day THEN 1 ELSE 0 END AS BIGINT) AS corrected
      |FROM known WHERE rk = 1 ORDER BY o_orderkey, valid_day""".stripMargin

  // ---------------------------------------------------- growth accounting

  /** ev_lifecycle — daily growth accounting: every active user is exactly
    * one of NEW (first day ever), RETAINED (also active yesterday), or
    * RESURRECTED (active before, but not yesterday); CHURNED(d) counts
    * users active on d−1 and silent on d. The new/retained/resurrected/
    * churned decomposition (the "growth accounting" identity:
    * DAU(d) = new + retained + resurrected, ΔDAU = new + resurrected −
    * churned) is the standard diagnosis layer above [[evDau]] — the same
    * DAU can be healthy retention or a leaky bucket, and only this split
    * tells them apart.
    *
    * Shape: ONE distinct (user, day) pass, then a single per-user
    * ordered window (lag + lead in one pass) classifies every activity
    * day AND locates each churn day (next gap > 1); both aggregations
    * key on day. The full-outer day merge exists because a churn-only
    * day (nobody active, someone churned) still owes a row; churn days
    * past the corpus horizon are clipped against the broadcast max-day
    * scalar. All counts are exact BIGINTs.
    */
  val evLifecycle: Q = (s, d) => {
    import s.implicits._
    val events = tbl(s, d, "events")
    val ud = events.select($"user_id", eventDay(events).as("day")).distinct()
    val w = Window.partitionBy($"user_id").orderBy($"day")
    val st = ud
      .withColumn("prev", lag($"day", 1).over(w))
      .withColumn("next", lead($"day", 1).over(w))
    val act = st.groupBy($"day").agg(
      sum(when($"prev".isNull, 1L).otherwise(0L)).as("n_new"),
      sum(when(datediff($"day", $"prev") === 1, 1L).otherwise(0L)).as("n_retained"),
      sum(when($"prev".isNotNull && datediff($"day", $"prev") > 1, 1L).otherwise(0L))
        .as("n_resurrected"))
    val maxd = ud.agg(max($"day").as("maxd"))
    val churn = st.where($"next".isNull || datediff($"next", $"day") > 1)
      .select(date_add($"day", 1).as("cday"))
      .crossJoin(broadcast(maxd)).where($"cday" <= $"maxd")
      .groupBy($"cday").agg(count(lit(1)).as("n_churned"))
    act.join(churn, act("day") === churn("cday"), "full")
      .select(coalesce($"day", $"cday").as("day"),
        coalesce($"n_new", lit(0L)).as("n_new"),
        coalesce($"n_retained", lit(0L)).as("n_retained"),
        coalesce($"n_resurrected", lit(0L)).as("n_resurrected"),
        coalesce($"n_churned", lit(0L)).as("n_churned"))
      .orderBy($"day")
  }
  val evLifecycleSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |st AS (
      |  SELECT user_id, day,
      |         lag(day) OVER (PARTITION BY user_id ORDER BY day) AS prev,
      |         lead(day) OVER (PARTITION BY user_id ORDER BY day) AS nxt
      |  FROM ud),
      |act AS (
      |  SELECT day,
      |    CAST(sum(CASE WHEN prev IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
      |    CAST(sum(CASE WHEN datediff('day', prev, day) = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |      AS n_retained,
      |    CAST(sum(CASE WHEN prev IS NOT NULL AND datediff('day', prev, day) > 1
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected
      |  FROM st GROUP BY day),
      |maxd AS (SELECT max(day) AS maxd FROM ud),
      |churn AS (
      |  SELECT day + INTERVAL 1 DAY AS cday, count(*) AS n_churned
      |  FROM st, maxd
      |  WHERE (nxt IS NULL OR datediff('day', day, nxt) > 1)
      |    AND day + INTERVAL 1 DAY <= maxd
      |  GROUP BY 1)
      |SELECT CAST(coalesce(act.day, churn.cday) AS DATE) AS day,
      |       coalesce(n_new, 0) AS n_new,
      |       coalesce(n_retained, 0) AS n_retained,
      |       coalesce(n_resurrected, 0) AS n_resurrected,
      |       coalesce(CAST(n_churned AS BIGINT), 0) AS n_churned
      |FROM act FULL JOIN churn ON act.day = churn.cday
      |ORDER BY day""".stripMargin

  // ------------------------------------------------------------ DAU / WAU

  /** ev_dau — daily and 7-day rolling active users plus the DAU/WAU
    * stickiness ratio: the engagement panel every product dashboard
    * leads with. The interesting part is the ROLLING DISTINCT: a
    * windowed count-distinct has no incremental form, and the naive
    * range join (day BETWEEN d−6 AND d) would plan a nested loop — so
    * each (user, day) row CONTRIBUTES FORWARD to the ≤7 window-ends it
    * can count toward (explode of a 7-element sequence), turning the
    * sliding distinct into an equi-keyed count-distinct
    * (binnedRangeJoin's bin trick applied to time windows). Work is
    * O(active-user-days × 7), all map-side-combined; the oracle keeps
    * the naive BETWEEN formulation, proving the two equivalent
    * (gr_triangles' oracle-keeps-the-naive-form precedent). At 100 TB
    * with billions of actives, the stated swap is one HLL sketch per
    * (day) merged across each 7-day window
    * (Sketches.distinctSketchByGroup / mergeSketches — cell-wise max,
    * associative, error pinned by sk_hll_bound) — same plan shape, the
    * per-day state shrinks from a user set to 1.5 KB of registers.
    */
  val evDau: Q = (s, d) => {
    import s.implicits._
    val events = tbl(s, d, "events")
    val ud = events.select($"user_id", eventDay(events).as("day")).distinct()
    val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .withColumn("wday", explode(expr("sequence(day, date_add(day, 6))")))
      .groupBy($"wday").agg(countDistinct($"user_id").as("wau"))
    dau.join(wau, dau("day") === wau("wday"))
      .select($"day", $"dau", $"wau",
        round($"dau".cast("double") / $"wau", 6).as("stickiness"))
      .orderBy($"day")
  }
  val evDauSql: String =
    """WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |days AS (SELECT DISTINCT day FROM ud),
      |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
      |wau AS (
      |  SELECT d.day, count(DISTINCT u.user_id) AS wau
      |  FROM days d JOIN ud u ON u.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
      |  GROUP BY d.day)
      |SELECT day, dau, wau, round(CAST(dau AS DOUBLE) / wau, 6) AS stickiness
      |FROM dau JOIN wau USING (day) ORDER BY day""".stripMargin

  // --------------------------------------------------- grouped percentiles

  /** ev_latency — per-type tail summary of the event value distribution
    * (p50/p95/p99): the SLO/latency-dashboard aggregate every ops
    * pipeline keeps per service — here keyed on event_type over the
    * driver's value column. Exact percentiles at gate scale (one keyed
    * aggregation, percentile↔quantile_cont interpolation parity, round-6
    * absorbing the (n−1)·q arithmetic's last-ulp drift); at 100 TB the
    * stated swap is `percentile_approx` (t-digest sketch, mergeable
    * map-side — the sk_quantile_bound gate pins its error envelope).
    */
  val evLatency: Q = (s, d) => {
    import s.implicits._
    tbl(s, d, "events")
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"))
      .orderBy($"event_type")
  }
  val evLatencySql: String =
    """SELECT event_type, count(*) AS n,
      |       round(quantile_cont(value, 0.5), 6) AS p50,
      |       round(quantile_cont(value, 0.95), 6) AS p95,
      |       round(quantile_cont(value, 0.99), 6) AS p99
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------- time to convert

  /** ev_ttc — time-to-convert funnel metric: for each user that signs up,
    * the gap (in monotone event_id units — the suite's event-time
    * stand-in) to their FIRST purchase after that signup; reported as
    * conversion count plus exact median and p90 over converters. The
    * "how long does the funnel take" number next to pl_funnel's "how
    * many make it".
    *
    * Two user-keyed aggregations and one left join — everything rides
    * the user_id key; the percentile aggregate runs over the O(users)
    * gap table (a single 4-column row leaves the executors). `count` and
    * `percentile` both skip NULL gaps, so non-converters inflate nothing
    * while still counting as signups. Spark `percentile` and DuckDB
    * `quantile_cont` share the (n−1)·q interpolation definition (the
    * sk_quantile / tx_pp_bucket parity pin).
    */
  val evTtc: Q = (s, d) => {
    import s.implicits._
    val ev = tbl(s, d, "events").select($"user_id", $"event_id", $"event_type")
    val sign = ev.where($"event_type" === "signup")
      .groupBy($"user_id").agg(min($"event_id").as("sid"))
    val gaps = ev.where($"event_type" === "purchase")
      .join(sign, Seq("user_id")).where($"event_id" > $"sid")
      .groupBy($"user_id").agg((min($"event_id") - min($"sid")).as("gap"))
    sign.join(gaps, Seq("user_id"), "left")
      .agg(count($"sid").as("n_signup_users"),
        count($"gap").as("n_converted"),
        round(expr("percentile(gap, 0.5)"), 6).as("median_gap"),
        round(expr("percentile(gap, 0.9)"), 6).as("p90_gap"))
  }
  val evTtcSql: String =
    """WITH s AS (SELECT user_id, min(event_id) AS sid
      |           FROM events WHERE event_type = 'signup' GROUP BY user_id),
      |g AS (SELECT e.user_id, min(e.event_id) - min(s.sid) AS gap
      |      FROM events e JOIN s USING (user_id)
      |      WHERE e.event_type = 'purchase' AND e.event_id > s.sid
      |      GROUP BY e.user_id)
      |SELECT count(sid) AS n_signup_users, count(gap) AS n_converted,
      |       round(quantile_cont(gap, 0.5), 6) AS median_gap,
      |       round(quantile_cont(gap, 0.9), 6) AS p90_gap
      |FROM s LEFT JOIN g USING (user_id)""".stripMargin

  // --------------------------------------------- incremental MV maintenance

  /** sn_mv_refresh — incremental materialized-view maintenance: a
    * per-type (count, Σcents) view is refreshed by MERGING a delta
    * batch's partial aggregate into the existing view — counts and sums
    * are commutative monoids, so refresh cost is O(delta + |view|),
    * never a corpus recompute. The gate SELF-CERTIFIES: it also runs the
    * full recompute and emits `matches_full` per row (true across the
    * board), proving algebraic maintenance ≡ recomputation on this data.
    *
    * At 100 TB the `mv` leg is a persisted artifact read back in
    * (`Artifacts.table` shape) — only the delta slice scans; the full-recompute
    * leg exists for the oracle's certification and is NOT part of the
    * refresh cost. Money as integer cents (sn_apply discipline): all
    * three aggregates are exact BIGINTs, the merge is integer addition,
    * and the equality check is exact — no float anywhere.
    */
  val snMvRefresh: Q = (s, d) => {
    import s.implicits._
    val ev = tbl(s, d, "events")
      .select($"event_type", round($"value" * 100).cast("long").as("cents"), $"event_id")
    def viewOf(df: DataFrame) = df.groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"cents").as("sc"))
    val mv = viewOf(ev.where($"event_id" % 5 =!= 0))
      .select($"event_type", $"n".as("n_mv"), $"sc".as("sc_mv"))
    val delta = viewOf(ev.where($"event_id" % 5 === 0))
      .select($"event_type", $"n".as("n_d"), $"sc".as("sc_d"))
    val refreshed = mv.join(delta, Seq("event_type"), "full_outer")
      .select($"event_type",
        (coalesce($"n_mv", lit(0L)) + coalesce($"n_d", lit(0L))).as("n"),
        (coalesce($"sc_mv", lit(0L)) + coalesce($"sc_d", lit(0L))).as("sum_cents"))
    val full = viewOf(ev).select($"event_type", $"n".as("n_f"), $"sc".as("sc_f"))
    refreshed.join(full, Seq("event_type"))
      .select($"event_type", $"n", $"sum_cents",
        ($"n" === $"n_f" && $"sum_cents" === $"sc_f").as("matches_full"))
      .orderBy($"event_type")
  }
  val snMvRefreshSql: String =
    """WITH ev AS (SELECT event_type, CAST(round(value * 100) AS BIGINT) AS cents, event_id
      |            FROM events),
      |mv AS (SELECT event_type, count(*) AS n, sum(cents) AS sc
      |       FROM ev WHERE event_id % 5 <> 0 GROUP BY 1),
      |delta AS (SELECT event_type, count(*) AS n, sum(cents) AS sc
      |          FROM ev WHERE event_id % 5 = 0 GROUP BY 1),
      |refreshed AS (
      |  SELECT event_type,
      |         CAST(coalesce(mv.n, 0) + coalesce(delta.n, 0) AS BIGINT) AS n,
      |         CAST(coalesce(mv.sc, 0) + coalesce(delta.sc, 0) AS BIGINT) AS sum_cents
      |  FROM mv FULL OUTER JOIN delta USING (event_type)),
      |full_r AS (SELECT event_type, count(*) AS n, CAST(sum(cents) AS BIGINT) AS sum_cents
      |           FROM ev GROUP BY 1)
      |SELECT r.event_type, r.n, r.sum_cents,
      |       (r.n = f.n AND r.sum_cents = f.sum_cents) AS matches_full
      |FROM refreshed r JOIN full_r f USING (event_type) ORDER BY event_type""".stripMargin

  // ------------------------------------------------------------- CDC apply

  /** sn_apply — CDC merge: fold a change batch (Insert/Update/Delete ops
    * with per-key sequence numbers) into a base snapshot and report the
    * applied state. The SCD1 half of the snapshot story — sn_scd2 keeps
    * history, this produces the current table a warehouse MERGE would;
    * the op stream is synthesized from orders so every class fires (new
    * keys, single and DOUBLE updates to one key — proving max-seq wins,
    * not batch order — and tombstones).
    *
    * Shape: union base (seq 0) with the batch, one groupBy on the key
    * taking each attribute at max seq (`max_by` — total because seq is
    * unique per key), drop tombstones, aggregate. ONE keyed shuffle
    * regardless of how many CDC classes pile up; at 100 TB base and
    * batch co-partition by key (the bucketed-sink layout) and the merge
    * never re-sorts. Tombstones carry non-null sentinels (price 0, st
    * 'X') rather than NULLs: engines disagree on whether max_by skips
    * null VALUES (DuckDB's arg_max does), so a null payload at max seq
    * would silently resurrect the previous version.
    *
    * Money travels as integer CENTS: the ×1.1/×1.21 bumps are integer
    * multiply + integer `div` (ties impossible), because the float form
    * `round(price*1.1, 2)` lands on exact .005 representations where
    * Spark (HALF_UP on the BigDecimal image) and DuckDB (round-half-away
    * on the double) disagree by one cent — observed, not hypothetical.
    * The only float is the final cents/100 display division.
    */
  val snApply: Q = (s, d) => {
    import s.implicits._
    val o = tbl(s, d, "orders")
      .select($"o_orderkey".as("k"),
        round($"o_totalprice" * 100).cast("long").as("cents"),
        $"o_orderstatus")
    def slice(pred: org.apache.spark.sql.Column, seq: Int, op: String,
              cents: org.apache.spark.sql.Column,
              st: org.apache.spark.sql.Column) =
      o.where(pred).select($"k", lit(seq).as("seq"), lit(op).as("op"),
        cents.as("cents"), st.as("st"))
    val base = slice($"k" % 10 =!= 4, 0, "I", $"cents", $"o_orderstatus")
    val ins  = slice($"k" % 10 === 4, 1, "I", $"cents", $"o_orderstatus")
    val u1   = slice($"k" % 10 === 2, 1, "U", expr("cents * 11 div 10"), $"o_orderstatus")
    val u2   = slice($"k" % 20 === 2, 2, "U", expr("cents * 121 div 100"), $"o_orderstatus")
    val del  = slice($"k" % 10 === 1, 1, "D", lit(0L), lit("X"))
    base.unionByName(ins).unionByName(u1).unionByName(u2).unionByName(del)
      .groupBy($"k")
      .agg(max_by($"op", $"seq").as("op"),
        max_by($"cents", $"seq").as("cents"),
        max_by($"st", $"seq").as("st"))
      .where($"op" =!= "D")
      .groupBy($"st".as("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum($"cents") / 100.0, 2).as("sum_price"))
      .orderBy($"o_orderstatus")
  }
  val snApplySql: String =
    """WITH o AS (
      |  SELECT o_orderkey AS k, CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
      |         o_orderstatus AS st
      |  FROM orders),
      |base AS (SELECT k, 0 AS seq, 'I' AS op, cents, st FROM o WHERE k % 10 <> 4),
      |cdc AS (
      |  SELECT k, 1, 'I', cents, st FROM o WHERE k % 10 = 4
      |  UNION ALL
      |  SELECT k, 1, 'U', cents * 11 // 10, st FROM o WHERE k % 10 = 2
      |  UNION ALL
      |  SELECT k, 2, 'U', cents * 121 // 100, st FROM o WHERE k % 20 = 2
      |  UNION ALL
      |  SELECT k, 1, 'D', 0, 'X' FROM o WHERE k % 10 = 1),
      |last AS (
      |  SELECT k, max_by(op, seq) AS op, max_by(cents, seq) AS cents, max_by(st, seq) AS st
      |  FROM (SELECT * FROM base UNION ALL SELECT * FROM cdc)
      |  GROUP BY k)
      |SELECT st AS o_orderstatus, count(*) AS n,
      |       round(CAST(sum(cents) AS BIGINT) / 100.0, 2) AS sum_price
      |FROM last WHERE op <> 'D'
      |GROUP BY st ORDER BY o_orderstatus""".stripMargin

  // ----------------------------------------------------------------- export

  // ------------------------------------------------------------- streaks

  /** ev_streak — longest consecutive-active-day streak per user, by the
    * gaps-and-islands anchor: on each user's DISTINCT active days,
    * day − row_number() is constant within a run of consecutive days, so
    * one per-user window plus two keyed counts yields every streak. The
    * engagement metric ("longest streak") product analytics sits next to
    * DAU; pure date/integer arithmetic end to end.
    *
    * Scale shape: the stream collapses to distinct (user, day) in one
    * combine; the window partitions by user (no global sort) over
    * O(active days) rows per user.
    */
  val evStreak: Q = (s, d) => {
    import s.implicits._
    val events = tbl(s, d, "events")
    val days = events.select($"user_id", eventDay(events).as("day")).distinct()
    val w = Window.partitionBy($"user_id").orderBy($"day")
    days
      .withColumn("anchor", date_sub($"day", row_number().over(w)))
      .groupBy($"user_id", $"anchor").agg(count(lit(1)).as("len"))
      .groupBy($"user_id").agg(
        max($"len").as("longest_streak"),
        sum($"len").as("n_active_days"))
      .orderBy($"user_id")
  }
  val evStreakSql: String =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
      |runs AS (
      |  SELECT user_id,
      |         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
      |                    AS INTEGER) AS anchor
      |  FROM days),
      |lens AS (
      |  SELECT user_id, anchor, count(*) AS len FROM runs GROUP BY 1, 2)
      |SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
      |       CAST(sum(len) AS BIGINT) AS n_active_days
      |FROM lens GROUP BY user_id ORDER BY user_id""".stripMargin

  /** ev_attrib — multi-touch conversion attribution: every `purchase` is
    * credited back to the `view`/`click` touchpoints of the SAME user in
    * the preceding 7 days, under the four standard models side by side —
    * first-touch, last-touch, linear, and U-shape/position (40% first,
    * 40% last, 20% split over middles; 1 touch → 100%, 2 → 50/50). The
    * marketing-analytics question ("which channel earns the
    * conversion?") that every event pipeline answers weekly, and the
    * models disagree by design — the gate output exhibits the spread.
    *
    * Scale shape: the touch↔conversion pairing is a USER-keyed equi-join
    * with a range predicate on top — both sides shuffle on user_id once,
    * pairs are bounded per user, never a time-range cross product; the
    * per-conversion rank/count ride ONE window partitioned by
    * (user, conversion). Credits become exact micro-units
    * (round(c·1e6) as BIGINT) before the final aggregation, so the sum
    * is order-free and hash-stable; the 2×4 output rows divide back
    * once.
    */
  val evAttrib: Q = (s, d) => attribution(tbl(s, d, "events"))

  /** Core of [[evAttrib]] over any (user_id, ts, event_type, event_id)
    * stream — split out so specs drive closed-form fixtures through the
    * exact production path.
    */
  def attribution(events: DataFrame): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val ets = eventTs(events)
    val conv = events.where($"event_type" === "purchase")
      .select($"user_id", ets.as("cts"), $"event_id".as("conv_id"))
    val touch = events.where($"event_type".isin("view", "click"))
      .select($"user_id", ets.as("tts"), $"event_type".as("touch_type"),
        $"event_id".as("touch_id"))
    val paired = conv.join(touch, Seq("user_id"))
      .where($"tts" < $"cts" && $"tts" >= $"cts" - expr("INTERVAL 7 DAYS"))
    val w = Window.partitionBy($"user_id", $"conv_id")
    val ranked = paired
      .withColumn("r", row_number().over(w.orderBy($"tts", $"touch_id")))
      .withColumn("n", count(lit(1)).over(w))
    def micro(c: org.apache.spark.sql.Column) = round(c * 1e6).cast("long")
    val credited = ranked.select($"touch_type",
      micro(when($"r" === 1, 1.0).otherwise(0.0)).as("c_first"),
      micro(when($"r" === $"n", 1.0).otherwise(0.0)).as("c_last"),
      micro(lit(1.0) / $"n").as("c_linear"),
      micro(when($"n" === 1, 1.0)
        .when($"n" === 2, 0.5)
        .when($"r" === 1 || $"r" === $"n", 0.4)
        .otherwise(lit(0.2) / ($"n" - 2))).as("c_ushape"))
      .groupBy($"touch_type")
      .agg(sum($"c_first").as("f"), sum($"c_last").as("l"),
        sum($"c_linear").as("li"), sum($"c_ushape").as("u"))
    credited.select($"touch_type", expr(
        "stack(4, 'a_first', f, 'b_last', l, 'c_linear', li, 'd_ushape', u) AS (model, micro)"))
      .select($"model", $"touch_type", round($"micro" / 1e6, 6).as("credit"))
      .orderBy($"model", $"touch_type")
  }
  val evAttribSql: String =
    """WITH conv AS (
      |  SELECT user_id, ts AS cts, event_id AS conv_id FROM events
      |  WHERE event_type = 'purchase'),
      |touch AS (
      |  SELECT user_id, ts AS tts, event_type AS touch_type, event_id AS touch_id
      |  FROM events WHERE event_type IN ('view', 'click')),
      |ranked AS (
      |  SELECT touch_type,
      |         row_number() OVER (PARTITION BY c.user_id, conv_id
      |                            ORDER BY tts, touch_id) AS r,
      |         count(*) OVER (PARTITION BY c.user_id, conv_id) AS n
      |  FROM conv c JOIN touch t ON c.user_id = t.user_id
      |  WHERE tts < cts AND tts >= cts - INTERVAL 7 DAY),
      |credited AS (
      |  SELECT touch_type,
      |         CAST(round(CASE WHEN r = 1 THEN 1.0 ELSE 0.0 END * 1e6) AS BIGINT) AS c_first,
      |         CAST(round(CASE WHEN r = n THEN 1.0 ELSE 0.0 END * 1e6) AS BIGINT) AS c_last,
      |         CAST(round(1.0 / n * 1e6) AS BIGINT) AS c_linear,
      |         CAST(round(CASE WHEN n = 1 THEN 1.0
      |                         WHEN n = 2 THEN 0.5
      |                         WHEN r = 1 OR r = n THEN 0.4
      |                         ELSE 0.2 / (n - 2) END * 1e6) AS BIGINT) AS c_ushape
      |  FROM ranked),
      |agg AS (
      |  SELECT touch_type, sum(c_first) AS f, sum(c_last) AS l,
      |         sum(c_linear) AS li, sum(c_ushape) AS u
      |  FROM credited GROUP BY touch_type),
      |melted AS (
      |  SELECT touch_type, 'a_first' AS model, f AS micro FROM agg
      |  UNION ALL SELECT touch_type, 'b_last', l FROM agg
      |  UNION ALL SELECT touch_type, 'c_linear', li FROM agg
      |  UNION ALL SELECT touch_type, 'd_ushape', u FROM agg)
      |SELECT model, touch_type, round(CAST(micro AS DOUBLE) / 1e6, 6) AS credit
      |FROM melted ORDER BY model, touch_type""".stripMargin

  // --------------------------------------------------- interval overlap join

  /** rj_interval — interval × interval OVERLAP join (the IEJoin /
    * temporal-overlap class: `a.start ≤ b.end AND b.start ≤ a.end`),
    * which the point-probe family (rj_range: point ∈ band; rj_band:
    * |x−y| ≤ w) cannot express — two sets of validity windows, find
    * every concurrent pair. Both sides are order "processing windows":
    * closed day intervals [orderdate, orderdate + 1 + orderkey%7] for
    * two disjoint customer slices.
    *
    * Scale shape: a naive overlap join plans nested-loop; bucketizing
    * time into width-W cells (W = 8 d ≥ the max interval length, so each
    * interval spans ≤ 2 cells) turns it into a hash EQUI-join on the
    * cell id. Dedup without a distinct: an overlapping pair's overlap
    * START max(ls, rs) lies in both intervals, and floor is monotone, so
    * `cell = greatest(floor(ls/W), floor(rs/W))` holds in EXACTLY one
    * joined cell per overlapping pair — the standard one-match guard.
    * Both sides shuffle by cell (co-partitioned, big×big safe); the
    * oracle is the UNPRUNED inequality join, proving the grid cover
    * exact. Long intervals at 100 TB: split into ≤W segments first (the
    * replication factor is len/W, disclosed).
    */
  /** The interval-overlap kernel over arbitrary (key, lo, hi) frames —
    * factored so a planted spec can assert the grid cover against the
    * naive inequality join directly. W must be ≥ the longest interval on
    * either side for the ≤ 2-cells-per-interval bound; correctness holds
    * for ANY W ≥ 1 (longer intervals just replicate into more cells).
    */
  def intervalOverlapJoin(l: DataFrame, r: DataFrame, w: Long): DataFrame = {
    val lc = l.select(col("key").as("l_key"), col("lo").as("ls"), col("hi").as("le"))
      .withColumn("cell", explode(expr(s"sequence(ls div $w, le div $w)")))
    val rc = r.select(col("key").as("r_key"), col("lo").as("rs"), col("hi").as("re"))
      .withColumn("cell", explode(expr(s"sequence(rs div $w, re div $w)")))
    lc.join(rc, Seq("cell"))
      .where(col("ls") <= col("re") && col("rs") <= col("le") &&
        expr(s"cell = greatest(ls, rs) div $w"))
      .select(col("l_key"), col("r_key"), col("ls"), col("le"), col("rs"), col("re"))
  }

  /** The order-processing interval population (o_custkey%20 slice) both
    * rj_interval and rj_allen classify — ONE definition so the two gates
    * can never drift apart on epoch/width/slice.
    */
  private def orderIntervalSide(s: SparkSession, d: String, mod: Long): DataFrame = {
    import s.implicits._
    tbl(s, d, "orders")
      .where($"o_custkey" % 20 === mod)
      .select($"o_orderkey".as("key"),
        datediff($"o_orderdate", to_date(lit("1992-01-01"))).cast("long").as("lo"))
      .withColumn("hi", $"lo" + 1L + $"key" % 7)
  }

  val rjInterval: Q = (s, d) => {
    import s.implicits._
    def side(mod: Long) = orderIntervalSide(s, d, mod)
    intervalOverlapJoin(side(0L), side(10L), w = 8L)
      .select($"l_key".as("l_orderkey"), $"r_key".as("r_orderkey"),
        (least($"le", $"re") - greatest($"ls", $"rs") + 1L).as("overlap_days"))
      .orderBy($"l_orderkey", $"r_orderkey")
  }
  val rjIntervalSql: String =
    """WITH iv AS (
      |  SELECT o_orderkey,
      |         CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS ls,
      |         CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
      |           + 1 + o_orderkey % 7 AS le,
      |         o_custkey % 20 AS m
      |  FROM orders WHERE o_custkey % 20 IN (0, 10))
      |SELECT l.o_orderkey AS l_orderkey, r.o_orderkey AS r_orderkey,
      |       least(l.le, r.re2) - greatest(l.ls, r.rs2) + 1 AS overlap_days
      |FROM (SELECT o_orderkey, ls, le FROM iv WHERE m = 0) l
      |JOIN (SELECT o_orderkey, ls AS rs2, le AS re2 FROM iv WHERE m = 10) r
      |  ON l.ls <= r.re2 AND r.rs2 <= l.le
      |ORDER BY l_orderkey, r_orderkey""".stripMargin

  // ------------------------------------------------- Allen interval algebra

  /** rj_allen — Allen's interval-algebra classification (Allen 1983) of
    * every overlapping pair from the [[rjInterval]] population: the
    * relation vocabulary (equals / contains / during / starts /
    * started_by / finishes / finished_by / meets-at-the-boundary /
    * plain overlap) that temporal reasoning, timeline validation, and
    * bitemporal audits are written in. Emitted as per-relation counts
    * plus min/max overlap lengths — the profile a data-quality reviewer
    * reads (e.g. "why do 30% of processing windows strictly contain
    * another customer's?").
    *
    * Scale shape: rides [[intervalOverlapJoin]]'s cell-grid equi-join
    * unchanged (no new shuffle); the classification is a pure CASE
    * ladder on the four endpoints (first-match-wins, so the categories
    * partition the pairs exactly — same ladder text in both engines);
    * the rollup is O(relations).
    */
  val rjAllen: Q = (s, d) => {
    import s.implicits._
    def side(mod: Long) = orderIntervalSide(s, d, mod)
    intervalOverlapJoin(side(0L), side(10L), w = 8L)
      .withColumn("relation", expr(
        """CASE
          |  WHEN ls = rs AND le = re THEN 'equals'
          |  WHEN ls = rs THEN CASE WHEN le < re THEN 'starts' ELSE 'started_by' END
          |  WHEN le = re THEN CASE WHEN ls > rs THEN 'finishes' ELSE 'finished_by' END
          |  WHEN ls < rs AND le > re THEN 'contains'
          |  WHEN ls > rs AND le < re THEN 'during'
          |  WHEN ls = re OR rs = le THEN 'meets'
          |  ELSE 'overlaps' END""".stripMargin))
      .groupBy($"relation").agg(
        count(lit(1)).as("n_pairs"),
        min(least($"le", $"re") - greatest($"ls", $"rs") + 1L).as("min_overlap"),
        max(least($"le", $"re") - greatest($"ls", $"rs") + 1L).as("max_overlap"))
      .orderBy($"relation")
  }
  val rjAllenSql: String =
    """WITH iv AS (
      |  SELECT o_orderkey,
      |         CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS ls,
      |         CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
      |           + 1 + o_orderkey % 7 AS le,
      |         o_custkey % 20 AS m
      |  FROM orders WHERE o_custkey % 20 IN (0, 10)),
      |pairs AS (
      |  SELECT l.ls, l.le, r.rs2 AS rs, r.re2 AS re
      |  FROM (SELECT ls, le FROM iv WHERE m = 0) l
      |  JOIN (SELECT ls AS rs2, le AS re2 FROM iv WHERE m = 10) r
      |    ON l.ls <= r.re2 AND r.rs2 <= l.le),
      |cls AS (
      |  SELECT CASE
      |           WHEN ls = rs AND le = re THEN 'equals'
      |           WHEN ls = rs THEN CASE WHEN le < re THEN 'starts' ELSE 'started_by' END
      |           WHEN le = re THEN CASE WHEN ls > rs THEN 'finishes' ELSE 'finished_by' END
      |           WHEN ls < rs AND le > re THEN 'contains'
      |           WHEN ls > rs AND le < re THEN 'during'
      |           WHEN ls = re OR rs = le THEN 'meets'
      |           ELSE 'overlaps' END AS relation,
      |         least(le, re) - greatest(ls, rs) + 1 AS ov
      |  FROM pairs)
      |SELECT relation, count(*) AS n_pairs,
      |       min(ov) AS min_overlap, max(ov) AS max_overlap
      |FROM cls GROUP BY relation ORDER BY relation""".stripMargin

  // ---------------------------------------------------- interval concurrency

  /** ev_concurrency — PEAK CONCURRENT INTERVALS per 30-day bucket over
    * the order processing windows ([[rjInterval]]'s interval model, all
    * customers): the sweep-line "how many were open at once" metric
    * behind capacity planning, session-concurrency dashboards, and
    * licence-peak audits. Reported per bucket: peak concurrency, the
    * first day the peak is hit, and interval starts in the bucket.
    *
    * Scale shape: the classic sweep needs a GLOBAL time-ordered scan of
    * 2N boundary events; the Spark-first form collapses boundaries FIRST
    * into the per-day delta histogram (+1 at lo, −1 at hi+1 — ONE keyed
    * map-side-combined aggregation of the corpus), then runs the running
    * sum over the O(days) histogram — a bounded-dimension window (the
    * ts_ewma class; two-level decomposable like w6_prefix_sum if the
    * time domain ever outgrows a partition). Concurrency values are
    * exact BIGINTs; no floats anywhere.
    */
  val evConcurrency: Q = (s, d) => {
    import s.implicits._
    val iv = tbl(s, d, "orders")
      .select($"o_orderkey".as("key"),
        datediff($"o_orderdate", to_date(lit("1992-01-01"))).cast("long").as("lo"))
      .withColumn("hi", $"lo" + 1L + $"key" % 7)
    // zero-delta anchor at every bucket's first day (r12 advice): the
    // carried running sum is then OBSERVED at each bucket start, so a
    // peak reached before the bucket's first boundary event is reported,
    // and boundary-free buckets appear (peak = carried concurrency)
    // instead of being absent. O(buckets) rows — bounded by the time
    // domain, like ev_gapfill's calendar.
    val anchors = iv
      .agg(min($"lo").as("mn"), max($"hi" + 1L).as("mx"))
      .select(explode(sequence(expr("mn div 30"), expr("mx div 30"))).as("bucket"))
      .select(($"bucket" * 30).as("day"), lit(0L).as("delta"), lit(0L).as("is_start"))
    val deltas = iv.select($"lo".as("day"), lit(1L).as("delta"), lit(1L).as("is_start"))
      .unionByName(iv.select(($"hi" + 1L).as("day"), lit(-1L).as("delta"), lit(0L).as("is_start")))
      .unionByName(anchors)
      .groupBy($"day").agg(sum($"delta").as("delta"), sum($"is_start").as("n_starts"))
    val conc = deltas.withColumn("c",
      sum($"delta").over(org.apache.spark.sql.expressions.Window.orderBy($"day")))
    conc.withColumn("bucket", expr("day div 30"))
      .withColumn("pk", max($"c").over(
        org.apache.spark.sql.expressions.Window.partitionBy($"bucket")))
      .groupBy($"bucket").agg(
        max($"c").as("peak"),
        min(when($"c" === $"pk", $"day")).as("peak_day"),
        sum($"n_starts").as("n_starts"))
      .orderBy($"bucket")
  }
  val evConcurrencySql: String =
    """WITH iv AS (
      |  SELECT o_orderkey AS key,
      |         CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT) AS lo,
      |         CAST(date_diff('day', DATE '1992-01-01', o_orderdate) AS BIGINT)
      |           + 1 + o_orderkey % 7 AS hi
      |  FROM orders),
      |anchors AS (
      |  SELECT 30 * unnest(range(CAST(min(lo) // 30 AS BIGINT),
      |                           CAST(max(hi + 1) // 30 AS BIGINT) + 1)) AS day
      |  FROM iv),
      |deltas AS (
      |  SELECT day, CAST(sum(delta) AS BIGINT) AS delta,
      |         CAST(sum(is_start) AS BIGINT) AS n_starts
      |  FROM (SELECT lo AS day, 1 AS delta, 1 AS is_start FROM iv
      |        UNION ALL SELECT hi + 1, -1, 0 FROM iv
      |        UNION ALL SELECT day, 0, 0 FROM anchors)
      |  GROUP BY day),
      |conc AS (
      |  SELECT day, n_starts,
      |         CAST(sum(delta) OVER (ORDER BY day) AS BIGINT) AS c
      |  FROM deltas),
      |mx AS (
      |  SELECT day // 30 AS bucket, day, n_starts, c,
      |         max(c) OVER (PARTITION BY day // 30) AS pk
      |  FROM conc)
      |SELECT bucket, max(c) AS peak,
      |       min(CASE WHEN c = pk THEN day END) AS peak_day,
      |       CAST(sum(n_starts) AS BIGINT) AS n_starts
      |FROM mx GROUP BY bucket ORDER BY bucket""".stripMargin

  val queries: Map[String, Q] = Map(
    "rj_interval"    -> rjInterval,
    "rj_allen"       -> rjAllen,
    "ev_concurrency" -> evConcurrency,
    "ev_attrib"     -> evAttrib,
    "ev_streak"     -> evStreak,
    "w3_sessionize" -> w3Sessionize,
    "aj_asof"       -> ajAsof,
    "rj_range"      -> rjRange,
    "rj_band"       -> rjBand,
    "rj_band_knn"   -> rjBandKnn,
    "rj_band_auto"  -> rjBandAuto,
    "rj_band_conj"  -> rjBandConj,
    "rj_band_between" -> rjBandBetween,
    "str_session"   -> strSession,
    "str_interval"  -> strInterval,
    "ev_retention"  -> evRetention,
    "ev_gapfill"    -> evGapfill,
    "ev_anomaly"    -> evAnomaly,
    "ev_markov"     -> evMarkov,
    "ev_ttc"        -> evTtc,
    "ev_latency"    -> evLatency,
    "ev_dau"        -> evDau,
    "ev_lifecycle"  -> evLifecycle,
    "ev_paths"      -> evPaths,
    "ev_ltv"        -> evLtv,
    "ev_heatmap"    -> evHeatmap,
    "dq_freshness"  -> dqFreshness,
    "sn_scd2"       -> snScd2,
    "sn_bitemporal" -> snBitemporal,
    "sn_asknown"    -> snAsknown,
    "sn_diff"       -> snDiff,
    "sn_apply"      -> snApply,
    "sn_mv_refresh" -> snMvRefresh,
  )

  val oracles: Map[String, String] = Map(
    "w3_sessionize" -> w3SessionizeSql,
    "aj_asof"       -> ajAsofSql,
    "rj_range"      -> rjRangeSql,
    "rj_interval"   -> rjIntervalSql,
    "rj_allen"      -> rjAllenSql,
    "ev_concurrency" -> evConcurrencySql,
    "rj_band"       -> rjBandSql,
    "rj_band_knn"   -> rjBandKnnSql,
    "rj_band_auto"  -> rjBandAutoSql,
    "rj_band_conj"  -> rjBandConjSql,
    "rj_band_between" -> rjBandBetweenSql,
    "str_session"   -> strSessionSql,
    "str_interval"  -> strIntervalSql,
    "ev_attrib"     -> evAttribSql,
    "ev_streak"     -> evStreakSql,
    "ev_retention"  -> evRetentionSql,
    "ev_gapfill"    -> evGapfillSql,
    "ev_anomaly"    -> evAnomalySql,
    "ev_markov"     -> evMarkovSql,
    "ev_ttc"        -> evTtcSql,
    "ev_latency"    -> evLatencySql,
    "ev_dau"        -> evDauSql,
    "ev_lifecycle"  -> evLifecycleSql,
    "ev_paths"      -> evPathsSql,
    "ev_ltv"        -> evLtvSql,
    "ev_heatmap"    -> evHeatmapSql,
    "dq_freshness"  -> dqFreshnessSql,
    "sn_scd2"       -> snScd2Sql,
    "sn_bitemporal" -> snBitemporalSql,
    "sn_asknown"    -> snAsknownSql,
    "sn_diff"       -> snDiffSql,
    "sn_apply"      -> snApplySql,
    "sn_mv_refresh" -> snMvRefreshSql,
  )
}
