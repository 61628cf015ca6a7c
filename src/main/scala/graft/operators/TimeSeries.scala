package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables.{t => tbl}

/** Time-series analytics over the events stream: smoothing (EWMA),
  * autocorrelation (ACF), trend/seasonal decomposition, and CUSUM
  * changepoint scoring. The monitoring layer a pipeline puts over its own
  * throughput counters — "is ingest drifting", "is there a weekly cycle",
  * "when did the level shift" — built the same way the reference's status
  * endpoint aggregates per-chunk counts before deriving lag
  * (`src/app/api/status/route.ts` counts-then-derives; here it is
  * counts-then-smooths/correlates).
  *
  * SCALE SHAPE (shared by all four gates): the raw stream collapses to the
  * O(days) daily-count series in ONE map-side-combined aggregation — the
  * only full-corpus pass. Everything after (windows, self-joins, moment
  * sums) runs on ~a hundred rows, so the global ordered windows hold days,
  * never events, and are bounded at any corpus size (evAnomaly's
  * discipline). Daily counts are BIGINTs, so every moment (Σx, Σx², Σxy)
  * is an order-free exact integer sum; doubles appear only in the final
  * scalar steps, quantized to 6 dp after identical IEEE sequences in both
  * engines.
  */
object TimeSeries {

  type Q = (SparkSession, String) => DataFrame

  /** Daily event counts with a 0-based day index — the shared head of
    * every gate. One shuffle; output O(days).
    *
    * Session-cached as materialized blocks (r18 batch 4): eight ts_
    * gates each re-ran the events scan + daily aggregation per pass —
    * and most reference the series twice inside one plan (stats +
    * scored fan-out), doubling it again — for a 30-row table a
    * production time-series stack materializes once per snapshot (the
    * bigramCounts / lshLabels precedent).
    */
  private def dailyIdx(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.memo(s, "ts_daily_idx", d) {
      val ev = tbl(s, d, "events")
      val day: Column = ev.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          to_date(timestamp_micros(expr("ts div 1000")))
        case _ => to_date(col("ts"))
      }
      ev.select(day.as("day"))
        .groupBy(col("day")).agg(count(lit(1)).as("n"))
        .withColumn("t", row_number().over(Window.orderBy(col("day"))) - 1)
        .localCheckpoint(true)
    }

  private val dailyIdxSql =
    """daily AS (
      |  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1),
      |idx AS (
      |  SELECT day, n, row_number() OVER (ORDER BY day) - 1 AS t FROM daily)""".stripMargin

  // ------------------------------------------------------------------ EWMA

  /** ts_ewma — exponentially-weighted moving average of the daily count,
    * α = 0.3, seeded y₀ = x₀. The recursion y_t = αx_t + (1−α)y_{t−1}
    * unrolls to the CLOSED FORM y_t = (1−α)^t·x₀ + αΣ_{i=1..t}(1−α)^{t−i}x_i,
    * which is a weighted sum over the day-pair triangle — declarative, so
    * both engines compute identical terms instead of one engine folding
    * sequentially. The triangle self-join is O(days²) on the POST-AGG
    * series (~8k pairs for a quarter of data) — a deliberate trade: at any
    * corpus scale the quadratic part never touches events, and Catalyst
    * broadcasts the ~kB series to itself.
    */
  val tsEwma: Q = (s, d) => {
    val idx = dailyIdx(s, d)
    val b = idx.select(col("day"), col("n"), col("t"))
    val a = idx.select(col("t").as("i"), col("n").as("xi"))
    b.join(a, a("i") <= b("t"))
      .withColumn("w",
        when(col("i") === 0, pow(lit(0.7), col("t")))
          .otherwise(lit(0.3) * pow(lit(0.7), col("t") - col("i"))))
      .groupBy(col("day"), col("n"))
      .agg(round(sum(col("w") * col("xi")), 6).as("ewma"))
      .orderBy(col("day"))
  }
  val tsEwmaSql: String =
    s"""WITH $dailyIdxSql
       |SELECT b.day, b.n,
       |       round(sum(CASE WHEN a.t = 0 THEN power(0.7, b.t)
       |                      ELSE 0.3 * power(0.7, b.t - a.t) END * a.n), 6) AS ewma
       |FROM idx b JOIN idx a ON a.t <= b.t
       |GROUP BY b.day, b.n ORDER BY b.day""".stripMargin

  // -------------------------------------------- Holt / double exponential

  /** ts_holt — trend-aware smoothing of the daily count by Brown's double
    * exponential method (the equal-parameter member of the Holt family):
    * S1 = EWMA(x), S2 = EWMA(S1), level = 2·S1 − S2,
    * trend = α/(1−α)·(S1 − S2), one-step forecast = level + trend. Where
    * [[tsEwma]] lags behind a drifting series by design, this extrapolates
    * the drift — the capacity-planning read over ingest counters.
    *
    * Both recursions unroll to CLOSED-FORM weights over the day-pair
    * triangle (seeded S1₀ = S2₀ = x₀):
    * w1(t,i) = α(1−α)^{t−i} (i≥1), w1(t,0) = (1−α)^t;
    * w2(t,i) = α²(t−i+1)(1−α)^{t−i} (i≥1), w2(t,0) = (1+tα)(1−α)^t —
    * declarative weighted sums, so both engines compute identical terms
    * instead of folding sequentially. Each term quantizes to 9 dp before
    * the fold (st_chisq's rule), outputs to 6 dp. α is 0.3; α² is written
    * `0.3*0.3` in BOTH engines (the literal 0.09 is a different double).
    *
    * Scale shape: tsEwma's — the corpus collapses to O(days) once, the
    * O(days²) triangle never touches events.
    */
  val tsHolt: Q = (s, d) => {
    val idx = dailyIdx(s, d)
    val b = idx.select(col("day"), col("n"), col("t"))
    val a = idx.select(col("t").as("i"), col("n").as("xi"))
    val k = col("t") - col("i")
    val alpha = lit(0.3)
    val a2 = lit(0.3) * lit(0.3)
    val sm = b.join(a, a("i") <= b("t"))
      .withColumn("s1term", round(
        when(col("i") === 0, pow(lit(0.7), col("t")))
          .otherwise(alpha * pow(lit(0.7), k)) * col("xi"), 9))
      .withColumn("s2term", round(
        when(col("i") === 0, (lit(1.0) + alpha * col("t")) * pow(lit(0.7), col("t")))
          .otherwise(a2 * (k + 1) * pow(lit(0.7), k)) * col("xi"), 9))
      .groupBy(col("day"), col("n"))
      .agg(sum(col("s1term")).as("s1"), sum(col("s2term")).as("s2"))
    sm.select(col("day"), col("n"),
        round(lit(2.0) * col("s1") - col("s2"), 6).as("level"),
        round(lit(0.3) / lit(0.7) * (col("s1") - col("s2")), 6).as("trend"),
        round(lit(2.0) * col("s1") - col("s2") +
          lit(0.3) / lit(0.7) * (col("s1") - col("s2")), 6).as("forecast"))
      .orderBy(col("day"))
  }
  val tsHoltSql: String =
    s"""WITH $dailyIdxSql,
       |tri AS (
       |  SELECT b.day, b.n,
       |         round(CASE WHEN a.t = 0 THEN power(0.7, b.t)
       |                    ELSE 0.3 * power(0.7, b.t - a.t) END * a.n, 9) AS s1term,
       |         round(CASE WHEN a.t = 0 THEN (1.0 + 0.3 * b.t) * power(0.7, b.t)
       |                    ELSE 0.3 * 0.3 * (b.t - a.t + 1) * power(0.7, b.t - a.t)
       |               END * a.n, 9) AS s2term
       |  FROM idx b JOIN idx a ON a.t <= b.t),
       |sm AS (
       |  SELECT day, n, sum(s1term) AS s1, sum(s2term) AS s2
       |  FROM tri GROUP BY day, n)
       |SELECT day, n,
       |       round(2.0 * s1 - s2, 6) AS level,
       |       round(0.3 / 0.7 * (s1 - s2), 6) AS trend,
       |       round(2.0 * s1 - s2 + 0.3 / 0.7 * (s1 - s2), 6) AS forecast
       |FROM sm ORDER BY day""".stripMargin

  // -------------------------------------------------------------- backtest

  /** ts_backtest — one-step-ahead forecast evaluation: walk the daily
    * series, compare [[tsHolt]]'s forecast made at day t against the
    * actual count at t+1, and report its MAE next to the PERSISTENCE
    * baseline (forecast = today's value) — the "is the model worth its
    * complexity" check every forecasting deployment owes itself (a
    * smoother that cannot beat persistence is overhead). Emits both MAEs
    * and the skill ratio.
    *
    * Shape: the holt table is O(days); actuals arrive by one lead()
    * window over it; per-day absolute errors quantize to 6 dp and sum as
    * DECIMAL(18,6) — order-free — with one final division each.
    */
  val tsBacktest: Q = (s, d) => {
    val w = Window.orderBy(col("day"))
    val fc = tsHolt(s, d)
      .withColumn("next_n", lead(col("n"), 1).over(w))
      .where(col("next_n").isNotNull)
      .select(
        round(abs(col("forecast") - col("next_n")), 6)
          .cast("decimal(18,6)").as("e_holt"),
        round(abs(col("n") - col("next_n")).cast("double"), 6)
          .cast("decimal(18,6)").as("e_persist"))
    fc.agg(count(lit(1)).as("n_days"),
        sum(col("e_holt")).as("se_h"), sum(col("e_persist")).as("se_p"))
      .select(col("n_days"),
        round(col("se_h").cast("double") / col("n_days"), 6).as("mae_holt"),
        round(col("se_p").cast("double") / col("n_days"), 6).as("mae_persistence"),
        round(col("se_h").cast("double") / col("se_p").cast("double"), 6).as("skill"))
  }
  val tsBacktestSql: String =
    s"""WITH $dailyIdxSql,
       |tri AS (
       |  SELECT b.day, b.n,
       |         round(CASE WHEN a.t = 0 THEN power(0.7, b.t)
       |                    ELSE 0.3 * power(0.7, b.t - a.t) END * a.n, 9) AS s1term,
       |         round(CASE WHEN a.t = 0 THEN (1.0 + 0.3 * b.t) * power(0.7, b.t)
       |                    ELSE 0.3 * 0.3 * (b.t - a.t + 1) * power(0.7, b.t - a.t)
       |               END * a.n, 9) AS s2term
       |  FROM idx b JOIN idx a ON a.t <= b.t),
       |sm AS (
       |  SELECT day, n, sum(s1term) AS s1, sum(s2term) AS s2
       |  FROM tri GROUP BY day, n),
       |fc AS (
       |  SELECT day, n,
       |         round(2.0 * s1 - s2 + 0.3 / 0.7 * (s1 - s2), 6) AS forecast
       |  FROM sm),
       |err AS (
       |  SELECT CAST(round(abs(forecast - next_n), 6) AS DECIMAL(18,6)) AS e_holt,
       |         CAST(round(abs(CAST(n - next_n AS DOUBLE)), 6) AS DECIMAL(18,6)) AS e_persist
       |  FROM (SELECT day, n, forecast,
       |               lead(n) OVER (ORDER BY day) AS next_n FROM fc)
       |  WHERE next_n IS NOT NULL)
       |SELECT count(*) AS n_days,
       |       round(CAST(sum(e_holt) AS DOUBLE) / count(*), 6) AS mae_holt,
       |       round(CAST(sum(e_persist) AS DOUBLE) / count(*), 6) AS mae_persistence,
       |       round(CAST(sum(e_holt) AS DOUBLE) / CAST(sum(e_persist) AS DOUBLE), 6)
       |         AS skill
       |FROM err""".stripMargin

  // ------------------------------------------------------------------- ACF

  /** ts_acf — autocorrelation of the daily series at lags 1..7: Pearson r
    * between (x_t, x_{t−L}) over the overlapping range, the "is there a
    * weekly cycle / how sticky is load" diagnostic. Each lag's moments
    * (n, Σx, Σy, Σx², Σy², Σxy) are exact BIGINT sums over lag-window
    * pairs; the seven lag columns ride ONE ordered window pass and unpivot
    * via `stack` (dq_corr's one-scan discipline), so the corpus is touched
    * once and the window holds O(days) rows.
    */
  val tsAcf: Q = (s, d) => {
    val w = Window.orderBy(col("day"))
    val lags = (1 to 7)
    val withLags = lags.foldLeft(dailyIdx(s, d)) { (df, l) =>
      df.withColumn(s"y$l", lag(col("n"), l).over(w))
    }
    val stackArgs = lags.map(l => s"$l, n, y$l").mkString(", ")
    withLags
      .select(expr(s"stack(7, $stackArgs) AS (lag, x, y)"))
      .where(col("y").isNotNull)
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("lag"), col("m"),
        round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt(((col("m") * col("sxx") - col("sx") * col("sx")) *
            (col("m") * col("syy") - col("sy") * col("sy"))).cast("double")), 6)
          .as("acf"))
      .orderBy(col("lag"))
  }
  val tsAcfSql: String = {
    val lagCols = (1 to 7)
      .map(l => s"lag(n, $l) OVER (ORDER BY day) AS y$l").mkString(",\n       |         ")
    val unions = (1 to 7)
      .map(l => s"SELECT $l AS lag, n AS x, y$l AS y FROM lagged WHERE y$l IS NOT NULL")
      .mkString("\n       |  UNION ALL ")
    s"""WITH $dailyIdxSql,
       |lagged AS (
       |  SELECT day, n,
       |         $lagCols
       |  FROM idx),
       |pairs AS (
       |  $unions),
       |mom AS (
       |  SELECT lag, count(*) AS m, sum(x) AS sx, sum(y) AS sy,
       |         sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
       |  FROM pairs GROUP BY lag)
       |SELECT lag, m,
       |       round(CAST(m*sxy - sx*sy AS DOUBLE)
       |             / sqrt(CAST((m*sxx - sx*sx) * (m*syy - sy*sy) AS DOUBLE)), 6) AS acf
       |FROM mom ORDER BY lag""".stripMargin
  }

  // ----------------------------------------------------------- decomposition

  /** ts_decompose — classical additive decomposition of the daily series:
    * trend = centered 7-day moving average (full windows only — edges stay
    * NULL rather than biased), seasonal = day-of-week mean of the detrended
    * series, residual = the rest. The "is Monday really bigger or is that
    * the trend" separation behind capacity planning and anomaly baselines.
    *
    * Day-of-week is Spark `weekday` (0=Monday) mirrored by DuckDB
    * `isodow−1` — the one calendar convention both engines state exactly.
    * Trend is an exact Σ/7 on BIGINTs; seasonal means average ≤6-dp
    * doubles (order noise ~1e−13, quantized to 6 dp).
    */
  val tsDecompose: Q = (s, d) => {
    val w7 = Window.orderBy(col("day")).rowsBetween(-3, 3)
    val base = dailyIdx(s, d)
      .withColumn("s7", sum(col("n")).over(w7))
      .withColumn("m7", count(lit(1)).over(w7))
      .withColumn("trend",
        when(col("m7") === 7, round(col("s7").cast("double") / 7.0, 6)))
      .withColumn("dow", weekday(col("day")).cast("long")) // DuckDB isodow is BIGINT
      .withColumn("detr", col("n") - col("trend"))
    val seasonal = base.where(col("detr").isNotNull)
      .groupBy(col("dow")).agg(round(avg(col("detr")), 6).as("seasonal"))
    base.join(broadcast(seasonal), Seq("dow"))
      .select(col("day"), col("n"), col("trend"), col("dow"), col("seasonal"),
        round(col("detr") - col("seasonal"), 6).as("resid"))
      .orderBy(col("day"))
  }
  val tsDecomposeSql: String =
    s"""WITH $dailyIdxSql,
       |ma AS (
       |  SELECT day, n, isodow(day) - 1 AS dow,
       |         sum(n)   OVER w AS s7,
       |         count(*) OVER w AS m7
       |  FROM idx WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
       |tr AS (
       |  SELECT day, n, dow,
       |         CASE WHEN m7 = 7 THEN round(CAST(s7 AS DOUBLE) / 7.0, 6) END AS trend
       |  FROM ma),
       |dt AS (SELECT *, n - trend AS detr FROM tr),
       |seas AS (
       |  SELECT dow, round(avg(detr), 6) AS seasonal
       |  FROM dt WHERE detr IS NOT NULL GROUP BY dow)
       |SELECT d.day, d.n, d.trend, d.dow, s.seasonal,
       |       round(d.detr - s.seasonal, 6) AS resid
       |FROM dt d JOIN seas s ON d.dow = s.dow
       |ORDER BY d.day""".stripMargin

  // ----------------------------------------------------------------- CUSUM

  /** ts_cusum — standardized cumulative-sum changepoint score: S_t =
    * Σ_{i≤t}(x_i − μ)/σ with the global μ, σ from exact moment sums; the
    * day where |S| peaks is the level-shift candidate (classic Page CUSUM
    * read). The running sum is a PREFIX window — both engines fold it in
    * day order, so the float sequence is identical, then quantizes.
    * μ, σ ride a 1-row broadcast join onto the series.
    */
  val tsCusum: Q = (s, d) => {
    val idx = dailyIdx(s, d)
    val stats = idx.agg(count(lit(1)).as("m"),
        sum(col("n")).as("s1"), sum(col("n") * col("n")).as("s2"))
      .select((col("s1").cast("double") / col("m")).as("mu"),
        sqrt((col("s2") - (col("s1") * col("s1")).cast("double") / col("m"))
          .cast("double") / col("m")).as("sigma"))
    val run = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = idx.crossJoin(broadcast(stats))
      .withColumn("cusum", round(sum(col("n") - col("mu")).over(run) / col("sigma"), 6))
    val peak = scored.agg(max(abs(col("cusum"))).as("peak"))
    scored.crossJoin(broadcast(peak))
      .select(col("day"), col("n"), col("cusum"),
        (abs(col("cusum")) === col("peak")).as("is_changepoint"))
      .orderBy(col("day"))
  }
  val tsCusumSql: String =
    s"""WITH $dailyIdxSql,
       |st AS (
       |  SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mu,
       |         sqrt(CAST(sum(n*n) - CAST(sum(n)*sum(n) AS DOUBLE) / count(*) AS DOUBLE)
       |              / count(*)) AS sigma
       |  FROM idx),
       |run AS (
       |  SELECT day, n,
       |         round(sum(n - mu) OVER (ORDER BY day
       |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / sigma, 6) AS cusum
       |  FROM idx, st),
       |pk AS (SELECT max(abs(cusum)) AS peak FROM run)
       |SELECT day, n, cusum, abs(cusum) = peak AS is_changepoint
       |FROM run, pk ORDER BY day""".stripMargin

  // ----------------------------------------------------------- periodogram

  /** ts_periodogram — Fourier power at candidate integer periods 2..14
    * days over the daily-count series: P(p) = S_c² + S_s² with
    * S_c = Σ_t n_t·cos(2πt/p), S_s = Σ_t n_t·sin(2πt/p), normalized by
    * N². The spectral way to ASK "is there a weekly cycle" rather than
    * assume it — ts_decompose hard-codes period 7; this is the operator
    * that justifies the 7 (the power column peaks at the true period).
    * A full FFT is overkill for candidate-period screening: this is the
    * Goertzel-style direct evaluation, O(days × candidate periods).
    *
    * Determinism: cos/sin outputs are quantized to 9 dp (JVM Math.cos vs
    * C libm can differ in the last ulp), each n_t·cos term to 6 dp, and
    * the sums ride DECIMAL(18,6) — order-free — with the squaring done
    * once on the exact totals. Scale: the events stream collapses to
    * O(days) in one map-side-combined agg; the trig table is
    * O(days × 13) — bounded by calendar length, never corpus size.
    */
  val tsPeriodogram: Q = (s, d) => {
    val days = dailyIdx(s, d)
    val nDays = days.agg(count(lit(1)).as("nd"))
    val terms = days
      .select(col("t"), col("n"), explode(sequence(lit(2L), lit(14L))).as("p"))
      .select(col("p"),
        round(col("n") * round(
          cos(lit(2.0) * lit(math.Pi) * col("t") / col("p")), 9), 6)
          .cast("decimal(18,6)").as("tc"),
        round(col("n") * round(
          sin(lit(2.0) * lit(math.Pi) * col("t") / col("p")), 9), 6)
          .cast("decimal(18,6)").as("ts"))
    terms.groupBy(col("p"))
      .agg(sum(col("tc")).as("sc"), sum(col("ts")).as("ss"))
      .crossJoin(broadcast(nDays))
      .select(col("p"),
        round(col("sc").cast("double"), 4).as("sc"),
        round(col("ss").cast("double"), 4).as("ss"),
        round((col("sc").cast("double") * col("sc").cast("double") +
          col("ss").cast("double") * col("ss").cast("double")) /
          (col("nd") * col("nd")).cast("double"), 6).as("power"))
      .orderBy(col("p"))
  }
  val tsPeriodogramSql: String =
    s"""WITH $dailyIdxSql,
       |terms AS (
       |  SELECT p,
       |         CAST(round(n * round(cos(2.0 * pi() * t / p), 9), 6) AS DECIMAL(18,6)) AS tc,
       |         CAST(round(n * round(sin(2.0 * pi() * t / p), 9), 6) AS DECIMAL(18,6)) AS ts
       |  FROM idx, (SELECT unnest(range(2, 15)) AS p)),
       |nd AS (SELECT count(*) AS nd FROM idx),
       |sums AS (SELECT p, sum(tc) AS sc, sum(ts) AS ss FROM terms GROUP BY p)
       |SELECT p, round(CAST(sc AS DOUBLE), 4) AS sc, round(CAST(ss AS DOUBLE), 4) AS ss,
       |       round((CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
       |              + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE))
       |             / CAST(nd * nd AS DOUBLE), 6) AS power
       |FROM sums, nd ORDER BY p""".stripMargin

  // ----------------------------------------------------------- AR(2) fit

  /** ts_ar2 — Yule–Walker AR(2) fit of the daily series plus its
    * in-sample one-step error: the minimal autoregressive forecaster
    * (and the standard "is yesterday+day-before enough" baseline every
    * forecasting bake-off starts from). φ₁ = r₁(1−r₂)/(1−r₁²),
    * φ₂ = (r₂−r₁²)/(1−r₁²) from the lag-1/lag-2 autocorrelations,
    * intercept c = μ(1−φ₁−φ₂); the lag correlations reuse ts_acf's
    * exact-BIGINT moment estimator (a disclosed estimator choice — the
    * overlapping-pair Pearson r, not the /n biased autocovariance).
    *
    * Everything runs on the O(days) daily aggregate: one ordered window
    * pass for both lags, exact integer moments, the 2-lag moment table
    * pivoted to one parameter row, and the prediction sweep re-joins the
    * parameters as the declared ONE-ROW scalar crossJoin. Per-day
    * squared errors are quantized to 6 dp and summed as DECIMAL(28,6)
    * (order-free) before the single final sqrt.
    */
  val tsAr2: Q = (s, d) => {
    val w = Window.orderBy(col("day"))
    val lagged = dailyIdx(s, d)
      .withColumn("y1", lag(col("n"), 1).over(w))
      .withColumn("y2", lag(col("n"), 2).over(w))
      .localCheckpoint()
    val mom = lagged
      .select(expr("stack(2, 1, n, y1, 2, n, y2) AS (lag, x, y)"))
      .where(col("y").isNotNull)
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("m"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("lag"),
        round((col("m") * col("sxy") - col("sx") * col("sy")).cast("double") /
          sqrt(((col("m") * col("sxx") - col("sx") * col("sx")) *
            (col("m") * col("syy") - col("sy") * col("sy"))).cast("double")), 6)
          .as("r"))
    val mu = dailyIdx(s, d).agg(
      (sum(col("n")).cast("double") / count(lit(1))).as("mu"))
    val params = mom
      .agg(max(when(col("lag") === 1, col("r"))).as("r1"),
        max(when(col("lag") === 2, col("r"))).as("r2"))
      .crossJoin(mu)
      .select(col("r1"), col("r2"), col("mu"),
        round((col("r1") * (lit(1.0) - col("r2"))) /
          (lit(1.0) - col("r1") * col("r1")), 9).as("phi1"),
        round((col("r2") - col("r1") * col("r1")) /
          (lit(1.0) - col("r1") * col("r1")), 9).as("phi2"))
      .select(col("r1"), col("r2"), col("phi1"), col("phi2"),
        round(col("mu") * (lit(1.0) - col("phi1") - col("phi2")), 9).as("c"))
    lagged.where(col("y2").isNotNull)
      .crossJoin(broadcast(params))
      .withColumn("e2", round(
        (col("n") - (col("c") + col("phi1") * col("y1") + col("phi2") * col("y2"))) *
          (col("n") - (col("c") + col("phi1") * col("y1") + col("phi2") * col("y2"))), 6)
        .cast("decimal(28,6)"))
      .groupBy(col("r1"), col("r2"), col("phi1"), col("phi2"), col("c"))
      .agg(count(lit(1)).as("m"),
        round(sqrt(sum(col("e2")).cast("double") / count(lit(1))), 6).as("rmse"))
      .select(col("phi1"), col("phi2"), col("c"), col("m"), col("rmse"))
  }
  val tsAr2Sql: String =
    s"""WITH $dailyIdxSql,
       |lagged AS (
       |  SELECT day, n,
       |         lag(n, 1) OVER (ORDER BY day) AS y1,
       |         lag(n, 2) OVER (ORDER BY day) AS y2
       |  FROM idx),
       |mom AS (
       |  SELECT lag, count(*) AS m, sum(x) AS sx, sum(y) AS sy,
       |         sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
       |  FROM (SELECT 1 AS lag, n AS x, y1 AS y FROM lagged WHERE y1 IS NOT NULL
       |        UNION ALL
       |        SELECT 2 AS lag, n AS x, y2 AS y FROM lagged WHERE y2 IS NOT NULL)
       |  GROUP BY lag),
       |acf AS (
       |  SELECT lag,
       |         round(CAST(m*sxy - sx*sy AS DOUBLE)
       |               / sqrt(CAST((m*sxx - sx*sx) * (m*syy - sy*sy) AS DOUBLE)), 6)
       |           AS r
       |  FROM mom),
       |mu AS (SELECT CAST(sum(n) AS DOUBLE) / count(*) AS mu FROM idx),
       |p0 AS (
       |  SELECT max(CASE WHEN lag = 1 THEN r END) AS r1,
       |         max(CASE WHEN lag = 2 THEN r END) AS r2
       |  FROM acf),
       |p1 AS (
       |  SELECT r1, r2, mu,
       |         round((r1 * (1.0 - r2)) / (1.0 - r1 * r1), 9) AS phi1,
       |         round((r2 - r1 * r1) / (1.0 - r1 * r1), 9) AS phi2
       |  FROM p0, mu),
       |params AS (
       |  SELECT r1, r2, phi1, phi2,
       |         round(mu * (1.0 - phi1 - phi2), 9) AS c
       |  FROM p1)
       |SELECT phi1, phi2, c, count(*) AS m,
       |       round(sqrt(CAST(sum(CAST(round(
       |               (n - (c + phi1*y1 + phi2*y2)) * (n - (c + phi1*y1 + phi2*y2)),
       |               6) AS DECIMAL(28,6))) AS DOUBLE) / count(*)), 6) AS rmse
       |FROM lagged, params
       |WHERE y2 IS NOT NULL
       |GROUP BY phi1, phi2, c
       |ORDER BY phi1""".stripMargin

  val queries: Map[String, Q] = Map(
    "ts_ar2"       -> tsAr2,
    "ts_ewma"      -> tsEwma,
    "ts_holt"      -> tsHolt,
    "ts_backtest"  -> tsBacktest,
    "ts_acf"       -> tsAcf,
    "ts_decompose" -> tsDecompose,
    "ts_cusum"     -> tsCusum,
    "ts_periodogram" -> tsPeriodogram,
  )

  val oracles: Map[String, String] = Map(
    "ts_ar2"       -> tsAr2Sql,
    "ts_ewma"      -> tsEwmaSql,
    "ts_holt"      -> tsHoltSql,
    "ts_backtest"  -> tsBacktestSql,
    "ts_acf"       -> tsAcfSql,
    "ts_decompose" -> tsDecomposeSql,
    "ts_cusum"     -> tsCusumSql,
    "ts_periodogram" -> tsPeriodogramSql,
  )
}
