package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Pins
import graft.Tables.{t => tbl}

/** Inferential statistics over the warehouse tables: Welch's t-test,
  * chi-square independence, per-group OLS regression, and Kaplan-Meier
  * survival. The experimentation/causal layer every analytics engine ends
  * up hosting — "did segment A really out-spend B", "is event mix
  * independent of weekday", "what drives revenue per unit", "how long do
  * users survive before churning".
  *
  * EXACTNESS DISCIPLINE (dq_corr's): every moment (n, Σx, Σx², Σxy) is
  * either a BIGINT count or a sum of decimal(17,4)-quantized values —
  * order-free and bit-identical across engines; doubles appear only in the
  * final scalar formulas (t, χ², slope, S(t)), each a short identical IEEE
  * sequence quantized to 6 dp (4 dp for the large-magnitude Welch df).
  * Every gate collapses the fact table in ONE map-side-combined
  * aggregation; the statistics run on O(groups) rows after.
  */
object Stats {

  type Q = (SparkSession, String) => DataFrame

  private def dec(c: Column): Column = c.cast("decimal(17,4)")

  // ------------------------------------------------------------ Welch t-test

  /** st_ttest — Welch's unequal-variance t between every pair of customer
    * market segments on account balance: t, the Welch-Satterthwaite df,
    * and the |t| ranking. The classic A/B read where group sizes and
    * variances differ. One aggregation builds the 5-row moment table; the
    * 10 pairs come from a self-join on segment order (broadcast — the
    * moment table is bytes).
    */
  val stTtest: Q = (s, d) => {
    val m = tbl(s, d, "customer")
      .groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"), sum(dec(col("c_acctbal"))).as("sx"),
        sum(dec(col("c_acctbal")) * dec(col("c_acctbal"))).as("sxx"))
      .select(col("seg"), col("n"),
        (col("sx").cast("double") / col("n")).as("mean"),
        ((col("sxx") - (col("sx") * col("sx")).cast("double") / col("n"))
          .cast("double") / (col("n") - 1)).as("v"))
    val a = m.select(col("seg").as("seg_a"), col("n").as("na"),
      col("mean").as("ma"), col("v").as("va"))
    val b = m.select(col("seg").as("seg_b"), col("n").as("nb"),
      col("mean").as("mb"), col("v").as("vb"))
    val se2 = col("va") / col("na") + col("vb") / col("nb")
    a.join(b, col("seg_a") < col("seg_b"))
      .select(col("seg_a"), col("seg_b"),
        round((col("ma") - col("mb")) / sqrt(se2), 6).as("t_stat"),
        round((se2 * se2) /
          ((col("va") / col("na")) * (col("va") / col("na")) / (col("na") - 1) +
           (col("vb") / col("nb")) * (col("vb") / col("nb")) / (col("nb") - 1)), 4)
          .as("welch_df"))
      .orderBy(col("seg_a"), col("seg_b"))
  }
  val stTtestSql: String =
    """WITH m AS (
      |  SELECT c_mktsegment AS seg, count(*) AS n,
      |         sum(CAST(c_acctbal AS DECIMAL(19,4))) AS sx,
      |         sum(CAST(c_acctbal AS DECIMAL(19,4)) * CAST(c_acctbal AS DECIMAL(19,4))) AS sxx
      |  FROM customer GROUP BY 1),
      |st AS (
      |  SELECT seg, n, CAST(sx AS DOUBLE) / n AS mean,
      |         CAST(sxx - CAST(sx*sx AS DOUBLE) / n AS DOUBLE) / (n - 1) AS v
      |  FROM m)
      |SELECT a.seg AS seg_a, b.seg AS seg_b,
      |       round((a.mean - b.mean) / sqrt(a.v/a.n + b.v/b.n), 6) AS t_stat,
      |       round(((a.v/a.n + b.v/b.n) * (a.v/a.n + b.v/b.n)) /
      |             ((a.v/a.n)*(a.v/a.n)/(a.n-1) + (b.v/b.n)*(b.v/b.n)/(b.n-1)), 4)
      |         AS welch_df
      |FROM st a JOIN st b ON a.seg < b.seg
      |ORDER BY seg_a, seg_b""".stripMargin

  // --------------------------------------------------- chi-square independence

  /** st_chisq — χ² test of independence between event type and day-of-week:
    * observed 5×7 contingency counts vs the independence expectation
    * E = row·col/N, plus Cramér's V effect size. The "is traffic mix a
    * weekday artifact" screen; on this generator types are drawn i.i.d. of
    * time, so V ≈ 0 — the gate proves the measurement, not a dependence.
    * All counts are exact BIGINTs from one aggregation; χ² folds the 35
    * cells' double contributions in a deterministic keyed sum (each cell's
    * contribution quantized to 9 dp first, so the 35-term fold is exact).
    */
  val stChisq: Q = (s, d) => {
    val ev = tbl(s, d, "events")
    val day: Column = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        to_date(timestamp_micros(expr("ts div 1000")))
      case _ => to_date(col("ts"))
    }
    // Pin the contingency grid (r18 batch 2, guide §2.4): `seen` fans out
    // into the grid rebuild (3 refs) and `cells` into the four marginal/
    // total/χ² consumers — unpinned, Catalyst replicated the events scan
    // + aggregation into every branch (measured plan: 54 Exchanges /
    // 24 scans for a 35-row grid). Both tables are O(|types|·7) at any
    // corpus size, so the eager checkpoints are scale-safe by bound.
    val seen = Pins(ev.select(col("event_type"), weekday(day).cast("long").as("dow"))
      .groupBy(col("event_type"), col("dow")).agg(count(lit(1)).as("o")))
    // χ² sums over EVERY grid cell — a (type, dow) pair with zero observed
    // rows still contributes (0−E)²/E, so rebuild the full cross product
    // and coalesce the missing counts (a groupBy alone silently drops them).
    val cells = Pins(seen.select(col("event_type")).distinct()
      .crossJoin(seen.select(col("dow")).distinct())
      .join(seen, Seq("event_type", "dow"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L))))
    val rowT = cells.groupBy(col("event_type")).agg(sum(col("o")).as("rt"))
    val colT = cells.groupBy(col("dow")).agg(sum(col("o")).as("ct"))
    val tot = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("event_type")).as("r"), countDistinct(col("dow")).as("c"))
    cells.join(broadcast(rowT), Seq("event_type"))
      .join(broadcast(colT), Seq("dow"))
      .crossJoin(broadcast(tot))
      .withColumn("e", (col("rt") * col("ct")).cast("double") / col("n"))
      .withColumn("contrib",
        round((col("o") - col("e")) * (col("o") - col("e")) / col("e"), 9))
      .groupBy(col("n"), col("r"), col("c"))
      .agg(round(sum(col("contrib")), 6).as("chi2"))
      .select(col("n"), ((col("r") - 1) * (col("c") - 1)).as("dof"),
        col("chi2"),
        round(sqrt(col("chi2") / (col("n") * least(col("r") - 1, col("c") - 1))), 6)
          .as("cramers_v"))
  }
  val stChisqSql: String =
    """WITH seen AS (
      |  SELECT event_type, CAST(isodow(CAST(ts AS DATE)) - 1 AS BIGINT) AS dow,
      |         count(*) AS o
      |  FROM events GROUP BY 1, 2),
      |cells AS (
      |  SELECT g.event_type, g.dow, coalesce(seen.o, 0) AS o
      |  FROM (SELECT t.event_type, w.dow
      |        FROM (SELECT DISTINCT event_type FROM seen) t,
      |             (SELECT DISTINCT dow FROM seen) w) g
      |  LEFT JOIN seen ON seen.event_type = g.event_type AND seen.dow = g.dow),
      |rt AS (SELECT event_type, sum(o) AS rt FROM cells GROUP BY 1),
      |ct AS (SELECT dow, sum(o) AS ct FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n, count(DISTINCT event_type) AS r,
      |               count(DISTINCT dow) AS c FROM cells),
      |contrib AS (
      |  SELECT tot.n, tot.r, tot.c,
      |         round((cells.o - CAST(rt.rt*ct.ct AS DOUBLE)/tot.n)
      |               * (cells.o - CAST(rt.rt*ct.ct AS DOUBLE)/tot.n)
      |               / (CAST(rt.rt*ct.ct AS DOUBLE)/tot.n), 9) AS x
      |  FROM cells JOIN rt USING (event_type) JOIN ct USING (dow), tot)
      |SELECT n, (r-1)*(c-1) AS dof, round(sum(x), 6) AS chi2,
      |       round(sqrt(sum(x) / (n * least(r-1, c-1))), 6) AS cramers_v
      |FROM contrib GROUP BY n, r, c""".stripMargin

  // --------------------------------------------------------- OLS regression

  /** st_linreg — per-returnflag ordinary least squares of line revenue
    * (extendedprice·(1−discount)) on quantity: slope, intercept, and r².
    * The "what does one more unit earn" read, grouped so Simpson-style
    * flag differences surface. Five moment sums per group in one scan
    * (dq_corr's decimal quantization); the closed-form solution is four
    * double ops per group.
    */
  val stLinreg: Q = (s, d) => {
    // r18: dq_corr's long-moment rewrite (see Audit.corrMatrix) — the
    // 4-dp quantization becomes an unscaled LONG (floor(v·10⁴ + 0.5) ≡
    // the decimal(17,4) cast for these nonnegative ≤4-dp-rational
    // measures), each product splits into (div 10⁹, mod 10⁹) long halves
    // so no sum overflows through sf1000, and the per-GROUP output rows
    // recombine the halves in exact decimal before the same
    // double-first closed form. Values and the unchanged oracle's hash
    // are identical; the scan no longer routes 5 products + 5 sums per
    // row through BigDecimal.
    val B = 1000000000L
    val li = tbl(s, d, "lineitem")
      .withColumn("rev", col("l_extendedprice") * (lit(1.0) - col("l_discount")))
      .select(col("l_returnflag").as("flag"),
        floor(col("l_quantity") * lit(10000.0d) + lit(0.5d)).cast("long").as("ux"),
        floor(col("rev") * lit(10000.0d) + lit(0.5d)).cast("long").as("uy"))
    def ps(a: String, b: String, tag: String) = Seq(
      sum(expr(s"($a * $b) div ${B}L")).as(s"hi_$tag"),
      sum(expr(s"($a * $b) % ${B}L")).as(s"lo_$tag"))
    // recombine: scale-4 plain sums and scale-8 split sums, both exact
    // (same type algebra as corrMatrix: ≤ decimal(34,10) intermediates).
    def rec4(c: String, as: String) = (col(c).cast("decimal(20,0)") /
      expr("CAST(10000 AS DECIMAL(5,0))")).as(as)
    def rec8(tag: String) = (col(s"hi_$tag").cast("decimal(20,0)") *
      expr("CAST(10 AS DECIMAL(2,0))") +
      col(s"lo_$tag").cast("decimal(20,0)") /
        expr("CAST(100000000 AS DECIMAL(9,0))")).as(tag)
    def sd(c: String) = col(c).cast("double")
    val nD = col("n").cast("double")
    val covN  = nD * sd("sxy") - sd("sx") * sd("sy")
    val varXN = nD * sd("sxx") - sd("sx") * sd("sx")
    val varYN = nD * sd("syy") - sd("sy") * sd("sy")
    val aggs = Seq(count(lit(1)).as("n"),
      sum(col("ux")).as("su_x"), sum(col("uy")).as("su_y")) ++
      ps("ux", "ux", "sxx") ++ ps("ux", "uy", "sxy") ++ ps("uy", "uy", "syy")
    li.groupBy(col("flag"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("flag"), col("n"), rec4("su_x", "sx"), rec4("su_y", "sy"),
        rec8("sxx"), rec8("sxy"), rec8("syy"))
      .select(col("flag"), col("n"),
        round(covN / varXN, 6).as("slope"),
        round((sd("sy") - covN / varXN * sd("sx")) / nD, 6).as("intercept"),
        round(covN * covN / (varXN * varYN), 6).as("r2"))
      .orderBy(col("flag"))
  }
  val stLinregSql: String =
    """WITH q AS (
      |  SELECT l_returnflag AS flag,
      |         CAST(l_quantity AS DECIMAL(19,4)) AS x,
      |         CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(19,4)) AS y
      |  FROM lineitem),
      |m AS (
      |  SELECT flag, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
      |         sum(x*x) AS sxx, sum(x*y) AS sxy, sum(y*y) AS syy
      |  FROM q GROUP BY 1)
      |SELECT flag, n,
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
      |FROM m ORDER BY flag""".stripMargin

  // ------------------------------------------------------- Kaplan-Meier

  /** st_km — Kaplan-Meier survival over customer ORDER lifetimes:
    * duration = days between a customer's first and last order; customers
    * whose last order falls within 365 days of the corpus end are
    * right-CENSORED (they may order again), the rest are churn events —
    * on this corpus a real ~20/80 churned/censored mix, so the estimator
    * exercises both branches. S(t) = Π_{tᵢ≤t}(1 − dᵢ/nᵢ) over distinct
    * churn times, computed as exp of a prefix-window sum of
    * ln(1 − dᵢ/nᵢ) — the engine-portable product. dᵢ/nᵢ are exact integer
    * ratios; the prefix fold is sequential in time order in both engines.
    *
    * Scale shape: per-customer first/last is one keyed aggregation over
    * the stream; everything after runs on O(distinct durations) rows.
    * Emits only event times (dᵢ > 0), the standard KM step function.
    */
  val stKm: Q = (s, d) => {
    // users + byT pinned (r18 batch 3): users feeds horizon and the
    // lifetime projection, byT feeds n0 and the final KM fold — each
    // unpinned reference re-ran the orders scan + per-customer
    // aggregation. Both tables are bounded (per-customer / per-duration).
    val users = Pins(tbl(s, d, "orders")
      .select(col("o_custkey"), to_date(col("o_orderdate")).as("day"))
      .groupBy(col("o_custkey")).agg(min(col("day")).as("fst"), max(col("day")).as("lst")))
    val horizon = users.agg(max(col("lst")).as("maxd"))
    val lifet = users.crossJoin(broadcast(horizon))
      .select(datediff(col("lst"), col("fst")).cast("long").as("dur"),
        (datediff(col("maxd"), col("lst")) > 365).as("observed"))
    val byT = Pins(lifet.groupBy(col("dur")).agg(
      count(lit(1)).as("at_t"),
      sum(when(col("observed"), 1L).otherwise(0L)).as("deaths")))
    val n0 = byT.agg(sum(col("at_t")).as("n0"))
    val w = Window.orderBy(col("dur"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT.crossJoin(broadcast(n0))
      .withColumn("removed_before",
        coalesce(sum(col("at_t")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_risk", col("n0") - col("removed_before"))
      .withColumn("lnterm",
        when(col("deaths") > 0,
          log(lit(1.0) - col("deaths").cast("double") / col("n_risk"))).otherwise(lit(0.0)))
      .withColumn("survival", round(exp(sum(col("lnterm")).over(run)), 6))
      .where(col("deaths") > 0)
      .select(col("dur").as("t"), col("n_risk"), col("deaths"), col("survival"))
      .orderBy(col("t"))
  }
  val stKmSql: String =
    """WITH users AS (
      |  SELECT o_custkey, min(CAST(o_orderdate AS DATE)) AS fst,
      |         max(CAST(o_orderdate AS DATE)) AS lst
      |  FROM orders GROUP BY 1),
      |horizon AS (SELECT max(lst) AS maxd FROM users),
      |lifet AS (
      |  SELECT CAST(datediff('day', fst, lst) AS BIGINT) AS dur,
      |         datediff('day', lst, maxd) > 365 AS observed
      |  FROM users, horizon),
      |byt AS (
      |  SELECT dur, count(*) AS at_t,
      |         CAST(sum(CASE WHEN observed THEN 1 ELSE 0 END) AS BIGINT) AS deaths
      |  FROM lifet GROUP BY 1),
      |n0 AS (SELECT CAST(sum(at_t) AS BIGINT) AS n0 FROM byt),
      |risk AS (
      |  SELECT dur, at_t, deaths,
      |         n0.n0 - CAST(coalesce(sum(at_t) OVER (ORDER BY dur
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS n_risk
      |  FROM byt, n0),
      |surv AS (
      |  SELECT dur, n_risk, deaths,
      |         round(exp(sum(CASE WHEN deaths > 0
      |                            THEN ln(1.0 - CAST(deaths AS DOUBLE) / n_risk)
      |                            ELSE 0.0 END)
      |               OVER (ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
      |           AS survival
      |  FROM risk)
      |SELECT dur AS t, n_risk, deaths, survival
      |FROM surv WHERE deaths > 0 ORDER BY t""".stripMargin

  // ------------------------------------------------------ Mann-Whitney U

  /** st_mannwhitney — the rank-sum test between two customer segments on
    * account balance: the nonparametric partner of st_ttest for when the
    * distributional assumption isn't earned (heavy tails, outliers —
    * exactly what balance-like columns have). Exact MIDRANKS with full
    * tie handling: per distinct value, midrank = prior-count + (t+1)/2;
    * U = R_A − n_A(n_A+1)/2; z uses the tie-corrected variance\n    * (NULL when that variance is 0 — an all-tied pool — in both engines,\n    * the ev_anomaly zero-variance rule);
    * (n_A·n_B/12)·((n+1) − Σ(t³−t)/(n(n−1))).
    *
    * Exactness: ranks never touch floats — 2·midrank = 2·cumprev + t + 1
    * is an exact BIGINT, so the rank sum R2 = Σ_v t_Av·(2·midrank_v) and
    * the tie term Σ(t³−t) are order-free integer aggregates; z is one
    * short IEEE formula over those integers, quantized 6 dp.
    *
    * Scale shape: one map-side-combined count keyed on (value) — O(rows)
    * in, O(distinct values) out; the midrank window orders only the
    * distinct-value table (bounded by value cardinality, not row count);
    * the final statistic is a scalar aggregate. Nothing data-sized
    * crosses a single partition except the distinct-value series — the
    * same envelope as ev_anomaly's daily window.
    */
  val stMannWhitney: Q = (s, d) => {
    val pool = tbl(s, d, "customer")
      .where(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
      .select(when(col("c_mktsegment") === "AUTOMOBILE", lit("a"))
        .otherwise(lit("b")).as("grp"), dec(col("c_acctbal")).as("v"))
    val w = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, -1)
    val byVal = pool.groupBy(col("v")).agg(
        count(lit(1)).as("t"),
        sum(when(col("grp") === "a", 1L).otherwise(0L)).as("ta"))
      .withColumn("cumprev", coalesce(sum(col("t")).over(w), lit(0L)))
    val agg = byVal.agg(
      sum(col("ta")).as("na"),
      sum(col("t") - col("ta")).as("nb"),
      sum(col("ta") * (lit(2L) * col("cumprev") + col("t") + 1L)).as("r2"),
      sum(when(col("t") > 1, col("t") * col("t") * col("t") - col("t"))
        .otherwise(0L)).as("tie3"))
    agg.select(col("na"), col("nb"),
        (col("r2").cast("double") / 2.0 - col("na").cast("double") * (col("na") + 1L) / 2.0)
          .as("u_a"), col("tie3"),
        (col("na") + col("nb")).as("n"))
      .withColumn("var_u",
        col("na").cast("double") * col("nb") / 12.0 *
          ((col("n") + 1L).cast("double") -
            col("tie3").cast("double") / (col("n") * (col("n") - 1L))))
      .select(col("na"), col("nb"), round(col("u_a"), 1).as("u_a"),
        when(col("var_u") <= 0.0, lit(null).cast("double"))
          .otherwise(round(
            (col("u_a") - col("na").cast("double") * col("nb") / 2.0) /
              sqrt(col("var_u")), 6)).as("z"))
  }
  val stMannWhitneySql: String =
    """WITH pool AS (
      |  SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'a' ELSE 'b' END AS grp,
      |         CAST(c_acctbal AS DECIMAL(17,4)) AS v
      |  FROM customer WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')),
      |byval AS (
      |  SELECT v, count(*) AS t,
      |         CAST(sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ta
      |  FROM pool GROUP BY v),
      |cm AS (
      |  SELECT v, t, ta,
      |         coalesce(sum(t) OVER (ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumprev
      |  FROM byval),
      |agg AS (
      |  SELECT CAST(sum(ta) AS BIGINT) AS na,
      |         CAST(sum(t - ta) AS BIGINT) AS nb,
      |         CAST(sum(ta * (2 * cumprev + t + 1)) AS BIGINT) AS r2,
      |         CAST(sum(CASE WHEN t > 1 THEN t*t*t - t ELSE 0 END) AS BIGINT) AS tie3
      |  FROM cm),
      |ua AS (
      |  SELECT na, nb, tie3, na + nb AS n,
      |         CAST(r2 AS DOUBLE) / 2.0 - CAST(na AS DOUBLE) * (na + 1) / 2.0 AS u_a
      |  FROM agg),
      |vu AS (
      |  SELECT na, nb, u_a,
      |         CAST(na AS DOUBLE) * nb / 12.0
      |           * (CAST(n + 1 AS DOUBLE) - CAST(tie3 AS DOUBLE) / (n * (n - 1))) AS var_u
      |  FROM ua)
      |SELECT na, nb, round(u_a, 1) AS u_a,
      |       CASE WHEN var_u <= 0.0 THEN NULL
      |            ELSE round((u_a - CAST(na AS DOUBLE) * nb / 2.0) / sqrt(var_u), 6)
      |       END AS z
      |FROM vu""".stripMargin

  // ------------------------------------------ Kolmogorov-Smirnov two-sample

  /** st_ks — the two-sample Kolmogorov-Smirnov D between two customer
    * segments on account balance: the distribution-FREE "are these two
    * samples drawn from the same distribution" test, sensitive to any
    * difference (location, scale, shape) where st_ttest sees only means
    * and st_mannwhitney only stochastic order. D = sup|F_a(v) − F_b(v)|
    * over the pooled support, evaluated AT the jump points (sufficient —
    * both ECDFs are right-continuous step functions).
    *
    * Exactness: D never touches floats until the last step — the sup of
    * |ca·nb − cb·na| over cumulative BIGINT counts is an exact integer
    * max, divided by na·nb once at the end; the asymptotic statistic
    * sqrt(na·nb/(na+nb))·D is one IEEE op on those integers, 6 dp.
    *
    * Scale shape: st_mannwhitney's envelope — one map-side-combined
    * count keyed by value (O(rows) → O(distinct values)), a window
    * ordered over the distinct-value series only, and a scalar max.
    */
  val stKs: Q = (s, d) => {
    val pool = tbl(s, d, "customer")
      .where(col("c_mktsegment").isin("AUTOMOBILE", "BUILDING"))
      .select(when(col("c_mktsegment") === "AUTOMOBILE", lit("a"))
        .otherwise(lit("b")).as("grp"), dec(col("c_acctbal")).as("v"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val byVal = pool.groupBy(col("v")).agg(
        sum(when(col("grp") === "a", 1L).otherwise(0L)).as("ta"),
        sum(when(col("grp") === "b", 1L).otherwise(0L)).as("tb"))
      .withColumn("ca", sum(col("ta")).over(w))
      .withColumn("cb", sum(col("tb")).over(w))
    val tot = byVal.agg(max(col("ca")).as("na"), max(col("cb")).as("nb"))
    byVal.crossJoin(broadcast(tot))
      .groupBy(col("na"), col("nb"))
      .agg(max(abs(col("ca") * col("nb") - col("cb") * col("na"))).as("supn"))
      .select(col("na"), col("nb"),
        round(col("supn").cast("double") / (col("na") * col("nb")), 6).as("d_stat"),
        round(sqrt((col("na") * col("nb")).cast("double") / (col("na") + col("nb"))) *
          (col("supn").cast("double") / (col("na") * col("nb"))), 6).as("ks_stat"))
  }
  val stKsSql: String =
    """WITH pool AS (
      |  SELECT CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 'a' ELSE 'b' END AS grp,
      |         CAST(c_acctbal AS DECIMAL(17,4)) AS v
      |  FROM customer WHERE c_mktsegment IN ('AUTOMOBILE', 'BUILDING')),
      |byval AS (
      |  SELECT v,
      |         CAST(sum(CASE WHEN grp = 'a' THEN 1 ELSE 0 END) AS BIGINT) AS ta,
      |         CAST(sum(CASE WHEN grp = 'b' THEN 1 ELSE 0 END) AS BIGINT) AS tb
      |  FROM pool GROUP BY v),
      |cum AS (
      |  SELECT v,
      |         CAST(sum(ta) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ca,
      |         CAST(sum(tb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cb
      |  FROM byval),
      |tot AS (SELECT CAST(max(ca) AS BIGINT) AS na, CAST(max(cb) AS BIGINT) AS nb FROM cum),
      |sup AS (SELECT CAST(max(abs(cum.ca * tot.nb - cum.cb * tot.na)) AS BIGINT) AS supn
      |        FROM cum, tot)
      |SELECT na, nb,
      |       round(CAST(supn AS DOUBLE) / (na * nb), 6) AS d_stat,
      |       round(sqrt(CAST(na * nb AS DOUBLE) / (na + nb))
      |             * (CAST(supn AS DOUBLE) / (na * nb)), 6) AS ks_stat
      |FROM sup, tot""".stripMargin

  // ---------------------------------------------------- one-way ANOVA

  /** st_anova — one-way ANOVA of account balance across ALL market
    * segments: the k-group generalization of st_ttest ("does segment
    * explain balance at all" before any pairwise digging), reported as
    * F = (SSB/(k−1))/(SSW/(n−k)) plus η² = SSB/SST effect size.
    *
    * Exactness: per-group (n, Σx, Σx²) are BIGINT/decimal sums —
    * order-free; SSB/SSW come from the moment identities
    * SST = Σx² − (Σx)²/n, SSW = Σ_g (Σx²_g − (Σx_g)²/n_g), SSB = SST−SSW,
    * each a short IEEE sequence on per-group doubles folded over k rows
    * (contributions quantized to 6 dp first, the st_chisq fold rule).
    *
    * Scale shape: ONE map-side-combined aggregation over the corpus to
    * k moment rows; everything after is O(k) on the driver-sized frame.
    */
  val stAnova: Q = (s, d) => {
    val m = tbl(s, d, "customer")
      .groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"), sum(dec(col("c_acctbal"))).as("sx"),
        sum(dec(col("c_acctbal")) * dec(col("c_acctbal"))).as("sxx"))
      .select(col("n"), col("sx"), col("sxx"),
        // 2-dp-quantized then DECIMAL: the k-term fold is order-free (a
        // plain double sum here is run-to-run flaky under DuckDB's
        // parallel aggregation — observed 2e-6 drift on 5 terms), and
        // 2 dp — not the suite's 6 — because rounding a ~1e9-magnitude
        // double at 6 dp is itself engine-divergent (DuckDB's x·1e6
        // path vs Spark's BigDecimal disagree in the last ulp; the
        // welch_df 4-dp rule). Also double-first before squaring
        // (st_linreg's decimal-overflow rule).
        round(col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double") / col("n"), 2)
          .cast("decimal(28,2)").as("ssw_g"))
    m.agg(count(lit(1)).as("k"), sum(col("n")).as("n"),
        sum(col("sx")).as("gsx"), sum(col("sxx")).as("gsxx"),
        sum(col("ssw_g")).cast("double").as("ssw"))
      .select(col("k"), col("n"),
        (col("gsxx").cast("double") -
          col("gsx").cast("double") * col("gsx").cast("double") / col("n")).as("sst"),
        col("ssw"))
      .select(col("k"), col("n"),
        round(col("sst") - col("ssw"), 2).as("ssb"),
        round(col("ssw"), 2).as("ssw"),
        round(((col("sst") - col("ssw")) / (col("k") - 1)) /
          (col("ssw") / (col("n") - col("k"))), 6).as("f_stat"),
        round((col("sst") - col("ssw")) / col("sst"), 6).as("eta2"))
  }
  val stAnovaSql: String =
    """WITH m AS (
      |  SELECT c_mktsegment AS seg, count(*) AS n,
      |         sum(CAST(c_acctbal AS DECIMAL(17,4))) AS sx,
      |         sum(CAST(c_acctbal AS DECIMAL(17,4)) * CAST(c_acctbal AS DECIMAL(17,4))) AS sxx
      |  FROM customer GROUP BY 1),
      |g AS (
      |  SELECT n, sx, sxx,
      |         CAST(round(CAST(sxx AS DOUBLE)
      |                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n, 2)
      |              AS DECIMAL(28,2)) AS ssw_g
      |  FROM m),
      |agg AS (
      |  SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n,
      |         sum(sx) AS gsx, sum(sxx) AS gsxx, CAST(sum(ssw_g) AS DOUBLE) AS ssw
      |  FROM g),
      |sst AS (
      |  SELECT k, n, ssw,
      |         CAST(gsxx AS DOUBLE) - CAST(gsx AS DOUBLE) * CAST(gsx AS DOUBLE) / n AS sst
      |  FROM agg)
      |SELECT k, n,
      |       round(sst - ssw, 2) AS ssb,
      |       round(ssw, 2) AS ssw,
      |       round(((sst - ssw) / (k - 1)) / (ssw / (n - k)), 6) AS f_stat,
      |       round((sst - ssw) / sst, 6) AS eta2
      |FROM sst""".stripMargin

  // ---------------------------------------------- sample-size / power calc

  /** st_power — the experiment-design companion to st_proptest: given the
    * two cohorts' OBSERVED purchase rates, the per-arm sample size needed
    * to detect that difference at α = 0.05 (two-sided) with 80% power,
    * by the standard normal-approximation formula
    * n = (z_{α/2} + z_{power})² · (p₁q₁ + p₂q₂) / (p₁ − p₂)². The "how
    * long must this test run" answer analysts ask right after "is it
    * significant" — and the honest NULL when the observed delta is 0
    * (no finite n detects a non-effect). z constants are identical
    * literals both sides; counts come from the same single scan as
    * st_proptest; output is one ceil'd BIGINT.
    */
  val stPower: Q = (s, d) => {
    val agg = tbl(s, d, "events")
      .select((col("user_id") % 2 === 0).as("grp_a"),
        (col("event_type") === "purchase").as("hit"))
      .agg(
        sum(when(col("grp_a"), 1L).otherwise(0L)).as("na"),
        sum(when(col("grp_a") && col("hit"), 1L).otherwise(0L)).as("xa"),
        sum(when(!col("grp_a"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("grp_a") && col("hit"), 1L).otherwise(0L)).as("xb"))
    val pa = col("xa").cast("double") / col("na")
    val pb = col("xb").cast("double") / col("nb")
    val z = lit(1.959964) + lit(0.841621) // z_{0.025} + z_{0.20}
    agg.select(
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      round(pa - pb, 6).as("delta"),
      when(pa === pb, lit(null).cast("long"))
        .otherwise(ceil(z * z * (pa * (lit(1.0) - pa) + pb * (lit(1.0) - pb)) /
          ((pa - pb) * (pa - pb))).cast("long")).as("n_per_arm"))
  }
  val stPowerSql: String =
    """WITH agg AS (
      |  SELECT
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS xa,
      |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
      |    CAST(sum(CASE WHEN user_id % 2 <> 0 AND event_type = 'purchase'
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS xb
      |  FROM events),
      |p AS (
      |  SELECT CAST(xa AS DOUBLE) / na AS pa, CAST(xb AS DOUBLE) / nb AS pb
      |  FROM agg)
      |SELECT round(pa, 6) AS p_a, round(pb, 6) AS p_b,
      |       round(pa - pb, 6) AS delta,
      |       CASE WHEN pa = pb THEN NULL
      |            ELSE CAST(ceil((1.959964 + 0.841621) * (1.959964 + 0.841621)
      |                           * (pa * (1.0 - pa) + pb * (1.0 - pb))
      |                           / ((pa - pb) * (pa - pb))) AS BIGINT)
      |       END AS n_per_arm
      |FROM p""".stripMargin

  // ------------------------------------------- higher moments (skew/kurt)

  /** st_moments — per-event-type skewness and excess kurtosis from ONE
    * pass of raw power sums (Σx..Σx⁴): the shape diagnostics that tell a
    * monitoring pipeline whether a metric's distribution is drifting in
    * ways mean/variance dashboards cannot see (asymmetry, tail mass) —
    * and the moments are algebraic, so the same partial sums merge
    * map-side, across partitions, and across streaming micro-batches.
    *
    * Exactness: values quantize to 1e-2 fixed point (xq = floor(x·100) —
    * Similarity's integer convention), so Σxq^k are exact integer sums
    * held as DECIMAL(38,0) (xq⁴ ≈ 6e18 fits a long per-term; the SUM
    * does not, hence decimal). Central moments expand from raw ones in
    * one short IEEE sequence per group: m2 = s2/n − μ², m3 = s3/n −
    * 3μs2/n + 2μ³, m4 = s4/n − 4μs3/n + 6μ²s2/n − 3μ⁴; g1 = m3/m2^1.5,
    * g2 = m4/m2² − 3, both 6 dp.
    */
  val stMoments: Q = (s, d) => {
    val xq = floor(col("value") * 100).cast("long")
    val m = tbl(s, d, "events")
      .select(col("event_type"), xq.as("x"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("s1"),
        sum((col("x") * col("x")).cast("decimal(38,0)")).as("s2"),
        sum((col("x") * col("x") * col("x")).cast("decimal(38,0)")).as("s3"),
        sum((col("x") * col("x") * col("x") * col("x")).cast("decimal(38,0)")).as("s4"))
    // r-moments FIRST (each sum / n), then combine — the exact operation
    // order the oracle's CTE chain uses, so both engines run the same
    // IEEE sequence.
    def sd(c: String) = col(c).cast("double")
    val nD = col("n").cast("double")
    val mu = sd("s1") / nD
    val r2 = sd("s2") / nD
    val r3 = sd("s3") / nD
    val r4 = sd("s4") / nD
    val m2 = r2 - mu * mu
    val m3 = r3 - lit(3.0) * mu * r2 + lit(2.0) * mu * mu * mu
    val m4 = r4 - lit(4.0) * mu * r3 +
      lit(6.0) * mu * mu * r2 - lit(3.0) * mu * mu * mu * mu
    m.select(col("event_type"), col("n"),
        round(mu / 100.0, 6).as("mean"),
        round(m3 / pow(m2, 1.5), 6).as("skewness"),
        round(m4 / (m2 * m2) - 3.0, 6).as("kurtosis_excess"))
      .orderBy(col("event_type"))
  }
  val stMomentsSql: String =
    """WITH q AS (
      |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS x FROM events),
      |m AS (
      |  SELECT event_type, count(*) AS n,
      |         sum(CAST(x AS DECIMAL(38,0))) AS s1,
      |         sum(CAST(x * x AS DECIMAL(38,0))) AS s2,
      |         sum(CAST(x * x * x AS DECIMAL(38,0))) AS s3,
      |         sum(CAST(x * x * x * x AS DECIMAL(38,0))) AS s4
      |  FROM q GROUP BY event_type),
      |c AS (
      |  SELECT event_type, n,
      |         CAST(s1 AS DOUBLE) / n AS mu,
      |         CAST(s2 AS DOUBLE) / n AS r2,
      |         CAST(s3 AS DOUBLE) / n AS r3,
      |         CAST(s4 AS DOUBLE) / n AS r4
      |  FROM m),
      |cm AS (
      |  SELECT event_type, n, mu,
      |         r2 - mu * mu AS m2,
      |         r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu AS m3,
      |         r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu AS m4
      |  FROM c)
      |SELECT event_type, n,
      |       round(mu / 100.0, 6) AS mean,
      |       round(m3 / power(m2, 1.5), 6) AS skewness,
      |       round(m4 / (m2 * m2) - 3.0, 6) AS kurtosis_excess
      |FROM cm ORDER BY event_type""".stripMargin

  // ------------------------------------------------ two-proportion z-test

  /** st_proptest — the two-proportion z-test on purchase rate between the
    * even/odd user-id cohorts (the deterministic 50/50 bucketing every
    * experiment platform uses): the conversion-rate A/B read, pooled
    * variance, the companion of st_ttest for binary outcomes. On this
    * generator assignment is independent of behavior, so z ≈ 0 — the gate
    * proves the measurement. All counts are exact BIGINTs from ONE
    * conditional-aggregation scan (no per-cohort pass); z is one IEEE
    * sequence over them, 6 dp.
    */
  val stProptest: Q = (s, d) => {
    val agg = tbl(s, d, "events")
      .select((col("user_id") % 2 === 0).as("grp_a"),
        (col("event_type") === "purchase").as("hit"))
      .agg(
        sum(when(col("grp_a"), 1L).otherwise(0L)).as("na"),
        sum(when(col("grp_a") && col("hit"), 1L).otherwise(0L)).as("xa"),
        sum(when(!col("grp_a"), 1L).otherwise(0L)).as("nb"),
        sum(when(!col("grp_a") && col("hit"), 1L).otherwise(0L)).as("xb"))
    val pa = col("xa").cast("double") / col("na")
    val pb = col("xb").cast("double") / col("nb")
    val pp = (col("xa") + col("xb")).cast("double") / (col("na") + col("nb"))
    agg.select(col("na"), col("xa"), col("nb"), col("xb"),
      round(pa, 6).as("p_a"), round(pb, 6).as("p_b"),
      round((pa - pb) /
        sqrt(pp * (lit(1.0) - pp) *
          (lit(1.0) / col("na") + lit(1.0) / col("nb"))), 6).as("z"))
  }
  val stProptestSql: String =
    """WITH agg AS (
      |  SELECT
      |    CAST(sum(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
      |    CAST(sum(CASE WHEN user_id % 2 = 0 AND event_type = 'purchase'
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS xa,
      |    CAST(sum(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
      |    CAST(sum(CASE WHEN user_id % 2 <> 0 AND event_type = 'purchase'
      |                  THEN 1 ELSE 0 END) AS BIGINT) AS xb
      |  FROM events)
      |SELECT na, xa, nb, xb,
      |       round(CAST(xa AS DOUBLE) / na, 6) AS p_a,
      |       round(CAST(xb AS DOUBLE) / nb, 6) AS p_b,
      |       round((CAST(xa AS DOUBLE) / na - CAST(xb AS DOUBLE) / nb)
      |             / sqrt((CAST(xa + xb AS DOUBLE) / (na + nb))
      |                    * (1.0 - CAST(xa + xb AS DOUBLE) / (na + nb))
      |                    * (1.0 / na + 1.0 / nb)), 6) AS z
      |FROM agg""".stripMargin

  // -------------------------------------- Brown-Forsythe (Levene) test

  /** st_levene — the Brown-Forsythe test for EQUAL VARIANCES across
    * market segments: one-way ANOVA on z = |x − median_g|, the robust
    * (median-centered) Levene variant. The gatekeeper for st_anova and
    * st_ttest's pooled-variance cousin — "may I even assume
    * homoscedasticity" — and on its own the screen for a segment whose
    * dispersion (not mean) shifted, which drift monitors miss.
    *
    * Two passes: exact per-group `percentile` medians (rounded 6 dp so
    * both engines center on identical doubles; pf_outliers' convention,
    * percentile_approx at 100 TB), then st_anova's moment discipline on
    * z quantized to decimal(17,4) — order-free sums, the 2-dp large-
    * magnitude SSW fold, F at 6 dp since it is an O(1) ratio.
    */
  val stLevene: Q = (s, d) => {
    val ev = tbl(s, d, "customer")
      .select(col("c_mktsegment").as("seg"), col("c_acctbal").as("v"))
    val med = ev.groupBy(col("seg"))
      .agg(round(expr("percentile(v, CAST(0.5 AS DOUBLE))"), 6).as("med"))
    val z = ev.join(broadcast(med), "seg")
      .select(col("seg"), abs(col("v") - col("med")).cast("decimal(17,4)").as("z"))
    val m = z.groupBy(col("seg"))
      .agg(count(lit(1)).as("n"), sum(col("z")).as("sz"),
        sum(col("z") * col("z")).as("szz"))
      .select(col("n"), col("sz"), col("szz"),
        round(col("szz").cast("double") -
          col("sz").cast("double") * col("sz").cast("double") / col("n"), 2)
          .cast("decimal(28,2)").as("ssw_g"))
    m.agg(count(lit(1)).as("k"), sum(col("n")).as("n"),
        sum(col("sz")).as("gsz"), sum(col("szz")).as("gszz"),
        sum(col("ssw_g")).cast("double").as("ssw"))
      .select(col("k"), col("n"), col("ssw"),
        (col("gszz").cast("double") -
          col("gsz").cast("double") * col("gsz").cast("double") / col("n")).as("sst"))
      .select(col("k"), col("n"),
        round(((col("sst") - col("ssw")) / (col("k") - 1)) /
          (col("ssw") / (col("n") - col("k"))), 6).as("f_stat"))
  }
  val stLeveneSql: String =
    """WITH ev AS (SELECT c_mktsegment AS seg, c_acctbal AS v FROM customer),
      |med AS (
      |  SELECT seg, round(quantile_cont(v, CAST(0.5 AS DOUBLE)), 6) AS med
      |  FROM ev GROUP BY seg),
      |z AS (
      |  SELECT ev.seg, CAST(abs(ev.v - med.med) AS DECIMAL(17,4)) AS z
      |  FROM ev JOIN med USING (seg)),
      |m AS (
      |  SELECT seg, count(*) AS n, sum(z) AS sz, sum(z * z) AS szz
      |  FROM z GROUP BY seg),
      |g AS (
      |  SELECT n, sz, szz,
      |         CAST(round(CAST(szz AS DOUBLE)
      |                    - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / n, 2)
      |              AS DECIMAL(28,2)) AS ssw_g
      |  FROM m),
      |agg AS (
      |  SELECT count(*) AS k, CAST(sum(n) AS BIGINT) AS n,
      |         sum(sz) AS gsz, sum(szz) AS gszz,
      |         CAST(sum(ssw_g) AS DOUBLE) AS ssw
      |  FROM g),
      |sst AS (
      |  SELECT k, n, ssw,
      |         CAST(gszz AS DOUBLE) - CAST(gsz AS DOUBLE) * CAST(gsz AS DOUBLE) / n AS sst
      |  FROM agg)
      |SELECT k, n,
      |       round(((sst - ssw) / (k - 1)) / (ssw / (n - k)), 6) AS f_stat
      |FROM sst""".stripMargin

  // ------------------------------------------------ inter-annotator kappa

  /** st_kappa — Cohen's kappa between two binary annotators, the QC
    * metric every labeling/RLHF pipeline reports before trusting its
    * raters: observed agreement p_o corrected by the agreement p_e two
    * INDEPENDENT raters with the same marginals would reach by chance
    * (κ = (p_o − p_e)/(1 − p_e); 0 = chance, 1 = perfect). The two
    * annotators here are deterministic document-quality judges —
    * A: n_chars ≥ 300, B: ≥ 55 whitespace tokens — correlated but not
    * identical, so κ lands strictly inside (0, 1).
    *
    * One map-side-combined scan produces the four exact BIGINT cells
    * (n, agreements, per-rater positives); the κ arithmetic is a short
    * identical IEEE sequence on those integers, 6-dp quantized — the
    * suite's moment-table exactness discipline with a 1-row table.
    */
  val stKappa: Q = (s, d) => {
    val m = tbl(s, d, "documents")
      .select((col("n_chars") >= 300).cast("long").as("a"),
        (size(split(col("text"), " ")) >= 55).cast("long").as("b"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("a") === col("b"), 1L).otherwise(0L)).as("agree"),
        sum(col("a")).as("na"), sum(col("b")).as("nb"))
    m.select(col("n"),
        round(col("agree").cast("double") / col("n"), 6).as("po"),
        round((col("na") * col("nb") + (col("n") - col("na")) * (col("n") - col("nb")))
          .cast("double") / (col("n") * col("n")).cast("double"), 6).as("pe"))
      .withColumn("kappa", round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 6))
  }
  val stKappaSql: String =
    """WITH l AS (
      |  SELECT CAST(n_chars >= 300 AS BIGINT) AS a,
      |         CAST(len(string_split(text, ' ')) >= 55 AS BIGINT) AS b
      |  FROM documents),
      |m AS (
      |  SELECT count(*) AS n,
      |         sum(CASE WHEN a = b THEN 1 ELSE 0 END) AS agree,
      |         sum(a) AS na, sum(b) AS nb
      |  FROM l),
      |s AS (
      |  SELECT CAST(n AS BIGINT) AS n,
      |         round(CAST(agree AS DOUBLE) / n, 6) AS po,
      |         round(CAST(na*nb + (n-na)*(n-nb) AS DOUBLE) / CAST(n*n AS DOUBLE), 6) AS pe
      |  FROM m)
      |SELECT n, po, pe, round((po - pe) / (1.0 - pe), 6) AS kappa FROM s""".stripMargin

  // ------------------------------------------------- Bradley–Terry (RLHF)

  /** rl_bt — Bradley–Terry preference strengths, the aggregation step of
    * every preference/RLHF data pipeline (and of LLM-judge arena
    * rankings): pairwise "i beat j" counts fold into per-item strengths
    * p_i with P(i beats j) = p_i/(p_i+p_j), fitted by 3 rounds of the
    * Hunter (2004) MM update p_i ← W_i / Σ_j n_ij/(p_i+p_j). Here the
    * comparisons are daily engagement duels: within each (user, day) the
    * event type carrying the highest value beats every other type
    * present that day (deterministic value/event_id tiebreak).
    *
    * Scale split: the WINS MATRIX is the corpus-scale part — two keyed
    * aggregations over the event stream (per-day winner via max_by, then
    * (winner, loser) counts). The MM fixed-point then runs on a ≤T·(T−1)
    * row table (T = 5 event types) — collected to the driver like
    * tx_bpe_train's vocab merges (annotated driver-bounded: the item
    * vocabulary, never the corpus). Engine parity: each MM term and each
    * iterate quantizes to 12 dp (decimal-summed, order-free) before the
    * next division, so both engines walk the same fixed-point path; the
    * oracle unrolls the 3 iterations as CTEs.
    */
  val rlBt: Q = (s, d) => {
    val sp = s
    import sp.implicits._
    val ev = tbl(s, d, "events")
    val day: Column = ev.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        to_date(timestamp_micros(expr("ts div 1000")))
      case _ => to_date(col("ts"))
    }
    val de = ev.select(col("user_id"), day.as("day"), col("event_type"),
      col("value"), col("event_id"))
    // scalar-encoded (value, smaller-event_id) tiebreak: value is 2-dp so
    // value·1e9 is an exact double integer ≫ any event_id (DuckDB's max_by
    // takes no composite key)
    val winners = de.groupBy(col("user_id"), col("day"))
      .agg(max_by(col("event_type"), col("value") * 1e9 - col("event_id")).as("winner"))
    val wins = winners
      .join(de.select(col("user_id"), col("day"), col("event_type")).distinct(),
        Seq("user_id", "day"))
      .where(col("event_type") =!= col("winner"))
      .groupBy(col("winner").as("i"), col("event_type").as("j"))
      .agg(count(lit(1)).as("w"))
    // driver-bounded: ≤ T·(T−1) rows (T = event-type vocabulary, 5 here)
    val wmap = wins.collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val types = wmap.keysIterator.flatMap(k => Seq(k._1, k._2)).toSeq.distinct.sorted
    def w(i: String, j: String): Long = wmap.getOrElse((i, j), 0L)
    val bigW = types.map(i => i -> types.filter(_ != i).map(w(i, _)).sum).toMap
    def r12(x: Double): BigDecimal =
      BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    var p = types.map(_ -> 1.0).toMap
    for (_ <- 1 to 3) {
      p = types.map { i =>
        val denom = types.filter(_ != i).map { j =>
          r12((w(i, j) + w(j, i)).toDouble / (p(i) + p(j)))
        }.sum
        i -> r12(bigW(i).toDouble / denom.toDouble).toDouble
      }.toMap
    }
    val tot = types.map(i => r12(p(i))).sum.toDouble
    types.map(i => (i, bigW(i),
        BigDecimal(p(i) / tot).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("event_type", "wins", "bt_score")
      .orderBy(col("event_type"))
  }
  val rlBtSql: String =
    """WITH de AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, event_type, value, event_id
      |  FROM events),
      |win AS (
      |  SELECT user_id, day,
      |         max_by(event_type, value * 1e9 - event_id) AS winner
      |  FROM de GROUP BY user_id, day),
      |wins AS (
      |  SELECT w.winner AS i, t.event_type AS j, count(*) AS w
      |  FROM win w
      |  JOIN (SELECT DISTINCT user_id, day, event_type FROM de) t
      |    USING (user_id, day)
      |  WHERE t.event_type != w.winner
      |  GROUP BY 1, 2),
      |types AS (SELECT DISTINCT event_type AS t FROM de),
      |n AS (
      |  SELECT a.t AS i, b.t AS j,
      |         coalesce(w1.w, 0) + coalesce(w2.w, 0) AS nij,
      |         coalesce(w1.w, 0) AS wij
      |  FROM types a JOIN types b ON a.t != b.t
      |  LEFT JOIN wins w1 ON w1.i = a.t AND w1.j = b.t
      |  LEFT JOIN wins w2 ON w2.i = b.t AND w2.j = a.t),
      |wtot AS (SELECT i, sum(wij) AS wi FROM n GROUP BY i),
      |p0 AS (SELECT t AS i, CAST(1.0 AS DOUBLE) AS p FROM types),
      |it1 AS (
      |  SELECT n.i, round(CAST(wt.wi AS DOUBLE) / CAST(sum(
      |           CAST(round(nij / (pi.p + pj.p), 12) AS DECIMAL(28,12))) AS DOUBLE), 12) AS p
      |  FROM n JOIN p0 pi ON pi.i = n.i JOIN p0 pj ON pj.i = n.j
      |  JOIN wtot wt ON wt.i = n.i
      |  GROUP BY n.i, wt.wi),
      |it2 AS (
      |  SELECT n.i, round(CAST(wt.wi AS DOUBLE) / CAST(sum(
      |           CAST(round(nij / (pi.p + pj.p), 12) AS DECIMAL(28,12))) AS DOUBLE), 12) AS p
      |  FROM n JOIN it1 pi ON pi.i = n.i JOIN it1 pj ON pj.i = n.j
      |  JOIN wtot wt ON wt.i = n.i
      |  GROUP BY n.i, wt.wi),
      |it3 AS (
      |  SELECT n.i, round(CAST(wt.wi AS DOUBLE) / CAST(sum(
      |           CAST(round(nij / (pi.p + pj.p), 12) AS DECIMAL(28,12))) AS DOUBLE), 12) AS p
      |  FROM n JOIN it2 pi ON pi.i = n.i JOIN it2 pj ON pj.i = n.j
      |  JOIN wtot wt ON wt.i = n.i
      |  GROUP BY n.i, wt.wi),
      |tot AS (SELECT CAST(sum(CAST(round(p, 12) AS DECIMAL(28,12))) AS DOUBLE) AS s
      |        FROM it3)
      |SELECT it3.i AS event_type, CAST(wt.wi AS BIGINT) AS wins,
      |       round(it3.p / tot.s, 6) AS bt_score
      |FROM it3 JOIN wtot wt ON wt.i = it3.i, tot
      |ORDER BY event_type""".stripMargin

  // ------------------------------------------- Benjamini–Hochberg FDR

  /** st_bh — per-nation goodness-of-fit screen with Benjamini–Hochberg
    * false-discovery-rate correction (BH 1995): the multiple-testing
    * control every fleet-wide monitoring job needs — run one test per
    * nation (here: does a nation's l_returnflag mix match the global
    * mix?) and you must correct the m p-values or ~5% of nations "fail"
    * by chance every run. Per-nation χ² against global category
    * proportions has df = |categories| − 1 = 2 (A/N/R), and the df=2
    * chi-square survival function is CLOSED FORM — p = exp(−χ²/2) — so
    * the whole pipeline stays exactly expressible in both engines with
    * no incomplete-gamma approximation. BH: rank p ascending, raw_i =
    * p_i·m/i, adjusted p_i = min(raw_j : j ≥ i) ∧ 1 — the suffix min via
    * one window frame (current → unbounded following) over the O(m)
    * table.
    *
    * Scale: one lineitem scan collapses to the (nation, flag) count
    * grid (map-side combined, supplier dim broadcast); everything after
    * runs on O(nations × flags) rows. The grid is densified
    * ev_gapfill-style so zero cells still contribute (0−E)²/E, and the
    * grand total attaches as the declared ONE-ROW scalar crossJoin.
    */
  val stBh: Q = (s, d) => {
    val sup = tbl(s, d, "supplier")
      .select(col("s_suppkey").as("l_suppkey"), col("s_nationkey").as("nk"))
    // Pinned grid discipline (see stChisq): unpinned, the lineitem scan
    // + count grid replicated into every downstream branch — measured
    // plan 72 Exchanges / 48 scans for a 75-row grid. Both checkpoints
    // are O(|nations|·|flags|) at any scale.
    val seen = Pins(tbl(s, d, "lineitem").select(col("l_suppkey"), col("l_returnflag").as("rf"))
      .join(broadcast(sup), Seq("l_suppkey"))
      .groupBy(col("nk"), col("rf")).agg(count(lit(1)).as("o")))
    val cells = Pins(seen.select(col("nk")).distinct()
      .crossJoin(seen.select(col("rf")).distinct())
      .join(seen, Seq("nk", "rf"), "left")
      .withColumn("o", coalesce(col("o"), lit(0L))))
    val gT = cells.groupBy(col("nk")).agg(sum(col("o")).as("ng"))
    val cT = cells.groupBy(col("rf")).agg(sum(col("o")).as("oc"))
    val tot = cells.agg(sum(col("o")).as("nn"))
    val chi = cells.join(broadcast(gT), Seq("nk"))
      .join(broadcast(cT), Seq("rf"))
      .crossJoin(broadcast(tot))
      .withColumn("e", (col("ng") * col("oc")).cast("double") / col("nn"))
      .withColumn("contrib",
        round((col("o") - col("e")) * (col("o") - col("e")) / col("e"), 9))
      .groupBy(col("nk")).agg(round(sum(col("contrib")), 6).as("chi2"))
      .withColumn("p", round(exp(-col("chi2") / 2.0), 9))
    val wRank = Window.orderBy(col("p"), col("nk"))
    val wSuffix = Window.orderBy(col("rk"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    chi
      .withColumn("m", count(lit(1)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .withColumn("rk", row_number().over(wRank))
      .withColumn("raw", col("p") * col("m") / col("rk"))
      .withColumn("p_adj", round(least(min(col("raw")).over(wSuffix), lit(1.0)), 6))
      .select(col("nk").cast("long").as("nationkey"), col("chi2"),
        round(col("p"), 6).as("p"), col("rk").cast("long").as("rk"), col("p_adj"),
        (col("p_adj") <= 0.05).as("reject"))
      .orderBy(col("nationkey"))
  }
  val stBhSql: String =
    """WITH seen AS (
      |  SELECT s.s_nationkey AS nk, l.l_returnflag AS rf, count(*) AS o
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY 1, 2),
      |cells AS (
      |  SELECT g.nk, g.rf, coalesce(seen.o, 0) AS o
      |  FROM (SELECT n.nk, f.rf
      |        FROM (SELECT DISTINCT nk FROM seen) n,
      |             (SELECT DISTINCT rf FROM seen) f) g
      |  LEFT JOIN seen ON seen.nk = g.nk AND seen.rf = g.rf),
      |gt AS (SELECT nk, sum(o) AS ng FROM cells GROUP BY 1),
      |ct AS (SELECT rf, sum(o) AS oc FROM cells GROUP BY 1),
      |tot AS (SELECT CAST(sum(o) AS BIGINT) AS nn FROM cells),
      |chi AS (
      |  SELECT cells.nk, round(sum(round(
      |           (cells.o - CAST(gt.ng * ct.oc AS DOUBLE) / tot.nn)
      |           * (cells.o - CAST(gt.ng * ct.oc AS DOUBLE) / tot.nn)
      |           / (CAST(gt.ng * ct.oc AS DOUBLE) / tot.nn), 9)), 6) AS chi2
      |  FROM cells JOIN gt USING (nk) JOIN ct USING (rf), tot
      |  GROUP BY cells.nk),
      |pv AS (SELECT nk, chi2, round(exp(-chi2 / 2.0), 9) AS p FROM chi),
      |rkd AS (
      |  SELECT nk, chi2, p,
      |         count(*) OVER () AS m,
      |         row_number() OVER (ORDER BY p, nk) AS rk
      |  FROM pv),
      |adj AS (
      |  SELECT nk, chi2, p, rk,
      |         round(least(min(p * m / rk) OVER (ORDER BY rk
      |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 1.0), 6)
      |           AS p_adj
      |  FROM rkd)
      |SELECT CAST(nk AS BIGINT) AS nationkey, chi2, round(p, 6) AS p,
      |       CAST(rk AS BIGINT) AS rk, p_adj, p_adj <= 0.05 AS reject
      |FROM adj ORDER BY nationkey""".stripMargin

  val queries: Map[String, Q] = Map(
    "st_bh"     -> stBh,
    "st_kappa"  -> stKappa,
    "rl_bt"     -> rlBt,
    "st_ttest"  -> stTtest,
    "st_chisq"  -> stChisq,
    "st_linreg" -> stLinreg,
    "st_km"     -> stKm,
    "st_mannwhitney" -> stMannWhitney,
    "st_ks"     -> stKs,
    "st_anova"  -> stAnova,
    "st_levene" -> stLevene,
    "st_proptest" -> stProptest,
    "st_moments" -> stMoments,
    "st_power"   -> stPower,
  )

  val oracles: Map[String, String] = Map(
    "st_bh"     -> stBhSql,
    "st_kappa"  -> stKappaSql,
    "rl_bt"     -> rlBtSql,
    "st_ttest"  -> stTtestSql,
    "st_chisq"  -> stChisqSql,
    "st_linreg" -> stLinregSql,
    "st_km"     -> stKmSql,
    "st_mannwhitney" -> stMannWhitneySql,
    "st_ks"     -> stKsSql,
    "st_anova"  -> stAnovaSql,
    "st_levene" -> stLeveneSql,
    "st_proptest" -> stProptestSql,
    "st_moments" -> stMomentsSql,
    "st_power"   -> stPowerSql,
  )
}
