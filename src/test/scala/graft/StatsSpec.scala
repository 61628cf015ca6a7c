package graft

import graft.operators.Stats
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the inferential-statistics gates against hand-computed and
  * textbook fixtures written as minimal parquet corpora.
  */
class StatsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft-stats").toString

  test("stTtest matches the hand-computed Welch statistic and df") {
    val dir = tmp()
    val rows = Seq(1, 2, 3, 4, 5).map(v => ("ALPHA", v.toDouble)) ++
      Seq(2, 4, 6, 8, 10).map(v => ("BETA", v.toDouble))
    rows.toDF("c_mktsegment", "c_acctbal").write.parquet(s"$dir/customer.parquet")
    val out = Stats.stTtest(spark, dir)
      .as[(String, String, Double, Double)].collect()
    assert(out.length == 1)
    val (_, _, t, df) = out.head
    // meanA=3 vA=2.5, meanB=6 vB=10 → t = −3/√2.5, df = 6.25/(0.0625+1)
    assert(math.abs(t - (-3.0 / math.sqrt(2.5))) < 1e-5, s"t=$t")
    assert(math.abs(df - 5.882353) < 1e-3, s"df=$df")
  }

  test("stChisq reads a perfectly dow-associated table as V=1, chi2=N") {
    val dir = tmp()
    // type X only on Monday 2024-05-06, type Y only on Tuesday 2024-05-07
    val rows =
      (1 to 30).map(i => ("X", java.sql.Timestamp.valueOf("2024-05-06 10:00:00"))) ++
      (1 to 30).map(i => ("Y", java.sql.Timestamp.valueOf("2024-05-07 10:00:00")))
    rows.toDF("event_type", "ts").write.parquet(s"$dir/events.parquet")
    val r = Stats.stChisq(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 60L)
    assert(r.getAs[Long]("dof") == 1L)
    assert(math.abs(r.getAs[Double]("chi2") - 60.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("cramers_v") - 1.0) < 1e-6)
  }

  test("stLinreg recovers an exact planted line with r2 = 1") {
    val dir = tmp()
    val rows = (1 to 5).map(x => ("N", x.toDouble, 2.0 * x + 1.0, 0.0))
    rows.toDF("l_returnflag", "l_quantity", "l_extendedprice", "l_discount")
      .write.parquet(s"$dir/lineitem.parquet")
    val (flag, n, slope, intercept, r2) = Stats.stLinreg(spark, dir)
      .as[(String, Long, Double, Double, Double)].collect().head
    assert(flag == "N" && n == 5L)
    assert(math.abs(slope - 2.0) < 1e-6 && math.abs(intercept - 1.0) < 1e-6)
    assert(math.abs(r2 - 1.0) < 1e-6)
  }

  test("stKs computes the exact ECDF sup-gap on a hand-built pool") {
    val dir = tmp()
    // a = {1,2,3}, b = {2,3,4}: F_a-F_b = 1/3 at v=1,2,3 → D = 1/3;
    // ks = sqrt(3·3/6)·(1/3) = sqrt(1.5)/3.
    val rows = Seq(1, 2, 3).map(v => ("AUTOMOBILE", v.toDouble)) ++
      Seq(2, 3, 4).map(v => ("BUILDING", v.toDouble))
    rows.toDF("c_mktsegment", "c_acctbal").write.parquet(s"$dir/customer.parquet")
    val r = Stats.stKs(spark, dir).collect().head
    assert(r.getAs[Long]("na") == 3L && r.getAs[Long]("nb") == 3L)
    assert(math.abs(r.getAs[Double]("d_stat") - 1.0 / 3) < 1e-6)
    assert(math.abs(r.getAs[Double]("ks_stat") - math.sqrt(1.5) / 3) < 1e-6)
  }

  test("stKs is 0 on identical samples and 1 on disjoint ones") {
    val same = tmp()
    (Seq(1, 2, 3).map(v => ("AUTOMOBILE", v.toDouble)) ++
      Seq(1, 2, 3).map(v => ("BUILDING", v.toDouble)))
      .toDF("c_mktsegment", "c_acctbal").write.parquet(s"$same/customer.parquet")
    assert(Stats.stKs(spark, same).collect().head.getAs[Double]("d_stat") == 0.0)
    val disj = tmp()
    (Seq(1, 2).map(v => ("AUTOMOBILE", v.toDouble)) ++
      Seq(10, 11).map(v => ("BUILDING", v.toDouble)))
      .toDF("c_mktsegment", "c_acctbal").write.parquet(s"$disj/customer.parquet")
    assert(Stats.stKs(spark, disj).collect().head.getAs[Double]("d_stat") == 1.0)
  }

  test("stAnova matches the textbook two-group decomposition") {
    val dir = tmp()
    // A={1,2,3}, B={4,5,6}: grand=3.5, SSB = 3·1.5²·2 = 13.5, SSW = 2+2 = 4,
    // F = 13.5/(4/4) = 13.5, eta² = 13.5/17.5.
    val rows = Seq(1, 2, 3).map(v => ("A", v.toDouble)) ++
      Seq(4, 5, 6).map(v => ("B", v.toDouble))
    rows.toDF("c_mktsegment", "c_acctbal").write.parquet(s"$dir/customer.parquet")
    val r = Stats.stAnova(spark, dir).collect().head
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 6L)
    assert(math.abs(r.getAs[Double]("ssb") - 13.5) < 1e-6)
    assert(math.abs(r.getAs[Double]("ssw") - 4.0) < 1e-6)
    assert(math.abs(r.getAs[Double]("f_stat") - 13.5) < 1e-6)
    assert(math.abs(r.getAs[Double]("eta2") - 13.5 / 17.5) < 1e-6)
  }

  test("stPower reproduces the textbook normal-approximation sample size") {
    val dir = tmp()
    // even cohort 2/4 purchase, odd 1/4: n = 2.801585²·(.25+.1875)/.0625 → 55
    val rows = Seq(
      (2L, "purchase"), (2L, "purchase"), (2L, "click"), (4L, "click"),
      (1L, "purchase"), (1L, "click"), (3L, "click"), (3L, "click"))
    rows.toDF("user_id", "event_type").write.parquet(s"$dir/events.parquet")
    val r = Stats.stPower(spark, dir).collect().head
    val z = 1.959964 + 0.841621
    val want = math.ceil(z * z * (0.25 + 0.1875) / 0.0625).toLong
    assert(r.getAs[Long]("n_per_arm") == want && want == 55L,
      s"got ${r.getAs[Long]("n_per_arm")} want $want")
    // zero observed delta → NULL, not infinity
    val flat = tmp()
    Seq((2L, "purchase"), (1L, "purchase"), (2L, "click"), (1L, "click"))
      .toDF("user_id", "event_type").write.parquet(s"$flat/events.parquet")
    assert(Stats.stPower(spark, flat).collect().head.isNullAt(3))
  }

  test("stMoments: symmetric two-point mass gives skew 0, excess kurtosis -2") {
    val dir = tmp()
    (Seq.fill(4)(("X", 0.0)) ++ Seq.fill(4)(("X", 2.0)))
      .toDF("event_type", "value").write.parquet(s"$dir/events.parquet")
    val r = Stats.stMoments(spark, dir).collect().head
    assert(r.getAs[Long]("n") == 8L)
    assert(r.getAs[Double]("mean") == 1.0)
    assert(r.getAs[Double]("skewness") == 0.0)
    // Bernoulli(1/2): kurtosis = 1/(pq) - 3 = -2
    assert(r.getAs[Double]("kurtosis_excess") == -2.0)
  }

  test("stMoments partials are mergeable: 3 disjoint slices equal the one-shot result") {
    // The scale claim behind the operator: its raw power sums are
    // algebraic, so per-batch partials merged by plain addition must
    // reproduce the single-pass statistics exactly.
    val rows = (1 to 90).map(i => ("X", (i * 37 % 100) / 7.0))
    val whole = tmp()
    rows.toDF("event_type", "value").write.parquet(s"$whole/events.parquet")
    val oneShot = Stats.stMoments(spark, whole).collect().head
    val parts = rows.grouped(30).map { slice =>
      val dir = tmp()
      slice.toDF("event_type", "value").write.parquet(s"$dir/events.parquet")
      // the same fixed-point quantization the operator applies
      slice.map(r => math.floor(r._2 * 100).toLong)
    }.toSeq
    val xs = parts.flatten
    val (n, s1, s2, s3, s4) = (xs.size.toLong, xs.sum,
      xs.map(x => x * x).sum, xs.map(x => x * x * x).sum,
      xs.map(x => x * x * x * x).sum)
    val mu = s1.toDouble / n
    val (r2, r3, r4) = (s2.toDouble / n, s3.toDouble / n, s4.toDouble / n)
    val m2 = r2 - mu * mu
    val m3 = r3 - 3.0 * mu * r2 + 2.0 * mu * mu * mu
    val m4 = r4 - 4.0 * mu * r3 + 6.0 * mu * mu * r2 - 3.0 * mu * mu * mu * mu
    def r6(x: Double) = math.rint(x * 1e6) / 1e6
    assert(oneShot.getAs[Long]("n") == n)
    assert(oneShot.getAs[Double]("skewness") == r6(m3 / math.pow(m2, 1.5)),
      s"merged-partials skew disagrees with the operator")
    assert(oneShot.getAs[Double]("kurtosis_excess") == r6(m4 / (m2 * m2) - 3.0))
  }

  test("stProptest matches the hand-computed pooled two-proportion z") {
    val dir = tmp()
    // even users: 2 purchases / 4 events; odd: 1 / 4.
    // p̂ = 3/8; z = (0.5 − 0.25)/sqrt(0.375·0.625·0.5)
    val rows = Seq(
      (2L, "purchase"), (2L, "purchase"), (2L, "click"), (4L, "click"),
      (1L, "purchase"), (1L, "click"), (3L, "click"), (3L, "click"))
    rows.toDF("user_id", "event_type").write.parquet(s"$dir/events.parquet")
    val r = Stats.stProptest(spark, dir).collect().head
    assert(r.getAs[Long]("na") == 4L && r.getAs[Long]("xa") == 2L)
    assert(r.getAs[Long]("nb") == 4L && r.getAs[Long]("xb") == 1L)
    val z = (0.5 - 0.25) / math.sqrt(0.375 * 0.625 * 0.5)
    assert(math.abs(r.getAs[Double]("z") - z) < 1e-6, s"got ${r.getAs[Double]("z")}")
  }

  test("stLevene flags a dispersion-only difference the mean tests miss") {
    val dir = tmp()
    // A = {1,2,3} (z = 1,0,1), B = {10,30,50} (z = 20,0,20): same shape,
    // 20× spread. Hand-rolled with the operator's 2-dp SSW quantization:
    // ssw = 0.67 + 266.67 = 267.34, sst = 802 − 42²/6 = 508,
    // F = (508 − 267.34) / (267.34/4).
    val rows = Seq(1, 2, 3).map(v => ("A", v.toDouble)) ++
      Seq(10, 30, 50).map(v => ("B", v.toDouble))
    rows.toDF("c_mktsegment", "c_acctbal").write.parquet(s"$dir/customer.parquet")
    val r = Stats.stLevene(spark, dir).collect().head
    assert(r.getAs[Long]("k") == 2L && r.getAs[Long]("n") == 6L)
    val f = (508.0 - 267.34) / (267.34 / 4)
    assert(math.abs(r.getAs[Double]("f_stat") - f) < 1e-4,
      s"got ${r.getAs[Double]("f_stat")} want $f")
  }

  test("winsorize clamps exactly the tail 5% each side at the interpolated fences") {
    val dir = tmp()
    (1 to 100).map(v => ("X", v.toDouble)).toDF("event_type", "value")
      .write.parquet(s"$dir/events.parquet")
    val r = operators.Sampling.winsorize(spark, dir).collect().head
    // percentile(1..100, .05) = 5.95, (.95) = 95.05 (linear interpolation)
    assert(r.getAs[Double]("p05") == 5.95 && r.getAs[Double]("p95") == 95.05)
    assert(r.getAs[Long]("n_lo") == 5L && r.getAs[Long]("n_hi") == 5L)
    assert(r.getAs[Double]("mean_raw") == 50.5)
    // symmetric clamp: (5·5.95 + Σ6..95 + 5·95.05)/100 = 50.5 again
    assert(r.getAs[Double]("mean_wins") == 50.5)
  }

  test("stKm reproduces the Freireich 6-MP Kaplan-Meier curve") {
    // Classic remission times (weeks → days here, 1:1): observed
    // 6,6,6,7,10,13,16,22,23; censored 6,9,10,11,17,19,20,25,32,32,34,35.
    val obs = Seq(6, 6, 6, 7, 10, 13, 16, 22, 23)
    val cen = Seq(6, 9, 10, 11, 17, 19, 20, 25, 32, 32, 34, 35)
    val maxd = java.time.LocalDate.parse("2001-01-01")
    // censored: last order AT the horizon (≤365 from end); observed: 400
    // days before it, so the 365-day churn rule classifies each correctly.
    val rows =
      obs.zipWithIndex.map { case (t, i) =>
        (i.toLong, java.sql.Timestamp.valueOf(maxd.minusDays(t + 400).atStartOfDay),
          java.sql.Timestamp.valueOf(maxd.minusDays(400).atStartOfDay)) } ++
      cen.zipWithIndex.map { case (t, i) =>
        ((100 + i).toLong, java.sql.Timestamp.valueOf(maxd.minusDays(t).atStartOfDay),
          java.sql.Timestamp.valueOf(maxd.atStartOfDay)) }
    val dir = tmp()
    rows.flatMap { case (k, f, l) => Seq((k, f), (k, l)) }
      .toDF("o_custkey", "o_orderdate").write.parquet(s"$dir/orders.parquet")
    val got = Stats.stKm(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (t, nr, dd, sv) => t -> ((nr, dd, sv)) }.toMap
    val expect = Map( // textbook S(t), n at risk, deaths
      6L  -> ((21L, 3L, 0.857143)), 7L  -> ((17L, 1L, 0.806723)),
      10L -> ((15L, 1L, 0.752941)), 13L -> ((12L, 1L, 0.690196)),
      16L -> ((11L, 1L, 0.627451)), 22L -> ((7L, 1L, 0.537815)),
      23L -> ((6L, 1L, 0.448179)))
    assert(got.keySet == expect.keySet, s"step times: ${got.keySet}")
    expect.foreach { case (t, (nr, dd, sv)) =>
      val (gnr, gdd, gsv) = got(t)
      assert(gnr == nr && gdd == dd, s"t=$t risk/deaths: got ${got(t)}")
      assert(math.abs(gsv - sv) < 1e-5, s"t=$t survival: got $gsv want $sv")
    }
  }

  test("stMannWhitney matches the textbook U and tie-free z") {
    val dir = tmp()
    // A = {1,2}, B = {3,4}: ranks 1..4, R_A = 3, U_A = 0,
    // z = (0 - 2) / sqrt(4*5/12) = -1.549193
    val rows = Seq(("AUTOMOBILE", 1.0), ("AUTOMOBILE", 2.0),
      ("BUILDING", 3.0), ("BUILDING", 4.0))
    rows.toDF("c_mktsegment", "c_acctbal").write.parquet(s"$dir/customer.parquet")
    val r = Stats.stMannWhitney(spark, dir).collect().head
    assert(r.getAs[Long]("na") == 2L && r.getAs[Long]("nb") == 2L)
    assert(r.getAs[Double]("u_a") == 0.0)
    assert(math.abs(r.getAs[Double]("z") - (-1.549193)) < 1e-6)
  }

  test("stMannWhitney midranks: all-tied pools give U = na*nb/2 and z = 0") {
    val dir = tmp()
    val rows = Seq(("AUTOMOBILE", 5.0), ("AUTOMOBILE", 5.0),
      ("BUILDING", 5.0), ("BUILDING", 5.0))
    rows.toDF("c_mktsegment", "c_acctbal").write.parquet(s"$dir/customer.parquet")
    val r = Stats.stMannWhitney(spark, dir).collect().head
    assert(r.getAs[Double]("u_a") == 2.0) // na*nb/2
    // an all-tied pool has tie-corrected variance 0: z must surface as
    // NULL (the ev_anomaly zero-variance rule), never NaN/Inf
    assert(r.isNullAt(r.fieldIndex("z")))
  }

  test("floor(x*1e4+0.5) long == decimal(17,4) unscaled for gate-domain values") {
    // 2-dp money, integral quantities, 2-dp rates, and revenue-style
    // products p·(1−δ) (exact 4-dp rationals stored as inexact doubles)
    val base = Seq(0.0, 0.01, 0.04, 0.99, 1.0, 7.0, 49.99, 901.00,
      104949.50, 0.1 + 0.2 /* 0.30000000000000004 */)
    val prods = for {
      p <- Seq(901.00, 88888.88, 104949.50); dsc <- Seq(0.0, 0.04, 0.1)
    } yield p * (1.0 - dsc)
    val vals = (base ++ prods).toDF("x")
    val cmp = vals.select(
      floor(col("x") * lit(10000.0d) + lit(0.5d)).cast("long").as("viaFloor"),
      (col("x").cast("decimal(17,4)") * lit(10000)).cast("long").as("viaDec"))
      .where(col("viaFloor") =!= col("viaDec"))
    assert(cmp.count() == 0, s"floor-trick mismatch: ${cmp.collect().mkString}")
  }

  test("hi/lo split sums recombine to the exact decimal product sum") {
    // products up to ~1.2e18 (price·price at 4-dp unscale) and enough
    // rows that Σlo crosses 1e9 — the regime the decimal(20,0) casts and
    // the (·10 + lo/1e8) recombination must stay exact in
    val rows = (1 to 5000).map { i =>
      val u = 1000000000L + i.toLong * 171717L // ~1e9-scale unscaled
      (u, u - 7L)
    }
    val df = rows.toDF("ua", "ub")
    val agg = df.agg(
      sum(expr("(ua * ub) div 1000000000L")).as("hi"),
      sum(expr("(ua * ub) % 1000000000L")).as("lo"))
    val got = agg.select(
      (col("hi").cast("decimal(20,0)") * expr("CAST(10 AS DECIMAL(2,0))") +
        col("lo").cast("decimal(20,0)") /
          expr("CAST(100000000 AS DECIMAL(9,0))")).cast("string"))
      .as[String].head()
    val want = rows.map { case (a, b) => BigInt(a) * BigInt(b) }.sum
    assert(BigDecimal(got) * BigDecimal(100000000L) == BigDecimal(want),
      s"recombined $got vs exact ${want}e-8")
  }
}
