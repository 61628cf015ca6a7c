package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan regression guard: the scale properties PERF.md claims
  * are asserted here against the actual planned operators, so a future
  * edit that silently turns a broadcast join into a cartesian product or
  * re-introduces a global-window pagination fails CI, not the cluster.
  * (Checks the pre-AQE sparkPlan — deterministic at any data size.)
  */
class PlanGuardSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  val sf = "/root/testdata/sf0.001"

  private def planOf(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan

  /** executedPlan with AQE off (Exchange placement happens in executedPlan
    * preparation; AQE off keeps the tree inspectable without executing).
    * Restores the PRIOR conf value, not a hardcoded "true" (r11 backlog).
    */
  private def planWithoutAqe(name: String): SparkPlan = {
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan
    finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  test("s1_scan_filter pushes its predicates into the parquet scan") {
    val scan = planOf("s1_scan_filter").collectLeaves().map(_.toString).mkString
    assert(scan.contains("PushedFilters:") && scan.contains("EqualTo(event_type,click)"),
      s"expected pushed equality filter, scan was: ${scan.take(400)}")
  }

  test("q1_page bounds pagination with a distributed top-k, never a global window") {
    val plan = planOf("q1_page")
    assert(plan.toString.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject, plan:\n$plan")
    // the only window sits ABOVE the top-k (input ≤ page*limit rows)
    val windows = plan.collect { case w: WindowExec => w }
    windows.foreach { w =>
      assert(w.collect { case t if t.nodeName.contains("TakeOrderedAndProject") => t }.nonEmpty,
        s"window not fed by a top-k:\n$w")
    }
  }

  test("dimension joins broadcast the small side (s3, rj_range, clf weights)") {
    // tx_clf_score: the corpus-side feature scan must join the 65-row
    // weight table by broadcast hash, never shuffle the corpus for it
    Seq("s3_dim_join", "rj_range", "tx_clf_score").foreach { q =>
      // (rj_band is asserted separately below: its band-bucket equi-join
      // must plan as a hash join, never a nested loop)
      val bhj = planOf(q).collect { case j: BroadcastHashJoinExec => j }
      assert(bhj.nonEmpty, s"$q: expected a BroadcastHashJoin")
    }
  }

  test("rj_band plans the band predicate as a bucket equi-join (hash), not a theta nested loop") {
    val plan = planOf("rj_band")
    val nlj = plan.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(nlj.isEmpty, s"band join degenerated to a nested loop:\n$plan")
    val hashJoins = plan.collect {
      case j if j.nodeName.contains("HashJoin") || j.nodeName.contains("SortMergeJoin") => j
    }
    assert(hashJoins.nonEmpty, s"expected a hash/sort-merge equi-join on (nation, bucket):\n$plan")
  }

  test("rj_band_knn reduces each probe's candidates to ≤k MAP-SIDE under " +
       "the bucketed band join (no nested loop, partial min_k_pairs)") {
    // geo_radius_knn's exchange discipline on the value axis: the band
    // join must stay a bucket equi-join AND the bounded top-k must run
    // as a partial aggregate below its exchange, so the shuffle carries
    // O(k·probes) pairs instead of rj_band's output-quadratic set.
    val plan = planOf("rj_band_knn")
    val nlj = plan.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(nlj.isEmpty, s"band join degenerated to a nested loop:\n$plan")
    // The invariant is stage CO-LOCATION, not the exchange itself: at
    // sf0.001 the probe side is a single partition, so Spark may satisfy
    // the final aggregate's distribution without inserting any exchange
    // at all. What must hold at EVERY scale: the partial min_k_pairs
    // node sits in the same stage as the band join — its subtree reaches
    // the join with no shuffle in between — so each scan partition's
    // candidates reduce to ≤k before any data moves.
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    val partial = plan.collect {
      case a: ObjectHashAggregateExec
        if a.simpleString(Int.MaxValue).contains("partial_minkpairsagg") => a
    }
    assert(partial.nonEmpty, s"no partial min_k_pairs aggregate:\n$plan")
    val sub = partial.head
    val join = sub.collect { case j if j.nodeName.contains("HashJoin") => j }
    assert(join.nonEmpty, s"partial top-k not fed directly by the band join:\n$sub")
    // Exchanges BELOW the join are fine (the probe-side repartition is
    // deliberate); what must not exist is one BETWEEN the join and the
    // partial — that would mean the candidate stream moves before it is
    // reduced to ≤k.
    val between = sub.collect { case e: ShuffleExchangeExec => e }
      .filterNot(e => join.head.collect { case x if x eq e => x }.nonEmpty)
    assert(between.isEmpty,
      s"a shuffle sits between the band join and the partial top-k:\n$sub")
  }

  test("no operator plans a nested-loop or cartesian join except declared cross products") {
    // dd_embedding / ann_bruteforce are DECLARED bounded cross products
    // (probe-set re-rank); ann_ivf_assign scans each vector against the
    // O(K) broadcast centroid set — that IS the IVF assignment step.
    // cc_clusters is excluded because building its "plan" executes the
    // whole driver-side CC loop and returns only the final checkpointed
    // select — expensive and blind to the in-loop joins.
    // Everything else must never plan one.
    // tx_tfidf joins a ONE-ROW aggregate (corpus doc count) — a 1-row
    // broadcast NLJ is the right physical plan for a scalar join.
    // ann_kmeans_train is the Lloyd assign step: corpus × O(K) broadcast
    // centroids per iteration — the same declared shape as ann_ivf_assign.
    // tx_lm_score joins the ONE-ROW vocabulary-size aggregate the same way
    // tx_tfidf joins its doc count.
    // tx_clf_score joins the ONE-ROW labeled-slice count (gradient
    // normalizer) per training step — the same 1-row-broadcast-NLJ class.
    // dd_semdedup and ann_ivfpq ride the ivfAssign centroid broadcast
    // (corpus × O(K)); tx_pp_bucket joins the ONE-ROW percentile-cutoff
    // aggregate.
    // ann_recall_eval composes two declared shapes: the bounded
    // brute-force cross (its ground truth) and the IVF centroid broadcast.
    // sp_temperature crossJoins the ONE-ROW corpus-total and
    // weight-normalizer aggregates — the scalar-join class again.
    // sk_hll_est crossJoins the ONE-ROW exact count with the ONE-ROW
    // register-sum aggregate — scalar-join class.
    // tpch_q11 crossJoins the ONE-ROW global-total aggregate for its
    // HAVING threshold — scalar-join class (same as tpch_q22's total).
    // ev_gapfill crossJoins the distinct-type dimension (O(types) rows)
    // with the generated calendar (O(days) rows) — the declared
    // grid-densification product, both sides dimension-bounded.
    // gr_pagerank / gr_triangles are excluded for the cc_clusters reason:
    // building their "plan" executes the driver-side iteration /
    // eager checkpoint and returns only the final select.
    val allowed = Set("dd_embedding", "ann_bruteforce", "ann_ivf_assign",
      "ann_ivf_search", "ann_kmeans_train", "cc_clusters", "cc_star",
      "dd_canonical", "tx_tfidf", "tx_lm_score", "tx_clf_score",
      "dd_semdedup", "dd_semdedup_inc", "tx_pp_bucket", "sp_quality_sample",
      "ann_ivfpq", "pf_drift", "tpch_q22", "ann_recall_eval",
      "sp_temperature", "sk_hll_est", "tpch_q11",
      "ev_gapfill", "gr_pagerank", "gr_triangles",
      // sk_cms_join crossJoins its two ONE-ROW aggregates (estimate,
      // exact) — scalar-join class; gr_labelprop is the cc_clusters
      // plan-builds-the-loop exclusion; sw_skew_report crossJoins its
      // ONE-ROW stats aggregate — scalar-join class.
      "sk_cms_join", "gr_labelprop", "sw_skew_report",
      // ix_bm25 crossJoins its ONE-ROW corpus stats (N, Σdl) — the
      // tx_tfidf scalar-join class.
      "ix_bm25",
      // ix_hybrid inherits ix_bm25's scalar stats join and adds the
      // ONE-ROW broadcast probe vector for the semantic leg; tx_colloc
      // crossJoins the ONE-ROW bigram grand total — scalar-join class.
      "ix_hybrid", "tx_colloc",
      // tx_clf_auc re-runs clfTrain, inheriting tx_clf_score's ONE-ROW
      // gradient-normalizer crossJoin per step — scalar-join class.
      "tx_clf_auc",
      // ix_mlt crossJoins the ONE-ROW doc-count aggregate for its idf —
      // the tx_tfidf scalar-join class; a12_rfm crossJoins its ONE-ROW
      // max-date and tercile-threshold aggregates — same class.
      "ix_mlt", "a12_rfm",
      // ann_ivfpq_residual rides the same ivfAssign corpus × O(K)
      // centroid broadcast as ann_ivfpq (twice: cell assignment + probe
      // cell ranking) — the declared IVF-assignment shape.
      "ann_ivfpq_residual",
      // dd_linkage crossJoins its two ONE-ROW m/u parameter aggregates
      // onto the pair stream; sp_domain_mix crossJoins the ONE-ROW
      // budget total and per-round ONE-ROW waterfilling stats onto the
      // O(domains) table — scalar-join class, both.
      "dd_linkage", "sp_domain_mix",
      // pl_dsir crossJoins the ONE-ROW raw/target total-count aggregates
      // that normalize its hashed-unigram likelihood ratios — scalar-join
      // class (the O(512) count tables themselves broadcast-hash-join).
      "pl_dsir",
      // round-9 stats/ts/recsys families, all scalar- or dimension-
      // bounded products: rc_assoc (ONE-ROW basket total), st_ttest
      // (O(segments)² moment self-pairing), st_chisq (distinct-type ×
      // distinct-dow grid densification — the ev_gapfill class — plus
      // ONE-ROW grand totals), st_km (ONE-ROW cohort-size aggregates),
      // ts_ewma / ts_cusum (ONE-ROW series stats onto the O(days)
      // table), tx_clf_calib (inherits tx_clf_score's ONE-ROW gradient
      // normalizer per training step).
      "rc_assoc", "st_ttest", "st_chisq", "st_km",
      "ts_ewma", "ts_cusum", "tx_clf_calib",
      // round-9 additions. Scalar-join class (ONE-ROW aggregate
      // crossJoins): dq_benford (digit total), sk_kmv_setops (sketch +
      // exact 1-row frames), ts_periodogram (day count), tx_kn_score
      // (distinct-bigram total), ml_nb_score / ml_nb_confusion (vocab
      // scalar + the O(labels) label list — dimension-bounded like
      // ev_gapfill's grid), pii_tclose (O(sources) global distribution
      // onto the class table). Plan-builds-the-loop class (cc_clusters
      // reason): gr_sssp, gr_ppr, tx_textrank.
      "dq_benford", "sk_kmv_setops", "ts_periodogram", "tx_kn_score",
      "ml_nb_score", "ml_nb_confusion", "pii_tclose",
      "gr_sssp", "gr_ppr", "tx_textrank",
      // Scalar-join class: st_ks crossJoins its ONE-ROW (na, nb) totals;
      // fe_target_encode its ONE-ROW global prior; ev_lifecycle its
      // ONE-ROW max-day horizon clip. ts_holt is the ts_ewma O(days)²
      // closed-form triangle (both sides day-bounded).
      "st_ks", "fe_target_encode", "ts_holt", "ev_lifecycle",
      // dq_freshness crossJoins its ONE-ROW freshest-stream scalar;
      // ts_backtest rides ts_holt's O(days)² closed-form triangle;
      // tx_burstiness crossJoins its ONE-ROW corpus doc count.
      "dq_freshness", "ts_backtest", "tx_burstiness",
      // pii_pseudo crossJoins its ONE-ROW injectivity-check aggregate;
      // sp_negatives is the DECLARED bounded user × catalog product its
      // scaladoc discloses (rejection sampling is the scale path).
      "pii_pseudo", "sp_negatives",
      // ml_knn_confusion is the declared ann_bruteforce probe × train
      // product with a FIXED 50-probe eval set (vec_id % 10 = 0 AND
      // vec_id < 500) — O(50·N), one linear corpus scan.
      "ml_knn_confusion",
      // ann_hard_negatives and dc_semantic route their corpus scans
      // through the trained IVF cells (hash equi-join on cell, asserted
      // separately below); since r14 the corpus-side assignment is the
      // persisted trainedIvfAssign artifact (a parquet read), so the
      // only remaining product is the PROBE set × O(K) broadcast
      // centroids — probe-bounded by construction.
      "ann_hard_negatives", "dc_semantic",
      // ann_ivf_maintain reads the persisted assignment artifact; its
      // share totals are an unpartitioned window over the O(K) cell
      // table, not a join. (Allowlisted for the artifact's first-call
      // in-plan build, which runs the declared corpus × O(K) assign.)
      "ann_ivf_maintain",
      // dq_psi crossJoins the O(types) histogram against the O(bins)
      // grid — the ev_gapfill dimension-densification class (smoothed
      // PSI needs the zero-count cells). gr_modularity is the
      // cc_clusters plan-builds-the-loop exclusion: building its plan
      // executes the 4-round LPA driver loop; cc_size_hist rides the
      // memoized CC labels the same way.
      "dq_psi", "gr_modularity", "cc_size_hist",
      // st_bh crossJoins its ONE-ROW grand total (scalar-join class) and
      // densifies the nation × returnflag grid (ev_gapfill class).
      "st_bh",
      // ml_kmeanspp crossJoins its ONE-ROW φ = ΣD² total (scalar-join
      // class); the seed distances are a component-index hash equi-join.
      "ml_kmeanspp",
      // ts_ar2 crossJoins its ONE-ROW parameter row (r1/r2/φ/c) and the
      // ONE-ROW series mean onto the O(days) table — scalar-join class.
      "ts_ar2",
      // gr_betweenness is the cc_clusters plan-builds-the-loop exclusion:
      // both Brandes passes run driver loops of keyed equi-joins over
      // checkpointed level frames.
      "gr_betweenness",
      // geo_dbscan_cc is the cc_clusters plan-builds-the-loop exclusion:
      // its core-core CC runs Graph.connectedComponents' driver loop at
      // plan-build time (every in-loop join is a keyed equi-join; the
      // sibling geo_dbscan gate keeps the grid join under the sweep).
      "geo_dbscan_cc")
    val offenders = SparkEntry.queries.keys.filterNot(allowed).toSeq.sorted.flatMap { q =>
      val bad = planOf(q).collect {
        case j: BroadcastNestedLoopJoinExec => j
        case j: CartesianProductExec => j
      }
      if (bad.isEmpty) None else Some(s"$q plans ${bad.map(_.nodeName).mkString(",")}")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("ann_hard_negatives / dc_semantic route the corpus through IVF cells (hash equi-join)") {
    // The r10 verdict's scale fix: these two must scan only the probed
    // cells' members — a hash/sort-merge equi-join on `cell` — never the
    // whole corpus per probe. (Their centroid broadcasts are the declared
    // ivfAssign shape, allowlisted above; this asserts the routing half.)
    Seq("ann_hard_negatives", "dc_semantic").foreach { q =>
      val plan = planOf(q)
      val hash = plan.collect {
        case j if j.nodeName.contains("HashJoin") || j.nodeName.contains("SortMergeJoin") => j
      }
      assert(hash.nonEmpty, s"$q: expected the cell-routing equi-join:\n$plan")
    }
  }

  test("dd_sortnbr pairs by a rank-offset HASH join; tx_rake segments with per-doc windows") {
    // sorted-neighborhood: the offset explode must make the pair stage a
    // hash equi-join on rank, never a rank-band nested loop.
    val snb = planOf("dd_sortnbr")
    val hashJoins = snb.collect {
      case j if j.nodeName.contains("HashJoin") || j.nodeName.contains("SortMergeJoin") => j
    }
    assert(hashJoins.nonEmpty, s"expected a hash join on rank:\n$snb")
    // RAKE: the gaps-and-islands window partitions by doc_id — no global
    // single-partition ordered scan over the token stream. (The only
    // unpartitioned window is the final top-20 ranking over the tiny
    // deduped-phrase table.)
    val rake = planOf("tx_rake")
    val winSpecs = rake.collect { case w: WindowExec => w }
    assert(winSpecs.exists(_.partitionSpec.nonEmpty),
      s"phrase segmentation window must partition by doc:\n$rake")
  }

  test("BandJoinBucketRule: a plain abs(l−r)<=w theta join plans as a HASH join, result equals naive") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.abs
    val lv = (1 to 500).map(i => (i.toLong, (i * 7 % 997).toDouble))
    val rv = (1 to 300).map(i => (i.toLong, (i * 13 % 997).toDouble))
    val joined = lv.toDF("lid", "x").join(rv.toDF("rid", "y"), abs($"x" - $"y") <= 5.0)
    val plan = joined.queryExecution.sparkPlan
    val nlj = plan.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case c: CartesianProductExec => c
    }
    assert(nlj.isEmpty, s"rule did not fire — band join planned as nested loop:\n$plan")
    val hash = plan.collect {
      case j if j.nodeName.contains("HashJoin") || j.nodeName.contains("SortMergeJoin") => j
    }
    assert(hash.nonEmpty, s"expected a hash/sort-merge join:\n$plan")
    val got = joined.select($"lid", $"rid").as[(Long, Long)].collect().toSet
    val want = (for { (li, xv) <- lv; (ri, yv) <- rv if math.abs(xv - yv) <= 5.0 }
      yield (li, ri)).toSet
    assert(got == want, s"missing=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
    // a join that already has an equi key is left alone (no double bucketing)
    val equi = lv.toDF("lid", "x").join(rv.toDF("rid", "y"),
      $"lid" === $"rid" && abs($"x" - $"y") <= 5.0)
    assert(!equi.queryExecution.optimizedPlan.toString.contains("__band_bucket_l"),
      "rule must skip joins that already have an equi key")
  }

  test("EntriesFold.fold stays entity-keyed: every shuffle hashes on an entry key, no NL joins, no windows") {
    // The anchor for the bulk-scale fold numbers (PERF.md "Hypermap
    // pipeline at bulk scale"): the measured plan is pinned here so a
    // future edit can't silently move the fold off its keyed-shuffle
    // shape. Broadcast thresholds are disabled so the join strategy (and
    // thus the exchange set) doesn't depend on fixture-size stats.
    val sp = spark
    val decoded = hypermap.Decode.decode(
      hypermap.Fixtures.toDF(sp, hypermap.Fixtures.randomLogs(2000)))
    // restore the PRE-TEST values, not hard-coded defaults — a session
    // running with non-default conf must not have it clobbered (r10 advice)
    val prevThresh = sp.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = sp.conf.get("spark.sql.adaptive.enabled")
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sp.conf.set("spark.sql.adaptive.enabled", "false")
    val plan = // executedPlan: exchanges exist only after EnsureRequirements
      try hypermap.EntriesFold.fold(decoded).queryExecution.executedPlan
      finally {
        sp.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
        sp.conf.set("spark.sql.adaptive.enabled", prevAqe)
      }
    val bad = plan.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case c: CartesianProductExec => c
      case w: WindowExec => w
    }
    assert(bad.isEmpty, s"fold must be join/agg only, keyed end-to-end: ${bad.map(_.nodeName)}")
    val entityKeys = Set("namehash", "parenthash", "childhash", "entry",
      "tkey", "k_namehash")
    val exchanges = plan.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, "expected keyed shuffles with broadcasts disabled")
    exchanges.foreach { e =>
      e.outputPartitioning match {
        case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
          val refs = h.expressions.flatMap(_.references.map(_.name.toLowerCase)).toSet
          assert(refs.exists(r => entityKeys.exists(k => r.startsWith(k))),
            s"shuffle not keyed on an entity key: $refs\n$e")
        case p => fail(s"unexpected non-hash exchange in the fold: $p")
      }
    }
  }

  test("BandJoinBucketRule: two-conjunct and BETWEEN bands plan as HASH joins, results equal naive") {
    val sp = spark
    import sp.implicits._
    val lv = (1 to 500).map(i => (i.toLong, (i * 7 % 997).toDouble))
    val rv = (1 to 300).map(i => (i.toLong, (i * 13 % 997).toDouble))
    def assertHash(df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.sparkPlan
      val nlj = plan.collect {
        case j: BroadcastNestedLoopJoinExec => j
        case c: CartesianProductExec => c
      }
      assert(nlj.isEmpty, s"rule did not fire — band join planned as nested loop:\n$plan")
    }
    // asymmetric two-conjunct: x − y ∈ [−3, 8]
    val conj = lv.toDF("lid", "x").join(rv.toDF("rid", "y"),
      $"x" - $"y" <= 8.0 && $"y" - $"x" <= 3.0)
    assertHash(conj)
    val gotConj = conj.select($"lid", $"rid").as[(Long, Long)].collect().toSet
    val wantConj = (for { (li, xv) <- lv; (ri, yv) <- rv
      if xv - yv <= 8.0 && yv - xv <= 3.0 } yield (li, ri)).toSet
    assert(gotConj == wantConj,
      s"missing=${wantConj.diff(gotConj).take(5)} extra=${gotConj.diff(wantConj).take(5)}")
    // BETWEEN form: x ∈ [y − 5, y + 5] (Catalyst expands to the conjunct pair)
    val btw = lv.toDF("lid", "x").join(rv.toDF("rid", "y"),
      $"x".between($"y" - 5.0, $"y" + 5.0))
    assertHash(btw)
    val gotBtw = btw.select($"lid", $"rid").as[(Long, Long)].collect().toSet
    val wantBtw = (for { (li, xv) <- lv; (ri, yv) <- rv
      if math.abs(xv - yv) <= 5.0 } yield (li, ri)).toSet
    assert(gotBtw == wantBtw,
      s"missing=${wantBtw.diff(gotBtw).take(5)} extra=${gotBtw.diff(wantBtw).take(5)}")
  }

  test("BandJoinBucketRule: non-double-representable decimal width keeps exact-boundary pairs") {
    // The ADVICE r9 boundary: decimal width 0.3 converts to a double ~0.5 ulp
    // BELOW the exact decimal the residual predicate compares with, so a pair
    // at exactly |x − y| = 0.3 whose quotients straddle an integer boundary
    // lands 2 buckets apart and the ×3 expansion misses it. This exact pair
    // (found by magnitude scan) is dropped by the un-nudged width and kept by
    // Math.nextUp: y = 0.299999999999999933, x = y + 0.3 — decimal-exact
    // difference 0.3, double floors (x/0.3, y/0.3) = (2, 0).
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{abs, lit}
    import org.apache.spark.sql.types.{DecimalType, StructField, StructType}
    val dt = DecimalType(24, 18)
    val schema = StructType(Seq(StructField("v", dt)))
    def df(name: String, vals: Seq[String]) = sp.createDataFrame(
      sp.sparkContext.parallelize(vals.map(v =>
        org.apache.spark.sql.Row(new java.math.BigDecimal(v)))), schema)
      .select($"v".as(name))
    val l = df("x", Seq("0.599999999999999933", "1.0", "7.3"))
    val r = df("y", Seq("0.299999999999999933", "1.2", "9.9"))
    val joined = l.join(r, abs($"x" - $"y") <= lit(new java.math.BigDecimal("0.3")))
    // the rule must fire (no nested loop) AND keep the boundary pair
    assert(joined.queryExecution.optimizedPlan.toString.contains("__band_bucket_l"),
      "decimal-width band must still match the rule")
    val got = joined.select($"x".cast("string"), $"y".cast("string"))
      .as[(String, String)].collect().toSet
    assert(got.exists { case (x, y) =>
      x.startsWith("0.599999999999999933") && y.startsWith("0.299999999999999933") },
      s"exact-boundary decimal pair dropped: $got")
    assert(got.exists { case (x, y) => x.startsWith("1.0") && y.startsWith("1.2") }, s"$got")
    assert(got.size == 2, s"unexpected extras: $got")
  }

  test("BandJoinBucketRule: DECIMAL(24,18) operands at 1e6 magnitude keep all boundary pairs") {
    // r10 advice: the operands' OWN cast-to-double error (~1e-10 at 1e6
    // magnitude for DECIMAL(24,18)) dwarfs the nextUp nudge (~5e-17), so
    // ±1 candidate buckets could silently drop a pair satisfying the exact
    // decimal residual predicate. The ±2 expansion must keep every pair.
    // Grid of 0.1-spaced values near 1e6, width 0.3 — rich in pairs whose
    // exact difference sits exactly ON the 0.3 boundary.
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{abs, lit}
    import org.apache.spark.sql.types.{DecimalType, StructField, StructType}
    val dt = DecimalType(24, 18)
    val schema = StructType(Seq(StructField("v", dt)))
    def mk(vals: Seq[java.math.BigDecimal], name: String) = sp.createDataFrame(
      sp.sparkContext.parallelize(vals.map(org.apache.spark.sql.Row(_))), schema)
      .select($"v".as(name))
    // 18-decimal tails on BOTH sides (they cancel in the difference), so
    // i=j pairs sit EXACTLY on the 0.3 boundary at full type precision.
    // Values stay just under 1e6 — DECIMAL(24,18) holds 6 integer digits.
    val lv = (0 until 80).map(i => new java.math.BigDecimal("999990.250000000000000001")
      .add(new java.math.BigDecimal(i).movePointLeft(1)))
    val rv = (0 until 80).map(i => new java.math.BigDecimal("999989.950000000000000001")
      .add(new java.math.BigDecimal(i).movePointLeft(1)))
    val joined = mk(lv, "x").join(mk(rv, "y"),
      abs($"x" - $"y") <= lit(new java.math.BigDecimal("0.3")))
    assert(joined.queryExecution.optimizedPlan.toString.contains("__band_bucket_l"),
      "high-precision decimal band must still match the rule (err < w/4)")
    val w = new java.math.BigDecimal("0.3")
    val want = (for { x <- lv; y <- rv
      if x.subtract(y).abs.compareTo(w) <= 0 } yield (x.stripTrailingZeros, y.stripTrailingZeros)).toSet
    val got = joined.select($"x".cast("string"), $"y".cast("string"))
      .as[(String, String)].collect()
      .map { case (x, y) => (new java.math.BigDecimal(x).stripTrailingZeros,
        new java.math.BigDecimal(y).stripTrailingZeros) }.toSet
    assert(got == want,
      s"missing=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
  }

  test("BandJoinBucketRule: long×long bands bucket exactly at any magnitude (incl. >2^53 and negatives)") {
    // integral operands must never pass through double: at 2^62 a double
    // cast moves a long by up to 512 — far wider than a small band. The
    // exact-integer floor-division path keeps these joins both hash-planned
    // and exact; negatives exercise the trunc→floor adjustment.
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.abs
    val base = 4611686018427387904L // 2^62
    val lv = (0 until 400).map(i => (i.toLong, base + i * 7L)) ++
      (0 until 50).map(i => (1000L + i, -25L + i))
    val rv = (0 until 300).map(i => (i.toLong, base + i * 11L)) ++
      (0 until 50).map(i => (1000L + i, -20L + i))
    val joined = lv.toDF("lid", "x").join(rv.toDF("rid", "y"),
      abs($"x" - $"y") <= 10L)
    val plan = joined.queryExecution.sparkPlan
    val nlj = plan.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case c: CartesianProductExec => c
    }
    assert(nlj.isEmpty, s"integral band planned as nested loop:\n$plan")
    val got = joined.select($"lid", $"rid").as[(Long, Long)].collect().toSet
    val want = (for { (li, xv) <- lv; (ri, yv) <- rv
      if (xv - yv).abs <= 10L } yield (li, ri)).toSet
    assert(got == want,
      s"missing=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
  }

  test("BandJoinBucketRule: epoch-nanos-magnitude doubles with a narrow band stay hash-planned and exact") {
    // r12's VERDICT flagged epoch-nanos magnitude with narrow widths as
    // a documented wrong-results hazard. The r13 power-of-two bucket
    // width makes the bucket division exact at ANY magnitude, so this
    // must hash-plan with the ordinary ±1 radius AND return exactly the
    // naive double-arithmetic result. Ground truth is computed with the
    // SAME doubles (at 1.7e18 they are quantized to 256), not assumed.
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.abs
    val base = 1.7e18
    val lv = (0 until 300).map(i => (i.toLong, base + i * 193.0))
    val rv = (0 until 300).map(i => (i.toLong, base + i * 311.0))
    val joined = lv.toDF("lid", "x").join(rv.toDF("rid", "y"),
      abs($"x" - $"y") <= 100.0)
    val plan = joined.queryExecution.sparkPlan
    val nlj = plan.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case c: CartesianProductExec => c
    }
    assert(nlj.isEmpty, s"nanos-magnitude band should hash-plan, not NLJ:\n$plan")
    val got = joined.select($"lid", $"rid").as[(Long, Long)].collect().toSet
    val want = (for { (li, xv) <- lv; (ri, yv) <- rv
      if math.abs(xv - yv) <= 100.0 } yield (li, ri)).toSet
    assert(want.nonEmpty, "fixture produced no qualifying pairs")
    assert(got == want,
      s"missing=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
  }

  test("BandJoinBucketRule: exact-boundary pairs survive at nanos magnitude with a sub-quantum band") {
    // W=10 is far below the 256-unit double quantum at 1.7e18: only
    // exact ties qualify, and every tie must survive the bucketing
    // (a rounding division could strand ties at a bucket edge).
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.abs
    val base = 1.7e18
    val lv = (0 until 80).map(i => (i.toLong, base + i * 512.0))
    val rv = (0 until 80).map(i => (i.toLong, base + i * 1024.0))
    val joined = lv.toDF("lid", "x").join(rv.toDF("rid", "y"),
      abs($"x" - $"y") <= 10.0)
    val plan = joined.queryExecution.sparkPlan
    val nlj = plan.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case c: CartesianProductExec => c
    }
    assert(nlj.isEmpty, s"sub-quantum band should hash-plan, not NLJ:\n$plan")
    val got = joined.select($"lid", $"rid").as[(Long, Long)].collect().toSet
    val want = (for { (li, xv) <- lv; (ri, yv) <- rv
      if math.abs(xv - yv) <= 10.0 } yield (li, ri)).toSet
    assert(want.nonEmpty, "fixture produced no qualifying ties")
    assert(got == want,
      s"missing=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
  }

  test("BandJoinBucketRule: stands down when the decimal type's magnitude swamps the width") {
    // DECIMAL(38,0) admits values near 1e38 whose cast error (~2e22) makes
    // any double bucketing unsound for a narrow band — the rule must
    // leave the join alone (slow NLJ, but never a dropped pair). The
    // stand-down decision is TYPE-based; the fixture keeps the residual
    // predicate itself exactly evaluable by (a) staying away from the
    // type's 1e38 ceiling, where Spark's ANSI decimal comparison
    // overflows (NUMERIC_VALUE_OUT_OF_RANGE) with or without the rule,
    // and (b) using an INTEGER width — a fractional width against a
    // scale-0 decimal forces Spark's lossy-precision promotion, which
    // rounds 0.5 up to 1 inside the comparison and silently widens the
    // band the naive plan itself evaluates. Both hazards belong to
    // Spark's decimal arithmetic, not to this rule.
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.{abs, lit}
    import org.apache.spark.sql.types.{DecimalType, StructField, StructType}
    val schema = StructType(Seq(StructField("v", DecimalType(38, 0))))
    def mk(vals: Seq[String], name: String) = sp.createDataFrame(
      sp.sparkContext.parallelize(vals.map(v =>
        org.apache.spark.sql.Row(new java.math.BigDecimal(v)))), schema)
      .select($"v".as(name))
    val joined = mk(Seq("12345678901234567890123456789", "5"), "x")
      .join(mk(Seq("12345678901234567890123456787", "5"), "y"),
        abs($"x" - $"y") <= lit(1))
    assert(!joined.queryExecution.optimizedPlan.toString.contains("__band_bucket_l"),
      "rule must stand down for statically-unsound decimal bucketing")
    val got = joined.select($"x".cast("string"), $"y".cast("string"))
      .as[(String, String)].collect().toSet
    assert(got == Set(("5", "5")), s"NLJ fallback result wrong: $got")
  }

  test("dq_corr computes all 21 moments from a single lineitem scan, no joins") {
    val plan = planOf("dq_corr")
    val scans = plan.collectLeaves()
    assert(scans.size == 1, s"expected ONE scan, got ${scans.size}")
    val joins = plan.collect {
      case j: BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }
    assert(joins.isEmpty, s"corr matrix must not join: ${joins.map(_.nodeName)}")
  }

  test("ix_hybrid ranks only after each leg's distributed top-k") {
    val plan = planOf("ix_hybrid")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.size == 2, s"expected one rank window per leg: $windows")
    windows.foreach { w =>
      assert(w.collect { case t if t.nodeName.contains("TakeOrderedAndProject") => t }.nonEmpty,
        s"rank window not fed by a top-k:\n$w")
    }
  }

  test("sp_bootstrap folds 32 replicates through one keyed shuffle of B-sized partials") {
    val plan = planWithoutAqe("sp_bootstrap")
    val hashed = plan.collect { case s: ShuffleExchangeExec => s }
      .filter(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(hashed.size == 1,
      s"expected exactly one keyed shuffle (on b), got ${hashed.size}")
    // partial aggregation must sit below it — the exchange carries
    // per-partition partials, never the exploded doc×B stream
    hashed.foreach(e => assert(
      e.collect { case a if a.nodeName.contains("HashAggregate") => a }.nonEmpty,
      "no map-side combine below the shuffle"))
  }

  test("per-key windows are partitioned (w2, w3, e1, sessionize path)") {
    Seq("w2_running_sum", "w3_sessionize", "e1_first_per_key").foreach { q =>
      val windows = planOf(q).collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$q: expected a window")
      windows.foreach(w => assert(w.partitionSpec.nonEmpty,
        s"$q: unpartitioned window — single-partition cliff:\n$w"))
    }
  }

  test("pl_corpus_clean keeps every gate narrow: one keyed shuffle, pruned scan") {
    // Exchange placement happens in executedPlan preparation (sparkPlan
    // predates EnsureRequirements); AQE off so the tree is inspectable
    // without executing.
    val plan = planWithoutAqe("pl_corpus_clean")
    val hashed = plan.collect { case s: ShuffleExchangeExec => s }
      .filter(_.outputPartitioning
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
    assert(hashed.size == 1,
      s"expected exactly one keyed shuffle (the dedup key), got ${hashed.size}")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
    // r15: the gate reads the per-snapshot staged ARTIFACT, so the plan
    // got strictly narrower — no text (or its regex staging) in the scan
    // at all, and the quality gate is a pushed-down filter on the
    // artifact's boolean column. Pin that stronger contract.
    val scan = plan.collectLeaves().map(_.toString).mkString
    assert(scan.contains("doc_id") && scan.contains("norm_key") &&
      !scan.contains("text"),
      s"scan should read the staged artifact without text: ${scan.take(300)}")
    assert(scan.contains("qual_ok"),
      s"quality gate should push down to the artifact scan: ${scan.take(300)}")
  }

  test("tpch_q6 is a pure pushed-down scan-aggregate: no join, one gather") {
    val plan = planOf("tpch_q6")
    // toString elides long filter lists — read the scan metadata directly
    val pushed = plan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s.metadata("PushedFilters")
    }.mkString
    assert(pushed.contains("LessThan(l_quantity,24.0)") &&
      pushed.contains("GreaterThanOrEqual(l_discount,0.05)"),
      s"expected quantity/discount predicates pushed to parquet: $pushed")
    val joins = plan.collect {
      case j: BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
    }
    assert(joins.isEmpty, "Q6 must not plan any join")
  }

  test("tpch_q10 shuffles keys+measures only — customer attrs join after the agg") {
    // the plan inversion PERF.md claims: no shuffle may carry c_name /
    // n_name; those broadcast onto the aggregated ~|customers| rows
    val plan = planWithoutAqe("tpch_q10")
    val shufCols = plan.collect { case e: ShuffleExchangeExec => e.output.map(_.name) }
    shufCols.foreach(cols =>
      assert(!cols.contains("c_name") && !cols.contains("n_name"),
        s"customer attributes rode a shuffle: $cols"))
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "customer+nation should broadcast onto the aggregate")
  }

  test("dd_semdedup compares within cells only: the pair stage is a keyed equi-join") {
    // SemDeDup's scale contract — the corpus is never crossed with itself:
    // the only allowed non-equi plan is the O(K) centroid broadcast
    // (assign); the vb-witness stage must be a hash/sort join on centroid.
    val plan = planOf("dd_semdedup")
    val cart = plan.collect { case j: CartesianProductExec => j }
    assert(cart.isEmpty, "semdedup planned a true cartesian product")
    val equi = plan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
    }
    assert(equi.exists(_.toString.contains("centroid")),
      "expected the within-cell pair stage to equi-join on the cell id")
  }

  test("w6_prefix_sum: corpus window is partitioned; only bucket totals take an ordered scan") {
    val plan = planOf("w6_prefix_sum")
    val ws = plan.collect { case w: WindowExec => w }
    assert(ws.exists(_.partitionSpec.nonEmpty),
      "per-bucket cumulative must be a partitioned window")
    // the one allowed unpartitioned window runs over the 1/B-size bucket-
    // total aggregate, never the corpus
    ws.filter(_.partitionSpec.isEmpty).foreach { w =>
      assert(w.collect { case a if a.nodeName.contains("HashAggregate") => a }.nonEmpty,
        s"unpartitioned window not fed by the bucket aggregate:\n$w")
    }
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, "bucket base offsets must broadcast back")
  }

  test("asofJoin plans exactly one window shuffle and no join at all") {
    val plan = planOf("aj_asof")
    val joins = plan.collect {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec => j
      case j: BroadcastHashJoinExec => j
    }
    assert(joins.isEmpty, s"as-of join should be join-free (union+window): ${joins.map(_.nodeName)}")
    val windows = plan.collect { case w: WindowExec => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
  }

  test("AQE splits a skewed sort-merge join at runtime (automatic path; salting covers what AQE can't)") {
    // Skew.saltedJoin salts by hand; this asserts the AUTOMATIC lever —
    // spark.sql.adaptive.skewJoin — actually fires on a skewed exchange,
    // so PERF.md's "AQE handles join skew, manual salting is for
    // aggregations / cached exchanges / bucketed scans whose partitioning
    // must be preserved" claim is machine-checked, not folklore. The
    // thresholds are lowered to gate scale (the hot partition is ~20 MiB
    // here vs the 256 MiB production default); the mechanism is identical.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{concat_ws, lit, lpad, when}
    val keys = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536")
    val saved = keys.map { case (k, _) => k -> util.Try(spark.conf.get(k)).toOption }
    try {
      keys.foreach { case (k, v) => spark.conf.set(k, v) }
      // one hot key (300k rows ≈ 24 MiB post-shuffle) among 96 cold ones
      val fact = spark.range(0, 330000).select(
        when($"id" < 300000, 0L).otherwise($"id" % 97).as("k"),
        lpad($"id".cast("string"), 72, "x").as("payload"))
      val dim = spark.range(0, 97).select($"id".as("k"),
        concat_ws("-", lit("d"), $"id").as("attr"))
      val joined = fact.join(dim, "k")
      // execute THIS plan (count() would plan a separate aggregate query
      // whose adaptive run wouldn't finalize joined's own plan)
      assert(joined.queryExecution.toRdd.count() == 330000L)
      val planStr = joined.queryExecution.executedPlan.toString
      assert(planStr.contains("skew=true"),
        s"expected AQE skew-join split in the final adaptive plan:\n${planStr.take(3000)}")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("tpch_q17 is the single-fact-shuffle window plan: one lineitem " +
       "scan, one hashpartitioning exchange, no self-join") {
    // r16 rewrite (PERF.md r16): the agg+self-join shape paid two full
    // fact shuffles because pruning/pushdown made the branches
    // un-reusable; the window shape is one scan + one exchange by
    // construction. Guard both properties so a refactor can't silently
    // re-split the fact.
    val plan = planWithoutAqe("tpch_q17")
    val scans = plan.collectLeaves().map(_.toString).filter(_.contains("lineitem"))
    assert(scans.size == 1, s"expected ONE lineitem scan, got ${scans.size}")
    val wideExchanges = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(wideExchanges.size == 1,
      s"expected ONE wide exchange, got ${wideExchanges.size}:\n$plan")
    assert(plan.collect { case w: WindowExec => w }.nonEmpty, s"window gone:\n$plan")
  }

  test("gr_hits edge artifact scans are bucketed: no exchange between a " +
       "bipartite FileScan and its join") {
    // r16 (PERF.md): the six HITS half-steps join the dual-bucketed edge
    // artifact with zero edge-side exchanges. The loop localCheckpoints
    // per round, so assert on a reconstructed half-step against the
    // committed artifact tables instead of the gate's final (checkpoint-
    // truncated) plan.
    import org.apache.spark.sql.functions._
    SparkEntry.queries("gr_hits")(spark, sf).count() // materialize artifacts
    val tables = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_idx_gr_bipartite"))
    assert(tables.size >= 2, s"expected src+dst artifact tables, got ${tables.toSeq}")
    val bySrc = spark.table(tables.find(_.contains("_src_")).get)
    // localCheckpoint like the real loop: each round's node table is a
    // materialized RDD, so its exchange never re-scans the edge table
    val hub = bySrc.select(col("src").as("id")).distinct()
      .select(col("id"), lit(1.0).as("hub")).localCheckpoint()
    val half = bySrc.join(hub.hint("shuffle_hash"), bySrc("src") === hub("id"))
      .groupBy(col("dst")).agg(sum(col("hub")).as("s"))
    val prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = half.queryExecution.executedPlan
      val leaf = plan.collectLeaves().map(_.toString).mkString
      assert(leaf.contains("Bucketed: true"), s"edge scan not bucketed:\n$leaf")
      // the join's STREAMED side must reach the bucketed FileScan with
      // zero exchanges between them (hub-side + post-agg exchanges are
      // the legitimate, node-sized ones)
      val shj = plan.collect {
        case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec => j
      }
      assert(shj.nonEmpty, s"expected ShuffledHashJoin:\n$plan")
      shj.foreach { j =>
        assert(j.left.toString.contains("gr_bipartite"),
          s"edge table not on the streamed side:\n$j")
        assert(j.left.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"edge side shuffled before the join:\n${j.left}")
      }
    } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
  }

  /** Execute `df`'s own plan and return the AQE-FINAL executedPlan,
    * RENDERED — the plan that actually ran, not the pre-adaptive guess
    * (r16 verdict: the two custom physical shapes below are pinned on
    * what AQE finalizes, so a runtime re-plan regression is caught too).
    * String form because `collect` cannot descend into materialized
    * query stages (QueryStageExec is a leaf); toString renders them.
    */
  private def aqeFinalPlanStr(df: org.apache.spark.sql.DataFrame): String = {
    df.queryExecution.toRdd.count()
    df.queryExecution.executedPlan.toString
  }

  test("dd_ppjoin candidates come from the prefix-gram EQUI-join on the " +
       "AQE-final plan — never a corpus² explode or nested loop") {
    // The PPJoin prefix filter is only worth its name if the candidate
    // stage stays an equi-join on the padded (df|gram) key: a refactor
    // that loses the join key degrades to corpus² silently at sf0.001
    // and fatally at sf10. Assert the executed plan (1) contains no
    // nested-loop/cartesian join anywhere, (2) joins on a column named
    // `key` somewhere (the candidate stage), and (3) never broadcasts
    // the lists artifact (it grows with the corpus; only AQE-sized
    // keyed exchanges are allowed on it).
    val plan = aqeFinalPlanStr(SparkEntry.queries("dd_ppjoin")(spark, sf))
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"dd_ppjoin planned a nested loop/cartesian:\n${plan.take(4000)}")
    val candJoin = """(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[key#\d+""".r
    assert(candJoin.findFirstIn(plan).nonEmpty,
      s"prefix-gram candidate equi-join on `key` not found:\n${plan.take(4000)}")
  }

  test("BandJoinBucketRule survives AQE: the rewritten band join is still " +
       "a hash join in the FINAL adaptive plan, result equals naive") {
    // The rule rewrites at optimization time; AQE re-plans exchanges at
    // runtime. This pins the shape that actually executed, so neither a
    // rule regression nor an adaptive re-plan (e.g. a future AQE deciding
    // to demote the synthetic equi-key join) can rot silently.
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.functions.abs
    val lv = (1 to 500).map(i => (i.toLong, (i * 7 % 997).toDouble))
    val rv = (1 to 300).map(i => (i.toLong, (i * 13 % 997).toDouble))
    val joined = lv.toDF("lid", "x").join(rv.toDF("rid", "y"), abs($"x" - $"y") <= 5.0)
    val plan = aqeFinalPlanStr(joined)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"AQE-final band join degenerated to a nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"expected a hash/sort-merge join in the final plan:\n$plan")
    val got = joined.select($"lid", $"rid").as[(Long, Long)].collect().toSet
    val want = (for { (li, xv) <- lv; (ri, yv) <- rv if math.abs(xv - yv) <= 5.0 }
      yield (li, ri)).toSet
    assert(got == want, s"missing=${want.diff(got).take(5)} extra=${got.diff(want).take(5)}")
  }

  test("geo_radius_knn reduces each probe's candidates to ≤k MAP-SIDE: " +
       "partial_minkpairsagg sits below the only wide exchange") {
    // The whole point of the k-bounded radius join is that the shuffle
    // carries O(k·probes) pairs, not the output-quadratic candidate set —
    // that requires the bounded top-k aggregate to run as a PARTIAL
    // aggregate under the exchange (a row_number window here would bound
    // only the output, not the exchange, and the sf1/sf10 decade ratios
    // would regress to geo_radius_join's 11×).
    val plan = planWithoutAqe("geo_radius_knn")
    val wide = plan.collect {
      case e: ShuffleExchangeExec
        if e.outputPartitioning.toString.contains("hashpartitioning") => e
    }
    assert(wide.size == 1, s"expected exactly one hash exchange:\n$plan")
    assert(wide.head.child.toString.contains("partial_minkpairsagg"),
      s"bounded top-k not reduced map-side below the exchange:\n$plan")
  }

  test("objectHashAggregate fallbackThreshold stays pinned AND >128-key " +
       "tasks stay on the hash path (zero sort-fallback tasks)") {
    // r17 verdict item 3: Spark's default threshold (128 keys/task)
    // silently degraded every TypedImperativeAggregate partial to
    // map-side SORT aggregation (~860 s/pass at sf10 for min_k_pairs).
    // The pin lives in GraftSession; this test (1) asserts the active
    // session reports it — a future Spark conf rename that drops the
    // setting fails here, not silently at sf10 — and (2) proves the
    // runtime behavior via ObjectHashAggregateExec's fallback-task
    // metric, with a control at the old default showing the metric
    // actually observes the degradation.
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    assert(spark.conf.get(key) == "131072",
      s"fallbackThreshold pin lost: ${spark.conf.get(key)}")
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.functions.col
    def fallbackTasks(): Long = {
      // ONE input partition → all 2000 groups land in a single task's
      // hash map, far past the old 128-key default
      val df = spark.range(0, 100000, 1, 1)
        .select((col("id") % 2000).as("g"),
          (col("id") % 97).cast("double").as("d"), col("id").as("v"))
        .groupBy(col("g"))
        .agg(graft.functions.topk.min_k_pairs(col("d"), col("v"), 4).as("nn"))
      val prev = spark.conf.get("spark.sql.adaptive.enabled")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        val qe = df.queryExecution
        qe.executedPlan.execute().count()
        val nodes = qe.executedPlan.collect { case o: ObjectHashAggregateExec => o }
        assert(nodes.nonEmpty, s"expected ObjectHashAggregate:\n${qe.executedPlan}")
        nodes.flatMap(_.metrics.collect {
          case (name, m) if name.toLowerCase.contains("fallback") => m.value
        }).sum
      } finally spark.conf.set("spark.sql.adaptive.enabled", prev)
    }
    assert(fallbackTasks() == 0L,
      "min_k_pairs fell back to sort-based aggregation at the pinned threshold")
    spark.conf.set(key, "128")
    try assert(fallbackTasks() > 0L,
      "control at the old default did not fall back — the metric no longer " +
        "observes the degradation this test exists to catch")
    finally spark.conf.set(key, "131072")
  }
}
