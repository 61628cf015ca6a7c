package graft

import graft.operators.{Graph, Sketches, Temporal}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics of the round-2 composed operators: sessionize, as-of join,
  * binned range join, connected components, mergeable sketches.
  */
class TemporalGraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("sessionize splits on gaps strictly greater than the threshold") {
    val df = Seq(
      (1L, 10L), (1L, 15L), (1L, 25L), // gap 10 == threshold → same session
      (1L, 40L),                       // gap 15 > threshold → new session
      (2L, 100L)                       // other user: own session 0
    ).toDF("k", "t")
    val out = Temporal.sessionize(df, "k", "t", gap = 10L)
      .select($"k", $"t", $"session_id").as[(Long, Long, Long)].collect().toSet
    assert(out == Set((1L, 10L, 0L), (1L, 15L, 0L), (1L, 25L, 0L),
      (1L, 40L, 1L), (2L, 100L, 0L)))
  }

  test("asofJoin picks the latest build row at-or-before each probe row") {
    val probe = Seq((1L, 10L, "p1"), (1L, 20L, "p2"), (2L, 5L, "p3"))
      .toDF("k", "t", "tag")
    val build = Seq((1L, 5L, 1.0), (1L, 20L, 2.0), (1L, 30L, 3.0))
      .toDF("k", "t", "v")
    val out = Temporal.asofJoin(probe, build, Seq("k"), "t")
      .select($"k", $"t", $"tag", $"asof_t", $"asof_v")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getDouble(4))).toSet
    assert(out == Set(
      (1L, 10L, "p1", 5L, 1.0),   // strictly-before build row
      (1L, 20L, "p2", 20L, 2.0),  // equal ordinal matches (≤ semantics)
      (2L, 5L, "p3", null, null)  // no build row for this key
    ))
  }

  test("asofJoin keeps all asof_ columns from the same build row") {
    // Build row at t=5 has a null v; a per-column last(ignoreNulls) would
    // stitch v from t=1 with t from t=5. The struct transport must not.
    val probe = Seq((1L, 10L)).toDF("k", "t")
    val build = Seq((1L, 1L, Some(9.0)), (1L, 5L, None)).toDF("k", "t", "v")
    val r = Temporal.asofJoin(probe, build, Seq("k"), "t")
      .select($"asof_t", $"asof_v").collect().head
    assert(r.getLong(0) == 5L && r.isNullAt(1))
  }

  test("asofJoin ignores build rows with a NULL order key (merge_asof semantics)") {
    // NULLS FIRST ordering would otherwise make the null-ord row the
    // running match for every probe with no real predecessor.
    val probe = Seq((1L, 10L)).toDF("k", "t")
    val build = Seq((1L, Option.empty[Long], 5.0)).toDF("k", "t", "v")
    val r = Temporal.asofJoin(probe, build, Seq("k"), "t")
      .select($"asof_t", $"asof_v").collect().head
    assert(r.isNullAt(0) && r.isNullAt(1),
      s"null-ord build row must not match: $r")
  }

  test("binnedRangeJoin keeps facts within epsilon below an exclusive hi bound") {
    // Regression for the old `hi - 1e-9` span arithmetic: a range whose
    // hi sits just past a bin boundary had its span rounded SHORT,
    // stranding facts in the last bin. The span now runs to floor(hi/bin)
    // verbatim; an exactly-on-boundary hi only adds one empty candidate
    // bin that the residual `v < hi` filter drains.
    val facts = Seq(64.0000000003).toDF("v")
    val ranges = Seq((0, 0.0, 64.0000000005)).toDF("rid", "lo", "hi")
    val out = Temporal.binnedRangeJoin(facts, "v", ranges, "lo", "hi", 64.0)
      .select($"rid").as[Int].collect().toSeq
    assert(out == Seq(0), s"fact within [lo, hi) was stranded: $out")
    // and an exact-boundary hi stays exclusive
    val exactFacts = Seq(64.0).toDF("v")
    val exactRanges = Seq((0, 0.0, 64.0)).toDF("rid", "lo", "hi")
    val exact = Temporal.binnedRangeJoin(exactFacts, "v", exactRanges, "lo", "hi", 64.0)
    assert(exact.count() == 0, "v == hi must not match a half-open range")
  }

  test("generic operators fail fast on working-column collisions") {
    val df = Seq((1L, 2L)).toDF("k", "session_id")
    val e = intercept[IllegalArgumentException](
      Temporal.sessionize(df, "k", "session_id", 1L))
    assert(e.getMessage.contains("session_id"))
  }

  test("binnedRangeJoin equals the naive inequality join") {
    val facts = spark.range(0, 1000).select(($"id" * 7 % 501).cast("double").as("v"))
    val ranges = spark.createDataFrame(Seq(
      (0, 0.0, 120.0), (1, 120.0, 121.5), (2, 121.5, 500.0), (3, 600.0, 700.0)
    )).toDF("rid", "lo", "hi")
    val binned = Temporal.binnedRangeJoin(facts, "v", ranges, "lo", "hi", 50.0)
      .groupBy($"rid").count().as[(Int, Long)].collect().toMap
    val naive = facts.join(ranges, $"v" >= $"lo" && $"v" < $"hi")
      .groupBy($"rid").count().as[(Int, Long)].collect().toMap
    assert(binned == naive)
    assert(!binned.contains(3)) // empty range stays empty
  }

  test("intervalOverlapJoin equals the naive overlap join at every W, incl. W < max length") {
    // intervals engineered to exercise every case: containment, exact
    // boundary touch (hi == lo'), disjoint, multi-cell spans
    val l = Seq((1L, 0L, 10L), (2L, 20L, 22L), (3L, 40L, 40L)).toDF("key", "lo", "hi")
    val r = Seq((10L, 5L, 6L), (11L, 10L, 19L), (12L, 22L, 39L), (13L, 41L, 50L))
      .toDF("key", "lo", "hi")
    val naive = l.join(
        r.select($"key".as("rk"), $"lo".as("rlo"), $"hi".as("rhi")),
        $"lo" <= $"rhi" && $"rlo" <= $"hi")
      .select($"key", $"rk").as[(Long, Long)].collect().toSet
    assert(naive == Set((1L, 10L), (1L, 11L), (2L, 12L)), s"fixture sanity: $naive")
    for (w <- Seq(1L, 3L, 8L, 100L)) {
      val got = Temporal.intervalOverlapJoin(l, r, w)
        .select($"l_key", $"r_key").as[(Long, Long)].collect()
      assert(got.length == got.toSet.size, s"W=$w produced duplicate pairs")
      assert(got.toSet == naive, s"W=$w: got ${got.toSet}")
    }
  }

  test("evConcurrency peaks where planted intervals stack") {
    // day:        0 1 2 3 4 5 ...          30 31 32
    // o1 [0,4], o2 [1,2], o3 [2,5] → concurrency 1,2,3,2,2,1; peak 3 at day 2
    // bucket 1: o4 [30,31], o5 [31,32] → peak 2 at day 31
    val dir = java.nio.file.Files.createTempDirectory("graft-conc").toString
    // evConcurrency derives [lo, lo+1+key%7] from o_orderdate; pick keys
    // with key%7 pinning the lengths: len = 1+key%7
    // o1: lo 0 len 4 → key%7=3 (key 3); o2: lo 1 len 1 → key%7=0 (key 7)
    // o3: lo 2 len 3 → key%7=2 (key 9); o4: lo 30 len 1 → key 14
    // o5: lo 31 len 1 → key 21
    Seq((3L, "1992-01-01"), (7L, "1992-01-02"), (9L, "1992-01-03"),
        (14L, "1992-01-31"), (21L, "1992-02-01"))
      .toDF("o_orderkey", "ds")
      .select($"o_orderkey", to_date($"ds").as("o_orderdate"))
      .write.parquet(s"$dir/orders.parquet")
    val out = Temporal.evConcurrency(spark, dir)
      .select($"bucket", $"peak", $"peak_day")
      .as[(Long, Long, Long)].collect().toList
    assert(out == List((0L, 3L, 2L), (1L, 2L, 31L)), s"got $out")
  }

  test("connectedComponents labels chains, cliques and handles convergence") {
    // chain 1-2-3-4 (diameter 3), clique 10-11-12, pair 20-21
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L)).toDF("a", "b")
    val cc = Graph.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connectedComponents refuses to return unconverged labels") {
    val chain = (1L until 6L).map(i => (i, i + 1)).toDF("a", "b") // diameter 5
    intercept[IllegalStateException] {
      Graph.connectedComponents(chain, maxIter = 2)
    }
    val cc = Graph.connectedComponents(chain, maxIter = 10)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet == Set(1L) && cc.size == 6)
  }

  test("connectedComponentsStar matches min-label propagation on mixed graphs") {
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (10L, 12L), (21L, 20L), (30L, 30L)).toDF("a", "b") // incl. self-loop-only node
    val star = Graph.connectedComponentsStar(edges).as[(Long, Long)].collect().toMap
    val prop = Graph.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(star == prop)
    assert(star(30L) == 30L)
  }

  test("both CC variants drop null-endpoint edges identically") {
    val edges = Seq((Option(1L), Option(2L)), (Option(3L), Option.empty[Long]),
      (Option.empty[Long], Option.empty[Long])).toDF("a", "b")
    val star = Graph.connectedComponentsStar(edges).as[(Long, Long)].collect().toMap
    val prop = Graph.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(star == prop)
    assert(star == Map(1L -> 1L, 2L -> 1L)) // null edges carry no connectivity
  }

  test("connectedComponentsStar matches a local union-find on a random graph") {
    // Deterministic pseudo-random edges over 400 nodes (hash-derived, no RNG).
    val raw = (0 until 300).map { i =>
      val a = (i * 2654435761L) % 400
      val b = (i * 40503L + 17L) % 400
      (a, b)
    }
    val parent = scala.collection.mutable.ArrayBuffer.tabulate(400)(_.toLong)
    def find(x: Int): Int = if (parent(x) == x) x else { val r = find(parent(x).toInt); parent(x) = r; r }
    raw.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = raw.flatMap(e => Seq(e._1, e._2)).distinct
    val expected = touched.map(n => n -> find(n.toInt).toLong).toMap
    val got = Graph.connectedComponentsStar(raw.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got == expected)
  }

  test("connectedComponentsStar resolves a long chain in logarithmic rounds") {
    // Chain of 512 nodes: min-label would need ~512 rounds; the star
    // budget of 12 pairs proves O(log n) convergence (2*ceil(log2 n) is
    // the paper's bound; observed ≲ log2 n pairs).
    val n = 512L
    val chain = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val cc = Graph.connectedComponentsStar(chain, maxIter = 12)
      .as[(Long, Long)].collect().toMap
    assert(cc.values.toSet == Set(1L) && cc.size == n)
  }

  test("incrementalComponents equals batch recompute after merging a new edge batch") {
    // seed graph: three components {1,2}, {3,4}, {10,11} and an untouched
    // one {100,101}; batch merges {1,2}+{3,4} (via 2-3), creates a
    // brand-new-nodes cluster {20,21}, and chains it into {10,11} (11-20)
    val seed = Seq((1L, 2L), (3L, 4L), (10L, 11L), (100L, 101L)).toDF("a", "b")
    val batch = Seq((2L, 3L), (20L, 21L), (11L, 20L)).toDF("a", "b")
    val full = Graph.connectedComponents(seed.unionByName(batch))
      .as[(Long, Long)].collect().toMap
    val inc = Graph.incrementalComponents(Graph.connectedComponentsStar(seed), batch)
      .as[(Long, Long)].collect().toMap
    assert(inc == full, s"incremental $inc != recompute $full")
    // a second batch folds into the incrementally-maintained labels too
    val batch2 = Seq((4L, 100L), (7L, 8L)).toDF("a", "b")
    val full2 = Graph.connectedComponents(
        seed.unionByName(batch).unionByName(batch2))
      .as[(Long, Long)].collect().toMap
    val incLabels = Graph.incrementalComponents(
      Graph.connectedComponentsStar(seed), batch)
    val inc2 = Graph.incrementalComponents(incLabels, batch2)
      .as[(Long, Long)].collect().toMap
    assert(inc2 == full2, s"second increment $inc2 != recompute $full2")
  }

  test("incrementalComponents on a random graph split into three ingest batches") {
    // Deterministic pseudo-random edges over 300 nodes, replayed as
    // base + two increments; labels must equal the one-shot recompute.
    val raw = (0 until 240).map { i =>
      ((i * 2654435761L) % 300, (i * 40503L + 17L) % 300)
    }
    val (b0, rest) = raw.splitAt(120)
    val (b1, b2) = rest.splitAt(60)
    val oneShot = Graph.connectedComponentsStar(raw.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    val l0 = Graph.connectedComponentsStar(b0.toDF("a", "b"))
    val l1 = Graph.incrementalComponents(l0, b1.toDF("a", "b"))
    val l2 = Graph.incrementalComponents(l1, b2.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(l2 == oneShot)
  }

  test("scd2History collapses runs into versions with half-open validity") {
    val ev = Seq(
      (1L, 10L, "a"), (1L, 11L, "a"), (1L, 12L, "b"), (1L, 13L, "a"),
      (2L, 5L, "x")
    ).toDF("k", "t", "attr")
    val out = Temporal.scd2History(ev, "k", "attr", "t")
      .select($"k", $"version", $"attr", $"valid_from", $"valid_to", $"is_current", $"n_events")
      .as[(Long, Long, String, Long, Option[Long], Long, Long)].collect().toSet
    assert(out == Set(
      (1L, 1L, "a", 10L, Some(12L), 0L, 2L),
      (1L, 2L, "b", 12L, Some(13L), 0L, 1L),
      (1L, 3L, "a", 13L, None, 1L, 1L),
      (2L, 1L, "x", 5L, None, 1L, 1L)))
  }

  test("scd2History gives a null attribute its own version (IS DISTINCT FROM)") {
    val ev = Seq((1L, 1L, Some("a")), (1L, 2L, None), (1L, 3L, None), (1L, 4L, Some("a")))
      .toDF("k", "t", "attr")
    val out = Temporal.scd2History(ev, "k", "attr", "t")
      .select($"version", $"attr", $"n_events")
      .as[(Long, Option[String], Long)].collect().toSet
    assert(out == Set((1L, Some("a"), 1L), (2L, None, 2L), (3L, Some("a"), 1L)))
  }

  test("pageRank on a symmetric star concentrates rank on the hub") {
    // Star: hub 0 — leaves 1..4. Closed form for undirected PR with
    // damping d: leaves are symmetric, hub absorbs all leaf mass each
    // round. Check symmetry, the hub ordering, and that mass sums to ~1.
    val star = (1L to 4L).map(l => (0L, l)).toDF("a", "b")
    val pr = Graph.pageRank(star).as[(Long, Double)].collect().toMap
    assert(pr.size == 5)
    val leaves = (1L to 4L).map(pr)
    assert(leaves.distinct.size == 1, s"leaves asymmetric: $pr")
    assert(pr(0L) > leaves.head * 2, s"hub not dominant: $pr")
    assert(math.abs(pr.values.sum - 1.0) < 1e-6, s"mass not conserved: $pr")
  }

  test("pageRank on a cycle is uniform") {
    val n = 6L
    val cycle = (0L until n).map(i => (i, (i + 1) % n)).toDF("a", "b")
    val pr = Graph.pageRank(cycle).as[(Long, Double)].collect().toMap
    assert(pr.values.toSet.size == 1, s"cycle rank not uniform: $pr")
    assert(math.abs(pr.values.sum - 1.0) < 1e-6)
  }

  test("triangleCounts finds each triangle once, crediting all three corners") {
    // K4 on {0,1,2,3} (4 triangles, each node in 3) plus a pendant edge
    // 3-9 (no triangles) plus a separate square 10-11-12-13 (0 triangles).
    val k4 = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val square = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L))
    val edges = (k4 ++ Seq((3L, 9L)) ++ square).toDF("a", "b")
    val tri = Graph.triangleCounts(edges).as[(Long, Long)].collect().toMap
    assert(tri == Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L), s"got $tri")
  }

  test("triangleCounts matches the naive a<b<c count on a random graph") {
    val raw = (0 until 400).map { i =>
      ((i * 2654435761L) % 60, (i * 40503L + 17L) % 60)
    }.filter { case (a, b) => a != b }
    val canon = raw.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
    val eset = canon.toSet
    val naive = scala.collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for {
      (a, b) <- canon; c <- (b + 1) to 59L
      if eset((b, c)) && eset((a, c))
    } { naive(a) += 1; naive(b) += 1; naive(c) += 1 }
    val got = Graph.triangleCounts(raw.toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(got == naive.toMap, s"got $got expected $naive")
  }

  test("labelPropagation keeps bridged cliques as separate communities") {
    // Two K4s joined by one bridge edge: CC fuses them into one
    // component; majority-label propagation lets each dense side keep
    // its own community — the "cluster or coincidence" distinction.
    val k4a = for (i <- 0L to 3L; j <- (i + 1) to 3L) yield (i, j)
    val k4b = for (i <- 10L to 13L; j <- (i + 1) to 13L) yield (i, j)
    val edges = (k4a ++ k4b ++ Seq((3L, 10L))).toDF("a", "b")
    val lp = Graph.labelPropagation(edges).as[(Long, Long)].collect().toMap
    assert((0L to 3L).map(lp).toSet.size == 1, s"left clique split: $lp")
    assert((10L to 13L).map(lp).toSet.size == 1, s"right clique split: $lp")
    assert(lp(0L) != lp(10L), s"bridge fused the cliques: $lp")
    val cc = Graph.connectedComponents(edges).as[(Long, Long)].collect().toMap
    assert(cc.values.toSet.size == 1, "sanity: CC does fuse them")
  }

  test("modularity scores two bridged triangles at the textbook 6/14 - (7/14)^2 each") {
    // Triangles {1,2,3} and {4,5,6} + bridge 3-4: m = 7 edges, each
    // community has 3 internal edges (dir 6), degree mass 7, so
    // Q_c = 6/14 - (7/14)^2 = 0.178571 — and total Q > 0 says the
    // partition beats a degree-preserving random rewiring.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("a", "b")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 10L),
      (4L, 20L), (5L, 20L), (6L, 20L)).toDF("node", "label")
    val out = Graph.modularity(edges, labels)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(out == Seq((10L, 3L, 3L, 7L, 0.178571), (20L, 3L, 3L, 7L, 0.178571)),
      s"got $out")
  }

  test("bitemporal versions keep both beliefs; as-known-at hides post-cutoff corrections") {
    val dir = java.nio.file.Files.createTempDirectory("graft-bitemp").toString
    def d(s: String) = java.sql.Date.valueOf(s)
    // key 10: corrected 1998-05-31 (≤ cutoff) → restated price visible
    // key 20: corrected 1998-07-15 (> cutoff) → original price visible
    // key 3: never corrected
    Seq((10L, d("1998-05-01"), 100.0), (20L, d("1998-06-15"), 50.0),
        (3L, d("1998-01-01"), 70.0))
      .toDF("o_orderkey", "o_orderdate", "o_totalprice")
      .write.parquet(s"$dir/orders.parquet")
    val bi = Temporal.snBitemporal(spark, dir).collect()
    // one current belief per (key, valid day); corrected keys carry 2 versions
    val byKey = bi.groupBy(_.getLong(0))
    assert(byKey(10L).length == 2 && byKey(20L).length == 2 && byKey(3L).length == 1)
    byKey.values.foreach(vs =>
      assert(vs.count(_.getLong(5) == 1L) == 1, "exactly one current version"))
    // the superseded belief's tx_to equals its successor's tx_from
    val k10 = byKey(10L).sortBy(_.getDate(2).toString)
    assert(k10.head.getDate(3).toString == k10.last.getDate(2).toString)
    assert(k10.last.getDate(3).toString == "9999-12-31")
    assert(k10.head.getDouble(4) == 100.0 && k10.last.getDouble(4) == 200.0)
    val known = Temporal.snAsknown(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getDouble(2), r.getLong(3)))).toMap
    assert(known(10L) == ((200.0, 1L)), s"got $known") // correction visible
    assert(known(20L) == ((50.0, 0L)), s"got $known")  // correction not yet known
    assert(known(3L) == ((70.0, 0L)), s"got $known")
  }

  test("assortativity reads a star as perfectly disassortative (-1)") {
    // K1,3: every edge joins the degree-3 hub to a degree-1 leaf — the
    // directed edge list is {(3,1)x3, (1,3)x3}, Pearson r = -1 exactly.
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L)).toDF("a", "b")
    val r = Graph.assortativity(star).collect().head
    assert(r.getAs[Long]("m") == 6L)
    assert(r.getAs[Double]("assortativity") == -1.0)
  }

  test("harmonicCloseness on a 5-path matches the exact 1/d sums") {
    // Path 1-2-3-4-5, hop bound 4 covers every pair. Exact rationals:
    // end nodes 1+1/2+1/3+1/4 = 25/12; next-in 1+1+1/2+1/3 = 17/6;
    // center 1+1+1/2+1/2 = 3.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val c = Graph.harmonicCloseness(edges, rounds = 4)
      .as[(Long, Long, Double)].collect()
      .map { case (n, r, h) => n -> ((r, h)) }.toMap
    assert(c(1L) == ((4L, 2.083333)) && c(5L) == ((4L, 2.083333)), s"got $c")
    assert(c(2L) == ((4L, 2.833333)) && c(4L) == ((4L, 2.833333)), s"got $c")
    assert(c(3L) == ((4L, 3.0)), s"got $c")
    // Hop bound caps reach: with rounds=1 only direct neighbors count.
    val c1 = Graph.harmonicCloseness(edges, rounds = 1)
      .as[(Long, Long, Double)].collect()
      .map { case (n, r, h) => n -> ((r, h)) }.toMap
    assert(c1(1L) == ((1L, 1.0)) && c1(3L) == ((2L, 2.0)), s"got $c1")
  }

  test("kCore peels pendants and chains, keeps the dense backbone") {
    // Triangle {0,1,2} with a pendant chain 2-10-11: the 2-core is the
    // triangle alone (peeling 11 exposes 10, which peels next round),
    // and every core member reports degree 2 within the core.
    val edges = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 10L), (10L, 11L))
      .toDF("a", "b")
    val core = Graph.kCore(edges, k = 2, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(0L -> 2L, 1L -> 2L, 2L -> 2L), s"got $core")
    // Peeling is monotone: once converged, extra rounds are idempotent.
    val more = Graph.kCore(edges, k = 2, rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(more == core)
    // k above the densest degree leaves nothing.
    assert(Graph.kCore(edges, k = 3, rounds = 4).isEmpty)
  }

  test("evAnomaly flags the planted outage day and nothing louder") {
    // sf0.01: ~350 events/day, so the halved day is unambiguous (z≈−13);
    // at sf0.001 the same plant only reaches z≈−2.7 — counts that small
    // are inside the detector's noise band, which is itself the point.
    val out = Temporal.evAnomaly(spark, "/root/testdata/sf0.01")
      .select($"day".cast("string"), $"z", $"is_anomaly")
      .as[(String, Double, Boolean)].collect()
    val planted = out.filter(_._1 == "2024-01-20")
    assert(planted.length == 1 && planted.head._3,
      s"planted outage not flagged: ${planted.toSeq}")
    assert(planted.head._2 == out.map(_._2).min,
      "planted outage should be the most negative z in the series")
  }

  test("adamicAdar scores non-adjacent 2-hop pairs, weighting selective hubs") {
    // Path a-b-c: the only candidate is (a,c) through b (deg 2) → 1/ln 2.
    val path = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val aa1 = Graph.adamicAdar(path).as[(Long, Long, Long, Double)].collect()
    assert(aa1.toSeq == Seq((1L, 3L, 1L,
      math.round(1.0 / math.log(2) * 1e6) / 1e6)), s"got ${aa1.toSeq}")
    // 4-cycle: each diagonal sees TWO deg-2 common neighbors → 2/ln 2,
    // and adjacent pairs never appear (they are edges).
    val square = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("a", "b")
    val aa2 = Graph.adamicAdar(square)
      .as[(Long, Long, Long, Double)].collect().toSet
    val two = math.round(2.0 / math.log(2) * 1e6) / 1e6
    assert(aa2 == Set((1L, 3L, 2L, two), (2L, 4L, 2L, two)), s"got $aa2")
  }

  test("evMarkov rows are proper conditional distributions over observed transitions") {
    val out = Temporal.evMarkov(spark, "/root/testdata/sf0.001")
      .as[(String, String, Long, Double)].collect()
    val byRow = out.groupBy(_._1)
    byRow.foreach { case (t, cells) =>
      val pSum = cells.map(_._4).sum
      assert(math.abs(pSum - 1.0) < 1e-4, s"row $t sums to $pSum")
      cells.foreach(c => assert(c._4 > 0.0 && c._4 <= 1.0))
    }
    // transition mass = events - one terminal event per user
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    val expected = ev.count() - ev.select($"user_id").distinct().count()
    assert(out.map(_._3).sum == expected,
      s"transition count ${out.map(_._3).sum} != events - users $expected")
  }

  test("snApply matches a driver-side replay of the CDC semantics") {
    val sfd = "/root/testdata/sf0.001"
    val out = Temporal.snApply(spark, sfd)
      .as[(String, Long, Double)].collect()
      .map { case (st, n, s0) => st -> ((n, s0)) }.toMap
    // independent replay in plain Scala over the collected base table
    val rows = spark.read.parquet(s"$sfd/orders.parquet")
      .select($"o_orderkey", $"o_totalprice", $"o_orderstatus")
      .as[(Long, Double, String)].collect()
    val applied = rows.flatMap { case (k, price, st) =>
      val cents = math.round(price * 100)
      if (k % 10 == 1) None // tombstoned
      else if (k % 20 == 2) Some(st -> cents * 121 / 100) // double update wins
      else if (k % 10 == 2) Some(st -> cents * 11 / 10)
      else Some(st -> cents) // base survivors + CDC inserts
    }
    val expect = applied.groupBy(_._1).map { case (st, xs) =>
      st -> ((xs.length.toLong,
        math.round(xs.map(_._2).sum / 100.0 * 100) / 100.0))
    }
    assert(out == expect, s"got $out expected $expect")
  }

  test("evTtc orders its funnel invariants; snMvRefresh certifies itself") {
    val Array((nu, nc, med, p90)) = Temporal.evTtc(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Double, Double)].collect()
    assert(nc <= nu && nc > 0)
    assert(med > 0.0 && p90 >= med, s"median $med p90 $p90")
    val mv = Temporal.snMvRefresh(spark, "/root/testdata/sf0.001")
      .as[(String, Long, Long, Boolean)].collect()
    assert(mv.nonEmpty && mv.forall(_._4),
      s"algebraic refresh diverged from recompute: ${mv.filterNot(_._4).toSeq}")
  }

  test("bfs relaxes to exact hop distances and is idempotent past the eccentricity") {
    // Chain 1-2-3-4 with a chord 1-3: dist(3) must take the chord (1),
    // dist(4) follows (2); node 9 is a separate component — never reached.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 3L), (9L, 10L))
      .toDF("a", "b")
    val d = Graph.bfs(edges, source = 1L, rounds = 4)
      .as[(Long, Long)].collect().toMap
    assert(d == Map(1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L), s"got $d")
    // more rounds than the eccentricity change nothing
    val d8 = Graph.bfs(edges, source = 1L, rounds = 8)
      .as[(Long, Long)].collect().toMap
    assert(d8 == d)
  }

  test("kCore on a random graph matches local iterative peeling") {
    val rnd = new scala.util.Random(47)
    val raw = (1 to 150).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    // local oracle: peel to the true fixpoint
    var adj = raw.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
    var changed = true
    while (changed) {
      val deg = adj.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= 3).keySet
      val next = adj.filter { case (x, y) => keep(x) && keep(y) }
      changed = next.size != adj.size
      adj = next
    }
    val expect = adj.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    // 40 nodes can't need more than 40 peel rounds
    val got = Graph.kCore(raw.toDF("a", "b"), k = 3, rounds = 40)
      .as[(Long, Long)].collect().toMap
    assert(got == expect, s"distributed 3-core diverged: got $got expected $expect")
  }

  test("adamicAdar on a random graph matches a local recompute") {
    val rnd = new scala.util.Random(11)
    val raw = (1 to 60).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter { case (a, b) => a != b }.distinct
    val edgeSet = raw.map { case (a, b) => (a min b, a max b) }.toSet
    val nbrs = raw.flatMap { case (a, b) => Seq(a -> b, b -> a) }.distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expect = (for {
      a <- nbrs.keys; b <- nbrs.keys
      if a < b && !edgeSet((a, b))
      common = nbrs(a) & nbrs(b)
      if common.nonEmpty
    } yield (a, b) -> ((common.size.toLong,
      math.round(common.toSeq.map(z => 1.0 / math.log(nbrs(z).size)).sum * 1e6) / 1e6)))
      .toMap
    val got = Graph.adamicAdar(raw.toDF("a", "b"))
      .as[(Long, Long, Long, Double)].collect()
      .map { case (a, b, c, s0) => (a, b) -> ((c, s0)) }.toMap
    assert(got == expect, s"AA diverged: ${got.toSet.diff(expect.toSet)} / ${expect.toSet.diff(got.toSet)}")
  }

  test("HLL sketches merge across groups to the exact distinct count") {
    val df = spark.range(0, 5000)
      .select(($"id" % 10).as("g"), ($"id" % 700).as("v"))
    val perGroup = Sketches.distinctSketchByGroup(df.toDF(), "g", "v")
    val merged = Sketches.mergeSketches(
      perGroup.withColumn("all", lit(1)), "all")
    val est = merged.select($"approx_distinct").as[Long].collect().head
    assert(math.abs(est - 700L) <= 35L, s"HLL estimate $est off by >5%")
  }

  test("neighborJaccard scores open wedges by neighborhood agreement") {
    // (1,2),(1,3),(2,3),(1,4): non-adjacent 2-hop pairs are (2,4),(3,4),
    // each sharing only hub 1 → 1/(2+1−1) = 0.5; triangle pairs are edges.
    val g = Seq((1L, 2L), (1L, 3L), (2L, 3L), (1L, 4L)).toDF("a", "b")
    val got = Graph.neighborJaccard(g)
      .as[(Long, Long, Long, Double)].collect()
      .map { case (a, b, c, j) => (a, b) -> ((c, j)) }.toMap
    assert(got == Map((2L, 4L) -> ((1L, 0.5)), (3L, 4L) -> ((1L, 0.5))), s"got $got")
  }

  test("hitsBipartite ranks the shared part as top authority") {
    // 1→{10,11}, 2→{11,12}: part 11 has both buyers → auth 1.0, the
    // exclusive parts get 0.5; both customers are symmetric hubs (1.0).
    val bp = Seq((1L, 10L), (1L, 11L), (2L, 11L), (2L, 12L)).toDF("src", "dst")
    val got = Graph.hitsBipartite(bp, iters = 3)
      .as[(String, Long, Double)].collect()
      .map { case (k, id, sc) => (k, id) -> sc }.toMap
    assert(math.abs(got(("auth", 11L)) - 1.0) < 1e-6)
    assert(math.abs(got(("auth", 10L)) - 0.5) < 1e-6)
    assert(math.abs(got(("auth", 12L)) - 0.5) < 1e-6)
    assert(math.abs(got(("hub", 1L)) - 1.0) < 1e-6)
    assert(math.abs(got(("hub", 2L)) - 1.0) < 1e-6)
  }

  test("kCore converges past the requested minimum rounds on long peel chains") {
    // Triangle {0,1,2} with a 6-pendant chain 2-10-11-12-13-14-15: peeling
    // exposes one chain node per round, so the fixpoint needs 6 rounds.
    // rounds=1 asks for a single peel — the convergence check must extend
    // until the true 2-core (the triangle) remains, not return a non-core.
    val chain = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 10L), (10L, 11L),
      (11L, 12L), (12L, 13L), (13L, 14L), (14L, 15L)).toDF("a", "b")
    val core = Graph.kCore(chain, k = 2, rounds = 1)
      .as[(Long, Long)].collect().toMap
    assert(core == Map(0L -> 2L, 1L -> 2L, 2L -> 2L), s"got $core")
    // A genuinely unconvergeable cap raises instead of silently lying.
    intercept[IllegalStateException] {
      Graph.kCore(chain, k = 2, rounds = 1, maxRounds = 2)
    }
  }

  test("bfsFromSeed yields an empty result on an empty graph, lazily") {
    // The grBfs gate derives its source in-plan via a min aggregate; an
    // empty pair graph must produce an empty frontier, not an NPE from an
    // eager head() at plan-construction time.
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    val seed = none.agg(min(least($"a", $"b")).as("node"))
      .where($"node".isNotNull)
      .select($"node", lit(0L).as("dist"))
    assert(Graph.bfsFromSeed(none, seed, rounds = 3).isEmpty)
  }

  test("evAnomaly emits NULL z (not ±Inf/NaN) on a zero-variance window") {
    // Constant daily counts → trailing-window variance 0. The guard must
    // emit z = NULL and is_anomaly = false in BOTH engines; ±Infinity
    // would diverge between Spark and DuckDB rounding/ordering.
    val dir = java.nio.file.Files.createTempDirectory("graft-anomaly").toString
    val rows = for (d <- 0 until 12; i <- 0 until 5)
      yield (d.toLong * 5 + i + 1, // odd/even mix, none on the planted day
        java.sql.Timestamp.valueOf(f"2024-03-${d + 1}%02d 12:00:0${i % 10}"))
    rows.toDF("event_id", "ts").write.mode("overwrite")
      .parquet(s"$dir/events.parquet")
    val out = Temporal.evAnomaly(spark, dir)
      .select($"day".cast("string"), $"z", $"is_anomaly")
      .collect()
    assert(out.nonEmpty, "window m>=4 rows expected")
    assert(out.forall(r => r.isNullAt(1) && !r.getBoolean(2)),
      s"zero-variance days must have NULL z / false flag: ${out.toSeq}")
  }

  test("attribution closed forms: n=2 splits, n=3 U-shape 40/20/40, window excludes stale touches") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // user 1: view, click, purchase (n=2 touches)
    // user 2: view, view, click, purchase (n=3); plus a view 10 days
    //         before the purchase — outside the 7-day window, no credit
    // user 3: purchase with no touches — contributes nothing
    val ev = Seq(
      (1L, t("2026-01-01 10:00:00"), "view", 101L),
      (1L, t("2026-01-02 10:00:00"), "click", 102L),
      (1L, t("2026-01-03 10:00:00"), "purchase", 103L),
      (2L, t("2026-02-01 09:00:00"), "view", 201L),
      (2L, t("2026-02-02 09:00:00"), "view", 202L),
      (2L, t("2026-02-03 09:00:00"), "click", 203L),
      (2L, t("2026-02-04 09:00:00"), "purchase", 204L),
      (2L, t("2026-01-25 09:00:00"), "view", 205L), // 10 days out: stale
      (3L, t("2026-03-01 09:00:00"), "purchase", 301L),
    ).toDF("user_id", "ts", "event_type", "event_id")
    val out = operators.Temporal.attribution(ev)
      .as[(String, String, Double)].collect()
      .map { case (m, tt, c) => (m, tt) -> c }.toMap
    def c(m: String, tt: String) = out.getOrElse((m, tt), 0.0)
    // first touch: both users' earliest in-window touch is a view
    assert(c("a_first", "view") == 2.0 && c("a_first", "click") == 0.0)
    // last touch before purchase is the click for both users
    assert(c("b_last", "click") == 2.0 && c("b_last", "view") == 0.0)
    // linear: u1 gives 0.5/0.5; u2 gives 2/3 view, 1/3 click
    assert(math.abs(c("c_linear", "view") - (0.5 + 2.0 / 3)) < 1e-4)
    assert(math.abs(c("c_linear", "click") - (0.5 + 1.0 / 3)) < 1e-4)
    // U-shape: u1 (n=2) → 0.5/0.5; u2 (n=3) → first view .4 + middle view .2, last click .4
    assert(math.abs(c("d_ushape", "view") - (0.5 + 0.6)) < 1e-4)
    assert(math.abs(c("d_ushape", "click") - (0.5 + 0.4)) < 1e-4)
    // every model distributes exactly 2.0 conversions (u3 has no touches)
    Seq("a_first", "b_last", "c_linear", "d_ushape").foreach { m =>
      assert(math.abs(c(m, "view") + c(m, "click") - 2.0) < 1e-4, s"$m not conserving") }
  }

  test("linkage separates true pairs from cross pairs and recovers planted perturbations") {
    val out = operators.Dedup.linkage(spark, "/root/testdata/sf0.001")
      .as[(Long, Long, Long, Long, Long, Double, Long)].collect().toSeq
    assert(out.nonEmpty)
    val truePairs = out.filter(_._7 == 1L)
    val falsePos = out.filter(_._7 == 0L)
    // every b-side record (custkey % 10 == 0) surfaces its true pair with
    // a positive score UNLESS all three perturbations landed on it at
    // once (k ≡ 0 mod lcm(3,4,7)·10 = 420 — e.g. key 0), where every
    // field disagrees and the model CORRECTLY scores it as a non-match
    val bKeys = spark.read.parquet("/root/testdata/sf0.001/customer.parquet")
      .where($"c_custkey" % 10 === 0).select($"c_custkey").as[Long].collect().toSet
    val expected = bKeys.filterNot(_ % 420 == 0)
    assert(expected.subsetOf(truePairs.map(_._1).toSet),
      s"missing true pairs: ${expected -- truePairs.map(_._1).toSet}")
    assert(truePairs.size <= bKeys.size)
    // mean true score strictly above mean surviving-false score
    val mt = truePairs.map(_._6).sum / truePairs.size
    if (falsePos.nonEmpty) {
      val mf = falsePos.map(_._6).sum / falsePos.size
      assert(mt > mf, s"true mean $mt should beat false mean $mf")
    }
    // planted perturbation classes are visible among the true pairs
    assert(truePairs.exists(_._3 == 0L), "no name-typo pair found")
    assert(truePairs.exists(_._4 == 0L), "no balance-shift pair found")
    assert(truePairs.exists(p => p._3 == 1L && p._4 == 1L && p._5 == 1L),
      "no untouched all-agree pair found")
  }

  test("ssspFromSeed accumulates weighted path distances exactly") {
    import spark.implicits._
    // path 1 -0.5- 2 -0.5- 3 -0.5- 4, plus shortcut 1 -1.2- 4:
    // shortest to 4 is 1.5 via the path, not the 1.2+? shortcut... the
    // direct edge IS 1.2 < 1.5, so dist(4) = 1.2 — both routes exercised.
    val edges = Seq((1L, 2L, 0.5), (2L, 3L, 0.5), (3L, 4L, 0.5), (1L, 4L, 1.2))
      .toDF("a", "b", "w")
    val seed = Seq((1L, 0.0)).toDF("node", "dist")
    val out = Graph.ssspFromSeed(edges, seed, rounds = 4)
      .as[(Long, Double)].collect().toMap
    assert(out == Map(1L -> 0.0, 2L -> 0.5, 3L -> 1.0, 4L -> 1.2))
  }

  test("ssspFromSeed on an empty seed yields an empty frame, lazily") {
    import spark.implicits._
    val edges = Seq((1L, 2L, 1.0)).toDF("a", "b", "w")
    val seed = Seq.empty[(Long, Double)].toDF("node", "dist")
    assert(Graph.ssspFromSeed(edges, seed, rounds = 2).count() == 0L)
  }

  test("pprFromSeed concentrates restart mass on the seed (2-node closed form)") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("a", "b")
    val seed = Seq(Tuple1(1L)).toDF("node")
    val out = Graph.pprFromSeed(edges, seed, iters = 5)
      .as[(Long, Double)].collect().toMap
    // hand-unrolled 5 rounds with per-round 9dp rounding:
    // (1, 0) -> (.15, .85) -> (.8725, .1275) -> (.258375, .741625)
    // -> (.78038125, .21961875) -> (.336675938, .663324063)
    assert(math.abs(out(1L) - 0.336675938) < 1e-9, s"got ${out(1L)}")
    assert(math.abs(out(2L) - 0.663324063) < 1e-9, s"got ${out(2L)}")
  }

  test("bandJoin returns exactly the naive theta-join pairs, boundary inclusive") {
    import spark.implicits._
    val left = (0 until 40).map(i => (i.toLong, i * 0.7)).toDF("lid", "lv")
    val right = (0 until 40).map(j => (j.toLong, 2.0 + j * 0.9)).toDF("rid", "rv")
    val w = 1.5
    val fast = Temporal.bandJoin(left, "lv", right, "rv", w)
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    val naive = left.crossJoin(right).where(abs($"lv" - $"rv") <= w)
      .select($"lid", $"rid").as[(Long, Long)].collect().toSet
    assert(fast == naive && fast.nonEmpty)
    // exact boundary: |3.5 - 2.0| = 1.5 == w must be kept
    val bl = Seq((1L, 3.5)).toDF("lid", "lv")
    val br = Seq((2L, 2.0)).toDF("rid", "rv")
    assert(Temporal.bandJoin(bl, "lv", br, "rv", 1.5).count() == 1L)
  }

  test("rj_band_knn equals the brute-force per-customer top-k of the " +
       "unbucketed band join (rank, tie-break, and cap all exact)") {
    val sf = "/root/testdata/sf0.001"
    val got = Temporal.rjBandKnn(spark, sf)
      .as[(Int, Long, Long, Long, Double)].collect().toSeq
      .sortBy(r => (r._2, r._3))
    val brute = graft.Tables.t(spark, sf, "customer")
      .select($"c_nationkey", $"c_custkey", $"c_acctbal")
      .join(graft.Tables.t(spark, sf, "supplier")
          .select($"s_nationkey", $"s_suppkey", $"s_acctbal"),
        $"c_nationkey" === $"s_nationkey" &&
          abs($"c_acctbal" - $"s_acctbal") <= 250.0)
      .select($"c_nationkey", $"c_custkey", $"s_suppkey",
        round(abs($"c_acctbal" - $"s_acctbal"), 2).as("adiff"))
      .as[(Int, Long, Long, Double)].collect()
      .groupBy(r => (r._1, r._2)).toSeq
      .flatMap { case ((nat, c), rows) =>
        rows.sortBy(r => (r._4, r._3)).take(Temporal.RjBandK).zipWithIndex
          .map { case ((_, _, sk, ad), i) => (nat, c, (i + 1).toLong, sk, ad) }
      }.sortBy(r => (r._2, r._3))
    assert(got.nonEmpty && got == brute,
      s"first diff: ${got.zip(brute).find(p => p._1 != p._2)}")
  }

  test("ssspFromSeed drops null-endpoint edges instead of emitting a null node") {
    val edges = Seq((Some(1L), Some(2L), 1.0), (Some(2L), Option.empty[Long], 1.0))
      .toDF("a", "b", "w")
    val seed = Seq((1L, 0.0)).toDF("node", "dist")
    val out = Graph.ssspFromSeed(edges, seed, rounds = 3)
      .collect().map(r => (if (r.isNullAt(0)) null else r.getLong(0), r.getDouble(1)))
    assert(!out.exists(_._1 == null), s"null node leaked: ${out.toSeq}")
    assert(out.toMap == Map(1L -> 0.0, 2L -> 1.0))
  }

  test("labelPropagation argmax is exact for ids beyond 2^32 and negative ids") {
    // the old cnt*2^32 - label packing mis-ranked exactly these: a
    // triangle whose ids are hash-range longs must still converge to
    // one community = the most-frequent neighbor label (ties to lowest)
    val big = 1L << 40
    val edges = Seq((big, big + 1), (big + 1, -big), (-big, big))
      .toDF("a", "b")
    val labels = Graph.labelPropagation(edges, iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(labels.values.toSet.size == 1,
      s"triangle must converge to one community: $labels")
    assert(labels.values.head == -big,
      s"ties must break to the LOWEST label: $labels")
  }

  test("pprFromSeed preserves restart mass when a seed is absent from the graph") {
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val present = Graph.pprFromSeed(edges, Seq(1L).toDF("node"), iters = 5)
      .as[(Long, Double)].collect().toMap
    val withGhost = Graph.pprFromSeed(edges,
      Seq(1L, 99L).toDF("node"), iters = 5)
      .as[(Long, Double)].collect().toMap
    assert(withGhost == present,
      s"an absent seed must not scale scores: $withGhost vs $present")
  }

  test("iterative operators leave persisted only the checkpoints their result reads") {
    // A warm second call: whatever the first call memoised (the tx_textrank
    // bigram counts) is persisted before the measured call, so every
    // persisted RDD the call adds is its own, and only the blocks the
    // returned frame still reads may stay.
    import org.apache.spark.sql.graftbridge.CheckpointBridge
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("a", "b")
    val seed = Seq((1L, 0L)).toDF("node", "dist")
    val calls: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "pageRank" -> (() => Graph.pageRank(edges)),
      "pprFromSeed" -> (() => Graph.pprFromSeed(edges, seed.select($"node"))),
      "labelPropagation" -> (() => Graph.labelPropagation(edges)),
      "bfsFromSeed" -> (() => Graph.bfsFromSeed(edges, seed)),
      "ssspFromSeed" -> (() => Graph.ssspFromSeed(edges.withColumn("w", lit(0.5)), seed)),
      "harmonicCloseness" -> (() => Graph.harmonicCloseness(edges)),
      "connectedComponents" -> (() => Graph.connectedComponents(edges)),
      "connectedComponentsStar" -> (() => Graph.connectedComponentsStar(edges)),
      "kCore" -> (() => Graph.kCore(edges)),
      "tx_textrank" -> (() => SparkEntry.queries("tx_textrank")(spark, SparkTestSession.smokeSf)))
    def release(df: org.apache.spark.sql.DataFrame): Unit =
      CheckpointBridge.checkpointedRdds(df).foreach(CheckpointBridge.release(_, blocking = false))
    calls.foreach { case (name, call) =>
      val warm = call()
      warm.collect()
      release(warm)
      val before = sc.getPersistentRDDs.keySet.toSet
      val result = call()
      result.collect()
      val added = sc.getPersistentRDDs.keySet.toSet -- before
      val read = CheckpointBridge.checkpointedRdds(result).map(_.id).toSet
      assert(added == read,
        s"$name left ${(added -- read).size} block sets persisted beyond its result's ${read.size}")
      release(result)
    }
  }

  test("brandes saturation early-exit: deep level budget == exact ball depth") {
    // A path graph 1-2-3-4 plus an isolated edge (7,8): from sources
    // {1, 7}, every frontier is empty past depth 3 — a levels budget of
    // 12 must return exactly what levels=4 returns (the early-exit padds
    // empty frames), and both must match Brandes hand-computation:
    // path P4 from source 1 gives delta(2)=2, delta(3)=1.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L)).toDF("a", "b")
    val srcs = Seq(1L, 7L).toDF("src")
    val lo = operators.Graph.brandes(edges, srcs, levels = 4)
      .orderBy(col("node")).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val hi = operators.Graph.brandes(edges, srcs, levels = 12)
      .orderBy(col("node")).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(lo.sameElements(hi), s"levels=12 diverged: ${hi.mkString} vs ${lo.mkString}")
    val m = lo.toMap
    assert(m(2L) == 2.0 && m(3L) == 1.0 && m(8L) == 0.0,
      s"Brandes dependencies wrong: ${lo.mkString(", ")}")
  }
}
