package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.CheckpointBridge
import graft.Pins
import graft.Tables.{t => tbl}

/** Graph operators for dedup canonicalization: near-duplicate candidate
  * pairs (Dedup.lshPairs) form an undirected graph whose connected
  * components are the duplicate clusters — keep min(doc_id) per component
  * as the canonical document, drop the rest. The step every large-scale
  * training-data dedup pipeline runs after MinHash/LSH.
  *
  * Mirrors the reference's implicit namespace graph handling (SURVEY.md
  * §1.1: parentHash edges + children adjacency, maintained by per-event
  * upserts in `src/lib/services/mongodb.ts:147-195`) — re-expressed as
  * whole-graph DataFrame iteration instead of point updates.
  */
object Graph {

  type Q = (SparkSession, String) => DataFrame

  /** Connected components by iterative min-label propagation.
    *
    * Each round every node takes the min label over itself and its
    * neighbors; converges in O(diameter) rounds. LSH duplicate clusters
    * are near-cliques (diameter ≤ 2-3), so this beats the O(log n)
    * large-star/small-star scheme there — propagation does whole-cluster
    * hops per round and each round is just a join + groupBy.min. For
    * graphs with long chains, switch to alternating large/small-star
    * (Kiveris et al., "Connected Components in MapReduce") — same
    * DataFrame skeleton, different propagation rule. Runs on
    * [[Rounds.untilStable]].
    *
    * @param edges two-column DataFrame of undirected edges
    * @return (node, cluster) — cluster is the component's min node id
    */
  // The convergence checks in both algorithms are exact only for integral
  // ids (decimal cast of a fractional/string id would round or null out
  // and corrupt the check silently) — enforce rather than guess. Map
  // other id types to longs (zipWithUniqueId / xxhash64) before calling.
  // Edges with a null endpoint carry no connectivity information and
  // would label-propagate asymmetrically — both algorithms drop them so
  // the two entry points stay interchangeable.
  private def cleanEdges(edges: DataFrame, opName: String): DataFrame = {
    edges.schema.fields.take(2).foreach { f =>
      require(Set("byte", "short", "integer", "long")(f.dataType.typeName),
        s"$opName needs integral node ids; ${f.name} is ${f.dataType.typeName}")
    }
    val Seq(ca, cb) = edges.columns.toSeq.take(2).map(col)
    // columns beyond the endpoints (weights, tags) pass through — the
    // weighted operators need the same null/type hygiene
    val rest = edges.columns.drop(2).toSeq.map(col)
    edges.select(ca.as("a") +: cb.as("b") +: rest: _*)
      .where(col("a").isNotNull && col("b").isNotNull)
  }

  /** The distinct both-ways edge list (x, y, carry…) of `cleanEdges`. */
  private def undirected(edges: DataFrame, op: String, carry: String*): DataFrame = {
    val e = cleanEdges(edges, op)
    val rest = carry.map(col)
    e.select(col("a").as("x") +: col("b").as("y") +: rest: _*)
      .union(e.select(col("b").as("x") +: col("a").as("y") +: rest: _*))
      .distinct()
  }

  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val und = undirected(edges, "connectedComponents").persist()
    // Convergence: labels are min-monotone (each round every label either
    // stays or strictly decreases, node set fixed), so the label sum is a
    // strictly decreasing potential — "sum unchanged" ⟺ converged.
    // decimal(38,0) so huge graphs can't overflow the potential.
    // Unconverged labels are WRONG labels (a component reported as several
    // clusters) that look like right ones, hence the throw past maxIter:
    // graphs with diameter > maxIter need a larger budget or the
    // large/small-star rule.
    val labels = try {
      Rounds.untilStable("connectedComponents",
        und.select(col("x").as("node")).distinct().withColumn("label", col("node")),
        Seq(sum(col("label").cast("decimal(38,0)")).as("pot")), maxIter) { labels =>
        val neighborMin = und
          .join(labels.withColumnRenamed("node", "y").withColumnRenamed("label", "ylabel"), Seq("y"))
          .select(col("x").as("node"), col("ylabel").as("label"))
        neighborMin.union(labels).groupBy("node").agg(min("label").as("label"))
      }
    } finally und.unpersist()
    labels.select(col("node"), col("label").as("cluster"))
  }

  /** Connected components by alternating large-star/small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", 2014) — the
    * scale path for graphs whose diameter exceeds a sane round budget.
    * Min-label propagation (above) does one hop per round = O(diameter)
    * rounds; the star operations contract whole subtrees onto their
    * minimum per round and converge in O(log n) rounds regardless of
    * diameter — a 1M-hop chain resolves in ~20 rounds, not 1M.
    *
    * Each operation is a groupBy.min + join-back on the edge list (never
    * collect_list — per-node neighbor sets stay distributed, so a
    * 100M-degree hub can't OOM a task). Convergence = the canonical edge
    * set is a fixpoint of both stars, detected by [[Rounds.untilStable]]
    * on (count, xxhash64-sum) of the edge set; a false "converged" needs
    * a 64-bit hash-sum collision between consecutive rounds (~2^-64,
    * documented risk of the check, not the labels).
    *
    * @param edges two-column DataFrame of undirected edges (integral ids)
    * @return (node, cluster) — cluster is the component's min node id;
    *         matches connectedComponents on every input
    */
  def connectedComponentsStar(edges: DataFrame, maxIter: Int = 30): DataFrame = {
    // Evaluated twice after the loop (node-set union) on top of whatever
    // upstream pipeline produced the edges (LSH banding here) — persist so
    // the input pipeline runs once, not three times.
    val cleaned = cleanEdges(edges, "connectedComponentsStar").persist()

    // large-star: every node attaches its strictly-larger neighbors to
    // the min of its neighborhood (incl. itself).
    def largeStar(e: DataFrame): DataFrame = {
      // project to the endpoints before the positional swap-union:
      // cleanEdges passes through weight/tag columns, and a bare
      // e.union(2-col select) would throw an arity mismatch on any
      // >2-column edge input (latent today — canon() already projects —
      // but the swap-union must not depend on that)
      val e2 = e.select(col("a"), col("b"))
      val und = e2.union(e2.select(col("b").as("a"), col("a").as("b")))
      val mins = und.groupBy(col("a")).agg(min(col("b")).as("mn"))
        .select(col("a"), least(col("mn"), col("a")).as("m"))
      und.join(mins, "a").where(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
    }
    // small-star: every node attaches its smaller neighbors (and itself)
    // to the min of those.
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.where(col("a") =!= col("b")).select(
        greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      val mins = dir.groupBy(col("a")).agg(min(col("b")).as("m"))
      dir.join(mins, "a").select(col("b").as("a"), col("m").as("b"))
        .union(mins.select(col("a"), col("m").as("b")))
        .where(col("a") =!= col("b"))
    }

    def canon(e: DataFrame): DataFrame = e.where(col("a") =!= col("b")).select(
      greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .distinct()

    try {
      val cur = Rounds.untilStable("connectedComponentsStar", canon(cleaned),
        Seq(sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")).as("h")), maxIter) { e =>
        canon(smallStar(largeStar(e)))
      }
      // Fixpoint edge set is a union of stars (a = member, b = root min).
      // Left-join back onto the full node set so nodes whose only edges
      // were self-loops (dropped by canon) still label themselves — same
      // contract as connectedComponents.
      val nodes = cleaned.select(col("a").as("node"))
        .union(cleaned.select(col("b").as("node"))).distinct()
      // Eager checkpoint: materialize the O(|nodes|) labeling while
      // `cleaned` is still cached, then drop both the input cache and the
      // fixpoint edge set — the caller holds only the final small frame.
      val out = Pins(nodes.join(cur.withColumnRenamed("a", "node"), Seq("node"), "left")
        .select(col("node"), coalesce(col("b"), col("node")).as("cluster")))
      CheckpointBridge.freeCheckpoint(cur)
      out
    } finally cleaned.unpersist(blocking = false)
  }

  /** Incremental connected components: fold a batch of new edges into an
    * existing label table WITHOUT recomputing the full graph — the
    * missing piece that lets incremental dedup (Dedup.incrementalCandidates
    * banding a fresh batch against persisted corpus signatures) maintain
    * cluster labels end-to-end incrementally.
    *
    * Correctness: a label table preserves the old graph's connectivity
    * exactly (every component is a star node→cluster, and cluster is the
    * component MIN, so cluster ids are themselves member ids). Therefore
    * CC(old ∪ batch) = CC(starEdges(labels) ∪ batch), and the only labels
    * that can change are those of components touched by the batch. The
    * algorithm exploits that:
    *
    *   1. map each batch endpoint to its current cluster (left join; a
    *      node the labels have never seen is its own cluster),
    *   2. run CC on the resulting CLUSTER-level graph — O(|batch|) nodes,
    *      not O(|corpus|),
    *   3. broadcast the old→new cluster remap over the label table (only
    *      touched clusters move; min-of-merged-mins = min of the merged
    *      component, so labels stay canonical), and append rows for
    *      brand-new nodes.
    *
    * At 100 TB: the label table scans once through a broadcast hash join
    * (the remap is O(touched clusters), tiny by construction for any
    * sane ingest batch) — no O(|V|) shuffle, no iteration over the big
    * table. Matches connectedComponents(allEdges) on every input
    * (spec-asserted and oracle-gated by cc_incremental, whose DuckDB
    * ground truth recomputes the FULL graph).
    */
  def incrementalComponents(labels: DataFrame, newEdges: DataFrame): DataFrame = {
    val e = cleanEdges(newEdges, "incrementalComponents")
    val lab = labels.select(col("node"), col("cluster"))
    // batch edges lifted to the cluster graph
    val lifted = e
      .join(lab.select(col("node").as("a"), col("cluster").as("ca")), Seq("a"), "left")
      .join(lab.select(col("node").as("b"), col("cluster").as("cb")), Seq("b"), "left")
      .select(coalesce(col("ca"), col("a")).as("x"),
        coalesce(col("cb"), col("b")).as("y"))
    // tiny CC over touched clusters + new nodes; O(log) rounds regardless
    // of how many old components one batch chains together
    val remap = connectedComponentsStar(lifted)
      .select(col("node").as("cluster"), col("cluster").as("next"))
      .where(col("cluster") =!= col("next")) // identity moves are no-ops
    val updated = lab.join(broadcast(remap), Seq("cluster"), "left")
      .select(col("node"), coalesce(col("next"), col("cluster")).as("cluster"))
    // brand-new nodes: batch endpoints the label table has never seen.
    // Their cluster-graph id is themselves, so the (unfiltered) remap
    // carries their final label; identity-filtered entries mean "keep".
    val newNodes = e.select(col("a").as("node"))
      .union(e.select(col("b").as("node"))).distinct()
      .join(lab.select(col("node")), Seq("node"), "left_anti")
    val added = newNodes
      .join(broadcast(remap.withColumnRenamed("cluster", "node")), Seq("node"), "left")
      .select(col("node"), coalesce(col("next"), col("node")).as("cluster"))
    updated.unionByName(added)
  }

  /** cc_incremental — the incremental path as a gate query: labels built
    * from the sub-150 slice of the LSH pair graph, then the remaining
    * pairs folded in via incrementalComponents. The DuckDB oracle is the
    * FULL-graph recursive-CTE labeling (shared with cc_clusters/cc_star),
    * so the gate hash-checks incremental ≡ batch recompute.
    */
  val ccIncremental: Q = (s, d) => {
    import s.implicits._
    val pairs = lshPairGraph(s, d)
    val batch = pairs.where(!($"a" < 150 && $"b" < 150))
    incrementalComponents(seedLabels(s, d), batch)
      .select($"node".as("doc_id"), $"cluster")
      .orderBy($"doc_id")
  }

  /** The incremental gate's "existing label table" — in production this is
    * the persisted output of the last corpus snapshot's CC job, so it is
    * memoized per (session, sfDir) exactly like [[lshLabels]]: each
    * incremental fold then costs only the O(|batch|) cluster-graph CC,
    * never a rebuild of the seed labels.
    */
  private def seedLabels(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.Artifacts.memo(s, "gr_seed_labels", d)(
      connectedComponentsStar(lshPairGraph(s, d).where($"a" < 150 && $"b" < 150)))
  }

  /** Cluster labels are the materialized product of an iterative job — a
    * production dedup pipeline computes them ONCE per corpus snapshot and
    * every downstream consumer (cluster listing, canonical selection,
    * keep/drop filters) reads the label table. Memoize per
    * (session, sfDir) accordingly; the frame is an eager localCheckpoint,
    * so the cache holds materialized blocks, not lineage. Same precedent
    * as HypermapQueries' decoded fixture frame.
    */
  private[operators] def lshLabels(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.memo(s, "gr_lsh_labels", d)(connectedComponents(lshPairGraph(s, d)))

  /** The LSH candidate-pair graph, materialized once per (session,
    * sfDir): CC, PageRank, and triangle counting all consume the same
    * edge list, and a production pipeline computes candidates ONCE per
    * corpus snapshot — re-shingling the corpus per downstream graph
    * metric would triple the dominant cost. Eager localCheckpoint so the
    * cache holds blocks, not lineage (the [[lshLabels]] discipline).
    */
  private def lshPairGraph(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.memo(s, "gr_lsh_pairs", d)(Pins(Dedup.lshPairs(s, d)))

  /** cc — duplicate clusters over the LSH candidate pairs (same probe set
    * as dd_lsh_pairs): each doc in a candidate pair labeled with its
    * component's min doc_id.
    */
  val ccClusters: Q = (s, d) => {
    import s.implicits._
    lshLabels(s, d)
      .select($"node".as("doc_id"), $"cluster")
      .orderBy($"doc_id")
  }
  /** Shared recursive-CTE ground truth for the LSH pair graph (same probe
    * set + banding as Dedup.lshPairs): everything through `reach` is the
    * component labeling; ccClustersSql and ddCanonicalSql both build on
    * it so the LSH parameters live in ONE place.
    */
  private[operators] val ccReachCte: String = {
    val mins = (0 until 8).map(j => s"min(md5('$j:' || sh)) AS mh$j").mkString(", ")
    s"""WITH RECURSIVE sig AS (
       |  SELECT doc_id, $mins
       |  FROM (SELECT doc_id,
       |               unnest(list_transform(range(1, len(text)-3), i -> substr(text, i, 5))) AS sh
       |        FROM documents WHERE doc_id < 200 AND len(text) >= 5)
       |  GROUP BY doc_id),
       |banded AS (
       |  SELECT doc_id, 0 AS band, md5(mh0 || '|' || mh1 || '|' || mh2 || '|' || mh3) AS bsig FROM sig
       |  UNION ALL
       |  SELECT doc_id, 1 AS band, md5(mh4 || '|' || mh5 || '|' || mh6 || '|' || mh7) AS bsig FROM sig),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |  FROM banded x JOIN banded y ON x.band = y.band AND x.bsig = y.bsig
       |  WHERE x.doc_id < y.doc_id),
       |und AS (SELECT a AS x, b AS y FROM pairs UNION SELECT b AS x, a AS y FROM pairs),
       |reach(n, r) AS (
       |  SELECT x, x FROM und
       |  UNION
       |  SELECT u.y, reach.r FROM und u JOIN reach ON u.x = reach.n)""".stripMargin
  }

  val ccClustersSql: String =
    s"""$ccReachCte
       |SELECT n AS doc_id, CAST(min(r) AS BIGINT) AS cluster
       |FROM reach GROUP BY n ORDER BY doc_id""".stripMargin

  /** cc via alternating stars — identical clusters to cc_clusters, taken
    * through the O(log n)-round path, oracle-checked against the same
    * recursive-CTE ground truth.
    */
  val ccStarClusters: Q = (s, d) => {
    import s.implicits._
    connectedComponentsStar(lshPairGraph(s, d))
      .select($"node".as("doc_id"), $"cluster")
      .orderBy($"doc_id")
  }

  /** Cluster-representative selection — the step a dedup pipeline runs
    * AFTER clustering: per duplicate cluster keep ONE canonical document
    * (longest text wins, min doc_id on ties — any deterministic quality
    * key slots in) and count what gets dropped. One broadcast-able join
    * (cluster labels are O(candidate docs), tiny next to the corpus) and
    * one keyed aggregation — at 100 TB the corpus never shuffles: the
    * final keep/drop filter is a broadcast semi-join against the drop set.
    *
    * Tie-break encoding: (n_chars, -doc_id) packed into one exact double
    * (n_chars ≤ 2^20, doc_id ≤ 2^31 ⇒ n_chars*2^31+doc_id < 2^52) so the
    * same max_by works verbatim in both engines.
    */
  val ddCanonical: Q = (s, d) => {
    import s.implicits._
    val labels = lshLabels(s, d)
    val docs = tbl(s, d, "documents").select($"doc_id", $"n_chars")
    labels.join(docs, $"node" === $"doc_id")
      .groupBy($"cluster")
      .agg(
        max_by($"doc_id", $"n_chars" * lit(2147483648L) - $"doc_id").as("keep_doc"),
        count(lit(1)).as("members"),
        max($"n_chars").as("keep_chars"))
      .where($"members" > 1)
      .orderBy($"cluster")
  }
  val ddCanonicalSql: String =
    s"""$ccReachCte,
       |lab AS (SELECT n AS doc_id, CAST(min(r) AS BIGINT) AS cluster FROM reach GROUP BY n)
       |SELECT cluster,
       |       max_by(d.doc_id, d.n_chars * 2147483648 - d.doc_id) AS keep_doc,
       |       count(*) AS members,
       |       max(d.n_chars) AS keep_chars
       |FROM lab JOIN documents d USING (doc_id)
       |GROUP BY cluster HAVING count(*) > 1 ORDER BY cluster""".stripMargin

  // --------------------------------------------------------------- pagerank

  /** Fixed-iteration PageRank by the power method over an undirected edge
    * list — the centrality score a corpus-graph pipeline uses to pick
    * which member of a near-duplicate cluster (or which page in a link
    * graph) to keep when "longest text wins" is too crude.
    *
    * Each round is one join (scores onto out-edges) + one keyed
    * aggregation (sum of neighbor contributions) — the same
    * shuffle-on-node-id both times, so a cluster co-partitions them; the
    * rank table is O(|nodes|) and never wider than (node, deg, pr).
    * Per-round scores are quantized to 9 dp so the iteration is
    * bit-reproducible across engines and runs (same discipline as
    * Similarity.lloydCentroids — the quantization floor dominates the
    * sum-order float jitter by ~7 orders of magnitude).
    *
    * Fixed `iters` rather than convergence-tested: the gate's oracle
    * unrolls the exact same rounds as SQL CTEs, and a deterministic
    * round count is what makes that mirror possible. Power iteration
    * contracts by the damping factor per round, so callers wanting an
    * ε-converged vector run iters = log(ε)/log(damping) (~90 rounds for
    * 1e-6 at 0.85) — same plan shape, just more rounds.
    */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85): DataFrame = {
    val und = undirected(edges, "pageRank").persist()
    // In a symmetric graph every node has out-degree ≥ 1, so there is no
    // dangling-mass redistribution term.
    val deg = und.groupBy(col("x")).agg(count(lit(1)).as("deg")).persist()
    val n = deg.count() // O(|nodes|) driver scalar, needed for the 1/n terms
    val base = (1.0 - damping) / math.max(n, 1L)
    // Checkpoint every SECOND round: each eager localCheckpoint is a
    // whole job at the ~0.3 s local scheduling floor, `pr` is referenced
    // once per round so a skipped checkpoint grows the plan linearly (two
    // join+agg rounds deep, trivial), and the per-round round(…, 9)
    // barrier keeps the arithmetic identical either way.
    val pr = Rounds.fixed(deg.select(col("x").as("node"), col("deg"),
        round(lit(1.0 / math.max(n, 1L)), 9).as("pr")), iters, every = 2) { pr =>
      val contrib = pr.join(und, pr("node") === und("x"))
        .groupBy(col("y")).agg(sum(col("pr") / col("deg")).as("s"))
      deg
        .join(contrib, deg("x") === contrib("y"), "left")
        .select(col("x").as("node"), col("deg"),
          round(lit(base) + lit(damping) * coalesce(col("s"), lit(0.0)), 9).as("pr"))
    }
    und.unpersist(); deg.unpersist()
    pr.select(col("node"), col("pr"))
  }

  /** gr_pagerank — 5-round PageRank over the LSH duplicate-pair graph
    * (same probe set + banding as dd_lsh_pairs / cc_clusters).
    */
  val grPageRank: Q = (s, d) => {
    import s.implicits._
    pageRank(lshPairGraph(s, d))
      .select($"node".as("doc_id"), round($"pr", 6).as("pagerank"))
      .orderBy($"doc_id")
  }
  /** DuckDB mirror: the identical rounds unrolled as CTEs pr1..prN over
    * the shared pair graph — every arithmetic step (1/n seed, (1-d)/n
    * base, contribution sum, 9-dp per-round quantization) written the
    * same way so both engines execute the same IEEE operations.
    */
  val grPageRankSql: String = {
    val iterCtes = (1 to 5).map { k =>
      s"""pr$k AS (
         |  SELECT deg.x AS node, deg.deg,
         |         round((1 - 0.85) / (SELECT n FROM nn) + 0.85 * coalesce(c.s, 0), 9) AS pr
         |  FROM deg LEFT JOIN (
         |    SELECT u.y AS node, sum(p.pr / p.deg) AS s
         |    FROM pr${k - 1} p JOIN und u ON p.node = u.x GROUP BY u.y) c
         |  ON deg.x = c.node)""".stripMargin
    }.mkString(",\n")
    s"""$ccReachCte,
       |deg AS (SELECT x, count(*) AS deg FROM und GROUP BY x),
       |nn AS (SELECT count(*) AS n FROM deg),
       |pr0 AS (SELECT x AS node, deg, round(1.0 / (SELECT n FROM nn), 9) AS pr FROM deg),
       |$iterCtes
       |SELECT node AS doc_id, round(pr, 6) AS pagerank
       |FROM pr5 ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------------- triangle count

  /** Per-node triangle counts by degree-ordered edge orientation (the
    * MapReduce-classic: Suri & Vassilvitskii, "Counting Triangles and the
    * Curse of the Last Reducer", WWW'11). Local clustering structure is
    * the cheap graph-shape signal a dedup pipeline reads off its
    * candidate-pair graph: near-duplicate clusters are near-cliques
    * (triangle-dense), chained false-positive paths are triangle-free.
    *
    * Orienting every edge from its (degree, id)-smaller endpoint bounds
    * each node's out-degree by O(√|E|), so the wedge join (the only
    * quadratic-ish step) fans out per node by out-degree², never by raw
    * degree² — a 100M-degree hub contributes nothing to the wedge stage
    * unless its neighbors are themselves high-degree. Three hash joins +
    * one aggregation; no windows, no driver iteration.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val und = undirected(edges, "triangleCounts").persist()
    val deg = und.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val oriented = und
      .join(deg.select(col("x"), col("deg").as("dx")), "x")
      .join(deg.select(col("x").as("y"), col("deg").as("dy")), "y")
      .where(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("x").as("u"), col("y").as("v"))
      .persist()
    // A wedge u→v, u→w (v ≠ w) closes iff the oriented edge v→w exists;
    // orientation is a total order, so of the two orderings of {v, w}
    // exactly one can match — each triangle is produced exactly once.
    val tri = oriented
      .join(oriented.select(col("u"), col("v").as("w")), "u")
      .where(col("v") =!= col("w"))
      .join(oriented.select(col("u").as("v"), col("v").as("w")), Seq("v", "w"))
    val out = tri
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_tri"))
    val materialized = Pins(out)
    und.unpersist(); oriented.unpersist()
    materialized
  }

  /** gr_triangles — per-doc triangle membership over the LSH pair graph.
    * The oracle counts the same triangles through the naive a<b<c
    * three-way join (orientation-free), proving the degree-ordered path
    * finds exactly the same triangle set.
    */
  val grTriangles: Q = (s, d) => {
    import s.implicits._
    triangleCounts(lshPairGraph(s, d))
      .select($"node".as("doc_id"), $"n_tri")
      .orderBy($"doc_id")
  }
  val grTrianglesSql: String =
    s"""$ccReachCte,
       |tri AS (
       |  SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
       |  FROM pairs e1
       |  JOIN pairs e2 ON e2.a = e1.b
       |  JOIN pairs e3 ON e3.a = e1.a AND e3.b = e2.b),
       |corners AS (SELECT unnest([ta, tb, tc]) AS node FROM tri)
       |SELECT node AS doc_id, CAST(count(*) AS BIGINT) AS n_tri
       |FROM corners GROUP BY node ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- label propagation

  /** Synchronous label propagation (Raghavan et al. 2007) — community
    * detection one level softer than connected components: labels flow to
    * the majority label of each node's neighborhood, so dense near-clique
    * regions agree quickly while thin false-positive bridges between them
    * keep their own labels instead of fusing the two sides (which CC, by
    * definition, always fuses). On a dedup pair graph this is the
    * "cluster or coincidence" second opinion.
    *
    * Determinism, which vanilla LPA lacks: synchronous rounds (no
    * in-round ordering dependence), a FIXED iteration budget, and an
    * exact argmax — `min_by(label, struct(-cnt, label))`, so "highest
    * count, ties to lowest label" is a single total order identical in
    * both engines AND overflow-free for ANY long label (the previous
    * cnt·2³² − label packing silently mis-ranked ids ≥ 2³² or negative —
    * exactly what the file's own xxhash64-id guidance produces). The
    * negation sits on the COUNT (a row count, never near 2⁶³) rather
    * than the label: −label wraps Long.MinValue to itself, ranking that
    * label worst where the oracle's `ORDER BY cnt DESC, label ASC` ranks
    * it best.
    * Per round: one join + two keyed aggregations, label table
    * O(|nodes|), on [[Rounds.fixed]].
    */
  def labelPropagation(edges: DataFrame, iters: Int = 4): DataFrame = {
    val und = undirected(edges, "labelPropagation").persist()
    val labels = Rounds.fixed(und.select(col("x").as("node")).distinct()
        .withColumn("label", col("node")), iters) { labels =>
      val cnt = und
        .join(labels.select(col("node").as("y"), col("label")), Seq("y"))
        .groupBy(col("x"), col("label")).agg(count(lit(1)).as("cnt"))
      // tie-break = highest count, then LOWEST label (the oracle's
      // ORDER BY cnt DESC, label ASC). Negate the COUNT, not the label:
      // counts are row counts (nowhere near 2^63, negation overflow-free)
      // while -label wraps to itself at Long.MinValue and would rank that
      // label worst where the oracle ranks it best.
      cnt.groupBy(col("x"))
        .agg(min_by(col("label"), struct(-col("cnt"), col("label"))).as("label"))
        .select(col("x").as("node"), col("label"))
    }
    und.unpersist()
    labels
  }

  /** The LPA partition of the LSH pair graph, memoized per (session,
    * dir) like [[lshLabels]]: gr_labelprop and gr_modularity both read
    * it, and a production pipeline computes the partition once per
    * corpus snapshot (labelPropagation already returns an eager
    * checkpoint, so the cache holds blocks, not lineage).
    */
  private def lshLpaLabels(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.memo(s, "gr_lpa_labels", d)(labelPropagation(lshPairGraph(s, d)))

  /** gr_labelprop — 4-round LPA communities over the LSH pair graph. */
  val grLabelProp: Q = (s, d) => {
    import s.implicits._
    lshLpaLabels(s, d)
      .select($"node".as("doc_id"), $"label".as("community"))
      .orderBy($"doc_id")
  }
  val grLabelPropSql: String = {
    val iterCtes = (1 to 4).map { k =>
      s"""cnt$k AS (
         |  SELECT u.x, l.label, count(*) AS cnt
         |  FROM und u JOIN lp${k - 1} l ON u.y = l.node GROUP BY u.x, l.label),
         |lp$k AS (
         |  SELECT x AS node, CAST(label AS BIGINT) AS label FROM (
         |    SELECT x, label, row_number() OVER (
         |      PARTITION BY x ORDER BY cnt DESC, label ASC) AS rk
         |    FROM cnt$k) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""$ccReachCte,
       |lp0 AS (SELECT x AS node, x AS label FROM (SELECT DISTINCT x FROM und)),
       |$iterCtes
       |SELECT node AS doc_id, label AS community
       |FROM lp4 ORDER BY doc_id""".stripMargin
  }

  /** cc_size_hist — dedup-cluster size histogram over the CC labeling of
    * the LSH pair graph: per cluster size, how many clusters, how many
    * documents they cover, and how many would be REMOVED by keep-one
    * canonicalization ((size−1)·clusters). This is the dedup impact
    * report a pipeline reads before committing a dedup pass — the
    * cluster-size tail tells you whether duplication is a few giant
    * template families (size spikes) or diffuse near-pairs, and the
    * n_dup_docs column is the corpus shrinkage the pass will buy.
    * Unpaired documents never enter the pair graph (no candidate ⇒ no
    * cluster), so every histogram row has size ≥ 2 — the histogram is
    * over CANDIDATE clusters, matching dd_canonical's population.
    *
    * Shape: two keyed aggregations over the memoized O(paired docs)
    * label table; nothing touches the corpus again. The CC loop behind
    * the labels is the cc_clusters plan-builds-the-loop class.
    */
  val ccSizeHist: Q = (s, d) => {
    import s.implicits._
    lshLabels(s, d).groupBy($"cluster").agg(count(lit(1)).as("size"))
      .groupBy($"size").agg(count(lit(1)).as("n_clusters"))
      .select($"size", $"n_clusters",
        ($"size" * $"n_clusters").as("n_docs"),
        (($"size" - 1) * $"n_clusters").as("n_dup_docs"))
      .orderBy($"size")
  }
  val ccSizeHistSql: String =
    s"""$ccReachCte,
       |cl AS (SELECT n AS doc_id, CAST(min(r) AS BIGINT) AS cluster
       |       FROM reach GROUP BY n),
       |sz AS (SELECT cluster, count(*) AS size FROM cl GROUP BY cluster)
       |SELECT size, count(*) AS n_clusters,
       |       size * count(*) AS n_docs,
       |       (size - 1) * count(*) AS n_dup_docs
       |FROM sz GROUP BY size ORDER BY size""".stripMargin

  /** gr_modularity — Newman modularity decomposition of the LPA
    * partition: per community, Q_c = m_c/m − (D_c/2m)² (internal-edge
    * share minus the share a degree-preserving random rewiring would
    * give it); Σ Q_c is THE number that says whether gr_labelprop's
    * communities are real structure or noise (Q ≈ 0), closing the loop
    * on the dedup-cluster second opinion — a partition isn't evidence
    * until its modularity says it beats chance.
    *
    * Shape: the partition comes from the same 4-round deterministic LPA
    * (plan-builds-the-loop class, like gr_labelprop itself); modularity
    * is then TWO keyed joins of the symmetric edge list against the
    * O(nodes) label table (internal-edge count needs both endpoints'
    * labels) plus one degree aggregation — every join keyed on node id,
    * co-partitioned at scale. 2m attaches via an unpartitioned window
    * over the O(communities) rollup (a11/w6 bounded-table precedent).
    * All counts are exact integers; the two divisions are IEEE, 6 dp.
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val und = undirected(edges, "modularity")
    val lx = labels.select(col("node").as("x"), col("label").as("cx"))
    val ly = labels.select(col("node").as("y"), col("label").as("cy"))
    val dmass = und.groupBy(col("x")).agg(count(lit(1)).as("deg"))
      .join(lx, "x").groupBy(col("cx").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
    val inner = und.join(lx, "x").join(ly, "y").where(col("cx") === col("cy"))
      .groupBy(col("cx").as("community")).agg(count(lit(1)).as("dir_in"))
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy()
    dmass.join(inner, Seq("community"), "left").na.fill(0L, Seq("dir_in"))
      .withColumn("m2", sum(col("deg_sum")).over(wAll).cast("double"))
      .select(col("community"), col("n_nodes"),
        (col("dir_in") / 2).cast("long").as("in_edges"), col("deg_sum"),
        round(col("dir_in").cast("double") / col("m2") -
          (col("deg_sum").cast("double") / col("m2")) *
            (col("deg_sum").cast("double") / col("m2")), 6).as("q_part"))
      .orderBy(col("community"))
  }

  val grModularity: Q = (s, d) =>
    modularity(lshPairGraph(s, d), lshLpaLabels(s, d))
  val grModularitySql: String = {
    val iterCtes = (1 to 4).map { k =>
      s"""cnt$k AS (
         |  SELECT u.x, l.label, count(*) AS cnt
         |  FROM und u JOIN lp${k - 1} l ON u.y = l.node GROUP BY u.x, l.label),
         |lp$k AS (
         |  SELECT x AS node, CAST(label AS BIGINT) AS label FROM (
         |    SELECT x, label, row_number() OVER (
         |      PARTITION BY x ORDER BY cnt DESC, label ASC) AS rk
         |    FROM cnt$k) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""$ccReachCte,
       |lp0 AS (SELECT x AS node, x AS label FROM (SELECT DISTINCT x FROM und)),
       |$iterCtes,
       |dm AS (
       |  SELECT l.label AS community, count(*) AS n_nodes, sum(d.deg) AS deg_sum
       |  FROM (SELECT x, count(*) AS deg FROM und GROUP BY x) d
       |  JOIN lp4 l ON l.node = d.x GROUP BY 1),
       |inn AS (
       |  SELECT lx.label AS community, count(*) AS dir_in
       |  FROM und u
       |  JOIN lp4 lx ON lx.node = u.x
       |  JOIN lp4 ly ON ly.node = u.y
       |  WHERE lx.label = ly.label GROUP BY 1),
       |f AS (
       |  SELECT dm.community, dm.n_nodes, coalesce(inn.dir_in, 0) AS dir_in,
       |         dm.deg_sum,
       |         CAST(sum(dm.deg_sum) OVER () AS DOUBLE) AS m2
       |  FROM dm LEFT JOIN inn ON inn.community = dm.community)
       |SELECT community, n_nodes, CAST(dir_in // 2 AS BIGINT) AS in_edges,
       |       CAST(deg_sum AS BIGINT) AS deg_sum,
       |       round(CAST(dir_in AS DOUBLE) / m2
       |             - (CAST(deg_sum AS DOUBLE) / m2) * (CAST(deg_sum AS DOUBLE) / m2), 6)
       |         AS q_part
       |FROM f ORDER BY community""".stripMargin
  }

  // ------------------------------------------------------------------ k-core

  /** Fixed-round k-core peeling: repeatedly drop nodes of degree < k and
    * the edges they carry; what survives is the k-core — the densest
    * backbone of the graph. On a dedup pair graph the 2-core separates
    * mutually-corroborated duplicate groups (every member paired with ≥2
    * others) from one-off candidate pairs a single band collision can
    * produce; in a link graph it's the standard spam/fringe trim.
    *
    * Each round is one keyed degree aggregation plus two semi-joins of the
    * edge list against the survivor set — all three shuffle on node id, so
    * a cluster co-partitions them, and the edge list only ever SHRINKS
    * (peeling is monotone), making later rounds cheaper than earlier ones.
    * CONVERGENCE-CHECKED ([[Rounds.untilStable]] on the surviving
    * directed-edge count): peeling stops at the first fixpoint (no node
    * dropped), so the result is the true k-core for ARBITRARY input —
    * long pendant chains just take more rounds. `rounds` is the minimum
    * number of peels to run (the oracle unrolls exactly that many CTEs,
    * so the gate runs ≥ its unroll depth); `maxRounds` is a runaway cap —
    * peel chains longer than it raise IllegalStateException rather than
    * silently returning a non-core.
    * Returns surviving (node, core_deg) — degree WITHIN the core.
    */
  def kCore(edges: DataFrame, k: Int = 2, rounds: Int = 4,
            maxRounds: Int = 1000): DataFrame = {
    val core = Rounds.untilStable("kCore", undirected(edges, "kCore"), Nil, maxRounds,
        minRounds = rounds) { und =>
      val keep = und.groupBy(col("x")).agg(count(lit(1)).as("deg"))
        .where(col("deg") >= k)
        .select(col("x").as("kx"))
      und
        .join(keep, und("x") === keep("kx")).drop("kx")
        .join(keep, und("y") === keep("kx")).drop("kx")
    }
    core.groupBy(col("x").as("node")).agg(count(lit(1)).cast("long").as("core_deg"))
  }

  /** gr_kcore — 2-core of the LSH pair graph (≥4 peel rounds to match
    * the oracle's unroll depth; converges in 1 on the gate graph). */
  val grKCore: Q = (s, d) => {
    import s.implicits._
    kCore(lshPairGraph(s, d))
      .select($"node".as("doc_id"), $"core_deg")
      .orderBy($"doc_id")
  }
  val grKCoreSql: String = {
    val peel = (1 to 4).map { r =>
      s"""k$r AS (SELECT x FROM e${r - 1} GROUP BY x HAVING count(*) >= 2),
         |e$r AS (SELECT e.x, e.y FROM e${r - 1} e
         |        JOIN k$r a ON e.x = a.x JOIN k$r b ON e.y = b.x)""".stripMargin
    }.mkString(",\n")
    s"""$ccReachCte,
       |e0 AS (SELECT x, y FROM und),
       |$peel
       |SELECT x AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
       |FROM e4 GROUP BY x ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------- link prediction

  /** Adamic–Adar link scoring: for every NON-adjacent 2-hop pair (a, b),
    * AA(a,b) = Σ_{z ∈ N(a)∩N(b)} 1/ln(deg z) — common neighbors weighted
    * by how selective they are. On a containment/duplicate graph this
    * ranks the pairs the thresholded edge set MISSED (a and b both
    * overlap z but fell under the pairing threshold with each other) —
    * the "you should probably also check these" queue a dedup reviewer
    * drains; on any graph it is the classic link-prediction baseline
    * (Adamic & Adar 2003). Every z is a common neighbor, so deg z ≥ 2
    * and the ln is never zero.
    *
    * Scale shape: wedges come from one self-join of the edge list on the
    * CENTER node — the triangleCounts orientation trick applies verbatim
    * if degrees skew — and existing edges drop via a left-anti join on
    * the pair key; the score is one keyed aggregation. Everything
    * shuffles on node ids or (a,b) pairs — no windows, no products.
    */
  def adamicAdar(edges: DataFrame): DataFrame = {
    val e = cleanEdges(edges, "adamicAdar")
    // und appears three times in the one returned plan (two wedge legs +
    // degrees). No persist: this function runs no action of its own, so a
    // cache here would only feed a throwaway materialization — Spark's
    // exchange reuse already shares the scan within the single job, and
    // at scale the caller hands in a materialized edge artifact anyway
    // (lshPairGraph / containmentTable are eager localCheckpoints).
    val und = undirected(edges, "adamicAdar")
    val deg = und.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val wedges = und.select(col("x").as("z"), col("y").as("a"))
      .join(und.select(col("x").as("z2"), col("y").as("b")),
        col("z") === col("z2") && col("a") < col("b"))
      .select(col("a"), col("b"), col("z"))
    // Anti-join against the ORIENTED edge set: wedge pairs come out
    // (a < b), so an input edge stored the other way around must still
    // cancel its pair — least/greatest normalizes before the anti-join
    // (caught by the random-graph spec: un-normalized edges leaked
    // adjacent pairs into the candidate set).
    val cand = wedges.join(
      e.select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b")), Seq("a", "b"), "left_anti")
    cand.join(deg, cand("z") === deg("x"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("common"),
        round(sum(lit(1.0) / log(col("deg"))), 6).as("adamic_adar"))
  }

  /** gr_adamic — AA link scores over the shingle-containment graph
    * (Dedup.containmentTable's ≥0.5 survivors — the same cached artifact
    * dd_containment reports).
    */
  val grAdamic: Q = (s, d) => {
    import s.implicits._
    adamicAdar(Dedup.containmentTable(s, d)
        .where($"cont_a" >= 0.5 || $"cont_b" >= 0.5)
        .select($"a", $"b"))
      .orderBy($"adamic_adar".desc, $"a", $"b")
  }
  val grAdamicSql: String =
    s"""WITH ${Dedup.containmentCteSql},
       |cund AS (SELECT a AS x, b AS y FROM cpairs UNION SELECT b AS x, a AS y FROM cpairs),
       |cdeg AS (SELECT x, count(*) AS deg FROM cund GROUP BY x),
       |wedges AS (
       |  SELECT e1.y AS a, e2.y AS b, e1.x AS z
       |  FROM cund e1 JOIN cund e2 ON e1.x = e2.x AND e1.y < e2.y),
       |cand AS (
       |  SELECT w.a, w.b, w.z FROM wedges w
       |  LEFT JOIN cpairs p ON p.a = w.a AND p.b = w.b
       |  WHERE p.a IS NULL)
       |SELECT c.a, c.b, count(*) AS common,
       |       round(sum(1.0 / ln(d.deg)), 6) AS adamic_adar
       |FROM cand c JOIN cdeg d ON d.x = c.z
       |GROUP BY c.a, c.b ORDER BY adamic_adar DESC, a, b""".stripMargin

  // ------------------------------------------------------------------- BFS

  /** Fixed-round BFS frontier expansion: hop distances from a source
    * node, each round relaxing dist(y) = min(dist(y), min over in-edges
    * dist(x)+1). The SSSP-lite every provenance/blast-radius question
    * needs ("what's within k hops of this doc/entity"); rounds bound the
    * radius — exactly `rounds` hops are explored, converged or not, and
    * the oracle unrolls the identical rounds (pageRank discipline).
    *
    * Each round is one join (frontier onto edges) + one min-aggregation,
    * both keyed on node id; the dist table is O(reached nodes), and the
    * rounds run on [[Rounds.fixed]].
    */
  def bfs(edges: DataFrame, source: Long, rounds: Int = 6): DataFrame = {
    val seed = edges.sparkSession.range(source, source + 1)
      .select(col("id").as("node"), lit(0L).as("dist"))
    bfsFromSeed(edges, seed, rounds)
  }

  /** BFS from an in-plan seed frontier (node, dist) — lets the source be
    * DERIVED (e.g. "the min node of the graph") without an eager driver
    * action at plan-construction time, and yields an empty result on an
    * empty graph instead of throwing (an empty edge set produces an
    * empty seed, which every round preserves).
    */
  def bfsFromSeed(edges: DataFrame, seed: DataFrame, rounds: Int = 6): DataFrame = {
    val und = undirected(edges, "bfs").persist()
    val dist = Rounds.fixed(seed.select(col("node").cast("long").as("node"),
        col("dist").cast("long").as("dist")), rounds) { dist =>
      dist.unionByName(
          dist.join(und, dist("node") === und("x"))
            .select(col("y").as("node"), (col("dist") + 1L).as("dist")))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }
    und.unpersist()
    dist
  }

  /** gr_bfs — hop distances from the containment graph's min node (6
    * rounds; the graph's eccentricity is 4, spec-asserted converged).
    * The source is derived IN-PLAN (1-row min aggregate as the seed
    * frontier), so building the query triggers no Spark job and an
    * empty pair graph yields an empty result rather than an NPE.
    */
  val grBfs: Q = (s, d) => {
    import s.implicits._
    val pairs = Dedup.containmentTable(s, d)
      .where($"cont_a" >= 0.5 || $"cont_b" >= 0.5)
      .select($"a", $"b")
    val seed = pairs.agg(min(least($"a", $"b")).as("node"))
      .where($"node".isNotNull)
      .select($"node", lit(0L).as("dist"))
    bfsFromSeed(pairs, seed)
      .select($"node".as("doc_id"), $"dist")
      .orderBy($"doc_id")
  }
  val grBfsSql: String = {
    val rounds = (1 to 6).map { r =>
      s"""d$r AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${r - 1}
         |    UNION ALL
         |    SELECT u.y AS node, d.dist + 1 AS dist
         |    FROM d${r - 1} d JOIN cund u ON d.node = u.x)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.containmentCteSql},
       |cund AS (SELECT a AS x, b AS y FROM cpairs UNION SELECT b AS x, a AS y FROM cpairs),
       |src AS (SELECT min(x) AS s FROM cund),
       |d0 AS (SELECT s AS node, CAST(0 AS BIGINT) AS dist FROM src),
       |$rounds
       |SELECT node AS doc_id, dist FROM d6 ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------------------ weighted SSSP

  /** Weighted single-source shortest paths by fixed-round Bellman-Ford
    * relaxation: each round, dist(y) = min(dist(y), min over in-edges
    * dist(x) + w(x,y)). The weighted upgrade of [[bfsFromSeed]] — "how
    * FAR is every doc from this one" where edge length encodes
    * dissimilarity, so path length is accumulated divergence (provenance
    * chains, contamination blast radius with strength attenuating per
    * hop).
    *
    * DETERMINISM: unlike pageRank's per-round float sums, SSSP is exactly
    * reproducible — every candidate distance is ONE addition chain down a
    * specific path (same operands, same order in any engine) and min() is
    * order-free, so results hash-match without per-round quantization.
    * Rounds bound the hop depth exactly like bfs; each round is one join
    * + one min-aggregation keyed on node id, dist is O(reached nodes).
    * Non-negative weights assumed (Bellman-Ford tolerates negatives, but
    * `rounds` then needs to reach |V|−1 for convergence).
    */
  def ssspFromSeed(edges: DataFrame, seed: DataFrame, rounds: Int = 8): DataFrame = {
    require(rounds >= 1, "need at least one relaxation round")
    // null/fractional endpoint hygiene: same cleanEdges every sibling
    // entry point applies — a null endpoint would otherwise survive the
    // relaxation as a spurious null-node distance row
    val und = undirected(edges, "ssspFromSeed", "w").persist()
    // Every round is checkpointed (unlike pageRank/ppr): dist is
    // referenced TWICE per round (carry-forward union + relaxation join),
    // so a skipped checkpoint re-executes the whole lazy round —
    // cadence 2 measured a local wash (1.084 → 1.050 s) and costs +50%
    // relaxation joins at scale, the wrong side of the trade.
    val dist = Rounds.fixed(seed.select(col("node").cast("long").as("node"),
        col("dist").cast("double").as("dist")), rounds) { dist =>
      dist.unionByName(
          dist.join(und, dist("node") === und("x"))
            .select(col("y").as("node"), (col("dist") + col("w")).as("dist")))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
    }
    und.unpersist()
    dist
  }

  /** gr_sssp — weighted shortest distances from the containment graph's
    * min node over ALL shingle-sharing pairs (no ≥0.5 cut — the denser
    * weighted graph), edge length = round(2 − cont_a − cont_b, 6): near-
    * identical docs are ~0 apart, barely-overlapping ones ~2. Source
    * derived in-plan (bfsFromSeed discipline); 8 rounds ≥ the gate
    * graph's weighted-path depth, oracle unrolls identically.
    */
  val grSssp: Q = (s, d) => {
    import s.implicits._
    val edges = Dedup.containmentTable(s, d)
      .select($"a", $"b", round(lit(2.0) - $"cont_a" - $"cont_b", 6).as("w"))
    val seed = edges.agg(min(least($"a", $"b")).as("node"))
      .where($"node".isNotNull)
      .select($"node", lit(0.0).as("dist"))
    ssspFromSeed(edges, seed)
      .select($"node".as("doc_id"), round($"dist", 6).as("dist"))
      .orderBy($"doc_id")
  }
  val grSsspSql: String = {
    val rounds = (1 to 8).map { r =>
      s"""d$r AS (
         |  SELECT node, min(dist) AS dist FROM (
         |    SELECT node, dist FROM d${r - 1}
         |    UNION ALL
         |    SELECT u.y AS node, d.dist + u.w AS dist
         |    FROM d${r - 1} d JOIN wund u ON d.node = u.x)
         |  GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${Dedup.containmentCteSql},
       |wedges AS (SELECT a, b, round(2.0 - cont_a - cont_b, 6) AS w FROM cont),
       |wund AS (SELECT a AS x, b AS y, w FROM wedges
       |         UNION SELECT b AS x, a AS y, w FROM wedges),
       |src AS (SELECT min(x) AS s FROM wund),
       |d0 AS (SELECT s AS node, CAST(0 AS DOUBLE) AS dist FROM src),
       |$rounds
       |SELECT node AS doc_id, round(dist, 6) AS dist FROM d8 ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------- harmonic closeness

  /** Bounded-hop harmonic closeness centrality: C(v) = Σ_{0<d(v,u)≤h} 1/d(v,u)
    * — the centrality that (unlike classic closeness) is well-defined on
    * DISCONNECTED graphs, which candidate-pair graphs always are. Ranks
    * cluster cores above bridge nodes above satellites.
    *
    * Multi-source BFS: ONE (src, node, dist) state frame seeded with every
    * node at distance 0, expanded h rounds by the same join + min-keyed
    * aggregation as [[bfsFromSeed]] — all sources ride each round's single
    * shuffle together rather than looping BFS per source. State is
    * O(Σ_v |ball_h(v)|), which the hop bound caps; at web scale the exact
    * ball gives way to HyperBall (Boldi & Vigna, 2013 — HLL counters per
    * node, same per-round join shape), which [[Sketches]]' HLL registers
    * would back.
    *
    * Exactness: distances are BIGINT hops; the harmonic sum is computed as
    * Σ 12 div d — an exact integer for d ∈ 1..4 (12 = lcm(1..4)) summed
    * order-free — divided by 12.0 ONCE at the end (one IEEE op, 6 dp), so
    * no float fold ever differs between engines.
    */
  def harmonicCloseness(edges: DataFrame, rounds: Int = 4): DataFrame = {
    val und = undirected(edges, "harmonicCloseness").persist()
    val dist = Rounds.fixed(und.select(col("x").as("src"), col("x").as("node"),
        lit(0L).as("dist")).distinct(), rounds) { dist =>
      val exp = dist.join(und, dist("node") === und("x"))
        .select(col("src"), col("y").as("node"), (col("dist") + 1L).as("dist"))
      dist.select(col("src"), col("node"), col("dist")).union(exp)
        .groupBy(col("src"), col("node")).agg(min(col("dist")).as("dist"))
    }
    und.unpersist()
    // lcm(1..rounds): every 1/d term becomes the exact integer lcm/d, so
    // the sum is order-free; overflows long past rounds≈40, far beyond any
    // sensible hop bound (and the frontier state explodes first).
    @annotation.tailrec
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val lcm = (1L to rounds.toLong).foldLeft(1L)((l, i) => l / gcd(l, i) * i)
    dist.where(col("dist") > 0)
      .groupBy(col("src"))
      .agg(count(lit(1)).as("reached"),
        sum(expr(s"$lcm div dist")).as("hnum"))
      .select(col("src"), col("reached"),
        round(col("hnum").cast("double") / lcm.toDouble, 6).as("harmonic"))
  }

  /** gr_closeness — 4-hop harmonic closeness over the LSH pair graph;
    * oracle unrolls the identical 4 min-dist rounds.
    */
  val grCloseness: Q = (s, d) => {
    import s.implicits._
    harmonicCloseness(lshPairGraph(s, d))
      .select($"src".as("doc_id"), $"reached", $"harmonic")
      .orderBy($"doc_id")
  }
  val grClosenessSql: String = {
    val rounds = (1 to 4).map { r =>
      s"""h$r AS (
         |  SELECT src, node, min(dist) AS dist FROM (
         |    SELECT src, node, dist FROM h${r - 1}
         |    UNION ALL
         |    SELECT d.src, u.y AS node, d.dist + 1 AS dist
         |    FROM h${r - 1} d JOIN und u ON d.node = u.x)
         |  GROUP BY src, node)""".stripMargin
    }.mkString(",\n")
    s"""$ccReachCte,
       |h0 AS (SELECT DISTINCT x AS src, x AS node, CAST(0 AS BIGINT) AS dist FROM und),
       |$rounds
       |SELECT src AS doc_id, count(*) AS reached,
       |       round(CAST(sum(12 // dist) AS DOUBLE) / 12.0, 6) AS harmonic
       |FROM h4 WHERE dist > 0 GROUP BY src ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- degree assortativity

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees over the edge list — positive means hubs attach to
    * hubs (social-network shape), negative means hubs attach to leaves
    * (star/hub-spoke shape, which LSH duplicate clusters approximate).
    * The one-number structural fingerprint that distinguishes a
    * candidate-pair graph made of tight clusters from one made of
    * chains, without materializing any triangle or component.
    *
    * One degree aggregation + two joins back onto the edge list (node-
    * keyed equi-joins — AQE picks broadcast when the degree table fits;
    * forcing it would collect O(|V|) rows to the driver on big graphs) +
    * one moment aggregation. Both edge directions are included, so the
    * correlation is symmetric by construction. Moments accumulate as
    * DECIMAL(38,0) (sums of deg² products overflow BIGINT on hub-heavy
    * graphs — the connectedComponents potential discipline); r is one
    * IEEE formula, 6 dp.
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val und = undirected(edges, "assortativity")
    val deg = und.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val dd = und
      .join(deg.select(col("x"), col("deg").as("dx")), Seq("x"))
      .join(deg.select(col("x").as("y"), col("deg").as("dy")), Seq("y"))
    val dec = "decimal(38,0)"
    dd.agg(count(lit(1)).cast(dec).as("m"),
        sum(col("dx").cast(dec)).as("sx"),
        sum((col("dx") * col("dx")).cast(dec)).as("sxx"),
        sum((col("dx") * col("dy")).cast(dec)).as("sxy"))
      .select(col("m").cast("long").as("m"),
        round((col("m") * col("sxy") - col("sx") * col("sx")).cast("double") /
          (col("m") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("assortativity"))
  }

  /** gr_assort — degree assortativity of the LSH pair graph (duplicate
    * clusters are near-cliques → weakly positive to near-zero r).
    */
  val grAssort: Q = (s, d) => {
    import s.implicits._
    assortativity(lshPairGraph(s, d))
  }
  val grAssortSql: String =
    s"""$ccReachCte,
       |deg AS (SELECT x, count(*) AS deg FROM und GROUP BY x),
       |dd AS (
       |  SELECT dx.deg AS dx, dy.deg AS dy
       |  FROM und u JOIN deg dx ON u.x = dx.x JOIN deg dy ON u.y = dy.x),
       |m AS (
       |  SELECT count(*) AS m, CAST(sum(dx) AS BIGINT) AS sx,
       |         CAST(sum(dx * dx) AS BIGINT) AS sxx,
       |         CAST(sum(dx * dy) AS BIGINT) AS sxy
       |  FROM dd)
       |SELECT m,
       |       round(CAST(m * sxy - sx * sx AS DOUBLE)
       |             / CAST(m * sxx - sx * sx AS DOUBLE), 6) AS assortativity
       |FROM m""".stripMargin

  // ------------------------------------------------ personalized PageRank

  /** Personalized PageRank: the restart mass returns to a SEED SET
    * instead of spreading uniformly — pr(v) becomes "probability a
    * random walk restarting at the seeds is at v", the standard
    * relevance-to-this-node score for related-document expansion and
    * seed-based spam/trust propagation (TrustRank). Same per-round
    * shape as [[pageRank]] (one join + one aggregation keyed on node,
    * contribution sums map-side combined, checkpoint cadence 2), same
    * per-round 9-dp quantization making the float sums engine-stable;
    * the only change is the base term: (1−d)·1[v ∈ S]/|S| — nodes keep
    * rank ONLY through walk proximity to a seed.
    */
  def pprFromSeed(edges: DataFrame, seed: DataFrame, iters: Int = 5,
                  damping: Double = 0.85): DataFrame = {
    val und = undirected(edges, "pprFromSeed").persist()
    val deg = und.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    // |S| counts only seeds PRESENT in the graph: an absent seed would
    // otherwise keep its share of the restart mass while the left join
    // below drops its row — silently scaling every score down. Restart
    // mass is preserved among the seeds that exist.
    val seeds = seed.select(col("node").cast("long").as("sn")).distinct()
      .join(deg.select(col("x").as("sn")), Seq("sn"), "left_semi")
    val ns = seeds.agg(count(lit(1)).as("ns"))
    // (node, deg, seedw) — seedw = 1/|S| on seeds, 0 elsewhere; the whole
    // per-node state the iteration needs, computed once.
    val nodes = deg
      .join(seeds, deg("x") === seeds("sn"), "left")
      .crossJoin(broadcast(ns))
      .select(col("x").as("node"), col("deg"),
        when(col("sn").isNull, lit(0.0))
          .otherwise(round(lit(1.0) / col("ns"), 9)).as("seedw"))
      .persist()
    // cadence-2 checkpointing — see pageRank for the rationale (pr is
    // referenced once per round; round(…, 9) keeps arithmetic identical)
    val pr = Rounds.fixed(nodes.select(col("node"), col("deg"), col("seedw").as("pr")),
        iters, every = 2) { pr =>
      val contrib = pr.join(und, pr("node") === und("x"))
        .groupBy(col("y")).agg(sum(col("pr") / col("deg")).as("s"))
      nodes
        .join(contrib, nodes("node") === contrib("y"), "left")
        .select(col("node"), col("deg"),
          round(lit(1.0 - damping) * col("seedw") +
            lit(damping) * coalesce(col("s"), lit(0.0)), 9).as("pr"))
    }
    und.unpersist(); nodes.unpersist()
    pr.select(col("node"), col("pr"))
  }

  /** gr_ppr — 5-round personalized PageRank over the LSH pair graph,
    * restarted at its min node (derived in-plan): rank concentrates in
    * the seed's duplicate cluster and decays to 0 elsewhere — contrast
    * gr_pagerank, where every component keeps mass.
    */
  val grPpr: Q = (s, d) => {
    import s.implicits._
    val pairs = lshPairGraph(s, d)
    val seed = pairs.agg(min(least($"a", $"b")).as("node"))
      .where($"node".isNotNull)
    pprFromSeed(pairs, seed)
      .select($"node".as("doc_id"), round($"pr", 6).as("ppr"))
      .orderBy($"doc_id")
  }
  val grPprSql: String = {
    val iterCtes = (1 to 5).map { k =>
      s"""ppr$k AS (
         |  SELECT nodes.node, nodes.deg,
         |         round((1 - 0.85) * nodes.seedw + 0.85 * coalesce(c.s, 0), 9) AS pr
         |  FROM nodes LEFT JOIN (
         |    SELECT u.y AS node, sum(p.pr / p.deg) AS s
         |    FROM ppr${k - 1} p JOIN und u ON p.node = u.x GROUP BY u.y) c
         |  ON nodes.node = c.node)""".stripMargin
    }.mkString(",\n")
    s"""$ccReachCte,
       |deg AS (SELECT x, count(*) AS deg FROM und GROUP BY x),
       |src AS (SELECT min(x) AS sn FROM und),
       |nodes AS (
       |  SELECT deg.x AS node, deg.deg,
       |         CASE WHEN deg.x = (SELECT sn FROM src)
       |              THEN round(1.0 / 1, 9) ELSE 0.0 END AS seedw
       |  FROM deg),
       |ppr0 AS (SELECT node, deg, seedw AS pr FROM nodes),
       |$iterCtes
       |SELECT node AS doc_id, round(pr, 6) AS ppr
       |FROM ppr5 ORDER BY doc_id""".stripMargin
  }

  // -------------------------------------------------- degree distribution

  /** gr_degdist — degree histogram of the LSH pair graph: how many nodes
    * have each degree. The one-glance shape diagnostic before any graph
    * op runs — a heavy tail here says "salt the wedge join / orient the
    * triangles"; a spike at 1 says the LSH threshold is shedding
    * singleton pairs. Two keyed aggregations of the edge list, output
    * O(distinct degrees).
    */
  val grDegDist: Q = (s, d) => {
    import s.implicits._
    undirected(lshPairGraph(s, d), "degDist")
      .groupBy($"x").agg(count(lit(1)).as("deg"))
      .groupBy($"deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy($"deg")
  }
  val grDegDistSql: String =
    s"""$ccReachCte
       |SELECT deg, count(*) AS n_nodes
       |FROM (SELECT x, count(*) AS deg FROM und GROUP BY x)
       |GROUP BY deg ORDER BY deg""".stripMargin

  // ------------------------------------------------------- neighbor Jaccard

  /** Neighbor-set Jaccard for non-adjacent 2-hop pairs: |N(a)∩N(b)| /
    * |N(a)∪N(b)| — the degree-normalized sibling of [[adamicAdar]] (same
    * wedge-join candidate generation, same anti-join against existing
    * edges), preferring pairs whose neighborhoods AGREE overall rather
    * than merely touch through a selective hub. All three terms are exact
    * integer counts (union = deg(a)+deg(b)−common), so the only float is
    * the final division — no ln, tighter cross-engine story than AA.
    */
  def neighborJaccard(edges: DataFrame): DataFrame = {
    val e = cleanEdges(edges, "neighborJaccard")
    val und = undirected(edges, "neighborJaccard")
    val deg = und.groupBy(col("x")).agg(count(lit(1)).as("deg"))
    val wedges = und.select(col("x").as("z"), col("y").as("a"))
      .join(und.select(col("x").as("z2"), col("y").as("b")),
        col("z") === col("z2") && col("a") < col("b"))
      .select(col("a"), col("b"))
    val cand = wedges.join(
        e.select(least(col("a"), col("b")).as("a"),
          greatest(col("a"), col("b")).as("b")), Seq("a", "b"), "left_anti")
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("common"))
    cand
      .join(deg.select(col("x").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("x").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("common"),
        round(col("common").cast("double") /
          (col("da") + col("db") - col("common")), 6).as("nbr_jaccard"))
  }

  /** gr_jaccard — neighbor-Jaccard link scores over the shingle-
    * containment graph (grAdamic's input: LSH cluster graphs are
    * near-cliques, so their non-adjacent 2-hop candidate set is empty —
    * the containment graph has real open wedges).
    */
  val grJaccard: Q = (s, d) => {
    import s.implicits._
    neighborJaccard(Dedup.containmentTable(s, d)
        .where($"cont_a" >= 0.5 || $"cont_b" >= 0.5)
        .select($"a", $"b"))
      .orderBy($"nbr_jaccard".desc, $"a", $"b")
  }
  val grJaccardSql: String =
    s"""WITH ${Dedup.containmentCteSql},
       |cund AS (SELECT a AS x, b AS y FROM cpairs UNION SELECT b AS x, a AS y FROM cpairs),
       |cdeg AS (SELECT x, count(*) AS deg FROM cund GROUP BY x),
       |wedges AS (
       |  SELECT e1.y AS a, e2.y AS b
       |  FROM cund e1 JOIN cund e2 ON e1.x = e2.x AND e1.y < e2.y),
       |cand AS (
       |  SELECT w.a, w.b, count(*) AS common
       |  FROM wedges w LEFT JOIN cpairs p ON p.a = w.a AND p.b = w.b
       |  WHERE p.a IS NULL GROUP BY w.a, w.b)
       |SELECT c.a, c.b, c.common,
       |       round(CAST(c.common AS DOUBLE) / (da.deg + db.deg - c.common), 6)
       |         AS nbr_jaccard
       |FROM cand c JOIN cdeg da ON da.x = c.a JOIN cdeg db ON db.x = c.b
       |ORDER BY nbr_jaccard DESC, a, b""".stripMargin

  // ------------------------------------------------------------------ HITS

  /** Bipartite HITS (Kleinberg) over the customer→part purchase graph:
    * hub(c) = Σ auth(p) over parts c buys, auth(p) = Σ hub(c) over its
    * buyers, alternating for `iters` rounds. On a purchase graph the
    * authorities are "parts bought by broad buyers" — the bipartite
    * ranking behind catalog curation; the same loop ranks doc↔entity or
    * query↔url graphs. Each half-step is one keyed join-aggregate
    * (shuffle on the side being scored).
    *
    * Normalization is L∞ (divide by the max) rather than the textbook
    * L2: max is order-free across partitions, while a float L2 sum is
    * not — the pageRank determinism rule — and per-round 9-dp
    * quantization pins the remaining keyed-sum noise in both engines.
    */
  def hitsBipartite(edges: DataFrame, iters: Int = 3): DataFrame = {
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    val out = hitsBipartiteOn(e, e, iters)
    e.unpersist()
    out
  }

  /** The loop takes the edge list TWICE — `eBySrc` feeds the auth
    * half-step (joins on src), `eByDst` the hub half-step (joins on
    * dst). Passing the same frame for both is the ad-hoc path; the
    * gated path passes two hash-BUCKETED copies of the artifact so each
    * half-step's 60 M-edge join side is already partitioned on its key
    * and only the node table exchanges (otherwise each of the six
    * half-steps re-shuffles the full edge list).
    *
    * Hand-rolled rather than on [[Rounds]]: the loop alternates two
    * frames and returns both, while a Rounds loop carries one. Each
    * checkpoint still frees the one it supersedes (the Rounds
    * discipline).
    */
  private def hitsBipartiteOn(eBySrc: DataFrame, eByDst: DataFrame,
                              iters: Int, shjHint: Boolean = false): DataFrame = {
    var hub = Pins(eBySrc.select(col("src").as("id")).distinct()
      .select(col("id"), lit(1.0).as("hub")))
    // no zero-auth seed: the first half-round derives auth from hub and
    // would free the seed unread — materializing it burned one full
    // distinct-shuffle of the edge list per call
    var auth: DataFrame = null
    for (_ <- 1 to iters) {
      // Node tables are dimension-sized and LOOK broadcastable, but a
      // forced broadcast measured SLOWER here (3.9 → 5.1 s at sf0.1):
      // each round's fresh hub/auth must then collect to the driver and
      // re-broadcast, serially, while the shuffle join overlaps its
      // exchange with the groupBy's and reuses the persisted edge scan.
      // The size-gated shuffle_hash hint picks the node table as
      // per-partition build side WITHOUT moving the edge side: with a
      // bucketed edge copy that join plans as Exchange(node-table-only)
      // → SHJ — no edge shuffle and no SMJ sort of the edges either.
      // Gated because it also blocks AQE's runtime broadcast
      // conversion, which is the better plan while the edge list is
      // small (r16 A/B: hint sf0.1 4.2 s vs 3.7 no-hint; sf10 29.1 s
      // vs 33.3 no-hint, the SMJ re-sorting 60 M edges per half-step).
      def side(n: DataFrame) = if (shjHint) n.hint("shuffle_hash") else n
      val as = eBySrc.join(side(hub), eBySrc("src") === hub("id"))
        .groupBy(col("dst")).agg(sum(col("hub")).as("s"))
      val nextAuth = Pins(as.crossJoin(broadcast(as.agg(max(col("s")).as("m"))))
        .select(col("dst").as("id"), round(col("s") / col("m"), 9).as("auth")))
      if (auth != null) CheckpointBridge.freeCheckpoint(auth)
      auth = nextAuth
      val hs = eByDst.join(side(auth), eByDst("dst") === auth("id"))
        .groupBy(col("src")).agg(sum(col("auth")).as("s"))
      val nextHub = Pins(hs.crossJoin(broadcast(hs.agg(max(col("s")).as("m"))))
        .select(col("src").as("id"), round(col("s") / col("m"), 9).as("hub")))
      CheckpointBridge.freeCheckpoint(hub)
      hub = nextHub
    }
    hub.select(lit("hub").as("kind"), col("id"), col("hub").as("score"))
      .unionByName(auth.select(lit("auth").as("kind"), col("id"), col("auth").as("score")))
  }

  /** The distinct customer→part bipartite edge list — the per-snapshot
    * infrastructure artifact (orders ⋈ lineitem + distinct, the suite's
    * largest edge build); the HITS rounds themselves still run per
    * invocation. Kept as a parquet artifact, NOT localCheckpoint
    * blocks (r15 sf10 probe): at 60M edges the block-
    * stored copy squeezed the execution pool until the first HITS
    * aggregation died with UNABLE_TO_ACQUIRE_MEMORY under batch
    * pressure — the identical failure mode the trigram index (r14), geo
    * neighbor graph (r14), and rc_ pair table (r15) each hit before
    * moving to parquet. The build shuffles on the join key; the
    * distinct is repartitioned by edge so the aggregation hash maps are
    * sized by data, not by the scan's input splits.
    */
  /** The two bucketed copies of the bipartite edge artifact: one
    * clustered by `src` (feeds the auth half-step, which joins on src),
    * one by `dst` (feeds the hub half-step). Dual materialization costs
    * one extra build-time write per corpus snapshot and buys ZERO edge
    * exchanges across all six HITS half-step joins — the exact trade a
    * 100 TB deployment makes by keeping its edge table bucketed both
    * ways (or bucketed + a projection index). Bucket count scales with
    * the corpus.
    */
  private def cachedBipartite(s: SparkSession, d: String): (DataFrame, DataFrame, Int) = {
    val key = s"$d|${graft.Artifacts.fingerprint(s"$d/lineitem.parquet")}|" +
      graft.Artifacts.fingerprint(s"$d/orders.parquet")
    val nBuckets = math.max(32L,
      graft.Tables.cachedCount(s, d, "lineitem") / 500000L).toInt
    def build: DataFrame =
      tbl(s, d, "orders")
        .join(tbl(s, d, "lineitem"), col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
        .repartition(nBuckets, col("src"), col("dst"))
        .distinct()
    val bySrc = graft.Artifacts.table(
      s, "gr_bipartite_src", key, bucketBy = Some((nBuckets, "src")))(build)
    val byDst = graft.Artifacts.table(
      s, "gr_bipartite_dst", key, bucketBy = Some((nBuckets, "dst")))(build)
    (bySrc, byDst, nBuckets)
  }

  /** gr_hits — 3-round bipartite HITS over customer→part purchases.
    * The six half-step joins re-scan the parquet artifact rather than
    * pinning it in block storage: a transient .persist() was measured
    * WORSE at both scales (sf0.1 3.9 s, sf10 61 s vs 3.7/39.6 plain —
    * cache materialization cost plus the same storage-vs-execution
    * squeeze that crashed the pinned variant), and the columnar re-scan
    * is the shape that survives executor loss on a real cluster. r16:
    * the artifact is now bucketed both ways (see [[cachedBipartite]]),
    * so those re-scans arrive pre-partitioned on each half-step's join
    * key and the plan holds zero edge-side exchanges.
    */
  val grHits: Q = (s, d) => {
    import s.implicits._
    val (bySrc, byDst, nBuckets) = cachedBipartite(s, d)
    // shjHint once the edge list outgrows the bucket floor (>16 M
    // lineitems): exactly the regime where the no-hint SMJ's per-half-
    // step edge sort dominates; below it AQE's broadcast is better.
    hitsBipartiteOn(bySrc, byDst, iters = 3, shjHint = nBuckets > 32)
      .select($"kind", $"id", round($"score", 6).as("score"))
      .orderBy($"kind", $"id")
  }
  val grHitsSql: String = {
    val rounds = (1 to 3).map { k =>
      s"""a${k}s AS (
         |  SELECT bp.dst, sum(h.hub) AS s
         |  FROM bp JOIN hub${k - 1} h ON bp.src = h.id GROUP BY bp.dst),
         |auth$k AS (
         |  SELECT dst AS id, round(s / (SELECT max(s) FROM a${k}s), 9) AS auth FROM a${k}s),
         |h${k}s AS (
         |  SELECT bp.src, sum(a.auth) AS s
         |  FROM bp JOIN auth$k a ON bp.dst = a.id GROUP BY bp.src),
         |hub$k AS (
         |  SELECT src AS id, round(s / (SELECT max(s) FROM h${k}s), 9) AS hub FROM h${k}s)""".stripMargin
    }.mkString(",\n")
    s"""WITH bp AS (
       |  SELECT DISTINCT o_custkey AS src, l_partkey AS dst
       |  FROM orders JOIN lineitem ON l_orderkey = o_orderkey),
       |hub0 AS (SELECT DISTINCT src AS id, 1.0 AS hub FROM bp),
       |$rounds
       |SELECT 'hub' AS kind, id, round(hub, 6) AS score FROM hub3
       |UNION ALL
       |SELECT 'auth' AS kind, id, round(auth, 6) AS score FROM auth3
       |ORDER BY kind, id""".stripMargin
  }

  // ------------------------------------------------- betweenness (Brandes)

  /** Depth bound for the betweenness passes: ≥ the probe graph's
    * component diameter (LSH candidate components are small and dense),
    * and the oracle unrolls exactly this many levels.
    */
  val BcLevels = 6

  /** gr_betweenness — Brandes betweenness-centrality dependencies
    * (Brandes 2001) from a deterministic 5-source sample of the LSH pair
    * graph: the bridge-detector centrality — which documents sit ON the
    * shortest paths between others — that degree/closeness/PageRank all
    * miss. Source-sampled exactly as production does at scale (Riondato
    * & Kornaropoulos: BC from k sampled sources; the per-source plan is
    * identical, only k grows), with hops bounded by [[BcLevels]].
    *
    * Forward pass: level-synchronous multi-source BFS keyed by (src,
    * node) carrying σ = #shortest paths — per level ONE hash join onto
    * the undirected edge list, an anti-join against the visited set, and
    * a keyed σ-sum (σ is an exact BIGINT). Backward pass: dependency
    * accumulation δ(v) = Σ_{w∈succ} σv/σw·(1+δw) walked from the deepest
    * level back — per level one join of the level frame × edges × the
    * deeper frame. All frames are O(visited balls), driver-bounded here,
    * sharded by src at scale — the plan-builds-the-loop class
    * (PlanGuardSpec exclusion, cc_clusters reason).
    *
    * Exactness: σ are integers; each δ term is quantized to 12 dp and
    * summed as DECIMAL(30,12) (order-free), the per-level δ re-rounded
    * to 9 dp, and per-node totals across sources summed as DECIMAL(28,9)
    * — no float fold ever depends on order in either engine.
    */
  /** The reusable Brandes kernel: edges (a, b) + a `src` source column →
    * (node, bc) where bc is the summed dependency δ over the given
    * sources (v = src rows excluded per Brandes). Levels bounds both
    * passes; see [[grBetweenness]] for the discipline notes.
    *
    * Hand-rolled rather than on [[Rounds]]: the backward pass reads
    * every forward level, so levels are kept, not superseded, and the
    * forward pass stops early once a frontier is empty. The visited
    * frame and every level are still freed (the Rounds discipline).
    */
  def brandes(edges: DataFrame, sources: DataFrame,
              levels: Int = BcLevels): DataFrame = {
    val und = undirected(edges, "brandes").persist()
    val seed = Pins(sources.select(col("src"), col("src").as("node"), lit(1L).as("sigma")))
    // forward: lvls(r) = (src, node, sigma) at depth exactly r; each
    // cumulative visited frame is dead as soon as its successor
    // checkpoints — free it then
    val lvls = scala.collection.mutable.ArrayBuffer(seed)
    var visited = Pins(seed.select(col("src"), col("node")))
    // Saturation early-exit: once a frontier is EMPTY,
    // every deeper level is empty by construction (it expands the empty
    // frame) and visited cannot change — so the remaining rounds' join/
    // anti-join/checkpoint jobs compute nothing. Re-using the empty
    // checkpointed frame for the residual levels is result-identical
    // (empty frames contribute no σ and no δ; the oracle's unrolled
    // levels are empty CTEs past saturation too) and turns the fixed
    // 6-level contract into "pay for the ball's true depth". The
    // isEmpty probe reads one cached block of an already-checkpointed
    // frame — no recompute.
    var saturated = false
    for (_ <- 1 to levels) {
      if (saturated) lvls += lvls.last
      else {
        val exp = lvls.last.join(und, lvls.last("node") === und("x"))
          .select(col("src"), col("y").as("node"), col("sigma"))
        val nxt = Pins(exp.join(visited, Seq("src", "node"), "left_anti")
          .groupBy(col("src"), col("node")).agg(sum(col("sigma")).as("sigma")))
        lvls += nxt
        if (nxt.isEmpty) saturated = true
        else {
          val nextVisited = Pins(visited.union(nxt.select(col("src"), col("node"))))
          CheckpointBridge.freeCheckpoint(visited)
          visited = nextVisited
        }
      }
    }
    CheckpointBridge.freeCheckpoint(visited) // not read by the backward pass
    // backward: delta(level r) from delta(level r+1)
    var deeper = lvls(levels).withColumn("delta", lit(0.0))
    val acc = scala.collection.mutable.ArrayBuffer(deeper)
    for (r <- (levels - 1) to 1 by -1) {
      val f = lvls(r)
      // a post-saturation level is the SAME empty checkpointed frame —
      // its δ frame is empty too; skip the join/checkpoint jobs
      if (r < levels && (f eq lvls(r + 1))) {
        deeper = f.withColumn("delta", lit(0.0))
        acc += deeper
      } else {
        val contrib = f.join(und, f("node") === und("x"))
          .select(col("src"), col("node"), col("sigma"), col("y"))
          .join(deeper.select(col("src"), col("node").as("y"),
            col("sigma").as("wsig"), col("delta").as("wdelta")), Seq("src", "y"))
        val sd = contrib
          .withColumn("term", round(col("sigma").cast("double") / col("wsig") *
            (lit(1.0) + col("wdelta")), 12).cast("decimal(30,12)"))
          .groupBy(col("src"), col("node")).agg(sum(col("term")).as("sd"))
        deeper = Pins(f.join(sd, Seq("src", "node"), "left")
          .select(col("src"), col("node"), col("sigma"),
            round(coalesce(col("sd"), lit(java.math.BigDecimal.ZERO)).cast("double"), 9)
              .as("delta")))
        acc += deeper
      }
    }
    // materialize the O(ball-nodes) result eagerly, then free every
    // level/delta checkpoint — returning lazily would pin levels+1
    // O(Σ ball) frames until the caller's action and beyond
    val out = Pins(acc.map(_.select(col("node"), col("delta"))).reduce(_ unionByName _)
      .groupBy(col("node"))
      .agg(round(sum(col("delta").cast("decimal(28,9)")).cast("double"), 6).as("bc")))
    (lvls ++ acc).foreach(CheckpointBridge.freeCheckpoint)
    und.unpersist()
    out
  }

  val grBetweenness: Q = (s, d) => {
    val edges = lshPairGraph(s, d)
    val ce = cleanEdges(edges, "grBetweenness")
    val nodes = ce.select(col("a").as("x"))
      .union(ce.select(col("b").as("x"))).distinct()
    val srcs = nodes
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("x"))))
      .where(col("rk") <= 5).select(col("x").as("src"))
    brandes(edges, srcs)
      .select(col("node").as("doc_id"), col("bc"))
      .orderBy(col("doc_id"))
  }
  val grBetweennessSql: String = {
    val fwd = (1 to BcLevels).map { r =>
      s"""f$r AS MATERIALIZED (
         |  SELECT f.src, u.y AS node, CAST(sum(f.sigma) AS BIGINT) AS sigma
         |  FROM f${r - 1} f JOIN und u ON f.node = u.x
         |  ANTI JOIN v${r - 1} v ON v.src = f.src AND v.node = u.y
         |  GROUP BY f.src, u.y),
         |v$r AS (SELECT src, node FROM v${r - 1}
         |        UNION SELECT src, node FROM f$r)""".stripMargin
    }.mkString(",\n")
    val bwd = ((BcLevels - 1) to 1 by -1).map { r =>
      s"""b$r AS MATERIALIZED (
         |  SELECT f.src, f.node, f.sigma,
         |         round(CAST(coalesce(s.sd, 0) AS DOUBLE), 9) AS delta
         |  FROM f$r f LEFT JOIN (
         |    SELECT f2.src, f2.node,
         |           sum(CAST(round(CAST(f2.sigma AS DOUBLE) / b.sigma
         |                          * (1.0 + b.delta), 12) AS DECIMAL(30,12))) AS sd
         |    FROM f$r f2 JOIN und u ON f2.node = u.x
         |    JOIN b${r + 1} b ON b.src = f2.src AND b.node = u.y
         |    GROUP BY f2.src, f2.node) s
         |  ON s.src = f.src AND s.node = f.node)""".stripMargin
    }.mkString(",\n")
    val levelsUnion = ((BcLevels - 1) to 1 by -1)
      .map(r => s"SELECT node, delta FROM b$r")
      .mkString("\n  UNION ALL\n  ") + s"\n  UNION ALL\n  SELECT node, delta FROM b$BcLevels"
    s"""$ccReachCte,
       |srcs AS (
       |  SELECT x AS src FROM (
       |    SELECT x, row_number() OVER (ORDER BY x) AS rk
       |    FROM (SELECT DISTINCT x FROM und))
       |  WHERE rk <= 5),
       |f0 AS (SELECT src, src AS node, CAST(1 AS BIGINT) AS sigma FROM srcs),
       |v0 AS (SELECT src, node FROM f0),
       |$fwd,
       |b$BcLevels AS (SELECT src, node, sigma, CAST(0.0 AS DOUBLE) AS delta
       |               FROM f$BcLevels),
       |$bwd
       |SELECT node AS doc_id,
       |       round(CAST(sum(CAST(delta AS DECIMAL(28,9))) AS DOUBLE), 6) AS bc
       |FROM ($levelsUnion)
       |GROUP BY node ORDER BY doc_id""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "gr_betweenness" -> grBetweenness,
    "cc_clusters"    -> ccClusters,
    "cc_star"        -> ccStarClusters,
    "cc_incremental" -> ccIncremental,
    "dd_canonical"   -> ddCanonical,
    "gr_pagerank"    -> grPageRank,
    "gr_triangles"   -> grTriangles,
    "gr_labelprop"   -> grLabelProp,
    "gr_modularity"  -> grModularity,
    "cc_size_hist"   -> ccSizeHist,
    "gr_kcore"       -> grKCore,
    "gr_adamic"      -> grAdamic,
    "gr_degdist"     -> grDegDist,
    "gr_bfs"         -> grBfs,
    "gr_sssp"        -> grSssp,
    "gr_ppr"         -> grPpr,
    "gr_jaccard"     -> grJaccard,
    "gr_hits"        -> grHits,
    "gr_closeness"   -> grCloseness,
    "gr_assort"      -> grAssort)
  val oracles: Map[String, String] = Map(
    "cc_clusters"    -> ccClustersSql,
    "cc_star"        -> ccClustersSql,
    "cc_incremental" -> ccClustersSql,
    "dd_canonical"   -> ddCanonicalSql,
    "gr_pagerank"    -> grPageRankSql,
    "gr_triangles"   -> grTrianglesSql,
    "gr_labelprop"   -> grLabelPropSql,
    "gr_modularity"  -> grModularitySql,
    "cc_size_hist"   -> ccSizeHistSql,
    "gr_kcore"       -> grKCoreSql,
    "gr_adamic"      -> grAdamicSql,
    "gr_degdist"     -> grDegDistSql,
    "gr_bfs"         -> grBfsSql,
    "gr_sssp"        -> grSsspSql,
    "gr_betweenness" -> grBetweennessSql,
    "gr_ppr"         -> grPprSql,
    "gr_jaccard"     -> grJaccardSql,
    "gr_hits"        -> grHitsSql,
    "gr_closeness"   -> grClosenessSql,
    "gr_assort"      -> grAssortSql)
}
