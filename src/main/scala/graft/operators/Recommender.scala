package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{t => tbl}

/** Collaborative-filtering primitives over the order/lineitem basket data:
  * co-occurrence counts, item-item cosine similarity, and association
  * rules (support/confidence/lift). The classic "customers who bought X
  * also bought Y" layer — the same counting core that powers retrieval
  * re-ranking and dataset curation ("docs cited together train together").
  *
  * SCALE SHAPE: every gate starts from the distinct (basket, item) pair
  * list — one projection of lineitem. The pair generation is a self-join
  * KEYED ON THE BASKET (shuffle co-partitions both sides), so the
  * quadratic blowup is bounded per-basket (TPC-H baskets hold ≤7 lines;
  * real carts are similarly capped), never global. Item marginals are
  * O(|catalog|) joins left to AQE — never force-broadcast. All counts are
  * exact BIGINTs; cosine/confidence/lift are final-step double divisions
  * quantized to 6 dp.
  */
object Recommender {

  type Q = (SparkSession, String) => DataFrame

  /** Distinct (orderkey, partkey): the basket-item incidence list. */
  private def baskets(s: SparkSession, d: String): DataFrame =
    tbl(s, d, "lineitem")
      .select(col("l_orderkey").as("bid"), col("l_partkey").as("item"))
      .distinct()

  private val basketsSql =
    """baskets AS (
      |  SELECT DISTINCT l_orderkey AS bid, l_partkey AS item FROM lineitem)""".stripMargin

  /** Unordered item pairs co-present in a basket, with pair counts —
    * the co-occurrence table is THE shared artifact of this family
    * (three gates consume it; a production recommender materializes it
    * once per interaction-log snapshot and serves all similarity/rule
    * reads off it). Kept as a parquet artifact keyed
    * on the lineitem snapshot — NOT localCheckpoint blocks: the r15
    * sf10 probe showed the 45M-row pair table squatting in the block
    * manager (the trigram-index / geo-neighbor-graph lesson, r14), and
    * a parquet artifact is the real per-snapshot materialization the
    * docstring promises. The probe side repartitions by basket before
    * the self-join so the pair write parallelizes by data size, not by
    * the scan's input splits.
    */
  private def pairCounts(s: SparkSession, d: String): DataFrame = {
    val fp = graft.Artifacts.fingerprint(s"$d/lineitem.parquet")
    graft.Artifacts.table(s, "rc_pairs", s"$d|$fp") {
      val b = baskets(s, d)
      // sized from lineitem (the one table this family reads)
      val parts = math.max(32L, graft.Tables.cachedCount(s, d, "lineitem") / 200000L).toInt
      val l = b.repartition(parts, col("bid")).select(col("bid"), col("item").as("a"))
      val r = b.select(col("bid").as("bid2"), col("item").as("b"))
      l.join(r, col("bid") === col("bid2") && col("a") < col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    }
  }

  private val pairCountsSql =
    s"""$basketsSql,
       |pairs AS (
       |  SELECT l.item AS a, r.item AS b, count(*) AS n_ab
       |  FROM baskets l JOIN baskets r ON l.bid = r.bid AND l.item < r.item
       |  GROUP BY 1, 2)""".stripMargin

  /** The item marginal (basket-incidence count per item) — the OTHER
    * shared artifact of this family (r18): rc_itemsim joined it twice,
    * rc_assoc twice more, and rc_gini re-derived it as `counts`, each
    * reference re-running the full lineitem scan + distinct + aggregate
    * (plans/r18/rc_itemsim_before.txt: 6 scans for a 3-table query). A
    * production recommender materializes marginals WITH the pair table
    * per interaction-log snapshot; serving them as a parquet artifact
    * too makes every reference a catalog-sized parquet read.
    */
  private def itemMarginal(s: SparkSession, d: String): DataFrame = {
    val fp = graft.Artifacts.fingerprint(s"$d/lineitem.parquet")
    graft.Artifacts.table(s, "rc_marg", s"$d|$fp") {
      baskets(s, d).groupBy(col("item")).agg(count(lit(1)).as("m"))
    }
  }

  // ---------------------------------------------------------- co-occurrence

  /** rc_cooccur — item pairs bought together in ≥2 baskets, strongest
    * first: the raw "frequently bought together" table. The ≥2 floor is
    * the support threshold every co-occurrence system applies — singleton
    * pairs are noise and make the output quadratic.
    */
  val rcCooccur: Q = (s, d) =>
    pairCounts(s, d)
      .where(col("n_ab") >= 2)
      .orderBy(col("n_ab").desc, col("a"), col("b"))
  val rcCooccurSql: String =
    s"""WITH $pairCountsSql
       |SELECT a, b, n_ab FROM pairs WHERE n_ab >= 2
       |ORDER BY n_ab DESC, a, b""".stripMargin

  // ------------------------------------------------------- item-item cosine

  /** rc_itemsim — item-item cosine over binary basket-incidence vectors:
    * sim(a,b) = n_ab / √(n_a·n_b), for pairs sharing ≥2 baskets. The
    * adjusted form of co-occurrence that stops popular items from
    * dominating every neighbor list; what an item-to-item recommender
    * serves. The item marginal is O(|catalog|) — it is NOT force-
    * broadcast (2M rows at sf10; AQE broadcasts it while it fits and
    * shuffle-joins when the catalog outgrows the threshold).
    */
  val rcItemsim: Q = (s, d) => {
    val marg = itemMarginal(s, d)
    pairCounts(s, d)
      .where(col("n_ab") >= 2)
      .join(marg.select(col("item").as("a"), col("m").as("n_a")), Seq("a"))
      .join(marg.select(col("item").as("b"), col("m").as("n_b")), Seq("b"))
      .select(col("a"), col("b"), col("n_ab"), col("n_a"), col("n_b"),
        round(col("n_ab") / sqrt((col("n_a") * col("n_b")).cast("double")), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("a"), col("b"))
  }
  val rcItemsimSql: String =
    s"""WITH $pairCountsSql,
       |marg AS (SELECT item, count(*) AS m FROM baskets GROUP BY 1)
       |SELECT p.a, p.b, p.n_ab, ma.m AS n_a, mb.m AS n_b,
       |       round(p.n_ab / sqrt(CAST(ma.m * mb.m AS DOUBLE)), 6) AS cosine
       |FROM pairs p JOIN marg ma ON ma.item = p.a JOIN marg mb ON mb.item = p.b
       |WHERE p.n_ab >= 2
       |ORDER BY cosine DESC, a, b""".stripMargin

  // ------------------------------------------------------- association rules

  /** rc_assoc — directed association rules a→b for pairs with support ≥2:
    * confidence = P(b|a) and lift = P(b|a)/P(b), the Apriori read that
    * separates "popular with everything" from genuinely predictive
    * pairings (lift > 1). Both directions of each unordered pair are
    * emitted — confidence is asymmetric. Basket total rides a 1-row
    * broadcast; the O(|catalog|) marginal join is AQE's call (see
    * rc_itemsim).
    */
  val rcAssoc: Q = (s, d) => {
    val marg = itemMarginal(s, d)
    val nb = baskets(s, d).agg(countDistinct(col("bid")).as("n_baskets"))
    val p = pairCounts(s, d).where(col("n_ab") >= 2)
    val both = p.select(col("a").as("ante"), col("b").as("cons"), col("n_ab"))
      .unionByName(p.select(col("b").as("ante"), col("a").as("cons"), col("n_ab")))
    both
      .join(marg.select(col("item").as("ante"), col("m").as("n_ante")), Seq("ante"))
      .join(marg.select(col("item").as("cons"), col("m").as("n_cons")), Seq("cons"))
      .crossJoin(broadcast(nb))
      .select(col("ante"), col("cons"), col("n_ab"),
        round(col("n_ab").cast("double") / col("n_ante"), 6).as("confidence"),
        round(col("n_ab").cast("double") / col("n_ante") /
          (col("n_cons").cast("double") / col("n_baskets")), 6).as("lift"))
      .orderBy(col("lift").desc, col("ante"), col("cons"))
  }
  val rcAssocSql: String =
    s"""WITH $pairCountsSql,
       |marg AS (SELECT item, count(*) AS m FROM baskets GROUP BY 1),
       |nb AS (SELECT count(DISTINCT bid) AS n_baskets FROM baskets),
       |both_dir AS (
       |  SELECT a AS ante, b AS cons, n_ab FROM pairs WHERE n_ab >= 2
       |  UNION ALL
       |  SELECT b AS ante, a AS cons, n_ab FROM pairs WHERE n_ab >= 2)
       |SELECT d.ante, d.cons, d.n_ab,
       |       round(CAST(d.n_ab AS DOUBLE) / ma.m, 6) AS confidence,
       |       round(CAST(d.n_ab AS DOUBLE) / ma.m
       |             / (CAST(mc.m AS DOUBLE) / nb.n_baskets), 6) AS lift
       |FROM both_dir d
       |JOIN marg ma ON ma.item = d.ante
       |JOIN marg mc ON mc.item = d.cons, nb
       |ORDER BY lift DESC, ante, cons""".stripMargin

  // ------------------------------------------------ catalog concentration

  /** rc_gini — catalog-concentration diagnostics: the Gini coefficient of
    * item popularity plus coverage stats. A recommender trained on a
    * high-Gini interaction log learns the head and starves the tail — so
    * this number is the first thing to read before trusting offline
    * metrics, and the standard argument for popularity debiasing.
    * Gini = (2·Σᵢ i·cᵢ)/(n·Σc) − (n+1)/n over items sorted ascending by
    * count (i = 1-based rank) — every term an exact BIGINT off one
    * count aggregation + one vocabulary-bounded rank window; the final
    * formula is one IEEE sequence, 6 dp. Rank ties break on item id,
    * which leaves Gini unchanged (equal counts commute in Σi·cᵢ only up
    * to tie order — their CONTRIBUTION sum is invariant because the i
    * values exchanged weight equal counts).
    */
  val rcGini: Q = (s, d) => {
    val counts = itemMarginal(s, d).select(col("item"), col("m").as("c"))
    // Two-level rank decomposition (r15): the naive form ranks every item
    // through ONE unpartitioned row_number window — an O(|catalog|)
    // single-partition sort (2M rows at sf10, unbounded at 100 TB). Ties
    // on c commute in Σi·cᵢ (the invariance argued above), so a run of m
    // equal-count items starting at rank `start` contributes exactly
    // c · (m·(2·start + m − 1) div 2) regardless of intra-run order — and
    // the only window left runs over DISTINCT count values (≤ max item
    // multiplicity, dozens of rows at any catalog size). The div is exact:
    // m·(2·start+m−1) multiplies consecutive-parity factors, always even.
    val byC = counts.groupBy(col("c")).agg(count(lit(1)).as("m"))
    val wC = org.apache.spark.sql.expressions.Window
      .orderBy(col("c")).rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val runs = byC.withColumn("start", coalesce(sum(col("m")).over(wC), lit(0L)) + lit(1L))
    runs.agg(sum(col("m")).as("n_items"), sum(col("c") * col("m")).as("total"),
        sum(col("c") * expr("m * (2 * start + m - 1) div 2")).as("swc"),
        max(col("c")).as("max_c"))
      .select(col("n_items"), col("total"), col("max_c"),
        round(lit(2.0) * col("swc").cast("double") /
          (col("n_items") * col("total")).cast("double") -
          (col("n_items") + 1L).cast("double") / col("n_items"), 6).as("gini"))
  }
  val rcGiniSql: String =
    s"""WITH $basketsSql,
       |counts AS (SELECT item, count(*) AS c FROM baskets GROUP BY item),
       |ranked AS (
       |  SELECT c, row_number() OVER (ORDER BY c, item) AS i FROM counts),
       |agg AS (
       |  SELECT count(*) AS n_items, CAST(sum(c) AS BIGINT) AS total,
       |         CAST(sum(i * c) AS BIGINT) AS swc, CAST(max(c) AS BIGINT) AS max_c
       |  FROM ranked)
       |SELECT n_items, total, max_c,
       |       round(2.0 * CAST(swc AS DOUBLE) / CAST(n_items * total AS DOUBLE)
       |             - CAST(n_items + 1 AS DOUBLE) / n_items, 6) AS gini
       |FROM agg""".stripMargin

  val queries: Map[String, Q] = Map(
    "rc_gini"    -> rcGini,
    "rc_cooccur" -> rcCooccur,
    "rc_itemsim" -> rcItemsim,
    "rc_assoc"   -> rcAssoc,
  )

  val oracles: Map[String, String] = Map(
    "rc_gini"    -> rcGiniSql,
    "rc_cooccur" -> rcCooccurSql,
    "rc_itemsim" -> rcItemsimSql,
    "rc_assoc"   -> rcAssocSql,
  )
}
