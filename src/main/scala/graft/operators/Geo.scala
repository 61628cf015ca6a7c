package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables.{t => tbl}

/** Geospatial primitives: deterministic synthetic coordinates, grid-cell
  * aggregation, and a pruned haversine radius join. The "where are my
  * users / what's within X km of each depot" layer; also the standard
  * blocking pattern for any metric-space join (coordinates today,
  * embedding buckets in ann_lsh_buckets — same shape).
  *
  * The tables carry no coordinates, so each entity gets a REPRODUCIBLE
  * position from the md5-hex decode idiom (sp_weighted's integer-exact
  * uniform): lat = u·180−90, lon = u'·360−180 from the first six hex
  * digits of a keyed hash — bit-identical in both engines, so geometry
  * derived from it is too.
  */
object Geo {

  type Q = (SparkSession, String) => DataFrame

  /** Integer-exact uniform in (0,1) decoded from the 6 leading hex digits
    * of the `__geoh` column (callers project the keyed md5 there first).
    */
  private def hashU: Column =
    // r18: ONE conv(hex, 16, 10) instead of six substr+instr terms — the
    // same integer (Σ digit·16^(6−i), exact in a long), so the derived
    // doubles are bit-identical and every oracle still hash-matches
    // (DuckDB keeps the manual decode in coordsSql). The rewrite matters
    // because CollapseProject inlines derived columns (band, lcell) back
    // into this expression: each inline duplicated a 6-term md5+substr
    // subtree, and the radius family's probe-side map stage burned ~85 s
    // of CPU at sf10 re-deriving coordinates tens of times per row
    // (thread-dump evidence, PERF.md Round 18). One cheap term makes the
    // duplication harmless.
    (conv(substring(col("__geoh"), 1, 6), 16, 10).cast("long") + lit(0.5)) /
      lit(16777216.0)

  /** (key, lat, lon) for a table's integer key column. */
  def coords(df: DataFrame, keyCol: String): DataFrame =
    df.withColumn("__geoh", md5(concat(lit("lat:"), col(keyCol).cast("string"))))
      .withColumn("lat", hashU * 180.0 - 90.0)
      .withColumn("__geoh", md5(concat(lit("lon:"), col(keyCol).cast("string"))))
      .withColumn("lon", hashU * 360.0 - 180.0)
      .drop("__geoh")

  private def coordsSql(table: String, keyCol: String, extra: String = ""): String = {
    def u(pfx: String) = {
      val terms = (1 to 6).map(i =>
        s"(instr('0123456789abcdef', substr(md5('$pfx:' || CAST($keyCol AS VARCHAR)), $i, 1)) - 1) * ${math.pow(16, 6 - i).toLong}")
        .mkString(" + ")
      s"(($terms) + 0.5) / 16777216.0"
    }
    s"""SELECT $keyCol$extra,
       |       ${u("lat")} * 180.0 - 90.0 AS lat,
       |       ${u("lon")} * 360.0 - 180.0 AS lon
       |FROM $table""".stripMargin
  }

  /** Haversine great-circle distance in km (R = 6371.0088). */
  def haversine(lat1: Column, lon1: Column, lat2: Column, lon2: Column): Column = {
    val dphi = radians(lat2 - lat1) / 2.0
    val dlmb = radians(lon2 - lon1) / 2.0
    lit(2.0 * 6371.0088) * asin(sqrt(
      sin(dphi) * sin(dphi) +
        cos(radians(lat1)) * cos(radians(lat2)) * sin(dlmb) * sin(dlmb)))
  }

  private def haversineSql(lat1: String, lon1: String, lat2: String, lon2: String): String =
    s"""2.0 * 6371.0088 * asin(sqrt(
       |         sin(radians($lat2 - $lat1)/2.0) * sin(radians($lat2 - $lat1)/2.0)
       |         + cos(radians($lat1)) * cos(radians($lat2))
       |           * sin(radians($lon2 - $lon1)/2.0) * sin(radians($lon2 - $lon1)/2.0)))""".stripMargin

  // ------------------------------------------------------------- cell stats

  /** geo_cell_stats — customer density + mean balance per 10°×10° grid
    * cell: the heat-map aggregation behind any "where is demand" view.
    * One map-side-combined aggregation over the dimension; cells are
    * exact floor() arithmetic on the hash-derived doubles, balances sum
    * as quantized decimals (dq_corr discipline).
    */
  val geoCellStats: Q = (s, d) => {
    coords(tbl(s, d, "customer"), "c_custkey")
      .select(floor(col("lat") / 10.0).cast("long").as("cell_lat"),
        floor(col("lon") / 10.0).cast("long").as("cell_lon"),
        col("c_acctbal"))
      .groupBy(col("cell_lat"), col("cell_lon"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("c_acctbal").cast("decimal(17,4)")).cast("double") /
          count(lit(1)), 6).as("avg_bal"))
      .orderBy(col("cell_lat"), col("cell_lon"))
  }
  val geoCellStatsSql: String =
    s"""WITH c AS (${coordsSql("customer", "c_custkey", ", c_acctbal")})
       |SELECT CAST(floor(lat / 10.0) AS BIGINT) AS cell_lat,
       |       CAST(floor(lon / 10.0) AS BIGINT) AS cell_lon,
       |       count(*) AS n,
       |       round(CAST(sum(CAST(c_acctbal AS DECIMAL(19,4))) AS DOUBLE) / count(*), 6)
       |         AS avg_bal
       |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ------------------------------------------------------------ radius join

  /** geo_radius_join — (customer, supplier) pairs within 200 km, by
    * banded pruning + exact haversine. The pruning is a LATITUDE-band
    * equi-join: suppliers replicate into their 2° lat band ±1, customers
    * probe their band. Sound at every latitude — if the latitudinal
    * separation alone exceeds ~222 km (2°·111.19 km), the great-circle
    * distance does too, so no qualifying pair escapes the ±1 window;
    * longitude pruning is deliberately NOT applied because lon degrees
    * shrink toward the poles (a fixed lon window would miss pairs — the
    * bug most naive geo-grid joins ship with). The oracle is the
    * UNPRUNED cross join: matching it proves the pruning exact.
    *
    * Scale: the band join hits ~3/90 of the cross product, and (r18)
    * LON SUB-CELLS within each band — width derived soundly per band in
    * [[lonCellCount]], i.e. ≥ the lon window that 200 km can span at the
    * band's worst latitude — cut the surviving candidate expansion a
    * further ~n_cells/3 (≈30–60× at temperate bands). The supplier side
    * (dim-sized, ×3 band × ≤3 cell replication) broadcasts. For big-big
    * joins both sides bucket by (band, lcell) and the same plan
    * co-partitions.
    */
  /** The two expansion-side fixes shared by [[geoRadiusJoin]] and
    * [[geoRadiusKnn]] (r17, found by thread-dumping the 811-s sf10
    * pass):
    *
    * 1. REPARTITION THE PROBE before the broadcast join. A dim-sized
    *    probe table is a handful of parquet splits (sf10 customer ≈ one
    *    128 MB-rule split), and a broadcast join inherits the stream
    *    side's partitioning — so the ~312M-row candidate expansion ran
    *    on FOUR threads of thirty-two. One round-robin shuffle of the
    *    (tiny) probe table unlocks full parallelism on the expansion,
    *    which is where all the work is. At 100 TB the probe side has
    *    thousands of natural splits and this shuffle is a no-op to
    *    drop; at dim scale it costs nothing and buys 8×.
    *    r18 placement fix: the shuffle sits on the BARE KEY column,
    *    BELOW the coordinate derivation — r17 put it above, so the md5
    *    decode (multiplied by CollapseProject, see [[hashU]]) and the
    *    round-robin determinism sort still ran on the scan's 4 splits,
    *    which the sf10 thread dumps showed as an ~85 s single-task
    *    map stage while every executor thread idled.
    *
    * 2. PRE-FILTER ON THE RAW DOUBLE, round survivors only. Spark's
    *    `round(x, 4)` on a double goes through
    *    BigDecimal.valueOf(Double.toString(x)) — ~1 µs and two
    *    allocations PER ROW, which dominated the hot loop when applied
    *    to every candidate. The raw-haversine pre-filter at 200.001 km
    *    is a sound superset (any pair whose ROUNDED distance ≤ 200.0
    *    has raw distance < 200.00005), so the exact rounded predicate
    *    — unchanged, oracle-identical — now runs on the ~0.5 % of
    *    candidates that survive.
    */
  /** Longitudinal sub-cell count for a lat-band join key (r17 verdict
    * item 2 — the refinement the band-only scaladoc above sketches).
    *
    * For pairs joined at band key b, both latitudes lie in
    * [2b−2, 2b+4) (customer owns [2b, 2b+2); the supplier replicated ±1
    * band contributes the rest), so cos φ ≥ cos φm with
    * φm = max(|2b−2|, |2b+4|). Haversine gives
    * dist ≥ 2R·asin(cos φm · |sin Δλ/2|), so any pair within the radius
    * r has Δλ ≤ W(b) = 2·asin(sin(r/2R)/cos φm) — the SOUND lon window
    * for that band, wide near the poles (shrinking lon degrees, the
    * exact trap the band-only scaladoc warns about) and ~1.8° at the
    * equator. Cell count n = floor(360/W) makes every cell at least W
    * wide, so a qualifying pair's cells differ by ≤1 mod n and the
    * replicate-build-into-±1-cell join is an exact cover (the 1-D
    * dbPairs argument on a circle). When cos φm ≤ sin(r/2R) — or is
    * negative, the |φ| > 90° edge bands — no lon window is sound and
    * n = 1 disables pruning for that band only.
    *
    * r/2 = 100.0005 km: covers the 200.001 km raw pre-filter below, so
    * the pruned candidate set is a superset of everything the exact
    * rounded predicate can keep.
    */
  private def lonCellCount(band: Column): Column = {
    val phiM = greatest(abs(band * 2 - 2), abs(band * 2 + 4)).cast("double")
    val cosPhi = cos(radians(phiM))
    val sinHalf = math.sin(100.0005 / 6371.0088)
    when(cosPhi <= sinHalf, lit(1L))
      .otherwise(greatest(lit(1L),
        floor(lit(360.0) / degrees(lit(2.0) * asin(lit(sinHalf) / cosPhi))).cast("long")))
  }

  /** A/B control (r17 verdict item 2): `-Dgraft.geo.lonCells=false`
    * reverts to the pure lat-band expansion so the sub-cell win stays
    * measurable against its baseline. Default on — the oracle is the
    * unpruned cross join, so exactness is proven by the gate either way.
    */
  private def lonCellsEnabled: Boolean =
    sys.props.getOrElse("graft.geo.lonCells", "true").toBoolean

  private def radiusCandidates(s: SparkSession, d: String): DataFrame = {
    val parts = s.conf.get("spark.sql.shuffle.partitions").toInt
    // r18: repartition the BARE key column, then derive coordinates — the
    // r17 probe repartition sat ABOVE the coordinate derivation, so the
    // md5 decode (multiplied by CollapseProject inlining band/lcell, see
    // hashU) plus the round-robin determinism sort all ran on the
    // customer scan's ~4 parquet splits; the shuffle moved 8-byte keys'
    // worth of derived rows but none of the derivation work. Deriving
    // AFTER the exchange spreads it across every thread, and the shuffle
    // itself shrinks to the key column.
    val cust0 = coords(
      tbl(s, d, "customer").select(col("c_custkey")).repartition(parts),
      "c_custkey")
      .select(col("c_custkey"), col("lat").as("clat"), col("lon").as("clon"))
      .withColumn("band", floor(col("clat") / 2.0).cast("long"))
    val supp0 = coords(tbl(s, d, "supplier"), "s_suppkey")
      .select(col("s_suppkey"), col("lat").as("slat"), col("lon").as("slon"))
      .withColumn("b0", floor(col("slat") / 2.0).cast("long"))
      .withColumn("band", explode(array(col("b0") - 1, col("b0"), col("b0") + 1)))
      .drop("b0")
    val joined = if (lonCellsEnabled) {
      // Probe: its own (band, cell). Build: replicated into the cell and
      // both circular neighbors — array_distinct collapses the n ≤ 3
      // bands where ±1 wraps onto itself, so no candidate pair is ever
      // emitted twice (a duplicate would double rows in the output).
      val cust = cust0
        .withColumn("__n", lonCellCount(col("band")))
        .withColumn("lcell",
          pmod(floor((col("clon") + 180.0) * col("__n") / 360.0).cast("long"), col("__n")))
        .drop("__n")
      val supp = supp0
        .withColumn("__n", lonCellCount(col("band")))
        .withColumn("__c0",
          floor((col("slon") + 180.0) * col("__n") / 360.0).cast("long"))
        .withColumn("lcell", explode(array_distinct(array(
          pmod(col("__c0") - 1, col("__n")), pmod(col("__c0"), col("__n")),
          pmod(col("__c0") + 1, col("__n"))))))
        .drop("__c0", "__n")
      cust.join(broadcast(supp), Seq("band", "lcell"))
    } else {
      cust0.join(broadcast(supp0), Seq("band"))
    }
    joined
      .withColumn("hav", haversine(col("clat"), col("clon"), col("slat"), col("slon")))
      .where(col("hav") <= 200.001)
      .withColumn("dist_km", round(col("hav"), 4))
      .where(col("dist_km") <= 200.0)
  }

  val geoRadiusJoin: Q = (s, d) =>
    radiusCandidates(s, d)
      .select(col("c_custkey"), col("s_suppkey"), col("dist_km"))
      .orderBy(col("c_custkey"), col("s_suppkey"))
  val geoRadiusJoinSql: String =
    s"""WITH c AS (${coordsSql("customer", "c_custkey")}),
       |s AS (${coordsSql("supplier", "s_suppkey")}),
       |d AS (
       |  SELECT c.c_custkey, s.s_suppkey,
       |       round(${haversineSql("c.lat", "c.lon", "s.lat", "s.lon")}, 4) AS dist_km
       |  FROM c, s)
       |SELECT c_custkey, s_suppkey, dist_km FROM d
       |WHERE dist_km <= 200.0 ORDER BY c_custkey, s_suppkey""".stripMargin

  /** Per-probe cap for [[geoRadiusKnn]]. Part of the operator's contract
    * (the oracle applies the same k), not a tuning knob.
    */
  val GeoRadiusK = 8

  /** geo_radius_knn — the k-BOUNDED radius join: the 100 TB-safe API for
    * "what's within 200 km of each probe". [[geoRadiusJoin]] is
    * OUTPUT-quadratic at fixed radius (the answer set grows ~n² with
    * density — PERF.md's 11×/decade sf1 row, inherent, documented since
    * r10); real consumers ("nearest depots within range") want at most k
    * matches per probe, which bounds the output at k·|probes| at every
    * density. Same sound lat-band pruning as the radius join, same exact
    * haversine predicate, then each probe keeps its k=8 nearest
    * qualifying suppliers ranked by (distance, key).
    *
    * The cap is applied by [[graft.functions.topk.min_k_pairs]] — a
    * TypedImperativeAggregate, NOT a row_number window: a window must
    * shuffle the ENTIRE (quadratically growing) qualifying pair set to
    * rank it, so capping after a window bounds only the output, not the
    * exchange. The aggregate gets map-side partial reduction — each scan
    * partition reduces its slice of a probe's candidates to ≤k pairs
    * before the exchange — so shuffled bytes stay O(k·probes·partitions)
    * regardless of density. That is the difference the sf1/sf10 PERF
    * rows measure.
    *
    * The oracle is the UNPRUNED cross join + row_number capped at k:
    * matching it proves both the band pruning and the bounded top-k
    * machinery exact (ties broken (dist_km, s_suppkey) in both).
    */
  val geoRadiusKnn: Q = (s, d) => {
    radiusCandidates(s, d)
      .groupBy(col("c_custkey"))
      .agg(graft.functions.topk.min_k_pairs(
        col("dist_km"), col("s_suppkey"), GeoRadiusK).as("nn"))
      .select(col("c_custkey"), posexplode(col("nn")))
      .select(col("c_custkey"), (col("pos") + 1).cast("long").as("rk"),
        col("col.id").as("s_suppkey"), col("col.d").as("dist_km"))
      .orderBy(col("c_custkey"), col("rk"))
  }
  val geoRadiusKnnSql: String =
    s"""WITH c AS (${coordsSql("customer", "c_custkey")}),
       |s AS (${coordsSql("supplier", "s_suppkey")}),
       |d AS (
       |  SELECT c.c_custkey, s.s_suppkey,
       |       round(${haversineSql("c.lat", "c.lon", "s.lat", "s.lon")}, 4) AS dist_km
       |  FROM c, s),
       |r AS (
       |  SELECT c_custkey, s_suppkey, dist_km,
       |         row_number() OVER (PARTITION BY c_custkey
       |                            ORDER BY dist_km, s_suppkey) AS rk
       |  FROM d WHERE dist_km <= 200.0)
       |SELECT c_custkey, CAST(rk AS BIGINT) AS rk, s_suppkey, dist_km
       |FROM r WHERE rk <= $GeoRadiusK ORDER BY c_custkey, rk""".stripMargin

  // --------------------------------------------------------------- kNN join

  /** geo_knn — 3 nearest suppliers per customer probe, banded candidate
    * generation + exact haversine rerank: the spatial top-k behind
    * nearest-depot / nearest-store assignment. Candidates come from the
    * radius join's lat-band equi-join widened to ±2 bands (~±4.4°
    * latitude); within the window each probe ranks its candidates by
    * (distance, key) and keeps k=3.
    *
    * CONTRACT (the dd_editdist blocking precedent, disclosed not
    * hidden): the band window is the recall/cost dial — a probe whose
    * true 3rd-nearest lies beyond the latitudinal window keeps only its
    * in-window neighbors, and the oracle applies the SAME window, so the
    * gate proves the join/rank machinery. The production-complete
    * variant iteratively widens the window for probes still short of k
    * (the IVF multi-probe idea on bands); the per-round plan is
    * identical to this one — SHIPPED as [[geoKnnExact]]
    * (`geo_knn_exact`, r18), oracle-gated against the window-free
    * cross join.
    *
    * Scale: probes hash-join the (dim-sized, ×5-replicated, broadcast)
    * supplier bands; ranking is a per-probe window over O(candidates).
    */
  val geoKnn: Q = (s, d) => {
    val cust = coords(tbl(s, d, "customer"), "c_custkey")
      .where(col("c_custkey") <= 300)
      .select(col("c_custkey"), col("lat").as("clat"), col("lon").as("clon"))
      .withColumn("band", floor(col("clat") / 2.0).cast("long"))
    val supp = coords(tbl(s, d, "supplier"), "s_suppkey")
      .select(col("s_suppkey"), col("lat").as("slat"), col("lon").as("slon"))
      .withColumn("b0", floor(col("slat") / 2.0).cast("long"))
      .withColumn("band", explode(expr(
        "transform(sequence(-2, 2), i -> b0 + CAST(i AS BIGINT))")))
      .drop("b0")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_custkey")).orderBy(col("dist_km"), col("s_suppkey"))
    cust.join(broadcast(supp), Seq("band"))
      .withColumn("dist_km",
        round(haversine(col("clat"), col("clon"), col("slat"), col("slon")), 4))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("c_custkey"), col("rk").cast("long").as("rk"),
        col("s_suppkey"), col("dist_km"))
      .orderBy(col("c_custkey"), col("rk"))
  }
  val geoKnnSql: String =
    s"""WITH c AS (${coordsSql("customer", "c_custkey")}),
       |s AS (${coordsSql("supplier", "s_suppkey")}),
       |cb AS (SELECT c_custkey, lat AS clat, lon AS clon,
       |              CAST(floor(lat / 2.0) AS BIGINT) AS band
       |       FROM c WHERE c_custkey <= 300),
       |sb AS (SELECT s_suppkey, slat, slon, b0 + off AS band FROM (
       |         SELECT s_suppkey, lat AS slat, lon AS slon,
       |                CAST(floor(lat / 2.0) AS BIGINT) AS b0
       |         FROM s), (SELECT unnest(range(-2, 3)) AS off)),
       |cand AS (
       |  SELECT cb.c_custkey, sb.s_suppkey,
       |         round(${haversineSql("cb.clat", "cb.clon", "sb.slat", "sb.slon")}, 4)
       |           AS dist_km
       |  FROM cb JOIN sb USING (band))
       |SELECT c_custkey, CAST(rk AS BIGINT) AS rk, s_suppkey, dist_km FROM (
       |  SELECT c_custkey, s_suppkey, dist_km,
       |         row_number() OVER (PARTITION BY c_custkey
       |                            ORDER BY dist_km, s_suppkey) AS rk
       |  FROM cand)
       |WHERE rk <= 3 ORDER BY c_custkey, rk""".stripMargin

  /** geo_knn_exact — the production-complete variant [[geoKnn]]'s
    * contract note promises (r17 verdict item 5): ITERATIVE BAND
    * WIDENING until every probe's k-th neighbor is provably its GLOBAL
    * k-th — the IVF multi-probe idea on lat bands, upgrading the family
    * from disclosed-recall to exact while keeping each round's plan
    * identical to geo_knn's (probe-side band explode, equi-join,
    * per-probe window rank).
    *
    * The completeness proof per round: a window of ±w bands around a
    * probe in band b excludes only suppliers with |Δlat| > 2w degrees,
    * whose great-circle distance exceeds D(w) = 2w · (πR/180) km. So a
    * probe whose in-window k-th distance is ≤ D(w) − margin cannot have
    * its top-k displaced by anything outside the window — it is DONE,
    * and its ranked rows are final. Probes still short (k-th beyond the
    * guarantee, or fewer than k in-window neighbors) re-run at a wider
    * w; the final w = 90 spans every band (suppliers live in
    * [−45, 44]), where exactness holds by construction. The margin
    * (1 m) dominates both the 4-dp rounding of dist_km and double
    * rounding error, so ties across the window edge are impossible.
    *
    * Scale: the expensive side (supplier scan + candidate expansion)
    * runs on the FULL probe set only at w = 2 — geo_knn's plan; wider
    * rounds see only the still-short probes (empirically a few percent:
    * probes in supplier-sparse bands), and it is the PROBE side that
    * replicates 2w+1×, so the supplier table is never exploded. Each
    * round's survivors are pinned with an eager localCheckpoint so the
    * ≤4-round loop never re-runs an earlier round's join. The oracle is
    * the window-FREE cross join: matching it proves the widening
    * terminates with the true global top-k.
    */
  val geoKnnExact: Q = (s, d) => {
    val k = 3
    val suppSrc = coords(tbl(s, d, "supplier"), "s_suppkey")
      .select(col("s_suppkey"), col("lat").as("slat"), col("lon").as("slon"))
      .withColumn("band", floor(col("slat") / 2.0).cast("long"))
    var undone = coords(tbl(s, d, "customer"), "c_custkey")
      .where(col("c_custkey") <= 300)
      .select(col("c_custkey"), col("lat").as("clat"), col("lon").as("clon"))
      .withColumn("pband", floor(col("clat") / 2.0).cast("long"))
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("c_custkey")).orderBy(col("dist_km"), col("s_suppkey"))
    var acc: Option[DataFrame] = None
    var remaining = 1L
    val widths = Iterator(2, 8, 32, 90)
    while (remaining > 0L && widths.hasNext) {
      val w = widths.next()
      val probes = undone.withColumn("band", explode(expr(
        s"transform(sequence(${-w}, $w), i -> pband + CAST(i AS BIGINT))")))
      // r18: checkpoint the RANKED candidates (post rk ≤ k filter, so
      // O(k·|undone|) rows), not the round's outputs. Before, `ranked`
      // hung unmaterialized off three consumers — the done-probe
      // aggregate, the semi-joined output checkpoint, and the next
      // round's anti join — so the round's expensive join + window ran
      // up to 3× per round (guide §2.4: the same subtree re-executed is
      // a removable pass). Now the join runs ONCE per round; doneKeys,
      // the output slice, and the survivor anti join all read the tiny
      // checkpointed top-k block, and the output slice no longer needs
      // its own eager checkpoint at all.
      val ranked = broadcast(probes).join(suppSrc, Seq("band"))
        .withColumn("dist_km",
          round(haversine(col("clat"), col("clon"), col("slat"), col("slon")), 4))
        .withColumn("rk", row_number().over(win))
        .where(col("rk") <= k)
        .select(col("c_custkey"), col("rk").cast("long").as("rk"),
          col("s_suppkey"), col("dist_km"))
        .localCheckpoint(true)
      val guaranteed = 2.0 * w * (math.Pi * 6371.0088 / 180.0) - 0.001
      val doneKeys =
        if (w >= 90) undone.select(col("c_custkey"))
        else ranked.groupBy(col("c_custkey"))
          .agg(count(lit(1)).as("cnt"), max(col("dist_km")).as("kth"))
          .where(col("cnt") === k && col("kth") <= guaranteed)
          .select(col("c_custkey"))
      val out = ranked.join(doneKeys, Seq("c_custkey"), "left_semi")
      acc = Some(acc.map(_.unionByName(out)).getOrElse(out))
      if (w >= 90) remaining = 0L
      else {
        undone = undone.join(doneKeys, Seq("c_custkey"), "left_anti")
          .localCheckpoint(true)
        remaining = undone.count()
      }
    }
    acc.get.orderBy(col("c_custkey"), col("rk"))
  }
  val geoKnnExactSql: String =
    s"""WITH c AS (${coordsSql("customer", "c_custkey")}),
       |s AS (${coordsSql("supplier", "s_suppkey")}),
       |cb AS (SELECT c_custkey, lat AS clat, lon AS clon
       |       FROM c WHERE c_custkey <= 300),
       |cand AS (
       |  SELECT cb.c_custkey, s.s_suppkey,
       |         round(${haversineSql("cb.clat", "cb.clon", "s.lat", "s.lon")}, 4)
       |           AS dist_km
       |  FROM cb, s)
       |SELECT c_custkey, CAST(rk AS BIGINT) AS rk, s_suppkey, dist_km FROM (
       |  SELECT c_custkey, s_suppkey, dist_km,
       |         row_number() OVER (PARTITION BY c_custkey
       |                            ORDER BY dist_km, s_suppkey) AS rk
       |  FROM cand)
       |WHERE rk <= 3 ORDER BY c_custkey, rk""".stripMargin

  // ----------------------------------------------------------------- DBSCAN

  /** DBSCAN parameters for the customer point set: eps is the
    * neighborhood radius in PLANAR units over the hash-derived
    * (lon, lat) plane — DBSCAN is metric-agnostic and the gate's point
    * is the grid-pruned neighbor machinery, so the plane's Euclidean
    * metric (exact in both engines: only *,−,+ on identical doubles)
    * replaces the sphere's haversine; minPts counts the point itself
    * (Ester et al. 1996's |N_eps(p)| ≥ minPts convention).
    */
  val DbEps = 8.0
  val DbMinPts = 5

  /** eps for a given point count: DbEps at every oracle scale (the
    * floor binds for n ≤ 15000 — the driver's sf0.1 customer count, so
    * gate outputs are bit-identical to the static SQL mirrors), shrunk
    * as 1/√n beyond it to hold EXPECTED NEIGHBORHOOD SIZE constant.
    * eps is a density parameter, not a constant of the algorithm: the
    * sf10 probe showed a fixed eps on GenScale's 25×-denser plane makes
    * the instance degenerate — every point core, one percolated blob,
    * ~10⁹ neighbor pairs from 375k points (the artifact write alone was
    * 15 GB before the context died) — which measures the DATA's
    * semantics, not the engine. Real DBSCAN practice tunes eps per
    * dataset (the k-dist heuristic); this is that tuning, made
    * deterministic. With it, the neighbor graph stays O(n·E[neighbors])
    * at every scale.
    */
  private def dbEpsFor(n: Long): Double =
    if (n <= 15000L) DbEps else DbEps * math.sqrt(15000.0 / n)

  private def custCount(s: SparkSession, d: String): Long =
    graft.Tables.cachedCount(s, d, "customer") // memoized: no per-call job

  /** (k, x, y) customer points on the hash plane with their eps-grid cell. */
  private def dbPoints(s: SparkSession, d: String, eps: Double): DataFrame =
    coords(tbl(s, d, "customer"), "c_custkey")
      .select(col("c_custkey").as("k"), col("lon").as("x"), col("lat").as("y"))
      .withColumn("cx", floor(col("x") / eps).cast("long"))
      .withColumn("cy", floor(col("y") / eps).cast("long"))

  /** eps-neighbor pairs (k, bk) INCLUDING the self pair, via the 3×3
    * grid-cell equi-join: with cell side = eps, every neighbor within
    * eps of p lies in p's cell or one of its 8 adjacent cells, so the
    * replicate-build-side-9×/probe-own-cell join is an exact cover (the
    * geo_radius_join band argument in two dimensions). Memoized per
    * (session, sfDir): the label and cluster gates both consume it, and
    * a production job materializes the neighbor graph once.
    *
    * Scale: the build side broadcasts at dim scale; at 100 TB both
    * sides bucket by (cx, cy) — a co-partitioned equi-join, never a
    * cross product. d2 is rounded to 6 dp before the predicate (house
    * float-parity discipline, though *,− on identical doubles is
    * already bit-exact in both engines).
    */
  private def dbPairs(s: SparkSession, d: String): DataFrame = {
    // Persisted parquet artifact, not localCheckpoint blocks (r14 sf10
    // probe): GenScale scales `customer` 25× in the SAME coordinate box,
    // so eps-neighborhoods densify 25× and the pair count grows ~625× —
    // an output-bound blowup inherent to fixed-eps neighbor graphs on
    // densifying data, but the old memo made the engine the bottleneck:
    // the broadcast-join output inherited the probe side's handful of
    // input splits, so tens of millions of pairs crawled through a
    // 4-partition Java-serialized block write (observed wedged for
    // >15 min). Now: repartition the probe side by its cell key first
    // (point-count-sized, so the pair write parallelizes and each task's
    // slice stays small) and land the neighbor graph as a parquet
    // artifact — columnar write, no storage-memory squeeze, and
    // the per-snapshot materialization the scaladoc above promises.
    val fp = graft.Artifacts.fingerprint(s"$d/customer.parquet")
    graft.Artifacts.table(s, "geo_db_pairs", s"$d|$fp") {
      val n = custCount(s, d)
      val eps = dbEpsFor(n)
      val pts0 = dbPoints(s, d, eps)
      val parts = math.max(32L, n / 2000L).toInt
      val pts = pts0.repartition(parts, col("cx"), col("cy"))
      val build = pts0
        .select(col("k").as("bk"), col("x").as("bx"), col("y").as("by"),
          col("cx").as("c0x"), col("cy").as("c0y"))
        .withColumn("cx", explode(expr(
          "transform(sequence(-1, 1), i -> c0x + CAST(i AS BIGINT))")))
        .withColumn("cy", explode(expr(
          "transform(sequence(-1, 1), i -> c0y + CAST(i AS BIGINT))")))
        .drop("c0x", "c0y")
      pts.join(broadcast(build), Seq("cx", "cy"))
        .withColumn("d2", round((col("x") - col("bx")) * (col("x") - col("bx")) +
          (col("y") - col("by")) * (col("y") - col("by")), 6))
        .where(col("d2") <= lit(eps * eps))
        .select(col("k"), col("bk"))
    }
  }

  /** Shared oracle CTE: `pairs(k, bk)` = the UNPRUNED eps-neighbor join
    * (matching it proves the 3×3 grid cover exact) and `ne(k, n_eps)`.
    */
  private val dbCteSql: String =
    s"""c AS (${coordsSql("customer", "c_custkey")}),
       |p AS (SELECT c_custkey AS k, lon AS x, lat AS y FROM c),
       |pairs AS (
       |  SELECT a.k, b.k AS bk
       |  FROM p a, p b
       |  WHERE round((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y), 6)
       |          <= ${DbEps * DbEps}),
       |ne AS (SELECT k, count(*) AS n_eps FROM pairs GROUP BY k)""".stripMargin

  /** geo_dbscan — DBSCAN point roles (core / border / noise) over the
    * customer hash plane: the density-based clustering class (Ester et
    * al. 1996) the partition-based family (ann_kmeans_train) cannot
    * express — clusters of arbitrary shape plus an explicit noise set,
    * the standard embedding-space outlier screen before dedup or
    * stratified sampling. Core: ≥ minPts neighbors within eps (self
    * included); border: non-core with a core neighbor; noise: the rest.
    *
    * Two keyed aggregations over the grid-pruned pair list ([[dbPairs]]):
    * neighbor counts, then a has-core-neighbor flag via an O(points)
    * core-flag table joined back on the neighbor key. The oracle runs
    * the same labeling off the unpruned cross join.
    */
  val geoDbscan: Q = (s, d) => {
    val pairs = dbPairs(s, d)
    val ne = pairs.groupBy(col("k")).agg(count(lit(1)).as("n_eps"))
    val coreFlags = ne.select(col("k").as("bk"),
      (col("n_eps") >= DbMinPts).as("bcore"))
    val hcn = pairs.join(broadcast(coreFlags), Seq("bk"))
      .groupBy(col("k"))
      .agg(max(when(col("bcore") && col("bk") =!= col("k"), 1L)
        .otherwise(0L)).as("hcn"))
    ne.join(hcn, Seq("k"))
      .select(col("k").as("c_custkey"), col("n_eps"),
        when(col("n_eps") >= DbMinPts, "core")
          .when(col("hcn") === 1L, "border")
          .otherwise("noise").as("role"))
      .orderBy(col("c_custkey"))
  }
  val geoDbscanSql: String =
    s"""WITH $dbCteSql,
       |cf AS (SELECT k AS bk, n_eps >= $DbMinPts AS bcore FROM ne),
       |hc AS (SELECT k, max(CASE WHEN bcore AND bk <> k THEN 1 ELSE 0 END) AS hcn
       |       FROM pairs JOIN cf USING (bk) GROUP BY k)
       |SELECT ne.k AS c_custkey, ne.n_eps,
       |       CASE WHEN ne.n_eps >= $DbMinPts THEN 'core'
       |            WHEN hc.hcn = 1 THEN 'border' ELSE 'noise' END AS role
       |FROM ne JOIN hc ON ne.k = hc.k
       |ORDER BY c_custkey""".stripMargin

  /** geo_dbscan_cc — the full DBSCAN clustering: connected components
    * over the core–core neighbor graph (cluster id = min core key, via
    * Graph.connectedComponents' min-label iteration), isolated cores as
    * singleton clusters, and each border point adopting the MINIMUM
    * cluster id among its core neighbors. That border rule is the
    * deterministic refinement of the paper's order-dependent "first
    * discoverer wins" (disclosed divergence — classic DBSCAN's border
    * assignment depends on scan order, which a distributed engine and a
    * SQL oracle cannot and should not reproduce); core assignments are
    * order-independent in the paper and identical here. Noise points are
    * emitted with a NULL cluster so the output is a complete labeling.
    *
    * Scale: core–core edges are a filter of the memoized pair list; CC
    * is the O(log n)-round min-label loop shared with cc_clusters; the
    * border attach is one join keyed on the core neighbor. The oracle
    * recomputes reachability with a recursive CTE off the unpruned join.
    */
  /** The DBSCAN core labeling — memoized per (session, dir) like
    * Graph's CC labels: the clustering IS the per-corpus-snapshot
    * artifact (a production pipeline materializes it once and serves
    * role/filter queries off it), so repeat invocations must not re-run
    * the star-CC contraction loop. localCheckpoint(eager) pins the
    * labels; the loop's lineage is dropped with it.
    */
  private def cachedCoreLab(s: SparkSession, d: String): DataFrame =
    graft.Artifacts.memo(s, "geo_dbscan_labels", d) {
      val pairs = dbPairs(s, d)
      val ne = pairs.groupBy(col("k")).agg(count(lit(1)).as("n_eps"))
      val core = ne.where(col("n_eps") >= DbMinPts).select(col("k"))
      val coreEdges = pairs.where(col("k") < col("bk"))
        .join(core, Seq("k"), "left_semi")
        .join(core.withColumnRenamed("k", "bk"), Seq("bk"), "left_semi")
        .select(col("k").as("a"), col("bk").as("b"))
      // star-CC, not plain min-label: at high density the core graph is one
      // near-percolated component spanning the whole plane, whose hop
      // diameter (~plane-width/eps cells) blows past min-label's O(diameter)
      // round budget — large/small-star contracts in O(log n) rounds
      // regardless of diameter (measured: min-label DNF at sf0.1's ~45-hop
      // giant component; star converges).
      val ccLab = Graph.connectedComponentsStar(coreEdges)
        .select(col("node").as("k"), col("cluster"))
      // isolated cores: no core-core edge → singleton cluster = self
      core.join(ccLab, Seq("k"), "left")
        .select(col("k"), coalesce(col("cluster"), col("k")).as("cluster"))
        .localCheckpoint(true)
    }

  val geoDbscanCc: Q = (s, d) => {
    val pairs = dbPairs(s, d)
    val ne = pairs.groupBy(col("k")).agg(count(lit(1)).as("n_eps"))
    val core = ne.where(col("n_eps") >= DbMinPts).select(col("k"))
    val coreLab = cachedCoreLab(s, d)
    val borderLab = pairs.where(col("k") =!= col("bk"))
      .join(coreLab.select(col("k").as("bk"), col("cluster")), Seq("bk"))
      .join(core, Seq("k"), "left_anti")
      .groupBy(col("k")).agg(min(col("cluster")).as("cluster"))
    val labeled = coreLab.select(col("k"), col("cluster"), lit("core").as("role"))
      .unionByName(borderLab.select(col("k"), col("cluster"), lit("border").as("role")))
    // noise rides along with a NULL cluster (ml_aniso's NULL discipline):
    // the output is a COMPLETE labeling of the point set, so downstream
    // keep/drop filters join once instead of anti-joining the remainder.
    val noise = dbPoints(s, d, dbEpsFor(custCount(s, d))).select(col("k"))
      .join(labeled.select(col("k")), Seq("k"), "left_anti")
      .select(col("k"), lit(null).cast("long").as("cluster"), lit("noise").as("role"))
    labeled.unionByName(noise)
      .select(col("k").as("c_custkey"), col("cluster").cast("long").as("cluster"),
        col("role"))
      .orderBy(col("c_custkey"))
  }
  val geoDbscanCcSql: String =
    s"""WITH RECURSIVE $dbCteSql,
       |core AS (SELECT k FROM ne WHERE n_eps >= $DbMinPts),
       |ce AS (SELECT p.k AS x, p.bk AS y FROM pairs p
       |       SEMI JOIN core a ON p.k = a.k
       |       SEMI JOIN core b ON p.bk = b.k
       |       WHERE p.k <> p.bk),
       |reach(n, r) AS (
       |  SELECT x, x FROM ce
       |  UNION
       |  SELECT ce.y, reach.r FROM ce JOIN reach ON ce.x = reach.n),
       |cc AS (SELECT n AS k, min(r) AS cluster FROM reach GROUP BY n),
       |corelab AS (
       |  SELECT core.k, coalesce(cc.cluster, core.k) AS cluster
       |  FROM core LEFT JOIN cc ON core.k = cc.k),
       |borderlab AS (
       |  SELECT p.k, min(cl.cluster) AS cluster
       |  FROM pairs p
       |  JOIN corelab cl ON p.bk = cl.k
       |  ANTI JOIN core ON p.k = core.k
       |  WHERE p.k <> p.bk
       |  GROUP BY p.k),
       |lab AS (
       |  SELECT k, cluster, 'core' AS role FROM corelab
       |  UNION ALL
       |  SELECT k, cluster, 'border' AS role FROM borderlab),
       |noise AS (
       |  SELECT p.k, CAST(NULL AS BIGINT) AS cluster, 'noise' AS role
       |  FROM p ANTI JOIN lab ON p.k = lab.k)
       |SELECT k AS c_custkey, CAST(cluster AS BIGINT) AS cluster, role FROM (
       |  SELECT * FROM lab UNION ALL SELECT * FROM noise)
       |ORDER BY c_custkey""".stripMargin

  // ------------------------------------------------------ point in polygon

  /** The gate polygon: a NON-CONVEX chevron on the hash plane (so the
    * test exercises the even–odd rule, not just a convex hull check).
    * Closed implicitly (last → first). No edge is horizontal, so the
    * ray-cast division is always defined.
    */
  private val pipVerts: Seq[(Double, Double)] =
    Seq((-60.0, -30.0), (0.0, 40.0), (60.0, -30.0), (0.0, 0.0))

  /** geo_pip — point-in-polygon containment (ray casting / even–odd
    * rule) for every customer point against the literal chevron: the
    * spatial predicate behind geofencing and region-tagging. A bounding-
    * box range filter runs first — at 100 TB that is the predicate that
    * pushes into the parquet scan (or prunes Z-ordered files, the
    * ly_zorder layout) so the exact crossing test touches only bbox
    * survivors. The crossing count itself is a branch-free sum of per-
    * edge conditions unrolled from the SAME vertex list in both engines
    * — pure scan-side arithmetic, no join, no shuffle before the final
    * sort.
    *
    * Exactness: each edge test is comparisons + one guarded division on
    * identical doubles — identical IEEE op trees both engines; vertices
    * chosen with no horizontal edge so the divisor is never zero.
    */
  val geoPip: Q = (s, d) => {
    val n = pipVerts.size
    val xs = pipVerts.map(_._1); val ys = pipVerts.map(_._2)
    def crossings(px: Column, py: Column): Column =
      (0 until n).map { i =>
        val (x1, y1) = (xs(i), ys(i))
        val (x2, y2) = (xs((i + 1) % n), ys((i + 1) % n))
        when((lit(y1) > py) =!= (lit(y2) > py),
          when(px < lit(x1) + (py - lit(y1)) * lit(x2 - x1) / lit(y2 - y1), 1L)
            .otherwise(0L)).otherwise(0L)
      }.reduce(_ + _)
    coords(tbl(s, d, "customer"), "c_custkey")
      .where(col("lon").between(xs.min, xs.max) && col("lat").between(ys.min, ys.max))
      .withColumn("crossings", crossings(col("lon"), col("lat")))
      .where(col("crossings") % 2 === 1)
      .select(col("c_custkey"), col("crossings"),
        round(col("lon"), 6).as("lon"), round(col("lat"), 6).as("lat"))
      .orderBy(col("c_custkey"))
  }
  val geoPipSql: String = {
    val n = pipVerts.size
    val xs = pipVerts.map(_._1); val ys = pipVerts.map(_._2)
    val terms = (0 until n).map { i =>
      val (x1, y1) = (xs(i), ys(i))
      val (x2, y2) = (xs((i + 1) % n), ys((i + 1) % n))
      s"""CASE WHEN ($y1 > lat) <> ($y2 > lat)
         |            THEN CASE WHEN lon < $x1 + (lat - $y1) * ${x2 - x1} / ${y2 - y1}
         |                      THEN 1 ELSE 0 END ELSE 0 END""".stripMargin
    }.mkString("\n         + ")
    s"""WITH c AS (${coordsSql("customer", "c_custkey")}),
       |x AS (
       |  SELECT c_custkey, lon, lat,
       |         CAST($terms AS BIGINT) AS crossings
       |  FROM c
       |  WHERE lon BETWEEN ${xs.min} AND ${xs.max}
       |    AND lat BETWEEN ${ys.min} AND ${ys.max})
       |SELECT c_custkey, crossings, round(lon, 6) AS lon, round(lat, 6) AS lat
       |FROM x WHERE crossings % 2 = 1 ORDER BY c_custkey""".stripMargin
  }

  val queries: Map[String, Q] = Map(
    "geo_cell_stats"  -> geoCellStats,
    "geo_radius_join" -> geoRadiusJoin,
    "geo_radius_knn"  -> geoRadiusKnn,
    "geo_knn"         -> geoKnn,
    "geo_knn_exact"   -> geoKnnExact,
    "geo_dbscan"      -> geoDbscan,
    "geo_dbscan_cc"   -> geoDbscanCc,
    "geo_pip"         -> geoPip,
  )

  val oracles: Map[String, String] = Map(
    "geo_cell_stats"  -> geoCellStatsSql,
    "geo_radius_join" -> geoRadiusJoinSql,
    "geo_radius_knn"  -> geoRadiusKnnSql,
    "geo_knn"         -> geoKnnSql,
    "geo_knn_exact"   -> geoKnnExactSql,
    "geo_dbscan"      -> geoDbscanSql,
    "geo_dbscan_cc"   -> geoDbscanCcSql,
    "geo_pip"         -> geoPipSql,
  )
}
