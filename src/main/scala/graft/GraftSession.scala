package graft

import org.apache.spark.sql.SparkSession

/** Canonical session factory: every entry point (Verify, Bench, tests)
  * builds its session here so config stays consistent.
  *
  * Scale notes (targets a 1000-executor cluster; local[N] only for tests):
  *   - AQE on: runtime partition coalescing, skew-join splitting, and
  *     dynamic broadcast conversion replace hand-tuned chunk sizes
  *     (reference's CHUNK_SIZE constants, SURVEY.md §4).
  *   - shuffle.partitions matches local cores here; on a real cluster this
  *     is sized to ~2-3× total cores and AQE coalesces down.
  *   - nanosAsLong: the driver's `events.ts` parquet column is
  *     TIMESTAMP(NANOS) which Spark 4 otherwise rejects; reading it as
  *     epoch-nanos Long keeps full precision (DuckDB keeps ns too).
  */
object GraftSession {

  def local(cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"),
            appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      // local[N] is one JVM: there is no data locality to wait for, but
      // the default 3 s delay-scheduling wait still lets the scheduler
      // stall on block-preferred-location ticks for localCheckpoint-heavy
      // iterative gates. Pinning 0 measured tx_textrank (the suite's
      // bimodal-floor canary) tighter and ~8% faster over 5+10 sessions
      // with no effect elsewhere (PERF.md r16). A CLUSTER deployment
      // must NOT copy this line — there, locality wait is what keeps
      // scans on the executors that hold the blocks.
      .config("spark.locality.wait", "0")
      // ObjectHashAggregate (every TypedImperativeAggregate: the
      // sketches, min_k_pairs) falls back to SORT-BASED aggregation
      // after this many distinct keys in a task's hash map — and the
      // default is 128, sized for giant percentile_approx buffers, not
      // ours. geo_radius_knn's whole design (map-side partial top-k so
      // the exchange carries O(k·probes) instead of the output-quadratic
      // candidate set) was silently degraded to map-side SORTS of the
      // full candidate stream by that default (measured sf10: ~300 s/
      // pass; hash-path seconds). Our object buffers are all small and
      // bounded (MinKPairs ≈ 200 B, SpaceSaving/KMV/CMS capacity-bound),
      // so 128k keys/task is ≤ tens of MB — raise the threshold so the
      // hash path survives realistic group counts; the fallback still
      // guards a pathological many-groups × big-buffer plan.
      //
      // GUARD for NEW TypedImperativeAggregate call sites (r17 advice):
      // this raise is SESSION-GLOBAL and the threshold is key-count-
      // based, so the memory guard now engages 1024× later for every
      // typed aggregate. Any new call site must bound
      // groups-per-task × buffer-bytes to tens of MB — either a
      // capacity-bounded buffer (the sketches, MinKPairs) over
      // unbounded groups, or a bounded group count (global/low-
      // cardinality aggs) over a larger buffer. A high-cardinality
      // groupBy over a large unbounded buffer must instead set this
      // conf lower around its own query (spark.conf.set / withConf),
      // or it re-creates the exact OOM class the raise was tuned
      // around. Pinned by PlanGuardSpec ("fallbackThreshold stays
      // pinned"), which also proves >128-key tasks stay on the hash
      // path at this value.
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "131072")
      // Static (shared by every session): one committed-tail micro-batch
      // generates ~215 classes, which a cache of Spark's default 100 would
      // evict and recompile on every batch.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
