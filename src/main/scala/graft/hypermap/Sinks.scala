package graft.hypermap

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** S5/S6 — the reference's two write paths re-expressed over parquet.
  *
  * The reference relies on MongoDB for idempotency: S5 insertMany with
  * duplicate-key-tolerance (mongodb.ts:46-70), S6 bulkWrite upsert keyed
  * `txHash_logIndex` (extract-events.ts:95-136). Without a transactional
  * table format on the classpath (no Delta in /opt/spark/jars), the engine
  * provides the same semantics with pure-parquet building blocks:
  *
  *   - insertIfAbsent: anti-join against existing ids, append only novel
  *     rows — at-least-once input → exactly-once table, matching the
  *     duplicate-key-skip behavior (upserted count = appended rows).
  *   - upsert: last-writer-wins merge by event_id materialized to a new
  *     version directory + atomic pointer swap (rename) — the plain-parquet
  *     stand-in for Delta MERGE. On a Delta/Iceberg cluster this maps 1:1
  *     to `WHEN MATCHED UPDATE / WHEN NOT MATCHED INSERT`.
  *
  * Scale note: insertIfAbsent's anti-join shuffles only on event_id and the
  * existing side prunes to the id column; at 100 TB the existing-ids scan
  * should be replaced by a Delta MERGE (metadata-pruned) or a bucketed id
  * index — documented as the production path.
  */
object Sinks {

  /** Deterministic within-batch dedup: one row per event_id chosen by a
    * total order over the sortable columns (dropDuplicates alone keeps an
    * arbitrary partition-order row — nondeterministic across runs, while
    * the reference's bulkWrite applies ops in array order).
    */
  private def dedupeDeterministic(updates: DataFrame): DataFrame =
    dedupeDeterministicBy(updates, "event_id")

  private def dedupeDeterministicBy(updates: DataFrame, keyCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val orderCols = updates.schema.fields
      .filter(f => f.name != keyCol && (f.dataType match {
        case _: ArrayType | _: MapType | _: StructType => false
        case _ => true // scalar types: totally ordered in Spark SQL
      }))
      .map(f => col(f.name).desc_nulls_last)
    if (orderCols.isEmpty) updates.dropDuplicates(keyCol)
    else updates
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(keyCol)).orderBy(orderCols.toIndexedSeq: _*)))
      .where(col("__rn") === 1).drop("__rn")
  }

  /** Append rows whose event_id is not already present. Returns number of
    * rows actually inserted (the reference's "upsertedCount").
    */
  def insertIfAbsent(spark: SparkSession, dir: String, updates: DataFrame): Long = {
    val deduped = dedupeDeterministic(updates)
    val novel =
      if (exists(spark, dir)) {
        val existingIds = readFlat(spark, dir).select("event_id")
        deduped.join(existingIds, Seq("event_id"), "left_anti")
      } else deduped
    val toWrite = novel.cache()
    val n = toWrite.count()
    if (n > 0) toWrite.write.mode(SaveMode.Append).parquet(dir)
    toWrite.unpersist()
    n
  }

  /** Idempotent MERGE by event_id: updates win over existing rows; result
    * written to a fresh directory then swapped in. Returns
    * (matched/updated, inserted) like the reference's bulkWrite report.
    */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame): (Long, Long) = {
    val deduped = dedupeDeterministic(updates).cache()
    if (!exists(spark, dir)) {
      val n = deduped.count()
      // an empty first batch must not create a file-less parquet dir
      // (unreadable: schema inference fails on every later read)
      if (n > 0) deduped.write.mode(SaveMode.Overwrite).parquet(dir)
      deduped.unpersist()
      return (0L, n)
    }
    val existing = spark.read.parquet(dir)
    val matched = existing.join(deduped.select("event_id"), Seq("event_id"), "left_semi").count()
    val inserted = deduped.join(existing.select("event_id"), Seq("event_id"), "left_anti").count()
    val merged = deduped.unionByName(
      existing.join(deduped.select("event_id"), Seq("event_id"), "left_anti"),
      allowMissingColumns = true)
    val tmp = dir + ".tmp-" + System.nanoTime()
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    deduped.unpersist()
    // Two-rename swap with checked results + rollback. NOT atomic on a raw
    // filesystem (a crash between the renames strands the table in `old`;
    // recovery = rename it back) — the production path is a transactional
    // table format's MERGE; this is the best plain-parquet can do and it
    // must never silently half-apply.
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(dir).getFileSystem(hconf)
    val old = new Path(dir + ".old-" + System.nanoTime())
    if (!fs.rename(new Path(dir), old))
      throw new java.io.IOException(s"upsert swap failed: cannot move $dir aside")
    if (!fs.rename(new Path(tmp), new Path(dir))) {
      fs.rename(old, new Path(dir)) // roll back to the previous table
      throw new java.io.IOException(s"upsert swap failed: cannot move $tmp into place (rolled back)")
    }
    fs.delete(old, true)
    (matched, inserted)
  }

  /** Bucketed copy-on-write upsert — the 100 TB path for S6.
    *
    * `upsert` above rewrites the WHOLE table per batch: O(table) write
    * amplification, unusable once the table dwarfs a batch. This variant
    * lays the table out as parquet partitioned by
    * `bucket = pmod(xxhash64(event_id), nBuckets)` and each batch:
    *
    *   1. computes the set of buckets the batch touches (≤ nBuckets, and
    *      ≈ batch-size for small batches — a tail batch of 1k events
    *      touches at most 1k buckets),
    *   2. reads ONLY those partitions (partition pruning on `bucket`),
    *   3. merges last-writer-wins by event_id,
    *   4. rewrites ONLY those partitions via dynamic partition overwrite.
    *
    * Write amplification drops from O(table) to O(table/nBuckets ×
    * touched-buckets). This is exactly the copy-on-write keyed-table
    * design of Delta/Hudi; on a cluster with a transactional format the
    * same layout maps to MERGE + partition pruning. Untouched partitions
    * are never read or written (UpsertBucketedSpec asserts their files are
    * byte-identical across batches).
    *
    * Atomicity: Spark's dynamic overwrite commits per partition through
    * the Hadoop commit protocol — a crash can leave touched partitions
    * mixed old/new (re-running the same idempotent batch repairs them),
    * but never corrupts untouched partitions. Strictly better than the
    * full-rewrite swap. For snapshot-consistent readers during a crash
    * window use [[upsertCommitted]], which commits the whole multi-bucket
    * batch in one atomic manifest rename.
    *
    * Returns (matched/updated, inserted) like `upsert`.
    */
  /** The bucket assignment used by upsertBucketed's layout — exposed so
    * callers (and benchmarks) never re-derive it and drift.
    */
  def bucketCol(keyCol: String, nBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col(keyCol)), lit(nBuckets.toLong))

  def upsertBucketed(spark: SparkSession, dir: String, updates: DataFrame,
                     nBuckets: Int = 256, keyCol: String = "event_id"): (Long, Long) = {
    require(nBuckets > 0, "nBuckets must be positive")
    recoverBucketed(spark, dir)
    val bucketed = dedupeDeterministicBy(updates, keyCol)
      .withColumn("bucket", bucketCol(keyCol, nBuckets))
      .cache()
    try {
      val (nUpdates, touched) = rowsAndBuckets(bucketed)
      // An empty batch must not create an empty (file-less) parquet dir —
      // every later read would die on schema inference — nor rewrite
      // anything on an existing table.
      if (nUpdates == 0) return (0L, 0L)
      if (!exists(spark, dir)) {
        writeBuckets(bucketed, touched.size, dir)
        writeBucketSpec(spark, dir, nBuckets, keyCol)
        return (0L, nUpdates)
      }
      checkBucketSpec(spark, dir, nBuckets, keyCol)
      val existingTouched = spark.read.parquet(dir)
        .where(col("bucket").isin(touched.toIndexedSeq: _*)) // partition pruning
      val matched = bucketed
        .join(existingTouched.select(keyCol), Seq(keyCol), "left_semi").count()
      val merged = bucketed.unionByName(
        existingTouched.join(bucketed.select(keyCol), Seq(keyCol), "left_anti"),
        allowMissingColumns = true)
      // Spark refuses to overwrite a path its own plan reads, so the merged
      // buckets land in a tmp dir and are swapped in per partition — which
      // is also the crash-safe shape: each bucket flips old→new in one
      // rename, untouched buckets are never opened.
      val tmp = dir + ".tmp-" + System.nanoTime()
      writeBuckets(merged, touched.size, tmp)
      val hconf = spark.sparkContext.hadoopConfiguration
      val fs = new Path(dir).getFileSystem(hconf)
      touched.foreach { b =>
        val src = new Path(tmp, s"bucket=$b")
        val dst = new Path(dir, s"bucket=$b")
        if (fs.exists(src)) {
          val old = new Path(dir, s".bucket=$b.old-" + System.nanoTime())
          val hadOld = fs.exists(dst)
          if (hadOld && !fs.rename(dst, old))
            throw new java.io.IOException(s"upsertBucketed: cannot move $dst aside")
          if (!fs.rename(src, dst)) {
            if (hadOld) fs.rename(old, dst)
            throw new java.io.IOException(s"upsertBucketed: swap failed for bucket $b (rolled back)")
          }
          if (hadOld) fs.delete(old, true)
        }
        // A touched bucket always has ≥1 merged row (its update rows are in
        // `merged`), so a missing src means the write itself failed — the
        // rename above would have thrown before reaching here.
      }
      fs.delete(new Path(tmp), true)
      (matched, nUpdates - matched)
    } finally bucketed.unpersist()
  }

  /** Read a table maintained by upsertBucketed without its layout column. */
  def readBucketed(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(dir).drop("bucket")

  // ----------------------------------------------------- manifest commit

  /** Manifest-committed bucketed upsert — closes [[upsertBucketed]]'s one
    * remaining gap: cross-bucket atomicity. The in-place variant flips
    * touched buckets one rename at a time, so a crash mid-loop exposes a
    * MIXED table (some buckets new, some old) until the idempotent batch
    * is re-run. Here readers resolve data only through a manifest, so the
    * whole multi-bucket batch commits in ONE atomic rename — the
    * poor-man's Delta log.
    *
    * Layout under `dir`:
    *   _MANIFEST                the committed snapshot: a header line
    *                            `nBuckets keyCol`, then `bucket gen` lines
    *   gen-<nonce>/bucket=K/…   immutable per-commit parquet data
    *
    * Commit protocol: write the merged touched buckets into a fresh gen
    * dir; hsync a tmp manifest mapping touched buckets to the new gen
    * (untouched entries unchanged); rename it over _MANIFEST via
    * FileContext Rename.OVERWRITE (atomic on HDFS and POSIX); GC gen dirs
    * the manifest no longer references. A crash anywhere before the
    * rename leaves the previous snapshot fully intact (the orphan gen is
    * swept on the next call); after the rename the new snapshot is
    * complete. There is no observable mixed state.
    *
    * Reads stay pruned: the manifest maps each bucket to exactly one gen
    * dir, so a point/bucket read opens only `gen/bucket=K` paths — the
    * same file-skipping as the in-place layout, resolved through the
    * snapshot instead of the live directory tree. Generations accumulate
    * one per batch; when they exceed `maxGens` the commit folds the whole
    * table into a single gen first (amortized O(table/maxGens) per batch —
    * the same economics as Delta checkpoint compaction).
    */
  def upsertCommitted(spark: SparkSession, dir: String, updates: DataFrame,
                      nBuckets: Int = 256, keyCol: String = "event_id",
                      maxGens: Int = 16): (Long, Long) =
    upsertCommittedImpl(spark, dir, updates, nBuckets, keyCol, maxGens,
      crashBeforeCommit = false)

  private[graft] final case class Manifest(
      nBuckets: Int, keyCol: String, buckets: Map[Long, String])

  private def manifestPath(dir: String) = new Path(dir, "_MANIFEST")

  private[graft] def readManifest(spark: SparkSession, dir: String): Option[Manifest] = {
    val p = manifestPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val lines =
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
        finally in.close()
      val Array(n, k) = lines.head.split(" ", 2)
      val buckets = lines.tail.map { l =>
        val Array(b, g) = l.split(" ", 2); (b.toLong, g)
      }.toMap
      Some(Manifest(n.toInt, k, buckets))
    }
  }

  private def writeManifest(spark: SparkSession, dir: String, m: Manifest): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new Path(dir, s"_MANIFEST.tmp-${System.nanoTime()}")
    val fs = tmp.getFileSystem(conf)
    val out = fs.create(tmp, true)
    val body = (s"${m.nBuckets} ${m.keyCol}" +:
      m.buckets.toSeq.sortBy(_._1).map { case (b, g) => s"$b $g" })
      .mkString("", "\n", "\n")
    out.write(body.getBytes("UTF-8"))
    out.hsync() // durable before it can become the committed snapshot
    out.close()
    // atomic replace: readers see either the old or the new manifest
    org.apache.hadoop.fs.FileContext.getFileContext(tmp.toUri, conf)
      .rename(tmp, manifestPath(dir), org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Live data for `buckets` (all when None), WITH the bucket column.
    *
    * The manifest already names every path, so building the frame starts
    * no Spark job, however many generations the snapshot spans: the schema
    * comes from one data file's footer, and each read lists at most
    * Spark's parallel-discovery threshold of paths, which Spark then lists
    * on the driver. `bucket` is recomputed from the key with the
    * expression that placed the row, so reads may mix generations.
    */
  private def readLive(spark: SparkSession, dir: String, m: Manifest,
                       buckets: Option[Seq[Long]]): DataFrame = {
    val live = buckets match {
      case Some(bs) => m.buckets.view.filterKeys(bs.toSet).toMap
      case None     => m.buckets
    }
    require(live.nonEmpty, s"readLive: no committed data for $buckets in $dir")
    val paths = live.toSeq.sorted.map { case (b, gen) => s"$dir/$gen/bucket=$b" }
    val reader = footerSchema(spark, paths.head).fold(spark.read)(spark.read.schema)
    val perRead = spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt
    paths.grouped(perRead).map(ps => reader.parquet(ps: _*)).reduce(_.unionByName(_))
      .withColumn("bucket", bucketCol(m.keyCol, m.nBuckets))
  }

  /** The schema Spark stored in the footer of the first data file directly
    * under `dir`, read on the driver. None when there is no such file or
    * it was not written by Spark; the reader then infers it (one job).
    */
  private def footerSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    p.getFileSystem(conf).listStatus(p)
      .find(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .flatMap { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try Option(reader.getFooter.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        finally reader.close()
      }
      .map(json => DataType.fromJson(json).asInstanceOf[StructType])
  }

  /** `spark.read.parquet(dir)` for a flat directory of Spark-written
    * files, without the schema-inference job.
    */
  private[graft] def readFlat(spark: SparkSession, dir: String): DataFrame =
    footerSchema(spark, dir).fold(spark.read)(spark.read.schema).parquet(dir)

  /** Read a manifest-committed table without its layout column. */
  def readCommitted(spark: SparkSession, dir: String): DataFrame = {
    val m = readManifest(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $dir"))
    readLive(spark, dir, m, None).drop("bucket")
  }

  /** Point lookup against a manifest-committed table: hash the keys to
    * their buckets (the same expression the write path uses, so the two
    * can never drift) and open ONLY those gen/bucket paths — at 256
    * buckets a single-key lookup reads 1/256th of the table's files by
    * construction, no matter how many generations the snapshot spans.
    * This is the reference's indexed `findOne` (actions.ts point reads)
    * re-expressed as manifest-resolved file pruning. Building the frame
    * starts no Spark job.
    */
  def lookupCommitted(spark: SparkSession, dir: String,
                      keys: Seq[String]): DataFrame = {
    val m = readManifest(spark, dir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot at $dir"))
    val live = bucketsOf(spark, m.keyCol, m.nBuckets, keys).distinct.filter(m.buckets.contains)
    if (live.isEmpty) return readLive(spark, dir, m, None)
      .where(lit(false)).drop("bucket") // keys hash only to absent buckets
    readLive(spark, dir, m, Some(live))
      .where(col(m.keyCol).isin(keys: _*))
      .drop("bucket")
  }

  /** [[bucketCol]] evaluated on the driver: the analyzed expression, bound
    * to a one-string row, so no query is planned just to hash a few keys.
    */
  private def bucketsOf(spark: SparkSession, keyCol: String, nBuckets: Int,
                        keys: Seq[String]): Seq[Long] = {
    import spark.implicits._
    val plan = Seq.empty[String].toDF(keyCol)
      .select(bucketCol(keyCol, nBuckets)).queryExecution.analyzed
    val hash = BindReferences.bindReference(
      plan.expressions.head.asInstanceOf[Alias].child, plan.children.head.output)
    keys.map(k => hash.eval(InternalRow(UTF8String.fromString(k))).asInstanceOf[Long])
  }

  /** Delete gen dirs and tmp manifests the committed snapshot `m` does not
    * reference — orphans from a crash between gen write and manifest
    * rename, or superseded by a later commit. Safe at any time: readers
    * only follow the manifest.
    */
  private def gcUnreferenced(spark: SparkSession, dir: String, m: Option[Manifest]): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return
    val referenced = m.map(_.buckets.values.toSet).getOrElse(Set.empty)
    fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if ((st.isDirectory && name.startsWith("gen-") && !referenced.contains(name)) ||
          (!st.isDirectory && name.startsWith("_MANIFEST.tmp-")))
        fs.delete(st.getPath, true)
    }
  }

  /** Row count and sorted distinct buckets of `bucketed` in one Spark job:
    * a tally per partition, no shuffle.
    */
  private def rowsAndBuckets(bucketed: DataFrame): (Long, Seq[Long]) = {
    val spark = bucketed.sparkSession
    import spark.implicits._
    val tallies = bucketed.select(col("bucket")).as[Long].mapPartitions { it =>
      val seen = scala.collection.mutable.Set.empty[Long]
      var n = 0L
      it.foreach { b => n += 1; seen += b }
      Iterator((n, seen.toSeq))
    }.collect()
    (tallies.map(_._1).sum, tallies.flatMap(_._2).distinct.sorted.toSeq)
  }

  /** Per call: one job for the count and touched buckets (which also
    * materializes `updates`), then one write that reads the touched
    * buckets once, counting matched keys as it merges. Manifest and GC
    * work is driver-side file I/O.
    */
  private[graft] def upsertCommittedImpl(
      spark: SparkSession, dir: String, updates: DataFrame,
      nBuckets: Int, keyCol: String, maxGens: Int,
      crashBeforeCommit: Boolean): (Long, Long) = {
    require(nBuckets > 0, "nBuckets must be positive")
    val current = readManifest(spark, dir)
    gcUnreferenced(spark, dir, current) // sweep any crashed commit's orphans
    val bucketed = dedupeDeterministicBy(updates, keyCol)
      .withColumn("bucket", bucketCol(keyCol, nBuckets))
      .cache()
    try {
      val (nUpdates, touched) = rowsAndBuckets(bucketed)
      if (nUpdates == 0) return (0L, 0L)
      val gen = s"gen-${System.nanoTime()}"
      val genPath = s"$dir/$gen"
      current match {
        case None =>
          writeBuckets(bucketed, touched.size, genPath)
          if (crashBeforeCommit) throw new RuntimeException("injected crash before commit")
          writeManifest(spark, dir, Manifest(nBuckets, keyCol, touched.map(_ -> gen).toMap))
          (0L, nUpdates)
        case Some(m) =>
          require(m.nBuckets == nBuckets && m.keyCol == keyCol,
            s"upsertCommitted layout mismatch for $dir: table has " +
              s"nBuckets=${m.nBuckets}, keyCol=${m.keyCol}; caller passed " +
              s"nBuckets=$nBuckets, keyCol=$keyCol")
          val liveTouched = touched.filter(m.buckets.contains)
          val matches = new Observation()
          val merged =
            if (liveTouched.isEmpty) bucketed
            else bucketed.unionByName(
              readLive(spark, dir, m, Some(liveTouched))
                .join(bucketed.select(col(keyCol), lit(true).as("__updated")),
                  Seq(keyCol), "left_outer")
                .observe(matches, count(col("__updated")).as("matched"))
                .where(col("__updated").isNull).drop("__updated"),
              allowMissingColumns = true)
          writeBuckets(merged, touched.size, genPath)
          val matched =
            if (liveTouched.isEmpty) 0L else matches.get("matched").asInstanceOf[Long]
          if (crashBeforeCommit) throw new RuntimeException("injected crash before commit")
          val next = m.copy(buckets = m.buckets ++ touched.map(_ -> gen))
          writeManifest(spark, dir, next)
          gcUnreferenced(spark, dir, Some(next))
          compactIfNeeded(spark, dir, next, maxGens)
          (matched, nUpdates - matched)
      }
    } finally bucketed.unpersist()
  }

  /** Write `df` partitioned by its `nBuckets` distinct buckets, one file
    * per bucket. Repartitioning by bucket first makes each bucket one
    * task's output; without it every task writes to every bucket dir
    * (tasks × buckets small files). The explicit count spreads the
    * buckets over up to one task per core: a count left to AQE would
    * coalesce a small batch's shuffle into ONE task that writes every
    * bucket file in turn.
    */
  private def writeBuckets(df: DataFrame, nBuckets: Int, path: String): Unit =
    df.repartition(math.min(nBuckets, df.sparkSession.sparkContext.defaultParallelism),
        col("bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("bucket").parquet(path)

  /** Fold every bucket into one fresh gen when the snapshot `m` references
    * more than `maxGens` generations — itself a manifest commit, so it
    * inherits the same crash-safety.
    */
  private def compactIfNeeded(spark: SparkSession, dir: String, m: Manifest,
                              maxGens: Int): Unit = {
    if (m.buckets.values.toSet.size <= maxGens) return
    val gen = s"gen-${System.nanoTime()}"
    writeBuckets(readLive(spark, dir, m, None), m.buckets.size, s"$dir/$gen")
    val compacted = m.copy(buckets = m.buckets.keys.map(_ -> gen).toMap)
    writeManifest(spark, dir, compacted)
    gcUnreferenced(spark, dir, Some(compacted))
  }

  /** The table's bucket layout, persisted as a hidden marker file so a
    * later upsert with a different nBuckets/keyCol fails fast instead of
    * silently duplicating keys (an update hashed to a different bucket
    * count lands in a different partition than the row it should replace).
    */
  private def writeBucketSpec(spark: SparkSession, dir: String,
                              nBuckets: Int, keyCol: String): Unit = {
    val p = new Path(dir, ".graft_bucketspec")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    out.write(s"$nBuckets\n$keyCol\n".getBytes("UTF-8"))
    out.close()
  }

  private def checkBucketSpec(spark: SparkSession, dir: String,
                              nBuckets: Int, keyCol: String): Unit = {
    val p = new Path(dir, ".graft_bucketspec")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) { writeBucketSpec(spark, dir, nBuckets, keyCol); return }
    val in = fs.open(p)
    val lines = scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    in.close()
    lines match {
      case n :: k :: _ =>
        require(n.trim == nBuckets.toString && k.trim == keyCol,
          s"upsertBucketed layout mismatch for $dir: table has nBuckets=${n.trim}, " +
            s"keyCol=${k.trim}; caller passed nBuckets=$nBuckets, keyCol=$keyCol")
      case _ => writeBucketSpec(spark, dir, nBuckets, keyCol)
    }
  }

  /** Heal a crash inside upsertBucketed's per-bucket rename window: a
    * stranded `.bucket=K.old-*` dir whose `bucket=K` is missing is renamed
    * back (the batch didn't land); one whose `bucket=K` exists is deleted
    * (the batch landed, cleanup was lost). Hidden (dot-prefixed) dirs are
    * invisible to parquet readers, so a stranded .old never corrupts reads.
    * Also sweeps `<dir>.tmp-*` siblings left by a crash between the
    * tmp-dir write and the swap loop (full-size orphans otherwise).
    */
  private[graft] def recoverBucketed(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parent = p.getParent
    if (parent != null && fs.exists(parent)) {
      val tmpPrefix = p.getName + ".tmp-"
      fs.listStatus(parent).foreach { st =>
        if (st.isDirectory && st.getPath.getName.startsWith(tmpPrefix))
          fs.delete(st.getPath, true)
      }
    }
    if (!fs.exists(p)) return
    fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      val i = name.indexOf(".old-")
      if (st.isDirectory && name.startsWith(".bucket=") && i > 0) {
        val live = new Path(dir, name.substring(1, i))
        if (fs.exists(live)) fs.delete(st.getPath, true)
        else fs.rename(st.getPath, live)
      }
    }
  }

  private[graft] def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Recover from a crash inside replaceDir's rename window: if `dir` is
    * missing but a stranded `dir.old-*` exists, rename the newest one
    * back. Returns true if a recovery happened. Callers that treat
    * missing-dir as "first run" MUST call this first or a crash window
    * silently empties the table.
    */
  private[graft] def recoverDir(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) return false
    val parent = p.getParent
    if (parent == null || !fs.exists(parent)) return false
    val prefix = p.getName + ".old-"
    val stranded = fs.listStatus(parent)
      .filter(s => s.isDirectory && s.getPath.getName.startsWith(prefix))
      .sortBy(_.getPath.getName)
    if (stranded.isEmpty) return false
    fs.rename(stranded.last.getPath, p)
  }

  /** Write `df` to a fresh directory, then swap it into `dir` (checked
    * two-rename with rollback — see upsert's atomicity note).
    */
  private[graft] def replaceDir(spark: SparkSession, dir: String, df: DataFrame): Unit = {
    val tmp = dir + ".tmp-" + System.nanoTime()
    df.write.mode(SaveMode.Overwrite).parquet(tmp)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!exists(spark, dir)) {
      if (!fs.rename(new Path(tmp), new Path(dir)))
        throw new java.io.IOException(s"replaceDir: cannot move $tmp into place")
      return
    }
    val old = new Path(dir + ".old-" + System.nanoTime())
    if (!fs.rename(new Path(dir), old))
      throw new java.io.IOException(s"replaceDir: cannot move $dir aside")
    if (!fs.rename(new Path(tmp), new Path(dir))) {
      fs.rename(old, new Path(dir))
      throw new java.io.IOException(s"replaceDir: swap failed (rolled back)")
    }
    fs.delete(old, true)
  }
}
