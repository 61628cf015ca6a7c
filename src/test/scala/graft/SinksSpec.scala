package graft

import graft.hypermap.{Decode, Fixtures, Sinks}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** S5/S6 sink semantics: at-least-once input → exactly-once table,
  * idempotent re-merge (SURVEY.md §2.1 S5/S6, §5 property tests).
  */
class SinksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  def freshDir(): String =
    Files.createTempDirectory("graft-sink").resolve("events").toString

  lazy val decoded = Decode.decode(Fixtures.toDF(spark, Fixtures.goldenLogs))

  test("insertIfAbsent dedupes duplicate deliveries (S5)") {
    val dir = freshDir()
    val first = Sinks.insertIfAbsent(spark, dir, decoded)
    assert(first == 14)
    // redelivery of an overlapping chunk: nothing new inserted
    val again = Sinks.insertIfAbsent(spark, dir, decoded.limit(10))
    assert(again == 0)
    assert(spark.read.parquet(dir).count() == 14)
    assert(spark.read.parquet(dir).select("event_id").distinct().count() == 14)
  }

  /** A commit of `df` into `dir` sized at `rowsPerBucket` rows per
    * bucket — the 14-row fixture at 2 spreads over 8 buckets, where the
    * production size would give it one.
    */
  def commitSized(dir: String, df: org.apache.spark.sql.DataFrame, rowsPerBucket: Int,
                  maxGens: Int = 16): (Long, Long) =
    Sinks.upsertCommittedImpl(spark, dir, df, keyCol = "event_id", maxGens = maxGens,
      rowsPerBucket = rowsPerBucket, crashBeforeCommit = false)

  test("upsertCommitted: empty batches are no-ops, layout mismatch is rejected") {
    // an empty FIRST batch must not create a directory
    val dir = freshDir()
    assert(Sinks.upsertCommitted(spark, dir, decoded.where(lit(false))) == (0L, 0L))
    assert(!Sinks.exists(spark, dir))
    // seed, then an empty later batch is a no-op: no new generation
    Sinks.upsertCommitted(spark, dir, decoded)
    val seeded = Sinks.readManifest(spark, dir)
    assert(Sinks.upsertCommitted(spark, dir, decoded.where(lit(false))) == (0L, 0L))
    assert(Sinks.readManifest(spark, dir) == seeded)
    assert(Sinks.readCommitted(spark, dir).count() == 14)
    // a different key would hash rows away from the ones they replace — refused
    intercept[IllegalArgumentException] {
      Sinks.upsertCommitted(spark, dir, decoded, keyCol = "transactionHash")
    }
  }

  test("upsertCommitted sizes buckets from the row count at the first commit and at " +
       "compaction, and keeps the manifest's row count exact") {
    val dir = freshDir()
    def manifest() = Sinks.readManifest(spark, dir).get
    def assertRows(n: Long) = {
      assert(manifest().rows.contains(n))
      assert(Sinks.readCommitted(spark, dir).count() == n)
    }
    // first commit: 6 rows at 2 per bucket → 4 buckets
    assert(commitSized(dir, decoded.orderBy($"event_id").limit(6), 2) == (0L, 6L))
    assert(manifest().nBuckets == 4)
    assertRows(6)
    // 6 matched, 8 inserted; later commits keep the committed bucket count
    assert(commitSized(dir, decoded, 2) == (6L, 8L))
    assert(manifest().nBuckets == 4)
    assertRows(14)
    // matched only: the count does not move
    val oneRow = decoded.where($"label" === "alice").withColumn("label", lit("alice-v2"))
    assert(commitSized(dir, oneRow, 2) == (1L, 0L))
    assertRows(14)
    // compaction (a second live generation past maxGens = 1) re-sizes from
    // the manifest's count: 14 rows at 2 per bucket → 8 buckets
    commitSized(dir, oneRow.withColumn("label", lit("alice-v3")), 2, maxGens = 1)
    assert(manifest().buckets.values.toSet.size == 1)
    assert(manifest().nBuckets == 8)
    assertRows(14)
    // every key still sits in the bucket its hash names
    decoded.select($"event_id").as[String].collect().foreach { k =>
      assert(Sinks.lookupCommitted(spark, dir, Seq(k)).count() == 1, s"key $k misplaced")
    }
    // at the production size the next compaction folds the table to one bucket
    Sinks.upsertCommitted(spark, dir, oneRow, maxGens = 0)
    assert(manifest().nBuckets == 1)
    assertRows(14)
    assert(Sinks.readCommitted(spark, dir).where($"label" === "alice-v2").count() == 1)
  }

  test("upsertCommitted reads a two-field manifest header written before the row count " +
       "was kept, and its next commit stores the count") {
    val dir = freshDir()
    commitSized(dir, decoded, 2)
    // rewrite the header the way older commits wrote it: `nBuckets keyCol`
    val path = new org.apache.hadoop.fs.Path(dir, "_MANIFEST")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def lines() = {
      val in = fs.open(path)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList finally in.close()
    }
    val body = lines()
    assert(body.head == "8 event_id 14")
    val out = fs.create(path, true)
    out.write(("8 event_id" +: body.tail).mkString("", "\n", "\n").getBytes("UTF-8"))
    out.close()
    val legacy = Sinks.readManifest(spark, dir).get
    assert(legacy.rows.isEmpty && legacy.nBuckets == 8)
    assert(Sinks.readCommitted(spark, dir).count() == 14)
    val alice = decoded.where($"label" === "alice").select($"event_id").as[String].head()
    assert(Sinks.lookupCommitted(spark, dir, Seq(alice)).count() == 1)
    // one matched and one fresh row: the commit counts the table once
    val fresh = decoded.where($"label" === "alice").withColumn("event_id", lit("fresh-id"))
    val oneRow = decoded.where($"label" === "alice").withColumn("label", lit("alice-v2"))
    assert(Sinks.upsertCommitted(spark, dir, oneRow.unionByName(fresh)) == (1L, 1L))
    val m = Sinks.readManifest(spark, dir).get
    assert(m.rows.contains(15L) && m.nBuckets == 8)
    assert(lines().head == "8 event_id 15")
    assert(Sinks.readCommitted(spark, dir).count() == 15)
  }

  test("upsertCommitted is an idempotent LWW merge with manifest-pruned reads") {
    val dir = freshDir()
    val (m0, i0) = commitSized(dir, decoded, 2)
    assert((m0, i0) == (0L, 14L))
    assert(Sinks.readManifest(spark, dir).get.nBuckets == 8)
    val (m1, i1) = Sinks.upsertCommitted(spark, dir, decoded)
    assert((m1, i1) == (14L, 0L))
    assert(Sinks.readCommitted(spark, dir).count() == 14)
    // one-row update: only its bucket moves to the new gen
    val manifestBefore = Sinks.readManifest(spark, dir).get
    val oneRow = decoded.where($"label" === "alice")
      .withColumn("label", lit("alice-v2"))
    val (m2, i2) = Sinks.upsertCommitted(spark, dir, oneRow)
    assert((m2, i2) == (1L, 0L))
    val manifestAfter = Sinks.readManifest(spark, dir).get
    val moved = manifestBefore.buckets.keySet.filter(b =>
      manifestBefore.buckets(b) != manifestAfter.buckets(b))
    assert(moved.size == 1, s"expected exactly 1 bucket to move gens, got $moved")
    assert(Sinks.readCommitted(spark, dir).where($"label" === "alice-v2").count() == 1)
    assert(Sinks.readCommitted(spark, dir).where($"label" === "alice").count() == 0)
    assert(Sinks.readCommitted(spark, dir).count() == 14)
    // layout mismatch refused
    intercept[IllegalArgumentException] {
      Sinks.upsertCommitted(spark, dir, decoded, keyCol = "transactionHash")
    }
  }

  test("upsertCommitted: crash before the manifest rename leaves the old " +
       "snapshot fully visible; re-run applies the batch and sweeps orphans") {
    val dir = freshDir()
    commitSized(dir, decoded, 2)
    val before = Sinks.readCommitted(spark, dir)
      .orderBy($"event_id").collect().toSeq
    val mutated = decoded.withColumn("label",
      when($"label" === "alice", "alice-v2").otherwise($"label"))
    // kill between the gen write and the commit: nothing is exposed
    intercept[RuntimeException] {
      Sinks.upsertCommittedImpl(spark, dir, mutated, keyCol = "event_id", maxGens = 16,
        rowsPerBucket = 2, crashBeforeCommit = true)
    }
    assert(Sinks.readCommitted(spark, dir).orderBy($"event_id").collect().toSeq
      == before, "reader saw a torn snapshot after a mid-commit crash")
    // the redelivered batch commits fully and the orphan gen is GC'd
    val (m2, i2) = Sinks.upsertCommitted(spark, dir, mutated)
    assert((m2, i2) == (14L, 0L))
    assert(Sinks.readCommitted(spark, dir).where($"label" === "alice-v2").count() == 1)
    val referenced = Sinks.readManifest(spark, dir).get.buckets.values.toSet
    val onDisk = new java.io.File(dir).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("gen-")).map(_.getName).toSet
    assert(onDisk == referenced,
      s"orphan gens not swept: on-disk=$onDisk referenced=$referenced")
  }

  test("lookupCommitted opens only the keys' bucket paths") {
    val dir = freshDir()
    commitSized(dir, decoded, 2)
    val nBuckets = Sinks.readManifest(spark, dir).get.nBuckets
    assert(nBuckets == 8)
    val key = decoded.select($"event_id").as[String].head()
    val hit = Sinks.lookupCommitted(spark, dir, Seq(key))
    assert(hit.count() == 1)
    assert(hit.select($"event_id").as[String].head() == key)
    // pruning is structural: the plan's input files cover exactly the
    // buckets the keys hash to, not the whole table
    val expected = Seq(key).toDF("event_id")
      .select(Sinks.bucketCol("event_id", nBuckets)).as[Long].collect().toSet
    val openedBuckets = hit.inputFiles
      .map(f => "bucket=(\\d+)".r.findFirstMatchIn(f).get.group(1).toLong).toSet
    assert(openedBuckets == expected,
      s"lookup opened buckets $openedBuckets, keys hash to $expected")
    assert(hit.inputFiles.length < Sinks.readCommitted(spark, dir).inputFiles.length,
      "lookup did not prune below a full-table read")
    // a key hashing to a bucket with no data returns empty, not an error
    assert(Sinks.lookupCommitted(spark, dir, Seq("no-such-key")).count() == 0)
  }

  test("upsertCommitted compacts generations past maxGens without changing data") {
    val dir = freshDir()
    commitSized(dir, decoded, 2)
    // 3 single-row batches with maxGens=2: each adds a gen, compaction folds
    for (i <- 1 to 3) {
      val oneRow = decoded.where($"label" === "alice")
        .withColumn("label", lit(s"alice-v$i"))
      Sinks.upsertCommitted(spark, dir, oneRow, maxGens = 2)
    }
    val gens = Sinks.readManifest(spark, dir).get.buckets.values.toSet
    assert(gens.size <= 2, s"compaction did not bound generations: $gens")
    assert(Sinks.readCommitted(spark, dir).count() == 14)
    assert(Sinks.readCommitted(spark, dir).where($"label" === "alice-v3").count() == 1)
  }

  /** `df`'s rows as a local relation: the route a collected tail batch takes. */
  def local(df: DataFrame): DataFrame = spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  /** Rows as a sorted multiset of strings, so that tables compare in any order. */
  def rowsOf(df: DataFrame): Seq[String] = df.collect().map(_.toSeq.map {
    case m: scala.collection.Map[_, _] => m.toSeq.map(_.toString).sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
    case v => String.valueOf(v)
  }.mkString("|")).toSeq.sorted

  test("the driver dedupe keeps the row the window dedupe keeps") {
    val schema = StructType(Seq(
      StructField("k", StringType), StructField("s", StringType), StructField("i", IntegerType),
      StructField("l", LongType), StructField("d", DoubleType),
      StructField("tags", ArrayType(StringType))))
    // per key, rows that tie on every order column but one
    val groups = Seq(
      Seq(Row("long", "a", 1, 5L, 0.0, Seq("x")), Row("long", "a", 1, 7L, 0.0, Seq("y")),
        Row("long", "a", 1, Long.MinValue, 0.0, null)),
      Seq(Row("int", "a", -1, 1L, 0.0, null), Row("int", "a", 2, 1L, 0.0, null),
        Row("int", "a", Int.MinValue, 1L, 0.0, null)),
      Seq(Row("null int", "a", null, 1L, 0.0, null), Row("null int", "a", 3, 1L, 0.0, null)),
      Seq(Row("null str", null, 1, 1L, 0.0, null), Row("null str", "x", 1, 1L, 0.0, null)),
      // U+FF61 sorts after U+1F600 in UTF-16 (0xFF61 > 0xD83D) and before
      // it in UTF-8 bytes (0xEF < 0xF0), the order Spark compares in
      Seq(Row("utf8", "\uff61", 1, 1L, 0.0, null), Row("utf8", "\ud83d\ude00", 1, 1L, 0.0, null),
        Row("utf8", "z", 1, 1L, 0.0, null)),
      Seq(Row("nan", "a", 1, 1L, Double.PositiveInfinity, null),
        Row("nan", "a", 1, 1L, Double.NaN, null), Row("nan", "a", 1, 1L, -0.0, null)),
      Seq(Row(null, "a", 1, 1L, 0.0, null), Row(null, "b", 1, 1L, 0.0, null)),
      Seq(Row("single", null, null, 0L, 0.0, null)))
    assert("\uff61".compareTo("\ud83d\ude00") > 0)
    assert(UTF8String.fromString("\uff61").compareTo(UTF8String.fromString("\ud83d\ude00")) < 0)
    val rnd = new scala.util.Random(3)
    for (round <- 0 until 4) {
      val rows = rnd.shuffle(groups.flatten)
      val distributed =
        spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
      val localIn = spark.createDataFrame(rows.asJava, schema)
      assert(Sinks.localRows(distributed).isEmpty && Sinks.localRows(localIn).isDefined)
      val byWindow = rowsOf(Sinks.dedupeDeterministicBy(distributed, "k"))
      val onDriver = Sinks.dedupeLocal(Sinks.localRows(localIn).get, schema, "k")
      assert(rowsOf(spark.createDataFrame(onDriver.map(r =>
        org.apache.spark.sql.catalyst.CatalystTypeConverters.convertToScala(r, schema)
          .asInstanceOf[Row]).asJava, schema)) == byWindow, s"round $round")
      assert(byWindow.size == groups.size)
    }
    assert(rowsOf(Sinks.dedupeDeterministicBy(spark.createDataFrame(
      spark.sparkContext.parallelize(groups(4), 2), schema), "k")).head.startsWith("utf8|\ud83d"))
  }

  test("a local and a distributed input commit the same table, manifest and counts") {
    def same(a: String, b: String, clue: String): Unit = {
      val (ma, mb) = (Sinks.readManifest(spark, a).get, Sinks.readManifest(spark, b).get)
      assert(ma.nBuckets == mb.nBuckets && ma.rows == mb.rows && ma.keyCol == mb.keyCol, clue)
      // the same buckets, grouped into generations the same way
      def gens(m: Sinks.Manifest) = m.buckets.groupBy(_._2).values.map(_.keySet).toSet
      assert(gens(ma) == gens(mb), clue)
      assert(rowsOf(Sinks.readCommitted(spark, a)) == rowsOf(Sinks.readCommitted(spark, b)), clue)
    }
    val alice = decoded.where($"label" === "alice")
    for ((keyCol, name) <- Seq("event_id" -> "event_id", "blockNumber" -> "a Long key")) {
      val (a, b) = (freshDir(), freshDir())
      def both(df: DataFrame, maxGens: Int, clue: String): Unit = {
        assert(Sinks.localRows(df).isEmpty, clue)
        val commit = (dir: String, in: DataFrame) => Sinks.upsertCommittedImpl(spark, dir, in,
          keyCol, maxGens, rowsPerBucket = 2, crashBeforeCommit = false)
        assert(commit(a, local(df)) == commit(b, df), s"$name: $clue")
        same(a, b, s"$name: $clue")
      }
      // a fresh table, with a second version of one key in the batch
      both(decoded.orderBy($"event_id").limit(6).unionByName(
        alice.withColumn("label", lit("alice-v2"))), 16, "fresh table")
      // matched and inserted keys, again with two versions of one
      both(decoded.unionByName(alice.withColumn("label", lit("alice-v3"))), 16, "merge")
      // a second generation past maxGens = 1: the commit compacts
      both(alice.withColumn("label", lit("alice-v4")), 1, "compacting")
      assert(Sinks.readManifest(spark, a).get.buckets.values.toSet.size == 1)
    }
    // the insert: the same novel rows and the same table
    val (a, b) = (freshDir(), freshDir())
    for (batch <- Seq(decoded.limit(5), decoded.unionByName(decoded), decoded)) {
      assert(Sinks.insertIfAbsent(spark, a, local(batch)) == Sinks.insertIfAbsent(spark, b, batch))
      assert(rowsOf(spark.read.parquet(a)) == rowsOf(spark.read.parquet(b)))
    }
    assert(spark.read.parquet(a).count() == 14)
  }
}
