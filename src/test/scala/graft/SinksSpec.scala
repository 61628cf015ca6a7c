package graft

import graft.hypermap.{Decode, Fixtures, Sinks}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

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

  test("upsertCommitted: empty batches are no-ops, layout mismatch is rejected") {
    // an empty FIRST batch must not create a directory
    val dir = freshDir()
    assert(Sinks.upsertCommitted(spark, dir, decoded.where(lit(false)), nBuckets = 8)
      == (0L, 0L))
    assert(!Sinks.exists(spark, dir))
    // seed, then an empty later batch is a no-op: no new generation
    Sinks.upsertCommitted(spark, dir, decoded, nBuckets = 8)
    val seeded = Sinks.readManifest(spark, dir)
    assert(Sinks.upsertCommitted(spark, dir, decoded.where(lit(false)), nBuckets = 8)
      == (0L, 0L))
    assert(Sinks.readManifest(spark, dir) == seeded)
    assert(Sinks.readCommitted(spark, dir).count() == 14)
    // a different bucket count would split keys across layouts — refused
    intercept[IllegalArgumentException] {
      Sinks.upsertCommitted(spark, dir, decoded, nBuckets = 16)
    }
  }

  test("upsertCommitted is an idempotent LWW merge with manifest-pruned reads") {
    val dir = freshDir()
    val (m0, i0) = Sinks.upsertCommitted(spark, dir, decoded, nBuckets = 8)
    assert((m0, i0) == (0L, 14L))
    val (m1, i1) = Sinks.upsertCommitted(spark, dir, decoded, nBuckets = 8)
    assert((m1, i1) == (14L, 0L))
    assert(Sinks.readCommitted(spark, dir).count() == 14)
    // one-row update: only its bucket moves to the new gen
    val manifestBefore = Sinks.readManifest(spark, dir).get
    val oneRow = decoded.where($"label" === "alice")
      .withColumn("label", lit("alice-v2"))
    val (m2, i2) = Sinks.upsertCommitted(spark, dir, oneRow, nBuckets = 8)
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
      Sinks.upsertCommitted(spark, dir, decoded, nBuckets = 16)
    }
  }

  test("upsertCommitted: crash before the manifest rename leaves the old " +
       "snapshot fully visible; re-run applies the batch and sweeps orphans") {
    val dir = freshDir()
    Sinks.upsertCommitted(spark, dir, decoded, nBuckets = 8)
    val before = Sinks.readCommitted(spark, dir)
      .orderBy($"event_id").collect().toSeq
    val mutated = decoded.withColumn("label",
      when($"label" === "alice", "alice-v2").otherwise($"label"))
    // kill between the gen write and the commit: nothing is exposed
    intercept[RuntimeException] {
      Sinks.upsertCommittedImpl(spark, dir, mutated, nBuckets = 8,
        keyCol = "event_id", maxGens = 16, crashBeforeCommit = true)
    }
    assert(Sinks.readCommitted(spark, dir).orderBy($"event_id").collect().toSeq
      == before, "reader saw a torn snapshot after a mid-commit crash")
    // the redelivered batch commits fully and the orphan gen is GC'd
    val (m2, i2) = Sinks.upsertCommitted(spark, dir, mutated, nBuckets = 8)
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
    Sinks.upsertCommitted(spark, dir, decoded, nBuckets = 8)
    val key = decoded.select($"event_id").as[String].head()
    val hit = Sinks.lookupCommitted(spark, dir, Seq(key))
    assert(hit.count() == 1)
    assert(hit.select($"event_id").as[String].head() == key)
    // pruning is structural: the plan's input files cover exactly the
    // buckets the keys hash to, not the whole table
    val expected = Seq(key).toDF("event_id")
      .select(Sinks.bucketCol("event_id", 8)).as[Long].collect().toSet
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
    Sinks.upsertCommitted(spark, dir, decoded, nBuckets = 8)
    // 3 single-row batches with maxGens=2: each adds a gen, compaction folds
    for (i <- 1 to 3) {
      val oneRow = decoded.where($"label" === "alice")
        .withColumn("label", lit(s"alice-v$i"))
      Sinks.upsertCommitted(spark, dir, oneRow, nBuckets = 8, maxGens = 2)
    }
    val gens = Sinks.readManifest(spark, dir).get.buckets.values.toSet
    assert(gens.size <= 2, s"compaction did not bound generations: $gens")
    assert(Sinks.readCommitted(spark, dir).count() == 14)
    assert(Sinks.readCommitted(spark, dir).where($"label" === "alice-v3").count() == 1)
  }
}
