package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Session artifacts ([[Artifacts]]) and the ownership of pins
  * ([[Pins]]).
  *
  * Pins: iterative finals and fan-out tables RETURN eagerly checkpointed
  * frames their operators cannot free; the consumer's scope frees them.
  * The contract pinned here:
  *  1. a scope frees the pins made under it and no others;
  *  2. a memoized artifact keeps the pins its value reads after the
  *     enclosing scope closes, INCLUDING when the memoized frame is a
  *     projection over its checkpoint (the common artifact shape) rather
  *     than a root LogicalRDD;
  *  3. a gate rebuilt after a scope computes the same result (a scope
  *     can only ever free storage, never change semantics);
  *  4. concurrent scopes free only their own thread's pins.
  *
  * Artifacts: one build per key under concurrent callers, nested builds,
  * retry after a failed build, the bucket spec as part of the key,
  * fingerprint-keyed rebuilds, and files that end with their session.
  */
class ArtifactsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rddOf(ds: org.apache.spark.sql.Dataset[_]) =
    org.apache.spark.sql.graftbridge.CheckpointBridge.checkpointedRdd(ds)

  private def registered(ds: org.apache.spark.sql.Dataset[_]): Boolean =
    spark.sparkContext.getPersistentRDDs.contains(rddOf(ds).get.id)

  private def uniq(family: String): String = s"${family}_${System.nanoTime()}"

  test("a scope frees a pin made under it and leaves one made outside it") {
    val outside = Pins((1 to 100).toDF("y"))
    val inside = Pins.scope {
      val pin = Pins((1 to 100).toDF("x"))
      assert(pin.count() == 100)
      pin
    }
    assert(!registered(inside), "the scope left its pin registered")
    assert(registered(outside), "the scope freed a pin it does not own")
    assert(outside.count() == 100)
    Pins.release(rddOf(outside).toSeq)
  }

  test("a memo keeps the checkpoint under its derived frame after its scope closes") {
    // artifact shape: Project ∘ Filter over the checkpoint — exactly how
    // lshLabels/dailyIdx hand out their memoized frames
    val fam = uniq("spec_keep")
    val (art, dropped) = Pins.scope {
      var scratch: org.apache.spark.sql.DataFrame = null
      val art = Artifacts.memo(spark, fam, "k") {
        scratch = Pins((1 to 5).toDF("z")) // made in the build, not read by its value
        Pins((1 to 50).toDF("x"))
          .where(col("x") > 10).select((col("x") * 2).as("y"))
      }
      (art, scratch)
    }
    assert(art.count() == 40, "the scope freed the checkpoint under a memoized frame")
    assert(!registered(dropped), "a pin the memo's value does not read outlived its build")
  }

  test("gr_pagerank rebuilt after a scope is unchanged") {
    val sf = "/root/testdata/sf0.001"
    val fn = SparkEntry.queries("gr_pagerank")
    val before = Pins.scope(fn(spark, sf).collect().toSeq)
    val after = Pins.scope(fn(spark, sf).collect().toSeq)
    assert(before == after)
  }

  test("8 threads, each in its own scope, read intact results after a sibling's scope closed") {
    val sf = SparkTestSession.smokeSf
    val gates = Seq("gr_pagerank", "gr_kcore", "gr_triangles", "gr_hits", "gr_closeness",
      "tx_textrank", "st_chisq", "st_km")
    val expected = gates.map(g => Pins.scope(SparkEntry.queries(g)(spark, sf).collect().toSet))
    val built = new java.util.concurrent.CountDownLatch(gates.size)
    val firstClosed = new java.util.concurrent.CountDownLatch(gates.size / 2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(gates.size)
    try {
      val futures = gates.zipWithIndex.map { case (g, i) =>
        pool.submit(new java.util.concurrent.Callable[Set[org.apache.spark.sql.Row]] {
          def call(): Set[org.apache.spark.sql.Row] = {
            val rows = Pins.scope {
              val df = SparkEntry.queries(g)(spark, sf)
              val own = org.apache.spark.sql.graftbridge.CheckpointBridge.checkpointedRdds(df)
                .map(_.id).toSet -- Artifacts.heldPins(spark)
              assert(own.nonEmpty, s"$g reads no pin of its own")
              built.countDown()
              built.await()
              // the second half reads only after the first half's scopes closed
              if (i >= gates.size / 2) firstClosed.await()
              df.collect().toSet
            }
            if (i < gates.size / 2) firstClosed.countDown()
            rows
          }
        })
      }
      val got = futures.map(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
      gates.indices.foreach(i => assert(got(i) == expected(i), s"${gates(i)} changed under a sibling's scope"))
    } finally pool.shutdownNow()
  }

  test("artifact ledger records memo build seconds by family") {
    Artifacts.memo(spark, "spec_ledger", "k")(Pins((1 to 10).toDF("x")))
    val snap = ArtifactLedger.snapshot
    assert(snap.contains("spec_ledger") && snap("spec_ledger") >= 0.0)
  }

  test("a memoized row count starts no job once built") {
    val sc = spark.sparkContext
    def jobsOf(group: String)(f: => Unit): Int = {
      sc.setJobGroup(group, group)
      try f finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val dir = java.nio.file.Files.createTempDirectory("graft-count").toFile
    try {
      (1 to 25).toDF("x").write.parquet(s"$dir/t.parquet")
      val g = uniq("spec_count")
      val first = jobsOf(g + "_1")(assert(Tables.cachedCount(spark, dir.toString, "t") == 25L))
      val again = jobsOf(g + "_2")(assert(Tables.cachedCount(spark, dir.toString, "t") == 25L))
      assert(first >= 1, "the first call must count the table")
      assert(again == 0, s"a built count started $again jobs")
    } finally deleteRec(dir)
  }

  test("8 threads asking for one key produce one build") {
    val fam = uniq("spec_threads")
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val futures = (1 to 8).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          def call(): Long = {
            start.await()
            Artifacts.table(spark, fam, "k") {
              builds.incrementAndGet()
              Thread.sleep(200) // keep the build open while the others arrive
              Seq((1L, "a"), (2L, "b")).toDF("k", "v")
            }.count()
          }
        })
      }
      start.countDown()
      assert(futures.map(_.get()) == Seq.fill(8)(2L))
    } finally pool.shutdown()
    assert(builds.get() == 1, s"${builds.get()} builds for one key")
  }

  test("a memo inside a memo build and a table inside a table build both work") {
    val outer = uniq("spec_nest_outer")
    val inner = uniq("spec_nest_inner")
    // Distinct keys of one map, the inner asked for while the outer builds:
    // a single computeIfAbsent would reject this nested update.
    val n = Artifacts.memo(spark, outer, "m") {
      Artifacts.memo(spark, inner, "m")(41L) + 1L
    }
    assert(n == 42L)
    assert(Artifacts.memo[Long](spark, inner, "m")(sys.error("must not rebuild")) == 41L)
    val df = Artifacts.table(spark, outer, "t") {
      Artifacts.table(spark, inner, "t")(Seq((1L, "dep")).toDF("k", "v"))
        .select($"k", concat(lit("outer-"), $"v").as("v"))
    }
    assert(df.as[(Long, String)].collect().toSeq == Seq((1L, "outer-dep")))
  }

  test("a nested build (table inside a table build) works and both " +
       "artifacts are served without rebuilding") {
    val outer = uniq("spec_reent_outer")
    val inner = uniq("spec_reent_inner")
    val df = Artifacts.table(spark, outer, "fp_r1") {
      val dep = Artifacts.table(spark, inner, "fp_r1")(
        Seq((1L, "dep")).toDF("k", "v"))
      dep.select($"k", concat(lit("outer-"), $"v").as("v"))
    }
    assert(df.as[(Long, String)].collect().toSeq == Seq((1L, "outer-dep")))
    // both artifacts committed, each independently servable
    assert(Artifacts.table(spark, inner, "fp_r1")(
      sys.error("must not rebuild")).count() == 1)
    assert(Artifacts.table(spark, outer, "fp_r1")(
      sys.error("must not rebuild")).count() == 1)
  }

  test("a build that throws is retried on the next call") {
    val fam = uniq("spec_retry")
    var calls = 0
    var pin: org.apache.spark.sql.DataFrame = null
    def build: Long = {
      calls += 1
      if (calls == 1) { pin = Pins((1 to 10).toDF("x")); sys.error("transient") } else 7L
    }
    intercept[RuntimeException](Artifacts.memo(spark, fam, "k")(build))
    assert(!registered(pin), "the failed build left its pin registered")
    assert(Artifacts.memo(spark, fam, "k")(build) == 7L)
    assert(Artifacts.memo(spark, fam, "k")(build) == 7L)
    assert(calls == 2, s"$calls builds: a failed build must not be cached")
    val tfam = uniq("spec_retry_table")
    intercept[RuntimeException](
      Artifacts.table(spark, tfam, "k")(sys.error("transient")).count())
    assert(Artifacts.table(spark, tfam, "k")(Seq(1L).toDF("k")).count() == 1)
  }

  test("table with bucketBy: scan is bucketed (no exchange needed on the " +
       "artifact side)") {
    val fam = uniq("spec_bucketed")
    def build = Seq.tabulate(64)(i => (i.toLong, s"v$i")).toDF("k", "v")
    val art = Artifacts.table(spark, fam, "fp_b1", bucketBy = Some((4, "k")))(build)
    assert(art.count() == 64)
    val probe = Seq((3L, "x"), (7L, "y")).toDF("k", "p")
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.queryExecution.toRdd.count() // AQE-final
      df.queryExecution.executedPlan.toString
    }
    val plan1 = planOf(art.join(probe.hint("shuffle_hash"), Seq("k")))
    assert(plan1.contains("Bucketed: true"),
      s"bucketed scan not used:\n$plan1")
    assert(plan1.contains("SelectedBucketsCount: 4 out of 4"), plan1)
  }

  test("a second bucket spec for the same family is a separate artifact") {
    val fam = uniq("spec_bspec")
    var builds = 0
    def build = { builds += 1; Seq.tabulate(64)(i => (i.toLong, s"v$i")).toDF("k", "v") }
    val by4 = Artifacts.table(spark, fam, "fp", bucketBy = Some((4, "k")))(build)
    val by8 = Artifacts.table(spark, fam, "fp", bucketBy = Some((8, "k")))(build)
    val byV = Artifacts.table(spark, fam, "fp", bucketBy = Some((4, "v")))(build)
    assert(builds == 3, s"$builds builds for three bucket specs")
    assert(Seq(by4, by8, byV).map(_.count()) == Seq(64L, 64L, 64L))
    // bucket ids from the file names (`part-…_<bucket>.c000…`)
    def buckets(df: org.apache.spark.sql.DataFrame): Set[Int] =
      df.inputFiles.map(f => """_(\d+)\.c\d+""".r.findFirstMatchIn(f).get.group(1).toInt).toSet
    assert(buckets(by4).forall(_ < 4) && buckets(by8).exists(_ >= 4),
      s"bucket ids: ${buckets(by4)} / ${buckets(by8)}")
    assert(by4.inputFiles.toSet.intersect(by8.inputFiles.toSet).isEmpty)
    assert(Artifacts.table(spark, fam, "fp", bucketBy = Some((8, "k")))(
      sys.error("must not rebuild")).count() == 64)
  }

  test("content fingerprint changes when the source mutates, " +
       "and a changed fingerprint keys a fresh build") {
    val src = java.nio.file.Files.createTempDirectory("graft-fp-src").toFile
    val f = new java.io.File(src, "part-0.parquet")
    java.nio.file.Files.write(f.toPath, "v1".getBytes("UTF-8"))
    val fp1 = Artifacts.fingerprint(src.getAbsolutePath)
    assert(fp1 == Artifacts.fingerprint(src.getAbsolutePath), "fingerprint unstable")
    // mutate content (length changes, so mtime granularity can't mask it)
    java.nio.file.Files.write(f.toPath, "v2-longer".getBytes("UTF-8"))
    val fp2 = Artifacts.fingerprint(src.getAbsolutePath)
    assert(fp1 != fp2, "regenerated source must change the fingerprint")
    // same key → served from the store; new fingerprint → fresh build
    var builds = 0
    val run = java.util.UUID.randomUUID().toString.take(8)
    def mk(fp: String) = Artifacts.table(spark, s"fp_spec_$run", fp) {
      builds += 1; Seq((1L, fp)).toDF("id", "fp")
    }
    mk(fp1); mk(fp1)
    assert(builds == 1, "unchanged content must be served from the store")
    mk(fp2)
    assert(builds == 2, "changed fingerprint must key a fresh build")
  }

  test("fingerprint survives a symlink cycle and fingerprints an " +
       "unreadable/missing path as absent, never NPEs") {
    val base = java.nio.file.Files.createTempDirectory("graft-fp-spec").toFile
    try {
      java.nio.file.Files.write(new java.io.File(base, "a.parquet").toPath,
        Array[Byte](1, 2, 3))
      val sub = new java.io.File(base, "sub"); assert(sub.mkdirs())
      java.nio.file.Files.write(new java.io.File(sub, "b.parquet").toPath,
        Array[Byte](4, 5))
      val clean = Artifacts.fingerprint(base.getAbsolutePath)
      assert(clean.nonEmpty)
      // symlink cycle: sub/loop -> base. The canonical-path visited set
      // terminates the walk.
      java.nio.file.Files.createSymbolicLink(
        new java.io.File(sub, "loop").toPath, base.toPath)
      val cycled = Artifacts.fingerprint(base.getAbsolutePath)
      assert(cycled.nonEmpty, "cycle walk must terminate with a fingerprint")
      // missing path: "absent", not an exception (the build owns the error)
      assert(Artifacts.fingerprint(base.getAbsolutePath + "/nope").nonEmpty)
    } finally deleteRec(base)
  }

  test("a table's files end with its session: a forked JVM builds one, " +
       "stops, and the artifact dir is gone") {
    val flagDir = java.nio.file.Files.createTempDirectory("graft-lifecycle").toFile
    val javaBin = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar",
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val cmd = Seq(javaBin) ++ addOpens ++ Seq(
      "-Xmx1g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
      s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
      "-cp", System.getProperty("java.class.path"),
      "graft.ArtifactLifecycleChild", flagDir.getAbsolutePath)
    val log = new java.io.File(flagDir, "child.log")
    val proc = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true).redirectOutput(log).start()
    def childLog: String =
      if (log.exists()) new String(java.nio.file.Files.readAllBytes(log.toPath), "UTF-8")
        .takeRight(2000) else "<no child.log>"
    def flag(name: String): String =
      new String(java.nio.file.Files.readAllBytes(
        new java.io.File(flagDir, name).toPath), "UTF-8")
    try {
      assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
        s"child JVM did not exit; log:\n$childLog")
      assert(proc.exitValue() == 0, s"child failed; log:\n$childLog")
      val dir = new java.io.File(flag("artifact-dir"))
      assert(flag("rows") == "1:child", s"child read ${flag("rows")}")
      assert(flag("existed") == "true", s"$dir was never written")
      assert(!dir.exists(), s"$dir outlived its session")
    } finally {
      proc.destroyForcibly(): Unit
      deleteRec(flagDir)
    }
  }

  private def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      .foreach(deleteRec)
    f.delete(): Unit
  }
}
