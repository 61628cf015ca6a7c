package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  // One shared local session for the whole test JVM (suites run in one fork).
  lazy val spark: SparkSession = GraftSession.local(cpus = "4", appName = "graft-test")
  /** The smallest generated scale factor (TESTDATA.md). */
  val smokeSf = "/root/testdata/sf0.001"
}

class RelationalSpec extends AnyFunSuite {
  val sf = "/root/testdata/sf0.001"
  lazy val spark: SparkSession = SparkTestSession.spark

  test("entry flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query runs non-empty on the smoke scale factor") {
    import org.apache.spark.sql.graftbridge.CheckpointBridge
    val sc = spark.sparkContext
    def pins: Set[Int] = sc.getPersistentRDDs.collect {
      case (id, rdd) if CheckpointBridge.isLocallyCheckpointed(rdd) => id
    }.toSet
    SparkEntry.queries.foreach { case (name, fn) =>
      val before = pins
      val n = Pins.scope(fn(spark, sf).count())
      assert(n > 0, s"query $name returned 0 rows at sf0.001")
      // a scope frees every pin its gate made, except those a memo keeps
      val left = pins -- before -- Artifacts.heldPins(spark)
      assert(left.isEmpty, s"query $name left ${left.size} pins registered after its scope")
    }
  }

  test("every query has a matching oracle or is explicitly rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    // rows-only queries are allowed but must be a deliberate, named set
    val rowsOnlyAllowed = Set("ann_lsh_buckets", "mm_features")
    assert((missing -- rowsOnlyAllowed).isEmpty,
      s"queries without oracle SQL: ${missing.mkString(", ")}")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without queries: ${orphans.mkString(", ")}")
  }

  test("a1 counts sum to total event count") {
    import spark.implicits._
    val total = Tables.events(spark, sf).count()
    val byType = SparkEntry.queries("a1_count_by_type")(spark, sf)
      .agg(org.apache.spark.sql.functions.sum($"n")).as[Long].head()
    assert(byType == total)
  }

  test("q1 pagination window is exactly the requested page") {
    import spark.implicits._
    val rows = SparkEntry.queries("q1_page")(spark, sf).select($"rn").as[Long].collect()
    assert(rows.toSet == (41L to 60L).toSet)
  }

  test("e2 collect_set has set semantics (no duplicate types per user)") {
    import spark.implicits._
    val bad = SparkEntry.queries("e2_collect_set")(spark, sf)
      .select($"types").as[String].collect()
      .map(_.split(",").toSeq)
      .count(ts => ts.distinct.size != ts.size)
    assert(bad == 0)
  }

  test("s6 merge prefers updates over existing rows") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
    // user with events in both halves must carry the second-half value
    val merged = SparkEntry.queries("s6_upsert_merge")(spark, sf)
    val withUpdate = ev.where($"event_id" > 500 && $"event_id" <= 700)
      .groupBy($"user_id")
      .agg(org.apache.spark.sql.functions.max_by($"value", $"event_id").as("expect"))
    val joined = merged.join(withUpdate, "user_id")
      .where($"value" =!= $"expect").count()
    assert(joined == 0)
  }

  test("tpch_q21 window form: one lineitem scan, no Expand") {
    val plan = operators.Relational.tpchQ21(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan
    val leaves = plan.collectLeaves().map(_.toString)
    assert(leaves.count(_.contains("lineitem")) == 1,
      s"expected ONE lineitem scan:\n${leaves.mkString("\n")}")
    assert(plan.collect { case e if e.nodeName == "Expand" => e }.isEmpty,
      "q21 must not plan an Expand")
  }
}
