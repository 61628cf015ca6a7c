package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided synthetic tables (TESTDATA.md).
  *
  * One parquet file per table under `/root/testdata/sf{N}/`. Schemas are
  * fixed by the generator; we read without inference overrides so Catalyst
  * sees parquet's own types and can push filters/prune columns into the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Table row count, a session artifact per (dir, table): one count
    * job on first use, a map hit after.
    */
  def cachedCount(spark: SparkSession, dir: String, name: String): Long =
    Artifacts.memo(spark, "table_count", s"$dir/$name")(t(spark, dir, name).count())

  def lineitem(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "customer")
  def part(spark: SparkSession, dir: String): DataFrame       = t(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame   = t(spark, dir, "supplier")
  def nation(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame     = t(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame  = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")
}
