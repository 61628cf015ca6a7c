package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.Assertions._

/** Equality of two entries tables as multisets of rows. */
object EntriesAssert {

  /** Asserts `actual` and `expected` hold the same rows over `expected`'s
    * columns (by name). `children` is a set and `notes`/`facts` are maps,
    * so they compare in canonical order: sorted arrays, and maps as sorted
    * entry arrays (set ops reject MapType).
    */
  def assertSameEntries(actual: DataFrame, expected: DataFrame, clue: String = ""): Unit = {
    val cols = expected.columns.sorted.map(col).toIndexedSeq
    def canon(df: DataFrame) = df
      .withColumn("children", sort_array(col("children")))
      .withColumn("notes", sort_array(map_entries(col("notes"))))
      .withColumn("facts", sort_array(map_entries(col("facts"))))
      .select(cols: _*)
    assert(canon(actual).exceptAll(canon(expected)).isEmpty &&
      canon(expected).exceptAll(canon(actual)).isEmpty, clue)
  }
}
