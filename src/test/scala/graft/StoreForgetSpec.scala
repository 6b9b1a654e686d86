package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Fidelity
import graft.store.Tables

/**
 * Targeted series deletion (Tables.forgetDataset): the forgotten
 * series vanishes from raw and every rollup level; co-bucketed series
 * survive byte-exact; untouched buckets are not rewritten.
 */
class StoreForgetSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def ingest(root: String): Unit =
    Tables.ingestBatch(spark, root, TestSpark.longDF(Seq(
      ("a", "2024-01-01T00:00:00", 1.0),
      ("a", "2024-01-01T00:00:00.5", 3.0),
      ("b", "2024-01-01T00:00:00", 5.0),
      ("c", "2024-01-02T00:00:01", 7.0))))

  test("forget removes the series everywhere and leaves others intact") {
    val root = TestSpark.tmpDir("forget")
    ingest(root)
    val beforeOthers = Tables.readRaw(spark, root)
      .where(col("dataset_id") =!= "a")
      .orderBy("dataset_id", "ts_us").collect().toSeq

    Tables.forgetDataset(spark, root, "a")

    assert(Tables.readRaw(spark, root).where(col("dataset_id") === "a").isEmpty,
      "raw rows gone")
    assert(Tables.readRaw(spark, root)
      .orderBy("dataset_id", "ts_us").collect().toSeq == beforeOthers,
      "other series' raw rows byte-exact")
    for (f <- Fidelity.aggLevels) {
      assert(Tables.readRollup(spark, root, f).where(col("dataset_id") === "a").isEmpty,
        s"level ${f.name}: rollup buckets gone")
    }
    val s1 = Tables.readRollup(spark, root, Fidelity.S1)
      .collect().map(r => (r.getString(0), r.getDouble(4))).toSet
    assert(s1 == Set(("b", 5.0), ("c", 7.0)), "surviving aggregates exact")
  }

  test("forgetting an absent series is a no-op; forgetting the last series empties") {
    val root = TestSpark.tmpDir("forget2")
    ingest(root)
    val before = Tables.readRaw(spark, root)
      .orderBy("dataset_id", "ts_us").collect().toSeq
    Tables.forgetDataset(spark, root, "zz_never")
    assert(Tables.readRaw(spark, root)
      .orderBy("dataset_id", "ts_us").collect().toSeq == before)

    for (id <- Seq("a", "b", "c")) Tables.forgetDataset(spark, root, id)
    assert(Tables.readRaw(spark, root).isEmpty)
    assert(Tables.readRollup(spark, root, Fidelity.S1).isEmpty)
  }
}
