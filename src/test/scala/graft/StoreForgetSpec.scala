package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Fidelity
import graft.store.{ManifestStore, Tables}

/**
 * Targeted series deletion (ManifestStore.forgetDataset): the
 * forgotten series vanishes from raw and every rollup level; other
 * series survive byte-exact; forgetting every series leaves a store
 * that reads typed empty raw and level frames.
 */
class StoreForgetSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def ingest(root: String): Unit =
    ManifestStore.ingestBatchAtomic(spark, root, TestSpark.longDF(Seq(
      ("a", "2024-01-01T00:00:00", 1.0),
      ("a", "2024-01-01T00:00:00.5", 3.0),
      ("b", "2024-01-01T00:00:00", 5.0),
      ("c", "2024-01-02T00:00:01", 7.0)))): Unit

  test("forget removes the series everywhere and leaves others intact") {
    val root = TestSpark.tmpDir("forget")
    ingest(root)
    val beforeOthers = ManifestStore.readRaw(spark, root)
      .where(col("dataset_id") =!= "a")
      .orderBy("dataset_id", "ts_us").collect().toSeq

    ManifestStore.forgetDataset(spark, root, "a")

    assert(ManifestStore.readRaw(spark, root).where(col("dataset_id") === "a").isEmpty,
      "raw rows gone")
    assert(ManifestStore.readRaw(spark, root)
      .orderBy("dataset_id", "ts_us").collect().toSeq == beforeOthers,
      "other series' raw rows byte-exact")
    for (f <- Fidelity.aggLevels) {
      assert(ManifestStore.readLevel(spark, root, f).where(col("dataset_id") === "a").isEmpty,
        s"level ${f.name}: rollup buckets gone")
    }
    val s1 = ManifestStore.readLevel(spark, root, Fidelity.S1)
      .collect().map(r => (r.getString(0), r.getDouble(4))).toSet
    assert(s1 == Set(("b", 5.0), ("c", 7.0)), "surviving aggregates exact")
  }

  test("forgetting an absent series is a no-op; forgetting the last series empties") {
    val root = TestSpark.tmpDir("forget2")
    ingest(root)
    val before = ManifestStore.readRaw(spark, root)
      .orderBy("dataset_id", "ts_us").collect().toSeq
    ManifestStore.forgetDataset(spark, root, "zz_never")
    assert(ManifestStore.readRaw(spark, root)
      .orderBy("dataset_id", "ts_us").collect().toSeq == before)

    for (id <- Seq("a", "b", "c")) ManifestStore.forgetDataset(spark, root, id)
    def typed(schema: org.apache.spark.sql.types.StructType) =
      schema.map(f => (f.name, f.dataType))
    val raw = ManifestStore.readRaw(spark, root)
    val level = ManifestStore.readLevel(spark, root, Fidelity.S1)
    assert(raw.isEmpty && typed(raw.schema) == typed(Tables.rawSchema))
    assert(level.isEmpty && typed(level.schema) == typed(Tables.rollupSchema))
  }
}
