package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Fidelity
import graft.query.RangeQuery
import graft.store.Tables

/**
 * Port of the reference's `test_agg_combine` (test/test_index.py:137-189)
 * plus the late-data variant (FIXTURES.md §3): three successive 4-point
 * batches of contiguous 10 Hz data must fold into exact merged rollups
 * (A2 across write batches), and a batch with timestamps EARLIER than
 * already-merged buckets must still update them (unbounded lateness,
 * src/index.py:328-374, 536-538).
 */
class IngestMergeSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def batch(startTenths: Int): Seq[(String, String, Double)] =
    (0 until 4).map { i =>
      val t = startTenths + i
      val iso = f"2024-01-01T03:00:0${t / 10}%d.${t % 10}%d00"
      ("test_agg_combine", iso, Seq(10.0, 9.0, 8.0, 7.0)(i % 4))
    }

  test("three batches merge to the reference's golden 1 s buckets (test_index.py:137-189)") {
    val root = TestSpark.tmpDir("graft_combine")
    for (b <- Seq(0, 4, 8))
      Tables.ingestBatch(spark, root, TestSpark.longDF(batch(b)))

    val full = Tables.readRaw(spark, root)
    assert(full.count() == 12)

    val r1 = Tables.readRollup(spark, root, Fidelity.S1)
      .orderBy("bucket_s").collect()
    assert(r1.length == 2)
    val Row(_, b0, mn0: Double, mx0: Double, sm0: Double, c0: Long) = r1(0): @unchecked
    assert(b0 == TestSpark.isoUs("2024-01-01T03:00:00") / 1000000L)
    assert(mn0 == 7.0 && mx0 == 10.0 && c0 == 10 && sm0 / c0 == 8.7)
    val Row(_, b1, mn1: Double, mx1: Double, sm1: Double, c1: Long) = r1(1): @unchecked
    assert(b1 == TestSpark.isoUs("2024-01-01T03:00:01") / 1000000L)
    assert(mn1 == 7.0 && mx1 == 8.0 && c1 == 2 && sm1 / c1 == 7.5)
  }

  test("a LATE batch folds into already-merged buckets (unbounded lateness, §2.8)") {
    val root = TestSpark.tmpDir("graft_late")
    for (b <- Seq(0, 4, 8))
      Tables.ingestBatch(spark, root, TestSpark.longDF(batch(b)))
    // late batch: one point inside the first (already merged) bucket,
    // with a new global minimum
    Tables.ingestBatch(spark, root,
      TestSpark.longDF(Seq(("test_agg_combine", "2024-01-01T03:00:00.050", 1.5))))

    val r1 = Tables.readRollup(spark, root, Fidelity.S1)
      .orderBy("bucket_s").collect()
    assert(r1.length == 2)
    val Row(_, _, mn0: Double, mx0: Double, sm0: Double, c0: Long) = r1(0): @unchecked
    assert(mn0 == 1.5 && mx0 == 10.0 && c0 == 11 && sm0 == 88.5)
    // coarser levels got the same late fold via the cascade
    val r10k = Tables.readRollup(spark, root, Fidelity.S10000).collect()
    assert(r10k.map(_.getLong(5)).sum == 13)
    assert(r10k.map(_.getDouble(2)).min == 1.5)
  }

  test("dedup-on-ingest drops replayed and in-batch duplicate points (fixes index.py:39-40)") {
    val root = TestSpark.tmpDir("graft_dedup")
    val pts = batch(0)
    Tables.ingestBatch(spark, root, TestSpark.longDF(pts), dedup = true)
    // replay the identical batch + one genuinely new point + an in-batch dup
    Tables.ingestBatch(spark, root,
      TestSpark.longDF(pts ++ Seq(
        ("test_agg_combine", "2024-01-01T03:00:02.000", 5.0),
        ("test_agg_combine", "2024-01-01T03:00:02.000", 5.0))), dedup = true)
    assert(Tables.readRaw(spark, root).count() == 5)
    val total = Tables.readRollup(spark, root, graft.model.Fidelity.S1)
      .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0)
    assert(total == 5)
    // default path replicates the reference's double-count
    val root2 = TestSpark.tmpDir("graft_dedup_off")
    Tables.ingestBatch(spark, root2, TestSpark.longDF(pts))
    Tables.ingestBatch(spark, root2, TestSpark.longDF(pts))
    assert(Tables.readRaw(spark, root2).count() == 8)
  }

  test("misses return empty, not errors (test_index.py:192-228)") {
    val root = TestSpark.tmpDir("graft_empty")
    Tables.ingestBatch(spark, root,
      TestSpark.longDF(Seq(("test_empty", "2024-01-01T02:00:00.800", 10.0))))

    val raw = Tables.readRaw(spark, root)
    // unknown dataset
    assert(RangeQuery.full(raw, "nope",
      TestSpark.isoUs("2024-01-01T00:00:00"), TestSpark.isoUs("2024-01-02T00:00:00")).count() == 0)
    // disjoint range
    assert(RangeQuery.full(raw, "test_empty",
      TestSpark.isoUs("2024-02-01T00:00:00"), TestSpark.isoUs("2024-02-02T00:00:00")).count() == 0)
    // agg-level miss
    assert(RangeQuery.agg(Tables.readRollup(spark, root, Fidelity.S10), "test_empty",
      TestSpark.isoUs("2024-02-01T00:00:00") / 1000000L,
      TestSpark.isoUs("2024-02-02T00:00:00") / 1000000L).count() == 0)
    // positive control
    assert(RangeQuery.full(raw, "test_empty",
      TestSpark.isoUs("2024-01-01T00:00:00"), TestSpark.isoUs("2024-01-02T00:00:00")).count() == 1)
    // a never-written store reads as empty
    assert(Tables.readRaw(spark, TestSpark.tmpDir("graft_void")).count() == 0)
  }

  test("large put: 2 batches x 5000 points at 10 Hz read back complete (test_index.py:264-300)") {
    val s = spark
    import s.implicits._
    val root = TestSpark.tmpDir("graft_large")
    val t0 = TestSpark.isoUs("2024-01-01T02:00:00")
    for (b <- 0 until 2) {
      val df = spark.range(5000)
        .select(
          org.apache.spark.sql.functions.lit("large.ds").as("dataset_id"),
          (org.apache.spark.sql.functions.lit(t0 + b * 500000000L) +
            $"id" * 100000L).as("ts_us"),
          ($"id" % 100).cast("double").as("value"))
      Tables.ingestBatch(spark, root, df)
    }
    assert(RangeQuery.full(Tables.readRaw(spark, root), "large.ds",
      t0, t0 + 1000000000L).count() == 10000)
    // rollup pyramid is consistent: counts sum to 10000 at every level
    for (f <- Fidelity.aggLevels) {
      val total = Tables.readRollup(spark, root, f)
        .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0)
      assert(total == 10000, s"level ${f.name}")
    }
  }

  test("partition hint for a 50k-series batch stays bounded by the bucket count") {
    import org.apache.spark.sql.functions.{col, concat, lit}
    import spark.implicits._
    val t0 = TestSpark.isoUs("2024-01-01T02:00:00")
    // 50k distinct series, 1 point each: hash-bucketing means the hint
    // enumerates (levels × ≤DsBuckets × windows) partitions — never a
    // 50k-element driver array, and the merge never commits 50k dirs
    val big = spark.range(50000)
      .select(
        concat(lit("series_"), col("id")).as("dataset_id"),
        (lit(t0) + $"id").as("ts_us"),
        lit(1.0).as("value"))
    val bigHint = Tables.partitionHint(big)
    assert(bigHint.nonEmpty, "bucketed hint must never decline on cardinality")
    assert(bigHint.get.size <= 6 * Tables.DsBuckets * 2,
      s"hint not bounded by buckets: ${bigHint.get.size}")

    // a small batch enumerates only ITS buckets: 6 levels × (distinct
    // buckets of 3 series) × 1 window each
    val small = spark.range(3)
      .select(
        concat(lit("s"), col("id")).as("dataset_id"),
        (lit(t0) + $"id" * 1000000L).as("ts_us"),
        lit(1.0).as("value"))
    val nb = small.select(Tables.dsBucket(col("dataset_id"))).distinct().count()
    val hint = Tables.partitionHint(small)
    assert(hint.nonEmpty && hint.get.size == 6 * nb)
  }

  test("expireBefore deletes whole aged windows, keeps straddlers, is metadata-only") {
    val root = TestSpark.tmpDir("graft_ttl")
    // two points 3 weeks apart → two distinct raw win_s partitions
    val early = TestSpark.isoUs("2024-01-02T00:00:00")
    val late = TestSpark.isoUs("2024-01-23T00:00:00")
    Tables.ingestBatch(spark, root, TestSpark.longDF(Seq(
      ("ttl.a", "2024-01-02T00:00:00", 1.0),
      ("ttl.a", "2024-01-23T00:00:00", 2.0))))
    val rollupBefore = Tables.readRollup(spark, root, graft.model.Fidelity.S1).count()

    // cutoff INSIDE the early point's week: straddling window survives
    val (r0, a0) = Tables.expireBefore(spark, root, early / 1000000L + 3600)
    assert(r0 == 0 && a0 == 0, s"straddling windows must be kept ($r0, $a0)")
    assert(Tables.readRaw(spark, root).count() == 2)

    // cutoff past the early window's END, before the late one's: one
    // raw week dies; the 28-day rollup partitions still straddle → kept
    val bound = (early / 1000000L / Tables.RawWindowS + 1) * Tables.RawWindowS
    val (r1, a1) = Tables.expireBefore(spark, root, bound)
    assert(r1 == 1, s"expected exactly the aged raw window deleted, got $r1")
    assert(a1 == 0, "28-day rollup partitions straddle this cutoff")
    val vals = Tables.readRaw(spark, root).select("ts_us").collect().map(_.getLong(0))
    assert(vals.toSeq == Seq(late))
    assert(Tables.readRollup(spark, root, graft.model.Fidelity.S1).count() == rollupBefore)

    // cutoff beyond everything: raw AND rollups fully expire
    val (r2, a2) = Tables.expireBefore(spark, root, 4102444800L) // 2100-01-01
    assert(r2 >= 1 && a2 >= 1, s"far-future cutoff must clear the store ($r2, $a2)")
    assert(Tables.readRaw(spark, root).count() == 0)
    assert(Tables.readRollup(spark, root, graft.model.Fidelity.S1).count() == 0)
  }

  test("compactRaw merges per-batch sliver files losslessly") {
    import graft.store.ManifestStore
    val root = TestSpark.tmpDir("graft_compact")
    // 8 single-point atomic commits → 8 raw sliver commits
    for (b <- 0 until 8)
      ManifestStore.ingestBatchAtomic(spark, root, TestSpark.longDF(batch(b).take(1))): Unit
    def rawLive(): Seq[String] =
      ManifestStore.latest(spark, root)._2.filter(_.startsWith("r-"))
    def dataFiles(): Seq[java.nio.file.Path] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
      for (d <- rawLive())
        java.nio.file.Files.walk(java.nio.file.Paths.get(
          graft.store.IndexCore.dataDir(ManifestStore.storeDir(root), d)))
          .forEach(p => if (p.toString.endsWith(".parquet")) out += p)
      out.toSeq
    }
    val before = ManifestStore.readRaw(spark, root)
      .orderBy("dataset_id", "ts_us").collect().toSeq
    val filesBefore = dataFiles().size
    assert(rawLive().size == 8 && filesBefore >= 8,
      s"expected 8 raw commits and ≥8 sliver files, got ${rawLive().size} / $filesBefore")

    ManifestStore.compactRawTiered(spark, root, fanIn = Int.MaxValue)
    val after = ManifestStore.readRaw(spark, root)
      .orderBy("dataset_id", "ts_us").collect().toSeq
    assert(after == before, "compaction must be lossless")
    assert(rawLive().size == 1, s"one raw commit after the fold: ${rawLive()}")
    val filesAfter = dataFiles().size
    assert(filesAfter < filesBefore,
      s"compaction should shrink file count: $filesBefore -> $filesAfter")
    assert(filesAfter <= 2, s"one raw commit should hold ~1 file: $filesAfter")
  }

  test("repairRollups restores raw-truth after a corrupting merge and clears orphans") {
    import org.apache.spark.sql.functions._
    val root = TestSpark.tmpDir("graft_repair_spec")
    for (b <- Seq(0, 4, 8))
      Tables.ingestBatch(spark, root, TestSpark.longDF(batch(b)))
    def r1: Seq[Row] = Tables.readRollup(spark, root, Fidelity.S1)
      .select("dataset_id", "bucket_s", "min_v", "max_v", "sum_v", "cnt")
      .orderBy("dataset_id", "bucket_s").collect().toSeq
    val truth = r1

    val coarseUs = 100000L * 1000000L
    val lo = (TestSpark.isoUs("2024-01-01T03:00:00") / coarseUs) * coarseUs
    // corrupt: re-merge duplicate +1000-offset partials for the slice
    Tables.mergeRollups(spark, root, Tables.allLevelPartials(
      Tables.readRaw(spark, root).select("dataset_id", "ts_us", "value")
        .withColumn("value", col("value") + lit(1000.0))))
    assert(r1 != truth, "negative control: the corrupting merge must show")

    Tables.repairRollups(spark, root, lo, lo + coarseUs)
    assert(r1 == truth, "repair must restore the raw-derived rollups exactly")

    // orphan case: merge rollup rows with NO raw backing into an
    // adjacent slice, then repair it — the orphans must vanish, even
    // when their whole partition empties (directory-grain cleanup)
    val orphanUs = TestSpark.isoUs("2024-01-05T00:00:00")
    val lo2 = (orphanUs / coarseUs) * coarseUs
    Tables.mergeRollups(spark, root, Tables.allLevelPartials(
      TestSpark.longDF(Seq(
        ("test_agg_combine", "2024-01-05T00:00:00.000", 42.0)))))
    assert(Tables.readRollup(spark, root, Fidelity.S1)
      .where(col("bucket_s") === orphanUs / 1000000L).count() == 1)
    Tables.repairRollups(spark, root, lo2, lo2 + coarseUs)
    assert(Tables.readRollup(spark, root, Fidelity.S1)
      .where(col("bucket_s") === orphanUs / 1000000L).count() == 0,
      "orphaned rollup rows must not survive a repair of their slice")
    assert(r1 == truth, "repairing an empty slice must not disturb real data")
  }
}
