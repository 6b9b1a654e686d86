package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Fidelity
import graft.query.{Histogram, RangeQuery, Search}

/**
 * Catalog search (test_index.py:231-261), fidelity routing thresholds
 * (src/index.py:252-275), histogram semantics (public/histogram.js:58-132)
 * and the scan guard (src/index.py:414, 445-448).
 */
class QueryOpsSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private lazy val catalogDF = TestSpark.longDF(Seq(
    ("test_query1", "2024-01-01T01:00:00", 1.0),
    ("test_query2", "2024-01-01T01:00:00", 2.0),
    ("test_query3", "2024-01-01T01:00:00", 3.0)))

  test("catalog search: substring hits, misses, empty query lists all (test_index.py:231-261)") {
    def ids(q: String) =
      Search.datasets(catalogDF, q).collect().map(_.getString(0)).toSeq
    assert(ids("") == Seq("test_query1", "test_query2", "test_query3"))
    assert(ids("query") == Seq("test_query1", "test_query2", "test_query3"))
    assert(ids("1") == Seq("test_query1"))
    assert(ids("2") == Seq("test_query2"))
    assert(ids("4") == Seq.empty)
  }

  test("search cap is 300 (src/index.py:219)") {
    val s = spark
    import s.implicits._
    val many = (0 until 400)
      .map(i => (f"ds$i%03d", 0L, 0.0)).toDF("dataset_id", "ts_us", "value")
    assert(Search.datasets(many, "ds").count() == 300)
  }

  test("fidelity router thresholds match src/index.py:252-275") {
    def rec(spanS: Double) = Fidelity.recommended(spanS).name
    assert(rec(499) == "full")
    assert(rec(500) == "1")
    assert(rec(4999) == "1")
    assert(rec(5000) == "10")
    assert(rec(49999) == "10")
    assert(rec(50000) == "100")
    assert(rec(499999) == "100")
    assert(rec(500000) == "1000")
    assert(rec(5000000 - 1) == "1000")
    assert(rec(5000000) == "10000")
    assert(rec(50000000 - 1) == "10000")
    assert(rec(50000000) == "100000")
    assert(rec(5e9) == "100000")
  }

  test("router refuses pathological spans like max_steps=500 (src/index.py:414)") {
    // FULL fidelity covers 500 s per file-span; 500 files => 250,000 s
    assertThrows[IllegalArgumentException] {
      RangeQuery.route(0L, 250001L * 1000000L, Some(Fidelity.Full))
    }
    // routed (unforced) spans never trip the guard
    RangeQuery.route(0L, 250001L * 1000000L, None)
  }

  test("histogram: equal-width buckets, last bar absorbs the max (histogram.js:58-132)") {
    val s = spark
    import s.implicits._
    val pts = Seq(0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 9.0, 9.0)
      .map(("h", 0L, _)).toDF("dataset_id", "ts_us", "value")
    // 10 distinct values < 30 => 10 buckets of width 0.9
    val got = Histogram.histogram(pts, "value", 30)
      .orderBy("bucket").collect()
    assert(got.length == 10)
    assert(got.map(_.getLong(0)).toSeq == (0L until 10L))
    assert(got.last.getLong(3) == 3) // three 9.0s in the closing bucket
    assert(got.map(_.getLong(3)).sum == 12)
  }

  test("histogram caps at 30 buckets (histogram.js:38) and handles constant series") {
    val s = spark
    import s.implicits._
    val many = spark.range(1000)
      .select(lit("h").as("dataset_id"), lit(0L).as("ts_us"),
        ($"id" % 500).cast("double").as("value"))
    assert(Histogram.histogram(many, "value", 30).count() == 30)

    val const = Seq.fill(5)(("h", 0L, 42.0)).toDF("dataset_id", "ts_us", "value")
    val one = Histogram.histogram(const, "value", 30).collect()
    assert(one.length == 1 && one.head.getLong(0) == 0 && one.head.getLong(3) == 5)
  }

  test("histogram bins no null value, and its one-task and two-pass plan shapes answer the same") {
    val s = spark
    import s.implicits._
    def bars(df: DataFrame): Seq[(Long, Double, Double, Long)] =
      Histogram.histogram(df, "value", 30).collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getLong(3))).toSeq.sorted
    def shapes(df: DataFrame): Seq[DataFrame] = {
      val (one, many) = (df.coalesce(1), df.repartition(3))
      assert(Histogram.onePartition(one) && !Histogram.onePartition(many))
      Seq(one, many)
    }
    // min, max and the distinct count skip nulls, and so do the bars:
    // 1, 2, 3, null, null is one value per bar
    val withNulls = Seq(Some(1.0), Some(2.0), Some(3.0), None, None)
      .map(v => ("h", 0L, v)).toDF("dataset_id", "ts_us", "value")
    for (df <- shapes(withNulls))
      assert(bars(df).map(b => (b._1, b._4)) == Seq((0L, 1L), (1L, 1L), (2L, 1L)))
    val empty = withNulls.limit(0)
    for (df <- shapes(Seq(("h", 0L, Option.empty[Double])).toDF("dataset_id", "ts_us", "value")) ++
        Seq(empty.coalesce(1), empty.repartition(3)))
      assert(bars(df).isEmpty, "an input with no value has no bar")
    val r = new scala.util.Random(7)
    val many = Seq.fill(500)(("h", 0L, math.round(r.nextGaussian() * 1000) / 10.0))
      .toDF("dataset_id", "ts_us", "value")
    val Seq(one, two) = shapes(many).map(bars)
    assert(one == two && one.size <= 30 && one.map(_._4).sum == 500)
  }

  test("visible-range min/max (axes.js:118-164)") {
    val mm = Histogram.minMax(
      TestSpark.longDF(Seq(
        ("m", "2024-01-01T01:00:00", -3.5), ("m", "2024-01-01T01:00:01", 9.25))))
      .head()
    assert(mm.getDouble(0) == -3.5 && mm.getDouble(1) == 9.25)
  }

  test("wide melt: one series per column, NaN rows dropped, prefixed names (upload_data.py:58-85)") {
    val s = spark
    import s.implicits._
    val wide = Seq(
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0, Double.NaN),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:01"), Double.NaN, 4.0),
      (java.sql.Timestamp.valueOf("2024-01-01 00:00:02"), 3.0, 6.0))
      .toDF("t", "cpu", "mem")
    val long = graft.ingest.Melt.wide(wide, "t", Seq("cpu", "mem"), "sys.")
      .orderBy("dataset_id", "ts_us").collect()
    // 6 cells - 2 NaNs = 4 points across 2 prefixed series
    assert(long.length == 4)
    assert(long.map(_.getString(0)).distinct.toSeq == Seq("sys.cpu", "sys.mem"))
    assert(long.map(_.getDouble(2)).toSeq == Seq(1.0, 3.0, 4.0, 6.0))
  }

  test("dataset id validation (src/index.py:112-115)") {
    assert(Fidelity.isLegalDatasetId("system.cpu.percent"))
    assert(Fidelity.isLegalDatasetId("a-b_c.9"))
    assert(!Fidelity.isLegalDatasetId("bad id"))
    assert(!Fidelity.isLegalDatasetId("a/../b"))
    assert(!Fidelity.isLegalDatasetId("a..b"))
    assert(!Fidelity.isLegalDatasetId(""))
  }
}
