package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftApi
import graft.model.Fidelity
import graft.query.{Histogram, Search}
import graft.sim.Similarity
import graft.store.{IndexCore, ManifestStore}
import graft.text.TextIndex

/**
 * The interactive read path: the memo of immutable index aggregates
 * answers only for the live commit set it was folded from, and each
 * dashboard read op stays within its Spark-job budget (counted, not
 * timed — job counts do not depend on the host).
 */
class ReadPathSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private def docs(rows: (Long, String)*): DataFrame = rows.toDF("doc_id", "text")

  private def search(idx: String): Seq[(Long, Long, Long, Long)] =
    TextIndex.searchBm25(spark, idx, Seq("merge", "window", "scan"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

  /** The same search with the memo emptied first: a cold fold from disk. */
  private def cold(idx: String): Seq[(Long, Long, Long, Long)] = {
    IndexCore.dropMemo(idx)
    search(idx)
  }

  test("the memo folds once per live commit set and never answers from a superseded one") {
    val dir = TestSpark.tmpDir("memo_unit")
    TextIndex.ingestShard(spark, dir, docs((0L, "merge sort")), "doc_id", "text")
    var fetches = 0
    def read(): Map[String, Int] = IndexCore.memo(spark, dir, Seq("x")) { (_, missing) =>
      fetches += 1
      missing.map(_ -> fetches).toMap
    }
    assert(read() == Map("x" -> 1) && read() == Map("x" -> 1),
      "a warm read must not fetch again")
    TextIndex.ingestShard(spark, dir, docs((1L, "window scan")), "doc_id", "text")
    assert(read() == Map("x" -> 2), "a new commit must miss the memo")
    IndexCore.vacuum(spark, dir)
    assert(read() == Map("x" -> 3), "vacuum drops the dir's values")
  }

  test("BM25 through the memo equals a cold read across commit, delete, fold and vacuum") {
    val idx = TestSpark.tmpDir("memo_bm25")
    TextIndex.ingestShard(spark, idx,
      docs((0L, "spark merge sort merge"), (1L, "window scan window window")),
      "doc_id", "text")
    val r1 = search(idx)
    assert(search(idx) == r1 && cold(idx) == r1, "warm read drifted")
    // commit: df and avgdl move, so a stale memo would mis-score
    TextIndex.ingestShard(spark, idx,
      docs((2L, "merge window table"), (4L, "scan scan scan merge")),
      "doc_id", "text")
    val r2 = search(idx)
    assert(r2 != r1, "the new commit must change the ranking")
    assert(r2 == cold(idx), "a read after a commit answered from the old set")
    // a tombstone's exact deltas move df and stats again
    TextIndex.forgetDocs(spark, idx, Seq(4L))
    val r3 = search(idx)
    assert(r3 == cold(idx), "a read after a delete answered from the old set")
    assert(!r3.exists(_._2 == 4L), "a deleted doc must not rank")
    // fold: a new live set with the same content answers the same
    search(idx)
    TextIndex.compact(spark, idx)
    val r4 = search(idx)
    assert(r4 == r3, "the fold changed the answer")
    IndexCore.vacuum(spark, idx)
    assert(search(idx) == r4, "a cold read after vacuum disagrees")
  }

  test("IVF centroids through the memo follow a rebuild") {
    val idx = TestSpark.tmpDir("memo_ivf")
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array(math.cos(i * 0.3), math.sin(i * 0.3), (i % 5).toDouble)))
    Similarity.ivfIndexBuild(spark, idx, vecs.toDF("vec_id", "v"), 7L)
    val q = Seq((-1L, Array(1.0, 0.2, 3.0))).toDF("vec_id", "v")
    def query(): Seq[(Long, Long)] = Similarity.ivfIndexQuery(spark, idx, q, 5, 2)
      .collect().map(r => (r.getLong(1), r.getLong(3))).toSeq.sortBy(_._2)
    val warm = { query(); query() }
    IndexCore.dropMemo(idx)
    assert(query() == warm, "warm centroids drifted")
    assert(Similarity.ivfIndexRebuild(spark, idx, 7L), "rebuild published")
    val after = query()
    IndexCore.dropMemo(idx)
    assert(query() == after, "a read after a rebuild answered from the old centroids")
  }

  test("a top-k rank counts 1..n when the limit folds away and the sort spreads over partitions") {
    val idx = TestSpark.tmpDir("topk_small")
    val corpus = docs((0L, "merge sort merge sort"), (1L, "merge sort"),
      (2L, "sort merge"), (3L, "window scan"))
    TextIndex.ingestShard(spark, idx, corpus, "doc_id", "text")
    // a local corpus folds the verify stage to a local relation known to
    // hold <= k rows, so the optimizer drops the limit; with AQE off the
    // global sort left in its place range-partitions its output
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val got = TextIndex.searchPhrase(spark, idx, corpus, "doc_id", "text", "merge sort", 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq((1L, 0L, 2L), (2L, 1L, 1L)), s"phrase ranks $got")
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("read-op job budget: token buckets 0, BM25 <= 3 warm and one more on a memo miss, chart 1, annotation write 1") {
    val idx = TestSpark.tmpDir("jobs_bm25")
    TextIndex.ingestShard(spark, idx,
      docs((0L, "spark merge sort merge"), (1L, "window scan window window"),
        (2L, "merge window table")), "doc_id", "text")
    TextIndex.ingestShard(spark, idx,
      docs((3L, "totally unrelated words here"), (4L, "scan scan scan merge")),
      "doc_id", "text")
    val (buckets, bucketJobs) =
      TestSpark.countJobs(TextIndex.bucketsOf(Seq("merge", "window", "merge").toDF("k")))
    assert(bucketJobs == 0, s"the token-bucket step started $bucketJobs jobs")
    assert(buckets.distinct == buckets && buckets.size <= 2, s"buckets $buckets")
    IndexCore.dropMemo(idx)
    val (coldRows, coldJobs) = TestSpark.countJobs(search(idx))
    val (rows, searchJobs) = TestSpark.countJobs(search(idx))
    assert(rows == coldRows && searchJobs > 0 && searchJobs <= 3,
      s"a warm searchBm25 started $searchJobs jobs")
    // a memo miss folds stats and df in ONE extra collect
    assert(coldRows.nonEmpty && coldJobs == searchJobs + 1,
      s"a cold searchBm25 (memo miss) started $coldJobs jobs, a warm one $searchJobs")

    val root = TestSpark.tmpDir("jobs_chart")
    for (i <- 0 until 3)
      ManifestStore.ingestBatchAtomic(spark, root, TestSpark.longDF(Seq(
        ("a", s"2024-01-01T00:00:0$i", i.toDouble), ("b", s"2024-01-01T00:00:0$i", 9.0))))
    val lo = TestSpark.isoUs("2024-01-01T00:00:00") / 1000000L
    val (chart, chartJobs) = TestSpark.countJobs(
      ManifestStore.readLevelRange(spark, root, Fidelity.S1, "a", lo, lo + 2).collect())
    assert(chart.length == 3 && chartJobs == 1, s"a chart read started $chartJobs jobs")

    val api = new GraftApi(spark, root, TestSpark.tmpDir("jobs_comments") + "/c")
    api.createComment(1L, "first", Seq("t")) // founds the log
    val (_, writeJobs) = TestSpark.countJobs(api.createComment(2L, "second", Seq("t")))
    assert(writeJobs == 1, s"an annotation write started $writeJobs jobs")
    val (got, readJobs) = TestSpark.countJobs(api.comments(0L, 10L).collect())
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    assert(readJobs == 1, s"a comments read started $readJobs jobs")
  }

  private def ids(df: DataFrame): Seq[String] = df.collect().map(_.getString(0)).toSeq

  test("dashboard read-op job budget: chart 1, its histogram 1, comments 1, catalog 0 warm and 1 after an ingest, one-vector ANN <= 2, warm BM25 3") {
    val root = TestSpark.tmpDir("jobs_dash")
    for (i <- 0 until 3)
      ManifestStore.ingestBatchAtomic(spark, root, TestSpark.longDF(Seq(
        ("a", s"2024-01-01T00:00:0$i", i.toDouble), ("b", s"2024-01-01T00:00:0$i", 9.0))))
    val api = new GraftApi(spark, root, TestSpark.tmpDir("jobs_dash_comments") + "/c")
    // three live level dirs: the chart folds in one task
    def chart(): DataFrame = api.getData("a",
      TestSpark.isoUs("2024-01-01T00:00:00"), TestSpark.isoUs("2024-01-01T00:00:02"),
      Some(Fidelity.S1))
    val (rows, chartJobs) = TestSpark.countJobs(chart().collect())
    assert(rows.length == 3 && chartJobs == 1, s"a chart read started $chartJobs jobs")
    val (bars, histJobs) =
      TestSpark.countJobs(Histogram.histogram(chart(), "mean_v", 30).collect())
    assert(bars.map(_.getLong(3)).sum == 3 && histJobs == 1,
      s"the histogram of a one-task chart started $histJobs jobs")

    api.createComment(1L, "first", Seq("t"))
    api.createComment(2L, "second", Seq("t"))
    val (got, commentJobs) = TestSpark.countJobs(api.comments(0L, 10L).collect())
    assert(got.length == 2 && commentJobs == 1, s"a comments read started $commentJobs jobs")

    api.datasets("")
    val (warm, warmJobs) = TestSpark.countJobs(ids(api.datasets("")))
    assert(warm == Seq("a", "b") && warmJobs == 0, s"a warm catalog search started $warmJobs jobs")
    ManifestStore.ingestBatchAtomic(spark, root,
      TestSpark.longDF(Seq(("c", "2024-01-01T00:00:05", 1.0))))
    val (fresh, freshJobs) = TestSpark.countJobs(ids(api.datasets("")))
    assert(fresh == Seq("a", "b", "c") && freshJobs == 1,
      s"a catalog search after an ingest started $freshJobs jobs")

    val ann = TestSpark.tmpDir("jobs_ann")
    val vecs = (0 until 40).map(i =>
      (i.toLong, Array(math.cos(i * 0.3), math.sin(i * 0.3), (i % 5).toDouble)))
    Similarity.ivfIndexBuild(spark, ann, vecs.toDF("vec_id", "v"), 7L)
    val q = Seq((-1L, Array(1.0, 0.2, 3.0))).toDF("vec_id", "v")
    api.annQuery(ann, q, 5, 2).collect() // folds the centroid memo
    val (nn, annJobs) = TestSpark.countJobs(api.annQuery(ann, q, 5, 2).collect())
    assert(nn.length == 5 && annJobs <= 2, s"a one-vector ANN query started $annJobs jobs")

    val idx = TestSpark.tmpDir("jobs_dash_bm25")
    TextIndex.ingestShard(spark, idx,
      docs((0L, "spark merge sort merge"), (1L, "window scan window window")),
      "doc_id", "text")
    search(idx)
    val (_, bm25Jobs) = TestSpark.countJobs(search(idx))
    assert(bm25Jobs == 3, s"a warm BM25 search started $bm25Jobs jobs")
  }

  test("the memoized catalog equals a scan of the live raw table across ingest, forget, fold, vacuum, an empty store and a branch") {
    def check(root: String, what: String): Seq[String] = {
      val api = new GraftApi(spark, root, s"$root-comments")
      for (q <- Seq("", "s", "A", "zz")) {
        val got = api.datasets(q)
        val want = Search.datasets(ManifestStore.readRaw(spark, root), q)
        assert(got.schema.map(f => (f.name, f.dataType)) ==
          want.schema.map(f => (f.name, f.dataType)), s"$what: schema")
        assert(ids(got) == ids(want), s"$what: datasets('$q')")
      }
      ids(api.datasets(""))
    }
    def put(root: String, series: String*): Unit =
      ManifestStore.ingestBatchAtomic(spark, root, TestSpark.longDF(
        series.map(s => (s, "2024-01-01T00:00:00", 1.0))))
    val root = TestSpark.tmpDir("catalog_memo")
    put(root, "sA")
    assert(check(root, "after series A") == Seq("sA"))
    put(root, "sB")
    assert(check(root, "after series B") == Seq("sA", "sB"))
    ManifestStore.forgetDataset(spark, root, "sA")
    assert(check(root, "after forgetting A") == Seq("sB"))
    put(root, "sC")
    ManifestStore.compactRawTiered(spark, root)
    assert(check(root, "after a raw fold") == Seq("sB", "sC"))
    ManifestStore.vacuum(spark, root)
    assert(check(root, "after vacuum") == Seq("sB", "sC"))
    val empty = TestSpark.tmpDir("catalog_empty")
    assert(check(empty, "an empty store").isEmpty)
    val branch = TestSpark.tmpDir("catalog_branch") + "/b"
    ManifestStore.cloneAsOf(spark, root, branch, ManifestStore.latest(spark, root)._1)
    put(branch, "sD")
    assert(check(branch, "a branch") == Seq("sB", "sC", "sD"))
    assert(check(root, "the branch's source") == Seq("sB", "sC"))
  }

  test("ANN answers do not depend on the query frame: local and parquet-read queries, 1 and 3 vectors, tombstones scoped") {
    val idx = TestSpark.tmpDir("ann_frames")
    val vecs = (0 until 60).map(i =>
      (i.toLong, Array(math.cos(i * 0.3), math.sin(i * 0.3), (i % 5).toDouble)))
    Similarity.ivfIndexBuild(spark, idx, vecs.toDF("vec_id", "v"), 7L)
    // the third query is an indexed vector: it must not find itself
    val qs = Seq((-1L, Array(1.0, 0.2, 3.0)), (-2L, Array(-0.5, 0.9, 1.0)), (5L, vecs(5)._2))
    val qDir = TestSpark.tmpDir("ann_frames_q")
    def both(n: Int): Seq[(Long, Long, Double, Long)] = {
      val local = qs.take(n).toDF("vec_id", "v")
      local.write.mode("overwrite").parquet(s"$qDir/$n")
      val read = spark.read.parquet(s"$qDir/$n")
      def isLocal(df: DataFrame) = df.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
      assert(isLocal(local) && !isLocal(read))
      val Seq(a, b) = Seq(local, read).map { q =>
        val df = Similarity.ivfIndexQuery(spark, idx, q, 5, 2)
        assert(df.schema.map(f => (f.name, f.dataType)) == Seq("q_id" -> LongType,
          "n_id" -> LongType, "cos" -> DoubleType, "rank" -> LongType))
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .toSeq.sorted
      }
      assert(a == b, s"$n vectors: a local query frame answered\n$a\na parquet-read one\n$b")
      assert(a.map(_._1).distinct.size == n && a.forall(r => r._1 != r._2) &&
        a.groupBy(_._1).values.forall(r => r.map(_._4).sorted == (1L to r.size.toLong)))
      a
    }
    both(3)
    val top = both(1).find(_._4 == 1L).get._2
    Similarity.ivfIndexForget(spark, idx, Seq(top))
    for (n <- Seq(1, 3))
      assert(!both(n).exists(_._2 == top), s"$n vectors: the tombstoned vector $top was returned")
  }
}
