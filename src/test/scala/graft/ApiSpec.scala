package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraftApi
import graft.model.Fidelity

/**
 * End-to-end API façade flow mirroring the reference's HTTP lifecycle
 * (server.py:47-175): put → routed get at full/agg fidelity → catalog
 * search → comments CRUD → self-metrics feedback.
 */
class ApiSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("manifest-backed API serves full-fidelity and routed aggregate reads") {
    val batches = Seq(
      Seq(("api.m.a", "2024-01-01T01:00:00", 1.0), ("api.m.a", "2024-01-01T01:00:30", 3.0)),
      Seq(("api.m.a", "2024-01-01T01:01:10", 5.0), ("api.m.b", "2024-01-01T01:00:00", -1.0)))
    val t0 = TestSpark.isoUs("2024-01-01T01:00:00")

    val root = TestSpark.tmpDir("graft_api_cmp")
    val api = new GraftApi(spark, root, root + "/all_comments")
    batches.foreach(b => api.putData(TestSpark.longDF(b)))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    val full = dump(api.getData("api.m.a", t0, t0 + 120000000L))
    val agg = dump(api.getData("api.m.a", t0, t0 + 120000000L, Some(Fidelity.S100)))
    assert(full.size == 3, "full-fidelity read returns every point")
    // all three points share the 100s bucket: min 1.0, mean 3.0, max 5.0
    assert(agg == Seq("[1704070800,1.0,3.0,5.0]"), "routed agg read")
  }

  test("getData asOf serves the chart from one frozen version on both routes") {
    val root = TestSpark.tmpDir("graft_api_asof")
    val api = new GraftApi(spark, root, root + "/all_comments")
    val t0 = TestSpark.isoUs("2024-01-01T01:00:00")
    api.putData(TestSpark.longDF(Seq(
      ("api.tt.a", "2024-01-01T01:00:00", 1.0))))
    api.putData(TestSpark.longDF(Seq(
      ("api.tt.a", "2024-01-01T01:00:30", 9.0))))

    // FULL route: version 1 sees only the first point, latest sees both
    assert(api.getData("api.tt.a", t0, t0 + 120000000L, asOf = Some(1L))
      .collect().map(_.getDouble(1)).toSeq == Seq(1.0))
    assert(api.getData("api.tt.a", t0, t0 + 120000000L)
      .count() == 2L)
    // forced aggregate route at the same frozen version: mean of batch 1
    val agg = api.getData("api.tt.a", t0, t0 + 120000000L,
      Some(Fidelity.S100), asOf = Some(1L)).collect()
    assert(agg.length == 1 && agg.head.getDouble(2) == 1.0)
  }

  test("put/get/search/comments/self-metrics round-trip") {
    val root = TestSpark.tmpDir("graft_api")
    val api = new GraftApi(spark, root, root + "/all_comments")

    api.putData(TestSpark.longDF(Seq(
      ("api.series.a", "2024-01-01T01:00:00", 1.0),
      ("api.series.a", "2024-01-01T01:00:30", 3.0),
      ("api.series.b", "2024-01-01T01:00:00", -1.0))))

    // routed get: 2-minute span → FULL fidelity
    val t0 = TestSpark.isoUs("2024-01-01T01:00:00")
    val full = api.getData("api.series.a", t0, t0 + 120000000L).collect()
    assert(full.length == 2 && full.map(_.getDouble(1)).sorted.toSeq == Seq(1.0, 3.0))

    // forced aggregate fidelity: one 100s bucket with mean 2.0
    val agg = api
      .getData("api.series.a", t0, t0 + 120000000L, Some(Fidelity.S100))
      .collect()
    assert(agg.length == 1 && agg.head.getDouble(2) == 2.0)

    // illegal id rejected (index.py:112-115)
    assertThrows[IllegalArgumentException] {
      api.getData("bad id", t0, t0 + 1000000L)
    }

    // catalog search (index.py:219-239)
    assert(api.datasets("series").count() == 2)
    assert(api.datasets("series.b").count() == 1)

    // comments CRUD with API-assigned EPOCH-ns ids (marks.py:82
    // time_ns semantics): strictly increasing across creates and
    // anchored to wall-clock epoch, not an arbitrary monotonic origin
    val preNs = java.time.Instant.now().toEpochMilli * 1000000L
    val id = api.createComment(t0, "note", Seq("tag1"))
    val id2 = api.createComment(t0 + 10, "note2", Seq("tagx"))
    assert(id >= preNs && id < preNs + 3600L * 1000000000L)
    assert(id2 > id)
    api.deleteComment(id2)
    assert(api.comments(t0 - 1, t0 + 1, Seq("tag1")).count() == 1)
    api.updateComment(id, t0, "edited", Seq("tag1", "tag2"))
    assert(api.comments(t0 - 1, t0 + 1, Seq("tag2")).head().getString(2) == "edited")
    api.deleteComment(id)
    assert(api.comments(t0 - 1, t0 + 1).count() == 0)

    // self-metrics loop (loop.py:52-78): counters become series
    val (puts, gets) = api.counters
    assert(puts == 1 && gets >= 2)
    api.flushSelfMetrics(t0)
    assert(api.getData("index.num_puts", t0 - 1, t0 + 1).count() == 1)
  }

  test("retrieval-tier facade: indexDocs/searchDocs(+batch), checkAndIndexDocs, annQuery delegate exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val root = TestSpark.tmpDir("graft_api_ret")
    val api = new GraftApi(spark, root, root + "/all_comments")
    val docs = Seq(
      (0L, "spark merge sort merge"), (1L, "window scan window window"),
      (2L, "merge window table"), (3L, "unrelated words here"),
      (4L, "spark merge sort merge zz"))
      .toDF("doc_id", "text")
    // text: facade search == direct module search on the same index
    val tIdx = TestSpark.tmpDir("graft_api_tidx")
    api.indexDocs(tIdx, docs.where(col("doc_id") < 4), key = Some("s0"))
    def dump(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq
    assert(dump(api.searchDocs(tIdx, Seq("merge", "window"), 5)) ==
      dump(graft.text.TextIndex.searchBm25(spark, tIdx, Seq("merge", "window"), 5)))
    assert(dump(api.searchDocsBatch(tIdx,
        Seq((1L, "merge"), (1L, "window")).toDF("query_id", "token"), 5)) ==
      dump(graft.text.TextIndex.searchBm25Batch(spark, tIdx,
        Seq((1L, "merge"), (1L, "window")).toDF("query_id", "token"), 5)))
    // exactly-once composes through the facade
    intercept[IllegalArgumentException](
      api.indexDocs(tIdx, docs.where(col("doc_id") < 4), key = Some("s0")))
    // dedup front door: the near-copy is reported against its original
    val dIdx = TestSpark.tmpDir("graft_api_didx")
    api.checkAndIndexDocs(dIdx, docs.where(col("doc_id") === 0), 0.6,
      key = Some("b0"), persistPairs = true): Unit
    val verdict = api.checkAndIndexDocs(dIdx, docs.where(col("doc_id") === 4),
      0.6, key = Some("b1"), persistPairs = true)
    assert(verdict.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 4L)))
    // ANN: facade probe == direct probe of the same persisted index
    val aIdx = TestSpark.tmpDir("graft_api_aidx")
    val vecs = spark.range(0, 60).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(7)),
        i => (pmod(col("id") * (i + 3), lit(13))).cast("double") + 0.25).as("v"))
    graft.sim.Similarity.ivfIndexBuild(spark, aIdx, vecs, centroidStep = 10L)
    val probes = vecs.where(col("vec_id") < 2)
    assert(dump(api.annQuery(aIdx, probes, k = 4)) ==
      dump(graft.sim.Similarity.ivfIndexQuery(spark, aIdx, probes, 4, 3)))
    // retrieval second stages route through the operator modules
    val corpus = docs.where(col("doc_id") < 4)
    val terms = Seq("merge", "window")
    val expanded = api.searchDocsExpanded(tIdx, corpus, terms, 5)
    assert(expanded.columns.toSeq ==
      Seq("rank", "doc_id", "score_ppm", "n_terms"))
    assert(expanded.count() > 0)
    val reranked = api.rerankDocs(tIdx, corpus, terms, 5)
    val cands = graft.text.TextIndex.searchBm25(spark, tIdx, terms, 5)
      .select("doc_id", "score_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(dump(reranked) == dump(graft.text.TextOps.proximityRerank(
      corpus, "doc_id", "text", cands, terms)))
    // doc 2 "merge window table": adjacent terms → the tightest window
    val top = reranked.orderBy("rank").collect()
    assert(top.head.getLong(1) == 2L && top.head.getLong(3) == 2L,
      s"expected doc 2 with window 2 first, got ${top.head}")
    val snip = api.searchDocsWithSnippets(tIdx, corpus, terms, 5)
      .where(col("doc_id") === 2).collect().head
    assert(snip.getString(4) == "merge window table",
      s"bad snippet: ${snip.getString(4)}")
    // phrase + observability routes
    val ph = api.searchDocsPhrase(tIdx, corpus, "merge window", 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(ph == Seq((2L, 1L)), s"phrase route wrong: $ph")
    // round-11 self-contained routes (forward/pos/del legs): the
    // corpus-free paths answer identically to the corpus-parameter ones
    val phLeg = api.searchDocsPhrase(tIdx, "merge window", 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(phLeg == ph, s"forward-leg phrase route diverges: $phLeg")
    val phPos = api.searchDocsPhrasePositional(tIdx, "merge window", 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(phPos == ph, s"positional phrase route diverges: $phPos")
    val nearHits = api.searchDocsNear(tIdx, Seq("merge", "window"), 3, 5)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(nearHits == Seq((2L, 2L)), s"NEAR route wrong: $nearHits")
    assert(dump(api.searchDocsExpanded(tIdx, terms, 5, 10, 5, None)) ==
      dump(api.searchDocsExpanded(tIdx, corpus, terms, 5)),
      "forward-leg RM3 route diverges from the corpus one")
    assert(dump(api.rerankDocs(tIdx, terms, 5, None)) ==
      dump(api.rerankDocs(tIdx, corpus, terms, 5)),
      "forward-leg rerank route diverges from the corpus one")
    assert(dump(api.searchDocsWithSnippets(tIdx, terms, 5, 2, None)) ==
      dump(api.searchDocsWithSnippets(tIdx, corpus, terms, 5)),
      "forward-leg snippet route diverges from the corpus one")
    val ts = api.textIndexStats(tIdx).collect().head
    assert(ts.getLong(0) == 1L && ts.getLong(1) == 4L,
      s"text stats wrong: $ts") // 1 shard, 4 docs
    assert(api.annIndexStats(aIdx).collect().head.getLong(1) == 60L,
      "ann stats must count the 60 indexed vectors")
    // autocomplete: indexed (doc_id < 4) corpus has spark/sort/scan
    val sug = api.suggestDocs(tIdx, "s", 5)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(sug == Seq(("scan", 1L), ("sort", 1L), ("spark", 1L)),
      s"suggestion ranking wrong: $sug")
    // did-you-mean: 'scann' corrects to scan (dist 1) before span-likes
    val fz = api.suggestDocsFuzzy(tIdx, "scann", maxDist = 2, k = 3)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(fz.headOption.contains(("scan", 1L)), s"fuzzy wrong: $fz")
    // reverse search routes through TextOps.percolate
    val fired = api.percolateDocs(corpus,
        Seq((1L, "merge"), (1L, "window")).toDF("query_id", "token"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(fired == Set((1L, 2L)), s"percolation fired wrong: $fired")
    // the facade counted the traffic
    val (puts, gets) = api.counters
    assert(puts == 4 && gets == 21, s"facade counters off: $puts puts, $gets gets")
  }
}
