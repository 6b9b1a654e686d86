package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TextIndex
import graft.store.IndexCore

/**
 * Persisted inverted text index: sharded ingest folds df/stats
 * correctly, torn commits stay invisible, redelivery is exactly-once,
 * and queries prune to the terms' token buckets.
 */
class TextIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus = Seq(
    (0L, "spark merge sort merge"),
    (1L, "window scan window window"),
    (2L, "merge window table"),
    (3L, "totally unrelated words here"),
    (4L, "scan scan scan merge"))
    .toDF("doc_id", "text")

  test("sharded index equals single-shard index; torn commits invisible; buckets prune") {
    val idxA = TestSpark.tmpDir("text_idx_a")
    val idxB = TestSpark.tmpDir("text_idx_b")
    TextIndex.ingestShard(spark, idxA, corpus, "doc_id", "text")
    TextIndex.ingestShard(spark, idxB,
      corpus.where(col("doc_id") < 2), "doc_id", "text", key = Some("s0"))
    TextIndex.ingestShard(spark, idxB,
      corpus.where(col("doc_id") >= 2), "doc_id", "text", key = Some("s1"))
    def run(idx: String) = TextIndex
      .searchBm25(spark, idx, Seq("merge", "window"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val one = run(idxA)
    assert(one == run(idxB),
      "sharded df/stats fold must equal the single-shard index")
    assert(one.map(_._2).toSet == Set(0L, 1L, 2L, 4L), s"got $one")
    // doc 1 matches one term (window ×3), doc 2 matches both once each
    assert(one.find(_._2 == 2L).get._4 == 2L)
    assert(one.find(_._2 == 1L).get._4 == 1L)

    // torn commit: staged dirs with no published version are invisible
    Seq(("merge", 99L, 100L, 100L, 0L)).toDF("token", "doc_id", "tf", "dl", "tb")
      .write.partitionBy("tb").parquet(s"$idxB/data/c-torn/post")
    assert(run(idxB) == one, "torn commit dir leaked into the query")

    // redelivery: exactly-once
    val ex = intercept[IllegalArgumentException] {
      TextIndex.ingestShard(spark, idxB,
        corpus.where(col("doc_id") < 2), "doc_id", "text", key = Some("s0"))
    }
    assert(ex.getMessage.contains("already ingested"))
    assert(run(idxB) == one, "redelivery mutated the index")

    // plan shape: the posting scan must carry a partition filter on the
    // token-bucket column — the directory-pruning contract
    val plan = TextIndex.searchBm25(spark, idxB, Seq("merge"), 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb#"),
      s"token-bucket pruning missing:\n${plan.take(2000)}")
  }

  test("compaction folds shards without changing answers; txn keys survive; vacuum reclaims") {
    val idx = TestSpark.tmpDir("text_idx_c")
    for (i <- 0 until 4)
      TextIndex.ingestShard(spark, idx,
        corpus.where(pmod(col("doc_id"), lit(4)) === i),
        "doc_id", "text", key = Some(s"k$i"))
    def run() = TextIndex
      .searchBm25(spark, idx, Seq("merge", "window", "scan"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val before = run()
    val cl = new graft.store.CommitLog(s"$idx/_manifests")

    // tiered: fold only the 2 smallest of 4 — answers unchanged
    TextIndex.compactTiered(spark, idx, fanIn = 2)
    assert(cl.latest(spark)._2.count(_.startsWith("c-")) == 3)
    assert(run() == before, "tiered fold changed the search answer")

    // full fold: one live data commit — answers still unchanged
    TextIndex.compact(spark, idx)
    val live = cl.latest(spark)._2
    assert(live.count(_.startsWith("c-")) == 1,
      s"full compact must leave one data commit, got $live")
    assert(run() == before, "full fold changed the search answer")

    // delivery keys pass through every fold untouched: redelivery of a
    // long-since-folded shard is still rejected
    assert(live.count(_.startsWith("#txn:")) == 4, s"txn keys lost: $live")
    val ex = intercept[IllegalArgumentException] {
      TextIndex.ingestShard(spark, idx,
        corpus.where(pmod(col("doc_id"), lit(4)) === 0),
        "doc_id", "text", key = Some("k0"))
    }
    assert(ex.getMessage.contains("already ingested"))

    // vacuum reclaims the superseded shard dirs; the live index answers
    val dd = new java.io.File(s"$idx/data")
    assert(dd.listFiles().length > 1, "superseded dirs should linger pre-vacuum")
    IndexCore.vacuum(spark, idx)
    assert(dd.listFiles().map(_.getName).toSet ==
      live.filter(_.startsWith("c-")).toSet)
    assert(run() == before, "vacuum broke the live index")
  }

  test("maxDf skips stop-word-grade query terms") {
    val idx = TestSpark.tmpDir("text_idx_d")
    TextIndex.ingestShard(spark, idx, corpus, "doc_id", "text")
    // "merge" has df=3 (docs 0,2,4); cap 2 must skip it, so the capped
    // query equals the uncapped query WITHOUT the term — no posting
    // rows, no n_terms credit, no score contribution
    def run(terms: Seq[String], cap: Option[Long]) = TextIndex
      .searchBm25(spark, idx, terms, 10, maxDf = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(run(Seq("merge", "window"), Some(2L)) ==
      run(Seq("window"), None))
    // cap that nothing hits is a no-op
    assert(run(Seq("merge", "window"), Some(100L)) ==
      run(Seq("merge", "window"), None))
    // every term capped out → empty result, not an error
    assert(run(Seq("merge"), Some(1L)).isEmpty)
  }

  test("containmentProbe: kept-token containment from posting lists only, " +
      "df cap drops ubiquitous tokens, unindexed tokens drop silently") {
    val idx = TestSpark.tmpDir("text_idx_probe")
    // two shards so the probe proves the cross-shard df/posting fold
    TextIndex.ingestShard(spark, idx,
      corpus.where(col("doc_id") < 2), "doc_id", "text")
    TextIndex.ingestShard(spark, idx,
      corpus.where(col("doc_id") >= 2), "doc_id", "text")
    // corpus df: merge=3 window=2 scan=2 spark=1 sort=1 table=1 ...
    val bench = Seq(
      (100L, "spark merge sort qq"), // kept = {spark, sort}: merge capped
      // at df 2, qq unindexed — both match only doc 0, containment 1.0
      (101L, "window table")) // kept = {window, table}: doc 2 has both
      // (1.0), doc 1 has window only (0.5)
      .toDF("doc_id", "text")
    val got = TextIndex.containmentProbe(spark, idx, bench,
        "doc_id", "text", maxDf = 2L, minPpm = 500000L)
      .orderBy("bench_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == Seq(
      (100L, 0L, 2L, 2L, 1000000L),
      (101L, 1L, 2L, 1L, 500000L),
      (101L, 2L, 2L, 2L, 1000000L)), s"got $got")
    // the probe's posting scan carries the token-bucket partition
    // filter — the directory-pruning contract, same as search
    val plan = TextIndex.containmentProbe(spark, idx, bench,
        "doc_id", "text", maxDf = 2L, minPpm = 500000L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb#"),
      s"token-bucket pruning missing:\n${plan.take(2000)}")
    // a benchmark with no kept tokens yields no rows, not an error
    assert(TextIndex.containmentProbe(spark, idx,
      Seq((102L, "merge qq")).toDF("doc_id", "text"),
      "doc_id", "text", maxDf = 2L, minPpm = 0L).isEmpty)
  }

  test("cloneAsOf: index branch at a version diverges independently; " +
      "keys branch with the data; source vacuum cannot reach the branch") {
    val src = TestSpark.tmpDir("text_idx_bsrc")
    val br = TestSpark.tmpDir("text_idx_bbr") + "/branch"
    TextIndex.ingestShard(spark, src,
      corpus.where(col("doc_id") < 2), "doc_id", "text", key = Some("s0"))
    TextIndex.ingestShard(spark, src,
      corpus.where(col("doc_id") >= 2 && col("doc_id") < 4),
      "doc_id", "text", key = Some("s1"))
    TextIndex.ingestShard(spark, src,
      corpus.where(col("doc_id") === 4), "doc_id", "text", key = Some("s2"))
    def run(idx: String) = TextIndex
      .searchBm25(spark, idx, Seq("merge", "window", "scan"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq

    // branch at v2 = shards 0-1: a pre-branch key rejects there, the
    // post-branch shard (s2, the source's v3) ingests — true divergence
    IndexCore.cloneAsOf(spark, src, br, version = 2L)
    val ex = intercept[IllegalArgumentException] {
      TextIndex.ingestShard(spark, br,
        corpus.where(col("doc_id") < 2), "doc_id", "text", key = Some("s0"))
    }
    assert(ex.getMessage.contains("already ingested"))
    TextIndex.ingestShard(spark, br,
      corpus.where(col("doc_id") === 4), "doc_id", "text", key = Some("s2"))
    assert(run(br) == run(src),
      "branch + its own s2 ingest must equal the source's full index")
    assert(IndexCore.version(spark, src) == 3L, "branch writes hit the source")

    // compact + vacuum the SOURCE: the branch's hard-linked names keep
    // the shared inodes alive
    TextIndex.compact(spark, src)
    IndexCore.vacuum(spark, src)
    assert(run(br) == run(src), "source vacuum reached the branch")

    // branch-then-source-retention: a branch from a version whose
    // commits were vacuumed refuses loudly (data-dir path), and once
    // manifest retention reclaims the version FILES the refusal names
    // the retention floor
    val ex2 = intercept[IllegalArgumentException] {
      IndexCore.cloneAsOf(spark, src,
        TestSpark.tmpDir("text_idx_bv") + "/b", version = 1L)
    }
    assert(ex2.getMessage.contains("vacuumed"))
    IndexCore.vacuum(spark, src, keepVersions = 1)
    val ex3 = intercept[IllegalArgumentException] {
      IndexCore.cloneAsOf(spark, src,
        TestSpark.tmpDir("text_idx_bf") + "/b", version = 1L)
    }
    assert(ex3.getMessage.contains("retention floor"))
    assert(run(br) == run(src), "source retention reached the branch")
  }

  test("mergeFrom: merged index answers like one index over the union; " +
      "delivery keys compose; duplicate merge refused; source read-only") {
    val dst = TestSpark.tmpDir("text_idx_mdst")
    val src = TestSpark.tmpDir("text_idx_msrc")
    val ref = TestSpark.tmpDir("text_idx_mref")
    val left = corpus.where(col("doc_id") < 2)
    val right = corpus.where(col("doc_id") >= 2)
    TextIndex.ingestShard(spark, dst, left, "doc_id", "text", key = Some("L0"))
    TextIndex.ingestShard(spark, src, right, "doc_id", "text", key = Some("R0"))
    TextIndex.ingestShard(spark, ref, corpus, "doc_id", "text")
    TextIndex.mergeFrom(spark, dst, src, key = Some("M0"))
    def run(idx: String) = TextIndex
      .searchBm25(spark, idx, Seq("merge", "window", "scan"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    val expected = run(ref)
    assert(run(dst) == expected,
      "merged df/nd/tl folds must equal one index over the union corpus")

    // the source's delivery key rode along: redelivering its shard to
    // the MERGED index is rejected (exactly-once composes)
    val ex = intercept[IllegalArgumentException] {
      TextIndex.ingestShard(spark, dst, right, "doc_id", "text", key = Some("R0"))
    }
    assert(ex.getMessage.contains("already ingested"))
    // merging the same source again is refused — its keys already live here
    val ex2 = intercept[IllegalArgumentException] {
      TextIndex.mergeFrom(spark, dst, src)
    }
    assert(ex2.getMessage.contains("already lives in the destination"))
    assert(run(dst) == expected, "refused merge mutated the index")

    // the source was never written to
    assert(TextIndex.liveShardCount(spark, src) == 1)
    assert(IndexCore.version(spark, src) == 1L)

    // the merged commit folds like any other shard
    TextIndex.compact(spark, dst)
    assert(run(dst) == expected, "compaction after merge changed answers")
  }

  test("KEYLESS re-merge refuses via the snapshot-identity marker; an advanced source merges again") {
    val dst = TestSpark.tmpDir("text_idx_kldst")
    val src = TestSpark.tmpDir("text_idx_klsrc")
    TextIndex.ingestShard(spark, dst, corpus.where(col("doc_id") < 2),
      "doc_id", "text")
    TextIndex.ingestShard(spark, src, corpus.where(col("doc_id").between(2, 3)),
      "doc_id", "text")
    TextIndex.mergeFrom(spark, dst, src) // keyless on both sides
    val after = IndexCore.version(spark, dst)
    // the EXACT same source snapshot re-merged must refuse — delivery
    // keys can't catch this (there are none); the identity marker does
    val ex = intercept[IllegalArgumentException] {
      TextIndex.mergeFrom(spark, dst, src)
    }
    assert(ex.getMessage.contains("already lives in the destination"),
      s"keyless re-merge must refuse: ${ex.getMessage}")
    assert(IndexCore.version(spark, dst) == after,
      "refused keyless re-merge mutated the destination")
    // a source that ADVANCED is a NEW snapshot: merging it again is the
    // caller's call (and would re-fold the old entries — the documented
    // reason growing sources must use delivery keys); it must not be
    // blocked by the old marker
    TextIndex.ingestShard(spark, src, corpus.where(col("doc_id") === 4),
      "doc_id", "text")
    TextIndex.mergeFrom(spark, dst, src)
    assert(IndexCore.version(spark, dst) == after + 1)
  }

  test("searchBm25Batch: a batch of one equals searchBm25; per-query ranks are independent; maxDf parity") {
    val idx = TestSpark.tmpDir("text_idx_batch")
    TextIndex.ingestShard(spark, idx, corpus, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame, cols: Int) =
      df.collect().map(r => (0 until cols).map(r.getLong).toSeq).toSeq
    // batch of one ≡ the single-query search (same scoring arithmetic)
    val single = rows(
      TextIndex.searchBm25(spark, idx, Seq("merge", "window", "scan"), 10)
        .orderBy("rank"), 4)
    val asBatch = rows(
      TextIndex.searchBm25Batch(spark, idx,
        Seq((7L, "merge"), (7L, "window"), (7L, "scan"), (7L, "merge"))
          .toDF("query_id", "token"), 10)
        .orderBy("rank")
        .select("rank", "doc_id", "score_ppm", "n_terms"), 4)
    assert(asBatch == single,
      "a one-query batch (with a duplicated term) must equal searchBm25")
    // two queries in one batch: each query's leg equals its own
    // single-query search — the shared scan changes nothing per query
    val batch = TextIndex.searchBm25Batch(spark, idx,
      Seq((1L, "merge"), (1L, "sort"), (2L, "window"), (2L, "scan"))
        .toDF("query_id", "token"), 10)
    for ((qid, terms) <- Seq(1L -> Seq("merge", "sort"), 2L -> Seq("window", "scan")))
      assert(rows(batch.where(col("query_id") === qid)
          .orderBy("rank").select("rank", "doc_id", "score_ppm", "n_terms"), 4) ==
        rows(TextIndex.searchBm25(spark, idx, terms, 10).orderBy("rank"), 4),
        s"query $qid diverged from its single-query search")
    // maxDf drops the same stop-word-grade terms in both paths
    val capped = rows(
      TextIndex.searchBm25Batch(spark, idx,
        Seq((1L, "merge"), (1L, "window")).toDF("query_id", "token"),
        10, maxDf = Some(2L))
        .orderBy("rank").select("rank", "doc_id", "score_ppm", "n_terms"), 4)
    assert(capped ==
      rows(TextIndex.searchBm25(spark, idx, Seq("merge", "window"), 10,
        maxDf = Some(2L)).orderBy("rank"), 4))
  }

  test("searchBm25Weighted: all-1e6 weights equal searchBm25 exactly; " +
      "a down-weighted term only shrinks the docs that match it") {
    val idx = TestSpark.tmpDir("text_idx_weighted")
    TextIndex.ingestShard(spark, idx, corpus, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val terms = Seq("merge", "window", "scan")
    val unweighted = rows(TextIndex.searchBm25(spark, idx, terms, 10))
    // weight 1e6 multiplies by the double 1.0 → bit-identical scores
    assert(rows(TextIndex.searchBm25Weighted(
        spark, idx, terms.map((_, 1000000L)), 10)) == unweighted,
      "all-1e6 weighted search must equal the unweighted search")
    // quarter-weight 'window': window-matching docs shrink, others don't
    val down = rows(TextIndex.searchBm25Weighted(spark, idx,
      Seq(("merge", 1000000L), ("window", 250000L), ("scan", 1000000L)), 10))
    val windowDocs = Set(1L, 2L) // docs whose text contains 'window'
    for ((_, doc, score, _) <- down) {
      val full = unweighted.find(_._2 == doc).get._3
      if (windowDocs(doc))
        assert(score < full, s"doc $doc kept score $score despite down-weight")
      else assert(score == full,
        s"doc $doc without the down-weighted term moved: $score != $full")
    }
    // an unindexed term is skipped: no idf row, no n_terms credit
    assert(rows(TextIndex.searchBm25Weighted(spark, idx,
        terms.map((_, 1000000L)) :+ (("zz_not_indexed", 900000L)), 10))
      == unweighted)
  }

  test("searchPhrase: order and adjacency matter, counts are exact " +
      "positional (adjacent repeats included), candidates come from the index") {
    val idx = TestSpark.tmpDir("text_idx_phrase")
    TextIndex.ingestShard(spark, idx, corpus, "doc_id", "text")
    def hits(phrase: String) = TextIndex
      .searchPhrase(spark, idx, corpus, "doc_id", "text", phrase, 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // adjacency: doc 1 is "window scan window window"
    assert(hits("window scan") == Seq((1L, 1L)))
    // order matters: both orders exist in doc 0 "spark merge sort merge"
    assert(hits("merge sort") == Seq((0L, 1L)))
    assert(hits("sort merge") == Seq((0L, 1L)))
    assert(hits("merge spark").isEmpty, "reversed phrase must not match")
    // positional count: "scan scan scan" holds TWO start positions of
    // "scan scan" (1 and 2) — the adjacent-repeat case substring
    // arithmetic would undercount
    assert(hits("scan scan") == Seq((4L, 2L)))
    // a token the index has never seen yields no candidates, no scan
    assert(hits("window zzz").isEmpty)
    // tokens all present but never adjacent: candidate set nonempty,
    // verify rejects
    assert(hits("spark window").isEmpty)
  }

  test("explainSearch: per-term contributions sum exactly to the " +
      "search score; suggestion surfaces rank from the vocab fold") {
    val idx = TestSpark.tmpDir("text_idx_explain")
    TextIndex.ingestShard(spark, idx, corpus, "doc_id", "text")
    val terms = Seq("merge", "window", "scan")
    val search = TextIndex.searchBm25(spark, idx, terms, 10)
      .collect().map(r => r.getLong(1) -> (r.getLong(2), r.getLong(3))).toMap
    val explain = TextIndex.explainSearch(spark, idx, terms, 10)
      .collect()
      .groupBy(_.getLong(1))
      .map { case (doc, rows) =>
        doc -> (rows.map(_.getLong(6)).sum, rows.length.toLong)
      }
    assert(explain == search,
      s"explain rows must reconstruct (score_ppm, n_terms): $explain vs $search")
    // the reuse path: a caller passing its own ranked top-k gets the
    // identical breakdown without the recomputed first stage
    val top = TextIndex.searchBm25(spark, idx, terms, 10)
      .select("rank", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaTop = TextIndex.explainTop(spark, idx, terms, top)
      .collect().map(_.toString).sorted.toSeq
    val viaSearch = TextIndex.explainSearch(spark, idx, terms, 10)
      .collect().map(_.toString).sorted.toSeq
    assert(viaTop == viaSearch, "explainTop diverges from explainSearch")
    // prefix: 'merge' and 'window' both hit 3 docs; ties break by token
    val pre = TextIndex.suggestPrefix(spark, idx, "w", 5)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(pre == Seq(("window", 2L), ("words", 1L)), s"prefix wrong: $pre")
    // fuzzy: the misspelling 'windoq' corrects to window at distance 1
    val fz = TextIndex.suggestFuzzy(spark, idx, "windoq", 2, 5)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(fz.headOption.contains(("window", 1L)), s"fuzzy wrong: $fz")
  }

  test("containmentProbe on an index with no live commits answers empty, not an empty-reduce crash") {
    val idx = TestSpark.tmpDir("text_idx_empty")
    val out = TextIndex.containmentProbe(spark, idx,
      corpus.limit(1), "doc_id", "text", maxDf = 100L, minPpm = 1L)
    assert(out.columns.toSeq ==
      Seq("bench_id", "doc_id", "n_kept", "overlap", "containment_ppm"))
    assert(out.count() == 0L)
  }

  test("searchBm25 on an index with no live commits answers zero rows with the ranking schema") {
    val idx = TestSpark.tmpDir("text_idx_empty_bm25")
    val out = TextIndex.searchBm25(spark, idx, Seq("merge", "window"), 10)
    assert(out.columns.toSeq == Seq("rank", "doc_id", "score_ppm", "n_terms"))
    assert(out.schema.forall(_.dataType == org.apache.spark.sql.types.LongType))
    assert(out.count() == 0L)
  }

  private def dropLeg(idx: String, sub: String): Unit = {
    val live = new graft.store.CommitLog(s"$idx/_manifests")
      .latest(spark)._2.filter(_.startsWith("c-"))
    val conf = spark.sessionState.newHadoopConf()
    live.foreach { d =>
      val p = new org.apache.hadoop.fs.Path(s"$idx/data/$d/$sub")
      p.getFileSystem(conf).delete(p, true): Unit
    }
  }

  test("searchPhrasePositional agrees with candidate-then-verify everywhere both " +
      "answer, survives compaction, prunes to token buckets, and refuses a pre-leg index") {
    val idx = TestSpark.tmpDir("text_idx_pos")
    for (i <- 0 until 2)
      TextIndex.ingestShard(spark, idx,
        corpus.where(pmod(col("doc_id"), lit(2)) === i),
        "doc_id", "text", key = Some(s"p$i"))
    def viaVerify(phrase: String) = TextIndex
      .searchPhrase(spark, idx, corpus, "doc_id", "text", phrase, 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    def viaPos(phrase: String) = TextIndex
      .searchPhrasePositional(spark, idx, phrase, 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    val phrases = Seq("window scan", "merge sort", "sort merge",
      "merge spark", "scan scan", "window zzz", "spark window",
      "scan scan scan", "window window")
    for (p <- phrases)
      assert(viaPos(p) == viaVerify(p), s"positional disagrees on '$p'")
    // duplicate-token phrase with overlapping starts: doc 4 is
    // "scan scan scan merge" — "scan scan" starts at 1 AND 2
    assert(viaPos("scan scan") == Seq((4L, 2L)))
    // compaction folds the pos leg (concatenation) — answers unchanged
    TextIndex.compact(spark, idx)
    for (p <- phrases)
      assert(viaPos(p) == viaVerify(p), s"post-compaction mismatch on '$p'")
    // plan: the positional scan prunes to the phrase tokens' buckets
    val plan = TextIndex.searchPhrasePositional(spark, idx, "merge sort", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb#"),
      s"positional token-bucket pruning missing:\n${plan.take(2000)}")
    // a pre-leg index (no pos leg) refuses loudly
    dropLeg(idx, "pos")
    val ex = intercept[IllegalArgumentException] {
      TextIndex.searchPhrasePositional(spark, idx, "merge sort", 10)
    }
    assert(ex.getMessage.contains("positional"))
  }

  test("searchNear: min-window proximity entirely from the pos leg — exact " +
      "windows, w-cut honored, missing-term docs excluded, pre-leg refusal") {
    val idx = TestSpark.tmpDir("text_idx_near")
    for (i <- 0 until 2)
      TextIndex.ingestShard(spark, idx,
        corpus.where(pmod(col("doc_id"), lit(2)) === i),
        "doc_id", "text", key = Some(s"n$i"))
    def near(terms: Seq[String], w: Int) = TextIndex
      .searchNear(spark, idx, terms, w, 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // doc 2 "merge window table": merge@1, window@2 -> window 2
    assert(near(Seq("merge", "window"), 3) == Seq((2L, 2L)))
    // doc 1 "window scan window window": scan@2 adjacent to window@1/@3
    assert(near(Seq("window", "scan"), 2) == Seq((1L, 2L)))
    // doc 0 "spark merge sort merge": spark@1..sort@3 -> window 3 > w=2
    assert(near(Seq("spark", "sort"), 3) == Seq((0L, 3L)))
    assert(near(Seq("spark", "sort"), 2).isEmpty)
    // a doc missing one term never ranks (doc 0 has merge, no window,
    // doc 4 has scan+merge, no window)
    assert(near(Seq("merge", "window", "scan"), 10).isEmpty ||
      !near(Seq("merge", "window", "scan"), 10).exists(
        h => h._1 == 0L || h._1 == 4L))
    // survives compaction (pos leg concatenates)
    TextIndex.compact(spark, idx)
    assert(near(Seq("merge", "window"), 3) == Seq((2L, 2L)))
    // window below the distinct term count is a contract error
    intercept[IllegalArgumentException] {
      TextIndex.searchNear(spark, idx, Seq("merge", "window"), 1, 10)
    }
    // pre-leg index refuses loudly
    dropLeg(idx, "pos")
    val ex = intercept[IllegalArgumentException] {
      TextIndex.searchNear(spark, idx, Seq("merge", "window"), 3, 10)
    }
    assert(ex.getMessage.contains("positional"))
  }

  test("searchPhraseSloppy: ordered-within-window semantics — w = phrase length " +
      "degenerates to the exact phrase, order matters (unlike NEAR), duplicate " +
      "tokens chain correctly, and compaction preserves answers") {
    val idx = TestSpark.tmpDir("text_idx_sloppy")
    for (i <- 0 until 2)
      TextIndex.ingestShard(spark, idx,
        corpus.where(pmod(col("doc_id"), lit(2)) === i),
        "doc_id", "text", key = Some(s"sl$i"))
    def sloppy(phrase: String, w: Int) = TextIndex
      .searchPhraseSloppy(spark, idx, phrase, w, 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    // w = n: exactly the adjacent-phrase doc set
    for (p <- Seq("window scan", "merge sort", "sort merge", "scan scan")) {
      val exact = TextIndex.searchPhrasePositional(spark, idx, p, 10)
        .collect().map(_.getLong(1)).toSet
      assert(sloppy(p, p.split(" ").length).map(_._1).toSet == exact,
        s"w=n sloppy must equal the exact phrase on '$p'")
    }
    // order matters: doc 0 is "spark merge sort merge" — 'merge spark'
    // never occurs in order, but unordered NEAR finds the pair
    assert(sloppy("merge spark", 4).isEmpty,
      "reversed phrase must not match in order")
    assert(TextIndex.searchNear(spark, idx, Seq("merge", "spark"), 4, 10)
      .collect().map(_.getLong(1)).toSeq == Seq(0L),
      "unordered NEAR must still find the reversed pair")
    // slop: 'spark sort' spans positions 1..3 of doc 0 — window 3
    assert(sloppy("spark sort", 3) == Seq((0L, 3L)))
    assert(sloppy("spark sort", 2).isEmpty, "window cut must hold")
    // duplicate phrase tokens: 'scan scan' in doc 4 "scan scan scan
    // merge" chains through distinct positions (min window 2, never 1)
    assert(sloppy("scan scan", 5) == Seq((4L, 2L)))
    // 3-term ordered chain with a gap: doc 1 "window scan window
    // window" holds window->scan->window in positions 1..3
    assert(sloppy("window scan window", 3) == Seq((1L, 3L)))
    TextIndex.compact(spark, idx)
    assert(sloppy("spark sort", 3) == Seq((0L, 3L)),
      "compaction changed sloppy-phrase answers")
  }

  test("suggestFuzzy: deletion-neighborhood probe returns exactly the full-vocab " +
      "scan's ranking; falls back identically pre-leg or past the ingest depth") {
    val idxA = TestSpark.tmpDir("text_idx_fza")
    val idxB = TestSpark.tmpDir("text_idx_fzb")
    for (idx <- Seq(idxA, idxB); i <- 0 until 2)
      TextIndex.ingestShard(spark, idx,
        corpus.where(pmod(col("doc_id"), lit(2)) === i),
        "doc_id", "text", key = Some(s"f$i"))
    dropLeg(idxB, "del") // idxB answers by the full-vocab fallback
    def run(idx: String, term: String, d: Int) = TextIndex
      .suggestFuzzy(spark, idx, term, d, 10)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq
    for (term <- Seq("windoq", "mergee", "scon", "taple", "xyzzy");
         d <- Seq(1, 2))
      assert(run(idxA, term, d) == run(idxB, term, d),
        s"pruned path diverges from the vocab scan on '$term'/$d")
    // past the ingested deletion depth both run the fallback — equal too
    assert(run(idxA, "wnd", 3) == run(idxB, "wnd", 3))
    // compaction dedups the del keys without changing answers
    TextIndex.compact(spark, idxA)
    assert(run(idxA, "windoq", 2) == run(idxB, "windoq", 2))
    // plan: candidate generation reads the del leg with a bucket
    // partition filter; no full-vocab levenshtein scan in the pruned path
    val probe = TextIndex.suggestFuzzy(spark, idxA, "windoq", 2, 10)
    val plan = probe.queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("levenshtein"),
      s"pruned fuzzy path still Levenshteins a distributed scan:\n${plan.take(2000)}")
  }

  test("forward docs leg: phrase verify and RM3 answer self-contained, point " +
      "lookups prune to id buckets, and a pre-leg index refuses loudly") {
    val idx = TestSpark.tmpDir("text_idx_fwd")
    for (i <- 0 until 2)
      TextIndex.ingestShard(spark, idx,
        corpus.where(pmod(col("doc_id"), lit(2)) === i),
        "doc_id", "text", key = Some(s"d$i"))
    // self-contained phrase == corpus-parameter phrase
    for (p <- Seq("window scan", "scan scan", "merge sort", "spark window"))
      assert(
        TextIndex.searchPhrase(spark, idx, p, 10)
          .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq ==
        TextIndex.searchPhrase(spark, idx, corpus, "doc_id", "text", p, 10)
          .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq,
        s"self-contained phrase diverges on '$p'")
    // self-contained RM3 == corpus-parameter RM3
    val viaLeg = TextIndex.searchBm25Rm3(spark, idx,
        Seq("merge", "window"), 10, 3, 2, 500000L, None)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val viaCorpus = TextIndex.searchBm25Rm3(spark, idx, corpus,
        "doc_id", "text", Seq("merge", "window"), 10, fbK = 3, expK = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaLeg == viaCorpus, s"rm3 leg path diverges: $viaLeg vs $viaCorpus")
    // the point lookup prunes to the ids' fb partition directories
    val plan = TextIndex.docsFor(spark, idx, Seq(0L, 2L))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("fb#"),
      s"forward-store id-bucket pruning missing:\n${plan.take(2000)}")
    // compaction folds the docs leg — still self-contained after
    TextIndex.compact(spark, idx)
    assert(TextIndex.searchPhrase(spark, idx, "scan scan", 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq == Seq((4L, 2L)))
    // pre-leg index refuses
    dropLeg(idx, "docs")
    val ex = intercept[IllegalArgumentException] {
      TextIndex.searchPhrase(spark, idx, "scan scan", 10).collect()
    }
    assert(ex.getMessage.contains("forward docs leg"))
  }

  test("mixed-generation fold refuses: compaction over commits with and without " +
      "the new legs fails loudly instead of publishing a partial leg") {
    val idx = TestSpark.tmpDir("text_idx_mixed")
    for (i <- 0 until 2)
      TextIndex.ingestShard(spark, idx,
        corpus.where(pmod(col("doc_id"), lit(2)) === i),
        "doc_id", "text", key = Some(s"m$i"))
    // strip one commit's pos leg — a pre-leg shard in a new-leg index
    val live = new graft.store.CommitLog(s"$idx/_manifests")
      .latest(spark)._2.filter(_.startsWith("c-"))
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(s"$idx/data/${live.head}/pos")
    p.getFileSystem(conf).delete(p, true): Unit
    val ex = intercept[IllegalArgumentException] {
      TextIndex.compact(spark, idx)
    }
    assert(ex.getMessage.contains("mixed-generation"))
    // the refused fold left no partial commit behind: answers unchanged
    assert(TextIndex.searchBm25(spark, idx, Seq("merge"), 10).count() == 3L)
  }

  test("explainSearch of a zero-hit query returns the empty breakdown " +
      "with the populated path's schema, not a crash") {
    val idx = TestSpark.tmpDir("text_idx_explain0")
    TextIndex.ingestShard(spark, idx, corpus, "doc_id", "text")
    // terms entirely absent from the index: first-stage search is empty
    val empty = TextIndex.explainSearch(spark, idx, Seq("zzz", "qqq"), 10)
    assert(empty.count() == 0L)
    val full = TextIndex.explainSearch(spark, idx, Seq("merge"), 10)
    assert(empty.schema.map(f => (f.name, f.dataType)) ==
      full.schema.map(f => (f.name, f.dataType)),
      "empty-hit explain schema must match the populated path")
    // all terms present but over the maxDf cut: same ordinary-empty path
    assert(TextIndex.explainSearch(spark, idx, Seq("merge"), 10,
      maxDf = Some(0L)).count() == 0L)
  }

  test("forward docs leg: integer doc ids bucket identically at ingest " +
      "and lookup; a non-integral id column refuses loudly") {
    val idx = TestSpark.tmpDir("text_idx_intid")
    // IntegerType ids — ingest must cast to long before hashing so the
    // fb directory docsFor probes (from Seq[Long] literals) is the one
    // the row was written under; xxhash64(int) != xxhash64(long)
    val intCorpus = corpus.select(
      col("doc_id").cast("int").as("doc_id"), col("text"))
    TextIndex.ingestShard(spark, idx, intCorpus, "doc_id", "text")
    val got = TextIndex.docsFor(spark, idx, Seq(0L, 2L, 4L))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got.keySet == Set(0L, 2L, 4L),
      s"int-id forward rows missing from the fb prune: ${got.keySet}")
    assert(got(4L) == "scan scan scan merge")
    // and the search legs built from the same snapshot still answer
    assert(TextIndex.searchPhrase(spark, idx, "scan scan", 10)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((4L, 2L)))
    // string ids can't be probed by Seq[Long]: refuse at ingest, loudly
    val ex = intercept[IllegalArgumentException] {
      TextIndex.ingestShard(spark, TestSpark.tmpDir("text_idx_strid"),
        corpus.select(concat(lit("d"), col("doc_id")).as("doc_id"),
          col("text")), "doc_id", "text")
    }
    assert(ex.getMessage.contains("integral id column"))
  }
}
