package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.TextIndex

/**
 * Tombstone-scoped retirement on the three persisted indexes: a
 * tombstone retires by rewriting IN PLACE only the covered commits
 * that contain its rows — commits after the tombstone (the live
 * ingest frontier) are never touched, untouched covered commits keep
 * their dirs, other tombstones' order-scoped coverage is preserved,
 * and answers equal the full-fold result — at cost ∝ the commits the
 * deleted docs live in instead of a whole-index rewrite.
 */
class IndexRetireSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus = Seq(
    (0L, "spark merge sort merge"),
    (1L, "window scan window window"),
    (2L, "merge window table"),
    (3L, "totally unrelated words here"),
    (4L, "scan scan scan merge"),
    (5L, "zebra zebra merge"))
    .toDF("doc_id", "text")

  private def bm25(idx: String, terms: Seq[String]) = TextIndex
    .searchBm25(spark, idx, terms, 10)
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    .toSeq

  private def liveCommits(d: String) =
    new graft.store.CommitLog(s"$d/_manifests")
      .latest(spark)._2.filter(_.startsWith("c-"))

  test("text index: retiring the oldest tombstone rewrites only the " +
      "commits holding its docs; post-tombstone commits and untouched " +
      "covered commits keep their dirs; later tombstones keep covering; " +
      "answers equal the full-fold result") {
    val idx = TestSpark.tmpDir("ret_text")
    // 3 covered shards: docs {0,3} / {1,4} / {2,5}
    for (i <- 0 until 3)
      TextIndex.ingestShard(spark, idx,
        corpus.where(pmod(col("doc_id"), lit(3)) === i),
        "doc_id", "text", key = Some(s"w$i"))
    // t1 deletes doc 1 (lives only in shard 1)
    TextIndex.forgetDocs(spark, idx, Seq(1L), key = Some("t1"))
    // a post-tombstone shard (the live ingest frontier)
    TextIndex.ingestShard(spark, idx,
      Seq((7L, "frontier doc about merge windows")).toDF("doc_id", "text"),
      "doc_id", "text", key = Some("w3"))
    // t2 deletes doc 5 (lives only in shard 2)
    TextIndex.forgetDocs(spark, idx, Seq(5L), key = Some("t2"))
    val before = liveCommits(idx)
    assert(before.size == 4 && TextIndex.tombstoneCount(spark, idx) == 2L)
    val answersPre = bm25(idx, Seq("merge", "window", "scan", "zebra"))
    val statsPre = TextIndex.stats(spark, idx)
      .select("nd", "tl", "vocab_size", "n_postings").head()

    assert(TextIndex.retireOldestTombstone(spark, idx))
    val mid = liveCommits(idx)
    assert(TextIndex.tombstoneCount(spark, idx) == 1L,
      "only the oldest tombstone retires")
    // shard 1 (docs 1,4) rewritten; shards 0, 2 and the frontier
    // shard untouched (doc 1 lives only in shard 1)
    assert(mid.count(before.contains) == 3,
      s"exactly one commit may be rewritten: $before -> $mid")
    assert(mid.contains(before(3)), "the post-tombstone commit moved")
    assert(bm25(idx, Seq("merge", "window", "scan", "zebra")) == answersPre,
      "retirement changed answers")
    assert(TextIndex.stats(spark, idx)
      .select("nd", "tl", "vocab_size", "n_postings").head() == statsPre,
      "retirement changed folded stats")
    // doc 1's rows are physically gone from the rewritten commit
    val rewritten = mid.filterNot(before.contains).head
    assert(spark.read.parquet(s"$idx/data/$rewritten/post")
      .where(col("doc_id") === 1L).count() == 0L)
    assert(spark.read.parquet(s"$idx/data/$rewritten/docs")
      .where(col("doc_id") === 1L).count() == 0L)
    // t2 still covers: doc 5 stays invisible
    assert(TextIndex.docsFor(spark, idx, Seq(5L)).count() == 0L)

    // retire the rest: answers equal a never-ingested reference
    assert(TextIndex.retireTombstones(spark, idx) == 1)
    assert(TextIndex.tombstoneCount(spark, idx) == 0L)
    val ref = TestSpark.tmpDir("ret_text_ref")
    TextIndex.ingestShard(spark, ref,
      corpus.where(!col("doc_id").isin(1L, 5L))
        .unionByName(Seq((7L, "frontier doc about merge windows"))
          .toDF("doc_id", "text")),
      "doc_id", "text")
    for (q <- Seq(Seq("merge"), Seq("window", "scan"), Seq("zebra"),
        Seq("merge", "window", "scan", "zebra")))
      assert(bm25(idx, q) == bm25(ref, q),
        s"post-retirement bm25 diverges from never-ingested on $q")
  }

  test("text index: a re-ingested-after-takedown doc keeps its NEW " +
      "generation through retirement; a fully-deleted commit drops") {
    val idx = TestSpark.tmpDir("ret_text_re")
    TextIndex.ingestShard(spark, idx,
      Seq((0L, "only doc in this shard")).toDF("doc_id", "text"),
      "doc_id", "text", key = Some("a"))
    TextIndex.ingestShard(spark, idx,
      corpus.where(col("doc_id").isin(2L, 3L)), "doc_id", "text",
      key = Some("b"))
    TextIndex.forgetDocs(spark, idx, Seq(0L), key = Some("t"))
    TextIndex.ingestShard(spark, idx,
      Seq((0L, "reborn doc zero fresh text")).toDF("doc_id", "text"),
      "doc_id", "text", key = Some("c"))
    val before = liveCommits(idx)
    assert(TextIndex.retireTombstones(spark, idx) == 1)
    val after = liveCommits(idx)
    // the single-doc shard emptied out and DROPPED; shard b untouched;
    // the post-tombstone re-ingest untouched
    assert(after.size == 2 && after.forall(before.contains),
      s"expected the emptied commit to drop: $before -> $after")
    assert(TextIndex.docsFor(spark, idx, Seq(0L))
      .head().getString(1) == "reborn doc zero fresh text",
      "the re-ingested generation must survive retirement")
    assert(TextIndex.tombstoneCount(spark, idx) == 0L)
  }

  test("text index: forgetDocsRebuild deletes on a MINIMAL-profile " +
      "index (no docs leg, no corpus) — answers equal a never-ingested " +
      "index, untouched commits keep their dirs, key is exactly-once, " +
      "live tombstones refuse") {
    val minimal = graft.text.TextIndex.LegProfile(
      pos = false, del = false, docs = false)
    val idx = TestSpark.tmpDir("ret_min")
    for (i <- 0 until 3)
      TextIndex.ingestShard(spark, idx,
        corpus.where(pmod(col("doc_id"), lit(3)) === i),
        "doc_id", "text", key = Some(s"m$i"), legs = minimal)
    // forgetDocs refuses a Minimal index and names the helper
    val e = intercept[IllegalArgumentException](
      TextIndex.forgetDocs(spark, idx, Seq(1L)))
    assert(e.getMessage.contains("forgetDocsRebuild"))
    val before = liveCommits(idx)
    // delete doc 1 (shard 1 only) + a never-ingested id (no-op)
    TextIndex.forgetDocsRebuild(spark, idx, Seq(1L, 999L),
      key = Some("k0"))
    val after = liveCommits(idx)
    assert(after.count(before.contains) == 2,
      s"only the commit holding doc 1 may be rewritten: $before -> $after")
    val ref = TestSpark.tmpDir("ret_min_ref")
    TextIndex.ingestShard(spark, ref,
      corpus.where(col("doc_id") =!= 1L), "doc_id", "text", legs = minimal)
    for (q <- Seq(Seq("merge"), Seq("window", "scan")))
      assert(bm25(idx, q) == bm25(ref, q),
        s"post-rebuild bm25 diverges from never-ingested on $q")
    assert(TextIndex.tombstoneCount(spark, idx) == 0L)
    // exactly-once: redelivery refused
    assert(intercept[IllegalArgumentException] {
      TextIndex.forgetDocsRebuild(spark, idx, Seq(1L), key = Some("k0"))
    }.getMessage.contains("redelivery rejected"))
    // a live tombstone refuses the rebuild (its deltas reference the
    // rows the rebuild would erase)
    val idx2 = TestSpark.tmpDir("ret_min_t")
    TextIndex.ingestShard(spark, idx2, corpus, "doc_id", "text")
    TextIndex.forgetDocs(spark, idx2, Seq(0L))
    assert(intercept[IllegalArgumentException] {
      TextIndex.forgetDocsRebuild(spark, idx2, Seq(2L))
    }.getMessage.contains("retireTombstones first"))
  }

  test("dedup index: retirement drops sig/sh rows AND pair rows naming " +
      "the gone doc in any covered commit; keyed commits keep their " +
      "digest prefix; answers unchanged") {
    val idx = TestSpark.tmpDir("ret_lsh")
    val doc =
      "the quick brown fox jumps over the lazy dog again and again today"
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((0L, doc), (1L, "entirely other words nothing shared"))
        .toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("s0"),
      persistPairs = true): Unit
    // shard 2 pairs doc 10 with doc 0 — the pair lives in shard 2's
    // commit but names doc 0 stored in shard 1
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((10L, doc + " tail")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("s1"),
      persistPairs = true): Unit
    Dedup.indexForgetDocs(spark, idx, Seq(0L), key = Some("rt"))
    // post-tombstone shard: untouched by retirement
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((20L, "late arriving unrelated content")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("s2")): Unit
    val before = liveCommits(idx)
    val pairsPre = Dedup.indexPairs(spark, idx).count()
    assert(Dedup.indexRetireTombstones(spark, idx) == 1)
    assert(Dedup.indexTombstoneCount(spark, idx) == 0L)
    val after = liveCommits(idx)
    // BOTH covered commits are touched (shard 1 holds doc 0's rows,
    // shard 2 holds the pair naming it); the post-tombstone shard isn't
    assert(after.last == before.last, "the post-tombstone commit moved")
    assert(after.take(2).forall(_.matches("c-k[0-9a-f]{16}-.*")),
      s"rewritten keyed commits must keep their digest prefix: $after")
    assert(Dedup.indexPairs(spark, idx).count() == pairsPre,
      "retirement changed pair readback")
    for (c <- after) {
      for (s0 <- Seq("sig", "sh")) {
        val p = new org.apache.hadoop.fs.Path(s"$idx/data/$c/$s0")
        if (p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p))
          assert(spark.read.parquet(p.toString)
            .where(col("doc_id") === 0L).count() == 0L,
            s"gone doc survived in $c/$s0")
      }
      val pp = new org.apache.hadoop.fs.Path(s"$idx/data/$c/pairs")
      if (pp.getFileSystem(spark.sessionState.newHadoopConf()).exists(pp))
        assert(spark.read.parquet(pp.toString)
          .where(col("a_id") === 0L || col("b_id") === 0L).count() == 0L,
          s"pair naming the gone doc survived in $c/pairs")
    }
    // gating answers equal the tombstone-era answers
    assert(Dedup.indexCheckAndIngest(spark, idx,
      Seq((30L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6)
      .collect().map(_.getLong(0)).toSeq == Seq(10L))
  }

  test("ivf index: retirement keeps the founding centroids even when " +
      "the founding postings empty out; the post-tombstone append is " +
      "untouched; probes unchanged") {
    val idx = TestSpark.tmpDir("ret_ivf")
    val all = Similarity.asDouble(
      (0L until 8L).map { i =>
        val a = Array.fill(8)(0f)
        a((i % 8).toInt) = 1f
        (i, a)
      }.toDF("vec_id", "embedding"), "vec_id", "embedding")
    // founding = vecs 0..3; append = vecs 4..7
    Similarity.ivfIndexBuild(spark, idx, all.where(col("vec_id") < 4),
      centroidStep = 2L, key = Some("f"))
    Similarity.ivfIndexAppend(spark, idx, all.where(col("vec_id") >= 4),
      key = Some("a"))
    // delete ALL founding vectors → the founding commit's postings
    // empty out but its centroid leg must carry through
    Similarity.ivfIndexForget(spark, idx, Seq(0L, 1L, 2L, 3L),
      key = Some("t"))
    val before = liveCommits(idx)
    def probe() = Similarity.ivfIndexQuery(spark, idx,
        all.where(col("vec_id") === 4L), k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pre = probe()
    assert(Similarity.ivfIndexRetireTombstones(spark, idx) == 1)
    assert(Similarity.ivfTombstoneCount(spark, idx) == 0L)
    val after = liveCommits(idx)
    assert(after.last == before.last, "the post-tombstone append moved")
    assert(probe() == pre, "retirement changed probe answers")
    // the rewritten founding commit has centroids but no postings
    val rewritten = after.filterNot(before.contains).head
    val conf = spark.sessionState.newHadoopConf()
    val cp = new org.apache.hadoop.fs.Path(s"$idx/data/$rewritten/centroids")
    val pp = new org.apache.hadoop.fs.Path(s"$idx/data/$rewritten/post")
    assert(cp.getFileSystem(conf).exists(cp),
      "founding centroids must carry through retirement")
    assert(!pp.getFileSystem(conf).exists(pp),
      "emptied postings must not be written")
    assert(Similarity.ivfIndexStats(spark, idx).head().getLong(1) == 4L)
  }

  test("text index: zero-token docs (text tokenizes to nothing) obey " +
      "the erasure contract through retirement — an erased zero-token " +
      "doc's forward row is physically rewritten out, and a commit " +
      "whose postings all die keeps its still-live zero-token docs") {
    val idx = TestSpark.tmpDir("ret_zerotok")
    // shard A: an erased-later zero-token doc + a live normal doc
    TextIndex.ingestShard(spark, idx,
      Seq((100L, "   "), (2L, "merge window table"))
        .toDF("doc_id", "text"),
      "doc_id", "text", key = Some("za"))
    // shard B: a LIVE zero-token doc + a normal doc erased later —
    // B's postings all die but B must survive for doc 200's text
    TextIndex.ingestShard(spark, idx,
      Seq((200L, "\t \t"), (201L, "zebra zebra merge"))
        .toDF("doc_id", "text"),
      "doc_id", "text", key = Some("zb"))
    TextIndex.forgetDocs(spark, idx, Seq(100L, 201L), key = Some("zt"))
    // tombstoned-but-unretired: both unreachable, zero-token doc too
    assert(TextIndex.docsFor(spark, idx, Seq(100L, 201L)).count() == 0L)
    val before = liveCommits(idx)

    assert(TextIndex.retireTombstones(spark, idx) == 1)
    assert(TextIndex.tombstoneCount(spark, idx) == 0L)
    val after = liveCommits(idx)
    assert(after.size == 2 && after.forall(!before.contains(_)),
      s"both commits hold erased docs and must be rewritten: " +
        s"$before -> $after")
    // the erased zero-token doc's text is PHYSICALLY gone from every
    // live commit dir (the erasure contract, not just filtered)
    val conf = spark.sessionState.newHadoopConf()
    for (c <- after; leg <- Seq("post", "docs")) {
      val p = new org.apache.hadoop.fs.Path(s"$idx/data/$c/$leg")
      if (p.getFileSystem(conf).exists(p))
        assert(spark.read.parquet(p.toString)
          .where(col("doc_id").isin(100L, 201L)).count() == 0L,
          s"erased doc survived in $c/$leg")
    }
    // the live zero-token doc's forward row survived B's rewrite
    assert(TextIndex.docsFor(spark, idx, Seq(200L))
      .head().getString(1) == "\t \t",
      "still-live zero-token doc lost its forward row")
    // B's token-grain legs are empty but READABLE, and leg uniformity
    // holds so positional/forward routing is unchanged
    assert(TextIndex.hasPositionalLeg(spark, idx) &&
      TextIndex.hasDocsLeg(spark, idx))
    assert(bm25(idx, Seq("zebra")).isEmpty,
      "zebra lived only in the erased doc")
    // MIXED LAYOUTS: a commit whose postings all die while a zero-token
    // doc survives is rewritten with PLAIN-layout token-grain legs (the
    // tokenizer splits on spaces, so doc 200's tabs are tokens and B
    // kept its postings); one more tb-partitioned commit after it makes
    // the live set 1 plain + 3 partitioned posting roots, and every
    // read path must answer over them before a fold normalizes layout
    TextIndex.ingestShard(spark, idx,
      Seq((400L, "   "), (401L, "quartz quartz")).toDF("doc_id", "text"),
      "doc_id", "text")
    TextIndex.forgetDocs(spark, idx, Seq(401L))
    assert(TextIndex.retireTombstones(spark, idx) == 1)
    val fresh = Seq((300L, "merge scan window")).toDF("doc_id", "text")
    TextIndex.ingestShard(spark, idx, fresh, "doc_id", "text")
    val plain = liveCommits(idx).filter { c =>
      new java.io.File(s"$idx/data/$c/post").listFiles()
        .forall(!_.getName.startsWith("tb="))
    }
    assert(plain.size == 1 && liveCommits(idx).size == 4,
      s"expected 1 plain + 3 partitioned posting roots: ${liveCommits(idx)}")
    assert(bm25(idx, Seq("merge", "scan")).map(_._2).toSet == Set(2L, 300L))
    assert(TextIndex.fsck(spark, idx).collect().forall(_.getLong(1) == 0L),
      "fsck over mixed layouts reports violations")
    assert(TextIndex.stats(spark, idx).select("n_shards", "nd").head() ==
      org.apache.spark.sql.Row(4L, 3L))
    // stats equal a never-ingested reference, and a subsequent FULL
    // fold over the empty-posting commit works
    TextIndex.compact(spark, idx)
    val ref = TestSpark.tmpDir("ret_zerotok_ref")
    TextIndex.ingestShard(spark, ref,
      Seq((2L, "merge window table"), (200L, "\t \t"))
        .toDF("doc_id", "text"), "doc_id", "text")
    TextIndex.ingestShard(spark, ref, fresh, "doc_id", "text")
    assert(TextIndex.stats(spark, idx)
        .select("nd", "tl", "vocab_size", "n_postings").head() ==
      TextIndex.stats(spark, ref)
        .select("nd", "tl", "vocab_size", "n_postings").head(),
      "post-fold stats diverge from never-ingested")
    assert(bm25(idx, Seq("merge")) == bm25(ref, Seq("merge")))
    assert(TextIndex.docsFor(spark, idx, Seq(200L)).count() == 1L)
  }

  test("text index: forgetDocsRebuild erases a zero-token doc's " +
      "forward row (the probe sees docs-leg-only membership)") {
    val idx = TestSpark.tmpDir("ret_zerotok_rb")
    TextIndex.ingestShard(spark, idx,
      Seq((100L, "   "), (2L, "merge window table"))
        .toDF("doc_id", "text"),
      "doc_id", "text", key = Some("ra"))
    TextIndex.forgetDocsRebuild(spark, idx, Seq(100L), key = Some("rk"))
    val c = liveCommits(idx)
    assert(c.size == 1)
    assert(spark.read.parquet(s"$idx/data/${c.head}/docs")
      .where(col("doc_id") === 100L).count() == 0L,
      "zero-token doc's forward row survived the rebuild")
    assert(TextIndex.docsFor(spark, idx, Seq(2L)).count() == 1L)
  }
}
