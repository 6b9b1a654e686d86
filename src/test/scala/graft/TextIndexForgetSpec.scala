package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TextIndex
import graft.store.IndexCore

/**
 * Document deletion on the persisted text index: a tombstone commit
 * makes the docs vanish from EVERY read path immediately with EXACT
 * df/stats deltas (post-delete answers equal a never-ingested index),
 * a full compaction physically folds the tombstone away, delivery
 * keys survive, a stale publish aborts, and a pre-delete clone still
 * sees the doc until vacuum.
 */
class TextIndexForgetSpec extends AnyFunSuite {
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

  private def freshIdx(tag: String, d: org.apache.spark.sql.DataFrame,
      shards: Int = 2): String = {
    val idx = TestSpark.tmpDir(s"text_forget_$tag")
    for (i <- 0 until shards)
      TextIndex.ingestShard(spark, idx,
        d.where(pmod(col("doc_id"), lit(shards)) === i),
        "doc_id", "text", key = Some(s"$tag$i"))
    idx
  }

  private def bm25(idx: String, terms: Seq[String]) = TextIndex
    .searchBm25(spark, idx, terms, 10)
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    .toSeq

  test("forgetDocs removes the docs from every read path with EXACT " +
      "df/stats deltas: post-delete answers equal a never-ingested index") {
    val idx = freshIdx("main", corpus)
    val ref = freshIdx("ref", corpus.where(!col("doc_id").isin(1L, 5L)))
    TextIndex.forgetDocs(spark, idx, Seq(1L, 5L), key = Some("take1"))
    // BM25 (scores included — exact deltas, not stale-until-compaction)
    for (q <- Seq(Seq("merge"), Seq("window", "scan"), Seq("zebra"),
        Seq("merge", "window", "scan")))
      assert(bm25(idx, q) == bm25(ref, q),
        s"post-delete bm25 diverges from never-ingested on $q")
    // stats: nd/tl/vocab_size/n_postings equal (n_shards may differ)
    def st(i: String) = TextIndex.stats(spark, i)
      .select("nd", "tl", "vocab_size", "n_postings").head()
    assert(st(idx) == st(ref), "folded stats diverge post-delete")
    // forward store: the deleted doc is gone, survivors stand
    assert(TextIndex.docsFor(spark, idx, Seq(0L, 1L, 5L))
      .collect().map(_.getLong(0)).toSet == Set(0L))
    // positional phrase / NEAR / sloppy never resurrect doc 1
    assert(TextIndex.searchPhrasePositional(spark, idx, "window scan", 10)
      .count() == 0L)
    assert(TextIndex.searchNear(spark, idx, Seq("window", "scan"), 4, 10)
      .count() == 0L)
    assert(TextIndex.searchPhraseSloppy(spark, idx, "window window", 4, 10)
      .count() == 0L)
    // candidate-then-verify phrase (self-contained) too
    assert(TextIndex.searchPhrase(spark, idx, "window scan", 10).count() == 0L)
    // a fully-deleted token stops suggesting: 'zebra' lived only in doc 5
    assert(TextIndex.suggestPrefix(spark, idx, "z", 5).count() == 0L)
    assert(TextIndex.suggestFuzzy(spark, idx, "zebru", 2, 5).count() == 0L)
    assert(TextIndex.tombstoneCount(spark, idx) == 2L)
  }

  test("full compaction folds the tombstone away physically; answers, " +
      "delivery keys, and redelivery refusal all survive") {
    val idx = freshIdx("comp", corpus)
    val ref = freshIdx("cref", corpus.where(col("doc_id") =!= 4L))
    TextIndex.forgetDocs(spark, idx, Seq(4L), key = Some("take4"))
    val pre = bm25(idx, Seq("merge", "scan"))
    TextIndex.compact(spark, idx)
    assert(TextIndex.tombstoneCount(spark, idx) == 0L,
      "full fold must retire the tombstone commit")
    assert(TextIndex.liveShardCount(spark, idx) == 1)
    assert(bm25(idx, Seq("merge", "scan")) == pre,
      "compaction changed post-delete answers")
    assert(bm25(idx, Seq("merge", "scan")) == bm25(ref, Seq("merge", "scan")))
    // physical: the folded post leg carries no rows for doc 4
    val live = new graft.store.CommitLog(s"$idx/_manifests")
      .latest(spark)._2.filter(_.startsWith("c-"))
    assert(live.size == 1)
    assert(spark.read.parquet(s"$idx/data/${live.head}/post")
      .where(col("doc_id") === 4L).count() == 0L,
      "gone doc's postings must be physically dropped by the fold")
    // both the ingest keys and the DELETE key survived the fold
    for (k <- Seq("comp0", "comp1", "take4"))
      assert(IndexCore.hasDelivery(spark, idx, k), s"key $k lost in fold")
    // redelivered delete still refused post-compaction
    val ex = intercept[IllegalArgumentException] {
      TextIndex.forgetDocs(spark, idx, Seq(4L), key = Some("take4"))
    }
    assert(ex.getMessage.contains("redelivery rejected"))
    // vacuum reclaims the superseded dirs; answers stand
    IndexCore.vacuum(spark, idx)
    assert(bm25(idx, Seq("merge", "scan")) == bm25(ref, Seq("merge", "scan")))
  }

  test("a PARTIAL (tiered) fold leaves tombstones live and applying — " +
      "no double subtraction when the full fold later retires them") {
    val idx = freshIdx("tier", corpus, shards = 4)
    val ref = freshIdx("tref", corpus.where(col("doc_id") =!= 0L))
    TextIndex.forgetDocs(spark, idx, Seq(0L))
    // fanIn=2 folds only the two smallest shard commits of four
    TextIndex.compactTiered(spark, idx, fanIn = 2)
    assert(TextIndex.tombstoneCount(spark, idx) == 1L,
      "a partial fold must NOT retire tombstones")
    assert(bm25(idx, Seq("merge", "spark")) == bm25(ref, Seq("merge", "spark")))
    // now the full fold: tombstone retired, answers unchanged (the
    // deltas fold in exactly once)
    TextIndex.compact(spark, idx)
    assert(TextIndex.tombstoneCount(spark, idx) == 0L)
    assert(bm25(idx, Seq("merge", "spark")) == bm25(ref, Seq("merge", "spark")))
  }

  test("delete is idempotent-by-construction: re-deleting an already-" +
      "gone id (and a never-ingested id) subtracts nothing") {
    val idx = freshIdx("idem", corpus)
    TextIndex.forgetDocs(spark, idx, Seq(2L))
    val after = bm25(idx, Seq("merge", "window"))
    val stAfter = TextIndex.stats(spark, idx).head()
    // same id again, plus an id the index never held: both no-ops
    TextIndex.forgetDocs(spark, idx, Seq(2L, 999L), key = Some("again"))
    assert(bm25(idx, Seq("merge", "window")) == after)
    assert(TextIndex.stats(spark, idx).head() == stAfter,
      "re-delete double-subtracted df/nd/tl")
    // the no-op still LEDGERED its key (replay probes as done)
    assert(IndexCore.hasDelivery(spark, idx, "again"))
    assert(IndexCore.version(spark, idx) > 0)
  }

  test("stale publish aborts and drops its staging: the live tombstone " +
      "set moved between delta computation and commit") {
    val idx = freshIdx("stale", corpus)
    // snapshot taken when NO tombstone was live...
    val staleSnap = Seq.empty[String]
    // ...then a concurrent forget lands
    TextIndex.forgetDocs(spark, idx, Seq(3L))
    // a staged tombstone computed against the stale snapshot must
    // refuse to publish and clean up after itself
    val name = "t-stalestaged"
    corpus.where(col("doc_id") === 0L).select(col("doc_id"))
      .coalesce(1).write.parquet(s"$idx/data/$name/gone")
    val ex = intercept[IllegalStateException] {
      TextIndex.publishTombstone(spark, idx, name, None, staleSnap)
    }
    assert(ex.getMessage.contains("raced a concurrent forget"))
    val p = new org.apache.hadoop.fs.Path(s"$idx/data/$name")
    assert(!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p),
      "aborted publish must drop its staged tombstone dir")
    // doc 0 was never deleted — the aborted tombstone left no trace
    assert(TextIndex.docsFor(spark, idx, Seq(0L)).count() == 1L)
    assert(TextIndex.tombstoneCount(spark, idx) == 1L)
  }

  test("forgetWhere resolves from the index's own forward store and " +
      "deletes under one key: answers equal a never-ingested index; " +
      "minimal-profile indexes are refused with a pointer") {
    val idx = freshIdx("fwhere", corpus)
    val ref = freshIdx("fwhere_ref",
      corpus.where(!col("text").contains("zebra")))
    assert(TextIndex.forgetWhere(spark, idx,
      col("text").contains("zebra"), key = Some("z")) == 1L)
    for (q <- Seq(Seq("merge"), Seq("zebra"), Seq("window", "scan")))
      assert(bm25(idx, q) == bm25(ref, q),
        s"post-forgetWhere bm25 diverges from never-ingested on $q")
    // a docs-leg-less index refuses and names the fallback
    val min = TestSpark.tmpDir("fwhere_min")
    TextIndex.ingestShard(spark, min, corpus, "doc_id", "text",
      legs = TextIndex.LegProfile(pos = false, del = false, docs = false))
    assert(intercept[IllegalArgumentException] {
      TextIndex.forgetWhere(spark, min, col("text").contains("zebra"))
    }.getMessage.contains("forgetDocsRebuild"))
  }

  test("stale publish aborts when a SHARD COMMIT raced in: a re-ingest " +
      "between delta computation and publish must not fall under the " +
      "tombstone's coverage") {
    val idx = freshIdx("stalec", corpus)
    // snapshot taken against the pre-ingest live set...
    val staleSnap = new graft.store.CommitLog(s"$idx/_manifests")
      .latest(spark)._2.filter(e => e.startsWith("c-") || e.startsWith("t-"))
    // ...then a shard commit lands (imagine it re-ingests doc 2 —
    // covering it would hide the fresh rows while the staged deltas
    // never subtracted this commit's df/nd/tl contribution)
    TextIndex.ingestShard(spark, idx,
      Seq((12L, "late arriving shard")).toDF("doc_id", "text"),
      "doc_id", "text", key = Some("raced"))
    val name = "t-stalecommit"
    corpus.where(col("doc_id") === 2L).select(col("doc_id"))
      .coalesce(1).write.parquet(s"$idx/data/$name/gone")
    val ex = intercept[IllegalStateException] {
      TextIndex.publishTombstone(spark, idx, name, None, staleSnap)
    }
    assert(ex.getMessage.contains("raced a concurrent"))
    val p = new org.apache.hadoop.fs.Path(s"$idx/data/$name")
    assert(!p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p),
      "aborted publish must drop its staged tombstone dir")
    assert(TextIndex.tombstoneCount(spark, idx) == 0L)
    // doc 2 and the raced-in doc both still serve
    assert(TextIndex.docsFor(spark, idx, Seq(2L, 12L)).count() == 2L)
  }

  test("upsertDocs replaces content in place: post-upsert answers equal " +
      "a fresh index of the new text; replay completes the missing leg " +
      "only; full redelivery is a version-preserving no-op") {
    val idx = freshIdx("ups", corpus)
    val newText = Seq(
      (1L, "merge merge merge sort"), // was the window/scan doc
      (7L, "brand new document seven")) // never ingested: insert path
      .toDF("doc_id", "text")
    TextIndex.upsertDocs(spark, idx, newText, "doc_id", "text",
      key = Some("u1"))
    val ref = freshIdx("upsref",
      corpus.where(col("doc_id") =!= 1L).unionByName(newText))
    for (q <- Seq(Seq("merge"), Seq("window", "scan"), Seq("seven"),
        Seq("merge", "window", "scan")))
      assert(bm25(idx, q) == bm25(ref, q),
        s"post-upsert bm25 diverges from fresh-index-of-new-text on $q")
    assert(TextIndex.docsFor(spark, idx, Seq(1L)).head().getString(1) ==
      "merge merge merge sort")
    // both leg keys ledgered; a FULL redelivery of the upsert no-ops
    assert(IndexCore.hasDelivery(spark, idx, "u1.del"))
    assert(IndexCore.hasDelivery(spark, idx, "u1.add"))
    val v = IndexCore.version(spark, idx)
    TextIndex.upsertDocs(spark, idx, newText, "doc_id", "text",
      key = Some("u1"))
    assert(IndexCore.version(spark, idx) == v,
      "redelivered upsert must be a version-preserving no-op")
    // crash-gap replay: delete leg committed, add leg missing — the
    // replay completes ONLY the add
    val idx2 = freshIdx("upsgap", corpus)
    TextIndex.forgetDocs(spark, idx2, Seq(2L), key = Some("u2.del"))
    val upd2 = Seq((2L, "rebuilt second document")).toDF("doc_id", "text")
    TextIndex.upsertDocs(spark, idx2, upd2, "doc_id", "text",
      key = Some("u2"))
    assert(TextIndex.tombstoneCount(spark, idx2) == 1L,
      "replay re-applied the committed delete leg")
    assert(bm25(idx2, Seq("rebuilt")).map(_._2) == Seq(2L))
    // compaction folds the upsert's tombstone; answers stand
    TextIndex.compact(spark, idx)
    for (q <- Seq(Seq("merge"), Seq("seven")))
      assert(bm25(idx, q) == bm25(ref, q), s"fold changed upsert answers on $q")
    // an upsert on an EMPTY index is a plain founding ingest — and
    // REDELIVERING it must be a no-op: the founding delivery never
    // ledgered a delete key, so the guard must key off the committed
    // ADD leg (without it the redelivery would tombstone the founded
    // generation and skip the re-ingest — silent data loss)
    val idx3 = TestSpark.tmpDir("text_forget_upsnew")
    TextIndex.upsertDocs(spark, idx3, newText, "doc_id", "text",
      key = Some("f0"))
    assert(bm25(idx3, Seq("seven")).map(_._2) == Seq(7L))
    val vF = IndexCore.version(spark, idx3)
    TextIndex.upsertDocs(spark, idx3, newText, "doc_id", "text",
      key = Some("f0"))
    assert(IndexCore.version(spark, idx3) == vF,
      "redelivered FOUNDING upsert must be a version-preserving no-op")
    assert(TextIndex.tombstoneCount(spark, idx3) == 0L,
      "redelivered founding upsert tombstoned the founded generation")
    assert(bm25(idx3, Seq("seven")).map(_._2) == Seq(7L))
  }

  test("time travel: a pre-delete cloneAsOf branch still serves the " +
      "deleted doc until vacuum erases the superseded bytes") {
    val idx = freshIdx("tt", corpus)
    val vPre = IndexCore.version(spark, idx)
    TextIndex.forgetDocs(spark, idx, Seq(1L))
    val branch = TestSpark.tmpDir("text_forget_branch")
    IndexCore.cloneAsOf(spark, idx, branch, vPre)
    // the branch sees the pre-delete world
    assert(TextIndex.docsFor(spark, branch, Seq(1L)).count() == 1L)
    assert(TextIndex.searchBm25(spark, branch, Seq("window"), 10)
      .collect().map(_.getLong(1)).contains(1L))
    // the main index does not
    assert(TextIndex.docsFor(spark, idx, Seq(1L)).count() == 0L)
    // a source with live tombstones refuses to merge
    val dst = freshIdx("ttdst", corpus.where(col("doc_id") === 3L), 1)
    val mex = intercept[IllegalArgumentException] {
      TextIndex.mergeFrom(spark, dst, idx)
    }
    assert(mex.getMessage.contains("live tombstones"))
    // compact + vacuum on the main index completes physical erasure
    // without touching the branch (clone = hard links to its own refs)
    TextIndex.compact(spark, idx)
    IndexCore.vacuum(spark, idx)
    assert(TextIndex.docsFor(spark, branch, Seq(1L)).count() == 1L)
  }
}
