package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.text.TextIndex
import graft.store.IndexCore

/**
 * The replay pin (mid-replay lease): the mechanism that turns "no
 * folds or tombstone retirements on an index a pipeline may be
 * mid-replay on" from scaladoc into an enforced, checkable contract.
 * While a pin is live, the destructive consumers refuse loudly
 * (IllegalStateException — StreamForget's opportunistic retirement
 * defers and counts, a takedown stream never fails); ingest, forget,
 * upsert, and every read path remain allowed; the pin is a ledger
 * entry, so it survives a "restart" (re-reading the log cold) and
 * rides through nothing — it blocks the folds that would reposition
 * commits in the first place.
 */
class IndexPinSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus = Seq(
    (0L, "spark merge sort merge"),
    (1L, "window scan window window"),
    (2L, "merge window table"),
    (3L, "totally unrelated words here"))
    .toDF("doc_id", "text")

  test("text index: a live pin refuses compaction, retirement, and the " +
      "direct rebuild; ingest/forget/reads stay allowed; release " +
      "unblocks; the pin survives restart and is idempotent") {
    val idx = TestSpark.tmpDir("pin_text")
    for (i <- 0 until 2)
      TextIndex.ingestShard(spark, idx,
        corpus.where(pmod(col("doc_id"), lit(2)) === i),
        "doc_id", "text", key = Some(s"w$i"))
    IndexCore.pin(spark, idx, "crawl-pipeline")
    IndexCore.pin(spark, idx, "crawl-pipeline") // idempotent
    assert(IndexCore.pins(spark, idx) == Seq("crawl-pipeline"))
    // a second, independent lease coexists
    IndexCore.pin(spark, idx, "rag-pipeline")
    assert(IndexCore.pins(spark, idx).toSet ==
      Set("crawl-pipeline", "rag-pipeline"))
    // ingest / forget / reads are NOT blocked — a pin only stops the
    // consumers that reposition or erase existing commits
    TextIndex.ingestShard(spark, idx,
      Seq((9L, "late pinned-era doc merge")).toDF("doc_id", "text"),
      "doc_id", "text", key = Some("w2"))
    TextIndex.forgetDocs(spark, idx, Seq(3L), key = Some("t0"))
    assert(TextIndex.searchBm25(spark, idx, Seq("merge"), 10).count() > 0)
    // the destructive consumers refuse LOUDLY, naming the lease
    for ((what, f) <- Seq[(String, () => Any)](
        ("compact", () => TextIndex.compact(spark, idx)),
        ("compactTiered", () => TextIndex.compactTiered(spark, idx, 2)),
        ("retireTombstones", () => TextIndex.retireTombstones(spark, idx)))) {
      val e = intercept[IllegalStateException](f())
      assert(e.getMessage.contains("crawl-pipeline") &&
        e.getMessage.contains("pinned"), s"$what: ${e.getMessage}")
    }
    // the pin is a LEDGER entry: a cold re-read of the log (a fresh
    // CommitLog instance — "restart") still sees it
    assert(new graft.store.CommitLog(s"$idx/_manifests")
      .pins(spark) == Seq("crawl-pipeline", "rag-pipeline"))
    // releasing ONE lease is not enough — the other still holds
    IndexCore.unpin(spark, idx, "crawl-pipeline")
    assert(intercept[IllegalStateException](
      TextIndex.retireTombstones(spark, idx))
      .getMessage.contains("rag-pipeline"))
    // full release unblocks: retirement retires, compaction folds
    IndexCore.unpin(spark, idx, "rag-pipeline")
    IndexCore.unpin(spark, idx, "rag-pipeline") // idempotent
    assert(IndexCore.pins(spark, idx).isEmpty)
    assert(TextIndex.retireTombstones(spark, idx) == 1)
    TextIndex.compact(spark, idx)
    assert(TextIndex.liveShardCount(spark, idx) == 1)
    assert(TextIndex.docsFor(spark, idx, Seq(3L)).count() == 0L)
    assert(TextIndex.docsFor(spark, idx, Seq(9L)).count() == 1L)
  }

  test("dedup index: pinned folds/retirement refuse; the gate and the " +
      "upsert verbs stay allowed; unpin proceeds") {
    val idx = TestSpark.tmpDir("pin_dedup")
    Dedup.indexCheckAndIngest(spark, idx, corpus, "doc_id", "text", 0.6,
      deliveryKey = Some("s0"), persistPairs = true): Unit
    IndexCore.pin(spark, idx, "rag")
    // the gate (ingest) and takedown verbs still run under the pin
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((10L, "fresh pinned-era words")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("s1")): Unit
    Dedup.indexForgetDocs(spark, idx, Seq(3L), key = Some("t0"))
    assert(intercept[IllegalStateException](
      Dedup.indexCompact(spark, idx)).getMessage.contains("rag"))
    assert(intercept[IllegalStateException](
      Dedup.indexRetireTombstones(spark, idx)).getMessage.contains("rag"))
    IndexCore.unpin(spark, idx, "rag")
    assert(Dedup.indexRetireTombstones(spark, idx) == 1)
    Dedup.indexCompact(spark, idx)
  }

  test("ivf index: pinned folds/retirement/rebuild refuse; append and " +
      "upsert stay allowed; unpin proceeds; StreamForget's " +
      "opportunistic retirement DEFERS on a pinned index instead of " +
      "failing the takedown stream") {
    val idx = TestSpark.tmpDir("pin_ivf")
    val vecs = (0L until 8L).map { i =>
      val a = Array.fill(8)(0.0); a((i % 8).toInt) = 1.0; (i, a.toSeq)
    }.toDF("vec_id", "v")
    Similarity.ivfIndexBuild(spark, idx, vecs.where(col("vec_id") < 4),
      centroidStep = 2L, key = Some("f"))
    IndexCore.pin(spark, idx, "embed-stream")
    Similarity.ivfIndexAppend(spark, idx,
      vecs.where(col("vec_id") >= 4), key = Some("a"))
    Similarity.ivfIndexForget(spark, idx, Seq(0L), key = Some("t"))
    assert(intercept[IllegalStateException](
      Similarity.ivfIndexCompactTiered(spark, idx))
      .getMessage.contains("embed-stream"))
    assert(intercept[IllegalStateException](
      Similarity.ivfIndexRetireTombstones(spark, idx))
      .getMessage.contains("embed-stream"))
    assert(intercept[IllegalStateException](
      Similarity.ivfIndexRebuild(spark, idx, centroidStep = 2L))
      .getMessage.contains("embed-stream"))
    // the opportunistic maintainer path defers and COUNTS, never throws
    val before = graft.streaming.StreamForget.deferredRetirements(idx)
    graft.streaming.StreamForget.retireOpportunistic(idx)(
      Similarity.ivfIndexRetireTombstones(spark, idx): Unit)
    assert(graft.streaming.StreamForget.deferredRetirements(idx)
      == before + 1, "a pinned retirement must count as deferred")
    IndexCore.unpin(spark, idx, "embed-stream")
    assert(Similarity.ivfIndexRetireTombstones(spark, idx) == 1)
    assert(Similarity.ivfIndexRebuild(spark, idx, centroidStep = 2L))
  }
}
