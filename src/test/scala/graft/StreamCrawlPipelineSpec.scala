package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.streaming.StreamCrawlPipeline
import graft.text.TextIndex
import graft.store.IndexCore

/**
 * Composed crawl pipeline: one stream near-dup-gates each micro-batch
 * against the dedup index and ingests only survivors into the text
 * index. Pins the two-sink exactly-once contract: full redelivery is a
 * no-op on BOTH indexes, and a crash BETWEEN the dedup commit and the
 * text commit recovers exactly (the replay skips the committed dedup
 * append, rebuilds the survivor set from the PERSISTED pair reports,
 * and performs the missing text ingest).
 */
class StreamCrawlPipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // near-dup pairs planted ACROSS shards (shard = doc_id % 3):
  // 1 ≈ 0 and 5 ≈ 4, so the gate must drop docs 1 and 5
  private lazy val corpus = Seq(
    (0L, "a b c d e f g h"),
    (1L, "a b c d e f g h x"),
    (2L, "totally different words entirely here now ok fine"),
    (3L, "another unrelated set of words for this test doc"),
    (4L, "p q r s t u v w"),
    (5L, "p q r s t u v w y"))
    .toDF("doc_id", "text")

  private def stageBatches(srcDir: java.nio.file.Path): Unit = {
    val base = System.currentTimeMillis()
    for (i <- 0 until 3) {
      val scratch = srcDir.resolve(s"scratch$i")
      corpus.where(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.parquet(scratch.toString)
      val parts = java.nio.file.Files.list(scratch)
      try {
        val part = parts
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        val dst = srcDir.resolve(s"batch$i.parquet")
        java.nio.file.Files.move(part, dst)
        java.nio.file.Files.setLastModifiedTime(
          dst, java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
      } finally parts.close()
    }
  }

  private def search(d: String) = TextIndex
    .searchBm25(spark, d, Seq("a", "b", "p"), 10)
    .collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    .toSeq

  test("dedup-gated text ingest; redelivery no-op on both indexes; " +
      "crash between the two commits recovers exactly") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_scp_src")
    val dedupIdx = TestSpark.tmpDir("scp_dedup")
    val textIdx = TestSpark.tmpDir("scp_text")
    val oneShot = TestSpark.tmpDir("scp_oneshot")
    stageBatches(srcDir)
    val schema = spark.read.parquet(s"$srcDir/batch0.parquet").schema
    def drain(dd: String, td: String, ckpt: String): Unit =
      StreamCrawlPipeline.maintain(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString),
        dd, td, ckpt, threshold = 0.6).awaitTermination()

    drain(dedupIdx, textIdx, s"$srcDir/ckpt")
    // gate verdict: docs 1 and 5 are later-shard near-dups → the text
    // index must answer exactly like a one-shot build over survivors
    TextIndex.ingestShard(spark, oneShot,
      corpus.where(!col("doc_id").isin(1L, 5L)), "doc_id", "text")
    assert(search(textIdx) == search(oneShot),
      "text index must hold exactly the dedup survivors")
    val vD = IndexCore.version(spark, dedupIdx)
    val vT = IndexCore.version(spark, textIdx)

    // full redelivery under a FRESH checkpoint: both ledgers reject
    // every batch, neither index version moves
    drain(dedupIdx, textIdx, s"$srcDir/ckpt2")
    assert(IndexCore.version(spark, dedupIdx) == vD &&
      IndexCore.version(spark, textIdx) == vT,
      "redelivered stream must be a no-op on BOTH indexes")

    // crash between the two commits: batch 0's dedup append committed
    // (simulated by a direct pre-ingest under the key the stream will
    // use) but its text ingest did not happen. The replayed batch must
    // skip the dedup leg, rebuild survivors from the PERSISTED pair
    // reports, and complete the text leg — converging to the same
    // final state as the uncrashed run
    val dedup2 = TestSpark.tmpDir("scp_dedup2")
    val text2 = TestSpark.tmpDir("scp_text2")
    Dedup.indexCheckAndIngest(spark, dedup2,
      corpus.where(pmod(col("doc_id"), lit(3)) === 0),
      "doc_id", "text", 0.6, deliveryKey = Some("b0"),
      persistPairs = true): Unit
    val vD2 = IndexCore.version(spark, dedup2)
    drain(dedup2, text2, s"$srcDir/ckpt3")
    val live2 = new graft.store.CommitLog(s"$dedup2/_manifests").latest(spark)._2
    assert(live2.count(_.startsWith("c-")) == 3,
      s"replayed b0 must not re-append to the dedup index: $live2")
    // +3 = the pipeline's replay-lease pin + batches 1 and 2 (batch
    // 0's data commits were pre-applied by the "crash")
    assert(IndexCore.version(spark, dedup2) == vD2 + 3,
      "only the lease pin and batches 1/2 may publish after the crash")
    assert(search(text2) == search(oneShot),
      "post-crash recovery must converge to the uncrashed text index")
  }

  test("survivor gate input is the batch's own pair report: commit-local, " +
      "partitioning the cumulative union, loud when unaddressable") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_scp_src2")
    val dedupIdx = TestSpark.tmpDir("scp_dedup3")
    val textIdx = TestSpark.tmpDir("scp_text3")
    stageBatches(srcDir)
    val schema = spark.read.parquet(s"$srcDir/batch0.parquet").schema
    StreamCrawlPipeline.maintain(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString),
      dedupIdx, textIdx, s"$srcDir/ckpt", threshold = 0.6)
      .awaitTermination()
    // each batch's report reads from exactly ONE commit dir — the
    // keyed (c-k<digest>-) commit of that batch — never the union of
    // every live pairs leg: this is what bounds the text leg's
    // survivor anti-join at batch grain instead of stream lifetime
    for (i <- 0 until 3) {
      val rep = Dedup.indexPairsForDelivery(spark, dedupIdx, s"b$i")
      val commitDirs = rep.inputFiles
        .map(_.replaceAll("/pairs/[^/]*$", "")).distinct
      assert(commitDirs.size <= 1,
        s"batch b$i report must be one commit's pairs leg: ${commitDirs.toSeq}")
      assert(commitDirs.forall(_.matches(".*/c-k[0-9a-f]{16}-[0-9a-f]{8}")),
        s"batch b$i report must come from its keyed commit: ${commitDirs.toSeq}")
    }
    // the batch reports PARTITION the cumulative union (b0 is the
    // empty founding report; 1≈0 lands in b1's, 5≈4 in b2's)
    def pairsOf(df: org.apache.spark.sql.DataFrame) =
      df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cum = pairsOf(Dedup.indexPairs(spark, dedupIdx))
    assert(pairsOf(Dedup.indexPairsForDelivery(spark, dedupIdx, "b0")).isEmpty)
    assert(pairsOf(Dedup.indexPairsForDelivery(spark, dedupIdx, "b1")) == Set((0L, 1L)))
    assert(pairsOf(Dedup.indexPairsForDelivery(spark, dedupIdx, "b2")) == Set((4L, 5L)))
    assert((0 until 3).map(i =>
      pairsOf(Dedup.indexPairsForDelivery(spark, dedupIdx, s"b$i")))
      .reduce(_ ++ _) == cum,
      "batch reports must partition the cumulative pair union")
    // a key that never delivered is loud
    intercept[IllegalArgumentException](
      Dedup.indexPairsForDelivery(spark, dedupIdx, "never-delivered"))
    // the pipeline holds its replay lease: a fold REFUSES until the
    // operator decommissions the checkpoint and releases it — exactly
    // the protection the batch-grain reads above depend on
    intercept[IllegalStateException](Dedup.indexCompact(spark, dedupIdx))
    StreamCrawlPipeline.release(spark, dedupIdx)
    // once compaction folds the keyed commit away, the batch-grain
    // read refuses loudly (the per-batch report is no longer
    // separable) — and the cumulative union still holds every pair
    Dedup.indexCompact(spark, dedupIdx)
    val ex = intercept[IllegalArgumentException](
      Dedup.indexPairsForDelivery(spark, dedupIdx, "b1"))
    assert(ex.getMessage.contains("not addressable by key digest"))
    assert(pairsOf(Dedup.indexPairs(spark, dedupIdx)) == cum,
      "compaction must carry every pair report forward")
  }

  test("re-crawled docs route through upsert: new text searchable, old " +
      "retired, update-became-duplicate suppressed; redelivery no-op") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_scp_rf")
    val dedupIdx = TestSpark.tmpDir("scp_rf_dedup")
    val textIdx = TestSpark.tmpDir("scp_rf_text")
    // batch 0: four first-sight docs. batch 1: doc 0 RE-FETCHED with
    // entirely new text (must become searchable, old text must stop
    // serving); doc 2 RE-FETCHED with text that now near-dups doc 3
    // (must be suppressed from text AND its old text retired); doc 6
    // fresh near-dup of doc 4 (classic gate must still fire); doc 7
    // fresh novel (classic ingest)
    val b0 = Seq(
      (0L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "cold winter nights bring quiet snowfall over the valley"),
      (3L, "green meadows stretch beyond the river bend every spring"),
      (4L, "p q r s t u v w"))
    val b1 = Seq(
      (0L, "completely rewritten page about submarine cable routing"),
      (2L, "green meadows stretch beyond the river bend every spring ok"),
      (6L, "p q r s t u v w y"),
      (7L, "sunlit harbor towns trade stories with passing sailors"))
    val base = System.currentTimeMillis()
    for ((rows, i) <- Seq(b0, b1).zipWithIndex) {
      val scratch = srcDir.resolve(s"scratch$i")
      rows.toDF("doc_id", "text")
        .coalesce(1).write.parquet(scratch.toString)
      val parts = java.nio.file.Files.list(scratch)
      try {
        val part = parts
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        val dst = srcDir.resolve(s"batch$i.parquet")
        java.nio.file.Files.move(part, dst)
        java.nio.file.Files.setLastModifiedTime(
          dst, java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
      } finally parts.close()
    }
    val schema = spark.read.parquet(s"$srcDir/batch0.parquet").schema
    def drain(ckpt: String): Unit =
      StreamCrawlPipeline.maintain(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString),
        dedupIdx, textIdx, ckpt, threshold = 0.6).awaitTermination()
    drain(s"$srcDir/ckpt")
    def top(terms: String*) = TextIndex
      .searchBm25(spark, textIdx, terms, 10)
      .orderBy("rank")
      .collect().map(_.getLong(1)).toSeq
    // doc 0: new content serves, old content gone
    assert(top("submarine", "cable") == Seq(0L),
      "re-crawled doc's NEW text must be searchable")
    assert(!top("alpha", "beta", "gamma").contains(0L),
      "re-crawled doc's OLD text must stop serving")
    // doc 2: update became a duplicate of 3 → suppressed entirely
    val winter = top("winter", "snowfall")
    assert(!winter.contains(2L), "superseded text of a now-duplicate " +
      "re-crawl must stop serving")
    assert(top("meadows", "river") == Seq(3L),
      "an update that became a duplicate must be suppressed from text")
    // fresh legs still gate classically: 6 dropped (≈4), 7 ingested
    assert(!top("p", "q", "r").contains(6L))
    assert(top("harbor", "sailors") == Seq(7L))
    // the text index equals a one-shot build over the expected final
    // corpus {0-new, 3, 4, 7} — all legs with exact deltas
    val oneShot = TestSpark.tmpDir("scp_rf_oneshot")
    TextIndex.ingestShard(spark, oneShot,
      (b1.take(1) ++ b0.drop(2) ++ b1.drop(3)).toDF("doc_id", "text"),
      "doc_id", "text")
    def full(d: String) = TextIndex
      .searchBm25(spark, d,
        Seq("submarine", "meadows", "p", "harbor", "winter"), 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(full(textIdx) == full(oneShot),
      "post-re-crawl text index must equal a one-shot build of the " +
        "final corpus (exact deltas on every leg)")
    // dedup index: doc 0's new signature gates a future near-dup; its
    // old content no longer does
    assert(Dedup.indexCheckAndIngest(spark, dedupIdx,
      Seq((90L, "completely rewritten page about submarine cable " +
        "routing x")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6)
      .collect().map(_.getLong(0)).toSeq == Seq(0L),
      "re-crawled doc's new signature must gate")
    assert(Dedup.indexCheckAndIngest(spark, dedupIdx,
      Seq((91L, "alpha beta gamma delta epsilon zeta eta theta x"))
        .toDF("doc_id", "text"),
      "doc_id", "text", 0.6).count() == 0L,
      "re-crawled doc's old signature must stop gating")
    // full redelivery under a fresh checkpoint: version-preserving
    // no-op on BOTH indexes — this also re-derives the fresh/re-fetch
    // split post-mutation, pinning indexKnownIds' replay stability
    val (vD, vT) =
      (IndexCore.version(spark, dedupIdx), IndexCore.version(spark, textIdx))
    drain(s"$srcDir/ckpt2")
    assert(IndexCore.version(spark, dedupIdx) == vD &&
      IndexCore.version(spark, textIdx) == vT,
      "redelivered re-crawl stream must be a no-op on BOTH indexes")
  }
}
