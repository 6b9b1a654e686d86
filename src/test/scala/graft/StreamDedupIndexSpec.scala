package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.streaming.StreamDedupIndex
import graft.store.IndexCore

/**
 * Streaming dedup-index maintainer: each micro-batch checks against
 * the stored index and appends under its batch-id delivery key, the
 * per-batch pair REPORT publishes atomically with the shard (so
 * exactly-once covers the report, not just the index), and a
 * fresh-checkpoint redelivery is a version-preserving no-op.
 */
class StreamDedupIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  // near-dup pairs planted ACROSS shards (shard = doc_id % 3):
  // 1 ≈ 0 (shards 1←0), 5 ≈ 4 (shards 2←1); 2 and 3 are noise
  private lazy val corpus = Seq(
    (0L, "a b c d e f g h"),
    (1L, "a b c d e f g h x"),
    (2L, "totally different words entirely here now ok fine"),
    (3L, "another unrelated set of words for this test doc"),
    (4L, "p q r s t u v w"),
    (5L, "p q r s t u v w y"))
    .toDF("doc_id", "text")

  /** Stage each doc_id-mod-3 slice as one parquet FILE with ordered
   *  mtimes, so maxFilesPerTrigger=1 replays them as 3 deterministic
   *  micro-batches (the stream_dedup staging discipline).
   */
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

  test("streamed shards report the one-shot pairs exactly once; " +
      "fresh-checkpoint redelivery is a no-op") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sdi_src")
    val idx = TestSpark.tmpDir("sdi_idx")
    val oneShot = TestSpark.tmpDir("sdi_oneshot")
    stageBatches(srcDir)
    val schema = spark.read.parquet(s"$srcDir/batch0.parquet").schema
    def drain(ckpt: String): Unit =
      StreamDedupIndex.maintain(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString),
        idx, ckpt, threshold = 0.6).awaitTermination()

    drain(s"$srcDir/ckpt")
    val clog = new graft.store.CommitLog(s"$idx/_manifests")
    val live = clog.latest(spark)._2
    assert(live.count(_.startsWith("c-")) == 3 &&
      (0 until 3).forall(i => live.contains(s"#txn:b$i")),
      s"3 batches, 3 commits, 3 keys: $live")
    val vAfter = IndexCore.version(spark, idx)

    // full redelivery under a FRESH checkpoint: batch ids restart at 0
    // over the same mtime-ordered files, every key is already
    // committed, and nothing may publish — the pair reports in
    // particular must not double
    drain(s"$srcDir/ckpt2")
    assert(IndexCore.version(spark, idx) == vAfter,
      "redelivered stream must not move the index version")

    def pairsOf(d: String) = Dedup.indexPairs(spark, d)
      .select(col("a_id"), col("b_id"), round(col("jaccard"), 6).as("j"))
      .orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    // one-shot reference: the same shards ingested sequentially
    for (i <- 0 until 3)
      Dedup.indexCheckAndIngest(spark, oneShot,
        corpus.where(pmod(col("doc_id"), lit(3)) === i),
        "doc_id", "text", 0.6, persistPairs = true): Unit
    val streamed = pairsOf(idx)
    assert(streamed == pairsOf(oneShot),
      "streamed pair reports must equal the sequential one-shot path")
    assert(streamed.map(p => (p._1, p._2)) == Seq((0L, 1L), (4L, 5L)),
      s"both planted cross-shard pairs, each reported ONCE: $streamed")
  }
}
