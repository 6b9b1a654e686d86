package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamTextIndex
import graft.text.TextIndex
import graft.store.IndexCore

/**
 * Streaming text-index maintainer: one shard per micro-batch under a
 * batch-id delivery key, auto tiered compaction past maxShards, and a
 * full stream redelivery (fresh checkpoint) is a version-preserving
 * no-op — the foreachBatch exactly-once contract.
 */
class StreamTextIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus = Seq(
    (0L, "spark merge sort merge"),
    (1L, "window scan window window"),
    (2L, "merge window table"),
    (3L, "totally unrelated words here"),
    (4L, "scan scan scan merge"),
    (5L, "merge scan window trio"))
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

  test("streamed shards equal a one-shot index; compaction triggers; " +
      "fresh-checkpoint redelivery is a no-op") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sti_src")
    val idx = TestSpark.tmpDir("sti_idx")
    val oneShot = TestSpark.tmpDir("sti_oneshot")
    stageBatches(srcDir)
    val schema = spark.read.parquet(s"$srcDir/batch0.parquet").schema
    def drain(ckpt: String): Unit =
      StreamTextIndex.maintain(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString),
        idx, ckpt, maxShards = 2, fanIn = 2).awaitTermination()

    drain(s"$srcDir/ckpt")
    // 3 batches → 3 shards; the third crossed maxShards=2 → one
    // fanIn=2 fold ran, leaving 2 live shards
    assert(TextIndex.liveShardCount(spark, idx) == 2,
      "third shard must have triggered the tiered fold")
    val vAfter = IndexCore.version(spark, idx)

    // full redelivery under a FRESH checkpoint: batch ids restart at 0
    // over the same mtime-ordered files, every key is already
    // committed, and nothing may publish
    drain(s"$srcDir/ckpt2")
    assert(IndexCore.version(spark, idx) == vAfter,
      "redelivered stream must not move the index version")

    TextIndex.ingestShard(spark, oneShot, corpus, "doc_id", "text")
    def run(d: String) = TextIndex
      .searchBm25(spark, d, Seq("merge", "window", "scan"), 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(run(idx) == run(oneShot),
      "streamed+compacted index must answer exactly like a one-shot build")
  }

  test("maintainer manifest retention: version files stay bounded, " +
      "exactly-once and search survive, redelivery still a no-op") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sti_src2")
    val idx = TestSpark.tmpDir("sti_idx2")
    stageBatches(srcDir)
    val schema = spark.read.parquet(s"$srcDir/batch0.parquet").schema
    def drain(ckpt: String): Unit =
      StreamTextIndex.maintain(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString),
        idx, ckpt, maxShards = 8, fanIn = 2, keepVersions = 1)
        .awaitTermination()
    drain(s"$srcDir/ckpt")
    // 3 publishes happened but only the newest version FILE survives —
    // a forever-stream's manifest history stays O(keepVersions)
    val vFiles = java.nio.file.Files.list(
        java.nio.file.Paths.get(s"$idx/_manifests")).toArray.map(_.toString)
      .count(_.matches(".*/v\\d{12}"))
    assert(vFiles == 1, s"keepVersions=1 must retain 1 version file, got $vFiles")
    assert(IndexCore.version(spark, idx) == 3L)
    // delivery keys live in the LATEST version — replay rejection and
    // search are untouched by manifest retention
    drain(s"$srcDir/ckpt2")
    assert(IndexCore.version(spark, idx) == 3L,
      "redelivery after manifest retention must stay a no-op")
    val oneShot = TestSpark.tmpDir("sti_oneshot2")
    TextIndex.ingestShard(spark, oneShot, corpus, "doc_id", "text")
    def run(d: String) = TextIndex
      .searchBm25(spark, d, Seq("merge", "window", "scan"), 10)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(run(idx) == run(oneShot))
    // time-travel below the floor is a loud retention error now
    val ex = intercept[IllegalArgumentException] {
      new graft.store.CommitLog(s"$idx/_manifests").liveAt(spark, 1L)
    }
    assert(ex.getMessage.contains("retention floor"))
  }
}
