package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.Similarity
import graft.streaming.StreamAnnIndex
import graft.store.IndexCore

/**
 * Streaming IVF-index maintainer: the first micro-batch founds the
 * index (frozen strided centroids), later batches append under their
 * batch-id delivery keys, a fresh-checkpoint redelivery is a
 * version-preserving no-op, and `#txn:` keys SURVIVE an atomic
 * re-center (a post-rebuild replay must still be rejected — the
 * rebuilt index contains every folded batch).
 */
class StreamAnnIndexSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private lazy val corpus = Similarity.asDouble(
    (0L until 36L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 1.7 + d).toFloat)))
      .toDF("vec_id", "embedding"),
    "vec_id", "embedding")

  /** Stage each vec_id-mod-3 slice as one parquet FILE with ordered
   *  mtimes, so maxFilesPerTrigger=1 replays them as 3 deterministic
   *  micro-batches (the stream_dedup staging discipline).
   */
  private def stageBatches(srcDir: java.nio.file.Path): Unit = {
    val base = System.currentTimeMillis()
    for (i <- 0 until 3) {
      val scratch = srcDir.resolve(s"scratch$i")
      corpus.where(pmod(col("vec_id"), lit(3)) === i)
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

  test("streamed found+appends equal the one-shot path; redelivery is " +
      "a no-op; delivery keys survive a rebuild") {
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sai_src")
    val idx = TestSpark.tmpDir("sai_idx")
    val oneShot = TestSpark.tmpDir("sai_oneshot")
    stageBatches(srcDir)
    val schema = spark.read.parquet(s"$srcDir/batch0.parquet").schema
    def drain(ckpt: String): Unit =
      StreamAnnIndex.maintain(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString),
        idx, ckpt, centroidStep = 5L).awaitTermination()

    drain(s"$srcDir/ckpt")
    val clog = new graft.store.CommitLog(s"$idx/_manifests")
    val live = clog.latest(spark)._2
    assert(live.count(_.startsWith("c-")) == 3,
      s"3 batches must publish 3 commits: $live")
    assert((0 until 3).forall(i => live.contains(s"#txn:b$i")),
      s"every batch key must be recorded: $live")
    val vAfter = IndexCore.version(spark, idx)

    // full redelivery under a FRESH checkpoint: batch ids restart at 0
    // over the same mtime-ordered files, every key is already
    // committed, and nothing may publish (a leaked re-found would also
    // fork the centroid set)
    drain(s"$srcDir/ckpt2")
    assert(IndexCore.version(spark, idx) == vAfter,
      "redelivered stream must not move the index version")

    // streamed == one-shot: same founding slice + centroidStep freeze
    // the same centroids, so assignment and probe results are identical
    Similarity.ivfIndexBuild(spark, oneShot,
      corpus.where(pmod(col("vec_id"), lit(3)) === 0), centroidStep = 5L)
    for (i <- 1 until 3)
      Similarity.ivfIndexAppend(spark, oneShot,
        corpus.where(pmod(col("vec_id"), lit(3)) === i))
    val queries = corpus.where(col("vec_id") < 3)
    def run(d: String) = Similarity
      .ivfIndexQuery(spark, d, queries, k = 5, nProbe = 2)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(run(idx) == run(oneShot),
      "streamed index must answer exactly like the one-shot build+appends")

    // atomic re-center folds the three commits into one generation but
    // KEEPS the delivery keys: a third drain (fresh checkpoint again)
    // replays all three batches against the rebuilt index and every
    // one must still short-circuit — a re-append here would
    // double-insert its vectors under the new centroids
    assert(Similarity.ivfIndexRebuild(spark, idx, centroidStep = 5L, iters = 2))
    val liveReb = clog.latest(spark)._2
    assert(liveReb.count(_.startsWith("c-")) == 1 &&
      (0 until 3).forall(i => liveReb.contains(s"#txn:b$i")),
      s"rebuild must fold commits but preserve keys: $liveReb")
    val vReb = IndexCore.version(spark, idx)
    drain(s"$srcDir/ckpt3")
    assert(IndexCore.version(spark, idx) == vReb,
      "post-rebuild redelivery must still be rejected by the kept keys")
  }

  test("opt-in auto-rebalance: a drifting stream re-trains past the imbalance " +
      "threshold — lower final imbalance than the frozen twin, nothing lost, " +
      "keys still exactly-once") {
    // batch 0 = one tight founding cluster (ids 0..19, direction 0);
    // batches 1-2 = far clusters (2.1, 4.2) — the frozen founding
    // centroids only know cluster 0, so the appends pile into a hot
    // cell (the PipelineSpec rebalance fixture, measured ~1.44e6 ppm)
    val drift = Similarity.asDouble(
      (0L until 100L).map { i =>
        val phase = if (i < 20) 0.0 else if (i < 60) 2.1 else 4.2
        (i, Array.tabulate(8)(d =>
          (math.cos(phase + d) + 0.01 * math.sin(i * 0.7 + d)).toFloat))
      }.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sai_rb_src")
    val base = System.currentTimeMillis()
    val cuts = Seq((0L, 20L), (20L, 60L), (60L, 100L))
    for (i <- 0 until 3) {
      val scratch = srcDir.resolve(s"scratch$i")
      drift.where(col("vec_id") >= cuts(i)._1 && col("vec_id") < cuts(i)._2)
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
    def drain(dir: String, ckpt: String, cut: Option[Long]): Unit =
      StreamAnnIndex.maintain(
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(srcDir.toString),
        dir, ckpt, centroidStep = 7L,
        rebalanceAbovePpm = cut).awaitTermination()
    val rebIdx = TestSpark.tmpDir("sai_rb")
    val frozenIdx = TestSpark.tmpDir("sai_frozen")
    drain(rebIdx, s"$srcDir/ck_rb", Some(1200000L))
    drain(frozenIdx, s"$srcDir/ck_fr", None)
    def stats(d: String) = {
      val r = Similarity.ivfIndexStats(spark, d).head()
      (r.getLong(1), r.getLong(3)) // (n_vectors, imbalance_ppm)
    }
    val (nReb, imbReb) = stats(rebIdx)
    val (nFro, imbFro) = stats(frozenIdx)
    assert(nReb == 100L && nFro == 100L, "auto-rebalance must not lose postings")
    assert(imbFro > 1200000L,
      s"drift fixture must skew the frozen twin: $imbFro ppm")
    assert(imbReb < imbFro,
      s"auto-rebalance must beat the frozen twin: $imbReb vs $imbFro ppm")
    // exactly-once still holds across the in-stream re-trains
    val live = new graft.store.CommitLog(s"$rebIdx/_manifests").latest(spark)._2
    assert((0 until 3).forall(i => live.contains(s"#txn:b$i")),
      s"delivery keys must survive in-stream re-trains: $live")
    val v = IndexCore.version(spark, rebIdx)
    drain(rebIdx, s"$srcDir/ck_rb2", Some(1200000L))
    assert(IndexCore.version(spark, rebIdx) == v,
      "redelivery must be a no-op on the auto-rebalanced index")
  }

  test("auto-rebalance derives its Lloyd-sample stride from the index's " +
      "own size: an index past the 65536 sample cap re-trains with no " +
      "caller-supplied stride") {
    // founding batch = 2000 tight vectors; append = 68000 drifted ones
    // piling into a hot cell. Total 70000 > kmeansCentroids' 65536
    // collectBounded cap, so a stride-1 re-train (the old default)
    // would die in 'raise sampleStep'; the derived stride
    // ceil(70000/32768) = 3 bounds the sample to ~23k
    val big = Similarity.asDouble(
      (0L until 70000L).map { i =>
        val phase = if (i < 2000) 0.0 else 2.1
        (i, Array.tabulate(8)(d =>
          (math.cos(phase + d) + 0.01 * math.sin(i * 0.7 + d)).toFloat))
      }.toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_sai_big_src")
    val base = System.currentTimeMillis()
    val cuts = Seq((0L, 2000L), (2000L, 70000L))
    for (i <- 0 until 2) {
      val scratch = srcDir.resolve(s"scratch$i")
      big.where(col("vec_id") >= cuts(i)._1 && col("vec_id") < cuts(i)._2)
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
    val idx = TestSpark.tmpDir("sai_big")
    val schema = spark.read.parquet(s"$srcDir/batch0.parquet").schema
    StreamAnnIndex.maintain(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString),
      idx, s"$srcDir/ckpt", centroidStep = 97L,
      rebalanceAbovePpm = Some(1200000L)).awaitTermination()
    // the re-train ran (the rebuild swap collapses the live set to one
    // commit) and nothing was lost
    val live = new graft.store.CommitLog(s"$idx/_manifests").latest(spark)._2
    assert(live.count(_.startsWith("c-")) == 1,
      s"auto-stride re-train did not run: $live")
    assert((0 until 2).forall(i => live.contains(s"#txn:b$i")),
      s"delivery keys must survive the re-train: $live")
    assert(Similarity.ivfIndexStats(spark, idx).head().getLong(1) == 70000L,
      "re-train lost postings")
  }
}
