package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Fidelity
import graft.store.{ManifestStore, Tables}
import graft.streaming.StreamIngest

/**
 * §2.8 ST — Structured Streaming ingest through `foreachBatch` must
 * produce byte-identical rollup state to the batch path, including a
 * late batch (unbounded lateness — a watermarked agg would drop it).
 * Replays the `test_agg_combine` batches (FIXTURES.md §3) through a
 * file source, one file per micro-batch, into the manifest store.
 */
class StreamIngestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def batch(startTenths: Int): Seq[(String, String, Double)] =
    (0 until 4).map { i =>
      val t = startTenths + i
      val iso = f"2024-01-01T03:00:0${t / 10}%d.${t % 10}%d00"
      ("test_agg_combine", iso, Seq(10.0, 9.0, 8.0, 7.0)(i % 4))
    }

  test("streaming replay of three batches + a late one equals the batch path") {
    val srcDir = TestSpark.tmpDir("graft_stream_src")
    val root = TestSpark.tmpDir("graft_stream_store")
    val ckpt = TestSpark.tmpDir("graft_stream_ckpt")

    val stream = spark.readStream
      .schema(Tables.rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
    val q = StreamIngest.startAtomic(stream, root, ckpt, Trigger.ProcessingTime("0 seconds"))
    try {
      var i = 0
      for (b <- Seq(batch(0), batch(4), batch(8),
          Seq(("test_agg_combine", "2024-01-01T03:00:00.050", 1.5)))) {
        // the file source only sees top-level files: write, then move the
        // part file up as one batch file
        val staging = TestSpark.tmpDir(s"graft_stage$i")
        TestSpark.longDF(b).coalesce(1).write.mode("overwrite").parquet(staging)
        val part = new java.io.File(staging).listFiles()
          .find(_.getName.endsWith(".parquet")).get
        java.nio.file.Files.move(
          part.toPath, java.nio.file.Paths.get(s"$srcDir/b$i.parquet"))
        i += 1
      }
      // the source reads new files as separate micro-batches
      q.processAllAvailable()
    } finally q.stop()

    assert(ManifestStore.readRaw(spark, root).count() == 13)
    val r1 = ManifestStore.readLevel(spark, root, Fidelity.S1)
      .orderBy("bucket_s").collect()
    assert(r1.length == 2)
    val Row(_, _, mn0: Double, mx0: Double, sm0: Double, c0: Long) = r1(0): @unchecked
    assert(mn0 == 1.5 && mx0 == 10.0 && c0 == 11 && sm0 == 88.5)
    val Row(_, _, mn1: Double, _, sm1: Double, c1: Long) = r1(1): @unchecked
    assert(mn1 == 7.0 && c1 == 2 && sm1 / c1 == 7.5)
  }

  test("restart from checkpoint resumes cleanly: no batch lost, no batch doubled") {
    val srcDir = TestSpark.tmpDir("graft_restart_src")
    val root = TestSpark.tmpDir("graft_restart_store")
    val ckpt = TestSpark.tmpDir("graft_restart_ckpt")

    def drop(b: Seq[(String, String, Double)], name: String): Unit = {
      val staging = TestSpark.tmpDir(s"graft_restage_$name")
      TestSpark.longDF(b).coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(
        part.toPath, java.nio.file.Paths.get(s"$srcDir/$name.parquet"))
    }
    def openStream() = spark.readStream
      .schema(Tables.rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)

    // run 1 processes batch 0, then the query STOPS (crash stand-in)
    drop(batch(0), "b0")
    val q1 = StreamIngest.startAtomic(
      openStream(), root, ckpt, Trigger.ProcessingTime("0 seconds"))
    try q1.processAllAvailable() finally q1.stop()
    assert(ManifestStore.readRaw(spark, root).count() == 4)

    // run 2 restarts from the SAME checkpoint with two more batches
    // waiting: the source's offset log must skip b0 (no double ingest)
    // and pick up exactly b1/b2
    drop(batch(4), "b1")
    drop(batch(8), "b2")
    val q2 = StreamIngest.startAtomic(
      openStream(), root, ckpt, Trigger.ProcessingTime("0 seconds"))
    try q2.processAllAvailable() finally q2.stop()

    assert(ManifestStore.readRaw(spark, root).count() == 12)
    val r1 = ManifestStore.readLevel(spark, root, Fidelity.S1)
      .orderBy("bucket_s").collect()
    assert(r1.length == 2)
    val Row(_, _, mn0: Double, mx0: Double, sm0: Double, c0: Long) = r1(0): @unchecked
    assert(mn0 == 7.0 && mx0 == 10.0 && c0 == 10 && sm0 == 87.0)
    val Row(_, _, _, _, sm1: Double, c1: Long) = r1(1): @unchecked
    assert(c1 == 2 && sm1 == 15.0)
  }

  test("manifest sink restart from checkpoint: exactly-once, txn keys persist") {
    val srcDir = TestSpark.tmpDir("graft_mrestart_src")
    val root = TestSpark.tmpDir("graft_mrestart_store")
    val ckpt = TestSpark.tmpDir("graft_mrestart_ckpt")

    def drop(b: Seq[(String, String, Double)], name: String): Unit = {
      val staging = TestSpark.tmpDir(s"graft_mrestage_$name")
      TestSpark.longDF(b).coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(
        part.toPath, java.nio.file.Paths.get(s"$srcDir/$name.parquet"))
    }
    def openStream() = spark.readStream
      .schema(Tables.rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)

    drop(batch(0), "b0")
    val q1 = StreamIngest.startManifest(
      openStream(), root, ckpt, Trigger.ProcessingTime("0 seconds"))
    try q1.processAllAvailable() finally q1.stop()

    drop(batch(4), "b1")
    drop(batch(8), "b2")
    val q2 = StreamIngest.startManifest(
      openStream(), root, ckpt, Trigger.ProcessingTime("0 seconds"))
    try q2.processAllAvailable() finally q2.stop()

    // streamed state == one-shot batch rollup of all 12 points
    val streamed = ManifestStore.readLevel(spark, root, Fidelity.S1)
      .orderBy("bucket_s").collect().toSeq
    val oneShot = graft.ops.Rollup.aggregate(
        TestSpark.longDF(batch(0) ++ batch(4) ++ batch(8)), 1)
      .select("dataset_id", "bucket_s", "min_v", "max_v", "sum_v", "cnt")
      .orderBy("bucket_s").collect().toSeq
    assert(streamed == oneShot, "restart neither lost nor doubled a batch")

    // the micro-batch txn keys survived both runs: a redelivery of any
    // processed id is rejected outright
    for (k <- Seq("b0", "b1", "b2"))
      assert(!ManifestStore.appendPartialsIdempotent(spark, root,
        Tables.allLevelPartials(
          graft.ingest.Melt.sanitize(TestSpark.longDF(batch(0)))), k),
        s"key $k should persist across restarts")
  }

  test("atomic sink restart: both tables exactly-once and mutually consistent") {
    val srcDir = TestSpark.tmpDir("graft_arestart_src")
    val root = TestSpark.tmpDir("graft_arestart_store")
    val ckpt = TestSpark.tmpDir("graft_arestart_ckpt")

    def drop(b: Seq[(String, String, Double)], name: String): Unit = {
      val staging = TestSpark.tmpDir(s"graft_arestage_$name")
      TestSpark.longDF(b).coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(
        part.toPath, java.nio.file.Paths.get(s"$srcDir/$name.parquet"))
    }
    def openStream() = spark.readStream
      .schema(Tables.rawSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)

    drop(batch(0), "b0")
    val q1 = StreamIngest.startAtomic(
      openStream(), root, ckpt, Trigger.ProcessingTime("0 seconds"))
    try q1.processAllAvailable() finally q1.stop()

    drop(batch(4), "b1")
    drop(batch(8), "b2")
    val q2 = StreamIngest.startAtomic(
      openStream(), root, ckpt, Trigger.ProcessingTime("0 seconds"))
    try q2.processAllAvailable() finally q2.stop()

    // raw leg: all 12 points exactly once
    assert(ManifestStore.readRaw(spark, root).count() == 12)
    // rollup leg equals the one-shot batch rollup
    val streamed = ManifestStore.readLevel(spark, root, Fidelity.S1)
      .orderBy("bucket_s").collect().toSeq
    val oneShot = graft.ops.Rollup.aggregate(
        TestSpark.longDF(batch(0) ++ batch(4) ++ batch(8)), 1)
      .select("dataset_id", "bucket_s", "min_v", "max_v", "sum_v", "cnt")
      .orderBy("bucket_s").collect().toSeq
    assert(streamed == oneShot, "restart lost or doubled a batch")
    // and the two legs agree at EVERY published version (each version
    // is one consistent two-table snapshot of a stream prefix)
    val (vMax, _) = ManifestStore.latest(spark, root)
    for (v <- 1L to vMax) {
      val rawCnt = ManifestStore.readRawAsOf(spark, root, v).count()
      val lvlCnt = ManifestStore.readLevelAsOf(spark, root, Fidelity.S1, v)
        .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0)
      assert(rawCnt == lvlCnt, s"version $v: raw $rawCnt != rollup $lvlCnt")
    }
    // a redelivery of any processed batch id is rejected for BOTH tables
    assert(!ManifestStore.ingestBatchAtomic(spark, root,
      TestSpark.longDF(batch(0)), key = Some("b0")))
  }

  test("atomic sink manifest retention: version files stay bounded, " +
      "exactly-once and reads survive") {
    val srcDir = TestSpark.tmpDir("graft_aret_src")
    val root = TestSpark.tmpDir("graft_aret_store")
    val ckpt = TestSpark.tmpDir("graft_aret_ckpt")
    def drop(b: Seq[(String, String, Double)], name: String): Unit = {
      val staging = TestSpark.tmpDir(s"graft_aretstage_$name")
      TestSpark.longDF(b).coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(
        part.toPath, java.nio.file.Paths.get(s"$srcDir/$name.parquet"))
    }
    drop(batch(0), "b0"); drop(batch(4), "b1"); drop(batch(8), "b2")
    val q = StreamIngest.startAtomic(
      spark.readStream.schema(Tables.rawSchema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir),
      root, ckpt, Trigger.ProcessingTime("0 seconds"), keepVersions = 1)
    try q.processAllAvailable() finally q.stop()
    // 3 versions published, only the newest version FILE survives
    val vFiles = new java.io.File(s"$root/mrollup/_manifests").listFiles()
      .count(_.getName.matches("v\\d{12}"))
    assert(vFiles == 1, s"keepVersions=1 must retain 1 version file, got $vFiles")
    assert(ManifestStore.latest(spark, root)._1 == 3L)
    assert(ManifestStore.readRaw(spark, root).count() == 12)
    // delivery keys live in the latest version: replay still rejected
    assert(!ManifestStore.ingestBatchAtomic(spark, root,
      TestSpark.longDF(batch(0)), key = Some("b0")))
    // time-travel below the floor names retention, loudly
    val ex = intercept[IllegalArgumentException] {
      ManifestStore.readRawAsOf(spark, root, 1L).count()
    }
    assert(ex.getMessage.contains("retention floor"),
      s"wrong error: ${ex.getMessage}")
  }

  test("S1: JSON wire format decodes to canonical long form (server.py:76-103)") {
    val s = spark
    import s.implicits._
    val wire = Seq(
      """{"dataset_id":"w.a","points":[{"date":"2024-01-01T03:00:00.100","value":1.5},{"date":"2024-01-01T03:00:01","value":2.5}]}""",
      """{"dataset_id":"w.b","points":[{"date":"2024-01-02T00:00:00","value":-1.0}]}""")
      .toDF("value")
    val got = StreamIngest.decodeWire(wire).orderBy("dataset_id", "ts_us").collect()
    assert(got.length == 3)
    assert(got(0).getString(0) == "w.a")
    assert(got(0).getLong(1) == TestSpark.isoUs("2024-01-01T03:00:00.100"))
    assert(got(0).getDouble(2) == 1.5)
    assert(got(2).getString(0) == "w.b" && got(2).getDouble(2) == -1.0)
  }
}
