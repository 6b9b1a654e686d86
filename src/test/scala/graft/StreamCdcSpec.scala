package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Fidelity
import graft.store.ManifestStore
import graft.streaming.StreamCdc

/**
 * CDC streaming consumer: the manifest log tailed as a file-source
 * stream drives sequential delta refreshes of a derived daily summary.
 */
class StreamCdcSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def batch(points: (String, String, Double)*): DataFrame =
    TestSpark.longDF(points)

  test("maintainDaily equals the one-shot daily rollup after draining the log") {
    val root = TestSpark.tmpDir("cdc_stream")
    // three commits, the third touching a second day and a second series
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00", 2.0), ("a", "2024-01-01T06:00:00", 4.0)))
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T06:00:00", 6.0)))
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-02T01:00:00", 1.0), ("b", "2024-01-01T12:00:00", 8.0)))

    val maintained = StreamCdc
      .maintainDaily(spark, root, TestSpark.tmpDir("cdc_ckpt") + "/ckpt")
      .orderBy("dataset_id", "day_s").collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))))
    val oneShot = StreamCdc
      .daily(ManifestStore.readLevel(spark, root, Fidelity.S1))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))))
      .toMap
    assert(maintained.nonEmpty && maintained.toMap == oneShot,
      "stream-maintained summary must equal the one-shot daily rollup")
    val day1 = TestSpark.isoUs("2024-01-01T00:00:00") / 1000000L
    assert(maintained.toMap.apply(("a", day1)) == ((2.0, 6.0, 12.0, 3L)))
  }

  test("maintainAlerts: hysteresis carries the dead band, flips only on decisive crossings") {
    val root = TestSpark.tmpDir("cdc_alert")
    // series a means per version: 10 (high→ON), 5 (dead band→carries ON),
    // 1 (low→OFF); series b: always dead-band → never activates;
    // series c appears only in v3, decisively high
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00", 10.0), ("b", "2024-01-01T00:00:00", 5.0)))
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:01", 5.0), ("b", "2024-01-01T00:00:01", 5.0)))
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:02", 1.0), ("b", "2024-01-01T00:00:02", 5.0),
        ("c", "2024-01-01T00:00:02", 10.0)))

    val got = StreamCdc.maintainAlerts(spark, root,
        TestSpark.tmpDir("cdc_alert_ck") + "/ckpt", high = 8.0, low = 2.0)
      .orderBy("dataset_id").collect()
      .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(got == Seq(
      ("a", false, 3L, 2L), // ON@1, carried@2 (dead band!), OFF@3
      ("b", false, 0L, 0L), // never decisive: inactive since bootstrap
      ("c", true, 3L, 1L)), // first seen decisively high
      s"got $got")
  }

  test("maintainDaily resumes from persisted state, applying only new versions") {
    val root = TestSpark.tmpDir("cdc_resume")
    val state = TestSpark.tmpDir("cdc_state")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("dataset_id", "day_s").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(4), r.getLong(5)))
        .toSeq
    def marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(state).resolve("_applied")), "UTF-8").trim.toLong

    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00", 2.0)))
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T06:00:00", 4.0)))
    val s1 = StreamCdc.maintainDaily(spark, root,
      TestSpark.tmpDir("cdc_rck1") + "/c", Some(state))
    assert(marker == 2L, "both versions applied and marked")

    // a third version lands while the consumer is down; the resumed run
    // (fresh stream checkpoint — the crash-lost-checkpoint case) must
    // bootstrap from state and apply ONLY version 3
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("b", "2024-01-01T12:00:00", 8.0)))
    val ck2 = TestSpark.tmpDir("cdc_rck2") + "/c"
    val s2 = StreamCdc.maintainDaily(spark, root, ck2, Some(state))
    assert(marker == 3L)
    assert(snap(s2) == snap(
      StreamCdc.daily(ManifestStore.readLevel(spark, root, Fidelity.S1))))
    assert(snap(s2) != snap(s1), "version 3 changed the summary")

    // idle resume with the SAME stream checkpoint: nothing redelivers,
    // the summary comes entirely from state
    val s3 = StreamCdc.maintainDaily(spark, root, ck2, Some(state))
    assert(marker == 3L && snap(s3) == snap(s2))

    // superseded snapshots are reclaimed as the marker advances: the
    // stateDir holds ONE summary copy, not one per applied version
    val snaps = new java.io.File(state).listFiles()
      .map(_.getName).filter(_.startsWith("s-")).toSeq
    assert(snaps == Seq("s-3"),
      s"stateDir must hold only the marked snapshot, got $snaps")
  }

  test("maintainAlerts resumes from persisted state without full-WAL replay") {
    val root = TestSpark.tmpDir("cdc_alert_resume")
    val state = TestSpark.tmpDir("cdc_alert_state")
    def snap(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("dataset_id").collect()
        .map(r => (r.getString(0), r.getBoolean(1), r.getLong(2), r.getLong(3)))
        .toSeq
    def marker = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(state).resolve("_applied")), "UTF-8").trim.toLong

    // v1: a decisively high (ON); v2: dead band (carries)
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00", 10.0)))
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:01", 5.0)))
    val s1 = StreamCdc.maintainAlerts(spark, root,
      TestSpark.tmpDir("cdc_ack1") + "/c", high = 8.0, low = 2.0, Some(state))
    assert(marker == 2L, "both versions applied and marked")
    assert(snap(s1) == Seq(("a", true, 1L, 1L)))

    // v3 lands while the consumer is down (decisively low — OFF); the
    // resumed run (fresh stream checkpoint = the crash case) must
    // bootstrap from state and apply ONLY version 3
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:02", 1.0)))
    val ck2 = TestSpark.tmpDir("cdc_ack2") + "/c"
    val s2 = StreamCdc.maintainAlerts(spark, root, ck2,
      high = 8.0, low = 2.0, Some(state))
    assert(marker == 3L)
    assert(snap(s2) == Seq(("a", false, 3L, 2L)), s"got ${snap(s2)}")

    // the resumed state equals a from-scratch full-WAL run
    val scratch = StreamCdc.maintainAlerts(spark, root,
      TestSpark.tmpDir("cdc_ack3") + "/c", high = 8.0, low = 2.0)
    assert(snap(s2) == snap(scratch),
      "resume-from-state diverged from the full replay")

    // idle resume with the SAME checkpoint: nothing redelivers, the
    // state comes entirely from the stateDir (the shape that silently
    // returned EMPTY state before stateDir existed)
    val s3 = StreamCdc.maintainAlerts(spark, root, ck2,
      high = 8.0, low = 2.0, Some(state))
    assert(marker == 3L && snap(s3) == snap(s2))

    // reclaim is exhaustive: every snapshot below the marker goes, even
    // a stranded orphan from a crash between a past flip and its delete
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(state).resolve("s-1"))
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:03", 10.0)))
    StreamCdc.maintainAlerts(spark, root, ck2,
      high = 8.0, low = 2.0, Some(state))
    val snaps = new java.io.File(state).listFiles()
      .map(_.getName).filter(_.startsWith("s-")).toSeq
    assert(snaps == Seq("s-4"),
      s"stateDir must hold only the marked snapshot, got $snaps")

    // a damaged (empty) marker degrades to the empty-state bootstrap —
    // a full replay on a fresh checkpoint, identical final state, never
    // a NumberFormatException brick
    java.nio.file.Files.write(
      java.nio.file.Paths.get(state).resolve("_applied"),
      "".getBytes("UTF-8"))
    val s4 = StreamCdc.maintainAlerts(spark, root,
      TestSpark.tmpDir("cdc_ack4") + "/c", high = 8.0, low = 2.0, Some(state))
    assert(marker == 4L && snap(s4) == Seq(("a", true, 4L, 3L)),
      s"damaged-marker recovery failed: ${snap(s4)}")
  }

  test("versionFeed surfaces versions in commit order under AvailableNow") {
    val root = TestSpark.tmpDir("cdc_feed")
    for (i <- 1 to 3)
      ManifestStore.ingestBatchAtomic(spark, root,
        batch(("a", f"2024-01-01T00:00:0$i", i.toDouble)))
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamCdc.versionFeed(spark, root).writeStream
      .outputMode("append")
      .option("checkpointLocation", TestSpark.tmpDir("cdc_feed_ck") + "/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        seen.synchronized {
          seen ++= b.select("version").distinct()
            .collect().map(_.getLong(0)).sorted
        }: Unit
      }
      .start()
    q.awaitTermination()
    assert(seen.sorted == Seq(1L, 2L, 3L),
      s"every published version surfaces exactly once, got $seen")
  }
}
