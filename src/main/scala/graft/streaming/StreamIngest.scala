package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.store.Tables

/**
 * ST / S1 / §2.8 — Structured Streaming ingest with UNBOUNDED lateness.
 *
 * The reference's clients buffer and POST JSON micro-batches every ~10 s
 * (src/metrics/loop.py:59-61); any batch with any timestamp merges
 * correctly into existing buckets via read-merge-write
 * (src/index.py:536-538, 328-374). A watermarked streaming aggregation
 * would DROP late data, so both sinks use `foreachBatch` + a keyed
 * manifest commit into [[graft.store.ManifestStore]]: all state lives
 * in the store, not the Spark state store — restart-safe by
 * construction, and arbitrarily late batches fold in exactly like
 * fresh ones (merge-on-read). The two sinks:
 *  - [[startAtomic]]: raw rows and rollup partials under one version;
 *  - [[startManifest]]: rollup partials only.
 * Each keys its commit by the micro-batch id, so a replayed batch
 * folds in exactly once.
 */
object StreamIngest {

  /** JSON wire shape of the reference's POST /api/data body, flattened
   *  one series per line: {"dataset_id": ..., "points": [{"date": ISO,
   *  "value": v}, ...]} (reference: src/server.py:76-103).
   */
  val wireSchema: StructType = StructType(Seq(
    StructField("dataset_id", StringType),
    StructField("points", ArrayType(StructType(Seq(
      StructField("date", StringType),
      StructField("value", DoubleType)))))))

  /** S1 — decode the JSON wire format to canonical long form:
   *  from_json → explode(points) → ISO parse (F1).
   */
  def decodeWire(jsonLines: DataFrame): DataFrame =
    jsonLines
      .select(from_json(col("value").cast("string"), wireSchema).as("m"))
      .select(col("m.dataset_id").as("dataset_id"), explode(col("m.points")).as("p"))
      .select(
        col("dataset_id"),
        unix_micros(to_timestamp(col("p.date"))).as("ts_us"),
        col("p.value").as("value"))

  /** ATOMIC exactly-once streaming ingest: each micro-batch's raw rows
   *  AND rollup partials publish under ONE manifest version keyed by
   *  the batch id (ManifestStore.ingestBatchAtomic) — the strongest
   *  posture in this file: a crash replay can neither double EITHER
   *  table nor publish them out of step, so any snapshot a reader
   *  resolves is a consistent two-table view of a prefix of the
   *  stream. Tiered compaction of both tiers rides the same call.
   */
  def startAtomic(
      longStream: DataFrame,
      root: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      maxLiveCommits: Int = 16,
      keepVersions: Int = Int.MaxValue): StreamingQuery = {
    require(keepVersions >= 1, s"bad keepVersions: $keepVersions")
    longStream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        graft.store.ManifestStore.ingestBatchAtomic(
          batch.sparkSession, root, batch,
          key = Some(s"b$id"), maxLiveCommits = maxLiveCommits): Unit
        // MANIFEST retention: a forever-stream accrues unbounded
        // version files; version-file-only vacuum is safe per batch
        if (keepVersions != Int.MaxValue)
          graft.store.ManifestStore.vacuumManifest(
            batch.sparkSession, root, keepVersions)
      }
      .start()
  }

  /** EXACTLY-ONCE streaming rollup ingest into the manifest store:
   *  each micro-batch's all-level partials append under ONE idempotent
   *  manifest commit keyed by the batch id
   *  (ManifestStore.appendPartialsIdempotent). foreachBatch gives
   *  at-least-once delivery — a crash between the sink commit and the
   *  checkpoint commit REPLAYS the batch on restart — and the txn key
   *  riding the atomically-published manifest version turns that into
   *  exactly-once: the replay sees its key and folds in nothing. The
   *  key is what makes the append safe: a blind re-append of the same
   *  partials WOULD double-count. Tiered compaction of the partials
   *  rides the same call.
   */
  def startManifest(
      longStream: DataFrame,
      root: String,
      checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime("10 seconds"),
      maxLiveCommits: Int = 16,
      keepVersions: Int = Int.MaxValue): StreamingQuery = {
    // fail fast at START (matching startAtomic) — an invalid value
    // must not surface as a vacuumVersions exception inside
    // foreachBatch, crashing the stream mid-run
    require(keepVersions >= 1, s"keepVersions must be >= 1 (got $keepVersions)")
    longStream.writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val s = batch.sparkSession
        val b = graft.ingest.Melt.sanitize(batch).persist()
        try {
          if (!b.isEmpty) {
            graft.store.ManifestStore.appendPartialsIdempotent(
              s, root, Tables.allLevelPartials(b, withSumsq = true),
              key = s"b$id"): Unit
            if (graft.store.ManifestStore.latest(s, root)._2
              .count(!_.startsWith("#")) > maxLiveCommits) {
              // steady-state policy: fold the small tier, never the table
              graft.store.ManifestStore.compactTiered(
                s, root, fanIn = math.max(2, maxLiveCommits / 2))
              graft.store.ManifestStore.vacuum(
                s, root, graft.store.ManifestStore.VacuumRetentionMs)
            }
            // version-file-only retention is safe every batch
            if (keepVersions != Int.MaxValue)
              graft.store.ManifestStore.vacuumManifest(s, root, keepVersions)
          }
        } finally b.unpersist(): Unit
      }
      .start()
  }
}
