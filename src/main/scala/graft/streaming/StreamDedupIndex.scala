package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.Dedup
import graft.store.IndexCore

/**
 * Streaming maintenance of the persisted LSH dedup index
 * ([[graft.dedup.Dedup.indexCheckAndIngest]]) — the "dedup the crawl
 * as it arrives" posture, and the third of the three persisted indexes
 * (dedup, text, IVF) maintainable from a stream. Each micro-batch is
 * checked against the STORED index (cross band-bucket collisions only
 * — the corpus is never re-read or self-joined), its near-dup pair
 * report is staged under the batch's own commit dir, and the batch's
 * signatures + postings append as that commit — one version-file
 * create makes report and shard visible together.
 *
 * Exactly-once is the same contract as [[StreamTextIndex]] /
 * [[StreamAnnIndex]]: the `#txn:b<batchId>` delivery key makes a
 * crash-recovered replay short-circuit on the cheap `IndexCore.hasDelivery`
 * probe, and a full fresh-checkpoint redelivery is a
 * version-preserving no-op. Because the pair REPORT rides the shard's
 * commit, exactly-once extends to the report itself: a replayed batch
 * can neither re-report its pairs (the classic double-count) nor lose
 * them (they published atomically with the shard) —
 * [[graft.dedup.Dedup.indexPairs]] is the cumulative readback.
 *
 * Micro-batches arrive SEQUENTIALLY, which is exactly the serial-shard
 * requirement `indexCheckAndIngest` documents (two concurrent shards
 * would never cross-check each other); the stream IS the natural
 * serializer.
 *
 * At 100 TB: per-batch cost is batch-linear (shingle + sign the batch)
 * plus collision-proportional joins against stored state on 8-byte
 * keys; state is the commit log itself — recovery needs nothing beyond
 * the checkpoint and the log.
 */
object StreamDedupIndex {

  /** Start the maintainer over a streaming Dataset of documents
   *  (`idCol`, `textCol`). Runs with `Trigger.AvailableNow` — drain
   *  what the source has, then stop — matching the bounded-replay
   *  harness; a production deployment would swap the trigger, nothing
   *  else. Returns the running query; callers `awaitTermination`.
   */
  def maintain(
      docsStream: DataFrame, indexDir: String, checkpoint: String,
      threshold: Double, idCol: String = "doc_id",
      textCol: String = "text",
      keepVersions: Int = Int.MaxValue): StreamingQuery = {
    require(threshold > 0 && threshold <= 1, s"bad threshold: $threshold")
    require(keepVersions >= 1, s"bad keepVersions: $keepVersions")
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        val s = b.sparkSession
        val key = s"b$id"
        if (!IndexCore.hasDelivery(s, indexDir, key) && !b.isEmpty) {
          Dedup.indexCheckAndIngest(
            s, indexDir, b.select(idCol, textCol), idCol, textCol,
            threshold, deliveryKey = Some(key), persistPairs = true): Unit
          // manifest retention — version files only, safe per batch
          if (keepVersions != Int.MaxValue)
            IndexCore.vacuumManifest(s, indexDir, keepVersions)
        }
      }
      .start()
  }
}
