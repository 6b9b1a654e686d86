package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Streaming maintenance of the persisted inverted text index
 * ([[graft.text.TextIndex]]) — the "index the crawl as it arrives"
 * posture: documents stream in, each micro-batch becomes one index
 * shard, and the index stays continuously searchable (readers see
 * whole shards or nothing — the CommitLog version-file create is the
 * only publish).
 *
 * Exactly-once without a transactional sink: Structured Streaming's
 * recovery contract replays an uncommitted micro-batch after a crash
 * with the SAME deterministic batch id, so keying each shard's
 * `#txn:` delivery entry by that id makes the ingest idempotent — the
 * canonical foreachBatch exactly-once recipe (deterministic batch id
 * + dedup at the target), with the index's own commit log as the
 * dedup ledger. A replayed batch short-circuits on the cheap
 * `hasDelivery` probe (no tokenize, no staging); the in-commit check
 * still guards a concurrent-writer race. The same property makes a
 * full REDELIVERY of the stream (fresh checkpoint over the same
 * source) a no-op rather than a df-doubling corruption.
 *
 * Unbounded streams need bounded read amplification: every shard adds
 * a commit dir and `searchBm25` unions one parquet root per live
 * commit, so a forever-stream would grow query-planning cost
 * linearly. When live shards exceed `maxShards`, the `fanIn` smallest
 * fold via [[graft.text.TextIndex.compactTiered]] — size-tiered, so a
 * shard's bytes rewrite O(log N)-ish times over its life, and
 * delivery keys pass through the fold untouched (replay rejection
 * survives compaction). Vacuum of superseded dirs stays a separate,
 * explicitly-invoked maintenance action, as everywhere else in the
 * store tier.
 *
 * At 100 TB: per-batch cost is shard-local (tokenize + three
 * bucket-partitioned writes — never a re-read of the stored index),
 * compaction cost is governed by the tier policy, and state is the
 * commit log itself — there is no driver-resident index state to
 * lose, which is why recovery needs nothing beyond the checkpoint and
 * the log.
 */
object StreamTextIndex {

  /** Start the maintainer over a streaming Dataset of documents
   *  (`idCol`, `textCol`). Runs with `Trigger.AvailableNow` — drain
   *  what the source has, then stop — matching the bounded-replay
   *  harness; a production deployment would swap the trigger, nothing
   *  else. Returns the running query; callers `awaitTermination`.
   */
  def maintain(
      docsStream: DataFrame, indexDir: String, checkpoint: String,
      idCol: String = "doc_id", textCol: String = "text",
      maxShards: Int = 8, fanIn: Int = 4,
      keepVersions: Int = Int.MaxValue): StreamingQuery = {
    require(maxShards >= 1 && fanIn >= 2, s"bad tier policy: $maxShards/$fanIn")
    require(keepVersions >= 1, s"bad keepVersions: $keepVersions")
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        val s = b.sparkSession
        val key = s"b$id"
        if (!graft.store.IndexCore.hasDelivery(s, indexDir, key) &&
            !b.isEmpty) {
          graft.text.TextIndex.ingestShard(
            s, indexDir, b.select(idCol, textCol), idCol, textCol,
            key = Some(key))
          if (graft.text.TextIndex.liveShardCount(s, indexDir) > maxShards)
            graft.text.TextIndex.compactTiered(s, indexDir, fanIn)
          // MANIFEST retention: a forever-stream is exactly the
          // workload that accrues unbounded version files (~8.6k/day
          // at a 10 s trigger) — version-file-only vacuum is safe per
          // batch (live set, data dirs, delivery keys untouched)
          if (keepVersions != Int.MaxValue)
            graft.store.IndexCore.vacuumManifest(s, indexDir, keepVersions)
        }
      }
      .start()
  }
}
