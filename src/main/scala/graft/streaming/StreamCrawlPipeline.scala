package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.Dedup
import graft.store.IndexCore
import graft.text.TextIndex

/**
 * The composed crawl-ingest pipeline: ONE document stream maintains
 * TWO persisted indexes — each micro-batch is near-dup-gated against
 * the dedup index, and only the SURVIVORS ingest into the text index.
 * This is the production shape ("dedup the crawl, search what's
 * left") and the reason the per-index maintainers were built.
 *
 * RE-FETCH AWARE: a batch splits into FRESH docs (id never seen) and
 * RE-FETCHED docs (id already in the dedup index — the most common
 * real mutation in a crawl corpus). Fresh docs take the classic
 * gate-then-ingest path. Re-fetched docs are UPSERTS: the dedup index
 * replaces their signatures in place ([[Dedup.indexUpsertDocs]] — the
 * old version is tombstoned BEFORE the near-dup check, so a
 * re-crawled doc is gated against the REST of the corpus, never
 * against its own prior version), and the text index deletes the old
 * postings and ingests the new text for the gate's survivors — so a
 * re-crawled doc's NEW content is searchable, an update that became a
 * duplicate is suppressed, and a first-sight duplicate whose update
 * diverged becomes searchable.
 *
 * Exactly-once across two sinks without a cross-sink transaction:
 * each index keeps its own `#txn:` ledger, checked independently, so
 * a crash BETWEEN commits recovers correctly. Per batch b<id> the
 * keys are: `b<id>` (fresh dedup shard + fresh text shard),
 * `b<id>.up.del`/`b<id>.up.add` (dedup upsert pair), `b<id>.up.tdel`
 * (text delete of all re-fetched ids) and `b<id>.up.tadd` (text
 * ingest of re-fetch survivors). Three properties make replay sound:
 *  - SURVIVOR sets derive from each leg's PERSISTED pair report
 *    ([[Dedup.indexPairsForDelivery]] — published atomically with
 *    the shard, byte-identical on first run and replay), never from
 *    an in-memory verdict;
 *  - the fresh/re-fetch SPLIT derives from [[Dedup.indexKnownIds]],
 *    which excludes this batch's own keyed commits and ignores
 *    tombstones — so a half-committed batch re-derives the same
 *    split it started from (contract: don't run full compactions OR
 *    tombstone retirements on the dedup index while a crawl batch
 *    may be mid-replay — both physically drop the tombstoned rows
 *    the probe re-reads; [[IndexCore.pin]] turns the
 *    contract into a checkable lease — pinned folds/retirement
 *    refuse loudly);
 *  - every mutation is guarded by its own delivery key.
 *
 * A full fresh-checkpoint redelivery is a version-preserving no-op on
 * BOTH indexes; batches are micro-batch-sequential, which is the
 * dedup index's serial-shard requirement.
 *
 * At 100 TB: per-batch cost is batch-linear (shingle+sign, tokenize)
 * plus collision-proportional joins against stored dedup state — the
 * two corpora-at-rest are never re-read; the membership probe is one
 * pruned sig-leg scan semi-joined to the broadcast batch ids; the
 * anti-joins against reported duplicates are BATCH-report-grain,
 * regardless of stream lifetime. Re-fetch ids are a bounded
 * driver-side set (<= 65536 per batch — a tombstone is a bounded
 * collect by design; split wider re-crawl waves upstream).
 */
object StreamCrawlPipeline {

  /** Start the pipeline over a streaming Dataset of documents
   *  (`idCol`, `textCol`). Runs with `Trigger.AvailableNow` — drain
   *  what the source has, then stop — matching the bounded-replay
   *  harness; a production deployment would swap the trigger, nothing
   *  else. Returns the running query; callers `awaitTermination`.
   */
  /** The replay lease [[maintain]] registers on the dedup index —
   *  one fixed name per pipeline kind, so any number of (re)starts
   *  and fresh-checkpoint redeliveries re-pin idempotently
   *  (version-preserving).
   */
  val LeaseName = "crawl-pipeline"

  /** Release the replay lease — call AFTER the stream terminated
   *  gracefully (awaitTermination returned: the final batch's effects
   *  and checkpoint both committed, so no batch can replay), or after
   *  decommissioning a crashed stream's checkpoint. Folds and
   *  tombstone retirement on the dedup index unblock. A crashed
   *  stream's lease is deliberately NOT auto-released: its last batch
   *  is still replayable, which is exactly what the lease protects.
   */
  def release(
      spark: org.apache.spark.sql.SparkSession, dedupDir: String): Unit =
    IndexCore.unpin(spark, dedupDir, LeaseName)

  def maintain(
      docsStream: DataFrame, dedupDir: String, textDir: String,
      checkpoint: String, threshold: Double, idCol: String = "doc_id",
      textCol: String = "text"): StreamingQuery = {
    require(threshold > 0 && threshold <= 1, s"bad threshold: $threshold")
    // SELF-REGISTERED MID-REPLAY LEASE: the pipeline's fresh/re-fetch
    // split re-reads the dedup index's commit layout on replay
    // (indexKnownIds' log-position cut, indexPairsForDelivery's keyed
    // report), so folds and retirement must refuse while any batch
    // may replay. Pinned before the stream starts — idempotent across
    // restarts, held across crashes BY DESIGN — released explicitly
    // via [[release]] once the checkpoint is decommissioned.
    IndexCore.pin(docsStream.sparkSession, dedupDir, LeaseName)
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b0: DataFrame, id: Long) =>
        val s = b0.sparkSession
        val key = s"b$id"
        // the dedup upsert's leg keys (its re-fetch leg runs under
        // `<key>.up`)
        val (upDel, upAdd) = IndexCore.upsertKeys(s"$key.up")
        // persist discipline (the StreamRagPipeline fence's lesson):
        // the batch, the membership probe, and both split halves each
        // feed several downstream actions — uncached, every action
        // would re-read the source and re-run the probe's sig scan
        val batch = b0.select(idCol, textCol).persist()
        try {
        if (batch.count() > 0) {
          // replay-stable split: known = already in the dedup index AS
          // OF THIS BATCH'S START (indexKnownIds cuts the log at the
          // first entry owned by this batch's keys and ignores
          // tombstones — so crash-replay and full redelivery re-derive
          // the original split even after later batches mutated
          // membership). The common all-fresh batch pays exactly the
          // one probe job and skips the split joins
          val known = Dedup.indexKnownIds(
            s, dedupDir, batch.select(idCol), idCol,
            excludeKeys = Seq(key, upDel, upAdd))
            .persist()
          val allFresh = known.count() == 0
          val fresh =
            if (allFresh) batch
            else batch.join(broadcast(known), Seq(idCol), "left_anti")
              .persist()
          val refetch =
            if (allFresh) None
            else Some(batch.join(broadcast(known), Seq(idCol), "left_semi")
              .persist())
          try {

          // ---- fresh leg: the classic gate-then-ingest path ----
          if (allFresh || !fresh.isEmpty) {
            if (!IndexCore.hasDelivery(s, dedupDir, key))
              Dedup.indexCheckAndIngest(
                s, dedupDir, fresh, idCol, textCol,
                threshold, deliveryKey = Some(key),
                persistPairs = true): Unit
            if (!IndexCore.hasDelivery(s, textDir, key)) {
              // survivors from THIS BATCH'S persisted report (committed
              // just above or by a pre-crash attempt) — identical on
              // first run and on replay, and bounded by the batch
              val dups = Dedup.indexPairsForDelivery(s, dedupDir, key)
                .select(col("b_id").as(idCol)).distinct()
              val survivors = fresh.join(dups, Seq(idCol), "left_anti")
              if (!survivors.isEmpty)
                TextIndex.ingestShard(
                  s, textDir, survivors, idCol, textCol, key = Some(key))
            }
          }

          // ---- re-fetch leg: upsert both indexes ----
          for (refetch <- refetch) {
            // dedup: tombstone the old generation, gate the new text
            // against the REST of the index, persist the pair report
            // (indexUpsertDocs short-circuits per committed sub-key)
            Dedup.indexUpsertDocs(
              s, dedupDir, refetch, idCol, textCol, threshold,
              key = Some(s"$key.up"), persistPairs = true): Unit
            // text: the old postings retire for EVERY re-fetched id
            // (superseded content must stop serving even when the
            // update is suppressed as a duplicate). Guards, in order:
            // the delete already ran; the ADD already ran (the delete
            // must never execute after it — on a replay where the
            // text index was empty on the first attempt, running it
            // now would tombstone the freshly-added generation); the
            // text index is still empty (nothing to retire, and
            // forgetDocs needs a docs leg to exist — the skip is
            // replay-safe because the tadd guard above covers the
            // only ordering that could go wrong)
            if (!IndexCore.hasDelivery(s, textDir, s"$key.up.tdel") &&
                !IndexCore.hasDelivery(s, textDir, s"$key.up.tadd") &&
                TextIndex.liveShardCount(s, textDir) > 0) {
              val ids = refetch.select(col(idCol).cast("long"))
                .distinct().limit(65537)
                .collect().map(_.getLong(0)).toSeq
              require(ids.length <= 65536,
                s"batch $id re-fetches > 65536 ids — split the " +
                  "re-crawl wave (a tombstone is a bounded set)")
              TextIndex.forgetDocs(s, textDir, ids,
                key = Some(s"$key.up.tdel"))
            }
            // ...and the gate's survivors ingest the new text (from
            // the upsert's persisted report — replay-identical)
            if (!IndexCore.hasDelivery(s, textDir, s"$key.up.tadd")) {
              val dups = Dedup
                .indexPairsForDelivery(s, dedupDir, upAdd)
                .select(col("b_id").as(idCol)).distinct()
              val survivors = refetch.join(dups, Seq(idCol), "left_anti")
              if (!survivors.isEmpty)
                TextIndex.ingestShard(s, textDir, survivors, idCol,
                  textCol, key = Some(s"$key.up.tadd"))
            }
          }
          } finally {
            known.unpersist(): Unit
            if (!allFresh) fresh.unpersist(): Unit
            refetch.foreach(_.unpersist(): Unit)
          }
        }
        } finally batch.unpersist(): Unit
      }
      .start()
  }
}
