package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.store.{CommitLog, IndexCore}
import graft.text.TextIndex

/**
 * The full RAG ingest pipeline: ONE document stream maintains THREE
 * persisted indexes — each micro-batch is near-dup-gated against the
 * dedup index, and the SURVIVORS ingest into BOTH retrieval tiers:
 * the inverted text index (BM25 leg) and the IVF vector index (ANN
 * leg, via a caller-supplied `embed`). This is the production "crawl →
 * dedup → hybrid-searchable" shape, the composition the per-index
 * maintainers and [[StreamCrawlPipeline]] build toward.
 *
 * Exactly-once across THREE sinks with no cross-sink transaction:
 * each index keeps its own `#txn:b<batchId>` ledger, checked
 * independently, so a crash between ANY two commits recovers
 * correctly — the replayed batch skips whichever legs already
 * committed and performs the missing ones. What makes that sound is
 * the same invariant the crawl pipeline pins: both derived legs
 * compute survivors from THE BATCH'S OWN persisted pair report
 * ([[Dedup.indexPairsForDelivery]], published atomically with the
 * batch's dedup shard, byte-identical on first run and on replay),
 * never from an attempt-local verdict. Dedup-before-derived-legs
 * within the batch gives the report read its happens-before.
 *
 * ANN founding follows [[StreamAnnIndex]]: the first batch with a
 * non-empty embedded survivor set founds the index (its strided
 * sample freezes the centroid set); later batches append under the
 * frozen centroids. A fresh-checkpoint redelivery is a
 * version-preserving no-op on all three indexes.
 *
 * RE-FETCH AWARE (the [[StreamCrawlPipeline]] discipline, extended to
 * the ANN leg): each batch splits into FRESH and RE-FETCHED ids via
 * [[Dedup.indexKnownIds]] (log-position cutoff + tombstone-blind, so
 * the split is replay-stable — contract: no full compactions or
 * tombstone retirements on the dedup index while a batch may be
 * mid-replay; ENFORCEABLE via [[IndexCore.pin]] — a live pin makes
 * those verbs refuse loudly instead of trusting prose).
 * Re-fetched docs UPSERT all three
 * tiers: the dedup index replaces their signatures in place (gated
 * against the REST of the corpus, never their own prior version),
 * the text index retires the old postings for EVERY re-fetched id
 * and ingests the new text for the gate's survivors, and the ANN
 * index retires the old vectors and appends the survivors'
 * re-embeddings under the frozen centroids. Per batch b<id> the
 * re-fetch keys are `b<id>.up.del`/`.up.add` (dedup upsert pair),
 * `.up.tdel`/`.up.tadd` (text), `.up.adel`/`.up.aadd` (ANN) — each
 * leg exactly-once, delete legs never running after their add leg
 * committed. `embed` must be deterministic across replays (the same
 * contract the fresh leg already relies on).
 *
 * At 100 TB: per-batch cost is batch-linear (shingle+sign, tokenize,
 * embed) plus collision-proportional joins against stored dedup
 * state and a broadcast-centroid assignment — none of the three
 * corpora-at-rest are ever re-read, and the survivor anti-join is
 * batch-report-grain regardless of stream lifetime.
 */
object StreamRagPipeline {

  /** Start the pipeline over a streaming Dataset of documents
   *  (`idCol`, `textCol`). `embed` maps a batch of survivor docs to
   *  (vec_id, v) rows — dropping un-embeddable rows is its business
   *  (e.g. zero-norm vectors). Runs with `Trigger.AvailableNow`
   *  (bounded-replay harness; production swaps the trigger, nothing
   *  else). Returns the running query; callers `awaitTermination`.
   */
  /** The replay lease [[maintain]] registers on the dedup index (the
   *  tier whose commit layout the fresh/re-fetch split re-reads on
   *  replay; the text/ANN legs are key-guarded and their `#txn:` keys
   *  survive folds, so they need no lease). Fixed name — restarts and
   *  fresh-checkpoint redeliveries re-pin idempotently.
   */
  val LeaseName = "rag-pipeline"

  /** Release the replay lease — after graceful termination or after
   *  decommissioning a crashed checkpoint (see
   *  [[StreamCrawlPipeline.release]] for the reasoning; a crashed
   *  stream's lease deliberately survives).
   */
  def release(
      spark: org.apache.spark.sql.SparkSession, dedupDir: String): Unit =
    IndexCore.unpin(spark, dedupDir, LeaseName)

  def maintain(
      docsStream: DataFrame, dedupDir: String, textDir: String,
      annDir: String, checkpoint: String, threshold: Double,
      centroidStep: Long, embed: DataFrame => DataFrame,
      idCol: String = "doc_id", textCol: String = "text"): StreamingQuery = {
    require(threshold > 0 && threshold <= 1, s"bad threshold: $threshold")
    require(centroidStep >= 1, s"bad centroidStep: $centroidStep")
    // SELF-REGISTERED MID-REPLAY LEASE (the crawl pipeline's
    // discipline): pinned before the stream starts, held across
    // crashes, released via [[release]] once the checkpoint is done
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
        // ONE materializing count doubles as the emptiness probe (the
        // old standalone isEmpty launched a job whose work the legs
        // then redid) — every leg below reads the cached batch
        val b = b0.persist()
        try {
          val bN = b.count()
          if (bN > 0) {
            // replay-stable fresh/re-fetch split (see scaladoc). ONE
            // probe job decides; the common all-fresh batch skips the
            // split joins entirely (fresh IS the cached batch) so the
            // steady-state job count grows by exactly one per batch —
            // the job-count regression fence in StreamRagPipelineSpec
            val known = Dedup.indexKnownIds(s, dedupDir,
              b.select(idCol), idCol,
              excludeKeys = Seq(key, upDel, upAdd))
              .persist()
            val knownN = known.count()
            val allFresh = knownN == 0
            val fresh =
              if (allFresh) b.select(idCol, textCol)
              else b.select(idCol, textCol)
                .join(org.apache.spark.sql.functions.broadcast(known),
                  Seq(idCol), "left_anti").persist()
            val refetch =
              if (allFresh) None
              else Some(b.select(idCol, textCol)
                .join(org.apache.spark.sql.functions.broadcast(known),
                  Seq(idCol), "left_semi").persist())
            try {
            val freshN = if (allFresh) bN else fresh.count()
            if (freshN > 0) {
            if (!IndexCore.hasDelivery(s, dedupDir, key))
              Dedup.indexCheckAndIngest(
                s, dedupDir, fresh, idCol, textCol,
                threshold, deliveryKey = Some(key), persistPairs = true): Unit
            // survivors from THIS BATCH'S persisted report (committed
            // just above or by a pre-crash attempt) — replay-identical,
            // bounded by the batch; MATERIALIZED ONCE and shared by both
            // derived legs (each leg would otherwise re-read the pair
            // report and re-run the anti-join)
            val needText = !IndexCore.hasDelivery(s, textDir, key)
            // one ANN ledger snapshot answers BOTH "already delivered?"
            // and "founded yet?" — the old path resolved the log twice
            val (annVersion, annLive) = IndexCore.ledger(s, annDir)
            val needAnn = !annLive.contains(CommitLog.txnEntry(key))
            if (needText || needAnn) {
              val dups = Dedup.indexPairsForDelivery(s, dedupDir, key)
                .select(col("b_id").as(idCol)).distinct()
              val survivors = fresh
                .join(dups, Seq(idCol), "left_anti").persist()
              try {
                // the count materializes the shared cache AND is the
                // emptiness answer — no separate isEmpty job
                val anySurvivors = survivors.count() > 0
                if (needText && anySurvivors)
                  TextIndex.ingestShard(
                    s, textDir, survivors, idCol, textCol, key = Some(key))
                if (needAnn && anySurvivors) {
                  val vecs = embed(survivors).persist()
                  try {
                    if (vecs.count() > 0) {
                      if (annVersion == 0L)
                        Similarity.ivfIndexBuild(
                          s, annDir, vecs, centroidStep, key = Some(key))
                      else
                        Similarity.ivfIndexAppend(
                          s, annDir, vecs, key = Some(key))
                    }
                  } finally vecs.unpersist(): Unit
                }
              } finally survivors.unpersist(): Unit
            }
            }

            // ---- re-fetch leg: upsert all three tiers ----
            for (refetch <- refetch) {
              // bounded: re-fetch ids become tombstones (driver-side
              // sets by design); split wider re-crawl waves upstream
              val ids = refetch.select(col(idCol).cast("long"))
                .distinct().limit(65537)
                .collect().map(_.getLong(0)).toSeq
              require(ids.length <= 65536,
                s"batch $id re-fetches > 65536 ids — split the " +
                  "re-crawl wave (a tombstone is a bounded set)")
              // dedup: tombstone old generation, gate new text against
              // the REST, persist the report (sub-keys short-circuit)
              Dedup.indexUpsertDocs(
                s, dedupDir, refetch, idCol, textCol, threshold,
                key = Some(s"$key.up"), persistPairs = true): Unit
              // text: superseded postings retire for EVERY re-fetched
              // id (tdel never runs after tadd committed; skip while
              // the text index is still empty — nothing to retire)
              if (!IndexCore.hasDelivery(s, textDir, s"$key.up.tdel") &&
                  !IndexCore.hasDelivery(s, textDir, s"$key.up.tadd") &&
                  TextIndex.liveShardCount(s, textDir) > 0)
                TextIndex.forgetDocs(s, textDir, ids,
                  key = Some(s"$key.up.tdel"))
              // ANN: superseded vectors retire likewise (pure gone-set)
              val (annV2, annLive2) = IndexCore.ledger(s, annDir)
              if (!annLive2.contains(CommitLog.txnEntry(s"$key.up.adel")) &&
                  !annLive2.contains(CommitLog.txnEntry(s"$key.up.aadd")) &&
                  annV2 > 0L)
                Similarity.ivfIndexForget(s, annDir, ids,
                  key = Some(s"$key.up.adel"))
              // survivors of the upsert's gate (from ITS persisted
              // report — replay-identical) carry the new content into
              // both retrieval tiers
              val needT2 = !IndexCore.hasDelivery(s, textDir, s"$key.up.tadd")
              val (annV3, annLive3) = IndexCore.ledger(s, annDir)
              val needA2 = !annLive3.contains(CommitLog.txnEntry(s"$key.up.aadd"))
              if (needT2 || needA2) {
                val dups2 = Dedup
                  .indexPairsForDelivery(s, dedupDir, upAdd)
                  .select(col("b_id").as(idCol)).distinct()
                val surv2 = refetch
                  .join(dups2, Seq(idCol), "left_anti").persist()
                try {
                  val any2 = surv2.count() > 0
                  if (needT2 && any2)
                    TextIndex.ingestShard(s, textDir, surv2, idCol,
                      textCol, key = Some(s"$key.up.tadd"))
                  if (needA2 && any2) {
                    val vecs2 = embed(surv2).persist()
                    try {
                      if (vecs2.count() > 0) {
                        if (annV3 == 0L)
                          Similarity.ivfIndexBuild(s, annDir, vecs2,
                            centroidStep, key = Some(s"$key.up.aadd"))
                        else
                          Similarity.ivfIndexAppend(s, annDir, vecs2,
                            key = Some(s"$key.up.aadd"))
                      }
                    } finally vecs2.unpersist(): Unit
                  }
                } finally surv2.unpersist(): Unit
              }
            }
            } finally {
              known.unpersist(): Unit
              if (!allFresh) fresh.unpersist(): Unit
              refetch.foreach(_.unpersist(): Unit)
            }
          }
        } finally b.unpersist(): Unit
      }
      .start()
  }
}
