package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sim.Similarity
import graft.store.{CommitLog, IndexCore}

/**
 * Streaming maintenance of the persisted IVF ANN index
 * ([[graft.sim.Similarity.ivfIndexBuild]]/`ivfIndexAppend`) — the
 * "embed the crawl as it arrives" posture completing the set: all
 * three persisted indexes (dedup, text, IVF) are now maintainable
 * from a stream. The FIRST micro-batch founds the index (its strided
 * sample becomes the frozen centroid set); every later batch assigns
 * against those frozen centroids and publishes its cell-partitioned
 * postings as one commit — batch-linear narrow work, the stored index
 * is never re-read.
 *
 * Exactly-once is the same contract as [[StreamTextIndex]]: Structured
 * Streaming replays an uncommitted batch after a crash with the SAME
 * deterministic id, so keying each commit's `#txn:` entry by that id
 * makes ingest idempotent — a replayed batch short-circuits on the
 * cheap `IndexCore.hasDelivery` probe, a full fresh-checkpoint redelivery is
 * a version-preserving no-op, and the in-commit check still guards the
 * concurrent race. Delivery keys survive `ivfIndexRebuild` (the
 * re-centered index CONTAINS every folded batch, so a post-rebuild
 * replay must still be rejected — re-appending would double-insert).
 *
 * Found-vs-append is decided by `IndexCore.version == 0`, NOT by batch id 0:
 * if the founding batch commits and the stream crashes before the
 * checkpoint advances, the replayed batch 0 is caught by its delivery
 * key; if it crashes before the commit, the replay re-founds — either
 * way exactly one founding commit exists.
 *
 * Centroid drift under a forever-stream is the frozen-IVF tradeoff,
 * answered by the explicit `ivfIndexRebuild` maintenance action (a
 * strict-race atomic re-center) — NOT auto-triggered by default: a
 * rebuild re-reads the whole stored corpus, a cost that belongs to a
 * scheduled maintenance window, not to whichever micro-batch happens
 * to cross a threshold. Deployments that WANT the loop closed
 * in-stream opt in with `rebalanceAbovePpm`: after each commit the
 * maintainer reads [[Similarity.ivfIndexStats]] (one cell-grain agg
 * ∝ index) and re-trains when imbalance crosses the threshold —
 * under the strict-race publish, so an external writer racing the
 * rebuild simply wins and the next batch re-checks. The re-train's
 * sample stride is DERIVED from the index's own stats by default
 * (`n_vectors / 32768`, so the Lloyd sample stays bounded however
 * large the stream has grown — kmeansCentroids' ≤65536 contract);
 * `rebalanceSampleStep` overrides it for deployments with sparse or
 * skewed vec_id spaces where the modular stride under- or
 * over-samples.
 *
 * At 100 TB: per-batch cost is assignment (a broadcast of the
 * index-small centroid set, no corpus shuffle) + one cell-partitioned
 * write; state is the commit log itself — recovery needs nothing
 * beyond the checkpoint and the log.
 */
object StreamAnnIndex {

  /** Target Lloyd-sample size for the auto-derived rebalance stride —
   *  half of kmeansCentroids' ≤65536 collectBounded cap, margin for
   *  vec_id spaces where `id % step == 0` over-selects slightly.
   */
  private val TargetLloydSample = 32768.0

  /** Start the maintainer over a streaming Dataset of embeddings
   *  (`vec_id`, `v`). Runs with `Trigger.AvailableNow` — drain what
   *  the source has, then stop — matching the bounded-replay harness;
   *  a production deployment would swap the trigger, nothing else.
   *  `centroidStep` strides the founding batch (see
   *  [[Similarity.boundedStep]]). Returns the running query; callers
   *  `awaitTermination`.
   */
  def maintain(
      embStream: DataFrame, indexDir: String, checkpoint: String,
      centroidStep: Long,
      keepVersions: Int = Int.MaxValue,
      rebalanceAbovePpm: Option[Long] = None,
      rebalanceSampleStep: Option[Long] = None): StreamingQuery = {
    require(centroidStep >= 1, s"bad centroidStep: $centroidStep")
    require(keepVersions >= 1, s"bad keepVersions: $keepVersions")
    require(rebalanceAbovePpm.forall(_ >= 1000000L),
      "rebalanceAbovePpm below 1e6 (perfect balance) would re-train " +
        "on every batch")
    require(rebalanceSampleStep.forall(_ >= 1),
      s"bad rebalanceSampleStep: $rebalanceSampleStep")
    embStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        val s = b.sparkSession
        val key = s"b$id"
        // one ledger snapshot answers both the delivery probe and
        // found-vs-append (the StreamRagPipeline discipline)
        val (version, live) = IndexCore.ledger(s, indexDir)
        if (!live.contains(CommitLog.txnEntry(key)) && !b.isEmpty) {
          val batch = b.select("vec_id", "v")
          if (version == 0L)
            Similarity.ivfIndexBuild(
              s, indexDir, batch, centroidStep, key = Some(key))
          else
            Similarity.ivfIndexAppend(s, indexDir, batch, key = Some(key))
          // manifest retention — version files only, safe per batch
          if (keepVersions != Int.MaxValue)
            IndexCore.vacuumManifest(s, indexDir, keepVersions)
          // opt-in drift policy: measure, re-train past the threshold.
          // A lost publish race (external writer) is fine — the next
          // batch re-measures. Superseded dirs are NOT vacuumed here:
          // in-flight readers of the old generation drain on the
          // deployment's own schedule.
          rebalanceAbovePpm.foreach { cut =>
            val st = Similarity.ivfIndexStats(s, indexDir).head()
            if (st.getLong(3) > cut) {
              // auto stride: the re-train reads ~TargetLloydSample
              // vectors of the grown index, not all of it — the
              // operator no longer guesses (manual override stands
              // for sparse/skewed vec_id spaces)
              val step = rebalanceSampleStep.getOrElse(math.max(1L,
                math.ceil(st.getLong(1).toDouble / TargetLloydSample)
                  .toLong))
              // a refusal (replay pin) DEFERS the re-train — the
              // append itself is allowed under a pin and the stream
              // must not fail; the next batch re-measures
              try Similarity.ivfIndexRebuild(s, indexDir, centroidStep,
                iters = 2, sampleStep = step): Unit
              catch {
                case e: IllegalStateException =>
                  org.slf4j.LoggerFactory.getLogger(getClass).warn(
                    s"in-stream re-train on $indexDir deferred: " +
                      e.getMessage)
              }
            }
          }
        }
      }
      .start()
  }
}
