package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/**
 * Streaming TAKEDOWN maintenance for the persisted indexes — the
 * "right-to-be-forgotten queue" posture completing the index
 * lifecycle: deletion requests stream in (an id column), and each
 * micro-batch applies one exactly-once tombstone commit per target
 * index ([[graft.text.TextIndex.forgetDocs]],
 * [[graft.dedup.Dedup.indexForgetDocs]],
 * [[graft.sim.Similarity.ivfIndexForget]]) — the deleted documents
 * stop being served IMMEDIATELY on every probe path, and physical
 * erasure follows the usual full-fold + vacuum schedule.
 *
 * Exactly-once is the shared maintainer contract (StreamTextIndex /
 * StreamRagPipeline): Structured Streaming replays an uncommitted
 * batch after a crash with the SAME deterministic id, each index's
 * `#txn:b<id>` ledger entry makes the apply idempotent, and the three
 * ledgers are INDEPENDENT — a crash between the text and ANN commits
 * replays the batch, the text leg short-circuits on its committed
 * key, and the ANN leg completes; a full fresh-checkpoint redelivery
 * is a version-preserving no-op on every index. forgetDocs' no-op
 * path still ledgers its key, so a batch whose ids were already gone
 * (or never ingested) replays as done rather than re-staging.
 *
 * A takedown batch is request-grain small by contract (the ids
 * collect to the driver to become the tombstone — loud past the
 * 65536 cap, matching forgetDocs). Tombstones accumulate one
 * broadcast-anti-join input per batch until retired;
 * `retireAboveTombstones` opts into maintainer-driven TOMBSTONE-
 * SCOPED retirement past a live-tombstone threshold
 * ([[graft.text.TextIndex.retireTombstones]] and the dedup/IVF
 * mirrors — cost ∝ the covered commits holding the deleted rows,
 * never a whole-index fold, so it is cheap enough to run from this
 * stream; shard compaction remains a separate scheduled-maintenance
 * decision). CONTRACT: like full folds, retirement physically drops
 * the tombstoned rows that [[graft.dedup.Dedup.indexKnownIds]]
 * re-reads, so do NOT point it at a dedup index that a crawl/RAG
 * pipeline may be MID-REPLAY on — the replayed batch's fresh/
 * re-fetch split could flip (the pipelines' own scaladoc carries the
 * same rule). A lost retirement publish race is swallowed (deferred
 * to the next batch), never a stream failure — but it is COUNTED
 * ([[deferredRetirements]]) and repeated consecutive losses log
 * loudly, so starvation under a permanently busy writer is
 * observable instead of silent.
 */
object StreamForget {

  /** Consecutive lost retirement publishes, per index dir — retirement
   *  deferral is BY DESIGN silent per-batch (a lost race must never
   *  fail the takedown stream), but under a permanently busy writer
   *  "defer to the next batch" can repeat forever while tombstone
   *  count and read fan-in grow. This counter makes the starvation
   *  observable: it resets on every retirement that publishes (or
   *  finds nothing to do) and, past [[DeferredRetireWarnAfter]]
   *  consecutive losses, each further loss logs loudly so an operator
   *  sees hygiene falling behind and schedules a quiet-window
   *  retirement. Process-local observability only — never consulted
   *  for correctness.
   */
  private val deferredRetires =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  private val DeferredRetireWarnAfter = 3L

  /** Current consecutive-loss count for `dir` (0 = last opportunistic
   *  retirement won or none was attempted). Spec/ops probe.
   */
  def deferredRetirements(dir: String): Long =
    Option(deferredRetires.get(dir)).fold(0L)(_.longValue)

  /** Run one opportunistic retirement: a lost publish race defers to
   *  the next batch (compact's silent-abort posture, preserved — the
   *  stream must not fail), but the loss is counted and surfaces
   *  loudly once consecutive losses pass the warn threshold.
   */
  private[graft] def retireOpportunistic(dir: String)(retire: => Unit): Unit =
    try {
      retire
      deferredRetires.remove(dir): Unit
    } catch {
      case e: IllegalStateException =>
        val n = deferredRetires.merge(dir, java.lang.Long.valueOf(1L),
          (a, b) => java.lang.Long.valueOf(a.longValue + b.longValue))
          .longValue
        if (n >= DeferredRetireWarnAfter)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"retirement on $dir lost its publish race to concurrent " +
              s"writers $n batches in a row — tombstone count and read " +
              "fan-in are growing; schedule a quiet-window " +
              s"retireTombstones/compact (${e.getMessage})")
    }

  /** ONE-SHOT CROSS-INDEX PREDICATE TAKEDOWN — "erase everything
   *  matching P across the serving stack" as a single replay-safe
   *  verb: resolve the doc ids ONCE from the TEXT index's live
   *  forward store ([[graft.text.TextIndex.docsWhere]] — gone-
   *  filtered, so already-deleted docs don't re-resolve) and
   *  tombstone every targeted index under derived keys `<key>.dedup`
   *  / `<key>.ann` / `<key>.text`. The ANN leg assumes the pipeline
   *  contract vec_id == doc_id (both composed pipelines embed that
   *  way).
   *
   *  `includeNearDups` (needs `dedupIdx`): ALSO take down the
   *  resolved docs' recorded near-duplicate partners from the dedup
   *  pair ledgers. This is what reaches content that matches P but
   *  never made the text index — a gate-suppressed duplicate's
   *  signatures and shingle postings live ONLY in the dedup index,
   *  where a text-resolved takedown cannot see them. It is OPT-IN
   *  because the pair relation is symmetric and carries no ownership:
   *  a partner may be the suppressed COPY of the erased content (the
   *  intended reach) or an unrelated author's earlier original that
   *  the erased doc happened to duplicate — wielding it is a policy
   *  decision. Partner expansion reads the pair ledgers as persisted
   *  (shards ingested with `persistPairs = false` recorded nothing
   *  and contribute nothing).
   *
   *  Replay soundness rests on LEG ORDER. The FIRST tombstoning leg's
   *  KEYED tombstone becomes the authoritative record of the resolved
   *  id set — the dedup leg when targeted
   *  ([[graft.dedup.Dedup.indexGoneForDelivery]]), else the ANN leg
   *  ([[graft.sim.Similarity.ivfGoneForDelivery]]) — and later legs
   *  and replays re-read it instead of re-deriving (a committed
   *  tombstone changes what the ledgers serve, and content ingested
   *  between crash and replay would make a re-resolution drift). The
   *  TEXT leg runs LAST as
   *  the completion marker: a replay that finds `<key>.text` ledgered
   *  knows the whole verb ran; one that doesn't re-resolves from the
   *  untouched text store (no dedup index) or re-reads the dedup
   *  tombstone. A predicate matching nothing still ledgers
   *  `<key>.text` so redeliveries probe as done. Returns the number
   *  of docs taken down (0 on redelivery or no match).
   */
  def forgetWhereAll(
      spark: org.apache.spark.sql.SparkSession,
      predicate: org.apache.spark.sql.Column, key: String,
      textIdx: String, dedupIdx: Option[String] = None,
      annIdx: Option[String] = None,
      includeNearDups: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{broadcast, col}
    graft.store.CommitLog.txnEntry(key): Unit
    require(!includeNearDups || dedupIdx.nonEmpty,
      "includeNearDups expands from the dedup pair ledgers — pass dedupIdx")
    // SELF-MANAGED MID-REPLAY LEASE: between the first tombstoning leg
    // and the completion marker, the AUTHORITATIVE keyed tombstone
    // (dedup's when targeted, else ANN's) must stay addressable — a
    // crash in that window replays by re-reading it, and an external
    // retirement or fold consuming it first would turn the crash into
    // an unrecoverable takedown (the loud require in
    // indexGoneForDelivery/ivfGoneForDelivery, previously documented
    // as an operator contract). The verb now holds the pin itself:
    // (re)pinned at entry on EVERY attempt — idempotent, one ledger
    // commit — and released on every return path, so the lease spans
    // exactly first-attempt-entry .. completion-marker, surviving any
    // number of crashes in between. Opportunistic maintenance that
    // races the window defers (IllegalStateException, the counted
    // class) instead of corrupting replay.
    def pinAuthority(): Unit = dedupIdx match {
      case Some(d) => graft.store.IndexCore.pin(spark, d, s"fwa:$key")
      case None => annIdx.foreach(a =>
        graft.store.IndexCore.pin(spark, a, s"fwa:$key"))
    }
    def unpinAuthority(): Unit = dedupIdx match {
      case Some(d) => graft.store.IndexCore.unpin(spark, d, s"fwa:$key")
      case None => annIdx.foreach(a =>
        graft.store.IndexCore.unpin(spark, a, s"fwa:$key"))
    }
    // completion marker: the text leg is last, so its key being
    // ledgered means every leg already applied — release any pin a
    // crashed attempt left and probe as done
    if (graft.store.IndexCore.hasDelivery(spark, textIdx, s"$key.text")) {
      unpinAuthority()
      return 0L
    }
    pinAuthority()
    def bounded(df: org.apache.spark.sql.DataFrame, what: String): Seq[Long] = {
      val out = df.distinct().limit(65537)
        .collect().map(_.getLong(0)).toSeq
      require(out.length <= 65536,
        s"forgetWhereAll $what resolved > 65536 ids — narrow the " +
          "predicate or batch the takedown (a tombstone is a bounded " +
          "driver-side set)")
      out
    }
    // ANY resolution failure (the 65536 bound or a malformed
    // predicate as IllegalArgumentException, a typo'd docsWhere
    // column as AnalysisException at collect time, a transient read
    // fault) must not leak the lease: no tombstoning leg has
    // committed yet when resolution throws (the delivered branches
    // read already-bounded committed records), so releasing is
    // always safe here, and the operator's retry — batched under new
    // keys or a plain redelivery of THIS key, which re-pins before
    // re-resolving — would otherwise find folds and retirement
    // blocked forever by an internal pin name. The lease only needs
    // to survive crashes AFTER the first leg commits, and those are
    // past this block.
    val allIds: Seq[Long] = try dedupIdx match {
      case Some(dir)
          if graft.store.IndexCore.hasDelivery(spark, dir, s"$key.dedup") =>
        // the dedup leg already committed: ITS keyed tombstone is the
        // authoritative resolved set — never re-derive on a replay
        bounded(graft.dedup.Dedup
          .indexGoneForDelivery(spark, dir, s"$key.dedup"), "replay")
      case None if annIdx.exists(a =>
          graft.store.IndexCore.hasDelivery(spark, a, s"$key.ann")) =>
        // no dedup leg targeted: the ANN leg ran FIRST, so its keyed
        // tombstone is the authoritative record — re-resolving the
        // predicate on replay would drift if matching content landed
        // since the crash (the text leg would erase docs the
        // already-committed ANN leg never saw: a permanent ann/text
        // divergence no redelivery could repair)
        bounded(graft.sim.Similarity
          .ivfGoneForDelivery(spark, annIdx.get, s"$key.ann"), "replay")
      case _ =>
        val ids = bounded(graft.text.TextIndex
          .docsWhere(spark, textIdx, predicate)
          .select(col("doc_id")), "predicate")
        if (ids.isEmpty || !includeNearDups) ids
        else {
          import spark.implicits._
          val base = broadcast(ids.toDF("doc_id"))
          // explicit Option branch, never a blanket Try: "no
          // persisted pair reports" legitimately expands to nothing,
          // but a transient I/O failure must PROPAGATE so the takedown
          // retries before its keys ledger — swallowing it would skip
          // partner expansion silently and the near-duplicate copies
          // would escape erasure permanently (redelivery returns 0)
          val partners = graft.dedup.Dedup
            .indexPairsIfAny(spark, dedupIdx.get) match {
            case None => Seq.empty[Long]
            case Some(pairs) => bounded(
              pairs.join(base.select(col("doc_id").as("a_id")),
                  Seq("a_id"), "left_semi").select(col("b_id").as("doc_id"))
                .unionByName(pairs
                  .join(base.select(col("doc_id").as("b_id")),
                    Seq("b_id"), "left_semi")
                  .select(col("a_id").as("doc_id"))),
              "near-dup expansion")
          }
          val union = (ids ++ partners).distinct
          require(union.length <= 65536,
            s"forgetWhereAll's expanded set (${union.length} ids) " +
              "exceeds the 65536 tombstone bound — batch the takedown")
          union
        }
    } catch {
      case scala.util.control.NonFatal(e) => unpinAuthority(); throw e
    }
    if (allIds.isEmpty) {
      // nothing live matches — ledger the completion marker DIRECTLY.
      // Re-running forgetWhere here would RE-evaluate the predicate
      // against the live store: a doc ingested between the resolution
      // above and that call would be tombstoned in the text leg only
      // (the dedup/ANN legs were already skipped as empty), a
      // permanent cross-index divergence no redelivery could repair.
      graft.store.IndexCore.ledgerDelivery(spark, textIdx, s"$key.text")
      unpinAuthority()
      return 0L
    }
    dedupIdx.foreach { dir =>
      if (!graft.store.IndexCore.hasDelivery(spark, dir, s"$key.dedup"))
        graft.dedup.Dedup.indexForgetDocs(spark, dir, allIds,
          key = Some(s"$key.dedup"))
    }
    annIdx.foreach { dir =>
      if (!graft.store.IndexCore.hasDelivery(spark, dir, s"$key.ann"))
        graft.sim.Similarity.ivfIndexForget(spark, dir, allIds,
          key = Some(s"$key.ann"))
    }
    graft.text.TextIndex.forgetDocs(spark, textIdx, allIds,
      key = Some(s"$key.text"))
    unpinAuthority()
    allIds.length.toLong
  }

  /** Start the maintainer over a streaming Dataset of takedown
   *  requests carrying `idCol` (long doc/vec ids). Any subset of the
   *  three indexes may be targeted; at least one must be. Runs with
   *  `Trigger.AvailableNow` — drain, then stop — matching the
   *  bounded-replay harness. Returns the running query; callers
   *  `awaitTermination`.
   */
  def maintain(
      idsStream: DataFrame, checkpoint: String,
      textIdx: Option[String] = None,
      dedupIdx: Option[String] = None,
      annIdx: Option[String] = None,
      idCol: String = "doc_id",
      retireAboveTombstones: Option[Long] = None): StreamingQuery = {
    require(textIdx.orElse(dedupIdx).orElse(annIdx).nonEmpty,
      "StreamForget needs at least one target index")
    require(retireAboveTombstones.forall(_ >= 1),
      s"bad retireAboveTombstones: $retireAboveTombstones")
    idsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, id: Long) =>
        val s = b.sparkSession
        val key = s"b$id"
        // ONE bounded collect serves all three legs (the batch is
        // request-grain by contract; forgetDocs re-checks the cap)
        val ids = b.select(org.apache.spark.sql.functions
            .col(idCol).cast("long"))
          .distinct().limit(65537)
          .collect().map(_.getLong(0)).toSeq
        require(ids.length <= 65536,
          s"takedown batch $id carries > 65536 ids — split the request " +
            "stream (a tombstone is a bounded driver-side set)")
        if (ids.nonEmpty) {
          textIdx.foreach { dir =>
            if (!graft.store.IndexCore.hasDelivery(s, dir, key)) {
              // forgetDocs stale-aborts when the live c-/t- set moved
              // between its delta computation and its publish — since
              // round 13 that includes ANY concurrent shard ingest
              // (not just forgets/folds), so under a steady crawl
              // stream a single retry can lose twice; the maintainer
              // owns a BOUNDED retry loop ("rerun against the new
              // live set"), re-probing the ledger each attempt in
              // case the racer committed OUR key. Persistent loss
              // after the bound is a genuine wedge and fails loudly.
              var attempts = 0
              var done = graft.store.IndexCore.hasDelivery(s, dir, key)
              while (!done) {
                attempts += 1
                try {
                  graft.text.TextIndex.forgetDocs(s, dir, ids,
                    key = Some(key))
                  done = true
                } catch {
                  case e: IllegalStateException =>
                    done = graft.store.IndexCore.hasDelivery(s, dir, key)
                    if (!done && attempts >= 5) throw e
                    if (!done)
                      // randomized backoff: without it all 5 attempts
                      // can burn inside ONE racing ingest's publish
                      // window, turning ordinary co-located crawl
                      // contention into a stream failure
                      Thread.sleep(
                        25L * attempts + scala.util.Random.nextInt(75))
                }
              }
              retireAboveTombstones.foreach { cut =>
                if (graft.text.TextIndex.tombstoneCount(s, dir) > cut)
                  // opportunistic hygiene: a lost publish race defers
                  // to the next batch, never fails the stream — but is
                  // counted, and repeated losses surface loudly
                  retireOpportunistic(dir)(
                    graft.text.TextIndex.retireTombstones(s, dir): Unit)
              }
            }
          }
          dedupIdx.foreach { dir =>
            if (!graft.store.IndexCore.hasDelivery(s, dir, key)) {
              // NO retry wrapper here, BY DESIGN (asymmetric with the
              // text leg above): a dedup tombstone is a pure gone-id
              // set with no corpus-level deltas, so indexForgetDocs
              // has no stale-abort to lose — concurrent forgets
              // compose (gone sets union) and the publish only
              // refuses a raced redelivery of THIS key, which the
              // hasDelivery guard already makes a no-op. Adding the
              // text leg's IllegalStateException retry would mask a
              // genuine redelivery bug. (Dedup.indexForgetDocs docs.)
              graft.dedup.Dedup.indexForgetDocs(s, dir, ids,
                key = Some(key))
              retireAboveTombstones.foreach { cut =>
                if (graft.dedup.Dedup.indexTombstoneCount(s, dir) > cut)
                  retireOpportunistic(dir)(
                    graft.dedup.Dedup.indexRetireTombstones(s, dir): Unit)
              }
            }
          }
          annIdx.foreach { dir =>
            if (!graft.store.IndexCore.hasDelivery(s, dir, key)) {
              // NO retry wrapper, same reasoning as the dedup leg: an
              // IVF tombstone is a pure gone-vec-id set (no deltas, no
              // stale-abort); only a raced redelivery of this key can
              // refuse the publish, and hasDelivery already guards it.
              graft.sim.Similarity.ivfIndexForget(s, dir, ids,
                key = Some(key))
              retireAboveTombstones.foreach { cut =>
                if (graft.sim.Similarity.ivfTombstoneCount(s, dir) > cut)
                  retireOpportunistic(dir)(graft.sim.Similarity
                    .ivfIndexRetireTombstones(s, dir): Unit)
              }
            }
          }
        }
      }
      .start()
  }
}
