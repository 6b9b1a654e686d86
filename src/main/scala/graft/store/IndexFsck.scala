package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * CROSS-INDEX CONSISTENCY CHECK — the detection half of the
 * "maintain the three serving indexes in lockstep" contract that the
 * crawl/RAG pipelines and the cross-index takedown
 * ([[graft.streaming.StreamForget.forgetWhereAll]]) all rely on.
 *
 * Those verbs are engineered so divergence cannot happen (keyed
 * tombstones re-read instead of re-derived, completion markers, leg
 * ordering); this module is what an operator runs to PROVE it hasn't:
 * a partial crash predating the keyed-tombstone discipline, a stray
 * ad-hoc write to one index, or a bug in a future verb all surface
 * here as a nonzero membership diff instead of as silently wrong
 * search results (a doc served by BM25 but invisible to the dedup
 * gate, a vector whose document was erased).
 *
 * Cost: one doc-grain readback per index + one id-keyed shuffle per
 * full-outer membership compare (8-byte keys — a full outer cannot
 * broadcast) — ∝ index membership, never corpus text. Run it the way
 * a filesystem runs fsck: after incidents, before irreversible
 * maintenance, on a schedule.
 *
 * Preconditions the caller owns (else a diff is expected, not a
 * corruption): the three indexes were fed the same doc set with
 * vec_id == doc_id, and every doc yields ≥ 1 shingle under the dedup
 * ingest's df cap (a doc whose every shingle saturated
 * [[graft.dedup.Dedup.shingleSet]]'s maxDf never enters the dedup
 * index at all).
 */
/** One index's INCREMENTAL-fsck scope: the log version the scoped
 *  battery read at (`vNow` — the watermark to publish if everything
 *  is clean), the commit-local check rows `(check, violations,
 *  audited)`, and the doc/vec ids ADDED by and TOMBSTONED by the
 *  fresh entries — the inputs of the scoped cross-index lockstep
 *  compare.
 */
final case class FsckScope(
    vNow: Long,
    rows: Seq[(String, Long, Long)],
    added: DataFrame,
    gone: DataFrame)

object IndexFsck {

  /** Membership diff across the text index (authoritative: the only
   *  tier with a forward store), the dedup index, and optionally the
   *  ANN index. Returns (check, violations, audited) rows —
   *  `text_vs_dedup` / `text_vs_ann` violations are SYMMETRIC
   *  difference counts (a doc live in either index but not the
   *  other); audited is the text index's live doc count.
   */
  def crossMembership(
      spark: SparkSession, textDir: String, dedupDir: String,
      annDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    val text = graft.text.TextIndex.liveDocIds(spark, textDir)
      .distinct().persist()
    try {
      val audited = text.count()
      def symDiff(other: DataFrame): Long =
        text.withColumn("a", lit(1))
          .join(other.distinct().withColumn("b", lit(1)),
            Seq("doc_id"), "full_outer")
          .where(col("a").isNull || col("b").isNull)
          .count()
      val rows = Seq(
        ("text_vs_dedup",
          symDiff(graft.dedup.Dedup.indexDocIds(spark, dedupDir)),
          audited)) ++
        annDir.map(a => ("text_vs_ann",
          symDiff(graft.sim.Similarity.ivfVecIds(spark, a)
            .select(col("vec_id").as("doc_id"))),
          audited))
      rows.toDF("check", "violations", "audited")
    } finally text.unpersist(): Unit
  }

  /** REPAIR — the remediation half of [[crossMembership]]: re-converge
   *  the dedup and ANN tiers onto the TEXT index's membership (the
   *  authoritative tier — the only one holding a forward store to
   *  rebuild from). Docs live in text but missing from a tier are
   *  re-ingested from [[graft.text.TextIndex.docsFor]] (the ANN leg
   *  re-embeds through the caller's `embed`, which must be the
   *  pipeline's own embedder or the repaired vectors diverge
   *  semantically); docs live in a tier but gone from text are
   *  forgotten there. Returns one (tier, check, violations, audited)
   *  row per direction — `repaired_added` / `repaired_removed` with
   *  the count ACTUALLY APPLIED this call in `violations` (0 when the
   *  delivered-key guard skipped the direction; the ANN add leg
   *  reports the post-zero-norm-filter row count) — so the report
   *  composes with the fsck tables and never claims skipped work.
   *
   *  Replay-safe under `key`: each direction ledgers its own delivery
   *  key (`<key>.dedup.add` …) and a redelivered direction is skipped;
   *  diffs are recomputed from live state, so a post-completion
   *  redelivery computes empty diffs and applies nothing. Bounds: each
   *  direction repairs the LOWEST-ID 65536 docs per call (the takedown
   *  bound) — a wider diff is truncated DETERMINISTICALLY with a loud
   *  log line, and repeated calls converge; under `key`, use a FRESH
   *  key per wave (a redelivered key skips its direction, so the
   *  remainder would never apply under the old one).
   *
   *  Two doc classes can never converge and stay VISIBLE in the next
   *  [[crossMembership]] run instead of being silently dropped: a
   *  text doc yielding zero shingles under the dedup ingest's df cap,
   *  and a doc whose text embeds to the ZERO vector — the ANN add leg
   *  filters those out (a zero vector has no cosine direction; the
   *  RAG pipeline's own embed stage drops them on ingest for the same
   *  reason, so on pipeline-fed triples they also show as expected
   *  text_vs_ann diffs, not corruption).
   */
  def repairFromText(
      spark: SparkSession, textDir: String, dedupDir: String,
      annDir: Option[String] = None,
      embed: Option[org.apache.spark.sql.Column =>
        org.apache.spark.sql.Column] = None,
      threshold: Double = 0.6,
      key: Option[String] = None,
      persistPairs: Boolean = false): DataFrame = {
    import spark.implicits._
    require(annDir.isEmpty || embed.nonEmpty,
      "repairing an ANN tier needs the pipeline's embedder (embed)")
    val text = graft.text.TextIndex.liveDocIds(spark, textDir)
      .distinct().persist()
    try {
      val audited = text.count()
      def diffIds(a: DataFrame, b: DataFrame, what: String): Seq[Long] = {
        // lowest-id-first: the truncation cut must be DETERMINISTIC or
        // replays and successive waves would repair different subsets
        val out = a.join(b, Seq("doc_id"), "left_anti")
          .orderBy("doc_id").limit(65537)
          .collect().map(_.getLong(0)).toSeq
        if (out.length > 65536)
          org.slf4j.LoggerFactory.getLogger(getClass).warn(
            s"$what diff exceeds the 65536-per-call repair bound — " +
              "repairing the lowest-id 65536 this call; re-run (with a " +
              "fresh key) until the reported counts reach zero")
        out.take(65536)
      }
      // each repair direction is a delete or add leg under `<key>.dedup`
      // / `<key>.ann`
      val (dDel, dAdd) = key.map(k => IndexCore.upsertKeys(s"$k.dedup")).unzip
      val (aDel, aAdd) = key.map(k => IndexCore.upsertKeys(s"$k.ann")).unzip
      def delivered(dir: String, k: Option[String]): Boolean =
        k.exists(IndexCore.hasDelivery(spark, dir, _))
      val dedupIds = graft.dedup.Dedup.indexDocIds(spark, dedupDir)
        .distinct()
      val addD = diffIds(text, dedupIds, "text∖dedup")
      val delD = diffIds(dedupIds, text, "dedup∖text")
      // each direction reports the count it ACTUALLY applied this
      // call: 0 when the delivered-key guard skips it (the
      // truncated-wave-same-key case — the recomputed diff is real
      // but the work was not performed), and for the ANN add leg the
      // POST-zero-norm-filter row count, never the raw diff size
      val addDApplied =
        if (addD.nonEmpty && !delivered(dedupDir, dAdd)) {
          // persistPairs passes through: in a persistPairs deployment
          // a repaired doc with NO pair report would let its near-dup
          // copies escape a later includeNearDups takedown
          graft.dedup.Dedup.indexCheckAndIngest(spark, dedupDir,
            graft.text.TextIndex.docsFor(spark, textDir, addD),
            "doc_id", "text", threshold,
            deliveryKey = dAdd,
            persistPairs = persistPairs): Unit
          addD.length.toLong
        } else 0L
      val delDApplied =
        if (delD.nonEmpty && !delivered(dedupDir, dDel)) {
          graft.dedup.Dedup.indexForgetDocs(spark, dedupDir, delD,
            key = dDel)
          delD.length.toLong
        } else 0L
      val annRows = annDir.toSeq.flatMap { a =>
        val vecIds = graft.sim.Similarity.ivfVecIds(spark, a)
          .select(col("vec_id").as("doc_id")).distinct()
        val addA = diffIds(text, vecIds, "text∖ann")
        val delA = diffIds(vecIds, text, "ann∖text")
        val addAApplied =
          if (addA.nonEmpty && !delivered(a, aAdd)) {
            // a zero-norm embedding has no cosine direction:
            // appending it would poison cell assignment with 0/0 —
            // filter it out (the doc stays visible as a text_vs_ann
            // diff, the honest report for content the ANN tier
            // cannot hold) and report only the rows that went in
            val add = graft.text.TextIndex.docsFor(spark, textDir, addA)
              .select(col("doc_id").as("vec_id"),
                embed.get(col("text")).as("v"))
              .where(graft.sim.Similarity.norm2(col("v")) > 0)
              .persist()
            try {
              val n = add.count()
              if (n > 0)
                graft.sim.Similarity.ivfIndexAppend(spark, a, add,
                  key = aAdd)
              n
            } finally add.unpersist(): Unit
          } else 0L
        val delAApplied =
          if (delA.nonEmpty && !delivered(a, aDel)) {
            graft.sim.Similarity.ivfIndexForget(spark, a, delA,
              key = aDel)
            delA.length.toLong
          } else 0L
        Seq(("ann", "repaired_added", addAApplied, audited),
          ("ann", "repaired_removed", delAApplied, audited))
      }
      (Seq(
        ("dedup", "repaired_added", addDApplied, audited),
        ("dedup", "repaired_removed", delDApplied, audited)) ++
        annRows)
        .toDF("tier", "check", "violations", "audited")
    } finally text.unpersist(): Unit
  }

  /** The full fsck battery over a lockstep index triple: each index's
   *  deep per-leg check plus the cross-index membership diff, as one
   *  (tier, check, violations, audited) report — the single table an
   *  operator reads after an incident. The four sub-reports are
   *  independent read-only probes and run CONCURRENTLY.
   */
  def report(
      spark: SparkSession, textDir: String, dedupDir: String,
      annDir: Option[String] = None): DataFrame = {
    def tag(tier: String)(df: DataFrame): DataFrame =
      df.select(lit(tier).as("tier"), col("check"), col("violations"),
        col("audited"))
    val parts: Seq[() => DataFrame] = Seq(
      Some(() => tag("text")(
        graft.text.TextIndex.fsck(spark, textDir))),
      Some(() => tag("dedup")(
        graft.dedup.Dedup.indexFsck(spark, dedupDir))),
      annDir.map(a => () => tag("ann")(
        graft.sim.Similarity.ivfIndexFsck(spark, a))),
      Some(() => tag("cross")(
        crossMembership(spark, textDir, dedupDir, annDir)))).flatten
    graft.util.Par.par(parts)
      .reduce(_.unionByName(_))
  }

  /** Run the FULL battery and, when it is all-zeros, publish each
   *  index's `#fsck:<version>` verified watermark — the versions are
   *  read BEFORE the battery runs, so commits racing in during the
   *  check stay unverified (re-checked next time, never skipped).
   *  This is what arms [[incremental]]: certify after incidents or on
   *  the slow schedule, then let the scoped check carry the fast one.
   */
  def certify(
      spark: SparkSession, textDir: String, dedupDir: String,
      annDir: Option[String] = None): DataFrame = {
    val vT = IndexCore.version(spark, textDir)
    val vD = IndexCore.version(spark, dedupDir)
    val vA = annDir.map(a => IndexCore.version(spark, a))
    val rep = report(spark, textDir, dedupDir, annDir)
      .localCheckpoint(true)
    val bad = rep.agg(coalesce(sum("violations"), lit(0L)))
      .head().getLong(0)
    if (bad == 0L) {
      IndexCore.publishFsckWatermark(spark, textDir, vT)
      IndexCore.publishFsckWatermark(spark, dedupDir, vD)
      annDir.zip(vA).foreach { case (a, v) =>
        IndexCore.publishFsckWatermark(spark, a, v) }
    }
    rep
  }

  /** INCREMENTAL battery over the triple — the affordable SCHEDULED
   *  posture at 100 TB, where [[report]]'s full recount per check is
   *  not: each index verifies only the entries that appeared after
   *  its verified watermark (the commit-local invariant halves — see
   *  each index's `fsckIncremental`), plus the SCOPED cross-index
   *  lockstep compare: the doc sets ADDED since the watermarks must
   *  match across tiers (`new_membership_*`) and so must the
   *  TOMBSTONED sets (`gone_parity_*`) — the lockstep contract the
   *  pipelines maintain, checked at fresh-entry grain. The same
   *  visible-diff caveat as [[crossMembership]] applies (zero-shingle
   *  / zero-norm docs legitimately diff). When everything is clean,
   *  each watermark advances to the version that index read at.
   *
   *  Falls back to [[certify]] (the full battery, plus an extra
   *  `(cross, incremental_fallback, 1, 0)` marker row) when any
   *  index's incremental premise fails: no watermark yet, the
   *  watermark version vacuumed, or a fold/retire consumed a
   *  verified entry.
   */
  def incremental(
      spark: SparkSession, textDir: String, dedupDir: String,
      annDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    val scopes: Seq[Option[FsckScope]] = graft.util.Par.par(
      Seq[() => Option[FsckScope]](
        () => graft.text.TextIndex.fsckIncremental(spark, textDir),
        () => graft.dedup.Dedup.indexFsckIncremental(spark, dedupDir)) ++
        annDir.map(a =>
          () => graft.sim.Similarity.ivfFsckIncremental(spark, a)).toSeq)
    if (scopes.exists(_.isEmpty))
      return certify(spark, textDir, dedupDir, annDir).unionByName(
        Seq(("cross", "incremental_fallback", 1L, 0L))
          .toDF("tier", "check", "violations", "audited"))
    val sT = scopes(0).get
    val sD = scopes(1).get
    val sA = annDir.map(_ => scopes(2).get)
    def sym(a: DataFrame, b: DataFrame): Long =
      a.select(col("doc_id")).withColumn("ina", lit(1))
        .join(b.select(col("doc_id")).withColumn("inb", lit(1)),
          Seq("doc_id"), "full_outer")
        .where(col("ina").isNull || col("inb").isNull).count()
    val nAdd = sT.added.count()
    val nGone = sT.gone.count()
    val crossRows: Seq[(String, String, Long, Long)] =
      Seq(("cross", "new_membership_dedup", sym(sT.added, sD.added), nAdd),
        ("cross", "gone_parity_dedup", sym(sT.gone, sD.gone), nGone)) ++
        sA.toSeq.flatMap(a => Seq(
          ("cross", "new_membership_ann", sym(sT.added, a.added), nAdd),
          ("cross", "gone_parity_ann", sym(sT.gone, a.gone), nGone)))
    val tierRows =
      sT.rows.map { case (c, v, a) => ("text", c, v, a) } ++
        sD.rows.map { case (c, v, a) => ("dedup", c, v, a) } ++
        sA.toSeq.flatMap(_.rows.map { case (c, v, a) => ("ann", c, v, a) })
    val all = tierRows ++ crossRows
    if (all.forall(_._3 == 0L)) {
      IndexCore.publishFsckWatermark(spark, textDir, sT.vNow)
      IndexCore.publishFsckWatermark(spark, dedupDir, sD.vNow)
      annDir.zip(sA).foreach { case (a, s) =>
        IndexCore.publishFsckWatermark(spark, a, s.vNow) }
    }
    all.toDF("tier", "check", "violations", "audited")
  }
}
