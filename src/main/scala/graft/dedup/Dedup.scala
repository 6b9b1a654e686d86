package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import org.apache.spark.sql.SparkSession

import graft.store.{CommitLog, FsckScope, IndexCore, IndexLeg}
import graft.store.IndexCore.isViol
import graft.text.TextOps

/**
 * Deduplication tier for training-data pipelines: exact (hash-groupBy),
 * exact n-gram Jaccard (shingle join), MinHash+LSH banding, and SimHash
 * banding.
 *
 * Scale design: nothing here is all-pairs. Exact dedup is one groupBy.
 * Jaccard joins on the shingle key with a document-frequency cap (hot
 * shingles contribute quadratic pairs and near-zero signal). MinHash
 * candidates come from banded signature buckets (`groupBy(band,
 * bucket)`-style self-join), and verification work is proportional to
 * CANDIDATES, not n² — the LSH s-curve (b=16, r=4 ⇒ threshold ≈ 0.5)
 * makes misses of true near-dups (J ≥ 0.8) negligible.
 */
object Dedup {

  /** Scoped caching for multi-use intermediates: persist `dfs` for the
   *  duration of `body`, eagerly materialize body's (small) result via
   *  localCheckpoint while the caches are live, then release them — a
   *  long-lived engine must not accumulate multi-GB intermediate caches
   *  across queries. The by-name `body` is planned and executed inside
   *  the persist scope, so every reference to a persisted frame (or a
   *  plan containing one) reads the cache.
   */
  private[graft] def withScopedPersist(dfs: DataFrame*)(body: => DataFrame): DataFrame = {
    val cached = dfs.map(
      _.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try body.localCheckpoint(true)
    finally cached.foreach(_.unpersist(false))
  }

  /** Exact duplicate groups by content hash: (h, keep_id, n_dups). */
  def exactDups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_docs"))
      .where(col("n_docs") > 1)

  /** Distinct hashed shingle set `(doc_id, sh, h2)` with a doc-frequency
   *  cap: shingles present in more than `maxDf` docs carry no dedup
   *  signal and would blow up the join quadratically.
   *
   *  The shingle string is hashed to TWO independent 64-bit values
   *  (`sh` = identity for joins/dedup, `h2` = second minhash base)
   *  immediately after the explode and then dropped — every downstream
   *  shuffle moves 8-byte longs instead of multi-word strings, and set
   *  semantics are unchanged up to 64-bit collisions (P[any] ~ n²/2⁶⁴,
   *  negligible).
   *
   *  Dedup + df-cap happen in ONE bounded-buffer aggregation
   *  (BoundedDistinctLongsAgg): group postings by shingle, keep at most
   *  maxDf+1 DISTINCT doc ids per group, drop saturated groups. One
   *  shuffle (the earlier distinct + count-over-window formulation took
   *  two, plus a sort), and — decisively at 100 TB — map-side partial
   *  aggregation caps every partial at maxDf+1 longs, so a ubiquitous
   *  shingle ships one tiny buffer per map partition instead of
   *  funneling billions of postings into a single window task. (Round-3
   *  alternatives measured and rejected: hot-set broadcast anti-join
   *  re-ran the explode lineage twice; count-over-window single-tasks
   *  the hottest key.)
   */
  def shingleSet(
      docs: DataFrame, idCol: String, textCol: String, maxDf: Long = 200L): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column => toCol, expression => toExpr}
    require(maxDf >= 1 && maxDf < Int.MaxValue, "maxDf must fit an int cap")
    docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .select(col("doc_id"), explode(TextOps.shinglesOf(col("toks"), 3)).as("s"))
      .select(
        col("doc_id"),
        xxhash64(col("s")).as("sh"),
        xxhash64(lit("graft-mh2"), col("s")).as("h2"))
      .groupBy("sh", "h2")
      .agg(toCol(graft.functions.BoundedDistinctLongsAgg(
        toExpr(col("doc_id")), (maxDf + 1).toInt).toAggregateExpression()).as("docs"))
      // exact groups emit their full distinct set (size = true df);
      // saturated groups emit maxDf+1 ids and are dropped here
      .where(size(col("docs")) <= maxDf)
      .select(explode(col("docs")).as("doc_id"), col("sh"), col("h2"))
  }

  private def jaccardOf(pairsWithInter: DataFrame, sizes: DataFrame): DataFrame =
    pairsWithInter
      .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("n", "na"), Seq("a_id"))
      .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("n", "nb"), Seq("b_id"))
      .withColumn("jaccard",
        col("i").cast("double") / (col("na") + col("nb") - col("i")))

  private def sizesOf(shingles: DataFrame): DataFrame =
    shingles.groupBy("doc_id").agg(count(lit(1)).as("n"))

  /** Exact n-gram Jaccard pairs ≥ threshold via a shingle-key join —
   *  the correctness baseline for the MinHash path.
   */
  def exactJaccardPairs(shingles: DataFrame, threshold: Double): DataFrame = {
    val a = shingles.select(col("doc_id").as("a_id"), col("sh"))
    val b = shingles.select(col("doc_id").as("b_id"), col("sh"))
    val inter = a.join(b, Seq("sh")).where(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("i"))
    jaccardOf(inter, sizesOf(shingles))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** k MinHash values per doc from the TWO base hashes carried on the
   *  shingle set (`sh`, `h2`), hash_i = sh XOR rotl(h2, i) — ONE typed
   *  aggregate with a long[k] buffer (MinhashSignatureAgg) emitting the
   *  signature as a single array<long> column `mh`, so every downstream
   *  shuffle moves one narrow column instead of k. The string was
   *  hashed only twice at shingle time (hashing it k times dominated
   *  the signature cost). XOR-rotate mixing is not strictly min-wise
   *  independent, but LSH only needs bucket diversity here — final
   *  answers come from the EXACT verification pass.
   */
  def minhashSignature(shingles: DataFrame, k: Int = 64): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column => toCol, expression => toExpr}
    shingles.groupBy("doc_id").agg(
      toCol(graft.functions.MinhashSignatureAgg(
        toExpr(col("sh")), toExpr(col("h2")), k).toAggregateExpression()).as("mh"))
  }

  /** (doc_id, band, bucket) rows of a signature table — the banded LSH
   *  index both the self-join and the cross (incremental) join probe.
   */
  def bandBuckets(signature: DataFrame, k: Int = 64, bands: Int = 16): DataFrame = {
    val r = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        hash(slice(col("mh"), b * r + 1, r)).as("bucket"))
    }
    signature
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Banded LSH candidate pairs: docs sharing any (band, bucket). */
  def lshCandidates(signature: DataFrame, k: Int = 64, bands: Int = 16): DataFrame = {
    val buckets = bandBuckets(signature, k, bands)
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
  }

  /** Candidate-driven exact verification: intersection counts are
   *  computed only for candidate pairs (work ∝ candidates, not n²).
   *  (Measured note: pre-restricting the shingle set to candidate docs
   *  via a broadcast semi-join was tried and LOST at bench scale — the
   *  extra scan passes cost more than the small shuffles they avoid;
   *  at much larger corpus-to-candidate ratios it becomes the right
   *  plan and the join keys here already make Catalyst prune columns.)
   */
  def verifyJaccard(
      candidates: DataFrame, shingles: DataFrame, threshold: Double): DataFrame = {
    val inter = candidates
      .join(shingles.select(col("doc_id").as("a_id"), col("sh")), Seq("a_id"))
      .join(shingles.select(col("doc_id").as("b_id"), col("sh")), Seq("b_id", "sh"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("i"))
    jaccardOf(inter, sizesOf(shingles))
      .where(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Signature-estimated Jaccard prune: the fraction of equal minhash
   *  components estimates J with σ = sqrt(J(1-J)/k) ≈ 0.06 at k=64, so
   *  a cut ~5σ below the real threshold discards the (numerous)
   *  low-similarity band collisions while keeping every true pair with
   *  overwhelming probability — the exact verify still decides.
   */
  def estimatePrune(
      candidates: DataFrame, signature: DataFrame, k: Int, minEst: Double): DataFrame = {
    def sigAs(side: String) = signature.select(
      col("doc_id").as(s"${side}_id"), col("mh").as(s"${side}_mh"))
    val eq = aggregate(
      zip_with(col("a_mh"), col("b_mh"), (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x)
    candidates
      .join(sigAs("a"), Seq("a_id"))
      .join(sigAs("b"), Seq("b_id"))
      .withColumn("est", eq.cast("double") / k)
      .where(col("est") >= minEst)
      .select("a_id", "b_id")
  }

  /** MinHash+LSH near-dup pipeline: shingle → sign → band → estimate →
   *  verify. The shingle set feeds the signature AND both sides of the
   *  verification join — persist it once (scoped, see
   *  withScopedPersist) instead of recomputing the explode+bounded-agg
   *  chain four times.
   */
  def minhashDedup(
      docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 64, bands: Int = 16): DataFrame = {
    val sh = shingleSet(docs, idCol, textCol)
    val sig = minhashSignature(sh, k)
    withScopedPersist(sh, sig) {
      verifyJaccard(
        estimatePrune(lshCandidates(sig, k, bands), sig, k, minEst = threshold / 2),
        sh, threshold)
    }
  }

  /**
   * INCREMENTAL near-dup check: decide, for each document of a NEW
   * `batch`, whether it near-duplicates the EXISTING `corpus` — the
   * production ingest shape, where the corpus's banded signature index
   * is write-once state and only batch×corpus band collisions are
   * joined; the corpus is never self-joined and never re-clustered.
   * Ids of the two sides must be disjoint.
   *
   * The shingle df-cap is computed over corpus ∪ batch (one shingle
   * pass), matching the batch-mode pipelines; candidates are the CROSS
   * band-bucket collisions only, then the usual estimate-prune and
   * exact verification. Output, one row per batch doc:
   * (doc_id, is_dup, match_id, jaccard) with the best corpus match
   * (max jaccard rounded to 6 before ranking, ties to lowest id) or
   * nulls when nothing clears `threshold`.
   */
  def incrementalDedup(
      corpus: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      threshold: Double, k: Int = 64, bands: Int = 16): DataFrame = {
    val all = corpus.select(col(idCol), col(textCol))
      .unionByName(batch.select(col(idCol), col(textCol)))
    val sh = shingleSet(all, idCol, textCol)
    val sig = minhashSignature(sh, k)
    val corpusIds = corpus.select(col(idCol).as("doc_id"))
    val batchIds = batch.select(col(idCol).as("doc_id"))
    withScopedPersist(sh, sig) {
      val bb = bandBuckets(sig, k, bands)
      val cand = bb.join(corpusIds, Seq("doc_id")).as("x")
        .join(bb.join(batchIds, Seq("doc_id")).as("y"),
          col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
        .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
        .distinct()
      val verified = verifyJaccard(
        estimatePrune(cand, sig, k, minEst = threshold / 2), sh, threshold)
      val best = verified
        .withColumn("j", round(col("jaccard"), 6))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("b_id").orderBy(col("j").desc, col("a_id"))))
        .where(col("rn") === 1)
        .select(col("b_id").as("doc_id"), col("a_id").as("match_id"),
          col("j").as("jaccard"))
      batchIds.join(best, Seq("doc_id"), "left")
        .select(
          col("doc_id"), col("match_id").isNotNull.as("is_dup"),
          col("match_id"), col("jaccard"))
    }
  }

  /** The dedup index's legs, declared once (this module writes all of
   *  them; all plain parquet): per-doc signatures with stored set
   *  sizes, df-capped shingle postings, the optional per-shard pair
   *  report, and the tombstones' gone ids.
   */
  private val core = {
    import org.apache.spark.sql.types._
    new IndexCore("doc_id", Map(
      "sig" -> IndexLeg(None, "doc_id" -> LongType,
        "mh" -> ArrayType(LongType), "n" -> LongType),
      "sh" -> IndexLeg(None, "doc_id" -> LongType, "sh" -> LongType,
        "h2" -> LongType),
      "pairs" -> IndexLeg(None, "a_id" -> LongType, "b_id" -> LongType,
        "jaccard" -> DoubleType),
      "gone" -> IndexLeg(None, "doc_id" -> LongType)))
  }

  /** The id column(s) tombstones apply to — a pair report names two. */
  private def idCols(leg: String): Seq[String] =
    if (leg == "pairs") Seq("a_id", "b_id") else Seq("doc_id")

  /** A leg's order-scoped read; None when no live commit holds it. */
  private def scoped(
      spark: SparkSession, indexDir: String, leg: String): Option[DataFrame] =
    core.scoped(spark, indexDir, leg, idCols(leg), identity)

  /** DOCUMENT DELETION for the persisted LSH dedup index (takedown
   *  without rebuild): ONE tombstone commit `t-<uuid>` holding the
   *  gone doc ids. Signatures and shingle postings of a gone doc stop
   *  participating in candidate generation and verification
   *  IMMEDIATELY (every check anti-joins the gone set), and persisted
   *  pair reports stop serving pairs that mention a gone doc on
   *  either side. A FULL [[indexCompact]] physically drops the gone
   *  docs' rows from sig/sh/pairs and retires the tombstone;
   *  [[graft.store.IndexCore.vacuum]] erases the superseded bytes —
   *  the store's forgetDataset lifecycle. A pre-delete
   *  [[graft.store.IndexCore.cloneAsOf]] branch still serves the doc
   *  until vacuum.
   *
   *  Unlike the text index there are NO corpus-level aggregates to
   *  delta (the index stores only doc-grain rows), so the tombstone
   *  is a pure idempotent set: re-deleting an already-gone or
   *  never-ingested id is harmless by construction, concurrent
   *  forgets of disjoint or overlapping sets compose (gone sets
   *  union), and no stale-abort is needed. `key` rides the same
   *  `#txn:` ledger as ingest — a redelivered takedown is refused
   *  loudly, and keys survive compaction. Cost: O(ids) — never ∝
   *  the index.
   */
  def indexForgetDocs(
      spark: SparkSession, indexDir: String,
      ids: Seq[Long], key: Option[String] = None): Unit =
    core.forgetIds(spark, indexDir, ids, key, "indexForgetDocs")

  /** RAW id-membership probe for re-fetch routing: which of `ids` has
   *  a signature row in a live shard commit published BEFORE the
   *  first log entry owned by `excludeKeys` (a keyed `c-k<digest>-`
   *  commit or a `#txn:` entry of one of the keys — their `.del` /
   *  `.add` sub-keys included by passing them explicitly), IGNORING
   *  tombstones. Both carve-outs exist for REPLAY STABILITY — the
   *  streaming crawl pipeline's fresh/re-fetch split must be
   *  identical on first run, on crash-replay, AND on a full
   *  fresh-checkpoint redelivery after LATER batches mutated
   *  membership: the log-position cutoff reconstructs the exact
   *  batch-start snapshot (batches are sequential, so everything at
   *  or after the batch's first own entry — its own legs and every
   *  later batch — is post-split state), and ignoring tombstones
   *  hides what any delete leg retired since. A PRE-batch tombstone
   *  whose bytes aren't yet compacted makes a re-crawled id classify
   *  as re-fetch instead of fresh, which is correctness-neutral
   *  (upserting a never-live id ≡ ingesting it). Stability holds
   *  while the batch's keyed commits are live AND no full fold or
   *  tombstone retirement has physically dropped the tombstoned rows
   *  this probe re-reads — the same "batch-grain reads precede
   *  compaction" contract as [[indexPairsForDelivery]], ENFORCEABLE
   *  with [[graft.store.IndexCore.pin]]: a live pin makes folds and
   *  retirement refuse loudly instead of trusting this paragraph.
   *  Cost: one pruned scan of the sig legs semi-joined to the
   *  broadcast probe ids — the result is probe-bounded.
   */
  def indexKnownIds(
      spark: SparkSession, indexDir: String,
      ids: DataFrame, idCol: String,
      excludeKeys: Seq[String] = Seq.empty): DataFrame = {
    val digests = excludeKeys.map(CommitLog.keyDigest)
    val txns = excludeKeys.map(CommitLog.txnEntry).toSet
    def owned(e: String): Boolean =
      txns.contains(e) || digests.exists(d => e.startsWith(s"c-k$d-"))
    val live = IndexCore.live(spark, indexDir)
    val cut = live.indexWhere(owned)
    val dirs = (if (cut >= 0) live.take(cut) else live)
      .filter(_.startsWith("c-"))
      .map(IndexCore.legPath(indexDir, _, "sig"))
      .filter(IndexCore.exists(spark, _))
    if (dirs.isEmpty)
      ids.select(col(idCol)).limit(0)
    else
      core.read(spark, "sig", dirs).select(col("doc_id").as(idCol))
        .join(broadcast(ids.select(col(idCol)).distinct()),
          Seq(idCol), "left_semi")
        .distinct()
  }

  /** DOCUMENT UPSERT for the persisted LSH dedup index (the crawl
   *  re-fetch lifecycle op, mirroring
   *  [[graft.text.TextIndex.upsertDocs]]): replace up to 65536 docs'
   *  content in place — one tombstone commit retiring the old
   *  signatures/postings ([[indexForgetDocs]]; ids never ingested
   *  no-op) followed by one [[indexCheckAndIngest]] shard of the new
   *  text. Because tombstones are ORDER-SCOPED (a tombstone covers
   *  only commits preceding it), the re-ingested generation serves
   *  immediately, and because the old version is tombstoned BEFORE
   *  the check, a re-fetched doc is near-dup-gated against the REST
   *  of the index, never against its own prior version — the exact
   *  failure a re-fetch-blind pipeline hits. Post-upsert candidate
   *  generation and verification equal an index that ingested the
   *  NEW text from the start; a later full [[indexCompact]]
   *  physically erases the superseded rows.
   *
   *  Exactly-once across the two commits is the text index's paired
   *  contract: `key` fans out to `<key>.del` / `<key>.add` entries,
   *  each leg short-circuits on its own committed key — a crash
   *  between the two replays with the delete leg a no-op and the add
   *  leg completing; a full redelivery is a version-preserving no-op
   *  that returns the PERSISTED pair report of the original attempt
   *  (when `persistPairs`; the empty report otherwise). Returns the
   *  new-text shard's verdict: every >= threshold pair between the
   *  upserted docs and the surviving index. Cost: O(ids) tombstone +
   *  one ordinary shard check — never ∝ the index.
   */
  def indexUpsertDocs(
      spark: org.apache.spark.sql.SparkSession, indexDir: String,
      docs: DataFrame, idCol: String, textCol: String, threshold: Double,
      k: Int = 64, bands: Int = 16, key: Option[String] = None,
      persistPairs: Boolean = false): DataFrame = {
    IndexCore.upsert(spark, indexDir,
      docs.select(col(idCol).cast("long").as(idCol),
        col(textCol).cast("string").as(textCol)),
      idCol, key, "indexUpsertDocs")(
      del = (ids, delKey) => indexForgetDocs(spark, indexDir, ids, delKey),
      add = (snap, addKey) => indexCheckAndIngest(spark, indexDir, snap,
        idCol, textCol, threshold, k, bands, deliveryKey = addKey,
        persistPairs = persistPairs),
      // redelivery: the original attempt's report, replay-identical
      replayed = addKey =>
        if (persistPairs) indexPairsForDelivery(spark, indexDir, addKey)
        else core.empty(spark, "pairs"))
  }

  /** ONE keyed takedown's applied gone set — the replay-stable record
   *  a multi-index takedown ([[graft.streaming.StreamForget
   *  .forgetWhereAll]]) re-reads so its later legs tombstone the EXACT
   *  ids the first attempt resolved (re-deriving them would drift:
   *  the committed tombstone itself changes what pair ledgers and
   *  forward stores still serve). Loud if the key never delivered or
   *  its tombstone was already retired/folded — the same "batch-grain
   *  reads precede compaction" contract as [[indexPairsForDelivery]].
   */
  def indexGoneForDelivery(
      spark: SparkSession, indexDir: String, key: String): DataFrame =
    core.goneForDelivery(spark, indexDir, key)

  /** Live tombstoned-doc count — compact-scheduler observability. */
  def indexTombstoneCount(spark: SparkSession, indexDir: String): Long =
    core.tombstoneCount(spark, indexDir)

  /** INDEX OBSERVABILITY: one row of folded LSH-index statistics —
   *  (n_shards, n_docs, n_postings, n_pairs) from the index's own
   *  legs, never the corpus: n_docs counts live signature rows (a doc
   *  whose every shingle saturated its shard's df cap carries no
   *  signature and is genuinely unmatchable — the honest count),
   *  n_postings the live df-capped shingle postings, n_pairs the live
   *  persisted pair-report rows (0 when no shard persisted a report).
   *  Tombstoned docs are excluded everywhere, so the report reflects
   *  exactly what the probe paths can serve — the health check a
   *  dedup deployment watches (did a merge double postings? is the
   *  pair ledger growing?), completing stats parity with
   *  [[graft.text.TextIndex.stats]] and
   *  [[graft.sim.Similarity.ivfIndexStats]]. Cost: leg-grain
   *  counts — ∝ index, never corpus text.
   */
  def indexStats(spark: SparkSession, indexDir: String): DataFrame = {
    val shards = IndexCore.live(spark, indexDir).filter(_.startsWith("c-"))
    require(shards.nonEmpty, s"no live commits in dedup index $indexDir")
    val nDocs = scoped(spark, indexDir, "sig").get
      .agg(count(lit(1)).as("n_docs"))
    val nPost = scoped(spark, indexDir, "sh").get
      .agg(count(lit(1)).as("n_postings"))
    val nPairs = scoped(spark, indexDir, "pairs")
      .map(_.agg(count(lit(1)).as("n_pairs")))
      .getOrElse(spark.range(1).select(lit(0L).as("n_pairs")))
    spark.range(1)
      .select(lit(shards.size.toLong).as("n_shards"))
      .crossJoin(nDocs).crossJoin(nPost).crossJoin(nPairs)
  }

  /** LIVE DOC MEMBERSHIP as one (doc_id) frame — the signature leg's
   *  tombstone-scoped readback (one row per live doc). The cross-index
   *  consistency check ([[graft.store.IndexFsck]]) compares this
   *  against the text and ANN memberships.
   */
  def indexDocIds(spark: SparkSession, indexDir: String): DataFrame =
    liveSig(spark, indexDir).select("doc_id")

  private def liveSig(spark: SparkSession, indexDir: String): DataFrame =
    scoped(spark, indexDir, "sig").getOrElse(throw new IllegalArgumentException(
      s"requirement failed: no live commits in dedup index $indexDir"))

  /** DEEP INTEGRITY CHECK (fsck) — recompute the dedup index's
   *  derived invariants from its own tombstone-scoped readbacks and
   *  report (check, violations, audited):
   *
   *  | check           | violation = …                                 |
   *  |-----------------|-----------------------------------------------|
   *  | sig_unique      | doc with > 1 live signature rows (the upsert
   *  |                 | discipline guarantees exactly one)            |
   *  | sig_sh_parity   | doc live in sig xor in shingle postings       |
   *  | sig_n_recount   | stored set size n ≠ live shingle recount      |
   *  | pairs_membership| persisted pair naming a non-live doc on
   *  |                 | either side                                   |
   *
   *  audited = live doc count for every check (the membership
   *  universe). All-zeros is the healthy state — ingest constructs
   *  sig FROM the shingle postings, so every check holds by
   *  construction at write time; a nonzero row means a stray writer,
   *  a torn fold, or a tombstone-scoping bug — the DETECTION half of
   *  the order-scoped-tombstone design. Cost ∝ index (doc- and
   *  shingle-grain joins), never corpus text.
   */
  def indexFsck(spark: SparkSession, indexDir: String): DataFrame = {
    import spark.implicits._
    val sig = liveSig(spark, indexDir)
      .select(col("doc_id"), col("n")).persist()
    try {
      val nDocs = sig.select("doc_id").distinct().count()
      val shCounts = scoped(spark, indexDir, "sh")
        .map(_.groupBy("doc_id").agg(count(lit(1)).as("n2")))
      val checks: Seq[() => Seq[(String, Long, Long)]] = Seq(
        () => {
          val r = sig.groupBy("doc_id").agg(count(lit(1)).as("m"))
            .agg(isViol(col("m") > 1).as("viol")).head()
          Seq(("sig_unique", r.getLong(0), nDocs))
        },
        () => {
          // one full-outer pass serves BOTH membership parity and the
          // stored-set-size recount (a doc live on one side only is a
          // parity violation; a doc on both with n ≠ recount, a
          // recount violation)
          val r = sig.join(shCounts.getOrElse(
              spark.emptyDataset[(Long, Long)].toDF("doc_id", "n2")),
              Seq("doc_id"), "full_outer")
            .agg(isViol(col("n").isNull || col("n2").isNull).as("parity"),
              isViol(col("n").isNotNull && col("n2").isNotNull &&
                col("n") =!= col("n2")).as("recount")).head()
          Seq(("sig_sh_parity", r.getLong(0), nDocs),
            ("sig_n_recount", r.getLong(1), nDocs))
        },
        () => {
          val viol = indexPairsIfAny(spark, indexDir) match {
            case None => 0L
            case Some(pairs) =>
              val ids = pairs.select(col("a_id").as("doc_id"))
                .unionByName(pairs.select(col("b_id").as("doc_id")))
                .distinct()
              ids.join(sig.select("doc_id"), Seq("doc_id"), "left_anti")
                .count()
          }
          Seq(("pairs_membership", viol, nDocs))
        })
      graft.util.Par.par(checks).flatten
        .toDF("check", "violations", "audited")
    } finally sig.unpersist(): Unit
  }

  /** INCREMENTAL fsck — commit-local halves of [[indexFsck]]'s
   *  invariants over only the entries that appeared after the
   *  verified watermark (cost ∝ fresh commits, never ∝ index):
   *  `sig_unique` / `sig_sh_parity` / `sig_n_recount` within each
   *  fresh commit, `pairs_b_membership` (a fresh commit's pair report
   *  names only its own batch's docs on the b_id side — the a_id side
   *  references earlier commits and stays the FULL battery's job),
   *  and `tomb_wellformed` (duplicate gone ids). All five rows always
   *  present ((0, 0) when absent this window). None when the
   *  incremental premise fails — run [[indexFsck]] and republish.
   */
  def indexFsckIncremental(
      spark: SparkSession, indexDir: String): Option[FsckScope] =
    core.fsckIncremental(spark, indexDir) { f =>
      val sig = f.tagged(f.commits, "sig")
        .map(_.select(col("cmt"), col("doc_id"), col("n")).persist())
      try {
        val (uniqRow, parityRow, recountRow) = sig match {
          case None => (("sig_unique", 0L, 0L), ("sig_sh_parity", 0L, 0L),
            ("sig_n_recount", 0L, 0L))
          case Some(sg) =>
            val u = sg.groupBy("cmt", "doc_id").agg(count(lit(1)).as("m"))
              .agg(isViol(col("m") > 1).as("viol"),
                count(lit(1)).as("aud")).head()
            val shCnt = f.tagged(f.commits, "sh").get
              .groupBy("cmt", "doc_id").agg(count(lit(1)).as("n2"))
            val r = sg.join(shCnt, Seq("cmt", "doc_id"), "full_outer")
              .agg(isViol(col("n").isNull || col("n2").isNull)
                  .as("parity"),
                isViol(col("n").isNotNull && col("n2").isNotNull &&
                  col("n") =!= col("n2")).as("recount"),
                count(lit(1)).as("aud")).head()
            (("sig_unique", u.getLong(0), u.getLong(1)),
              ("sig_sh_parity", r.getLong(0), r.getLong(2)),
              ("sig_n_recount", r.getLong(1), r.getLong(2)))
        }
        val pairsRow = f.tagged(f.commits, "pairs") match {
          case None => ("pairs_b_membership", 0L, 0L)
          case Some(pr) =>
            val b = pr.select(col("cmt"), col("b_id").as("doc_id"))
            val viol = b.join(sig.get.select("cmt", "doc_id"),
                Seq("cmt", "doc_id"), "left_anti").count()
            ("pairs_b_membership", viol, pr.count())
        }
        (Seq(uniqRow, parityRow, recountRow, pairsRow, f.tombRow(_ => 0L)),
          sig.map(_.select("doc_id").distinct().localCheckpoint(true))
            .getOrElse(IndexCore.emptyIds(spark)))
      } finally sig.foreach(_.unpersist(): Unit)
    }

  /** ONE keyed shard's persisted pair report — the batch-grain read
   *  the streaming crawl pipeline needs: a batch's report contains
   *  every pair involving that batch's docs (b_id side), is published
   *  atomically WITH the shard, and is replay-identical by
   *  construction — so a consumer deriving this batch's survivors
   *  must read THIS report, not the cumulative [[indexPairs]] union,
   *  whose cost grows with every duplicate the stream ever found.
   *  Loud if the key was never delivered, or if its commit has been
   *  folded away by compaction (then only the cumulative read
   *  remains); an addressable keyed shard ingested with
   *  `persistPairs = false` reads as the empty report.
   */
  def indexPairsForDelivery(
      spark: SparkSession, indexDir: String, key: String): DataFrame = {
    val live = IndexCore.live(spark, indexDir)
    require(live.contains(CommitLog.txnEntry(key)),
      s"no shard with delivery key $key in $indexDir")
    val matches = live.filter(_.startsWith(s"c-k${CommitLog.keyDigest(key)}-"))
    require(matches.nonEmpty,
      s"the commit of delivery key $key in $indexDir is not addressable " +
        "by key digest — either a compaction folded it (batch-grain " +
        "pair reads must happen before the shard is compacted), or the " +
        "key arrived via indexMergeFrom (merge commits keep the source's " +
        "unkeyed c-<uuid> names, so a merged-in shard is not key-" +
        "addressable here), or the shard was committed by a version of " +
        "this library that predates key-digest commit naming; use " +
        "indexPairs for the cumulative union, which still holds every pair")
    // order-scoped tombstones: only the t- entries AFTER the keyed
    // commit hide its pairs (a takedown preceding a re-ingest of the
    // same id must not hide the fresh report)
    val own = matches.map(IndexCore.dataDir(indexDir, _)).toSet
    core.without(spark, "pairs",
        IndexCore.scopes(indexDir, live).filter(s => own.contains(s._1)),
        Seq("a_id", "b_id"), identity)
      .getOrElse(core.empty(spark, "pairs"))
  }

  /** Union of the PERSISTED per-shard pair reports
   *  (`indexCheckAndIngest(persistPairs = true)`) across live commits
   *  — the exactly-once readback of everything the index ever
   *  reported: each report staged under its shard's commit dir, so a
   *  replayed shard can neither re-report nor lose its pairs (the
   *  report is visible iff the shard is).
   */
  def indexPairs(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    indexPairsIfAny(spark, indexDir).getOrElse(throw
      new IllegalArgumentException(
        s"requirement failed: no persisted pair reports under " +
          s"$indexDir — ingest with persistPairs = true"))

  /** The pair readback when any report was persisted, None otherwise —
   *  ONE metadata pass (log read + per-commit existence probe).
   *  Composite verbs branch on this EXPLICITLY instead of swallowing
   *  [[indexPairs]]' failure: a blanket catch would also swallow
   *  transient I/O errors, and a takedown's near-dup expansion that
   *  silently came up empty would let the copies escape erasure
   *  permanently (round-13 ADVICE).
   */
  def indexPairsIfAny(
      spark: SparkSession, indexDir: String): Option[DataFrame] =
    scoped(spark, indexDir, "pairs")

  /** True iff any live commit persisted a pair report. */
  def indexHasPairReports(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): Boolean =
    indexPairsIfAny(spark, indexDir).isDefined

  /**
   * PERSISTED-LSH-INDEX incremental dedup step — the posture where the
   * corpus is too big to ever re-read: the index stores, per ingested
   * doc, its MinHash signature AND its df-capped shingle postings
   * (everything candidate generation and exact verification need), so
   * checking a new shard touches corpus TEXT never and corpus state
   * only ∝ collisions. Per arriving shard: shingle + sign the SHARD
   * (df-cap within the shard — the stored index is immutable, so a
   * global df is undefinable by design), join its band buckets against
   * the stored index's (cross collisions only; the corpus is never
   * self-joined), estimate-prune on signatures, exact-verify on
   * postings, then append the shard's own signatures and postings —
   * the index maintains itself. Returns (a_id, b_id, jaccard) with
   * `a_id` from the pre-existing index and `b_id` from the shard.
   *
   * Scale shape: per-shard cost is shard-linear plus collision-
   * proportional joins on 8-byte keys; per-doc set SIZES are stored
   * beside the signatures so verification never re-aggregates the
   * index, and its postings scan prunes to candidate docs via a
   * broadcast semi-join first. Index writes publish through the
   * shared index lifecycle (graft.store.IndexCore.publishAppend): the
   * index tables stage under one immutable commit dir and one
   * version-file create makes them visible together. The verdict
   * is materialized via localCheckpoint BEFORE the append so the
   * returned frame can never observe its own shard in the index.
   *
   * EXACTLY-ONCE: pass `deliveryKey` (e.g. the upstream batch id) and a
   * redelivered/retried shard FAILS LOUDLY instead of re-appending its
   * signatures and postings (which would permanently duplicate index
   * state and double-report pairs on every later shard). Keys ride the
   * commit log as `#txn:<key>` lines, mirroring the manifest store's
   * ingestBatchAtomic; the duplicate check runs both up front (cheap,
   * before any scan) and inside the commit closure (closes the race
   * with a concurrent redelivery). Shards must ingest SEQUENTIALLY:
   * two concurrent shards both read the old live set and never
   * cross-check each other — the commit protocol serializes the
   * appends but not the missed a↔b pair between them.
   */
  def indexCheckAndIngest(
      spark: SparkSession, indexDir: String,
      shard: DataFrame, idCol: String, textCol: String, threshold: Double,
      k: Int = 64, bands: Int = 16,
      deliveryKey: Option[String] = None,
      persistPairs: Boolean = false): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column => toCol, expression => toExpr}
    // signatures and postings stage under ONE commit dir, published
    // together (signatures without postings would silently produce
    // candidates that can't verify)
    val txn = IndexCore.freshTxn(spark, indexDir, deliveryKey, "shard")
    val sh = shingleSet(shard, idCol, textCol)
    // signature AND set size in ONE pass over the shingle set: the
    // stored row is (doc_id, mh, n) — everything banding, estimation,
    // and the Jaccard denominator need
    val sig = sh.groupBy("doc_id").agg(
      toCol(graft.functions.MinhashSignatureAgg(
        toExpr(col("sh")), toExpr(col("h2")), k).toAggregateExpression()).as("mh"),
      count(lit(1)).as("n"))
    withScopedPersist(sh, sig) {
      val verdict =
        // tombstoned docs (order-scoped: commits before their
        // tombstone) neither generate candidates nor verify — a
        // deleted doc can't gate or pair; a RE-INGESTED one can
        scoped(spark, indexDir, "sig") match {
          case None => core.empty(spark, "pairs")
          case Some(isig) =>
          val cand = bandBuckets(isig, k, bands).as("x")
            .join(bandBuckets(sig, k, bands).as("y"),
              col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
            .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
            .distinct()
          // est feeds BOTH the postings prune and the intersection
          // join — persist it or the band/estimate chain runs twice
          val est = estimatePrune(cand, isig.unionByName(sig), k,
            minEst = threshold / 2).persist()
          try {
            // candidate-driven exact verify against STORED state: index
            // postings semi-join down to candidate a_ids before the
            // intersection join, and set sizes come from the stored
            // sizes table — the index is never re-aggregated per shard
            val aPost = scoped(spark, indexDir, "sh").get
              .join(broadcast(est.select(col("a_id").as("doc_id")).distinct()),
                Seq("doc_id"), "left_semi")
              .select(col("doc_id").as("a_id"), col("sh"))
            val inter = est
              .join(aPost, Seq("a_id"))
              .join(sh.select(col("doc_id").as("b_id"), col("sh")),
                Seq("b_id", "sh"))
              .groupBy("a_id", "b_id").agg(count(lit(1)).as("i"))
            jaccardOf(inter,
              isig.unionByName(sig).select("doc_id", "n"))
              .where(col("jaccard") >= threshold)
              .select(col("a_id"), col("b_id"), col("jaccard"))
              .localCheckpoint(true)
          } finally est.unpersist(): Unit
        }
      // verdict is already eagerly checkpointed (or an empty literal
      // frame) before the shard publishes itself. Keyed shards embed
      // the key digest in the dir name so their pair report stays
      // addressable by key (indexPairsForDelivery)
      val name = IndexCore.entryName("c", deliveryKey)
      val dst = IndexCore.dataDir(indexDir, name)
      sig.write.parquet(s"$dst/sig")
      sh.write.parquet(s"$dst/sh")
      if (persistPairs)
        // the pair REPORT rides the shard's own commit: visible iff the
        // shard is, so a replayed shard can neither re-report nor lose
        // it (repartition(1): the empty first-shard verdict is a
        // 0-partition literal frame, which would write no readable file)
        verdict.repartition(1).write.parquet(s"$dst/pairs")
      IndexCore.publishAppend(spark, indexDir, name, txn, "shard")
      verdict
    }
  }

  /** SIZE-TIERED shard compaction ([[graft.store.IndexCore.compactTiered]])
   *  of the persisted LSH index: without it every ingested shard adds
   *  a commit dir forever and every check's sig/sh union grows
   *  linearly in shard count (query-PLANNING cost ∝ history). All
   *  three legs fold by pure concatenation — signatures and postings
   *  are doc-grain rows from disjoint doc spaces, pair reports are
   *  append-only facts — so the fold is one read+write of its inputs,
   *  no aggregation at all.
   */
  def indexCompactTiered(
      spark: SparkSession, indexDir: String, fanIn: Int = 8): Unit =
    core.compactTiered(spark, indexDir, fanIn, "indexCompactTiered") {
      (roots, _, dst) =>
        // shuffle-free coalesce back to one shard's worth of files — a
        // fold that carries the SUM of its inputs' file counts forward
        // would defeat the small-files half of compaction's purpose
        val nsp = spark.sessionState.conf.numShufflePartitions
        def fold(leg: String, coalesceTo: Int): Unit =
          core.without(spark, leg, roots, idCols(leg), identity)
            .foreach(_.coalesce(coalesceTo).write.parquet(s"$dst/$leg"))
        fold("sig", nsp)
        fold("sh", nsp)
        fold("pairs", 1) // pair reports optional per shard
    }

  /** Full fold: every live shard commit into one (see
   *  [[indexCompactTiered]] for the steady-state tiered policy).
   */
  def indexCompact(
      spark: org.apache.spark.sql.SparkSession, indexDir: String): Unit =
    indexCompactTiered(spark, indexDir, fanIn = Int.MaxValue)

  /** TOMBSTONE-SCOPED RETIREMENT
   *  ([[graft.store.IndexCore.retireOldestTombstone]]) on the LSH
   *  index: in each covered commit mentioning the oldest tombstone's
   *  docs, sig/sh rows of the gone ids drop and pair-report rows
   *  naming a gone id on EITHER side drop (a pair can name a doc
   *  stored in another commit, so the containment probe checks all
   *  three legs). A keyed commit keeps its key-digest prefix, so
   *  batch-grain pair addressing survives; commits whose rows are all
   *  gone drop from the live list.
   */
  def indexRetireOldestTombstone(
      spark: SparkSession, indexDir: String): Boolean =
    core.retireOldestTombstone(spark, indexDir, "indexRetireOldestTombstone") {
      (covered, gone) =>
        def leg(c: String, l: String) = core.at(spark, indexDir, c, l)
        // pairs can name a doc stored in another commit, so both pair
        // sides probe too
        val touched = core.touched(covered, gone)(c =>
          Seq(leg(c, "sig").map(_.select(col("doc_id"))),
            leg(c, "sh").map(_.select(col("doc_id"))),
            leg(c, "pairs").map(_.select(col("a_id").as("doc_id"))),
            leg(c, "pairs").map(_.select(col("b_id").as("doc_id")))).flatten)
        val nsp = spark.sessionState.conf.numShufflePartitions
        covered.filter(touched.contains).map { c =>
          val name = IndexCore.rewriteName(c)
          val dst = IndexCore.dataDir(indexDir, name)
          var any = false
          for (l <- Seq("sig", "sh"); df <- leg(c, l)) {
            val live2 = df.join(gone, Seq("doc_id"), "left_anti").persist()
            if (!live2.isEmpty) {
              live2.coalesce(nsp).write.parquet(s"$dst/$l"); any = true
            }
            live2.unpersist(): Unit
          }
          for (df <- leg(c, "pairs")) {
            // written even when EMPTY (repartition(1) forces a readable
            // file — the fold discipline): a commit's pair report leg
            // must survive retirement so cumulative pair readback keeps
            // at least one leg to read
            df.join(broadcast(gone.select(col("doc_id").as("a_id"))),
                Seq("a_id"), "left_anti")
              .join(broadcast(gone.select(col("doc_id").as("b_id"))),
                Seq("b_id"), "left_anti")
              .select(df.columns.map(col): _*)
              .repartition(1).write.parquet(s"$dst/pairs")
            any = true
          }
          c -> (if (any) name else "")
        }.toMap
    }

  /** Retire up to `upTo` tombstones, oldest first. Returns the number
   *  retired.
   */
  def indexRetireTombstones(
      spark: SparkSession, indexDir: String,
      upTo: Int = Int.MaxValue): Int = {
    var n = 0
    while (n < upTo && indexRetireOldestTombstone(spark, indexDir)) n += 1
    n
  }

  /**
   * FEDERATED MERGE of two persisted LSH dedup indexes: fold the
   * SOURCE index's stored signatures and postings into the destination
   * as ONE commit, and — the part a plain file move could never give
   * you — report every near-dup pair that SPANS the two corpora,
   * discovered entirely from STORED state: destination band buckets
   * cross-join source band buckets (collisions only, neither corpus is
   * self-joined), signature estimate prunes, exact verification runs
   * on both sides' stored df-capped postings semi-joined down to the
   * candidates. Corpus TEXT is never touched on either side — at
   * 100 TB merging two regional dedup indexes costs ∝ collision volume
   * plus the source-index rewrite, not a re-shingle of anything.
   *
   * Returns (a_id, b_id, jaccard) with `a_id` from the destination and
   * `b_id` from the source — the same orientation as
   * [[indexCheckAndIngest]] (the destination is "the index", the
   * source arrives). `persistPairs` stages the report under the merge
   * commit itself, so [[indexPairs]] readback stays exactly-once: the
   * cross-corpus pairs are visible iff the merge is.
   *
   * Contract: disjoint doc_id spaces (the shard contract), and merges
   * serialize with other writers like shards do — two concurrent
   * merges never cross-check each other. Key composition, refusals
   * and abort cleanup are [[graft.store.IndexCore.mergeFrom]]'s.
   */
  def indexMergeFrom(
      spark: SparkSession, dstDir: String,
      srcDir: String, threshold: Double, k: Int = 64, bands: Int = 16,
      deliveryKey: Option[String] = None,
      persistPairs: Boolean = false): DataFrame =
    IndexCore.mergeFrom(spark, dstDir, srcDir, deliveryKey)(srcEntries =>
      IndexCore.stageCommit(dstDir) { dst =>
        val roots =
          srcEntries.map(c => (IndexCore.dataDir(srcDir, c), Seq.empty[String]))
        def src(leg: String): Option[DataFrame] =
          core.without(spark, leg, roots, Seq.empty, identity)
        val (srcSig, srcSh) = (src("sig").get, src("sh").get)
        val verdict =
          // dst tombstones apply (order-scoped): a deleted destination
          // doc must not pair with (or gate) the incoming corpus
          scoped(spark, dstDir, "sig") match {
            case None => core.empty(spark, "pairs")
            case Some(dstSig) =>
              val cand = bandBuckets(dstSig, k, bands).as("x")
                .join(bandBuckets(srcSig, k, bands).as("y"),
                  col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
                .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
                .distinct()
              val est = estimatePrune(cand, dstSig.unionByName(srcSig), k,
                minEst = threshold / 2).persist()
              try {
                // both posting scans semi-join down to candidate docs
                // before the intersection join — index-merge cost is
                // collision-proportional, never corpus-proportional
                val aPost = scoped(spark, dstDir, "sh").get
                  .join(broadcast(est.select(col("a_id").as("doc_id")).distinct()),
                    Seq("doc_id"), "left_semi")
                  .select(col("doc_id").as("a_id"), col("sh"))
                val bPost = srcSh
                  .join(broadcast(est.select(col("b_id").as("doc_id")).distinct()),
                    Seq("doc_id"), "left_semi")
                  .select(col("doc_id").as("b_id"), col("sh"))
                val inter = est
                  .join(aPost, Seq("a_id"))
                  .join(bPost, Seq("b_id", "sh"))
                  .groupBy("a_id", "b_id").agg(count(lit(1)).as("i"))
                jaccardOf(inter,
                  dstSig.unionByName(srcSig).select("doc_id", "n"))
                  .where(col("jaccard") >= threshold)
                  .select(col("a_id"), col("b_id"), col("jaccard"))
                  .localCheckpoint(true)
              } finally est.unpersist(): Unit
          }
        // stage the source's state (normalized to one commit dir) plus
        // the pairs leg. The pairs leg = the SOURCE'S OWN pair history
        // (append-only facts — they must ride the merge or
        // indexPairs(dst) silently loses the source's intra-corpus
        // findings, the same rule indexCompactTiered applies when
        // folding) ∪ the cross-corpus report when requested
        srcSig.write.parquet(s"$dst/sig")
        srcSh.write.parquet(s"$dst/sh")
        (src("pairs").toSeq ++ (if (persistPairs) Seq(verdict) else Nil))
          .reduceOption(_.unionByName(_))
          .foreach(_.repartition(1).write.parquet(s"$dst/pairs"))
        verdict
      })


  /**
   * Connected components over an undirected near-dup pair list —
   * cluster resolution, the step that turns pairwise dedup output into
   * "keep one representative per group": every node gets
   * `comp = min(doc_id reachable from it)`.
   *
   * Min-label propagation WITH pointer jumping: each iteration every
   * node takes the min of its own label and its neighbors' labels
   * (join + union + groupBy — all hash-partitioned by node id, no
   * global structure), then shortcuts `comp ← comp(comp)` with one
   * self-join on the label table. A label is always the id of a
   * reachable node, and that node's label is a min over a further
   * reachable set, so the shortcut stays within the component while
   * doubling how far a round reaches: convergence is O(log diameter)
   * rounds, not O(diameter). Near-dup clusters are quasi-cliques
   * (diameter ≲ 3) where this costs one extra small join, but chained
   * corpora (versioned documents A~B~C~…) produce long paths at 100 TB
   * and the log bound is what keeps the driver-checked fixpoint loop
   * bounded there — `maxIter = 50` now guards chains of length ~2⁵⁰,
   * i.e. it cannot trip on any physical corpus. Each iteration is
   * localCheckpoint-ed: the lineage would otherwise double per round
   * and plan times would dominate.
   *
   * Input: (a_id, b_id) pairs. Output: (doc_id, comp) for every node
   * that appears in some pair.
   */
  def connectedComponents(
      pairs: DataFrame, maxIter: Int = 50,
      driverEdgeLimit: Long = 1000000L): DataFrame = {
    val edges = pairs
      .select(col("a_id").as("src"), col("b_id").as("dst"))
      .unionByName(pairs.select(col("b_id").as("src"), col("a_id").as("dst")))
      .distinct()
      .localCheckpoint(true)
    // Adaptive execution: verified near-dup pairs are RARE relative to
    // the corpus (that's what dedup verification is for), so the edge
    // list is usually orders of magnitude smaller than the input — and
    // an iterative Spark loop over a tiny graph is pure fixed job
    // overhead (2 joins + checkpoint + agg per round). Below the bound
    // (~16 MB of longs at the default), union-find on the driver
    // answers in milliseconds with ZERO jobs and bit-identical output
    // (same min-reachable-id semantics); above it, the distributed
    // O(log diameter) loop below is the scale path. The count is free:
    // edges is already checkpoint-materialized.
    if (edges.count() <= driverEdgeLimit) {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types.{LongType, StructField, StructType}
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      // cast to long BEFORE collect: int-typed ids coerce fine in the
      // distributed loop via Spark, but row.getLong on an IntegerType
      // row throws ClassCastException
      edges.select(col("src").cast("long"), col("dst").cast("long"))
        .collect().foreach { row =>
        val (a, b) = (find(row.getLong(0)), find(row.getLong(1)))
        // union by MIN id: the root is always the smallest id seen, so
        // the final find() IS the min reachable id — no second pass
        if (a != b) { if (a < b) parent(b) = a else parent(a) = b }
        parent.getOrElseUpdate(a min b, a min b)
      }
      val out: java.util.List[Row] = new java.util.ArrayList[Row]()
      parent.keys.toArray.sorted.foreach(id => out.add(Row(id, find(id))))
      // List-based createDataFrame → LocalRelation: carries EXACT size
      // statistics, so downstream joins against corpus-wide frames plan
      // as broadcasts (an RDD-backed frame defaults to "huge" stats and
      // forces a sort-merge shuffle of the big side)
      return edges.sparkSession.createDataFrame(
        out,
        StructType(Seq(
          StructField("doc_id", LongType, nullable = false),
          StructField("comp", LongType, nullable = false))))
    }
    // Fixpoint detection by label sum: a label only ever DECREASES
    // (propagation takes a min that includes the old label; the jump
    // rewrites to comp(comp) ≤ comp), so the exact sum of labels is
    // strictly decreasing until the fixpoint — "sum unchanged" ⟺
    // converged. That makes the per-round convergence test one
    // column-pruned aggregate over the just-checkpointed labels
    // instead of a next⨝prev join. decimal(38,0): a long sum overflows
    // at ~10⁹ nodes with 10¹²-range ids, exactly the 100 TB regime.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("comp").cast("decimal(38,0)"))).head().getDecimal(0)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint(true)
    var prevSum = labelSum(labels)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val prop = edges
        .join(labels.withColumnRenamed("id", "src"), Seq("src"))
        .select(col("dst").as("id"), col("comp"))
        .unionByName(labels)
        .groupBy("id").agg(min("comp").as("comp"))
      // pointer jumping: comp ← comp(comp). Every label is a node id
      // present in `prop` (labels start as self-ids and only ever move
      // to a reachable node's min), so the lookup hits; the left join +
      // coalesce is belt-and-braces for labels already at their root.
      val next = prop
        .join(
          prop.select(col("id").as("comp"), col("comp").as("cc")),
          Seq("comp"), "left")
        .select(col("id"), coalesce(col("cc"), col("comp")).as("comp"))
        .localCheckpoint(true)
      val s = labelSum(next)
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // superseded label generations are checkpoint RDD blocks, not
      // CacheManager entries — ContextCleaner reclaims them once the
      // frames are unreferenced (Dataset.unpersist would be a no-op)
      labels = next
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter iterations")
    labels.select(col("id").as("doc_id"), col("comp"))
  }

  /** Canonical-survivor selection — the step AFTER cluster resolution:
   *  per duplicate cluster keep the highest-quality member, ties to the
   *  smallest doc_id. One aggregation; the two-criteria argmax rides a
   *  single struct-max (lexicographic on (qppm, -doc_id)), so no
   *  members⨝winners re-join. `quality` must carry an exact integer
   *  `qppm` — a float quality here would let an ulp flip the survivor
   *  (see the ppm discipline in PipelineQueries).
   *
   *  Input: comps (doc_id, comp), quality (doc_id, qppm).
   *  Output: (comp, keep_id, n_members, best_q).
   */
  def canonicalPerCluster(comps: DataFrame, quality: DataFrame): DataFrame =
    comps.join(quality, Seq("doc_id"))
      .groupBy("comp")
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("qppm").as("q"), (-col("doc_id")).as("nid"))).as("m"))
      .select(
        col("comp"),
        (-col("m.nid")).as("keep_id"),
        col("n_members"),
        (col("m.q").cast("double") / 1e6).as("best_q"))

  val SimhashBits = 60

  /**
   * 60-bit SimHash: per token-bit weighted vote (weight = token
   * multiplicity), bit set iff the vote is positive. The token hash is
   * the first 15 hex chars of md5 — an engine-portable 60-bit value, so
   * the whole pipeline is SQL-expressible and oracle-checkable.
   */
  def simhashSignature(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column => toCol, expression => toExpr}
    val tok = docs.select(
      col(idCol).as("doc_id"), explode(TextOps.tokens(col(textCol))).as("tk"))
      .groupBy("doc_id", "tk").agg(count(lit(1)).cast("long").as("w"))
      .withColumn("h", conv(substring(md5(col("tk")), 1, 15), 16, 10).cast("long"))
    // one typed aggregate (long[bits] vote buffer) instead of 60
    // conditional-sum aggregate columns — same integer vote arithmetic
    tok.groupBy("doc_id").agg(
      toCol(graft.functions.SimhashSignatureAgg(
        toExpr(col("h")), toExpr(col("w")), SimhashBits).toAggregateExpression()).as("sig"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist. Exactly
   *  maxDist+1 bands: by pigeonhole a pair within distance maxDist
   *  cannot touch every band, so at least one band matches exactly and
   *  detection is DETERMINISTIC — the banded join is equivalent to the
   *  all-pairs filter without the n² work. Using the MINIMUM band count
   *  makes each band as wide as the bits allow (60/(maxDist+1), the
   *  first `60 mod (maxDist+1)` bands one bit wider): wider bands ⇒
   *  exponentially more buckets ⇒ fewer spurious collisions reaching
   *  the Hamming cut, and a smaller candidate explode factor. At the
   *  default maxDist=8 that is 9 bands (6×7 bits + 3×6 bits) vs the
   *  former fixed 10×6 — measured ~40% fewer band collisions on the
   *  near-dup corpus with bit-identical output.
   */
  def simhashPairs(signature: DataFrame, maxDist: Int = 8): DataFrame = {
    val nBands = maxDist + 1
    require(nBands >= 1 && nBands <= SimhashBits, "maxDist out of band range")
    val base = SimhashBits / nBands
    val wide = SimhashBits % nBands
    val widths = Seq.tabulate(nBands)(b => if (b < wide) base + 1 else base)
    val offsets = widths.scanLeft(0)(_ + _)
    val bandCols = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), offsets(b))
          .bitwiseAND(lit((1L << widths(b)) - 1)).as("bucket"))
    }
    val buckets = signature
      .select(col("doc_id"), col("sig"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("sig"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        bit_count(col("x.sig").bitwiseXOR(col("y.sig"))).as("hamming"))
      // filter BEFORE distinct: the Hamming cut is a cheap codegen'd
      // bit_count on each candidate occurrence, while distinct is a
      // shuffle — dedup only the surviving pairs, not every band
      // collision (6-bit bands collide often on a big corpus)
      .where(col("hamming") <= maxDist)
      .distinct()
  }

  /**
   * Exact substring duplication spans: for every document, how many of
   * its length-`k` character windows also appear verbatim in at least
   * one OTHER document. This is the exact-match complement to
   * `TextOps.winnow`-style fingerprinting — the measurement behind
   * "deduplicate training data at the substring level": a doc with a
   * high `dup_ppm` is mostly boilerplate or a partial copy even when no
   * whole-doc or shingle-set method fires.
   *
   * Scale shape: windows are generated per-doc by a codegen'd
   * `transform(sequence(...))` (no UDF, no shuffle), then ONE distinct
   * and ONE window-frequency aggregation — both hash-partitioned by the
   * window string. `maxDf` drops ubiquitous windows (site chrome,
   * license headers) before the postings join, the same
   * quadratic-blowup guard as the shingle df-cap; at 100 TB the
   * stride-1 window set is ~chars-sized, so the production path is
   * stride > 1 or winnow-selected positions — stride stays a parameter
   * here and the sf corpora run stride 1 for an exact oracle.
   *
   * Output: (doc_id, n_windows, dup_windows, dup_ppm) for docs with at
   * least one shared window.
   */
  /**
   * Winnowed substring duplication — the CONTENT-DEFINED selection that
   * replaces [[substringDupSpans]]'s stride knob at scale. Every k-char
   * window is hashed, but only LOCAL MINIMA survive: position i is
   * selected iff md5(win_i) is the minimum over the trailing `w`
   * windows (the winnowing fingerprint, same discipline as
   * TextOps.winnow and the doc_winnow oracle). The standard guarantee
   * holds: any run of ≥ k + w - 1 shared characters shares at least one
   * SELECTED window, so cross-doc duplication is still detected — while
   * the df exchange sees only ~2/(w+1) of the positions, on 8-byte
   * xxhash64 keys. Selection runs INSIDE the scan via the native
   * WinnowSelect expression (one pass, O(w) digest ring, zero
   * selection shuffle) — the per-doc window-function formulation moved
   * every position through a doc-keyed exchange carrying 32-char
   * digests and measured 1.6× SLOWER than stride-1 at the 10× scale.
   *
   * Output per doc: (doc_id, n_fp, dup_fp, dup_ppm) over the selected
   * fingerprints — the winnowed analogue of substringDupSpans' counts.
   */
  def substringDupWinnow(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 50, w: Int = 8, maxDf: Long = 100000L): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column => toCol, expression => toExpr}
    val t = col(textCol)
    val sel = docs.where(length(t) >= k)
      .select(col(idCol).as("doc_id"),
        explode(toCol(graft.functions.WinnowSelect(toExpr(t), k, w))).as("win"))
      .distinct()
    val byWin = org.apache.spark.sql.expressions.Window.partitionBy("win")
    sel
      .withColumn("df", count(lit(1)).over(byWin))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_fp"),
        count(when(col("df").between(2, maxDf), 1)).as("dup_fp"))
      .where(col("dup_fp") > 0)
      .select(
        col("doc_id"), col("n_fp"), col("dup_fp"),
        round(col("dup_fp").cast("double") / col("n_fp") * 1e6)
          .cast("long").as("dup_ppm"))
  }

  /**
   * Duplicated-SPAN extraction — the "which characters to cut" step of
   * exact substring dedup: every k-char window shared with another doc
   * (df ∈ [2, maxDf]) marks its character interval [pos, pos+k-1], and
   * overlapping/contiguous intervals merge into maximal spans. Output
   * one row per merged span: (doc_id, span_start, span_end, span_len,
   * n_windows), 1-based inclusive char positions, ordered by position.
   *
   * Plan shape: window hashing is the same narrow 8-byte-key explode as
   * [[substringDupSpans]]; the hot-set membership is one win-keyed
   * join; interval merging is a running max + segment sum over ONLY the
   * duplicated positions of each doc — partitioned by doc, so it scales
   * with docs, never the corpus.
   */
  /** Per-position k-char window hashes: (doc_id, pos 1-based, win). */
  private def windowHashes(
      docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    val t = col(textCol)
    docs
      .where(length(t) >= k)
      .select(
        col(idCol).as("doc_id"),
        posexplode(transform(sequence(lit(1), length(t) - (k - 1)),
          i => xxhash64(t.substr(i, lit(k))))).as(Seq("p0", "win")))
      .select(col("doc_id"), (col("p0") + 1).as("pos"), col("win"))
  }

  /** Merge the k-wide intervals of marked positions into maximal spans:
   *  (doc_id, pos) → (doc_id, span_start, span_end, n_windows), via a
   *  running max + segment sum partitioned BY DOC — scales with docs.
   */
  private def mergeWindowSpans(dupPos: DataFrame, k: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    dupPos
      .withColumn("prev_end",
        max(col("pos") + (k - 1)).over(
          byDoc.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)))
      .withColumn("new_seg",
        when(col("prev_end").isNull || col("pos") > col("prev_end") + 1, 1)
          .otherwise(0))
      .withColumn("seg", sum("new_seg").over(byDoc))
      .groupBy("doc_id", "seg")
      .agg(
        min("pos").cast("long").as("span_start"),
        (max("pos") + (k - 1)).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_windows"))
  }

  def substringDupExtract(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 50, maxDf: Long = 100000L): DataFrame = {
    val wins = windowHashes(docs, idCol, textCol, k)
    val hot = wins.select("doc_id", "win").distinct()
      .groupBy("win").agg(count(lit(1)).as("df"))
      .where(col("df").between(2, maxDf))
      .select("win")
    mergeWindowSpans(wins.join(hot, Seq("win")).select("doc_id", "pos"), k)
      .select(
        col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_len"),
        col("n_windows"))
  }

  /**
   * APPLY the removal — keep-first exact substring dedup: a duplicated
   * window is cut from every doc EXCEPT the lowest-doc_id holder (the
   * "first occurrence" keeper, the Lee-et-al-style policy made
   * deterministic). Cut positions merge into maximal spans
   * ([[mergeWindowSpans]]), and each doc's cleaned text is stitched
   * from the kept complement segments in ONE array fold per doc — no
   * per-character explode, no string surgery in a shuffle.
   *
   * Output per doc: (doc_id, n_before, n_after, clean_fp = md5 of the
   * cleaned text) — the fingerprint proves the stitched text itself
   * matches the oracle, not just its length.
   */
  def substringDupPrune(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 50, maxDf: Long = 100000L): DataFrame = {
    val t = col(textCol)
    val wins = windowHashes(docs, idCol, textCol, k)
    val keepers = wins.select("doc_id", "win").distinct()
      .groupBy("win").agg(
        count(lit(1)).as("df"), min("doc_id").as("keeper"))
      .where(col("df").between(2, maxDf))
      .select("win", "keeper")
    val cutPos = wins.join(keepers, Seq("win"))
      .where(col("doc_id") =!= col("keeper"))
      .select("doc_id", "pos")
    val spanArr = mergeWindowSpans(cutPos, k)
      .groupBy("doc_id")
      .agg(array_sort(collect_list(
        struct(col("span_start").cast("int").as("s"),
          col("span_end").cast("int").as("e")))).as("spans"))
    // stitch: fold the sorted disjoint cut spans, appending the kept
    // gap before each span, then the tail after the last (bound to the
    // joined "text" column, not the caller's column name)
    val tj = col("text")
    val stitched = aggregate(
      col("spans"),
      struct(lit(1).as("p"), lit("").as("acc")),
      (acc, sp) => struct(
        (sp.getField("e") + 1).as("p"),
        concat(acc.getField("acc"),
          tj.substr(acc.getField("p"), sp.getField("s") - acc.getField("p")))
          .as("acc")),
      acc => concat(acc.getField("acc"),
        tj.substr(acc.getField("p"),
          greatest(length(tj) - acc.getField("p") + 1, lit(0)))))
    docs.select(col(idCol).as("doc_id"), t.as("text"))
      .join(spanArr, Seq("doc_id"), "left")
      .withColumn("clean", when(col("spans").isNull, col("text")).otherwise(stitched))
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_before"),
        length(col("clean")).cast("long").as("n_after"),
        md5(col("clean")).as("clean_fp"))
  }

  def substringDupSpans(
      docs: DataFrame, idCol: String, textCol: String,
      k: Int = 50, stride: Int = 1, maxDf: Long = 100000L): DataFrame = {
    val t = col(textCol)
    val starts = sequence(lit(1), length(t) - (k - 1), lit(stride))
    // Hash each k-char window to xxhash64 BEFORE the distinct/exchange:
    // the shuffle keys are 8-byte longs instead of k-char strings (~6×
    // less shuffle volume at k=50). Window equality becomes hash
    // equality — deterministic, so both posting sides agree; collisions
    // at 64 bits are negligible at any df-capped corpus size (same
    // contract as the Bloom decontamination path).
    val wins = docs
      .where(length(t) >= k)
      .select(
        col(idCol).as("doc_id"),
        explode(transform(starts, i => xxhash64(t.substr(i, lit(k))))).as("win"))
      .distinct()
    // df rides a window over the postings instead of a df-table join:
    // ONE exchange on win (skew-bounded — a window's postings cap at
    // its df, and over-maxDf boilerplate is only COUNTED, never
    // joined), then one doc-grain aggregation decides both counters.
    // Same plan family as shingleSet's df-cap; two exchanges + a join
    // cheaper than the materialize-hot-set formulation (measured).
    val byWin = org.apache.spark.sql.expressions.Window.partitionBy("win")
    wins
      .withColumn("df", count(lit(1)).over(byWin))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_windows"),
        count(when(col("df").between(2, maxDf), 1)).as("dup_windows"))
      .where(col("dup_windows") > 0)
      .select(
        col("doc_id"), col("n_windows"), col("dup_windows"),
        // int÷int double division + one round: bit-identical per engine
        round(col("dup_windows").cast("double") / col("n_windows") * 1e6)
          .cast("long").as("dup_ppm"))
  }

  /** Sorted-neighborhood near-dup detection (Hernández & Stolfo,
   *  SIGMOD'95): sort the corpus by a cheap content key (text prefix),
   *  compare each doc only to its `w - 1` successors in sort order, and
   *  keep pairs whose 3-token-shingle Jaccard clears `thresholdPpm`.
   *  The complement to hash blocking (minhashBands): candidate volume
   *  is EXACTLY `(w-1)·n` — no degenerate key can go quadratic, the
   *  property blocking lacks on skewed corpora.
   *
   *  Scale shape: the global order comes from [[graft.ops.Ranks
   *  .withGlobalRank]] (range exchange + per-partition offsets), never
   *  a single-partition window; the neighbor pairing is an equi-join on
   *  rank. The shuffle payload is each doc's distinct shingle-string
   *  array ×(w-1) — at 100 TB hash shingles to 8-byte ints first
   *  (intersection sizes are preserved; strings are kept here so an
   *  independent SQL engine can replicate the result exactly).
   *
   *  @return (a_id, b_id, jaccard_ppm) with a_id < b_id, threshold met
   */
  def sortedNeighborhoodPairs(
      docs: DataFrame,
      sortKeyLen: Int = 40,
      w: Int = 4,
      thresholdPpm: Long = 500000L): DataFrame = {
    val ranked = graft.ops.Ranks.withGlobalRank(
      docs.select(col("doc_id"), col("text"),
        substring(col("text"), 1, sortKeyLen).as("sk")),
      "rnk", Seq(col("sk"), col("doc_id")))
    val t = ranked
      .select(col("rnk"), col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("rnk"), col("doc_id"),
        array_distinct(TextOps.shinglesOf(col("toks"), 3)).as("sh"))
      .where(size(col("sh")) > 0)
    // t feeds BOTH join sides, and its lineage includes the ranking
    // RDD hop — without a scoped persist the range exchange, sort,
    // zipWithIndex and shingling all run twice (measured ~2×)
    withScopedPersist(t) {
      val right = t
        .withColumn("dd", explode(sequence(lit(1L), lit((w - 1).toLong))))
        .select((col("rnk") - col("dd")).as("lrnk"),
          col("doc_id").as("r_id"), col("sh").as("rsh"))
      t.select(col("rnk").as("lrnk"), col("doc_id").as("l_id"),
          col("sh").as("lsh"))
        .join(right, "lrnk")
        .select(
          least(col("l_id"), col("r_id")).as("a_id"),
          greatest(col("l_id"), col("r_id")).as("b_id"),
          size(array_intersect(col("lsh"), col("rsh"))).cast("long").as("i"),
          (size(col("lsh")) + size(col("rsh"))).cast("long").as("ab"))
        .select(col("a_id"), col("b_id"),
          expr("(1000000 * i) div (ab - i)").as("jaccard_ppm"))
        .where(col("jaccard_ppm") >= thresholdPpm)
    }
  }
}
