package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.query.TopK
import graft.store.{IndexCore, IndexLeg, WriteBatch}
import IndexCore.{dataDir, isViol, legPath}

/**
 * PERSISTED INVERTED TEXT INDEX — the full-text-search sibling of the
 * persisted dedup and IVF indexes: a corpus too big to re-scan per
 * query is ingested shard by shard into commit-log-governed postings,
 * and BM25 queries touch only the query terms' token buckets, never
 * corpus text. (The reference's search surface is catalog-substring
 * only, src/dataset.py:21-36; this is the document-search posture a
 * training-data pipeline needs on top.)
 *
 * Layout per shard commit `c-<uuid>` (one CommitLog version-file
 * create makes all three visible together — a crash mid-ingest leaves
 * an invisible orphan, never a torn index):
 *   - `post/tb=<b>/`: (token, doc_id, tf, dl) — postings partitioned
 *     by a 16-way token-hash bucket so a query's parquet scan prunes
 *     to the buckets its terms hash into. `dl` is DENORMALIZED into
 *     the posting row (classic search-engine layout): scoring needs
 *     per-doc length, and carrying it here removes the query-time join
 *     against a doc-lengths table — at 100 TB that join would shuffle
 *     corpus-grain rows to serve a 3-term query.
 *   - `vocab/`: (token, df) — the shard's document frequencies. Shards
 *     partition docs, so corpus df = Σ shard df (a plain sum fold, the
 *     same merge-on-read monoid discipline as the rollup store).
 *   - `stats/`: 1 row (nd, tl) — shard doc count and total length;
 *     corpus stats fold by sum.
 *   - `pos/tb=<b>/`: (token, doc_id, positions) — the positional leg;
 *     makes stop-word-grade phrase queries a distributed aggregation
 *     ([[searchPhrasePositional]]) instead of a capped candidate list.
 *   - `del/db=<b>/`: (variant, token) — the vocabulary's deletion-
 *     neighborhood keys (depth 2), bucketed on the variant; makes
 *     fuzzy suggest a key probe instead of a full-vocab Levenshtein
 *     scan ([[suggestFuzzy]]).
 *   - `docs/fb=<b>/`: (doc_id, text) — the forward store, bucketed on
 *     doc id; phrase verify, RM3 feedback, and snippets answer from
 *     the index itself by point lookup ([[docsFor]]) instead of
 *     taking the corpus as a parameter.
 *
 * Query cost shape: |terms| vocab lookups (token-pruned scans), one
 * posting scan pruned to ≤|terms| of 16 buckets AND pushed-down token
 * equality, a doc-grain partial-aggregated sum, and a bounded top-k.
 * Nothing is ∝ corpus except the pruned posting scan itself, which is
 * ∝ the query terms' posting lists — the inverted-index contract.
 *
 * Exactly-once: `key` mirrors the dedup index's `#txn:` discipline —
 * a redelivered shard fails loudly instead of double-counting df and
 * doubling posting lists.
 */
object TextIndex {

  private val TokenBuckets = 16

  /** Deletion-neighborhood depth persisted in the `del` leg: every
   *  vocab token's variants with up to this many character deletions
   *  (SymSpell invariant: lev(q, t) <= d implies deletes<=d(q) and
   *  deletes<=d(t) intersect — candidates can overgenerate, never
   *  undergenerate; the final Levenshtein verifies). Fixed at ingest;
   *  [[suggestFuzzy]] takes the pruned path only for maxDist <= this.
   */
  private val DelMaxDist = 2

  /** Which OPTIONAL legs an ingest writes. [[LegProfile.Serving]]
   *  (the default) writes all three — a user-facing search index
   *  wants positional phrases, key-probe fuzzy suggest, and
   *  self-contained forward reads. [[LegProfile.Minimal]] writes
   *  none — right for indexes that only ever answer posting-level
   *  probes (the decontamination SHINGLE index is the canonical case:
   *  nobody fuzzy-suggests over 3-gram tokens, and its
   *  corpus-grain shingle vocabulary would pay ~|token|² deletion
   *  variants per distinct shingle for nothing). Commits in one index
   *  must use ONE profile: compaction/merge refuse mixed-generation
   *  folds loudly.
   */
  final case class LegProfile(pos: Boolean, del: Boolean, docs: Boolean)
  object LegProfile {
    val Serving = LegProfile(pos = true, del = true, docs = true)
    val Minimal = LegProfile(pos = false, del = false, docs = false)
  }

  /** The index's legs, declared once — this module writes every leg,
   *  so the on-disk shape is static truth. Bucket columns (tb/db/fb)
   *  are LONG (pmod(xxhash64)); the doc-grain legs and `del` are
   *  bucket-partitioned, the token/corpus-grain legs and the tombstone
   *  legs (gone, dvocab, dstats) are plain.
   */
  private val core = {
    import org.apache.spark.sql.types._
    new IndexCore("doc_id", Map(
      "post" -> IndexLeg(Some("tb"), "token" -> StringType,
        "doc_id" -> LongType, "tf" -> LongType, "dl" -> LongType,
        "tb" -> LongType),
      "pos" -> IndexLeg(Some("tb"), "token" -> StringType,
        "doc_id" -> LongType, "positions" -> ArrayType(IntegerType),
        "tb" -> LongType),
      "docs" -> IndexLeg(Some("fb"), "doc_id" -> LongType,
        "text" -> StringType, "fb" -> LongType),
      "del" -> IndexLeg(Some("db"), "variant" -> StringType,
        "token" -> StringType, "db" -> LongType),
      "vocab" -> IndexLeg(None, "token" -> StringType, "df" -> LongType),
      "stats" -> IndexLeg(None, "nd" -> LongType, "tl" -> LongType),
      "gone" -> IndexLeg(None, "doc_id" -> LongType),
      "dvocab" -> IndexLeg(None, "token" -> StringType, "df" -> LongType),
      "dstats" -> IndexLeg(None, "nd" -> LongType, "tl" -> LongType)))
  }
  /** Empty result frame with the given (name, type) columns — the
   *  shared zero-rows constructor behind every probe whose candidate
   *  stage can legitimately come up empty (fuzzy suggest with an empty
   *  edit ball, explain of a zero-hit search): same schema as the
   *  populated path so downstream unions/writes never fork on shape.
   */
  private def emptyResult(
      spark: SparkSession,
      cols: (String, org.apache.spark.sql.types.DataType)*): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(cols.map { case (n, t) =>
        org.apache.spark.sql.types.StructField(n, t)
      }))

  /** A doc-grain leg (post/pos/docs) across the live shard commits
   *  with tombstoned docs dropped — order-scoped
   *  ([[IndexCore.scoped]]), typed-empty when no commit
   *  holds the leg. Every query path reads postings through here, so a
   *  deleted doc can never resurrect in search, phrase, proximity,
   *  containment, or forward-store results.
   */
  private def docGrain(
      spark: SparkSession, dir: String, leg: String): DataFrame =
    core.scoped(spark, dir, leg, Seq("doc_id"), identity)
      .getOrElse(core.empty(spark, leg))

  /** An aggregate leg (vocab/stats) across live commits INCLUDING the
   *  live tombstones' delta rows (negative df / nd / tl) — a [[forgetDocs]]
   *  call's exact deltas make `sum` over these rows equal the
   *  never-ingested-those-docs value, so BM25 idf/avgdl are exact
   *  after a delete, not stale-until-compaction. A token whose folded
   *  df reaches 0 must be dropped by the caller (`where df > 0`).
   *  `entries` is the ledger snapshot to read.
   */
  private def withDeltas(spark: SparkSession, dir: String, leg: String,
      entries: Seq[String]): DataFrame = {
    val base = core.readAt(spark, dir, leg, entries)
    val ts = entries.filter(_.startsWith("t-"))
    if (ts.isEmpty) base
    else base.unionByName(
      core.read(spark, s"d$leg", ts.map(legPath(dir, _, s"d$leg"))))
  }
  private def vocabRows(spark: SparkSession, dir: String): DataFrame =
    withDeltas(spark, dir, "vocab", IndexCore.live(spark, dir))
  private def statsRows(spark: SparkSession, dir: String): DataFrame =
    withDeltas(spark, dir, "stats", IndexCore.live(spark, dir))

  /** Leg-presence probes callers route on (every live commit carries
   *  the leg — a partial leg would silently answer from part of the
   *  corpus): a pre-leg index answers phrase/fuzzy/forward reads by the
   *  corpus-parameter paths instead.
   */
  def hasPositionalLeg(spark: SparkSession, dir: String): Boolean =
    core.onAllCommits(spark, dir, "pos")
  def hasDocsLeg(spark: SparkSession, dir: String): Boolean =
    core.onAllCommits(spark, dir, "docs")

  /** FORWARD-STORE POINT LOOKUP: (doc_id, text) for a bounded id set,
   *  from the index's own `docs` legs — fb partition-directory pruning
   *  plus pushed doc_id equality, the same two-level prune as the
   *  posting scan. This is what makes phrase verify, RM3 feedback, and
   *  snippets self-contained: the corpus never has to be passed back
   *  in (and at 100 TB "the corpus DataFrame" may not even exist as
   *  one readable table on the serving side).
   */
  def docsFor(
      spark: SparkSession, dir: String, ids: Seq[Long]): DataFrame = {
    require(hasDocsLeg(spark, dir),
      s"index $dir has no forward docs leg on every live commit — it " +
        "predates forward-store ingest; pass the corpus explicitly")
    require(ids.nonEmpty && ids.length <= 65536,
      s"docsFor is a point lookup for 1..65536 ids (got ${ids.length})")
    import spark.implicits._
    val buckets = bucketsOf(ids.toDF("k"))
    docGrain(spark, dir, "docs")
      .where(col("fb").isin(buckets: _*) && col("doc_id").isin(ids: _*))
      .select(col("doc_id"), col("text"))
  }

  /** The distinct [[hashBucket]]s of the driver-side keys in `keys`'
   *  one column `k` (a local frame: `Seq.toDF`), with NO Spark job: a
   *  Project over a LocalRelation folds to a local relation at optimize
   *  time, so the collect reads driver memory (a `.distinct()` would
   *  plan an aggregate and schedule a job); Scala dedupes. The hash is
   *  still Spark's own, so the buckets match the written partitions.
   */
  private[graft] def bucketsOf(keys: DataFrame): Seq[Long] =
    keys.select(hashBucket(col("k"))).collect().map(_.getLong(0))
      .distinct.toSeq

  /** The 16-way hash bucket every bucketed leg keys on — `post` and
   *  `pos` on the token, `del` on the deletion variant, `docs` on the
   *  doc id — so point probes prune partition DIRECTORIES.
   */
  private def hashBucket(c: Column): Column =
    pmod(xxhash64(c), lit(TokenBuckets.toLong))

  /** All single-character deletions of a non-empty string column,
   *  1-based substr arithmetic (prefix before i ++ suffix after i) —
   *  the engine-side mirror of [[delNeighborhood]]'s take/drop.
   */
  private def delete1(t: Column): Column =
    transform(sequence(lit(1), length(t)),
      i => concat(t.substr(lit(1), i - lit(1)), t.substr(i + lit(1), length(t))))

  /** token ∪ deletes≤2(token) as one distinct array — the `del` leg's
   *  key set per vocab token. A depth-2 variant of a length-1 token
   *  degenerates to [""] (deleting from the empty string keeps it) —
   *  harmless overgeneration, the Levenshtein verify owns exactness.
   */
  private def delVariants(t: Column): Column =
    array_distinct(concat(
      array(t),
      delete1(t),
      flatten(transform(delete1(t),
        v => when(length(v) >= 1, delete1(v)).otherwise(array(v))))))

  /** Driver-side deletion neighborhood of the query term (the term
   *  itself included), depth `d` — must generate exactly the strings
   *  [[delVariants]] generates for the same input.
   */
  private def delNeighborhood(term: String, d: Int): Seq[String] = {
    var cur = Set(term)
    var all = Set(term)
    for (_ <- 1 to d) {
      cur = cur.flatMap(s =>
        if (s.isEmpty) Set(s)
        else s.indices.map(i => s.take(i) + s.drop(i + 1)).toSet)
      all ++= cur
    }
    all.toSeq.sorted
  }

  /** Number of live shard commits (compaction-trigger input: the read
   *  path unions one parquet root per live commit, so this is also the
   *  query-planning fan-in). Driver-side metadata only.
   */
  def liveShardCount(spark: SparkSession, dir: String): Int =
    IndexCore.live(spark, dir).count(_.startsWith("c-"))

  /** Ingest one document shard: stage postings (dl denormalized),
   *  positional postings, shard vocabulary, the vocabulary's
   *  deletion-neighborhood keys, shard stats, AND the forward doc
   *  store under ONE commit dir; publish with one version-file create.
   *  Shard-local cost only — the stored index is never re-read or
   *  rewritten. The three non-core legs:
   *   - `pos/tb=<b>/`: (token, doc_id, positions) — 1-based positions
   *     in the raw token array, sorted — serves [[searchPhrasePositional]]
   *     so stop-word-grade phrases stop being refused;
   *   - `del/db=<b>/`: (variant, token) deletion-neighborhood keys
   *     (depth [[DelMaxDist]]) — serves [[suggestFuzzy]]'s pruned path;
   *   - `docs/fb=<b>/`: (doc_id, text) forward store — serves phrase
   *     verify, RM3 feedback, and snippets WITHOUT the caller passing
   *     the corpus back in (a serving index must be self-contained; at
   *     100 TB this doubles index bytes, the standard forward+inverted
   *     trade — see SCALE.md).
   *  `legs` picks the profile: [[LegProfile.Serving]] (default) writes
   *  all three optional legs; [[LegProfile.Minimal]] skips them for
   *  posting-probe-only indexes (the decontamination shingle index is
   *  the canonical case).
   */
  def ingestShard(
      spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String, key: Option[String] = None,
      legs: LegProfile = LegProfile.Serving): Unit = {
    val txn = IndexCore.freshTxn(spark, dir, key, "shard")
    // the shard is materialized ONCE up front and every leg derives from
    // that snapshot — a nondeterministic source (sampled/limited/rand-
    // derived) would otherwise publish a forward store whose rows
    // disagree with the postings built from a second evaluation of the
    // same plan; its count sizes the write (WriteBatch). For the docs
    // leg the id is normalized to long here (loud for non-integral ids)
    // so the fb bucket written at ingest equals the bucket docsFor
    // recomputes from its Seq[Long] literals — xxhash64 hashes
    // IntegerType and LongType differently, so a raw int id would
    // silently fail the fb directory prune at lookup.
    val id =
      if (!legs.docs) col(idCol)
      else {
        val idType = docs.schema(idCol).dataType.typeName
        require(Seq("byte", "short", "integer", "long").contains(idType),
          s"forward docs leg needs an integral id column (docsFor probes " +
            s"by Seq[Long]); got $idCol: $idType — use LegProfile.Minimal " +
            "or map ids to long first")
        col(idCol).cast("long")
      }
    val snap = docs.select(id.as(idCol),
      col(textCol).cast("string").as(textCol)).persist()
    // a bounded shard runs every leg in ONE task: the tokenize group,
    // the dl join and each leg's grouping plan no exchange, and the one
    // task writes one file per bucket per leg
    val one = WriteBatch.oneTask(WriteBatch.materialize(snap))
    val src = WriteBatch.narrow(snap, one)
    // ONE tokenize pass feeds every leg: (doc, token)-grain rows with
    // tf AND the sorted 1-based raw-array positions (1-based so the
    // positional probe and a 1-based SQL formulation agree exactly)
    val tp = src
      .select(col(idCol).as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("p0", "token")))
      .where(length(col("token")) > 0)
      .groupBy("doc_id", "token")
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("p0") + 1)).as("positions"))
      .persist()
    try {
      // materialize the cache BEFORE the concurrent leg writes fan out:
      // parallel jobs on a cold persist all race to compute the same
      // tokenize+group (the cache only dedups work once populated), so
      // one count here makes the six writes read, not recompute
      WriteBatch.materialize(tp): Unit
      val dl = tp.groupBy("doc_id").agg(sum(col("tf")).as("dl"))
      val name = IndexCore.entryName("c", None)
      // bucket-grain files: one file per bucket per shard instead of
      // tasks×buckets — the read path's file count stays
      // ∝ shards×TokenBuckets
      def bucketed(df: DataFrame, b: String): DataFrame =
        WriteBatch.clustered(df, one, Some(TokenBuckets), col(b))
      // the legs all derive from the persisted tp and land under
      // ONE not-yet-visible commit dir — write them concurrently (the
      // ManifestStore.ingestBatchAtomic discipline): atomicity comes
      // from the version-file create, not from write order
      val writes: Seq[() => Unit] = Seq(
        Some(() =>
          bucketed(tp.join(dl, "doc_id")
            .select(col("token"), col("doc_id"), col("tf"), col("dl"),
              hashBucket(col("token")).as("tb")), "tb")
            .write.partitionBy("tb").parquet(s"$dir/data/$name/post")),
        Option.when(legs.pos)(() =>
          bucketed(tp.select(col("token"), col("doc_id"), col("positions"),
              hashBucket(col("token")).as("tb")), "tb")
            .write.partitionBy("tb").parquet(s"$dir/data/$name/pos")),
        Some(() =>
          tp.groupBy("token").agg(count(lit(1)).as("df"))
            // vocab is token-grain (small per shard); 4 files beats one
            // tiny file per shuffle task on the per-query vocab lookup
            .coalesce(4)
            .write.parquet(s"$dir/data/$name/vocab")),
        Option.when(legs.del)(() =>
          // vocabulary-grain × ~|token|² variant rows — tiny next to
          // postings; bucketed on the VARIANT so a suggest query prunes
          // to its own variants' buckets
          bucketed(tp.select(col("token")).distinct()
            .select(explode(delVariants(col("token"))).as("variant"),
              col("token"))
            .select(col("variant"), col("token"),
              hashBucket(col("variant")).as("db")), "db")
            .write.partitionBy("db").parquet(s"$dir/data/$name/del")),
        Some(() =>
          dl.agg(count(lit(1)).as("nd"), sum(col("dl")).as("tl"))
            .coalesce(1).write.parquet(s"$dir/data/$name/stats")),
        Option.when(legs.docs)(() =>
          // reads the SNAPSHOT (id already long) — never re-evaluates
          // the caller's frame, so forward text always agrees with the
          // postings built from the same rows
          bucketed(src.select(col(idCol).as("doc_id"), col(textCol).as("text"),
              hashBucket(col(idCol)).as("fb")), "fb")
            .write.partitionBy("fb").parquet(s"$dir/data/$name/docs"))
      ).flatten
      graft.util.Par.par(writes): Unit
      IndexCore.publishAppend(spark, dir, name, txn, "shard")
    } finally {
      tp.unpersist(): Unit
      snap.unpersist(): Unit
    }
  }

  /** DOCUMENT DELETION (right-to-be-forgotten for the index): remove
   *  up to 65536 docs from every leg's ANSWERS immediately, under ONE
   *  commit, WITHOUT rewriting the index — the takedown operator a
   *  100 TB serving index needs (a full rebuild per takedown is
   *  corpus-grain; this is ∝ the deleted docs' own postings).
   *
   *  Mechanism — a TOMBSTONE commit `t-<uuid>` holding three tiny legs:
   *   - `gone/`: the deleted doc ids. Every doc-grain read path
   *     (postings, positions, forward store) anti-joins this set, so
   *     search/phrase/NEAR/containment/snippets can never resurrect a
   *     deleted doc;
   *   - `dvocab/`: EXACT negative df deltas (token, −n), recomputed by
   *     re-tokenizing the docs' text from the forward `docs` leg (the
   *     tokenizer is deterministic, so the deltas equal the df the
   *     docs contributed at ingest);
   *   - `dstats/`: one (−nd, −tl) row.
   *  Because the deltas are exact, post-delete BM25 idf/avgdl/df are
   *  IDENTICAL to an index that never ingested those docs — scores are
   *  right immediately, not stale-until-compaction. A token whose
   *  folded df reaches 0 drops from suggest/containment liveness at
   *  the `df > 0` fold filter.
   *
   *  Lifecycle mirrors the store's forgetDataset: the tombstone is
   *  LOGICAL deletion (immediate, atomic — one version-file create);
   *  a FULL [[compact]] physically drops the docs' rows from every
   *  leg, folds the deltas into vocab/stats, and retires the
   *  tombstone; [[graft.store.IndexCore.vacuum]] then erases the
   *  superseded bytes — the compliance clock is the caller's
   *  compact+vacuum schedule, and a pre-delete
   *  [[graft.store.IndexCore.cloneAsOf]] branch still sees the doc
   *  until vacuum.
   *
   *  Exactly-once: `key` rides the same `#txn:` ledger as ingest — a
   *  redelivered delete is refused loudly (and keys survive
   *  compaction). Ids already deleted (or never ingested) contribute
   *  nothing — the forward-store lookup is gone-filtered, so a
   *  re-delete of the same id cannot double-subtract. CONCURRENT
   *  forgets race safely: the publish aborts if the live tombstone
   *  set moved between this call's snapshot and its commit (the
   *  rewriteLive stale-abort discipline) — retry recomputes against
   *  the new live set and overlapping ids drop out.
   *
   *  Requires the forward `docs` leg (the deltas come from the index
   *  itself — at scale "the corpus DataFrame" is not available on the
   *  serving side). A [[LegProfile.Minimal]] index deletes via
   *  [[forgetDocsRebuild]] — a direct in-place commit rewrite that
   *  needs no forward store and no corpus.
   */
  def forgetDocs(
      spark: SparkSession, dir: String, ids: Seq[Long],
      key: Option[String] = None): Unit = {
    require(ids.nonEmpty && ids.length <= 65536,
      s"forgetDocs takes 1..65536 ids per call (got ${ids.length}); " +
        "batch larger takedowns")
    val txn = IndexCore.freshTxn(spark, dir, key, "delete")
    require(hasDocsLeg(spark, dir),
      s"index $dir has no forward docs leg on every live commit — " +
        "forgetDocs computes its exact df/stats deltas from the " +
        "index's own forward store; a Minimal-profile index deletes " +
        "via forgetDocsRebuild (direct in-place commit rewrite, no " +
        "corpus needed)")
    // stale-abort snapshot — BOTH prefixes: the publish refuses if the
    // live tombstone set moved (a concurrent forget landed, or a full
    // compaction retired tombstones — deltas computed against one
    // snapshot must not publish against another) AND if the live
    // shard-commit set moved. The c- half closes the silent-loss /
    // over-count trap: a shard commit that re-ingests one of these
    // very ids between the delta computation and this publish would
    // land BEFORE the tombstone in log order, so the tombstone's
    // order-scoped coverage would hide the fresh rows while the
    // deltas never subtracted that commit's vocab/stats contribution
    // (permanent df/nd/tl over-count after the next full fold)
    val liveSnap = IndexCore.live(spark, dir)
      .filter(IndexCore.isData)
    // gone-filtered point lookup: ids already tombstoned (or never
    // ingested) vanish here, so the deltas below never double-subtract
    val hit = docsFor(spark, dir, ids.distinct).persist()
    try {
      if (hit.isEmpty) {
        // nothing live to delete — still ledger the delivery key so a
        // redelivered (already-applied) takedown probes as done
        key.foreach(IndexCore.ledgerDelivery(spark, dir, _))
        return
      }
      val tp = hit
        .select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("token"))
        .where(length(col("token")) > 0)
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val name = IndexCore.entryName("t", None)
      hit.select(col("doc_id"))
        .coalesce(1).write.parquet(s"$dir/data/$name/gone")
      tp.groupBy("token").agg((-count(lit(1))).as("df"))
        .coalesce(1).write.parquet(s"$dir/data/$name/dvocab")
      tp.groupBy("doc_id").agg(sum("tf").as("dl"))
        .agg((-count(lit(1))).as("nd"), (-sum(col("dl"))).as("tl"))
        .coalesce(1).write.parquet(s"$dir/data/$name/dstats")
      publishTombstone(spark, dir, name, txn, liveSnap)
    } finally hit.unpersist(): Unit
  }

  /** FORWARD-STORE PREDICATE SCAN: the live (doc_id, text) rows
   *  matching `predicate` — gone-filtered (tombstoned docs don't
   *  match) and order-scoped like every doc-grain read. This is the
   *  resolution primitive behind [[forgetWhere]] and the cross-index
   *  takedown ([[graft.streaming.StreamForget.forgetWhereAll]]); it
   *  is also the general "find documents by content predicate"
   *  escape hatch when a query can't be phrased as a token search.
   *  Cost: one scan of the docs legs with the predicate pushed to
   *  the parquet readers where possible — ∝ the forward store.
   */
  def docsWhere(
      spark: SparkSession, dir: String, predicate: Column): DataFrame = {
    require(hasDocsLeg(spark, dir),
      s"index $dir has no forward docs leg on every live commit — " +
        "a content-predicate scan needs the index's own forward store")
    docGrain(spark, dir, "docs")
      .where(predicate)
      .select(col("doc_id"), col("text"))
  }

  /** PREDICATE-RESOLVED TAKEDOWN — the GDPR-shaped request ("erase
   *  everything matching P") as ONE ledgered verb: resolve the doc ids
   *  from the index's OWN live forward store (`docs` leg — columns
   *  `doc_id`, `text`; the read is gone-filtered, so already-deleted
   *  docs don't re-resolve) and tombstone them via [[forgetDocs]]
   *  under the SAME `key` — resolution and tombstone are one
   *  exactly-once unit instead of caller-side id resolution plus a
   *  separate un-ledgered delete. A predicate matching NOTHING still
   *  ledgers the key (replays probe as done). Returns the number of
   *  docs deleted. Bounded: a takedown resolving > 65536 ids refuses
   *  loudly (narrow the predicate or batch by id range) — a tombstone
   *  is a bounded driver-side set by design.
   */
  def forgetWhere(
      spark: SparkSession, dir: String, predicate: Column,
      key: Option[String] = None): Long = {
    IndexCore.freshTxn(spark, dir, key, "delete"): Unit
    require(hasDocsLeg(spark, dir),
      s"index $dir has no forward docs leg on every live commit — " +
        "forgetWhere resolves its ids from the index's own forward " +
        "store; resolve ids externally and use forgetDocsRebuild")
    val ids = docsWhere(spark, dir, predicate)
      .select(col("doc_id")).distinct().limit(65537)
      .collect().map(_.getLong(0)).toSeq
    require(ids.length <= 65536,
      s"forgetWhere resolved > 65536 ids in $dir — narrow the " +
        "predicate or batch the takedown (a tombstone is a bounded " +
        "driver-side set)")
    if (ids.isEmpty) {
      // nothing matched — still ledger the key so a redelivered
      // takedown probes as done (forgetDocs' empty-hit discipline)
      key.foreach(IndexCore.ledgerDelivery(spark, dir, _))
      0L
    } else {
      forgetDocs(spark, dir, ids, key)
      ids.length.toLong
    }
  }

  /** DOCUMENT UPSERT (the crawl re-fetch lifecycle op): replace up to
   *  65536 docs' content in place — one tombstone commit deleting the
   *  old postings ([[forgetDocs]]; ids never ingested no-op) followed
   *  by one shard commit ingesting the new text ([[ingestShard]]).
   *  Because the tombstone's df/nd/tl deltas are exact and the new
   *  shard folds by the ordinary monoids, post-upsert BM25 equals an
   *  index that ingested the NEW text from the start; a later full
   *  compaction physically erases the superseded postings.
   *
   *  Exactly-once across the two commits is the maintainer contract:
   *  `key` fans out to `<key>.del` / `<key>.add` ledger entries and
   *  each leg short-circuits on its own committed key — a crash
   *  between the two commits replays with the delete leg a no-op and
   *  the add leg completing, and a full redelivery is a
   *  version-preserving no-op (NOT an error — upsert is the
   *  replay-friendly verb; the primitive ingest/forget stay loud).
   *  Visibility is eventual across the pair: a reader between the two
   *  commits sees the doc deleted-not-yet-replaced (each commit is
   *  individually atomic; a single-commit upsert would need every
   *  read path to resolve gone-sets inside data commits — the
   *  documented trade). Requires the forward docs leg (the delete
   *  leg's deltas come from it).
   */
  def upsertDocs(
      spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String, key: Option[String] = None,
      legs: LegProfile = LegProfile.Serving): Unit = {
    require(legs.docs,
      "upsertDocs needs the forward docs leg in its ingest profile — " +
        "the next upsert's delete leg re-derives deltas from it")
    val idType = docs.schema(idCol).dataType.typeName
    require(Seq("byte", "short", "integer", "long").contains(idType),
      s"upsertDocs needs an integral id column; got $idCol: $idType")
    // the delete leg skips on an empty index, where forgetDocs would
    // refuse the missing docs leg of a commit-less index
    IndexCore.upsert(spark, dir,
      docs.select(col(idCol).cast("long").as(idCol),
        col(textCol).cast("string").as(textCol)),
      idCol, key, "upsertDocs")(
      del = (ids, delKey) => forgetDocs(spark, dir, ids, delKey),
      add = (snap, addKey) => ingestShard(spark, dir, snap, idCol, textCol,
        key = addKey, legs = legs),
      replayed = _ => ())
  }

  /** The tombstone PUBLISH step, separated so the stale-abort path is
   *  deterministically testable: refuses (and drops the staged `t-`
   *  dir) when the delivery key raced in, or when the live c-/t-
   *  entry set no longer equals the snapshot the deltas were computed
   *  against — a concurrent forget landed, a compaction folded an
   *  input, OR a shard commit raced in (which this tombstone's
   *  order-scoped coverage would wrongly hide while its deltas never
   *  subtracted that commit's contribution). The rewriteLive "live
   *  set moved under us" discipline; the caller reruns against the
   *  new live set.
   */
  private[graft] def publishTombstone(
      spark: SparkSession, dir: String, name: String,
      txn: Option[String], liveSnap: Seq[String]): Unit = {
    val snapSet = liveSnap.toSet
    val published = IndexCore.log(dir).commit(spark) { now =>
      if (txn.exists(now.contains)) None // raced redelivery
      else if (now.filter(IndexCore.isData).toSet != snapSet)
        None // live c-/t- set moved — deltas or coverage may be stale
      else Some(now :+ name :++ txn.toSeq)
    }
    if (!published) {
      IndexCore.dropStaging(spark, dir, Seq(name))
      throw new IllegalStateException(
        s"forgetDocs raced a concurrent forget/ingest/compaction at $dir — " +
          "this attempt's staging was dropped; rerun against the " +
          "new live set")
    }
  }

  /** Live tombstoned-doc count — observability for the compact
   *  scheduler (tombstones accumulate between full folds; each adds a
   *  broadcast anti-join input to every read).
   */
  def tombstoneCount(spark: SparkSession, dir: String): Long =
    core.tombstoneCount(spark, dir)

  /** BM25 top-k over the stored index for a bag of query terms.
   *  Corpus stats and per-term df fold across shards by sum (driver-
   *  side: |terms|+1 scalars, never a key list); idf is rounded ONCE
   *  per term to ppm and joined back as a broadcast literal frame, so
   *  scores hash-match an engine that computes the same operation
   *  order. Ties rank by doc_id.
   *
   *  `maxDf` caps QUERY terms by folded document frequency: a
   *  stop-word-grade term's posting list is corpus-grain, so without
   *  the cap one "the" in the query turns the pruned posting scan into
   *  a full-corpus scan feeding a corpus-grain groupBy — for a term
   *  whose idf (≈ log(1 + (nd−df+.5)/(df+.5))) carries almost no
   *  ranking signal anyway. Capped terms are skipped entirely (no
   *  posting scan, no idf row, no n_terms credit) — the same maxDf
   *  discipline the declarative inverted-index query applies. The df
   *  fold the cap reads is the SAME |terms|-scalar driver-side fold
   *  the idf needs — the cap costs nothing extra.
   */
  def searchBm25(
      spark: SparkSession, dir: String, terms: Seq[String], k: Int,
      maxDf: Option[Long] = None): DataFrame = {
    require(terms.nonEmpty, "searchBm25 with no terms")
    // weight 1e6 multiplies every per-term factor by the double 1.0 —
    // bit-identical to unweighted scoring (spec-pinned), so the
    // unweighted search is a pure delegation and there is ONE scoring
    // implementation to maintain
    searchBm25Weighted(spark, dir, terms.distinct.map((_, 1000000L)),
      k, maxDf)
  }

  /** The shared driver-side prelude of every BM25 probe: the (nd, tl)
   *  stats fold and the terms' df fold, the `maxDf` stop-word cut,
   *  per-term ppm idf, and the token-bucket-pruned posting scan.
   *
   *  The folds come from the [[IndexCore.memo]] of the live commit set
   *  (stats and df legs are immutable once published). A miss fetches
   *  every missing part in ONE shuffle-free collect of the UNFOLDED
   *  rows — at most one stats row and |terms| vocab rows per live
   *  commit or tombstone delta — and sums them on the driver. The
   *  buckets come from [[bucketsOf]], so a warm prelude starts no Spark
   *  job.
   *  Per-commit roots each carry their own tb=N partition tree —
   *  read per commit and union (the same multi-root discipline as the
   *  IVF postings); the tb filter prunes partition DIRECTORIES, the
   *  token equality pushes into row groups within the surviving
   *  buckets. Returns (avgdl, kept terms sorted, (token, idf_ppm)
   *  pairs, pruned postings).
   */
  private def bm25Prelude(
      spark: SparkSession, dir: String, terms: Seq[String],
      maxDf: Option[Long]): (Double, Seq[String], Seq[(String, Long)], DataFrame) = {
    import spark.implicits._
    val asked = terms.distinct.sorted
    val folds = IndexCore.memo(spark, dir, "stats" +: asked.map("df:" + _)) {
      (entries, missing) => aggregateParts(spark, dir, entries, missing)
    }
    // a fold over zero rows is (0, 0): an index with no live commits
    // answers every probe empty
    val (nd, tl) = folds("stats")
    val avgdl = tl.toDouble / nd
    // survivors: indexed (folded df > 0 — fully-deleted tokens are not
    // indexed) and under the stop-word cap — only these reach the
    // posting scan and the bucket list
    val dfOf = (t: String) => folds(s"df:$t")._1
    val kept = asked.filter(t => dfOf(t) > 0 && maxDf.forall(dfOf(t) <= _))
    val idf = kept.map { t =>
      val df = dfOf(t)
      (t, math.round(
        math.log((nd - df + 0.5) / (df + 0.5) + 1.0) * 1e6))
    }
    val posts = docGrain(spark, dir, "post")
      .where(col("tb").isin(bucketsOf(kept.toDF("k")): _*) &&
        col("token").isin(kept: _*))
    (avgdl, kept, idf, posts)
  }

  /** The memo fetch behind [[bm25Prelude]]: the `missing` parts
   *  (`stats` → (nd, tl), `df:<term>` → (df, 0)) folded from the
   *  `entries` snapshot by ONE collect of the unfolded stats and vocab
   *  rows (tombstone deltas included) — no aggregate, so no shuffle —
   *  summed on the driver. A term with no rows folds to df 0.
   */
  private def aggregateParts(spark: SparkSession, dir: String,
      entries: Seq[String], missing: Seq[String]): Map[String, (Long, Long)] = {
    val terms = missing.filter(_.startsWith("df:")).map(_.drop(3))
    val stats = Option.when(missing.contains("stats"))(
      withDeltas(spark, dir, "stats", entries)
        .select(lit(null).cast("string").as("token"),
          col("nd").as("a"), col("tl").as("b")))
    val vocab = Option.when(terms.nonEmpty)(
      withDeltas(spark, dir, "vocab", entries)
        .where(col("token").isin(terms: _*))
        .select(col("token"), col("df").as("a"), lit(0L).as("b")))
    val rows = (stats ++ vocab).reduce(_.unionByName(_)).collect()
      .map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2)))
    def fold(token: Option[String]): (Long, Long) = {
      val rs = rows.filter(_._1 == token)
      (rs.map(_._2).sum, rs.map(_._3).sum)
    }
    (stats.map(_ => "stats" -> fold(None)) ++
      terms.map(t => s"df:$t" -> fold(Some(t)))).toMap
  }

  /** WEIGHTED BM25 over the stored index: each query term carries an
   *  exact ppm weight and contributes `(w_ppm/1e6) × bm25_term` to the
   *  doc score — the scoring primitive query expansion needs (RM3-style
   *  pseudo-relevance feedback interpolates original terms at full
   *  weight with expansion terms at a discount; see `bm25_rm3`). Scan
   *  shape is IDENTICAL to [[searchBm25]] — token-bucket directory
   *  pruning + pushed token equality, driver-side |terms|+1 scalar
   *  folds, broadcast idf/weight literals — so an expanded query costs
   *  one pruned posting probe, never a corpus pass. Per-term float
   *  factors are written in one fixed operation order (weight × idf
   *  first), and a weight of exactly 1e6 multiplies by the double 1.0,
   *  so an all-1e6 call is bit-identical to [[searchBm25]]
   *  (spec-pinned). Duplicate terms keep the LAST weight given.
   */
  def searchBm25Weighted(
      spark: SparkSession, dir: String, terms: Seq[(String, Long)], k: Int,
      maxDf: Option[Long] = None): DataFrame = {
    require(terms.nonEmpty, "searchBm25Weighted with no terms")
    import spark.implicits._
    val wByTerm = terms.toMap // last weight wins for duplicate terms
    val (avgdl, _, idfPairs, posts) =
      bm25Prelude(spark, dir, wByTerm.keys.toSeq, maxDf)
    val idf = idfPairs.map { case (t, i) => (t, i, wByTerm(t)) }
      .toDF("token", "idf_ppm", "w_ppm")
    val scores = posts
      .join(broadcast(idf), "token")
      .withColumn("score_ppm",
        round((col("w_ppm") / lit(1000000.0)) *
          col("idf_ppm").cast("double") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))))
          .cast("long"))
      .groupBy("doc_id")
      .agg(sum("score_ppm").as("score_ppm"), count(lit(1)).as("n_terms"))
    TopK(scores, k, col("score_ppm").desc, col("doc_id"))
      .select(col("rank"), col("doc_id"), col("score_ppm"), col("n_terms"))
  }

  /** INDEX OBSERVABILITY: one row of folded index statistics —
   *  (n_shards, nd, tl, vocab_size, n_postings) — from the index's own
   *  legs, never the corpus: stats fold by sum (shard-count scalars),
   *  vocab_size is the across-shard DISTINCT token count (shards can
   *  share tokens), n_postings counts posting rows. This is the
   *  health-check a production index needs (is df drifting? did a
   *  merge double postings?) and its corpus-derived ground truth is
   *  exactly recomputable, so the oracle proves the whole ingest fold.
   */
  def stats(spark: SparkSession, dir: String): DataFrame = {
    val shards = core.liveRoots(spark, dir, "stats")
    require(shards.nonEmpty, s"no live shards in text index $dir")
    val st = statsRows(spark, dir)
      .agg(lit(shards.size.toLong).as("n_shards"),
        sum("nd").as("nd"), sum("tl").as("tl"))
    val vocab = vocabRows(spark, dir)
      .groupBy("token").agg(sum("df").as("df"))
      .where(col("df") > 0)
      .agg(count(lit(1)).as("vocab_size"))
    val posts = docGrain(spark, dir, "post")
      .agg(count(lit(1)).as("n_postings"))
    st.crossJoin(vocab).crossJoin(posts)
  }

  /** LIVE DOC MEMBERSHIP as one (doc_id) frame — the forward docs leg
   *  when every commit carries it (the only leg that includes
   *  zero-token docs), else the distinct posted ids. Tombstone-scoped
   *  like every read. The cross-index consistency check
   *  ([[graft.store.IndexFsck]]) compares this against the dedup and
   *  ANN memberships — pipelines that maintain the three in lockstep
   *  get drift DETECTION, not just drift avoidance.
   */
  def liveDocIds(spark: SparkSession, dir: String): DataFrame =
    if (hasDocsLeg(spark, dir))
      docGrain(spark, dir, "docs").select("doc_id")
    else docGrain(spark, dir, "post").select("doc_id").distinct()

  /** DEEP INTEGRITY CHECK (fsck) — recompute every derived leg from
   *  the doc-grain source of truth (the tombstone-scoped posting
   *  readback) and compare against what the index actually serves:
   *
   *  | check            | violation = …                                |
   *  |------------------|----------------------------------------------|
   *  | vocab_df         | token whose FOLDED df (vocab + dvocab deltas)
   *  |                  | ≠ live posting recount (or live on one side) |
   *  | stats_fold       | folded (nd, tl) ≠ recount from postings      |
   *  | pos_post_parity  | (token, doc) in pos xor post, or
   *  |                  | size(positions) ≠ tf                         |
   *  | docs_coverage    | posted doc without a forward-store row       |
   *  | docs_unique      | forward-store doc with > 1 live rows         |
   *
   *  Returns (check, violations, audited) — audited is the check's
   *  universe size (live tokens / docs / postings), so a healthy
   *  index reads as all-zeros with honest denominators. This is what
   *  turns the mutation tier's invariants (order-scoped tombstones,
   *  delta-exact folds, retirement rewrites) from design prose into a
   *  RUNNABLE audit: any divergence a bug or a stray writer introduces
   *  surfaces as a nonzero row, at cost ∝ index (one pass per leg +
   *  token/doc-grain joins), never ∝ corpus text. Checks whose leg is
   *  absent (a Minimal-profile index) are omitted from the report.
   */
  def fsck(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    require(core.liveRoots(spark, dir, "post").nonEmpty,
      s"no live shards in text index $dir")
    val post = docGrain(spark, dir, "post")
      .select(col("token"), col("doc_id"), col("tf")).persist()
    try {
      post.count(): Unit // populate before the concurrent check jobs
      val checks: Seq[() => (String, Long, Long)] = Seq(
        Some(() => {
          val folded = vocabRows(spark, dir).groupBy("token")
            .agg(sum("df").as("df")).where(col("df") > 0)
          val recount = post.groupBy("token")
            .agg(count(lit(1)).as("df2"))
          val r = folded.join(recount, Seq("token"), "full_outer")
            .agg(isViol(coalesce(col("df"), lit(0L)) =!=
                coalesce(col("df2"), lit(0L))).as("viol"),
              count(lit(1)).as("aud")).head()
          ("vocab_df", r.getLong(0), r.getLong(1))
        }),
        Some(() => {
          val e = post.groupBy("doc_id").agg(sum("tf").as("dl"))
            .agg(count(lit(1)).as("nd"),
              coalesce(sum("dl"), lit(0L)).as("tl")).head()
          val g = statsRows(spark, dir)
            .agg(coalesce(sum("nd"), lit(0L)).as("nd"),
              coalesce(sum("tl"), lit(0L)).as("tl")).head()
          ("stats_fold",
            if (e.getLong(0) == g.getLong(0) && e.getLong(1) == g.getLong(1))
              0L else 1L,
            e.getLong(0))
        }),
        Option.when(hasPositionalLeg(spark, dir))(() => {
          val pos = docGrain(spark, dir, "pos")
            .select(col("token"), col("doc_id"),
              size(col("positions")).cast("long").as("np"))
          val r = post.join(pos, Seq("token", "doc_id"), "full_outer")
            .agg(isViol(col("tf").isNull || col("np").isNull ||
                col("tf") =!= col("np")).as("viol"),
              count(lit(1)).as("aud")).head()
          ("pos_post_parity", r.getLong(0), r.getLong(1))
        }),
        Option.when(hasDocsLeg(spark, dir))(() => {
          val fwd = docGrain(spark, dir, "docs")
            .select("doc_id").distinct()
          val r = post.select("doc_id").distinct()
            .join(fwd.withColumn("has", lit(1)), Seq("doc_id"), "left_outer")
            .agg(isViol(col("has").isNull).as("viol"),
              count(lit(1)).as("aud")).head()
          ("docs_coverage", r.getLong(0), r.getLong(1))
        }),
        Option.when(hasDocsLeg(spark, dir))(() => {
          val r = docGrain(spark, dir, "docs")
            .groupBy("doc_id").agg(count(lit(1)).as("m"))
            .agg(isViol(col("m") > 1).as("viol"),
              count(lit(1)).as("aud")).head()
          ("docs_unique", r.getLong(0), r.getLong(1))
        })).flatten
      graft.util.Par.par(checks)
        .toDF("check", "violations", "audited")
    } finally post.unpersist(): Unit
  }

  /** INCREMENTAL fsck — the scheduled posture: verify only the
   *  entries that appeared AFTER the last verified watermark
   *  (`#fsck:<version>`), at cost ∝ fresh commits, never ∝ index.
   *  The checks are the COMMIT-LOCAL halves of [[fsck]]'s invariants
   *  (each holds over one commit's own immutable files at write
   *  time, so pre-watermark legs are never re-read):
   *
   *  | check           | violation = … (scoped to fresh entries)      |
   *  |-----------------|----------------------------------------------|
   *  | vocab_df        | per-commit vocab df ≠ that commit's posting
   *  |                 | recount                                      |
   *  | stats_local     | per-commit (nd, tl) ≠ recount from its posts |
   *  | pos_post_parity | (token, doc) in pos xor post within a commit,
   *  |                 | or size(positions) ≠ tf                      |
   *  | docs_coverage   | posted doc without a forward row (per commit)|
   *  | docs_unique     | forward doc with > 1 rows within a commit    |
   *  | tomb_wellformed | duplicate gone id, positive dvocab df or
   *  |                 | dstats delta, or |nd delta| > gone count     |
   *
   *  CROSS-commit drift (a stray writer rewriting an old file, a
   *  tombstone-scoping bug) is the FULL battery's job — incremental
   *  fsck certifies that nothing that LANDED since the watermark is
   *  internally torn, which is the affordable invariant a scheduled
   *  check can hold at 100 TB. All six rows are always present
   *  ((0, 0) when a leg/kind is absent this window) so reports have
   *  one stable shape. None when no watermark is live, its version
   *  was vacuumed, or a fold/retire consumed a verified entry — run
   *  [[fsck]] and republish instead.
   */
  def fsckIncremental(
      spark: SparkSession, dir: String): Option[graft.store.FsckScope] =
    core.fsckIncremental(spark, dir) { f =>
      val commits = f.commits
      val post = f.tagged(commits, "post")
        .map(_.select(col("cmt"), col("token"), col("doc_id"), col("tf"))
          .persist())
      try {
        val vocabRow = post match {
          case None => ("vocab_df", 0L, 0L)
          case Some(p) =>
            val folded = f.tagged(commits, "vocab").get
              .groupBy("cmt", "token").agg(sum("df").as("df"))
            val recount = p.groupBy("cmt", "token")
              .agg(count(lit(1)).as("df2"))
            val r = folded.join(recount, Seq("cmt", "token"), "full_outer")
              .agg(isViol(coalesce(col("df"), lit(0L)) =!=
                  coalesce(col("df2"), lit(0L))).as("viol"),
                count(lit(1)).as("aud")).head()
            ("vocab_df", r.getLong(0), r.getLong(1))
        }
        val statsRow = post match {
          case None => ("stats_local", 0L, 0L)
          case Some(p) =>
            val e = p.groupBy("cmt", "doc_id").agg(sum("tf").as("dl"))
              .groupBy("cmt").agg(count(lit(1)).as("nd2"),
                sum("dl").as("tl2"))
            val g = f.tagged(commits, "stats").get
              .groupBy("cmt").agg(coalesce(sum("nd"), lit(0L)).as("nd"),
                coalesce(sum("tl"), lit(0L)).as("tl"))
            val r = e.join(g, Seq("cmt"), "full_outer")
              .agg(isViol(col("nd").isNull || col("nd2").isNull ||
                  col("nd") =!= col("nd2") ||
                  col("tl") =!= col("tl2")).as("viol"),
                coalesce(sum("nd2"), lit(0L)).as("aud")).head()
            ("stats_local", r.getLong(0), r.getLong(1))
        }
        val posCs = commits.filter(f.has(_, "pos"))
        val posRow =
          if (posCs.isEmpty || post.isEmpty) ("pos_post_parity", 0L, 0L)
          else {
            val pp = post.get.where(col("cmt").isin(posCs: _*))
            val pos = f.tagged(posCs, "pos").get
              .select(col("cmt"), col("token"), col("doc_id"),
                size(col("positions")).cast("long").as("np"))
            val r = pp.join(pos, Seq("cmt", "token", "doc_id"), "full_outer")
              .agg(isViol(col("tf").isNull || col("np").isNull ||
                  col("tf") =!= col("np")).as("viol"),
                count(lit(1)).as("aud")).head()
            ("pos_post_parity", r.getLong(0), r.getLong(1))
          }
        val docCs = commits.filter(f.has(_, "docs"))
        val (covRow, uniqRow) =
          if (docCs.isEmpty || post.isEmpty)
            (("docs_coverage", 0L, 0L), ("docs_unique", 0L, 0L))
          else {
            val fwd = f.tagged(docCs, "docs").get
              .select("cmt", "doc_id")
            val cov = post.get.where(col("cmt").isin(docCs: _*))
              .select("cmt", "doc_id").distinct()
              .join(fwd.distinct().withColumn("has", lit(1)),
                Seq("cmt", "doc_id"), "left_outer")
              .agg(isViol(col("has").isNull).as("viol"),
                count(lit(1)).as("aud")).head()
            val u = fwd.groupBy("cmt", "doc_id")
              .agg(count(lit(1)).as("m"))
              .agg(isViol(col("m") > 1).as("viol"),
                count(lit(1)).as("aud")).head()
            (("docs_coverage", cov.getLong(0), cov.getLong(1)),
              ("docs_unique", u.getLong(0), u.getLong(1)))
          }
        // a tombstone's deltas are negative and subtract at most one
        // doc per gone id
        val tombRow = f.tombRow { g =>
          val dvViol = f.tagged(f.tombs, "dvocab")
            .map(_.agg(isViol(col("df") > 0)).head().getLong(0))
            .getOrElse(0L)
          val gcnt = g.groupBy("cmt").agg(count(lit(1)).as("gn"))
          val dsViol = f.tagged(f.tombs, "dstats")
            .map(_.groupBy("cmt")
              .agg(coalesce(sum("nd"), lit(0L)).as("nd"),
                coalesce(sum("tl"), lit(0L)).as("tl"))
              .join(gcnt, Seq("cmt"), "left_outer")
              .agg(isViol(col("nd") > 0 || col("tl") > 0 ||
                -col("nd") > coalesce(col("gn"), lit(0L)))).head()
              .getLong(0))
            .getOrElse(0L)
          dvViol + dsViol
        }
        (Seq(vocabRow, statsRow, posRow, covRow, uniqRow, tombRow),
          post.map(_.select("doc_id").distinct().localCheckpoint(true))
            .getOrElse(IndexCore.emptyIds(spark)))
      } finally post.foreach(_.unpersist(): Unit)
    }

  /** PREFIX SUGGESTION (autocomplete): top-`k` indexed tokens starting
   *  with `prefix`, ranked by folded document frequency (ties by
   *  token) — the query-suggestion surface a search box needs, served
   *  from the index's VOCAB legs alone. The vocab is
   *  vocabulary-grain (≪ corpus); the prefix cannot bucket-prune
   *  (buckets hash whole tokens) but pushes to the vocab scan as a
   *  StringStartsWith row-group filter, and the ranking is a
   *  [[TopK]] over the prefix matches — no global single-partition
   *  window over the full match set. Returns (rank, token, df).
   */
  def suggestPrefix(
      spark: SparkSession, dir: String, prefix: String, k: Int): DataFrame = {
    require(prefix.nonEmpty && k > 0, s"bad prefix/k: '$prefix'/$k")
    val top = vocabRows(spark, dir)
      .where(col("token").startsWith(prefix))
      .groupBy("token").agg(sum("df").as("df"))
      .where(col("df") > 0) // fully-deleted tokens must stop suggesting
    TopK(top, k, col("df").desc, col("token"))
      .select(col("rank"), col("token"), col("df"))
  }

  /** SCORE EXPLANATION: the per-term BM25 breakdown for the top-`k`
   *  docs of a query — (rank, doc_id, token, tf, dl, idf_ppm,
   *  contrib_ppm), one row per matched (doc, term) — the relevance-
   *  debugging surface behind every "why did this doc rank here".
   *  Costs one extra pruned posting probe beyond the search itself
   *  (same bucket pruning; the doc filter is a broadcast k-id
   *  literal), and each row's contrib_ppm sums to the search's
   *  score_ppm by construction (identical arithmetic).
   */
  def explainSearch(
      spark: SparkSession, dir: String, terms: Seq[String], k: Int,
      maxDf: Option[Long] = None): DataFrame = {
    val top = searchBm25(spark, dir, terms, k, maxDf)
      .select("rank", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // zero hits (terms absent from the index, or all over maxDf) is an
    // ordinary input: the explanation of an empty ranking is the empty
    // breakdown, not explainTop's bounded-top-k contract violation
    if (top.isEmpty) {
      import org.apache.spark.sql.types.{LongType, StringType}
      emptyResult(spark, "rank" -> LongType, "doc_id" -> LongType,
        "token" -> StringType, "tf" -> LongType, "dl" -> LongType,
        "idf_ppm" -> LongType, "contrib_ppm" -> LongType)
    } else explainTop(spark, dir, terms, top.toSeq, maxDf)
  }

  /** [[explainSearch]] for a caller that ALREADY ran the search —
   *  pass the (rank, doc_id) top-k and pay only the one extra pruned
   *  breakdown probe, not a recomputed first-stage search.
   */
  def explainTop(
      spark: SparkSession, dir: String, terms: Seq[String],
      top: Seq[(Long, Long)], maxDf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    require(top.nonEmpty && top.length <= 65536,
      s"explainTop takes a bounded ranked top-k (got ${top.length})")
    val ranks = broadcast(top.toDF("rank", "doc_id"))
    val (avgdl, _, idfPairs, posts) = bm25Prelude(spark, dir, terms, maxDf)
    val idf = idfPairs.toDF("token", "idf_ppm")
    posts
      .where(col("doc_id").isin(top.map(_._2).toSeq: _*))
      .join(broadcast(idf), "token")
      .join(ranks, "doc_id")
      .withColumn("contrib_ppm",
        round(col("idf_ppm").cast("double") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))))
          .cast("long"))
      .select(col("rank"), col("doc_id"), col("token"), col("tf"),
        col("dl"), col("idf_ppm"), col("contrib_ppm"))
  }

  /** FUZZY TERM SUGGESTION ("did you mean"): indexed tokens within
   *  Levenshtein distance `maxDist` of a (possibly misspelled) query
   *  term, ranked by (distance, folded df DESC, token) — the
   *  spell-correction surface in front of search. The exact term
   *  itself is excluded. Returns (rank, token, dist, df).
   *
   *  When every live commit carries the `del` leg and maxDist <=
   *  [[DelMaxDist]], candidates come from a DELETION-NEIGHBORHOOD KEY
   *  PROBE, never a vocabulary scan: the query term's deletes≤d
   *  variants (driver literals, ≤ |q|²) prune the del leg to their
   *  hash buckets with pushed variant equality; the surviving
   *  candidate tokens (the vocab inside the term's edit ball —
   *  bounded, collected loudly) are Levenshtein-verified and become a
   *  literal filter on the vocab probe for df. Exactness is the
   *  SymSpell invariant: lev(q,t) <= d implies the two deletion
   *  neighborhoods intersect, so the key probe can overgenerate but
   *  never miss. Cost ∝ the variants' key-bucket postings — at a
   *  web-scale vocabulary (10⁸–10⁹ tokens) this is the difference
   *  between a point probe and a full distributed scan per interactive
   *  suggest. Pre-leg indexes (or maxDist > ingest depth) fall back to
   *  the full-vocab Levenshtein scan with identical output.
   */
  def suggestFuzzy(
      spark: SparkSession, dir: String, term: String,
      maxDist: Int, k: Int): DataFrame = {
    require(term.nonEmpty && maxDist >= 1 && k > 0,
      s"bad term/maxDist/k: '$term'/$maxDist/$k")
    val pruned = maxDist <= DelMaxDist && core.onAllCommits(spark, dir, "del")
    val scored =
      if (!pruned)
        vocabRows(spark, dir)
          .groupBy("token").agg(sum("df").as("df"))
          .where(col("df") > 0)
          .withColumn("dist",
            levenshtein(col("token"), lit(term)).cast("long"))
          .where(col("dist") <= maxDist && col("token") =!= term)
      else {
        val variants = delNeighborhood(term, maxDist)
        import spark.implicits._
        val vBuckets = bucketsOf(variants.toDF("k"))
        // candidate tokens = the vocab inside the term's edit ball —
        // verified by the same Levenshtein before touching vocab df,
        // so the df probe's literal filter is survivor-small
        val cands = core.readLive(spark, dir, "del")
          .where(col("db").isin(vBuckets: _*) &&
            col("variant").isin(variants: _*))
          .select("token").distinct()
          .withColumn("dist",
            levenshtein(col("token"), lit(term)).cast("long"))
          .where(col("dist") <= maxDist && col("token") =!= term)
          .limit(65537).collect()
        require(cands.length <= 65536,
          s"fuzzy suggest for '$term' has > 65536 candidate tokens " +
            "inside its edit ball — raise the ranking cut upstream")
        if (cands.isEmpty) {
          import org.apache.spark.sql.types.{LongType, StringType}
          return emptyResult(spark, "rank" -> LongType,
            "token" -> StringType, "dist" -> LongType, "df" -> LongType)
        }
        val byTok = cands.map(r => r.getString(0) -> r.getLong(1)).toMap
        val distDf = broadcast(byTok.toSeq.toDF("token", "dist"))
        vocabRows(spark, dir)
          .where(col("token").isin(byTok.keys.toSeq: _*))
          .groupBy("token").agg(sum("df").as("df"))
          // a candidate whose folded df reached 0 was fully deleted —
          // the del leg may still carry its keys until compaction, but
          // the df fold is what decides liveness
          .where(col("df") > 0)
          .join(distDf, "token")
      }
    TopK(scored, k, col("dist").asc, col("df").desc, col("token"))
      .select(col("rank"), col("token"), col("dist"), col("df"))
  }

  /** POSITIONAL PHRASE SEARCH — the operator that lifts
   *  [[searchPhrase]]'s 65536-conjunctive-candidate refusal: phrase
   *  occurrences are counted INDEX-SIDE from the `pos` leg, so a
   *  stop-word-grade phrase ("to be or not to be") is a distributed
   *  aggregation, not a driver-collected candidate list. One posting
   *  scan pruned to the phrase tokens' tb buckets with pushed token
   *  equality; positions explode, each (token @ p, phrase-offset j)
   *  pair proposes start = p − j via a broadcast (token, off) literal
   *  join, and a (doc, start) distinct-offset count equal to the
   *  phrase length is exactly one occurrence — adjacent repeats and
   *  overlapping self-similar phrases count correctly because starts,
   *  not substring arithmetic, are what's counted (the same semantics
   *  as [[searchPhrase]]'s sliding verify, so the two paths agree
   *  wherever both can answer). Nothing collects to the driver and
   *  nothing is ∝ corpus except the pruned positional scan itself.
   *  Returns (rank, doc_id, n_occurrences).
   */
  def searchPhrasePositional(
      spark: SparkSession, dir: String, phrase: String, k: Int): DataFrame = {
    import spark.implicits._
    val toks = phrase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(toks.nonEmpty && k > 0, s"bad phrase/k: '$phrase'/$k")
    require(hasPositionalLeg(spark, dir),
      s"index $dir has no positional leg on every live commit — it " +
        "predates positional ingest; use searchPhrase (candidate-then-" +
        "verify, capped) with the corpus")
    val terms = toks.distinct
    val termBuckets = bucketsOf(terms.toDF("k"))
    val offsets = broadcast(
      toks.zipWithIndex.map { case (t, j) => (t, j.toLong) }
        .toDF("token", "off"))
    val n = toks.size
    val occurrences = docGrain(spark, dir, "pos")
      .where(col("tb").isin(termBuckets: _*) &&
        col("token").isin(terms: _*))
      .select(col("token"), col("doc_id"),
        explode(col("positions")).as("p"))
      .join(offsets, "token")
      .select(col("doc_id"), (col("p") - col("off")).as("start"), col("off"))
      .groupBy("doc_id", "start")
      .agg(count_distinct(col("off")).as("nmatch"))
      .where(col("nmatch") === n)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_occurrences"))
    TopK(occurrences, k, col("n_occurrences").desc, col("doc_id"))
      .select(col("rank"), col("doc_id"), col("n_occurrences"))
  }

  /** PHRASE SEARCH as candidate-then-verify — the scalable phrase
   *  shape on a POSITIONLESS inverted index: (1) candidates are the
   *  docs containing ALL phrase tokens, from the pruned posting scan
   *  alone (conjunctive containment: per-doc matched-term count must
   *  equal the phrase's distinct-term count); (2) candidates' text is
   *  fetched from `corpus` by point lookup and verified POSITIONALLY:
   *  the occurrence count is the number of start positions `i` with
   *  `tokens[i..i+n-1] == phrase` (a sliding token scan — exact for
   *  adjacent repeats and overlapping self-similar phrases alike,
   *  where substring-replace arithmetic undercounts), ties to
   *  smallest doc_id. Candidates are capped LOUDLY at 65536 — a
   *  phrase of stop-word-grade tokens has corpus-grain conjunctive
   *  candidates and must be handled by a positional index instead.
   *  Returns (rank, doc_id, n_occurrences).
   */
  def searchPhrase(
      spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, textCol: String, phrase: String, k: Int): DataFrame =
    searchPhraseWith(spark, dir, phrase, k, ids =>
      corpus.where(col(idCol).isin(ids: _*))
        .select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** [[searchPhrase]] answering the verify stage from the index's OWN
   *  forward `docs` leg — no corpus parameter: candidate text comes
   *  back by fb-pruned point lookup ([[docsFor]]), so the index serves
   *  phrases self-contained. Requires the docs leg on every live
   *  commit.
   */
  def searchPhrase(
      spark: SparkSession, dir: String, phrase: String, k: Int): DataFrame =
    searchPhraseWith(spark, dir, phrase, k, ids => docsFor(spark, dir, ids))

  private def searchPhraseWith(
      spark: SparkSession, dir: String, phrase: String, k: Int,
      fetch: Seq[Long] => DataFrame): DataFrame = {
    import spark.implicits._
    val toks = phrase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(toks.nonEmpty && k > 0, s"bad phrase/k: '$phrase'/$k")
    val terms = toks.distinct
    val termBuckets = bucketsOf(terms.toDF("k"))
    val candIds = docGrain(spark, dir, "post")
      .where(col("tb").isin(termBuckets: _*) &&
        col("token").isin(terms: _*))
      .groupBy("doc_id")
      .agg(count_distinct(col("token")).as("nt"))
      .where(col("nt") === terms.size)
      .select("doc_id")
      .limit(65537).collect().map(_.getLong(0))
    require(candIds.length <= 65536,
      s"phrase '$phrase' has > 65536 conjunctive candidates — " +
        "stop-word-grade tokens need the positional probe " +
        "(searchPhrasePositional), not candidate-then-verify")
    if (candIds.isEmpty)
      return spark.emptyDataFrame
        .select(lit(0L).as("rank"), lit(0L).as("doc_id"),
          lit(0L).as("n_occurrences")).limit(0)
    val n = toks.size
    val occurrences = fetch(candIds.toSeq)
      .select(col("doc_id"),
        graft.text.TextOps.tokens(col("text")).as("tokens"))
      .withColumn("n_occurrences",
        when(size(col("tokens")) >= n,
          size(filter(sequence(lit(1), size(col("tokens")) - n + 1),
            i => toks.zipWithIndex.map { case (tk, j) =>
              element_at(col("tokens"), i + j) === tk
            }.reduce(_ && _))))
          .otherwise(lit(0)).cast("long"))
      .where(col("n_occurrences") > 0)
    TopK(occurrences, k, col("n_occurrences").desc, col("doc_id"))
      .select(col("rank"), col("doc_id"), col("n_occurrences"))
  }

  /** INDEX-SIDE PROXIMITY SEARCH (NEAR/w): docs where ALL query terms
   *  co-occur within a window of at most `w` tokens, ranked by the
   *  minimal such window (ties by doc_id) — answered ENTIRELY from
   *  the `pos` leg. The pruned positional rows (tb directory pruning
   *  + pushed token equality) explode and run the classic last-seen
   *  min-window sweep per doc ([[TextOps.lastSeenSweep]] — a
   *  partitioned window over the TERMS' positions only, never the
   *  doc's full token stream, never corpus text). This is the
   *  proximity operator candidate-then-verify cannot offer at scale:
   *  stop-word-grade terms stay a distributed aggregation with no
   *  candidate cap and nothing driver-collected ([[searchPhrase]]'s
   *  sibling trade, same as the positional phrase probe). Returns
   *  (rank, doc_id, min_window), min_window <= w.
   */
  def searchNear(
      spark: SparkSession, dir: String, terms0: Seq[String],
      w: Int, k: Int): DataFrame = {
    import spark.implicits._
    val terms = terms0.distinct.sorted
    require(terms.nonEmpty && k > 0 && w >= terms.size,
      s"bad terms/w/k: $terms0/$w/$k (a window below the distinct term " +
        "count can never contain them all)")
    require(hasPositionalLeg(spark, dir),
      s"index $dir has no positional leg on every live commit — NEAR " +
        "needs positional ingest")
    val termBuckets = bucketsOf(terms.toDF("k"))
    val pos = docGrain(spark, dir, "pos")
      .where(col("tb").isin(termBuckets: _*) &&
        col("token").isin(terms: _*))
      .select(col("doc_id"), explode(col("positions")).as("pos"),
        col("token"))
    val windows = TextOps.lastSeenSweep(pos, terms)
      .where(col("nn") === terms.size)
      .select(col("doc_id"),
        (col("pos") - col("lmin") + 1).cast("long").as("wl"))
      .groupBy("doc_id").agg(min(col("wl")).as("min_window"))
      .where(col("min_window") <= w)
    TopK(windows, k, col("min_window").asc, col("doc_id"))
      .select(col("rank"), col("doc_id"), col("min_window"))
  }

  /** ORDERED SLOPPY-PHRASE SEARCH (phrase within a window): docs where
   *  the query terms occur IN PHRASE ORDER within a window of at most
   *  `w` tokens (w = phrase length degenerates to the exact adjacent
   *  phrase; [[searchNear]] is the unordered sibling). Answered
   *  entirely from the `pos` leg by the classic latest-start
   *  minimal-window-subsequence DP: one pass per term layers a
   *  running-max window over the doc-ordered positions — at any
   *  position, s_j = the LATEST start of a chain matching the first j
   *  terms strictly before it (a later start always dominates: the
   *  window is shorter and any continuation prefers it) — so the last
   *  term's rows read their best window directly. All n window passes
   *  share ONE (doc_id, pos) sort: no extra shuffle per term, nothing
   *  driver-collected, cost ∝ the terms' positional postings. Returns
   *  (rank, doc_id, min_window), min_window <= w, ranked (window ASC,
   *  doc_id).
   */
  def searchPhraseSloppy(
      spark: SparkSession, dir: String, phrase: String,
      w: Int, k: Int): DataFrame = {
    import spark.implicits._
    val toks = phrase.trim.split("\\s+").toSeq.filter(_.nonEmpty)
    require(toks.nonEmpty && k > 0 && w >= toks.size,
      s"bad phrase/w/k: '$phrase'/$w/$k (a window below the phrase " +
        "length can never contain it in order)")
    require(hasPositionalLeg(spark, dir),
      s"index $dir has no positional leg on every live commit — sloppy " +
        "phrases need positional ingest")
    val terms = toks.distinct
    val termBuckets = bucketsOf(terms.toDF("k"))
    val pos = docGrain(spark, dir, "pos")
      .where(col("tb").isin(termBuckets: _*) &&
        col("token").isin(terms: _*))
      .select(col("doc_id"), explode(col("positions")).as("pos"),
        col("token"))
    // strictly-preceding rows only: a duplicated phrase token must not
    // chain through its own occurrence
    val prev = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(Window.unboundedPreceding, -1)
    val layered = toks.zipWithIndex.drop(1).foldLeft(
      pos.withColumn("s0",
        when(col("token") === toks.head, col("pos")))) {
      case (df, (_, j)) =>
        df.withColumn(s"s$j",
          max(when(col("token") === toks(j - 1), col(s"s${j - 1}")))
            .over(prev))
    }
    val last = s"s${toks.size - 1}"
    val n = toks.size
    val end =
      if (n == 1) layered.withColumn("chain_start", col("s0"))
      else layered.withColumn("chain_start",
        when(col("token") === toks.last, col(last)))
    val windows = end
      .where(col("chain_start").isNotNull &&
        col("token") === toks.last)
      .select(col("doc_id"),
        (col("pos") - col("chain_start") + 1).cast("long").as("wl"))
      .groupBy("doc_id").agg(min(col("wl")).as("min_window"))
      .where(col("min_window") <= w)
    TopK(windows, k, col("min_window").asc, col("doc_id"))
      .select(col("rank"), col("doc_id"), col("min_window"))
  }

  /** RM3 PSEUDO-RELEVANCE-FEEDBACK search: BM25 top-`fbK` feedback
   *  docs from one pruned probe; RM1 expansion-term weights as exact
   *  integer sums (feedback score_ppm × round(1e6·tf/dl) — both
   *  factors integers, so the fold is order-independent and
   *  engine-exact); the top-`expK` expansion terms (ties by token)
   *  join the original terms — full weight — at `expWeightPpm`; one
   *  weighted re-probe ([[searchBm25Weighted]]) answers. The feedback
   *  docs' text comes from `corpus` by an `fbK`-id point lookup (the
   *  forward-index shape — at scale the predicate pushes to row-group
   *  point reads), NEVER a corpus scan: the whole expansion costs two
   *  pruned posting probes plus an `fbK`-doc tokenize.
   */
  def searchBm25Rm3(
      spark: SparkSession, dir: String, corpus: DataFrame,
      idCol: String, textCol: String, terms: Seq[String], k: Int,
      fbK: Int = 10, expK: Int = 5, expWeightPpm: Long = 500000L,
      maxDf: Option[Long] = None): DataFrame =
    searchBm25Rm3With(spark, dir, terms, k, fbK, expK, expWeightPpm,
      maxDf, ids =>
        corpus.where(col(idCol).isin(ids: _*))
          .select(col(idCol).as("doc_id"), col(textCol).as("text")))

  /** [[searchBm25Rm3]] reading the feedback docs' text from the
   *  index's OWN forward `docs` leg by fb-pruned point lookup — no
   *  corpus parameter; requires the docs leg on every live commit.
   */
  def searchBm25Rm3(
      spark: SparkSession, dir: String, terms: Seq[String], k: Int,
      fbK: Int, expK: Int, expWeightPpm: Long,
      maxDf: Option[Long]): DataFrame =
    searchBm25Rm3With(spark, dir, terms, k, fbK, expK, expWeightPpm,
      maxDf, ids => docsFor(spark, dir, ids))

  private def searchBm25Rm3With(
      spark: SparkSession, dir: String, terms: Seq[String], k: Int,
      fbK: Int, expK: Int, expWeightPpm: Long, maxDf: Option[Long],
      fetch: Seq[Long] => DataFrame): DataFrame = {
    require(terms.nonEmpty && k > 0 && fbK > 0 && expK >= 0 &&
      expWeightPpm > 0, s"bad rm3 parameters: k=$k fbK=$fbK expK=$expK")
    import spark.implicits._
    // feedback is a first-stage top-k: bounded by contract
    val fb = searchBm25(spark, dir, terms, fbK, maxDf)
      .select("doc_id", "score_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expTerms: Seq[String] =
      if (fb.isEmpty) Seq.empty
      else {
        val fbScores = broadcast(fb.toSeq.toDF("doc_id", "fb_score"))
        val tf = fetch(fb.map(_._1).toSeq)
          .select(col("doc_id"),
            explode(TextOps.tokens(col("text"))).as("token"))
          .where(length(col("token")) > 0)
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
        tf.join(dl, "doc_id").join(fbScores, "doc_id")
          .where(!col("token").isin(terms: _*))
          .withColumn("contrib_ppm",
            round(lit(1000000.0) * col("tf") / col("dl")).cast("long"))
          .groupBy("token")
          .agg(sum(col("fb_score") * col("contrib_ppm")).as("w"))
          .orderBy(col("w").desc, col("token"))
          .limit(expK).select("token").collect().map(_.getString(0)).toSeq
      }
    searchBm25Weighted(spark, dir,
      terms.map((_, 1000000L)) ++ expTerms.map((_, expWeightPpm)), k, maxDf)
  }

  /** BATCHED multi-query BM25: score a TABLE of queries —
   *  (query_id, token) rows — in ONE pruned posting scan. This is the
   *  production batch-retrieval shape (an eval suite, a distillation
   *  query log, RAG over a request batch): [[searchBm25]] is
   *  single-query with driver-side scalar folds, so N queries cost N
   *  stats folds + N vocab probes + N posting scans; here the UNION of
   *  the batch's terms prunes one scan exactly the way a single
   *  query's terms would (token-bucket directory pruning + pushed
   *  token equality), the query table broadcasts onto the postings,
   *  and the top-k ranks per query under a rank-limited window
   *  (partitionBy query_id — WindowGroupLimit keeps per-task state at
   *  k, no global sort). Per-term scoring is IDENTICAL to
   *  [[searchBm25]] (same driver-computed idf arithmetic), so a batch
   *  of one query returns exactly that query's search results.
   *
   *  The batch's distinct (query_id, token) PAIRS collect to the
   *  driver — bounded (≤ 262144 pairs AND ≤ 65536 distinct terms,
   *  loud past either cap; split larger batches) — so the pruning
   *  literals and the posting-join side derive from ONE evaluation
   *  of a possibly-nondeterministic `queries` frame, the same
   *  capped-small contract as [[containmentProbe]]; duplicate terms
   *  within a query count once, as in searchBm25.
   *
   *  Returns (query_id, rank, doc_id, score_ppm, n_terms), rank ≤ k
   *  per query.
   */
  def searchBm25Batch(
      spark: SparkSession, dir: String, queries: DataFrame, k: Int,
      maxDf: Option[Long] = None): DataFrame = {
    import spark.implicits._
    // the pruning-term literals and the posting-join side must see the
    // SAME rows even if `queries` is nondeterministic — so the pairs
    // collect ONCE to the driver (bounded: the batch is capped-small
    // by contract, loud past the cap) and both derive from that one
    // collected set, rebuilt as a literal broadcast frame
    val qtRows = queries.select(col("query_id"), col("token")).distinct()
    val pairs = qtRows.limit(262145).collect()
    require(pairs.length <= 262144,
      s"searchBm25Batch query batch has >= ${pairs.length} (query, term) " +
        "pairs — the batch probe is for capped-small query sets (split it)")
    val qt = spark.createDataFrame(
      java.util.Arrays.asList(pairs: _*), qtRows.schema)
    val terms = pairs.map(_.getString(1)).distinct
    require(terms.nonEmpty, "searchBm25Batch with no terms")
    require(terms.length <= 65536,
      s"searchBm25Batch query batch has ${terms.length} distinct terms — " +
        "the batch probe is for capped-small query sets (split it)")
    val (avgdl, _, idfPairs, posts) =
      bm25Prelude(spark, dir, terms.toSeq, maxDf)
    val idf = idfPairs.toDF("token", "idf_ppm")
    posts
      .join(broadcast(idf), "token")
      .join(broadcast(qt), "token") // fan out to the queries naming the term
      .withColumn("score_ppm",
        round(col("idf_ppm").cast("double") * (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / lit(avgdl))))
          .cast("long"))
      .groupBy("query_id", "doc_id")
      .agg(sum("score_ppm").as("score_ppm"), count(lit(1)).as("n_terms"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("score_ppm").desc, col("doc_id"))).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score_ppm"), col("n_terms"))
  }

  /** INDEX-ACCELERATED DECONTAMINATION: find corpus documents whose
   *  token overlap with a (capped-small) benchmark table is high,
   *  touching ONLY the benchmark's terms' posting lists — the
   *  decontamination posture when the corpus can no longer be scanned
   *  per benchmark: probe cost is ∝ the benchmark's tokens' postings
   *  (token-bucket directory pruning + pushed-down token equality,
   *  the same scan shape as [[searchBm25]]), never ∝ the corpus.
   *
   *  A benchmark token is KEPT iff it is indexed and its folded df ≤
   *  `maxDf` — a ubiquitous token carries no contamination signal and
   *  its posting list is corpus-grain (the stop-word cap, same
   *  discipline as search). Containment is |posting overlap| / |kept
   *  benchmark tokens| in exact integer ppm, so any engine computing
   *  the same definition hash-matches. Returns (bench_id, doc_id,
   *  n_kept, overlap, containment_ppm) for pairs ≥ `minPpm`.
   *
   *  The benchmark's distinct tokens collect to the driver (bounded —
   *  a benchmark is small by contract; loud failure past the cap) to
   *  become LITERAL token/bucket filters, exactly like search terms.
   */
  def containmentProbe(
      spark: SparkSession, dir: String, bench: DataFrame,
      idCol: String, textCol: String, maxDf: Long, minPpm: Long): DataFrame = {
    val bt = bench
      .select(col(idCol).as("bench_id"),
        explode(TextOps.tokens(col(textCol))).as("token"))
      .where(length(col("token")) > 0)
      .distinct()
      .persist()
    try {
      val terms = bt.select("token").distinct().collect().map(_.getString(0))
      require(terms.length <= 65536,
        s"containmentProbe benchmark has ${terms.length} distinct tokens — " +
          "the probe is for capped-small benchmarks (split it, or scan)")
      val dfByTerm = vocabRows(spark, dir)
        .where(col("token").isin(terms.toSeq: _*))
        .groupBy("token").agg(sum("df").as("df"))
        .where(col("df") > 0)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val kept = terms.filter(t => dfByTerm.get(t).exists(_ <= maxDf)).toSeq
      val keptBt = bt.where(col("token").isin(kept: _*))
      val nKept = keptBt.groupBy("bench_id").agg(count(lit(1)).as("n_kept"))
      val termBuckets = {
        import spark.implicits._
        bucketsOf(kept.toDF("k"))
      }
      // postings are unique per (token, doc): shards partition docs and
      // compaction concatenates, so count(*) IS the distinct-token overlap
      val posts = docGrain(spark, dir, "post")
        .where(col("tb").isin(termBuckets: _*) &&
          col("token").isin(kept: _*))
      posts.select("token", "doc_id")
        .join(broadcast(keptBt), Seq("token"))
        .groupBy("bench_id", "doc_id")
        .agg(count(lit(1)).as("overlap"))
        .join(broadcast(nKept), Seq("bench_id"))
        .withColumn("containment_ppm",
          expr("1000000 * overlap div n_kept"))
        .where(col("containment_ppm") >= minPpm)
        .select(col("bench_id"), col("doc_id"), col("n_kept"),
          col("overlap"), col("containment_ppm"))
    } finally bt.unpersist(): Unit
  }

  /** INDEXED PHRASE PERCOLATION (reverse phrase search at rule
   *  scale): match a batch of documents against phrase rules STORED
   *  AS A TEXT INDEX — each rule ingested as a one-phrase document
   *  (rule id = doc_id, phrase = text, [[LegProfile]] with `pos`) —
   *  lifting [[TextOps.percolatePhrases]]' 4096-literal-rule cap to
   *  an unbounded persisted rule set (the alerting registry shape: a
   *  million standing "page me when ..." phrases, maintained by the
   *  same ingest/compact/forget lifecycle as any index).
   *
   *  Matching is a WINDOW-EQUIJOIN, not a token join: (1) candidate
   *  rules RECONSTRUCT their phrase string from the positional
   *  postings — pruned to the batch's own token buckets with pushed
   *  token equality, so this is ∝ rules sharing vocabulary with the
   *  batch, never the registry, and a rule with ANY token absent
   *  from the batch reconstructs incomplete and is dropped by the
   *  offsets-count = stored-dl completeness check (it cannot match
   *  anyway); (2) the batch computes every doc's sliding token
   *  window of each DISTINCT rule length (≤ 64 lengths, loud —
   *  token-linear per length), and the window STRING equijoins the
   *  phrase string — space-joined tokens are injective under a
   *  space tokenizer, so the join is EXACT, its output is the true
   *  match set, and its cost is hash-join linear. A per-token join
   *  would instead pay Σ_t freq_doc(t)·freq_rules(t) — quadratic in
   *  common-token frequency and ruinous on small vocabularies (the
   *  31-word synthetic corpus measured 114M pairs for a 43k-rule ×
   *  500-doc batch). Adjacent repeats and overlapping self-similar
   *  phrases count exactly (each start is its own window row). The
   *  batch's distinct tokens are the only driver-collected set
   *  (≤ 65536, loud: percolation batches are micro-batch-grain by
   *  contract; split larger ones). Rules are NEVER broadcast as
   *  literals.
   *
   *  Output (query_id, doc_id, n_occurrences), matches only —
   *  identical to percolatePhrases over the same rules.
   */
  def percolateIndexed(
      spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    require(hasPositionalLeg(spark, dir),
      s"rule index $dir has no positional leg on every live commit — " +
        "ingest rules with a pos-bearing LegProfile")
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    val dtk = docs
      .select(col(idCol).as("doc_id"),
        filter(TextOps.tokens(col(textCol)),
          t => length(t) > 0).as("tk"))
      .persist()
    try {
      val dtok = dtk
        .select(explode(col("tk")).as("token")).distinct()
        .limit(65537).collect().map(_.getString(0)).toSeq
      require(dtok.length <= 65536,
        "percolateIndexed batch has > 65536 distinct tokens — split " +
          "the batch (the token set prunes the rule-index scan and " +
          "must stay driver-bounded)")
      if (dtok.isEmpty)
        return emptyResult(spark, "query_id" -> LongType,
          "doc_id" -> LongType, "n_occurrences" -> LongType)
      val buckets = bucketsOf(dtok.toDF("k"))
      // candidate rules' phrase lengths: dl rides every posting row
      // (dl = the rule-document's token count), pruned by the batch's
      // tokens — rule-grain rows, only for rules sharing vocabulary
      val rlen = docGrain(spark, dir, "post")
        .where(col("tb").isin(buckets: _*) &&
          col("token").isin(dtok: _*))
        .select(col("doc_id").as("query_id"), col("dl").as("n"))
        .distinct()
      // reconstruct each candidate rule's phrase from its pruned
      // positional rows; rules missing any token (absent from the
      // batch) reconstruct short and fail the completeness check
      val rphrase = docGrain(spark, dir, "pos")
        .where(col("tb").isin(buckets: _*) &&
          col("token").isin(dtok: _*))
        .select(col("doc_id").as("query_id"), col("token"),
          explode(col("positions")).as("off"))
        .groupBy("query_id")
        .agg(count(lit(1)).as("n_off"),
          concat_ws(" ", transform(
            sort_array(collect_list(struct(col("off"), col("token")))),
            s => s.getField("token"))).as("phrase"))
        .join(rlen, "query_id")
        .where(col("n_off") === col("n"))
        .select(col("query_id"), col("n"), col("phrase"))
        .persist()
      // distinct candidate rule lengths drive the doc-side windowing —
      // a rule REGISTRY has few distinct phrase lengths by nature
      val lengths = rphrase.select(col("n")).distinct()
        .limit(65).collect().map(_.getLong(0)).toSeq
      try {
        if (lengths.isEmpty)
          return emptyResult(spark, "query_id" -> LongType,
            "doc_id" -> LongType, "n_occurrences" -> LongType)
        require(lengths.length <= 64,
          "percolateIndexed rule registry has > 64 distinct phrase " +
            "lengths sharing vocabulary with this batch — split the " +
            "registry by length band")
        val windows = dtk
          .select(col("doc_id"), col("tk"),
            explode(array(lengths.map(lit): _*)).as("n"))
          .where(size(col("tk")) >= col("n"))
          .select(col("doc_id"), col("n"),
            explode(transform(
              sequence(lit(1), size(col("tk")) - col("n") + 1),
              s => concat_ws(" ", slice(col("tk"), s, col("n")))))
              .as("phrase"))
        windows.join(rphrase, Seq("n", "phrase"))
          .groupBy("query_id", "doc_id")
          .agg(count(lit(1)).as("n_occurrences"))
          .select(col("query_id"), col("doc_id"), col("n_occurrences"))
      } finally rphrase.unpersist(): Unit
    } finally dtk.unpersist(): Unit
  }

  /** Fold `roots` — (commit dir, the tombstone dirs it must apply) —
   *  into the staged commit dir `dst`: the ONE leg-fold body
   *  compaction and federated merge share. Core legs (post/vocab/
   *  stats) are mandatory; the optional legs (pos/del/docs) fold iff
   *  present on EVERY input and refuse loudly on a mixed set (a partial
   *  leg would silently answer from part of the corpus). All folds are
   *  the legs' own monoids: postings/positions/docs concatenate
   *  (tb/db/fb are pure functions of their key, identical across
   *  shards, so bucket layout is preserved), vocab df and stats
   *  (nd, tl) sum, del keys set-union (the same (variant, token) pair
   *  recurs when shards share a token — folding dedups so the leg
   *  stays vocabulary-grain instead of growing with shard history).
   *
   *  Tombstone application (full folds only): each root's doc-grain
   *  rows drop its own tombstones' docs; vocab/stats fold the retired
   *  tombstones' (`tombs`) negative deltas in and keep df > 0, and del
   *  keys semi-join the surviving vocab so fully-deleted tokens stop
   *  key-probing.
   */
  private def foldLegs(
      spark: SparkSession, roots: Seq[(String, Seq[String])],
      tombs: Seq[String], dst: String): Unit = {
    def having(sub: String): Seq[String] =
      roots.map(r => s"${r._1}/$sub").filter(IndexCore.exists(spark, _))
    def uniform(sub: String): Boolean = {
      val h = having(sub).size
      require(h == 0 || h == roots.size,
        s"cannot fold: leg '$sub' exists on $h of ${roots.size} " +
          "input commits — a mixed-generation fold would publish a " +
          "partial leg that silently answers from part of the corpus; " +
          "re-ingest the pre-leg shards (or fold them separately) first")
      h > 0
    }
    def scoped(sub: String): DataFrame =
      core.without(spark, sub, roots, Seq("doc_id"), identity)
        .getOrElse(core.empty(spark, sub))
    def withDelta(sub: String): DataFrame = {
      val base = core.read(spark, sub, having(sub))
      if (tombs.isEmpty) base
      else base.unionByName(core.read(spark, s"d$sub", tombs.map(t => s"$t/d$sub")))
    }
    def foldedVocab: DataFrame =
      withDelta("vocab").groupBy("token").agg(sum(col("df")).as("df"))
        .where(col("df") > 0)
    val jobs = Seq(
      Some(() =>
        scoped("post")
          .select(col("token"), col("doc_id"), col("tf"), col("dl"), col("tb"))
          .repartition(TokenBuckets, col("tb"))
          .write.partitionBy("tb").parquet(s"$dst/post")),
      Option.when(uniform("pos"))(() =>
        scoped("pos")
          .select(col("token"), col("doc_id"), col("positions"), col("tb"))
          .repartition(TokenBuckets, col("tb"))
          .write.partitionBy("tb").parquet(s"$dst/pos")),
      Some(() =>
        foldedVocab
          .coalesce(4)
          .write.parquet(s"$dst/vocab")),
      Option.when(uniform("del"))(() => {
        val base = core.read(spark, "del", having("del"))
          .select(col("variant"), col("token"), col("db"))
          .dropDuplicates("variant", "token")
        val live =
          if (tombs.isEmpty) base
          else base.join(foldedVocab.select("token"), Seq("token"),
            "left_semi")
        live
          .repartition(TokenBuckets, col("db"))
          .write.partitionBy("db").parquet(s"$dst/del")
      }),
      Some(() =>
        withDelta("stats")
          .agg(sum(col("nd")).as("nd"), sum(col("tl")).as("tl"))
          .coalesce(1).write.parquet(s"$dst/stats")),
      Option.when(uniform("docs"))(() =>
        scoped("docs")
          .select(col("doc_id"), col("text"), col("fb"))
          .repartition(TokenBuckets, col("fb"))
          .write.partitionBy("fb").parquet(s"$dst/docs"))
    ).flatten
    graft.util.Par.par(jobs): Unit
  }

  /** Full fold: every live shard commit into one. Right for an
   *  explicit "optimize"; the steady-state policy is [[compactTiered]]
   *  (a full fold under sustained ingest rewrites O(N²) bytes total).
   */
  def compact(spark: SparkSession, dir: String): Unit =
    compactTiered(spark, dir, fanIn = Int.MaxValue)

  /** SIZE-TIERED shard compaction ([[graft.store.IndexCore.compactTiered]])
   *  of the index's legs, which all fold associatively ([[foldLegs]]).
   *  Without it every ingested shard adds a commit dir forever and
   *  [[searchBm25]]'s per-commit union grows linearly in shard count —
   *  query-PLANNING cost ∝ history. Folding only the `fanIn` smallest
   *  commits bounds write amplification (a commit's bytes are
   *  rewritten O(log N)-ish times over its life, not once per
   *  trigger).
   */
  def compactTiered(spark: SparkSession, dir: String, fanIn: Int = 8): Unit =
    core.compactTiered(spark, dir, fanIn, "compactTiered")(
      foldLegs(spark, _, _, _))

  /** The per-commit in-place rewrite behind tombstone retirement AND
   *  the Minimal-profile direct delete: each `covered` commit holding
   *  any `gone` doc rewrites WITHOUT them — doc-grain legs anti-join
   *  the gone set; vocab/stats RECOMPUTE from the surviving postings
   *  (df = live posting rows per token, nd/tl = live docs / token
   *  total — the ingest-time invariants, which exact-delta folds
   *  preserve); del keys semi-join the surviving vocab so
   *  fully-deleted tokens stop key-probing. Returns old-name ->
   *  new-name ("" = every doc gone, drop the commit); the caller owns
   *  the atomic publish.
   *
   *  ZERO-TOKEN DOCS (text that tokenizes to nothing) live ONLY in
   *  the forward docs leg — ingest writes docs rows for every doc but
   *  postings only for tokens — so both the containment probe and the
   *  drop-commit decision run over docs ∪ post, never post alone: a
   *  post-only probe would skip the commit holding an erased
   *  zero-token doc's text (the text resurrects in docsFor/docsWhere
   *  the moment its tombstone retires — an erasure-contract breach
   *  full folds don't have, since they anti-join the docs leg), and a
   *  post-only drop decision would destroy still-live zero-token
   *  docs' forward rows when a commit's postings all die. A commit
   *  whose postings empty but whose docs survive rewrites with
   *  zero-row token-grain legs written UNPARTITIONED (an empty
   *  partitionBy write creates no files and is unreadable; a plain
   *  empty write keeps one schema-bearing file) — every read of a
   *  partitioned leg is per commit ([[graft.store.IndexCore.read]]),
   *  so layout can differ per commit.
   */
  private def rewriteCommitsWithout(
      spark: SparkSession, dir: String, gone: DataFrame,
      covered: Seq[String]): Map[String, String] = {
    val touched = core.touched(covered, gone) { c =>
      // docs ∪ post: zero-token docs appear in the docs leg only
      Seq(core.at(spark, dir, c, "post"), core.at(spark, dir, c, "docs"))
        .flatten.map(_.select(col("doc_id")))
    }
    covered.flatMap { c =>
      if (!touched.contains(c)) None
      else {
        val name = IndexCore.rewriteName(c)
        val dst = dataDir(dir, name)
        val post2 = core.at(spark, dir, c, "post").get
          .join(gone, Seq("doc_id"), "left_anti").persist()
        val docs2 = core.at(spark, dir, c, "docs")
          .map(_.join(gone, Seq("doc_id"), "left_anti").persist())
        try {
          val postEmpty = post2.isEmpty
          if (postEmpty && docs2.forall(_.isEmpty))
            // every doc of this commit is taken down across BOTH
            // doc-grain legs — drop the commit from the live list
            // instead of publishing an empty one
            Some(c -> "")
          else {
            // concurrent leg writes off the materialized post2/docs2
            // caches (the isEmpty probes above already populated
            // them). When the postings all died but forward docs
            // survive (zero-token docs), the token-grain legs are zero
            // rows: write them plain
            val vocab2 = post2.groupBy("token")
              .agg(count(lit(1)).as("df"))
            def bucketed(df: DataFrame, bcol: String, leg: String): Unit =
              if (postEmpty)
                df.coalesce(1).write.parquet(s"$dst/$leg")
              else
                df.repartition(TokenBuckets, col(bcol))
                  .write.partitionBy(bcol).parquet(s"$dst/$leg")
            val jobs = Seq(
              Some(() => bucketed(post2
                .select(col("token"), col("doc_id"), col("tf"), col("dl"),
                  col("tb")), "tb", "post")),
              Some(() =>
                vocab2.coalesce(4).write.parquet(s"$dst/vocab")),
              Some(() => post2.groupBy("doc_id").agg(sum("tf").as("dl"))
                .agg(count(lit(1)).as("nd"),
                  coalesce(sum(col("dl")), lit(0L)).as("tl"))
                .coalesce(1).write.parquet(s"$dst/stats")),
              core.at(spark, dir, c, "pos").map(pos => () =>
                bucketed(pos.join(gone, Seq("doc_id"), "left_anti")
                  .select(col("token"), col("doc_id"), col("positions"),
                    col("tb")), "tb", "pos")),
              docs2.map(d => () =>
                // docs2 ⊇ post2's docs, so it is non-empty here —
                // always the partitioned layout
                d.select(col("doc_id"), col("text"), col("fb"))
                  .repartition(TokenBuckets, col("fb"))
                  .write.partitionBy("fb").parquet(s"$dst/docs")),
              core.at(spark, dir, c, "del").map(del => () =>
                bucketed(del
                  .join(vocab2.select("token"), Seq("token"), "left_semi")
                  .select(col("variant"), col("token"), col("db")),
                  "db", "del"))
            ).flatten
            graft.util.Par.par(jobs): Unit
            Some(c -> name)
          }
        } finally {
          post2.unpersist(): Unit
          docs2.foreach(_.unpersist(): Unit)
        }
      }
    }.toMap
  }

  /** TOMBSTONE-SCOPED RETIREMENT
   *  ([[graft.store.IndexCore.retireOldestTombstone]]) — the
   *  takedown-stream answer to "only a FULL fold retires tombstones":
   *  the covered commits holding the oldest tombstone's docs are
   *  rewritten in place ([[rewriteCommitsWithout]]) with vocab/stats
   *  RECOMPUTED from their surviving postings — exactly the state a
   *  full fold would have produced, so the tombstone's dvocab/dstats
   *  deltas are consumed and the tombstone entry drops. Under a steady
   *  right-to-be-forgotten stream this bounds read fan-in at cost ∝
   *  covered commits per retirement, where [[compact]] re-reads the
   *  WHOLE stored index. Returns false when no tombstone is live;
   *  [[retireTombstones]] loops it.
   */
  def retireOldestTombstone(spark: SparkSession, dir: String): Boolean =
    core.retireOldestTombstone(spark, dir, "retireOldestTombstone")(
      (covered, gone) => rewriteCommitsWithout(spark, dir, gone, covered))

  /** DIRECT in-place deletion — the Minimal-profile answer to
   *  [[forgetDocs]] (which needs the forward docs leg for its exact
   *  deltas): rewrite every live commit holding the ids WITHOUT them,
   *  recomputing each commit's vocab/stats from its surviving
   *  postings — no tombstone, no deltas, no corpus parameter (the
   *  post leg already knows the docs), physical erasure immediate
   *  (vacuum reclaims the superseded dirs). Works on any profile;
   *  prefer [[forgetDocs]] when the docs leg exists (O(ids) tombstone
   *  now, rewrite deferred to retirement/folds — this rewrites the
   *  touched commits up front). Refuses while tombstones are live:
   *  a later tombstone's deltas were computed against these rows, so
   *  erasing them out from under it would double-subtract at its
   *  retirement — retire tombstones first. `key` ledgers the delete
   *  exactly-once; deleting ids the index never held is a ledgered
   *  no-op.
   */
  def forgetDocsRebuild(
      spark: SparkSession, dir: String, ids: Seq[Long],
      key: Option[String] = None): Unit = {
    require(ids.nonEmpty && ids.length <= 65536,
      s"forgetDocsRebuild takes 1..65536 ids per call (got ${ids.length})")
    IndexCore.requireUnpinned(spark, dir, "forgetDocsRebuild")
    val txn = IndexCore.freshTxn(spark, dir, key, "delete")
    val snap = IndexCore.live(spark, dir).filter(IndexCore.isData)
    require(!snap.exists(_.startsWith("t-")),
      s"index $dir has live tombstones — their deltas were computed " +
        "against the rows this rebuild would erase (retiring them " +
        "later would double-subtract); retireTombstones first")
    import spark.implicits._
    val gone = broadcast(ids.distinct.toDF("doc_id"))
    val rewrites = rewriteCommitsWithout(spark, dir, gone,
      snap.filter(_.startsWith("c-")))
    IndexCore.publishRewrites(spark, dir, snap, rewrites, drop = Set.empty,
      append = txn.toSeq, what = "forgetDocsRebuild")
  }

  /** Retire up to `upTo` tombstones, oldest first (each retirement is
   *  one atomic commit; a concurrent-writer race aborts loudly and the
   *  caller re-runs). Returns the number retired.
   */
  def retireTombstones(
      spark: SparkSession, dir: String, upTo: Int = Int.MaxValue): Int = {
    var n = 0
    while (n < upTo && retireOldestTombstone(spark, dir)) n += 1
    n
  }

  /** FEDERATED MERGE ([[graft.store.IndexCore.mergeFrom]]): fold
   *  ANOTHER index instance's live shards into this one as ONE commit
   *  — the operation that unifies indexes built independently
   *  (per-region crawls, per-tenant corpora, a backfill job's private
   *  index) WITHOUT re-reading any corpus text. The legs fold by the
   *  same monoids compaction uses ([[foldLegs]]), so merge cost is ∝
   *  the SOURCE INDEX bytes (the tokenized projection of its corpus),
   *  never a re-tokenize.
   *
   *  Contract: the two instances index DISJOINT doc_id spaces — the
   *  same contract two shards of one index already live under (df/nd/
   *  tl sums and posting concat are only meaningful then).
   */
  def mergeFrom(
      spark: SparkSession, dstDir: String, srcDir: String,
      key: Option[String] = None): Unit =
    IndexCore.mergeFrom(spark, dstDir, srcDir, key)(src =>
      IndexCore.stageCommit(dstDir)(dst => foldLegs(spark,
        src.map(c => (IndexCore.dataDir(srcDir, c), Seq.empty[String])),
        Seq.empty, dst)))
}
