package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Fidelity

/**
 * Manifest-committed, merge-on-read variant of the rollup table — the
 * "beyond dynamic overwrite" commit path SCALE.md promises for
 * sustained high-cardinality ingest (and the round-3 audit's one
 * remaining driver-side scale concern with `Tables.mergeRollups`).
 *
 * The idea is the Delta/Iceberg commit protocol reduced to what this
 * table needs (same shape as the reference's one-file-at-a-time agg
 * rewrite, src/index.py:521-550, lifted to atomic snapshots):
 *
 *  - every ingest APPENDS its per-level partial aggregates as new
 *    parquet files under an immutable commit directory — no read, no
 *    merge shuffle, no rewrite of existing data on the write path;
 *  - visibility is ONE atomic manifest rename: `_manifests/v<N>` lists
 *    the live commit dirs; writers race on rename-if-absent and the
 *    loser re-reads and retries (optimistic concurrency). Commit cost
 *    is O(1) in partition count, series cardinality, and table size —
 *    the property dynamic partition overwrite (driver-serial dir
 *    moves) fundamentally lacks;
 *  - readers resolve the latest manifest and fold the rollup monoid
 *    (min/max/sum/cnt) across live commits at read time — merge-ON-READ;
 *  - COMPACTION bounds read amplification: fold all live commits into
 *    one and swap the manifest atomically; `vacuum` deletes unreferenced
 *    dirs afterwards. LSM semantics: ingest latency trades against a
 *    bounded number of overlapping commits.
 *
 * Physical layout per commit: files partitioned by `fidelity` only
 * (the leading query predicate → manifest-level pruning); `ds_b` and
 * `part_s` stay as SORTED data columns, so series/time predicates skip
 * row groups via parquet min/max stats instead of needing directories.
 * That keeps a commit at a handful of files — what makes the rename
 * protocol cheap — while preserving the same pruning the partitioned
 * table gets from its directory tree.
 *
 * The store is an [[IndexCore]] dataset rooted at `$root/mrollup`:
 * IndexCore owns its commit log, data-dir layout, keyed publish,
 * staging cleanup, merge preamble, clone and vacuum; this object keeps
 * what is rollup-specific — the merge-on-read monoid, range / as-of /
 * CDC reads, the fold and rewrite bodies (whose abort rule is weaker
 * than the indexes' snapshot equality: a fold or rewrite needs only
 * its own inputs still live, so concurrent appends proceed) and the
 * write-audit-publish ingest.
 *
 * Atomicity relies on create-no-overwrite of the version file: atomic
 * on HDFS, a conditional PUT on S3 (the same caveat every
 * manifest-based table format carries), and check-then-create on a
 * POSIX local FS — not perfectly atomic there, but it FAILS LOUDLY on
 * a lost race where a rename would silently replace the other
 * writer's manifest.
 *
 * PIN/LEASE CONTRACT (audited round 15): unlike the three persisted
 * indexes, this store's destructive maintenance (compact /
 * compactTiered / compactRawTiered, vacuumManifest, vacuum,
 * expireBefore, forgetDataset) deliberately carries NO replay-pin
 * lease. Consumers are protected by the loud-refusal + resync
 * contract instead: every incremental or historical consumer
 * (cdcBetween / cdcRawBetween, the as-of reads, cloneAsOf) validates
 * its window or snapshot against the manifest and REFUSES with the
 * real cause (compaction boundary, raw rewrite, retention floor)
 * rather than returning partial or guessed data; the documented
 * recovery is a full re-read at the current head and a rebased
 * cursor. This is the right trade HERE because the rollup delta is a
 * commutative monoid fold of the live level — a resync is always
 * exact and can never lose acknowledged state — whereas the indexes'
 * replay splits (membership cuts, per-batch pair reports) are NOT
 * re-derivable after their commits move, which is exactly why those
 * carry the `#pin:` lease and this store does not. The full
 * refusal → resync → resume journey is pinned end-to-end in
 * ManifestStoreSpec ("CDC consumer survives a concurrent
 * compact + vacuum").
 */
object ManifestStore {

  /** The store's [[IndexCore]] dataset dir under `root`. */
  def storeDir(root: String): String = s"$root/mrollup"
  private def entryDir(root: String, entry: String) =
    IndexCore.dataDir(storeDir(root), entry)
  private def log(root: String) = IndexCore.log(storeDir(root))

  /** Physical file schema, CURRENT (v2) revision: fidelity lives in the
   *  directory name. `sumsq` (Σv² — variance/stddev support) is the v2
   *  addition: v1 commit files simply lack the column and parquet schema
   *  reconciliation reads it as NULL, so old commits need no rewrite.
   *  The merge rule for an evolved column is CONSERVATIVE: a bucket's
   *  folded `sumsq` is non-null iff EVERY contributing commit carries it
   *  — a partial sum over only the v2 contributors would silently claim
   *  a Σv² that excludes v1 rows. The rule is the null-poisoning sum
   *  monoid, so it is associative and compaction preserves it.
   */
  private val physSchema: StructType = StructType(Seq(
    StructField("dataset_id", StringType),
    StructField("part_s", LongType),
    StructField("bucket_s", LongType),
    StructField("min_v", DoubleType),
    StructField("max_v", DoubleType),
    StructField("sum_v", DoubleType),
    StructField("cnt", LongType),
    StructField("sumsq", DoubleType),
    StructField("ds_b", IntegerType)))

  /** Fields every commit revision carries (the v1 schema): a commit file
   *  is written with exactly the evolvable columns its writer knows,
   *  never null-padded — that is what keeps old readers working and
   *  makes the NULL-on-read reconciliation the single evolution
   *  mechanism rather than one of two.
   */
  private val requiredFields: Set[String] =
    Set("dataset_id", "part_s", "bucket_s", "min_v", "max_v", "sum_v", "cnt", "ds_b")

  /** On-disk schema of an `r-` raw commit dir ([[writeRawCommitDir]]:
   *  raw fields + ds_b as a DATA column, unpartitioned). Passed to
   *  every raw-commit read so Spark skips the footer-inference job the
   *  schemaless `read.parquet` pays per call (Tables.rawDiskSchema's
   *  rationale).
   */
  private val rawCommitSchema: StructType = StructType(
    Tables.rawSchema.fields :+ StructField("ds_b", IntegerType))

  /** Latest snapshot: (version, live commit-dir names); (0, Nil) when
   *  the table has never been written.
   */
  def latest(spark: SparkSession, root: String): (Long, Seq[String]) =
    IndexCore.ledger(spark, storeDir(root))

  /** The live commit set AS OF a published version — time travel.
   *  Valid for any version whose commit dirs `vacuum` has not yet
   *  reclaimed (manifest files themselves are never deleted, so the
   *  failure mode is a loud missing-data read, not silent corruption).
   */
  def liveAt(spark: SparkSession, root: String, v: Long): Seq[String] =
    log(root).liveAt(spark, v)

  /** Write a frame as one immutable commit directory (shared by append
   *  and compaction so the physical layout — ds_b derivation, sort,
   *  file caps, level partitioning — cannot drift between the two).
   *  Returns the commit-dir name; the caller still owns the manifest
   *  update that makes it visible.
   */
  private def writeCommitDir(root: String, partials: DataFrame): String = {
    val name = IndexCore.entryName("c", None)
    val withB = partials.withColumn("ds_b", Tables.dsBucket(col("dataset_id")))
    val present = withB.columns.toSet
    val fields = physSchema.fieldNames.toIndexedSeq
      .filter(f => requiredFields(f) || present(f))
    require(fields.forall(present),
      s"commit partials missing required columns: ${fields.filterNot(present)}")
    withB
      .select((col("fidelity") +: fields.map(col)): _*)
      .repartition(col("fidelity"))
      .sortWithinPartitions(
        col("fidelity"), col("ds_b"), col("part_s"), col("dataset_id"), col("bucket_s"))
      .write
      .mode("errorifexists")
      .option("maxRecordsPerFile", Fidelity.GroupSize)
      .partitionBy("fidelity")
      .parquet(entryDir(root, name))
    name
  }

  /** Append one batch's `allLevelPartials` output as a new immutable
   *  commit. No existing data is read or rewritten; the only
   *  serialization point is the manifest rename. The repartition on
   *  `fidelity` bounds the commit to ~one file per level at local
   *  scale (add `ds_b` to the repartition on a cluster for write
   *  parallelism — the manifest protocol is indifferent to file count).
   */
  def appendPartials(spark: SparkSession, root: String, partials: DataFrame): Unit =
    IndexCore.publish(spark, storeDir(root),
      Seq(writeCommitDir(root, partials)), Seq.empty): Unit

  /** Txn keys preserved across a compaction (most recent first to go
   *  is oldest): bounds manifest growth under a perpetual stream while
   *  keeping the duplicate-check window orders of magnitude wider than
   *  any real redelivery window (~1 micro-batch).
   */
  val MaxTxnKeys: Int = 1024

  /** Typed manifest entries: `c-` rollup-partial commits, `r-` raw
   *  commits (see [[ingestBatchAtomic]]), `#txn:` delivery keys. Each
   *  reader selects its own prefix, so a level scan never lists raw
   *  dirs and vice versa.
   */
  private def dirEntries(live: Seq[String]): Seq[String] =
    live.filter(_.startsWith("c-"))

  private def rawDirEntries(live: Seq[String]): Seq[String] =
    live.filter(_.startsWith("r-"))

  /** Idempotent [[appendPartials]] keyed by a caller-supplied delivery
   *  key (e.g. a streaming micro-batch id). If the key was already
   *  published, the staged commit dir is dropped and nothing changes —
   *  foreachBatch redeliveries after a crash between sink-commit and
   *  checkpoint-commit fold in EXACTLY once. Returns true iff this
   *  call published. The key check is part of the manifest's own
   *  optimistic-commit read: no second coordination channel, so there
   *  is no window where the key and the data disagree.
   */
  def appendPartialsIdempotent(
      spark: SparkSession, root: String, partials: DataFrame,
      key: String): Boolean = {
    val txn = CommitLog.txnEntry(key)
    IndexCore.publish(spark, storeDir(root),
      Seq(writeCommitDir(root, partials)), Seq(txn))
  }

  private def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Tables.rollupSchema)

  /** The rollup monoid folded over the given pre-filtered per-commit
   *  frames, grouped by `keys` — at read time by bucket, in a
   *  compaction by the stored grain. `sumsq` (v2) folds under the
   *  null-poisoning sum: non-null iff every contributing row carries it
   *  (SQL `sum` would silently SKIP the v1 contributors' nulls and
   *  report a Σv² that excludes their rows), so read-time and compacted
   *  answers agree and the fold stays associative.
   */
  private def mergeOnRead(parts: DataFrame,
      keys: Seq[String] = Seq("dataset_id", "bucket_s")): DataFrame =
    parts
      .groupBy(keys.map(col): _*)
      .agg(
        min("min_v").as("min_v"),
        max("max_v").as("max_v"),
        sum("sum_v").as("sum_v"),
        sum("cnt").as("cnt"),
        when(count(lit(1)) === count(col("sumsq")), sum(col("sumsq")))
          .as("sumsq"))

  /** One `c-` commit's rows WITH its `fidelity` partition column — the
   *  grain folds, merges, rewrites and the write audit read at.
   */
  private def readPartials(spark: SparkSession, root: String, d: String): DataFrame =
    spark.read
      .schema(StructType(physSchema.fields :+ StructField("fidelity", StringType)))
      .option("basePath", entryDir(root, d))
      .parquet(entryDir(root, d))

  /** Live `fidelity=<level>` leaf dirs for one level (manifest-level
   *  pruning: other levels' files are never listed, let alone read).
   */
  private def levelDirs(spark: SparkSession, root: String, f: Fidelity): Seq[String] = {
    val (_, live) = latest(spark, root)
    dirEntries(live)
      .map(d => s"${entryDir(root, d)}/fidelity=${Tables.fidelityPart(f)}")
      .filter(StoreFs.exists(spark, _))
  }

  /** The merge-on-read fold of the level leaf `dirs`, `prune`
   *  applied to the physical rows BELOW the fold (so series/bucket
   *  predicates ride the within-file sort's row-group stats); `sumsq`
   *  is exposed when `withSumsq`. Zero dirs read as the typed empty
   *  level.
   */
  private def foldLevel(spark: SparkSession, dirs: Seq[String],
      withSumsq: Boolean = false)(
      prune: DataFrame => DataFrame = identity): DataFrame =
    if (dirs.isEmpty) {
      if (withSumsq) empty(spark).withColumn("sumsq", lit(null).cast(DoubleType))
      else empty(spark)
    } else mergeOnRead(prune(spark.read.schema(physSchema).parquet(dirs: _*)))
      .select((Tables.rollupSchema.fieldNames.toIndexedSeq ++
        Option.when(withSumsq)("sumsq")).map(col): _*)

  /** The physical rows of one series: the ds_b + dataset_id equalities
   *  ride the within-file (ds_b, dataset_id, ...) sort's row-group stats.
   */
  private def series(datasetId: String)(df: DataFrame): DataFrame =
    df.where(col("ds_b") === Tables.dsBucket(lit(datasetId)) &&
      col("dataset_id") === datasetId)

  /** Read one level, merged across live commits (S5 equivalent). */
  def readLevel(spark: SparkSession, root: String, f: Fidelity): DataFrame =
    foldLevel(spark, levelDirs(spark, root, f))()

  /** [[readLevel]] with the v2 schema exposed: `sumsq` is Σv² for a
   *  bucket when every contributing commit was written by a v2 writer,
   *  NULL when any v1 commit touched the bucket (the conservative
   *  evolution rule — see `physSchema`). Callers derive variance as
   *  `(sumsq - sum_v²/cnt) / cnt` where non-null.
   */
  def readLevelV2(spark: SparkSession, root: String, f: Fidelity): DataFrame =
    foldLevel(spark, levelDirs(spark, root, f), withSumsq = true)()

  /** Snapshot (time-travel) level read: fold the monoid over the live
   *  set AS OF `version` — the reader sees exactly the table state the
   *  version's writer published, regardless of later commits.
   */
  def readLevelAsOf(
      spark: SparkSession, root: String, f: Fidelity, version: Long): DataFrame =
    foldLevel(spark, asOfLevelDirs(spark, root, f, version))()

  /** Level read pruned to one series BEFORE the merge fold. */
  def readLevelFor(
      spark: SparkSession, root: String, f: Fidelity, datasetId: String): DataFrame =
    foldLevel(spark, levelDirs(spark, root, f))(series(datasetId))

  /** Range read for chart queries: series + bucket predicates apply
   *  BELOW the merge fold (a post-fold filter would aggregate the whole
   *  table to serve one chart). `part_s` and `bucket_s` ride the
   *  within-file sort's row-group stats; the fold then touches only the
   *  surviving buckets. This is the manifest-store leg of
   *  `RangeQuery.agg`.
   */
  def readLevelRange(
      spark: SparkSession, root: String, f: Fidelity,
      datasetId: String, startS: Long, endS: Long): DataFrame =
    readLevelRangeDirs(spark, levelDirs(spark, root, f), f,
      datasetId, startS, endS)

  /** [[readLevelRange]] AS OF a published version: the chart-serving
   *  read against a frozen snapshot — same double pruning (series
   *  bucket + part/bucket bounds below the merge fold), dirs resolved
   *  from the version's live set. Paired with [[readRawAsOf]] this
   *  serves a whole dashboard from one consistent instant.
   */
  def readLevelRangeAsOf(
      spark: SparkSession, root: String, f: Fidelity,
      datasetId: String, startS: Long, endS: Long, version: Long): DataFrame =
    readLevelRangeDirs(spark, asOfLevelDirs(spark, root, f, version), f,
      datasetId, startS, endS)

  /** Level leaf dirs for a SNAPSHOT read. The leaf (`fidelity=`) filter
   *  is legitimate — a commit only writes the levels it touched — but
   *  the PARENT `c-` commit dir must still exist: an absent one means
   *  vacuum reclaimed it after a compaction superseded this version,
   *  and silently skipping it would serve a partial snapshot. Fail
   *  loudly instead (mirrors [[readRawDirs]] on the raw tier).
   */
  private def asOfLevelDirs(
      spark: SparkSession, root: String, f: Fidelity,
      version: Long): Seq[String] = {
    val entries = dirEntries(liveAt(spark, root, version))
    val missing = entries
      .filterNot(d => StoreFs.exists(spark, entryDir(root, d)))
    require(missing.isEmpty,
      s"commit dir(s) ${missing.mkString(", ")} referenced by version " +
        s"$version at $root no longer exist (vacuumed after a rewrite); " +
        "this snapshot is unreadable — refusing to return partial data")
    entries
      .map(d => s"${entryDir(root, d)}/fidelity=${Tables.fidelityPart(f)}")
      .filter(StoreFs.exists(spark, _))
  }

  private def readLevelRangeDirs(
      spark: SparkSession, dirs: Seq[String], f: Fidelity,
      datasetId: String, startS: Long, endS: Long): DataFrame = {
    val w = Tables.partitionWindowS(f)
    foldLevel(spark, dirs)(df => series(datasetId)(df)
      .where(col("part_s").between(startS / w * w, endS / w * w) &&
        col("bucket_s").between(startS, endS)))
  }

  private val cdcSchema: StructType = StructType(Seq(
    StructField("dataset_id", StringType),
    StructField("bucket_s", LongType),
    StructField("op", StringType),
    StructField("old_min_v", DoubleType),
    StructField("old_max_v", DoubleType),
    StructField("old_sum_v", DoubleType),
    StructField("old_cnt", LongType),
    StructField("min_v", DoubleType),
    StructField("max_v", DoubleType),
    StructField("sum_v", DoubleType),
    StructField("cnt", LongType)))

  /** Change-data feed for one level between two published versions:
   *  every (dataset_id, bucket_s) whose aggregate changed in
   *  (fromV, toV], with the OLD and NEW aggregate values and the change
   *  kind (`insert` for buckets born inside the window, `update`
   *  otherwise) — the incremental-consumption read every downstream
   *  materialization (cache refresh, alert re-evaluation, export sync)
   *  wants instead of a full-table diff.
   *
   *  Scale shape: cost ∝ the DELTA, never the table. Only commit dirs
   *  ADDED inside the window are read and folded; the old state is read
   *  from the `fromV` snapshot pruned twice — a driver-computed
   *  (ds_b, part_s) bounding box from the tiny folded delta pushed into
   *  the scan (riding the within-file sort's row-group stats), then an
   *  exact left-semi join on the changed keys above it. Requires
   *  append-only history across the window: a compaction rewrites the
   *  live set and makes "what changed" underivable from the manifest
   *  alone, so that case fails loudly rather than guessing. Rollup
   *  deltas are pure monoid appends — `cnt` strictly grows — so every
   *  delta key IS a change; no value-compare against the old state is
   *  needed.
   */
  def cdcBetween(
      spark: SparkSession, root: String, f: Fidelity,
      fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"cdcBetween: fromV $fromV > toV $toV")
    // the append-only requirement binds on the PARTIAL (`c-`) entries
    // the feed derives from — raw-tier folds and txn-key trims in the
    // window don't affect what changed on a level
    val before = if (fromV == 0L) Seq.empty
      else dirEntries(liveAt(spark, root, fromV))
    val after = dirEntries(liveAt(spark, root, toV))
    val beforeSet = before.toSet
    require(before.forall(after.contains),
      s"CDC window ($fromV, $toV] at $root crosses a compaction/vacuum " +
        "boundary: the old live set is not a subset of the new one, so " +
        "the window's net change is not derivable from the manifest alone")
    val level = s"fidelity=${Tables.fidelityPart(f)}"
    val addedDirs = dirEntries(after.filterNot(beforeSet))
      .map(d => s"${entryDir(root, d)}/$level")
      .filter(StoreFs.exists(spark, _))
    if (addedDirs.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], cdcSchema)
    val deltaRaw = spark.read.schema(physSchema).parquet(addedDirs: _*)
    val delta = mergeOnRead(deltaRaw)
    // driver-side bounding box of the delta (4 scalars off the small
    // delta scan, never a key list) → row-group pruning on the old scan
    val bb = deltaRaw.agg(
      min("ds_b"), max("ds_b"), min("part_s"), max("part_s")).head()
    val beforeDirs = dirEntries(before)
      .map(d => s"${entryDir(root, d)}/$level")
      .filter(StoreFs.exists(spark, _))
    val old =
      if (beforeDirs.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], physSchema)
          .drop("part_s", "ds_b")
      else mergeOnRead(
        spark.read.schema(physSchema).parquet(beforeDirs: _*)
          .where(col("ds_b").between(bb.getInt(0), bb.getInt(1)) &&
            col("part_s").between(bb.getLong(2), bb.getLong(3))))
    val oldK = old
      .join(delta.select("dataset_id", "bucket_s"),
        Seq("dataset_id", "bucket_s"), "left_semi")
      .select(
        col("dataset_id"), col("bucket_s"),
        col("min_v").as("old_min_v"), col("max_v").as("old_max_v"),
        col("sum_v").as("old_sum_v"), col("cnt").as("old_cnt"))
    delta
      .join(oldK, Seq("dataset_id", "bucket_s"), "left")
      .select(
        col("dataset_id"), col("bucket_s"),
        when(col("old_cnt").isNull, "insert").otherwise("update").as("op"),
        col("old_min_v"), col("old_max_v"), col("old_sum_v"), col("old_cnt"),
        when(col("old_cnt").isNull, col("min_v"))
          .otherwise(least(col("min_v"), col("old_min_v"))).as("min_v"),
        when(col("old_cnt").isNull, col("max_v"))
          .otherwise(greatest(col("max_v"), col("old_max_v"))).as("max_v"),
        (col("sum_v") + coalesce(col("old_sum_v"), lit(0.0))).as("sum_v"),
        (col("cnt") + coalesce(col("old_cnt"), lit(0L))).as("cnt"))
  }

  /** Raw-tier change feed: the raw rows ADDED in (fromV, toV] — the
   *  replication/export primitive (ship every new row downstream
   *  without diffing tables). Raw commits are immutable and the raw
   *  live set is append-only between rewrites (compactRawTiered /
   *  forgetDataset / expireBefore), so the delta IS the added `r-`
   *  dirs — no old-state join at all, cost ∝ the delta. A window
   *  crossing a rewrite fails loudly, exactly like the partials feed.
   */
  def cdcRawBetween(
      spark: SparkSession, root: String, fromV: Long, toV: Long): DataFrame = {
    require(fromV <= toV, s"cdcRawBetween: fromV $fromV > toV $toV")
    val before = if (fromV == 0L) Seq.empty[String]
      else rawDirEntries(liveAt(spark, root, fromV))
    val after = rawDirEntries(liveAt(spark, root, toV))
    require(before.forall(after.contains),
      s"raw CDC window ($fromV, $toV] at $root crosses a raw rewrite " +
        "(compaction/forget/expiry): the added-dirs delta is not the " +
        "net change there")
    readRawDirs(spark, after.filterNot(before.toSet), root)
  }

  /** Fold ALL live commits into one and swap the manifest atomically.
   *  Readers see either the old set or the compacted one, never both.
   *  Commits that land AFTER this compaction's snapshot was read are
   *  preserved by the functional manifest update; if the snapshot
   *  itself was invalidated (a CONCURRENT compactor already folded —
   *  and thus duplicated — some of our inputs), the commit ABORTS and
   *  this compaction's output dir is dropped: publishing both folds
   *  would double-count every cell they share. Aborting only loses
   *  optimization work, never data.
   *
   *  A full fold rewrites the whole table — right for an explicit
   *  "optimize" call, WRONG as the steady-state policy under sustained
   *  ingest (N batches would write O(N²) bytes total). The auto paths
   *  use [[compactTiered]].
   */
  def compact(spark: SparkSession, root: String): Unit =
    compactTiered(spark, root, fanIn = Int.MaxValue)

  /** The raw (`r-`) leg of the size-tiered policy: concatenate the
   *  `fanIn` smallest raw commits into one re-sorted dir and swap the
   *  manifest — bounds both write amplification and the small-files
   *  problem on raw scans (thousands of micro-batch commits would
   *  otherwise each keep ≥ 1 file forever). No monoid here: raw rows
   *  concatenate, and [[writeRawCommitDir]] restores the
   *  (ds_b, dataset_id, ts) clustering row-group pruning rides. Same
   *  concurrent-compactor abort as the partial fold.
   */
  def compactRawTiered(spark: SparkSession, root: String, fanIn: Int = 8): Unit = {
    val dirs = IndexCore.smallest(spark, storeDir(root),
      rawDirEntries(latest(spark, root)._2), fanIn)
    if (dirs.size <= 1) return
    val merged = spark.read
      .parquet(dirs.map(entryDir(root, _)): _*)
      .select("dataset_id", "ts_us", "value")
    publishFold(spark, root, dirs, writeRawCommitDir(root, merged))(identity)
  }

  /** SIZE-TIERED compaction (the LSM policy): fold only the `fanIn`
   *  SMALLEST live commits into one ([[IndexCore.smallest]]), leaving
   *  large, already-compacted commits untouched. Under sustained
   *  ingest each trigger folds the fresh small tier — so a commit's
   *  bytes are rewritten only when it is among the smallest, i.e.
   *  O(log N)-ish times over its life instead of every trigger, which
   *  is what bounds write amplification at 100 TB (the full fold
   *  rewrites the ENTIRE table per trigger: O(N²) total bytes over N
   *  batches). Same atomicity, txn-key preservation, and
   *  concurrent-compactor abort as [[compact]]; the fold is the same
   *  associative monoid, so read-time answers are unchanged by WHICH
   *  commits folded.
   */
  def compactTiered(spark: SparkSession, root: String, fanIn: Int = 8): Unit = {
    // fold DATA commits only; `#txn:` key lines survive every
    // compaction untouched (that permanence is what makes the
    // idempotent append's duplicate check durable)
    val dirs = IndexCore.smallest(spark, storeDir(root),
      dirEntries(latest(spark, root)._2), fanIn)
    if (dirs.size <= 1) return
    val merged = mergeOnRead(
      dirs.map(readPartials(spark, root, _)).reduce(_.unionByName(_)),
      Seq("fidelity", "dataset_id", "part_s", "bucket_s"))
    publishFold(spark, root, dirs, writeCommitDir(root, merged)) { next =>
      // trim the txn-key tail so the manifest stays bounded under a
      // perpetual stream: exactly-once is guaranteed for redeliveries
      // within the last MaxTxnKeys batches (streaming redelivery
      // windows are ~1 batch)
      val (txns, rest) = next.partition(CommitLog.isTxn)
      rest :++ txns.takeRight(MaxTxnKeys)
    }
  }

  /** Publish a fold of `inputs` into the staged entry `name`: the
   *  inputs leave, `name` is appended and `shape` may trim the result.
   *  Only the fold's OWN inputs must still be live — concurrent appends
   *  proceed — and if a concurrent compactor already folded one of
   *  them the publish aborts and drops the staging (publishing both
   *  folds would double-count every cell they share; aborting loses
   *  only optimization work, never data).
   */
  private def publishFold(spark: SparkSession, root: String,
      inputs: Seq[String], name: String)(
      shape: Seq[String] => Seq[String]): Unit = {
    val published = log(root).commit(spark)(now =>
      Option.when(inputs.forall(now.contains))(
        shape(now.filterNot(inputs.contains) :+ name)))
    if (!published) IndexCore.dropStaging(spark, storeDir(root), Seq(name))
  }

  /** ZERO-COPY BRANCH: clone the dataset AS OF a published version
   *  into a fresh root — the lakehouse shallow-clone, composed with
   *  time travel. Every data file of the version's live commits
   *  HARD-LINKS into the new root: bytes are shared, names are
   *  independent, and since store files are immutable once written
   *  (every mutation adds or unlinks whole files, never appends in
   *  place) neither side's compaction / vacuum / forget can ever
   *  reach the other through a shared inode. The branch is born with
   *  ONE manifest version listing exactly the as-of live set —
   *  `#txn:` keys included, so a batch the source had folded by
   *  `version` is still rejected if redelivered to the BRANCH, while
   *  a batch folded only AFTER the branch point ingests normally
   *  (the branch genuinely diverges). Cost ∝ live file COUNT, zero
   *  bytes moved — a dev branch of a 100 TB store in seconds. On a
   *  filesystem without hard links through the Hadoop API the files
   *  COPY instead: same semantics, storage-proportional cost.
   *
   *  Loud failures: an unpublished `version`, a live commit already
   *  vacuumed away (the as-of read discipline), or a non-empty
   *  destination (branching into an existing dataset would silently
   *  interleave two histories).
   */
  def cloneAsOf(
      spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Long): Unit =
    IndexCore.cloneAsOf(spark, storeDir(srcRoot), storeDir(dstRoot), version)

  /** FEDERATED MERGE: fold ANOTHER store instance's live raw and
   *  rollup state into this one under ONE manifest version — the
   *  operation that unifies stores built independently (per-region
   *  ingest pipelines, a backfill job's private store) without
   *  replaying a single batch. The source's rollup PARTIALS
   *  concatenate into one staged commit (the merge-on-read monoid
   *  makes that equivalent to every source commit individually —
   *  same-series buckets from both stores fold correctly at read
   *  time, so DISJOINT key spaces are NOT required), its raw rows
   *  restage through [[writeRawCommitDir]] (preserving the
   *  ds_b/dataset_id/ts clustering row-group pruning rides), and the
   *  single version-file create publishes both — a reader sees none
   *  of the source or all of it, raw and rollups agreeing exactly.
   *
   *  Exactly-once COMPOSES across the merge: the source's `#txn:`
   *  keys ride into the destination's manifest (a batch redelivered
   *  to the merged store is still rejected), and a source sharing any
   *  delivery key with the destination is REFUSED — that key means
   *  the same upstream batch was ingested on both sides, and folding
   *  it twice would double-count. The merge may carry its own `key`.
   *  The source is read-only throughout; a lost race drops the
   *  staging and fails loudly, both stores standing.
   */
  def mergeFrom(
      spark: SparkSession, dstRoot: String, srcRoot: String,
      key: Option[String] = None): Unit =
    IndexCore.mergeFrom(spark, storeDir(dstRoot), storeDir(srcRoot), key) { src =>
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      implicit val ec: ExecutionContext = ExecutionContext.global
      val (srcC, srcR) = src.partition(_.startsWith("c-"))
      val writes = Seq(
        Option.when(srcC.nonEmpty)(Future(writeCommitDir(dstRoot,
          // plain concat of the source's partials: v1 commits read sumsq
          // NULL here and the null lands in the staged rows, which the
          // null-poisoning fold treats exactly like the absent column
          srcC.map(readPartials(spark, srcRoot, _)).reduce(_.unionByName(_))))),
        Option.when(srcR.nonEmpty)(Future(writeRawCommitDir(dstRoot,
          spark.read
            .parquet(srcR.map(entryDir(srcRoot, _)): _*)
            .select("dataset_id", "ts_us", "value"))))).flatten
      (Await.result(Future.sequence(writes), Duration.Inf), ())
    }

  /** Right-to-be-forgotten on the atomic store: rewrite every live
   *  commit that CONTAINS the series without it and swap the manifest
   *  ONCE — readers resolve the pre-delete or post-delete table, never
   *  a partial delete (the partitioned-store `Tables.forgetDataset`
   *  cannot make that claim across its per-partition rewrites). Cost ∝
   *  commits actually containing the series: the containment probe is
   *  a ds_b/dataset_id-pruned scan riding each commit's row-group
   *  stats, untouched commits keep their dirs byte-for-byte (no write
   *  amplification), and a commit left EMPTY by the delete simply
   *  drops out of the manifest. Replaced dirs stay on disk for
   *  time-travel readers until `vacuum` reclaims them — so the
   *  compliance clock for physical erasure is the caller's vacuum
   *  schedule, and `readRawAsOf`/`readLevelAsOf` of old versions fail
   *  loudly (missing dirs) after it runs, never silently resurrect.
   */
  def forgetDataset(spark: SparkSession, root: String, datasetId: String): Unit = {
    val hit = col("ds_b") === Tables.dsBucket(lit(datasetId)) &&
      col("dataset_id") === datasetId
    rewriteLive(spark, root, partialsHit = hit, rawHit = hit,
      what = s"forgetDataset($datasetId)")
  }

  /** Time-based retention on the atomic store: delete every bucket
   *  strictly BEFORE `cutoffS` from both tables in one manifest swap.
   *  Exact at any cutoff aligned to the coarsest level (100000 s —
   *  every finer width divides it), which the partitioned store's
   *  directory-grain expiry cannot be: it must keep whole straddling
   *  partitions. Same rewrite machinery as [[forgetDataset]]: commits
   *  wholly before the cutoff drop out of the manifest with NO data
   *  read beyond the containment probe, straddlers rewrite once.
   */
  def expireBefore(spark: SparkSession, root: String, cutoffS: Long): Unit = {
    require(cutoffS % 100000L == 0,
      s"cutoff $cutoffS must align to the coarsest level (100000 s) so " +
        "every rollup level's buckets split exactly")
    rewriteLive(spark, root,
      partialsHit = col("bucket_s") < cutoffS,
      rawHit = col("ts_us") < cutoffS * 1000000L,
      what = s"expireBefore($cutoffS)")
  }

  /** Shared delete machinery: rewrite every live commit containing a
   *  `hit` row without those rows and publish ONE new version; commits
   *  left empty drop, untouched commits keep their dirs. Aborts (and
   *  cleans its output) if the live set moved underneath.
   */
  private def rewriteLive(
      spark: SparkSession, root: String,
      partialsHit: org.apache.spark.sql.Column,
      rawHit: org.apache.spark.sql.Column,
      what: String): Unit = {
    val (_, live) = latest(spark, root)
    // old entry -> replacement (None = commit becomes empty, drop it)
    val replaced = scala.collection.mutable.LinkedHashMap[String, Option[String]]()
    for (d <- dirEntries(live) ++ rawDirEntries(live)) {
      val path = entryDir(root, d)
      if (StoreFs.exists(spark, path)) {
        val isPartials = d.startsWith("c-")
        val hit = if (isPartials) partialsHit else rawHit
        val df =
          if (isPartials) readPartials(spark, root, d)
          else spark.read.schema(rawCommitSchema).parquet(path)
        if (!df.where(hit).isEmpty) {
          val survivors = df.where(!hit)
          replaced(d) =
            if (survivors.isEmpty) None
            else if (isPartials)
              Some(writeCommitDir(root, survivors.drop("ds_b")))
            else
              Some(writeRawCommitDir(
                root, survivors.select("dataset_id", "ts_us", "value")))
        }
      }
    }
    if (replaced.isEmpty) return
    val published = log(root).commit(spark) { now =>
      if (replaced.keys.forall(now.contains))
        Some(now.flatMap(e => replaced.get(e).getOrElse(Some(e))))
      else None // live set moved under us — abort, caller retries
    }
    if (!published) {
      IndexCore.dropStaging(spark, storeDir(root), replaced.values.flatten.toSeq)
      throw new IllegalStateException(
        s"$what lost the manifest race at $root — rerun against the new live set")
    }
  }

  /** Bound the MANIFEST history alone ([[IndexCore.vacuumManifest]]):
   *  safe to run CONTINUOUSLY (the streaming ingest maintainers call it
   *  per batch when asked; data-dir vacuum stays a separate,
   *  explicitly-scheduled action because it races in-flight readers of
   *  superseded snapshots).
   */
  def vacuumManifest(spark: SparkSession, root: String, keep: Int): Unit =
    IndexCore.vacuumManifest(spark, storeDir(root), keep)

  /** Delete data dirs the latest version no longer references and
   *  older than `minAgeMs` ([[IndexCore.vacuum]]): production callers
   *  keep a retention (the auto-path uses VacuumRetentionMs, the
   *  Delta/Iceberg pattern); `minAgeMs = 0` is for explicit cleanup
   *  once a caller knows everything has drained. `keepVersions` bounds
   *  the version files, which accrue one per commit forever and only
   *  matter for time-travel/branch.
   */
  def vacuum(spark: SparkSession, root: String, minAgeMs: Long = 0L,
      keepVersions: Int = Int.MaxValue): Unit =
    IndexCore.vacuum(spark, storeDir(root), minAgeMs, keepVersions)

  /** Retention the auto compact+vacuum path leaves for in-flight
   *  writers/readers of superseded snapshots (see `vacuum`).
   */
  val VacuumRetentionMs: Long = 15L * 60L * 1000L

  /** Raw rows as one immutable `r-` commit dir: ds_b-bucketed and
   *  (dataset_id, ts)-sorted so series/time predicates ride row-group
   *  stats; the manifest version plays the time-window role the
   *  partitioned raw table gets from `win_s` directories.
   */
  private def writeRawCommitDir(root: String, batch: DataFrame): String = {
    val name = IndexCore.entryName("r", None)
    batch
      .withColumn("ds_b", Tables.dsBucket(col("dataset_id")))
      .repartition(col("ds_b"))
      .sortWithinPartitions(col("ds_b"), col("dataset_id"), col("ts_us"))
      .write
      .mode("errorifexists")
      .option("maxRecordsPerFile", graft.model.Fidelity.GroupSize)
      .parquet(entryDir(root, name))
    name
  }

  /** ATOMIC MULTI-TABLE ingest: the batch's raw rows AND its all-level
   *  rollup partials become visible in ONE manifest version — a reader
   *  resolving any snapshot sees a raw table and a rollup pyramid that
   *  agree exactly, and a crash anywhere before the version publish
   *  leaves only orphan dirs that `vacuum` reclaims (the plain
   *  [[ingestBatch]] writes the two tables as independent appends, so a
   *  crash between them publishes a raw/rollup disagreement). The two
   *  commit dirs write concurrently — the serialization point is still
   *  the single version-file create. An optional delivery `key` makes
   *  the whole two-table publish idempotent exactly like
   *  [[appendPartialsIdempotent]]. Returns true iff this call
   *  published (false: duplicate key or empty batch). A redelivered
   *  key returns false before any Spark work.
   */
  def ingestBatchAtomic(
      spark: SparkSession, root: String, batchLong: DataFrame,
      key: Option[String] = None, maxLiveCommits: Int = 16): Boolean =
    !delivered(spark, root, key) &&
      stageBatch(spark, root, batchLong,
        Tables.allLevelPartials(_, withSumsq = true)).exists { case (r, c) =>
        publishStaged(spark, root, Seq(r, c), key, maxLiveCommits)
      }

  /** Stage one batch for a two-table publish: sanitize it, then write
   *  its raw `r-` commit dir and its partials (`partialsOf`) `c-`
   *  commit dir concurrently — invisible until a publish. None (nothing
   *  staged) for an empty batch.
   */
  private def stageBatch(
      spark: SparkSession, root: String, batchLong: DataFrame,
      partialsOf: DataFrame => DataFrame): Option[(String, String)] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val batch = graft.ingest.Melt.sanitize(batchLong).persist()
    try Option.when(!batch.isEmpty) {
      val raw = Future(writeRawCommitDir(root, batch))
      val partials = Future(writeCommitDir(root, partialsOf(batch)))
      (Await.result(raw, Duration.Inf), Await.result(partials, Duration.Inf))
    } finally batch.unpersist(): Unit
  }

  /** The cheap up-front duplicate probe of an optional delivery key:
   *  a redelivered batch must not pay sanitize, staging or audit before
   *  losing to its own key (the in-commit check of [[publishStaged]]
   *  still closes the race with a concurrent redelivery).
   */
  private def delivered(
      spark: SparkSession, root: String, key: Option[String]): Boolean =
    key.exists(IndexCore.hasDelivery(spark, storeDir(root), _))

  /** Publish already-staged commit dirs under one version (shared by
   *  [[ingestBatchAtomic]] and [[ingestBatchAudited]]): the delivery-key
   *  duplicate check rides the commit closure, a lost publish deletes
   *  the staging, a won one runs the tiered-compaction trigger.
   */
  private def publishStaged(
      spark: SparkSession, root: String, names: Seq[String],
      key: Option[String], maxLiveCommits: Int): Boolean = {
    val published = IndexCore.publish(spark, storeDir(root), names,
      key.map(CommitLog.txnEntry).toSeq)
    if (published) {
      val liveNow = latest(spark, root)._2
      val fanIn = math.max(2, maxLiveCommits / 2)
      val foldC = liveNow.count(_.startsWith("c-")) > maxLiveCommits
      val foldR = liveNow.count(_.startsWith("r-")) > maxLiveCommits
      if (foldC) compactTiered(spark, root, fanIn)
      if (foldR) compactRawTiered(spark, root, fanIn)
      if (foldC || foldR) vacuum(spark, root, VacuumRetentionMs)
    }
    published
  }

  /** The four semantically distinct ways a WAP ingest can end —
   *  previously conflated into one `false`: a duplicate delivery is
   *  success-equivalent (the data IS in the table), an empty batch a
   *  no-op, an audit failure a data problem someone must look at.
   */
  sealed trait WapOutcome
  object WapOutcome {
    case object Published extends WapOutcome
    case object DuplicateDelivery extends WapOutcome
    case object EmptyBatch extends WapOutcome
    case object AuditFailed extends WapOutcome
  }

  /** WRITE-AUDIT-PUBLISH ingest (the lakehouse WAP pattern): stage both
   *  tables' commit dirs exactly as [[ingestBatchAtomic]] would, AUDIT
   *  the STAGED raw data by reading it back through the same schema'd
   *  path readers use (so the audit also catches writer/layout bugs,
   *  not just bad input), and create the version file ONLY if every
   *  expectation holds on every staged row. A failed audit deletes the
   *  staging and leaves the table byte-identical — bad data is never
   *  visible to ANY reader, not even transiently (publish-then-delete
   *  has a window where a dashboard serves the bad batch; the manifest
   *  protocol gives WAP for free because staged dirs are invisible
   *  until the version-file create).
   *
   *  `expectations` are (name, boolean Column over the raw schema); a
   *  row violates one when the predicate is false OR null (SQL
   *  three-valued logic must not smuggle nulls past a gate). All
   *  expectations evaluate in ONE aggregation pass over the staged
   *  batch — cost ∝ batch, never ∝ table. Returns (published, report)
   *  where the report has one (expectation, violations) row per
   *  expectation, in input order.
   */
  def ingestBatchAudited(
      spark: SparkSession, root: String, batchLong: DataFrame,
      expectations: Seq[(String, org.apache.spark.sql.Column)],
      key: Option[String] = None, maxLiveCommits: Int = 16): (Boolean, DataFrame) = {
    val (outcome, report) = ingestBatchAuditedOutcome(
      spark, root, batchLong, expectations, key, maxLiveCommits)
    (outcome == WapOutcome.Published, report)
  }

  def ingestBatchAuditedOutcome(
      spark: SparkSession, root: String, batchLong: DataFrame,
      expectations: Seq[(String, org.apache.spark.sql.Column)],
      key: Option[String] = None,
      maxLiveCommits: Int = 16): (WapOutcome, DataFrame) =
    ingestBatchAuditedWith(spark, root, batchLong, expectations, key,
      maxLiveCommits, b => Tables.allLevelPartials(b, withSumsq = true))

  /** [[ingestBatchAuditedOutcome]] with an injectable partials writer —
   *  the seam that lets a spec stage CORRUPTED rollup partials and pin
   *  the conservation audit's rejection (the negative control a
   *  pre-publish gate needs: proof it can actually fail).
   */
  private[graft] def ingestBatchAuditedWith(
      spark: SparkSession, root: String, batchLong: DataFrame,
      expectations: Seq[(String, org.apache.spark.sql.Column)],
      key: Option[String], maxLiveCommits: Int,
      partialsOf: DataFrame => DataFrame): (WapOutcome, DataFrame) = {
    require(expectations.nonEmpty, "ingestBatchAudited without expectations")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    import spark.implicits._
    val conservationNames = Fidelity.aggLevels
      .map(f => s"rollup_cnt_conservation_${Tables.fidelityPart(f)}")
    def emptyReport = (expectations.map { case (n, _) => (n, 0L) } ++
      conservationNames.map((_, 0L))).toDF("expectation", "violations")
    if (delivered(spark, root, key))
      return (WapOutcome.DuplicateDelivery, emptyReport)
    val staged = stageBatch(spark, root, batchLong, partialsOf)
    if (staged.isEmpty) return (WapOutcome.EmptyBatch, emptyReport)
    val (rawName, rollName) = staged.get
    val names = Seq(rawName, rollName)
    // audit what readers WOULD see: both STAGED commit dirs through
    // the readers' schema'd paths (so writer/layout bugs are caught
    // too, not just bad input), concurrently:
    //  - raw tier: one aggregation pass, all expectations as
    //    parallel violation counts over the staged raw rows;
    //  - rollup tier: per-level COUNT CONSERVATION — every fidelity's
    //    Σcnt must equal the staged raw row count (the invariant
    //    manifest_history checks post-hoc, moved pre-publish so an
    //    allLevelPartials writer bug never becomes visible data).
    // Cost of both ∝ batch, never ∝ table.
    val countsF = Future {
      spark.read.schema(rawCommitSchema).parquet(entryDir(root, rawName))
        .select(Tables.rawSchema.fieldNames.map(col).toIndexedSeq: _*)
        .agg(
          count(lit(1)).as("__n"),
          expectations.map { case (n, pred) =>
            sum(when(pred.isNull || !pred, 1L).otherwise(0L)).as(n)
          }: _*).head()
    }
    val perLevelF = Future {
      readPartials(spark, root, rollName)
        .groupBy("fidelity").agg(sum(col("cnt")).as("c"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val counts = Await.result(countsF, Duration.Inf)
    val perLevel = Await.result(perLevelF, Duration.Inf)
    val nRaw = counts.getLong(0)
    // violations for a conservation row = the absolute row-count
    // discrepancy at that level (an absent level counts all nRaw)
    val conservation = Fidelity.aggLevels.map { f =>
      val part = Tables.fidelityPart(f)
      (s"rollup_cnt_conservation_$part",
        math.abs(perLevel.getOrElse(part, 0L) - nRaw))
    }
    val report = (expectations.zipWithIndex
      .map { case ((n, _), i) => (n, counts.getLong(i + 1)) } ++
      conservation)
      .toDF("expectation", "violations")
    val clean = expectations.indices.forall(i => counts.getLong(i + 1) == 0L) &&
      conservation.forall(_._2 == 0L)
    if (!clean) {
      IndexCore.dropStaging(spark, storeDir(root), names)
      (WapOutcome.AuditFailed, report)
    } else if (publishStaged(spark, root, names, key, maxLiveCommits))
      (WapOutcome.Published, report)
    else // lost the publish race to a concurrent redelivery of our key
      (WapOutcome.DuplicateDelivery, report)
  }

  /** Raw datapoint scan over the atomic store (S4 for manifest roots):
   *  the union of live `r-` commit dirs — exactly the batches whose
   *  version published, never a torn write's orphans.
   */
  def readRaw(spark: SparkSession, root: String): DataFrame =
    readRawDirs(spark, rawDirEntries(latest(spark, root)._2), root)

  /** Snapshot raw read AS OF a published version. Because
   *  [[ingestBatchAtomic]] publishes both tables in one version, the
   *  pair (readRawAsOf, readLevelAsOf) at the SAME version is
   *  mutually consistent — cross-table time travel, which two
   *  independently-versioned tables cannot give.
   */
  def readRawAsOf(spark: SparkSession, root: String, version: Long): DataFrame =
    readRawDirs(spark, rawDirEntries(liveAt(spark, root, version)), root)

  /** Per-series raw read (the FULL-fidelity chart route): the ds_b +
   *  dataset_id equalities ride the commit files' (ds_b, dataset_id,
   *  ts) sort via row-group stats, with the manifest standing in for a
   *  partition-directory tree.
   */
  def readRawFor(
      spark: SparkSession, root: String, datasetId: String): DataFrame =
    readRawDirs(spark, rawDirEntries(latest(spark, root)._2), root,
      series(datasetId))

  /** [[readRawFor]] AS OF a published version — the FULL-fidelity leg
   *  of chart time travel (pairs with [[readLevelRangeAsOf]]).
   */
  def readRawForAsOf(
      spark: SparkSession, root: String, datasetId: String,
      version: Long): DataFrame =
    readRawDirs(spark, rawDirEntries(liveAt(spark, root, version)),
      root, series(datasetId))

  /** Read `r-` commit entries (`prune` applied below the projection),
   *  REQUIRING each dir to exist. Raw commit dirs (unlike per-level `c-<id>/fidelity=` leaf dirs,
   *  which legitimately exist only for levels the commit touched) are
   *  always present when their version published — an absent one means
   *  vacuum reclaimed a superseded dir after a rewrite, and silently
   *  skipping it would return PARTIAL data from an as-of read or
   *  [[cdcRawBetween]]. Fail loudly instead, like [[liveAt]] does for
   *  reclaimed versions.
   */
  private def readRawDirs(
      spark: SparkSession, entries: Seq[String], root: String,
      prune: DataFrame => DataFrame = identity): DataFrame = {
    val dirs = entries.map(entryDir(root, _))
    val missing = dirs.filterNot(StoreFs.exists(spark, _))
    require(missing.isEmpty,
      s"raw commit dir(s) ${missing.mkString(", ")} referenced by the " +
        s"manifest at $root no longer exist (vacuumed after a rewrite); " +
        "this snapshot/CDC window is unreadable — refusing to return " +
        "partial data")
    if (dirs.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], Tables.rawSchema)
    else prune(spark.read.schema(rawCommitSchema).parquet(dirs: _*))
      .select(Tables.rawSchema.fieldNames.map(col).toIndexedSeq: _*)
  }

  /** §3.2 ingest through the manifest path: sanitize → concurrent raw
   *  append + rollup partials append (no merge on the write path) →
   *  compact + vacuum when live commits exceed `maxLiveCommits`.
   */
  def ingestBatch(
      spark: SparkSession, root: String, batchLong: DataFrame,
      maxLiveCommits: Int = 16): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global

    val batch = graft.ingest.Melt.sanitize(batchLong).persist()
    try {
      if (!batch.isEmpty) {
        val writes = Seq(
          Future(Tables.appendRaw(batch, root)),
          Future(appendPartials(spark, root,
            Tables.allLevelPartials(batch, withSumsq = true))))
        Await.result(Future.sequence(writes), Duration.Inf): Unit
        if (latest(spark, root)._2.size > maxLiveCommits) {
          // steady-state policy: fold the small tier, never the table
          compactTiered(spark, root, fanIn = math.max(2, maxLiveCommits / 2))
          vacuum(spark, root, VacuumRetentionMs)
        }
      }
    } finally batch.unpersist(): Unit
  }
}
