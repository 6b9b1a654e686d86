package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Fidelity

/**
 * Physical table layout — the Spark re-expression of the reference's
 * `data/<fidelity>/<dataset_id>/<a>/<b>/<c>/<bucket>` path scheme
 * (reference: src/index.py:22-29, 460-505).
 *
 * Two parquet tables, both partitioned on the series' HASH BUCKET
 * `ds_b = hash(dataset_id) mod DsBuckets` rather than dataset_id
 * itself (see DsBuckets for why — commit cost independent of series
 * cardinality):
 *   raw:    partitioned by (ds_b, win_s)   — append-only
 *           (the reference appends raw files, src/index.py:517)
 *   rollup: ONE table for all 6 aggregate levels, partitioned by
 *           (fidelity, ds_b, part_s) — read-merge-rewrite scoped
 *           to AFFECTED partitions only via dynamic partition overwrite
 *           (the reference rewrites one agg file at a time,
 *           src/index.py:521-550; a full-table rewrite per batch would
 *           be a scale-killer at 100 TB). A single table means one
 *           merge-write job per ingest batch instead of six — level
 *           reads still prune on the leading `fidelity` partition
 *           column, so query IO is identical to per-level tables.
 *
 * `part_s = bucket_s div (5000 * d) * (5000 * d)` mirrors the
 * reference's DATAPOINT_GROUP_SIZE=5000-row file windows
 * (src/index.py:45-57): one partition holds ~5000 buckets. Catalyst
 * partition pruning on (ds_b, part_s) + row-group skipping on the
 * within-file (dataset_id, ts) sort replace the reference's
 * `_subpaths` arithmetic (src/index.py:408-458).
 */
object Tables {

  val rawSchema: StructType = StructType(Seq(
    StructField("dataset_id", StringType),
    StructField("ts_us", LongType),
    StructField("value", DoubleType)))

  val rollupSchema: StructType = StructType(Seq(
    StructField("dataset_id", StringType),
    StructField("bucket_s", LongType),
    StructField("min_v", DoubleType),
    StructField("max_v", DoubleType),
    StructField("sum_v", DoubleType),
    StructField("cnt", LongType)))

  /** Full ON-DISK schemas (data + partition-dir columns), passed to
   *  every internal read so Spark SKIPS schema inference — without a
   *  user schema each `spark.read.parquet` runs a footer-reading job
   *  before the real one (measured ~100 ms × 33 reads inside one fsck
   *  probe at sf0.1; at 100 TB the footers are remote reads). The
   *  writers in this module own both layouts, so the schema is static
   *  truth, not a guess. Partition column types are pinned (ds_b int,
   *  win_s/part_s long, fidelity string) — inference from dir names
   *  would make them int-or-string depending on value range.
   */
  val rawDiskSchema: StructType = StructType(rawSchema.fields ++ Seq(
    StructField("ds_b", IntegerType),
    StructField("win_s", LongType)))

  val rollupDiskSchema: StructType = StructType(rollupSchema.fields ++ Seq(
    StructField("fidelity", StringType),
    StructField("ds_b", IntegerType),
    StructField("part_s", LongType)))

  def rawPath(root: String): String = s"$root/raw"
  def rollupPath(root: String): String = s"$root/rollup"

  /** Schema-pinned parquet read of one of this module's two tables. */
  private def readDisk(
      spark: SparkSession, path: String, disk: StructType): DataFrame =
    spark.read.schema(disk).parquet(path)

  /** Partition-directory value for a level ("d10"): prefixed so parquet
   *  partition inference keeps the column a STRING (bare "10" would
   *  infer INTEGER and break pruning-friendly equality on the name).
   */
  def fidelityPart(f: Fidelity): String = s"d${f.name}"

  /** Partition window per level. The reference's fixed 5000-bucket file
   *  windows (src/index.py:46) assume dense 10 Hz series; for sparse
   *  series they explode into thousands of near-empty partition
   *  directories (a filesystem-metadata scale-killer). Raw partitions
   *  by DAY (dense 10 Hz raw is ~864k rows/series-day — day dirs keep
   *  full-fidelity scans narrow); aggregate levels partition by at
   *  least a WEEK: even the densest 1 s level is only ~605k buckets per
   *  series-week, and a coarser window means ~5× fewer partition-dir
   *  moves per merge-upsert (dynamic partition overwrite relocates each
   *  affected dir one by one on the driver — partition count, not data
   *  volume, was the measured merge bottleneck).
   */
  def partitionWindowS(f: Fidelity): Long =
    if (f.isFull) RawWindowS
    else math.max(28L * 86400L, Fidelity.GroupSize * f.seconds)

  /** Raw partition window (seconds). One week: dense 10 Hz raw is ~6M
   *  rows/series-week (tens of parquet files at the 5000-row cap —
   *  healthy sizes), while per-batch APPEND commit cost and per-merge
   *  dynamic-overwrite cost both scale with the number of partition
   *  dirs a batch touches, measured to dominate merge latency well
   *  before data volume does.
   */
  val RawWindowS: Long = 7L * 86400L

  /** Series are HASH-BUCKETED into this many partition buckets instead
   *  of one directory per dataset_id. This is the decision that makes
   *  the store's commit path survive high series cardinality: the
   *  partition-dir count a batch touches — what append commits and
   *  dynamic-overwrite merges pay per directory ON THE DRIVER — is
   *  bounded by `levels × DsBuckets × windows` from the CONFIG, never
   *  by how many of the 10⁶ series a telemetry batch carries. (A
   *  per-series layout also melts the filesystem at scale: 10⁶ series
   *  × 52 weeks = 5·10⁷ dirs/year of metadata.) Within a bucket, files
   *  are sorted by (dataset_id, ts), so a single-series read still
   *  prunes: static pruning to its bucket (1/DsBuckets of dirs) +
   *  parquet min/max row-group skipping on the sorted dataset_id.
   */
  val DsBuckets: Int = 32

  /** Stable layout hash of a series id to its partition bucket
   *  (Murmur3 via Spark's `hash`, fixed seed — stable across sessions;
   *  never oracle-visible, it is physical layout only).
   */
  def dsBucket(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(hash(c), lit(DsBuckets))

  /** S2 — append a sanitized long batch to the raw table. The
   *  within-partition ts sort is the reference's ingest sort (O1,
   *  src/index.py:117-122) re-purposed: hash aggregation doesn't need
   *  sorted input, but time-clustered files get tight parquet min/max
   *  row-group stats, which is what makes range scans skip IO. File
   *  size caps at the reference's 5000-point group (A3,
   *  src/index.py:46).
   */
  def appendRaw(long: DataFrame, root: String): Unit =
    long
      .withColumn("ds_b", dsBucket(col("dataset_id")))
      .withColumn("win_s", expr(s"ts_us div ${RawWindowS * 1000000L}") * RawWindowS)
      .repartition(col("ds_b"), col("win_s"))
      .sortWithinPartitions(col("ds_b"), col("win_s"), col("dataset_id"), col("ts_us"))
      .write
      .mode("append")
      .option("maxRecordsPerFile", Fidelity.GroupSize)
      .partitionBy("ds_b", "win_s")
      .parquet(rawPath(root))

  /**
   * Compact the raw table: rewrite each (ds_b, win_s) partition's
   * accumulation of per-batch append files into GroupSize-capped,
   * (dataset_id, ts)-sorted files. Every append commits ≥ 1 file per
   * touched partition, so a partition ingested by thousands of small
   * batches ends up with thousands of sliver files — the small-files
   * problem that dominates scan open/seek cost long before data volume
   * does. Compaction restores the bin-packed layout the one-shot write
   * would have produced (A3 file binning, reference src/index.py:46),
   * INCLUDING the cross-file (dataset_id, ts) clustering that row-group
   * min/max pruning depends on — which per-batch appends interleave.
   *
   * The rewrite materializes the table via localCheckpoint before
   * overwriting its own input (lazy self-overwrite would corrupt). At
   * 100 TB the same operation runs partition-windowed — compact the
   * cold win_s ranges one slice at a time behind the manifest store's
   * versioned commit — rather than whole-table; the per-partition
   * rewrite here IS that slice operation with an unbounded window.
   */
  /**
   * Partition-grain retention (TTL): delete every store partition whose
   * TIME WINDOW ends at or before `cutoffS` — raw (ds_b, win_s) dirs
   * with `win_s + RawWindowS ≤ cutoff`, and rollup (fidelity, ds_b,
   * part_s) dirs with `part_s + partitionWindowS(f) ≤ cutoff`. Windows
   * that STRADDLE the cutoff are kept whole (conservative: rows just
   * older than the cutoff survive until their window ages out — the
   * standard object-store retention granularity; an exact cutoff would
   * rewrite data, which TTL must never do). Deletion is directory
   * metadata only — O(partition dirs), zero data read, exactly the
   * operation a 100 TB store runs nightly.
   *
   * Returns (rawPartitionsDeleted, rollupPartitionsDeleted).
   */
  def expireBefore(spark: SparkSession, root: String, cutoffS: Long): (Int, Int) = {
    def partsDeleted(
        tablePath: String,
        levelDepth: Int,
        windowOf: Array[String] => Option[(Long, Long)]): Int = {
      val base = new org.apache.hadoop.fs.Path(tablePath)
      val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
      if (!fs.exists(base)) return 0
      var deleted = 0
      def walk(p: org.apache.hadoop.fs.Path, segs: Array[String]): Unit =
        if (segs.length == levelDepth) {
          windowOf(segs).foreach { case (startS, widthS) =>
            if (startS + widthS <= cutoffS && fs.delete(p, true)) deleted += 1
          }
        } else {
          fs.listStatus(p).filter(_.isDirectory)
            .foreach(st => walk(st.getPath, segs :+ st.getPath.getName))
        }
      walk(base, Array.empty)
      deleted
    }
    def kv(seg: String, key: String): Option[Long] =
      Option(seg).filter(_.startsWith(key + "="))
        .flatMap(s => scala.util.Try(s.substring(key.length + 1).toLong).toOption)
    val nRaw = partsDeleted(rawPath(root), 2,
      segs => kv(segs(1), "win_s").map(w => (w, RawWindowS)))
    val nRollup = partsDeleted(rollupPath(root), 3, { segs =>
      for {
        fSeg <- Option(segs(0)).filter(_.startsWith("fidelity=d"))
        f <- scala.util.Try(
          graft.model.Fidelity.fromName(fSeg.stripPrefix("fidelity=d"))).toOption
        p <- kv(segs(2), "part_s")
      } yield (p, partitionWindowS(f))
    })
    // prune dirs the expiry emptied, INCLUDING a fully-expired table
    // root — a dir with zero parquet partitions would otherwise crash
    // schema inference on the next read; with the root gone, readers
    // take their empty-table path
    for (table <- Seq(rawPath(root), rollupPath(root))) {
      val base = new org.apache.hadoop.fs.Path(table)
      val fs = base.getFileSystem(spark.sessionState.newHadoopConf())
      def prune(p: org.apache.hadoop.fs.Path): Boolean = {
        if (!fs.getFileStatus(p).isDirectory) return false
        val remaining = fs.listStatus(p).filterNot(st =>
          st.isDirectory && prune(st.getPath))
        // _SUCCESS-style markers alone don't make a table readable
        val onlyMarkers = remaining.forall(st =>
          !st.isDirectory && st.getPath.getName.startsWith("_"))
        if (remaining.isEmpty || onlyMarkers) fs.delete(p, true) else false
      }
      if (fs.exists(base)) prune(base)
    }
    (nRaw, nRollup)
  }

  def compactRaw(spark: SparkSession, root: String): Unit = {
    val path = rawPath(root)
    if (!StoreFs.exists(spark, path)) return
    val snap = readDisk(spark, path, rawDiskSchema).localCheckpoint(true)
    snap
      .repartition(col("ds_b"), col("win_s"))
      .sortWithinPartitions(col("ds_b"), col("win_s"), col("dataset_id"), col("ts_us"))
      .write
      .mode("overwrite")
      .option("maxRecordsPerFile", Fidelity.GroupSize)
      .partitionBy("ds_b", "win_s")
      .parquet(path)
  }

  /** Targeted series deletion (right-to-be-forgotten): remove every
   *  raw point and every rollup bucket of `datasetId` by rewriting
   *  ONLY the series' hash-bucket subtree of each table — cost is
   *  1/DsBuckets of the store regardless of how many series it holds,
   *  never a full-table rewrite (and unlike `expireBefore` it must
   *  rewrite, not just unlink: the bucket's other series share its
   *  files). Each subtree is materialized series-free via
   *  localCheckpoint BEFORE its directory is replaced (the same
   *  self-overwrite discipline as `compactRaw`); a bucket left with no
   *  surviving rows is simply deleted. The rewrite preserves the
   *  ingest layout — (dataset_id, ts)-sorted, GroupSize-capped files —
   *  so reads after a forget prune exactly as before.
   */
  def forgetDataset(spark: SparkSession, root: String, datasetId: String): Unit = {
    val b = spark.range(1).select(dsBucket(lit(datasetId))).head().getInt(0)

    def rewrite(basePath: String, bucketDir: String, partCol: String,
        sortCols: Seq[String]): Unit = {
      if (!StoreFs.exists(spark, bucketDir)) return
      val survivors = spark.read
        .option("basePath", basePath).parquet(bucketDir)
        .where(col("dataset_id") =!= datasetId)
        .drop("ds_b", "fidelity")
        .localCheckpoint(true)
      StoreFs.delete(spark, bucketDir)
      if (!survivors.isEmpty)
        survivors
          .repartition(col(partCol))
          .sortWithinPartitions((partCol +: sortCols).map(col): _*)
          .write
          .mode("append")
          .option("maxRecordsPerFile", Fidelity.GroupSize)
          .partitionBy(partCol)
          .parquet(bucketDir)
    }

    rewrite(rawPath(root), s"${rawPath(root)}/ds_b=$b",
      "win_s", Seq("dataset_id", "ts_us"))
    for (f <- Fidelity.aggLevels)
      rewrite(rollupPath(root),
        s"${rollupPath(root)}/fidelity=${fidelityPart(f)}/ds_b=$b",
        "part_s", Seq("dataset_id", "bucket_s"))
    // a table drained of its last partition must read as never-written
    // (an empty dir defeats parquet schema inference), and an empty
    // fidelity level must not break partition discovery
    for (f <- Fidelity.aggLevels)
      deleteIfHollow(spark, s"${rollupPath(root)}/fidelity=${fidelityPart(f)}")
    deleteIfHollow(spark, rawPath(root))
    deleteIfHollow(spark, rollupPath(root))
  }

  /** Delete `path` if it exists but holds no non-hidden children
   *  (leftover _SUCCESS-style markers don't keep a table "alive").
   */
  private def deleteIfHollow(spark: SparkSession, path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p) && fs.listStatus(p).forall { st =>
      val n = st.getPath.getName
      n.startsWith("_") || n.startsWith(".")
    }) StoreFs.delete(spark, path)
  }

  /** Read a table back; a never-written table reads as empty (the
   *  reference treats missing files as empty results, src/index.py:556-558).
   */
  private def readOrEmpty(
      spark: SparkSession, path: String, schema: StructType,
      disk: StructType): DataFrame =
    if (StoreFs.exists(spark, path))
      readDisk(spark, path, disk)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
        .select(schema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  def readRaw(spark: SparkSession, root: String): DataFrame =
    readOrEmpty(spark, rawPath(root), rawSchema, rawDiskSchema)

  /** Raw read restricted to a win_s partition range — the filter lands
   *  on the partition column BEFORE projection, so it prunes statically.
   */
  private def readRawWindows(
      spark: SparkSession, root: String, winLo: Long, winHi: Long): DataFrame = {
    val path = rawPath(root)
    if (!StoreFs.exists(spark, path))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rawSchema)
    else
      readDisk(spark, path, rawDiskSchema)
        .where(col("win_s").between(winLo, winHi))
        .select(rawSchema.fields.map(f => col(f.name).cast(f.dataType)).toIndexedSeq: _*)
  }

  /** Read one level back out of the combined rollup table; the
   *  `fidelity` equality prunes to that level's partition subtree.
   */
  def readRollup(spark: SparkSession, root: String, f: Fidelity): DataFrame = {
    val path = rollupPath(root)
    if (StoreFs.exists(spark, path))
      readDisk(spark, path, rollupDiskSchema)
        .where(col("fidelity") === fidelityPart(f))
        .select(rollupSchema.fields.map(fl => col(fl.name).cast(fl.dataType)).toIndexedSeq: _*)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], rollupSchema)
  }

  /** A1+A4 in ONE aggregation: explode every point into its 6
   *  (fidelity, bucket) keys and hash-aggregate once. Map-side partial
   *  aggregation collapses the 6× row expansion before the shuffle, so
   *  shuffle volume equals the sum of all level partials (~1.1× the
   *  finest level) — the same bytes a 6-stage cascade moves, in ONE
   *  stage instead of six.
   */
  def allLevelPartials(long: DataFrame, withSumsq: Boolean = false): DataFrame = {
    val keys = Fidelity.aggLevels.map { f =>
      val d = f.seconds
      val w = partitionWindowS(f)
      val b = s"(ts_us div ${d * 1000000L}) * $d" // F3 bucket truncation
      struct(
        lit(fidelityPart(f)).as("fidelity"),
        expr(b).as("bucket_s"),
        expr(s"(($b) div $w) * $w").as("part_s"))
    }
    val base = Seq(
      min("value").as("min_v"),
      max("value").as("max_v"),
      sum("value").as("sum_v"),
      count(lit(1)).as("cnt"))
    // sumsq is the manifest store's v2 schema column (variance support);
    // it is the same monoid shape as sum_v, so coarser merges stay exact
    val aggs = if (withSumsq) base :+ sum(col("value") * col("value")).as("sumsq")
    else base
    long
      .select(col("dataset_id"), col("value"), explode(array(keys: _*)).as("k"))
      .groupBy(
        col("k.fidelity").as("fidelity"), col("dataset_id"),
        col("k.part_s").as("part_s"), col("k.bucket_s").as("bucket_s"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /**
   * S3 — merge-upsert one batch's partial aggregates for ALL levels into
   * the rollup table with UNBOUNDED lateness (src/index.py:521-550,
   * 328-374) in a single write job: read only the affected
   * (fidelity, ds_b, part_s) partitions (left-semi join against the
   * batch's distinct partition keys — broadcast, since a batch touches
   * few partitions), fold with the A2 monoid, and dynamically overwrite
   * just those partitions.
   */
  /** The (fidelity, ds_b, part_s) partitions a batch with the given ts
   *  bounds and series-bucket set can touch — pure arithmetic on the
   *  same bucket/part derivation `allLevelPartials` uses, so it is a
   *  (possibly strict) superset of the partitions that actually receive
   *  rows: reading an extra in-range partition is only wasted IO, never
   *  wrong. Because series are hash-bucketed, `buckets.size ≤ DsBuckets`
   *  regardless of series cardinality; the cap only trips on degenerate
   *  SPANS (e.g. one corrupt epoch-0 timestamp stretching the range to
   *  decades) — the size check runs on COUNTS before anything
   *  materializes, and callers then fall back to the exact
   *  distinct-over-partials job.
   */
  def affectedPartitions(
      tsLoUs: Long, tsHiUs: Long, buckets: Seq[Int],
      cap: Long = 20000L): Option[Seq[(String, Int, Long)]] = {
    val perLevel = Fidelity.aggLevels.map { f =>
      val w = partitionWindowS(f)
      val d = f.seconds
      val partLo = tsLoUs / (d * 1000000L) * d / w * w
      val partHi = tsHiUs / (d * 1000000L) * d / w * w
      (f, w, partLo, partHi, (partHi - partLo) / w + 1)
    }
    val total = perLevel.map(_._5).sum * buckets.size
    if (total > cap || total <= 0) None
    else Some(for {
      (f, w, partLo, partHi, _) <- perLevel
      part <- partLo to partHi by w
      b <- buckets
    } yield (fidelityPart(f), b, part))
  }

  /** @param preAggregated caller asserts `partials` is already unique
   *  per (fidelity, dataset_id, part_s, bucket_s) — `allLevelPartials`
   *  output qualifies. Only then may the first write into a fresh table
   *  skip the merging groupBy; defaulting to false keeps the public
   *  path safe (un-aggregated input would otherwise silently persist
   *  duplicate bucket rows on the first write only, which readers
   *  summing min/max/sum/cnt cannot detect).
   */
  def mergeRollups(
      spark: SparkSession, root: String, partials: DataFrame,
      affectedHint: Option[Seq[(String, Int, Long)]] = None,
      preAggregated: Boolean = false): Unit = {
    // Persist the tagged partials: the lineage behind them would
    // otherwise be recomputed by BOTH the affected-partition job and
    // the write job.
    val newPart = partials
      .select("fidelity", "dataset_id", "part_s", "bucket_s",
        "min_v", "max_v", "sum_v", "cnt")
      .persist()

    // The affected partition set is bounded by (#levels × #buckets ×
    // #file-windows) in the batch — `DsBuckets` caps the middle factor
    // no matter how many series the batch carries. Restrict the
    // existing-table read to the batch's part_s range with TWO literal
    // bounds (static partition pruning — a per-key OR chain would blow
    // up Catalyst planning), then exact-match the affected partitions
    // with a broadcast semi-join. When the caller already knows the
    // batch's ts bounds and buckets (ingestBatch does), the set comes
    // in as a LOCAL hint — computing it from `newPart` would run the
    // whole partials lineage once more just to enumerate keys.
    import spark.implicits._
    val affected = affectedHint
      .filter(_.size <= 20000) // degenerate spans fall back to the exact job
      .map(_.toDF("fidelity", "ds_b", "part_s"))
      .getOrElse(newPart.select(
        col("fidelity"), dsBucket(col("dataset_id")).as("ds_b"), col("part_s")).distinct())
      .persist()
    def prof[T](l: String)(f: => T): T = {
      val t0 = System.nanoTime(); val r = f
      if (sys.env.contains("GRAFT_PROF"))
        println(f"[mprof] $l%-20s ${(System.nanoTime()-t0)/1e9}%7.2f s")
      r
    }
    try {
      val bounds = prof("affected+bounds")(affected.agg(min("part_s"), max("part_s")).head())
      if (bounds.isNullAt(0)) return // empty batch: nothing to merge
      val path = rollupPath(root)
      val existing =
        if (!StoreFs.exists(spark, path)) None
        else Some(
          readDisk(spark, path, rollupDiskSchema)
            .where(col("part_s").between(bounds.getLong(0), bounds.getLong(1)))
            .join(broadcast(affected), Seq("fidelity", "ds_b", "part_s"), "left_semi")
            .select(newPart.columns.map(col).toIndexedSeq: _*))

      // first write into a fresh table with pre-aggregated partials:
      // the merge re-aggregation would be an identity, skip its shuffle
      val merged = existing match {
        case None if preAggregated => newPart
        case ex => ex.map(_.unionByName(newPart)).getOrElse(newPart)
          .groupBy("fidelity", "dataset_id", "part_s", "bucket_s")
          .agg(
            min("min_v").as("min_v"),
            max("max_v").as("max_v"),
            sum("sum_v").as("sum_v"),
            sum("cnt").as("cnt"))
      }

      // Rewrite only the affected partitions (partitionOverwriteMode=dynamic);
      // files sort by (dataset_id, bucket_s) inside each bucket dir so
      // per-series reads skip row groups via min/max stats
      prof("write")(merged
        .withColumn("ds_b", dsBucket(col("dataset_id")))
        .repartition(col("fidelity"), col("ds_b"), col("part_s"))
        .sortWithinPartitions(
          col("fidelity"), col("ds_b"), col("part_s"), col("dataset_id"), col("bucket_s"))
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", Fidelity.GroupSize)
        .partitionBy("fidelity", "ds_b", "part_s")
        .parquet(path))
    } finally {
      affected.unpersist()
      newPart.unpersist()
    }
  }

  /**
   * Operational repair / backfill: recompute EVERY rollup level for the
   * time slice [t0Us, t1Us) from RAW and replace exactly those bucket
   * rows — the recovery path when a rollup partition diverges from raw
   * (partial merge, bad writer, manual surgery). RAW is the source of
   * truth, exactly like the reference's recompute-from-raw rollup
   * build (src/index.py:137-177) but sliced.
   *
   * Slice bounds must align to the coarsest level's bucket grid
   * (100000 s): every level's bucket width divides 100000, so each
   * affected bucket at each level lies WHOLLY inside the slice and
   * replace-by-recompute is exact — no merging with stale partials.
   *
   * Cost ∝ slice, not table: the raw read prunes to the slice's
   * windows, carried-over rows come only from the affected partitions
   * (broadcast semi-join), and only those partitions rewrite (dynamic
   * overwrite). Partitions whose every row was stale (no surviving
   * output) are deleted as directory metadata, so the repair cannot
   * leave orphaned rows behind.
   */
  def repairRollups(
      spark: SparkSession, root: String, t0Us: Long, t1Us: Long): Unit = {
    val coarseUs = 100000L * 1000000L
    require(t0Us % coarseUs == 0 && t1Us % coarseUs == 0 && t1Us > t0Us,
      "repair slice must align to the coarsest (100000 s) bucket grid")
    val t0s = t0Us / 1000000L
    val t1s = t1Us / 1000000L
    val path = rollupPath(root)
    val rawSlice = readRaw(spark, root)
      .where(col("ts_us") >= t0Us && col("ts_us") < t1Us)
      .select(col("dataset_id"), col("ts_us"), col("value"))
    val partials = allLevelPartials(rawSlice)
      .select("fidelity", "dataset_id", "part_s", "bucket_s",
        "min_v", "max_v", "sum_v", "cnt")
      .persist()
    val exists = StoreFs.exists(spark, path)
    val fromNew = partials
      .withColumn("ds_b", dsBucket(col("dataset_id")))
      .select("fidelity", "ds_b", "part_s").distinct()
    val affected = (if (!exists) fromNew
      else fromNew.unionByName(
        readDisk(spark, path, rollupDiskSchema)
          .where(col("bucket_s") >= t0s && col("bucket_s") < t1s)
          .select("fidelity", "ds_b", "part_s").distinct()))
      .distinct().persist()
    try {
      if (affected.isEmpty) return
      val carried =
        if (!exists) None
        else Some(readDisk(spark, path, rollupDiskSchema)
          .join(broadcast(affected),
            Seq("fidelity", "ds_b", "part_s"), "left_semi")
          .where(col("bucket_s") < t0s || col("bucket_s") >= t1s)
          .select("fidelity", "dataset_id", "part_s", "bucket_s",
            "min_v", "max_v", "sum_v", "cnt"))
      val out = carried.map(_.unionByName(partials)).getOrElse(partials)
        .persist()
      out
        .withColumn("ds_b", dsBucket(col("dataset_id")))
        .repartition(col("fidelity"), col("ds_b"), col("part_s"))
        .sortWithinPartitions(
          col("fidelity"), col("ds_b"), col("part_s"),
          col("dataset_id"), col("bucket_s"))
        .write
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .option("maxRecordsPerFile", Fidelity.GroupSize)
        .partitionBy("fidelity", "ds_b", "part_s")
        .parquet(path)
      // dynamic overwrite only rewrites partitions PRESENT in `out`;
      // an affected partition whose rows were all stale must be
      // cleared explicitly or its orphans survive the repair
      val outParts = out
        .withColumn("ds_b", dsBucket(col("dataset_id")))
        .select("fidelity", "ds_b", "part_s").distinct()
      val stale = affected.exceptAll(outParts).collect()
      if (stale.nonEmpty) {
        val fs = new org.apache.hadoop.fs.Path(path)
          .getFileSystem(spark.sparkContext.hadoopConfiguration)
        stale.foreach { r =>
          fs.delete(new org.apache.hadoop.fs.Path(
            s"$path/fidelity=${r.getString(0)}/ds_b=${r.getInt(1)}" +
              s"/part_s=${r.getLong(2)}"), true)
        }
      }
      out.unpersist()
    } finally {
      affected.unpersist()
      partials.unpersist()
    }
  }

  /** STORE FSCK — the detection sibling of [[repairRollups]] (which
   *  remediates but never reports): recompute the rollup pyramid's
   *  invariants and return (check, violations, audited) rows, the same
   *  report shape as the index fscks ([[IndexFsck]]):
   *
   *  | check                  | violation = …                          |
   *  |------------------------|----------------------------------------|
   *  | layout_rollup          | rollup row whose partition coords lie —
   *  |                        | ds_b ≠ hash bucket, part_s off its
   *  |                        | level's window grid, bucket_s off the
   *  |                        | level grid, or an unknown fidelity (a
   *  |                        | misplaced row is INVISIBLE to pruned
   *  |                        | reads — silently missing, not wrong)   |
   *  | layout_raw             | raw row with ds_b/win_s off-grid       |
   *  | cascade_<f>_<c>        | (series, coarse bucket) where folding
   *  |                        | the finer level with the A2 monoid
   *  |                        | disagrees with the stored coarser level
   *  |                        | (min/max/cnt exact; sum within 1e-9
   *  |                        | relative — merge order differs)        |
   *  | raw_1s (deep=true)     | 1 s bucket where a full recount from
   *  |                        | raw disagrees with the stored level    |
   *
   *  The five cascade checks cost ∝ the AGG tables (never raw) — the
   *  always-affordable tier; `deep` adds the one raw-priced recount.
   *  audited = the compared bucket/row universe per check. All-zeros
   *  is the healthy state; nonzero means a torn merge, a stray writer,
   *  or a partition moved by hand — run [[repairRollups]] over the
   *  offending slice to remediate.
   */
  def fsck(
      spark: SparkSession, root: String, deep: Boolean = false): DataFrame = {
    import spark.implicits._
    // coalesce: sum over zero rows is null — an empty or
    // raw-only/rollup-only store must report (0, 0) universes, not NPE
    // (fsck exists precisely for post-incident degenerate states)
    val isViol = (c: org.apache.spark.sql.Column) =>
      coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    def sumOff(a: org.apache.spark.sql.Column,
        b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      abs(a - b) > lit(1e-9) * greatest(abs(a), abs(b), lit(1.0))
    val layout: Seq[() => (String, Long, Long)] = Seq(
      () => {
        val rp = rollupPath(root)
        if (!StoreFs.exists(spark, rp)) ("layout_rollup", 0L, 0L)
        else {
          val known = Fidelity.aggLevels.map(fidelityPart)
          val secs = Fidelity.aggLevels
            .foldLeft(lit(-1L))((acc, f) =>
              when(col("fidelity") === fidelityPart(f), lit(f.seconds))
                .otherwise(acc))
          val win = Fidelity.aggLevels
            .foldLeft(lit(-1L))((acc, f) =>
              when(col("fidelity") === fidelityPart(f),
                lit(partitionWindowS(f))).otherwise(acc))
          val r = readDisk(spark, rp, rollupDiskSchema)
            .select(col("fidelity").cast("string").as("fidelity"),
              col("ds_b").cast("long").as("ds_b"),
              col("part_s").cast("long").as("part_s"),
              col("dataset_id"), col("bucket_s"))
            .agg(isViol(!col("fidelity").isin(known: _*) ||
                col("bucket_s") % secs =!= 0 ||
                // `%` (truncating remainder), NOT pmod: the expected
                // part_s must reproduce allLevelPartials' truncating
                // `(bucket div win) * win`, or a healthy store with
                // pre-1970 buckets is flagged corrupt
                col("part_s") =!= (col("bucket_s") - col("bucket_s") %
                  win) ||
                col("ds_b") =!= dsBucket(col("dataset_id")).cast("long"))
                .as("viol"),
              count(lit(1)).as("aud")).head()
          ("layout_rollup", r.getLong(0), r.getLong(1))
        }
      },
      () => {
        // a duplicated (level, series, bucket) row with FORGED-equal
        // values would pass the cascade value compare (the join matches
        // either copy) — uniqueness is its own invariant
        val rp = rollupPath(root)
        if (!StoreFs.exists(spark, rp)) ("rollup_unique", 0L, 0L)
        else {
          val r = readDisk(spark, rp, rollupDiskSchema)
            .groupBy(col("fidelity"), col("dataset_id"), col("bucket_s"))
            .agg(count(lit(1)).as("m"))
            .agg(isViol(col("m") > 1).as("viol"),
              count(lit(1)).as("aud")).head()
          ("rollup_unique", r.getLong(0), r.getLong(1))
        }
      },
      () => {
        val rp = rawPath(root)
        if (!StoreFs.exists(spark, rp)) ("layout_raw", 0L, 0L)
        else {
          val r = readDisk(spark, rp, rawDiskSchema)
            .select(col("ds_b").cast("long").as("ds_b"),
              col("win_s").cast("long").as("win_s"),
              col("dataset_id"), col("ts_us"))
            .agg(isViol(
                col("win_s") =!= expr(
                  s"(ts_us div ${RawWindowS * 1000000L}) * $RawWindowS") ||
                col("ds_b") =!= dsBucket(col("dataset_id")).cast("long"))
                .as("viol"),
              count(lit(1)).as("aud")).head()
          ("layout_raw", r.getLong(0), r.getLong(1))
        }
      })
    def compareToStored(
        recomputed: DataFrame, stored: DataFrame): (Long, Long) = {
      val r = recomputed.as("e").join(stored.as("g"),
          Seq("dataset_id", "bucket_s"), "full_outer")
        .agg(isViol(col("e.cnt").isNull || col("g.cnt").isNull ||
            col("e.cnt") =!= col("g.cnt") ||
            col("e.min_v") =!= col("g.min_v") ||
            col("e.max_v") =!= col("g.max_v") ||
            sumOff(col("e.sum_v"), col("g.sum_v"))).as("viol"),
          count(lit(1)).as("aud")).head()
      (r.getLong(0), r.getLong(1))
    }
    val cascades: Seq[() => (String, Long, Long)] =
      Fidelity.aggLevels.sliding(2).toSeq.map { pair =>
        val (fine, coarse) = (pair(0), pair(1))
        () => {
          val folded = readRollup(spark, root, fine)
            .groupBy(col("dataset_id"),
              // truncating fold, matching allLevelPartials' bucket
              // derivation for negative (pre-1970) timestamps
              (col("bucket_s") - col("bucket_s") %
                lit(coarse.seconds)).as("bucket_s"))
            .agg(min("min_v").as("min_v"), max("max_v").as("max_v"),
              sum("sum_v").as("sum_v"), sum("cnt").as("cnt"))
          val (viol, aud) =
            compareToStored(folded, readRollup(spark, root, coarse))
          (s"cascade_${fine.name}_${coarse.name}", viol, aud)
        }
      }
    val deepCheck: Seq[() => (String, Long, Long)] =
      if (!deep) Seq.empty
      else Seq(() => {
        val s1 = Fidelity.aggLevels.head
        val recount = allLevelPartials(
            readRaw(spark, root).select("dataset_id", "ts_us", "value"))
          .where(col("fidelity") === fidelityPart(s1))
          .select("dataset_id", "bucket_s", "min_v", "max_v", "sum_v",
            "cnt")
        val (viol, aud) =
          compareToStored(recount, readRollup(spark, root, s1))
        (s"raw_${s1.name}", viol, aud)
      })
    graft.util.Par.par(layout ++ cascades ++ deepCheck)
      .toDF("check", "violations", "audited")
  }

  /**
   * DETECT → REMEDIATE composition for the rollup pyramid: re-derive
   * [[fsck]]'s rollup-side checks at VIOLATION grain (the violating
   * bucket, not just a count), fold the violations to the coarsest
   * level's 100000 s repair grid, and recompute exactly those windows
   * from raw via [[repairRollups]] — so an operator goes from "fsck is
   * red" to "fsck is green" in one verb instead of hand-translating
   * violation counts into slice bounds. Returns the repaired window
   * starts (seconds), sorted; empty = nothing to repair.
   *
   * Scope: layout_rollup, rollup_unique, every cascade level pair,
   * and (under `deep`) the raw→1 s recount — everything RAW can
   * reconstruct. Raw-side violations (layout_raw) are detection-only:
   * raw IS the source of truth, there is nothing to recompute it
   * from — fix the stray writer and re-ingest instead.
   *
   * Cost ∝ the agg tables for detection (the fsck discipline) plus
   * ∝ repaired slices for remediation; `maxSlices` bounds the
   * driver-side window set loudly (a corruption wide enough to blow
   * it needs operator triage, not a blind full rewrite).
   */
  def fsckRepair(
      spark: SparkSession, root: String, deep: Boolean = false,
      maxSlices: Int = 64): Seq[Long] = {
    val rp = rollupPath(root)
    if (!StoreFs.exists(spark, rp)) return Seq.empty
    val coarseS = 100000L
    def buckets(df: DataFrame): DataFrame =
      df.select(col("bucket_s").cast("long").as("bucket_s"))
    val rollup = readDisk(spark, rp, rollupDiskSchema)
      .select(col("fidelity").cast("string").as("fidelity"),
        col("ds_b").cast("long").as("ds_b"),
        col("part_s").cast("long").as("part_s"),
        col("dataset_id"), col("bucket_s").cast("long").as("bucket_s"),
        col("min_v"), col("max_v"), col("sum_v"), col("cnt"))
      .persist()
    try {
      val known = Fidelity.aggLevels.map(fidelityPart)
      val secs = Fidelity.aggLevels
        .foldLeft(lit(-1L))((acc, f) =>
          when(col("fidelity") === fidelityPart(f), lit(f.seconds))
            .otherwise(acc))
      val win = Fidelity.aggLevels
        .foldLeft(lit(-1L))((acc, f) =>
          when(col("fidelity") === fidelityPart(f),
            lit(partitionWindowS(f))).otherwise(acc))
      val layoutBad = buckets(rollup.where(
        !col("fidelity").isin(known: _*) ||
          col("bucket_s") % secs =!= 0 ||
          col("part_s") =!= (col("bucket_s") - col("bucket_s") % win) ||
          col("ds_b") =!= dsBucket(col("dataset_id")).cast("long")))
      val dupBad = buckets(rollup
        .groupBy("fidelity", "dataset_id", "bucket_s")
        .agg(count(lit(1)).as("m")).where(col("m") > 1))
      def sumOff(a: org.apache.spark.sql.Column,
          b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        abs(a - b) > lit(1e-9) * greatest(abs(a), abs(b), lit(1.0))
      def mismatch(e: DataFrame, g: DataFrame): DataFrame = {
        val ea = e.select(col("dataset_id"), col("bucket_s"),
          col("min_v").as("e_min"), col("max_v").as("e_max"),
          col("sum_v").as("e_sum"), col("cnt").as("e_cnt"))
        val ga = g.select(col("dataset_id"),
          col("bucket_s").cast("long").as("bucket_s"),
          col("min_v").as("g_min"), col("max_v").as("g_max"),
          col("sum_v").as("g_sum"), col("cnt").as("g_cnt"))
        buckets(ea.join(ga, Seq("dataset_id", "bucket_s"), "full_outer")
          .where(col("e_cnt").isNull || col("g_cnt").isNull ||
            col("e_cnt") =!= col("g_cnt") ||
            col("e_min") =!= col("g_min") ||
            col("e_max") =!= col("g_max") ||
            sumOff(col("e_sum"), col("g_sum"))))
      }
      val cascadeBad = Fidelity.aggLevels.sliding(2).toSeq.map { pair =>
        val (fine, coarse) = (pair(0), pair(1))
        val folded = readRollup(spark, root, fine)
          .groupBy(col("dataset_id"),
            (col("bucket_s") - col("bucket_s") %
              lit(coarse.seconds)).as("bucket_s"))
          .agg(min("min_v").as("min_v"), max("max_v").as("max_v"),
            sum("sum_v").as("sum_v"), sum("cnt").as("cnt"))
        mismatch(folded, readRollup(spark, root, coarse))
      }
      val deepBad =
        if (!deep) Seq.empty
        else {
          val s1 = Fidelity.aggLevels.head
          val recount = allLevelPartials(
              readRaw(spark, root).select("dataset_id", "ts_us", "value"))
            .where(col("fidelity") === fidelityPart(s1))
            .select("dataset_id", "bucket_s", "min_v", "max_v", "sum_v",
              "cnt")
          Seq(mismatch(recount, readRollup(spark, root, s1)))
        }
      val windows = (Seq(layoutBad, dupBad) ++ cascadeBad ++ deepBad)
        .reduce(_.unionByName(_))
        .select((col("bucket_s") - pmod(col("bucket_s"), lit(coarseS)))
          .as("w"))
        .distinct()
        .limit(maxSlices + 1)
        .collect().map(_.getLong(0)).sorted.toSeq
      require(windows.length <= maxSlices,
        s"fsckRepair found > $maxSlices violated $coarseS s windows — " +
          "corruption this wide needs operator triage (raise maxSlices " +
          "deliberately, or rebuild the pyramid from raw)")
      require(windows.forall(_ >= 0L),
        "fsckRepair windows must be non-negative (pre-1970 buckets — " +
          "repair those slices by hand with repairRollups)")
      windows.foreach(w => repairRollups(spark, root,
        w * 1000000L, (w + coarseS) * 1000000L))
      windows
    } finally rollup.unpersist(): Unit
  }

  /**
   * §3.2 `Index.put` — one ingest batch: sanitize → append raw →
   * cascade all 6 rollup levels → merge each into its table
   * (reference: src/index.py:124-177). Used by both the batch bootstrap
   * path and the Structured Streaming `foreachBatch` sink.
   */
  /** Batch stats in ONE light agg — ts bounds and the distinct series
   *  BUCKETS, from which the affected rollup partitions follow
   *  arithmetically (`affectedPartitions`). Collecting buckets instead
   *  of dataset ids is what keeps this unconditionally driver-safe: the
   *  set is ≤ DsBuckets elements even for a 10⁶-series batch, so no
   *  cardinality pre-check is needed. Outer None = EMPTY batch (skip
   *  all writes); inner None = degenerate span (write with the exact
   *  merge fallback). The emptiness answer rides the same job as the
   *  hint — no separate isEmpty scan.
   */
  private[graft] def batchStatsHint(
      batch: DataFrame): Option[Option[Seq[(String, Int, Long)]]] = {
    val stats = batch
      .agg(min("ts_us"), max("ts_us"),
        collect_set(dsBucket(col("dataset_id"))).as("bs")).head()
    if (stats.isNullAt(0)) None
    else Some(affectedPartitions(
      stats.getLong(0), stats.getLong(1), stats.getSeq[Int](2)))
  }

  /** Affected-partition hint for a non-empty batch (see batchStatsHint). */
  private[graft] def partitionHint(
      batch: DataFrame): Option[Seq[(String, Int, Long)]] =
    batchStatsHint(batch).flatten

  def ingestBatch(
      spark: SparkSession, root: String, batchLong: DataFrame,
      dedup: Boolean = false): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global

    // The reference double-counts re-POSTed points (acknowledged TODO,
    // src/index.py:39-40): append + merge have no dedup. Default
    // replicates that for parity; `dedup = true` fixes it — exact-dup
    // drop within the batch, then a left-anti join against ONLY the
    // raw partitions the batch touches (day-range pruned, so the check
    // scales with the batch, not the table).
    val sanitized = graft.ingest.Melt.sanitize(batchLong)
    val deduped =
      if (!dedup) sanitized
      else {
        val inBatch = sanitized.dropDuplicates("dataset_id", "ts_us", "value")
        val bounds = inBatch.agg(min("ts_us"), max("ts_us")).head()
        if (bounds.isNullAt(0)) inBatch
        else {
          val winLo = bounds.getLong(0) / (RawWindowS * 1000000L) * RawWindowS
          val winHi = bounds.getLong(1) / (RawWindowS * 1000000L) * RawWindowS
          val existing = readRawWindows(spark, root, winLo, winHi)
            .where(col("ts_us").between(bounds.getLong(0), bounds.getLong(1)))
          inBatch.join(
            existing.select("dataset_id", "ts_us", "value"),
            Seq("dataset_id", "ts_us", "value"), "left_anti")
        }
      }
    // dedup's anti-join lineage READS the raw table this very ingest is
    // about to append to — a lazy recompute racing the append would see
    // the batch's own rows and drop them. localCheckpoint materializes
    // the deduped batch eagerly and severs that lineage.
    val batch =
      if (dedup) deduped.localCheckpoint(true)
      else deduped.persist()
    try {
      // one stats job answers BOTH "is the batch empty" and "which
      // partitions can it touch" (inner None → exact merge fallback)
      batchStatsHint(batch).foreach { hint =>
        // All 6 levels in one aggregation (allLevelPartials) instead of
        // the reference's per-level recompute-from-raw
        // (src/index.py:137-177). The raw append and the rollup merge
        // write to DISJOINT tables — run them as concurrent Spark jobs so
        // the batch pays max(raw, rollup) latency, not their sum (the
        // reference writes its 7 levels sequentially, src/index.py:124-177).
        val writes = Seq(
          Future(appendRaw(batch, root)),
          Future(mergeRollups(spark, root, allLevelPartials(batch), hint,
            preAggregated = true)))
        Await.result(Future.sequence(writes), Duration.Inf): Unit
      }
    } finally batch.unpersist()
  }
}
