package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.model.Fidelity
import graft.store.{IndexCore, ManifestStore, Tables}

/**
 * CDC STREAMING CONSUMER — tail the manifest store's commit log as a
 * stream and keep a derived materialization continuously fresh.
 *
 * The manifest store publishes one immutable version file per commit
 * (`_manifests/v<N>`, ManifestStore.commit); that sequence IS the
 * table's write-ahead log, so a Structured Streaming file source over
 * the `_manifests` directory is a change feed with no second channel,
 * no poller, and no consumer-side offset bookkeeping beyond the file
 * source's own checkpoint. This is the streaming leg of the batch
 * `manifest_cdc` / `incremental_refresh` pair (the reference keeps
 * derived aggregates fresh by rewriting them on every ingest,
 * src/index.py:521-550; here a downstream materialization keeps ITSELF
 * fresh by consuming deltas): each newly observed version drives
 * exactly one delta-refresh step, so a summary consumer's steady-state
 * cost is ∝ changed days per commit, never ∝ the table.
 *
 * Scale shape at 100 TB: the stream reads ~100-byte manifest files —
 * never data — and each refresh step does delta-pruned work
 * (ManifestStore.cdcBetween's bounding-box + semi-join pruning, then a
 * touched-days-only re-aggregation). Versions can surface in any order
 * across micro-batches (file-source mtime ties); the consumer buffers
 * out-of-order versions and applies strictly sequentially, because a
 * CDC window (v-1, v] is only meaningful against the v-1 snapshot.
 */
object StreamCdc {

  /** The manifest log as a stream: one row per (published version,
   *  manifest line). `maxFilesPerTrigger=1` keeps each micro-batch at
   *  ~one version so refresh latency tracks commit latency.
   */
  def versionFeed(spark: SparkSession, root: String): DataFrame =
    spark.readStream
      .format("text")
      .option("maxFilesPerTrigger", "1")
      .load(IndexCore.manifestDir(ManifestStore.storeDir(root)))
      .select(
        regexp_extract(input_file_name(), "/v(\\d+)$", 1)
          .cast("long").as("version"),
        col("value").as("entry"))

  /** Daily-summary monoid over a 1 s-level frame (shared with the batch
   *  `incremental_refresh` query so the two paths cannot drift).
   */
  def daily(level1: DataFrame): DataFrame =
    level1
      .groupBy(col("dataset_id"),
        (expr("bucket_s div 86400") * lit(86400L)).as("day_s"))
      .agg(
        min("min_v").as("min_v"), max("max_v").as("max_v"),
        sum("sum_v").as("sum_v"), sum("cnt").as("cnt"))

  /** The empty daily summary (bootstrap state: version 0 = empty table,
   *  so EVERY version folds in as a delta — no snapshot bootstrap).
   */
  def emptyDaily(spark: SparkSession): DataFrame =
    daily(spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      Tables.rollupSchema))

  /** One delta-driven refresh step: fold version `v`'s change feed into
   *  the maintained summary — anti-join out the (dataset, day) groups
   *  the CDC feed touched, re-aggregate exactly those from the 1 s
   *  level AS OF `v`. Work ∝ changed days; the untouched remainder of
   *  the summary is never read, recomputed, or shuffled (broadcast
   *  semi/anti joins against the small touched set).
   */
  def refreshDailyStep(
      spark: SparkSession, root: String, summary: DataFrame, v: Long): DataFrame =
    refreshDailyStepWith(spark, root, summary, v,
      ManifestStore.cdcBetween(spark, root, Fidelity.S1, v - 1L, v))

  /** [[refreshDailyStep]] against a caller-provided change feed — so a
   *  fan-out consumer reads the version's CDC ONCE for all its states.
   */
  def refreshDailyStepWith(
      spark: SparkSession, root: String, summary: DataFrame, v: Long,
      feed: DataFrame): DataFrame = {
    val touched = feed
      .select(col("dataset_id"),
        (expr("bucket_s div 86400") * lit(86400L)).as("day_s"))
      .distinct()
    val fresh = daily(
      ManifestStore.readLevelAsOf(spark, root, Fidelity.S1, v)
        .withColumn("day_s", expr("bucket_s div 86400") * lit(86400L))
        .join(broadcast(touched), Seq("dataset_id", "day_s"), "left_semi")
        .drop("day_s"))
    summary
      .join(broadcast(touched), Seq("dataset_id", "day_s"), "left_anti")
      .unionByName(fresh)
  }

  /** Drain the manifest log (AvailableNow) applying every published
   *  version as one sequential refresh step, and return the maintained
   *  daily summary. Out-of-order arrivals buffer until their
   *  predecessor applies; `localCheckpoint` truncates the summary's
   *  lineage each step so N versions cost N deltas, not an N-deep plan.
   *
   *  With a `stateDir`, the consumer is RESTART-SAFE independently of
   *  the driver process: each applied version writes the summary to
   *  `stateDir/s-<v>` and then flips the `_applied` marker, and a
   *  resumed run bootstraps from the highest marked version instead of
   *  the empty table — a crashed consumer re-applies AT MOST the one
   *  version whose marker didn't land, and a refresh step is a
   *  deterministic rewrite of the touched days, so that replay is
   *  idempotent.
   */
  def maintainDaily(
      spark: SparkSession, root: String, checkpoint: String,
      stateDir: Option[String] = None): DataFrame = {
    val boot = stateDir.flatMap(readState(spark, _))
    @volatile var summary = boot.map(_._2).getOrElse(emptyDaily(spark))
    @volatile var applied = boot.map(_._1).getOrElse(0L)
    val pending = scala.collection.mutable.SortedSet.empty[Long]
    val q = versionFeed(spark, root).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val vs = b.select("version").distinct()
          .collect().map(_.getLong(0))
        pending.synchronized {
          pending ++= vs.filter(_ > applied)
          while (pending.nonEmpty && pending.head == applied + 1L) {
            summary = refreshDailyStep(
              b.sparkSession, root, summary, pending.head).localCheckpoint(true)
            applied = pending.head
            pending -= applied
            stateDir.foreach(writeState(b.sparkSession, _, applied, summary))
          }
        }
      }
      .start()
    q.awaitTermination()
    require(pending.isEmpty,
      s"manifest log gap: versions $pending arrived without predecessor " +
        s"$applied+1 — refusing to skip CDC windows")
    summary
  }

  /** FAN-OUT consumer: ONE manifest-WAL stream drives TWO maintained
   *  states, each refreshed in its own style from the SAME per-version
   *  change feed (read once):
   *   - the daily summary, by touched-days re-aggregation (min/max are
   *     not invertible, so the snapshot re-read is required);
   *   - per-series running totals, by PURE DELTA-ADD — sum/cnt are
   *     invertible, so `new − old` from the feed suffices and the
   *     table is never re-read at all (the cheapest consumer shape).
   *  Returns (summary, totals) after draining. The registered query
   *  joins them so the two independently-maintained states' agreement
   *  is itself oracle-checked.
   */
  def maintainFanout(
      spark: SparkSession, root: String,
      checkpoint: String): (DataFrame, DataFrame) = {
    @volatile var summary = emptyDaily(spark)
    @volatile var totals = daily(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        graft.store.Tables.rollupSchema))
      .select(col("dataset_id"), col("sum_v"), col("cnt"))
    @volatile var applied = 0L
    val pending = scala.collection.mutable.SortedSet.empty[Long]
    val q = versionFeed(spark, root).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val vs = b.select("version").distinct().collect().map(_.getLong(0))
        pending.synchronized {
          pending ++= vs.filter(_ > applied)
          while (pending.nonEmpty && pending.head == applied + 1L) {
            val v = pending.head
            val feed = ManifestStore
              .cdcBetween(b.sparkSession, root, Fidelity.S1, v - 1L, v)
              .localCheckpoint(true)
            summary = refreshDailyStepWith(
              b.sparkSession, root, summary, v, feed).localCheckpoint(true)
            val delta = feed.select(
                col("dataset_id"),
                (col("sum_v") - coalesce(col("old_sum_v"), lit(0.0))).as("sum_v"),
                (col("cnt") - coalesce(col("old_cnt"), lit(0L))).as("cnt"))
            totals = totals.unionByName(delta)
              .groupBy("dataset_id")
              .agg(sum("sum_v").as("sum_v"), sum("cnt").as("cnt"))
              .localCheckpoint(true)
            applied = v
            pending -= v
          }
        }
      }
      .start()
    q.awaitTermination()
    require(pending.isEmpty,
      s"manifest log gap: versions $pending arrived without predecessor " +
        s"$applied+1 — refusing to skip CDC windows")
    (summary, totals)
  }

  /** The empty alert state (bootstrap: everything implicitly inactive
   *  since version 0 with zero flips).
   */
  def emptyAlerts(spark: SparkSession): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("dataset_id",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("active",
          org.apache.spark.sql.types.BooleanType),
        org.apache.spark.sql.types.StructField("since_v",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("flips",
          org.apache.spark.sql.types.LongType))))

  /** One alert-state transition: fold version `v`'s change feed into the
   *  per-dataset hysteresis state. The version's INGESTED mean per
   *  dataset is `Σ(new−old sums) / Σ(new−old counts)` off the feed —
   *  never a table re-read. Transition: mean ≥ `high` → active, mean ≤
   *  `low` → inactive, in the dead band (or absent from this version)
   *  the previous state CARRIES — the hysteresis that keeps a signal
   *  oscillating around one threshold from flapping the alert. State is
   *  catalog-grain (one row per dataset ever seen), so the outer join
   *  against the version's delta is small on both sides at any corpus
   *  scale.
   */
  def alertStep(
      state: DataFrame, feed: DataFrame, v: Long,
      high: Double, low: Double): DataFrame = {
    val vm = feed.groupBy("dataset_id").agg(
      (sum(col("sum_v") - coalesce(col("old_sum_v"), lit(0.0))) /
        sum(col("cnt") - coalesce(col("old_cnt"), lit(0L))).cast("double"))
        .as("m"))
    val prev = coalesce(col("active"), lit(false))
    val nxt = when(col("m") >= high, lit(true))
      .when(col("m") <= low, lit(false))
      .otherwise(prev)
    state.join(vm, Seq("dataset_id"), "full_outer")
      .select(
        col("dataset_id"),
        nxt.as("active"),
        when(nxt =!= prev, lit(v))
          .otherwise(coalesce(col("since_v"), lit(0L))).as("since_v"),
        (coalesce(col("flips"), lit(0L)) +
          when(nxt =!= prev, lit(1L)).otherwise(lit(0L))).as("flips"))
  }

  /** ALERT consumer with HYSTERESIS — the third maintained-state shape
   *  (after re-aggregation and delta-add): per dataset, the alert turns
   *  ON when a version's ingested mean crosses `high`, turns OFF only
   *  when it falls to `low`, and CARRIES between them. Returns
   *  (dataset_id, active, since_v = version of the last state change,
   *  0 if never flipped, flips = total state changes) after draining
   *  the log. Because state changes happen only at decisive versions
   *  (mean outside the dead band), the maintained state equals the
   *  declarative "last decisive event" fold — which is what the oracle
   *  checks.
   */
  def maintainAlerts(
      spark: SparkSession, root: String, checkpoint: String,
      high: Double, low: Double,
      stateDir: Option[String] = None): DataFrame = {
    require(low <= high, s"hysteresis band inverted: low $low > high $high")
    // same restart contract as maintainDaily: with a stateDir the
    // consumer bootstraps from the highest `_applied` alert snapshot
    // (alert state is catalog-grain — one row per dataset — so the
    // snapshot is tiny at any corpus scale) and a resumed run replays
    // AT MOST the one version whose marker didn't land; alertStep is a
    // deterministic fold of (state, feed), so that replay is
    // idempotent. Without a stateDir the checkpoint must be FRESH per
    // invocation — a reused checkpoint skips delivered versions and a
    // bootstrap-from-empty run would either return empty state (no new
    // versions) or die at the gap require.
    val boot = stateDir.flatMap(readState(spark, _))
    @volatile var state = boot.map(_._2).getOrElse(emptyAlerts(spark))
    @volatile var applied = boot.map(_._1).getOrElse(0L)
    val pending = scala.collection.mutable.SortedSet.empty[Long]
    val q = versionFeed(spark, root).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val vs = b.select("version").distinct().collect().map(_.getLong(0))
        pending.synchronized {
          pending ++= vs.filter(_ > applied)
          while (pending.nonEmpty && pending.head == applied + 1L) {
            val v = pending.head
            val feed = ManifestStore
              .cdcBetween(b.sparkSession, root, Fidelity.S1, v - 1L, v)
            state = alertStep(state, feed, v, high, low).localCheckpoint(true)
            applied = v
            pending -= v
            stateDir.foreach(writeState(b.sparkSession, _, applied, state))
          }
        }
      }
      .start()
    q.awaitTermination()
    require(pending.isEmpty,
      s"manifest log gap: versions $pending arrived without predecessor " +
        s"$applied+1 — refusing to skip CDC windows")
    state
  }

  // State persistence goes through Hadoop FileSystem (like CommitLog),
  // NOT java.nio local-file APIs: the restart-safe stateDir must be able
  // to live on HDFS/S3 alongside the store it consumes — local-only
  // state on a 1000-executor cluster is state that dies with the driver
  // host.

  private def fsFor(
      spark: SparkSession, p: org.apache.hadoop.fs.Path) =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def writeState(
      spark: SparkSession, stateDir: String, v: Long,
      summary: DataFrame): Unit = {
    summary.write.mode("overwrite").parquet(s"$stateDir/s-$v")
    // marker flips AFTER the data lands: a crash between the two leaves
    // the previous marker valid and the half-written dir unreferenced.
    // The flip itself is write-temp-then-rename: an in-place overwrite
    // has a crash window (created-but-unwritten) that leaves an EMPTY
    // marker — a bricked restart until manual cleanup, strictly worse
    // than the full-WAL replay an absent marker degrades to
    val fs = fsFor(spark, new org.apache.hadoop.fs.Path(stateDir))
    val marker = new org.apache.hadoop.fs.Path(s"$stateDir/_applied")
    val tmp = new org.apache.hadoop.fs.Path(s"$stateDir/_applied.tmp")
    val out = fs.create(tmp, true)
    try out.write(v.toString.getBytes("UTF-8")) finally out.close()
    if (fs.exists(marker)) fs.delete(marker, false): Unit
    require(fs.rename(tmp, marker),
      s"could not move $tmp over $marker — state flip failed loudly")
    // every snapshot below the marker is unreferenced — reclaim them
    // ALL, not just v−1: a crash between a previous flip and its
    // delete would otherwise strand an orphan forever
    val dd = new org.apache.hadoop.fs.Path(stateDir)
    fs.listStatus(dd)
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("s-") &&
          scala.util.Try(n.drop(2).toLong).toOption.exists(_ < v)
      }
      .foreach(st => fs.delete(st.getPath, true): Unit)
  }

  private def readState(
      spark: SparkSession, stateDir: String): Option[(Long, DataFrame)] = {
    val marker = new org.apache.hadoop.fs.Path(s"$stateDir/_applied")
    val fs = fsFor(spark, marker)
    if (!fs.exists(marker)) None
    else {
      val in = fs.open(marker)
      val body =
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      // a damaged marker (or one whose snapshot dir is gone) degrades
      // to the empty-state bootstrap — a full WAL replay, which the
      // idempotent refresh steps make correct, just slower. Never brick.
      scala.util.Try(body.toLong).toOption
        .filter(v => fs.exists(new org.apache.hadoop.fs.Path(s"$stateDir/s-$v")))
        // localCheckpoint: the bootstrap summary must not lazily depend
        // on state files a later writeState overwrite could replace
        .map(v => (v, spark.read.parquet(s"$stateDir/s-$v").localCheckpoint(true)))
    }
  }
}
