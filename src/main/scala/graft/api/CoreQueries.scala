package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Melt
import graft.model.Fidelity
import graft.ops.Rollup
import graft.query.{Downsample, Histogram, RangeQuery, Search}
import graft.store.{CommentStore, Tables}

/**
 * Core-engine operator queries for the driver contract (SparkEntry).
 *
 * Conventions shared by every query and its DuckDB oracle so the
 * driver's sorted-column value-hash compare matches bit-for-bit:
 *  - timestamps as BIGINT epoch (µs raw, s for bucket starts), pure
 *    integer arithmetic (`div` here == `//` in DuckDB for positives);
 *  - float aggregates rounded to 6 decimals on BOTH sides, applied only
 *    at the output projection (never inside the monoid);
 *  - a deterministic ORDER BY on both sides.
 */
object CoreQueries {
  type Q = (SparkSession, String) => DataFrame

  /** The raw events table with a normalized `ts_us` BIGINT column. */
  def rawEvents(s: SparkSession, dir: String): DataFrame = {
    val df = Melt.readTsParquet(s, s"$dir/events.parquet")
    df.withColumn("ts_us", Melt.tsUs(df, "ts"))
  }

  /** Canonical long view of the driver's events table (S8 bridge). */
  def ev(s: SparkSession, dir: String): DataFrame =
    Melt.events(Melt.readTsParquet(s, s"$dir/events.parquet"))

  private def r6(c: Column): Column = round(c, 6)

  /** Session-scoped memo of a fully-ingested baseline store (ONE
   *  `Tables.ingestBatch` of the whole events corpus) in the
   *  partitioned audit layout. Its consumers — rollup_repair,
   *  store_fsck, store_fsck_repair and store_retention — hardlink-clone
   *  it ([[clonedBaseStore]]) instead of each paying the multi-second
   *  ingest again; the ingest itself is still measured where it IS the
   *  operator (ingest_dedup_1s). Same bounding rule as PipelineQueries'
   *  pair-graph memo.
   */
  private val baseStoreCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()

  /** Batch i of 3 of the events melt, split by an md5 hash of (series,
   *  ts): DuckDB-reproducible, so an oracle can name WHICH rows landed
   *  in each batch, not just their union.
   */
  private val md5Third: Column = pmod(
    conv(substring(
      md5(concat_ws("|", col("dataset_id"), col("ts_us"))), 1, 15), 16, 10)
      .cast("long"),
    lit(3L))

  /** Three crc32-split batches of the events melt into a fresh manifest
   *  store, one atomic raw + rollup publish each; returns the root. The
   *  oracles of its queries see only the union of the batches.
   */
  private def ingestThirds(s: SparkSession, dir: String, prefix: String,
      maxLiveCommits: Int = 16): String = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    val long = ev(s, dir)
    val third = pmod(crc32(concat_ws("|", col("dataset_id"), col("ts_us"))), lit(3))
    for (i <- 0 until 3)
      graft.store.ManifestStore.ingestBatchAtomic(s, root,
        long.where(third === i), maxLiveCommits = maxLiveCommits): Unit
    root
  }

  /** Shared read-only fixture of the manifest-store queries (the
   *  atomic ingest legs, as-of, CDC, history, the CDC streams): the 3
   *  md5-split batches through `ManifestStore.ingestBatchAtomic`, each
   *  publishing raw + partials under one keyed version (versions 1-3),
   *  plus a deliberate DUPLICATE redelivery of batch 1 — the oracle
   *  equality of both table legs then proves the two-table publish is
   *  exactly-once end to end. Mutating consumers hardlink-clone it.
   */
  private val atomicFixtureCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), String]()
  private def atomicManifestStore(s: SparkSession, dir: String): String = {
    if (atomicFixtureCache.size > 8) atomicFixtureCache.clear()
    atomicFixtureCache.computeIfAbsent((s, dir), { key =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_atomic_fixture").toString
      val long = ev(key._1, key._2)
      def slice(i: Int) = long.where(md5Third === i)
      for (i <- 0 until 3)
        require(graft.store.ManifestStore.ingestBatchAtomic(
          key._1, root, slice(i), key = Some(s"b$i")), s"batch $i must publish")
      require(!graft.store.ManifestStore.ingestBatchAtomic(
        key._1, root, slice(1), key = Some("b1")),
        "duplicate delivery of batch 1 must be rejected")
      root
    })
  }

  /** Hardlink-clone a store root: file data is shared (copy-on-nothing
   *  — stores only ever add or unlink whole files), directory
   *  structure is fresh, so a mutating query gets a private store for
   *  the price of metadata.
   */
  private def hardlinkClone(base: String): String = {
    import java.nio.file.{Files, Path, Paths}
    val src = Paths.get(base)
    val dst = Files.createTempDirectory("graft_storeclone")
    val st = Files.walk(src)
    try st.forEach { p: Path =>
      val t = dst.resolve(src.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.createLink(t, p)
    } finally st.close()
    dst.toString
  }

  private def clonedBaseStore(s: SparkSession, dir: String): String = {
    if (baseStoreCache.size > 8) baseStoreCache.clear()
    hardlinkClone(baseStoreCache.computeIfAbsent((s, dir), { key =>
      val root = java.nio.file.Files
        .createTempDirectory("graft_basestore").toString
      Tables.ingestBatch(key._1, root, ev(key._1, key._2))
      root
    }))
  }

  /** The 1 s level of a manifest root, in the oracle's column shape. */
  private def level1s(s: SparkSession, root: String): DataFrame =
    graft.store.ManifestStore.readLevel(s, root, Fidelity.S1)
      .select(
        col("dataset_id"), col("bucket_s"),
        col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"), col("cnt"))
      .orderBy("dataset_id", "bucket_s")

  /** Replay the events table through a Structured Streaming file source
   *  (AvailableNow) into a fresh manifest store with the sink `start`
   *  (a [[graft.streaming.StreamIngest]] sink given source, root and
   *  checkpoint), then read the 1 s level back.
   */
  private def streamEvents1s(s: SparkSession, dir: String, prefix: String)(
      start: (DataFrame, String, String) =>
        org.apache.spark.sql.streaming.StreamingQuery): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(prefix).toString
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = Melt.readTsParquet(s, s"$dir/events.parquet").schema
    // the file source wants a directory: stage a symlink to the table
    val srcDir = java.nio.file.Files.createTempDirectory(s"${prefix}_src")
    java.nio.file.Files.createSymbolicLink(
      srcDir.resolve("events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val stream = s.readStream.schema(schema).parquet(srcDir.toString)
    start(Melt.events(stream), root, s"$root/ckpt").awaitTermination()
    level1s(s, root)
  }

  /** Forget the 'view' series on a hardlink clone of the atomic
   *  fixture — every containing commit rewrites without it and the
   *  manifest swaps ONCE — then read the 10 s level back.
   */
  private def forgetView10s(s: SparkSession, dir: String): DataFrame = {
    val root = hardlinkClone(atomicManifestStore(s, dir))
    graft.store.ManifestStore.forgetDataset(s, root, "view")
    graft.store.ManifestStore.readLevel(s, root, Fidelity.S10)
      .select(
        col("dataset_id"), col("bucket_s"),
        col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"), col("cnt"))
      .orderBy("dataset_id", "bucket_s")
  }

  // Fixed query window: 2024-01-05T00:00:00Z .. 2024-01-06T00:00:00Z
  // (events span 2024-01-01..01-30 at every sf).
  private val Day5S = 1704412800L
  private val Day6S = 1704499200L
  private val Day5Us = Day5S * 1000000L
  private val Day6Us = Day6S * 1000000L

  /** 100 s bucket means over the fixed query window as EXACT ppm
   *  integers (one round from the fixed-point sum) — the shared
   *  preamble of the despike / excursion / lag-feature tier.
   */
  private def bucketMeanPpm(
      s: SparkSession, dir: String, outCol: String): DataFrame =
    ev(s, dir)
      .where(col("ts_us").between(Day5Us, Day6Us))
      .withColumn("ppm", round(col("value") * lit(1e6)).cast("long"))
      .groupBy(col("dataset_id"),
        (expr("ts_us div 100000000") * lit(100L)).as("bucket_s"))
      .agg(round(sum(col("ppm")).cast("double") / count(lit(1)))
        .cast("long").as(outCol))

  // banded-DTW grid: 1000 s buckets over day 5 (87 full + boundary
  // seam), Sakoe–Chiba radius 8
  private val DtwLen = 88
  private val DtwRadius = 8

  /** Unordered-pair banded DTW distances over dense integer-ppm
   *  series vectors (gaps mean-filled) — shared by series_dtw_1000s /
   *  series_dtw_topk. See ops/Dtw.scala for the fold; pair
   *  enumeration is catalog-grain (series², never points²).
   */
  private def dtwPairs(s: SparkSession, dir: String): DataFrame = {
    val base = Day5Us / 1000000000L
    val bm = ev(s, dir)
      .where(col("ts_us").between(Day5Us, Day6Us))
      .withColumn("ppm", round(col("value") * lit(1e6)).cast("long"))
      .groupBy(col("dataset_id"),
        (expr("ts_us div 1000000000") - lit(base)).as("i"))
      .agg(round(sum(col("ppm")).cast("double") / count(lit(1)))
        .cast("long").as("m"))
    val fills = bm.groupBy("dataset_id")
      .agg(round(sum(col("m")).cast("double") / count(lit(1)))
        .cast("long").as("fill"))
    val vecs = fills
      .withColumn("i", explode(sequence(lit(0L), lit(DtwLen - 1L))))
      .join(bm, Seq("dataset_id", "i"), "left")
      .withColumn("x", coalesce(col("m"), col("fill")))
      .groupBy("dataset_id")
      .agg(transform(array_sort(collect_list(struct(col("i"), col("x")))),
        p => p.getField("x")).as("v"))
    vecs.as("a")
      .join(vecs.as("b"), col("a.dataset_id") < col("b.dataset_id"))
      .select(
        col("a.dataset_id").as("ds_a"), col("b.dataset_id").as("ds_b"),
        graft.ops.Dtw.banded(col("a.v"), col("b.v"), DtwLen, DtwRadius)
          .as("dtw_ppm"))
  }

  /** DuckDB replica of [[dtwPairs]] as a CTE chain ending in
   *  `dt(ds_a, ds_b, dtw_ppm)` — shared by the two DTW oracles.
   */
  private lazy val DtwPairsSql: String = {
    val L = DtwLen; val W = DtwRadius; val B = 2 * W + 1
    val big = 4000000000000000L
    val init = (1 to B)
      .map(kk => if (kk == W + 1) "0" else big.toString)
      .mkString("[", ", ", "]::BIGINT[]")
    s"""WITH e AS (
       |  SELECT event_type AS ds, epoch_us(ts) AS ts_us, value FROM events
       |  WHERE value IS NOT NULL AND NOT isnan(value)
       |    AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
       |bm AS (SELECT ds, CAST(ts_us // 1000000000 - ${Day5Us / 1000000000L}
       |      AS BIGINT) AS i,
       |    CAST(round(CAST(sum(CAST(round(value * 1000000) AS BIGINT))
       |        AS DOUBLE) / count(*)) AS BIGINT) AS m
       |  FROM e GROUP BY 1, 2),
       |fl AS (SELECT ds,
       |    CAST(round(CAST(sum(m) AS DOUBLE) / count(*)) AS BIGINT) AS fill
       |  FROM bm GROUP BY 1),
       |g AS (SELECT fl.ds, fl.fill, gs.i FROM fl
       |      CROSS JOIN generate_series(0, ${L - 1}) gs(i)),
       |d AS (SELECT g.ds, g.i, coalesce(bm.m, g.fill) AS x
       |      FROM g LEFT JOIN bm ON bm.ds = g.ds AND bm.i = g.i),
       |v AS (SELECT ds, list(x ORDER BY i) AS v FROM d GROUP BY 1),
       |p AS (SELECT a.ds AS ds_a, b.ds AS ds_b, a.v AS va, b.v AS vb
       |      FROM v a JOIN v b ON a.ds < b.ds),
       |dt AS (SELECT ds_a, ds_b,
       |  list_reduce(
       |    [$init] || list_transform(generate_series(1, ${L * B}),
       |                              c -> [CAST(c AS BIGINT)]),
       |    (acc, x) -> acc[2:] || [
       |      CASE WHEN (x[1] - 1) // $B + 1 + ((x[1] - 1) % $B) - $W < 1
       |             OR (x[1] - 1) // $B + 1 + ((x[1] - 1) % $B) - $W > $L
       |        THEN $big
       |        ELSE least(
       |            acc[1],
       |            CASE WHEN (x[1] - 1) % $B = ${B - 1} THEN $big
       |                 ELSE acc[2] END,
       |            CASE WHEN (x[1] - 1) % $B = 0 THEN $big
       |                 ELSE acc[$B] END)
       |          + abs(va[(x[1] - 1) // $B + 1]
       |              - vb[(x[1] - 1) // $B + 1 + ((x[1] - 1) % $B) - $W])
       |        END
       |    ])[${W + 1}] AS dtw_ppm
       |FROM p)""".stripMargin
  }

  /** Z-ordered layout assembly shared by zorder_layout /
   *  zonemap_prune: every event mapped to 16-bit time and series-hash
   *  coordinates, bit-interleaved to a 32-bit Morton code, ranked, and
   *  chunked into 5000-row files. Carries (t0, t1) so consumers can
   *  map absolute times onto the t16 axis.
   */
  // zorder_layout and zonemap_prune consume the IDENTICAL ranked
  // layout; the memoized localCheckpoint materializes the two-pass
  // global rank once per session (same bounding rule as the other
  // fixture memos)
  private val zorderCache = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), DataFrame]()

  private def zorderFiles(s: SparkSession, dir: String): DataFrame = {
    if (zorderCache.size > 8) zorderCache.clear()
    zorderCache.computeIfAbsent((s, dir),
      { key => zorderFilesUncached(key._1, key._2).localCheckpoint(true) })
  }

  private def zorderFilesUncached(s: SparkSession, dir: String): DataFrame = {
    val e = rawEvents(s, dir).select(col("event_id"), col("ts_us"), col("event_type"))
    val b = broadcast(e.agg(min("ts_us").as("t0"), max("ts_us").as("t1")))
    val zStr = (0 until 16).map(bb =>
      s"shiftleft(shiftright(t16, $bb) & 1, ${2 * bb + 1})" +
        s" + shiftleft(shiftright(h16, $bb) & 1, ${2 * bb})").mkString(" + ")
    // global Morton rank via the TeraSort-shaped two-pass primitive —
    // a bare row_number() window here moves the whole corpus to ONE
    // task (confirmed 3.1× superlinear at the 10× honesty run)
    graft.ops.Ranks.withGlobalRank(
      e.crossJoin(b)
        .withColumn("t16", expr("((ts_us - t0) * 65535) div (t1 - t0)"))
        .withColumn("h16",
          pmod(conv(substring(md5(col("event_type")), 1, 4), 16, 10).cast("long"),
            lit(65536L)))
        .withColumn("z", expr(zStr)),
      "rk", Seq(col("z"), col("event_id")))
      .withColumn("fid", expr("rk div 5000"))
  }

  private def rollupQ(d: Long): Q = (s, dir) =>
    Rollup.aggregate(ev(s, dir), d)
      .select(
        col("dataset_id"), col("bucket_s"),
        col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"), col("cnt"))
      .orderBy("dataset_id", "bucket_s")

  private def rollupSql(d: Long): String =
    s"""SELECT event_type AS dataset_id,
       |  (epoch_us(ts) // ${d * 1000000L}) * $d AS bucket_s,
       |  min(value) AS min_v, max(value) AS max_v,
       |  round(sum(value), 6) AS sum_v, count(*) AS cnt
       |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
       |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val queries: Map[String, Q] = Map(
    // ---- S8/P3/P4: melt loaders -------------------------------------
    "melt_events" -> ((s, dir) =>
      ev(s, dir).orderBy("dataset_id", "ts_us", "value")),
    "melt_lineitem" -> ((s, dir) =>
      Melt.wide(
        graft.util.SchemaMemo.read(s, s"$dir/lineitem.parquet"), "l_shipdate",
        Seq("l_quantity", "l_extendedprice", "l_discount"), "li.")
        .orderBy("dataset_id", "ts_us", "value")),

    // ---- A1/A4/F3: the rollup pyramid -------------------------------
    "rollup_1s" -> rollupQ(1),
    "rollup_10s" -> rollupQ(10),
    "rollup_100s" -> rollupQ(100),
    "rollup_1000s" -> rollupQ(1000),
    "rollup_10000s" -> rollupQ(10000),
    "rollup_100000s" -> rollupQ(100000),

    // ---- A2: cascade correctness (10s built FROM the 1s level) ------
    "rollup_cascade_10s" -> ((s, dir) =>
      Rollup.cascade(Rollup.aggregate(ev(s, dir), 1), 10)
        .select(
          col("dataset_id"), col("bucket_s"),
          col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"), col("cnt"))
        .orderBy("dataset_id", "bucket_s")),

    // ---- §3.1 flagship: range query at FULL and agg fidelity --------
    // extra pre-filter on the PHYSICAL columns (raw ns timestamp +
    // event_type) so the predicate reaches the parquet scan
    // (PushedFilters); the exact ts_us filter on the derived column
    // cannot push down through the `div` expression
    "range_full" -> ((s, dir) => {
      val raw = Melt.readTsParquet(s, s"$dir/events.parquet")
      val pushable = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.where(
            col("event_type") === "purchase" &&
              col("ts").between(Day5Us * 1000L, Day6Us * 1000L + 999L))
        case ntz @ org.apache.spark.sql.types.TimestampNTZType =>
          // µs-precision NTZ: the bounds are exact, and the folded NTZ
          // literals push to the parquet scan just like the long ones
          raw.where(
            col("event_type") === "purchase" &&
              col("ts").between(Melt.tsLit(ntz, Day5Us), Melt.tsLit(ntz, Day6Us)))
        case _ => raw.where(col("event_type") === "purchase")
      }
      RangeQuery.full(Melt.events(pushable), "purchase", Day5Us, Day6Us)
        .orderBy("ts_us", "value")
    }),
    "range_agg_10s" -> ((s, dir) =>
      RangeQuery.agg(Rollup.aggregate(ev(s, dir), 10), "purchase", Day5S, Day6S)
        .select(col("bucket_s"), col("min_v"), r6(col("mean_v")).as("mean_v"), col("max_v"))
        .orderBy("bucket_s")),

    // ---- quantiles: rank-based per-series percentiles ---------------
    // element SELECTION (rank = ceil(p·n)), not interpolation — both
    // engines pick the same VALUE from the sorted multiset, so there is
    // no interpolation-formula ulp hazard at all. The window partitions
    // by series (balanced at scale); a single billion-point series
    // would switch to approx_percentile (documented divergence).
    "range_quantiles" -> ((s, dir) => {
      val byDs = org.apache.spark.sql.expressions.Window.partitionBy("dataset_id")
      ev(s, dir)
        .withColumn("r", row_number().over(byDs.orderBy("value")))
        .withColumn("n", count(lit(1)).over(byDs))
        .withColumn("p", explode(array(lit(0.5), lit(0.9), lit(0.99))))
        .where(col("r") === greatest(lit(1L), ceil(col("p") * col("n")).cast("long")))
        .select(col("dataset_id"), col("p"), r6(col("value")).as("q"))
        .orderBy("dataset_id", "p")
    }),

    // ---- event-transition matrix: per-user Markov transitions over
    // the time-ordered event stream (which action follows which) — one
    // lead window keyed by user (cardinality-balanced) + a pair-grain
    // agg; the probability normalizer is a 25-row window ---------------
    "event_transitions" -> ((s, dir) => {
      val byUser = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_us", "event_id")
      rawEvents(s, dir)
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .withColumn("next_type", lead(col("event_type"), 1).over(byUser))
        .where(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
        .withColumn("p", r6(col("n").cast("double") /
          sum(col("n")).over(
            org.apache.spark.sql.expressions.Window.partitionBy("from_type"))))
        .orderBy("from_type", "to_type")
    }),

    // ---- winsorized per-series stats: exact-rank p05/p95 clip — the
    // robust-mean companion to value_stats (outlier-resistant telemetry
    // summaries). Quantiles are exact data values (range_quantiles
    // rank rule), the clip is least/greatest on identical doubles, and
    // the clipped mean is a fixed-point ppm sum — fully deterministic --
    "value_winsorize" -> ((s, dir) => {
      val byDs = org.apache.spark.sql.expressions.Window.partitionBy("dataset_id")
      val w = ev(s, dir)
        .withColumn("r", row_number().over(byDs.orderBy("value")))
        .withColumn("n", count(lit(1)).over(byDs))
      def at(p: Double, as: String) = w
        .where(col("r") === greatest(lit(1L), ceil(lit(p) * col("n")).cast("long")))
        .select(col("dataset_id"), col("value").as(as), col("n"))
      val q = at(0.05, "p05").join(at(0.95, "p95").drop("n"), Seq("dataset_id"))
      ev(s, dir)
        .join(broadcast(q), Seq("dataset_id"))
        .withColumn("cppm",
          round(least(greatest(col("value"), col("p05")), col("p95")) * lit(1e6))
            .cast("long"))
        .groupBy("dataset_id", "n", "p05", "p95")
        .agg(
          sum(when(col("value") < col("p05"), 1L).otherwise(0L)).as("n_below"),
          sum(when(col("value") > col("p95"), 1L).otherwise(0L)).as("n_above"),
          r6(sum(col("cppm")).cast("double") / (col("n") * lit(1e6))).as("mean_w"))
        .select(col("dataset_id"), col("n"), col("p05"), col("p95"),
          col("n_below"), col("n_above"), col("mean_w"))
        .orderBy("dataset_id")
    }),

    // ---- counter rate with reset detection (Prometheus-style) -------
    // per-series lag window: a drop in a cumulative counter means the
    // process restarted — the post-reset value IS the increase. Bucket
    // sums are exact ppm integers (order-independent), divided by
    // identical operands — no float-accumulation hazard.
    "counter_rate_100s" -> ((s, dir) => {
      val byDs = org.apache.spark.sql.expressions.Window
        .partitionBy("dataset_id").orderBy("ts_us", "value")
      ev(s, dir)
        .withColumn("prev", lag(col("value"), 1).over(byDs))
        .withColumn("inc",
          when(col("prev").isNull, lit(0.0))
            .when(col("value") >= col("prev"), col("value") - col("prev"))
            .otherwise(col("value")))
        .withColumn("inc_ppm", round(col("inc") * 1e6).cast("long"))
        .groupBy(col("dataset_id"),
          expr("(ts_us div 100000000) * 100").as("bucket_s"))
        .agg(
          (sum(col("inc_ppm")).cast("double") / 1e6).as("sum_inc"),
          count(lit(1)).as("cnt"))
        .orderBy("dataset_id", "bucket_s")
    }),

    // ---- gap-fill: align to a regular 100s grid, interpolate --------
    // output deliberately UNROUNDED: every value is either an exact
    // fixed-point mean or the same IEEE formula tree over bit-identical
    // operands in both engines — a final round(,6) would ADD a
    // 7th-decimal tie hazard across ~130k interpolated values.
    "series_fill_100s" -> ((s, dir) =>
      graft.ops.Interpolate.fillLinear(ev(s, dir), 100L)
        .orderBy("dataset_id", "bucket_s")),

    // ---- EWMA smoothing over the routed day window ------------------
    // sequential per series (flatMapGroups over ≤864 buckets); output
    // unrounded — bit-identical recurrence over identical operands
    "series_ewma_100s" -> ((s, dir) =>
      graft.ops.Smooth.ewma(ev(s, dir), Day5Us, Day6Us, 100L, 0.25)
        .orderBy("dataset_id", "bucket_s")),

    // ---- Holt double-exponential smoothing: level + trend state with
    // a one-step forecast — the forecasting companion to ewma, same
    // bounded per-series sequential discipline ------------------------
    "series_holt_100s" -> ((s, dir) =>
      graft.ops.Smooth.holt(ev(s, dir), Day5Us, Day6Us, 100L, 0.5, 0.25)
        .orderBy("dataset_id", "bucket_s")),

    // ---- recency-weighted popularity: per-type event counts decayed
    // with a 6 h half-life against the window end — the "what's hot
    // NOW" ranking that plain counts can't express. Each event's decay
    // weight rounds to ppm BEFORE the sum (one exp2 per row, rounded
    // once), so the total is an order-free integer — no float
    // accumulation drift at any partition count.
    "decayed_counts" -> ((s, dir) => {
      val halfLifeUs = 6L * 3600L * 1000000L
      ev(s, dir)
        .where(col("ts_us").between(Day5Us, Day6Us))
        .select(col("dataset_id"),
          round(pow(lit(2.0),
            (col("ts_us") - lit(Day6Us)).cast("double") / halfLifeUs)
            * lit(1e6)).cast("long").as("w_ppm"))
        .groupBy("dataset_id")
        .agg(count(lit(1)).as("n"), sum(col("w_ppm")).as("decayed_ppm"))
        .orderBy(col("decayed_ppm").desc, col("dataset_id"))
    }),

    // ---- ingestion-cadence health: per-series inter-arrival gap
    // stats — median and p95 gap by exact rank selection (no
    // interpolation ulp hazard), plus max gap. One lag window + one
    // rank window, both series-partitioned; all integer µs.
    "series_interarrival" -> ((s, dir) => {
      val byDs = org.apache.spark.sql.expressions.Window
        .partitionBy("dataset_id").orderBy("ts_us")
      val byGap = org.apache.spark.sql.expressions.Window
        .partitionBy("dataset_id").orderBy("gap_us", "ts_us")
      ev(s, dir)
        .where(col("ts_us").between(Day5Us, Day6Us))
        .withColumn("gap_us", col("ts_us") - lag(col("ts_us"), 1).over(byDs))
        .where(col("gap_us").isNotNull)
        .withColumn("rk", row_number().over(byGap).cast("long"))
        .withColumn("nn", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy("dataset_id")))
        .groupBy("dataset_id")
        .agg(count(lit(1)).as("n_gaps"),
          max(when(col("rk") === expr("(nn + 1) div 2"), col("gap_us")))
            .as("p50_gap_us"),
          max(when(col("rk") === expr("(nn * 95 + 99) div 100"),
            col("gap_us"))).as("p95_gap_us"),
          max(col("gap_us")).as("max_gap_us"))
        .orderBy("dataset_id")
    }),

    // ---- current-value dashboard read: the newest point per series
    // in ONE struct-max aggregation (map-side combined; no window, no
    // sort of the scan) — the "what is it now" endpoint every
    // telemetry UI polls. Lexicographic (ts, value) max is
    // tie-deterministic on any engine.
    "series_latest" -> ((s, dir) =>
      ev(s, dir)
        .groupBy("dataset_id")
        .agg(max(struct(col("ts_us"), col("value"))).as("m"))
        .select(col("dataset_id"), col("m.ts_us").as("ts_us"),
          col("m.value").as("value"))
        .orderBy("dataset_id")),

    // ---- data-completeness SLA: what fraction of the day's expected
    // 1 s buckets actually hold data, per series — the ingestion-health
    // number an on-call reads first. One distinct-bucket count per
    // series (map-side combined), exact integer ppm.
    "series_uptime_ppm" -> ((s, dir) =>
      ev(s, dir)
        .where(col("ts_us") >= Day5Us && col("ts_us") < Day6Us)
        .groupBy("dataset_id")
        .agg(count_distinct(expr("ts_us div 1000000")).as("n_buckets"))
        .select(col("dataset_id"), col("n_buckets"),
          expr("(1000000 * n_buckets) div 86400").as("uptime_ppm"))
        .orderBy("dataset_id")),

    // ---- time × value density heatmap: raw-point counts per
    // (series, 1000 s time bucket, per-series value decile band) — the
    // rendering backend for a telemetry heatmap view, the dense-data
    // complement of the equal-width histogram (§3.4). One tiny
    // per-series min/max broadcast + one grid-grain hash agg with
    // map-side combine; output bounded by series × buckets × 10,
    // never point count. All-integer band arithmetic.
    "series_heatmap_1000s" -> ((s, dir) => {
      val pts = ev(s, dir)
        .where(col("ts_us").between(Day5Us, Day6Us))
        .select(col("dataset_id"),
          (expr("ts_us div 1000000000") * lit(1000L)).as("t_s"),
          round(col("value") * lit(1e6)).cast("long").as("ppm"))
      val mm = pts.groupBy("dataset_id")
        .agg(min(col("ppm")).as("mn"), max(col("ppm")).as("mx"))
      pts.join(broadcast(mm), "dataset_id")
        .select(col("dataset_id"), col("t_s"),
          least(lit(9L), expr("((ppm - mn) * 10) div (mx - mn + 1)"))
            .as("band"))
        .groupBy("dataset_id", "t_s", "band")
        .agg(count(lit(1)).as("n"))
        .orderBy("dataset_id", "t_s", "band")
    }),

    // ---- threshold-excursion history: gaps-and-islands over the 100 s
    // bucket means — consecutive buckets above the per-series mean
    // level merge into one excursion row (start/end/width/peak), the
    // alert-history view a telemetry UI renders. Island ids come from
    // a running count of below-threshold rows (one series-partitioned
    // window), so the whole query is two series-keyed exchanges and
    // output is excursion-bounded. All-integer ppm discipline --------
    "series_excursions_100s" -> ((s, dir) => {
      val byDs = org.apache.spark.sql.expressions.Window
        .partitionBy("dataset_id")
      val runW = org.apache.spark.sql.expressions.Window
        .partitionBy("dataset_id").orderBy("bucket_s")
        .rowsBetween(org.apache.spark.sql.expressions.Window
          .unboundedPreceding, 0)
      bucketMeanPpm(s, dir, "mean_ppm")
        .withColumn("thr_ppm",
          round(sum(col("mean_ppm")).over(byDs).cast("double") /
            count(lit(1)).over(byDs)).cast("long"))
        .withColumn("grp",
          sum(when(col("mean_ppm") > col("thr_ppm"), 0L).otherwise(1L))
            .over(runW))
        .where(col("mean_ppm") > col("thr_ppm"))
        .groupBy("dataset_id", "grp")
        .agg(min("bucket_s").as("start_s"), max("bucket_s").as("end_s"),
          count(lit(1)).as("n_buckets"), max("mean_ppm").as("peak_ppm"))
        .select(col("dataset_id"), col("start_s"), col("end_s"),
          col("n_buckets"), col("peak_ppm"))
        .orderBy("dataset_id", "start_s")
    }),

    // ---- forecast backtest: Holt's one-step-ahead forecast at bucket
    // i scored against the NEXT observed bucket — per-series MAE and
    // bias in ppm, the accept/reject gate before trusting a forecaster
    // on a series. Per-row errors round to ppm integers BEFORE the
    // aggregation, so the summary is accumulation-order-free. One
    // window (lead) + one series-grain agg on top of the smoother ----
    "series_holt_backtest_100s" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("dataset_id").orderBy("bucket_s")
      val v = ev(s, dir)
        .where(col("ts_us").between(Day5Us, Day6Us))
        .withColumn("ppm", round(col("value") * lit(1e6)).cast("long"))
        .groupBy(col("dataset_id"),
          (expr("ts_us div 100000000") * lit(100L)).as("bucket_s"))
        .agg((sum(col("ppm")).cast("double") /
          (count(lit(1)).cast("double") * lit(1e6))).as("vv"))
        .withColumn("vn", lead(col("vv"), 1).over(w))
      graft.ops.Smooth.holt(ev(s, dir), Day5Us, Day6Us, 100L, 0.5, 0.25)
        .join(v, Seq("dataset_id", "bucket_s"))
        .where(col("vn").isNotNull)
        .withColumn("err_ppm",
          round((col("vn") - col("forecast")) * lit(1e6)).cast("long"))
        .groupBy("dataset_id")
        .agg(count(lit(1)).as("n"),
          round(sum(abs(col("err_ppm"))).cast("double") / count(lit(1)))
            .cast("long").as("mae_ppm"),
          round(sum(col("err_ppm")).cast("double") / count(lit(1)))
            .cast("long").as("bias_ppm"))
        .orderBy("dataset_id")
    }),

    // ---- distribution drift (PSI): per-series population stability
    // index between a baseline day and the next — the standard ML-ops
    // drift gate before retraining on fresh telemetry. 10 equal-width
    // bands over the combined range, Laplace-smoothed shares, and each
    // band's (p−q)·ln(p/q) term rounds to ppm BEFORE the sum — so the
    // final PSI is an integer sum, immune to cross-engine/partition
    // float accumulation order. Two grid-bounded aggs + one tiny
    // broadcast; output is catalog-bounded -----------------------------
    "value_drift_psi" -> ((s, dir) => {
      val day7Us = (Day6S + 86400L) * 1000000L
      val pts = ev(s, dir)
        .where(col("ts_us") >= Day5Us && col("ts_us") < day7Us)
        .select(col("dataset_id"),
          round(col("value") * lit(1e6)).cast("long").as("ppm"),
          (col("ts_us") >= Day6Us).cast("int").as("day"))
      val mm = pts.groupBy("dataset_id")
        .agg(min("ppm").as("mn"), max("ppm").as("mx"))
      val counts = pts.join(broadcast(mm), "dataset_id")
        .select(col("dataset_id"), col("day"),
          least(lit(9L), expr("((ppm - mn) * 10) div (mx - mn + 1)"))
            .as("band"))
        .groupBy("dataset_id", "band")
        .agg(count(when(col("day") === 0, 1)).as("c5"),
          count(when(col("day") === 1, 1)).as("c6"))
      val grid = counts.groupBy("dataset_id")
        .agg(sum("c5").as("n5"), sum("c6").as("n6"))
        .select(col("dataset_id"), col("n5"), col("n6"),
          explode(sequence(lit(0L), lit(9L))).as("band"))
      grid.join(counts, Seq("dataset_id", "band"), "left_outer")
        .select(col("dataset_id"), col("n5"), col("n6"),
          coalesce(col("c5"), lit(0L)).as("c5"),
          coalesce(col("c6"), lit(0L)).as("c6"))
        .withColumn("p", (col("c5") + lit(1)).cast("double") /
          (col("n5") + lit(10)).cast("double"))
        .withColumn("q", (col("c6") + lit(1)).cast("double") /
          (col("n6") + lit(10)).cast("double"))
        .withColumn("term_ppm",
          round((col("p") - col("q")) * log(col("p") / col("q")) * lit(1e6))
            .cast("long"))
        .groupBy("dataset_id")
        .agg(sum("term_ppm").as("psi_ppm"),
          max("n5").as("n_base"), max("n6").as("n_cur"))
        .orderBy("dataset_id")
    }),

    // ---- forecasting feature table: per-bucket lag-1/lag-2/rolling-3
    // features + one-step delta — the telemetry→ML bridge that turns a
    // series into supervised training rows. One bucket agg + one
    // series-partitioned window; all-integer ppm arithmetic (rolling
    // mean rounds ONCE from an exact 3-term sum) -----------------------
    "series_lag_features_100s" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("dataset_id").orderBy("bucket_s")
      bucketMeanPpm(s, dir, "y_ppm")
        .withColumn("lag1_ppm", lag(col("y_ppm"), 1).over(w))
        .withColumn("lag2_ppm", lag(col("y_ppm"), 2).over(w))
        .withColumn("roll3_ppm",
          round((col("y_ppm") + col("lag1_ppm") + col("lag2_ppm"))
            .cast("double") / 3.0).cast("long"))
        .withColumn("delta_ppm", col("y_ppm") - col("lag1_ppm"))
        .where(col("lag2_ppm").isNotNull)
        .orderBy("dataset_id", "bucket_s")
    }),

    // ---- rolling-median despike filter: the classic telemetry
    // spike-removal pass — centered 5-bucket lower-median per series,
    // a point deviating >20% from its local median is flagged and
    // replaced. All-integer (ppm means, element-pick median, cross-
    // multiplied threshold) so every engine agrees bit-for-bit. One
    // bucket-grain agg + one per-series bounded window (frame of 5):
    // both partition by series, scale with the routed range ----------
    "series_despike_100s" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("dataset_id").orderBy("bucket_s").rowsBetween(-2, 2)
      val dev = abs(col("mean_ppm") - col("med_ppm")) * 5 > abs(col("med_ppm"))
      bucketMeanPpm(s, dir, "mean_ppm")
        .withColumn("win", array_sort(collect_list(col("mean_ppm")).over(w)))
        .withColumn("med_ppm",
          element_at(col("win"), expr("(size(win) + 1) div 2").cast("int")))
        .select(col("dataset_id"), col("bucket_s"), col("mean_ppm"),
          col("med_ppm"), dev.as("is_spike"),
          when(dev, col("med_ppm")).otherwise(col("mean_ppm"))
            .as("despiked_ppm"))
        .orderBy("dataset_id", "bucket_s")
    }),

    // ---- seasonal profile: the classic telemetry "daily shape" view —
    // per-series hour-of-day aggregate over the 100 s bucket means.
    // One (series × 24)-grain hash agg with map-side combine; output
    // is catalog-bounded (24 rows per series), never data-bounded ----
    "series_seasonal_100s" -> ((s, dir) => {
      val m = Rollup.aggregate(ev(s, dir), 100)
        .select(col("dataset_id"), col("bucket_s"),
          r6(col("sum_v") / col("cnt")).as("m"))
      m.withColumn("hour", expr("(bucket_s % 86400) div 3600"))
        .groupBy("dataset_id", "hour")
        .agg(
          count(lit(1)).as("n_buckets"),
          // fixed-point mean of the r6'd bucket means: Σ round(m·10⁶)
          // is integral-exact in any order, so engines agree bit-for-bit
          r6(sum(round(col("m") * 1000000.0)) /
            (lit(1000000.0) * count(lit(1)))).as("hour_mean"),
          r6(min(col("m"))).as("hour_min"),
          r6(max(col("m"))).as("hour_max"))
        .orderBy("dataset_id", "hour")
    }),

    // ---- shuffle-skew diagnostics: per-key row counts → one-row
    // summary (top-1/top-10 shares, Gini) — the report that decides
    // whether a join/agg key needs salting before a 100 TB run. Two
    // rank windows over the KEY-grain counts (bounded by key
    // cardinality, never data rows); every share is integer ppm -------
    "key_skew_report" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val c = rawEvents(s, dir).groupBy("user_id").agg(count(lit(1)).as("cnt"))
      c.withColumn("rk",
          row_number().over(W.orderBy(col("cnt"), col("user_id"))).cast("long"))
        .withColumn("rkd",
          row_number().over(W.orderBy(col("cnt").desc, col("user_id").desc)).cast("long"))
        .agg(
          count(lit(1)).as("n_keys"),
          sum(col("cnt")).as("total_rows"),
          max(col("cnt")).as("max_cnt"),
          sum(when(col("rkd") <= 10, col("cnt")).otherwise(lit(0L))).as("top10"),
          sum(col("rk") * col("cnt")).as("s1"))
        .select(
          col("n_keys"), col("total_rows"),
          expr("(max_cnt * 1000000) div total_rows").as("top1_share_ppm"),
          expr("(top10 * 1000000) div total_rows").as("top10_share_ppm"),
          // Gini from ranked counts: (2·Σ rk·cnt − (n+1)·Σcnt)/(n·Σcnt)
          expr("((2 * s1 - (n_keys + 1) * total_rows) * 1000000)" +
            " div (n_keys * total_rows)").as("gini_ppm"))
    }),

    // ---- Z-order (Morton) layout planner: interleave the 16-bit time
    // rank with a 16-bit series-hash into a z-key, bin rows into
    // 5000-row files in z-order, report each file's span in BOTH
    // dimensions — the multi-dimensional clustering that lets one
    // layout serve time-range AND series-equality pruning (a time-only
    // sort gives minimal t-spans but full h-spans). At 100 TB the
    // single output sort becomes repartitionByRange(z) with the same
    // key — file spans are unchanged ----------------------------------
    "zorder_layout" -> ((s, dir) =>
      zorderFiles(s, dir)
        .groupBy("fid")
        .agg(
          count(lit(1)).as("n_rows"),
          (max(col("t16")) - min(col("t16"))).as("t_span"),
          (max(col("h16")) - min(col("h16"))).as("h_span"))
        .orderBy("fid")),

    // ---- zone-map pruning audit over the z-ordered layout: for the
    // canonical box query (day-5 time range × the 'view' series), how
    // many 5000-row files does per-file (t16, h16) min/max skipping
    // actually read? ONE summary row: files total/read, rows scanned
    // in read files, rows truly matching. This is the quantitative
    // "is the layout worth it" check a table-layout optimizer runs;
    // the skip decision here is exactly parquet row-group/file stats
    // pruning math. Catalog-grain aggregation over the file zone maps
    // — never a second pass over the data -----------------------------
    "zonemap_prune" -> ((s, dir) => {
      val hv = pmod(conv(substring(md5(lit("view")), 1, 4), 16, 10).cast("long"),
        lit(65536L))
      val zones = zorderFiles(s, dir)
        .withColumn("tlo", expr(s"(($Day5Us - t0) * 65535) div (t1 - t0)"))
        .withColumn("thi", expr(s"(($Day6Us - t0) * 65535) div (t1 - t0)"))
        .withColumn("hv", hv)
        .groupBy("fid")
        .agg(
          count(lit(1)).as("n_rows"),
          min("t16").as("mn_t"), max("t16").as("mx_t"),
          min("h16").as("mn_h"), max("h16").as("mx_h"),
          max("tlo").as("tlo"), max("thi").as("thi"), max("hv").as("hv"),
          sum(when(col("t16").between(col("tlo"), col("thi")) &&
            col("h16") === col("hv"), 1L).otherwise(0L)).as("n_match"))
        .withColumn("read",
          col("mx_t") >= col("tlo") && col("mn_t") <= col("thi") &&
            col("hv").between(col("mn_h"), col("mx_h")))
      zones.agg(
        count(lit(1)).as("n_files"),
        sum(when(col("read"), 1L).otherwise(0L)).as("n_files_read"),
        sum(when(col("read"), col("n_rows")).otherwise(0L)).as("n_rows_scanned"),
        sum(col("n_match")).as("n_rows_matched"))
    }),

    // ---- seasonal-residual anomaly: buckets deviating > 3σ from the
    // series' OWN hour-of-day profile — the integer-exact 3σ test
    // (rₙ² > 9·(n·Σy²−Σy²)) over the full-span ppm bucket means -------
    "seasonal_anomaly_100s" -> ((s, dir) =>
      graft.ops.SeriesStats.seasonalAnomaly(ev(s, dir), 0L, Long.MaxValue, 100L)
        .orderBy("dataset_id", "bucket_s")),

    // ---- SAX symbolization on exact rank quartiles (alphabet 4) over
    // the routed day's 100 s bucket means — distribution-free symbol
    // streams for motif mining, integer-reproducible (no μ/σ floats) --
    "series_sax_100s" -> ((s, dir) =>
      graft.ops.SeriesStats.saxSymbols(ev(s, dir), Day5Us, Day6Us, 100L, 4)
        .orderBy("dataset_id", "bucket_s")),

    // ---- SAX motif mining: top-3 most frequent 4-symbol words per
    // series over the observed symbol stream — one lead window on the
    // bucket grain + a word-grain agg (vocabulary ≤ 4⁴ per series) -----
    "series_motifs_100s" -> ((s, dir) => {
      val W = org.apache.spark.sql.expressions.Window
      val bySeries = W.partitionBy("dataset_id").orderBy("bucket_s")
      val sax = graft.ops.SeriesStats.saxSymbols(ev(s, dir), Day5Us, Day6Us, 100L, 4)
      sax
        .withColumn("s1", lead(col("sym"), 1).over(bySeries))
        .withColumn("s2", lead(col("sym"), 2).over(bySeries))
        .withColumn("s3", lead(col("sym"), 3).over(bySeries))
        .where(col("s3").isNotNull)
        .select(col("dataset_id"),
          concat_ws("", col("sym"), col("s1"), col("s2"), col("s3")).as("word"))
        .groupBy("dataset_id", "word").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          W.partitionBy("dataset_id").orderBy(col("n").desc, col("word"))))
        .where(col("rk") <= 3)
        .select(col("dataset_id"), col("rk").cast("long").as("rank"),
          col("word"), col("n"))
        .orderBy("dataset_id", "rank")
    }),

    // ---- sample autocorrelation: per-series ACF at lags 1..5 over the
    // routed day's 100 s bucket means — exact BigInt moments per series
    // (bounded groups), one float division at the end ------------------
    "series_autocorr_100s" -> ((s, dir) =>
      graft.ops.SeriesStats.autocorr(ev(s, dir), Day5Us, Day6Us, 100L, 5)
        .orderBy("dataset_id", "lag")),

    // ---- OLS trend line per series: slope/intercept/r² from exact
    // integer moments over (bucket rank, ppm mean) — the detrend
    // companion to the seasonal profile -------------------------------
    "series_trend_100s" -> ((s, dir) =>
      graft.ops.SeriesStats.olsTrend(ev(s, dir), Day5Us, Day6Us, 100L)
        .orderBy("dataset_id")),

    // ---- lagged cross-correlation click↔view: does one series lead
    // the other? BigInt moments per lag over the joined bucket grid ---
    "series_xcorr_100s" -> ((s, dir) =>
      graft.ops.SeriesStats.xcorr(
        ev(s, dir), Day5Us, Day6Us, 100L, "click", "view", 3)
        .orderBy("lag")),

    // ---- two-sided CUSUM change detection: pure integer windows via
    // the running-min reformulation (no recursion, no floats) ---------
    "series_cusum_100s" -> ((s, dir) =>
      graft.ops.SeriesStats.cusum(
        ev(s, dir), Day5Us, Day6Us, 100L,
        slackPpm = 2000000L, thresholdPpm = 20000000L)
        .orderBy("dataset_id", "bucket_s")),

    // ---- M4 downsample: error-free line-chart reduction -------------
    // one hash agg per (series, pixel column); shuffle carries ≤width
    // rows per series. Point selection via lexicographic struct min/max
    // (deterministic under duplicate timestamps, same rule in DuckDB).
    "m4_downsample" -> ((s, dir) =>
      Downsample.m4(ev(s, dir), Day5Us, Day6Us, 480)
        .orderBy("dataset_id", "k")),

    // ---- LTTB downsample over the routed day window -----------------
    // sequential per series by definition; one flatMapGroups per series
    // over the BOUNDED routed range. n<=B series pass through whole
    // (both branches are exercised across the driver's SFs).
    "lttb_downsample" -> ((s, dir) =>
      Downsample.lttb(ev(s, dir), Day5Us, Day6Us, 60)
        .orderBy("dataset_id", "ts_us", "value")),

    // ---- A5: resolution routing over real spans ---------------------
    "fidelity_route" -> ((s, dir) =>
      ev(s, dir).groupBy("dataset_id")
        .agg(((max(col("ts_us")) - min(col("ts_us"))) / lit(1e6)).as("span_s"))
        .select(
          col("dataset_id"), r6(col("span_s")).as("span_s"),
          RangeQuery.recommendedCol(col("span_s")).as("fidelity"))
        .orderBy("dataset_id")),

    // ---- S7/P6: catalog search --------------------------------------
    "search_datasets" -> ((s, dir) => Search.datasets(ev(s, dir), "e")),

    // ---- A9: count metrics ------------------------------------------
    "count_metrics" -> ((s, dir) =>
      ev(s, dir).groupBy("dataset_id")
        .agg(count(lit(1)).as("n_points"), r6(sum(col("value"))).as("sum_value"))
        .orderBy("dataset_id")),

    // ---- A6: visible-range min/max ----------------------------------
    "minmax_range" -> ((s, dir) =>
      Histogram.minMax(
        ev(s, dir).where(
          col("dataset_id") === "view" && col("ts_us").between(Day5Us, Day6Us)))),

    // ---- A7: equal-width histogram (≤30 buckets) --------------------
    "histogram" -> ((s, dir) =>
      Histogram.histogram(
        ev(s, dir).where(col("dataset_id") === "click"), "value", 30)
        .select(col("bucket"), r6(col("lo")).as("lo"), r6(col("hi")).as("hi"), col("cnt"))
        .orderBy("bucket")),

    // ---- F4: CSV line codec round-trip (the reference's storage wire
    // format, kept as a codec even though storage is parquet —
    // deliberate divergence §7.5): serialize each point to
    // "ts,value", parse it back, emit the line + parsed columns -------
    // the serialized `line` itself is NOT in the compared output:
    // engines agree on double→string rendering only in the
    // plain-decimal range (~[1e-3, 1e7) — "1.0E-4" vs "0.0001"
    // elsewhere), so each engine round-trips ITS OWN rendering and the
    // compare runs on the parsed VALUES, which are lossless either way
    "csv_roundtrip" -> ((s, dir) =>
      ev(s, dir)
        .withColumn("line", concat_ws(",", col("ts_us"), col("value")))
        .withColumn("parts", split(col("line"), ","))
        .select(
          col("dataset_id"),
          size(col("parts")).cast("long").as("n_fields"),
          element_at(col("parts"), 1).cast("long").as("ts_us"),
          element_at(col("parts"), 2).cast("double").as("value"))
        .orderBy("dataset_id", "ts_us", "value")),

    // ---- F1/F2: ISO-8601 codecs -------------------------------------
    "iso_roundtrip" -> ((s, dir) =>
      rawEvents(s, dir)
        .where(col("event_type") === "signup")
        .select(
          col("ts_us"),
          date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS").as("iso"))
        .withColumn(
          "ts_us2",
          unix_micros(to_timestamp(col("iso"), "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")))
        .orderBy("ts_us")),

    // ---- S12/P5/F7: comments range + tag-subset query ---------------
    "comments_range_tags" -> ((s, dir) => {
      val comments = rawEvents(s, dir).select(
        col("event_id").as("id"),
        col("ts_us").as("date_us"),
        col("props").as("text"),
        array(col("event_type"), concat(lit("u"), col("user_id") % 5)).as("tags"))
      CommentStore.query(comments, Day5Us, Day6Us * 5, Seq("purchase", "u3"), 20)
        .select("id", "date_us", "text")
    }),

    // ---- dedup-on-ingest: ingest the SAME data twice with dedup on;
    // the store must equal a single clean ingest (fixes the reference's
    // double-count gap, src/index.py:39-40) ------------------------------
    "ingest_dedup_1s" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_dedup_ingest").toString
      val long = ev(s, dir)
      Tables.ingestBatch(s, root, long, dedup = true)
      Tables.ingestBatch(s, root, long, dedup = true) // full replay: all dups
      Tables.readRollup(s, root, Fidelity.S1)
        .select(
          col("dataset_id"), col("bucket_s"),
          col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"), col("cnt"))
        .orderBy("dataset_id", "bucket_s")
    }),

    // ---- multi-series wide read (§2.5: pivot in place of joins) -----
    "multi_series_wide" -> ((s, dir) => {
      val buck = (expr("ts_us div 1000000000") * 1000L).as("bucket_s")
      val means = Seq("click", "error", "purchase", "signup", "view").map(t =>
        r6(avg(when(col("dataset_id") === t, col("value")))).as(s"${t}_mean"))
      ev(s, dir).groupBy(buck)
        .agg(means.head, means.tail: _*)
        .orderBy("bucket_s")
    }),

    // ---- distribution stats (stretch ops per SURVEY §2.3: stddev +
    // exact percentiles; at 100 TB the scale path is approx_percentile,
    // exact kept here for oracle parity) ------------------------------
    "value_stats" -> ((s, dir) =>
      ev(s, dir).groupBy("dataset_id")
        .agg(
          r6(stddev_samp(col("value"))).as("sd"),
          r6(expr("percentile(value, 0.5)")).as("p50"),
          r6(expr("percentile(value, 0.95)")).as("p95"))
        .orderBy("dataset_id")),

    // ---- robust per-series outliers: median absolute deviation ------
    // two exact-median passes (value, then |value − med|) + a counting
    // pass; the 5-row per-series stats broadcast back, so the raw table
    // shuffles only for the medians. Float parity: values ride as exact
    // ppm longs, medians of integers interpolate to .5-step doubles
    // (bit-identical in both engines), and 3·MAD stays exact, so the
    // outlier cut is deterministic.
    "series_mad_outliers" -> ((s, dir) => {
      val base = ev(s, dir).select(
        col("dataset_id"), round(col("value") * 1e6).cast("long").as("v_ppm"))
      val med = base.groupBy("dataset_id")
        .agg(median(col("v_ppm")).as("med"))
      val dev = base.join(broadcast(med), "dataset_id")
        .withColumn("dev", abs(col("v_ppm").cast("double") - col("med")))
      val mad = dev.groupBy("dataset_id").agg(median(col("dev")).as("mad"))
      dev.join(broadcast(mad), "dataset_id")
        .groupBy("dataset_id", "med", "mad")
        .agg(
          count(lit(1)).as("n"),
          count(when(col("dev") > lit(3.0) * col("mad"), 1)).as("n_outliers"),
          max(col("dev")).as("max_dev"))
        .select("dataset_id", "n", "med", "mad", "n_outliers", "max_dev")
        .orderBy("dataset_id")
    }),

    // ---- per-series rate of change: lag over rollup bucket means ----
    // (the derivative view a telemetry chart user asks for next; one
    // window per series over the ALREADY-reduced 10 s level, never raw)
    "series_rate_10s" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("dataset_id").orderBy("bucket_s")
      // mean rounded to 6dp BEFORE the lag-difference: the raw means
      // differ between engines at the last ulp (sum order), and the
      // difference amplifies that to the rate's 6th decimal; rounded
      // means are bit-identical inputs on both sides
      Rollup.aggregate(ev(s, dir), 10)
        .select(
          col("dataset_id"), col("bucket_s"),
          r6(col("sum_v") / col("cnt")).as("mean_v"))
        .withColumn("prev_b", lag(col("bucket_s"), 1).over(w))
        .withColumn("prev_m", lag(col("mean_v"), 1).over(w))
        .where(col("prev_b").isNotNull)
        // exact-arithmetic output: the 6dp means are identical doubles
        // on both sides, so their ppm-scaled difference rounds to the
        // SAME integer everywhere (integer-valued, no .5 ties), and an
        // integer÷integer double division is bit-deterministic — a
        // final round6 of the raw quotient is NOT (measured: a rate of
        // exactly -0.7406875 rounded differently per engine)
        .select(
          col("dataset_id"), col("bucket_s"),
          (round((col("mean_v") - col("prev_m")) * 1e6).cast("long").cast("double") /
            (col("bucket_s") - col("prev_b"))).as("rate_ppm_per_s"))
        .orderBy("dataset_id", "bucket_s")
    }),

    // ---- rolling z-score anomaly flags over 100 s rollup means ------
    // frame = the 12 buckets before the current one (needs ≥6); mean
    // and std assembled from explicit frame sums over 6dp-ROUNDED
    // bucket means, so both engines aggregate identical doubles; the
    // variance term is clamped at 0 before sqrt (an all-equal frame can
    // go 1 ulp negative)
    "series_anomaly_100s" -> ((s, dir) => {
      val fr = org.apache.spark.sql.expressions.Window
        .partitionBy("dataset_id").orderBy("bucket_s").rowsBetween(-12, -1)
      // mu/sd are rounded to 6dp BEFORE the threshold test: engines sum
      // the (identical) frame values in different orders (sequential vs
      // pairwise), so the raw aggregates differ at the last ulp — row
      // MEMBERSHIP must depend only on values both engines agree on
      val mu = r6(col("s1") / col("n"))
      val sd = r6(sqrt(greatest(
        (col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1), lit(0.0))))
      Rollup.aggregate(ev(s, dir), 100)
        .select(
          col("dataset_id"), col("bucket_s"),
          r6(col("sum_v") / col("cnt")).as("m"))
        .withColumn("n", count(col("m")).over(fr).cast("double"))
        .withColumn("s1", sum(col("m")).over(fr))
        .withColumn("s2", sum(col("m") * col("m")).over(fr))
        .where(col("n") >= 6)
        .where(sd > 0 && abs(col("m") - mu) > lit(3.0) * sd)
        .select(
          col("dataset_id"), col("bucket_s"), col("m"),
          r6((col("m") - mu) / sd).as("z"))
        .orderBy("dataset_id", "bucket_s")
    }),

    // ---- reporting-gap detection: 1000 s buckets whose predecessor is
    // more than one bucket behind — "the series went quiet" alerting
    // over the already-reduced rollup level, never raw points ----------
    "series_gaps_1000s" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("dataset_id").orderBy("bucket_s")
      Rollup.aggregate(ev(s, dir), 1000)
        .select(col("dataset_id"), col("bucket_s"))
        .withColumn("prev_b", lag(col("bucket_s"), 1).over(w))
        .where(col("prev_b").isNotNull && col("bucket_s") - col("prev_b") > 1000)
        .select(
          col("dataset_id"),
          col("prev_b").as("gap_start_s"),
          col("bucket_s").as("gap_end_s"),
          expr("(bucket_s - prev_b) div 1000 - 1").as("n_missing"))
        .orderBy("dataset_id", "gap_start_s")
    }),

    // ---- cross-series correlation on shared rollup buckets ----------
    // Pearson r assembled from the six raw sums so the oracle runs the
    // IDENTICAL arithmetic (engine-native corr() implementations differ
    // in accumulation scheme); input is the 100 s level, not raw points
    "series_corr_100s" -> ((s, dir) => {
      // bucket means rounded to 6dp first: the Pearson numerator
      // subtracts two large nearly-equal sums, which amplifies
      // engine-ulp differences in the raw means — rounded means are
      // identical doubles on both sides (same discipline as
      // series_rate_10s)
      val m = Rollup.aggregate(
          ev(s, dir).where(col("dataset_id").isin("view", "click")), 100)
        .select(col("dataset_id"), col("bucket_s"),
          r6(col("sum_v") / col("cnt")).as("m"))
      val x = m.where(col("dataset_id") === "view").select(col("bucket_s"), col("m").as("x"))
      val y = m.where(col("dataset_id") === "click").select(col("bucket_s"), col("m").as("y"))
      val sums = x.join(y, Seq("bucket_s"))
        .agg(
          count(lit(1)).cast("double").as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
      sums.select(
        col("n").cast("long").as("n_buckets"),
        r6((col("n") * col("sxy") - col("sx") * col("sy")) /
          (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
            sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr"))
    }),

    // ---- time-series similarity search: top-k most-correlated series
    // per series ("which series behave like this one"), exact all-pairs
    // Pearson over shared 100 s buckets with the series_corr_100s float
    // discipline (r6 means in, six raw sums, r6 BEFORE ranking so rank
    // order is engine-deterministic). Exact is the right tool at
    // catalog scale (pairs are series², NOT points²); the 10⁶-series
    // path vectorizes each series over the same fixed grid and routes
    // through the ANN tier (ivfTopK/LSH) instead of the pair join ----
    "series_similarity_100s" -> ((s, dir) => {
      val m = Rollup.aggregate(ev(s, dir), 100)
        .select(col("dataset_id"), col("bucket_s"),
          r6(col("sum_v") / col("cnt")).as("m"))
      graft.ops.SeriesSim.exactPairs(m, 3)
        .orderBy("dataset_id", "rank")
    }),

    // ---- the 10⁶-series similarity path the scaladoc above promises:
    // each series → one fixed-grid centered vector (day-5 window, 864
    // slots of 100 s), neighbors via the IVF ANN tier — probe work is
    // nProbe/#centroids of the catalog, never an S² pair join ---------
    "series_similarity_ann" -> ((s, dir) => {
      val m = Rollup.aggregate(ev(s, dir), 100)
        .select(col("dataset_id"), col("bucket_s"),
          r6(col("sum_v") / col("cnt")).as("m"))
      val vecs = graft.ops.SeriesSim.vectorize(m, Day5S, Day6S, 100)
      graft.ops.SeriesSim.annTopK(vecs, 3, centroidStep = 2L, nProbe = 2)
        .withColumn("cos", r6(col("cos")))
        .orderBy("dataset_id", "rank")
    }),

    // ---- banded DTW series similarity: warping-tolerant distance for
    // series whose shapes match but drift in phase (Pearson's blind
    // spot). Each series → one dense 1000 s-grid integer-ppm vector
    // (gaps filled with the series mean), then DTW with a Sakoe–Chiba
    // band as ONE codegen'd O(len·band) fold per pair (ops/Dtw.scala)
    // — exact 64-bit integer arithmetic end to end, so it hash-matches
    // the oracle's identical recurrence. Pair enumeration is
    // catalog-grain (series², never points²) and each pair costs
    // O(len·band) with O(band) state inside the expression; at 10⁶
    // series, route candidate pairs through the ANN tier first
    // (series_similarity_ann) and DTW only the survivors ------------
    "series_dtw_1000s" -> ((s, dir) =>
      dtwPairs(s, dir).orderBy("ds_a", "ds_b")),

    // ---- DTW nearest neighbors: the similarity-SEARCH consumer of
    // the pair distances — per series, the 2 closest under warping.
    // Symmetrize by exploding each computed pair row into its two
    // directions (the fold runs ONCE per unordered pair — a union of
    // two selects over the pair table would re-evaluate the whole
    // fold subtree per branch), then one per-series window rank.
    // Catalog-grain throughout ---------------------------------------
    "series_dtw_topk" -> ((s, dir) => {
      val sym = dtwPairs(s, dir)
        .select(explode(array(
          struct(col("ds_a"), col("ds_b"), col("dtw_ppm")),
          struct(col("ds_b").as("ds_a"), col("ds_a").as("ds_b"),
            col("dtw_ppm")))).as("e"))
        .select("e.*")
      sym
        .withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .partitionBy("ds_a")
            .orderBy(col("dtw_ppm"), col("ds_b"))).cast("long"))
        .where(col("rank") <= 2)
        .select(col("ds_a").as("dataset_id"), col("ds_b").as("neighbor"),
          col("dtw_ppm"), col("rank"))
        .orderBy("dataset_id", "rank")
    }),

    // ---- distinct aggregation ---------------------------------------
    "distinct_users" -> ((s, dir) =>
      rawEvents(s, dir).groupBy(col("event_type").as("dataset_id"))
        .agg(count_distinct(col("user_id")).as("n_users"))
        .orderBy("dataset_id")),

    // ---- JSON property extraction (pipeline metadata parsing) -------
    // ---- ANALYZE-style table profile: per-column row/null/NDV counts
    // in ONE corpus pass — the statistics a query planner (and a data
    // engineer) reads first. The six count-distincts share a single
    // expand-based aggregate (map-side combined per column value), and
    // the wide 1-row result unpivots via stack: no join, no second
    // scan, output bounded by column count at any table size. Profiles
    // the raw table, so null/NDV reflect what ingest actually receives.
    "table_profile" -> ((s, dir) => {
      val e = Melt.readTsParquet(s, s"$dir/events.parquet")
      val colsToProfile =
        Seq("event_id", "user_id", "event_type", "ts", "value", "props")
      val aggs = count(lit(1)).as("n") +:
        colsToProfile.flatMap(c => Seq(
          count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
          count_distinct(col(c)).as(s"${c}__ndv")))
      e.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(colsToProfile.map(c =>
          struct(lit(c).as("col_name"), col("n").as("n_rows"),
            col(s"${c}__nulls").as("n_nulls"),
            col(s"${c}__ndv").as("n_distinct"))): _*)).as("r"))
        .select("r.*")
        .orderBy("col_name")
    }),
    "props_parse" -> ((s, dir) =>
      rawEvents(s, dir).groupBy(col("event_type").as("dataset_id"))
        .agg(
          r6(avg(get_json_object(col("props"), "$.k").cast("double"))).as("avg_k"),
          count(lit(1)).as("n"))
        .orderBy("dataset_id")),

    // ---- ST/S1: TRUE Structured Streaming ingest — readStream over the
    // events parquet, each micro-batch's raw rows and rollup partials
    // published under ONE manifest version keyed by its batch id (the
    // atomic sink), then read the 1 s level back; must equal the
    // one-shot rollup oracle ------------------------------------------
    "stream_ingest_1s" -> ((s, dir) =>
      streamEvents1s(s, dir, "graft_stream_ingest")(
        graft.streaming.StreamIngest.startAtomic(_, _, _,
          org.apache.spark.sql.streaming.Trigger.AvailableNow()))),

    // ---- EXACTLY-ONCE streaming ingest into the manifest/LSM store:
    // the same replay, but each micro-batch appends only its partials
    // under ONE idempotent manifest commit keyed by batch id (a blind
    // append would double-count on foreachBatch redelivery; the txn
    // key makes it exactly-once). Read back the 1 s level = one-shot
    // rollup --------------------------------------------------------
    "stream_manifest_1s" -> ((s, dir) =>
      streamEvents1s(s, dir, "graft_stream_manifest")(
        graft.streaming.StreamIngest.startManifest(_, _, _,
          org.apache.spark.sql.streaming.Trigger.AvailableNow()))),

    // ---- ATOMIC exactly-once streaming ingest: the same body as
    // stream_ingest_1s — each micro-batch publishes raw + rollup
    // partials under ONE keyed manifest version (no snapshot can see
    // the two tables out of step). The 1 s level must equal the
    // one-shot rollup ------------------------------------------------
    "stream_atomic_1s" -> ((s, dir) =>
      streamEvents1s(s, dir, "graft_stream_atomic")(
        graft.streaming.StreamIngest.startAtomic(_, _, _,
          org.apache.spark.sql.streaming.Trigger.AvailableNow()))),

    // ---- watermarked event-time window aggregation: the bounded-
    // lateness streaming analytics path (the ingest path above stays
    // watermark-free for unbounded lateness). Append mode emits each
    // finalized window once; a far-future sentinel file in a LATER
    // micro-batch advances the watermark past every real window, and the
    // engine's trailing no-data batch flushes them to the memory sink --
    "stream_window_10s" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evb = Melt.readTsParquet(s, s"$dir/events.parquet")
      val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_win")
      // COPY, not symlink: the watermark dance below sets this staged
      // file's mtime to order the replay, and setLastModifiedTime on a
      // symlink FOLLOWS it — a link here would mutate the read-only
      // source table's metadata
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        srcDir.resolve("a_events.parquet"))
      // TWO sentinels, each a day apart past the stream's max event
      // time, each in its own micro-batch: append-mode emission applies
      // the watermark computed at the PREVIOUS batch's end, so batch
      // N+1 flushes what batch N's max event time unlocked — sentinel 1
      // flushes all but the last real window, sentinel 2 flushes the
      // rest. The sentinels' own (unflushed) windows are filtered below.
      // max event time in epoch-µs, independent of the file's physical
      // ts encoding (long nanos in older testdata, TIMESTAMP_NTZ µs in
      // current) — sentinels below are rendered back via Melt.tsLit
      val maxTsUs = evb.select(Melt.tsUs(evb, "ts").as("us"))
        .agg(max("us")).head().getLong(0)
      val base = System.currentTimeMillis()
      java.nio.file.Files.setLastModifiedTime(
        srcDir.resolve("a_events.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(base - 60000L))
      for (k <- 1 to 2) {
        // the file source lists only top-level files: write to scratch,
        // then move the part file up as a sibling of the events symlink
        val scratch = srcDir.resolve(s"scratch$k")
        evb.limit(1)
          .withColumn("ts",
            Melt.tsLit(evb.schema("ts").dataType, maxTsUs + k * 86400L * 1000000L))
          .withColumn("event_type", lit("zzsentinel"))
          .coalesce(1)
          .write.parquet(scratch.toString)
        val parts = java.nio.file.Files.list(scratch)
        try {
          val part = parts
            .filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          val dst = srcDir.resolve(s"b_sentinel$k.parquet")
          java.nio.file.Files.move(part, dst)
          java.nio.file.Files.setLastModifiedTime(
            dst, java.nio.file.attribute.FileTime.fromMillis(base + k * 2000L))
        } finally parts.close()
      }
      val stream = s.readStream.schema(evb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val qn = "sw10_" + java.util.UUID.randomUUID().toString.replace("-", "")
      // the state store writes one delta file per shuffle partition per
      // micro-batch: at this series cardinality 8 partitions bounds that
      // fixed cost without losing parallelism (pinned at query start;
      // restored for the batch read below)
      val prevSp = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        graft.streaming.StreamWindow
          .windowedRollup(Melt.events(stream), widthS = 10, delayS = 5)
          .writeStream
          .outputMode("append")
          .format("memory")
          .queryName(qn)
          .option("checkpointLocation", s"$srcDir/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevSp)
      q.awaitTermination()
      s.table(qn)
        .where(col("dataset_id") =!= "zzsentinel")
        .select(
          col("dataset_id"), col("bucket_s"),
          col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"), col("cnt"))
        .orderBy("dataset_id", "bucket_s")
    }),

    // ---- windowed STREAMING quantiles: per-60 s-window p50/p95 from
    // fixed-grid bucket counts maintained as streaming state (≤ B
    // counters per window, watermark-evicted — the production latency-
    // histogram posture; the range is pre-configured because a stream
    // cannot two-pass for min/max). Counts are order-free integer
    // sums, so the streamed grid equals the batch grid exactly; rank
    // extraction runs batch-side over the sink. Same two-sentinel
    // flush dance as stream_window_10s --------------------------------
    "stream_quantile_60s" -> ((s, dir) => {
      val (qLo, qHi, qB) = (0.0, 600.0, 256)
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evb = Melt.readTsParquet(s, s"$dir/events.parquet")
      val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_qn")
      // COPY, not symlink: the watermark dance below sets this staged
      // file's mtime to order the replay, and setLastModifiedTime on a
      // symlink FOLLOWS it — a link here would mutate the read-only
      // source table's metadata
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        srcDir.resolve("a_events.parquet"))
      val maxTsUs = evb.select(Melt.tsUs(evb, "ts").as("us"))
        .agg(max("us")).head().getLong(0)
      val base = System.currentTimeMillis()
      java.nio.file.Files.setLastModifiedTime(
        srcDir.resolve("a_events.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(base - 60000L))
      for (k <- 1 to 2) {
        val scratch = srcDir.resolve(s"scratch$k")
        evb.limit(1)
          .withColumn("ts",
            Melt.tsLit(evb.schema("ts").dataType, maxTsUs + k * 86400L * 1000000L))
          .withColumn("event_type", lit("zzsentinel"))
          .coalesce(1)
          .write.parquet(scratch.toString)
        val parts = java.nio.file.Files.list(scratch)
        try {
          val part = parts
            .filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          val dst = srcDir.resolve(s"b_sentinel$k.parquet")
          java.nio.file.Files.move(part, dst)
          java.nio.file.Files.setLastModifiedTime(
            dst, java.nio.file.attribute.FileTime.fromMillis(base + k * 2000L))
        } finally parts.close()
      }
      val stream = s.readStream.schema(evb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val qn = "sq60_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val prevSp = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        graft.streaming.StreamWindow
          .windowedGridCounts(Melt.events(stream),
            widthS = 60, delayS = 5, lo = qLo, hi = qHi, b = qB)
          .writeStream
          .outputMode("append")
          .format("memory")
          .queryName(qn)
          .option("checkpointLocation", s"$srcDir/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevSp)
      q.awaitTermination()
      // batch-side rank extraction over the sunk grid; sentinel windows
      // sit past the real max event time and are dropped. The grid is
      // materialized OFF the memory sink first: the mm/cum self-join
      // below cannot deduplicate a MemoryPlan view's attributes
      val grid = s.table(qn).where(col("bucket_s") <= maxTsUs / 1000000L)
        .localCheckpoint(true)
      val mm = grid.groupBy("bucket_s").agg(sum("cnt").as("n"))
      val cum = grid.withColumn("cum",
        sum("cnt").over(org.apache.spark.sql.expressions.Window
          .partitionBy("bucket_s").orderBy("bucket")
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      val pr = broadcast(
        s.createDataFrame(Seq(Tuple1(0.5), Tuple1(0.95))).toDF("p"))
      mm.crossJoin(pr)
        .withColumn("rank",
          greatest(lit(1L), ceil(col("p") * col("n")).cast("long")))
        .join(cum, Seq("bucket_s"))
        .where(col("cum") >= col("rank"))
        .groupBy("bucket_s", "p", "rank")
        .agg(min("bucket").as("bucket"))
        .select(
          col("bucket_s"), col("p"), col("rank"),
          col("bucket").cast("long").as("bucket"),
          round(lit(qLo) + col("bucket") * lit(qHi - qLo) / qB, 6).as("est"))
        .orderBy("bucket_s", "p")
    }),

    // ---- stream-stream interval join: views within ±3000 s of each
    // purchase by the SAME user, joined live across two event streams
    // (symmetric hash join state keyed by user, watermark-evicted).
    // Inner matches emit as both rows arrive — no sentinels needed; the
    // per-purchase aggregation happens batch-side over the sink --------
    "stream_join_3000s" -> ((s, dir) => {
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val evb = Melt.readTsParquet(s, s"$dir/events.parquet")
      val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_join")
      java.nio.file.Files.createSymbolicLink(
        srcDir.resolve("events.parquet"),
        java.nio.file.Paths.get(s"$dir/events.parquet"))
      def side(tpe: String, idAs: String, tsAs: String) = {
        val st = s.readStream.schema(evb.schema).parquet(srcDir.toString)
        st.where(col("event_type") === tpe)
          .select(
            col("event_id").as(idAs), col("user_id"),
            // tsUs normalizes either physical ts encoding to epoch-µs
            timestamp_micros(Melt.tsUs(st, "ts")).as(tsAs))
      }
      val joined = graft.streaming.StreamJoin.intervalJoin(
        side("purchase", "p_id", "p_ts"),
        side("view", "v_id", "v_ts").drop("v_id"),
        "user_id", "p_ts", "v_ts", tolS = 3000)
      val qn = "sj30_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val prevSp = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        joined.writeStream
          .outputMode("append")
          .format("memory")
          .queryName(qn)
          .option("checkpointLocation", s"$srcDir/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevSp)
      q.awaitTermination()
      s.table(qn)
        .groupBy("p_id")
        .agg(
          count(lit(1)).as("n_views_3000s"),
          min(abs(unix_micros(col("p_ts")) - unix_micros(col("v_ts"))))
            .as("min_gap_us"))
        .orderBy("p_id")
    }),

    // ---- streaming gap sessionization (flatMapGroupsWithState): the
    // CUSTOM-state streaming posture registered end-to-end. The events
    // file replays as a micro-batch; per-user OpenSession state closes
    // sessions by data or by event-time timeout; two far-future
    // sentinel batches (same two-step watermark dance as
    // stream_window_10s) advance the watermark so every real session
    // flushes deterministically, and the result must equal the batch
    // gaps-and-islands sessionization bit-for-bit (shared oracle shape
    // with user_sessions). Sentinel rows ride user_id = -1 and are
    // filtered from the sink --------------------------------------------
    "stream_sessions" -> ((s, dir) => {
      val evb = Melt.readTsParquet(s, s"$dir/events.parquet")
      val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_sess")
      // COPY, not symlink: the watermark dance below sets this staged
      // file's mtime to order the replay, and setLastModifiedTime on a
      // symlink FOLLOWS it — a link here would mutate the read-only
      // source table's metadata
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        srcDir.resolve("a_events.parquet"))
      val maxTsUs = evb.select(Melt.tsUs(evb, "ts").as("us"))
        .agg(max("us")).head().getLong(0)
      val base = System.currentTimeMillis()
      java.nio.file.Files.setLastModifiedTime(
        srcDir.resolve("a_events.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(base - 60000L))
      for (k <- 1 to 2) {
        val scratch = srcDir.resolve(s"scratch$k")
        evb.limit(1)
          .withColumn("ts",
            Melt.tsLit(evb.schema("ts").dataType, maxTsUs + k * 86400L * 1000000L))
          .withColumn("user_id", lit(-1L))
          .coalesce(1)
          .write.parquet(scratch.toString)
        val parts = java.nio.file.Files.list(scratch)
        try {
          val part = parts
            .filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          val dst = srcDir.resolve(s"b_sentinel$k.parquet")
          java.nio.file.Files.move(part, dst)
          java.nio.file.Files.setLastModifiedTime(
            dst, java.nio.file.attribute.FileTime.fromMillis(base + k * 2000L))
        } finally parts.close()
      }
      val stream = s.readStream.schema(evb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val sessions = graft.streaming.Sessionize.sessions(
        stream.select(col("user_id"), Melt.tsUs(stream, "ts").as("ts_us")),
        gapUs = 1800000000L)
      val qn = "ss_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val prevSp = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        sessions.toDF()
          .writeStream
          .outputMode("append")
          .format("memory")
          .queryName(qn)
          .option("checkpointLocation", s"$srcDir/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevSp)
      q.awaitTermination()
      s.table(qn)
        .where(col("user_id") >= 0)
        // the streaming emission order is nondeterministic; session_id is
        // the per-user start-time ordinal, same as the batch operator
        .withColumn("session_id", row_number()
          .over(org.apache.spark.sql.expressions.Window
            .partitionBy("user_id").orderBy("start_us")).cast("long"))
        .select("user_id", "session_id", "n_events", "start_us", "end_us")
        .orderBy("user_id", "session_id")
    }),

    // ---- streaming threshold alerting (flatMapGroupsWithState): live
    // debounced excursion detection — consecutive above-threshold
    // points merge into one alert row, closed by data or flushed by
    // watermark. Thresholds (per-series mean, batch-computed) join the
    // stream as a STATIC broadcast frame — the model-scoring-in-streams
    // pattern. Sentinels ride event_type zzsentinel; the left join
    // gives them thr = MaxValue so they flow through as below-threshold
    // no-ops that advance the watermark. Must equal the batch
    // gaps-and-islands oracle over raw points bit-for-bit ------------
    "stream_excursions" -> ((s, dir) => {
      val evb = Melt.readTsParquet(s, s"$dir/events.parquet")
      val srcDir = java.nio.file.Files.createTempDirectory("graft_stream_alrt")
      // COPY, not symlink: the watermark dance below sets this staged
      // file's mtime to order the replay, and setLastModifiedTime on a
      // symlink FOLLOWS it — a link here would mutate the read-only
      // source table's metadata
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$dir/events.parquet"),
        srcDir.resolve("a_events.parquet"))
      val maxTsUs = evb.select(Melt.tsUs(evb, "ts").as("us"))
        .agg(max("us")).head().getLong(0)
      val base = System.currentTimeMillis()
      java.nio.file.Files.setLastModifiedTime(
        srcDir.resolve("a_events.parquet"),
        java.nio.file.attribute.FileTime.fromMillis(base - 60000L))
      for (k <- 1 to 2) {
        val scratch = srcDir.resolve(s"scratch$k")
        evb.limit(1)
          .withColumn("ts",
            Melt.tsLit(evb.schema("ts").dataType, maxTsUs + k * 86400L * 1000000L))
          .withColumn("event_type", lit("zzsentinel"))
          .withColumn("value", lit(1.0))
          .coalesce(1)
          .write.parquet(scratch.toString)
        val parts = java.nio.file.Files.list(scratch)
        try {
          val part = parts
            .filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          val dst = srcDir.resolve(s"b_sentinel$k.parquet")
          java.nio.file.Files.move(part, dst)
          java.nio.file.Files.setLastModifiedTime(
            dst, java.nio.file.attribute.FileTime.fromMillis(base + k * 2000L))
        } finally parts.close()
      }
      // batch-side per-series mean thresholds (integer ppm discipline)
      val thr = Melt.events(evb)
        .where(col("ts_us").between(Day5Us, Day6Us))
        .withColumn("ppm", round(col("value") * lit(1e6)).cast("long"))
        .groupBy("dataset_id")
        .agg(round(sum(col("ppm")).cast("double") / count(lit(1)))
          .cast("long").as("thr_ppm"))
      val stream = s.readStream.schema(evb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val scored = Melt.events(stream)
        .where(col("ts_us").between(Day5Us, Day6Us) ||
          col("dataset_id") === "zzsentinel")
        .withColumn("ppm", round(col("value") * lit(1e6)).cast("long"))
        .join(broadcast(thr), Seq("dataset_id"), "left_outer")
        .withColumn("thr_ppm", coalesce(col("thr_ppm"), lit(Long.MaxValue)))
      val qn = "sa_" + java.util.UUID.randomUUID().toString.replace("-", "")
      val prevSp = s.conf.get("spark.sql.shuffle.partitions")
      val q = try {
        s.conf.set("spark.sql.shuffle.partitions", "8")
        graft.streaming.StreamAlert.excursions(scored)
          .toDF()
          .writeStream
          .outputMode("append")
          .format("memory")
          .queryName(qn)
          .option("checkpointLocation", s"$srcDir/ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      } finally s.conf.set("spark.sql.shuffle.partitions", prevSp)
      q.awaitTermination()
      s.table(qn)
        .where(col("dataset_id") =!= "zzsentinel")
        .select(col("dataset_id"), col("start_us"), col("end_us"),
          col("n_points"), col("peak_ppm"))
        .orderBy("dataset_id", "start_us")
    }),

    // ---- streaming drift monitor (foreachBatch scoring): each
    // micro-batch of day-6 traffic is PSI-scored per series against a
    // BROADCAST day-5 baseline histogram — the live "has this metric's
    // distribution moved" gate, state-free (the baseline is the only
    // state, and it's a static frame). The replay is three fixed
    // 8-hour files fed in mtime order, so batch contents are
    // deterministic and the batch id derives from the batch's own
    // min event time, never from trigger numbering. Same order-free
    // integer PSI discipline as value_drift_psi.
    "stream_drift" -> ((s, dir) => {
      val eightHUs = 8L * 3600L * 1000000L
      val evb = Melt.readTsParquet(s, s"$dir/events.parquet")
      val long = Melt.events(evb)
      // day-5 baseline: per-series band histogram on day-5 min/max
      val base5 = long
        .where(col("ts_us") >= Day5Us && col("ts_us") < Day6Us)
        .withColumn("ppm", round(col("value") * lit(1e6)).cast("long"))
      val mm = base5.groupBy("dataset_id")
        .agg(min("ppm").as("mn"), max("ppm").as("mx"))
      val baseCounts = base5.join(broadcast(mm), "dataset_id")
        .select(col("dataset_id"),
          greatest(lit(0L), least(lit(9L),
            expr("((ppm - mn) * 10) div (mx - mn + 1)"))).as("band"))
        .groupBy("dataset_id", "band").agg(count(lit(1)).as("c5"))
      val n5 = baseCounts.groupBy("dataset_id").agg(sum("c5").as("n5"))
      val baseline = mm
        .join(n5, "dataset_id")
        .select(col("dataset_id"), col("mn"), col("mx"), col("n5"),
          explode(sequence(lit(0L), lit(9L))).as("band"))
        .join(baseCounts, Seq("dataset_id", "band"), "left_outer")
        .select(col("dataset_id"), col("band"), col("mn"), col("mx"),
          col("n5"), coalesce(col("c5"), lit(0L)).as("c5"))
        .localCheckpoint(true)
      // three fixed 8 h day-6 windows as separate batch files
      val srcDir = java.nio.file.Files.createTempDirectory("graft_drift")
      val base = System.currentTimeMillis()
      for (k <- 0 to 2) {
        val scratch = srcDir.resolve(s"scratch$k")
        val lo = Day6Us + k * eightHUs
        val loL = Melt.tsLit(evb.schema("ts").dataType, lo)
        val hiL = Melt.tsLit(evb.schema("ts").dataType, lo + eightHUs)
        // half-open window: exact boundaries in either physical ts
        // encoding, no sub-µs gap between consecutive batch files
        evb.where(col("ts") >= loL && col("ts") < hiL)
          .coalesce(1).write.parquet(scratch.toString)
        val parts = java.nio.file.Files.list(scratch)
        try {
          val part = parts
            .filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          val dst = srcDir.resolve(s"b$k.parquet")
          java.nio.file.Files.move(part, dst)
          java.nio.file.Files.setLastModifiedTime(
            dst, java.nio.file.attribute.FileTime.fromMillis(base + k * 2000L))
        } finally parts.close()
      }
      val outDir = srcDir.resolve("out").toString
      val stream = s.readStream.schema(evb.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      val q = Melt.events(stream).writeStream
        .outputMode("append")
        .option("checkpointLocation", s"$srcDir/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val b = batch
            .withColumn("ppm", round(col("value") * lit(1e6)).cast("long"))
            .localCheckpoint(true)
          if (!b.isEmpty) {
            val bno = b.agg(min("ts_us")).head().getLong(0) match {
              case t => (t - Day6Us) / eightHUs
            }
            val counts = b.join(broadcast(baseline.select(
                col("dataset_id"), col("mn"), col("mx")).distinct()),
                "dataset_id")
              .select(col("dataset_id"),
                greatest(lit(0L), least(lit(9L),
                  expr("((ppm - mn) * 10) div (mx - mn + 1)"))).as("band"))
              .groupBy("dataset_id", "band").agg(count(lit(1)).as("cb"))
            val nb = counts.groupBy("dataset_id").agg(sum("cb").as("nb"))
            baseline
              .join(counts, Seq("dataset_id", "band"), "left_outer")
              .join(nb, Seq("dataset_id"), "left_outer")
              .select(col("dataset_id"), col("band"), col("n5"), col("c5"),
                coalesce(col("cb"), lit(0L)).as("cb"),
                coalesce(col("nb"), lit(0L)).as("nb"))
              .withColumn("p", (col("c5") + lit(1)).cast("double") /
                (col("n5") + lit(10)).cast("double"))
              .withColumn("q", (col("cb") + lit(1)).cast("double") /
                (col("nb") + lit(10)).cast("double"))
              .withColumn("term_ppm",
                round((col("p") - col("q")) * log(col("p") / col("q"))
                  * lit(1e6)).cast("long"))
              .groupBy("dataset_id")
              .agg(sum("term_ppm").as("psi_ppm"), max("nb").as("n_batch"))
              .withColumn("batch_no", lit(bno))
              .write.mode("append").parquet(outDir)
          }
        }
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .select(col("batch_no"), col("dataset_id"), col("n_batch"),
          col("psi_ppm"))
        .orderBy("batch_no", "dataset_id")
    }),

    // ---- S12/O3/F14: comment CRUD round-trip — create 6, update every
    // id%3==0 (text prefixed, date shifted +1s), delete every id%5==0,
    // read back date-sorted (the reference's sorted-rewrite write path,
    // marks.py:84-91, 163-181) ----------------------------------------
    "comments_crud" -> ((s, dir) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_comments").toString + "/comments"
      val base = rawEvents(s, dir)
        .where(col("event_type") === "signup")
        .select(col("event_id").cast("long"), col("ts_us"), col("props"))
        .orderBy("event_id").limit(6).collect()
      base.foreach { r =>
        CommentStore.create(s, path, r.getLong(0), r.getLong(1),
          r.getString(2), Seq("signup"))
      }
      base.filter(_.getLong(0) % 3 == 0).foreach { r =>
        CommentStore.update(s, path, r.getLong(0), r.getLong(1) + 1000000L,
          "upd:" + r.getString(2), Seq("signup", "edited"))
      }
      base.filter(_.getLong(0) % 5 == 0).foreach { r =>
        CommentStore.delete(s, path, r.getLong(0))
      }
      CommentStore.load(s, path)
        .select("id", "date_us", "text")
        .orderBy("date_us", "id")
    }),

    // ---- S11/A9: self-metrics feedback loop — the engine ingests its
    // own counters as series (loop.py:52-78): 3 puts + 2 gets, flush at
    // a fixed timestamp, read the counter series back ------------------
    "self_metrics" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_selfmetrics").toString
      val api = new GraftApi(s, s"$tmp/store", s"$tmp/comments")
      // seed row collected once — re-evaluating the sort per put would
      // re-scan events three times for a one-row batch
      val r = ev(s, dir).orderBy("dataset_id", "ts_us", "value").limit(1).collect().head
      import s.implicits._
      val one = Seq((r.getString(0), r.getLong(1), r.getDouble(2)))
        .toDF("dataset_id", "ts_us", "value")
      for (_ <- 0 until 3) api.putData(one)
      api.getData("view", Day5Us, Day6Us)
      api.getData("click", Day5Us, Day6Us)
      api.flushSelfMetrics(Day6Us)
      // the default backend commits raw atomically into the manifest
      // store — read the counter series back from there
      graft.store.ManifestStore.readRaw(s, s"$tmp/store")
        .where(col("dataset_id").startsWith("index."))
        .select("dataset_id", "ts_us", "value")
        .orderBy("dataset_id")
    }),

    // ---- S2/S3/ST: incremental ingest — 3 batches through the store,
    // merged state must equal the one-shot rollup (A2 across batches) --
    "ingest_incremental_1s" -> ((s, dir) => {
      val root = ingestThirds(s, dir, "graft_ingest")
      level1s(s, root)
    }),

    // ---- rollup repair / backfill: corrupt a coarse-aligned slice of
    // the rollup pyramid by re-merging DUPLICATE offset partials (a
    // partially-applied bad merge), then Tables.repairRollups
    // recomputes every level for the slice from RAW — the truth — and
    // replaces exactly those buckets. The read-back must equal the
    // one-shot oracle, proving the repair path restores byte-exact
    // state. Cost ∝ slice (pruned raw read + affected-partition
    // rewrite), never the table ---------------------------------------
    "rollup_repair" -> ((s, dir) => {
      val root = clonedBaseStore(s, dir)
      val long = ev(s, dir)
      val b = long.agg(min("ts_us"), max("ts_us")).head()
      val coarse = 100000L * 1000000L
      val lo = (b.getLong(0) / coarse + 1L) * coarse
      val hi = math.min((b.getLong(1) / coarse) * coarse, lo + 5L * coarse)
      if (hi > lo) {
        val corrupt = Tables.allLevelPartials(
          long.where(col("ts_us") >= lo && col("ts_us") < hi)
            .withColumn("value", col("value") + lit(1000.0)))
        Tables.mergeRollups(s, root, corrupt)
        Tables.repairRollups(s, root, lo, hi)
      }
      Tables.readRollup(s, root, Fidelity.S10)
        .select(
          col("dataset_id"), col("bucket_s"),
          col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"),
          col("cnt"))
        .orderBy("dataset_id", "bucket_s")
    }),

    // ---- store fsck: the DETECTION sibling of rollup_repair — verify
    // the whole rollup pyramid against itself (five A2 cascade folds,
    // agg-priced) and against raw (the deep 1s recount), plus the
    // physical-layout invariants a pruned read silently depends on
    // (ds_b hash placement, part_s/win_s window grids, bucket
    // alignment, key uniqueness). The oracle recomputes every check's
    // audited universe from the events melt with violations pinned at
    // 0 — a torn merge, stray writer, or hand-moved partition anywhere
    // in the store hash-mismatches. FsckSpec proves the detectors fire
    // on planted corruption ---------------------------------------
    "store_fsck" -> ((s, dir) => {
      val root = clonedBaseStore(s, dir)
      Tables.fsck(s, root, deep = true).orderBy("check")
    }),

    // ---- store DETECT → REMEDIATE composition: a stray writer plants
    // two corruptions past the ingest path (a byte-for-byte duplicated
    // 10 s rollup row, and a layout-valid orphan 1 s bucket in a
    // far-future window raw knows nothing about), the BEFORE fsck
    // reads red with exactly the injected violation counts, then
    // fsckRepair derives the violated 100000 s windows from the
    // violation-grain checks and recomputes exactly those slices from
    // raw — the AFTER fsck must read all-zeros with the healthy
    // audited universes. Both phases are value-oracled, so the repair
    // can neither under-fix (after ≠ 0) nor over-touch (healthy audits
    // drift). In-query requires pin the window count (2 — one per
    // corruption site) and the clean end state -------------------------
    "store_fsck_repair" -> ((s, dir) => {
      val root = clonedBaseStore(s, dir)
      val rp = Tables.rollupPath(root)
      val rollup = s.read.parquet(rp)
      rollup.where(col("fidelity") === "d10")
        .orderBy("dataset_id", "bucket_s").limit(1)
        .write.mode("append").partitionBy("fidelity", "ds_b", "part_s")
        .parquet(rp)
      rollup.where(col("fidelity") === "d1")
        .orderBy("dataset_id", "bucket_s").limit(1)
        .withColumn("bucket_s", lit(2000000000L))
        // layout-valid part_s for the S1 level's 28-day window
        .withColumn("part_s",
          lit(2000000000L - 2000000000L % Tables.partitionWindowS(
            graft.model.Fidelity.S1)))
        .write.mode("append").partitionBy("fidelity", "ds_b", "part_s")
        .parquet(rp)
      val before = Tables.fsck(s, root, deep = true)
        .withColumn("phase", lit("before")).localCheckpoint(true)
      val repaired = Tables.fsckRepair(s, root, deep = true)
      require(repaired.length == 2,
        s"expected 2 violated repair windows, got $repaired")
      val after = Tables.fsck(s, root, deep = true)
        .withColumn("phase", lit("after")).localCheckpoint(true)
      require(after.agg(sum("violations")).head().getLong(0) == 0L,
        "fsckRepair must leave the pyramid clean")
      before.unionByName(after)
        .select("phase", "check", "violations", "audited")
        .orderBy("phase", "check")
    }),

    // ---- store compaction: 3 atomic ingests leave 3 raw commits of
    // interleaved sliver files; a full-fan-in compactRawTiered folds
    // them into ONE commit, re-sorted by (ds_b, dataset_id, ts). The
    // oracle proves the rewrite is LOSSLESS — the compacted raw table
    // still equals the events melt exactly (the commit and file counts
    // are assert-ed in IngestMergeSpec) ------------------------------
    "store_compact" -> ((s, dir) => {
      val root = ingestThirds(s, dir, "graft_compact")
      graft.store.ManifestStore.compactRawTiered(s, root, fanIn = Int.MaxValue)
      graft.store.ManifestStore.readRaw(s, root)
        .select("dataset_id", "ts_us", "value")
        .orderBy("dataset_id", "ts_us", "value")
    }),

    // ---- targeted series deletion (right-to-be-forgotten): the same
    // body as manifest_forget_10s — forget the 'view' series on a clone
    // of the atomic fixture, then read the 10 s level back: the series
    // must be gone and every other series' aggregate untouched.
    // Raw-side equality and the empty-store end state are assert-ed in
    // StoreForgetSpec ------------------------------------------------
    "store_forget" -> ((s, dir) => forgetView10s(s, dir)),

    // ---- partition-grain retention (TTL): ingest, expire every raw
    // window ending at or before Jan 4 (a 7-day window boundary, so
    // raw expiry is exact), read back — directory-metadata deletes
    // only, zero data read; straddling rollup partitions stay whole
    // (conservative TTL, unit-specced) --------------------------------
    "store_retention" -> ((s, dir) => {
      val root = clonedBaseStore(s, dir)
      Tables.expireBefore(s, root, cutoffS = 1704326400L)
      Tables.readRaw(s, root)
        .select("dataset_id", "ts_us", "value")
        .orderBy("dataset_id", "ts_us", "value")
    }),

    // ---- S3 via the manifest/merge-on-read commit path: the same
    // 3-batch ingest as ingest_incremental_1s with maxLiveCommits=2,
    // which forces a tiered compact (both tiers) + vacuum cycle inside
    // the gated run, so the oracle checks the full LSM lifecycle, not
    // just appends ---------------------------------------------------
    "ingest_manifest_1s" -> ((s, dir) => {
      val root = ingestThirds(s, dir, "graft_manifest", maxLiveCommits = 2)
      level1s(s, root)
    }),

    // ---- FEDERATED store merge: two stores ingest DISJOINT halves of
    // the same event stream (crc32 parity split — but overlapping
    // series and buckets, which the merge-on-read monoid must fold
    // across the store boundary), then the source folds into the
    // destination under ONE manifest version: rollup partials
    // concatenate, raw rows restage through the layout writer, and
    // the source's #txn: keys ride along so exactly-once composes —
    // the requires pin that a redelivered batch still folds in zero
    // times and a re-merge refuses. Oracle = the one-shot 1 s rollup
    // over ALL events --------------------------------------------------
    "store_merge" -> ((s, dir) => {
      val dst = java.nio.file.Files
        .createTempDirectory("graft_store_mdst").toString
      val src = java.nio.file.Files
        .createTempDirectory("graft_store_msrc").toString
      val long = ev(s, dir)
      val half = pmod(crc32(concat_ws("|", col("dataset_id"), col("ts_us"))), lit(2))
      require(graft.store.ManifestStore.ingestBatchAtomic(
        s, dst, long.where(half === 0), key = Some("west0")))
      require(graft.store.ManifestStore.ingestBatchAtomic(
        s, src, long.where(half === 1), key = Some("east0")))
      graft.store.ManifestStore.mergeFrom(s, dst, src, key = Some("m0"))
      require(!graft.store.ManifestStore.ingestBatchAtomic(
          s, dst, long.where(half === 1), key = Some("east0")),
        "the source's delivery key must reject redelivery into the merged store")
      require(scala.util.Try(
          graft.store.ManifestStore.mergeFrom(s, dst, src)).isFailure,
        "re-merging the same source must be refused")
      level1s(s, dst)
    }),

    // ---- ZERO-COPY BRANCH: clone the shared atomic fixture AS OF v2
    // (batches 0-1) into a fresh root — every live file hard-links,
    // zero bytes move — then DIVERGE the branch: batch 1's key (folded
    // before the branch point) still rejects there, while batch 2's
    // key (folded by the source only at v3, after the branch point)
    // ingests normally. The branch ends up holding all three batches
    // through its own two-version history; the source is never
    // touched. Oracle = the one-shot 1 s rollup over ALL events -----
    "store_branch" -> ((s, dir) => {
      val src = atomicManifestStore(s, dir)
      val br = java.nio.file.Files
        .createTempDirectory("graft_branch").toString + "/b"
      graft.store.ManifestStore.cloneAsOf(s, src, br, version = 2L)
      val long = ev(s, dir)
      require(!graft.store.ManifestStore.ingestBatchAtomic(
          s, br, long.where(md5Third === 1), key = Some("b1")),
        "a key folded before the branch point must reject on the branch")
      require(graft.store.ManifestStore.ingestBatchAtomic(
          s, br, long.where(md5Third === 2), key = Some("b2")),
        "a key folded only after the branch point must ingest on the branch")
      level1s(s, br)
    }),

    // ---- manifest time travel: ingest 3 batches (md5-split so the
    // oracle reproduces the partition), then read the 1 s level AS OF
    // version 2 — the snapshot must equal the rollup of batches 0-1
    // exactly, proving versioned-read isolation from later commits ----
    "manifest_time_travel" -> ((s, dir) => {
      val root = atomicManifestStore(s, dir)
      graft.store.ManifestStore.readLevelAsOf(s, root, Fidelity.S1, version = 2L)
        .select(
          col("dataset_id"), col("bucket_s"),
          col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"), col("cnt"))
        .orderBy("dataset_id", "bucket_s")
    }),

    // ---- manifest change-data feed: after the same md5-split 3-batch
    // ingest, read WHAT CHANGED in (v2, v3] on the 1 s level — old and
    // new aggregate per touched bucket plus insert/update kind. Cost ∝
    // the delta commits, never the table (ManifestStore.cdcBetween's
    // bounding-box + semi-join pruning); the incremental-consumption
    // read a downstream cache/alert/export sync runs instead of a
    // full-table diff ------------------------------------------------
    "manifest_cdc" -> ((s, dir) => {
      val root = atomicManifestStore(s, dir)
      graft.store.ManifestStore
        .cdcBetween(s, root, Fidelity.S1, fromV = 2L, toV = 3L)
        .select(
          col("dataset_id"), col("bucket_s"), col("op"),
          col("old_min_v"), col("old_max_v"),
          r6(col("old_sum_v")).as("old_sum_v"), col("old_cnt"),
          col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"), col("cnt"))
        .orderBy("dataset_id", "bucket_s")
    }),

    // ---- incremental view maintenance driven by the CDC feed: a
    // DERIVED daily summary is bootstrapped from snapshot v1, then for
    // each later version only the (dataset, day) groups the CDC feed
    // touched are recomputed (anti-join out, re-aggregate in) — the
    // classic delta-driven refresh a downstream materialization runs
    // instead of rebuilding itself. Per step, work ∝ changed days:
    // the CDC read costs the delta, and the re-aggregation reads the
    // 1 s level semi-joined to the affected-day set. The maintained
    // summary must equal the one-shot daily rollup bit-for-bit --------
    "incremental_refresh" -> ((s, dir) => {
      val root = atomicManifestStore(s, dir)
      var summary = graft.streaming.StreamCdc.daily(
        graft.store.ManifestStore.readLevelAsOf(s, root, Fidelity.S1, 1L))
      for (v <- 2L to 3L)
        summary = graft.streaming.StreamCdc.refreshDailyStep(s, root, summary, v)
      summary
        .select(
          col("dataset_id"), col("day_s"),
          col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"), col("cnt"))
        .orderBy("dataset_id", "day_s")
    }),

    // ---- ATOMIC multi-table ingest, rollup leg: 3 keyed batches (one
    // deliberately redelivered) publish raw + partials under single
    // manifest versions; the 1 s level must equal the one-shot rollup —
    // with the raw-leg twin below sharing the same oracle, the pair
    // proves both tables are exactly-once and mutually consistent ----
    "ingest_atomic_1s" -> ((s, dir) => {
      val root = atomicManifestStore(s, dir)
      level1s(s, root)
    }),

    // ---- ATOMIC multi-table ingest, raw leg: aggregate the manifest-
    // committed raw table to the same 1 s shape — same oracle --------
    "ingest_atomic_raw_1s" -> ((s, dir) => {
      val root = atomicManifestStore(s, dir)
      graft.store.ManifestStore.readRaw(s, root)
        .groupBy(col("dataset_id"),
          (expr("ts_us div 1000000") * lit(1L)).as("bucket_s"))
        .agg(
          min("value").as("min_v"), max("value").as("max_v"),
          r6(sum("value")).as("sum_v"), count(lit(1)).as("cnt"))
        .orderBy("dataset_id", "bucket_s")
    }),

    // ---- right-to-be-forgotten on the ATOMIC store: clone the shared
    // atomic fixture (hardlinks), forget the 'view' series — every
    // containing commit rewrites without it and the manifest swaps
    // ONCE, so no reader can see a partial delete — then read the 10 s
    // level back: the series is gone, every other aggregate untouched
    "manifest_forget_10s" -> ((s, dir) => forgetView10s(s, dir)),

    // ---- commit-log history sweep: every published version read back
    // on BOTH tables — the raw count and the 1 s-level point count must
    // agree at every version (atomic publish = no version can ever
    // show the tables out of step), and the oracle pins both to the
    // cumulative md5-split membership ------------------------------
    "manifest_history" -> ((s, dir) => {
      val root = atomicManifestStore(s, dir)
      (1L to 3L).map { v =>
        graft.store.ManifestStore.readRawAsOf(s, root, v)
          .agg(count(lit(1)).as("n_raw"))
          .crossJoin(
            graft.store.ManifestStore.readLevelAsOf(s, root, Fidelity.S1, v)
              .agg(sum("cnt").as("n_rollup_pts")))
          .withColumn("version", lit(v))
      }.reduce(_.unionByName(_))
        .select(col("version"), col("n_raw"), col("n_rollup_pts"))
        .orderBy("version")
    }),

    // ---- snapshot chart-range read: the 'view' series over one day at
    // the 10 s level AS OF version 2 — series/part/bucket pruning below
    // the merge fold against a frozen snapshot (batches 0-1 only) ----
    "manifest_range_asof_10s" -> ((s, dir) => {
      val root = atomicManifestStore(s, dir)
      val minUs = ev(s, dir).agg(min("ts_us")).head().getLong(0)
      val startS = (minUs / 1000000L / 86400L) * 86400L + 86400L
      graft.store.ManifestStore.readLevelRangeAsOf(
        s, root, Fidelity.S10, "view", startS, startS + 86400L, version = 2L)
        .select(
          col("dataset_id"), col("bucket_s"),
          col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"), col("cnt"))
        .orderBy("bucket_s")
    }),

    // ---- raw-tier change feed: the raw rows ADDED in (v2, v3] — the
    // replication/export read. On the md5-split atomic fixture that is
    // exactly batch 2's rows, with no old-state join (the delta IS the
    // added raw commit dirs) --------------------------------------
    "manifest_cdc_raw" -> ((s, dir) => {
      val root = atomicManifestStore(s, dir)
      graft.store.ManifestStore.cdcRawBetween(s, root, fromV = 2L, toV = 3L)
        .select(col("dataset_id"), col("ts_us"), r6(col("value")).as("value"))
        .orderBy("dataset_id", "ts_us", "value")
    }),

    // ---- WRITE-AUDIT-PUBLISH ingest: batch 1 (md5-slice 0) passes its
    // audit and publishes; batch 2 (slice 1) carries values > 95, so
    // ONE aggregation pass over its STAGED commit dirs counts the
    // violations and the whole batch is rejected — staging deleted, no
    // version consumed, the table byte-identical. A redelivered clean
    // batch is still key-deduped through the WAP path. The store row
    // count after each step proves rejected data was never visible ----
    "ingest_wap" -> ((s, dir) => {
      import s.implicits._
      val root = java.nio.file.Files
        .createTempDirectory("graft_wap_fixture").toString
      val long = ev(s, dir)
      def rep1(df: DataFrame): (String, Long) = {
        val r = df.head(); (r.getString(0), r.getLong(1))
      }
      val (p1, r1) = graft.store.ManifestStore.ingestBatchAudited(s, root,
        long.where(md5Third === 0),
        Seq("value_le_1000" -> (col("value") <= 1000.0)), key = Some("w1"))
      val n1 = graft.store.ManifestStore.readRaw(s, root).count()
      val (p1b, r1b) = graft.store.ManifestStore.ingestBatchAudited(s, root,
        long.where(md5Third === 0),
        Seq("value_le_1000" -> (col("value") <= 1000.0)), key = Some("w1"))
      val n1b = graft.store.ManifestStore.readRaw(s, root).count()
      val (p2, r2) = graft.store.ManifestStore.ingestBatchAudited(s, root,
        long.where(md5Third === 1),
        Seq("value_le_95" -> (col("value") <= 95.0)), key = Some("w2"))
      val n2 = graft.store.ManifestStore.readRaw(s, root).count()
      val (e1, v1) = rep1(r1); val (e1b, v1b) = rep1(r1b); val (e2, v2) = rep1(r2)
      Seq(
        ("b1", e1, v1, p1, n1),
        ("b1_redelivery", e1b, v1b, p1b, n1b),
        ("b2", e2, v2, p2, n2))
        .toDF("batch", "expectation", "violations", "published", "store_rows")
        .orderBy("batch")
    }),

    // ---- time-based retention on the ATOMIC store: expire everything
    // before a coarsest-level-aligned cutoff from BOTH tables in one
    // manifest swap — EXACT at the cutoff (every level width divides
    // 100000 s), where directory-grain expiry must keep straddling
    // partitions whole. Cutoff = 2 coarse windows past the data start
    "manifest_retention_10s" -> ((s, dir) => {
      val root = hardlinkClone(atomicManifestStore(s, dir))
      val minUs = ev(s, dir).agg(min("ts_us")).head().getLong(0)
      val cutoffS = (minUs / 1000000L / 100000L + 2L) * 100000L
      graft.store.ManifestStore.expireBefore(s, root, cutoffS)
      graft.store.ManifestStore.readLevel(s, root, Fidelity.S10)
        .select(
          col("dataset_id"), col("bucket_s"),
          col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"), col("cnt"))
        .orderBy("dataset_id", "bucket_s")
    }),

    // ---- CDC STREAMING CONSUMER: tail the manifest store's version
    // files as a Structured Streaming file source (the commit
    // protocol's own WAL — no second channel) and apply each published
    // version as one delta-driven refresh of a derived daily summary,
    // bootstrapped from the EMPTY table so every version folds in as a
    // delta. Out-of-order version arrivals buffer until their
    // predecessor applies. The continuously-maintained summary must
    // equal the one-shot daily rollup bit-for-bit (same oracle as the
    // batch incremental_refresh — the two share refreshDailyStep) ----
    "stream_cdc_refresh" -> ((s, dir) => {
      val root = atomicManifestStore(s, dir)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cdc_ckpt").toString
      graft.streaming.StreamCdc.maintainDaily(s, root, s"$ckpt/ckpt")
        .select(
          col("dataset_id"), col("day_s"),
          col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"), col("cnt"))
        .orderBy("dataset_id", "day_s")
    }),

    // ---- CDC FAN-OUT: one manifest-WAL stream drives TWO maintained
    // states — the daily summary (touched-days re-aggregation; min/max
    // are not invertible) and per-series totals (pure delta-add from
    // the feed's old/new values; the table is never re-read). The query
    // joins summary-derived totals with the delta-maintained totals so
    // the oracle checks both states AND their agreement -------------
    "stream_cdc_fanout" -> ((s, dir) => {
      val root = atomicManifestStore(s, dir)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cdc_fan").toString
      val (summary, totals) =
        graft.streaming.StreamCdc.maintainFanout(s, root, s"$ckpt/ckpt")
      summary
        .groupBy("dataset_id")
        .agg(r6(sum("sum_v")).as("sum_from_summary"), sum("cnt").as("cnt_from_summary"))
        .join(totals.select(col("dataset_id"),
          r6(col("sum_v")).as("sum_from_deltas"), col("cnt").as("cnt_from_deltas")),
          Seq("dataset_id"))
        .orderBy("dataset_id")
    }),

    // ---- CDC ALERT consumer with HYSTERESIS: the third maintained-
    // state shape — per dataset, alert ON when a version's ingested
    // mean ≥ 50.0, OFF when ≤ 48.5, CARRIED in the dead band (the
    // anti-flapping band). State changes only at decisive versions, so
    // the sequentially-folded stream state must equal the declarative
    // "last decisive event" fold the oracle computes with windows ----
    "stream_cdc_alerts" -> ((s, dir) => {
      val root = atomicManifestStore(s, dir)
      val ckpt = java.nio.file.Files
        .createTempDirectory("graft_cdc_alert").toString
      graft.streaming.StreamCdc
        .maintainAlerts(s, root, s"$ckpt/ckpt", high = 50.0, low = 48.5)
        .orderBy("dataset_id")
    }),

    // ---- manifest SCHEMA EVOLUTION: batch 0 is committed by a v1
    // writer (its parquet files have NO sumsq column), batches 1-2 by
    // v2 writers (sumsq = Σv²). Old commits are never rewritten —
    // parquet schema reconciliation reads the missing column as NULL —
    // and the merge rule is conservative: a bucket's sumsq is non-null
    // iff EVERY contributing commit carries it (null-poisoning sum
    // monoid, associative, so compaction preserves it). v1 columns
    // (min/max/sum/cnt) fold identically across revisions ------------
    "manifest_schema_evolution" -> ((s, dir) => {
      val root = java.nio.file.Files
        .createTempDirectory("graft_manifest_evo").toString
      val long = ev(s, dir)
      graft.store.ManifestStore.appendPartials(s, root,
        Tables.allLevelPartials(long.where(md5Third === 0)))
      for (i <- 1 until 3)
        graft.store.ManifestStore.appendPartials(s, root,
          Tables.allLevelPartials(long.where(md5Third === i), withSumsq = true))
      graft.store.ManifestStore.readLevelV2(s, root, Fidelity.S1)
        .select(
          col("dataset_id"), col("bucket_s"),
          col("min_v"), col("max_v"), r6(col("sum_v")).as("sum_v"), col("cnt"),
          r6(col("sumsq")).as("sumsq"))
        .orderBy("dataset_id", "bucket_s")
    }))

  /** Shared DuckDB CTE chain ending in `f(t16, h16, fid)` with `b(t0,
   *  t1)` in scope — the oracle replica of [[zorderFiles]].
   */
  private val zorderCte: String = {
    val zTerms = (0 until 16).map(b =>
      s"(((t16 >> $b) & 1) << ${2 * b + 1}) + (((h16 >> $b) & 1) << ${2 * b})")
      .mkString(" + ")
    s"""WITH e AS (SELECT event_id, epoch_us(ts) AS ts_us, event_type FROM events),
       |b AS (SELECT min(ts_us) AS t0, max(ts_us) AS t1 FROM e),
       |z0 AS (SELECT event_id,
       |         ((ts_us - t0) * 65535) // (t1 - t0) AS t16,
       |         ('0x' || substr(md5(event_type), 1, 4))::BIGINT % 65536 AS h16
       |       FROM e, b),
       |z1 AS (SELECT event_id, t16, h16, $zTerms AS z FROM z0),
       |f AS (SELECT t16, h16,
       |        (row_number() OVER (ORDER BY z, event_id) - 1) // 5000 AS fid
       |      FROM z1)""".stripMargin
  }

  private val zorderOracle: String =
    s"""$zorderCte
       |SELECT CAST(fid AS BIGINT) AS fid, count(*) AS n_rows,
       |  CAST(max(t16) - min(t16) AS BIGINT) AS t_span,
       |  CAST(max(h16) - min(h16) AS BIGINT) AS h_span
       |FROM f GROUP BY 1 ORDER BY 1""".stripMargin

  private val zonemapPruneOracle: String =
    s"""$zorderCte,
       |pr AS (SELECT
       |    (($Day5Us - t0) * 65535) // (t1 - t0) AS tlo,
       |    (($Day6Us - t0) * 65535) // (t1 - t0) AS thi,
       |    ('0x' || substr(md5('view'), 1, 4))::BIGINT % 65536 AS hv
       |  FROM b),
       |zm AS (SELECT fid, count(*) AS n_rows,
       |    min(t16) AS mn_t, max(t16) AS mx_t,
       |    min(h16) AS mn_h, max(h16) AS mx_h,
       |    max(tlo) AS tlo, max(thi) AS thi, max(hv) AS hv,
       |    sum(CASE WHEN t16 BETWEEN tlo AND thi AND h16 = hv
       |        THEN 1 ELSE 0 END) AS n_match
       |  FROM f, pr GROUP BY fid)
       |SELECT count(*) AS n_files,
       |  CAST(sum(CASE WHEN mx_t >= tlo AND mn_t <= thi
       |      AND hv BETWEEN mn_h AND mx_h THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_files_read,
       |  CAST(sum(CASE WHEN mx_t >= tlo AND mn_t <= thi
       |      AND hv BETWEEN mn_h AND mx_h THEN n_rows ELSE 0 END) AS BIGINT)
       |    AS n_rows_scanned,
       |  CAST(sum(n_match) AS BIGINT) AS n_rows_matched
       |FROM zm""".stripMargin

  val oracle: Map[String, String] = Map(
    "key_skew_report" ->
      """WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        |r AS (SELECT cnt,
        |        row_number() OVER (ORDER BY cnt, user_id) AS rk,
        |        row_number() OVER (ORDER BY cnt DESC, user_id DESC) AS rkd
        |      FROM c),
        |a AS (SELECT count(*) AS n_keys, sum(cnt) AS total_rows,
        |        max(cnt) AS max_cnt,
        |        sum(CASE WHEN rkd <= 10 THEN cnt ELSE 0 END) AS top10,
        |        sum(rk * cnt) AS s1
        |      FROM r)
        |SELECT CAST(n_keys AS BIGINT) AS n_keys,
        |  CAST(total_rows AS BIGINT) AS total_rows,
        |  CAST((max_cnt * 1000000) // total_rows AS BIGINT) AS top1_share_ppm,
        |  CAST((top10 * 1000000) // total_rows AS BIGINT) AS top10_share_ppm,
        |  CAST(((2 * s1 - (n_keys + 1) * total_rows) * 1000000)
        |    // (n_keys * total_rows) AS BIGINT) AS gini_ppm
        |FROM a""".stripMargin,
    "zorder_layout" -> zorderOracle,
    "zonemap_prune" -> zonemapPruneOracle,
    "melt_events" ->
      """SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |ORDER BY dataset_id, ts_us, value""".stripMargin,
    // retention deletes whole weekly windows: everything before the
    // Jan-4 window boundary is gone, everything at or after survives
    "store_retention" ->
      """SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |  AND epoch_us(ts) >= 1704326400000000
        |ORDER BY dataset_id, ts_us, value""".stripMargin,
    // after the forget, the 10 s level equals the rollup computed with
    // the deleted series never having existed
    "store_forget" ->
      """SELECT event_type AS dataset_id,
        |  (epoch_us(ts) // 10000000) * 10 AS bucket_s,
        |  min(value) AS min_v, max(value) AS max_v,
        |  round(sum(value), 6) AS sum_v, count(*) AS cnt
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |  AND event_type <> 'view'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // compaction is lossless: the compacted raw table IS the melt
    "store_compact" ->
      """SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |ORDER BY dataset_id, ts_us, value""".stripMargin,
    "melt_lineitem" ->
      """SELECT dataset_id, ts_us, value FROM (
        |  SELECT 'li.l_quantity' AS dataset_id, epoch_us(l_shipdate) AS ts_us,
        |         CAST(l_quantity AS DOUBLE) AS value FROM lineitem
        |  UNION ALL SELECT 'li.l_extendedprice', epoch_us(l_shipdate),
        |         l_extendedprice FROM lineitem
        |  UNION ALL SELECT 'li.l_discount', epoch_us(l_shipdate),
        |         l_discount FROM lineitem)
        |WHERE value IS NOT NULL AND NOT isnan(value)
        |ORDER BY dataset_id, ts_us, value""".stripMargin,
    "rollup_1s" -> rollupSql(1),
    "rollup_10s" -> rollupSql(10),
    "rollup_100s" -> rollupSql(100),
    "rollup_1000s" -> rollupSql(1000),
    "rollup_10000s" -> rollupSql(10000),
    "rollup_100000s" -> rollupSql(100000),
    "rollup_cascade_10s" -> rollupSql(10),
    "ingest_incremental_1s" -> rollupSql(1),
    "rollup_repair" -> rollupSql(10),
    // fsck ≡ each check's audited universe from the events melt:
    // layout_raw audits every raw row, layout_rollup/rollup_unique the
    // whole pyramid (sum of per-level bucket universes), each cascade
    // and the deep raw recount their compared coarse-bucket universe;
    // violations are 0 by the healthy-store contract on BOTH engines
    "store_fsck" ->
      """WITH e AS (SELECT event_type AS d, epoch_us(ts) AS ts_us
        |           FROM events
        |           WHERE value IS NOT NULL AND NOT isnan(value)),
        |b1 AS (SELECT CAST(count(*) AS BIGINT) c FROM
        |  (SELECT DISTINCT d, ts_us // 1000000 FROM e)),
        |b10 AS (SELECT CAST(count(*) AS BIGINT) c FROM
        |  (SELECT DISTINCT d, ts_us // 10000000 FROM e)),
        |b100 AS (SELECT CAST(count(*) AS BIGINT) c FROM
        |  (SELECT DISTINCT d, ts_us // 100000000 FROM e)),
        |b1000 AS (SELECT CAST(count(*) AS BIGINT) c FROM
        |  (SELECT DISTINCT d, ts_us // 1000000000 FROM e)),
        |b10000 AS (SELECT CAST(count(*) AS BIGINT) c FROM
        |  (SELECT DISTINCT d, ts_us // 10000000000 FROM e)),
        |b100000 AS (SELECT CAST(count(*) AS BIGINT) c FROM
        |  (SELECT DISTINCT d, ts_us // 100000000000 FROM e)),
        |nraw AS (SELECT CAST(count(*) AS BIGINT) c FROM e),
        |tot AS (SELECT (SELECT c FROM b1) + (SELECT c FROM b10) +
        |  (SELECT c FROM b100) + (SELECT c FROM b1000) +
        |  (SELECT c FROM b10000) + (SELECT c FROM b100000) AS c)
        |SELECT "check", CAST(0 AS BIGINT) AS violations, audited FROM (
        |  SELECT 'cascade_1000_10000' AS "check",
        |    (SELECT c FROM b10000) AS audited
        |  UNION ALL SELECT 'cascade_100_1000', (SELECT c FROM b1000)
        |  UNION ALL SELECT 'cascade_10000_100000',
        |    (SELECT c FROM b100000)
        |  UNION ALL SELECT 'cascade_10_100', (SELECT c FROM b100)
        |  UNION ALL SELECT 'cascade_1_10', (SELECT c FROM b10)
        |  UNION ALL SELECT 'layout_raw', (SELECT c FROM nraw)
        |  UNION ALL SELECT 'layout_rollup', (SELECT c FROM tot)
        |  UNION ALL SELECT 'raw_1', (SELECT c FROM b1)
        |  UNION ALL SELECT 'rollup_unique', (SELECT c FROM tot)
        |) ORDER BY "check"""".stripMargin,
    "store_fsck_repair" ->
      """WITH e AS (SELECT event_type AS d, epoch_us(ts) AS ts_us
        |           FROM events
        |           WHERE value IS NOT NULL AND NOT isnan(value)),
        |b1 AS (SELECT CAST(count(*) AS BIGINT) c FROM
        |  (SELECT DISTINCT d, ts_us // 1000000 FROM e)),
        |b10 AS (SELECT CAST(count(*) AS BIGINT) c FROM
        |  (SELECT DISTINCT d, ts_us // 10000000 FROM e)),
        |b100 AS (SELECT CAST(count(*) AS BIGINT) c FROM
        |  (SELECT DISTINCT d, ts_us // 100000000 FROM e)),
        |b1000 AS (SELECT CAST(count(*) AS BIGINT) c FROM
        |  (SELECT DISTINCT d, ts_us // 1000000000 FROM e)),
        |b10000 AS (SELECT CAST(count(*) AS BIGINT) c FROM
        |  (SELECT DISTINCT d, ts_us // 10000000000 FROM e)),
        |b100000 AS (SELECT CAST(count(*) AS BIGINT) c FROM
        |  (SELECT DISTINCT d, ts_us // 100000000000 FROM e)),
        |nraw AS (SELECT CAST(count(*) AS BIGINT) c FROM e),
        |tot AS (SELECT (SELECT c FROM b1) + (SELECT c FROM b10) +
        |  (SELECT c FROM b100) + (SELECT c FROM b1000) +
        |  (SELECT c FROM b10000) + (SELECT c FROM b100000) AS c)
        |SELECT phase, "check", violations, audited FROM (
        |  SELECT 'after' AS phase, 'cascade_1000_10000' AS "check",
        |    CAST(0 AS BIGINT) AS violations,
        |    (SELECT c FROM b10000) AS audited
        |  UNION ALL SELECT 'after', 'cascade_100_1000', 0,
        |    (SELECT c FROM b1000)
        |  UNION ALL SELECT 'after', 'cascade_10000_100000', 0,
        |    (SELECT c FROM b100000)
        |  UNION ALL SELECT 'after', 'cascade_10_100', 0,
        |    (SELECT c FROM b100)
        |  UNION ALL SELECT 'after', 'cascade_1_10', 0, (SELECT c FROM b10)
        |  UNION ALL SELECT 'after', 'layout_raw', 0, (SELECT c FROM nraw)
        |  UNION ALL SELECT 'after', 'layout_rollup', 0, (SELECT c FROM tot)
        |  UNION ALL SELECT 'after', 'raw_1', 0, (SELECT c FROM b1)
        |  UNION ALL SELECT 'after', 'rollup_unique', 0, (SELECT c FROM tot)
        |  UNION ALL SELECT 'before', 'cascade_1000_10000', 0,
        |    (SELECT c FROM b10000)
        |  UNION ALL SELECT 'before', 'cascade_100_1000', 0,
        |    (SELECT c FROM b1000)
        |  UNION ALL SELECT 'before', 'cascade_10000_100000', 0,
        |    (SELECT c FROM b100000)
        |  UNION ALL SELECT 'before', 'cascade_10_100', 1,
        |    (SELECT c FROM b100)
        |  UNION ALL SELECT 'before', 'cascade_1_10', 1,
        |    (SELECT c FROM b10) + 2
        |  UNION ALL SELECT 'before', 'layout_raw', 0, (SELECT c FROM nraw)
        |  UNION ALL SELECT 'before', 'layout_rollup', 0,
        |    (SELECT c FROM tot) + 2
        |  UNION ALL SELECT 'before', 'raw_1', 1, (SELECT c FROM b1) + 1
        |  UNION ALL SELECT 'before', 'rollup_unique', 1,
        |    (SELECT c FROM tot) + 1
        |) ORDER BY phase, "check"""".stripMargin,
    "ingest_manifest_1s" -> rollupSql(1),
    // batches are md5-split; as-of version 2 sees batches 0 and 1 only
    "manifest_time_travel" ->
      """SELECT event_type AS dataset_id,
        |  (epoch_us(ts) // 1000000) * 1 AS bucket_s,
        |  min(value) AS min_v, max(value) AS max_v,
        |  round(sum(value), 6) AS sum_v, count(*) AS cnt
        |FROM events
        |WHERE value IS NOT NULL AND NOT isnan(value)
        |  AND ('0x' || substr(md5(event_type || '|' ||
        |        CAST(epoch_us(ts) AS VARCHAR)), 1, 15))::BIGINT % 3 <> 2
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the delta-maintained daily summary must equal the one-shot daily
    // rollup over everything
    "incremental_refresh" ->
      """SELECT event_type AS dataset_id,
        |  (epoch_us(ts) // 86400000000) * 86400 AS day_s,
        |  min(value) AS min_v, max(value) AS max_v,
        |  round(sum(value), 6) AS sum_v, count(*) AS cnt
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // both fan-out states fold to the same per-series truth
    "stream_cdc_fanout" ->
      """SELECT event_type AS dataset_id,
        |  round(sum(value), 6) AS sum_from_summary,
        |  count(*) AS cnt_from_summary,
        |  round(sum(value), 6) AS sum_from_deltas,
        |  count(*) AS cnt_from_deltas
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the stream-maintained summary equals the batch-maintained one
    // equals the one-shot daily rollup
    "stream_cdc_refresh" ->
      """SELECT event_type AS dataset_id,
        |  (epoch_us(ts) // 86400000000) * 86400 AS day_s,
        |  min(value) AS min_v, max(value) AS max_v,
        |  round(sum(value), 6) AS sum_v, count(*) AS cnt
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // WAP: slice 0 publishes clean; slice 1's violations are the rows
    // over the strict bound and its rejection leaves the store at
    // slice-0 rows; the redelivered clean batch dedupes on its key
    "ingest_wap" ->
      """WITH e AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us,
        |    value FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |s AS (SELECT ('0x' || substr(md5(dataset_id || '|' ||
        |    CAST(ts_us AS VARCHAR)), 1, 15))::BIGINT % 3 AS b, value FROM e),
        |c0 AS (SELECT count(*) AS n FROM s WHERE b = 0),
        |v1 AS (SELECT count(*) FILTER (WHERE value > 95) AS viol
        |  FROM s WHERE b = 1)
        |SELECT batch, expectation, violations, published, store_rows
        |FROM (VALUES
        |  ('b1', 'value_le_1000', CAST(0 AS BIGINT), true,
        |    (SELECT n FROM c0)),
        |  ('b1_redelivery', 'value_le_1000', CAST(0 AS BIGINT), false,
        |    (SELECT n FROM c0)),
        |  ('b2', 'value_le_95', (SELECT viol FROM v1), false,
        |    (SELECT n FROM c0))
        |) t(batch, expectation, violations, published, store_rows)
        |ORDER BY 1""".stripMargin,
    // hysteresis fold ≡ last-decisive-event fold: state changes only at
    // versions whose md5-slice mean leaves the dead band AND differs
    // from the previous state; active/since_v/flips all derive from
    // that change sequence
    "stream_cdc_alerts" ->
      """WITH e AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us,
        |    value FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |vm AS (SELECT dataset_id,
        |    ('0x' || substr(md5(dataset_id || '|' ||
        |      CAST(ts_us AS VARCHAR)), 1, 15))::BIGINT % 3 + 1 AS version,
        |    avg(value) AS m
        |  FROM e GROUP BY 1, 2),
        |dec AS (SELECT dataset_id, version, (m >= 50.0) AS dir
        |  FROM vm WHERE m >= 50.0 OR m <= 48.5),
        |seq AS (SELECT dataset_id, version, dir,
        |    coalesce(lag(dir) OVER (PARTITION BY dataset_id
        |      ORDER BY version), false) AS prev
        |  FROM dec),
        |ch AS (SELECT dataset_id, version, dir FROM seq WHERE dir <> prev)
        |SELECT d.dataset_id,
        |  coalesce(max_by(c.dir, c.version), false) AS active,
        |  coalesce(max(c.version), 0) AS since_v,
        |  count(c.version) AS flips
        |FROM (SELECT DISTINCT dataset_id FROM vm) d
        |LEFT JOIN ch c ON d.dataset_id = c.dataset_id
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // net effect of batch 2 (the md5-split bucket b = 2) on the 1 s
    // level: delta keys only, old state from batches 0-1, merged new
    // values — NULL old_* marks buckets born in the window
    "manifest_cdc" ->
      """WITH e AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us,
        |    value FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |hb AS (SELECT dataset_id, ts_us // 1000000 AS bucket_s, value,
        |    ('0x' || substr(md5(dataset_id || '|' ||
        |      CAST(ts_us AS VARCHAR)), 1, 15))::BIGINT % 3 AS b
        |  FROM e),
        |d AS (SELECT dataset_id, bucket_s, min(value) AS d_min,
        |    max(value) AS d_max, sum(value) AS d_sum, count(*) AS d_cnt
        |  FROM hb WHERE b = 2 GROUP BY 1, 2),
        |o AS (SELECT dataset_id, bucket_s, min(value) AS o_min,
        |    max(value) AS o_max, sum(value) AS o_sum, count(*) AS o_cnt
        |  FROM hb WHERE b <> 2 GROUP BY 1, 2)
        |SELECT d.dataset_id, d.bucket_s,
        |  CASE WHEN o.o_cnt IS NULL THEN 'insert' ELSE 'update' END AS op,
        |  o.o_min AS old_min_v, o.o_max AS old_max_v,
        |  round(o.o_sum, 6) AS old_sum_v, o.o_cnt AS old_cnt,
        |  CASE WHEN o.o_cnt IS NULL THEN d.d_min
        |       ELSE least(d.d_min, o.o_min) END AS min_v,
        |  CASE WHEN o.o_cnt IS NULL THEN d.d_max
        |       ELSE greatest(d.d_max, o.o_max) END AS max_v,
        |  round(d.d_sum + coalesce(o.o_sum, 0), 6) AS sum_v,
        |  d.d_cnt + coalesce(o.o_cnt, 0) AS cnt
        |FROM d LEFT JOIN o ON d.dataset_id = o.dataset_id
        |  AND d.bucket_s = o.bucket_s
        |ORDER BY 1, 2""".stripMargin,
    // buckets any md5-split-0 (v1-written) row touches read sumsq NULL;
    // all-v2 buckets read the exact Σv² — the conservative merge rule
    "manifest_schema_evolution" ->
      """WITH e AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us,
        |    value,
        |    ('0x' || substr(md5(event_type || '|' ||
        |      CAST(epoch_us(ts) AS VARCHAR)), 1, 15))::BIGINT % 3 AS b
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value))
        |SELECT dataset_id, ts_us // 1000000 AS bucket_s,
        |  min(value) AS min_v, max(value) AS max_v,
        |  round(sum(value), 6) AS sum_v, count(*) AS cnt,
        |  CASE WHEN count(*) FILTER (WHERE b = 0) > 0 THEN NULL
        |       ELSE round(sum(value * value), 6) END AS sumsq
        |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // both legs of the atomic two-table publish fold to the same truth
    "ingest_atomic_1s" -> rollupSql(1),
    "ingest_atomic_raw_1s" -> rollupSql(1),
    // merged store ≡ one store over every event: the crc32 halves
    // reunite exactly, cross-store buckets folding on read
    "store_merge" -> rollupSql(1),
    // branched-then-diverged ≡ one store over every event: v2's two
    // batches came through the clone, batch 2 through the branch's own
    // ingest
    "store_branch" -> rollupSql(1),
    // each version's visible rows = cumulative md5-split membership,
    // identical on both tables
    "manifest_history" ->
      """WITH e AS (SELECT ('0x' || substr(md5(event_type || '|' ||
        |      CAST(epoch_us(ts) AS VARCHAR)), 1, 15))::BIGINT % 3 AS b
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value))
        |SELECT CAST(v.version AS BIGINT) AS version,
        |  (SELECT count(*) FROM e WHERE b < v.version) AS n_raw,
        |  (SELECT count(*) FROM e WHERE b < v.version) AS n_rollup_pts
        |FROM (VALUES (1), (2), (3)) v(version)
        |ORDER BY 1""".stripMargin,
    // snapshot range read: md5-split batches 0-1, 'view' only, one day
    "manifest_range_asof_10s" ->
      """WITH m AS (SELECT ((SELECT min(epoch_us(ts)) FROM events
        |    WHERE value IS NOT NULL AND NOT isnan(value))
        |    // 1000000 // 86400) * 86400 + 86400 AS st)
        |SELECT event_type AS dataset_id,
        |  (epoch_us(ts) // 10000000) * 10 AS bucket_s,
        |  min(value) AS min_v, max(value) AS max_v,
        |  round(sum(value), 6) AS sum_v, count(*) AS cnt
        |FROM events, m
        |WHERE value IS NOT NULL AND NOT isnan(value)
        |  AND event_type = 'view'
        |  AND ('0x' || substr(md5(event_type || '|' ||
        |        CAST(epoch_us(ts) AS VARCHAR)), 1, 15))::BIGINT % 3 <> 2
        |  AND (epoch_us(ts) // 10000000) * 10 BETWEEN m.st AND m.st + 86400
        |GROUP BY 1, 2 ORDER BY 2""".stripMargin,
    // the raw rows of md5-split batch 2 exactly
    "manifest_cdc_raw" ->
      """SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us,
        |  round(value, 6) AS value
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |  AND ('0x' || substr(md5(event_type || '|' ||
        |        CAST(epoch_us(ts) AS VARCHAR)), 1, 15))::BIGINT % 3 = 2
        |ORDER BY 1, 2, 3""".stripMargin,
    // atomic-store expiry: the 10 s level minus everything before the
    // aligned cutoff (2 coarse windows past the sanitized data start)
    "manifest_retention_10s" ->
      """SELECT event_type AS dataset_id,
        |  (epoch_us(ts) // 10000000) * 10 AS bucket_s,
        |  min(value) AS min_v, max(value) AS max_v,
        |  round(sum(value), 6) AS sum_v, count(*) AS cnt
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |  AND epoch_us(ts) >= 1000000 * (
        |    (SELECT min(epoch_us(ts)) FROM events
        |     WHERE value IS NOT NULL AND NOT isnan(value))
        |    // 100000000000 + 2) * 100000
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // atomic-store series delete: the 10 s level minus the series
    "manifest_forget_10s" ->
      """SELECT event_type AS dataset_id,
        |  (epoch_us(ts) // 10000000) * 10 AS bucket_s,
        |  min(value) AS min_v, max(value) AS max_v,
        |  round(sum(value), 6) AS sum_v, count(*) AS cnt
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |  AND event_type <> 'view'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "stream_ingest_1s" -> rollupSql(1),
    // the exactly-once manifest replay must equal the one-shot rollup
    "stream_manifest_1s" -> rollupSql(1),
    // the atomic two-table streaming sink's rollup leg, same truth
    "stream_atomic_1s" -> rollupSql(1),
    // every 10 s window is below the sentinel-advanced watermark, so the
    // streamed append-mode output must equal the one-shot batch rollup
    "stream_window_10s" -> rollupSql(10),
    // the streamed per-window grid must equal the batch grid (order-
    // free integer sums), so the extracted quantiles match exactly
    "stream_quantile_60s" ->
      """WITH e AS (SELECT epoch_us(ts) AS ts_us, value FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)),
        |g AS (SELECT (ts_us // 60000000) * 60 AS bucket_s,
        |    least(255, greatest(0,
        |      CAST(floor((value - 0.0) / 600.0 * 256) AS INT))) AS bucket,
        |    count(*) AS cnt
        |  FROM e GROUP BY 1, 2),
        |mm AS (SELECT bucket_s, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM g GROUP BY 1),
        |cum AS (SELECT bucket_s, bucket,
        |    CAST(sum(cnt) OVER (PARTITION BY bucket_s ORDER BY bucket)
        |      AS BIGINT) AS cum
        |  FROM g),
        |pr AS (SELECT CAST(unnest([0.5, 0.95]) AS DOUBLE) AS p),
        |r AS (SELECT mm.bucket_s, p,
        |    greatest(1, CAST(ceil(p * n) AS BIGINT)) AS rank FROM mm, pr),
        |sel AS (SELECT r.bucket_s, r.p, r.rank, min(bucket) AS bucket
        |  FROM r JOIN cum ON cum.bucket_s = r.bucket_s AND cum.cum >= r.rank
        |  GROUP BY 1, 2, 3)
        |SELECT bucket_s, p, rank, CAST(bucket AS BIGINT) AS bucket,
        |  round(0.0 + bucket * 600.0 / 256, 6) AS est
        |FROM sel ORDER BY bucket_s, p""".stripMargin,
    // a bounded replay through the symmetric hash join must produce
    // exactly the batch per-user interval join
    "stream_join_3000s" ->
      """WITH p AS (SELECT event_id AS p_id, user_id, epoch_us(ts) AS p_us
        |           FROM events WHERE event_type = 'purchase'),
        |v AS (SELECT user_id, epoch_us(ts) AS v_us
        |      FROM events WHERE event_type = 'view')
        |SELECT p.p_id, count(*) AS n_views_3000s,
        |  min(abs(p.p_us - v.v_us)) AS min_gap_us
        |FROM p JOIN v ON p.user_id = v.user_id
        |             AND abs(p.p_us - v.v_us) <= 3000000000
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // identical to the batch user_sessions oracle: the streamed
    // flatMapGroupsWithState sessionizer must reproduce the one-shot
    // gaps-and-islands result exactly
    "stream_sessions" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |d AS (
        |  SELECT user_id, ts_us,
        |    CASE WHEN lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us) IS NULL
        |           OR ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
        |              > 1800000000
        |         THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |s AS (
        |  SELECT user_id, ts_us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
        |                     ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM d)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, min(ts_us) AS start_us, max(ts_us) AS end_us
        |FROM s GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "comments_crud" ->
      """WITH base AS (
        |  SELECT event_id AS id, epoch_us(ts) AS date_us, props AS text
        |  FROM events WHERE event_type = 'signup'
        |  ORDER BY event_id LIMIT 6),
        |mut AS (
        |  SELECT id,
        |    CASE WHEN id % 3 = 0 THEN date_us + 1000000 ELSE date_us END AS date_us,
        |    CASE WHEN id % 3 = 0 THEN 'upd:' || text ELSE text END AS text
        |  FROM base WHERE id % 5 <> 0)
        |SELECT id, date_us, text FROM mut ORDER BY date_us, id""".stripMargin,
    "self_metrics" ->
      s"""SELECT dataset_id, ts_us, value FROM (
         |  SELECT 'index.num_gets' AS dataset_id, $Day6Us AS ts_us,
         |    CAST(2.0 AS DOUBLE) AS value
         |  UNION ALL
         |  SELECT 'index.num_puts', $Day6Us, CAST(3.0 AS DOUBLE))
         |ORDER BY dataset_id""".stripMargin,
    "ingest_dedup_1s" ->
      """SELECT dataset_id, ts_us // 1000000 AS bucket_s,
        |  min(value) AS min_v, max(value) AS max_v,
        |  round(sum(value), 6) AS sum_v, count(*) AS cnt
        |FROM (
        |  SELECT DISTINCT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value))
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "multi_series_wide" ->
      """SELECT (epoch_us(ts) // 1000000000) * 1000 AS bucket_s,
        |  round(avg(CASE WHEN event_type = 'click' THEN value END), 6) AS click_mean,
        |  round(avg(CASE WHEN event_type = 'error' THEN value END), 6) AS error_mean,
        |  round(avg(CASE WHEN event_type = 'purchase' THEN value END), 6) AS purchase_mean,
        |  round(avg(CASE WHEN event_type = 'signup' THEN value END), 6) AS signup_mean,
        |  round(avg(CASE WHEN event_type = 'view' THEN value END), 6) AS view_mean
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "value_stats" ->
      """SELECT event_type AS dataset_id,
        |  round(stddev_samp(value), 6) AS sd,
        |  round(quantile_cont(value, 0.5), 6) AS p50,
        |  round(quantile_cont(value, 0.95), 6) AS p95
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "series_mad_outliers" ->
      """WITH v AS (
        |  SELECT event_type AS dataset_id,
        |    CAST(round(value * 1e6) AS BIGINT) AS v_ppm
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |m AS (SELECT dataset_id, CAST(median(v_ppm) AS DOUBLE) AS med
        |      FROM v GROUP BY 1),
        |d AS (SELECT v.dataset_id, med,
        |        abs(CAST(v_ppm AS DOUBLE) - med) AS dev
        |      FROM v JOIN m USING (dataset_id)),
        |md AS (SELECT dataset_id, CAST(median(dev) AS DOUBLE) AS mad
        |       FROM d GROUP BY 1)
        |SELECT d.dataset_id, count(*) AS n, med, mad,
        |  CAST(count(*) FILTER (dev > 3.0 * mad) AS BIGINT) AS n_outliers,
        |  max(dev) AS max_dev
        |FROM d JOIN md USING (dataset_id)
        |GROUP BY 1, 3, 4 ORDER BY 1""".stripMargin,
    "series_rate_10s" ->
      """WITH r AS (
        |  SELECT event_type AS dataset_id,
        |    (epoch_us(ts) // 10000000) * 10 AS bucket_s,
        |    round(sum(value) / count(*), 6) AS mean_v
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1, 2),
        |d AS (
        |  SELECT dataset_id, bucket_s, mean_v,
        |    lag(bucket_s) OVER (PARTITION BY dataset_id ORDER BY bucket_s) AS pb,
        |    lag(mean_v) OVER (PARTITION BY dataset_id ORDER BY bucket_s) AS pm
        |  FROM r)
        |SELECT dataset_id, bucket_s,
        |  CAST(round((mean_v - pm) * 1e6) AS BIGINT)::DOUBLE
        |    / (bucket_s - pb) AS rate_ppm_per_s
        |FROM d WHERE pb IS NOT NULL ORDER BY 1, 2""".stripMargin,
    "csv_roundtrip" ->
      """WITH l AS (
        |  SELECT event_type AS dataset_id,
        |    epoch_us(ts)::VARCHAR || ',' || value::VARCHAR AS line
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value))
        |SELECT dataset_id,
        |  CAST(len(string_split(line, ',')) AS BIGINT) AS n_fields,
        |  string_split(line, ',')[1]::BIGINT AS ts_us,
        |  string_split(line, ',')[2]::DOUBLE AS value
        |FROM l ORDER BY dataset_id, ts_us, value""".stripMargin,
    "range_quantiles" ->
      """WITH v AS (SELECT event_type AS dataset_id, value FROM events
        |           WHERE value IS NOT NULL AND NOT isnan(value)),
        |r AS (SELECT dataset_id, value,
        |        row_number() OVER (PARTITION BY dataset_id ORDER BY value) AS r,
        |        count(*) OVER (PARTITION BY dataset_id) AS n FROM v),
        |p AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS p)
        |SELECT dataset_id, p, round(value, 6) AS q FROM r, p
        |WHERE r = greatest(1, CAST(ceil(p * n) AS BIGINT))
        |ORDER BY dataset_id, p""".stripMargin,
    "counter_rate_100s" ->
      """WITH v AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
        |           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |l AS (SELECT dataset_id, ts_us, value,
        |        lag(value) OVER (PARTITION BY dataset_id ORDER BY ts_us, value) AS prev
        |      FROM v),
        |i AS (SELECT dataset_id, ts_us,
        |        CASE WHEN prev IS NULL THEN 0.0
        |             WHEN value >= prev THEN value - prev
        |             ELSE value END AS inc FROM l)
        |SELECT dataset_id, (ts_us // 100000000) * 100 AS bucket_s,
        |  CAST(sum(CAST(round(inc * 1000000) AS BIGINT)) AS DOUBLE) / 1000000.0
        |    AS sum_inc,
        |  count(*) AS cnt
        |FROM i GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "series_fill_100s" ->
      """WITH v AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
        |           FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |r AS (SELECT dataset_id, ts_us // 100000000 AS b,
        |        CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
        |          / (CAST(count(*) AS DOUBLE) * 1000000.0) AS v_obs
        |      FROM v GROUP BY 1, 2),
        |g AS (SELECT dataset_id, unnest(range(min(b), max(b) + 1)) AS b
        |      FROM r GROUP BY dataset_id),
        |j AS (SELECT g.dataset_id, g.b, r.v_obs
        |      FROM g LEFT JOIN r USING (dataset_id, b)),
        |w AS (SELECT dataset_id, b, v_obs,
        |        last_value(v_obs IGNORE NULLS) OVER pw AS pv,
        |        last_value(CASE WHEN v_obs IS NOT NULL THEN b END IGNORE NULLS)
        |          OVER pw AS pb,
        |        first_value(v_obs IGNORE NULLS) OVER nw AS nv,
        |        first_value(CASE WHEN v_obs IS NOT NULL THEN b END IGNORE NULLS)
        |          OVER nw AS nb
        |      FROM j
        |      WINDOW pw AS (PARTITION BY dataset_id ORDER BY b
        |                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |           nw AS (PARTITION BY dataset_id ORDER BY b
        |                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT dataset_id, b * 100 AS bucket_s,
        |  CASE WHEN v_obs IS NOT NULL THEN v_obs
        |       ELSE pv + (nv - pv) *
        |            (CAST(b - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE)) END AS v,
        |  v_obs IS NULL AS filled
        |FROM w ORDER BY 1, 2""".stripMargin,
    "series_ewma_100s" ->
      s"""WITH RECURSIVE
         |v AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |        AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |r AS (SELECT dataset_id, (ts_us // 100000000) * 100 AS bucket_s,
         |        CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
         |          / (CAST(count(*) AS DOUBLE) * 1000000.0) AS v
         |      FROM v GROUP BY 1, 2),
         |idx AS (SELECT dataset_id, bucket_s, v,
         |          row_number() OVER (PARTITION BY dataset_id
         |                             ORDER BY bucket_s) AS i
         |        FROM r),
         |e AS (
         |  SELECT dataset_id, i, bucket_s, v AS s FROM idx WHERE i = 1
         |  UNION ALL
         |  SELECT n.dataset_id, n.i, n.bucket_s, 0.25 * n.v + 0.75 * e.s
         |  FROM e JOIN idx n
         |    ON n.dataset_id = e.dataset_id AND n.i = e.i + 1)
         |SELECT dataset_id, bucket_s, s AS ewma
         |FROM e ORDER BY 1, 2""".stripMargin,
    // Holt: the same recursive-CTE recurrence with TWO state columns;
    // the trend term re-spells the new level expression inline (same
    // operands, same IEEE order → bit-identical to the engine's
    // two-step update)
    "series_holt_100s" ->
      s"""WITH RECURSIVE
         |v AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |        AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |r AS (SELECT dataset_id, (ts_us // 100000000) * 100 AS bucket_s,
         |        CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
         |          / (CAST(count(*) AS DOUBLE) * 1000000.0) AS v
         |      FROM v GROUP BY 1, 2),
         |idx AS (SELECT dataset_id, bucket_s, v,
         |          row_number() OVER (PARTITION BY dataset_id
         |                             ORDER BY bucket_s) AS i
         |        FROM r),
         |e AS (
         |  SELECT dataset_id, i, bucket_s, v AS s, CAST(0.0 AS DOUBLE) AS t
         |  FROM idx WHERE i = 1
         |  UNION ALL
         |  SELECT n.dataset_id, n.i, n.bucket_s,
         |    0.5 * n.v + 0.5 * (e.s + e.t),
         |    0.25 * ((0.5 * n.v + 0.5 * (e.s + e.t)) - e.s) + 0.75 * e.t
         |  FROM e JOIN idx n
         |    ON n.dataset_id = e.dataset_id AND n.i = e.i + 1)
         |SELECT dataset_id, bucket_s, s AS level, t AS trend,
         |  s + t AS forecast
         |FROM e ORDER BY 1, 2""".stripMargin,
    "stream_drift" ->
      s"""WITH v5 AS (
         |  SELECT event_type AS dataset_id,
         |    CAST(round(value * 1000000) AS BIGINT) AS ppm
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |    AND epoch_us(ts) >= $Day5Us AND epoch_us(ts) < $Day6Us),
         |mm AS (SELECT dataset_id, min(ppm) AS mn, max(ppm) AS mx
         |       FROM v5 GROUP BY 1),
         |bc AS (SELECT v5.dataset_id,
         |    greatest(0, least(9, ((ppm - mn) * 10) // (mx - mn + 1)))
         |      AS band, count(*) AS c5
         |  FROM v5 JOIN mm USING (dataset_id) GROUP BY 1, 2),
         |n5 AS (SELECT dataset_id, CAST(sum(c5) AS BIGINT) AS n5
         |       FROM bc GROUP BY 1),
         |grid AS (SELECT m.dataset_id, n5.n5,
         |    unnest(generate_series(0, 9)) AS band
         |  FROM mm m JOIN n5 USING (dataset_id)),
         |base AS (SELECT g.dataset_id, g.band, g.n5,
         |    coalesce(bc.c5, 0) AS c5
         |  FROM grid g LEFT JOIN bc
         |    ON bc.dataset_id = g.dataset_id AND bc.band = g.band),
         |v6 AS (SELECT event_type AS dataset_id,
         |    CAST(round(value * 1000000) AS BIGINT) AS ppm,
         |    (epoch_us(ts) - $Day6Us) // 28800000000 AS batch_no
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |    AND epoch_us(ts) >= $Day6Us
         |    AND epoch_us(ts) < ${Day6Us + 3L * 28800000000L}),
         |cb AS (SELECT v6.dataset_id, batch_no,
         |    greatest(0, least(9, ((ppm - mn) * 10) // (mx - mn + 1)))
         |      AS band, count(*) AS cb
         |  FROM v6 JOIN mm USING (dataset_id) GROUP BY 1, 2, 3),
         |nb AS (SELECT dataset_id, batch_no, CAST(sum(cb) AS BIGINT) AS nb
         |       FROM cb GROUP BY 1, 2),
         |bg AS (SELECT b.dataset_id, k.g AS batch_no, b.band, b.n5, b.c5
         |  FROM base b, generate_series(0, 2) k(g)),
         |j AS (SELECT bg.dataset_id, bg.batch_no, bg.band, bg.n5, bg.c5,
         |    coalesce(cb.cb, 0) AS cb, coalesce(nb.nb, 0) AS nb
         |  FROM bg
         |  LEFT JOIN cb ON cb.dataset_id = bg.dataset_id
         |    AND cb.batch_no = bg.batch_no AND cb.band = bg.band
         |  LEFT JOIN nb ON nb.dataset_id = bg.dataset_id
         |    AND nb.batch_no = bg.batch_no),
         |terms AS (SELECT dataset_id, batch_no, nb,
         |    CAST(round((CAST(c5 + 1 AS DOUBLE) / (n5 + 10) -
         |                CAST(cb + 1 AS DOUBLE) / (nb + 10)) *
         |      ln((CAST(c5 + 1 AS DOUBLE) / (n5 + 10)) /
         |         (CAST(cb + 1 AS DOUBLE) / (nb + 10))) * 1000000)
         |      AS BIGINT) AS term_ppm
         |  FROM j)
         |SELECT batch_no, dataset_id, max(nb) AS n_batch,
         |  CAST(sum(term_ppm) AS BIGINT) AS psi_ppm
         |FROM terms GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "decayed_counts" ->
      s"""SELECT event_type AS dataset_id, count(*) AS n,
         |  CAST(sum(CAST(round(pow(2.0,
         |    CAST(epoch_us(ts) - $Day6Us AS DOUBLE) / 21600000000)
         |    * 1000000) AS BIGINT)) AS BIGINT) AS decayed_ppm
         |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |  AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us
         |GROUP BY 1 ORDER BY decayed_ppm DESC, dataset_id""".stripMargin,
    "series_interarrival" ->
      s"""WITH v AS (
         |  SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |    AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |g AS (SELECT dataset_id, ts_us,
         |    ts_us - lag(ts_us, 1) OVER (PARTITION BY dataset_id
         |                                ORDER BY ts_us) AS gap_us
         |  FROM v),
         |f AS (SELECT dataset_id, ts_us, gap_us FROM g
         |      WHERE gap_us IS NOT NULL),
         |r AS (SELECT dataset_id, gap_us,
         |    row_number() OVER (PARTITION BY dataset_id
         |                       ORDER BY gap_us, ts_us) AS rk,
         |    count(*) OVER (PARTITION BY dataset_id) AS nn
         |  FROM f)
         |SELECT dataset_id, count(*) AS n_gaps,
         |  max(CASE WHEN rk = (nn + 1) // 2 THEN gap_us END) AS p50_gap_us,
         |  max(CASE WHEN rk = (nn * 95 + 99) // 100 THEN gap_us END)
         |    AS p95_gap_us,
         |  max(gap_us) AS max_gap_us
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "series_latest" ->
      """SELECT dataset_id, ts_us, value FROM (
        |  SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY epoch_us(ts) DESC, value DESC) AS rn
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value))
        |WHERE rn = 1 ORDER BY 1""".stripMargin,
    "series_uptime_ppm" ->
      s"""SELECT event_type AS dataset_id,
         |  count(DISTINCT epoch_us(ts) // 1000000) AS n_buckets,
         |  (1000000 * count(DISTINCT epoch_us(ts) // 1000000)) // 86400
         |    AS uptime_ppm
         |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |  AND epoch_us(ts) >= $Day5Us AND epoch_us(ts) < $Day6Us
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "series_heatmap_1000s" ->
      s"""WITH v AS (
         |  SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |    AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |p AS (SELECT dataset_id, (ts_us // 1000000000) * 1000 AS t_s,
         |    CAST(round(value * 1000000) AS BIGINT) AS ppm FROM v),
         |mm AS (SELECT dataset_id, min(ppm) AS mn, max(ppm) AS mx
         |       FROM p GROUP BY 1)
         |SELECT p.dataset_id, p.t_s,
         |  least(9, ((p.ppm - mm.mn) * 10) // (mm.mx - mm.mn + 1)) AS band,
         |  count(*) AS n
         |FROM p JOIN mm USING (dataset_id)
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,
    "stream_excursions" ->
      s"""WITH v AS (
         |  SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us,
         |    CAST(round(value * 1000000) AS BIGINT) AS ppm
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |    AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |t AS (SELECT dataset_id,
         |    CAST(round(CAST(sum(ppm) AS DOUBLE) / count(*)) AS BIGINT)
         |      AS thr
         |  FROM v GROUP BY 1),
         |f AS (SELECT v.dataset_id, ts_us, ppm, thr,
         |    sum(CASE WHEN ppm > thr THEN 0 ELSE 1 END)
         |      OVER (PARTITION BY v.dataset_id ORDER BY ts_us
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS grp
         |  FROM v JOIN t USING (dataset_id))
         |SELECT dataset_id, min(ts_us) AS start_us, max(ts_us) AS end_us,
         |  count(*) AS n_points, max(ppm) AS peak_ppm
         |FROM f WHERE ppm > thr GROUP BY dataset_id, grp
         |ORDER BY 1, 2""".stripMargin,
    "series_excursions_100s" ->
      s"""WITH v AS (
         |  SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |    AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |b AS (SELECT dataset_id, (ts_us // 100000000) * 100 AS bucket_s,
         |    CAST(round(CAST(sum(CAST(round(value * 1000000) AS BIGINT))
         |        AS DOUBLE) / count(*)) AS BIGINT) AS mean_ppm
         |  FROM v GROUP BY 1, 2),
         |t AS (SELECT dataset_id, bucket_s, mean_ppm,
         |    CAST(round(CAST(sum(mean_ppm) OVER (PARTITION BY dataset_id)
         |        AS DOUBLE) / count(*) OVER (PARTITION BY dataset_id))
         |      AS BIGINT) AS thr_ppm
         |  FROM b),
         |f AS (SELECT dataset_id, bucket_s, mean_ppm,
         |    mean_ppm > thr_ppm AS flag,
         |    sum(CASE WHEN mean_ppm > thr_ppm THEN 0 ELSE 1 END)
         |      OVER (PARTITION BY dataset_id ORDER BY bucket_s
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
         |  FROM t)
         |SELECT dataset_id, min(bucket_s) AS start_s, max(bucket_s) AS end_s,
         |  count(*) AS n_buckets, max(mean_ppm) AS peak_ppm
         |FROM f WHERE flag GROUP BY dataset_id, grp
         |ORDER BY 1, 2""".stripMargin,
    "series_holt_backtest_100s" ->
      s"""WITH RECURSIVE
         |v AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |        AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |r AS (SELECT dataset_id, (ts_us // 100000000) * 100 AS bucket_s,
         |        CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
         |          / (CAST(count(*) AS DOUBLE) * 1000000.0) AS v
         |      FROM v GROUP BY 1, 2),
         |idx AS (SELECT dataset_id, bucket_s, v,
         |          row_number() OVER (PARTITION BY dataset_id
         |                             ORDER BY bucket_s) AS i
         |        FROM r),
         |e AS (
         |  SELECT dataset_id, i, bucket_s, v AS s, CAST(0.0 AS DOUBLE) AS t
         |  FROM idx WHERE i = 1
         |  UNION ALL
         |  SELECT n.dataset_id, n.i, n.bucket_s,
         |    0.5 * n.v + 0.5 * (e.s + e.t),
         |    0.25 * ((0.5 * n.v + 0.5 * (e.s + e.t)) - e.s) + 0.75 * e.t
         |  FROM e JOIN idx n
         |    ON n.dataset_id = e.dataset_id AND n.i = e.i + 1),
         |err AS (
         |  SELECT e.dataset_id,
         |    CAST(round((n2.v - (e.s + e.t)) * 1000000) AS BIGINT)
         |      AS err_ppm
         |  FROM e JOIN idx n2
         |    ON n2.dataset_id = e.dataset_id AND n2.i = e.i + 1)
         |SELECT dataset_id, count(*) AS n,
         |  CAST(round(CAST(sum(abs(err_ppm)) AS DOUBLE) / count(*))
         |    AS BIGINT) AS mae_ppm,
         |  CAST(round(CAST(sum(err_ppm) AS DOUBLE) / count(*))
         |    AS BIGINT) AS bias_ppm
         |FROM err GROUP BY 1 ORDER BY 1""".stripMargin,
    "value_drift_psi" ->
      s"""WITH v AS (
         |  SELECT event_type AS dataset_id,
         |    CAST(round(value * 1000000) AS BIGINT) AS ppm,
         |    CASE WHEN epoch_us(ts) >= $Day6Us THEN 1 ELSE 0 END AS day
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |    AND epoch_us(ts) >= $Day5Us
         |    AND epoch_us(ts) < ${(Day6S + 86400L) * 1000000L}),
         |mm AS (SELECT dataset_id, min(ppm) AS mn, max(ppm) AS mx
         |       FROM v GROUP BY 1),
         |banded AS (SELECT v.dataset_id, day,
         |    least(9, ((ppm - mn) * 10) // (mx - mn + 1)) AS band
         |  FROM v JOIN mm USING (dataset_id)),
         |counts AS (SELECT dataset_id, band,
         |    count(*) FILTER (day = 0) AS c5,
         |    count(*) FILTER (day = 1) AS c6
         |  FROM banded GROUP BY 1, 2),
         |tot AS (SELECT dataset_id, CAST(sum(c5) AS BIGINT) AS n5,
         |    CAST(sum(c6) AS BIGINT) AS n6 FROM counts GROUP BY 1),
         |grid AS (SELECT dataset_id, n5, n6,
         |    unnest(generate_series(0, 9)) AS band FROM tot),
         |j AS (SELECT g.dataset_id, g.n5, g.n6, g.band,
         |    coalesce(c.c5, 0) AS c5, coalesce(c.c6, 0) AS c6
         |  FROM grid g LEFT JOIN counts c
         |    ON c.dataset_id = g.dataset_id AND c.band = g.band),
         |terms AS (SELECT dataset_id, n5, n6,
         |    CAST(round((CAST(c5 + 1 AS DOUBLE) / (n5 + 10) -
         |                CAST(c6 + 1 AS DOUBLE) / (n6 + 10)) *
         |      ln((CAST(c5 + 1 AS DOUBLE) / (n5 + 10)) /
         |         (CAST(c6 + 1 AS DOUBLE) / (n6 + 10))) * 1000000)
         |      AS BIGINT) AS term_ppm
         |  FROM j)
         |SELECT dataset_id, CAST(sum(term_ppm) AS BIGINT) AS psi_ppm,
         |  max(n5) AS n_base, max(n6) AS n_cur
         |FROM terms GROUP BY 1 ORDER BY 1""".stripMargin,
    "series_lag_features_100s" ->
      s"""WITH v AS (
         |  SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |    AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |b AS (SELECT dataset_id, (ts_us // 100000000) * 100 AS bucket_s,
         |    CAST(round(CAST(sum(CAST(round(value * 1000000) AS BIGINT))
         |        AS DOUBLE) / count(*)) AS BIGINT) AS y_ppm
         |  FROM v GROUP BY 1, 2),
         |f AS (SELECT dataset_id, bucket_s, y_ppm,
         |    lag(y_ppm, 1) OVER w AS lag1_ppm,
         |    lag(y_ppm, 2) OVER w AS lag2_ppm
         |  FROM b WINDOW w AS (PARTITION BY dataset_id ORDER BY bucket_s))
         |SELECT dataset_id, bucket_s, y_ppm, lag1_ppm, lag2_ppm,
         |  CAST(round(CAST(y_ppm + lag1_ppm + lag2_ppm AS DOUBLE) / 3.0)
         |    AS BIGINT) AS roll3_ppm,
         |  y_ppm - lag1_ppm AS delta_ppm
         |FROM f WHERE lag2_ppm IS NOT NULL
         |ORDER BY 1, 2""".stripMargin,
    "series_despike_100s" ->
      s"""WITH v AS (
         |  SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |    AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |b AS (SELECT dataset_id, (ts_us // 100000000) * 100 AS bucket_s,
         |    CAST(round(CAST(sum(CAST(round(value * 1000000) AS BIGINT))
         |        AS DOUBLE) / count(*)) AS BIGINT) AS mean_ppm
         |  FROM v GROUP BY 1, 2),
         |w AS (SELECT dataset_id, bucket_s, mean_ppm,
         |    list_sort(list(mean_ppm) OVER (PARTITION BY dataset_id
         |      ORDER BY bucket_s
         |      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)) AS win
         |  FROM b),
         |m AS (SELECT dataset_id, bucket_s, mean_ppm,
         |    win[(len(win) + 1) // 2] AS med_ppm FROM w)
         |SELECT dataset_id, bucket_s, mean_ppm, med_ppm,
         |  abs(mean_ppm - med_ppm) * 5 > abs(med_ppm) AS is_spike,
         |  CASE WHEN abs(mean_ppm - med_ppm) * 5 > abs(med_ppm)
         |       THEN med_ppm ELSE mean_ppm END AS despiked_ppm
         |FROM m ORDER BY 1, 2""".stripMargin,
    // LTTB: the sequential pick recurses over buckets with a LATERAL
    // argmax per step; areas are exact HUGEINT (µs × ppm) mirroring the
    // engine's BigInt, ties broken toward the smallest (ts, value).
    "lttb_downsample" ->
      s"""WITH RECURSIVE
         |v AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |        AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |pts AS (SELECT dataset_id, ts_us, value,
         |         ts_us - $Day5Us AS x,
         |         CAST(round(value * 1000000) AS BIGINT) AS y,
         |         row_number() OVER (PARTITION BY dataset_id
         |                            ORDER BY ts_us, value) - 1 AS i,
         |         count(*) OVER (PARTITION BY dataset_id) AS n
         |       FROM v),
         |small AS (SELECT dataset_id, ts_us, value FROM pts WHERE n <= 60),
         |big AS (SELECT * FROM pts WHERE n > 60),
         |cand AS (SELECT dataset_id, ts_us, value, x, y,
         |           ((i - 1) * 58) // (n - 2) AS j
         |         FROM big WHERE i BETWEEN 1 AND n - 2),
         |cent AS (
         |  SELECT dataset_id, j - 1 AS j, sum(x) AS sx, sum(y) AS sy,
         |         count(*) AS nc
         |  FROM cand WHERE j >= 1 GROUP BY dataset_id, j
         |  UNION ALL
         |  SELECT dataset_id, 57 AS j, x AS sx, y AS sy, 1 AS nc
         |  FROM big WHERE i = n - 1),
         |sel AS (
         |  SELECT dataset_id, -1 AS j, ts_us, value, x, y FROM big WHERE i = 0
         |  UNION ALL
         |  SELECT s.dataset_id, s.j + 1, c.ts_us, c.value, c.x, c.y
         |  FROM sel s, LATERAL (
         |    SELECT p2.ts_us, p2.value, p2.x, p2.y
         |    FROM cand p2, cent ct
         |    WHERE p2.dataset_id = s.dataset_id AND p2.j = s.j + 1
         |      AND ct.dataset_id = s.dataset_id AND ct.j = s.j + 1
         |    ORDER BY abs((ct.nc * s.x - ct.sx)::HUGEINT * (p2.y - s.y)::HUGEINT
         |               - (s.x - p2.x)::HUGEINT * (ct.sy - ct.nc * s.y)::HUGEINT)
         |             DESC, p2.x, p2.value
         |    LIMIT 1) c
         |  WHERE s.j + 1 <= 57)
         |SELECT dataset_id, ts_us, value FROM (
         |  SELECT dataset_id, ts_us, value FROM small
         |  UNION ALL SELECT dataset_id, ts_us, value FROM sel
         |  UNION ALL SELECT dataset_id, ts_us, value FROM big WHERE i = n - 1)
         |ORDER BY dataset_id, ts_us, value""".stripMargin,
    "m4_downsample" ->
      s"""WITH v AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |           FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |             AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |b AS (SELECT dataset_id,
         |        least(((ts_us - $Day5Us) * 480) // ${Day6Us - Day5Us}, 479) AS k,
         |        ts_us, value FROM v)
         |SELECT dataset_id, k, min(value) AS min_v, max(value) AS max_v,
         |  (min(struct_pack(t := ts_us, v := value))).t AS first_ts,
         |  (min(struct_pack(t := ts_us, v := value))).v AS first_v,
         |  (max(struct_pack(t := ts_us, v := value))).t AS last_ts,
         |  (max(struct_pack(t := ts_us, v := value))).v AS last_v
         |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "series_anomaly_100s" ->
      """WITH r AS (
        |  SELECT event_type AS dataset_id,
        |    (epoch_us(ts) // 100000000) * 100 AS bucket_s,
        |    round(sum(value) / count(*), 6) AS m
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1, 2),
        |w AS (
        |  SELECT dataset_id, bucket_s, m,
        |    CAST(count(m) OVER fr AS DOUBLE) AS n,
        |    sum(m) OVER fr AS s1,
        |    sum(m * m) OVER fr AS s2
        |  FROM r
        |  WINDOW fr AS (PARTITION BY dataset_id ORDER BY bucket_s
        |                ROWS BETWEEN 12 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT dataset_id, bucket_s, m, n, round(s1 / n, 6) AS mu,
        |    round(sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)), 6) AS sd
        |  FROM w WHERE n >= 6)
        |SELECT dataset_id, bucket_s, m, round((m - mu) / sd, 6) AS z
        |FROM z WHERE sd > 0 AND abs(m - mu) > 3 * sd
        |ORDER BY 1, 2""".stripMargin,
    "series_gaps_1000s" ->
      """WITH r AS (
        |  SELECT DISTINCT event_type AS dataset_id,
        |    (epoch_us(ts) // 1000000000) * 1000 AS bucket_s
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)),
        |d AS (
        |  SELECT dataset_id, bucket_s,
        |    lag(bucket_s) OVER (PARTITION BY dataset_id ORDER BY bucket_s) AS pb
        |  FROM r)
        |SELECT dataset_id, pb AS gap_start_s, bucket_s AS gap_end_s,
        |  (bucket_s - pb) // 1000 - 1 AS n_missing
        |FROM d WHERE pb IS NOT NULL AND bucket_s - pb > 1000
        |ORDER BY 1, 2""".stripMargin,
    "series_corr_100s" ->
      """WITH r AS (
        |  SELECT event_type AS dataset_id,
        |    (epoch_us(ts) // 100000000) * 100 AS bucket_s,
        |    round(sum(value) / count(*), 6) AS m
        |  FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)
        |    AND event_type IN ('view', 'click')
        |  GROUP BY 1, 2),
        |j AS (
        |  SELECT x.m AS x, y.m AS y
        |  FROM (SELECT bucket_s, m FROM r WHERE dataset_id = 'view') x
        |  JOIN (SELECT bucket_s, m FROM r WHERE dataset_id = 'click') y
        |    USING (bucket_s)),
        |s AS (
        |  SELECT CAST(count(*) AS DOUBLE) AS n,
        |    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |    sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM j)
        |SELECT CAST(n AS BIGINT) AS n_buckets,
        |  round((n * sxy - sx * sy) /
        |        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr
        |FROM s""".stripMargin,
    "series_similarity_100s" ->
      """WITH r0 AS (
        |  SELECT event_type AS dataset_id,
        |    (epoch_us(ts) // 100000000) * 100 AS bucket_s,
        |    round(sum(value) / count(*), 6) AS m
        |  FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT a.dataset_id AS a, b.dataset_id AS b,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    sum(a.m) AS sx, sum(b.m) AS sy, sum(a.m * b.m) AS sxy,
        |    sum(a.m * a.m) AS sxx, sum(b.m * b.m) AS syy
        |  FROM r0 a JOIN r0 b USING (bucket_s)
        |  WHERE a.dataset_id <> b.dataset_id
        |  GROUP BY 1, 2),
        |c AS (
        |  SELECT a, b,
        |    round((n * sxy - sx * sy) /
        |          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS r
        |  FROM p
        |  WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0),
        |k AS (SELECT a, b, r,
        |        row_number() OVER (PARTITION BY a ORDER BY r DESC, b) AS rank
        |      FROM c)
        |SELECT a AS dataset_id, b AS neighbor, r, CAST(rank AS BIGINT) AS rank
        |FROM k WHERE rank <= 3 ORDER BY dataset_id, rank""".stripMargin,
    // full IVF replica over fixed-grid centered series vectors: dense
    // 864-slot grid, fixed-point series mean (Σ round(m·10⁶) — exact in
    // any order), index-ordered list folds for every dot product, the
    // same (cos DESC, id) tie rules as TopCentroids
    "series_similarity_ann" ->
      """WITH r0 AS (
        |  SELECT event_type AS ds,
        |    (epoch_us(ts) // 100000000) * 100 AS bucket_s,
        |    round(sum(value) / count(*), 6) AS m
        |  FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1, 2),
        |w AS (SELECT ds, CAST((bucket_s - 1704412800) // 100 AS INT) AS i, m
        |      FROM r0 WHERE bucket_s >= 1704412800 AND bucket_s < 1704499200),
        |mu AS (SELECT ds, sum(round(m * 1000000)) / (1000000.0 * count(*)) AS mu
        |       FROM w GROUP BY 1),
        |grid AS (SELECT mu.ds, mu.mu, g.i
        |         FROM mu CROSS JOIN generate_series(0, 863) g(i)),
        |dense AS (
        |  SELECT g.ds, g.i, coalesce(w.m - g.mu, 0.0) AS x
        |  FROM grid g LEFT JOIN w ON w.ds = g.ds AND w.i = g.i),
        |vec AS (SELECT ds, list(x ORDER BY i) AS v FROM dense GROUP BY ds),
        |vkeep AS (SELECT ds, v FROM vec
        |          WHERE list_sum(list_transform(v, x -> x * x)) > 0),
        |ids AS (SELECT ds, row_number() OVER (ORDER BY ds) - 1 AS vid, v
        |        FROM vkeep),
        |c AS (SELECT vid AS c_id, v AS cv FROM ids WHERE vid % 2 = 0),
        |ac AS (
        |  SELECT e.vid, e.ds, e.v, c.c_id,
        |    list_sum(list_transform(generate_series(1, 864), i -> e.v[i] * c.cv[i])) /
        |      (sqrt(list_sum(list_transform(e.v, x -> x * x))) *
        |       sqrt(list_sum(list_transform(c.cv, x -> x * x)))) AS ccos
        |  FROM ids e, c),
        |ar AS (SELECT vid, ds, v, c_id,
        |         row_number() OVER (PARTITION BY vid ORDER BY ccos DESC, c_id) AS rn
        |       FROM ac),
        |assigned AS (SELECT vid AS n_id, ds AS n_ds, v, c_id AS cell
        |             FROM ar WHERE rn = 1),
        |probes AS (SELECT vid AS q_id, ds AS q_ds, v AS qv, c_id AS cell
        |           FROM ar WHERE rn <= 2),
        |p AS (
        |  SELECT q_id, q_ds, n_id, n_ds,
        |    list_sum(list_transform(generate_series(1, 864), i -> qv[i] * v[i])) /
        |      (sqrt(list_sum(list_transform(qv, x -> x * x))) *
        |       sqrt(list_sum(list_transform(v, x -> x * x)))) AS cos
        |  FROM assigned JOIN probes USING (cell) WHERE q_id <> n_id),
        |r AS (SELECT q_ds, n_ds, cos,
        |        row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, n_id) AS rank
        |      FROM p)
        |SELECT q_ds AS dataset_id, n_ds AS neighbor, round(cos, 6) AS cos,
        |  CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 3 ORDER BY dataset_id, rank""".stripMargin,
    // banded-DTW replica: same dense integer-ppm vectors, same
    // band-linearized fold (list_reduce with a (2r+1)-cell sliding
    // buffer, row-seam guards on the up/left slots) — exact BIGINT
    // arithmetic end to end, so the hash match proves the recurrence
    "series_dtw_1000s" ->
      s"""$DtwPairsSql
         |SELECT ds_a, ds_b, dtw_ppm FROM dt
         |ORDER BY ds_a, ds_b""".stripMargin,
    // symmetrized pair table + per-series (dtw, neighbor) rank
    "series_dtw_topk" ->
      s"""$DtwPairsSql,
         |sym AS (SELECT ds_a, ds_b, dtw_ppm FROM dt
         |        UNION ALL
         |        SELECT ds_b AS ds_a, ds_a AS ds_b, dtw_ppm FROM dt),
         |r AS (SELECT ds_a, ds_b, dtw_ppm,
         |        row_number() OVER (PARTITION BY ds_a
         |                           ORDER BY dtw_ppm, ds_b) AS rank
         |      FROM sym)
         |SELECT ds_a AS dataset_id, ds_b AS neighbor, dtw_ppm,
         |  CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 2 ORDER BY dataset_id, rank""".stripMargin,
    "distinct_users" ->
      """SELECT event_type AS dataset_id, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // hour-of-day seasonal profile over the 100 s bucket means, with
    // the fixed-point hour mean (Σ round(m·10⁶) — order-exact)
    "series_seasonal_100s" ->
      """WITH r0 AS (
        |  SELECT event_type AS dataset_id,
        |    (epoch_us(ts) // 100000000) * 100 AS bucket_s,
        |    round(sum(value) / count(*), 6) AS m
        |  FROM events
        |  WHERE value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1, 2)
        |SELECT dataset_id, (bucket_s % 86400) // 3600 AS hour,
        |  count(*) AS n_buckets,
        |  round(sum(round(m * 1000000)) / (1000000.0 * count(*)), 6) AS hour_mean,
        |  round(min(m), 6) AS hour_min, round(max(m), 6) AS hour_max
        |FROM r0 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the integer-exact 3σ test over hour-conditioned ppm residuals:
    // rn = n·y − Σy, flag iff rn² > 9·(n·Σy² − (Σy)²), all HUGEINT
    "seasonal_anomaly_100s" ->
      """WITH r AS (
        |  SELECT event_type AS dataset_id,
        |    (epoch_us(ts) // 100000000) * 100 AS bucket_s,
        |    CAST(round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
        |      / (CAST(count(*) AS DOUBLE) * 1000000.0) * 1000000.0) AS BIGINT) AS y
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1, 2),
        |b AS (SELECT dataset_id, bucket_s, y,
        |        (bucket_s % 86400) // 3600 AS hour FROM r),
        |g AS (SELECT dataset_id, hour, count(*) AS n, sum(y) AS sy,
        |        sum(CAST(y AS HUGEINT) * y) AS syy
        |      FROM b GROUP BY 1, 2)
        |SELECT dataset_id, bucket_s, y,
        |  CAST(b.y * g.n - g.sy AS BIGINT) AS resid_n_ppm,
        |  CAST(g.n AS BIGINT) AS n
        |FROM b JOIN g USING (dataset_id, hour)
        |WHERE CAST(b.y * g.n - g.sy AS HUGEINT) * CAST(b.y * g.n - g.sy AS HUGEINT)
        |      > 9 * (g.n * g.syy - CAST(g.sy AS HUGEINT) * g.sy)
        |ORDER BY dataset_id, bucket_s""".stripMargin,
    "series_sax_100s" ->
      s"""WITH
         |v AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |        AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |r AS (SELECT dataset_id, (ts_us // 100000000) * 100 AS bucket_s,
         |        CAST(round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
         |          / (CAST(count(*) AS DOUBLE) * 1000000.0) * 1000000.0) AS BIGINT) AS y
         |      FROM v GROUP BY 1, 2),
         |k AS (SELECT dataset_id, bucket_s, y,
         |        row_number() OVER (PARTITION BY dataset_id ORDER BY y, bucket_s) AS rk,
         |        count(*) OVER (PARTITION BY dataset_id) AS n
         |      FROM r)
         |SELECT dataset_id, bucket_s, y,
         |  CAST(((rk - 1) * 4) // n AS BIGINT) AS sym
         |FROM k ORDER BY dataset_id, bucket_s""".stripMargin,
    "series_motifs_100s" ->
      s"""WITH
         |v AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |        AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |r AS (SELECT dataset_id, (ts_us // 100000000) * 100 AS bucket_s,
         |        CAST(round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
         |          / (CAST(count(*) AS DOUBLE) * 1000000.0) * 1000000.0) AS BIGINT) AS y
         |      FROM v GROUP BY 1, 2),
         |k AS (SELECT dataset_id, bucket_s, y,
         |        row_number() OVER (PARTITION BY dataset_id ORDER BY y, bucket_s) AS rk,
         |        count(*) OVER (PARTITION BY dataset_id) AS n
         |      FROM r),
         |sx AS (SELECT dataset_id, bucket_s, ((rk - 1) * 4) // n AS sym FROM k),
         |wd AS (SELECT dataset_id,
         |        CAST(sym AS VARCHAR)
         |        || CAST(lead(sym, 1) OVER (PARTITION BY dataset_id ORDER BY bucket_s) AS VARCHAR)
         |        || CAST(lead(sym, 2) OVER (PARTITION BY dataset_id ORDER BY bucket_s) AS VARCHAR)
         |        || CAST(lead(sym, 3) OVER (PARTITION BY dataset_id ORDER BY bucket_s) AS VARCHAR)
         |          AS word
         |      FROM sx),
         |c AS (SELECT dataset_id, word, count(*) AS n FROM wd
         |      WHERE word IS NOT NULL GROUP BY 1, 2),
         |t AS (SELECT dataset_id, word, n,
         |        row_number() OVER (PARTITION BY dataset_id
         |                           ORDER BY n DESC, word) AS rank
         |      FROM c)
         |SELECT dataset_id, CAST(rank AS BIGINT) AS rank, word, n
         |FROM t WHERE rank <= 3 ORDER BY dataset_id, rank""".stripMargin,
    // ACF / OLS / CUSUM share the ppm-requantized bucket-mean series:
    // y = round(mean·10⁶) — the round of a bit-identical double, so y is
    // integral-exact and every downstream moment is HUGEINT-exact,
    // mirroring the engine's BigInt (SeriesStats.scala).
    "series_autocorr_100s" ->
      s"""WITH
         |v AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |        AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |r AS (SELECT dataset_id, (ts_us // 100000000) * 100 AS bucket_s,
         |        CAST(round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
         |          / (CAST(count(*) AS DOUBLE) * 1000000.0) * 1000000.0) AS BIGINT) AS y
         |      FROM v GROUP BY 1, 2),
         |idx AS (SELECT dataset_id, y,
         |          row_number() OVER (PARTITION BY dataset_id
         |                             ORDER BY bucket_s) AS i
         |        FROM r),
         |g AS (SELECT dataset_id, count(*) AS n,
         |        sum(CAST(y AS HUGEINT)) AS sy,
         |        sum(CAST(y AS HUGEINT) * y) AS syy
         |      FROM idx GROUP BY 1),
         |p AS (SELECT a.dataset_id, CAST(b.i - a.i AS BIGINT) AS lag,
         |        sum(CAST(a.y AS HUGEINT) * b.y) AS sab,
         |        sum(CAST(a.y AS HUGEINT)) AS sa,
         |        sum(CAST(b.y AS HUGEINT)) AS sb
         |      FROM idx a JOIN idx b
         |        ON b.dataset_id = a.dataset_id AND b.i BETWEEN a.i + 1 AND a.i + 5
         |      GROUP BY 1, 2)
         |SELECT p.dataset_id, p.lag, CAST(g.n AS BIGINT) AS n,
         |  CASE WHEN g.n * (g.n * g.syy - g.sy * g.sy) = 0 THEN 0.0
         |       ELSE CAST(g.n * g.n * p.sab - g.n * g.sy * (p.sa + p.sb)
         |                 + (g.n - p.lag) * g.sy * g.sy AS DOUBLE)
         |            / CAST(g.n * (g.n * g.syy - g.sy * g.sy) AS DOUBLE) END AS acf
         |FROM p JOIN g ON g.dataset_id = p.dataset_id
         |ORDER BY 1, 2""".stripMargin,
    "series_trend_100s" ->
      s"""WITH
         |v AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |        AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |r AS (SELECT dataset_id, (ts_us // 100000000) * 100 AS bucket_s,
         |        CAST(round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
         |          / (CAST(count(*) AS DOUBLE) * 1000000.0) * 1000000.0) AS BIGINT) AS y
         |      FROM v GROUP BY 1, 2),
         |idx AS (SELECT dataset_id, y,
         |          row_number() OVER (PARTITION BY dataset_id
         |                             ORDER BY bucket_s) AS i
         |        FROM r),
         |g AS (SELECT dataset_id, count(*) AS n,
         |        sum(CAST(i AS HUGEINT)) AS sx,
         |        sum(CAST(y AS HUGEINT)) AS sy,
         |        sum(CAST(i AS HUGEINT) * i) AS sxx,
         |        sum(CAST(i AS HUGEINT) * y) AS sxy,
         |        sum(CAST(y AS HUGEINT) * y) AS syy
         |      FROM idx GROUP BY 1)
         |SELECT dataset_id, CAST(n AS BIGINT) AS n,
         |  CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
         |       ELSE CAST(n * sxy - sx * sy AS DOUBLE)
         |            / CAST(n * sxx - sx * sx AS DOUBLE) END AS slope_ppm,
         |  CASE WHEN n = 0 THEN 0.0
         |       ELSE (CAST(sy AS DOUBLE) - slope_ppm * CAST(sx AS DOUBLE))
         |            / CAST(n AS DOUBLE) END AS intercept_ppm,
         |  CASE WHEN n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0 THEN 0.0
         |       ELSE CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) AS DOUBLE)
         |            / CAST((n * sxx - sx * sx) * (n * syy - sy * sy) AS DOUBLE)
         |  END AS r2
         |FROM g ORDER BY dataset_id""".stripMargin,
    "event_transitions" ->
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
        |           FROM events),
        |t AS (SELECT event_type AS from_type,
        |        lead(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY ts_us, event_id) AS to_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n
        |      FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2)
        |SELECT from_type, to_type, n,
        |  round(CAST(n AS DOUBLE)
        |        / CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT), 6) AS p
        |FROM c ORDER BY 1, 2""".stripMargin,
    "value_winsorize" ->
      """WITH v AS (SELECT event_type AS dataset_id, value FROM events
        |           WHERE value IS NOT NULL AND NOT isnan(value)),
        |w AS (SELECT dataset_id, value,
        |        row_number() OVER (PARTITION BY dataset_id ORDER BY value) AS r,
        |        count(*) OVER (PARTITION BY dataset_id) AS n
        |      FROM v),
        |q AS (SELECT a.dataset_id, a.value AS p05, b.value AS p95, a.n
        |      FROM (SELECT * FROM w
        |            WHERE r = greatest(1, CAST(ceil(0.05 * n) AS BIGINT))) a
        |      JOIN (SELECT * FROM w
        |            WHERE r = greatest(1, CAST(ceil(0.95 * n) AS BIGINT))) b
        |        ON b.dataset_id = a.dataset_id)
        |SELECT v.dataset_id, q.n, q.p05, q.p95,
        |  CAST(sum(CASE WHEN v.value < q.p05 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_below,
        |  CAST(sum(CASE WHEN v.value > q.p95 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_above,
        |  round(CAST(sum(CAST(round(least(greatest(v.value, q.p05), q.p95)
        |          * 1000000) AS BIGINT)) AS DOUBLE) / (q.n * 1000000.0), 6)
        |    AS mean_w
        |FROM v JOIN q ON q.dataset_id = v.dataset_id
        |GROUP BY 1, 2, 3, 4 ORDER BY 1""".stripMargin,
    "series_xcorr_100s" ->
      s"""WITH
         |v AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |        AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |r AS (SELECT dataset_id, (ts_us // 100000000) * 100 AS bucket_s,
         |        CAST(round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
         |          / (CAST(count(*) AS DOUBLE) * 1000000.0) * 1000000.0) AS BIGINT) AS y
         |      FROM v GROUP BY 1, 2),
         |x AS (SELECT bucket_s, y AS xv FROM r WHERE dataset_id = 'click'),
         |y2 AS (SELECT bucket_s, y AS yv FROM r WHERE dataset_id = 'view'),
         |l AS (SELECT g AS k FROM generate_series(-3, 3) t(g)),
         |p AS (SELECT l.k, x.xv, b.yv
         |      FROM x CROSS JOIN l
         |      JOIN y2 b ON b.bucket_s = x.bucket_s + l.k * 100),
         |g2 AS (SELECT k, count(*) AS n,
         |        sum(CAST(xv AS HUGEINT)) AS sx,
         |        sum(CAST(yv AS HUGEINT)) AS sy,
         |        sum(CAST(xv AS HUGEINT) * yv) AS sxy,
         |        sum(CAST(xv AS HUGEINT) * xv) AS sxx,
         |        sum(CAST(yv AS HUGEINT) * yv) AS syy
         |      FROM p GROUP BY 1)
         |SELECT CAST(k AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
         |  CASE WHEN n = 0 OR n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
         |       THEN 0.0
         |       ELSE CAST(n * sxy - sx * sy AS DOUBLE)
         |            / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
         |                   * CAST(n * syy - sy * sy AS DOUBLE))
         |  END AS xcorr
         |FROM g2 ORDER BY lag""".stripMargin,
    "series_cusum_100s" ->
      s"""WITH
         |v AS (SELECT event_type AS dataset_id, epoch_us(ts) AS ts_us, value
         |      FROM events WHERE value IS NOT NULL AND NOT isnan(value)
         |        AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us),
         |r AS (SELECT dataset_id, (ts_us // 100000000) * 100 AS bucket_s,
         |        CAST(round(CAST(sum(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
         |          / (CAST(count(*) AS DOUBLE) * 1000000.0) * 1000000.0) AS BIGINT) AS y
         |      FROM v GROUP BY 1, 2),
         |mu AS (SELECT dataset_id,
         |         CAST(round(CAST(sum(y) AS DOUBLE) / count(*)) AS BIGINT) AS mu
         |       FROM r GROUP BY 1),
         |w AS (SELECT r.dataset_id, r.bucket_s, r.y, m.mu,
         |        CAST(row_number() OVER ow AS BIGINT) AS i,
         |        CAST(sum(r.y) OVER (PARTITION BY r.dataset_id ORDER BY r.bucket_s
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS p
         |      FROM r JOIN mu m ON m.dataset_id = r.dataset_id
         |      WINDOW ow AS (PARTITION BY r.dataset_id ORDER BY r.bucket_s)),
         |d AS (SELECT dataset_id, bucket_s, y,
         |        p - i * (mu + 2000000) AS dpos,
         |        i * (mu - 2000000) - p AS dneg
         |      FROM w),
         |c AS (SELECT dataset_id, bucket_s, y,
         |        dpos - least(0, min(dpos) OVER pw) AS cusum_pos,
         |        dneg - least(0, min(dneg) OVER pw) AS cusum_neg
         |      FROM d
         |      WINDOW pw AS (PARTITION BY dataset_id ORDER BY bucket_s
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT dataset_id, bucket_s, y, cusum_pos, cusum_neg,
         |  (cusum_pos > 20000000 OR cusum_neg > 20000000) AS alarm
         |FROM c ORDER BY 1, 2""".stripMargin,
    "props_parse" ->
      """SELECT event_type AS dataset_id,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS DOUBLE)), 6) AS avg_k,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "table_profile" ->
      Seq("event_id", "user_id", "event_type", "ts", "value", "props")
        .map(c =>
          s"""SELECT '$c' AS col_name, count(*) AS n_rows,
             |  count(*) - count($c) AS n_nulls,
             |  count(DISTINCT $c) AS n_distinct FROM events""".stripMargin)
        .mkString("SELECT * FROM (\n", "\nUNION ALL ", ") ORDER BY col_name"),
    "range_full" ->
      s"""SELECT epoch_us(ts) AS ts_us, value FROM events
         |WHERE event_type = 'purchase' AND value IS NOT NULL AND NOT isnan(value)
         |  AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us
         |ORDER BY ts_us, value""".stripMargin,
    "range_agg_10s" ->
      s"""SELECT bucket_s, min_v, round(sum_v / cnt, 6) AS mean_v, max_v FROM (
         |  SELECT (epoch_us(ts) // 10000000) * 10 AS bucket_s,
         |         min(value) AS min_v, max(value) AS max_v,
         |         sum(value) AS sum_v, count(*) AS cnt
         |  FROM events
         |  WHERE event_type = 'purchase' AND value IS NOT NULL AND NOT isnan(value)
         |  GROUP BY 1)
         |WHERE bucket_s BETWEEN $Day5S AND $Day6S ORDER BY bucket_s""".stripMargin,
    "fidelity_route" ->
      """SELECT dataset_id, round(span_s, 6) AS span_s,
        |  CASE WHEN span_s < 500 THEN 'full'
        |       WHEN span_s < 5000 THEN '1'
        |       WHEN span_s < 50000 THEN '10'
        |       WHEN span_s < 500000 THEN '100'
        |       WHEN span_s < 5000000 THEN '1000'
        |       WHEN span_s < 50000000 THEN '10000'
        |       ELSE '100000' END AS fidelity
        |FROM (
        |  SELECT event_type AS dataset_id,
        |         (max(epoch_us(ts)) - min(epoch_us(ts))) / 1000000.0 AS span_s
        |  FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |  GROUP BY 1)
        |ORDER BY dataset_id""".stripMargin,
    "search_datasets" ->
      """SELECT DISTINCT event_type AS dataset_id FROM events
        |WHERE value IS NOT NULL AND NOT isnan(value)
        |  AND contains(event_type, 'e')
        |ORDER BY dataset_id LIMIT 300""".stripMargin,
    "count_metrics" ->
      """SELECT event_type AS dataset_id, count(*) AS n_points,
        |  round(sum(value), 6) AS sum_value
        |FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "minmax_range" ->
      s"""SELECT min(value) AS min_v, max(value) AS max_v FROM events
         |WHERE event_type = 'view' AND value IS NOT NULL AND NOT isnan(value)
         |  AND epoch_us(ts) BETWEEN $Day5Us AND $Day6Us""".stripMargin,
    "histogram" ->
      """WITH pts AS (
        |  SELECT value AS v FROM events
        |  WHERE event_type = 'click' AND value IS NOT NULL AND NOT isnan(value)),
        |st AS (SELECT min(v) AS mn, max(v) AS mx, count(DISTINCT v) AS nd FROM pts),
        |bk AS (
        |  SELECT CASE WHEN st.nd <= 1 THEN 0
        |              ELSE least(CAST(floor((p.v - st.mn) /
        |                     ((st.mx - st.mn) / least(st.nd, 30))) AS BIGINT),
        |                   least(st.nd, 30) - 1) END AS bucket,
        |         st.mn AS mn, st.mx AS mx, least(st.nd, 30) AS n
        |  FROM pts p, st)
        |SELECT bucket,
        |  round(mn + bucket * (mx - mn) / n, 6) AS lo,
        |  round(mn + (bucket + 1) * (mx - mn) / n, 6) AS hi,
        |  count(*) AS cnt
        |FROM bk GROUP BY bucket, mn, mx, n ORDER BY bucket""".stripMargin,
    "iso_roundtrip" ->
      """SELECT epoch_us(ts) AS ts_us,
        |  strftime(ts, '%Y-%m-%dT%H:%M:%S.%f') AS iso,
        |  epoch_us(strptime(strftime(ts, '%Y-%m-%dT%H:%M:%S.%f'),
        |                    '%Y-%m-%dT%H:%M:%S.%f')) AS ts_us2
        |FROM events WHERE event_type = 'signup' ORDER BY ts_us""".stripMargin,
    "comments_range_tags" ->
      s"""SELECT event_id AS id, epoch_us(ts) AS date_us, props AS text
         |FROM events
         |WHERE epoch_us(ts) BETWEEN $Day5Us AND ${Day6Us * 5}
         |  AND event_type = 'purchase' AND user_id % 5 = 3
         |ORDER BY date_us, id LIMIT 20""".stripMargin)
}
