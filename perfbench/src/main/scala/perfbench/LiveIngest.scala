package perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.api.GraftApi
import graft.store.ManifestStore
import graft.streaming.StreamIngest

object LiveIngest {
  val Hosts = 5               // × 4 metrics = 20 series per batch
  val PointsPerSeries = 100   // 10 s of 10 Hz points per series per batch
  val LateShare = 0.1         // points landing hours to days in the past
  val HistoryPoints = 1000    // per series, over the 30 days before T0
  /** Live commits of each kind before a tiered fold of the smallest
   *  MaxLiveCommits / 2 into one. startAtomic's default of 16 folds every
   *  7 batches; 8 folds every 3, so a run of a few batches spans whole
   *  compaction cycles while most batches still publish without one
   *  (the write median stays a plain publish).
   */
  val MaxLiveCommits = 8
  /** The history lands as this many commits before the stream starts. */
  val HistoryBatches = 4
  /** Batches in one compaction cycle: a fold removes MaxLiveCommits / 2
   *  commits and adds one.
   */
  val Cycle: Int = MaxLiveCommits / 2 - 1
  /** Batches until the first fold: the history commits plus batch k make
   *  HistoryBatches + k live commits of each kind, and the fold runs
   *  when that passes the cap. Warm-up pushes exactly these, so every
   *  timed cycle is two plain publishes and then one fold.
   */
  val FirstFold: Int = MaxLiveCommits + 1 - HistoryBatches
  /** One compaction cycle, with its searches and doc batch, per this
   *  many seconds of `--seconds`: it takes about as long on a 4-core
   *  machine.
   */
  val CycleSeconds = 10.0
  val Panels = 3              // fresh panel reads after each batch
  val Docs = 500              // log corpus the producer keeps indexing

  /** The wire lines and the (series, ts, value) points of batch `i`. */
  def batch(seed: Long, names: IndexedSeq[String], i: Long): (Seq[String], Seq[(Int, Long, Double)]) = {
    val r = Gen.rng(seed, 20, i)
    val liveStartUs = Gen.T0Us + i * PointsPerSeries * 100000L
    val pts = for (s <- names.indices; j <- 0 until PointsPerSeries) yield {
      val ts =
        if (r.nextDouble() < LateShare)
          liveStartUs - math.round(Gen.logUniform(r, 3600.0, 30 * 86400.0) * 1e6)
        else liveStartUs + (j + 1) * 100000L
      (s, ts, Gen.value(r, 20.0 + s, ts))
    }
    val lines = pts.groupBy(_._1).toSeq.sortBy(_._1).map { case (s, ps) =>
      ps.map { case (_, ts, v) =>
        s"""{"date":"${java.time.Instant.ofEpochSecond(ts / 1000000L, ts % 1000000L * 1000L)}","value":$v}"""
      }.mkString(s"""{"dataset_id":"${names(s)}","points":[""", ",", "]}")
    }
    (lines, pts)
  }
}

/**
 * `live_ingest`: one producer pushing JSON wire batches through
 * `StreamIngest.startAtomic` over a memory source, then reading back the
 * freshest window to confirm its newest point is visible. Push, then
 * `processAllAvailable`: the time measured is the engine's, not a
 * trigger interval's. A run is a fixed number of whole compaction
 * cycles, so its op mix and its store bytes never depend on host speed.
 */
final class LiveIngest(ctx: Ctx) extends Workload {
  import LiveIngest._
  private val spark = ctx.spark
  private val names = Gen.seriesNames(Hosts)
  private var api: GraftApi = _
  private val tier = new IndexTier(ctx, Docs, vectors = 0, dedup = true)
  private var root: String = _
  private var stream: MemoryStream[String] = _
  private var query: StreamingQuery = _
  /** Every point the store should hold, per series, by time. */
  private val model = names.map(_ => new java.util.TreeMap[java.lang.Long, java.lang.Double]())
  private var points = 0L
  private var batches = 0L
  private var timedPoints = 0L
  private def tr = ctx.tracer
  private var smeter = new StreamMeter
  private val written = mutable.ArrayBuffer.empty[(Long, Long, Int)] // files, bytes, points
  private var compactions = 0L
  private val compactionMs = mutable.ArrayBuffer.empty[Double]
  private val liveHist = mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = {
    root = ctx.fresh("live/store")
    api = new GraftApi(spark, root, ctx.fresh("live/comments"))
    // 30 days of sparse history, so late points fold into existing buckets
    val hist = for (s <- names.indices; j <- 0 until HistoryPoints) yield {
      val r = Gen.rng(ctx.seed, 21, s.toLong * HistoryPoints + j)
      val ts = Gen.T0Us - math.round(Gen.logUniform(r, 60.0, 30 * 86400.0) * 1e6)
      (s, ts, Gen.value(r, 20.0 + s, ts))
    }
    import spark.implicits._
    Main.stage("history")(hist.grouped((hist.size + HistoryBatches - 1) / HistoryBatches).foreach(part =>
      api.putData(part.map { case (s, t, v) => (names(s), t, v) }.toDF("dataset_id", "ts_us", "value"))))
    remember(hist)
    stream = MemoryStream[String](Encoders.STRING, spark)
    Main.stage("indexes")(tier.build(api, "live/index"))
    query = StreamIngest.startAtomic(
      StreamIngest.decodeWire(stream.toDF()), root, ctx.fresh("live/ckpt"),
      Trigger.ProcessingTime(0L), maxLiveCommits = MaxLiveCommits)
  }

  private def remember(pts: Seq[(Int, Long, Double)]): Unit = {
    pts.foreach { case (s, t, v) => model(s).put(t, v) }
    points += pts.size
  }

  private def stop(): Unit = if (query != null) { query.stop(); query = null }

  def warmup(): Unit = {
    val real = ctx.led
    ctx.led = new Ledger
    // set-up's index builds already ran the doc-ingest code paths; the
    // batches up to the first fold let the JIT settle on the stream
    // path and leave the store at the start of a cycle, the panels of
    // the last two on the read path
    for (i <- 1 to FirstFold) {
      push(check = false)
      if (i > FirstFold - 2) panels(-i)
    }
    search(-1)
    ctx.led = real
  }

  def startTrace(meter: EngineMeter): Unit = {
    tier.startTrace(meter)
    smeter = new StreamMeter
    spark.streams.addListener(smeter)
    compactions = 0
    timedPoints = 0
  }

  /** Whole compaction cycles: one per [[CycleSeconds]] of `seconds`,
   *  at least one.
   */
  override def stepsFor(seconds: Double): Option[Long] =
    Some(Cycle.toLong * math.max(1L, math.round(seconds / CycleSeconds)))

  /** One batch and its reads. Each cycle also runs a catalog search
   *  after its first batch, and folds a doc batch into the text and
   *  dedup indexes after its last (the fold).
   */
  def step(i: Long): Unit = {
    push(check = true)
    panels(i)
    val k = math.floorMod(i, Cycle.toLong)
    if (k == 0) search(i)
    if (k == Cycle - 1) tier.ingest(i, check = true)
  }

  /** More live panels: fresh windows of other series, read
   *  against the live set the stream keeps fragmenting.
   */
  private def panels(i: Long): Unit = {
    val r = Gen.rng(ctx.seed, 22, i)
    val endUs = Gen.T0Us + batches * PointsPerSeries * 100000L
    for (_ <- 0 until Panels) {
      val s = r.nextInt(names.size)
      // full-fidelity spans only, so every read has the same shape
      val startUs = endUs - math.round(Gen.logUniform(r, 60.0, 499.0) * 1e6)
      ctx.led.read("fresh_chart")(tr.span("chart") {
        api.getData(names(s), startUs, endUs).collect()
      }).foreach { rows =>
        val (ts, vs) = window(s, startUs, endUs)
        val want = Oracle.chart(ts, vs, startUs, endUs)
        Oracle.diffChart(want._2, Oracle.fromRows(rows, want._1)).foreach(d =>
          ctx.led.check(false, s"live panel ${names(s)} [$startUs, $endUs]: $d"))
      }
    }
  }

  /** The modelled points of series `s` in every bucket a chart over
   *  [startUs, endUs] can return, as sorted arrays.
   */
  private def window(s: Int, startUs: Long, endUs: Long): (Array[Long], Array[Double]) = {
    val level = math.max(1L, Oracle.route(startUs, endUs))
    val (startS, endS) = (startUs / 1000000L, endUs / 1000000L)
    val sub = model(s).subMap(startS * 1000000L, (endS / level * level + level) * 1000000L)
    val ts = new Array[Long](sub.size)
    val vs = new Array[Double](sub.size)
    var k = 0
    sub.forEach { (t, v) => ts(k) = t; vs(k) = v; k += 1 }
    (ts, vs)
  }

  private def search(i: Long): Unit = {
    val q = f"host${Gen.rng(ctx.seed, 23, i).nextInt(Hosts)}%02d"
    val led = ctx.led
    led.read("catalog_search")(tr.span("query.search")(api.datasets(q).collect().map(_.getString(0)).toSeq))
      .foreach(got => led.check(got == Oracle.datasets(names, q), s"datasets('$q'): $got"))
  }

  private def liveCounts(): (Int, Int) = {
    val live = ManifestStore.latest(spark, root)._2
    (live.count(_.startsWith("c-")), live.count(_.startsWith("r-")))
  }

  private def push(check: Boolean): Unit = {
    val led = ctx.led
    val (lines, pts) = batch(ctx.seed, names, batches)
    batches += 1
    val before = if (tr.on) Main.filesUnder(Paths.get(root)) else Map.empty[String, Long]
    val live0 = if (tr.on) liveCounts() else (0, 0)
    val newest = pts.maxBy(_._2)
    val t0 = System.nanoTime()
    val ok = led.write("batch") {
      tr.span("streaming.batch") {
        stream.addData(lines)
        query.processAllAvailable()
      }
      val t1 = System.nanoTime()
      val rows = tr.span("chart") {
        val df = tr.span("api.get_plan") {
          val d = api.getData(names(newest._1), newest._2 - 60000000L, newest._2)
          d.queryExecution.executedPlan
          d
        }
        tr.span("api.get_exec")(df.collect())
      }
      val ms = (System.nanoTime() - t1) / 1e6
      led.record("fresh_chart", ms)
      led.record("read", ms)
      rows
    }
    remember(pts)
    ok.foreach { rows =>
      if (check) {
        timedPoints += pts.size
        val got = rows.map(r => (r.getLong(0), r.getDouble(1))).toSet
        led.check(got.contains((newest._2, newest._3)),
          s"newest point ${names(newest._1)}@${newest._2} not visible after its batch")
        val want = model(newest._1).subMap(newest._2 - 60000000L, true, newest._2, true)
        led.check(rows.length == want.size,
          s"tail of ${names(newest._1)}: ${rows.length} points, want ${want.size}")
      }
    }
    if (tr.on) {
      val after = Main.filesUnder(Paths.get(root))
      val fresh = after.keySet -- before.keySet
      written += ((fresh.size.toLong, fresh.toSeq.map(after).sum, pts.size))
      val live1 = liveCounts()
      liveHist += live1._1 + live1._2
      if (live1._1 < live0._1 || live1._2 < live0._2) {
        compactions += 1
        compactionMs += (System.nanoTime() - t0) / 1e6
      }
    }
  }

  override def close(): Unit = stop()

  /** The rollup store's bytes on disk per point ingested, history
   *  included.
   */
  def bytesPerItem: Double = Main.bytesUnder(Seq(root)).toDouble / points

  def perLayer(elapsedS: Double): Seq[Metric] = {
    val w = written.toSeq
    val liveFiles = {
      val entries = ManifestStore.latest(spark, root)._2.filterNot(_.startsWith("#"))
      entries.map(e => Main.filesUnder(Paths.get(root, "mrollup", "data", e)).size).sum
    }
    Seq(
      Metric("streaming.ingest_points_per_s", timedPoints / elapsedS, "1/s"),
      Metric("api.get_plan_ms_p50", Stats.medianOr0(tr.durationsMs("api.get_plan")), "ms"),
      Metric("api.get_exec_ms_p50", Stats.medianOr0(tr.durationsMs("api.get_exec")), "ms"),
      Metric("store.files_written_per_batch", w.map(_._1).sum.toDouble / math.max(1, w.size), "count"),
      Metric("store.compactions", compactions.toDouble, "count"),
      Metric("store.compaction_batch_ms_p50", Stats.medianOr0(compactionMs.toSeq), "ms"),
      Metric("store.bytes_written_per_point", w.map(_._2).sum.toDouble / math.max(1, w.map(_._3).sum), "B"),
      Metric("store.files_live_end", liveFiles.toDouble, "count"),
      Metric("store.live_commits_p50", Stats.medianOr0(liveHist.toSeq), "count"),
      Metric("streaming.add_batch_ms_p50", Stats.medianOr0(smeter.addBatchMs.toSeq), "ms"),
      Metric("streaming.overhead_ms_p50", Stats.medianOr0(smeter.overheadMs.toSeq), "ms"),
      Metric("streaming.batches", smeter.addBatchMs.size.toDouble, "count")) ++
      tier.perLayer
  }
}
