package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.api.GraftApi
import graft.query.Histogram
import graft.store.ManifestStore

object Dashboard {
  val Hosts = 25            // × 4 metrics = 100 series
  val Dense = 1000          // 10 Hz tail points per series (100 s)
  val Sparse = 1000         // log-uniform history points per series
  val Batches = 2           // history ingest batches: one bulk, one live
  val SeedComments = 3
  /** Panels per page: panel j routes to level j, `full` to `100000`. */
  val ChartsPerPage: Int = Gen.SpanBands.size
  /** The panel whose values the page's histogram bins (level 100). */
  val HistogramPanel = 3
  /** The panel whose window the page's comments overlay (the widest). */
  val CommentsPanel: Int = ChartsPerPage - 1
  val Docs = 1000           // runbook corpus behind the page's doc search
  val Vectors = 1000        // incident embeddings behind "similar incidents"

  /** Batch `b` of the history as a DataFrame, generated inside the
   *  tasks: batch 0 carries every series' sparse history plus the first
   *  slice of its 10 Hz tail, batches 1.. carry the following slices.
   */
  def batch(spark: SparkSession, seed: Long, names: IndexedSeq[String], b: Int): DataFrame = {
    import spark.implicits._
    val per = Dense / Batches
    spark.sparkContext.parallelize(names.indices, names.size / 4).flatMap { i =>
      val s = Gen.history(seed, i, names(i), Dense, Sparse)
      val lo = if (b == 0) 0 else Sparse + b * per
      val hi = if (b == Batches - 1) s.size else Sparse + (b + 1) * per
      (lo until hi).map(j => (s.id, s.ts(j), s.v(j)))
    }.toDF("dataset_id", "ts_us", "value")
  }
}

/**
 * `dashboard`: one viewer paging through dashboards over stores built
 * during set-up. Every page is the same mix of ops: seven routed panel
 * charts (one per level), a histogram, a comments query, a BM25 doc
 * search, an ANN query and a catalog search, then one annotation
 * created, one edited and one deleted.
 */
final class Dashboard(ctx: Ctx) extends Workload {
  import Dashboard._
  private val spark = ctx.spark
  private val names = Gen.seriesNames(Hosts)
  private[perfbench] val series =
    names.indices.map(i => Gen.history(ctx.seed, i, names(i), Dense, Sparse))
  private val tier = new IndexTier(ctx, Docs, Vectors, dedup = false)
  private var api: GraftApi = _
  private var root: String = _
  private var commentsDir: String = _
  private var model = Map.empty[Long, Gen.CommentIn]
  private var commentN = 0L
  private def tr = ctx.tracer
  private val routed = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var rowsReturned = 0L
  private var charts = 0L
  private val scanned = mutable.ArrayBuffer.empty[PlanMetrics.Scan]
  private val searchRows = mutable.ArrayBuffer.empty[Double]
  private val manifestMs = mutable.ArrayBuffer.empty[Double]
  private val liveCommits = mutable.ArrayBuffer.empty[Double]
  private val commentParts = mutable.ArrayBuffer.empty[Double]
  private var commentCompactions = 0L

  def setup(): Unit = {
    root = ctx.fresh("dashboard/store")
    commentsDir = ctx.fresh("dashboard/comments")
    api = new GraftApi(spark, root, commentsDir)
    Main.stage("history")(for (b <- 0 until Batches) api.putData(batch(spark, ctx.seed, names, b)))
    val r = Gen.rng(ctx.seed, 2)
    Main.stage("comments")(for (_ <- 0 until SeedComments) create(r))
    Main.stage("indexes")(tier.build(api, "dashboard/index"))
  }

  private def create(r: java.util.SplittableRandom): Long = {
    commentN += 1
    val c = Gen.comment(r, commentN)
    val id = api.createComment(c.dateUs, c.text, c.tags)
    model += id -> c
    id
  }

  def warmup(): Unit = {
    val real = ctx.led
    ctx.led = new Ledger
    page(-1, check = false)
    ctx.led = real
  }

  def startTrace(meter: EngineMeter): Unit = {
    routed.clear(); rowsReturned = 0; charts = 0
    tier.startTrace(meter)
  }

  def step(i: Long): Unit = page(i, check = true)

  override def finish(): Unit = {
    tier.search(-1, planted = true)
    tier.checkRecall()
  }

  private def chartRead(c: Gen.Chart): Array[Row] = {
    val df = tr.span("api.get_plan") {
      val d = api.getData(names(c.series), c.startUs, c.endUs)
      d.queryExecution.executedPlan
      d
    }
    val rows = tr.span("api.get_exec")(df.collect())
    if (tr.on) {
      scanned += PlanMetrics.scans(df)
      routed(servedLevel(df)) += 1
    }
    rows
  }

  /** The level the engine served a chart from, by the files its plan
   *  read: rollup levels live under `fidelity=d<level>` leaf dirs, the
   *  raw (`full`) tier under `r-` commit dirs.
   */
  private def servedLevel(df: DataFrame): String = {
    val files = df.inputFiles
    val levels = files.flatMap(f => LevelDir.findFirstMatchIn(f).map(_.group(1))).distinct
    if (levels.length == 1) levels.head
    else if (levels.isEmpty && files.exists(_.contains("/r-"))) "full"
    else "other"
  }

  private val LevelDir = "fidelity=d([0-9a-z]+)".r

  private def page(i: Long, check: Boolean): Unit = {
    val led = ctx.led
    val r = Gen.rng(ctx.seed, 10, i)
    // every page reads every level once, with spans log-uniform inside
    // each level's band and half of the windows ending at the newest data
    val cs = (0 until ChartsPerPage).map(j => Gen.chart(r, names.size, j))
    val failed0 = led.failed
    val t0 = System.nanoTime()
    for (c <- cs) {
      led.read("chart")(tr.span("chart")(chartRead(c))).foreach { rows =>
        val s = series(c.series)
        val (level, want) = Oracle.chart(s.ts, s.v, c.startUs, c.endUs)
        if (check) {
          rowsReturned += rows.length
          charts += 1
          Oracle.diffChart(want, Oracle.fromRows(rows, level)).foreach(d =>
            led.check(false, s"chart ${s.id} [${c.startUs}, ${c.endUs}] level $level: $d"))
        }
      }
    }
    val ch = cs(HistogramPanel)
    val valueCol = if (Oracle.route(ch.startUs, ch.endUs) == 0) "value" else "mean_v"
    led.read("histogram")(tr.span("query.histogram") {
      Histogram.histogram(api.getData(names(ch.series), ch.startUs, ch.endUs), valueCol, 30).collect()
    }).foreach { h =>
      if (check) {
        val s = series(ch.series)
        val n = Oracle.chart(s.ts, s.v, ch.startUs, ch.endUs)._2.size
        led.check(h.map(_.getLong(3)).sum == n && h.length <= 30,
          s"histogram of ${s.id}: ${h.map(_.getLong(3)).sum} points in ${h.length} bars, want $n in <= 30")
      }
    }
    val cc = cs(CommentsPanel)
    val tags = Gen.Tags.filter(_ => r.nextInt(4) == 0).take(1)
    led.read("comments")(tr.span("comments.query") {
      api.comments(cc.startUs, cc.endUs, tags).collect()
    }).foreach { got =>
      if (check) {
        val want = Oracle.comments(model, cc.startUs, cc.endUs, tags)
        val g = got.toSeq.map(x => (x.getLong(0), x.getLong(1), x.getString(2)))
        led.check(g == want, s"comments [${cc.startUs}, ${cc.endUs}] $tags: $g, want $want")
      }
    }
    if (check && led.failed == failed0) led.record("page", (System.nanoTime() - t0) / 1e6)
    tier.search(i, planted = false)
    tier.ann(i)
    search(i)
    annotate(i)
    if (tr.on) tr.span("store.manifest_read") {
      val t = System.nanoTime()
      val live = ManifestStore.latest(spark, root)._2.count(!_.startsWith("#"))
      manifestMs += (System.nanoTime() - t) / 1e6
      liveCommits += live
    }
  }

  private def search(i: Long): Unit = {
    val r = Gen.rng(ctx.seed, 11, i)
    val q = r.nextInt(3) match {
      case 0 => f"host${r.nextInt(Hosts)}%02d"
      case 1 => Gen.Metrics(r.nextInt(Gen.Metrics.size)).split('.')(0)
      case _ => s"host${r.nextInt(3)}"
    }
    var df: DataFrame = null
    ctx.led.read("catalog_search")(tr.span("query.search") {
      df = api.datasets(q)
      df.collect().map(_.getString(0)).toSeq
    }).foreach { got =>
      val want = Oracle.datasets(names, q)
      ctx.led.check(got == want, s"datasets('$q'): $got, want $want")
      if (tr.on) searchRows += PlanMetrics.scans(df).rows.toDouble
    }
  }

  /** The page's annotations: one created, the newest edited and the
   *  oldest deleted, so the log keeps its size, carries tombstones and
   *  compacts every few pages.
   */
  private def annotate(i: Long): Unit = {
    val r = Gen.rng(ctx.seed, 12, i)
    val led = ctx.led
    led.write("annotate")(tr.span("comments.create")(create(r)))
    val id = model.keys.max
    val c = model(id)
    val edited = c.copy(text = c.text + " (edited)")
    led.write("annotate")(tr.span("comments.update") {
      api.updateComment(id, edited.dateUs, edited.text, edited.tags)
    }).foreach(_ => model += id -> edited)
    val victim = model.keys.min
    led.write("annotate")(tr.span("comments.delete")(api.deleteComment(victim)))
      .foreach(_ => model -= victim)
    if (tr.on) {
      val parts = Main.filesUnder(java.nio.file.Paths.get(commentsDir))
        .keys.count(_.endsWith(".parquet")).toDouble
      if (commentParts.nonEmpty && parts < commentParts.last) commentCompactions += 1
      commentParts += parts
    }
  }

  /** The rollup store's bytes on disk per point; no timed op writes it. */
  def bytesPerItem: Double =
    Main.bytesUnder(Seq(root)).toDouble / series.map(_.size.toLong).sum

  def perLayer(elapsedS: Double): Seq[Metric] = {
    val led = ctx.led
    val sc = scanned.toSeq
    val n = math.max(1, sc.size).toDouble
    Seq(
      Metric("api.get_plan_ms_p50", Stats.medianOr0(tr.durationsMs("api.get_plan")), "ms"),
      Metric("api.get_exec_ms_p50", Stats.medianOr0(tr.durationsMs("api.get_exec")), "ms")) ++
      Oracle.LevelNames.map(l => Metric(s"query.routed.$l", routed(l).toDouble, "count")) ++
      Seq(
        Metric("query.page_ms_p50", Stats.medianOr0(led.of("page")), "ms"),
        Metric("query.search_ms_p50", Stats.medianOr0(led.of("catalog_search")), "ms"),
        Metric("query.rows_returned_per_chart", rowsReturned.toDouble / math.max(1L, charts), "count"),
        Metric("query.histogram_ms_p50", Stats.medianOr0(led.of("histogram")), "ms"),
        Metric("query.search_rows_scanned", Stats.medianOr0(searchRows.toSeq), "count"),
        Metric("store.manifest_read_ms_p50", Stats.medianOr0(manifestMs.toSeq), "ms"),
        Metric("store.live_commits_p50", Stats.medianOr0(liveCommits.toSeq), "count"),
        Metric("store.files_read_per_chart", sc.map(_.files).sum / n, "count"),
        Metric("store.bytes_read_per_chart", sc.map(_.bytes).sum / n, "B"),
        Metric("store.rows_read_per_row_returned",
          sc.map(_.rows).sum.toDouble / math.max(1L, rowsReturned), "ratio"),
        Metric("comments.query_ms_p50", Stats.medianOr0(led.of("comments")), "ms"),
        Metric("comments.parts_live_p50", Stats.medianOr0(commentParts.toSeq), "count"),
        Metric("comments.compactions", commentCompactions.toDouble, "count")) ++
      tier.perLayer
  }
}
