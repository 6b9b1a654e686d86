package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val workDir: Path) {
  /** Off until the traced phase of a `--trace 1` run. */
  var tracer: Tracer = new Tracer(false)
  /** The ledger of the phase in progress; the harness swaps it. */
  var led: Ledger = new Ledger
  /** A path under the run's work dir, emptied. */
  def fresh(name: String): String = {
    val p = workDir.resolve(name)
    Main.deleteTree(p)
    p.toString
  }
}

/**
 * One closed-loop client: the harness calls `setup`, `warmup`, then
 * `step` until the run's time is up and the workload agrees to stop,
 * then reads its metrics.
 */
trait Workload {
  /** Build the stores this workload reads, from scratch. */
  def setup(): Unit
  /** Untimed steps that load classes, codegen and caches. */
  def warmup(): Unit
  /** One step of the closed loop. A workload run to a deadline gives
   *  every step the same mix of ops, so its medians do not depend on
   *  how many steps fit in a run.
   */
  def step(i: Long): Unit
  /** A fixed step count for a run of `seconds`, for a workload whose
   *  figures depend on where the run stops; None runs whole steps
   *  until the time is up.
   */
  def stepsFor(seconds: Double): Option[Long] = None
  /** Checks made once after the timed loop, outside its timing. */
  def finish(): Unit = ()
  /** Stop anything the workload started (streams). */
  def close(): Unit = ()
  def perLayer(elapsedS: Double): Seq[Metric]
  /** On-disk bytes of the workload's telemetry store per point it holds. */
  def bytesPerItem: Double
  /** Start recording per-layer counts for the traced phase. */
  def startTrace(meter: EngineMeter): Unit
}

object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, workDir: Path, launchUs: Long, steps: Long = 0)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble,
      m.getOrElse("trace", "0") == "1",
      Paths.get(m.getOrElse("work-dir", "perfbench-work")).toAbsolutePath,
      m.get("launch-us").map(_.toLong)
        .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L))
  }

  /** The session exactly as `graft.Bench` builds it, at local[nproc];
   *  only scratch locations are pointed inside the run's work dir.
   */
  def session(cpus: Int, workDir: Path): SparkSession = {
    val spark = graft.SessionTuning(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true"))
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Every per-layer metric the traced run reports, on every workload:
   *  a layer the workload does not exercise reports 0.
   */
  val PerLayer: Seq[(String, String)] = Seq(
    "api.get_plan_ms_p50" -> "ms", "api.get_exec_ms_p50" -> "ms") ++
    Oracle.LevelNames.map(l => s"query.routed.$l" -> "count") ++ Seq(
    "query.rows_returned_per_chart" -> "count", "query.page_ms_p50" -> "ms",
    "query.histogram_ms_p50" -> "ms", "query.search_ms_p50" -> "ms",
    "query.search_rows_scanned" -> "count",
    "store.manifest_read_ms_p50" -> "ms", "store.live_commits_p50" -> "count",
    "store.files_read_per_chart" -> "count", "store.bytes_read_per_chart" -> "B",
    "store.rows_read_per_row_returned" -> "ratio",
    "store.files_written_per_batch" -> "count", "store.compactions" -> "count",
    "store.compaction_batch_ms_p50" -> "ms", "store.bytes_written_per_point" -> "B",
    "store.files_live_end" -> "count",
    "streaming.ingest_points_per_s" -> "1/s", "streaming.add_batch_ms_p50" -> "ms",
    "streaming.overhead_ms_p50" -> "ms", "streaming.batches" -> "count",
    "comments.query_ms_p50" -> "ms", "comments.parts_live_p50" -> "count",
    "comments.compactions" -> "count",
    "text.search_plan_ms_p50" -> "ms", "text.search_exec_ms_p50" -> "ms",
    "text.jobs_per_search" -> "count", "text.ingest_ms_p50" -> "ms",
    "text.ingest_docs_per_s" -> "1/s", "text.live_commits_end" -> "count",
    "dedup.check_ms_p50" -> "ms", "sim.query_ms_p50" -> "ms",
    "sim.recall_at_10" -> "share",
    "spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
    "spark.task_s" -> "s", "spark.slot_busy_share" -> "share",
    "spark.driver_gap_share" -> "share", "spark.shuffle_bytes" -> "B",
    "spark.gc_s" -> "s", "trace.overhead_share" -> "share")

  /** `ms` in [[PerLayer]] order, with 0 for the layers not exercised. */
  def perLayerAll(ms: Seq[Metric]): Seq[Metric] = {
    val got = ms.map(m => m.name -> m).toMap
    val unknown = got.keySet -- PerLayer.map(_._1)
    require(unknown.isEmpty, s"per-layer metrics missing from the list: $unknown")
    PerLayer.map { case (n, u) => got.getOrElse(n, Metric(n, 0.0, u)) }
  }

  def workload(name: String, ctx: Ctx): Workload = name match {
    case "dashboard" => new Dashboard(ctx)
    case "live_ingest" => new LiveIngest(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Seconds from the epoch-µs instant `us` to now. */
  def sinceS(us: Long): Double = {
    val now = java.time.Instant.now()
    (now.getEpochSecond * 1000000L + now.getNano / 1000 - us) / 1e6
  }

  /** Run `body`, logging how long the set-up stage `what` took. */
  def stage[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally log(f"$what: ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** Driver heap in use after forced full collections: the least of
   *  three, since one collection can leave just-released objects behind.
   */
  def heapAfterGcMb(): Double = (0 until 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** The timed phase's extent: the next step index, its wall time and
   *  the ops it attempted.
   */
  final case class Phase(next: Long, elapsedS: Double, ops: Long)

  /** Run the closed loop: `a.steps` steps when set (tests), else the
   *  workload's fixed count, else whole steps until `a.seconds` are up.
   */
  def timedPhase(wl: Workload, ctx: Ctx, a: Args, from: Long): Phase = {
    val t0 = System.nanoTime()
    val fixed = if (a.steps > 0) Some(a.steps) else wl.stepsFor(a.seconds)
    val deadline = t0 + (a.seconds * 1e9).toLong
    var i = from
    def more: Boolean = fixed.fold(System.nanoTime() < deadline)(i - from < _)
    while (more) { ctx.tracer.req = i; wl.step(i); i += 1 }
    val phase = Phase(i, (System.nanoTime() - t0) / 1e9, ctx.led.attempted)
    wl.finish()
    phase
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
      finally s.close()
    }

  /** Every regular file under `root`, with its size. */
  def filesUnder(root: Path): Map[String, Long] =
    if (!Files.exists(root)) Map.empty
    else {
      val s = Files.walk(root)
      try {
        val m = Map.newBuilder[String, Long]
        s.filter(Files.isRegularFile(_)).forEach(p => m += p.toString -> Files.size(p))
        m.result()
      } finally s.close()
    }

  def bytesUnder(dirs: Seq[String]): Long = dirs.map(d => filesUnder(Paths.get(d)).values.sum).sum

  /** The end-to-end metrics every workload reports, from its ledger. A
   *  latency with no successful sample (every such op failed) reads as
   *  the whole phase, so the run still reports it.
   */
  def endToEnd(wl: Workload, led: Ledger, p: Phase): Seq[Metric] = Seq(
    Metric("read_ms_p50", Stats.medianOr(led.of("read"), p.elapsedS * 1e3), "ms"),
    Metric("write_ms_p50", Stats.medianOr(led.of("write"), p.elapsedS * 1e3), "ms"),
    Metric("ops_per_s", p.ops / p.elapsedS, "1/s"),
    Metric("bytes_per_item", wl.bytesPerItem, "B"))

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.workDir)
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = session(cpus, a.workDir)
    val sessionS = sinceS(a.launchUs)
    val ctx = new Ctx(spark, a.seed, a.workDir)
    val wl = workload(a.workload, ctx)
    stage("set-up")(wl.setup())
    stage("warm-up")(wl.warmup())
    val setupS = sinceS(a.launchUs)
    log(f"session $sessionS%.1f s, set-up total $setupS%.1f s")

    ctx.led = new Ledger
    val phase = timedPhase(wl, ctx, a, 0L)
    val heapMb = heapAfterGcMb()
    val untraced = ctx.led
    log(f"timed phase: ${phase.next} steps, ${phase.ops} ops in ${phase.elapsedS}%.1f s; " +
      untraced.summary)
    log("read ms: " + untraced.of("read").map(x => f"$x%.0f").mkString(" "))
    log("write ms: " + untraced.of("write").map(x => f"$x%.0f").mkString(" "))
    val e2e = endToEnd(wl, untraced, phase) ++ Seq(
      Metric("setup_s", setupS, "s"), Metric("heap_mb", heapMb, "MB"))

    val (led, metrics) =
      if (!a.trace) (untraced, e2e)
      else {
        // the traced phase runs after the untraced one on the same store;
        // its primary metric against the untraced figure is the overhead
        val meter = new EngineMeter
        spark.sparkContext.addSparkListener(meter)
        val traced = new Tracer(true)
        val tctx = ctx
        tctx.led = new Ledger
        tctx.tracer = traced
        wl.startTrace(meter)
        val gc0 = gcMs
        val wall0 = System.currentTimeMillis()
        val tPhase = timedPhase(wl, tctx, a, phase.next)
        val wall1 = System.currentTimeMillis()
        org.apache.spark.perfbench.Bus.drain(spark)
        val ops = math.max(1L, tctx.led.attempted).toDouble
        val base = Stats.medianOr(untraced.of("read"), 0.0)
        val tracedPrimary = Stats.medianOr(tctx.led.of("read"), 0.0)
        val wallMs = math.max(1L, wall1 - wall0).toDouble
        val engine = Seq(
          Metric("spark.jobs_per_op", meter.jobs / ops, "count"),
          Metric("spark.tasks_per_op", meter.tasks / ops, "count"),
          Metric("spark.task_s", meter.taskRunNs / 1e9 / ops, "s"),
          Metric("spark.slot_busy_share", meter.taskRunNs / 1e6 / (wallMs * cpus), "share"),
          Metric("spark.driver_gap_share", 1.0 - meter.busyMs(wall0, wall1) / wallMs, "share"),
          Metric("spark.shuffle_bytes", meter.shuffleBytes / ops, "B"),
          Metric("spark.gc_s", (gcMs - gc0) / 1e3, "s"),
          Metric("trace.overhead_share",
            if (base > 0) tracedPrimary / base - 1.0 else 0.0, "share"))
        traced.dump(a.workDir.getParent.resolve(s"trace-${a.workload}-${a.seed}.jsonl"))
        // one ledger decides correctness and failures for both phases
        untraced.absorb(tctx.led)
        (untraced, perLayerAll(wl.perLayer(tPhase.elapsedS) ++ engine))
      }

    led.mismatches.foreach(m => System.err.println(s"[perfbench] MISMATCH $m"))
    led.errors.foreach(m => System.err.println(s"[perfbench] FAILED $m"))
    wl.close()
    spark.stop()
    println(Json.result(led.correct, led.attempted, led.failed, metrics))
    System.out.flush()
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def result(correct: Boolean, attempted: Long, failed: Long, ms: Seq[Metric]): String =
    ms.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
}
