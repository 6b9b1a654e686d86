package perfbench

import java.nio.file.{Files, Path}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import org.apache.spark.sql.SparkSession

/** Runs the workloads against the engine for a fixed number of steps:
 *  the correctness gate must catch a wrong answer, and the counts the
 *  benchmark reports must repeat exactly at one seed.
 */
class GateSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val dir: Path = Files.createTempDirectory("perfbench-gate")
  private lazy val spark: SparkSession = Main.session(2, dir)

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(dir)
  }

  /** Set up, warm up and run `steps` steps (0: the workload's own count
   *  for a 10 s run), traced so the per-layer counts are kept.
   */
  private def run(name: String, sub: String, steps: Int): (Workload, Ctx) = {
    val ctx = new Ctx(spark, 11, dir.resolve(sub))
    val wl = Main.workload(name, ctx)
    wl.setup()
    wl.warmup()
    ctx.led = new Ledger
    ctx.tracer = new Tracer(true)
    Main.timedPhase(wl, ctx, Main.Args(name, 11, 10, trace = true, ctx.workDir, 0, steps), 0)
    (wl, ctx)
  }

  private def routing(wl: Workload): Seq[Metric] =
    wl.perLayer(1.0).filter(_.name.startsWith("query.routed."))

  test("dashboard: correct on the engine's answers, routing repeats, a wrong answer fails the gate") {
    val (a, ctxA) = run("dashboard", "dash-a", 2)
    assert(ctxA.led.correct, ctxA.led.mismatches)
    assert(ctxA.led.failed == 0)
    val (b, ctxB) = run("dashboard", "dash-b", 2)
    assert(ctxB.led.correct, ctxB.led.mismatches)
    assert(routing(a) == routing(b))
    // the engine served each page's seven panels from seven levels
    assert(routing(a).map(_.value) == Seq.fill(Dashboard.ChartsPerPage)(2.0))
    // negative control: one value of every series shifted in the
    // benchmark's own copy of the inputs, so the engine's (right) answers
    // now disagree with the expected ones on every non-empty chart
    a.asInstanceOf[Dashboard].series.foreach(s => s.v.indices.foreach(i => s.v(i) += 1.0))
    ctxA.led = new Ledger
    Main.timedPhase(a, ctxA, Main.Args("dashboard", 11, 10, trace = true, ctxA.workDir, 0, 1), 2)
    assert(!ctxA.led.correct)
  }

  test("live_ingest: correct, and bytes per point repeat exactly across two runs at one seed") {
    val (a, ctxA) = run("live_ingest", "live-a", 0)
    assert(ctxA.led.correct, ctxA.led.mismatches)
    assert(ctxA.led.failed == 0)
    val bytesA = a.bytesPerItem
    // one whole compaction cycle, ending in a fold
    assert(a.perLayer(1.0).find(_.name == "store.compactions").map(_.value).contains(1.0))
    a.close()
    val (b, ctxB) = run("live_ingest", "live-b", 0)
    assert(ctxB.led.correct, ctxB.led.mismatches)
    val bytesB = b.bytesPerItem
    b.close()
    assert(bytesA == bytesB)
  }
}
