package perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own pure helpers: seeded inputs, order statistics and
 *  the plain-Scala answers the correctness gate compares against.
 */
class GenSpec extends AnyFunSuite {

  /** Every input a run generates for `seed`, serialized. */
  private def inputs(seed: Long): Array[Byte] = {
    val bytes = new ByteArrayOutputStream
    val out = new DataOutputStream(bytes)
    val names = Gen.seriesNames(Dashboard.Hosts)
    for (i <- Seq(0, 17, names.size - 1)) {
      val s = Gen.history(seed, i, names(i), Dashboard.Dense, Dashboard.Sparse)
      s.ts.foreach(out.writeLong); s.v.foreach(out.writeDouble)
    }
    val r = Gen.rng(seed, 10)
    for (band <- Gen.SpanBands.indices) {
      val c = Gen.chart(r, names.size, band)
      out.writeInt(c.series); out.writeLong(c.startUs); out.writeLong(c.endUs)
    }
    for (b <- 0L until 3L) LiveIngest.batch(seed, Gen.seriesNames(LiveIngest.Hosts), b)
      ._1.foreach(out.writeUTF)
    val z = new Gen.Zipf(IndexTier.Vocab)
    val dr = Gen.rng(seed, 30)
    for (_ <- 0 until 50) out.writeUTF(Gen.doc(dr, z))
    val vr = Gen.rng(seed, 31)
    val cs = Gen.centres(seed, IndexTier.Clusters, IndexTier.Dim)
    for (_ <- 0 until 50) Gen.vector(vr, cs).foreach(out.writeDouble)
    for (n <- 1L to 5L) out.writeUTF(Gen.comment(Gen.rng(seed, 2, n), n).toString)
    out.flush()
    bytes.toByteArray
  }

  test("the same seed gives byte-identical inputs, another seed different ones") {
    assert(inputs(7).sameElements(inputs(7)))
    assert(!inputs(7).sameElements(inputs(8)))
  }

  test("history series are time-sorted with distinct timestamps") {
    val s = Gen.history(3, 5, "host01.mem.used", Dashboard.Dense, Dashboard.Sparse)
    assert(s.size == Dashboard.Dense + Dashboard.Sparse)
    assert(s.ts.sliding(2).forall(p => p(0) < p(1)))
    assert(s.ts.last == Gen.T0Us)
  }

  test("each span band routes to its own fidelity level") {
    val r = Gen.rng(1, 99)
    for (band <- Gen.SpanBands.indices; _ <- 0 until 50) {
      val c = Gen.chart(r, 100, band)
      assert(Oracle.route(c.startUs, c.endUs) == Oracle.Levels(band))
    }
  }

  test("the percentile helper refuses a p90 on fewer than 100 samples") {
    val xs = (1 to 99).map(_.toDouble)
    val e = intercept[IllegalArgumentException](Stats.percentile(xs, 0.9))
    assert(e.getMessage.contains("p90 needs >= 100 samples"))
    assert(Stats.percentile(xs :+ 100.0, 0.9) == 90.0)
    assert(Stats.percentile(xs, 0.5) == 50.0)
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  test("the chart oracle buckets by bucket start and keeps whole buckets") {
    val ts = Array(10500000L, 10900000L, 12000000L, 19999999L, 20000000L)
    val v = Array(1.0, 3.0, 5.0, 7.0, 9.0)
    // a 600 s span routes to the 1 s level
    val (level, pts) = Oracle.chart(ts, v, 10600000L, 10600000L + 600000000L)
    assert(level == 1L)
    assert(pts.head == Oracle.Point(10, 1.0, 2.0, 3.0))
    assert(pts.map(_.t) == Seq(10L, 12L, 19L, 20L))
  }

  test("the ledger keeps failed ops out of the latency samples") {
    val led = new Ledger
    assert(led.read("x")(42).contains(42))
    assert(led.write("y")(throw new IllegalStateException("boom")).isEmpty)
    assert(led.attempted == 2 && led.failed == 1)
    assert(led.of("x").size == 1 && led.of("read").size == 1)
    assert(led.of("y").isEmpty && led.of("write").isEmpty)
    assert(led.correct)
    led.check(ok = false, "wrong answer")
    assert(!led.correct && led.mismatchCount == 1)
  }

  test("the result line carries exactly correct, attempted, failed and metrics") {
    val line = Json.result(correct = true, 3, 0, Seq(Metric("read_ms_p50", 1.25, "ms")))
    assert(line == """{"correct": true, "attempted": 3, "failed": 0, "metrics": """ +
      """{"read_ms_p50": {"value": 1.25, "unit": "ms"}}}""")
  }
}
