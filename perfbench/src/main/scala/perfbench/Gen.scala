package perfbench

import java.util.SplittableRandom

/**
 * Seeded input generation. Every input a workload feeds the engine
 * comes from here, and the same (seed, stream) pair always yields the
 * same values, so a run is reproducible from its `--seed` alone and the
 * correctness checks can recompute answers from the generated inputs.
 */
object Gen {

  /** End of the generated history: 2026-01-01T00:00:00Z, in seconds. */
  val T0: Long = 1767225600L
  val T0Us: Long = T0 * 1000000L
  val YearS: Double = 365.25 * 86400

  /** An independent random stream per (seed, purpose, index). */
  def rng(seed: Long, stream: Long, index: Long = 0L): SplittableRandom =
    new SplittableRandom(
      (seed * 0x9E3779B97F4A7C15L) ^ (stream * 0xC2B2AE3D27D4EB4FL) ^ index)

  def logUniform(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.exp(math.log(lo) + r.nextDouble() * (math.log(hi) - math.log(lo)))

  /** One series: points sorted by timestamp (epoch µs), distinct times. */
  final case class Series(id: String, ts: Array[Long], v: Array[Double]) {
    def size: Int = ts.length
  }

  val Metrics: Seq[String] =
    Seq("cpu.percent", "mem.used", "disk.read_bytes", "net.rx_bytes")

  /** Dotted series names in the reference's style (`host07.cpu.percent`). */
  def seriesNames(hosts: Int): IndexedSeq[String] =
    for (h <- 0 until hosts; m <- Metrics) yield f"host$h%02d.$m"

  /** Dashboard history for one series: `dense` points on the 10 Hz grid
   *  ending at T0 (the live tail a full-fidelity chart reads) plus
   *  `sparse` points at log-uniform ages from the tail's start back two
   *  years, so every fidelity level from `full` to `100000` has data.
   */
  def history(seed: Long, idx: Int, id: String, dense: Int, sparse: Int): Series = {
    val r = rng(seed, 1, idx)
    val denseStartUs = T0Us - dense * 100000L
    val old = new java.util.TreeSet[java.lang.Long]()
    while (old.size < sparse) {
      val ageS = logUniform(r, 1.0, 2.1 * YearS)
      old.add(denseStartUs - math.round(ageS * 1e6))
    }
    val ts = new Array[Long](sparse + dense)
    var i = 0
    old.forEach { t => ts(i) = t; i += 1 }
    for (j <- 0 until dense) ts(sparse + j) = denseStartUs + (j + 1) * 100000L
    val base = 10.0 + (idx % 17) * 5.0
    val v = ts.map(t => value(r, base, t))
    Series(id, ts, v)
  }

  /** A telemetry-like value: a daily cycle plus noise, 3-decimal steps. */
  def value(r: SplittableRandom, base: Double, tsUs: Long): Double = {
    val day = math.sin((tsUs / 1e6) * 2 * math.Pi / 86400.0)
    math.round((base * (1.0 + 0.3 * day) + r.nextGaussian() * 2.0) * 1000) / 1000.0
  }

  /** A dashboard chart request: series index and [start, end] in µs. */
  final case class Chart(series: Int, startUs: Long, endUs: Long)

  /** Span bands (seconds) that route to each fidelity level, `full`
   *  first: together log-uniform-ish from one minute to two years.
   */
  val SpanBands: IndexedSeq[(Double, Double)] = IndexedSeq(
    (60.0, 499.0), (500.0, 4999.0), (5e3, 49999.0), (5e4, 499999.0),
    (5e5, 4999999.0), (5e6, 49999999.0), (5e7, 2.0 * YearS))

  /** A chart whose span routes to level `band` (an index into
   *  [[SpanBands]]). Half of the windows end at the newest data, the
   *  rest at a log-uniform age, so recent windows are favoured.
   */
  def chart(r: SplittableRandom, nSeries: Int, band: Int): Chart = {
    val spanS = logUniform(r, SpanBands(band)._1, SpanBands(band)._2)
    val endAgeS =
      if (r.nextInt(2) == 0) 0.0 else logUniform(r, 1.0, 2.1 * YearS - spanS)
    val endUs = T0Us - math.round(endAgeS * 1e6)
    Chart(r.nextInt(nSeries), endUs - math.round(spanS * 1e6), endUs)
  }

  /** Comment text and tags: `;`-free, drawn from a small tag vocabulary. */
  val Tags: IndexedSeq[String] = IndexedSeq("deploy", "incident", "note", "alert", "oncall")

  final case class CommentIn(dateUs: Long, text: String, tags: Seq[String])

  def comment(r: SplittableRandom, n: Long): CommentIn = {
    val dateUs = T0Us - math.round(logUniform(r, 1.0, 2.0 * YearS) * 1e6)
    val tags = Tags.filter(_ => r.nextInt(3) == 0)
    CommentIn(dateUs, s"annotation $n", tags)
  }

  // ---- doc_search corpus --------------------------------------------

  /** Zipf(1.1) sampler over `vocab` ranks via an inverse-CDF table. */
  final class Zipf(vocab: Int, s: Double = 1.1) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(vocab)(k => 1.0 / math.pow(k + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / tot }
    }
    def draw(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(vocab - 1, if (i >= 0) i else -i - 1)
    }
  }

  def word(rank: Int): String = s"w$rank"

  /** A document of 20..60 Zipf-distributed words, space-separated (the
   *  text index's tokenizer splits on single spaces).
   */
  def doc(r: SplittableRandom, z: Zipf): String =
    Seq.fill(20 + r.nextInt(41))(word(z.draw(r))).mkString(" ")

  /** Unit-free embedding: `dim` gaussians around one of `clusters`
   *  seeded centres, so IVF cells carry real structure.
   */
  def vector(r: SplittableRandom, centres: IndexedSeq[Array[Double]]): Array[Double] = {
    val c = centres(r.nextInt(centres.size))
    c.map(x => math.round((x + r.nextGaussian() * 0.35) * 1e4) / 1e4)
  }

  def centres(seed: Long, clusters: Int, dim: Int): IndexedSeq[Array[Double]] = {
    val r = rng(seed, 40)
    IndexedSeq.fill(clusters)(Array.fill(dim)(r.nextGaussian()))
  }
}
