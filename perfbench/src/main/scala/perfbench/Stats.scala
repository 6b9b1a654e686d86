package perfbench

import scala.collection.mutable

/** Order statistics for latency samples. */
object Stats {

  /** The fewest samples a p90 may rest on: ten samples above it. */
  val MinSamplesP90 = 100

  /** Nearest-rank percentile `q` in (0, 1]. Refuses a p90 or higher on
   *  fewer than [[MinSamplesP90]] samples, where it would rest on a
   *  handful of outliers.
   */
  def percentile(xs: Seq[Double], q: Double): Double = {
    require(q > 0 && q <= 1, s"bad quantile $q")
    require(xs.nonEmpty, "percentile of no samples")
    require(q < 0.9 || xs.size >= MinSamplesP90,
      s"p${math.round(q * 100)} needs >= $MinSamplesP90 samples, got ${xs.size}")
    val s = xs.sorted
    s(math.max(0, math.ceil(q * s.size).toInt - 1))
  }

  /** Median: mean of the two middle samples on an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def medianOr(xs: Seq[Double], none: Double): Double = if (xs.isEmpty) none else median(xs)

  def medianOr0(xs: Seq[Double]): Double = medianOr(xs, 0.0)
}

/**
 * The timed phase's ledger: per-operation latency samples plus the
 * attempt/failure counts. An op that throws counts as attempted and
 * failed and adds no latency sample; correctness mismatches are kept
 * apart from failures and turn `correct` false.
 */
final class Ledger {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var failed = 0L
  val mismatches = mutable.ArrayBuffer.empty[String]
  val errors = mutable.ArrayBuffer.empty[String]

  /** Time `body` as one user-visible read op named `name`, in ms. */
  def read[T](name: String)(body: => T): Option[T] = op(name, "read")(body)

  /** Time `body` as one user-visible write op named `name`, in ms. */
  def write[T](name: String)(body: => T): Option[T] = op(name, "write")(body)

  /** Time `body` as one op; its latency is filed under `name` and under
   *  its kind (`read`, `write`, or `index` for the doc-index ops).
   */
  def op[T](name: String, kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = body
      val ms = (System.nanoTime() - t0) / 1e6
      record(name, ms)
      record(kind, ms)
      Some(out)
    } catch {
      case e: Exception =>
        failed += 1
        if (errors.size < 5) errors += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  def record(name: String, ms: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms

  def of(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  var mismatchCount = 0L

  /** Record a correctness mismatch unless `ok`; keeps the first 20. */
  def check(ok: Boolean, what: => String): Unit =
    if (!ok) {
      mismatchCount += 1
      if (mismatches.size < 20) mismatches += what
    }

  def correct: Boolean = mismatchCount == 0

  /** Fold another phase's counts and mismatches into this ledger. */
  def absorb(o: Ledger): Unit = {
    attempted += o.attempted
    failed += o.failed
    mismatchCount += o.mismatchCount
    mismatches ++= o.mismatches.take(20 - mismatches.size)
    errors ++= o.errors.take(5 - errors.size)
  }

  def summary: String = samples.filter(_._2.nonEmpty).map { case (k, v) =>
    f"$k n=${v.size} p50=${Stats.median(v.toSeq)}%.1f ms"
  }.mkString(", ")
}
