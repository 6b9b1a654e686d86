package perfbench

import org.apache.spark.sql.Row

/**
 * Plain-Scala recomputation of the answers the engine returns, from the
 * benchmark's own generated inputs. Nothing here calls the engine.
 */
object Oracle {

  /** Fidelity levels in seconds; 0 is the raw (`full`) level. */
  val Levels: Seq[Long] = Seq(0L, 1L, 10L, 100L, 1000L, 10000L, 100000L)
  val LevelNames: Seq[String] = Levels.map(l => if (l == 0) "full" else l.toString)

  /** The routing rule charts obey: the finest level whose ~5000-point
   *  file span (500 s at 10 Hz for raw) still covers the query span.
   */
  def route(startUs: Long, endUs: Long): Long = {
    val spanS = (endUs - startUs) / 1e6
    Levels.find(l => spanS < (if (l == 0) 500.0 else 5000.0 * l)).getOrElse(100000L)
  }

  /** A chart row: raw (ts, v, v, v, 1) or bucket (start, min, mean, max). */
  final case class Point(t: Long, min: Double, mean: Double, max: Double)

  /** Expected chart for points sorted by ts: raw points in [start, end]
   *  at full fidelity, else per-bucket min/mean/max for buckets whose
   *  START lies in [start s, end s].
   */
  def chart(ts: Array[Long], v: Array[Double], startUs: Long, endUs: Long): (Long, Seq[Point]) = {
    val level = route(startUs, endUs)
    if (level == 0) {
      val lo = lowerBound(ts, startUs)
      val hi = lowerBound(ts, endUs + 1)
      (0L, (lo until hi).map(i => Point(ts(i), v(i), v(i), v(i))))
    } else {
      val (startS, endS) = (startUs / 1000000L, endUs / 1000000L)
      val lo = lowerBound(ts, startS * 1000000L)
      val hi = lowerBound(ts, (endS / level * level + level) * 1000000L)
      val out = scala.collection.mutable.ArrayBuffer.empty[Point]
      var i = lo
      while (i < hi) {
        val b = ts(i) / (level * 1000000L) * level
        var (mn, mx, sum, n) = (v(i), v(i), 0.0, 0)
        while (i < hi && ts(i) / (level * 1000000L) * level == b) {
          mn = math.min(mn, v(i)); mx = math.max(mx, v(i)); sum += v(i); n += 1; i += 1
        }
        if (b >= startS && b <= endS) out += Point(b, mn, sum / n, mx)
      }
      (level, out.toSeq)
    }
  }

  def lowerBound(a: Array[Long], x: Long): Int = {
    var (lo, hi) = (0, a.length)
    while (lo < hi) { val m = (lo + hi) >>> 1; if (a(m) < x) lo = m + 1 else hi = m }
    lo
  }

  /** Engine chart rows → Points sorted by time. */
  def fromRows(rows: Array[Row], level: Long): Seq[Point] =
    rows.toSeq.map { r =>
      if (level == 0) Point(r.getLong(0), r.getDouble(1), r.getDouble(1), r.getDouble(1))
      else Point(r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
    }.sortBy(_.t)

  def close(a: Double, b: Double): Boolean =
    a == b || math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** First difference between two charts, if any. */
  def diffChart(want: Seq[Point], got: Seq[Point]): Option[String] =
    if (want.size != got.size) Some(s"${got.size} rows, want ${want.size}")
    else want.zip(got).collectFirst {
      case (w, g) if w.t != g.t || w.min != g.min || w.max != g.max || !close(w.mean, g.mean) =>
        s"row $g, want $w"
    }

  /** Comments in [start, end] carrying every requested tag, by (date,
   *  id), at most 20.
   */
  def comments(model: Map[Long, Gen.CommentIn], startUs: Long, endUs: Long,
      tags: Seq[String]): Seq[(Long, Long, String)] =
    model.toSeq
      .filter { case (_, c) => c.dateUs >= startUs && c.dateUs <= endUs && tags.forall(c.tags.contains) }
      .map { case (id, c) => (id, c.dateUs, c.text) }
      .sortBy(c => (c._2, c._1))
      .take(20)

  /** Catalog search: names containing `q`, sorted, capped at 300. */
  def datasets(names: Seq[String], q: String): Seq[String] =
    names.filter(_.contains(q)).sorted.take(300)
}
