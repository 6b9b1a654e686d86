package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/**
 * A7 / A6 / O2 / P7 — visible-range min/max and the equal-width
 * histogram.
 *
 * The reference renders ≤30 equal-width bars over the points in the
 * visible range, using the mean for aggregated points and the raw value
 * otherwise, with bucket count = min(#distinct values, 30)
 * (reference: public/histogram.js:58-132, max bars public/histogram.js:38;
 * range filter public/histogram.js:68-70; value/mean coalesce
 * public/histogram.js:157-163). Y-axis bounds are min/max over the same
 * in-range points (public/axes.js:118-164).
 *
 * Spark-first, in one of two plan shapes chosen by the input plan's
 * own output partitioning:
 *  - a ONE-PARTITION input (a chart whose merge-on-read fold runs in
 *    one task) is read once: one aggregate collects min, max, the
 *    distinct count and the values, and the bars group the exploded
 *    values in that same task — no exchange, no broadcast, one job.
 *    The values sit in one in-memory aggregate buffer, which cannot
 *    spill, so a one-partition input must be bounded, as a one-task
 *    chart is (≤ 4 level dirs, one row per bucket per dir); a large
 *    `coalesce(1)`'d frame belongs in the two-pass shape, so
 *    repartition it first;
 *  - any other input keeps two distributed aggregations — a 1-row
 *    stats pass (min/max/distinct), cross-joined as a 1-row broadcast
 *    rather than collected so the whole thing stays one lazy plan,
 *    then a groupBy on the computed bucket index. Nothing ever moves
 *    the points to one partition.
 * The reference instead sorts all values client-side (histogram.js:73);
 * a sort is exactly what we avoid at scale. Null values are not binned
 * (the stats aggregates skip them too), in both shapes.
 */
object Histogram {

  /** A6 — min/max of the coalesced value over the visible range. */
  def minMax(points: DataFrame, valueCol: String = "value"): DataFrame =
    points.agg(
      min(col(valueCol)).as("min_v"),
      max(col(valueCol)).as("max_v"))

  /**
   * A7 — equal-width histogram, ≤ maxBars buckets.
   * Output: (bucket BIGINT, lo, hi DOUBLE, cnt BIGINT), bucket ∈
   * [0, n). The last bucket is closed on both sides (a value equal to
   * the global max falls in bucket n-1), matching the reference's
   * "last bar absorbs the max" single-pass fill (histogram.js:100-120).
   */
  def histogram(points: DataFrame, valueCol: String, maxBars: Int = 30): DataFrame = {
    val v = col(valueCol)
    val stats = Seq(
      min(v).as("h_min"),
      max(v).as("h_max"),
      count_distinct(v).as("h_distinct"))
    // (h_v, h_min, h_max, h_distinct): every non-null value with the stats
    val binned =
      if (onePartition(points))
        points.agg(stats.head, stats.tail :+ collect_list(v).as("h_vs"): _*)
          .select(explode(col("h_vs")).as("h_v"),
            col("h_min"), col("h_max"), col("h_distinct"))
      else
        points.select(v.as("h_v")).where(col("h_v").isNotNull)
          .crossJoin(broadcast(points.agg(stats.head, stats.tail: _*)))
    val n = least(col("h_distinct"), lit(maxBars.toLong))
    val width = (col("h_max") - col("h_min")) / n.cast("double")
    binned
      .withColumn(
        "bucket",
        when(col("h_distinct") <= 1L, lit(0L)).otherwise(
          least(
            floor((col("h_v") - col("h_min")) / width).cast("long"),
            n - 1L)))
      .groupBy(col("bucket"), col("h_min"), col("h_max"), n.as("n_buckets"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        col("bucket"),
        (col("h_min") + col("bucket") * (col("h_max") - col("h_min")) / col("n_buckets")).as("lo"),
        (col("h_min") + (col("bucket") + 1) * (col("h_max") - col("h_min")) / col("n_buckets")).as("hi"),
        col("cnt"))
  }

  /** True iff `df`'s physical plan (exchanges planned, before adaptive
   *  execution re-plans it) delivers exactly one partition.
   */
  private[graft] def onePartition(df: DataFrame): Boolean =
    (df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case p => p
    }).outputPartitioning.numPartitions == 1
}
