package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/**
 * BOUNDED TOP-K RANK: the first `k` rows of `df` in `order` (a total
 * order — every caller ends it with its unique key, so ties keep their
 * tie-breakers), with a trailing 1-based BIGINT `rank`.
 * `orderBy(...).limit(k)` plans as TakeOrderedAndProject: a top-k per
 * task, then one merge over at most k rows per task — never the whole
 * input through one task, as a partition-less
 * `row_number() OVER (ORDER BY ...)` straight over `df` would. The rank
 * window then sees at most k rows and sits on the limit's one output
 * partition, so it adds no exchange; it is a window and not a row
 * counter because the optimizer may drop a limit over an input already
 * known to hold ≤ k rows, and the global sort left in its place spreads
 * its output over several partitions. The window is partitioned on
 * [[oneRankGroup]], a constant: it holds the same rows as a
 * partition-less window, and the limit's one partition already
 * satisfies it, so it adds no exchange there.
 *
 * The ranked text-index searches and the one-vector ANN probe share it.
 */
object TopK {

  def apply(df: DataFrame, k: Int, order: Column*): DataFrame =
    df.orderBy(order: _*).limit(k)
      .withColumn("rank", row_number()
        .over(Window.partitionBy(oneRankGroup).orderBy(order: _*)).cast("long"))

  /** The constant key of the rank window. A UDF and not a literal: the
   *  optimizer strips a literal partition key (EliminateWindowPartitions),
   *  which leaves a partition-less window that Spark warns about as a
   *  single-partition hazard on every ranked query, although this one
   *  sees at most k rows.
   */
  private val oneRankGroup: Column = udf(() => 0).apply()
}
