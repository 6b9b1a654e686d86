package graft.store

import org.apache.spark.sql.{Column, DataFrame}

/**
 * Bounded write batches in ONE task. A stream micro-batch, a text shard
 * or a dedup shard of a few thousand rows moves kilobytes, yet planned
 * as a distributed job it pays an exchange per grouping and a
 * repartition per partitioned leg: a Spark job per stage and a task per
 * shuffle partition, which at that size is most of the verb's wall time
 * (one job costs ~50-100 ms on 4 cores). A batch of at most
 * [[OneTaskRows]] rows therefore runs coalesced to ONE partition:
 * every aggregation and join above it is satisfied by the single
 * partition and plans no exchange, and a write from one task sorted on
 * its partition columns writes exactly one file per partition value —
 * the file layout a hash repartition on those columns produces, so a
 * narrowed batch leaves the same dirs, files and rows behind. A larger
 * batch keeps the parallel plan.
 *
 * Only a write BATCH is ever narrowed — its size is the caller's. An
 * index-side scan (the stored signatures a dedup shard probes, the live
 * commits a fold reads) grows with the index and stays parallel.
 */
object WriteBatch {

  /** The cut: the largest batch (docs of a text or dedup shard, points
   *  of a stream batch) that runs in one task — the smallest of the
   *  three verbs' measured crossovers, so no verb is slower in one task
   *  at any size up to it. Measured on 4 cores, both plans in one JVM,
   *  10 alternating repetitions per size (CHANGES.md has the table):
   *  one task wins up to 15,000 docs for a text shard and ~100,000
   *  points for a stream batch, but a dedup shard, whose shingling and
   *  64-way signature are CPU-heavy, ties at 1,000-2,000 docs and loses
   *  from 3,000.
   */
  val OneTaskRows: Long = 2000L

  /** The rows of a PERSISTED `df`, counted in one job that also fills
   *  its cache: `count()` over a cache plans a cache stage, an exchange
   *  and a final aggregate — three jobs under AQE.
   */
  def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** Whether a batch of `rows` rows runs in one task. */
  def oneTask(rows: Long): Boolean = rows <= OneTaskRows

  /** `df` in one partition when `one`, else as it is. */
  def narrow(df: DataFrame, one: Boolean): DataFrame =
    if (one) df.coalesce(1) else df

  /** `df` hash-clustered on `cols` (into `n` partitions when given) so a
   *  write on those columns leaves one file per value — unless `one`:
   *  its single task already does.
   */
  def clustered(df: DataFrame, one: Boolean, n: Option[Int], cols: Column*): DataFrame =
    if (one) df
    else n.fold(df.repartition(cols: _*))(df.repartition(_, cols: _*))
}
