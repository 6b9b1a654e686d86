package graft.store

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * S12 / P5 / F7 / F14 / O3 — the comments ("marks") annotation store.
 *
 * The reference keeps all comments in one date-sorted file, rewritten on
 * every mutation (src/marks.py:31, 84-91, 144-181), assigns nanosecond
 * ids at create (src/marks.py:82), rejects `;` in fields (its CSV
 * delimiter, src/marks.py:74-79), and serves range + tag-subset queries
 * capped at 20 (src/marks.py:34-63).
 *
 * Spark shape: an UPSERT/TOMBSTONE LOG, not a per-mutation rewrite.
 * Each mutation appends one tiny parquet part carrying `(_seq epoch-ns,
 * _del)` alongside the row; readers fold latest-`_seq`-per-id, drop
 * tombstones, and serve date-sorted — the same observable semantics as
 * the reference's sorted rewrite, at O(1) write cost per mutation
 * instead of O(table). Once the live part count passes
 * [[CompactAfterParts]] the folded state is rewritten as one sorted
 * base file (tmp-write + atomic swap through the Hadoop FileSystem API,
 * so HDFS/S3 roots work) — the store_compact pattern, which keeps reads
 * bounded at ≤ CompactAfterParts+1 footers. The table stays
 * broadcast-small by construction, so if it is ever joined to fact data
 * it broadcasts. Ids are assigned at the API layer, never inside a
 * distributed job (SURVEY §7.4.5).
 */
object CommentStore {

  val schema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("date_us", LongType),
    StructField("text", StringType),
    StructField("tags", ArrayType(StringType))))

  /** Mutations between compactions before the log folds to one file. */
  val CompactAfterParts: Int = 16

  // strictly-increasing epoch-ns mutation sequence (same clock contract
  // as the reference's time_ns comment ids): total order across a
  // process restart, monotonic within one under the atomic max
  private val lastSeq = new AtomicLong(0L)
  private def nextSeq(): Long = {
    val now = java.time.Instant.now()
    lastSeq.updateAndGet(prev =>
      math.max(prev + 1, now.getEpochSecond * 1000000000L + now.getNano))
  }

  /** Field validation mirroring marks.py:74-79 (no `;` anywhere). */
  def validate(text: String, tags: Seq[String]): Unit =
    require(!(text +: tags).exists(_.contains(";")), "fields may not contain ';'")

  /** The log's on-disk schema: every log part and every compacted base
   *  is written with exactly these columns.
   */
  private val logSchema: StructType = StructType(schema.fields ++ Seq(
    StructField("_seq", LongType), StructField("_del", BooleanType)))

  /** True iff the table at `path` is log-shaped (carries `_seq`). A
   *  directory never mixes shapes — a plain table is migrated whole
   *  before its first log append — so ONE part's footer, read on the
   *  driver, decides, instead of a schema-inference job over the
   *  table. A table with no top-level part (say a partitioned external
   *  one) still infers.
   */
  private def logShaped(spark: SparkSession, path: String): Boolean =
    StoreFs.firstPartHasColumn(spark, path, "_seq")
      .getOrElse(spark.read.parquet(path).columns.contains("_seq"))

  /** Current comments, date-sorted. Plain externally-written tables
   *  (no `_seq` column) are served as-is; log-shaped tables are read
   *  with their pinned schema (no inference job), fold latest-per-id
   *  and drop tombstones — in ONE task: the log holds at most
   *  [[CompactAfterParts]] parts past its broadcast-small base, so the
   *  fold coalesces below its latest-per-id window (as the chart fold
   *  does) and a read plans no exchange, one Spark job.
   */
  def load(spark: SparkSession, path: String): DataFrame =
    if (!StoreFs.exists(spark, path))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else if (!logShaped(spark, path))
      spark.read.parquet(path).select(schema.fields.toIndexedSeq.map(f =>
        col(f.name).cast(f.dataType)): _*)
    else
      spark.read.schema(logSchema).parquet(path).coalesce(1)
        .withColumn("_rn",
          row_number().over(Window.partitionBy("id").orderBy(col("_seq").desc)))
        .where(col("_rn") === 1 && !col("_del"))
        .select(col("id"), col("date_us"), col("text"), col("tags"))
        .orderBy("date_us", "id")

  /** One-part append of a single log row, then bounded compaction. A
   *  pre-existing PLAIN table (externally written, no log columns) is
   *  migrated to log shape first so the directory never mixes schemas.
   */
  private def append(
      spark: SparkSession, path: String,
      id: Long, dateUs: Long, text: String, tags: Seq[String],
      del: Boolean): Unit = {
    if (StoreFs.exists(spark, path) && !logShaped(spark, path))
      compact(spark, path) // migrates: rewrites the plain table log-shaped
    import spark.implicits._
    Seq((id, dateUs, text, tags, nextSeq(), del))
      .toDF("id", "date_us", "text", "tags", "_seq", "_del")
      .coalesce(1).write.mode("append").parquet(path)
    if (StoreFs.parquetPartCount(spark, path) > CompactAfterParts)
      compact(spark, path)
  }

  /** O3 — fold the log and rewrite it as ONE date-sorted base file
   *  (the reference's sorted-file invariant, enforced at compaction
   *  instead of per mutation). coalesce-then-sortWithinPartitions: a
   *  single-partition local sort is the same global order as `orderBy`
   *  without the range-partitioner sampling job a global sort schedules.
   */
  def compact(spark: SparkSession, path: String): Unit = {
    val tmp = path + ".tmp"
    load(spark, path)
      .withColumn("_seq", lit(nextSeq()))
      .withColumn("_del", lit(false))
      .coalesce(1).sortWithinPartitions(col("date_us"), col("id"))
      .write.mode("overwrite").parquet(tmp)
    StoreFs.replace(spark, tmp, path)
  }

  def create(
      spark: SparkSession, path: String,
      id: Long, dateUs: Long, text: String, tags: Seq[String]): Unit = {
    validate(text, tags)
    append(spark, path, id, dateUs, text, tags, del = false)
  }

  def update(
      spark: SparkSession, path: String,
      id: Long, dateUs: Long, text: String, tags: Seq[String]): Unit = {
    validate(text, tags)
    append(spark, path, id, dateUs, text, tags, del = false)
  }

  def delete(spark: SparkSession, path: String, id: Long): Unit =
    append(spark, path, id, 0L, "", Seq.empty, del = true)

  /**
   * P5 — comments with start ≤ date ≤ end whose tags are a superset of
   * every requested tag (marks.py:54-58), date order, cap 20
   * (marks.py:39).
   */
  def query(
      comments: DataFrame, startUs: Long, endUs: Long,
      tags: Seq[String], maxHits: Int = 20): DataFrame = {
    val tagPred =
      if (tags.isEmpty) lit(true)
      else size(array_except(
        array(tags.map(lit): _*), col("tags"))) === 0
    comments
      .where(col("date_us").between(startUs, endUs) && tagPred)
      .orderBy(col("date_us"), col("id"))
      .limit(maxHits)
  }
}
