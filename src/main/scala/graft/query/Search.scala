package graft.query

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * S7 / P6 / O4 — dataset catalog + substring search.
 *
 * The reference lists the `data/full` child directory names, keeps those
 * containing the query substring, capped at 300 (src/index.py:219-239).
 * On the API path ([[graft.api.GraftApi.datasets]]) the catalog no
 * longer scans the long table: the store memoizes each immutable raw
 * commit's distinct ids ([[graft.store.ManifestStore.datasetIds]]) and
 * the search filters that driver-side list into a local frame. Over an
 * arbitrary long table the catalog is a distinct-aggregate.
 */
object Search {

  /** Catalog of known dataset ids. */
  def catalog(long: DataFrame): DataFrame =
    long.select(col("dataset_id")).distinct()

  /** Substring search, deterministic order, cap 300 (src/index.py:219). */
  def datasets(long: DataFrame, query: String, maxCount: Int = 300): DataFrame =
    catalog(long)
      .where(col("dataset_id").contains(query))
      .orderBy(col("dataset_id"))
      .limit(maxCount)

  /** [[datasets]] over a catalog already on the driver (distinct ASCII
   *  ids): the same filter, order and cap, as a local frame of the same
   *  schema — no Spark job.
   */
  def datasets(spark: SparkSession, ids: Seq[String], query: String,
      maxCount: Int): DataFrame =
    spark.createDataFrame(
      ids.filter(_.contains(query)).sorted.take(maxCount).map(Row(_)).asJava,
      StructType(Seq(StructField("dataset_id", StringType))))
}
