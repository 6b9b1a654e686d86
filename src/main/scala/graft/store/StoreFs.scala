package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * Store-path filesystem operations via the Hadoop FileSystem API.
 *
 * Store roots are URIs — `hdfs://`, `s3a://`, `file://`, or bare local
 * paths — and at 100 TB they are never local. `java.io.File` resolves
 * only the last case (on HDFS/S3 every existence check would read
 * "table missing" and every table would silently scan as empty), so all
 * existence/rename/delete in the store layer goes through the scheme's
 * registered `FileSystem`, resolved from the session's Hadoop conf.
 */
private[store] object StoreFs {

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  /** True iff the path exists on its owning filesystem. */
  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fsFor(spark, p).exists(p)
  }

  /** Number of `.parquet` part files directly under `path` (0 if the
   *  path is missing) — the comment log's compaction trigger.
   */
  def parquetPartCount(spark: SparkSession, path: String): Int = {
    val p = new Path(path)
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).count(_.getPath.getName.endsWith(".parquet"))
  }

  /** Whether the first `.parquet` part directly under `path` declares
   *  column `column`, from that part's footer read on the driver (no
   *  Spark job); None when there is no such part.
   */
  def firstPartHasColumn(spark: SparkSession, path: String,
      column: String): Option[Boolean] = {
    val p = new Path(path)
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) None
    else fs.listStatus(p).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).headOption
      .map { part =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            part, spark.sessionState.newHadoopConf()))
        try reader.getFooter.getFileMetaData.getSchema.containsField(column)
        finally reader.close()
      }
  }

  /** Recursively delete `path` if it exists; a failed delete of an
   *  existing path throws (a silent false would leave the caller
   *  appending into a dir it believes gone — duplicate rows).
   */
  def delete(spark: SparkSession, path: String): Unit = {
    val p = new Path(path)
    val fs = fsFor(spark, p)
    if (fs.exists(p) && !fs.delete(p, true))
      throw new java.io.IOException(s"delete failed: $path")
  }

  /** Replace `target` with `tmp` (delete-then-rename). Parquet table
   *  swaps in the comment store go through this instead of
   *  `java.io.File.renameTo`, whose failure mode is a silent `false`.
   */
  def replace(spark: SparkSession, tmp: String, target: String): Unit = {
    val tmpP = new Path(tmp)
    val targetP = new Path(target)
    val fs = fsFor(spark, targetP)
    if (fs.exists(targetP) && !fs.delete(targetP, true))
      throw new java.io.IOException(s"delete failed: $target")
    if (!fs.rename(tmpP, targetP))
      throw new java.io.IOException(s"rename failed: $tmp -> $target")
  }
}
