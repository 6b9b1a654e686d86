package graft

import org.apache.spark.sql.SparkSession

/**
 * The one session builder: Bench, Verify, Profile, the tools and the
 * test suite all run the session built by [[session]], so the session
 * the gates run is the one that is benchmarked.
 *
 * AQE partition coalescing and the join policy are Spark's defaults
 * (AQE on, `parallelismFirst`, 64 MB advisory partitions, sort-merge
 * joins, no AQE shuffled-hash rewrite); the A/Bs that kept them are in
 * OPTIMIZATION_r15.md and plans/r16/join_policy_ab.md. SessionSpec
 * fails if a Spark upgrade moves one of them.
 */
object SessionTuning {
  /** Local worker threads: `SPARK_GRAFT_CPUS`, else the host's cores. */
  def cores: Int =
    parseCores(sys.env.get("SPARK_GRAFT_CPUS"),
      Runtime.getRuntime.availableProcessors)

  /** `SPARK_GRAFT_CPUS` as a core count; unset means `hostCores`. */
  def parseCores(value: Option[String], hostCores: Int): Int =
    value.fold(hostCores) { v =>
      v.toIntOption.filter(_ > 0).getOrElse(throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'"))
    }

  /** The shipped session on `local[cores]`. */
  def session(cores: Int): SparkSession = {
    val spark = apply(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // direct task commits + no _SUCCESS markers: the stores write many
      // small partition dirs per batch, and v1's sequential driver-side
      // renames dominate at that file count
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** File-source listing below 128 paths runs inline on the driver: a
   *  local/POSIX listing is a few syscalls, cheaper than a listing job.
   */
  def apply(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.sources.parallelPartitionDiscovery.threshold", "128")
}
