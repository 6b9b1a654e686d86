package graft

import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite

/**
 * The suite runs the shipped session, and the Spark defaults that
 * session relies on still hold: if a Spark upgrade moves one, the
 * benchmarked session would change silently.
 */
class SessionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("the test session is the shipped session on 4 cores") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(conf.get("spark.sql.shuffle.partitions") == "4")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.sessionState.conf
      .getConf(SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD) == 128)
    val hadoop = spark.sessionState.newHadoopConf()
    assert(hadoop.get("mapreduce.fileoutputcommitter.algorithm.version") == "2")
    assert(hadoop.get("mapreduce.fileoutputcommitter.marksuccessfuljobs") == "false")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("the Spark defaults the shipped session relies on keep their values") {
    val c = spark.sessionState.conf
    assert(c.getConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED) == true)
    assert(c.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST) == true)
    assert(c.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES) == 64L * 1024 * 1024)
    assert(c.getConf(SQLConf.PREFER_SORTMERGEJOIN) == true)
    assert(c.getConf(SQLConf.ADAPTIVE_MAX_SHUFFLE_HASH_JOIN_LOCAL_MAP_THRESHOLD) == 0L)
  }

  test("SPARK_GRAFT_CPUS is a positive integer or rejected by name") {
    assert(SessionTuning.parseCores(None, 6) == 6)
    assert(SessionTuning.parseCores(Some("3"), 6) == 3)
    for (bad <- Seq("x", "0", "-2", "")) {
      val e = intercept[IllegalArgumentException](
        SessionTuning.parseCores(Some(bad), 6))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS"), bad)
    }
  }
}
