package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared shipped session on 4 cores for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = SessionTuning.session(4)

  /** ISO-8601 (no zone, interpreted as UTC) → epoch microseconds. */
  def isoUs(iso: String): Long = {
    val ldt = java.time.LocalDateTime.parse(iso)
    ldt.toInstant(java.time.ZoneOffset.UTC).toEpochMilli * 1000L +
      ldt.getNano / 1000 % 1000
  }

  /** Build a canonical long DF from (datasetId, iso, value) triples. */
  def longDF(points: Seq[(String, String, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    points.map { case (d, iso, v) => (d, isoUs(iso), v) }
      .toDF("dataset_id", "ts_us", "value")
  }

  /** `body`'s result and the number of Spark jobs it started, counted
   *  by a listener over a job group of its own (jobs of other threads
   *  are not counted) once the listener bus has drained.
   */
  def countJobs[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"count-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job count")
      val out = try body finally sc.clearJobGroup()
      org.apache.spark.TestBus.drain(sc)
      (out, jobs.get())
    } finally sc.removeSparkListener(listener)
  }

  def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** Driver-generated small-SF dataset used by the plan-shape and ANN
   *  recall characterization specs. Resolved from the environment so
   *  other checkouts can point elsewhere; specs `assume(hasData)` and
   *  SKIP (not fail) when the directory is absent.
   */
  val dataDir: String =
    sys.env.getOrElse("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")

  def hasData: Boolean =
    java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dataDir))
}
