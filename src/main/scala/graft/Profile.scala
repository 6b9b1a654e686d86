package graft

/** Local profiling aid: run one registered query N times in a warm JVM
  * and print per-rep wall times — separates JVM/codegen first-touch
  * from steady-state cost when chasing a bench outlier.
  * Usage: runMain graft.Profile <sfDir> <queryName> [reps=3]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = SessionTuning.session(SessionTuning.cores)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    // job/task accounting: when per-query seconds are mostly fixed
    // overhead (tiny fixtures), the lever is job COUNT and scheduling
    // gaps, not task compute — make that visible per rep
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    // optional per-job dump (GRAFT_PROF_JOBS=1): callSite + wall ms —
    // the fastest way to see WHICH actions a 200-job machinery probe
    // actually spends its wall clock on
    val dumpJobs = sys.env.contains("GRAFT_PROF_JOBS")
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          if (dumpJobs) {
            val site = Option(j.properties)
              .flatMap(p => Option(p.getProperty("callSite.short")))
              .orElse(j.stageInfos.lastOption.map(_.name))
              .getOrElse("?")
            jobStart.put(j.jobId, (System.nanoTime(), site)): Unit
          }
        }
        override def onJobEnd(
            j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
          if (dumpJobs) Option(jobStart.remove(j.jobId)).foreach {
            case (t0, site) => println(
              f"[job] ${j.jobId}%4d ${(System.nanoTime() - t0) / 1e6}%8.1f ms  $site")
          }
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          Option(t.taskInfo).foreach(i => taskMs.addAndGet(i.duration): Unit)
        }
      })
    for (r <- 1 to reps) {
      val (j0, t0n, tm0) = (jobs.get, tasks.get, taskMs.get)
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).queryExecution.toRdd.count()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"[profile] $name rep $r: $wall%.3f s  " +
        f"jobs=${jobs.get - j0} tasks=${tasks.get - t0n} " +
        f"taskSec=${(taskMs.get - tm0) / 1e3}%.1f")
    }
    spark.stop()
  }
}
