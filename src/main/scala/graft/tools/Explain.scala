package graft.tools

/**
 * Plan auditor: prints `explain("formatted")` for selected registered
 * queries so scan pushdown (`PushedFilters`/`ReadSchema`), broadcast
 * joins, and WholeStageCodegen spans can be eyeballed per operator.
 *
 * Usage: runMain graft.tools.Explain <sfDir> [queryName ...]
 */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else Seq("range_full", "rollup_1s", "q3_join", "dedup_minhash",
        "ann_cosine_topk", "user_sessions", "histogram")
    // the shipped session, so the dumped plan is the shipped plan
    val spark = graft.SessionTuning.session(graft.SessionTuning.cores)
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
