package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional: remaining args = subset of query names to dump (debug aid)
    val only: Set[String] = args.drop(2).toSet
    val spark = SessionTuning.session(SessionTuning.cores)
    new java.io.File(outDir).mkdirs()
    // A query that crashes must still produce an output directory: a
    // 1-row marker parquet whose only column is `__graft_error__`. The
    // downstream compare then records an explicit red entry (schema and
    // rows can never match an oracle) instead of silently omitting the
    // query and letting the round's correctness file shrink while
    // reading as a full pass (round-6 ADVICE item).
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    val names = SparkEntry.queries.keySet
      .filter(name => only.isEmpty || only(name))
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        failures(name) = msg
        System.err.println(s"[verify] $name failed: $msg")
        try {
          import spark.implicits._
          Seq(s"$name: $msg").toDF("__graft_error__")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case _: Throwable => () }
      }
    }
    // loud coverage self-check: every selected query must have an output
    val missing = names.filter(n => !Files.exists(Paths.get(s"$outDir/$n")))
    if (missing.nonEmpty)
      System.err.println(s"[verify] MISSING OUTPUTS: ${missing.mkString(", ")}")
    System.err.println(
      s"[verify] ${names.size} queries, ${failures.size} failed, ${missing.size} missing")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
