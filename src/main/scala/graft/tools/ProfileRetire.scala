package graft.tools

import org.apache.spark.sql.functions._

/**
 * SCALE-HONESTY measurement for tombstone retirement vs full
 * compaction (SCALE.md "tombstone retirement"): build IDENTICAL
 * N-shard text indexes over the documents table, delete one shard's
 * %(2N) slice on each, then time [[graft.text.TextIndex
 * .retireTombstones]] (rewrites only the one covered commit holding
 * the deleted docs) against [[graft.text.TextIndex.compact]] (the old
 * policy: re-read and rewrite the WHOLE live index), and verify both
 * give identical BM25 answers.
 *
 * Usage: runMain graft.tools.ProfileRetire <sfDir> [shards=8]
 */
object ProfileRetire {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val shards = if (args.length > 1) args(1).toInt else 8
    val spark = graft.SessionTuning.session(graft.SessionTuning.cores)
    import graft.text.TextIndex

    val d = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
    def build(tag: String): String = {
      val idx = java.nio.file.Files
        .createTempDirectory(s"graft_profret_$tag").toString
      for (i <- 0 until shards)
        TextIndex.ingestShard(spark, idx,
          d.where(pmod(col("doc_id"), lit(shards)) === i),
          "doc_id", "text", key = Some(s"w$i"))
      idx
    }
    val a = build("retire")
    val b = build("compact")
    // delete the %(2*shards) == 1 slice: every deleted doc lives in
    // shard 1, so retirement has exactly one commit to rewrite. The
    // slice is capped at forgetDocs' 65536-id tombstone bound so the
    // tool keeps working at large scale factors (a production-size
    // takedown would batch across calls; the measurement doesn't need
    // to)
    val deleted = d.where(pmod(col("doc_id"), lit(2 * shards)) === 1)
      .select("doc_id").orderBy("doc_id").limit(65536)
      .collect().map(_.getLong(0)).toSeq
    TextIndex.forgetDocs(spark, a, deleted, key = Some("t"))
    TextIndex.forgetDocs(spark, b, deleted, key = Some("t"))
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val tRetire = time {
      require(TextIndex.retireTombstones(spark, a) == 1)
    }
    val tCompact = time(TextIndex.compact(spark, b))
    def answers(i: String) = TextIndex
      .searchBm25(spark, i, Seq("merge", "window", "scan"), 20)
      .collect().toSeq
    require(answers(a) == answers(b),
      "retirement and full compaction must give identical answers")
    require(TextIndex.tombstoneCount(spark, a) == 0L &&
      TextIndex.tombstoneCount(spark, b) == 0L)
    println(f"""{"metric":"retire_vs_compact","sf_dir":"$sfDir",""" +
      f""""shards":$shards,"deleted":${deleted.size},""" +
      f""""retire_sec":$tRetire%.3f,"compact_sec":$tCompact%.3f,""" +
      f""""speedup":${tCompact / tRetire}%.2f}""")
    spark.stop()
  }
}
