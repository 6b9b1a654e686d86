package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.streaming.StreamForget
import graft.text.TextIndex
import graft.store.IndexCore

/**
 * The erasure contract at BYTE grain: after a cross-index takedown +
 * tombstone-scoped retirement + vacuum, the erased content's bytes are
 * physically gone from disk — not merely filtered out of answers. A
 * sentinel token that exists ONLY in the erased docs is (1) provably
 * findable in the raw index files before the takedown (so the byte
 * scanner is not vacuous), and (2) absent from every byte of every
 * file left on disk afterwards, across all three indexes. The
 * registered `index_forget_audit` query certifies the serving paths
 * and row-level physical state; this spec owns the raw-bytes half.
 */
class TakedownAuditSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val Sentinel = "xqzzy777secret"

  import scala.jdk.CollectionConverters._

  /** Every regular file under `root`, recursively. */
  private def filesUnder(root: String): Seq[java.nio.file.Path] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) return Seq.empty
    val s = java.nio.file.Files.walk(p)
    try s.iterator().asScala
      .filter(java.nio.file.Files.isRegularFile(_)).toSeq
    finally s.close()
  }

  /** Files under `root` whose raw bytes contain `needle` (ASCII). */
  private def filesCarrying(root: String, needle: String): Seq[String] = {
    val nb = needle.getBytes("UTF-8")
    filesUnder(root).filter { f =>
      val b = java.nio.file.Files.readAllBytes(f)
      var i = 0
      var found = false
      while (!found && i <= b.length - nb.length) {
        var j = 0
        while (j < nb.length && b(i + j) == nb(j)) j += 1
        if (j == nb.length) found = true
        i += 1
      }
      found
    }.map(_.toString)
  }

  test("after forgetWhereAll + retirement + vacuum, the sentinel's " +
      "bytes are gone from every file of every index (provably " +
      "findable before), no live dir is superseded, and every " +
      "serving path is dark") {
    // uncompressed parquet pages so the byte scanner sees strings
    // verbatim — restored after the test
    val codec = spark.conf.get("spark.sql.parquet.compression.codec")
    spark.conf.set("spark.sql.parquet.compression.codec", "uncompressed")
    try {
      val textIdx = TestSpark.tmpDir("aud_bytes_text")
      val dedupIdx = TestSpark.tmpDir("aud_bytes_dedup")
      val annIdx = TestSpark.tmpDir("aud_bytes_ann")
      val secret =
        s"the confidential $Sentinel payload hides between common words"
      val corpus = Seq(
        (0L, "spark merge sort merge window table"),
        (1L, "window scan window window merge batch"),
        (2L, "merge window table scan batch stream"),
        (100L, secret),
        (101L, s"another copy of the $Sentinel payload someone crawled"))
        .toDF("doc_id", "text")
      // two text shards so retirement rewrites only the touched one
      TextIndex.ingestShard(spark, textIdx,
        corpus.where(col("doc_id") < 100L), "doc_id", "text",
        key = Some("a"))
      TextIndex.ingestShard(spark, textIdx,
        corpus.where(col("doc_id") >= 100L), "doc_id", "text",
        key = Some("b"))
      Dedup.indexCheckAndIngest(spark, dedupIdx, corpus,
        "doc_id", "text", 0.6, deliveryKey = Some("a"),
        persistPairs = true): Unit
      val emb = Similarity.asDouble(
        corpus.select("doc_id").collect().map(_.getLong(0)).zipWithIndex
          .map { case (id, i) =>
            val a = Array.fill(8)(0f); a(i % 8) = 1f; (id, a)
          }.toSeq.toDF("vec_id", "embedding"), "vec_id", "embedding")
      Similarity.ivfIndexBuild(spark, annIdx, emb, centroidStep = 2L,
        key = Some("a"))

      // the scanner is NOT vacuous: pre-takedown the sentinel is
      // findable in the text index's raw files (docs/post/pos/vocab/
      // del legs all carry the token or its variants)
      val carriersPre = filesCarrying(textIdx, Sentinel)
      assert(carriersPre.nonEmpty,
        "byte scanner found no sentinel before the takedown — the " +
          "post-takedown absence check would be vacuous")

      val n = StreamForget.forgetWhereAll(spark,
        col("text").contains(Sentinel), "gdpr", textIdx,
        dedupIdx = Some(dedupIdx), annIdx = Some(annIdx))
      assert(n == 2L)
      assert(TextIndex.retireTombstones(spark, textIdx) == 1)
      assert(Dedup.indexRetireTombstones(spark, dedupIdx) == 1)
      assert(Similarity.ivfIndexRetireTombstones(spark, annIdx) == 1)
      IndexCore.vacuum(spark, textIdx)
      IndexCore.vacuum(spark, dedupIdx)
      IndexCore.vacuum(spark, annIdx)

      // BYTES GONE: no file of any index carries the sentinel
      for (idx <- Seq(textIdx, dedupIdx, annIdx)) {
        val carriers = filesCarrying(idx, Sentinel)
        assert(carriers.isEmpty,
          s"sentinel bytes survive on disk after erasure: $carriers")
      }
      // and the pre-takedown carrier files are deleted, not rewritten
      for (f <- carriersPre)
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(f)),
          s"pre-takedown carrier file still exists: $f")
      // vacuum left only live entries on disk
      val conf = spark.sessionState.newHadoopConf()
      for (idx <- Seq(textIdx, dedupIdx, annIdx)) {
        val live = new graft.store.CommitLog(s"$idx/_manifests")
          .latest(spark)._2.toSet
        assert(!live.exists(_.startsWith("t-")))
        val dd = new org.apache.hadoop.fs.Path(s"$idx/data")
        val onDisk = dd.getFileSystem(conf).listStatus(dd)
          .map(_.getPath.getName).toSet
        assert(onDisk.subsetOf(live),
          s"vacuum left superseded dirs: ${onDisk.diff(live)}")
      }

      // serving paths dark; survivors intact
      assert(TextIndex.searchBm25(spark, textIdx, Seq(Sentinel), 10)
        .count() == 0L)
      assert(TextIndex.suggestPrefix(spark, textIdx, "xqzzy", 10)
        .count() == 0L, "fully-deleted token still suggests")
      assert(TextIndex.suggestFuzzy(spark, textIdx, Sentinel, 2, 10)
        .count() == 0L)
      assert(TextIndex.docsWhere(spark, textIdx,
        col("text").contains(Sentinel)).count() == 0L)
      assert(TextIndex.docsFor(spark, textIdx, Seq(0L, 1L, 2L))
        .count() == 3L, "survivors lost")
      assert(Similarity.ivfIndexQuery(spark, annIdx,
          emb.where(col("vec_id") === 0L), k = 5, nProbe = 3)
        .collect().forall(r => r.getLong(1) < 100L),
        "erased vectors still probe as neighbors")
      // the erased content no longer gates the dedup index
      assert(Dedup.indexCheckAndIngest(spark, dedupIdx,
        Seq((900L, secret + " x")).toDF("doc_id", "text"),
        "doc_id", "text", 0.6).count() == 0L,
        "erased content still gates the dedup index")
    } finally
      spark.conf.set("spark.sql.parquet.compression.codec", codec)
  }
}
