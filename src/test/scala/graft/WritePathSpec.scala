package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.store.{IndexCore, ManifestStore, Tables, WriteBatch}
import graft.text.TextIndex

/**
 * The write path of the bounded batch ([[WriteBatch]]): a text shard,
 * a dedup check and an atomic stream batch at or below the cut run in
 * one task per write and stay within their Spark-job budgets (counted,
 * not timed — job counts do not depend on the host); either side of the
 * cut leaves the same leg rows, partition dirs and one file per bucket
 * per leg, and answers the same.
 */
class WritePathSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val cut = WriteBatch.OneTaskRows.toInt

  /** `n` seeded docs of 3-10 words over a 400-word vocabulary; doc 7
   *  repeats doc 3, so a dedup check over them has a verdict.
   */
  private def corpus(n: Int): Seq[(Long, String)] = {
    val r = new scala.util.Random(17)
    val texts = IndexedSeq.fill(n)(
      Seq.fill(3 + r.nextInt(8))(s"w${r.nextInt(400)}").mkString(" "))
    texts.indices.map(i => (i.toLong, if (i == 7) texts(3) else texts(i)))
  }

  private def docs(ds: Seq[(Long, String)]): DataFrame = ds.toDF("doc_id", "text")

  /** The one live `c-` commit dir of an index dir. */
  private def commitDir(dir: String): String = {
    val cs = IndexCore.live(spark, dir).filter(_.startsWith("c-"))
    assert(cs.size == 1, s"live commits $cs")
    IndexCore.dataDir(dir, cs.head)
  }

  private def ls(p: Path): Seq[Path] =
    if (!Files.isDirectory(p)) Nil
    else Files.list(p).iterator().asScala.toSeq.sortBy(_.getFileName.toString)

  private def parquetFiles(p: Path): Seq[Path] =
    ls(p).filter(_.getFileName.toString.endsWith(".parquet"))

  /** Per leg: partition dir name -> parquet files in it ("" for an
   *  unpartitioned leg's own files).
   */
  private def layout(entry: String): Map[String, Map[String, Int]] =
    ls(Paths.get(entry)).filter(Files.isDirectory(_)).map { leg =>
      val parts = ls(leg).filter(Files.isDirectory(_))
      leg.getFileName.toString -> (
        parts.map(p => p.getFileName.toString -> parquetFiles(p).size) :+
          ("" -> parquetFiles(leg).size)).toMap
    }.toMap

  /** A leg's rows, partition column included, as a sorted multiset. */
  private def rows(entry: String, leg: String): Seq[String] =
    spark.read.parquet(s"$entry/$leg").collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  test("job budget: a text shard 10, a dedup check 19, an atomic batch 3 (were 23, 23, 6)") {
    val idx = TestSpark.tmpDir("wp_jobs_text")
    val (_, textJobs) = TestSpark.countJobs(
      TextIndex.ingestShard(spark, idx, docs(corpus(20)), "doc_id", "text"))
    // the check probes a stored index: its scans stay parallel
    val dd = TestSpark.tmpDir("wp_jobs_dedup")
    Dedup.indexCheckAndIngest(spark, dd, docs(corpus(20).take(10)), "doc_id", "text", 0.8)
    val shard = corpus(20).drop(10) :+ ((20L, corpus(20)(3)._2))
    val (verdict, dedupJobs) = TestSpark.countJobs(
      Dedup.indexCheckAndIngest(spark, dd, docs(shard), "doc_id", "text", 0.8)
        .collect())
    val root = TestSpark.tmpDir("wp_jobs_store")
    val pts = (0 until 200).map(i =>
      (s"s${i % 5}", f"2024-01-01T00:${i / 60}%02d:${i % 60}%02d", i.toDouble))
    ManifestStore.ingestBatchAtomic(spark, root, TestSpark.longDF(pts.take(100)))
    val (_, batchJobs) = TestSpark.countJobs(
      ManifestStore.ingestBatchAtomic(spark, root, TestSpark.longDF(pts.drop(100))))
    assert(textJobs <= 10, s"a 20-doc text shard started $textJobs jobs")
    assert(verdict.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((3L, 20L), (7L, 20L)) &&
      dedupJobs <= 19, s"an 11-doc dedup check started $dedupJobs jobs: ${verdict.toSeq}")
    assert(batchJobs <= 3, s"a 100-point atomic batch started $batchJobs jobs")
  }

  test("a text shard at and one doc past the cut: same legs, dirs, one file per bucket, same BM25") {
    val at = corpus(cut)
    // one more doc, and an empty one: it adds a forward-store row only
    val past = at :+ ((cut.toLong, ""))
    val (a, b) = (TestSpark.tmpDir("wp_text_at"), TestSpark.tmpDir("wp_text_past"))
    TextIndex.ingestShard(spark, a, docs(at), "doc_id", "text")
    TextIndex.ingestShard(spark, b, docs(past), "doc_id", "text")
    val (ea, eb) = (commitDir(a), commitDir(b))
    for (leg <- Seq("post", "pos", "vocab", "del", "stats"))
      assert(rows(ea, leg) == rows(eb, leg), s"leg $leg differs across the cut")
    val (docsA, docsB) = (rows(ea, "docs"), rows(eb, "docs"))
    assert(docsB.filterNot(_.startsWith(s"$cut|")) == docsA && docsB.size == cut + 1,
      "forward store differs across the cut")
    val (la, lb) = (layout(ea), layout(eb))
    assert(la == lb, s"layouts differ:\n$la\n$lb")
    assert(la.keySet == Set("post", "pos", "vocab", "del", "stats", "docs"))
    for (leg <- Seq("post", "pos", "del", "docs")) {
      val buckets = la(leg) - ""
      assert(buckets.size == 16 && buckets.values.forall(_ == 1) && la(leg)("") == 0,
        s"leg $leg: not one file per bucket: ${la(leg)}")
    }
    for (q <- Seq(Seq("w1", "w2"), Seq("w17"), Seq("w5", "w300", "w9"))) {
      def top(idx: String) = TextIndex.searchBm25(spark, idx, q, 10).collect().toSeq
      assert(top(a) == top(b), s"BM25 $q differs across the cut")
    }
  }

  test("a dedup check at and one doc past the cut: same verdict and legs") {
    val at = corpus(cut)
    val past = at :+ ((cut.toLong, ""))
    // a stored index holding copies of 20 of the shard's docs
    val base = docs((0 until 40).map(i =>
      (1000000L + i, if (i < 20) at(i * 50)._2 else s"stored only w${i} w${i + 1} w${i + 2}")))
    val (a, b) = (TestSpark.tmpDir("wp_dedup_at"), TestSpark.tmpDir("wp_dedup_past"))
    for (d <- Seq(a, b)) Dedup.indexCheckAndIngest(spark, d, base, "doc_id", "text", 0.8)
    def verdict(d: String, shard: Seq[(Long, String)]) =
      Dedup.indexCheckAndIngest(spark, d, docs(shard), "doc_id", "text", 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    val va = verdict(a, at)
    assert(va == verdict(b, past), "the verdict differs across the cut")
    assert(va.map(p => (p._1, p._2)).toSet ==
      (0 until 20).map(i => (1000000L + i, i * 50L)).toSet, s"verdict $va")
    def shard(d: String) = IndexCore.live(spark, d).filter(_.startsWith("c-"))
      .map(IndexCore.dataDir(d, _)).sortBy(e => Files.getLastModifiedTime(Paths.get(e))).last
    for (leg <- Seq("sig", "sh"))
      assert(rows(shard(a), leg) == rows(shard(b), leg), s"leg $leg differs across the cut")
  }

  /** `n` points over 5 series, 100 ms apart in shuffled order. */
  private def points(n: Int): Seq[(String, Long, Double)] = {
    val t0 = TestSpark.isoUs("2024-01-01T00:00:00")
    new scala.util.Random(5).shuffle((0 until n).map(i =>
      (s"s${i % 5}", t0 + (i / 5) * 100000L, (i % 97).toDouble)))
  }

  private def storeEntry(root: String, kind: String): String = {
    val es = ManifestStore.latest(spark, root)._2.filter(_.startsWith(kind))
    assert(es.size == 1, s"live $kind entries $es")
    IndexCore.dataDir(ManifestStore.storeDir(root), es.head)
  }

  test("an atomic batch at and one point past the cut: same rows, level dirs and files") {
    val at = points(cut)
    val past = at :+ (("zz-pad", at.head._2, 1.0))
    val (a, b) = (TestSpark.tmpDir("wp_store_at"), TestSpark.tmpDir("wp_store_past"))
    ManifestStore.ingestBatchAtomic(spark, a, at.toDF("dataset_id", "ts_us", "value"))
    ManifestStore.ingestBatchAtomic(spark, b, past.toDF("dataset_id", "ts_us", "value"))
    def kept(entry: String) = rows(entry, "").filterNot(_.contains("zz-pad"))
    for (kind <- Seq("r-", "c-"))
      assert(kept(storeEntry(a, kind)) == kept(storeEntry(b, kind)),
        s"$kind rows differ across the cut")
    def files(entry: String): Map[String, Int] =
      (ls(Paths.get(entry)).filter(Files.isDirectory(_))
        .map(p => p.getFileName.toString -> parquetFiles(p).size) :+
        ("" -> parquetFiles(Paths.get(entry)).size)).toMap
    for (kind <- Seq("r-", "c-"))
      assert(files(storeEntry(a, kind)) == files(storeEntry(b, kind)),
        s"$kind files differ across the cut")
    assert((files(storeEntry(a, "c-")) - "").size == graft.model.Fidelity.aggLevels.size,
      "one dir per rollup level")
  }

  test("a one-task raw commit keeps its (ds_b, dataset_id, ts_us) order") {
    val root = TestSpark.tmpDir("wp_raw_order")
    val pts = new scala.util.Random(3).shuffle(for {
      s <- Seq("b", "a", "host.9", "c-1"); i <- 0 until 50
    } yield (s, TestSpark.isoUs("2024-01-01T00:00:00") + i * 1000000L, i.toDouble))
    ManifestStore.ingestBatchAtomic(spark, root, pts.toDF("dataset_id", "ts_us", "value"))
    val files = parquetFiles(Paths.get(storeEntry(root, "r-")))
    assert(files.size == 1, s"raw files $files")
    val got = spark.read.parquet(files.head.toString)
      .select(col("ds_b"), col("dataset_id"), col("ts_us"),
        Tables.dsBucket(col("dataset_id")).as("want_b"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getInt(3))).toSeq
    assert(got.forall(r => r._1 == r._4) && got.size == pts.size)
    val keys = got.map(r => (r._1, r._2, r._3))
    assert(keys == keys.sorted, "raw rows left their (ds_b, dataset_id, ts_us) order")
  }

  test("the raw fold reads its input on the pinned schema: resolving it starts 0 jobs") {
    val root = TestSpark.tmpDir("wp_raw_fold")
    for (i <- 0 until 3)
      ManifestStore.ingestBatchAtomic(spark, root, TestSpark.longDF(Seq(
        ("a", s"2024-01-01T00:00:0$i", i.toDouble), ("b", s"2024-01-01T00:00:0$i", 9.0))))
    val raws = ManifestStore.latest(spark, root)._2.filter(_.startsWith("r-"))
    val dirs = raws.map(IndexCore.dataDir(ManifestStore.storeDir(root), _))
    val (inferred, inferJobs) = TestSpark.countJobs(spark.read.parquet(dirs: _*).schema)
    val (pinned, pinnedJobs) = TestSpark.countJobs(
      ManifestStore.readRawDirs(spark, raws, root).schema)
    assert(inferJobs >= 1, "the schemaless read no longer infers: this check shows nothing")
    assert(pinnedJobs == 0, s"resolving the raw fold input started $pinnedJobs jobs")
    assert(pinned.fieldNames.toSeq == Seq("dataset_id", "ts_us", "value") &&
      inferred.fieldNames.toSet == Set("dataset_id", "ts_us", "value", "ds_b"))
    val before = ManifestStore.readRaw(spark, root).collect().map(_.toString).sorted.toSeq
    ManifestStore.compactRawTiered(spark, root, fanIn = 8)
    assert(ManifestStore.latest(spark, root)._2.count(_.startsWith("r-")) == 1)
    assert(ManifestStore.readRaw(spark, root).collect().map(_.toString).sorted.toSeq == before)
  }

  test("an audited ingest runs its audit reads in the caller's job group: countJobs sees every job") {
    val root = TestSpark.tmpDir("wp_audit_jobs")
    val pts = (0 until 200).map(i =>
      (s"s${i % 5}", f"2024-01-01T00:${i / 60}%02d:${i % 60}%02d", i.toDouble))
    ManifestStore.ingestBatchAtomic(spark, root, TestSpark.longDF(pts.take(100)))
    val sc = spark.sparkContext
    val all = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        all.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    val ((outcome, _), grouped) = try TestSpark.countJobs(
      ManifestStore.ingestBatchAuditedOutcome(spark, root,
        TestSpark.longDF(pts.drop(100)), Seq("finite" -> !isnan(col("value")))))
    finally {
      org.apache.spark.TestBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    assert(outcome == ManifestStore.WapOutcome.Published)
    // staging 3, the two audit reads 2 each under adaptive execution
    assert(grouped == all.get && grouped == 7,
      s"an audited 100-point batch started ${all.get} jobs, $grouped in the caller's group")
  }
}
