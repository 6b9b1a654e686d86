package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.store.IndexCore

/**
 * Document/vector deletion on the persisted dedup (LSH) and ANN (IVF)
 * indexes: a pure gone-set tombstone commit removes the doc from
 * every probe and pair result immediately, a full fold (or IVF
 * rebuild) physically erases it and retires the tombstone, delivery
 * keys survive, redelivered takedowns are refused, and a pre-delete
 * clone still serves the doc until vacuum.
 */
class IndexForgetSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val doc =
    "the quick brown fox jumps over the lazy dog again and again today"

  test("dedup index: a forgotten doc stops gating/pairing immediately, " +
      "pair readback drops its pairs, full fold erases physically") {
    val idx = TestSpark.tmpDir("lsh_forget")
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((0L, doc), (1L, "entirely novel content nothing shared"))
        .toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("s0"),
      persistPairs = true): Unit
    val r1 = Dedup.indexCheckAndIngest(spark, idx,
      Seq((10L, doc + " tail")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("s1"), persistPairs = true)
    assert(r1.collect().map(_.getLong(0)).toSeq == Seq(0L),
      "fixture: doc 10 must near-dup doc 0")
    // cumulative pair readback sees (0, 10) pre-delete
    assert(Dedup.indexPairs(spark, idx).count() == 1L)
    // takedown of doc 0: it must stop pairing AND its past pairs stop serving
    Dedup.indexForgetDocs(spark, idx, Seq(0L), key = Some("rtbf"))
    assert(Dedup.indexTombstoneCount(spark, idx) == 1L)
    assert(Dedup.indexPairs(spark, idx).count() == 0L,
      "pair readback served a pair naming a deleted doc")
    assert(Dedup.indexPairsForDelivery(spark, idx, "s1").count() == 0L)
    // a replayed near-dup of doc 0 no longer matches anything
    val r2 = Dedup.indexCheckAndIngest(spark, idx,
      Seq((20L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6,
      deliveryKey = Some("s2"), persistPairs = true)
    assert(r2.collect().map(_.getLong(0)).toSeq == Seq(10L),
      "a deleted doc gated (or failed to release) a new shard")
    // redelivered takedown refused; key survives the full fold
    assert(intercept[IllegalArgumentException] {
      Dedup.indexForgetDocs(spark, idx, Seq(0L), key = Some("rtbf"))
    }.getMessage.contains("redelivery rejected"))
    // partial fold keeps the tombstone live (4 commits, fanIn 2)
    Dedup.indexCompactTiered(spark, idx, fanIn = 2)
    assert(Dedup.indexTombstoneCount(spark, idx) == 1L)
    // full fold erases: sig/sh/pairs carry no doc-0 rows, tombstone retired
    Dedup.indexCompact(spark, idx)
    assert(Dedup.indexTombstoneCount(spark, idx) == 0L)
    val clog = new graft.store.CommitLog(s"$idx/_manifests")
    val live = clog.latest(spark)._2
    assert(live.count(_.startsWith("c-")) == 1)
    for (k <- Seq("s0", "s1", "s2", "rtbf"))
      assert(live.contains(s"#txn:$k"), s"key $k lost in fold")
    val c = live.filter(_.startsWith("c-")).head
    for (sub <- Seq("sig", "sh"))
      assert(spark.read.parquet(s"$idx/data/$c/$sub")
        .where(col("doc_id") === 0L).count() == 0L,
        s"gone doc's $sub rows survived the full fold")
    assert(spark.read.parquet(s"$idx/data/$c/pairs")
      .where(col("a_id") === 0L || col("b_id") === 0L).count() == 0L)
    IndexCore.vacuum(spark, idx)
    assert(Dedup.indexCheckAndIngest(spark, idx,
      Seq((30L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6)
      .orderBy("a_id").collect().map(_.getLong(0)).toSeq == Seq(10L, 20L))
  }

  test("dedup index: a source with live tombstones refuses to merge; " +
      "a pre-delete clone still serves the doc") {
    val src = TestSpark.tmpDir("lsh_forget_src")
    val dst = TestSpark.tmpDir("lsh_forget_dst")
    Dedup.indexCheckAndIngest(spark, src,
      Seq((0L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6,
      deliveryKey = Some("m0")): Unit
    val vPre = IndexCore.version(spark, src)
    Dedup.indexForgetDocs(spark, src, Seq(0L))
    Dedup.indexCheckAndIngest(spark, dst,
      Seq((50L, doc + " tail")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6): Unit
    assert(intercept[IllegalArgumentException] {
      Dedup.indexMergeFrom(spark, dst, src, 0.6)
    }.getMessage.contains("live tombstones"))
    // the pre-delete branch still gates on doc 0
    val branch = TestSpark.tmpDir("lsh_forget_br") + "/b"
    IndexCore.cloneAsOf(spark, src, branch, vPre)
    assert(Dedup.indexCheckAndIngest(spark, branch,
      Seq((60L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6)
      .collect().map(_.getLong(0)).toSeq == Seq(0L))
    // while the deleted source reports nothing
    assert(Dedup.indexCheckAndIngest(spark, src,
      Seq((61L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6)
      .count() == 0L)
  }

  test("a tombstoned id RE-INGESTED after its takedown serves normally " +
      "on the dedup and ivf indexes (order-scoped tombstones), and the " +
      "full fold erases only the pre-tombstone rows") {
    // dedup: doc 0 deleted, then re-ingested with near-dup content —
    // the fresh rows must gate/pair again immediately
    val idx = TestSpark.tmpDir("lsh_reingest")
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((0L, doc), (1L, "other words entirely")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("r0")): Unit
    Dedup.indexForgetDocs(spark, idx, Seq(0L), key = Some("rt"))
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((0L, doc)).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("r1")): Unit
    // each check INGESTS its probe doc too — distinct probe ids per call
    def gate(pid: Long) = Dedup.indexCheckAndIngest(spark, idx,
      Seq((pid, doc + " tail")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6)
      .orderBy("a_id").collect().map(_.getLong(0)).toSeq
    assert(gate(91L) == Seq(0L),
      "re-ingested doc must gate again (fresh rows, post-tombstone commit)")
    assert(Dedup.indexTombstoneCount(spark, idx) == 1L)
    // full fold: erases only the FIRST ingest's rows; the re-ingested
    // generation survives, tombstone retires
    Dedup.indexCompact(spark, idx)
    assert(Dedup.indexTombstoneCount(spark, idx) == 0L)
    // probe 92 matches the re-ingested doc 0 AND probe 91 (exact twin)
    assert(gate(92L) == Seq(0L, 91L),
      "fold dropped the re-ingested generation")
    val c = new graft.store.CommitLog(s"$idx/_manifests")
      .latest(spark)._2.filter(_.startsWith("c-"))
    assert(spark.read.parquet(s"$idx/data/${c.head}/sig")
      .where(col("doc_id") === 0L).count() == 1L,
      "exactly the re-ingested signature must survive the fold")
    // ivf: vector 2 deleted then re-appended — probes serve it again
    val ivf = TestSpark.tmpDir("ivf_reingest")
    val all = vecs(10L)
    Similarity.ivfIndexBuild(spark, ivf, all, centroidStep = 4L)
    Similarity.ivfIndexForget(spark, ivf, Seq(2L))
    Similarity.ivfIndexAppend(spark, ivf, all.where(col("vec_id") === 2L))
    def nn() = Similarity.ivfIndexQuery(spark, ivf,
        all.where(col("vec_id") === 3L), k = 9, nProbe = 3)
      .collect().map(_.getLong(1)).toSet
    assert(nn().contains(2L),
      "re-appended vector must probe as a neighbor again")
    assert(Similarity.ivfIndexStats(spark, ivf).head().getLong(1) == 10L)
    Similarity.ivfIndexCompactTiered(spark, ivf, fanIn = 10)
    assert(Similarity.ivfTombstoneCount(spark, ivf) == 0L)
    assert(nn().contains(2L), "fold dropped the re-appended vector")
    assert(Similarity.ivfIndexStats(spark, ivf).head().getLong(1) == 10L)
  }

  test("dedup indexStats reflects exactly what the probe paths can " +
      "serve: tombstoned docs drop from every count, folds restore them " +
      "to physical truth") {
    val idx = TestSpark.tmpDir("lsh_stats_forget")
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((0L, doc), (1L, "entirely novel content nothing shared today"))
        .toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("s0"),
      persistPairs = true): Unit
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((10L, doc + " tail")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("s1"),
      persistPairs = true): Unit
    def st() = {
      val r = Dedup.indexStats(spark, idx).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val (sh0, docs0, post0, pairs0) = st()
    assert(sh0 == 2L && docs0 == 3L && pairs0 == 1L, s"fixture: ${st()}")
    Dedup.indexForgetDocs(spark, idx, Seq(0L))
    val (_, docs1, post1, pairs1) = st()
    assert(docs1 == 2L, "tombstoned doc still counted in n_docs")
    assert(post1 < post0, "tombstoned doc's postings still counted")
    assert(pairs1 == 0L, "pair naming a tombstoned doc still counted")
    // the full fold makes logical == physical; stats unchanged by it
    Dedup.indexCompact(spark, idx)
    assert(st() == (1L, docs1, post1, pairs1),
      "fold changed served stats (beyond the shard fold)")
  }

  private def vecs(n: Long) = Similarity.asDouble(
    (0L until n).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 1.3 + d).toFloat)))
      .toDF("vec_id", "embedding"),
    "vec_id", "embedding")

  test("ivf index: a forgotten vector stops appearing as a neighbor " +
      "immediately; stats reflect the live set; full fold erases") {
    val idx = TestSpark.tmpDir("ivf_forget")
    val all = vecs(40L)
    Similarity.ivfIndexBuild(spark, idx,
      all.where(col("vec_id") % 2 === 0), centroidStep = 6L,
      key = Some("k0"))
    Similarity.ivfIndexAppend(spark, idx,
      all.where(col("vec_id") % 2 === 1), key = Some("k1"))
    val queries = all.where(col("vec_id") < 2)
    def neighbors() = Similarity
      .ivfIndexQuery(spark, idx, queries, k = 5, nProbe = 2)
      .collect().map(_.getLong(1)).toSet
    val pre = neighbors()
    val victim = (pre - 0L - 1L).head // a returned neighbor, not a query
    val nPre = Similarity.ivfIndexStats(spark, idx)
      .head().getLong(1)
    Similarity.ivfIndexForget(spark, idx, Seq(victim), key = Some("take"))
    assert(!neighbors().contains(victim),
      "deleted vector still returned as a neighbor")
    assert(Similarity.ivfIndexStats(spark, idx).head().getLong(1) ==
      nPre - 1L, "stats still count the deleted vector")
    assert(Similarity.ivfTombstoneCount(spark, idx) == 1L)
    // redelivered takedown refused
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfIndexForget(spark, idx, Seq(victim), key = Some("take"))
    }.getMessage.contains("redelivery rejected"))
    val post = neighbors()
    // full fold physically erases and retires the tombstone; keys survive
    Similarity.ivfIndexCompactTiered(spark, idx, fanIn = 10)
    assert(Similarity.ivfTombstoneCount(spark, idx) == 0L)
    assert(neighbors() == post, "fold changed post-delete neighbors")
    val live = new graft.store.CommitLog(s"$idx/_manifests")
      .latest(spark)._2
    for (k <- Seq("k0", "k1", "take"))
      assert(live.contains(s"#txn:$k"), s"key $k lost in fold")
    val c = live.filter(_.startsWith("c-")).head
    assert(spark.read.parquet(s"$idx/data/$c/post")
      .where(col("vec_id") === victim).count() == 0L,
      "gone vector survived the full fold")
  }

  test("ivf index: a rebuild folds live tombstones in (retrain corpus " +
      "excludes gone vectors, tombstone entries retired by the swap)") {
    val idx = TestSpark.tmpDir("ivf_forget_rb")
    val all = vecs(40L)
    Similarity.ivfIndexBuild(spark, idx, all, centroidStep = 6L,
      key = Some("k0"))
    Similarity.ivfIndexForget(spark, idx, Seq(7L, 9L))
    assert(Similarity.ivfIndexRebuild(spark, idx, centroidStep = 5L),
      "rebuild lost a race in a single-writer test")
    val live = new graft.store.CommitLog(s"$idx/_manifests")
      .latest(spark)._2
    assert(!live.exists(_.startsWith("t-")),
      "rebuild swap must retire tombstones")
    assert(live.contains("#txn:k0"))
    val c = live.filter(_.startsWith("c-")).head
    assert(spark.read.parquet(s"$idx/data/$c/post")
      .where(col("vec_id").isin(7L, 9L)).count() == 0L,
      "rebuild re-inserted deleted vectors")
    // and a source with live tombstones refuses to merge
    val src = TestSpark.tmpDir("ivf_forget_msrc")
    Similarity.ivfIndexBuild(spark, src, vecs(10L), centroidStep = 4L)
    Similarity.ivfIndexForget(spark, src, Seq(3L))
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfIndexMergeFrom(spark, idx, src)
    }.getMessage.contains("live tombstones"))
  }
}
