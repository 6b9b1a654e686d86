package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.store.IndexCore

/**
 * Document/vector UPSERT on the persisted dedup (LSH) and ANN (IVF)
 * indexes — the crawl re-fetch lifecycle: one tombstone retires the
 * old generation, one ordinary commit ingests the new one, and the
 * order-scoped read paths serve the new content immediately. Pins:
 * post-upsert answers equal a fresh-ingest index, the re-fetched doc
 * gates against the REST of the index (never its own prior version),
 * crash-gap replay completes only the missing leg, full redelivery is
 * a version-preserving no-op, and the membership probe
 * (indexKnownIds) that routes re-fetches is replay-stable.
 */
class IndexUpsertSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val oldText =
    "the quick brown fox jumps over the lazy dog again and again today"
  private val novel =
    "entirely novel content nothing shared at all with other docs here"

  // near-orthogonal fixture (basis vector + a 0.2 bleed into the next
  // dim): unlike a sin curve there is no period aliasing, so "nearest"
  // assertions are geometrically unambiguous
  private def vecs(n: Long) = Similarity.asDouble(
    (0L until n).map { i =>
      val a = Array.fill(8)(0f)
      a((i % 8).toInt) = 1f
      a(((i + 1) % 8).toInt) = 0.2f
      (i, a)
    }.toDF("vec_id", "embedding"),
    "vec_id", "embedding")

  test("dedup upsert: the new text gates against the REST of the index, " +
      "never the doc's own prior version; old content stops pairing; " +
      "full fold keeps only the new generation") {
    val idx = TestSpark.tmpDir("lsh_upsert")
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((0L, oldText), (1L, novel)).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("s0"),
      persistPairs = true): Unit
    // re-fetch doc 0: its new content is a near-dup of doc 1. Were the
    // old generation still live, the verdict would pair (0, 0) — the
    // re-fetch-blind failure; instead it must pair against doc 1 only
    val verdict = Dedup.indexUpsertDocs(spark, idx,
      Seq((0L, novel + " tail")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, key = Some("u0"), persistPairs = true)
    assert(verdict.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 0L)),
      "upsert must gate the new text against the rest of the index only")
    // the OLD content no longer matches doc 0 (distinct probe ids —
    // each gate call ingests its probe doc)
    def gate(pid: Long, text: String) = Dedup.indexCheckAndIngest(
      spark, idx, Seq((pid, text)).toDF("doc_id", "text"),
      "doc_id", "text", 0.6)
      .orderBy("a_id").collect().map(_.getLong(0)).toSeq
    assert(gate(90L, oldText + " tail").isEmpty,
      "superseded content still gated a new shard")
    // the NEW content matches doc 0 (and doc 1, its near-dup)
    assert(gate(91L, novel + " x") == Seq(0L, 1L))
    // full redelivery: version-preserving no-op returning the same
    // persisted report
    val v = IndexCore.version(spark, idx)
    val re = Dedup.indexUpsertDocs(spark, idx,
      Seq((0L, novel + " tail")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, key = Some("u0"), persistPairs = true)
    assert(IndexCore.version(spark, idx) == v,
      "redelivered upsert must be a version-preserving no-op")
    assert(re.select("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 0L)),
      "redelivery must return the original persisted report")
    // full fold: exactly one doc-0 signature survives (the new one),
    // the upsert's tombstone retires, and the cumulative pair READBACK
    // is untouched (the invariant the timed dedup_index_upsert probe
    // leans on instead of folding in-query)
    val pairsPre = Dedup.indexPairs(spark, idx)
      .select("a_id", "b_id").collect().map(_.toString).sorted.toSeq
    Dedup.indexCompact(spark, idx)
    assert(Dedup.indexTombstoneCount(spark, idx) == 0L)
    assert(Dedup.indexPairs(spark, idx)
        .select("a_id", "b_id").collect().map(_.toString).sorted.toSeq
      == pairsPre, "compaction changed post-upsert pair readback")
    val c = new graft.store.CommitLog(s"$idx/_manifests")
      .latest(spark)._2.filter(_.startsWith("c-"))
    assert(spark.read.parquet(s"$idx/data/${c.head}/sig")
      .where(col("doc_id") === 0L).count() == 1L,
      "full fold must keep exactly the upserted generation of doc 0")
  }

  test("dedup upsert crash-gap replay completes only the missing leg; " +
      "first upsert on an empty index is a founding ingest") {
    val idx = TestSpark.tmpDir("lsh_upsert_gap")
    // founding upsert on an EMPTY index: no delete leg, just ingest
    Dedup.indexUpsertDocs(spark, idx,
      Seq((0L, oldText), (1L, novel)).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, key = Some("f0")): Unit
    assert(Dedup.indexTombstoneCount(spark, idx) == 0L,
      "a founding upsert must not write a tombstone")
    assert(IndexCore.hasDelivery(spark, idx, "f0.add") &&
      !IndexCore.hasDelivery(spark, idx, "f0.del"))
    // REDELIVERY of the founding upsert: the delete key was never
    // ledgered (nothing to delete), so the guard must key off the
    // COMMITTED add leg — without it the redelivery would tombstone
    // the generation the first delivery just founded
    val vF = IndexCore.version(spark, idx)
    Dedup.indexUpsertDocs(spark, idx,
      Seq((0L, oldText), (1L, novel)).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, key = Some("f0")): Unit
    assert(IndexCore.version(spark, idx) == vF,
      "redelivered FOUNDING upsert must be a version-preserving no-op")
    assert(Dedup.indexTombstoneCount(spark, idx) == 0L,
      "redelivered founding upsert tombstoned the founded generation")
    // crash gap: the delete leg committed (simulated directly under
    // the key the upsert will use), the add leg did not — the replay
    // must skip the delete and complete the add only
    Dedup.indexForgetDocs(spark, idx, Seq(0L), key = Some("g0.del"))
    val vMid = IndexCore.version(spark, idx)
    Dedup.indexUpsertDocs(spark, idx,
      Seq((0L, "replacement words for document zero")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, key = Some("g0")): Unit
    assert(IndexCore.version(spark, idx) == vMid + 1,
      "replay must publish exactly the missing add leg")
    assert(Dedup.indexTombstoneCount(spark, idx) == 1L,
      "replay must not re-tombstone")
  }

  test("indexKnownIds routes re-fetches replay-stably: excluded keys " +
      "hide the batch's own commits, tombstones are ignored") {
    val idx = TestSpark.tmpDir("lsh_known")
    val probe = Seq(0L, 1L, 5L).toDF("doc_id")
    // empty index: nothing known
    assert(Dedup.indexKnownIds(spark, idx, probe, "doc_id").count() == 0L)
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((0L, oldText), (1L, novel)).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("s0")): Unit
    def known(excl: String*) = Dedup
      .indexKnownIds(spark, idx, probe, "doc_id", excl)
      .collect().map(_.getLong(0)).toSet
    assert(known() == Set(0L, 1L))
    // this batch's own commit is hidden from its replayed probe
    assert(known("s0") == Set.empty[Long])
    // a tombstone does NOT un-know an id (the probe is raw by design:
    // a replayed batch whose delete leg already ran must re-derive
    // the same split)
    Dedup.indexForgetDocs(spark, idx, Seq(0L))
    assert(known() == Set(0L, 1L),
      "a tombstoned id must still probe as known until compaction")
    // the cutoff is the LOG POSITION of the first owned entry, not a
    // per-commit filter: a later batch's commits are invisible to an
    // earlier batch's replayed probe
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((5L, "late batch content for doc five")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("s1")): Unit
    assert(known("s0") == Set.empty[Long],
      "an earlier batch's replayed probe must not see later commits")
    assert(known("s1") == Set(0L, 1L),
      "the later batch's replayed probe sees everything before it")
    assert(known() == Set(0L, 1L, 5L))
  }

  test("ivf upsert: the replaced vector serves its NEW embedding " +
      "immediately; stats stay at one row per id; redelivery and " +
      "crash-gap replay are no-ops; unfounded index refuses") {
    val idx = TestSpark.tmpDir("ivf_upsert")
    val all = vecs(8L)
    // unfounded: loud
    assert(intercept[IllegalArgumentException] {
      Similarity.ivfIndexUpsert(spark, TestSpark.tmpDir("ivf_upsert_e"),
        all.where(col("vec_id") === 2L))
    }.getMessage.contains("founded"))
    Similarity.ivfIndexBuild(spark, idx, all, centroidStep = 3L)
    // move vec 2 onto vec 7's exact position (plus epsilon): its old
    // neighborhood (near 3) must lose it, 7's must gain it
    val moved = all.where(col("vec_id") === 7L)
      .select(lit(2L).as("vec_id"),
        org.apache.spark.sql.functions.transform(col("v"),
          x => x + lit(1e-4)).as("v"))
    Similarity.ivfIndexUpsert(spark, idx, moved, key = Some("u0"))
    def nn(q: Long, k: Int) = Similarity.ivfIndexQuery(spark, idx,
        all.where(col("vec_id") === q), k = k, nProbe = 3)
      .collect().map(_.getLong(1)).toSeq
    // (a query's own id is excluded from its neighbors)
    assert(nn(7L, 1) == Seq(2L),
      "upserted vector must be its new position's nearest neighbor")
    // an exact probe at vec 2's OLD embedding no longer finds it first
    // (pre-upsert it would match with cosine 1.0; post-upsert vec 1 —
    // the only live vector with an e2 component — wins)
    assert(Similarity.ivfIndexQuery(spark, idx,
        vecs(3L).where(col("vec_id") === 2L)
          .select(lit(98L).as("vec_id"), col("v")),
        k = 1, nProbe = 3)
      .collect().map(_.getLong(1)).toSeq == Seq(1L),
      "upserted vector still serves from its OLD position")
    assert(Similarity.ivfIndexStats(spark, idx).head().getLong(1) == 8L,
      "upsert must not change the live vector count")
    // full redelivery: version-preserving no-op
    val v = new graft.store.CommitLog(s"$idx/_manifests").latest(spark)._1
    Similarity.ivfIndexUpsert(spark, idx, moved, key = Some("u0"))
    assert(new graft.store.CommitLog(s"$idx/_manifests")
      .latest(spark)._1 == v,
      "redelivered upsert must be a version-preserving no-op")
    // crash gap: delete leg committed, add leg missing → replay
    // completes the add only
    Similarity.ivfIndexForget(spark, idx, Seq(5L), key = Some("g0.del"))
    val vMid = new graft.store.CommitLog(s"$idx/_manifests").latest(spark)._1
    Similarity.ivfIndexUpsert(spark, idx,
      all.where(col("vec_id") === 5L), key = Some("g0"))
    assert(new graft.store.CommitLog(s"$idx/_manifests")
      .latest(spark)._1 == vMid + 1,
      "replay must publish exactly the missing add leg")
    // a fresh query id sitting on vec 5's exact position ranks it first
    assert(Similarity.ivfIndexQuery(spark, idx,
        all.where(col("vec_id") === 5L)
          .select(lit(99L).as("vec_id"), col("v")),
        k = 1, nProbe = 3)
      .collect().map(_.getLong(1)).toSeq == Seq(5L),
      "replayed vector must serve again")
    // a full fold keeps exactly one row per upserted id
    Similarity.ivfIndexCompactTiered(spark, idx, fanIn = Int.MaxValue)
    assert(Similarity.ivfTombstoneCount(spark, idx) == 0L)
    val c = new graft.store.CommitLog(s"$idx/_manifests")
      .latest(spark)._2.filter(_.startsWith("c-"))
    assert(c.forall(d => spark.read.parquet(s"$idx/data/$d/post")
      .where(col("vec_id").isin(2L, 5L))
      .groupBy("vec_id").count().collect().forall(_.getLong(1) == 1L)),
      "full fold must keep exactly one posting per upserted id")
  }
}
