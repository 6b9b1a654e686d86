package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sim.Similarity
import graft.text.TextOps
import graft.store.IndexCore

/**
 * LLM-pipeline operator semantics on small constructed corpora: exact
 * dedup, MinHash-LSH vs exact Jaccard, SimHash Hamming separation,
 * embedding near-dup via hyperplane LSH, brute/ANN top-k, text ops and
 * the multimodal decode plumbing.
 */
class PipelineSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val doc =
    "the quick brown fox jumps over the lazy dog again and again today"
  private lazy val corpus = Seq(
    (0L, doc),
    (1L, doc + " extra"), // near-dup of 0
    (2L, doc), // exact dup of 0
    (3L, "completely different words about spark catalyst tungsten shuffles"),
    (4L, "another unrelated text mentioning parquet files and column pruning"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts, keeps the min id") {
    val got = Dedup.exactDups(corpus, "doc_id", "text").collect()
    assert(got.length == 1)
    assert(got.head.getLong(1) == 0L && got.head.getLong(2) == 2L)
  }

  test("exact n-gram Jaccard finds the near-dup pair and nothing else") {
    val sh = Dedup.shingleSet(corpus, "doc_id", "text")
    val pairs = Dedup.exactJaccardPairs(sh, 0.6)
      .orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // (0,1) near-dup, (0,2) exact (J=1), (1,2) near-dup
    assert(pairs.map(p => (p._1, p._2)).toSet == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(pairs.find(p => p._1 == 0L && p._2 == 2L).get._3 == 1.0)
  }

  test("shingleSet df-cap: a ubiquitous shingle is dropped via the bounded agg, " +
      "with partial aggregation and no window sort") {
    // 30 docs sharing one hot trigram ("zz0 zz1 zz2"); maxDf=5 must
    // drop exactly that shingle while keeping each doc's unique ones
    val hot = (0L until 30L)
      .map(i => (i, s"zz0 zz1 zz2 unique${i}a unique${i}b unique${i}c unique${i}d"))
      .toDF("doc_id", "text")
    val capped = Dedup.shingleSet(hot, "doc_id", "text", maxDf = 5L)
    val hotHash = capped.sparkSession.range(1)
      .select(xxhash64(lit("zz0 zz1 zz2"))).head().getLong(0)
    val rows = capped.collect()
    assert(!rows.map(_.getLong(1)).contains(hotHash), "hot shingle not dropped")
    // every doc keeps its 4 sub-cap shingles (the 3 unique ones + the
    // zz2/unique bridge shingles are unique per doc)
    assert(rows.groupBy(_.getLong(0)).forall(_._2.length >= 3))

    // plan shape: ONE aggregation pair (partial+final ObjectHashAggregate),
    // no Window/Sort — the skew-safety claim is structural
    val plan = capped.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"typed agg missing:\n${plan.take(1500)}")
    assert(!plan.contains("Window"), "df-cap regressed to a window")
  }

  test("MinHash-LSH candidates cover every true near-dup; verification matches exact") {
    val sh = Dedup.shingleSet(corpus, "doc_id", "text")
    val exact = Dedup.exactJaccardPairs(sh, 0.6)
      .select("a_id", "b_id", "jaccard").orderBy("a_id", "b_id").collect().toSeq
    val lsh = Dedup.minhashDedup(corpus, "doc_id", "text", 0.6)
      .select("a_id", "b_id", "jaccard").orderBy("a_id", "b_id").collect().toSeq
    assert(lsh == exact)
  }

  test("incrementalDedup: batch copies match their corpus source, novel docs pass") {
    val batch = Seq(
      (100L, doc + " tail"),                               // near-dup of corpus 0
      (101L, "entirely novel content nothing shared here at all today friends"),
      (102L, doc))                                         // exact copy of corpus 0
      .toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, batch, "doc_id", "text", 0.6)
      .orderBy("doc_id").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(100L, 101L, 102L))
    assert(out.map(_.getBoolean(1)).toSeq == Seq(true, false, true))
    // best corpus match is doc 0 (or its exact twin 2 loses the id tie)
    assert(out(0).getLong(2) == 0L && out(2).getLong(2) == 0L)
    assert(out(2).getDouble(3) == 1.0) // exact copy: jaccard 1
    assert(out(1).isNullAt(2) && out(1).isNullAt(3))
  }

  test("indexCheckAndIngest: cross-shard dups via stored postings only, never within-shard") {
    val idx = TestSpark.tmpDir("lsh_idx")
    val shard0 = Seq((0L, doc), (1L, doc)) // exact twins INSIDE shard 0
      .toDF("doc_id", "text")
    val shard1 = Seq(
      (10L, doc + " tail"), // near-dup of 0 and 1 (cross-shard)
      (11L, "entirely novel content nothing shared here at all today friends"))
      .toDF("doc_id", "text")
    val r0 = Dedup.indexCheckAndIngest(spark, idx, shard0, "doc_id", "text", 0.6)
    // first shard: empty index, no pairs — its twins are NOT reported
    // (within-shard dedup is the per-shard batch pipeline's job)
    assert(r0.isEmpty)
    val r1 = Dedup.indexCheckAndIngest(spark, idx, shard1, "doc_id", "text", 0.6)
      .orderBy("a_id", "b_id").collect()
    assert(r1.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 10L), (1L, 10L)), s"got ${r1.toSeq}")
    assert(r1.forall(_.getDouble(2) >= 0.6))
    // torn write: a staged-but-unpublished commit dir must be invisible
    // (the index is commit-log-governed, same protocol as the store)
    Seq((999L, doc)).toDF("doc_id", "text")
      .write.parquet(s"$idx/data/c-torn/sig")
    // the index grew: a third shard matches docs from BOTH earlier ones
    val r2 = Dedup.indexCheckAndIngest(spark, idx,
      Seq((20L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6)
      .orderBy("a_id").collect()
    assert(r2.map(_.getLong(0)).toSeq == Seq(0L, 1L, 10L),
      "unpublished commit dir leaked into the candidate set")
  }

  test("indexCheckAndIngest: a redelivered shard is rejected, the index never doubles") {
    val idx = TestSpark.tmpDir("lsh_idx_once")
    val shard0 = Seq((0L, doc)).toDF("doc_id", "text")
    val shard1 = Seq((10L, doc + " tail")).toDF("doc_id", "text")
    Dedup.indexCheckAndIngest(spark, idx, shard0, "doc_id", "text", 0.6,
      deliveryKey = Some("b0")): Unit
    val clog = new graft.store.CommitLog(s"$idx/_manifests")
    val liveAfter0 = clog.latest(spark)._2
    assert(liveAfter0.contains("#txn:b0"), s"key not recorded: $liveAfter0")

    // redelivery of the SAME shard (crash-before-ack replay): fails
    // loudly, index state byte-identical
    val ex = intercept[IllegalArgumentException] {
      Dedup.indexCheckAndIngest(spark, idx, shard0, "doc_id", "text", 0.6,
        deliveryKey = Some("b0"))
    }
    assert(ex.getMessage.contains("already ingested"), ex.getMessage)
    assert(clog.latest(spark)._2 == liveAfter0, "redelivery mutated the index")

    // the next distinct key ingests normally and reports the pair ONCE
    val r1 = Dedup.indexCheckAndIngest(spark, idx, shard1, "doc_id", "text", 0.6,
      deliveryKey = Some("b1")).collect()
    assert(r1.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 10L)),
      s"got ${r1.toSeq}")
    // a doubled index would have reported (0,20) TWICE here
    val r2 = Dedup.indexCheckAndIngest(spark, idx,
      Seq((20L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6,
      deliveryKey = Some("b2")).orderBy("a_id").collect()
    assert(r2.map(_.getLong(0)).toSeq == Seq(0L, 10L), s"got ${r2.toSeq}")
  }

  test("indexCompactTiered: folded dedup index checks identically; " +
      "pair reports and delivery keys survive; vacuum reclaims") {
    val idx = TestSpark.tmpDir("lsh_idx_compact")
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((0L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6,
      deliveryKey = Some("b0"), persistPairs = true): Unit
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((10L, doc + " tail")).toDF("doc_id", "text"), "doc_id", "text", 0.6,
      deliveryKey = Some("b1"), persistPairs = true): Unit
    Dedup.indexCheckAndIngest(spark, idx,
      Seq((11L, "entirely novel content nothing shared here at all today"))
        .toDF("doc_id", "text"), "doc_id", "text", 0.6,
      deliveryKey = Some("b2"), persistPairs = true): Unit
    def pairs() = Dedup.indexPairs(spark, idx).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val pairsBefore = pairs()
    assert(pairsBefore == Seq((0L, 10L)))
    val clog = new graft.store.CommitLog(s"$idx/_manifests")

    // tiered: fold the 2 smallest of 3; then full fold to one
    Dedup.indexCompactTiered(spark, idx, fanIn = 2)
    assert(clog.latest(spark)._2.count(_.startsWith("c-")) == 2)
    assert(pairs() == pairsBefore, "tiered fold changed the pair report")
    Dedup.indexCompact(spark, idx)
    val live = clog.latest(spark)._2
    assert(live.count(_.startsWith("c-")) == 1,
      s"full compact must leave one data commit: $live")
    assert(live.count(_.startsWith("#txn:")) == 3, s"txn keys lost: $live")
    assert(pairs() == pairsBefore, "full fold changed the pair report")

    // the compacted index checks a new shard against ALL folded docs
    val r = Dedup.indexCheckAndIngest(spark, idx,
        Seq((20L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6)
      .orderBy("a_id").collect().map(_.getLong(0)).toSeq
    assert(r == Seq(0L, 10L), s"got $r")

    // keys survive the fold: redelivery still rejected
    val ex = intercept[IllegalArgumentException] {
      Dedup.indexCheckAndIngest(spark, idx,
        Seq((0L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6,
        deliveryKey = Some("b0"))
    }
    assert(ex.getMessage.contains("already ingested"))

    // vacuum leaves exactly the live commit dirs
    IndexCore.vacuum(spark, idx)
    val remaining = new java.io.File(s"$idx/data").listFiles().map(_.getName)
    assert(remaining.toSet ==
      clog.latest(spark)._2.filter(_.startsWith("c-")).toSet,
      s"vacuum left ${remaining.toSeq}")
  }

  test("ivfIndexCompactTiered: folded postings answer identically; " +
      "the centroid leg carries through; keys survive; vacuum reclaims") {
    val idx = TestSpark.tmpDir("ivf_idx_compact")
    val all = Similarity.asDouble(
      (0L until 40L).map(i =>
        (i, Array.tabulate(8)(d => math.sin(i * 1.1 + d).toFloat)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    Similarity.ivfIndexBuild(spark, idx,
      all.where(col("vec_id") % 3 === 0), centroidStep = 6L, key = Some("k0"))
    Similarity.ivfIndexAppend(spark, idx,
      all.where(col("vec_id") % 3 === 1), key = Some("k1"))
    Similarity.ivfIndexAppend(spark, idx,
      all.where(col("vec_id") % 3 === 2), key = Some("k2"))
    val queries = all.where(col("vec_id") < 2)
    def run() = Similarity.ivfIndexQuery(spark, idx, queries, k = 5, nProbe = 2)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    val before = run()
    val clog = new graft.store.CommitLog(s"$idx/_manifests")

    Similarity.ivfIndexCompactTiered(spark, idx, fanIn = 2)
    assert(clog.latest(spark)._2.count(_.startsWith("c-")) == 2)
    assert(run() == before, "tiered fold changed probe answers")
    Similarity.ivfIndexCompactTiered(spark, idx, fanIn = 10)
    val live = clog.latest(spark)._2
    assert(live.count(_.startsWith("c-")) == 1,
      s"full fold must leave one data commit: $live")
    assert(live.count(_.startsWith("#txn:")) == 3, s"txn keys lost: $live")
    assert(run() == before, "full fold changed probe answers")
    // exactly one centroids leg survived the fold
    val onlyCommit = live.find(_.startsWith("c-")).get
    assert(new java.io.File(s"$idx/data/$onlyCommit/centroids").exists(),
      "the centroid table was dropped by compaction")

    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfIndexAppend(spark, idx,
        all.where(col("vec_id") % 3 === 1), key = Some("k1"))
    }
    assert(ex.getMessage.contains("already ingested"))

    IndexCore.vacuum(spark, idx)
    val remaining = new java.io.File(s"$idx/data").listFiles().map(_.getName)
    assert(remaining.toSet == Set(onlyCommit), s"vacuum left ${remaining.toSeq}")
  }

  test("index branches: dedup and IVF clones diverge at the branch point " +
      "with branched delivery keys; sources untouched") {
    // dedup: branch at v1 = shard b0 only
    val dsrc = TestSpark.tmpDir("lsh_bsrc")
    val dbr = TestSpark.tmpDir("lsh_bbr") + "/b"
    Dedup.indexCheckAndIngest(spark, dsrc,
      Seq((0L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6,
      deliveryKey = Some("b0")): Unit
    Dedup.indexCheckAndIngest(spark, dsrc,
      Seq((10L, doc + " tail")).toDF("doc_id", "text"), "doc_id", "text", 0.6,
      deliveryKey = Some("b1")): Unit
    IndexCore.cloneAsOf(spark, dsrc, dbr, version = 1L)
    // the pre-branch key rejects on the branch
    val ex = intercept[IllegalArgumentException] {
      Dedup.indexCheckAndIngest(spark, dbr,
        Seq((0L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6,
        deliveryKey = Some("b0"))
    }
    assert(ex.getMessage.contains("already ingested"))
    // the branch sees ONLY the as-of state: a probe matches doc 0, not 10
    val r = Dedup.indexCheckAndIngest(spark, dbr,
        Seq((20L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6)
      .collect().map(_.getLong(0)).toSeq
    assert(r == Seq(0L), s"branch leaked post-branch state: $r")
    assert(IndexCore.version(spark, dsrc) == 2L, "branch writes hit the source")

    // IVF: branch at v1 = founding commit; a key the SOURCE folded at
    // v2 ingests normally on the branch (true divergence)
    val isrc = TestSpark.tmpDir("ivf_bsrc")
    val ibr = TestSpark.tmpDir("ivf_bbr") + "/b"
    val all = Similarity.asDouble(
      (0L until 30L).map(i =>
        (i, Array.tabulate(8)(d => math.cos(i * 0.9 + d).toFloat)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    Similarity.ivfIndexBuild(spark, isrc,
      all.where(col("vec_id") % 2 === 0), centroidStep = 7L, key = Some("f0"))
    Similarity.ivfIndexAppend(spark, isrc,
      all.where(col("vec_id") % 2 === 1), key = Some("a0"))
    IndexCore.cloneAsOf(spark, isrc, ibr, version = 1L)
    Similarity.ivfIndexAppend(spark, ibr,
      all.where(col("vec_id") % 2 === 1), key = Some("a0")) // accepted: branched at v1
    def run(idx: String) = Similarity
      .ivfIndexQuery(spark, idx, all.where(col("vec_id") < 2), k = 5, nProbe = 2)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(run(ibr) == run(isrc),
      "branch + its own append must equal the source's build+append")
    assert(IndexCore.version(spark, isrc) == 2L, "branch writes hit the source")
  }

  test("indexMergeFrom: cross-corpus pairs from stored state; keys compose; " +
      "report rides the merge commit; source read-only") {
    val dst = TestSpark.tmpDir("lsh_mdst")
    val src = TestSpark.tmpDir("lsh_msrc")
    Dedup.indexCheckAndIngest(spark, dst, Seq(
        (0L, doc),
        (1L, "completely different words about spark catalyst tungsten shuffles"))
        .toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("d0")): Unit
    Dedup.indexCheckAndIngest(spark, src, Seq(
        (10L, doc + " tail"), // near-dup of 0, cross-index
        (11L, "entirely novel content nothing shared here at all today friends"))
        .toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("s0")): Unit
    val pairs = Dedup.indexMergeFrom(spark, dst, src, 0.6,
        deliveryKey = Some("m0"), persistPairs = true)
      .orderBy("a_id", "b_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(pairs == Seq((0L, 10L)), s"got $pairs")
    // the cross-corpus report is persisted under the merge commit
    assert(Dedup.indexPairs(spark, dst).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 10L)))

    // the merged index checks future shards against BOTH corpora
    val r = Dedup.indexCheckAndIngest(spark, dst,
        Seq((20L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6)
      .orderBy("a_id").collect().map(_.getLong(0)).toSeq
    assert(r == Seq(0L, 10L), s"got $r")

    // the source's key rode along: redelivering its shard to the merged
    // index is rejected, and re-merging the same source is refused
    val ex = intercept[IllegalArgumentException] {
      Dedup.indexCheckAndIngest(spark, dst,
        Seq((10L, doc + " tail")).toDF("doc_id", "text"),
        "doc_id", "text", 0.6, deliveryKey = Some("s0"))
    }
    assert(ex.getMessage.contains("already ingested"))
    val ex2 = intercept[IllegalArgumentException] {
      Dedup.indexMergeFrom(spark, dst, src, 0.6)
    }
    assert(ex2.getMessage.contains("already lives in the destination"))

    // the source was never written to
    val srcLive = new graft.store.CommitLog(s"$src/_manifests").latest(spark)._2
    assert(srcLive.count(_.startsWith("c-")) == 1 && srcLive.contains("#txn:s0"))
  }

  test("ivfIndexMergeFrom: merge equals appending the source's vectors under " +
      "frozen centroids; keys compose; source read-only") {
    val dst = TestSpark.tmpDir("ivf_mdst")
    val src = TestSpark.tmpDir("ivf_msrc")
    val ref = TestSpark.tmpDir("ivf_mref")
    val all = Similarity.asDouble(
      (0L until 40L).map(i =>
        (i, Array.tabulate(8)(d => math.sin(i * 2.1 + d).toFloat)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val even = all.where(col("vec_id") % 2 === 0)
    val odd = all.where(col("vec_id") % 2 === 1)
    Similarity.ivfIndexBuild(spark, dst, even, centroidStep = 7L, key = Some("E0"))
    // the source index has its OWN centroids — merge must re-assign its
    // vectors under the destination's, not carry foreign cell ids over
    Similarity.ivfIndexBuild(spark, src, odd, centroidStep = 5L, key = Some("O0"))
    Similarity.ivfIndexBuild(spark, ref, even, centroidStep = 7L)
    Similarity.ivfIndexAppend(spark, ref, odd)
    Similarity.ivfIndexMergeFrom(spark, dst, src, key = Some("M0"))
    val queries = all.where(col("vec_id") < 2)
    def run(idx: String) = Similarity
      .ivfIndexQuery(spark, idx, queries, k = 5, nProbe = 2)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(run(dst) == run(ref),
      "merged index must equal appending the source's raw vectors")

    // exactly-once composes: the source's key now lives in the
    // destination, so a batch redelivered there is rejected, and the
    // same source cannot merge twice
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfIndexAppend(spark, dst, odd, key = Some("O0"))
    }
    assert(ex.getMessage.contains("already ingested"))
    val ex2 = intercept[IllegalArgumentException] {
      Similarity.ivfIndexMergeFrom(spark, dst, src)
    }
    assert(ex2.getMessage.contains("already lives in the destination"))

    // source untouched: one live commit, its key still its own
    val srcLive = new graft.store.CommitLog(s"$src/_manifests").latest(spark)._2
    assert(srcLive.count(_.startsWith("c-")) == 1 && srcLive.contains("#txn:O0"))

    // a source holding >= 2 cell-partitioned posting commits merges too
    // (its posting roots are read per commit, never as one multi-root
    // partitioned read)
    val src2 = TestSpark.tmpDir("ivf_msrc2")
    val more = Similarity.asDouble(
      (40L until 60L).map(i =>
        (i, Array.tabulate(8)(d => math.sin(i * 2.1 + d).toFloat)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    Similarity.ivfIndexBuild(spark, src2, more.where(col("vec_id") < 50L),
      centroidStep = 5L)
    Similarity.ivfIndexAppend(spark, src2, more.where(col("vec_id") >= 50L))
    assert(new graft.store.CommitLog(s"$src2/_manifests").latest(spark)._2
      .count(_.startsWith("c-")) == 2)
    Similarity.ivfIndexMergeFrom(spark, dst, src2)
    Similarity.ivfIndexAppend(spark, ref, more)
    assert(run(dst) == run(ref),
      "a multi-commit source must merge like appending its raw vectors")
  }

  test("ivfIndexRebuild aborts when a concurrent append moved the live set") {
    val idx = TestSpark.tmpDir("ivf_idx_race")
    val all = Similarity.asDouble(
      (0L until 40L).map(i =>
        (i, Array.tabulate(8)(d => math.cos(i * 1.3 + d).toFloat)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    Similarity.ivfIndexBuild(spark, idx, all.where(col("vec_id") < 20),
      centroidStep = 7L)
    val clog = new graft.store.CommitLog(s"$idx/_manifests")
    val stale = clog.latest(spark)._2 // rebuild's observed snapshot

    // an append lands BETWEEN the rebuild's snapshot read and its
    // publish: its postings were assigned under the OLD centroids, so
    // the rebuild must LOSE the race — strict live-set equality, a
    // subset check would let the append leak mixed-generation cell ids
    Similarity.ivfIndexAppend(spark, idx, all.where(col("vec_id") >= 20))
    val liveWithAppend = clog.latest(spark)._2
    assert(!Similarity.ivfIndexRebuildFrom(spark, idx, stale,
      centroidStep = 7L, iters = 2, sampleStep = 1L),
      "rebuild against a stale snapshot must abort")
    assert(clog.latest(spark)._2 == liveWithAppend,
      "aborted rebuild must not move the live set")
    // the loser's staging is dropped: data/ holds exactly the live dirs
    val onDisk = new java.io.File(s"$idx/data").listFiles().map(_.getName).toSet
    assert(onDisk == liveWithAppend.toSet, s"staging leaked: $onDisk")

    // a retry against the FRESH snapshot publishes the single-generation
    // swap and every appended vector stays probe-visible
    assert(Similarity.ivfIndexRebuild(spark, idx, centroidStep = 7L, iters = 2))
    assert(clog.latest(spark)._2.size == 1)
    val probed = Similarity.ivfIndexQuery(spark, idx,
        all.where(col("vec_id") < 2), k = 5, nProbe = 2)
      .collect().map(_.getLong(1))
    assert(probed.exists(_ >= 20L), "appended vectors lost by the rebuild")

    // a VACUUMED stale snapshot aborts IMMEDIATELY: a missing live dir
    // proves the snapshot lost already (vacuum only reclaims superseded
    // dirs), so no partial-corpus k-means runs and no staging is
    // written — previously this path died in .reduce on an
    // all-vacuumed snapshot and burned a full rebuild on a partial one
    IndexCore.vacuum(spark, idx)
    val liveNow = clog.latest(spark)._2
    val before = new java.io.File(s"$idx/data").listFiles().map(_.getName).toSet
    assert(!Similarity.ivfIndexRebuildFrom(spark, idx, liveWithAppend,
      centroidStep = 7L, iters = 2, sampleStep = 1L),
      "rebuild from a vacuumed snapshot must abort cleanly")
    assert(clog.latest(spark)._2 == liveNow &&
      new java.io.File(s"$idx/data").listFiles().map(_.getName).toSet == before,
      "vacuumed-snapshot abort must leave no trace")
  }

  test("ivfIndex: appended shards are probe-visible and equal the one-shot path") {
    val idx = TestSpark.tmpDir("ivf_idx")
    val all = Similarity.asDouble(
      (0L until 40L).map(i =>
        (i, Array.tabulate(8)(d => math.sin(i * 1.7 + d).toFloat)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    val founding = all.where(col("vec_id") % 2 === 0)
    Similarity.ivfIndexBuild(spark, idx, founding, centroidStep = 7L)
    Similarity.ivfIndexAppend(spark, idx, all.where(col("vec_id") % 2 === 1))
    val queries = all.where(col("vec_id") < 2)
    val viaIndex = Similarity.ivfIndexQuery(spark, idx, queries, k = 5, nProbe = 2)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    // one-shot reference with the SAME frozen centroids (stored in the
    // founding commit, resolved through the index's commit log)
    val live = new graft.store.CommitLog(s"$idx/_manifests").latest(spark)._2
    assert(live.size == 2, "build + append = two published commits")
    val centDir = live.map(d => s"$idx/data/$d/centroids")
      .find(p => java.nio.file.Files.exists(java.nio.file.Paths.get(p))).get
    val cents = spark.read.parquet(centDir)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    val oneShot = Similarity.ivfTopKWith(all, queries, 5,
        cents.map(_._1), cents.flatMap(_._2), nProbe = 2)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(viaIndex == oneShot, "stored index diverged from one-shot assignment")
    assert(viaIndex.map(_._2).exists(_ % 2 == 1),
      "appended (odd-shard) vectors must be probe-visible")

    // re-center: one commit replaces the whole live set; results equal
    // the one-shot k-means path over the same corpus, and vacuum
    // reclaims the superseded generation
    Similarity.ivfIndexRebuild(spark, idx, centroidStep = 7L, iters = 2)
    val liveAfter = new graft.store.CommitLog(s"$idx/_manifests")
      .latest(spark)._2
    assert(liveAfter.size == 1, s"rebuild publishes one generation: $liveAfter")
    val rebuilt = Similarity.ivfIndexQuery(spark, idx, queries, k = 5, nProbe = 2)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    val kref = Similarity.kmeansCentroids(all, centroidStep = 7L, iters = 2)
    val krefTopK = Similarity.ivfTopKWith(all, queries, 5,
        kref.map(_._1), kref.flatMap(_._2), nProbe = 2)
      .orderBy("q_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    assert(rebuilt == krefTopK, "rebuilt index diverged from one-shot k-means")
    IndexCore.vacuum(spark, idx)
    val remaining = new java.io.File(s"$idx/data").listFiles().map(_.getName)
    assert(remaining.toSet == liveAfter.toSet,
      s"vacuum must leave exactly the live generation: ${remaining.toSeq}")
  }

  test("ivfIndexRebuild closes the stats loop: a skew-founded index's " +
      "imbalance drops after re-training, nothing is lost, keys survive") {
    val idx = TestSpark.tmpDir("ivf_idx_rebal")
    // founding = one tight cluster (ids 0..19 near direction A); the
    // appended mass lives in TWO far directions (B, C) — under the
    // frozen founding centroids the appends pile into whichever
    // founding cell is least-unlike them, so max_cell (and with it
    // imbalance_ppm) runs hot until a re-train gives B and C centroids
    def vecs(ids: Range, phase: Double) = Similarity.asDouble(
      ids.map(i => (i.toLong, Array.tabulate(8)(d =>
        (math.cos(phase + d) + 0.01 * math.sin(i * 0.7 + d)).toFloat)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    Similarity.ivfIndexBuild(spark, idx, vecs(0 until 20, 0.0),
      centroidStep = 7L, key = Some("g0"))
    Similarity.ivfIndexAppend(spark, idx, vecs(20 until 60, 2.1),
      key = Some("g1"))
    Similarity.ivfIndexAppend(spark, idx, vecs(60 until 100, 4.2),
      key = Some("g2"))
    def stats() = {
      val r = Similarity.ivfIndexStats(spark, idx).head()
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    val (cellsB, nB, maxB, imbB) = stats()
    assert(nB == 100L)
    assert(imbB > 1300000L,
      s"fixture must be skewed for the drop to mean anything: $imbB ppm")
    assert(Similarity.ivfIndexRebuild(spark, idx, centroidStep = 7L, iters = 2))
    val (cellsA, nA, maxA, imbA) = stats()
    assert(nA == 100L, "re-train must not lose or duplicate postings")
    assert(imbA < imbB,
      s"re-training must reduce imbalance: $imbB -> $imbA ppm " +
        s"(cells $cellsB -> $cellsA, max $maxB -> $maxA)")
    // exactly-once rides the rebuild: a replayed append still refuses
    val ex = intercept[IllegalArgumentException] {
      Similarity.ivfIndexAppend(spark, idx, vecs(20 until 60, 2.1),
        key = Some("g1"))
    }
    assert(ex.getMessage.contains("g1"))
  }

  test("shardPlan: serpentine masses stay within one max-doc of each other") {
    val sized = (1 to 100).map(i => (i.toLong, ("tok " * i).trim))
      .toDF("doc_id", "text")
      .withColumn("w", size(split(col("text"), " ")).cast("long"))
    val plan = graft.curate.Sharding.shardPlan(sized, "doc_id", "w", 4)
      .orderBy("shard").collect()
    assert(plan.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(plan.map(_.getLong(1)).sum == 100L, "every doc lands in a shard")
    assert(plan.map(_.getLong(2)).sum == (1 to 100).sum.toLong)
    val masses = plan.map(_.getLong(2))
    assert(masses.max - masses.min <= 100L,
      s"serpentine spread exceeded one max doc: ${masses.toSeq}")
  }

  test("substringDupPrune: keep-first cuts the copy, not the original; novel text intact") {
    val base = "x" * 30 + ("the quick brown fox jumps over the lazy dog " * 3)
    val docs2 = Seq(
      (0L, base + " original tail here"),
      (1L, base + " different ending text"),   // shares the long prefix with 0
      (2L, "wholly unrelated content with no fifty char overlap at all, promise"))
      .toDF("doc_id", "text")
    val out = Dedup.substringDupPrune(docs2, "doc_id", "text", k = 50)
      .orderBy("doc_id").collect()
    // doc 0 is the keeper of every shared window: untouched
    assert(out(0).getLong(1) == out(0).getLong(2), "keeper must keep all chars")
    // doc 1 loses the shared prefix region but keeps its distinct ending
    assert(out(1).getLong(2) < out(1).getLong(1))
    assert(out(1).getLong(2) > 0)
    // doc 2 has no 50-char overlap: untouched
    assert(out(2).getLong(1) == out(2).getLong(2))
    // fingerprint of an untouched doc equals md5 of its text
    val fp2 = docs2.where(col("doc_id") === 2).select(md5(col("text"))).head().getString(0)
    assert(out(2).getString(3) == fp2)
  }

  test("connectedComponents: chains merge to min id, separate components stay apart") {
    // chain 1-2-3-4 (diameter 3, needs multiple propagation rounds),
    // pair {10,11}, pair {20,21} sharing node 20 with {20,22}
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L),
      (20L, 21L), (20L, 22L)
    ).toDF("a_id", "b_id")
    val comp = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("substringDupSpans: exact copies share every window, unrelated docs none") {
    val base = "a" * 30 + "b" * 30 + "c" * 30 // 90 chars, 41 windows of 50
    val dup = Seq(
      (0L, base),
      (1L, base), // exact copy: every window shared
      (2L, "z" * 90)) // unrelated: no shared windows → absent from output
      .toDF("doc_id", "text")
    val got = Dedup.substringDupSpans(dup, "doc_id", "text", k = 50)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((0L, 41L, 41L, 1000000L), (1L, 41L, 41L, 1000000L)))
  }

  test("substringDupSpans: maxDf drops boilerplate windows from the postings join") {
    // the same 50-char run in 3 docs; maxDf = 2 treats it as boilerplate
    val bp = Seq((0L, "x" * 50), (1L, "x" * 50), (2L, "x" * 50)).toDF("doc_id", "text")
    assert(Dedup.substringDupSpans(bp, "doc_id", "text", k = 50, maxDf = 2).isEmpty)
    assert(Dedup.substringDupSpans(bp, "doc_id", "text", k = 50).count() == 3)
  }

  test("domainMix: argmin source caps the budget at rate 1, others downsample") {
    // src a: 100 tokens weight 1; src b: 100 tokens weight 3 →
    // normalized w = (0.25, 0.75), T = min(100/0.25, 100/0.75) = 133.33…
    // rates: a = 0.25·T/100 = 1/3, b = 0.75·T/100 = 1 (the cap)
    val docs = Seq(("a", 60L), ("a", 40L), ("b", 100L)).toDF("source", "tok")
    val got = graft.curate.Mixing.domainMix(
        docs, "source", "tok", when(col("source") === "a", 1L).otherwise(3L))
      .orderBy("source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.toSeq == Seq(
      ("a", 2L, 100L, 250000L, 333333L, 33L),
      ("b", 1L, 100L, 750000L, 1000000L, 100L)))
  }

  test("connectedComponents: pointer jumping converges in O(log diameter) rounds") {
    // a 200-link path — plain min-label propagation needs ~200 rounds;
    // with the comp←comp(comp) shortcut, 12 rounds reach 2^12 hops, so
    // maxIter = 12 passing is direct evidence of the log bound.
    // driverEdgeLimit = 0 forces the DISTRIBUTED loop (the default
    // would route this tiny graph to driver union-find)
    val chain = (0L until 200L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val comp = Dedup.connectedComponents(chain, maxIter = 12, driverEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.size == 201 && comp.values.forall(_ == 0L))
  }

  test("connectedComponents: driver union-find and distributed loop agree exactly") {
    // irregular graph: two chains, a clique, a star, an isolated pair
    val pairs = (
      (0L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (100L, 102L), (101L, 102L)) ++
      (0L until 5L).map(i => (200L, 210L + i)) ++
      Seq((300L, 301L))
    ).toDF("a_id", "b_id")
    val viaDriver = Dedup.connectedComponents(pairs)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val viaLoop = Dedup.connectedComponents(pairs, driverEdgeLimit = 0L)
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaDriver == viaLoop)
  }

  test("SimHash: near-dups land close in Hamming space, unrelated docs far") {
    val sig = Dedup.simhashSignature(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(java.lang.Long.bitCount(sig(0L) ^ sig(2L)) == 0) // identical
    assert(java.lang.Long.bitCount(sig(0L) ^ sig(1L)) <= 8) // near-dup
    assert(java.lang.Long.bitCount(sig(0L) ^ sig(3L)) > 8) // unrelated
    val pairs = Dedup.simhashPairs(sig.toSeq.toDF("doc_id", "sig"), 8)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 2L)) && pairs.contains((0L, 1L)))
    assert(!pairs.contains((0L, 3L)))
  }

  private lazy val vecs = {
    val rnd = new scala.util.Random(7)
    val base = (0L until 20L).map(i => (i, Seq.fill(64)(rnd.nextGaussian())))
    // 100: near-dup of 0; 101: near-dup of 1
    val dups = Seq(
      (100L, base(0)._2.map(_ + 0.01)),
      (101L, base(1)._2.map(_ * 1.001)))
    (base ++ dups).toDF("vec_id", "v")
      .select(col("vec_id"), col("v").cast("array<double>").as("v"))
  }

  test("embedding near-dup pairs via hyperplane LSH find the planted pairs") {
    val got = Similarity.nearDupPairs(vecs, 0.95, nBits = 128, bands = 16)
      .select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((0L, 100L)) && got.contains((1L, 101L)))
    assert(got.size == 2) // no random pair reaches 0.95
  }

  test("brute-force top-k ranks the planted near-dup first") {
    val got = Similarity
      .bruteTopK(vecs, vecs.where(col("vec_id") === 0L), 3)
      .orderBy("rank").collect()
    assert(got.head.getLong(1) == 100L && got.head.getLong(3) == 1L)
    assert(got.head.getDouble(2) > 0.99)
  }

  test("LSH ANN finds the planted neighbor as rank 1 (recall on easy pairs)") {
    val got = Similarity
      .annTopK(vecs, vecs.where(col("vec_id") === 0L), 3, nBits = 128, bands = 16)
      .orderBy("rank").collect()
    assert(got.nonEmpty && got.head.getLong(1) == 100L)
  }

  test("repetition signals: dominant-token run, trigram totals, no shuffle") {
    val d = Seq(
      (1L, "a b a b a b c"), // 7 toks, 'a'×3 dominant, 5 tris, "a b a"/"b a b" repeat
      (2L, "x y"),           // under 3 tokens: zero trigrams
      (3L, "z z z z")        // 4 toks all 'z': 2 tris, 1 distinct
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionSignals(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got(0).getLong(1) == 7 && got(0).getLong(2) == 3)
    assert(got(0).getLong(3) == 5 && got(0).getLong(4) == 3)
    assert(got(1).getLong(1) == 2 && got(1).getLong(2) == 1)
    assert(got(1).getLong(3) == 0 && got(1).getLong(4) == 0)
    assert(got(2).getLong(1) == 4 && got(2).getLong(2) == 4)
    assert(got(2).getLong(3) == 2 && got(2).getLong(4) == 1)
    // the signals must ride the scan: one narrow projection, no exchange
    val plan = TextOps.repetitionSignals(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"expected a shuffle-free plan:\n$plan")
  }

  test("text stats, token counts, fingerprint, winnow, lang-id on known input") {
    val d = Seq((1L, "the a data key word")).toDF("doc_id", "text")
    val st = TextOps.stats(d, "doc_id", "text").head()
    assert(st.getLong(1) == 19 && st.getLong(2) == 5) // chars, words
    assert(st.getLong(4) == 4) // stopwords: the a data key
    assert(st.getDouble(5) == 0.8)

    val tc = TextOps.tokenCounts(d, "doc_id", "text").head()
    assert(tc.getLong(1) == 5 && tc.getLong(2) == 5 && tc.getLong(3) == 5)

    assert(TextOps.fingerprint(d, "doc_id", "text").head().getString(1).length == 32)

    val fr = Seq((2L, "le chat et la maison les arbres")).toDF("doc_id", "text")
    assert(TextOps.langId(fr, "doc_id", "text").head().getAs[String]("lang_pred") == "fr")
    val unk = Seq((3L, "xyz qrs")).toDF("doc_id", "text")
    assert(TextOps.langId(unk, "doc_id", "text").head().getAs[String]("lang_pred") == "unknown")

    // winnow: identical docs share the fingerprint count; distinct differ
    val w = TextOps.winnow(corpus, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w(0L) == w(2L))
    assert(w(0L) > 0)
  }

  test("vocab top-k: counts per language, deterministic tie rank, cap respected") {
    val d = Seq(
      (1L, "en", "b a a  c b a"), // double space → empty token dropped
      (2L, "en", "c b"),
      (3L, "fr", "le le chat")
    ).toDF("doc_id", "lang", "text")
    val v = TextOps.vocabTopK(d, "lang", "text", 2).orderBy("lang", "rank").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // en: a=3, b=3 (tie → token order), c=2 cut by k=2; fr: le=2, chat=1
    assert(v.toSeq == Seq(
      ("en", "a", 3L, 1L), ("en", "b", 3L, 2L),
      ("fr", "le", 2L, 1L), ("fr", "chat", 1L, 2L)))
  }

  test("tfidf top-k: rare terms outrank ubiquitous ones, exact ppm score") {
    val d = Seq(
      (1L, "common common rare1"),
      (2L, "common shared"),
      (3L, "common shared rare2 rare2 rare2")
    ).toDF("doc_id", "text")
    val got = TextOps.tfidfTopK(d, "doc_id", "text", 2, 3L)
      .orderBy("doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5)))
    // doc 1: rare1 (tf=1, df=1, idf=ln 3) beats common (tf=2, idf=0)
    assert(got.filter(_._1 == 1L).map(t => (t._2, t._6)).toSeq ==
      Seq(("rare1", 1L), ("common", 2L)))
    // doc 3: rare2 tf=3 → score = 3·round(ln(3)·1e6)/1e6 exactly
    val rare2 = got.find(t => t._1 == 3L && t._2 == "rare2").get
    assert(rare2._5 == 3.0 * math.round(math.log(3.0) * 1e6) / 1e6)
    // ubiquitous term: df=N ⇒ idf=0 ⇒ score 0, still rankable by token
    assert(got.filter(_._1 == 2L).forall(_._5 >= 0.0))
  }

  test("inverted index: df / occurrence totals / bounded posting prefix") {
    val d = Seq(
      (5L, "x y"),
      (3L, "x x z"),
      (9L, "x  y") // double space → empty token dropped
    ).toDF("doc_id", "text")
    val idx = TextOps.invertedIndex(d, "doc_id", "text", sampleK = 2).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(idx("x") == ((3L, 4L, "3,5"))) // prefix capped at k=2, sorted
    assert(idx("y") == ((2L, 2L, "5,9")))
    assert(idx("z") == ((1L, 1L, "3")))
  }

  test("min-k distinct agg: k smallest distinct survive partial merges") {
    import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column => toCol, expression => toExpr}
    val d = spark.range(0, 1000).repartition(13)
      .select((col("id") % 7).as("g"), ((col("id") * 37) % 101).as("v"))
    val got = d.groupBy("g")
      .agg(toCol(graft.functions.MinKDistinctLongsAgg(
        toExpr(col("v")), 5).toAggregateExpression()).as("p"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val want = d.collect().groupBy(_.getLong(0))
      .map { case (g, rows) => g -> rows.map(_.getLong(1)).distinct.sorted.take(5).toSeq }
    assert(got == want)
  }

  test("canonical per cluster: max quality wins, ties to the smallest id") {
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc_id", "comp")
    val quality = Seq(
      (1L, 500000L), (2L, 900000L), (3L, 900000L), // tie at the top → id 2
      (10L, 100000L), (11L, 300000L)
    ).toDF("doc_id", "qppm")
    val got = Dedup.canonicalPerCluster(comps, quality).orderBy("comp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq((1L, 2L, 3L, 0.9), (10L, 11L, 2L, 0.3)))
  }

  test("multimodal: blob meta is a pure projection; batched decode stub is deterministic") {
    val blobs = Multimodal.toBlob(corpus, "doc_id", "text")
    val m = Multimodal.meta(blobs).where(col("media_id") === 0L).head()
    val n = doc.getBytes("UTF-8").length.toLong
    assert(m.getLong(1) == n && m.getLong(2) == 64 + n % 512)

    val f1 = Multimodal.decodeFeatures(spark, blobs).collect().sortBy(_.media_id)
    val f2 = Multimodal.decodeFeatures(spark, blobs).collect().sortBy(_.media_id)
    assert(f1.toSeq == f2.toSeq)
    assert(f1.head.n_bytes == n && f1.head.mean_byte > 0)
  }

  test("multimodal: frame sampling steps through n_frames; resize plan scales") {
    val blobs = Multimodal.toBlob(corpus, "doc_id", "text")
    val nFrames = Multimodal.meta(blobs).where(col("media_id") === 0L)
      .head().getLong(4)
    val frames = Multimodal.frameSample(blobs, stepK = 3)
      .where(col("media_id") === 0L)
      .collect().map(_.getLong(1)).sorted
    assert(frames.toSeq == (0L until nFrames by 3).toSeq)

    val r = Multimodal.resizePlan(blobs, 224L, 224L)
      .where(col("media_id") === 0L).head()
    val n = doc.getBytes("UTF-8").length.toLong
    assert(r.getLong(1) == 224 && r.getLong(2) == 224)
    assert(math.abs(r.getDouble(3) - 224.0 / (64 + n % 512)) < 1e-12)
    assert(r.getLong(5) == 224 * 224 * 3)
  }

  test("semantic dedup keeps the member nearest its k-means centroid per cell") {
    // two tight direction clusters in 2-D; seeds (vec_id % 7 == 0) are
    // vec 0 and vec 7, one in each cluster
    val vecs = Seq(
      (0L, Seq(1.0, 0.0)), (1L, Seq(0.9, 0.1)), (2L, Seq(0.95, 0.05)),
      (7L, Seq(0.0, 1.0)), (8L, Seq(0.1, 0.9)))
      .toDF("vec_id", "v")
    val cents = Similarity.kmeansCentroids(vecs, centroidStep = 7L, iters = 2)
    assert(cents.length == 2)
    val got = Similarity.semanticDedup(vecs, cents)
      .orderBy("cell").collect()
    assert(got.length == 2)
    assert(got.map(_.getLong(2)).sum == 5, "members must partition the corpus")
    // cluster A's refined centroid is the fixed-point mean (0.95, 0.05);
    // vec 2 is exactly parallel to it ⇒ cos = 1.0 and it survives
    val cellA = got.find(_.getLong(2) == 3).get
    assert(cellA.getLong(1) == 2L, s"wrong survivor: $cellA")
    assert(cellA.getDouble(3) == 1.0)
    // cluster B's survivor must be one of its own members
    val cellB = got.find(_.getLong(2) == 2).get
    assert(Set(7L, 8L).contains(cellB.getLong(1)))
  }

  test("cross-side MinHash decontamination reports only train↔holdout pairs") {
    // doc 0 (holdout) leaked into train as doc 100: cross pair.
    // docs 1 and 2 are near-dups INSIDE train: same-side, must not report.
    val holdoutIds = Set(0L)
    val c = Seq(
      (0L, doc),
      (100L, doc + " leaked"),
      (1L, "five sorted ducks wander across the wide green field tonight quietly"),
      (2L, "five sorted ducks wander across the wide green field tonight quietly ok"),
      (3L, "completely different words about spark catalyst tungsten shuffles"))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleSet(c, "doc_id", "text")
    val sig = Dedup.minhashSignature(sh, 64)
    def isHold(col0: org.apache.spark.sql.Column) = col0.isInCollection(holdoutIds)
    val got = Dedup.withScopedPersist(sh, sig) {
      Dedup.verifyJaccard(
        Dedup.estimatePrune(
          Dedup.lshCandidates(sig, 64, 16)
            .where(isHold(col("a_id")) =!= isHold(col("b_id"))),
          sig, 64, minEst = 0.3),
        sh, 0.6)
    }.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 100L)), s"expected only the cross pair, got $got")
  }

  test("docLogProb scores docs under the corpus unigram LM with exact ppm sums") {
    val d = Seq((0L, "a a b"), (1L, "b c")).toDF("doc_id", "text")
    // counts: a=2 b=2 c=1, T=5
    def ppm(p: Double): Long = math.round(math.log(p) * 1e6)
    val got = graft.text.TextOps.docLogProb(d, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(got(0).getLong(1) == 3 && got(1).getLong(1) == 2)
    assert(got(0).getLong(2) == 2 * ppm(0.4) + ppm(0.4))
    assert(got(1).getLong(2) == ppm(0.4) + ppm(0.2))
    // the rare-token doc scores lower (more negative average)
    assert(got(1).getDouble(3) < got(0).getDouble(3))
  }

  test("piiScan counts and redacts emails/phones; clean text is untouched") {
    val a = "reach me at alice.w@mail.example.org or bob1@x.io thanks"
    val b = "call 555-0111 or 555-9999 now"
    val c = "no personal identifiers here at all"
    val d = Seq((0L, a), (1L, b), (2L, c)).toDF("doc_id", "text")
    val got = TextOps.piiScan(d, "doc_id", "text").orderBy("doc_id").collect()
    assert(got(0).getLong(1) == 2 && got(0).getLong(2) == 0)
    assert(got(1).getLong(1) == 0 && got(1).getLong(2) == 2)
    assert(got(2).getLong(1) == 0 && got(2).getLong(2) == 0)
    // redacted length is computable from the matched spans exactly
    val expRed0 = a.length - "alice.w@mail.example.org".length -
      "bob1@x.io".length + 2 * "<EMAIL>".length
    val expRed1 = b.length - 2 * "555-0111".length + 2 * "<PHONE>".length
    assert(got(0).getLong(3) == expRed0)
    assert(got(1).getLong(3) == expRed1)
    assert(got(2).getLong(3) == c.length)
    // redaction is complete: a second scan over the redacted text is clean
    val red = d.select(col("doc_id"),
      regexp_replace(regexp_replace(col("text"),
        TextOps.EmailRe, "<EMAIL>"), TextOps.PhoneRe, "<PHONE>").as("text"))
    val rescan = TextOps.piiScan(red, "doc_id", "text").collect()
    assert(rescan.forall(r => r.getLong(1) == 0 && r.getLong(2) == 0))
  }
}
