package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.streaming.StreamForget
import graft.text.TextIndex
import graft.store.IndexCore

/**
 * Streaming takedown queue: deletion requests drain as micro-batches
 * into exactly-once tombstones across all three persisted indexes;
 * a crash between the per-index commits replays without
 * double-applying, a fresh-checkpoint redelivery is a no-op on every
 * ledger, and the opt-in threshold compaction retires tombstones
 * mid-stream.
 */
class StreamForgetSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val doc =
    "the quick brown fox jumps over the lazy dog again and again today"
  private lazy val corpus = Seq(
    (0L, doc),
    (1L, "window scan window window merge"),
    (2L, "merge window table"),
    (3L, "totally unrelated words here"),
    (4L, doc + " tail"))
    .toDF("doc_id", "text")

  private def writeBatches(
      dir: java.nio.file.Path, batches: Seq[Seq[Long]]): Unit = {
    val base = System.currentTimeMillis()
    for ((ids, i) <- batches.zipWithIndex) {
      val scratch = dir.resolve(s"scratch$i")
      ids.toDF("doc_id").coalesce(1).write.parquet(scratch.toString)
      val parts = java.nio.file.Files.list(scratch)
      try {
        val part = parts
          .filter(p => p.getFileName.toString.endsWith(".parquet"))
          .findFirst().get()
        val dst = dir.resolve(s"b$i.parquet")
        java.nio.file.Files.move(part, dst)
        java.nio.file.Files.setLastModifiedTime(
          dst, java.nio.file.attribute.FileTime.fromMillis(base + i * 2000L))
      } finally parts.close()
    }
  }

  test("a takedown stream tombstones all three indexes exactly-once; " +
      "full redelivery is a no-op on every ledger") {
    val textIdx = TestSpark.tmpDir("sfg_text")
    val dedupIdx = TestSpark.tmpDir("sfg_dedup")
    val annIdx = TestSpark.tmpDir("sfg_ann")
    TextIndex.ingestShard(spark, textIdx, corpus, "doc_id", "text")
    Dedup.indexCheckAndIngest(spark, dedupIdx, corpus,
      "doc_id", "text", 0.6, persistPairs = true): Unit
    val vecs = Similarity.asDouble(
      (0L until 5L).map(i =>
        (i, Array.tabulate(8)(d => math.sin(i * 1.3 + d).toFloat)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    Similarity.ivfIndexBuild(spark, annIdx, vecs, centroidStep = 2L)
    val srcDir = java.nio.file.Files.createTempDirectory("sfg_src")
    writeBatches(srcDir, Seq(Seq(0L), Seq(4L, 999L))) // 999: never ingested
    val schema = spark.read.parquet(s"$srcDir/b0.parquet").schema
    def drain(ckpt: String): Unit = StreamForget.maintain(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString),
      ckpt, textIdx = Some(textIdx), dedupIdx = Some(dedupIdx),
      annIdx = Some(annIdx)).awaitTermination()
    drain(s"$srcDir/ckpt")
    // text: docs 0 and 4 gone from search and the forward store
    assert(TextIndex.searchBm25(spark, textIdx, Seq("fox"), 10).count() == 0L)
    assert(TextIndex.docsFor(spark, textIdx, Seq(0L, 4L, 1L))
      .collect().map(_.getLong(0)).toSet == Set(1L))
    // dedup: no pair may name doc 0 or 4
    assert(Dedup.indexCheckAndIngest(spark, dedupIdx,
      Seq((50L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6)
      .count() == 0L, "deleted docs still gate the dedup index")
    // ann: vectors 0/4 never returned as neighbors
    val nn = Similarity.ivfIndexQuery(spark, annIdx,
        vecs.where(col("vec_id") === 1L), k = 5, nProbe = 2)
      .collect().map(_.getLong(1)).toSet
    assert(!nn.contains(0L) && !nn.contains(4L),
      s"deleted vectors still probe as neighbors: $nn")
    // every ledger carries both batch keys
    for (k <- Seq("b0", "b1")) {
      assert(IndexCore.hasDelivery(spark, textIdx, k))
      assert(IndexCore.hasDelivery(spark, dedupIdx, k))
      assert(IndexCore.hasDelivery(spark, annIdx, k))
    }
    // fresh-checkpoint redelivery: version-preserving no-op everywhere
    val vs = (IndexCore.version(spark, textIdx),
      IndexCore.version(spark, dedupIdx),
      IndexCore.version(spark, annIdx))
    drain(s"$srcDir/ckpt_redelivery")
    assert((IndexCore.version(spark, textIdx),
      IndexCore.version(spark, dedupIdx),
      IndexCore.version(spark, annIdx)) == vs,
      "redelivered takedown stream must be a no-op on every index")
  }

  test("a crash between the text and ANN commits replays exactly: the " +
      "committed leg short-circuits, the missing leg completes") {
    val textIdx = TestSpark.tmpDir("sfg_gap_text")
    val annIdx = TestSpark.tmpDir("sfg_gap_ann")
    TextIndex.ingestShard(spark, textIdx, corpus, "doc_id", "text")
    val vecs = Similarity.asDouble(
      (0L until 5L).map(i =>
        (i, Array.tabulate(8)(d => math.sin(i * 1.3 + d).toFloat)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding")
    Similarity.ivfIndexBuild(spark, annIdx, vecs, centroidStep = 2L)
    // simulate the crash gap: the text tombstone for batch 0 committed,
    // the ANN one did not (the stream died in between)
    TextIndex.forgetDocs(spark, textIdx, Seq(0L), key = Some("b0"))
    val vText = IndexCore.version(spark, textIdx)
    val srcDir = java.nio.file.Files.createTempDirectory("sfg_gap_src")
    writeBatches(srcDir, Seq(Seq(0L)))
    val schema = spark.read.parquet(s"$srcDir/b0.parquet").schema
    StreamForget.maintain(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString),
      s"$srcDir/ckpt", textIdx = Some(textIdx),
      annIdx = Some(annIdx)).awaitTermination()
    assert(IndexCore.version(spark, textIdx) == vText,
      "replayed batch re-applied to the already-committed text leg")
    assert(Similarity.ivfTombstoneCount(spark, annIdx) == 1L,
      "the missing ANN leg did not complete on replay")
    assert(IndexCore.hasDelivery(spark, annIdx, "b0"))
  }

  test("forgetWhereAll erases everything matching a content predicate " +
      "across all three indexes under one key family; crash-gap replay " +
      "completes only the missing legs; redelivery and empty matches " +
      "are ledgered no-ops") {
    val textIdx = TestSpark.tmpDir("fwa_text")
    val dedupIdx = TestSpark.tmpDir("fwa_dedup")
    val annIdx = TestSpark.tmpDir("fwa_ann")
    TextIndex.ingestShard(spark, textIdx, corpus, "doc_id", "text")
    Dedup.indexCheckAndIngest(spark, dedupIdx, corpus,
      "doc_id", "text", 0.6, persistPairs = true): Unit
    val vecs = Similarity.asDouble(
      (0L until 5L).map { i =>
        val a = Array.fill(8)(0f); a(i.toInt) = 1f; (i, a)
      }.toDF("vec_id", "embedding"), "vec_id", "embedding")
    Similarity.ivfIndexBuild(spark, annIdx, vecs, centroidStep = 2L)
    // "erase everything mentioning 'fox'" — docs 0 and 4
    val n = StreamForget.forgetWhereAll(spark,
      col("text").contains("fox"), "gdpr1", textIdx,
      dedupIdx = Some(dedupIdx), annIdx = Some(annIdx))
    assert(n == 2L, s"expected 2 docs taken down, got $n")
    assert(TextIndex.searchBm25(spark, textIdx, Seq("fox"), 10).count() == 0L)
    assert(Dedup.indexCheckAndIngest(spark, dedupIdx,
      Seq((50L, doc)).toDF("doc_id", "text"), "doc_id", "text", 0.6)
      .count() == 0L, "deleted docs still gate the dedup index")
    val nn = Similarity.ivfIndexQuery(spark, annIdx,
        vecs.where(col("vec_id") === 1L), k = 5, nProbe = 2)
      .collect().map(_.getLong(1)).toSet
    assert(!nn.contains(0L) && !nn.contains(4L),
      s"deleted vectors still probe as neighbors: $nn")
    // redelivery: 0, no version moves anywhere
    val vs = (IndexCore.version(spark, textIdx),
      IndexCore.version(spark, dedupIdx),
      IndexCore.version(spark, annIdx))
    assert(StreamForget.forgetWhereAll(spark,
      col("text").contains("fox"), "gdpr1", textIdx,
      dedupIdx = Some(dedupIdx), annIdx = Some(annIdx)) == 0L)
    assert(vs == (IndexCore.version(spark, textIdx),
      IndexCore.version(spark, dedupIdx),
      IndexCore.version(spark, annIdx)),
      "redelivered cross-index takedown must be a version-preserving no-op")
    // a predicate matching nothing LIVE still ledgers its marker —
    // ('fox' docs are already gone, so a fresh key resolves nothing)
    assert(StreamForget.forgetWhereAll(spark,
      col("text").contains("fox"), "gdpr2", textIdx) == 0L)
    assert(IndexCore.hasDelivery(spark, textIdx, "gdpr2.text"))
    // crash gap: the dedup leg committed (with the ids the crashed
    // attempt resolved), text/ANN did not — the replay must
    // re-resolve the SAME ids (text store untouched) and complete
    // only the missing legs
    Dedup.indexForgetDocs(spark, dedupIdx, Seq(1L, 2L),
      key = Some("gdpr3.dedup"))
    // data entries, not raw versions: the verb's own mid-replay lease
    // (pin at entry, release at the marker) adds version-bumping
    // ledger commits, but must add NO data commit to the dedup leg
    def dedupData() = new graft.store.CommitLog(s"$dedupIdx/_manifests")
      .latest(spark)._2.filterNot(_.startsWith("#pin:")).toSet
    val eD = dedupData()
    assert(StreamForget.forgetWhereAll(spark,
      col("text").contains("window"), "gdpr3", textIdx,
      dedupIdx = Some(dedupIdx), annIdx = Some(annIdx)) == 2L)
    assert(dedupData() == eD,
      "replay must skip the committed dedup leg")
    assert(TextIndex.docsFor(spark, textIdx, Seq(1L, 2L)).count() == 0L,
      "replay must complete the missing text leg")
  }

  test("forgetWhereAll includeNearDups reaches gate-suppressed " +
      "duplicates that never made the text index; the dedup leg's " +
      "keyed tombstone is the replay-stable record of the resolved set") {
    val textIdx = TestSpark.tmpDir("fwa2_text")
    val dedupIdx = TestSpark.tmpDir("fwa2_dedup")
    val annIdx = TestSpark.tmpDir("fwa2_ann")
    // crawl-shaped state: docs 0 and 1 are survivors (text + dedup);
    // doc 10 is a near-dup of 0 — its signatures and shingle postings
    // were committed to the DEDUP index by the gate, its pair (0,10)
    // persisted, but it was suppressed from the text index
    TextIndex.ingestShard(spark, textIdx,
      corpus.where(col("doc_id").isin(0L, 1L)), "doc_id", "text")
    Dedup.indexCheckAndIngest(spark, dedupIdx,
      corpus.where(col("doc_id").isin(0L, 1L)),
      "doc_id", "text", 0.6, deliveryKey = Some("s0"),
      persistPairs = true): Unit
    Dedup.indexCheckAndIngest(spark, dedupIdx,
      Seq((10L, doc + " tail")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6, deliveryKey = Some("s1"),
      persistPairs = true): Unit
    val vecs = Similarity.asDouble(
      Seq(0L, 1L, 10L).zipWithIndex.map { case (id, i) =>
        val a = Array.fill(8)(0f); a(i) = 1f; (id, a)
      }.toDF("vec_id", "embedding"), "vec_id", "embedding")
    Similarity.ivfIndexBuild(spark, annIdx, vecs, centroidStep = 1L)
    // without expansion, the suppressed duplicate would survive
    val n = StreamForget.forgetWhereAll(spark,
      col("text").contains("fox"), "g", textIdx,
      dedupIdx = Some(dedupIdx), annIdx = Some(annIdx),
      includeNearDups = true)
    assert(n == 2L, s"expected doc 0 + its suppressed near-dup 10, got $n")
    // the keyed tombstone records exactly the applied set
    assert(Dedup.indexGoneForDelivery(spark, dedupIdx, "g.dedup")
      .collect().map(_.getLong(0)).toSet == Set(0L, 10L))
    // the suppressed dup's content no longer gates; its vector is gone
    assert(Dedup.indexCheckAndIngest(spark, dedupIdx,
      Seq((60L, doc + " tail x")).toDF("doc_id", "text"),
      "doc_id", "text", 0.6).count() == 0L,
      "the suppressed near-dup's signatures survived the takedown")
    assert(!Similarity.ivfIndexQuery(spark, annIdx,
        vecs.where(col("vec_id") === 1L), k = 3, nProbe = 3)
      .collect().map(_.getLong(1)).toSet.exists(Set(0L, 10L)),
      "erased vectors still probe as neighbors")
    // crash-gap replay reads the tombstone record, never re-derives:
    // simulate an attempt that committed ONLY the dedup leg with the
    // expanded set, then replay — the ANN leg must get the SAME set
    // even though the pair ledger no longer serves the pair
    val text2 = TestSpark.tmpDir("fwa2_text2")
    val ann2 = TestSpark.tmpDir("fwa2_ann2")
    val dedup2 = TestSpark.tmpDir("fwa2_dedup2")
    TextIndex.ingestShard(spark, text2,
      corpus.where(col("doc_id").isin(0L, 1L)), "doc_id", "text")
    Dedup.indexCheckAndIngest(spark, dedup2,
      corpus.where(col("doc_id").isin(0L, 1L)),
      "doc_id", "text", 0.6, deliveryKey = Some("s0"),
      persistPairs = true): Unit
    Similarity.ivfIndexBuild(spark, ann2, vecs, centroidStep = 1L)
    Dedup.indexForgetDocs(spark, dedup2, Seq(0L, 10L),
      key = Some("g3.dedup"))
    assert(StreamForget.forgetWhereAll(spark,
      col("text").contains("fox"), "g3", text2,
      dedupIdx = Some(dedup2), annIdx = Some(ann2),
      includeNearDups = true) == 2L,
      "replay must apply the tombstone-recorded set, not re-derive")
    assert(!Similarity.ivfIndexQuery(spark, ann2,
        vecs.where(col("vec_id") === 1L), k = 3, nProbe = 3)
      .collect().map(_.getLong(1)).toSet.exists(Set(0L, 10L)),
      "the replayed ANN leg missed the recorded near-dup id")
  }

  test("retireAboveTombstones retires tombstones mid-stream once the " +
      "live count crosses the threshold (tombstone-scoped, no full fold)") {
    val textIdx = TestSpark.tmpDir("sfg_fold_text")
    TextIndex.ingestShard(spark, textIdx, corpus, "doc_id", "text")
    val srcDir = java.nio.file.Files.createTempDirectory("sfg_fold_src")
    writeBatches(srcDir, Seq(Seq(0L), Seq(3L))) // 2 batches of 1 id
    val schema = spark.read.parquet(s"$srcDir/b0.parquet").schema
    StreamForget.maintain(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString),
      s"$srcDir/ckpt", textIdx = Some(textIdx),
      retireAboveTombstones = Some(1L)).awaitTermination()
    // batch 0 left 1 live tombstone (<= cut); batch 1 crossed the
    // threshold and triggered the scoped retirement
    assert(TextIndex.tombstoneCount(spark, textIdx) == 0L,
      "threshold retirement did not retire the tombstones")
    assert(TextIndex.docsFor(spark, textIdx, Seq(1L, 2L))
      .count() == 2L, "survivors lost in the mid-stream retirement")
    // doc 0 is gone; doc 4 (the untouched near-copy) still holds "fox"
    assert(TextIndex.searchBm25(spark, textIdx, Seq("fox"), 10)
      .collect().map(_.getLong(1)).toSeq == Seq(4L))
    for (k <- Seq("b0", "b1"))
      assert(IndexCore.hasDelivery(spark, textIdx, k),
        s"key $k lost in the mid-stream fold")
  }

  test("forgetWhereAll's empty-resolution path ledgers the completion " +
      "marker with NO predicate re-evaluation: no tombstone lands " +
      "anywhere, no other index moves, redelivery stays a no-op even " +
      "after matching content is ingested") {
    val textIdx = TestSpark.tmpDir("fwa_empty_text")
    val dedupIdx = TestSpark.tmpDir("fwa_empty_dedup")
    TextIndex.ingestShard(spark, textIdx,
      corpus.where(col("doc_id") === 3L), "doc_id", "text")
    Dedup.indexCheckAndIngest(spark, dedupIdx,
      corpus.where(col("doc_id") === 3L), "doc_id", "text", 0.6,
      persistPairs = true): Unit
    def dedupData() = new graft.store.CommitLog(s"$dedupIdx/_manifests")
      .latest(spark)._2.filterNot(_.startsWith("#pin:")).toSet
    val (vT, eD) = (IndexCore.version(spark, textIdx), dedupData())
    assert(StreamForget.forgetWhereAll(spark,
      col("text").contains("fox"), "e1", textIdx,
      dedupIdx = Some(dedupIdx), includeNearDups = true) == 0L)
    // exactly ONE text commit (the marker), zero tombstones, dedup
    // data untouched (its version moves only by the verb's own
    // pin/unpin lease commits) — the old path re-ran the predicate
    // through forgetWhere, which against a store that moved since the
    // resolution could tombstone the text leg alone
    assert(IndexCore.version(spark, textIdx) == vT + 1)
    assert(IndexCore.hasDelivery(spark, textIdx, "e1.text"))
    assert(TextIndex.tombstoneCount(spark, textIdx) == 0L,
      "empty-resolution takedown must not create a tombstone")
    assert(dedupData() == eD)
    assert(IndexCore.pins(spark, dedupIdx).isEmpty,
      "the empty-resolution path must release its lease")
    // content matching the predicate ingested AFTER the verb completed
    // is a NEW generation: the ledgered key must keep redeliveries
    // no-ops and the doc must keep serving
    TextIndex.ingestShard(spark, textIdx,
      corpus.where(col("doc_id") === 0L), "doc_id", "text")
    assert(StreamForget.forgetWhereAll(spark,
      col("text").contains("fox"), "e1", textIdx,
      dedupIdx = Some(dedupIdx), includeNearDups = true) == 0L)
    assert(TextIndex.searchBm25(spark, textIdx, Seq("fox"), 10)
      .count() == 1L,
      "a redelivered empty takedown erased later-ingested content")
  }

  test("forgetWhereAll includeNearDups against a dedup index with NO " +
      "persisted pair reports proceeds with an empty expansion (the " +
      "explicit existence probe, not a blanket failure swallow)") {
    val textIdx = TestSpark.tmpDir("fwa_nopairs_text")
    val dedupIdx = TestSpark.tmpDir("fwa_nopairs_dedup")
    TextIndex.ingestShard(spark, textIdx,
      corpus.where(col("doc_id").isin(0L, 1L)), "doc_id", "text")
    Dedup.indexCheckAndIngest(spark, dedupIdx,
      corpus.where(col("doc_id").isin(0L, 1L)),
      "doc_id", "text", 0.6): Unit // persistPairs = false
    assert(!Dedup.indexHasPairReports(spark, dedupIdx))
    assert(StreamForget.forgetWhereAll(spark,
      col("text").contains("fox"), "np", textIdx,
      dedupIdx = Some(dedupIdx), includeNearDups = true) == 1L)
    assert(Dedup.indexGoneForDelivery(spark, dedupIdx, "np.dedup")
      .collect().map(_.getLong(0)).toSeq == Seq(0L))
    assert(TextIndex.searchBm25(spark, textIdx, Seq("fox"), 10)
      .count() == 0L)
  }

  test("forgetWhereAll with annIdx but NO dedupIdx: the ANN leg's " +
      "keyed tombstone is the authoritative resolved set — a crash " +
      "between the ann and text legs plus a concurrent matching " +
      "ingest must NOT erase the newcomer's text while its vector " +
      "stays live (the ann/text divergence)") {
    val textIdx = TestSpark.tmpDir("fwa_annonly_text")
    val annIdx = TestSpark.tmpDir("fwa_annonly_ann")
    TextIndex.ingestShard(spark, textIdx,
      corpus.where(col("doc_id").isin(0L, 1L)), "doc_id", "text",
      key = Some("w0"))
    val vecs = Similarity.asDouble(
      Seq(0L, 1L, 4L).zipWithIndex.map { case (id, i) =>
        val a = Array.fill(8)(0f); a(i) = 1f; (id, a)
      }.toDF("vec_id", "embedding"), "vec_id", "embedding")
    Similarity.ivfIndexBuild(spark, annIdx,
      vecs.where(col("vec_id") < 4), centroidStep = 1L, key = Some("w0"))
    // the crash: the ANN leg committed {0} (doc 0 matches 'fox'),
    // the text leg did not
    Similarity.ivfIndexForget(spark, annIdx, Seq(0L),
      key = Some("g.ann"))
    // a crawl lands doc 4 — ALSO matching 'fox' — in the gap
    TextIndex.ingestShard(spark, textIdx,
      corpus.where(col("doc_id") === 4L), "doc_id", "text",
      key = Some("w1"))
    Similarity.ivfIndexAppend(spark, annIdx,
      vecs.where(col("vec_id") === 4L), key = Some("w1"))
    // replay: must re-read the ANN record {0}, never re-resolve
    // {0, 4} — doc 4 is a new takedown's business
    assert(StreamForget.forgetWhereAll(spark,
      col("text").contains("fox"), "g", textIdx,
      annIdx = Some(annIdx)) == 1L)
    assert(TextIndex.docsFor(spark, textIdx, Seq(0L)).count() == 0L,
      "the recorded id must complete the text leg")
    assert(TextIndex.docsFor(spark, textIdx, Seq(4L)).count() == 1L,
      "the replay erased a doc the committed ANN leg never saw")
    assert(Similarity.ivfIndexQuery(spark, annIdx,
        vecs.where(col("vec_id") === 1L), k = 3, nProbe = 2)
      .collect().map(_.getLong(1)).toSet == Set(4L),
      "vector state must match: 0 gone, 4 live")
    // doc 4 is reachable by a FRESH takedown (cross-index, both legs)
    assert(StreamForget.forgetWhereAll(spark,
      col("text").contains("fox"), "g2", textIdx,
      annIdx = Some(annIdx)) == 1L)
    assert(TextIndex.docsFor(spark, textIdx, Seq(4L)).count() == 0L)
    assert(Similarity.ivfIndexQuery(spark, annIdx,
        vecs.where(col("vec_id") === 1L), k = 3, nProbe = 2)
      .collect().forall(_.getLong(1) != 4L))
  }

  test("forgetWhereAll holds the mid-replay lease itself: in the crash " +
      "window the authoritative tombstone cannot be retired or folded " +
      "out from under the replay; the replay completes, releases the " +
      "lease, and deferred maintenance then proceeds") {
    val textIdx = TestSpark.tmpDir("fwa_pin_text")
    val dedupIdx = TestSpark.tmpDir("fwa_pin_dedup")
    TextIndex.ingestShard(spark, textIdx, corpus, "doc_id", "text",
      key = Some("w0"))
    Dedup.indexCheckAndIngest(spark, dedupIdx, corpus, "doc_id", "text",
      0.6, deliveryKey = Some("w0")): Unit
    // the crashed attempt's EXACT on-disk state: the verb pinned at
    // entry, committed the dedup leg, then died before the text leg
    IndexCore.pin(spark, dedupIdx, "fwa:g")
    Dedup.indexForgetDocs(spark, dedupIdx, Seq(1L, 2L),
      key = Some("g.dedup"))
    // maintenance racing the window DEFERS loudly instead of consuming
    // the tombstone the replay must re-read
    val e = intercept[IllegalStateException](
      Dedup.indexRetireTombstones(spark, dedupIdx))
    assert(e.getMessage.contains("pinned"))
    intercept[IllegalStateException](Dedup.indexCompact(spark, dedupIdx))
    // the replay re-reads the recorded set, completes the text leg,
    // and releases the lease
    assert(StreamForget.forgetWhereAll(spark,
      col("text").contains("window"), "g", textIdx,
      dedupIdx = Some(dedupIdx)) == 2L)
    assert(IndexCore.pins(spark, dedupIdx).isEmpty,
      "completion must release the lease")
    assert(Dedup.indexRetireTombstones(spark, dedupIdx) == 1,
      "the window is closed — retirement proceeds")
    // a clean run pins and unpins transparently around itself
    assert(StreamForget.forgetWhereAll(spark,
      col("text").contains("fox"), "g2", textIdx,
      dedupIdx = Some(dedupIdx)) == 2L)
    assert(IndexCore.pins(spark, dedupIdx).isEmpty)
    // and a redelivery probe (marker present) stays pin-free
    assert(StreamForget.forgetWhereAll(spark,
      col("text").contains("fox"), "g2", textIdx,
      dedupIdx = Some(dedupIdx)) == 0L)
    assert(IndexCore.pins(spark, dedupIdx).isEmpty)
  }

  test("deferred-retirement observability: consecutive lost publishes " +
      "are counted per index and reset on a win") {
    val dir = "/observability/probe/only"
    assert(StreamForget.deferredRetirements(dir) == 0L)
    for (i <- 1 to 4) {
      StreamForget.retireOpportunistic(dir)(
        throw new IllegalStateException(s"raced $i"))
      assert(StreamForget.deferredRetirements(dir) == i.toLong)
    }
    // a non-race failure must PROPAGATE (only the publish race defers)
    assertThrows[IllegalArgumentException](
      StreamForget.retireOpportunistic(dir)(
        throw new IllegalArgumentException("genuine bug")))
    // a retirement that publishes (or finds nothing) resets the count
    StreamForget.retireOpportunistic(dir)(())
    assert(StreamForget.deferredRetirements(dir) == 0L)
  }

  test("retirement under hot concurrent ingest eventually wins " +
      "(bounded unfairness): lost attempts defer, never corrupt, and " +
      "the win leaves every concurrent ingest's docs serving") {
    val idx = TestSpark.tmpDir("ret_contend")
    TextIndex.ingestShard(spark, idx, corpus, "doc_id", "text",
      key = Some("base"))
    TextIndex.forgetDocs(spark, idx, Seq(0L), key = Some("t0"))
    // hot writer: 10 back-to-back shard ingests racing the retirement
    val nWriter = 10
    val writerErr = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val writer = new Thread(() => {
      try {
        for (i <- 0 until nWriter)
          TextIndex.ingestShard(spark, idx,
            Seq((1000L + i, s"noise document number $i about windows"))
              .toDF("doc_id", "text"),
            "doc_id", "text", key = Some(s"n$i"))
      } catch { case t: Throwable => writerErr.set(t) }
    })
    val t0 = System.nanoTime()
    writer.start()
    var lost = 0
    var retired = 0
    while (retired == 0) {
      try retired = TextIndex.retireTombstones(spark, idx)
      catch { case _: IllegalStateException => lost += 1 }
    }
    val winMs = (System.nanoTime() - t0) / 1e6
    writer.join()
    assert(writerErr.get() == null,
      s"concurrent ingest failed: ${writerErr.get()}")
    assert(retired == 1 && TextIndex.tombstoneCount(spark, idx) == 0L)
    // the win is consistent: the erased doc is out, every survivor
    // and every concurrently-ingested doc serves
    assert(TextIndex.docsFor(spark, idx, Seq(0L)).count() == 0L)
    assert(TextIndex.docsFor(spark, idx,
      (1000L until (1000L + nWriter)) :+ 4L).count() == nWriter + 1L)
    info(f"retirement won after $lost lost attempts in $winMs%.0f ms " +
      s"against $nWriter concurrent shard ingests")
  }
}
