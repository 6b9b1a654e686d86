package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.model.Fidelity
import graft.store.{ManifestStore, Tables}

/**
 * Manifest/merge-on-read store: atomic snapshot commits, monoid fold
 * at read time, compaction equivalence, vacuum, and version ordering.
 */
class ManifestStoreSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def batch(points: (String, String, Double)*): DataFrame =
    TestSpark.longDF(points)

  private def level1(root: String): Map[(String, Long), (Double, Double, Double, Long)] =
    ManifestStore.readLevel(spark, root, Fidelity.S1).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))))
      .toMap

  /** The live `c-` (rollup partial) commits: atomic ingest also
   *  publishes one `r-` (raw) commit per batch.
   */
  private def partialCommits(root: String): Seq[String] =
    ManifestStore.latest(spark, root)._2.filter(_.startsWith("c-"))

  /** The store's data dir holds exactly the live `c-`/`r-` entries: a
   *  rejected publish left no staging behind. With `untouchedSince` (a
   *  [[dataStamp]] taken before the rejected call) the dir must also be
   *  unmodified since — nothing was even staged and dropped.
   */
  private def assertNoStaging(root: String, untouchedSince: Option[Long] = None): Unit = {
    val onDisk = new java.io.File(s"$root/mrollup/data").listFiles().map(_.getName).toSet
    assert(onDisk == ManifestStore.latest(spark, root)._2.filterNot(_.startsWith("#")).toSet,
      s"rejected staging leaked: $onDisk")
    untouchedSince.foreach(t => assert(dataStamp(root) == t,
      "a rejected delivery staged (and dropped) a commit dir"))
  }

  /** The data dir's modification time: creating or deleting an entry
   *  dir in it moves the stamp.
   */
  private def dataStamp(root: String): Long =
    new java.io.File(s"$root/mrollup/data").lastModified()

  test("appends are snapshot-visible and merge across commits at read time") {
    val root = TestSpark.tmpDir("mstore")
    assert(ManifestStore.readLevel(spark, root, Fidelity.S1).isEmpty,
      "never-written table reads empty")

    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00", 1.0), ("a", "2024-01-01T00:00:00.4", 3.0)))
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00.8", 5.0), ("b", "2024-01-01T00:00:01", 7.0)))

    assert(partialCommits(root).size == 2, "two live commits")
    val m = level1(root)
    // same-second points from DIFFERENT commits fold via the monoid
    assert(m(("a", TestSpark.isoUs("2024-01-01T00:00:00") / 1000000L)) ==
      ((1.0, 5.0, 9.0, 3L)))
    assert(m(("b", TestSpark.isoUs("2024-01-01T00:00:01") / 1000000L)) ==
      ((7.0, 7.0, 7.0, 1L)))
  }

  test("readLevelAsOf sees exactly the snapshot its version published") {
    val root = TestSpark.tmpDir("mstore_asof")
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00", 1.0)))
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00.5", 3.0)))
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("b", "2024-01-01T00:00:01", 9.0)))

    val sec0 = TestSpark.isoUs("2024-01-01T00:00:00") / 1000000L
    // version 1: only the first batch exists
    val v1 = ManifestStore.readLevelAsOf(spark, root, Fidelity.S1, 1L).collect()
    assert(v1.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", sec0)))
    assert(v1.head.getLong(5) == 1L)
    // version 2: the same-second point folded in, "b" not yet visible
    val v2 = ManifestStore.readLevelAsOf(spark, root, Fidelity.S1, 2L).collect()
    assert(v2.length == 1 && v2.head.getLong(5) == 2L &&
      v2.head.getDouble(4) == 4.0)
    // as-of the latest version ≡ readLevel
    val (vLatest, _) = ManifestStore.latest(spark, root)
    val asOfLatest = ManifestStore.readLevelAsOf(spark, root, Fidelity.S1, vLatest)
    assert(asOfLatest.exceptAll(ManifestStore.readLevel(spark, root, Fidelity.S1)).isEmpty)
    // a never-published version fails loudly
    intercept[IllegalArgumentException] {
      ManifestStore.readLevelAsOf(spark, root, Fidelity.S1, 99L).collect()
    }
  }

  test("readLevelFor equals the series slice of readLevel") {
    val root = TestSpark.tmpDir("mstore")
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00", 1.0), ("b", "2024-01-01T00:00:00", 2.0)))
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:02", 4.0)))
    val direct = ManifestStore.readLevelFor(spark, root, Fidelity.S1, "a")
      .orderBy("bucket_s").collect().toSeq
    val sliced = ManifestStore.readLevel(spark, root, Fidelity.S1)
      .where(col("dataset_id") === "a").orderBy("bucket_s").collect().toSeq
    assert(direct == sliced && direct.size == 2)
  }

  test("compact folds commits into one; vacuum deletes the superseded dirs; reads unchanged") {
    val root = TestSpark.tmpDir("mstore")
    for (i <- 0 until 3)
      ManifestStore.ingestBatchAtomic(spark, root,
        batch(("a", s"2024-01-01T00:00:0$i", i + 1.0), ("b", s"2024-01-01T00:00:0$i", 10.0 * (i + 1))))
    val before = level1(root)
    val liveBefore = partialCommits(root)
    assert(liveBefore.size == 3)

    ManifestStore.compact(spark, root)
    val liveAfter = partialCommits(root)
    assert(liveAfter.size == 1 && !liveBefore.contains(liveAfter.head))
    assert(level1(root) == before, "compaction preserves every level-1 cell")

    // retention guard: young unreferenced dirs survive (in-flight
    // writers/readers), then age-0 vacuum reclaims them
    ManifestStore.vacuum(spark, root, minAgeMs = 3600000L)
    val dirsWithRetention =
      new java.io.File(s"$root/mrollup/data").listFiles().map(_.getName).toSet
    assert(liveBefore.toSet.subsetOf(dirsWithRetention),
      "retention keeps young superseded dirs")

    ManifestStore.vacuum(spark, root)
    val dataDirs = new java.io.File(s"$root/mrollup/data").listFiles().map(_.getName).toSet
    assert(dataDirs == ManifestStore.latest(spark, root)._2.toSet,
      "vacuum leaves only manifest-referenced dirs")
    assert(level1(root) == before, "reads survive vacuum")

    // every aggregate level survives the cycle, not just S1
    for (f <- Fidelity.aggLevels)
      assert(!ManifestStore.readLevel(spark, root, f).isEmpty, s"level ${f.name} non-empty")
  }

  test("readLevelRange equals the bucket-range slice of readLevel, pre-fold pruned") {
    val root = TestSpark.tmpDir("mstore")
    ManifestStore.ingestBatchAtomic(spark, root, batch(
      ("a", "2024-01-01T00:00:00", 1.0), ("a", "2024-01-01T00:00:05", 2.0),
      ("b", "2024-01-01T00:00:02", 9.0)))
    ManifestStore.ingestBatchAtomic(spark, root, batch(
      ("a", "2024-01-01T00:00:02", 3.0), ("a", "2024-01-01T00:01:00", 4.0)))
    val lo = TestSpark.isoUs("2024-01-01T00:00:00") / 1000000L
    val hi = lo + 10
    val ranged = ManifestStore.readLevelRange(spark, root, Fidelity.S1, "a", lo, hi)
      .orderBy("bucket_s").collect().toSeq
    val sliced = ManifestStore.readLevel(spark, root, Fidelity.S1)
      .where(col("dataset_id") === "a" && col("bucket_s").between(lo, hi))
      .orderBy("bucket_s").collect().toSeq
    assert(ranged == sliced && ranged.size == 3, "t=0,2,5 in range; t=60 and series b out")
  }

  test("commits always land above the highest existing manifest version") {
    val root = TestSpark.tmpDir("mstore")
    ManifestStore.ingestBatchAtomic(spark, root, batch(("a", "2024-01-01T00:00:00", 1.0)))
    val (v1, live1) = ManifestStore.latest(spark, root)
    // simulate a concurrent writer (another CommitLog instance — e.g. a
    // different driver on the same root) publishing the next version
    // with the same live set. Versions are DENSE by protocol (every
    // publish is exactly latest+1 through create-exclusive), so the
    // foreign version is v1+1; the next commit must discover it — the
    // stale _latest hint rolls forward by existence probes — and land
    // above it, never beside it
    val fake = new java.io.File(s"$root/mrollup/_manifests/" + f"v${v1 + 1}%012d")
    java.nio.file.Files.writeString(fake.toPath, live1.mkString("", "\n", "\n"))
    ManifestStore.ingestBatchAtomic(spark, root, batch(("a", "2024-01-01T00:00:01", 2.0)))
    val (v2, live2) = ManifestStore.latest(spark, root)
    assert(v2 == v1 + 2, "new commit sequenced after the foreign version")
    assert(partialCommits(root).size == 2 && live1.forall(live2.contains))
    assert(level1(root).keySet.size == 2)
  }

  test("auto-compaction triggers past maxLiveCommits and equals the one-shot rollup") {
    val root = TestSpark.tmpDir("mstore")
    val all = (0 until 6).map(i => ("s", f"2024-01-01T00:00:$i%02d", i * 1.5))
    for (p <- all.grouped(2).toSeq)
      ManifestStore.ingestBatchAtomic(spark, root, batch(p: _*), maxLiveCommits = 2)
    assert(partialCommits(root).size <= 3, "compaction kept live set bounded")
    val oneShot = graft.ops.Rollup.aggregate(batch(all: _*), 1)
      .select("dataset_id", "bucket_s", "min_v", "max_v", "sum_v", "cnt")
      .orderBy("bucket_s").collect().toSeq
    val stored = ManifestStore.readLevel(spark, root, Fidelity.S1)
      .orderBy("bucket_s").collect().toSeq
    assert(stored == oneShot)
  }

  test("idempotent append: a redelivered key folds in exactly once, even past compaction") {
    val root = TestSpark.tmpDir("mstore_txn")
    val partials = Tables.allLevelPartials(
      graft.ingest.Melt.sanitize(batch(("a", "2024-01-01T00:00:00", 2.0))))
    assert(ManifestStore.appendPartialsIdempotent(spark, root, partials, "b0"),
      "first delivery publishes")
    val stamp0 = dataStamp(root)
    assert(!ManifestStore.appendPartialsIdempotent(spark, root, partials, "b0"),
      "redelivery is rejected")
    assertNoStaging(root, Some(stamp0))
    assert(level1(root).values.map(_._4).sum == 1L, "cnt folded once")

    // a second batch + compaction must PRESERVE the key
    assert(ManifestStore.appendPartialsIdempotent(spark, root,
      Tables.allLevelPartials(
        graft.ingest.Melt.sanitize(batch(("a", "2024-01-01T00:00:01", 4.0)))), "b1"))
    ManifestStore.compact(spark, root)
    ManifestStore.vacuum(spark, root)
    val stamp1 = dataStamp(root)
    assert(!ManifestStore.appendPartialsIdempotent(spark, root, partials, "b0"),
      "key survives compaction")
    assertNoStaging(root, Some(stamp1))
    assert(!ManifestStore.appendPartialsIdempotent(spark, root, partials, "b1"))
    assertNoStaging(root, Some(stamp1))
    assert(level1(root).values.map(_._4).sum == 2L,
      "state identical after compaction + redeliveries")
    // reads ignore key lines entirely
    assert(ManifestStore.readLevel(spark, root, Fidelity.S1).count() == 2L)
  }

  test("cdcBetween reports inserts and updates with old and merged new state") {
    val root = TestSpark.tmpDir("mstore_cdc")
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00", 4.0), ("b", "2024-01-01T00:00:01", 7.0)))
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00.5", 1.0), // update: same bucket as v1's a
        ("c", "2024-01-01T00:00:02", 9.0))) // insert: bucket born in window
    val sec0 = TestSpark.isoUs("2024-01-01T00:00:00") / 1000000L
    val rows = ManifestStore.cdcBetween(spark, root, Fidelity.S1, 1L, 2L)
      .orderBy("dataset_id").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "c"),
      "untouched bucket b absent from the feed")
    val a = rows(0)
    assert(a.getLong(1) == sec0 && a.getString(2) == "update")
    assert((a.getDouble(3), a.getDouble(4), a.getDouble(5), a.getLong(6)) ==
      ((4.0, 4.0, 4.0, 1L)), "old state = v1 aggregate")
    assert((a.getDouble(7), a.getDouble(8), a.getDouble(9), a.getLong(10)) ==
      ((1.0, 4.0, 5.0, 2L)), "new state = old merged with delta")
    val c = rows(1)
    assert(c.getString(2) == "insert" && c.isNullAt(3) && c.isNullAt(6))
    assert((c.getDouble(7), c.getDouble(8), c.getDouble(9), c.getLong(10)) ==
      ((9.0, 9.0, 9.0, 1L)))
  }

  test("cdcBetween: empty window is empty; compaction boundary fails loudly") {
    val root = TestSpark.tmpDir("mstore_cdc2")
    ManifestStore.ingestBatchAtomic(spark, root, batch(("a", "2024-01-01T00:00:00", 1.0)))
    assert(ManifestStore.cdcBetween(spark, root, Fidelity.S1, 1L, 1L).isEmpty)
    // from the never-written version 0, everything is an insert
    val fromZero = ManifestStore.cdcBetween(spark, root, Fidelity.S1, 0L, 1L).collect()
    assert(fromZero.map(_.getString(2)).toSeq == Seq("insert"))
    ManifestStore.ingestBatchAtomic(spark, root, batch(("a", "2024-01-01T00:00:01", 2.0)))
    ManifestStore.compact(spark, root)
    val ex = intercept[IllegalArgumentException] {
      ManifestStore.cdcBetween(spark, root, Fidelity.S1, 1L,
        ManifestStore.latest(spark, root)._1)
    }
    assert(ex.getMessage.contains("compaction"))
  }

  test("CDC consumer survives a concurrent compact + vacuum: loud " +
      "refusal, full resync at the head, then incremental windows resume") {
    val root = TestSpark.tmpDir("mstore_resync")
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00", 4.0), ("b", "2024-01-01T00:00:01", 7.0)))
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00.5", 1.0), ("c", "2024-01-01T00:00:02", 9.0)))
    // the consumer: a replica of the S1 level maintained from CDC
    // windows, with a version cursor — the deployment shape the
    // refusal + resync contract exists for
    var cursor = 0L
    var replica = Map.empty[(String, Long), (Double, Double, Double, Long)]
    def applyWindow(toV: Long): Unit = {
      ManifestStore.cdcBetween(spark, root, Fidelity.S1, cursor, toV)
        .collect().foreach { r =>
          replica += (r.getString(0), r.getLong(1)) ->
            ((r.getDouble(7), r.getDouble(8), r.getDouble(9), r.getLong(10)))
        }
      cursor = toV
    }
    applyWindow(ManifestStore.latest(spark, root)._1)
    assert(replica == level1(root), "consumer in sync pre-maintenance")
    // maintenance races in behind the consumer's back: one more batch,
    // then compact + manifest-history vacuum + data vacuum — the
    // destructive verbs that carry NO lease here by contract
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("b", "2024-01-01T00:00:01.5", 2.0)))
    ManifestStore.compact(spark, root)
    ManifestStore.vacuumManifest(spark, root, keep = 1)
    ManifestStore.vacuum(spark, root)
    val head = ManifestStore.latest(spark, root)._1
    // the incremental pull must REFUSE with the real cause (the old
    // cursor version is gone below the retention floor, or the window
    // crosses the fold) — never partial or guessed deltas
    val ex = intercept[IllegalArgumentException](applyWindow(head))
    assert(ex.getMessage.contains("retention floor") ||
      ex.getMessage.contains("compaction"), ex.getMessage)
    // resync: full re-read at the head, rebased cursor — exact by the
    // monoid contract (the level IS the fold; no acknowledged state
    // can be lost)
    replica = level1(root)
    cursor = head
    assert(replica.values.map(_._4).sum == 5L)
    // life resumes: the next append flows through a plain incremental
    // window and the replica reconverges
    ManifestStore.ingestBatchAtomic(spark, root,
      batch(("c", "2024-01-01T00:00:02.5", 3.0)))
    applyWindow(ManifestStore.latest(spark, root)._1)
    assert(replica == level1(root), "incremental windows resumed cleanly")
  }

  test("cloneAsOf: zero-copy branch at a version diverges independently; " +
      "pre-branch keys reject, post-branch keys ingest; source vacuum safe") {
    val src = TestSpark.tmpDir("mstore_bsrc")
    val br = TestSpark.tmpDir("mstore_bbr") + "/branch"
    val b0 = batch(("a", "2024-01-01T00:00:00", 1.0))
    val b1 = batch(("a", "2024-01-01T00:00:01", 2.0))
    val b2 = batch(("b", "2024-01-01T00:00:02", 9.0))
    assert(ManifestStore.ingestBatchAtomic(spark, src, b0, key = Some("k0")))
    assert(ManifestStore.ingestBatchAtomic(spark, src, b1, key = Some("k1")))
    assert(ManifestStore.ingestBatchAtomic(spark, src, b2, key = Some("k2")))

    // branch at v2 = batches 0-1; reads equal the source's as-of view
    ManifestStore.cloneAsOf(spark, src, br, version = 2L)
    def lvl(root: String) = ManifestStore.readLevel(spark, root, Fidelity.S1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(4)))
      .toSet
    val asOf2 = ManifestStore.readLevelAsOf(spark, src, Fidelity.S1, 2L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(4)))
      .toSet
    assert(lvl(br) == asOf2, "branch must read as the source's v2 snapshot")

    // a key folded BEFORE the branch point rejects on the branch; one
    // folded only AFTER it (k2, on the source's v3) ingests normally —
    // the branch genuinely diverged at v2
    assert(!ManifestStore.ingestBatchAtomic(spark, br, b1, key = Some("k1")))
    assert(ManifestStore.ingestBatchAtomic(spark, br, b2, key = Some("k2")))
    val srcV = ManifestStore.latest(spark, src)
    assert(srcV._1 == 3L, "branch writes must never touch the source")

    // branch now equals the full source content, via a different history
    assert(lvl(br) == lvl(src))

    // hard links share bytes, not names: compact + vacuum the SOURCE
    // and the branch still reads (its names pin the shared inodes)
    ManifestStore.compact(spark, src)
    ManifestStore.vacuum(spark, src)
    assert(lvl(br) == lvl(src), "source vacuum must not reach the branch")

    // loud failures: unpublished version, non-empty destination
    intercept[IllegalArgumentException] {
      ManifestStore.cloneAsOf(spark, src, TestSpark.tmpDir("mstore_bx"), 99L)
    }
    val ex = intercept[IllegalArgumentException] {
      ManifestStore.cloneAsOf(spark, src, br,
        ManifestStore.latest(spark, src)._1)
    }
    assert(ex.getMessage.contains("already has published versions"))
    // and a vacuumed snapshot cannot branch (the as-of read discipline)
    val ex2 = intercept[IllegalArgumentException] {
      ManifestStore.cloneAsOf(spark, src, TestSpark.tmpDir("mstore_bv"), 1L)
    }
    assert(ex2.getMessage.contains("vacuumed"))
  }

  test("mergeFrom: merged store reads like one store over both ingest " +
      "sets, even on overlapping series; keys compose; source read-only") {
    val dst = TestSpark.tmpDir("mstore_mdst")
    val src = TestSpark.tmpDir("mstore_msrc")
    val ref = TestSpark.tmpDir("mstore_mref")
    val bDst = batch(("a", "2024-01-01T00:00:00", 1.0),
      ("a", "2024-01-01T00:00:01", 2.0))
    // overlaps dst's series AND its first bucket — the merge-on-read
    // monoid must fold cross-store contributions, so merge does NOT
    // require disjoint key spaces (unlike the index merges)
    val bSrc = batch(("a", "2024-01-01T00:00:00", 10.0),
      ("b", "2024-01-01T00:00:02", 5.0))
    assert(ManifestStore.ingestBatchAtomic(spark, dst, bDst, key = Some("d0")))
    assert(ManifestStore.ingestBatchAtomic(spark, src, bSrc, key = Some("s0")))
    assert(ManifestStore.ingestBatchAtomic(spark, ref, bDst))
    assert(ManifestStore.ingestBatchAtomic(spark, ref, bSrc))
    val srcLiveBefore = ManifestStore.latest(spark, src)

    ManifestStore.mergeFrom(spark, dst, src, key = Some("m0"))
    assert(level1(dst) == level1(ref),
      "merged rollups must equal one store over both batches")
    assert(ManifestStore.readRaw(spark, dst).count() ==
      ManifestStore.readRaw(spark, ref).count())
    // and both merged tables agree with each other at every version
    val (v, live) = ManifestStore.latest(spark, dst)
    assert(live.contains("#txn:s0") && live.contains("#txn:m0"))
    assert(ManifestStore.readRawAsOf(spark, dst, v).count() ==
      ManifestStore.readLevelAsOf(spark, dst, Fidelity.S1, v)
        .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0))

    // the source's key rode along: its batch redelivered to the merged
    // store folds in ZERO times (atomic ingest returns false)
    assert(!ManifestStore.ingestBatchAtomic(spark, dst, bSrc, key = Some("s0")),
      "redelivered batch must be rejected by the merged store")
    assert(level1(dst) == level1(ref), "rejected redelivery mutated the store")
    // re-merging the same source refuses
    val ex = intercept[IllegalArgumentException] {
      ManifestStore.mergeFrom(spark, dst, src)
    }
    assert(ex.getMessage.contains("already lives in the destination"))
    // the source was never written to
    assert(ManifestStore.latest(spark, src) == srcLiveBefore)
  }

  test("branching below the source's retention fails loudly on both paths: vacuumed data dirs and vacuumed version files") {
    val src = TestSpark.tmpDir("mstore_br_ret")
    for (i <- 0 until 3)
      ManifestStore.ingestBatchAtomic(spark, src,
        batch(("a", s"2024-01-01T00:00:0$i", i.toDouble)))
    ManifestStore.compact(spark, src) // v4 supersedes v1..v3's c- commits
    ManifestStore.vacuum(spark, src)  // superseded DATA dirs reclaimed
    // (a) the version file survives but its commits were vacuumed —
    // the clone's existence sweep refuses before linking anything
    val ex = intercept[IllegalArgumentException] {
      ManifestStore.cloneAsOf(spark, src, TestSpark.tmpDir("mstore_br_a"), 2L)
    }
    assert(ex.getMessage.contains("vacuumed"),
      s"wrong diagnosis for a vacuumed snapshot: ${ex.getMessage}")
    // branching at the live head still works after the vacuum
    val dst = TestSpark.tmpDir("mstore_br_ok")
    ManifestStore.cloneAsOf(spark, src, dst, 4L)
    assert(level1(dst) == level1(src))
    // (b) manifest retention: once the version FILES below the floor
    // are reclaimed, the branch names the retention floor, not
    // "never published"
    ManifestStore.vacuum(spark, src, keepVersions = 1)
    val ex2 = intercept[IllegalArgumentException] {
      ManifestStore.cloneAsOf(spark, src, TestSpark.tmpDir("mstore_br_b"), 2L)
    }
    assert(ex2.getMessage.contains("retention floor"),
      s"wrong diagnosis below the retention floor: ${ex2.getMessage}")
    // the independent branch took its own copy of history: the source's
    // retention cannot reach it
    assert(level1(dst) == level1(src))
  }

  test("mergeFrom: KEYLESS re-merge refuses via the snapshot-identity marker") {
    val dst = TestSpark.tmpDir("mstore_klm")
    val src = TestSpark.tmpDir("mstore_klm_src")
    ManifestStore.ingestBatchAtomic(spark, dst, batch(("a", "2024-01-01T00:00:00", 1.0)))
    ManifestStore.ingestBatchAtomic(spark, src, batch(("b", "2024-01-01T00:00:01", 2.0)))
    ManifestStore.mergeFrom(spark, dst, src) // no keys anywhere
    val counts = level1(dst)
    // the same source snapshot again: without the identity marker this
    // silently double-counted every rollup partial
    val ex = intercept[IllegalArgumentException] {
      ManifestStore.mergeFrom(spark, dst, src)
    }
    assert(ex.getMessage.contains("already lives in the destination"))
    assert(level1(dst) == counts, "refused keyless re-merge mutated the store")
    // an advanced source is a new snapshot and may merge again
    ManifestStore.ingestBatchAtomic(spark, src, batch(("c", "2024-01-01T00:00:02", 3.0)))
    ManifestStore.mergeFrom(spark, dst, src)
  }

  test("CommitLog hammer: no publish is ever lost under heavy contention") {
    // regression for a REAL lost-update race: Hadoop's local
    // create(overwrite=false) is exists-check-then-create, so two
    // racing writers could both report success on the SAME version
    // number while one manifest silently vanished (observed: 6 atomic
    // writers, 4 surviving versions). publishExclusive's hard-link
    // create-exclusive makes the loser fail loudly and retry. 8
    // threads x 20 commits each — every commit appends its unique
    // entry; afterwards every entry must be live and the version count
    // must equal the commit count.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val clog = new graft.store.CommitLog(
      s"${TestSpark.tmpDir("clog_hammer")}/_manifests")
    val writers = for (t <- 0 until 8) yield Future {
      for (i <- 0 until 20)
        assert(clog.commit(spark)(live => Some(live :+ s"e-$t-$i")),
          s"writer $t commit $i reported failure")
    }
    Await.result(Future.sequence(writers), 5.minutes): Unit
    val (v, live) = clog.latest(spark)
    assert(v == 160L, s"160 successful publishes but only $v versions survive")
    assert(live.size == 160 && live.toSet.size == 160,
      s"entries lost or duplicated: ${live.size} live, ${live.toSet.size} distinct")
    // every intermediate version is a complete, readable prefix chain
    for (vv <- Seq(1L, 80L, 159L))
      assert(clog.liveAt(spark, vv).size == vv.toInt,
        s"version $vv is not the $vv-entry prefix")
  }

  test("CommitLog latest() rides the _latest hint: stale, corrupt, missing and lying hints all self-heal") {
    import java.nio.file.{Files, Paths}
    val dir = s"${TestSpark.tmpDir("clog_hint")}/_manifests"
    val clog = new graft.store.CommitLog(dir)
    for (i <- 0 until 50)
      assert(clog.commit(spark)(l => Some(l :+ s"e$i")))
    // the winner of every publish refreshes the hint
    val hint = Paths.get(dir, "_latest")
    assert(Files.exists(hint), "_latest hint missing after 50 commits")
    assert(new String(Files.readAllBytes(hint), "UTF-8").trim == "50")
    assert(clog.latest(spark)._1 == 50L)
    // stale-LOW hint (a lost hint write) rolls FORWARD by existence
    // probes — versions are dense, so the probe walk finds the truth
    Files.write(hint, "3".getBytes("UTF-8"))
    assert(clog.latest(spark) == (50L, (0 until 50).map(i => s"e$i")))
    // garbage hint degrades to the listing fallback, never to an error
    Files.write(hint, "not-a-number".getBytes("UTF-8"))
    assert(clog.latest(spark)._1 == 50L)
    // a LYING hint (points above every published version) is caught by
    // validation against the real version file — never trusted blind
    Files.write(hint, "999".getBytes("UTF-8"))
    assert(clog.latest(spark)._1 == 50L)
    // no hint at all + a stray non-version file: the listing fallback
    // must ignore anything that isn't exactly v%012d
    Files.delete(hint)
    Files.write(Paths.get(dir, "vGARBAGE"), "x".getBytes("UTF-8"))
    assert(clog.latest(spark)._1 == 50L)
    // and the next commit proceeds normally and restores the hint
    assert(clog.commit(spark)(l => Some(l :+ "e50")))
    assert(new String(Files.readAllBytes(hint), "UTF-8").trim == "51")
  }

  test("CommitLog vacuumVersions: manifest history bounded, floor monotonic, time-travel below it fails loudly") {
    import java.nio.file.{Files, Paths}
    val dir = s"${TestSpark.tmpDir("clog_vac")}/_manifests"
    val clog = new graft.store.CommitLog(dir)
    for (i <- 0 until 40)
      assert(clog.commit(spark)(l => Some(l :+ s"e$i")))
    clog.vacuumVersions(spark, keep = 5)
    assert(clog.retentionFloor(spark) == 36L)
    val vFiles = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .count(_.matches(".*/v\\d{12}"))
    assert(vFiles == 5, s"keep=5 must retain exactly 5 version files, got $vFiles")
    assert(clog.latest(spark)._1 == 40L)
    assert(clog.liveAt(spark, 36L).size == 36)
    // below the floor: the error names RETENTION, not "never published"
    val ex = intercept[IllegalArgumentException](clog.liveAt(spark, 10L))
    assert(ex.getMessage.contains("retention floor"),
      s"wrong diagnosis for a vacuumed version: ${ex.getMessage}")
    // above the floor but never published keeps the honest message
    val ex2 = intercept[IllegalArgumentException](clog.liveAt(spark, 99L))
    assert(ex2.getMessage.contains("never published"))
    // commits continue; a LOOSER later vacuum cannot lower the floor
    assert(clog.commit(spark)(l => Some(l :+ "e40")))
    assert(clog.latest(spark)._1 == 41L)
    clog.vacuumVersions(spark, keep = 1000)
    assert(clog.retentionFloor(spark) == 36L, "retention floor must be monotonic")
    // hint loss after vacuum: the listing fallback sees only retained
    // files and still answers correctly
    Files.delete(Paths.get(dir, "_latest"))
    assert(clog.latest(spark) ==
      (41L, ((0 until 41).map(i => s"e$i"))))
    // CORRUPT floor control file ABOVE the head (a torn write that
    // still parses): the deletion cutoff clamps to the head, so the
    // head version file survives and the log stays readable — a
    // control file is never trusted blind
    Files.write(Paths.get(dir, "_floor"), "9999".getBytes("UTF-8"))
    clog.vacuumVersions(spark, keep = 5)
    assert(clog.latest(spark)._1 == 41L,
      "a corrupt floor must never delete the head version file")
    assert(Files.list(Paths.get(dir)).toArray.map(_.toString)
      .count(_.matches(".*/v\\d{12}")) >= 1)
    // and commits continue normally past the corruption
    assert(clog.commit(spark)(l => Some(l :+ "e41")))
    assert(clog.latest(spark)._1 == 42L)
  }

  test("concurrent atomic writers all publish: optimistic commit loses no update") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val root = TestSpark.tmpDir("mstore_race")
    // 6 writers race on the version file; losers re-read and retry
    val writers = (0 until 6).map { i =>
      Future(ManifestStore.ingestBatchAtomic(spark, root,
        batch((s"w$i", f"2024-01-01T00:00:$i%02d", i.toDouble)),
        key = Some(s"w$i")))
    }
    assert(Await.result(Future.sequence(writers), 5.minutes).forall(identity),
      "every racing writer must eventually publish")
    val (v, live) = ManifestStore.latest(spark, root)
    assert(v == 6L, s"six distinct versions published, got $v")
    assert(live.count(_.startsWith("#txn:")) == 6)
    assert(ManifestStore.readRaw(spark, root).count() == 6L)
    assert(ManifestStore.readLevel(spark, root, Fidelity.S1).count() == 6L)
    // every intermediate snapshot is a consistent two-table prefix
    for (vv <- 1L to v)
      assert(ManifestStore.readRawAsOf(spark, root, vv).count() ==
        ManifestStore.readLevelAsOf(spark, root, Fidelity.S1, vv)
          .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0))
  }

  test("tiered compaction folds only the small tier and leaves the big commit in place") {
    val root = TestSpark.tmpDir("mstore_tier")
    // one BIG commit (many buckets) + three small ones
    ManifestStore.ingestBatchAtomic(spark, root,
      batch((0 until 120).map(i =>
        ("big", f"2024-01-01T00:${i / 60}%02d:${i % 60}%02d", i.toDouble)): _*))
    for (i <- 1 to 3)
      ManifestStore.ingestBatchAtomic(spark, root,
        batch(("s", s"2024-01-02T00:00:0$i", i.toDouble)))
    val before = partialCommits(root)
    assert(before.size == 4)
    val bigDir = before.head // first commit = the 120-bucket one
    val pre = level1(root)

    ManifestStore.compactTiered(spark, root, fanIn = 3)
    val after = partialCommits(root)
    assert(after.size == 2, s"3 small commits folded into 1: $after")
    assert(after.contains(bigDir),
      "the large commit must survive tiered compaction UNREWRITTEN " +
        "(write amplification bound) — it was folded")
    assert(level1(root) == pre, "tiered fold preserves every read answer")

    // explicit full optimize still folds everything down to one
    ManifestStore.compact(spark, root)
    assert(partialCommits(root).size == 1)
    assert(level1(root) == pre)
  }

  test("atomic ingest: raw and rollup publish together, torn writes stay invisible, keys dedupe both tables") {
    val root = TestSpark.tmpDir("mstore_atomic")
    assert(ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00", 2.0), ("b", "2024-01-01T00:00:01", 4.0)),
      key = Some("k1")))
    assert(ManifestStore.readRaw(spark, root).count() == 2L)
    assert(ManifestStore.readLevel(spark, root, Fidelity.S1).count() == 2L)

    // torn write: commit dirs exist on disk but no version published —
    // readers of BOTH tables see nothing from them
    val orphanR = s"$root/mrollup/data/r-torn"
    val orphanC = s"$root/mrollup/data/c-torn"
    batch(("zz", "2024-01-01T00:00:09", 9.0))
      .withColumn("ds_b", Tables.dsBucket(col("dataset_id")))
      .write.parquet(orphanR)
    Tables.allLevelPartials(
      graft.ingest.Melt.sanitize(batch(("zz", "2024-01-01T00:00:09", 9.0))))
      .withColumn("ds_b", Tables.dsBucket(col("dataset_id")))
      .write.partitionBy("fidelity").parquet(orphanC)
    assert(ManifestStore.readRaw(spark, root)
      .where(col("dataset_id") === "zz").isEmpty, "torn raw dir visible")
    assert(ManifestStore.readLevel(spark, root, Fidelity.S1)
      .where(col("dataset_id") === "zz").isEmpty, "torn partials dir visible")
    // vacuum reclaims the orphans (they are in no snapshot's live set)
    ManifestStore.vacuum(spark, root)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(orphanR)))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(orphanC)))

    // duplicate delivery key: NEITHER table changes
    assert(!ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00", 2.0)), key = Some("k1")))
    assertNoStaging(root)
    assert(ManifestStore.readRaw(spark, root).count() == 2L)
    assert(ManifestStore.readLevel(spark, root, Fidelity.S1)
      .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0) == 2L)

    // the two legs agree bucket-for-bucket after more batches
    assert(ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00.5", 6.0)), key = Some("k2")))
    val fromRaw = ManifestStore.readRaw(spark, root)
      .groupBy(col("dataset_id"), expr("ts_us div 1000000").as("bucket_s"))
      .agg(
        min("value").as("min_v"), max("value").as("max_v"),
        sum("value").as("sum_v"), count(lit(1)).as("cnt"))
      .orderBy("dataset_id", "bucket_s").collect().toSeq
    val fromLevel = ManifestStore.readLevel(spark, root, Fidelity.S1)
      .select("dataset_id", "bucket_s", "min_v", "max_v", "sum_v", "cnt")
      .orderBy("dataset_id", "bucket_s").collect().toSeq
    assert(fromRaw == fromLevel, "atomic store's raw and rollup legs disagree")

    // cross-table time travel: version 1 saw exactly the first batch in
    // BOTH tables (one version = one consistent two-table snapshot)
    assert(ManifestStore.readRawAsOf(spark, root, 1L).count() == 2L)
    assert(ManifestStore.readLevelAsOf(spark, root, Fidelity.S1, 1L)
      .agg(org.apache.spark.sql.functions.sum("cnt")).head().getLong(0) == 2L)

    // raw change feed: (v1, v2] is exactly the k2 batch's rows
    val rawDelta = ManifestStore.cdcRawBetween(spark, root, 1L, 2L)
      .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
    assert(rawDelta == Seq(("a", 6.0)), s"raw CDC delta: $rawDelta")

    // raw-tier fold: concatenation preserves every row, CDC windows
    // over the fold stay derivable (c- entries untouched)
    val (vPre, _) = ManifestStore.latest(spark, root)
    ManifestStore.compactRawTiered(spark, root, fanIn = 8)
    assert(ManifestStore.latest(spark, root)._2.count(_.startsWith("r-")) == 1)
    assert(ManifestStore.readRaw(spark, root)
      .orderBy("dataset_id", "ts_us").collect().toSeq ==
      ManifestStore.readRawAsOf(spark, root, vPre)
        .orderBy("dataset_id", "ts_us").collect().toSeq)
    assert(ManifestStore.cdcBetween(spark, root, Fidelity.S1,
      vPre, ManifestStore.latest(spark, root)._1).isEmpty,
      "a pure raw fold must read as an empty level change feed")
    // ...but the RAW feed across that fold is underivable — loud failure
    val ex = intercept[IllegalArgumentException] {
      ManifestStore.cdcRawBetween(spark, root,
        vPre, ManifestStore.latest(spark, root)._1)
    }
    assert(ex.getMessage.contains("raw rewrite"))
  }

  test("a redelivered keyed ingestBatchAtomic starts no Spark job and leaves the version unchanged") {
    val root = TestSpark.tmpDir("mstore_replay_jobs")
    val b = batch(("a", "2024-01-01T00:00:00", 2.0))
    // control: the counter does see the first delivery's jobs
    val (first, firstJobs) = TestSpark.countJobs(
      ManifestStore.ingestBatchAtomic(spark, root, b, key = Some("k1")))
    assert(first && firstJobs > 0, s"first delivery: $first, $firstJobs jobs")
    val v = ManifestStore.latest(spark, root)._1
    val stamp = dataStamp(root)
    val (again, againJobs) = TestSpark.countJobs(
      ManifestStore.ingestBatchAtomic(spark, root, b, key = Some("k1")))
    assert(!again, "redelivery must not publish")
    assert(againJobs == 0, s"redelivery started $againJobs Spark jobs")
    assert(ManifestStore.latest(spark, root)._1 == v, "version moved on a redelivery")
    assertNoStaging(root, Some(stamp))
  }

  test("a redelivered keyed appendPartialsIdempotent starts no Spark job and stages no dir") {
    val root = TestSpark.tmpDir("mstore_partials_replay_jobs")
    val partials = Tables.allLevelPartials(
      graft.ingest.Melt.sanitize(batch(("a", "2024-01-01T00:00:00", 2.0))))
    val (first, firstJobs) = TestSpark.countJobs(
      ManifestStore.appendPartialsIdempotent(spark, root, partials, "b0"))
    assert(first && firstJobs > 0, s"first delivery: $first, $firstJobs jobs")
    val v = ManifestStore.latest(spark, root)._1
    val stamp = dataStamp(root)
    val (again, againJobs) = TestSpark.countJobs(
      ManifestStore.appendPartialsIdempotent(spark, root, partials, "b0"))
    assert(!again, "redelivery must not publish")
    assert(againJobs == 0, s"redelivery started $againJobs Spark jobs")
    assert(ManifestStore.latest(spark, root)._1 == v, "version moved on a redelivery")
    assertNoStaging(root, Some(stamp))
    assert(level1(root).values.map(_._4).sum == 1L, "cnt folded once")
  }

  test("WAP ingest: a failed audit leaves the table byte-identical, a clean one publishes") {
    val root = TestSpark.tmpDir("mstore_wap")
    val exps = Seq(
      "value_in_range" -> (col("value") >= 0.0 && col("value") <= 100.0),
      "ts_positive" -> (col("ts_us") > 0L))
    val (ok1, rep1) = ManifestStore.ingestBatchAudited(spark, root,
      batch(("a", "2024-01-01T00:00:00", 2.0), ("a", "2024-01-01T00:00:01", 4.0)),
      exps, key = Some("w1"))
    assert(ok1, "clean batch must publish")
    val rows1 = rep1.collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows1.take(2) == Seq(("value_in_range", 0L), ("ts_positive", 0L)))
    // the always-on rollup-tier audit reports per-level conservation
    assert(rows1.drop(2).map(_._1) ==
      Fidelity.aggLevels.map(f => s"rollup_cnt_conservation_d${f.name}") &&
      rows1.drop(2).forall(_._2 == 0L), s"got $rows1")
    assert(ManifestStore.readRaw(spark, root).count() == 2L)
    val v1 = ManifestStore.latest(spark, root)._1

    // one bad row poisons the WHOLE batch: nothing publishes, the
    // staging is dropped, no version is consumed
    val (ok2, rep2) = ManifestStore.ingestBatchAudited(spark, root,
      batch(("a", "2024-01-01T00:00:02", 6.0), ("a", "2024-01-01T00:00:03", 900.0)),
      exps, key = Some("w2"))
    assert(!ok2, "audited batch with a violation must not publish")
    assert(rep2.collect().map(r => (r.getString(0), r.getLong(1))).toSeq.take(2) ==
      Seq(("value_in_range", 1L), ("ts_positive", 0L)))
    assert(ManifestStore.latest(spark, root)._1 == v1, "version moved on a rejected batch")
    assert(ManifestStore.readRaw(spark, root).count() == 2L)
    assert(ManifestStore.readLevel(spark, root, Fidelity.S1)
      .agg(sum("cnt")).head().getLong(0) == 2L)
    // rejected staging is deleted, not left for vacuum
    val onDisk = new java.io.File(s"$root/mrollup/data").listFiles().map(_.getName).toSet
    assert(onDisk == ManifestStore.latest(spark, root)._2.filterNot(_.startsWith("#")).toSet,
      s"rejected staging leaked: $onDisk")

    // a redelivered CLEAN batch is still key-deduped through the WAP path
    val (ok3, rep3) = ManifestStore.ingestBatchAudited(spark, root,
      batch(("a", "2024-01-01T00:00:00", 2.0), ("a", "2024-01-01T00:00:01", 4.0)),
      exps, key = Some("w1"))
    assert(!ok3 && rep3.collect().forall(_.getLong(1) == 0L))
    assert(ManifestStore.readRaw(spark, root).count() == 2L)

    // null must not smuggle past a gate: a predicate that evaluates to
    // NULL on a row counts as a violation
    val (ok4, rep4) = ManifestStore.ingestBatchAudited(spark, root,
      batch(("b", "2024-01-01T00:00:04", 5.0)),
      Seq("null_gate" -> (lit(null).cast("boolean") || col("value") > 100.0)))
    assert(!ok4 && rep4.head().getLong(1) == 1L,
      "null predicate must count as a violation")
  }

  test("WAP outcomes are distinct; corrupted rollup partials fail the conservation audit") {
    import ManifestStore.WapOutcome
    val root = TestSpark.tmpDir("mstore_wap_outcome")
    val exps = Seq("value_ok" -> (col("value") <= 100.0))
    val b1 = batch(("a", "2024-01-01T00:00:00", 2.0), ("a", "2024-01-01T00:00:01", 4.0))

    val (o1, _) = ManifestStore.ingestBatchAuditedOutcome(spark, root, b1, exps,
      key = Some("w1"))
    assert(o1 == WapOutcome.Published)

    // duplicate, empty, and audit-failed were previously all `false` —
    // a caller retrying "failures" could not tell success-equivalent
    // duplicates from data problems
    val (o2, _) = ManifestStore.ingestBatchAuditedOutcome(spark, root, b1, exps,
      key = Some("w1"))
    assert(o2 == WapOutcome.DuplicateDelivery)
    val (o3, _) = ManifestStore.ingestBatchAuditedOutcome(spark, root,
      b1.where(col("value") > 1000.0), exps, key = Some("w3"))
    assert(o3 == WapOutcome.EmptyBatch)

    // up-front rejection: the duplicate never stages — data/ holds
    // exactly the live commit dirs throughout, no transient staging
    val v1 = ManifestStore.latest(spark, root)

    // NEGATIVE CONTROL for the rollup-tier audit: a writer bug that
    // drops one level's partials (and one that double-counts) must be
    // caught pre-publish by count conservation, leaving the table
    // byte-identical
    val b2 = batch(("a", "2024-01-01T00:00:02", 6.0))
    val (o4, rep4) = ManifestStore.ingestBatchAuditedWith(spark, root, b2, exps,
      Some("w4"), 16,
      b => graft.store.Tables.allLevelPartials(b, withSumsq = true)
        .where(col("fidelity") =!= "d10"))
    assert(o4 == WapOutcome.AuditFailed, s"dropped level must fail the audit: $o4")
    val r4 = rep4.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(r4("rollup_cnt_conservation_d10") == 1L && r4("value_ok") == 0L,
      s"got $r4")
    val (o5, rep5) = ManifestStore.ingestBatchAuditedWith(spark, root, b2, exps,
      Some("w5"), 16,
      b => graft.store.Tables.allLevelPartials(b, withSumsq = true)
        .withColumn("cnt", col("cnt") * 2))
    assert(o5 == WapOutcome.AuditFailed)
    assert(rep5.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      .apply("rollup_cnt_conservation_d1") == 1L)
    assert(ManifestStore.latest(spark, root) == v1,
      "a failed conservation audit must not move the table")
    assert(ManifestStore.readRaw(spark, root).count() == 2L)
    val onDisk = new java.io.File(s"$root/mrollup/data").listFiles().map(_.getName).toSet
    assert(onDisk == v1._2.filterNot(_.startsWith("#")).toSet,
      s"rejected staging leaked: $onDisk")

    // the intact writer still publishes through the same seam
    val (o6, _) = ManifestStore.ingestBatchAuditedOutcome(spark, root, b2, exps,
      key = Some("w6"))
    assert(o6 == WapOutcome.Published)
    assert(ManifestStore.readRaw(spark, root).count() == 3L)
  }

  test("as-of reads fail loudly once vacuum reclaims a superseded snapshot") {
    val root = TestSpark.tmpDir("mstore_asof_vac")
    assert(ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00", 1.0)), key = Some("k1")))
    assert(ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:01", 2.0)), key = Some("k2")))
    val (vPre, _) = ManifestStore.latest(spark, root)

    // fold BOTH tiers, superseding every pre-fold commit dir
    ManifestStore.compactRawTiered(spark, root, fanIn = 8)
    ManifestStore.compactTiered(spark, root, fanIn = 8)
    // pre-vacuum: the superseded dirs still exist, old snapshots read fine
    assert(ManifestStore.readRawAsOf(spark, root, vPre).count() == 2L)
    assert(ManifestStore.readLevelAsOf(spark, root, Fidelity.S1, vPre)
      .agg(sum("cnt")).head().getLong(0) == 2L)

    ManifestStore.vacuum(spark, root)

    // post-vacuum: the old version's dirs are gone — every as-of/CDC
    // read of it must FAIL LOUDLY, never silently return partial data
    val exRaw = intercept[IllegalArgumentException] {
      ManifestStore.readRawAsOf(spark, root, vPre)
    }
    assert(exRaw.getMessage.contains("no longer exist"), exRaw.getMessage)
    val exRawFor = intercept[IllegalArgumentException] {
      ManifestStore.readRawForAsOf(spark, root, "a", vPre)
    }
    assert(exRawFor.getMessage.contains("no longer exist"))
    val exLevel = intercept[IllegalArgumentException] {
      ManifestStore.readLevelAsOf(spark, root, Fidelity.S1, vPre)
    }
    assert(exLevel.getMessage.contains("no longer exist"))
    val exRange = intercept[IllegalArgumentException] {
      ManifestStore.readLevelRangeAsOf(spark, root, Fidelity.S1, "a",
        0L, Long.MaxValue / 2, vPre)
    }
    assert(exRange.getMessage.contains("no longer exist"))
    // the lagging-consumer window whose delta dir was reclaimed: loud,
    // not a silent row-losing subset
    val exCdc = intercept[IllegalArgumentException] {
      ManifestStore.cdcRawBetween(spark, root, 1L, vPre)
    }
    assert(exCdc.getMessage.contains("no longer exist"))

    // latest-version reads are untouched by the reclamation
    assert(ManifestStore.readRaw(spark, root).count() == 2L)
    assert(ManifestStore.readRawAsOf(spark, root,
      ManifestStore.latest(spark, root)._1).count() == 2L)
  }

  test("forgetDataset on the atomic store: one swap, both tables, untouched commits keep their dirs") {
    val root = TestSpark.tmpDir("mstore_forget")
    // commit 1: only 'a' (must survive UNREWRITTEN)
    assert(ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:00", 1.0)), key = Some("k1")))
    // commit 2: 'a' + 'view' (rewrites without view)
    assert(ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "2024-01-01T00:00:01", 2.0), ("view", "2024-01-01T00:00:01", 9.0)),
      key = Some("k2")))
    // commit 3: ONLY 'view' (drops out of the manifest entirely)
    assert(ManifestStore.ingestBatchAtomic(spark, root,
      batch(("view", "2024-01-01T00:00:02", 7.0)), key = Some("k3")))
    val before = ManifestStore.latest(spark, root)._2
    val untouched = before.take(2).filter(e => !e.startsWith("#")) // c-/r- of commit 1

    ManifestStore.forgetDataset(spark, root, "view")
    val after = ManifestStore.latest(spark, root)._2
    assert(untouched.forall(after.contains),
      "commits without the series must keep their dirs byte-for-byte")
    // both tables forgot the series, everything else intact
    val raw = ManifestStore.readRaw(spark, root)
      .orderBy("ts_us").collect().map(r => (r.getString(0), r.getDouble(2)))
    assert(raw.toSeq == Seq(("a", 1.0), ("a", 2.0)))
    val lvl = ManifestStore.readLevel(spark, root, Fidelity.S1).collect()
      .map(r => r.getString(0)).toSet
    assert(lvl == Set("a"))
    // txn keys survive the rewrite: redelivery still rejected
    assert(!ManifestStore.ingestBatchAtomic(spark, root,
      batch(("view", "2024-01-01T00:00:02", 7.0)), key = Some("k3")))
    // old snapshots still resolve until vacuum reclaims replaced dirs
    assert(ManifestStore.readRawAsOf(spark, root, 3L)
      .where(col("dataset_id") === "view").count() == 2L)
    ManifestStore.vacuum(spark, root)
    // post-vacuum: the forgotten series' bytes are physically gone
    val leftover = java.nio.file.Files.walk(
        java.nio.file.Paths.get(s"$root/mrollup/data"))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toArray.map(_.toString)
    // raw and partial files carry different schemas — probe each alone
    val resurrected = leftover.exists(f =>
      spark.read.parquet(f).where(col("dataset_id") === "view")
        .take(1).nonEmpty)
    assert(!resurrected, "vacuum must physically erase the forgotten series")
  }

  test("expireBefore cuts both tables exactly at an aligned cutoff; wholly-old commits just unlink") {
    val root = TestSpark.tmpDir("mstore_ttl")
    val epoch0 = "1970-01-02T03:46:40" // epoch 100000 s — one coarse window
    // commit 1: wholly before the cutoff (drops without a rewrite)
    assert(ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "1970-01-01T00:00:10", 1.0))))
    // commit 2: straddles (one point each side of the cutoff)
    assert(ManifestStore.ingestBatchAtomic(spark, root,
      batch(("a", "1970-01-02T03:46:39", 2.0), ("a", epoch0, 3.0))))
    intercept[IllegalArgumentException] {
      ManifestStore.expireBefore(spark, root, 12345L) // unaligned cutoff
    }
    ManifestStore.expireBefore(spark, root, 100000L)
    val raw = ManifestStore.readRaw(spark, root).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(raw == Seq((100000000000L, 3.0)), s"raw leg after expiry: $raw")
    val lvl = ManifestStore.readLevel(spark, root, Fidelity.S1).collect()
      .map(r => (r.getLong(1), r.getDouble(4))).toSeq
    assert(lvl == Seq((100000L, 3.0)), s"rollup leg after expiry: $lvl")
    // every coarser level agrees (all widths divide the cutoff)
    assert(ManifestStore.readLevel(spark, root, Fidelity.S100000).collect()
      .map(_.getLong(5)).toSeq == Seq(1L))
  }

  test("schema evolution: v1 commits read sumsq NULL, merges are conservative, compaction preserves the rule") {
    val root = TestSpark.tmpDir("mstore_evo")
    val sec = (i: Int) => TestSpark.isoUs(f"2024-01-01T00:00:$i%02d") / 1000000L

    // a TRUE v1 commit dir, written by hand with the pre-evolution file
    // schema (no sumsq column anywhere in the files) and published via a
    // hand-written manifest — simulating data an old binary committed
    val v1Partials = Tables.allLevelPartials(graft.ingest.Melt.sanitize(
      batch(("a", "2024-01-01T00:00:00", 2.0), ("a", "2024-01-01T00:00:01", 4.0))))
    assert(!v1Partials.columns.contains("sumsq"), "v1 partials carry no sumsq")
    v1Partials
      .withColumn("ds_b", Tables.dsBucket(col("dataset_id")))
      .write.partitionBy("fidelity").parquet(s"$root/mrollup/data/c-handv1")
    val mdir = java.nio.file.Paths.get(s"$root/mrollup/_manifests")
    java.nio.file.Files.createDirectories(mdir)
    java.nio.file.Files.write(mdir.resolve("v000000000001"),
      "c-handv1\n".getBytes("UTF-8"))

    // every bucket of a v1-only table reads sumsq NULL, v1 columns exact
    val v1Read = ManifestStore.readLevelV2(spark, root, Fidelity.S1)
      .orderBy("bucket_s").collect()
    assert(v1Read.map(r => (r.getLong(1), r.getDouble(4), r.getLong(5))).toSeq ==
      Seq((sec(0), 2.0, 1L), (sec(1), 4.0, 1L)))
    assert(v1Read.forall(_.isNullAt(6)), "v1 data must read sumsq as NULL")

    // a v2 writer appends: one bucket shared with v1 (poisoned), one new
    ManifestStore.appendPartials(spark, root,
      Tables.allLevelPartials(graft.ingest.Melt.sanitize(
        batch(("a", "2024-01-01T00:00:01", 6.0), ("b", "2024-01-01T00:00:02", 3.0))),
        withSumsq = true))
    def check(): Unit = {
      val m = ManifestStore.readLevelV2(spark, root, Fidelity.S1).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5),
            if (r.isNullAt(6)) None else Some(r.getDouble(6)))))
        .toMap
      assert(m(("a", sec(0))) == ((2.0, 2.0, 2.0, 1L, None)))
      // v1+v2 contributors: v1 stats fold, sumsq stays NULL (conservative)
      assert(m(("a", sec(1))) == ((4.0, 6.0, 10.0, 2L, None)))
      // all-v2 bucket: exact Σv²
      assert(m(("b", sec(2))) == ((3.0, 3.0, 3.0, 1L, Some(9.0))))
    }
    check()

    // the v1 (non-evolved) reader view is unchanged in shape and values
    val v1View = ManifestStore.readLevel(spark, root, Fidelity.S1)
    assert(!v1View.columns.contains("sumsq"))
    assert(v1View.count() == 3L)

    // compaction folds the mixed-revision live set with the same
    // null-poisoning rule (associativity) and writes a v2 file
    ManifestStore.compact(spark, root)
    ManifestStore.vacuum(spark, root)
    assert(ManifestStore.latest(spark, root)._2.size == 1, "one live commit")
    check()
    val compactedDir = s"$root/mrollup/data/" +
      ManifestStore.latest(spark, root)._2.head
    assert(spark.read.parquet(compactedDir).columns.contains("sumsq"),
      "compacted commit carries the v2 column")
  }

  test("CommitLog.spliceReplace keeps a raced-in tombstone AFTER the " +
      "folded output (order-scoped coverage survives a full fold) and " +
      "aborts when an input moved") {
    import graft.store.CommitLog.spliceReplace
    // the round-12 bug: a full fold that observed [c1, c2] appends its
    // output after a tombstone that raced in during the fold, emptying
    // the tombstone's order-scoped coverage. The splice puts the
    // output at the FIRST input's position, so t-x still covers it.
    assert(spliceReplace(Seq("c1", "c2", "t-x", "#txn:k"),
        Seq("c1", "c2"), "F") == Some(Seq("F", "t-x", "#txn:k")))
    // full fold including observed tombstones: same position rule
    assert(spliceReplace(Seq("c1", "t-a", "c2", "t-raced"),
        Seq("c1", "t-a", "c2"), "F") == Some(Seq("F", "t-raced")))
    // raced-in COMMITS also stay after the fold (their own coverage
    // under any later tombstone is position-defined)
    assert(spliceReplace(Seq("c1", "c2", "c3"), Seq("c1", "c2"), "F")
      == Some(Seq("F", "c3")))
    // partial-run fold deep in the list: output stays inside its run
    assert(spliceReplace(Seq("c1", "t-a", "c2", "c3", "c4"),
        Seq("c2", "c3"), "F") == Some(Seq("c1", "t-a", "F", "c4")))
    // an input moved under the fold: abort, never double-fold
    assert(spliceReplace(Seq("c1", "t-x"), Seq("c1", "c2"), "F").isEmpty)
  }
}
