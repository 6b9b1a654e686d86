package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup
import graft.sim.Similarity
import graft.streaming.StreamForget
import graft.text.TextIndex
import graft.store.IndexCore

/**
 * Kill-point matrix for the paired-key verbs: every multi-commit verb
 * (upsert on all three indexes, the cross-index takedown) is
 * interrupted after EACH commit boundary — the prefix legs are applied
 * with the exact derived keys the verb itself uses (`<key>.del` /
 * `<key>.add`, `<key>.dedup`/`.ann`/`.text`), which is faithful
 * because the verbs compose those same public leg verbs — and then the
 * full verb replays. Every kill point must converge to the
 * single-clean-delivery state (canonical readback digest equality vs a
 * twin fixture that saw exactly one delivery), and a further full
 * redelivery must be version-preserving. The round-13 founding-upsert
 * data-loss bug lived exactly in one of these windows; this matrix
 * makes the whole family regression-proof instead of hand-picked.
 */
class CrashMatrixSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  private val oldDocs = Seq(
    (0L, "spark merge sort merge"),
    (1L, "window scan window window"),
    (2L, "merge window table"),
    (3L, "totally unrelated words here"))
  private val newText = Map(
    1L -> "window rewritten fresh content",
    2L -> "table rewritten merge content")
  private def newDocs = newText.toSeq.sorted.toDF("doc_id", "text")

  /** Canonical text-index readback: answers + forward rows + stats. */
  private def textDigest(idx: String): Seq[Seq[Any]] = {
    val bm = TextIndex
      .searchBm25(spark, idx, Seq("merge", "window", "rewritten"), 20)
      .collect().map(_.toSeq).toSeq
    val fwd = TextIndex.docsFor(spark, idx, (0L to 3L).toSeq)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq
    val st = TextIndex.stats(spark, idx)
      .select("nd", "tl", "vocab_size", "n_postings")
      .collect().map(_.toSeq).toSeq
    bm ++ fwd ++ st
  }

  /** Run the matrix: for every k, a fresh fixture gets the first k
   *  legs (the crash), then the verb replays, then redelivers. Digest
   *  must equal the reference fixture's (one clean delivery).
   */
  private def runMatrix(
      what: String, nLegs: Int,
      fixture: String => Unit, // build initial state under the dir
      leg: (String, Int) => Unit, // apply the i-th commit (0-based)
      verb: String => Unit, // the full verb under the canonical key
      digest: String => Seq[Seq[Any]],
      version: String => Long): Unit = {
    val ref = TestSpark.tmpDir(s"cm_${what}_ref")
    fixture(ref)
    verb(ref)
    val want = digest(ref)
    for (k <- 0 to nLegs) {
      val idx = TestSpark.tmpDir(s"cm_${what}_k$k")
      fixture(idx)
      for (i <- 0 until k) leg(idx, i) // the crash: first k commits
      verb(idx) // the replay
      assert(digest(idx) == want,
        s"$what kill-point k=$k did not converge to the " +
          "single-delivery state")
      val v = version(idx)
      verb(idx) // full redelivery
      assert(version(idx) == v && digest(idx) == want,
        s"$what kill-point k=$k: redelivery after convergence moved " +
          "the index")
    }
  }

  test("text upsertDocs: every kill point converges (del committed / " +
      "nothing committed), redelivery is version-preserving") {
    runMatrix("text_upsert", nLegs = 2,
      fixture = idx => TextIndex.ingestShard(spark, idx,
        oldDocs.toDF("doc_id", "text"), "doc_id", "text", key = Some("w0")),
      leg = (idx, i) => i match {
        case 0 => TextIndex.forgetDocs(spark, idx, newText.keys.toSeq.sorted,
          key = Some("u.del"))
        case 1 => TextIndex.ingestShard(spark, idx, newDocs,
          "doc_id", "text", key = Some("u.add"))
      },
      verb = idx => TextIndex.upsertDocs(spark, idx, newDocs,
        "doc_id", "text", key = Some("u")),
      digest = textDigest,
      version = IndexCore.version(spark, _))
  }

  test("text upsertDocs FOUNDING: the add-committed kill point must " +
      "NOT tombstone the founded generation (the round-13 data-loss " +
      "window), and redelivery stays a no-op") {
    runMatrix("text_found", nLegs = 1,
      fixture = _ => (), // EMPTY index: founding upsert skips the del leg
      leg = (idx, _) => TextIndex.ingestShard(spark, idx, newDocs,
        "doc_id", "text", key = Some("u.add")),
      verb = idx => TextIndex.upsertDocs(spark, idx, newDocs,
        "doc_id", "text", key = Some("u")),
      digest = idx => Seq(
        TextIndex.docsFor(spark, idx, newText.keys.toSeq)
          .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq,
        Seq(TextIndex.tombstoneCount(spark, idx))),
      version = IndexCore.version(spark, _))
  }

  test("dedup indexUpsertDocs: every kill point converges; the gate " +
      "answers and the stored membership equal one clean delivery") {
    def digest(idx: String): Seq[Seq[Any]] = Seq(
      Dedup.indexStats(spark, idx).collect().map(_.toSeq).toSeq,
      Seq(Dedup.indexTombstoneCount(spark, idx) >= 0),
      // the keyed tombstone's applied set is the replay record
      Dedup.indexGoneForDelivery(spark, idx, "u.del")
        .collect().map(_.getLong(0)).sorted.toSeq)
    runMatrix("dedup_upsert", nLegs = 2,
      fixture = idx => Dedup.indexCheckAndIngest(spark, idx,
        oldDocs.toDF("doc_id", "text"), "doc_id", "text", 0.6,
        deliveryKey = Some("s0")): Unit,
      leg = (idx, i) => i match {
        case 0 => Dedup.indexForgetDocs(spark, idx,
          newText.keys.toSeq.sorted, key = Some("u.del"))
        case 1 => Dedup.indexCheckAndIngest(spark, idx, newDocs,
          "doc_id", "text", 0.6, deliveryKey = Some("u.add")): Unit
      },
      verb = idx => Dedup.indexUpsertDocs(spark, idx, newDocs,
        "doc_id", "text", 0.6, key = Some("u")): Unit,
      digest = digest,
      version = IndexCore.version(spark, _))
  }

  test("ivf ivfIndexUpsert: every kill point converges; probes equal " +
      "one clean delivery") {
    def vecsOf(rot: Int) = (0L until 8L).map { i =>
      val a = Array.fill(8)(0.0); a(((i + rot) % 8).toInt) = 1.0
      (i, a.toSeq)
    }.toDF("vec_id", "v")
    val wave = vecsOf(3).where(col("vec_id") < 4)
    def digest(idx: String): Seq[Seq[Any]] = Seq(
      Similarity.ivfIndexQuery(spark, idx,
          Seq((-1L, { val a = Array.fill(8)(0.0); a(3) = 1.0; a.toSeq }))
            .toDF("vec_id", "v"), k = 4, nProbe = 4)
        .collect().map(_.toSeq).toSeq,
      Similarity.ivfIndexStats(spark, idx).collect().map(_.toSeq).toSeq)
    runMatrix("ivf_upsert", nLegs = 2,
      fixture = idx => Similarity.ivfIndexBuild(spark, idx, vecsOf(0),
        centroidStep = 2L, key = Some("f")),
      leg = (idx, i) => i match {
        case 0 => Similarity.ivfIndexForget(spark, idx, Seq(0L, 1L, 2L, 3L),
          key = Some("u.del"))
        case 1 => Similarity.ivfIndexAppend(spark, idx, wave,
          key = Some("u.add"))
      },
      verb = idx => Similarity.ivfIndexUpsert(spark, idx, wave,
        key = Some("u")),
      digest = digest,
      version = IndexCore.version(spark, _))
  }

  test("repairFromText: every direction-boundary kill point " +
      "(dedup.add / dedup.del / ann.add committed) converges to the " +
      "single-clean-repair state; redelivery applies nothing and " +
      "moves no index") {
    val embed: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      c => array(length(c).cast("double"), lit(1.0), lit(2.0), lit(3.0))
    // deterministic diffs: dedup misses doc 2 and carries stale doc 9
    // (add={2}, del={9}); ann misses doc 1 (add={1}, del={})
    def fixture(root: String): Unit = {
      TextIndex.ingestShard(spark, s"$root/text",
        oldDocs.toDF("doc_id", "text"), "doc_id", "text", key = Some("w0"))
      Dedup.indexCheckAndIngest(spark, s"$root/dedup",
        oldDocs.filter(_._1 != 2L).toDF("doc_id", "text").unionByName(
          Seq((9L, "stale doc the text tier already dropped"))
            .toDF("doc_id", "text")),
        "doc_id", "text", 0.6, deliveryKey = Some("w0")): Unit
      Similarity.ivfIndexBuild(spark, s"$root/ann",
        oldDocs.filter(_._1 != 1L).toDF("doc_id", "text")
          .select(col("doc_id").as("vec_id"), embed(col("text")).as("v")),
        centroidStep = 2L, key = Some("w0"))
    }
    def repair(root: String) = graft.store.IndexFsck.repairFromText(
      spark, s"$root/text", s"$root/dedup", Some(s"$root/ann"),
      embed = Some(embed), key = Some("r"))
    def digest(root: String): Seq[Seq[Any]] = Seq(
      Dedup.indexDocIds(spark, s"$root/dedup")
        .collect().map(_.getLong(0)).sorted.toSeq,
      Similarity.ivfVecIds(spark, s"$root/ann")
        .collect().map(_.getLong(0)).sorted.toSeq,
      Dedup.indexStats(spark, s"$root/dedup")
        .collect().map(_.toSeq).toSeq,
      graft.store.IndexFsck.crossMembership(spark, s"$root/text",
          s"$root/dedup", Some(s"$root/ann"))
        .orderBy("check").collect().map(_.toSeq).toSeq)
    val ref = TestSpark.tmpDir("cm_rep_ref")
    fixture(ref)
    repair(ref).count(): Unit
    val want = digest(ref)
    for (k <- 0 to 3) {
      val root = TestSpark.tmpDir(s"cm_rep_k$k")
      fixture(root)
      // the crash: directions commit in the verb's order
      // dedup.add -> dedup.del -> ann.add (ann.del is empty here)
      if (k >= 1) Dedup.indexCheckAndIngest(spark, s"$root/dedup",
        oldDocs.filter(_._1 == 2L).toDF("doc_id", "text"),
        "doc_id", "text", 0.6, deliveryKey = Some("r.dedup.add")): Unit
      if (k >= 2) Dedup.indexForgetDocs(spark, s"$root/dedup", Seq(9L),
        key = Some("r.dedup.del"))
      if (k >= 3) Similarity.ivfIndexAppend(spark, s"$root/ann",
        oldDocs.filter(_._1 == 1L).toDF("doc_id", "text")
          .select(col("doc_id").as("vec_id"), embed(col("text")).as("v")),
        key = Some("r.ann.add"))
      repair(root).count(): Unit // the replay
      assert(digest(root) == want,
        s"repair kill-point k=$k did not converge")
      val vs = (IndexCore.version(spark, s"$root/text"),
        IndexCore.version(spark, s"$root/dedup"),
        IndexCore.version(spark, s"$root/ann"))
      val again = repair(root)
      assert(again.agg(sum("violations")).head().getLong(0) == 0L,
        s"repair kill-point k=$k: redelivery applied something")
      assert(vs == (IndexCore.version(spark, s"$root/text"),
        IndexCore.version(spark, s"$root/dedup"),
        IndexCore.version(spark, s"$root/ann")),
        s"repair kill-point k=$k: redelivery moved an index")
    }
  }

  test("forgetWhereAll: every leg-boundary kill point (dedup / ann / " +
      "text committed) converges across all three indexes, and " +
      "redelivery returns 0 everywhere") {
    val goneIds = oldDocs.filter(_._2.contains("window")).map(_._1).sorted
    def fixture(root: String): Unit = {
      TextIndex.ingestShard(spark, s"$root/text",
        oldDocs.toDF("doc_id", "text"), "doc_id", "text", key = Some("w0"))
      Dedup.indexCheckAndIngest(spark, s"$root/dedup",
        oldDocs.toDF("doc_id", "text"), "doc_id", "text", 0.6,
        deliveryKey = Some("w0")): Unit
      val vecs = (0L until 4L).map { i =>
        val a = Array.fill(8)(0.0); a(i.toInt) = 1.0; (i, a.toSeq)
      }.toDF("vec_id", "v")
      Similarity.ivfIndexBuild(spark, s"$root/ann", vecs,
        centroidStep = 2L, key = Some("w0"))
    }
    def digest(root: String): Seq[Seq[Any]] = Seq(
      TextIndex.searchBm25(spark, s"$root/text",
          Seq("merge", "window", "scan"), 20)
        .collect().map(_.toSeq).toSeq,
      TextIndex.docsFor(spark, s"$root/text", (0L to 3L).toSeq)
        .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long]).toSeq,
      Dedup.indexGoneForDelivery(spark, s"$root/dedup", "g.dedup")
        .collect().map(_.getLong(0)).sorted.toSeq,
      Similarity.ivfIndexQuery(spark, s"$root/ann",
          Seq((-1L, { val a = Array.fill(8)(0.0); a(1) = 1.0; a.toSeq }))
            .toDF("vec_id", "v"), k = 4, nProbe = 2)
        .collect().map(_.toSeq).toSeq)
    val ref = TestSpark.tmpDir("cm_fwa_ref")
    fixture(ref)
    assert(StreamForget.forgetWhereAll(spark,
      col("text").contains("window"), "g", s"$ref/text",
      dedupIdx = Some(s"$ref/dedup"),
      annIdx = Some(s"$ref/ann")) == goneIds.length.toLong)
    val want = digest(ref)
    for (k <- 0 to 3) {
      val root = TestSpark.tmpDir(s"cm_fwa_k$k")
      fixture(root)
      // the crash: legs commit in the verb's order dedup -> ann -> text
      if (k >= 1) Dedup.indexForgetDocs(spark, s"$root/dedup", goneIds,
        key = Some("g.dedup"))
      if (k >= 2) Similarity.ivfIndexForget(spark, s"$root/ann", goneIds,
        key = Some("g.ann"))
      if (k >= 3) TextIndex.forgetDocs(spark, s"$root/text", goneIds,
        key = Some("g.text"))
      val n = StreamForget.forgetWhereAll(spark,
        col("text").contains("window"), "g", s"$root/text",
        dedupIdx = Some(s"$root/dedup"), annIdx = Some(s"$root/ann"))
      // the completion marker is the text leg: a kill AFTER it (k=3)
      // probes as done and reports 0; every earlier kill completes
      // the missing legs and reports the resolved size
      assert(n == (if (k >= 3) 0L else goneIds.length.toLong),
        s"forgetWhereAll kill-point k=$k reported $n")
      assert(digest(root) == want,
        s"forgetWhereAll kill-point k=$k did not converge")
      val vs = (IndexCore.version(spark, s"$root/text"),
        IndexCore.version(spark, s"$root/dedup"),
        IndexCore.version(spark, s"$root/ann"))
      assert(StreamForget.forgetWhereAll(spark,
        col("text").contains("window"), "g", s"$root/text",
        dedupIdx = Some(s"$root/dedup"), annIdx = Some(s"$root/ann")) == 0L)
      assert(vs == (IndexCore.version(spark, s"$root/text"),
        IndexCore.version(spark, s"$root/dedup"),
        IndexCore.version(spark, s"$root/ann")),
        s"forgetWhereAll kill-point k=$k: redelivery moved an index")
    }
  }
}
