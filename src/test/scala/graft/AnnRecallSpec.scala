package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sim.Similarity
import graft.store.IndexCore

/**
 * Characterizes the LSH ANN path against the brute-force exact baseline
 * on the real embeddings table (read-only): recall@10 over uniform
 * random vectors is the WORST case for hyperplane LSH (neighbors sit at
 * cos ≈ 0.3–0.5, barely better than random directions), so the bound
 * here is deliberately loose — the point is that the candidate
 * generation is meaningfully better than chance while touching a small
 * fraction of the corpus, and that rank-1 easy neighbors survive.
 */
class AnnRecallSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("LSH ANN recall@10 vs brute force on sf0.001 embeddings") {
    assume(TestSpark.hasData, s"dataset ${TestSpark.dataDir} not present — skipping recall check")
    val emb = Similarity.asDouble(
      spark.read.parquet(s"${TestSpark.dataDir}/embeddings.parquet"),
      "vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 10)

    def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

    val brute = topSet(Similarity.bruteTopK(emb, queries, 10))
    val lsh = topSet(
      Similarity.annTopK(emb, queries, 10, nBits = 128, bands = 16))

    val recalls = brute.map { case (q, want) =>
      val got = lsh.getOrElse(q, Set.empty)
      got.intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean recall@10 = $mean%.2f over ${recalls.size} queries")
    assert(recalls.size == 10, "every query produced candidates")
    assert(mean >= 0.2, f"recall collapsed: $mean%.2f")
    // candidate generation beats the ~4.6%% random-pair collision rate
    assert(mean > 0.1)
  }

  test("bruteTopK maxCorpus guard fails loudly instead of launching the cartesian") {
    assume(TestSpark.hasData, s"dataset ${TestSpark.dataDir} not present — skipping guard check")
    val emb = Similarity.asDouble(
      spark.read.parquet(s"${TestSpark.dataDir}/embeddings.parquet"),
      "vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 2)
    val ex = intercept[Exception] {
      Similarity.bruteTopK(emb, queries, 3, maxCorpus = 10L).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("ivfTopK")),
      s"expected the maxCorpus guard message, got: $ex")
  }

  test("IVF ANN recall@10 vs brute force on sf0.001 embeddings") {
    assume(TestSpark.hasData, s"dataset ${TestSpark.dataDir} not present — skipping recall check")
    val emb = Similarity.asDouble(
      spark.read.parquet(s"${TestSpark.dataDir}/embeddings.parquet"),
      "vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 10)

    def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

    val brute = topSet(Similarity.bruteTopK(emb, queries, 10))
    val ivf = topSet(
      Similarity.ivfTopK(emb, queries, 10, centroidStep = 7L, nProbe = 3))

    val recalls = brute.map { case (q, want) =>
      val got = ivf.getOrElse(q, Set.empty)
      got.intersect(want).size.toDouble / want.size
    }
    val mean = recalls.sum / recalls.size
    info(f"mean IVF recall@10 = $mean%.2f over ${recalls.size} queries")
    assert(recalls.size == 10, "every query produced results")
    // 3 probes over ~1/7 stride centroids scan a ~few-% fraction of the
    // corpus; uniform random embeddings are the worst case, so the bound
    // is loose — the self-pair cell plus nearby cells must beat chance
    assert(mean > 0.1, f"IVF recall collapsed: $mean%.2f")
  }

  test("k-means IVF recall@10 vs the stride-centroid baseline") {
    assume(TestSpark.hasData, s"dataset ${TestSpark.dataDir} not present — skipping recall check")
    val emb = Similarity.asDouble(
      spark.read.parquet(s"${TestSpark.dataDir}/embeddings.parquet"),
      "vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 10)

    def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect()
        .groupBy(_.getLong(0))
        .map { case (q, rows) => q -> rows.map(_.getLong(1)).toSet }

    def meanRecall(got: Map[Long, Set[Long]], want: Map[Long, Set[Long]]): Double = {
      val rs = want.map { case (q, w) =>
        got.getOrElse(q, Set.empty[Long]).intersect(w).size.toDouble / w.size
      }
      rs.sum / rs.size
    }

    val brute = topSet(Similarity.bruteTopK(emb, queries, 10))
    val stride = meanRecall(
      topSet(Similarity.ivfTopK(emb, queries, 10, centroidStep = 7L, nProbe = 3)), brute)
    val kmeans = meanRecall(
      topSet(Similarity.ivfTopKKmeans(
        emb, queries, 10, centroidStep = 7L, nProbe = 3, iters = 2)), brute)
    info(f"stride recall@10 = $stride%.2f, k-means recall@10 = $kmeans%.2f")
    // Lloyd refinement balances the cells, so the same probe budget
    // covers more of each query's true neighborhood — on the uniform
    // worst-case corpus the improvement is modest but must not REGRESS
    assert(kmeans >= stride - 0.02,
      f"k-means recall regressed: $kmeans%.2f vs stride $stride%.2f")
    assert(kmeans > 0.1, f"k-means recall collapsed: $kmeans%.2f")
  }

  test("PQ ADC recall@10 vs exact L2 on sf0.001 embeddings") {
    assume(TestSpark.hasData, s"dataset ${TestSpark.dataDir} not present — skipping PQ check")
    val emb = Similarity.asDouble(
      spark.read.parquet(s"${TestSpark.dataDir}/embeddings.parquet"),
      "vec_id", "embedding")
    // exact L2 ground truth (PQ's ADC approximates L2, not cosine)
    val q = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("v").as("qv"))
    val exact = emb.crossJoin(q).where(col("q_id") =!= col("vec_id"))
      .withColumn("d2", expr(
        "aggregate(zip_with(v, qv, (a, b) -> (a - b) * (a - b)), 0D, (acc, x) -> acc + x)"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("q_id").orderBy(col("d2"), col("vec_id"))))
      .where(col("rank") <= 10)
      .select("q_id", "vec_id")
    def topSet(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.collect().groupBy(_.getLong(0))
        .map { case (k, rows) => k -> rows.map(_.getLong(1)).toSet }
    val want = topSet(exact)
    val got = topSet(
      Similarity.pqTopK(emb, 64, 16, 16, 31L, 10, 10).select("q_id", "n_id"))
    val recalls = want.map { case (qid, w) =>
      got.getOrElse(qid, Set.empty[Long]).intersect(w).size.toDouble / w.size
    }
    val mean = recalls.sum / recalls.size
    info(f"PQ recall@10 = $mean%.2f over ${recalls.size} queries")
    assert(recalls.size == 10, "every query produced PQ results")
    // uniform random vectors are the quantization worst case (16
    // codewords per 16-dim subspace retain little), but ADC must still
    // beat the 2% random-overlap floor by a wide margin
    assert(mean > 0.1, f"PQ recall collapsed: $mean%.2f")
  }

  import spark.implicits._

  /** 64-dim basis-direction vector with optional extra component. */
  private def vec(d: Int, noise: Option[(Int, Double)] = None): Seq[Double] = {
    val a = Array.fill(64)(0.0)
    a(d) = 1.0
    noise.foreach { case (nd, s) => a(nd) = s }
    a.toSeq
  }

  test("IVF recall drift under sustained upserts: a distribution-shift " +
      "wave under FROZEN centroids degrades recall@10 to an analytic " +
      "3/10, and ivfIndexRebuild recovers it to 10/10") {
    val idx = TestSpark.tmpDir("ivf_drift")
    // founding: 16 vectors over 4 directions e0..e3; stride-5 seeds
    // pick ids 0,5,10,15 = exactly one centroid per direction
    val founding = (0L until 16L)
      .map(i => (i, vec((i % 4).toInt))).toDF("vec_id", "v")
    Similarity.ivfIndexBuild(spark, idx, founding, centroidStep = 5L,
      key = Some("f"))
    // the shift: 16 NEW vectors clustered at e4 — orthogonal to every
    // frozen centroid — with a small noise component that SCATTERS
    // them across the old cells by id (the silent recall killer: cell
    // membership no longer reflects proximity)
    val wave = (16L until 32L)
      .map(i => (i, vec(4, Some(((i % 4).toInt, 0.2))))).toDF("vec_id", "v")
    Similarity.ivfIndexUpsert(spark, idx, wave, key = Some("w"))
    val q = Seq((-1L, vec(4))).toDF("vec_id", "v")
    def hits(): Set[Long] = Similarity.ivfIndexQuery(spark, idx, q, 10, 1)
      .collect().map(_.getLong(1)).toSet
    // gold top-10 for e4: all 16 wave vectors tie at cos 1/|w|, the
    // n_id tie-break keeps the 10 lowest ids
    val gold = (16L until 26L).toSet
    val drifted = hits()
    assert(drifted.intersect(gold) == Set(16L, 20L, 24L),
      s"analytic drifted recall must be exactly 3/10 (the noise-dim-0 " +
        s"quarter of the wave): $drifted")
    // re-center on the grown corpus: stride-16 seeds = one A seed
    // (id 0) + one B seed (id 16), so Lloyd consolidates the wave
    // into its own cell
    assert(Similarity.ivfIndexRebuild(spark, idx, centroidStep = 16L,
      iters = 2), "single-writer re-train must publish")
    val retrained = hits()
    assert(retrained == gold,
      s"post-retrain recall must be 10/10: $retrained")
  }

  test("ivfIndexUpsert rebalanceAbovePpm: a hot-cell wave crosses the " +
      "imbalance threshold and triggers the in-line re-train; a " +
      "balanced wave below threshold fires nothing") {
    val idx = TestSpark.tmpDir("ivf_drift_trig")
    val founding = (0L until 16L)
      .map(i => (i, vec((i % 4).toInt))).toDF("vec_id", "v")
    Similarity.ivfIndexBuild(spark, idx, founding, centroidStep = 5L,
      key = Some("f"))
    // balanced scatter wave: imbalance stays 1.0e6 — no trigger, so
    // exactly the upsert's own two commits (tombstone + append) land
    val scatter = (16L until 32L)
      .map(i => (i, vec(4, Some(((i % 4).toInt, 0.2))))).toDF("vec_id", "v")
    val v0 = IndexCore.version(spark, idx)
    Similarity.ivfIndexUpsert(spark, idx, scatter, key = Some("w1"),
      rebalanceAbovePpm = Some(1500000L))
    assert(IndexCore.version(spark, idx) == v0 + 2,
      "a balanced wave below the threshold must not re-train")
    // hot-cell wave: 20 identical e5 vectors are orthogonal to every
    // frozen centroid — ties collapse them ALL into the first cell,
    // imbalance 28*4/52 ≈ 2.15e6 crosses the 2e6 threshold
    val hot = (32L until 52L).map(i => (i, vec(5))).toDF("vec_id", "v")
    val v1 = IndexCore.version(spark, idx)
    Similarity.ivfIndexUpsert(spark, idx, hot, key = Some("w2"),
      rebalanceAbovePpm = Some(2000000L))
    assert(IndexCore.version(spark, idx) == v1 + 3,
      "the threshold crossing must append exactly one re-train commit " +
        "after the upsert's two")
    // frozen-centroid imbalance was 28·4/52 ≈ 2.15e6 (that's what
    // crossed the threshold); the re-train must land back below it
    val post = Similarity.ivfIndexStats(spark, idx).head()
    assert(post.getLong(3) < 2000000L,
      s"re-train must bring imbalance back under the threshold: " +
        s"${post.getLong(3)}")
    // the re-trained index consolidated the hot direction: an e5 query
    // finds the wave with one probe
    val got = Similarity.ivfIndexQuery(spark, idx,
        Seq((-1L, vec(5))).toDF("vec_id", "v"), 10, 1)
      .collect().map(_.getLong(1)).toSet
    assert(got == (32L until 42L).toSet,
      s"post-trigger recall must be 10/10 on the hot direction: $got")
    // delivery keys survive the triggered re-train
    val v2 = IndexCore.version(spark, idx)
    Similarity.ivfIndexUpsert(spark, idx, hot, key = Some("w2"))
    assert(IndexCore.version(spark, idx) == v2,
      "redelivered wave must stay a no-op after the triggered re-train")
  }

  test("kmeansCentroids preserves the target cell count under " +
      "NON-DIVISIBLE auto-derived stride pairs (the lcm seed collapse)") {
    import spark.implicits._
    val corpus = (0L until 10000L).map(i =>
      (i, Seq((i % 7).toDouble + 1.0, (i % 5).toDouble + 1.0,
        (i % 3).toDouble + 1.0, 1.0)))
      .toDF("vec_id", "v")
    // target cells = 10000/80 = 125; the sample is the 33-strided 304
    // ids. Filtering that sample by id % 80 == 0 keeps only multiples
    // of lcm(33, 80) = 2640 — FOUR seeds, a 31x cell collapse that
    // silently degrades every later probe (scanned fraction jumps from
    // nProbe/125 to nProbe/4). Positional seeding restores the rate.
    val cents = Similarity.kmeansCentroids(corpus,
      centroidStep = 80L, iters = 1, sampleStep = 33L)
    assert(cents.length >= 100 && cents.length <= 160,
      s"expected ~125 cells, got ${cents.length}")
    // divisible pairs keep the exact oracle-mirrored modulo rule
    val exact = Similarity.kmeansCentroids(corpus,
      centroidStep = 80L, iters = 1, sampleStep = 8L)
    assert(exact.length == (0L until 10000L).count(_ % 80 == 0),
      s"divisible stride pair must seed every 80th id: ${exact.length}")
  }
}
