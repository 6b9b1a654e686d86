package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.query.TopK
import graft.store.{FsckScope, IndexCore, IndexLeg}
import graft.store.IndexCore.isViol

/**
 * Similarity search over an embedding column (`Array[Float]` cast to
 * double for exact, engine-portable math).
 *
 * Two paths, as a 100 TB pipeline needs:
 *  - brute-force exact top-k (the correctness baseline): broadcast the
 *    (small) query set against the corpus — one scan, no shuffle of the
 *    big side;
 *  - sign-LSH: deterministic md5-derived hyperplanes → sign bits →
 *    banded bit-sum buckets; candidate generation is a bucket-key join
 *    so the work is ∝ bucket collisions, never an n² cross join — and
 *    every ingredient is reproducible in plain SQL (full oracle).
 *
 * All dot products are sequential `aggregate(zip_with(...))` folds —
 * codegen'd, and bit-identical to a sequential `list_sum` fold in the
 * oracle engine.
 */
object Similarity {

  import org.apache.spark.sql.graftbridge.GraftColumnBridge.{column => toCol, expression => toExpr}

  /** Native codegen'd dot product (graft.functions.DotProduct). */
  def dot(a: Column, b: Column): Column =
    toCol(graft.functions.DotProduct(toExpr(a), toExpr(b)))

  /** Squared L2 norm = dot(a, a). */
  def norm2(a: Column): Column = dot(a, a)

  /** Native single-pass cosine (graft.functions.CosineSimilarity). */
  def cosine(a: Column, b: Column): Column =
    toCol(graft.functions.CosineSimilarity(toExpr(a), toExpr(b)))

  /** Higher-order-function formulation of dot — kept as the reference
   *  semantics the native expression must match bit-for-bit (tested).
   */
  def dotFold(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def cosineFold(a: Column, b: Column): Column = {
    def n2(c: Column) = aggregate(transform(c, x => x * x), lit(0.0), (acc, x) => acc + x)
    dotFold(a, b) / (sqrt(n2(a)) * sqrt(n2(b)))
  }

  /** Normalize an embeddings table to (vec_id, v: array<double>). */
  def asDouble(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("vec_id"), col(vecCol).cast("array<double>").as("v"))

  /**
   * Exact top-k cosine neighbors for a query subset: broadcast the
   * queries, rank with a window per query. Output
   * (q_id, n_id, cos, rank), rank 1..k by (cos desc, n_id).
   *
   * This is the EXACT BASELINE, not the scale path: the corpus×queries
   * crossJoin is deliberate and only legal on a bounded corpus (recall
   * oracles, re-ranking a candidate set). `maxCorpus` is enforced
   * INSIDE the plan — a 1-row broadcast count crossed in and
   * assert_true'd — so an over-cap corpus fails loudly at execution
   * instead of silently launching a 100 TB cartesian. Production ANN
   * routes through [[ivfTopK]]/[[ivfTopKWith]] (k-means) or the LSH
   * bucket path; those scan nProbe/#centroids of the corpus and never
   * cross-join it.
   */
  def bruteTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      maxCorpus: Long = 1L << 20): DataFrame = {
    val guard = broadcast(corpus.agg(count(lit(1)).as("_corpus_n")))
    val q = broadcast(queries.select(col("vec_id").as("q_id"), col("v").as("qv")))
    val scored = corpus.select(col("vec_id").as("n_id"), col("v"))
      .crossJoin(guard)
      .where(assert_true(col("_corpus_n") <= maxCorpus,
        lit(s"bruteTopK is the exact baseline for bounded corpora " +
          s"(maxCorpus=$maxCorpus); route large corpora through " +
          "ivfTopK/lsh instead")).isNull)
      .drop("_corpus_n")
      .crossJoin(q)
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("qv"), col("v")))
    scored
      .withColumn("rank",
        row_number().over(Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))))
      .where(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"),
        // BIGINT rank: row_number() is int-typed in Spark but BIGINT in
        // SQL engines — emit the portable type
        col("rank").cast("long").as("rank"))
  }

  /** Deterministic ENGINE-PORTABLE hyperplanes: coefficient (p, d) is
   *  the first 15 hex chars of md5("p_d") scaled to [-1, 1). Any SQL
   *  engine with md5 reproduces the planes exactly (the int→double
   *  conversion rounds identically and the 2^59 divide is an exact
   *  exponent shift), which is what makes the LSH path fully
   *  oracle-checkable. Uniform-cube (not gaussian) plane directions
   *  lose exact rotation invariance, but sign-LSH only needs a
   *  symmetric direction family — collision probability stays
   *  monotone in the pair angle, and final answers always come from
   *  the exact cosine pass.
   */
  def hyperplanes(nBits: Int, dim: Int): Seq[Seq[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    def u(p: Int, d: Int): Double = {
      val hex = md.digest(s"${p}_${d}".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16).toDouble / 576460752303423488.0 - 1.0
    }
    Seq.tabulate(nBits)(p => Seq.tabulate(dim)(d => u(p, d)))
  }

  /** Sign-bit signature: array<int> of `v · plane > 0` (0/1). */
  def signBits(v: Column, planes: Seq[Seq[Double]]): Column =
    transform(typedLit(planes), p => (dot(v, p) > 0).cast("int"))

  /** Banded bucket rows (vec_id, band, bucket) for the LSH join. The
   *  bucket is the bit-sum Σ bit_j << j within the band — a plain
   *  integer any engine computes the same way (no engine-private hash),
   *  produced for all bands in one native pass (LshBandBuckets).
   */
  def lshBuckets(
      emb: DataFrame, planes: Seq[Seq[Double]], bands: Int): DataFrame =
    emb.select(
      col("vec_id"), col("v"),
      posexplode(toCol(graft.functions.LshBandBuckets(
        toExpr(col("v")), planes.flatten.toArray, planes.size, bands))))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "bucket")

  /** Near-duplicate pairs with cosine ≥ threshold via LSH candidates +
   *  exact verification (work ∝ candidates).
   */
  def nearDupPairs(
      emb: DataFrame, threshold: Double,
      nBits: Int = 96, bands: Int = 12): DataFrame = {
    val dim = 64
    val buckets = lshBuckets(emb, hyperplanes(nBits, dim), bands)
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(
        col("x.vec_id").as("a_id"), col("x.v").as("va"),
        col("y.vec_id").as("b_id"), col("y.v").as("vb"))
      .dropDuplicates("a_id", "b_id")
    cand.withColumn("cos", cosine(col("va"), col("vb")))
      .where(col("cos") >= threshold)
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /**
   * IVF (inverted-file) approximate top-k: a deterministic, fully
   * oracle-checkable ANN scale path.
   *
   *  - centroids = every `centroidStep`-th corpus vector (deterministic
   *    — no k-means randomness, so an external engine reproduces the
   *    index exactly);
   *  - every corpus vector is assigned to its nearest centroid by
   *    cosine (tie → lowest centroid id) — a broadcast scan + one
   *    aggregation, no shuffle of pairwise scores;
   *  - a query probes its `nProbe` nearest centroids and ranks exactly
   *    within those cells, so scanned fraction ≈ nProbe/#centroids.
   *
   * At 100 TB the assignment is a write-once index column on the
   * embeddings table (partition/bucket by `cell`), and the probe reads
   * only those partitions.
   */
  /** Centroid stride that BOUNDS the IVF cell count at ~`targetCells`
   *  regardless of corpus size. A fixed stride makes #centroids scale
   *  WITH the corpus, so the assignment argmax degenerates to
   *  O(|corpus|²/step) — measured 498 s on a 350k-chunk corpus at
   *  stride 7 vs seconds with a bounded cell count. Every production
   *  caller should derive its stride from a corpus count (the count is
   *  an index-build-time cost); the gate-scale registered queries pin
   *  stride 7 because their SQL oracles replicate it literally.
   */
  def boundedStep(corpusRows: Long, targetCells: Int = 256): Long =
    math.max(7L, math.ceil(corpusRows.toDouble / targetCells).toLong)

  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      centroidStep: Long = 7L, nProbe: Int = 3,
      broadcastProbes: Boolean = true): DataFrame = {
    // Centroids ARE the index metadata: a bounded small set (stride
    // sample here; kmeansCentroids for the refined index), materialized
    // once on the driver and shipped as a literal — the corpus-side
    // assignment is then a NARROW map (argmax over the centroid array
    // per row), no crossJoin row expansion and no shuffle of the wide
    // vector column. (The earlier crossJoin+groupBy plan moved
    // |corpus| × |centroids| rows carrying the 64-dim vector through a
    // hash agg — a multi-GB shuffle at sf0.1, ruinous at 100 TB.)
    val cents = collectBounded(
      corpus.where(col("vec_id") % centroidStep === 0),
      "raise centroidStep (or build centroids with k-means) for this corpus")
    ivfTopKWith(corpus, queries, k,
      cents.map(_._1), cents.flatMap(_._2), nProbe, broadcastProbes)
  }

  /** IVF probe/rank against an explicit centroid index
   *  (ids + row-major flattened vectors).
   *
   *  `broadcastProbes` (default true) fits the retrieval shape — a
   *  small query set probing a huge corpus. For SELF-similarity over a
   *  large catalog (queries == corpus) pass false: both sides then
   *  shuffle on `cell` into a hash join, instead of broadcasting the
   *  entire catalog × nProbe with its vectors to every task.
   */
  def ivfTopKWith(
      corpus: DataFrame, queries: DataFrame, k: Int,
      centIds: Array[Long], centVecs: Array[Double], nProbe: Int,
      broadcastProbes: Boolean = true): DataFrame =
    rankTopK(
      probeCands(corpus, queries, centIds, centVecs, nProbe, broadcastProbes), k)

  /** IVF probe candidates with exact cosine — the shared front half of
   *  [[ivfTopKWith]] and [[hardNegatives]]: cell assignment (narrow
   *  argmax over driver-resident centroids), probe explode, cell join.
   */
  private def probeCands(
      corpus: DataFrame, queries: DataFrame,
      centIds: Array[Long], centVecs: Array[Double], nProbe: Int,
      broadcastProbes: Boolean): DataFrame = {
    def topCells(v: Column, n: Int): Column =
      toCol(graft.functions.TopCentroids(toExpr(v), centIds, centVecs, n))
    val assigned = corpus.select(
      col("vec_id").as("n_id"), col("v"),
      element_at(topCells(col("v"), 1), 1).as("cell"))
    val probes = queries.select(
      col("vec_id").as("q_id"), col("v").as("qv"),
      explode(topCells(col("v"), nProbe)).as("cell"))
    assigned.join(if (broadcastProbes) broadcast(probes) else probes, Seq("cell"))
      .where(col("q_id") =!= col("n_id"))
      .withColumn("cos", cosine(col("qv"), col("v")))
  }

  private def rankTopK(cands: DataFrame, k: Int): DataFrame =
    cands
      .withColumn("rank",
        row_number().over(
          Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))))
      .where(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"),
        // BIGINT rank: row_number() is int-typed in Spark but BIGINT in
        // SQL engines — emit the portable type
        col("rank").cast("long").as("rank"))

  /** PERSISTED IVF index, built once and grown by appends — the
   *  embedding-side sibling of the persisted dedup index: centroids
   *  freeze at build time (stride over the FOUNDING shard; frozen
   *  centroids are what make an ANN index append-able — re-deriving
   *  them per batch would re-bucket the whole corpus), postings store
   *  as (vec_id, v) PARTITIONED BY cell, so a query's probe reads only
   *  its nProbe cell directories — at 100 TB that is the difference
   *  between scanning ~nProbe/256 of the corpus and all of it.
   *  Centroid drift as the corpus grows is the accepted tradeoff of
   *  every frozen ANN index; the rebuild IS a new index. Legs: `post`
   *  (cell-partitioned), `centroids` (one generation, owned by the
   *  founding or rebuilt commit) and the tombstones' `gone` vec ids.
   */
  private val core = {
    import org.apache.spark.sql.types._
    new IndexCore("vec_id", Map(
      "post" -> IndexLeg(Some("cell"), "vec_id" -> LongType,
        "v" -> ArrayType(DoubleType), "cell" -> LongType),
      "centroids" -> IndexLeg(None, "vec_id" -> LongType,
        "v" -> ArrayType(DoubleType)),
      "gone" -> IndexLeg(None, "vec_id" -> LongType)))
  }

  /** Publish a staged batch commit with its optional delivery key. */
  /** The live centroid generation, collected to the driver (bounded —
   *  every probe ships it as a literal). `entries` is the ledger
   *  snapshot to read.
   */
  private def liveCentroids(spark: SparkSession, dir: String,
      entries: Seq[String]): Array[(Long, Array[Double])] =
    collectBounded(core.readAt(spark, dir, "centroids", entries),
      "the stored centroid set must stay index-small")
  private def liveCentroids(
      spark: SparkSession, dir: String): Array[(Long, Array[Double])] =
    liveCentroids(spark, dir, IndexCore.live(spark, dir))

  /** [[liveCentroids]] for the query path: collected once per live
   *  commit set and then served from the [[graft.store.IndexCore.memo]]
   *  (the fsck checks keep reading the stored leg).
   */
  private def servedCentroids(
      spark: SparkSession, dir: String): Array[(Long, Array[Double])] =
    IndexCore.memo(spark, dir, Seq("centroids")) { (entries, _) =>
      Map("centroids" -> liveCentroids(spark, dir, entries))
    }("centroids")

  /** The live postings, order-scoped ([[graft.store.IndexCore.scoped]]);
   *  `perCommit` shapes each per-commit read (the query path pushes its
   *  static cell filter there). None when no live commit holds
   *  postings.
   */
  private def livePosts(
      spark: SparkSession, dir: String,
      perCommit: DataFrame => DataFrame): Option[DataFrame] =
    core.scoped(spark, dir, "post", Seq("vec_id"), perCommit)

  /** VECTOR DELETION for the persisted IVF index (takedown without
   *  rebuild): ONE tombstone commit `t-<uuid>` holding the gone vec
   *  ids. Deleted vectors stop appearing as neighbors IMMEDIATELY
   *  (every probe anti-joins the gone set — a broadcast, bounded
   *  because folds retire it), stats reflect the live set, and the
   *  next FULL [[ivfIndexCompact]] or [[ivfIndexRebuild]] physically
   *  drops the rows and retires the tombstone (the rebuild's
   *  whole-live-set swap keeps only `#txn:` keys, so tombstones fold
   *  into it for free); [[graft.store.IndexCore.vacuum]] erases the
   *  superseded bytes. A pre-delete [[graft.store.IndexCore.cloneAsOf]]
   *  branch still serves the vector until vacuum. Centroids are NOT
   *  retrained by a delete — cell geometry drifts exactly as under
   *  appends, and the same imbalance monitor decides when to rebuild.
   *
   *  The tombstone is a pure idempotent set (no corpus-level
   *  aggregates to delta): re-deleting a gone or never-ingested id
   *  is harmless, concurrent forgets compose, no stale-abort needed.
   *  `key` rides the same `#txn:` ledger as appends — a redelivered
   *  takedown is refused loudly, keys survive folds. Cost: O(ids).
   */
  def ivfIndexForget(
      spark: SparkSession, dir: String,
      ids: Seq[Long], key: Option[String] = None): Unit =
    core.forgetIds(spark, dir, ids, key, "ivfIndexForget")

  /** ONE keyed takedown's applied gone set — the replay-stable record
   *  the cross-index takedown re-reads when the IVF leg is its FIRST
   *  (no dedup index targeted); mirrors
   *  [[graft.dedup.Dedup.indexGoneForDelivery]]. Loud if the key
   *  never delivered or its tombstone already retired/folded
   *  (key-grain gone reads precede compaction — the standing
   *  contract, enforceable with [[graft.store.IndexCore.pin]]).
   */
  def ivfGoneForDelivery(
      spark: SparkSession, dir: String, key: String): DataFrame =
    core.goneForDelivery(spark, dir, key)

  /** VECTOR UPSERT for the persisted IVF index (the re-embed / crawl
   *  re-fetch lifecycle op, mirroring
   *  [[graft.text.TextIndex.upsertDocs]]): replace up to 65536
   *  vectors in place — one tombstone commit retiring the old rows
   *  ([[ivfIndexForget]]; ids never ingested no-op) followed by one
   *  [[ivfIndexAppend]] assigning the new vectors under the FROZEN
   *  centroids. Order-scoped tombstones make the re-appended
   *  generation serve immediately; post-upsert query answers equal an
   *  index that appended the NEW vectors from the start; a later full
   *  fold (or [[ivfIndexRebuild]]) physically erases the superseded
   *  rows. Centroids are NOT retrained — an upsert drifts cell
   *  geometry exactly as an append does, and the same imbalance
   *  monitor decides when to rebuild.
   *
   *  Exactly-once across the two commits: `key` fans out to
   *  `<key>.del` / `<key>.add` entries, each leg short-circuits on
   *  its own committed key — crash-gap replay completes the missing
   *  leg only; full redelivery is a version-preserving no-op. The
   *  index must be founded ([[ivfIndexBuild]]) — like append, upsert
   *  needs the frozen centroid generation. Cost: O(ids) tombstone +
   *  batch-linear narrow assignment — never ∝ the index.
   *
   *  RECALL-DRIFT GUARD: sustained upsert waves that SHIFT the vector
   *  distribution degrade recall invisibly — the new vectors assign
   *  under centroids trained on the old distribution, so queries in
   *  the shifted region probe cells whose membership no longer
   *  reflects proximity. `rebalanceAbovePpm` opts into the same
   *  closed-loop policy as [[graft.streaming.StreamAnnIndex]]: after
   *  the add leg commits, measure [[ivfIndexStats]] (one cell-grain
   *  agg ∝ index) and re-train ([[ivfIndexRebuild]], strict-race
   *  atomic) when imbalance crosses the threshold — the Lloyd sample
   *  stride auto-derives from the grown vector count so the re-train
   *  stays bounded, and the centroid-seed stride preserves the
   *  current cell count. A lost rebuild race is fine (the next upsert
   *  re-measures). Default None: an upsert is O(batch), and whether a
   *  whole-index re-train belongs in-line is a deployment decision.
   */
  def ivfIndexUpsert(
      spark: SparkSession, dir: String,
      batch: DataFrame, key: Option[String] = None,
      rebalanceAbovePpm: Option[Long] = None,
      rebalanceSampleStep: Option[Long] = None): Unit = {
    require(IndexCore.live(spark, dir).exists(_.startsWith("c-")),
      s"ivfIndexUpsert needs a founded index at $dir — ivfIndexBuild first")
    require(rebalanceAbovePpm.forall(_ >= 1000000L),
      "rebalanceAbovePpm below 1e6 (perfect balance) would re-train " +
        "on every upsert")
    IndexCore.upsert(spark, dir,
      batch.select(col("vec_id").cast("long").as("vec_id"), col("v")),
      "vec_id", key, "ivfIndexUpsert")(
      del = (ids, delKey) => ivfIndexForget(spark, dir, ids, delKey),
      add = (snap, addKey) => ivfIndexAppend(spark, dir, snap, addKey),
      replayed = _ => ())
    rebalanceAbovePpm.foreach { cut =>
      val st = ivfIndexStats(spark, dir).head()
      if (st.getLong(3) > cut) {
        val sampleStep = rebalanceSampleStep.getOrElse(math.max(1L,
          math.ceil(st.getLong(1).toDouble / 32768.0).toLong))
        // seed stride preserving the current cell count under the
        // grown vector population (n_vectors / n_cells)
        val centStep = math.max(1L,
          st.getLong(1) / math.max(1L, st.getLong(0)))
        // OPPORTUNISTIC maintenance: a refusal (a replay pin on the
        // index) DEFERS the re-train — it must never fail the upsert
        // itself, whose legs already committed and which the pin
        // contract explicitly allows; the next threshold crossing
        // re-measures
        try ivfIndexRebuild(spark, dir, centStep, iters = 2,
          sampleStep = sampleStep): Unit
        catch {
          case e: IllegalStateException =>
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              s"opt-in re-train on $dir deferred: ${e.getMessage}")
        }
      }
    }
  }

  /** Live tombstoned-vector count — fold-scheduler observability. */
  def ivfTombstoneCount(spark: SparkSession, dir: String): Long =
    core.tombstoneCount(spark, dir)

  def ivfIndexBuild(
      spark: org.apache.spark.sql.SparkSession, dir: String, founding: DataFrame,
      centroidStep: Long, key: Option[String] = None): Unit = {
    // centroids + founding postings stage under ONE commit dir and
    // publish together — a crash cannot leave centroids without
    // postings or vice versa
    val txn = IndexCore.freshTxn(spark, dir, key, "batch")
    val name = IndexCore.entryName("c", None)
    val dst = IndexCore.dataDir(dir, name)
    val centFrame = founding.where(col("vec_id") % centroidStep === 0)
      .select(col("vec_id"), col("v"))
    centFrame.coalesce(1).write.parquet(s"$dst/centroids")
    val cents = collectBounded(centFrame,
      "raise centroidStep for this founding shard")
    writePostings(s"$dst/post", founding,
      cents.map(_._1), cents.flatMap(_._2))
    IndexCore.publishAppend(spark, dir, name, txn, "batch")
  }

  /** Assign a new batch against the FROZEN centroids and publish its
   *  postings as one commit — batch-linear narrow work, the stored
   *  index is never re-read or rewritten.
   */
  def ivfIndexAppend(
      spark: SparkSession, dir: String,
      batch: DataFrame, key: Option[String] = None): Unit = {
    val txn = IndexCore.freshTxn(spark, dir, key, "batch")
    val cents = liveCentroids(spark, dir)
    val name = IndexCore.entryName("c", None)
    writePostings(s"${IndexCore.dataDir(dir, name)}/post", batch,
      cents.map(_._1), cents.flatMap(_._2))
    IndexCore.publishAppend(spark, dir, name, txn, "batch")
  }

  /** FEDERATED MERGE: fold ANOTHER IVF index's postings into this one
   *  as ONE commit — unify indexes built independently (per-region
   *  embedding jobs) WITHOUT re-reading any corpus. The destination's
   *  centroids stay FROZEN (the append contract): the source's stored
   *  (vec_id, v) postings re-assign under them with the same codegen
   *  TopCentroids expression appends use — batch-linear narrow work ∝
   *  the SOURCE INDEX, no shuffle, the destination is never re-read
   *  beyond its centroid table. Source cell ids are meaningless here
   *  (cells are centroid indexes of the OTHER index) and are simply
   *  dropped by the re-assignment.
   *
   *  Contract: disjoint vec_id spaces. Key composition, refusals and
   *  abort cleanup are [[graft.store.IndexCore.mergeFrom]]'s.
   */
  def ivfIndexMergeFrom(
      spark: SparkSession, dstDir: String,
      srcDir: String, key: Option[String] = None): Unit =
    IndexCore.mergeFrom(spark, dstDir, srcDir, key)(src =>
      IndexCore.stageCommit(dstDir) { dst =>
        val cents = liveCentroids(spark, dstDir)
        writePostings(s"$dst/post",
          core.read(spark, "post",
            src.map(IndexCore.legPath(srcDir, _, "post"))
              .filter(IndexCore.exists(spark, _)))
            .select(col("vec_id"), col("v")),
          cents.map(_._1), cents.flatMap(_._2))
      })

  private def writePostings(
      path: String, batch: DataFrame,
      ids: Array[Long], vecs: Array[Double]): Unit =
    batch.select(
        col("vec_id"), col("v"),
        element_at(
          toCol(graft.functions.TopCentroids(toExpr(col("v")), ids, vecs, 1)), 1)
          .as("cell"))
      .write.partitionBy("cell").parquet(path)

  /** REBUILD (re-center) the persisted index: Lloyd-refine centroids
   *  from the grown corpus ([[kmeansCentroids]] — deterministic, no
   *  random init), re-assign every stored posting, and publish the
   *  refreshed centroids + postings as ONE commit replacing the whole
   *  live set — readers resolve the old generation or the new one,
   *  never a mix (cell ids are centroid indexes; mixed-generation
   *  cells would be meaningless). This is the production "reindex"
   *  answer to centroid drift under appends; superseded dirs stay on
   *  disk for in-flight readers until [[graft.store.IndexCore.vacuum]].
   *  Returns false (and drops its staging) if ANY concurrent writer —
   *  append included — moved the live set; the caller retries against
   *  the fresh snapshot.
   */
  def ivfIndexRebuild(
      spark: SparkSession, dir: String,
      centroidStep: Long, iters: Int = 2, sampleStep: Long = 1L): Boolean =
    ivfIndexRebuildFrom(spark, dir, IndexCore.live(spark, dir),
      centroidStep, iters, sampleStep)

  /** [[ivfIndexRebuild]] against an explicit observed snapshot — the
   *  seam that lets a spec interleave a concurrent append between the
   *  snapshot read and the publish, pinning the abort path.
   */
  private[graft] def ivfIndexRebuildFrom(
      spark: SparkSession, dir: String,
      live: Seq[String], centroidStep: Long, iters: Int,
      sampleStep: Long): Boolean = {
    IndexCore.requireUnpinned(spark, dir, "ivfIndexRebuild")
    val roots = IndexCore.scopes(dir, live)
    // a missing live dir PROVES the observed snapshot is stale (vacuum
    // only reclaims superseded dirs): the commit below would lose the
    // race anyway, so abort NOW — silently filtering would k-means a
    // partial corpus
    if (roots.isEmpty || roots.exists(r => !IndexCore.exists(spark, s"${r._1}/post")))
      return false
    // the observed snapshot's tombstones fold into the rebuild with
    // ORDER SCOPING (each commit drops only its subsequent tombstones'
    // vectors — a re-appended id's fresh rows survive): gone vectors
    // leave the retrain corpus AND the reassigned postings, and the
    // whole-live-set swap below retires the `t-` entries (only `#txn:`
    // keys carry through) — a rebuild IS the physical-erasure point
    // for deletions, same as a full compact
    val corpus = core.without(spark, "post", roots, Seq("vec_id"), identity).get
      .select(col("vec_id"), col("v"))
      .localCheckpoint(true) // frozen input: the commit swap must not
    // invalidate this plan's source dirs mid-write
    val cents = kmeansCentroids(corpus, centroidStep, iters, sampleStep)
    val name = IndexCore.entryName("c", None)
    val dst = IndexCore.dataDir(dir, name)
    import spark.implicits._
    cents.toSeq.map { case (i, v) => (i, v.toSeq) }
      .toDF("vec_id", "v")
      .coalesce(1).write.parquet(s"$dst/centroids")
    writePostings(s"$dst/post", corpus,
      cents.map(_._1), cents.flatMap(_._2))
    val published = IndexCore.log(dir).commit(spark) { now =>
      // ANY concurrent write is a lost race — including an APPEND: its
      // postings were assigned against the OLD centroids, so letting it
      // pass through the swap would publish mixed-generation cell ids
      // (new-centroid queries probing stale assignments, silently wrong
      // neighbors). Strict equality, not subset. `#txn:` delivery keys
      // pass through UNTOUCHED — the rebuilt index CONTAINS every
      // folded batch, so a post-rebuild replay must still be rejected
      // (re-appending it would double-insert its vectors).
      if (now.toSet == live.toSet)
        // #txn: keys AND #pin: leases carry through (a pin raced in
        // after the guard above would fail the strict equality anyway)
        Some(name +: now.filter(_.startsWith("#")))
      else None // index moved under us — abort, caller retries
    }
    if (!published) IndexCore.dropStaging(spark, dir, Seq(name))
    published
  }

  /** SIZE-TIERED commit compaction ([[graft.store.IndexCore.compactTiered]])
   *  of the persisted IVF index: every append adds a commit dir
   *  forever and [[ivfIndexQuery]]'s per-commit union grows linearly
   *  in append count. Postings fold by pure concatenation (cell ids
   *  are indexes into the ONE live centroid generation, identical
   *  across commits by the rebuild invariant), re-clustered so each
   *  cell lands in one file instead of commits × cells. If the
   *  founding (or rebuilt) commit is among the folded inputs its
   *  centroid table carries through — the index always keeps exactly
   *  one centroids leg.
   */
  def ivfIndexCompactTiered(
      spark: SparkSession, dir: String, fanIn: Int = 8): Unit =
    core.compactTiered(spark, dir, fanIn, "ivfIndexCompactTiered") {
      (roots, _, dst) =>
        core.without(spark, "post", roots, Seq("vec_id"), identity)
          .foreach(_.select(col("vec_id"), col("v"), col("cell"))
            .repartition(col("cell"))
            .write.partitionBy("cell").parquet(s"$dst/post"))
        roots.map(r => s"${r._1}/centroids").filter(IndexCore.exists(spark, _)) match {
          case Seq(c) => core.read(spark, "centroids", Seq(c))
            .coalesce(1).write.parquet(s"$dst/centroids")
          case Seq() => ()
          case many => throw new IllegalStateException(
            s"index $dir has ${many.size} centroid legs among " +
              s"${roots.map(_._1)} — one generation must own exactly one")
        }
    }

  /** TOMBSTONE-SCOPED RETIREMENT
   *  ([[graft.store.IndexCore.retireOldestTombstone]]) on the IVF
   *  index: covered commits whose postings mention the oldest
   *  tombstone's ids rewrite keeping their cell partitioning (cell ids
   *  index the frozen centroid generation — unchanged). The founding
   *  commit's centroid leg carries through even when its postings
   *  empty out; a posting-only commit whose rows are all gone drops
   *  from the live list. A whole-index rewrite is [[ivfIndexRebuild]]'s
   *  job, which also re-centers.
   */
  def ivfIndexRetireOldestTombstone(
      spark: SparkSession, dir: String): Boolean =
    core.retireOldestTombstone(spark, dir, "ivfIndexRetireOldestTombstone") {
      (covered, gone) =>
        val touched = core.touched(covered, gone)(c =>
          core.at(spark, dir, c, "post").map(_.select(col("vec_id"))).toSeq)
        covered.filter(touched.contains).map { c =>
          val name = IndexCore.rewriteName(c)
          val dst = IndexCore.dataDir(dir, name)
          val live2 = core.at(spark, dir, c, "post").get
            .select(col("vec_id"), col("v"), col("cell"))
            .join(gone, Seq("vec_id"), "left_anti").persist()
          val anyPost = !live2.isEmpty
          if (anyPost)
            live2.repartition(col("cell"))
              .write.partitionBy("cell").parquet(s"$dst/post")
          live2.unpersist(): Unit
          val cents = core.at(spark, dir, c, "centroids")
          cents.foreach(_.coalesce(1).write.parquet(s"$dst/centroids"))
          c -> (if (anyPost || cents.nonEmpty) name else "")
        }.toMap
    }

  /** Retire up to `upTo` tombstones, oldest first. Returns the number
   *  retired.
   */
  def ivfIndexRetireTombstones(
      spark: SparkSession, dir: String,
      upTo: Int = Int.MaxValue): Int = {
    var n = 0
    while (n < upTo && ivfIndexRetireOldestTombstone(spark, dir)) n += 1
    n
  }

  /** Probe the stored postings: queries rank exactly within their
   *  nProbe nearest cells; the per-commit cell partitioning prunes the
   *  scan to those directories.
   *
   *  A ONE-VECTOR LOCAL query frame (an API caller's single vector,
   *  whose optimized plan is a LocalRelation: `Dataset.isLocal` misses
   *  the renaming Project of a `toDF(names)`) plans its probe on the
   *  driver: the TopCentroids Project over a LocalRelation folds to a
   *  local relation, so collecting it starts no job, and the probed
   *  cells' postings are scored against that one vector as a literal
   *  and ranked with the bounded [[TopK]] — no probed-cell job, no
   *  probe broadcast, so a warm probe with no live tombstone is one
   *  Spark job. Every other frame collects its probed cells and joins
   *  the broadcast probes. Both shapes return the same rows.
   */
  def ivfIndexQuery(
      spark: org.apache.spark.sql.SparkSession, dir: String, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame = {
    val cents = servedCentroids(spark, dir)
    val (ids, vecs) = (cents.map(_._1), cents.flatMap(_._2))
    val topCells =
      toCol(graft.functions.TopCentroids(toExpr(col("v")), ids, vecs, nProbe))
    // the probed cell set is driver-computable and BOUNDED by the
    // centroid count (itself collectBounded ≤ 65536) — so prune each
    // per-commit posting read with a STATIC cell filter instead of
    // trusting dynamic partition pruning to fire through the union (it
    // does not reliably propagate through per-commit branches, and a
    // silent DPP miss would scan every cell of every commit). The plan
    // carries `PartitionFilters: [cell IN (...)]` per branch — guarded
    // by PlanAuditSpec. Per-commit roots each carry their own cell=N
    // partition tree — a multi-root partitioned read conflicts, so read
    // per commit and union (same leaf files either way).
    def postingsIn(cells: Seq[Long]): DataFrame =
      livePosts(spark, dir, df => df.where(col("cell").isin(cells: _*)))
        .getOrElse(throw new IllegalArgumentException(
          s"no live posting commits in IVF index $dir"))
    def scored(cands: DataFrame): DataFrame =
      cands.where(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id").as("n_id"),
          cosine(col("qv"), col("v")).as("cos"))
    val one =
      if (!queries.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]) None
      else queries.select(col("vec_id"), col("v"), topCells).collect() match {
        // a null id matches no posting: the join path yields no rows too
        case Array(r) if !r.isNullAt(0) => Some(r)
        case _ => None
      }
    one match {
      case Some(r) =>
        val cells = Option(r.getSeq[Long](2)).getOrElse(Nil) // a null vector probes nothing
        TopK(scored(postingsIn(cells.sorted).select(col("vec_id"), col("v"),
            lit(r.get(0)).cast(queries.schema("vec_id").dataType).as("q_id"),
            typedLit(r.getSeq[Double](1)).as("qv"))),
          k, col("cos").desc, col("n_id"))
      case None =>
        val probes = queries.select(
          col("vec_id").as("q_id"), col("v").as("qv"), explode(topCells).as("cell"))
        val probedCells = probes.select("cell").distinct()
          .collect().map(_.getLong(0)).sorted.toSeq
        rankTopK(scored(postingsIn(probedCells).join(broadcast(probes), Seq("cell"))), k)
    }
  }

  /** INDEX OBSERVABILITY: cell-balance report for a persisted IVF
   *  index — (n_cells, n_vectors, max_cell, imbalance_ppm) where
   *  imbalance = max·cells/total in exact ppm (1e6 = perfectly
   *  balanced). THE skew monitor an IVF deployment watches: a hot
   *  cell makes every probe that lands on it scan max_cell postings,
   *  so imbalance is the probe-latency amplification factor, and
   *  growth here is the signal to rebuild with fresher centroids
   *  ([[ivfIndexRebuild]]). Cost: one cell-grain agg over the live
   *  postings (map-side partials — ∝ index, never corpus text).
   */
  def ivfIndexStats(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val posts = livePosts(spark, dir, identity)
    require(posts.nonEmpty, s"no live commits in IVF index $dir")
    val cellSizes = posts.get
      .groupBy("cell").agg(count(lit(1)).as("n"))
    cellSizes
      .agg(count(lit(1)).as("n_cells"), sum("n").as("n_vectors"),
        max("n").as("max_cell"))
      .select(col("n_cells"), col("n_vectors"), col("max_cell"),
        // the product runs in DECIMAL(38,0): in Long, ~1e6 cells with a
        // ~1e7-vector hot cell overflows 1e6·max_cell·n_cells and the
        // report goes negative/garbage with no error; the decimal div
        // returns the same BIGINT everywhere the Long didn't overflow
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * max_cell * n_cells) " +
          "div n_vectors AS BIGINT)")
          .as("imbalance_ppm"))
  }

  /** LIVE VECTOR MEMBERSHIP as one (vec_id) frame — the posting leg's
   *  tombstone-scoped readback. The cross-index consistency check
   *  ([[graft.store.IndexFsck]]) compares this against the text and
   *  dedup memberships.
   */
  def ivfVecIds(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    livePosts(spark, dir, identity)
      .getOrElse(throw new IllegalArgumentException(
        s"requirement failed: no live posting commits in IVF index $dir"))
      .select("vec_id")

  /** DEEP INTEGRITY CHECK (fsck) — recompute the IVF index's stored
   *  invariants from the tombstone-scoped posting readback and the
   *  live centroid generation, reporting (check, violations, audited):
   *
   *  | check           | violation = …                                 |
   *  |-----------------|-----------------------------------------------|
   *  | vec_unique      | vec_id with > 1 live posting rows (the upsert
   *  |                 | discipline guarantees exactly one)            |
   *  | cell_assignment | stored cell ≠ the vector's nearest LIVE
   *  |                 | centroid (appends/upserts assign under the
   *  |                 | frozen generation; a rebuild reassigns — so
   *  |                 | live rows must always agree with live cents)  |
   *  | dim_uniform     | vector length ≠ the centroid dimension        |
   *
   *  audited = live vector count. All-zeros is the healthy state; a
   *  nonzero cell_assignment means torn centroid/posting state (a
   *  stray writer or a broken rebuild swap) that silently degrades
   *  recall — exactly the corruption class an ANN index can't surface
   *  through query results alone. One pass over the postings +
   *  argmax against the driver-resident centroids (the same
   *  bounded-broadcast shape as every probe) — cost ∝ index.
   */
  def ivfIndexFsck(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cents = liveCentroids(spark, dir)
    val (ids, vecs) = (cents.map(_._1), cents.flatMap(_._2))
    val dim = cents.head._2.length
    val posts = livePosts(spark, dir, identity)
      .getOrElse(throw new IllegalArgumentException(
        s"no live posting commits in IVF index $dir"))
    // ONE doc-grain pass computes all three: per-vec multiplicity via
    // the groupBy, assignment and dim checked per row and max'd up
    val r = posts
      .select(col("vec_id"),
        // CaseWhen evaluates lazily per row: a wrong-dim vector counts
        // as ITS violation instead of crashing the argmax probe
        when(size(col("v")) =!= lit(dim), lit(true))
          .otherwise(col("cell") =!= element_at(
            toCol(graft.functions.TopCentroids(
              toExpr(col("v")), ids, vecs, 1)), 1)).as("bad_cell"),
        (size(col("v")) =!= lit(dim)).as("bad_dim"))
      .groupBy("vec_id")
      .agg(count(lit(1)).as("m"),
        max(col("bad_cell")).as("bad_cell"),
        max(col("bad_dim")).as("bad_dim"))
      .agg(isViol(col("m") > 1).as("dup"),
        isViol(col("bad_cell")).as("cell"),
        isViol(col("bad_dim")).as("dim"),
        count(lit(1)).as("aud")).head()
    Seq(("cell_assignment", r.getLong(1), r.getLong(3)),
      ("dim_uniform", r.getLong(2), r.getLong(3)),
      ("vec_unique", r.getLong(0), r.getLong(3)))
      .toDF("check", "violations", "audited")
  }

  /** INCREMENTAL fsck — [[ivfIndexFsck]]'s invariants over only the
   *  posting commits that appeared after the verified watermark
   *  (`vec_unique` per fresh commit, `cell_assignment` /
   *  `dim_uniform` per fresh row against the LIVE centroid
   *  generation — the one pre-watermark read, and it is bounded
   *  index-small metadata, not a leg recount) plus `tomb_wellformed`
   *  (duplicate gone ids). Fresh appends/upserts assign under the
   *  live frozen generation and a rebuild splices old commits away
   *  (which voids the watermark → full battery), so checking fresh
   *  rows against live centroids is exact. All four rows always
   *  present ((0, 0) when absent this window). None when the
   *  incremental premise fails — run [[ivfIndexFsck]] and republish.
   */
  def ivfFsckIncremental(
      spark: SparkSession, dir: String): Option[FsckScope] =
    core.fsckIncremental(spark, dir) { f =>
      val (dupRow, cellRow, dimRow, added) = f.tagged(f.commits, "post") match {
        case None => (("vec_unique", 0L, 0L), ("cell_assignment", 0L, 0L),
          ("dim_uniform", 0L, 0L), IndexCore.emptyIds(spark))
        case Some(p) =>
          val cents = liveCentroids(spark, dir)
          val (ids, vecs) = (cents.map(_._1), cents.flatMap(_._2))
          val dim = cents.head._2.length
          val r = p
            .select(col("cmt"), col("vec_id"),
              when(size(col("v")) =!= lit(dim), lit(true))
                .otherwise(col("cell") =!= element_at(
                  toCol(graft.functions.TopCentroids(
                    toExpr(col("v")), ids, vecs, 1)), 1)).as("bad_cell"),
              (size(col("v")) =!= lit(dim)).as("bad_dim"))
            .groupBy("cmt", "vec_id")
            .agg(count(lit(1)).as("m"),
              max(col("bad_cell")).as("bad_cell"),
              max(col("bad_dim")).as("bad_dim"))
            .agg(isViol(col("m") > 1).as("dup"),
              isViol(col("bad_cell")).as("cell"),
              isViol(col("bad_dim")).as("dim"),
              count(lit(1)).as("aud")).head()
          (("vec_unique", r.getLong(0), r.getLong(3)),
            ("cell_assignment", r.getLong(1), r.getLong(3)),
            ("dim_uniform", r.getLong(2), r.getLong(3)),
            p.select(col("vec_id").as("doc_id")).distinct()
              .localCheckpoint(true))
      }
      (Seq(cellRow, dimRow, f.tombRow(_ => 0L), dupRow), added)
    }


  /** Hard-negative mining for contrastive training: per query, the
   *  top-k MOST similar candidates inside the band (loCos, hiCos) —
   *  similar enough to be informative negatives, strictly below the
   *  near-duplicate cut so positives and copies are excluded. Same
   *  IVF probe shape and cost as [[ivfTopK]]; the band filter runs on
   *  the exact cosine BEFORE ranking, so the k slots go to in-band
   *  candidates rather than being eaten by excluded near-dups.
   */
  def hardNegatives(
      corpus: DataFrame, queries: DataFrame, k: Int,
      loCos: Double, hiCos: Double,
      centroidStep: Long = 7L, nProbe: Int = 3,
      broadcastProbes: Boolean = true): DataFrame = {
    val cents = collectBounded(
      corpus.where(col("vec_id") % centroidStep === 0),
      "raise centroidStep (or build centroids with k-means) for this corpus")
    rankTopK(
      probeCands(corpus, queries,
        cents.map(_._1), cents.flatMap(_._2), nProbe, broadcastProbes)
        .where(col("cos") > loCos && col("cos") < hiCos),
      k)
  }

  /** Bounded driver-side collect of (vec_id, v) rows — legal only
   *  because an IVF index is small by construction; a filter that no
   *  longer bounds it must fail loudly, not OOM.
   */
  private def collectBounded(
      rows: DataFrame, hint: String,
      allowEmpty: Boolean = false): Array[(Long, Array[Double])] = {
    val out = rows
      .select(col("vec_id"), col("v"))
      .limit(65537) // guard materialization before the size check below
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require((allowEmpty || out.nonEmpty) && out.length <= 65536,
      s"IVF index sample must be 1..65536 rows (got ${out.length}); $hint")
    out
  }

  private def dotArr(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** round-half-away-from-zero, matching SQL `round(x)` semantics
   *  (`math.round` is half-UP — it disagrees on negative ties).
   */
  private def roundAway(x: Double): Double =
    if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)

  /**
   * Deterministic Lloyd-refined IVF centroids, fully oracle-
   * reproducible (no RNG, no float-order sensitivity):
   *
   *  - sample = every `sampleStep`-th corpus vector (bounded ≤ 65536,
   *    driver-resident). SCALE CONTRACT: callers must choose
   *    `sampleStep ≥ corpusSize / 65536` — the index build reads a
   *    SAMPLE, never the corpus, and the `collectBounded` require fails
   *    loudly (not OOM) if the step no longer bounds it. The registered
   *    `ann_ivf_kmeans` query pins sampleStep=1 because its SQL oracle
   *    runs Lloyd over all vectors — valid at oracle scale only; a
   *    production corpus raises sampleStep and parameterizes the oracle
   *    the same way (the algorithm is step-agnostic);
   *  - seeds = the stride centroids (vec_id % centroidStep == 0) taken
   *    FROM the sample, re-numbered 0..k-1 in vec_id order;
   *  - `iters` Lloyd steps. Assignment = argmax cosine with the SAME
   *    fold order and tie rule (equal cos → lowest centroid index) as
   *    `TopCentroids` and the SQL oracle. The mean update is computed
   *    in FIXED POINT: per-dimension Σ round(x·10⁶) is a sum of
   *    integral doubles — exact in any accumulation order — and the
   *    final S / (10⁶·n) divides identical operands, so engine and
   *    oracle produce bit-identical centroids; a straight float mean
   *    would differ at the last ulp and flip boundary assignments.
   *    Cells that lose all points keep their previous centroid.
   *
   * Returns (centroidIndex 0..k-1, vector) pairs.
   */
  /** [[boundedStep]] walked UP to the nearest stride COPRIME to the
   *  fixture's id-lattice modulus: `vec_id % step == 0` sampling over
   *  ids confined to a residue class selects ZERO rows whenever the
   *  stride shares a factor with the modulus that doesn't divide the
   *  residue (the sf1 oracle sweep caught exactly this — derived step
   *  14 over a `% 6 == 1` lattice). Every strided fixture derives its
   *  step through this instead of hand-copying the walk.
   */
  def coprimeStep(
      corpusRows: Long, latticeModulus: Long,
      targetCells: Int = 256): Long =
    Iterator.iterate(boundedStep(corpusRows, targetCells))(_ + 1)
      .find(st => BigInt(st).gcd(BigInt(latticeModulus)) == 1).get

  def kmeansCentroids(
      corpus: DataFrame, centroidStep: Long, iters: Int,
      sampleStep: Long = 1L): Array[(Long, Array[Double])] = {
    // LATTICE-IMMUNE sampling: `vec_id % step == 0` can select ZERO
    // rows when the id space is a lattice sharing a factor with the
    // stride (vec_id == doc_id pipelines make this common — all ids
    // ≡ 9 mod 20, even ids only, ...; the sf1 oracle sweep caught the
    // stream fixture on exactly this). The auto-derived strides of
    // the rebalance triggers cannot know the lattice, so the modulo
    // sample FALLS BACK deterministically instead of refusing: the
    // Lloyd sample to the lowest-vec_id 32768 rows, the seed set to a
    // positional stride over the (vec_id-sorted) sample with the same
    // expected seed count. Explicit well-chosen strides never hit
    // either fallback, so oracle-mirrored callers are unchanged.
    val strided = collectBounded(
      corpus.where(col("vec_id") % sampleStep === 0),
      "raise sampleStep for this corpus", allowEmpty = true)
    val log = org.slf4j.LoggerFactory.getLogger(getClass)
    val sample =
      if (strided.nonEmpty) strided
      else {
        // loud even though tolerated: an EXPLICITLY mis-chosen stride
        // lands here too, and silently training on the lowest-id rows
        // (often the OLDEST distribution — the very thing a re-train
        // escapes) must at least be visible
        log.warn(s"k-means sample stride $sampleStep selected zero " +
          "rows (id lattice shares a factor) — falling back to the " +
          "lowest-vec_id 32768 rows; pass a lattice-coprime sampleStep " +
          "for a distribution-faithful sample")
        collectBounded(corpus.orderBy("vec_id").limit(32768),
          "empty corpus cannot seed k-means")
      }
    // SEED SELECTION must count cells right under ANY (sampleStep,
    // centroidStep) pair: filtering the strided sample by
    // `id % centroidStep == 0` keeps only ids divisible by
    // lcm(sampleStep, centroidStep) — when sampleStep divides
    // centroidStep that IS every centroidStep-th corpus id (the
    // oracle-mirrored rule; sampleStep = 1 callers are unchanged),
    // but for coprime-ish auto-derived stride pairs it collapses the
    // seed count by centroidStep/gcd — e.g. step 4096 over a
    // 33-strided sample seeds ~7 cells instead of 256, silently
    // degrading every later probe. Off the divisibility grid, seed
    // POSITIONALLY over the (vec_id-sorted) sample at the equivalent
    // rate instead.
    val seeds =
      if (strided.nonEmpty && centroidStep % sampleStep == 0) {
        val s0 = sample.filter(_._1 % centroidStep == 0)
        if (s0.nonEmpty) s0
        else {
          log.warn(s"centroid stride $centroidStep selected zero seeds " +
            "from the sample (id lattice) — seeding positionally at " +
            "the equivalent rate")
          val k = math.max(1,
            math.ceil(centroidStep.toDouble / sampleStep).toInt)
          sample.zipWithIndex.collect { case (v, i) if i % k == 0 => v }
        }
      } else {
        // the equivalent-rate divisor must come from the sample's
        // OBSERVED id spacing, not the requested sampleStep: the
        // lattice-fallback sample (lowest-vec_id 32768 rows) has the
        // id lattice's own spacing, so dividing by sampleStep would
        // mis-scale the seed count by sampleStep/spacing. A strided
        // sample over a dense lattice observes median gap ==
        // sampleStep, so well-chosen strides are unchanged.
        val gaps = sample.map(_._1).sorted.toSeq.sliding(2)
          .collect { case Seq(a, b) => b - a }.toArray.sorted
        val spacing: Double =
          if (gaps.isEmpty) sampleStep.toDouble
          else math.max(1L, gaps(gaps.length / 2)).toDouble
        val k = math.max(1,
          math.round(centroidStep.toDouble / spacing).toInt)
        sample.zipWithIndex.collect { case (v, i) if i % k == 0 => v }
      }
    require(seeds.nonEmpty, "no seed centroids: centroidStep too large")
    var cents: Array[Array[Double]] = seeds.map(_._2)
    val dim = cents(0).length
    var it = 0
    while (it < iters) {
      val cnorms = cents.map(c => math.sqrt(dotArr(c, c)))
      val sums = Array.fill(cents.length)(new Array[Double](dim))
      val cnt = new Array[Long](cents.length)
      for ((_, v) <- sample) {
        val vn = math.sqrt(dotArr(v, v))
        var best = 0
        var bestCos = Double.NegativeInfinity
        var c = 0
        while (c < cents.length) {
          // same expression shape as TopCentroids/oracle: dot/(vn*cn);
          // strict > keeps the lowest index on exact ties
          val cos = dotArr(v, cents(c)) / (vn * cnorms(c))
          if (cos > bestCos) { bestCos = cos; best = c }
          c += 1
        }
        cnt(best) += 1
        var i = 0
        while (i < dim) { sums(best)(i) += roundAway(v(i) * 1e6); i += 1 }
      }
      cents = Array.tabulate(cents.length) { c =>
        if (cnt(c) == 0) cents(c)
        else Array.tabulate(dim)(i => sums(c)(i) / (1e6 * cnt(c)))
      }
      it += 1
    }
    cents.zipWithIndex.map { case (v, i) => (i.toLong, v) }
  }

  /**
   * Semantic (cluster-level) dedup: assign every vector to its nearest
   * k-means centroid, then keep ONE representative per cell — the
   * member closest to the centroid (ties to the smallest vec_id). This
   * is the embedding-space analogue of `Dedup.canonicalPerCluster`:
   * SemDeDup-style pruning where a whole cell of semantically-redundant
   * documents collapses to its most central member.
   *
   * Scale shape: centroids are bounded index metadata (broadcast as a
   * literal array inside TopCentroids AND as a small broadcast dimension
   * for the centroid-vector lookup); the corpus side is one narrow
   * argmax projection + one aggregation at CELL grain — no corpus
   * shuffle wider than (cell, vec_id, cos). The survivor argmax rides a
   * single struct-max, no members⨝winners re-join.
   *
   * Output: (cell, keep_id, n_members, best_cos r6).
   */
  def semanticDedup(
      corpus: DataFrame, cents: Array[(Long, Array[Double])]): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centIds = cents.map(_._1)
    val centVecs = cents.flatMap(_._2)
    def topCells(v: Column, n: Int): Column =
      toCol(graft.functions.TopCentroids(toExpr(v), centIds, centVecs, n))
    val cdf = broadcast(
      cents.toSeq.map { case (i, v) => (i, v.toSeq) }.toDF("cell", "cv"))
    corpus
      .select(col("vec_id"), col("v"),
        element_at(topCells(col("v"), 1), 1).as("cell"))
      .join(cdf, Seq("cell"))
      // same cosine formulation as TopCentroids and the SQL oracle, so
      // the survivor comparison sees bit-identical values on any engine
      .withColumn("ccos", cosine(col("v"), col("cv")))
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n_members"),
        max(struct(col("ccos").as("c"), (-col("vec_id")).as("nid"))).as("m"))
      .select(
        col("cell"),
        (-col("m.nid")).as("keep_id"),
        col("n_members"),
        round(col("m.c"), 6).as("best_cos"))
  }

  /** IVF top-k over Lloyd-refined centroids (see kmeansCentroids). */
  def ivfTopKKmeans(
      corpus: DataFrame, queries: DataFrame, k: Int,
      centroidStep: Long = 7L, nProbe: Int = 3, iters: Int = 2,
      sampleStep: Long = 1L): DataFrame = {
    val cents = kmeansCentroids(corpus, centroidStep, iters, sampleStep)
    ivfTopKWith(corpus, queries, k,
      cents.map(_._1), cents.flatMap(_._2), nProbe)
  }

  /** LSH-accelerated approximate top-k: exact ranking restricted to
   *  bucket-sharing candidates (the IVF-style scale path; recall < 1 by
   *  construction, bounded by the band parameters).
   */
  def annTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nBits: Int = 96, bands: Int = 12): DataFrame = {
    val planes = hyperplanes(nBits, 64)
    val cb = lshBuckets(corpus, planes, bands)
    val qb = lshBuckets(queries, planes, bands)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("band"), col("bucket"))
    val cand = cb.join(broadcast(qb), Seq("band", "bucket"))
      .where(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("qv"), col("vec_id").as("n_id"), col("v"))
      .dropDuplicates("q_id", "n_id")
    cand.withColumn("cos", cosine(col("qv"), col("v")))
      .withColumn("rank",
        row_number().over(Window.partitionBy("q_id").orderBy(col("cos").desc, col("n_id"))))
      .where(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("cos"),
        // BIGINT rank: row_number() is int-typed in Spark but BIGINT in
        // SQL engines — emit the portable type
        col("rank").cast("long").as("rank"))
  }

  /**
   * Product-quantization top-k (the memory-compression ANN path):
   * vectors are split into `nSub` subspaces, each encoded as the id of
   * its nearest codeword from a per-subspace codebook, and queries rank
   * the WHOLE corpus by asymmetric distance (ADC) — the sum of
   * query-to-codeword subdistances looked up from the codes. A D-dim
   * float vector compresses to `nSub` byte-sized codes, so the scan
   * side shrinks ~D·4/nSub× (64·4B → 16B at the registered nSub=16):
   * that compression is the whole point at 100 TB, where the codes
   * table is a write-once index column and the ADC probe is a
   * broadcast of (queries × nSub × nCodes) integers against it.
   * Subspace width is the recall lever — narrow (4-dim) subspaces
   * quantize far tighter than wide ones at the same code budget.
   *
   * Determinism/oracle discipline: codebooks are stride-sampled corpus
   * subvectors (no RNG, like ivfTopK), every coordinate is ppm-quantized
   * BEFORE any arithmetic, and all distances are exact integer sums of
   * squared ppm diffs — zero float-order hazard anywhere, so a SQL
   * engine reproduces every code and every ADC rank bit-for-bit.
   *
   * The codebook is driver-resident bounded index metadata (like the
   * IVF centroids) shipped as a literal, so the encode is a NARROW
   * per-row argmin inside the corpus scan — no shuffle wider than the
   * (vec_id, subspace, code) triple ever carries vectors. (The first
   * cut exploded corpus × nCodes × D rows through an exchange:
   * 5-6 s vs ~1.5 s at sf0.1.)
   */
  def pqTopK(
      corpus: DataFrame, dims: Int, nSub: Int, nCodes: Int,
      codeStride: Long, nQueries: Int, k: Int): DataFrame = {
    require(dims % nSub == 0, s"dims $dims must split into $nSub subspaces")
    val subW = dims / nSub
    val cbRows = collectBounded(
      corpus.where(col("vec_id") % codeStride === 0 &&
        col("vec_id") < codeStride * nCodes),
      "PQ codebook must be a bounded stride sample")
    require(cbRows.length == nCodes,
      s"expected $nCodes codewords, got ${cbRows.length}")
    val cbPpm: Array[Array[Long]] =
      cbRows.map(_._2.map(x => roundAway(x * 1e6).toLong))
    val vppm = transform(col("v"), x => round(x * lit(1e6)).cast("long"))
    // ONE 3-level codebook literal + one lambda over the subspace index
    // (16 inlined per-subspace copies made Catalyst analysis the
    // dominant cost — ~4 s of fixed plan work at any data size)
    val cb3: Seq[Seq[Seq[Long]]] = (0 until nSub).map(m =>
      cbPpm.toSeq.map(_.slice(m * subW, (m + 1) * subW).toSeq))
    val cbLit = typedLit(cb3)
    // integer subdistances of the row's m-th subvector to all codewords
    def distsAt(m: Column, vp: Column): Column =
      transform(element_at(cbLit, (m + 1).cast("int")), cw =>
        aggregate(
          zip_with(slice(vp, m * subW + 1, lit(subW)), cw,
            (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, x) => acc + x))
    // encode in-row: argmin per subspace (array_position takes the
    // FIRST minimum → lowest code id on ties, matching the oracle)
    val codes = corpus
      .withColumn("vp", vppm)
      .select(col("vec_id"),
        posexplode(transform(sequence(lit(0), lit(nSub - 1)), m => {
          val ds = distsAt(m, col("vp"))
          (array_position(ds, array_min(ds)) - 1).cast("int")
        })).as(Seq("m", "code")))
    // query-side ADC table: nQueries × nSub × nCodes integer cells
    val qd = corpus
      .where(col("vec_id") < nQueries)
      .withColumn("vp", vppm)
      .select(col("vec_id").as("q_id"),
        posexplode(transform(sequence(lit(0), lit(nSub - 1)),
          m => distsAt(m, col("vp")))).as(Seq("qm", "ds")))
      .select(col("q_id"), col("qm"), posexplode(col("ds")).as(Seq("j", "d")))
    codes.join(broadcast(qd),
        col("qm") === col("m") && col("j") === col("code"))
      .where(col("q_id") =!= col("vec_id"))
      .groupBy(col("q_id"), col("vec_id").as("n_id"))
      .agg(sum(col("d")).as("adc"))
      .withColumn("rank", row_number()
        .over(Window.partitionBy("q_id").orderBy(col("adc"), col("n_id")))
        .cast("long"))
      .where(col("rank") <= k)
      .select("q_id", "rank", "n_id", "adc")
  }

  /**
   * Dominant eigenvector of the corpus Gram matrix by distributed power
   * iteration — the top principal direction (uncentered PCA), the
   * embedding-space diagnostic behind whitening / anisotropy checks.
   *
   * Shape at scale: each partition folds its rows into a LOCAL
   * dims×dims long accumulator in-row (upper triangle only) and emits
   * ≤ D(D+1)/2 cells — the shuffle carries partitions × 2080 rows, a
   * constant, never corpus rows (the first cut's explode+self-join
   * pushed |corpus|·D² rows through an exchange: 16.5 s vs ~1 s at
   * sf0.1). Each power-iteration round is then a 4096-row matvec.
   * Integer sums commute, so per-partition accumulation order is free;
   * `multiplyExact`/`addExact` fail loudly if a partition ever exceeds
   * the long range (≈9×10⁶ rows/partition at unit-norm ppm — size
   * `maxPartitionBytes` under that) and the cross-partition fold is
   * decimal(38).
   *
   * Determinism: ppm-quantized coordinates (round-half-away, matching
   * SQL `round`) make every Gram cell an exact integer; the iteration
   * renormalizes with an integer max-|y| divide, SHIFTED non-negative
   * before the floor division so Spark's truncating `div` and SQL's
   * flooring `//` agree on every value. No floats anywhere.
   */
  def gramPowerIteration(corpus: DataFrame, dims: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val dec = org.apache.spark.sql.types.DataTypes.createDecimalType(38, 0)
    val upperCells = corpus.select(col("v").cast("array<double>")).as[Seq[Double]]
      .mapPartitions { it =>
        val acc = Array.ofDim[Long](dims, dims)
        var any = false
        val p = new Array[Long](dims)
        it.foreach { v =>
          any = true
          var i = 0
          while (i < dims) {
            val x = v(i) * 1e6
            p(i) = (if (x >= 0) math.floor(x + 0.5) else math.ceil(x - 0.5)).toLong
            i += 1
          }
          i = 0
          while (i < dims) {
            val row = acc(i)
            var j = i
            while (j < dims) {
              row(j) = math.addExact(row(j), math.multiplyExact(p(i), p(j)))
              j += 1
            }
            i += 1
          }
        }
        if (!any) Iterator.empty
        else for (i <- (0 until dims).iterator; j <- i until dims)
          yield (i, j, acc(i)(j))
      }.toDF("i", "j", "c0")
    val upper = upperCells.groupBy("i", "j")
      .agg(sum(col("c0").cast(dec)).as("c"))
    val cov = upper.unionByName(
      upper.where(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("c")))
    graft.dedup.Dedup.withScopedPersist(cov) {
      var v = spark.range(dims.toLong)
        .select(col("id").cast("int").as("j"),
          lit(1000000L).cast(dec).as("x"))
      for (_ <- 1 to iters) {
        val mv = cov.join(v, "j")
          .groupBy(col("i")).agg(sum(col("c") * col("x")).as("y"))
        val m = mv.agg(max(abs(col("y"))).as("m"))
        // eager 64-row checkpoint per round: each round's broadcast
        // subtree would otherwise NEST the whole previous chain
        // (broadcast exchanges don't dedupe across rounds — measured
        // ~2× work per round, 13 s for 5 rounds at sf0.1)
        v = mv.crossJoin(broadcast(m))
          .select(col("i").as("j"),
            (expr("(y * 1000000 + m * 2000000) div m") - lit(2000000L))
              .cast(dec).as("x"))
          .localCheckpoint(true)
      }
      v.select(col("j").cast("long").as("dim"),
        col("x").cast("long").as("v_ppm"))
    }
  }
}
