package graft.api

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ingest.Melt
import graft.model.Fidelity
import graft.query.{RangeQuery, Search}
import graft.store.{CommentStore, ManifestStore}

/**
 * Thin engine façade mirroring the reference's HTTP surface
 * (src/server.py:47-175): data get/put, dataset search, comment CRUD,
 * and the self-metrics feedback loop. All heavy lifting happens in the
 * operator modules; this layer does exactly what the Flask layer does —
 * validation, routing, id assignment, and counters.
 *
 * Both tables live on the manifest-committed store
 * ([[graft.store.ManifestStore]], the façade's one backend): each put
 * publishes its raw rows and rollup partials under ONE atomic version
 * via `ManifestStore.ingestBatchAtomic` (no snapshot can see the two
 * tables out of step), with O(1) commits and size-tiered compaction
 * for sustained high-cardinality ingest — the 100 TB-correct write
 * path.
 */
final class GraftApi(spark: SparkSession, root: String, commentsPath: String) {

  // A9 — engine counters, fed back as series by flushSelfMetrics
  // (reference: src/index.py:97-98, 110, 198; src/metrics/loop.py:52-78)
  private val numPuts = new AtomicLong(0L)
  private val numGets = new AtomicLong(0L)

  /** GET /api/data/<dataset_id>?start&end[&fidelity] (server.py:63-73).
   *  The per-series READERS are used (readRawFor/readLevelRange): they
   *  apply the series' hash-bucket and bucket bounds BELOW the
   *  merge-on-read fold, riding the commit files' row-group stats — a
   *  bare dataset_id filter above the fold would aggregate the whole
   *  level first. With `asOf`, both legs resolve the SAME published
   *  version — the chart shows one consistent instant whatever
   *  fidelity the span routes to.
   */
  def getData(
      datasetId: String, startUs: Long, endUs: Long,
      fidelity: Option[Fidelity] = None,
      asOf: Option[Long] = None): DataFrame = {
    Melt.requireLegalId(datasetId)
    numGets.incrementAndGet()
    RangeQuery.getWith(
      _ => asOf match {
        case Some(v) => ManifestStore.readRawForAsOf(spark, root, datasetId, v)
        case None => ManifestStore.readRawFor(spark, root, datasetId)
      },
      (f, startS, endS) => asOf match {
        case Some(v) =>
          ManifestStore.readLevelRangeAsOf(spark, root, f, datasetId, startS, endS, v)
        case None =>
          ManifestStore.readLevelRange(spark, root, f, datasetId, startS, endS)
      },
      datasetId, startUs, endUs, fidelity)
  }

  /** POST /api/data — one canonical-long batch (server.py:76-103).
   *  Validation and NaN drop happen in `Melt.sanitize` inside the store
   *  path; the counter mirrors `Index.put`'s per-call bump.
   */
  def putData(batchLong: DataFrame): Unit = {
    numPuts.incrementAndGet()
    ManifestStore.ingestBatchAtomic(spark, root, batchLong): Unit
  }

  /** GET /api/datasets?text=q (server.py:57-60, index.py:219-239),
   *  answered from the store's memoized catalog as a local frame: a
   *  warm search starts no Spark job and scans no data.
   */
  def datasets(query: String, maxCount: Int = 300): DataFrame =
    Search.datasets(spark, ManifestStore.datasetIds(spark, root), query, maxCount)

  /** POST /api/comment/new — EPOCH-nanosecond id assigned HERE, never
   *  inside a distributed job (marks.py:82 uses `time.time_ns()`:
   *  ids are time-ordered and meaningful across process restarts —
   *  `System.nanoTime()` is an arbitrary-origin monotonic clock and
   *  would be neither; SURVEY §7.4.5). The atomic max guards the
   *  sub-µs-resolution clock: two creates in the same tick still get
   *  strictly increasing ids.
   */
  def createComment(dateUs: Long, text: String, tags: Seq[String]): Long = {
    val id = GraftApi.nextEpochNsId()
    CommentStore.create(spark, commentsPath, id, dateUs, text, tags)
    id
  }

  /** PUT /api/comment/edit (server.py:124-141). */
  def updateComment(id: Long, dateUs: Long, text: String, tags: Seq[String]): Unit =
    CommentStore.update(spark, commentsPath, id, dateUs, text, tags)

  /** DELETE /api/comment/delete/<id> (server.py:160-175). */
  def deleteComment(id: Long): Unit =
    CommentStore.delete(spark, commentsPath, id)

  /** GET /api/comment?start&end&tags (server.py:144-157). */
  def comments(startUs: Long, endUs: Long, tags: Seq[String] = Seq.empty): DataFrame =
    CommentStore.query(
      CommentStore.load(spark, commentsPath), startUs, endUs, tags)

  def counters: (Long, Long) = (numPuts.get(), numGets.get())

  // ---- LLM-retrieval tier facade ------------------------------------
  // The persisted text/dedup/ANN indexes are consumable the way
  // put/get are: a caller holds index ROOTS (they are datasets, like
  // `root`), the facade routes and validates, the operator modules do
  // the work. No reference endpoint corresponds (the reference has no
  // retrieval tier); the routing mirrors getData's shape.

  /** Ingest a (doc_id, text) batch into a persisted inverted index —
   *  the put-side of [[searchDocs]]; `key` gives exactly-once.
   */
  def indexDocs(indexDir: String, docs: DataFrame,
      key: Option[String] = None): Unit = {
    numPuts.incrementAndGet()
    graft.text.TextIndex.ingestShard(
      spark, indexDir, docs, "doc_id", "text", key = key)
  }

  /** BM25 top-k for one term list from a persisted inverted index. */
  def searchDocs(indexDir: String, terms: Seq[String], k: Int,
      maxDf: Option[Long] = None): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    graft.text.TextIndex.searchBm25(spark, indexDir, terms, k, maxDf)
  }

  /** BM25 top-k per query for a (query_id, token) batch — one pruned
   *  posting scan for the whole batch.
   */
  def searchDocsBatch(indexDir: String, queries: DataFrame, k: Int,
      maxDf: Option[Long] = None): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    graft.text.TextIndex.searchBm25Batch(spark, indexDir, queries, k, maxDf)
  }

  /** ANN top-k per query — (vec_id, v) rows probed against a persisted
   *  IVF index (statically cell-pruned posting scan).
   */
  def annQuery(indexDir: String, queries: DataFrame, k: Int,
      nProbe: Int = 3): DataFrame = {
    require(k > 0 && nProbe > 0, s"bad k/nProbe: $k/$nProbe")
    numGets.incrementAndGet()
    graft.sim.Similarity.ivfIndexQuery(spark, indexDir, queries, k, nProbe)
  }

  /** BM25 with RM3 query expansion: feedback docs from the index,
   *  integer RM1 expansion weights, one weighted re-probe. `corpus`
   *  serves the feedback docs' text by point lookup (forward-index
   *  role) — the index is never scanned beyond the two probes.
   */
  def searchDocsExpanded(indexDir: String, corpus: DataFrame,
      terms: Seq[String], k: Int, fbK: Int = 10, expK: Int = 5,
      maxDf: Option[Long] = None): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    graft.text.TextIndex.searchBm25Rm3(
      spark, indexDir, corpus, "doc_id", "text", terms, k,
      fbK = fbK, expK = expK, maxDf = maxDf)
  }

  /** [[searchDocsExpanded]] with feedback text from the index's own
   *  forward docs leg — no corpus parameter (indexes ingested by this
   *  library version are self-contained for serving).
   */
  def searchDocsExpanded(indexDir: String, terms: Seq[String], k: Int,
      fbK: Int, expK: Int, maxDf: Option[Long]): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    graft.text.TextIndex.searchBm25Rm3(
      spark, indexDir, terms, k, fbK, expK, 500000L, maxDf)
  }

  /** Proximity second stage over [[searchDocs]] results: min-window
   *  rerank, candidate-grain cost (point lookup + positional sweep).
   */
  def rerankDocs(indexDir: String, corpus: DataFrame,
      terms: Seq[String], k: Int, maxDf: Option[Long] = None): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    val cands = graft.text.TextIndex
      .searchBm25(spark, indexDir, terms, k, maxDf)
      .select("doc_id", "score_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.text.TextOps.proximityRerank(
      corpus, "doc_id", "text", cands, terms)
  }

  /** Search with snippets: BM25 top-k plus the best matching token
   *  window (padded, clamped) sliced from each hit's text.
   */
  def searchDocsWithSnippets(indexDir: String, corpus: DataFrame,
      terms: Seq[String], k: Int, pad: Int = 2,
      maxDf: Option[Long] = None): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    val cands = graft.text.TextIndex
      .searchBm25(spark, indexDir, terms, k, maxDf)
      .select("rank", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.text.TextOps.searchSnippets(
      corpus, "doc_id", "text", cands, terms, pad)
  }

  /** Phrase search: candidate-then-verify over the inverted index
   *  (conjunctive posting candidates, token-boundary verify on a
   *  point lookup of `corpus`).
   */
  def searchDocsPhrase(indexDir: String, corpus: DataFrame,
      phrase: String, k: Int): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    graft.text.TextIndex.searchPhrase(
      spark, indexDir, corpus, "doc_id", "text", phrase, k)
  }

  /** [[searchDocsPhrase]] verifying from the index's own forward docs
   *  leg — no corpus parameter.
   */
  def searchDocsPhrase(indexDir: String, phrase: String, k: Int): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    graft.text.TextIndex.searchPhrase(spark, indexDir, phrase, k)
  }

  /** Positional phrase search from the index's pos leg — the uncapped
   *  path for stop-word-grade phrases (occurrences counted index-side,
   *  nothing driver-collected); requires positional ingest.
   */
  def searchDocsPhrasePositional(
      indexDir: String, phrase: String, k: Int): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    graft.text.TextIndex.searchPhrasePositional(spark, indexDir, phrase, k)
  }

  /** NEAR/w proximity search from the index's pos leg: docs whose
   *  minimal window containing ALL terms is at most `w` tokens, ranked
   *  by that window — first-stage proximity at index scale (no
   *  candidate cap, no corpus text); requires positional ingest.
   */
  def searchDocsNear(
      indexDir: String, terms: Seq[String], w: Int, k: Int): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    graft.text.TextIndex.searchNear(spark, indexDir, terms, w, k)
  }

  /** [[rerankDocs]] / [[searchDocsWithSnippets]] with candidate text
   *  from the index's own forward docs leg — no corpus parameter.
   */
  def rerankDocs(indexDir: String, terms: Seq[String], k: Int,
      maxDf: Option[Long]): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    val cands = graft.text.TextIndex
      .searchBm25(spark, indexDir, terms, k, maxDf)
      .select("doc_id", "score_ppm").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.text.TextOps.proximityRerank(
      graft.text.TextIndex.docsFor(spark, indexDir, cands.map(_._1)),
      "doc_id", "text", cands, terms)
  }

  def searchDocsWithSnippets(indexDir: String, terms: Seq[String],
      k: Int, pad: Int, maxDf: Option[Long]): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    val cands = graft.text.TextIndex
      .searchBm25(spark, indexDir, terms, k, maxDf)
      .select("rank", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.text.TextOps.searchSnippets(
      graft.text.TextIndex.docsFor(spark, indexDir, cands.map(_._2)),
      "doc_id", "text", cands, terms, pad)
  }

  /** Index observability: one-row health reports for the persisted
   *  retrieval tiers (text: shard/stat/vocab/posting folds; ANN: cell
   *  balance — the probe-latency amplification monitor).
   */
  def textIndexStats(indexDir: String): DataFrame = {
    numGets.incrementAndGet()
    graft.text.TextIndex.stats(spark, indexDir)
  }

  def annIndexStats(indexDir: String): DataFrame = {
    numGets.incrementAndGet()
    graft.sim.Similarity.ivfIndexStats(spark, indexDir)
  }

  /** Autocomplete: top-k indexed tokens by folded df for a prefix —
   *  served from the index's vocab legs alone.
   */
  def suggestDocs(indexDir: String, prefix: String, k: Int): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    graft.text.TextIndex.suggestPrefix(spark, indexDir, prefix, k)
  }

  /** "Did you mean": indexed tokens within edit distance `maxDist` of
   *  a (possibly misspelled) term, ranked (distance, df DESC, token).
   */
  def suggestDocsFuzzy(indexDir: String, term: String,
      maxDist: Int = 2, k: Int = 10): DataFrame = {
    require(k > 0, s"bad k: $k")
    numGets.incrementAndGet()
    graft.text.TextIndex.suggestFuzzy(spark, indexDir, term, maxDist, k)
  }

  /** Reverse search: match a (doc_id, text) batch against stored
   *  rules (saved searches / alerts). `rules` is (query_id, token)
   *  rows, registered-config-grain small; cost is one pass over the
   *  batch with the rules broadcast.
   */
  def percolateDocs(docs: DataFrame, rules: DataFrame,
      minMatch: Int = 0): DataFrame = {
    numGets.incrementAndGet()
    graft.text.TextOps.percolate(docs, "doc_id", "text", rules, minMatch)
  }

  /** Near-dup-check a (doc_id, text) batch against a persisted dedup
   *  index AND fold the batch in — the crawl-ingest front door
   *  (returns the (a_id, b_id, jaccard) verdict; `key` gives
   *  exactly-once, `persistPairs` makes the verdict readable back via
   *  the index's pair reports).
   */
  def checkAndIndexDocs(indexDir: String, docs: DataFrame,
      threshold: Double, key: Option[String] = None,
      persistPairs: Boolean = false): DataFrame = {
    numPuts.incrementAndGet()
    graft.dedup.Dedup.indexCheckAndIngest(
      spark, indexDir, docs, "doc_id", "text", threshold,
      deliveryKey = key, persistPairs = persistPairs)
  }

  /** S11 — the metrics loop's flush: ingest the engine's own counters
   *  as `index.num_puts` / `index.num_gets` series (loop.py:52-78).
   *  The timestamp is a parameter so tests stay deterministic.
   */
  def flushSelfMetrics(tsUs: Long): Unit = {
    import spark.implicits._
    val rows = Seq(
      ("index.num_puts", tsUs, numPuts.get().toDouble),
      ("index.num_gets", tsUs, numGets.get().toDouble))
      .toDF("dataset_id", "ts_us", "value")
    ManifestStore.ingestBatchAtomic(spark, root, rows): Unit
  }
}

object GraftApi {
  private val lastId = new AtomicLong(0L)

  /** Current epoch time in ns (µs clock resolution × 1000, like the
   *  reference's time_ns granularity on most platforms), made strictly
   *  monotonic per JVM via an atomic max-then-increment.
   */
  private def nextEpochNsId(): Long = {
    val now = java.time.Instant.now()
    val epochNs = now.getEpochSecond * 1000000000L + now.getNano
    lastId.updateAndGet(prev => math.max(prev + 1, epochNs))
  }
}
