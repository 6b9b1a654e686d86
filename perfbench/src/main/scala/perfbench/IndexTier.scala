package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame

import graft.api.GraftApi

object IndexTier {
  val Vocab = 5000          // Zipf vocabulary size
  val BatchDocs = 20        // docs per ingest batch
  val Dim = 16
  val Clusters = 20
  val CentroidStep = 50L    // IVF centroids: every 50th vector
  val K = 10
  /** Mean ANN recall@10 below this fails the correctness gate. */
  val RecallFloor = 0.6
  val Planted = "zzplanted"

  /** Plain-Scala BM25 over the docs ingested so far: the engine's
   *  scoring (k1 = 1.2, b = 0.75, per-term ppm rounding) recomputed from
   *  the generated texts.
   */
  final class Bm25 {
    private val tf = mutable.HashMap.empty[String, mutable.HashMap[Long, Int]]
    private val dl = mutable.HashMap.empty[Long, Int]
    private var tl = 0L

    def add(id: Long, text: String): Unit = {
      val toks = text.split(" ", -1).filter(_.nonEmpty)
      dl(id) = toks.length
      tl += toks.length
      toks.groupBy(identity).foreach { case (t, xs) =>
        tf.getOrElseUpdate(t, mutable.HashMap.empty)(id) = xs.length
      }
    }

    private def round(x: Double): Long =
      BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

    /** Top-k (doc_id, score_ppm) by score desc, doc id asc. */
    def top(terms: Seq[String], k: Int): Seq[(Long, Long)] = {
      val nd = dl.size
      val avgdl = tl.toDouble / nd
      val scores = mutable.HashMap.empty[Long, Long].withDefaultValue(0L)
      for (t <- terms.distinct; post <- tf.get(t)) {
        val df = post.size
        val idf = math.round(math.log((nd - df + 0.5) / (df + 0.5) + 1.0) * 1e6)
        for ((d, f) <- post)
          scores(d) += round(1.0 * idf.toDouble * (f * 2.2) /
            (f + 1.2 * (0.25 + 0.75 * dl(d) / avgdl)))
      }
      scores.toSeq.sortBy { case (d, s) => (-s, d) }.take(k)
    }
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var (dot, na, nb) = (0.0, 0.0, 0.0)
    for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
    dot / math.sqrt(na * nb)
  }
}

/**
 * The persisted index tier (`graft.text`, `graft.dedup`, `graft.sim`)
 * as one workload sees it: a seeded Zipfian corpus with one planted
 * unique term, its text index, and optionally a dedup index and an IVF
 * index over seeded clustered vectors. Every op goes through
 * [[GraftApi]] and is checked against a plain-Scala recomputation.
 */
final class IndexTier(ctx: Ctx, docs: Int, vectors: Int, dedup: Boolean) {
  import IndexTier._
  private val spark = ctx.spark
  private val zipf = new Gen.Zipf(Vocab)
  private val centres = Gen.centres(ctx.seed, Clusters, Dim)
  val plantedId: Long = ctx.seed.abs % docs
  private val corpus: IndexedSeq[String] = {
    val r = Gen.rng(ctx.seed, 30)
    IndexedSeq.tabulate(docs) { i =>
      val d = Gen.doc(r, zipf)
      if (i == plantedId) s"$d $Planted" else d
    }
  }
  private val vecs: IndexedSeq[Array[Double]] = {
    val r = Gen.rng(ctx.seed, 31)
    IndexedSeq.fill(vectors)(Gen.vector(r, centres))
  }
  private var api: GraftApi = _
  private var textIdx, dedupIdx, annIdx: String = _
  private val bm25 = new Bm25
  private var nextDoc = 0L
  private def tr = ctx.tracer
  val recalls = mutable.ArrayBuffer.empty[Double]
  val ingestRates = mutable.ArrayBuffer.empty[Double]
  val searchJobs = mutable.ArrayBuffer.empty[Double]
  var meter: EngineMeter = _

  private def docsDf(ds: Seq[(Long, String)]): DataFrame = {
    import spark.implicits._
    ds.toDF("doc_id", "text")
  }

  /** Build the indexes under `base` (fresh), through `api`. */
  def build(api: GraftApi, base: String): Unit = {
    this.api = api
    textIdx = ctx.fresh(s"$base/text")
    dedupIdx = ctx.fresh(s"$base/dedup")
    annIdx = ctx.fresh(s"$base/ann")
    val ds = corpus.indices.map(i => (i.toLong, corpus(i)))
    ds.foreach { case (i, t) => bm25.add(i, t) }
    nextDoc = docs
    val df = docsDf(ds)
    Main.stage("text index")(api.indexDocs(textIdx, df, key = Some("s0")))
    if (dedup) Main.stage("dedup index")(api.checkAndIndexDocs(dedupIdx, df, 0.8, key = Some("s0")).collect())
    if (vectors > 0) {
      import spark.implicits._
      graft.sim.Similarity.ivfIndexBuild(spark, annIdx,
        vecs.indices.map(i => (i.toLong, vecs(i))).toDF("vec_id", "v"), CentroidStep)
    }
  }

  /** BM25 top-10 for 1–3 Zipf-drawn terms, or the planted term; the
   *  planted check is filed as a `check` op, outside the read median.
   */
  def search(i: Long, planted: Boolean): Unit = {
    val r = Gen.rng(ctx.seed, 32, i)
    val terms =
      if (planted) Seq(Planted)
      else Seq.fill(1 + r.nextInt(3))(Gen.word(zipf.draw(r))).distinct
    val led = ctx.led
    val jobs0 = if (meter != null) meter.jobs else 0L
    val (name, kind) = if (planted) ("planted_search", "check") else ("doc_search", "read")
    led.op(name, kind)(tr.span("text.search") {
      val df = tr.span("text.search_plan")(api.searchDocs(textIdx, terms, K))
      tr.span("text.search_exec")(df.collect())
    }).foreach { rows =>
      if (meter != null) {
        org.apache.spark.perfbench.Bus.drain(spark)
        searchJobs += (meter.jobs - jobs0).toDouble
      }
      val got = rows.toSeq.sortBy(_.getLong(0)).map(r => (r.getLong(1), r.getLong(2)))
      val want = bm25.top(terms, K)
      led.check(got == want, s"bm25 $terms: $got, want $want")
      if (planted)
        led.check(got.headOption.map(_._1).contains(plantedId),
          s"planted doc $plantedId not ranked first for $terms: $got")
    }
  }

  /** Fold a batch of new docs (one an exact copy of an indexed doc) into
   *  the text index, and when `check` also through the dedup index's
   *  check-and-ingest, whose verdict must pair the copy. Both are filed
   *  as `index` ops: they take seconds where the telemetry writes take
   *  hundreds of ms, and would split the write median in two.
   */
  def ingest(i: Long, check: Boolean): Unit = {
    val r = Gen.rng(ctx.seed, 33, i)
    val fresh = Seq.fill(BatchDocs - 1) { nextDoc += 1; (nextDoc - 1, Gen.doc(r, zipf)) }
    val orig = r.nextInt(docs).toLong
    val copy = (nextDoc, corpus(orig.toInt))
    nextDoc += 1
    val batch = fresh :+ copy
    val df = docsDf(batch)
    val led = ctx.led
    val t0 = System.nanoTime()
    led.op("doc_ingest", "index")(tr.span("text.ingest")(api.indexDocs(textIdx, df, key = Some(s"b$i"))))
      .foreach { _ =>
        ingestRates += batch.size / ((System.nanoTime() - t0) / 1e9)
        batch.foreach { case (id, t) => bm25.add(id, t) }
      }
    if (check && dedup) led.op("dedup_check", "index")(tr.span("dedup.check") {
      api.checkAndIndexDocs(dedupIdx, df, 0.8, key = Some(s"b$i")).collect()
    }).foreach { pairs =>
      val ps = pairs.map(p => (p.getLong(0), p.getLong(1))).toSet
      led.check(ps.contains((orig, copy._1)) || ps.contains((copy._1, orig)),
        s"dedup verdict misses exact copy ($orig, ${copy._1}): $ps")
    }
  }

  /** IVF top-10 of one query vector; recall against brute force. */
  def ann(i: Long): Unit = {
    val r = Gen.rng(ctx.seed, 34, i)
    val q = Gen.vector(r, centres)
    import spark.implicits._
    ctx.led.read("ann")(tr.span("sim.query") {
      api.annQuery(annIdx, Seq((-1L - math.abs(i), q)).toDF("vec_id", "v"), K).collect()
    }).foreach { rows =>
      val got = rows.map(_.getLong(1)).toSet
      val want = vecs.indices.sortBy(j => (-cosine(q, vecs(j)), j)).take(K).map(_.toLong)
      recalls += want.count(got.contains).toDouble / K
    }
  }

  /** The recall gate, applied once the timed phase ends. */
  def checkRecall(): Unit = if (vectors > 0) {
    val mean = if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size
    ctx.led.check(recalls.nonEmpty && mean >= RecallFloor,
      f"ANN recall@10 $mean%.3f over ${recalls.size} queries is below the floor $RecallFloor")
  }

  def startTrace(m: EngineMeter): Unit = {
    meter = m; recalls.clear(); ingestRates.clear(); searchJobs.clear()
  }

  def perLayer: Seq[Metric] = {
    val led = ctx.led
    Seq(
      Metric("text.search_plan_ms_p50", Stats.medianOr0(tr.durationsMs("text.search_plan")), "ms"),
      Metric("text.search_exec_ms_p50", Stats.medianOr0(tr.durationsMs("text.search_exec")), "ms"),
      Metric("text.jobs_per_search", Stats.medianOr0(searchJobs.toSeq), "count"),
      Metric("text.ingest_ms_p50", Stats.medianOr0(led.of("doc_ingest")), "ms"),
      Metric("text.ingest_docs_per_s", Stats.medianOr0(ingestRates.toSeq), "1/s"),
      Metric("text.live_commits_end", graft.text.TextIndex.liveShardCount(spark, textIdx).toDouble, "count"),
      Metric("dedup.check_ms_p50", Stats.medianOr0(led.of("dedup_check")), "ms"),
      Metric("sim.query_ms_p50", Stats.medianOr0(led.of("ann")), "ms"),
      Metric("sim.recall_at_10", if (recalls.isEmpty) 0.0 else recalls.sum / recalls.size, "share"))
  }
}
