package graft.store

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One index leg's declaration: its pinned on-disk schema and the
 *  hive partition column it MAY be written under (None = always a
 *  plain parquet dir). See [[IndexCore.read]] for why the layout
 *  decides the read shape.
 */
final case class IndexLeg(schema: StructType, partitionedBy: Option[String])
object IndexLeg {
  def apply(partitionedBy: Option[String],
      fields: (String, org.apache.spark.sql.types.DataType)*): IndexLeg =
    IndexLeg(StructType(fields.map { case (n, t) =>
      org.apache.spark.sql.types.StructField(n, t) }), partitionedBy)
}

/**
 * THE COMMIT-LOG LIFECYCLE — the one implementation every
 * manifest-governed dataset shares instead of hand-copying it: the
 * three persisted indexes (the text index, the MinHash dedup index and
 * the IVF index) and the rollup store ([[ManifestStore]], whose `r-`
 * raw commits are data entries like `c-`). The store uses the ledger,
 * layout, keyed publish, merge, clone and vacuum verbs in the object
 * below; the class adds what only the indexes need (legs, tombstones,
 * folds, retirement, fsck).
 *
 * Layout of an index dir: `_manifests/` holds the [[CommitLog]];
 * `data/<entry>/<leg>/` holds each live entry's legs. Ledger entries:
 *   - `c-<id>`: a data commit (ingest shard, append, fold output,
 *     merge, rewrite) — `c-k<digest>-<id>` when it stays addressable
 *     by delivery key;
 *   - `t-<id>`: a TOMBSTONE commit whose `gone` leg lists deleted ids
 *     (plus, in the text index, exact negative aggregate deltas);
 *   - `#txn:<key>` delivery keys, `#pin:<name>` replay leases and the
 *     `#fsck:<version>` verified watermark — ledger metadata, never a
 *     data dir.
 *
 * An index declares its legs once (name → [[IndexLeg]]) plus the id
 * column its tombstones carry; everything else here — leg reads, the
 * order-scoped tombstone read, the ledger verbs and the publish
 * protocols of ingest, fold, retirement and merge — is shared. What
 * an index keeps is what really differs: how its rows become leg
 * rows, its fold/rewrite bodies, its fsck checks and its search
 * paths.
 */
final class IndexCore(val idCol: String, legs: Map[String, IndexLeg]) {
  import IndexCore._

  /** A zero-row frame with the leg's schema — what a read over zero
   *  roots returns, so an index with no live commits answers an empty
   *  result instead of failing on an empty union.
   */
  def empty(spark: SparkSession, leg: String): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      legs(leg).schema)

  /** Read a leg at `paths` (leg dirs) with its pinned schema, so Spark
   *  skips the per-read footer-inference job. The declared layout
   *  picks the read shape:
   *   - a plain leg is ONE multi-root read — the cheapest plan;
   *   - a partitioned leg is read PER ROOT and unioned by name: Spark's
   *     partition-structure inference across several partitioned
   *     roots (or a mix of partitioned and plain roots — a rewrite
   *     whose rows all died writes its token-grain legs plain, since
   *     an empty partitionBy write leaves no readable file) throws
   *     CONFLICTING_DIRECTORY_STRUCTURES before the schema is even
   *     consulted. Each per-root read discovers one commit's own
   *     uniform layout; the partition column resolves by name either
   *     way.
   */
  def read(spark: SparkSession, leg: String, paths: Seq[String]): DataFrame =
    readEach(spark, leg, paths, identity)

  /** [[read]] with `perRoot` shaping each root's read (the IVF query's
   *  static cell filter, pushed into every per-commit branch).
   */
  private def readEach(spark: SparkSession, leg: String, paths: Seq[String],
      perRoot: DataFrame => DataFrame): DataFrame = {
    val l = legs(leg)
    if (paths.isEmpty) empty(spark, leg)
    else if (l.partitionedBy.isEmpty)
      perRoot(spark.read.schema(l.schema).parquet(paths: _*))
    else paths.map(p => perRoot(spark.read.schema(l.schema).parquet(p)))
      .reduce(_.unionByName(_))
  }

  /** The leg of one entry, if that entry wrote it. */
  def at(spark: SparkSession, dir: String, entry: String,
      leg: String): Option[DataFrame] = {
    val p = legPath(dir, entry, leg)
    Option.when(exists(spark, p))(read(spark, leg, Seq(p)))
  }

  /** Live data commits' `leg` dirs, in log order, that exist. */
  def liveRoots(spark: SparkSession, dir: String, leg: String): Seq[String] =
    live(spark, dir).filter(_.startsWith("c-"))
      .map(legPath(dir, _, leg)).filter(exists(spark, _))

  /** A leg across every live commit, tombstones NOT applied — for the
   *  aggregate legs (vocab, stats, centroids) that tombstones correct
   *  by delta or do not touch.
   */
  def readLive(spark: SparkSession, dir: String, leg: String): DataFrame =
    read(spark, leg, liveRoots(spark, dir, leg))

  /** True iff EVERY live commit carries `leg` (and one exists) — the
   *  uniformity probe behind optional-leg routing: a partial leg would
   *  silently answer from part of the index.
   */
  def onAllCommits(spark: SparkSession, dir: String, leg: String): Boolean = {
    val commits = live(spark, dir).filter(_.startsWith("c-"))
    commits.nonEmpty &&
      commits.forall(c => exists(spark, legPath(dir, c, leg)))
  }

  /** The gone ids of tombstone entries `tombs`, as one (idCol) frame. */
  def gone(spark: SparkSession, dir: String, tombs: Seq[String]): DataFrame =
    read(spark, "gone", tombs.map(legPath(dir, _, "gone"))).select(idCol)

  /** Live tombstoned-id count — fold-scheduler observability. */
  def tombstoneCount(spark: SparkSession, dir: String): Long = {
    val ts = live(spark, dir).filter(_.startsWith("t-"))
    if (ts.isEmpty) 0L else gone(spark, dir, ts).count()
  }

  /** ORDER-SCOPED TOMBSTONE READ: a leg across the live commits with
   *  deleted ids dropped. A tombstone covers exactly the commits that
   *  PRECEDE it in the log's insertion-ordered live list, so an id
   *  re-ingested AFTER its takedown (an upsert's add leg, a re-crawl,
   *  a re-embed) lands in a later commit and serves normally — a
   *  global gone set would silently kill the fresh rows too (the
   *  re-ingest "succeeds" but never answers). `idCols` names the
   *  column(s) carrying ids (a dedup pair report carries two). None
   *  when no live commit holds the leg; zero extra plan nodes when no
   *  tombstones are live.
   */
  def scoped(
      spark: SparkSession, dir: String, leg: String, idCols: Seq[String],
      perRoot: DataFrame => DataFrame): Option[DataFrame] =
    without(spark, leg, scopes(dir, live(spark, dir)), idCols, perRoot)

  /** Read `leg` from each `(commit dir, gone tombstone dirs)` root
   *  with ITS OWN tombstones' ids anti-joined away (roots lacking the
   *  leg are skipped). Roots group by tombstone set — at most
   *  (#tombstones + 1) broadcast anti-joins, each bounded because
   *  retirement and full folds consume tombstones. None when no root
   *  holds the leg.
   */
  def without(
      spark: SparkSession, leg: String, roots: Seq[(String, Seq[String])],
      idCols: Seq[String],
      perRoot: DataFrame => DataFrame): Option[DataFrame] = {
    val have = roots.filter(r => exists(spark, s"${r._1}/$leg"))
    Option.when(have.nonEmpty)(have.groupBy(_._2).toSeq.map {
      case (ts, rs) =>
        val base = readEach(spark, leg, rs.map(r => s"${r._1}/$leg"), perRoot)
        if (ts.isEmpty) base
        else {
          val g = read(spark, "gone", ts.map(t => s"$t/gone")).select(idCol)
          idCols.foldLeft(base)((d, c) =>
            d.join(broadcast(g.select(col(idCol).as(c))), Seq(c), "left_anti"))
        }
    }.reduce(_.unionByName(_)))
  }

  /** TIERED FOLD — the LSM compaction all three indexes share. Picks
   *  the inputs and publishes; `fold(inputs, tombs, dst)` writes the
   *  folded legs into the staged dir `dst` from `inputs` (commit dir,
   *  the tombstone dirs it must apply) — `tombs` are the tombstone
   *  dirs the fold retires (an index with aggregate legs folds their
   *  deltas in).
   *
   *  Tombstones fold away ONLY in a FULL fold (`fanIn` ≥ live commits),
   *  where each commit drops exactly its own subsequent tombstones' ids.
   *  A partial fold cannot know a gone id's rows all sit inside its
   *  inputs, so it folds the `fanIn` smallest commits of the longest
   *  run of consecutive commits with no tombstone between them,
   *  applying none — every commit keeps exactly its original
   *  tombstone coverage.
   *
   *  Atomicity rides the log: the staged output is invisible until the
   *  version-file create, `#txn:` keys and `#pin:` leases pass through
   *  untouched, and the publish is [[CommitLog.spliceReplace]] under
   *  [[CommitLog.unlessPinned]] — an input moved by a concurrent
   *  writer (or a pin raced in) aborts, and the staging is dropped
   *  (folding an already-folded input would double-count it).
   */
  def compactTiered(spark: SparkSession, dir: String, fanIn: Int, what: String)(
      fold: (Seq[(String, Seq[String])], Seq[String], String) => Unit): Unit = {
    requireUnpinned(spark, dir, what)
    val ordered = live(spark, dir).filter(isData)
    val all = ordered.filter(_.startsWith("c-"))
    val tombs = ordered.filter(_.startsWith("t-"))
    val full = fanIn >= all.size
    if (all.isEmpty || (all.size <= 1 && !(full && tombs.nonEmpty))) return
    val inputs: Seq[String] =
      if (full) all
      else {
        val runs = ordered.foldLeft(Seq(Seq.empty[String])) { (acc, e) =>
          if (e.startsWith("t-")) acc :+ Seq.empty
          else acc.init :+ (acc.last :+ e)
        }
        val run = runs.maxBy(_.size)
        if (run.size <= 1) return
        smallest(spark, dir, run, fanIn)
      }
    val retired = if (full) tombs else Seq.empty
    val name = entryName("c", None)
    fold(
      if (full) scopes(dir, ordered)
      else inputs.map(c => (dataDir(dir, c), Seq.empty[String])),
      retired.map(dataDir(dir, _)), dataDir(dir, name))
    val published = log(dir).commit(spark)(now => CommitLog.unlessPinned(now)(
      CommitLog.spliceReplace(now, inputs ++ retired, name)))
    if (!published) dropStaging(spark, dir, Seq(name))
  }

  /** TOMBSTONE-SCOPED RETIREMENT: retire the OLDEST live tombstone by
   *  rewriting IN PLACE only the covered commits that contain its
   *  ids. `rewrite(covered, gone)` stages the rewrites and returns
   *  old entry → new entry ("" = every row gone, drop the commit).
   *  Order-scoping already knows the covered set (every commit before
   *  the tombstone); commits after it — the live ingest frontier —
   *  are never rewritten. Each rewrite keeps its LOG POSITION, so
   *  every other tombstone's coverage is untouched. One atomic commit
   *  publishes the rewrites and the retirement ([[publishRewrites]]).
   *  Returns false when no tombstone is live.
   */
  def retireOldestTombstone(spark: SparkSession, dir: String, what: String)(
      rewrite: (Seq[String], DataFrame) => Map[String, String]): Boolean = {
    requireUnpinned(spark, dir, what)
    val snap = live(spark, dir).filter(isData)
    val tIdx = snap.indexWhere(_.startsWith("t-"))
    if (tIdx < 0) false
    else {
      val t = snap(tIdx)
      val rewrites = rewrite(snap.take(tIdx).filter(_.startsWith("c-")),
        broadcast(gone(spark, dir, Seq(t))))
      publishRewrites(spark, dir, snap, rewrites, drop = Set(t),
        append = Seq.empty, what = what)
      true
    }
  }

  /** The commits among `covered` holding any `gone` id — ONE probe
   *  job over all of them (a per-commit loop would pay one job's fixed
   *  overhead per commit). `ids(c)` gives commit c's id frames, each
   *  one `idCol` column.
   */
  def touched(covered: Seq[String], gone: DataFrame)(
      ids: String => Seq[DataFrame]): Set[String] = {
    val probes = covered.flatMap(c => ids(c).map(_.withColumn("cmt", lit(c))))
    if (probes.isEmpty) Set.empty
    else probes.reduce(_.unionByName(_))
      .join(gone, Seq(idCol), "left_semi")
      .select("cmt").distinct()
      .collect().map(_.getString(0)).toSet
  }

  /** ID-SET TOMBSTONE — the takedown of an index whose tombstones
   *  carry ids only (no aggregate deltas): ONE `t-` entry whose `gone`
   *  leg lists the distinct ids. A pure idempotent set — re-deleting a
   *  gone or never-ingested id is harmless and concurrent forgets
   *  compose — so no stale-abort is needed. A keyed takedown embeds
   *  the key digest in the tombstone's name, so [[goneForDelivery]]
   *  re-reads exactly the applied set; the `#txn:` key refuses a
   *  redelivery. `verb` names the caller in the size refusal.
   *  Cost: O(ids).
   */
  def forgetIds(spark: SparkSession, dir: String, ids: Seq[Long],
      key: Option[String], verb: String): Unit = {
    require(ids.nonEmpty && ids.length <= 1000000,
      s"$verb takes 1..1000000 ids per call (got ${ids.length})")
    val txn = freshTxn(spark, dir, key, "delete")
    val name = entryName("t", key)
    import spark.implicits._
    ids.distinct.toDF(idCol)
      .coalesce(1).write.parquet(legPath(dir, name, "gone"))
    publishAppend(spark, dir, name, txn, "delete")
  }

  /** ONE keyed takedown's applied gone set, addressed by the key
   *  digest in its tombstone's name — the replay-stable record a
   *  multi-index takedown re-reads instead of re-deriving a drifted id
   *  set. Loud if the key never delivered or a retirement / full fold
   *  already consumed its tombstone.
   */
  def goneForDelivery(spark: SparkSession, dir: String, key: String): DataFrame = {
    val entries = live(spark, dir)
    require(entries.contains(CommitLog.txnEntry(key)),
      s"no takedown with delivery key $key in $dir")
    val matches =
      entries.filter(_.startsWith(s"t-k${CommitLog.keyDigest(key)}-"))
    require(matches.nonEmpty,
      s"the tombstone of delivery key $key in $dir is not addressable " +
        "by key digest — a retirement or full fold already consumed it " +
        "(key-grain gone reads must happen before the tombstone " +
        "retires), or it predates keyed tombstone naming")
    gone(spark, dir, matches.take(1))
  }

  /** INCREMENTAL-fsck scaffold: `checks` runs the index's commit-local
   *  checks over the entries that appeared after the verified
   *  watermark and returns its report rows plus the ids those entries
   *  ADDED (as `doc_id`, materialized); the TOMBSTONED ids are
   *  collected here. None when the incremental premise fails (no
   *  watermark, its version vacuumed, or a fold/retirement consumed a
   *  verified entry — see [[CommitLog.fsckFreshEntries]]): run the
   *  full battery and republish instead.
   */
  def fsckIncremental(spark: SparkSession, dir: String)(
      checks: Fresh => (Seq[(String, Long, Long)], DataFrame)): Option[FsckScope] =
    log(dir).fsckFreshEntries(spark).map { case (vNow, entries) =>
      val f = new Fresh(spark, dir, entries)
      val (rows, added) = checks(f)
      FsckScope(vNow, rows, added,
        f.gone.map(_.select(col(idCol).as("doc_id")).distinct()
          .localCheckpoint(true)).getOrElse(emptyIds(spark)))
    }

  /** The fresh entries of one incremental fsck. */
  final class Fresh(spark: SparkSession, dir: String, entries: Seq[String]) {
    val commits: Seq[String] = entries.filter(_.startsWith("c-"))
    val tombs: Seq[String] = entries.filter(_.startsWith("t-"))

    /** True iff fresh entry `e` wrote `leg`. */
    def has(e: String, leg: String): Boolean =
      exists(spark, legPath(dir, e, leg))

    /** `leg` across entries `es`, each row tagged with its entry in a
     *  `cmt` column — the grain commit-local checks group by. None when
     *  no entry wrote the leg.
     */
    def tagged(es: Seq[String], leg: String): Option[DataFrame] = {
      val dfs = es.filter(has(_, leg)).map(e =>
        read(spark, leg, Seq(legPath(dir, e, leg))).withColumn("cmt", lit(e)))
      Option.when(dfs.nonEmpty)(dfs.reduce(_.unionByName(_)))
    }

    lazy val gone: Option[DataFrame] = tagged(tombs, "gone")

    /** `tomb_wellformed`: duplicate gone ids within a tombstone, plus
     *  whatever `extra` counts over the tagged gone rows; audited =
     *  distinct (tombstone, id) pairs.
     */
    def tombRow(extra: DataFrame => Long): (String, Long, Long) = gone match {
      case None => ("tomb_wellformed", 0L, 0L)
      case Some(g) =>
        val r = g.groupBy("cmt", idCol).agg(count(lit(1)).as("m"))
          .agg(isViol(col("m") > 1).as("viol"),
            count(lit(1)).as("aud")).head()
        ("tomb_wellformed", r.getLong(0) + extra(g), r.getLong(1))
    }
  }
}

object IndexCore {

  def manifestDir(dir: String): String = s"$dir/_manifests"
  def log(dir: String): CommitLog = new CommitLog(manifestDir(dir))
  def dataDir(dir: String, entry: String): String = s"$dir/data/$entry"
  def legPath(dir: String, entry: String, leg: String): String =
    s"$dir/data/$entry/$leg"

  def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Data entries (commits and tombstones), the ones reads and folds
   *  order by.
   */
  def isData(e: String): Boolean = e.startsWith("c-") || e.startsWith("t-")

  /** Each live commit's dir with the dirs of the tombstones AFTER it
   *  in `entries` — the order-scoped coverage every tombstone-applying
   *  read and fold uses.
   */
  def scopes(dir: String, entries: Seq[String]): Seq[(String, Seq[String])] = {
    val ordered = entries.filter(isData)
    ordered.zipWithIndex.filter(_._1.startsWith("c-")).map { case (c, i) =>
      (dataDir(dir, c),
        ordered.drop(i + 1).filter(_.startsWith("t-")).map(dataDir(dir, _)))
    }
  }

  /** A fresh staging entry name: `<prefix>-k<key digest>-<rand>` when
   *  `keyed` (the entry stays addressable by delivery key; the random
   *  suffix keeps concurrent redelivery attempts in distinct dirs, so
   *  a loser's cleanup never touches committed data), else
   *  `<prefix>-<rand>`.
   */
  def entryName(prefix: String, keyed: Option[String]): String = {
    val u = java.util.UUID.randomUUID().toString
    keyed match {
      case Some(k) => s"$prefix-k${CommitLog.keyDigest(k)}-${u.take(8)}"
      case None => s"$prefix-${u.take(12)}"
    }
  }

  /** The name of an in-place rewrite of commit `c`: a keyed commit
   *  keeps its key-digest prefix so batch-grain addressing survives.
   */
  def rewriteName(c: String): String =
    (if (c.matches("c-k[0-9a-f]{16}-.*")) c.substring(0, 19) else "c") +
      s"-${java.util.UUID.randomUUID().toString.take(12)}"

  /** SIZE-TIERED selection: the `fanIn` (at least 2) smallest of
   *  `entries` by data-dir bytes — one driver-side listing per entry,
   *  no data read; all of `entries`, in log order, when `fanIn` covers
   *  them.
   */
  def smallest(spark: SparkSession, dir: String, entries: Seq[String],
      fanIn: Int): Seq[String] =
    if (fanIn >= entries.size) entries
    else {
      val conf = spark.sessionState.newHadoopConf()
      entries.map { c =>
        val p = new Path(dataDir(dir, c))
        val fs = p.getFileSystem(conf)
        (c, if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L)
      }.sortBy(_._2).take(math.max(2, fanIn)).map(_._1)
    }

  /** Stage ONE fresh `c-` entry in `dir` for [[IndexCore.mergeFrom]]:
   *  `write` fills its data dir.
   */
  def stageCommit[T](dir: String)(write: String => T): (Seq[String], T) = {
    val name = entryName("c", None)
    (Seq(name), write(dataDir(dir, name)))
  }

  /** Delete staged entry dirs an aborted publish left behind. */
  def dropStaging(spark: SparkSession, dir: String, names: Seq[String]): Unit =
    names.foreach { n =>
      val p = new Path(dataDir(dir, n))
      p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true): Unit
    }

  /** The `#txn:` entry of an optional delivery key, refused loudly when
   *  the log already holds it — the cheap up-front probe before any
   *  staging work (the in-commit check of [[publishAppend]] still
   *  closes the race with a concurrent redelivery). `what` names the
   *  operation: "delete" for takedowns, else the ingested unit.
   */
  def freshTxn(spark: SparkSession, dir: String, key: Option[String],
      what: String): Option[String] = {
    val txn = key.map(CommitLog.txnEntry)
    txn.foreach { t =>
      require(!live(spark, dir).contains(t),
        if (what == "delete")
          s"delete with delivery key ${key.get} was already applied to " +
            s"$dir — redelivery rejected (deletion is exactly-once)"
        else
          s"$what with delivery key ${key.get} was already ingested into " +
            s"$dir — redelivery rejected (the index is exactly-once)")
    }
    txn
  }

  /** KEYED APPEND publish: the staged entries `names` plus `keys` go
   *  live with one version-file create, so a crash mid-stage leaves an
   *  invisible orphan, never a torn dataset. A key already live (a
   *  raced or repeated delivery) aborts the publish: the staging is
   *  dropped and the result is false.
   */
  def publish(spark: SparkSession, dir: String, names: Seq[String],
      keys: Seq[String]): Boolean = {
    val published = log(dir).commit(spark)(now =>
      if (keys.exists(now.contains)) None else Some(now :++ names :++ keys))
    if (!published) dropStaging(spark, dir, names)
    published
  }

  /** [[publish]] of one entry under an optional `#txn:` entry, loud: a
   *  lost race with a concurrent redelivery fails naming `what` (the
   *  published unit).
   */
  def publishAppend(spark: SparkSession, dir: String, name: String,
      txn: Option[String], what: String): Unit =
    require(publish(spark, dir, Seq(name), txn.toSeq),
      s"$what with delivery key ${txn.get.stripPrefix(CommitLog.TxnPrefix)} " +
        s"raced a concurrent redelivery into $dir — this attempt's " +
        "staging was dropped")

  /** FEDERATED MERGE preamble and publish: fold ANOTHER dataset's
   *  live data entries (every non-`#`, non-`t-` entry) into this one
   *  under ONE version. `stage(srcEntries)` stages the merged entries
   *  in this dir and returns their names with its result. The source
   *  is read-only; it must carry no live tombstones (a merge
   *  concatenates and cannot carry pending deletions). Exactly-once
   *  composes: the source's `#txn:` keys plus its
   *  [[CommitLog.sourceIdentity]] marker (keyless sources re-merged
   *  twice refuse too) and the merge's own `key` ride into the
   *  destination's log, and a merge whose keys already live there is
   *  refused. A source entry that vanished (a concurrent source-side
   *  compact + vacuum) aborts before staging; a lost publish drops
   *  the staging and both datasets stand.
   */
  def mergeFrom[T](spark: SparkSession, dstDir: String, srcDir: String,
      key: Option[String])(stage: Seq[String] => (Seq[String], T)): T = {
    val (srcV, srcLive) = log(srcDir).latest(spark)
    require(!srcLive.exists(_.startsWith("t-")),
      s"source index $srcDir has live tombstones — fully compact it " +
        "first (a merge folds commit legs by concatenation and cannot " +
        "carry another index's pending deletions)")
    val srcData = srcLive.filterNot(_.startsWith("#"))
    require(srcData.nonEmpty, s"nothing to merge: $srcDir has no live commits")
    val keys = srcLive.filter(CommitLog.isTxn) ++
      Seq(CommitLog.sourceIdentity(srcV, srcLive)) ++
      key.map(CommitLog.txnEntry)
    val dstNow = live(spark, dstDir).toSet
    keys.foreach { t =>
      require(!dstNow.contains(t),
        s"merge of $srcDir into $dstDir rejected: delivery key " +
          s"${t.stripPrefix(CommitLog.TxnPrefix)} already lives in the " +
          "destination — its data is already folded here (merging again " +
          "would count it twice)")
    }
    srcData.foreach { d =>
      require(exists(spark, dataDir(srcDir, d)),
        s"source commit $d vanished mid-merge (concurrent vacuum?) — " +
          "re-read the source and retry")
    }
    val (names, out) = stage(srcData)
    require(publish(spark, dstDir, names, keys),
      s"merge of $srcDir into $dstDir raced a concurrent writer that " +
        "committed one of its delivery keys — this attempt's staging " +
        "was dropped")
    out
  }

  /** The two ledger sub-keys a two-leg verb fans a delivery key out
   *  to: (`<key>.del` for its delete leg, `<key>.add` for its add leg).
   */
  def upsertKeys(key: String): (String, String) = (s"$key.del", s"$key.add")

  /** UPSERT — the two-commit replace every index shares: up to 65536
   *  ids' content replaced in place by one delete leg (`del`: a
   *  tombstone retiring the old rows) followed by one add leg (`add`:
   *  an ordinary ingest of the new rows). `rows` is the caller's
   *  projected frame, id column `id` (long); it is materialized ONCE
   *  and feeds both legs — a nondeterministic source evaluated twice
   *  could delete ids it never re-adds. Order-scoped tombstones make
   *  the re-added generation serve immediately.
   *
   *  Exactly-once across the two commits: `key` fans out to
   *  [[upsertKeys]] and each leg short-circuits on its own committed
   *  key — a crash between the legs replays with the delete leg a
   *  no-op and the add leg completing; a full redelivery is a
   *  version-preserving no-op answering `replayed(addKey)`. The delete
   *  leg skips on an index with no live commit (the first upsert is a
   *  plain founding add) and ALSO once the add leg committed: a
   *  founding upsert never ledgers its delete key, so a redelivery
   *  would otherwise tombstone the generation it founded.
   */
  def upsert[T](spark: SparkSession, dir: String, rows: DataFrame,
      id: String, key: Option[String], verb: String)(
      del: (Seq[Long], Option[String]) => Unit,
      add: (DataFrame, Option[String]) => T,
      replayed: String => T): T = {
    val snap = rows.persist()
    try {
      val ids = snap.select(col(id)).distinct()
        .limit(65537).collect().map(_.getLong(0)).toSeq
      require(ids.nonEmpty && ids.length <= 65536,
        s"$verb takes 1..65536 distinct ids per call " +
          s"(got ${ids.length}); batch larger waves")
      val (delKey, addKey) = key.map(upsertKeys).unzip
      val delivered = (k: Option[String]) => k.exists(hasDelivery(spark, dir, _))
      if (live(spark, dir).exists(_.startsWith("c-")) &&
          !delivered(delKey) && !delivered(addKey))
        del(ids, delKey)
      if (delivered(addKey)) replayed(addKey.get) else add(snap, addKey)
    } finally snap.unpersist(): Unit
  }

  /** Publish in-place rewrites atomically: each old → new mapping is
   *  applied AT ITS LOG POSITION ("" drops the entry), `drop` entries
   *  leave, `append` entries are added. Aborts when the live c-/t- set
   *  moved from `snap` or a pin raced in; the staged rewrites are
   *  dropped and the call throws IllegalStateException (re-run against
   *  the new live set).
   */
  def publishRewrites(spark: SparkSession, dir: String, snap: Seq[String],
      rewrites: Map[String, String], drop: Set[String],
      append: Seq[String], what: String): Unit = {
    val published = log(dir).commit(spark) { now =>
      if (now.filter(isData) != snap) None
      else CommitLog.unlessPinned(now)(Some(now.flatMap { e =>
        if (drop.contains(e)) Seq.empty
        else rewrites.get(e) match {
          case Some("") => Seq.empty
          case Some(n) => Seq(n)
          case None => Seq(e)
        }
      } :++ append))
    }
    if (!published) {
      dropStaging(spark, dir, rewrites.values.filter(_.nonEmpty).toSeq)
      throw new IllegalStateException(
        s"$what raced a concurrent writer at $dir — " +
          "staging dropped; re-run against the new live set")
    }
  }

  /** Violation counter over a boolean column; coalesced because a sum
   *  over ZERO rows is null and a degenerate-but-legal universe (every
   *  id tombstoned) must report (0, 0), not NPE.
   */
  def isViol(c: Column): Column =
    coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))

  def emptyIds(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[Long].toDF("doc_id")
  }

  // ---- ledger verbs ----

  /** The index's live ledger entries. */
  def live(spark: SparkSession, dir: String): Seq[String] =
    log(dir).latest(spark)._2

  /** One ledger snapshot (version, live entries) — serves the delivery
   *  probe and the founded probe with one log resolution.
   */
  def ledger(spark: SparkSession, dir: String): (Long, Seq[String]) =
    log(dir).latest(spark)

  /** Latest published version (0 = never written). Read it BEFORE a
   *  full fsck battery so the published watermark never covers entries
   *  the battery didn't see.
   */
  def version(spark: SparkSession, dir: String): Long = log(dir).latest(spark)._1

  /** True iff a delivery with this key is already committed — the
   *  cheap up-front probe a consumer makes before paying an ingest's
   *  staging cost; a crash-recovered micro-batch re-arriving with the
   *  same key turns into a no-op instead of an exception.
   */
  def hasDelivery(spark: SparkSession, dir: String, key: String): Boolean =
    live(spark, dir).contains(CommitLog.txnEntry(key))

  /** Ledger a delivery key with NO data commit — for composite verbs
   *  that must mark completion WITHOUT re-evaluating their predicate
   *  (an index that moved since the verb's one resolution would
   *  resolve differently, and acting on that in only one index leaves
   *  a permanent cross-index divergence). Idempotent.
   */
  def ledgerDelivery(spark: SparkSession, dir: String, key: String): Unit = {
    val t = CommitLog.txnEntry(key)
    log(dir).commit(spark)(now =>
      if (now.contains(t)) None else Some(now :+ t)): Unit
  }

  /** REPLAY PIN (mid-replay lease, see [[CommitLog.PinPrefix]]): while
   *  any pin is live, folds, tombstone retirement and whole-index
   *  rebuilds refuse loudly; ingest, forget, upsert and reads stay
   *  allowed. Idempotent both ways.
   */
  def pin(spark: SparkSession, dir: String, name: String): Unit =
    log(dir).pin(spark, name)
  def unpin(spark: SparkSession, dir: String, name: String): Unit =
    log(dir).unpin(spark, name)
  def pins(spark: SparkSession, dir: String): Seq[String] =
    log(dir).pins(spark)

  /** The loud half of the pin contract: IllegalStateException (the
   *  "re-run later" class opportunistic maintainers defer and count)
   *  when a lease is live.
   */
  def requireUnpinned(spark: SparkSession, dir: String, what: String): Unit =
    log(dir).requireUnpinned(spark, s"$what on $dir")

  /** Publish/advance the fsck verified watermark (see
   *  [[CommitLog.FsckPrefix]]); pass the [[version]] read BEFORE the
   *  battery.
   */
  def publishFsckWatermark(spark: SparkSession, dir: String, v: Long): Unit =
    log(dir).publishFsckWatermark(spark, v)

  /** ZERO-COPY BRANCH as of a published version ([[CommitLog.cloneAsOf]]):
   *  data hard-links, the as-of live set (delivery keys included)
   *  becomes the branch's first version, and the two indexes diverge
   *  independently — a commit folded before the branch point still
   *  rejects redelivery on the branch.
   */
  def cloneAsOf(spark: SparkSession, srcDir: String, dstDir: String,
      version: Long): Unit =
    log(srcDir).cloneAsOf(spark, s"$srcDir/data", s"$dstDir/data",
      log(dstDir), version)

  /** Bound the MANIFEST history alone ([[CommitLog.vacuumVersions]]):
   *  version files only — the live set, data dirs and delivery keys
   *  are untouched, so this is safe to run continuously (the streaming
   *  maintainers call it per batch when asked).
   */
  def vacuumManifest(spark: SparkSession, dir: String, keep: Int): Unit =
    log(dir).vacuumVersions(spark, keep)

  /** Reclaim data dirs the LATEST version no longer references
   *  (superseded by folds, retirements, rebuilds) and older than
   *  `minAgeMs`. Run once in-flight readers of older snapshots drain —
   *  afterwards an as-of read of a superseded version fails loudly,
   *  never partially. The age floor is what makes an unattended vacuum
   *  safe against writers that have staged a dir but not yet published
   *  it and readers still resolving a superseded snapshot (both live
   *  in a bounded window; 0 = everything is known drained).
   *  `keepVersions` also bounds the manifest history
   *  ([[vacuumManifest]]).
   */
  def vacuum(spark: SparkSession, dir: String, minAgeMs: Long = 0L,
      keepVersions: Int = Int.MaxValue): Unit = {
    val entries = live(spark, dir).toSet
    val dd = new Path(s"$dir/data")
    val fs = dd.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(dd)) {
      val cutoff = System.currentTimeMillis() - minAgeMs
      fs.listStatus(dd)
        .filter(st => !entries.contains(st.getPath.getName) &&
          st.getModificationTime <= cutoff)
        .foreach(st => fs.delete(st.getPath, true): Unit)
      if (keepVersions != Int.MaxValue) vacuumManifest(spark, dir, keepVersions)
    }
  }
}
