package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/**
 * The manifest store's commit protocol, factored out so every
 * manifest-governed dataset (the rollup/raw store, the persisted dedup
 * index) shares ONE implementation of atomic visibility instead of
 * re-deriving it: a version file `v<N>` lists the live entries; writers
 * publish the next version with an atomic create-exclusive (hard-link
 * publish on POSIX, rename-no-replace on HDFS, a conditional PUT on
 * S3 — a lost race FAILS LOUDLY instead of silently replacing the
 * other writer's manifest, see [[publishExclusive]]) and losers
 * re-read and retry. See ManifestStore's scaladoc for the full design
 * discussion; semantics here are identical.
 *
 * PROTOCOL INVARIANT — versions are DENSE: every publish is exactly
 * latest+1 through create-exclusive, so the version sequence has no
 * gaps above the retention floor. [[latest]] exploits this (hint +
 * forward existence probes instead of an O(history) listing); writing
 * a gapped version file by hand is out of contract.
 */
object CommitLog {
  /** Ledger prefix of a REPLAY PIN — the lease that turns the
   *  mid-replay contract ("no folds or tombstone retirements on an
   *  index a pipeline may be mid-replay on") from documentation into
   *  mechanism. A pipeline registers a pin before work whose replay
   *  stability depends on the log's commit layout (the crawl/RAG
   *  pipelines' `indexKnownIds` membership cut, `indexPairsForDelivery`
   *  readback); while ANY pin is live, the destructive consumers —
   *  compaction folds, tombstone retirement, direct rebuild/re-train —
   *  REFUSE loudly instead of silently flipping a replayed batch's
   *  fresh/re-fetch split. The pin is itself a ledger entry, so it
   *  survives restart, rides through folds' splices untouched, and is
   *  released with one [[CommitLog.unpin]] commit. Ingest, appends,
   *  forgets, upserts, and every read path remain allowed — a pin
   *  blocks only the operations that consume or reposition existing
   *  keyed commits/tombstones.
   */
  val PinPrefix = "#pin:"

  /** Ledger prefix of the fsck VERIFIED WATERMARK — `#fsck:<version>`
   *  records that a full (or incremental) integrity battery read the
   *  log at `<version>` and found zero violations. A later SCOPED
   *  fsck verifies only the entries that appeared after that version
   *  instead of recounting the whole index — the affordable scheduled
   *  posture at 100 TB, where a full recount per check is not. Rides
   *  the same `#`-metadata convention as `#txn:`/`#pin:` entries: it
   *  is ledger metadata, never a data dir, survives restarts, and
   *  passes through compaction splices untouched (a splice that
   *  REMOVES verified entries invalidates the incremental premise —
   *  the scoped check detects exactly that and demands a full run).
   */
  val FsckPrefix = "#fsck:"

  /** In-commit pin guard shared by every destructive publish closure:
   *  abort (None) when a replay pin raced in between the caller's
   *  entry check and its publish — the one place the guard lives, so
   *  a new destructive verb cannot forget it.
   */
  def unlessPinned(now: Seq[String])(
      body: => Option[Seq[String]]): Option[Seq[String]] =
    if (now.exists(_.startsWith(PinPrefix))) None else body

  /** The 16-hex key digest keyed commit/tombstone dir names embed
   *  (`c-k<digest>-`/`t-k<digest>-`) so batch-grain artifacts stay
   *  addressable by delivery key — shared by the dedup and IVF
   *  indexes.
   */
  def keyDigest(key: String): String =
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(16)

  /** Ledger prefix of a DELIVERY KEY: `#txn:<key>` lines ride the
   *  same atomically-published version file as the data they guard and
   *  pass through folds untouched, so a duplicate check can never race
   *  or be garbage-collected away from a redelivery.
   */
  val TxnPrefix = "#txn:"

  /** True iff ledger entry `e` is a delivery key. */
  def isTxn(e: String): Boolean = e.startsWith(TxnPrefix)

  /** The `#txn:` ledger entry of a delivery key — the ONE validity
   *  check every keyed verb shares: a key must be non-empty and carry
   *  no newline (a version file lists one entry per line).
   */
  def txnEntry(key: String): String = {
    require(key.nonEmpty && !key.contains('\n'), s"bad delivery key: $key")
    TxnPrefix + key
  }

  /** SOURCE-IDENTITY marker for federated merges: a `#txn:` entry
   *  derived from the source's published snapshot (version + live
   *  entries), recorded in the DESTINATION's log by every mergeFrom
   *  variant. Delivery keys only protect sources that were ingested
   *  WITH keys — a keyless source merged twice would silently
   *  double-count (rollups/df/nd/tl/postings all concatenate) with no
   *  error. The marker makes the exact re-merge refuse loudly for
   *  keyless sources too. A source that ADVANCED between merges gets
   *  a new identity (its old entries would re-fold) — sources that
   *  keep growing must ingest under delivery keys; the marker
   *  guarantees only exact-snapshot refusal.
   */
  def sourceIdentity(version: Long, live: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val bytes =
      md.digest((version.toString + "\n" + live.mkString("\n")).getBytes("UTF-8"))
    txnEntry("merge-src=" + bytes.map("%02x".format(_)).mkString.take(16))
  }

  /** The COMPACTION-PUBLISH splice all three persisted indexes (text /
   *  dedup / IVF) share: replace the fold's input entries with the one
   *  folded output, placed at the FIRST input's position — never
   *  appended. Position is load-bearing under the order-scoped
   *  tombstone discipline: a tombstone published concurrently during
   *  the fold sits AFTER the inputs in log order, and appending the
   *  folded output after it would empty that tombstone's coverage —
   *  the acknowledged takedown would silently resurrect on every read
   *  (and in the text index its dvocab/dstats deltas would still fold
   *  globally, permanently skewing df/nd/tl). Entries not in
   *  `replaced` (raced-in commits, tombstones, `#txn:` keys) keep
   *  their order. Returns None when an input is missing from `now`
   *  (a concurrent writer moved it — the fold must abort, never
   *  double-fold).
   */
  def spliceReplace(
      now: Seq[String], replaced: Seq[String],
      name: String): Option[Seq[String]] = {
    if (!replaced.forall(now.contains)) None
    else {
      val gone = replaced.toSet
      val firstIdx = now.indexWhere(gone.contains)
      Some(now.zipWithIndex.flatMap { case (e, i) =>
        if (i == firstIdx) Seq(name)
        else if (gone.contains(e)) Seq.empty
        else Seq(e)
      })
    }
  }
}

final class CommitLog(manifestDir: String) {

  private def fsFor(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def versionPath(v: Long): Path =
    new Path(manifestDir + f"/v$v%012d")

  private def hintPath: Path = new Path(manifestDir + "/_latest")
  private def floorPath: Path = new Path(manifestDir + "/_floor")

  private def readVersionFile(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    val body =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    body.split('\n').iterator.map(_.trim).filter(_.nonEmpty).toSeq
  }

  /** Best-effort read of a single-long control file (`_latest` hint,
   *  `_floor`): a missing, torn, or garbage file is simply None —
   *  every caller re-validates against the `v%012d` files themselves,
   *  so these files are NEVER trusted blind.
   */
  private def readLongFile(fs: FileSystem, p: Path): Option[Long] =
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val s =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
          finally in.close()
        Some(s.toLong).filter(_ >= 1L)
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Best-effort overwrite of a control file (last writer wins; a torn
   *  read on the other side degrades to the listing fallback, never to
   *  a wrong answer). Local fs gets an atomic tmp+move so readers see
   *  old-or-new, never partial bytes.
   */
  private def writeLongFile(fs: FileSystem, p: Path, v: Long): Unit =
    try {
      val body = v.toString.getBytes("UTF-8")
      if (Option(fs.getUri.getScheme).forall(_ == "file")) {
        import java.nio.file.{Files, Paths, StandardCopyOption}
        val dir = Paths.get(p.getParent.toUri.getPath)
        val tmp = dir.resolve(
          s".${p.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
        Files.write(tmp, body)
        Files.move(tmp, dir.resolve(p.getName),
          StandardCopyOption.REPLACE_EXISTING,
          StandardCopyOption.ATOMIC_MOVE): Unit
      } else {
        val out = fs.create(p, true)
        try out.write(body) finally out.close()
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  private def listVersions(fs: FileSystem, dir: Path): Array[Long] =
    fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.matches("v\\d{12}")).map(_.drop(1).toLong)

  /** Latest snapshot: (version, live entries); (0, Nil) if never
   *  written.
   *
   *  COST CONTRACT: O(1)-ish, not O(history). The naive implementation
   *  (`listStatus` over every version file ever published, take max)
   *  makes every read AND every optimistic-commit attempt pay a
   *  directory listing that grows forever — a streaming maintainer at
   *  one commit per 10 s accrues ~8.6k versions/day, so within weeks
   *  the listing dominates the commit. Instead: read the `_latest`
   *  HINT (written best-effort after every publish), VALIDATE it
   *  against the real version file, and roll FORWARD with existence
   *  probes (versions are dense — each publish is exactly prev+1) —
   *  cost is one hint read + (1 + lag) existence probes. The hint is
   *  never trusted blind: missing / torn / pointing at a vacuumed
   *  version all fall back to the full listing, which remains the
   *  source of truth.
   */
  def latest(spark: SparkSession): (Long, Seq[String]) = {
    val dir = new Path(manifestDir)
    val fs = fsFor(spark, dir)
    if (!fs.exists(dir)) (0L, Seq.empty)
    else {
      var v = readLongFile(fs, hintPath)
        .filter(h => fs.exists(versionPath(h)))
        .getOrElse {
          val versions = listVersions(fs, dir)
          if (versions.isEmpty) 0L else versions.max
        }
      if (v == 0L) (0L, Seq.empty)
      else {
        while (fs.exists(versionPath(v + 1))) v += 1
        (v, readVersionFile(fs, versionPath(v)))
      }
    }
  }

  /** Live entries AS OF a published version — loud if never published,
   *  and loud WITH THE REAL CAUSE if the version was reclaimed by
   *  [[vacuumVersions]] (time-travel below the retention floor must
   *  read as a retention decision, not as corruption).
   */
  def liveAt(spark: SparkSession, v: Long): Seq[String] = {
    val p = versionPath(v)
    val fs = fsFor(spark, p)
    if (!fs.exists(p)) {
      // v < 1 can never have been published OR reclaimed — report it as
      // unpublished, not as a (false) retention decision
      val floor = readLongFile(fs, floorPath).getOrElse(1L)
      require(v < 1L || v >= floor,
        s"manifest version $v of $manifestDir is below the retention " +
          s"floor $floor — vacuumVersions reclaimed it; time-travel and " +
          "branch reads need a version at or above the floor")
      // the floor record is best-effort (non-atomic on some object
      // stores): a torn/unreadable _floor reads as floor=1, so a
      // vacuumed version can land here — say so instead of asserting
      // "never published" as certain
      require(false,
        s"manifest version $v was never published at $manifestDir " +
          "(or, if the _floor control file is missing/unreadable, it may " +
          "have been reclaimed by vacuumVersions — the retention floor " +
          "could not be read to distinguish the two)")
    }
    readVersionFile(fs, p)
  }

  /** RETENTION for the version-file history itself: keep the newest
   *  `keep` version files, delete the rest, and record the lowest
   *  retained version in `_floor` so [[liveAt]] (and through it
   *  time-travel and [[cloneAsOf]]) fails loudly-and-truthfully below
   *  it. The floor is written BEFORE any delete (readers racing the
   *  vacuum see the honest error, never "never published") and is
   *  monotonic — a stale concurrent vacuum cannot lower it. Data-dir
   *  reclamation is separate (each dataset's vacuum); this bounds the
   *  MANIFEST history so the listing fallback of [[latest]] stays
   *  small even when the hint is lost.
   */
  def vacuumVersions(spark: SparkSession, keep: Int): Unit = {
    require(keep >= 1, s"vacuumVersions keep must be >= 1 (got $keep)")
    val dir = new Path(manifestDir)
    val fs = fsFor(spark, dir)
    if (!fs.exists(dir)) return
    val (v, _) = latest(spark)
    if (v == 0L) return
    val floor = math.max(1L, v - keep + 1)
    // the prior floor is a CONTROL file and is not trusted blind (the
    // module's contract): a torn/corrupt value that still parses could
    // exceed the head and delete EVERY version file — clamp the
    // deletion cutoff so the head version always survives, exactly as
    // keep = 1 would behave
    val prior = math.min(readLongFile(fs, floorPath).getOrElse(1L), v)
    if (floor > prior) {
      writeLongFile(fs, floorPath, floor)
      // the floor must be DURABLY recorded before any delete — readers
      // racing the vacuum must see the honest retention error, never
      // "never published". writeLongFile is best-effort; verify.
      val recorded = readLongFile(fs, floorPath).getOrElse(0L)
      require(recorded >= floor,
        s"retention floor write did not stick at $floorPath (read " +
          s"$recorded, wanted $floor) — aborting the version-file " +
          "vacuum; no version files were deleted")
    }
    listVersions(fs, dir).filter(_ < math.min(math.max(floor, prior), v))
      .foreach(x => fs.delete(versionPath(x), false): Unit)
    writeLongFile(fs, hintPath, v)
  }

  /** The current retention floor (1 if never vacuumed). */
  def retentionFloor(spark: SparkSession): Long =
    readLongFile(fsFor(spark, floorPath), floorPath).getOrElse(1L)

  /** Atomically publish `body` at `target`, returning false iff the
   *  version already exists (a lost race). The content must be COMPLETE
   *  the instant the target becomes visible — readers race `latest()`
   *  against publishes, and a torn version file would silently truncate
   *  the live set.
   *
   *  - `file://`: Hadoop's local `create(overwrite = false)` is a
   *    non-atomic exists-check-then-create — two racing writers can
   *    BOTH pass the check and both report success while one manifest
   *    silently vanishes (observed as a 6-writer race publishing 4
   *    versions). POSIX's atomic create-exclusive primitive is
   *    link(2): write a temp file, hard-link it to the target (EEXIST
   *    loses, content complete before the name appears), unlink the
   *    temp.
   *  - everything else: write a temp file and rename-no-replace into
   *    place — atomic fail-if-exists on HDFS; object stores need a
   *    conditional-PUT-backed FileSystem for the same guarantee.
   */
  private def publishExclusive(
      fs: FileSystem, target: Path, body: Array[Byte]): Boolean =
    if (Option(fs.getUri.getScheme).forall(_ == "file")) {
      val dir = java.nio.file.Paths.get(target.getParent.toUri.getPath)
      val tmp = dir.resolve(
        s".${target.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
      java.nio.file.Files.write(tmp, body)
      try {
        java.nio.file.Files.createLink(dir.resolve(target.getName), tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally {
        java.nio.file.Files.deleteIfExists(tmp): Unit
      }
    } else {
      val tmp = new Path(target.getParent,
        s".${target.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
      val out = fs.create(tmp, false)
      try out.write(body) finally out.close()
      // rename-no-replace conflates two very different failures: "target
      // exists" (a lost race — the healthy retry path) and everything
      // else (missing parent, a store without atomic rename). Only the
      // former may return false; a non-race failure retried blind would
      // spin to the 50-stall backstop and die blaming a "wedged"
      // manifest, hiding the real cause.
      val failure: Option[Throwable] =
        try { if (fs.rename(tmp, target)) None else Some(null) }
        catch { case e: java.io.IOException => Some(e) }
      failure match {
        case None => true
        case Some(cause) =>
          fs.delete(tmp, false): Unit
          if (fs.exists(target)) false // lost race — caller re-reads and retries
          else throw new java.io.IOException(
            s"manifest publish failed at $target for a NON-RACE reason " +
              "(the target does not exist after the failed rename) — " +
              "check the filesystem supports atomic rename-no-replace " +
              "and the manifest directory is writable", cause)
      }
    }

  /** ZERO-COPY CLONE of a manifest-governed dataset as of a published
   *  version — the generic core every dataset's branch operation
   *  shares (the rollup store, the text/dedup/IVF indexes): hard-link
   *  every data dir the version references from `srcDataDir` into
   *  `dstDataDir` (bytes shared, names independent — commit dirs are
   *  immutable once published, so neither side's compaction or vacuum
   *  can reach the other through a shared inode), then publish the
   *  as-of live set — `#txn:` keys included, so exactly-once history
   *  branches with the data — as the destination log's first version.
   *  Cost ∝ live file COUNT, zero bytes moved; non-POSIX filesystems
   *  fall back to a byte copy with the same semantics. Loud on an
   *  unpublished version, a vacuumed snapshot, or a non-empty
   *  destination.
   */
  def cloneAsOf(
      spark: SparkSession, srcDataDir: String, dstDataDir: String,
      dstLog: CommitLog, version: Long): Unit = {
    require(dstLog.latest(spark)._1 == 0L,
      s"cannot branch into $dstDataDir — the destination already has " +
        "published versions (branch into a fresh root)")
    val live = liveAt(spark, version)
    // every #-prefixed entry is ledger metadata (#txn: keys, #pin:
    // leases), not a data dir
    val dirs = live.filterNot(_.startsWith("#"))
    require(dirs.nonEmpty, s"version $version has no data commits")
    val conf = spark.sessionState.newHadoopConf()
    dirs.foreach { d =>
      val p = new Path(s"$srcDataDir/$d")
      require(p.getFileSystem(conf).exists(p),
        s"commit $d of version $version was vacuumed — snapshots below " +
          "the retention floor cannot branch")
    }
    val fs = new Path(srcDataDir).getFileSystem(conf)
    val localFs = Option(fs.getUri.getScheme).forall(_ == "file")
    for (d <- dirs) {
      if (localFs) {
        import java.nio.file.{Files, Paths}
        val from = Paths.get(new Path(s"$srcDataDir/$d").toUri.getPath)
        val to = Paths.get(new Path(s"$dstDataDir/$d").toUri.getPath)
        val walk = Files.walk(from)
        try walk.forEach { p =>
          val t = to.resolve(from.relativize(p))
          if (Files.isDirectory(p)) Files.createDirectories(t): Unit
          else Files.createLink(t, p): Unit
        } finally walk.close()
      } else
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new Path(s"$srcDataDir/$d"),
          fs, new Path(s"$dstDataDir/$d"), false, conf): Unit
    }
    val published = dstLog.commit(spark) { now =>
      // a branch starts a fresh lineage: the source's replay pins
      // protect pipelines replaying against the SOURCE, not the clone
      if (now.nonEmpty) None // raced writer — abort
      else Some(live.filterNot(_.startsWith(CommitLog.PinPrefix)))
    }
    if (!published) {
      for (d <- dirs) {
        val p = new Path(s"$dstDataDir/$d")
        p.getFileSystem(conf).delete(p, true): Unit
      }
      require(published,
        s"cannot branch into $dstDataDir — a concurrent writer " +
          "published there first (branch into a fresh root)")
    }
  }

  /** Register a replay pin (idempotent — re-pinning the same name is
   *  a no-op). See [[CommitLog.PinPrefix]] for semantics.
   */
  def pin(spark: SparkSession, name: String): Unit = {
    require(name.nonEmpty && !name.contains('\n'), s"bad pin name: $name")
    val e = CommitLog.PinPrefix + name
    commit(spark)(now =>
      if (now.contains(e)) None else Some(now :+ e)): Unit
  }

  /** Release a replay pin (idempotent — unpinning an absent name is a
   *  no-op).
   */
  def unpin(spark: SparkSession, name: String): Unit = {
    val e = CommitLog.PinPrefix + name
    commit(spark)(now =>
      if (!now.contains(e)) None else Some(now.filterNot(_ == e))): Unit
  }

  /** The last published fsck verified watermark (the version a clean
   *  battery read the log at), if any. See [[CommitLog.FsckPrefix]].
   */
  def fsckWatermark(spark: SparkSession): Option[Long] =
    latest(spark)._2.filter(_.startsWith(CommitLog.FsckPrefix))
      .flatMap(e => scala.util.Try(
        e.stripPrefix(CommitLog.FsckPrefix).toLong).toOption)
      .maxOption

  /** Publish (or advance) the fsck verified watermark to `v`. The
   *  marker is MONOTONIC — a stale concurrent checker cannot lower
   *  it — and self-replacing: at most one `#fsck:` entry is live.
   *  Callers must pass the version they READ BEFORE running their
   *  battery (entries racing in during the check stay unverified —
   *  the safe direction: they are re-checked next time, never
   *  skipped). Not a destructive verb: it touches no commit or
   *  tombstone entry, so it publishes under live replay pins.
   */
  def publishFsckWatermark(spark: SparkSession, v: Long): Unit = {
    require(v >= 1L, s"fsck watermark must be a published version (got $v)")
    commit(spark) { now =>
      val cur = now.filter(_.startsWith(CommitLog.FsckPrefix))
        .flatMap(e => scala.util.Try(
          e.stripPrefix(CommitLog.FsckPrefix).toLong).toOption)
        .maxOption
      if (cur.exists(_ >= v)) None
      else Some(now.filterNot(_.startsWith(CommitLog.FsckPrefix)) :+
        (CommitLog.FsckPrefix + v))
    }: Unit
  }

  /** The SCOPE of an incremental fsck: `(vNow, fresh data entries)` —
   *  the version the log reads at NOW plus the data entries (c-/t-)
   *  that appeared after the verified watermark. None when the
   *  incremental premise does not hold and the caller must run the
   *  FULL battery instead: no watermark published yet, the
   *  watermark's version file was reclaimed by [[vacuumVersions]], or
   *  a verified entry is no longer live (a compaction fold or
   *  tombstone retirement consumed it — the folded output is new
   *  unverified state whose inputs are gone, so "check only what's
   *  new" can no longer compose with the old certificate).
   */
  def fsckFreshEntries(spark: SparkSession): Option[(Long, Seq[String])] = {
    val (vNow, liveNow) = latest(spark)
    fsckWatermark(spark).flatMap { w =>
      scala.util.Try(liveAt(spark, w)).toOption.flatMap { baseLive =>
        val base = baseLive.filterNot(_.startsWith("#")).toSet
        val nowData = liveNow.filterNot(_.startsWith("#"))
        if (!base.subsetOf(nowData.toSet)) None
        else Some((vNow, nowData.filterNot(base)))
      }
    }
  }

  /** Live replay-pin names (empty = no lease held). */
  def pins(spark: SparkSession): Seq[String] =
    latest(spark)._2.filter(_.startsWith(CommitLog.PinPrefix))
      .map(_.stripPrefix(CommitLog.PinPrefix))

  /** The loud half of the pin contract, shared by every destructive
   *  consumer entry point: throws IllegalStateException (the "re-run
   *  later" class — opportunistic maintainers defer and count it, a
   *  stream never fails) when a lease is live.
   */
  def requireUnpinned(spark: SparkSession, what: String): Unit = {
    val ps = pins(spark)
    if (ps.nonEmpty) throw new IllegalStateException(
      s"$what refused: index at $manifestDir is pinned by " +
        s"[${ps.mkString(", ")}] — a pipeline holds a mid-replay lease " +
        "(replay stability of its membership/pair reads depends on " +
        "folds and retirement not consuming its commits); unpin after " +
        "the pipeline drains, then re-run")
  }

  /** Optimistic-concurrency publish: compute the next live set from the
   *  current one; `next` returning None ABORTS. Returns true iff a
   *  version was published.
   */
  def commit(spark: SparkSession)(
      next: Seq[String] => Option[Seq[String]]): Boolean = {
    val dir = new Path(manifestDir)
    val fs = fsFor(spark, dir)
    fs.mkdirs(dir)
    // the retry backstop counts attempts WITHOUT system-wide progress:
    // losing a race means someone ELSE published (healthy contention —
    // reset), so this only fires when the version stops moving and our
    // publishes still fail, i.e. a genuinely wedged filesystem
    var stalled = 0
    var lastSeen = -1L
    while (true) {
      val (v, live) = latest(spark)
      stalled = if (v != lastSeen) 1 else stalled + 1
      lastSeen = v
      require(stalled <= 50,
        s"manifest commit wedged at $manifestDir: 50 failed publishes " +
          s"with no version progress (stuck at v$v)")
      next(live) match {
        case None => return false
        case Some(entries) =>
          val body = (entries.mkString("\n") + "\n").getBytes("UTF-8")
          if (publishExclusive(fs, versionPath(v + 1), body)) {
            // refresh the hint so every later latest() skips the
            // listing; best-effort and re-validated, so a lost hint
            // write (or an out-of-order one under contention — the
            // roll-forward probe absorbs a stale-low hint) is harmless
            writeLongFile(fs, hintPath, v + 1)
            return true
          }
        // version taken — re-read, retry
      }
    }
    false
  }
}
