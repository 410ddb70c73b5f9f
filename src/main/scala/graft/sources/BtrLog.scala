package graft.sources

import graft.format.{BtrJson, BtrTableMeta}
import org.apache.hadoop.fs.{FileSystem, Path}

/** Snapshot log for time travel: every mutating commit (append,
  * overwrite, DELETE, row-level rewrite, OPTIMIZE, streaming-epoch
  * cadence, partition ops) records a JSON entry under `_btr_log/` —
  * `VERSION AS OF n` / `TIMESTAMP AS OF t` reads then plan exactly that
  * version's file set through the scan's `onlyFiles` restriction.
  *
  * Entries come in two kinds, so commit cost scales with the COMMIT,
  * never the table:
  *
  *  - DELTA entries record only the commit's own `add`/`remove` file
  *    sets (known to every commit path for free — they are the files it
  *    just wrote or replaced). Writing one is O(files touched): no
  *    table listing, no O(table) serialization. This is what appends,
  *    deletes, rewrites, compactions and streaming epochs write.
  *  - FULL entries (checkpoints) record the complete visible file set
  *    from a fresh listing. The first entry of a table is always full,
  *    every [[CheckpointInterval]]-th version forces one (bounding
  *    delta-replay depth AND periodically re-syncing the log against
  *    the authoritative listing — a lost entry self-heals at the next
  *    checkpoint), and [[record]] without sets stays available for
  *    operations whose file moves defy add/remove bookkeeping
  *    (partition renames).
  *
  * Resolving a version walks back to the nearest full entry and replays
  * deltas forward — bounded by the checkpoint interval. Entries also
  * carry per-file SIZES: a pinned snapshot read can then detect the
  * rel-path-reuse corner (a removed-and-retained file whose name a
  * later commit re-created) instead of silently serving the new file's
  * rows as history (see BtrRetention.resolveFileSet).
  *
  * Design points, deliberately different from a Delta/Iceberg commit
  * log: the LISTING stays authoritative for current-state reads (the
  * log is never consulted on a normal scan, so a lost or absent log
  * degrades time travel, never correctness), and entries are pruned to
  * the newest [[KeepEntries]] at record time — always back to a full
  * entry, so every retained version stays resolvable. History ends
  * where physical file lifetimes end: OPTIMIZE/DELETE/VACUUM physically
  * remove superseded files, and a versioned read whose snapshot
  * references a removed file fails LOUDLY with the missing names —
  * stale-but-plausible results are never served. Versioned reads use
  * the CURRENT table schema (files older than a widening read added
  * columns as null, like any scan).
  *
  * Concurrency: version numbers are claimed by no-clobber rename of a
  * temp entry; a racing committer simply retries at the next number. A
  * delta entry stays correct under the retry — it records the commit's
  * OWN add/remove sets, which compose the same whatever version number
  * they land on. Recording is best-effort-last in each commit path —
  * the data commit is already durable when the entry is written, so a
  * crash between the two costs one snapshot point, not table state.
  */
object BtrLog {
  val LogDir = "_btr_log"
  /** Newest entries kept; older ones are pruned at record time (never
    * past the full entry the oldest kept version resolves through). */
  val KeepEntries = 64
  /** Every Nth version is recorded as a full checkpoint even when the
    * commit offered delta sets — bounds replay depth and re-syncs the
    * log with the authoritative listing. */
  val CheckpointInterval = 16
  private val NameRe = "v(\\d{20})\\.json".r

  /** Full-listing calls made by record paths, keyed by table root — spec
    * instrumentation for the O(commit) guarantee (delta commits must
    * never list). Per-root so parallel test suites don't cross-talk. */
  private[graft] val listingsByRoot =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]
  private[graft] def listingsFor(root: Path): Long = {
    val v = listingsByRoot.get(root.toUri.getPath)
    if (v == null) 0L else v.longValue()
  }

  /** One raw log entry. Full entries carry `files` (+ parallel sizes);
    * delta entries carry `add`/`remove` (+ sizes for the adds). */
  final case class Entry(version: Long, tsMillis: Long, action: String,
      files: Seq[String], isDelta: Boolean = false,
      add: Seq[String] = Nil, remove: Seq[String] = Nil,
      sizes: Map[String, Long] = Map.empty,
      // idempotent-commit identity (btr.txnAppId/btr.txnVersion): a
      // replayed (appId, version <= recorded) commit becomes a no-op
      txnApp: Option[String] = None, txnVer: Option[Long] = None)

  /** A version's RESOLVED visible state: complete file set, with sizes
    * where the contributing entries recorded them (legacy pre-delta
    * entries did not). */
  final case class Snapshot(version: Long, tsMillis: Long, action: String,
      files: Seq[String], sizes: Map[String, Long]) {
    def fileSet: Set[String] = files.toSet
  }

  private def nameOf(v: Long): String = f"v$v%020d.json"

  /** Current visible files as (table-root-relative path, len) — the SAME
    * relativization the scan's `onlyFiles` filter applies, so a recorded
    * snapshot round-trips byte-exact into a planned file set.
    */
  private def currentFiles(fs: FileSystem, root: Path,
      dvAdds: Seq[String] = Nil, dvRemoves: Set[String] = Set.empty,
      // the committing entry's own added DATA rels: a merge-on-read
      // UPDATE/MERGE records its entry while its pending marker still
      // HIDES its insert files from listings — a checkpoint built from
      // the listing alone would permanently lose them
      extraAdds: Seq[String] = Nil): Seq[(String, Long)] = {
    listingsByRoot.merge(root.toUri.getPath, 1L, (a, b) => a + b)
    val qualified = fs.makeQualified(root)
    val rootLen = qualified.toUri.getPath.length + 1
    val data = BtrTableMeta.listDataFilesWithPartitions(fs, qualified)
      .map(e => e.path.toUri.getPath.substring(rootLen) -> e.len).toSeq
    val dataSet = data.map(_._1).toSet
    // deletion-vector rels are LOG-authoritative, never re-listed: a
    // crashed uncommitted blob must not be absorbed into a checkpoint.
    // Carry the previous snapshot's dv rels forward (still-existing only
    // — a removal this commit performed moved or deleted them
    // physically) plus the committing entry's own adds.
    val prevSnap: Option[Snapshot] = latestVersion(fs, root)
      .map(v => resolveSnapshot(fs, qualified, v))
    val prevDv: Seq[String] =
      prevSnap.map(_.files.filter(graft.format.DeletionVector.isDvRel)).getOrElse(Nil)
    def statted(rels: Seq[String]): Seq[(String, Long)] = rels.flatMap { rel =>
      try Some(rel -> fs.getFileStatus(new Path(qualified, rel)).getLen)
      catch { case _: java.io.IOException => None }
    }
    val dv = statted((prevDv ++ dvAdds).distinct.filterNot(dvRemoves))
    // a FOREIGN pending marker may hide files the log already recorded
    // (the marker retires moments after its entry lands): keep every
    // previously-recorded, physically-present data rel the listing
    // dropped, plus this commit's own extraAdds
    val pendingFinals = BtrTableMeta.readDvPending(fs, qualified)
      .flatMap(_._2).flatMap(_.finals)
    val recordedHidden = prevSnap.map(_.files).getOrElse(Nil)
      .filter(pendingFinals.contains)
    val extras = statted((recordedHidden ++ extraAdds).distinct
      .filterNot(r => dataSet.contains(r) || graft.format.DeletionVector.isDvRel(r)))
    (data ++ dv ++ extras).sortBy(_._1)
  }

  private def fullJson(v: Long, ts: Long, action: String, files: Seq[(String, Long)],
      txn: Option[(String, Long)] = None): String =
    BtrJson.logEntry(Entry(v, ts, action, files.map(_._1), sizes = files.toMap,
      txnApp = txn.map(_._1), txnVer = txn.map(_._2)))

  private def deltaJson(v: Long, ts: Long, action: String,
      add: Seq[(String, Long)], remove: Seq[String],
      txn: Option[(String, Long)] = None): String =
    BtrJson.logEntry(Entry(v, ts, action, Nil, isDelta = true, add = add.map(_._1),
      remove = remove, sizes = add.toMap, txnApp = txn.map(_._1), txnVer = txn.map(_._2)))

  /** Claim the next version through the store's no-clobber publish
    * primitive (no-clobber rename on HDFS-semantics stores, conditional
    * PUT on object stores — [[graft.format.BtrCommitProtocol]]); `json`
    * regenerates the body per attempted version (a racing committer
    * bumps it). */
  private def claim(fs: FileSystem, dir: Path, first: Long, json: Long => String): Long = {
    fs.mkdirs(dir)
    val proto = graft.format.BtrCommitProtocol.forFs(fs)
    var v = first
    var attempts = 0
    var claimed = -1L
    while (claimed < 0) {
      attempts += 1
      require(attempts <= 1000, s"btr log: could not claim a version at $dir")
      val body = json(v).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      if (proto.putIfAbsent(fs, new Path(dir, nameOf(v)), body)) claimed = v
      else v += 1
    }
    claimed
  }

  /** Record a FULL checkpoint of the table's current visible state as
    * the next version — O(table files). Kept for first commits,
    * checkpoint cadence, and operations without clean add/remove sets
    * (partition renames). Call AFTER the mutation is fully committed.
    */
  def record(fs: FileSystem, root: Path, action: String): Long = {
    val dir = new Path(root, LogDir)
    val ts = System.currentTimeMillis()
    val v0 = latestVersion(fs, root).getOrElse(0L) + 1
    // re-list on every claim attempt: a lost race means a concurrent
    // commit changed the table since our listing, and a FULL entry built
    // from the stale listing would mis-anchor every delta replayed on
    // top of it until the next checkpoint. Attempt 1 (the only one,
    // absent races) lists exactly once, as before.
    val claimed = claim(fs, dir, v0, v => fullJson(v, ts, action, currentFiles(fs, root)))
    prune(fs, dir)
    claimed
  }

  /** Record a commit as a DELTA entry — O(files touched), no listing.
    * `added`/`removed` are the commit's own table-root-relative file
    * sets (exactly what it wrote / replaced). Falls back to a full
    * checkpoint for a table with no log yet and on the
    * [[CheckpointInterval]] cadence.
    */
  def recordDelta(fs: FileSystem, root: Path, action: String,
      added: Seq[String], removed: Seq[String],
      txn: Option[(String, Long)] = None): Long = {
    val dir = new Path(root, LogDir)
    val prev = latestVersion(fs, root).getOrElse(0L)
    if (prev == 0L) return record(fs, root, action) // first entry anchors replay
    val ts = System.currentTimeMillis()
    // sizes of the added files: O(added) status calls (a file a racing
    // commit already replaced just loses its size — advisory metadata)
    val addSized = added.distinct.sorted.map { rel =>
      val len = try fs.getFileStatus(new Path(root, rel)).getLen
        catch { case _: java.io.IOException => -1L }
      rel -> len
    }
    val rem = removed.distinct.sorted
    // checkpoints list per attempt (see record()): a checkpoint built
    // from a pre-race listing would mis-anchor subsequent delta replay
    val claimed = claim(fs, dir, prev + 1, v =>
      if (v % CheckpointInterval == 0)
        fullJson(v, ts, action, currentFiles(fs, root,
          dvAdds = added.filter(graft.format.DeletionVector.isDvRel),
          dvRemoves = removed.filter(graft.format.DeletionVector.isDvRel).toSet,
          extraAdds = added.filterNot(graft.format.DeletionVector.isDvRel)),
          txn)
      else deltaJson(v, ts, action, addSized, rem, txn))
    prune(fs, dir)
    claimed
  }

  /** The table's effective log retention: per-table meta
    * (`btr.logRetention`) when set, else [[KeepEntries]]. Per-table
    * because the bound caps CDC consumer lag — a long-retention table
    * lets a consumer fall arbitrarily far behind (within the bound)
    * and still resolve its range without a re-bootstrap.
    */
  def keepEntriesFor(fs: FileSystem, root: Path): Int =
    BtrTableMeta.readLogRetention(fs, root).map(math.max(_, 2)).getOrElse(KeepEntries)

  /** Versions prunable right now: everything before the newest FULL
    * entry at-or-before the retention cutoff — the oldest kept
    * version must stay resolvable without the deleted entries. */
  private def prunable(fs: FileSystem, dir: Path): Seq[Long] = {
    val keep = keepEntriesFor(fs, dir.getParent)
    val vs = versions(fs, dir).sorted
    if (vs.length <= keep) return Nil
    val cutoff = vs(vs.length - keep) // oldest version we want kept
    // find the newest full entry <= cutoff; read entries (small) backward
    var base = cutoff
    var found = false
    while (!found && base >= vs.head) {
      if (vs.contains(base) && !readEntry(fs, dir.getParent, base).isDelta) found = true
      else base -= 1
    }
    if (!found) return Nil // no resolvable base at-or-before cutoff: keep all
    vs.filter(_ < base)
  }

  private def prune(fs: FileSystem, dir: Path): Unit =
    prunable(fs, dir).foreach(v => fs.delete(new Path(dir, nameOf(v)), false))

  /** Dry-run listing of the log entries a prune would remove (VACUUM). */
  /** Highest `btr.txnVersion` any RETAINED entry records for `appId`
    * (None = no commit from that app in retained history). The
    * idempotence horizon is the log retention: a writer replaying a
    * commit OLDER than the retained history is not detected — size
    * `btr.logRetention` to the longest retry window, exactly like
    * Delta's txn retention guidance.
    */
  def lastTxnVersion(fs: FileSystem, root: Path, appId: String,
      belowVersion: Long = Long.MaxValue): Option[Long] = {
    val dir = new Path(root, LogDir)
    // Newest-first, and a version pruned mid-walk is SKIPPED, not fatal:
    // aborting with None here ("no prior txn") would let a concurrent
    // VACUUM turn an idempotent-append replay into a duplicate commit even
    // when newer retained entries still record the (appId, version). A
    // skipped entry is by definition beyond the retained idempotence
    // horizon, which the scaladoc above already scopes out.
    val vs = versions(fs, dir).filter(_ < belowVersion).sorted(Ordering[Long].reverse)
    val hits = vs.flatMap { v =>
      try {
        val e = readEntry(fs, root, v)
        if (e.txnApp.contains(appId)) e.txnVer else None
      } catch { case _: IllegalArgumentException => None } // pruned mid-walk
    }
    if (hits.isEmpty) None else Some(hits.max)
  }

  /** Deletion-vector rels any RETAINED log entry references (checkpoint
    * file sets + delta adds) — the protected set for VACUUM's orphan
    * sweep: a physically-present blob outside it belongs to a crashed,
    * never-recorded commit and is rolled back by removal.
    */
  def referencedDvRels(fs: FileSystem, root: Path): Set[String] = {
    val dir = new Path(root, LogDir)
    versions(fs, dir).flatMap { v =>
      val e = readEntry(fs, root, v)
      (e.files ++ e.add).filter(graft.format.DeletionVector.isDvRel)
    }.toSet
  }

  def listPrunable(fs: FileSystem, root: Path): Seq[Path] = {
    val dir = new Path(root, LogDir)
    prunable(fs, dir).map(v => new Path(dir, nameOf(v)))
  }

  /** Prune now (VACUUM entry point); returns entries removed. */
  def pruneNow(fs: FileSystem, root: Path): Int = {
    val dir = new Path(root, LogDir)
    val doomed = prunable(fs, dir)
    doomed.foreach(v => fs.delete(new Path(dir, nameOf(v)), false))
    doomed.length
  }

  private def versions(fs: FileSystem, dir: Path): Seq[Long] = {
    if (!fs.exists(dir)) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[Long]
    val it = fs.listStatusIterator(dir)
    while (it.hasNext) {
      it.next().getPath.getName match {
        case NameRe(d) => out += d.toLong
        case _ => ()
      }
    }
    out.toSeq
  }

  def latestVersion(fs: FileSystem, root: Path): Option[Long] = {
    val vs = versions(fs, new Path(root, LogDir))
    if (vs.isEmpty) None else Some(vs.max)
  }

  def readEntry(fs: FileSystem, root: Path, version: Long): Entry = {
    val p = new Path(new Path(root, LogDir), nameOf(version))
    val json =
      try BtrJson.readFile(fs, p)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new IllegalArgumentException(
            s"btr: no snapshot v$version at $root — history holds " +
              s"${versions(fs, new Path(root, LogDir)).sorted.mkString("[", ",", "]")} " +
              s"(the newest ${keepEntriesFor(fs, root)} commits; older entries " +
              "are pruned — raise btr.logRetention to keep more)")
      }
    parse(json)
  }

  private[sources] def parse(json: String): Entry = BtrJson.parseLogEntry(json)

  /** Apply one entry on top of a resolved predecessor state. */
  private def applyEntry(prevFiles: Seq[String], prevSizes: Map[String, Long],
      e: Entry): (Seq[String], Map[String, Long]) =
    if (!e.isDelta) (e.files, e.sizes)
    else {
      val rm = e.remove.toSet
      val addSet = e.add.toSet
      // remove first, then add: a retried streaming epoch re-adds its own
      // deterministic name, and the add's (newer) size must win
      val files = prevFiles.filterNot(f => rm.contains(f) || addSet.contains(f)) ++ e.add
      (files.sorted, (prevSizes -- rm) ++ e.sizes)
    }

  /** Resolve a version's complete visible file set: walk back to the
    * nearest full entry, replay deltas forward. Bounded by
    * [[CheckpointInterval]] small JSON reads.
    */
  def resolveSnapshot(fs: FileSystem, root: Path, version: Long): Snapshot = {
    val chain = scala.collection.mutable.ArrayBuffer.empty[Entry]
    var e = readEntry(fs, root, version)
    chain += e
    while (e.isDelta) {
      val v = e.version - 1
      e =
        try readEntry(fs, root, v)
        catch {
          case _: IllegalArgumentException =>
            throw new IllegalStateException(
              s"btr: snapshot v$version at $root is a delta whose base v$v was " +
                "pruned or lost — the log cannot resolve it (a later checkpoint " +
                "re-anchors subsequent versions)")
        }
      chain += e
    }
    var files: Seq[String] = chain.last.files
    var sizes: Map[String, Long] = chain.last.sizes
    chain.init.reverseIterator.foreach { d =>
      val r = applyEntry(files, sizes, d)
      files = r._1; sizes = r._2
    }
    val head = chain.head
    Snapshot(head.version, head.tsMillis, head.action, files, sizes)
  }

  /** Resolve a read's pinned snapshot: exact version, or the newest
    * entry at-or-before the timestamp (microseconds, Spark's
    * TIMESTAMP AS OF unit).
    */
  def resolve(fs: FileSystem, root: Path,
      versionAsOf: Option[Long], timestampAsOfMicros: Option[Long]): Snapshot = {
    require(versionAsOf.isEmpty || timestampAsOfMicros.isEmpty,
      "btr: specify either a version or a timestamp to travel to, not both")
    versionAsOf match {
      case Some(v) => resolveSnapshot(fs, root, v)
      case None =>
        val tsMillis = timestampAsOfMicros.get / 1000L
        val vs = versions(fs, new Path(root, LogDir)).sorted
        require(vs.nonEmpty, s"btr: no snapshot log at $root — time travel needs " +
          "commits made by a log-aware writer")
        val hit = vs.reverse.view.map(readEntry(fs, root, _)).find(_.tsMillis <= tsMillis)
        hit.map(e => resolveSnapshot(fs, root, e.version)).getOrElse(
          throw new IllegalArgumentException(
            s"btr: no snapshot at or before timestamp ${tsMillis}ms at $root " +
              s"(oldest retained: v${vs.min})"))
    }
  }

  /** Newest version whose entry timestamp is at-or-before `tsMillis`,
    * or 0 when every retained entry is newer (a change range starting
    * there bootstraps from the pre-table state). Loud when no log
    * exists. Timestamp→version mapping for the change feeds.
    */
  def versionAtOrBefore(fs: FileSystem, root: Path, tsMillis: Long): Long = {
    val vs = versions(fs, new Path(root, LogDir)).sorted
    require(vs.nonEmpty, s"btr: no snapshot log at $root — timestamp-based change " +
      "reads need commits made by a log-aware writer")
    vs.reverse.view.map(readEntry(fs, root, _)).find(_.tsMillis <= tsMillis)
      .map(_.version).getOrElse(0L)
  }

  /** Full retained history as RESOLVED snapshots, newest first (for the
    * `btr_history` TVF) — one forward replay over the retained entries,
    * not a per-version walk. */
  def history(fs: FileSystem, root: Path): Seq[Snapshot] = {
    val vs = versions(fs, new Path(root, LogDir)).sorted
    if (vs.isEmpty) return Nil
    val out = scala.collection.mutable.ArrayBuffer.empty[Snapshot]
    var cur = resolveSnapshot(fs, root, vs.head)
    out += cur
    vs.tail.foreach { v =>
      val e = readEntry(fs, root, v)
      val (files, sizes) = applyEntry(cur.files, cur.sizes, e)
      cur = Snapshot(e.version, e.tsMillis, e.action, files, sizes)
      out += cur
    }
    out.toSeq.reverse
  }

  /** The resolved states of a change range: `(base snapshot at `from`,
    * per-version (entry, resolved snapshot) for each version in
    * (from, to])`. `from = 0` bootstraps from the empty pre-table set.
    * One backward walk for the base + one forward replay — shared by
    * BtrChanges' resolution paths.
    */
  def walkRange(fs: FileSystem, root: Path, fromVersion: Long, toVersion: Long)
      : (Snapshot, Seq[(Entry, Snapshot)]) = {
    val base: Snapshot =
      if (fromVersion == 0) Snapshot(0L, 0L, "none", Nil, Map.empty)
      else resolveSnapshot(fs, root, fromVersion)
    var cur = base
    val steps = ((fromVersion + 1) to toVersion).map { v =>
      val e = readEntry(fs, root, v)
      val r = applyEntry(cur.files, cur.sizes, e)
      cur = Snapshot(e.version, e.tsMillis, e.action, r._1, r._2)
      (e, cur)
    }
    (base, steps)
  }

  /** RESTORE the table to snapshot `version`: drop every visible data
    * file the snapshot doesn't reference — a metadata-only undo of
    * appends / streaming epochs (the "bad load this morning" case), no
    * data I/O. Refuses loudly when the snapshot references files a later
    * OPTIMIZE/DELETE/overwrite physically removed: only commits that
    * ADDED files can be rewound. Crash-safe through the same
    * delete-intent journal as DELETE (the doomed set hides atomically;
    * a crash mid-loop converges on the next table operation). Returns
    * (filesDropped, filesKept).
    */
  def restore(fs: FileSystem, rawRoot: Path, version: Long): (Int, Int) = {
    val root = fs.makeQualified(rawRoot)
    graft.format.BtrFs.requireCommitCapable(fs, root)
    BtrTableMeta.completeSwapJournals(fs, root)
    BtrDvOps.convergePending(fs, root)
    val snapshot = resolveSnapshot(fs, root, version)
    val want = snapshot.fileSet
    val rootLen = root.toUri.getPath.length + 1
    // deletion-vector blobs restore like data files: blobs added after
    // the restore point drop (their deletes rewind), blobs the restore
    // point referenced but a later commit removed resurrect from the
    // retention store
    // Blob listing includes physically-present but UNCOMMITTED blobs (a
    // live blob-only DELETE's task output). Dropping those would race the
    // in-flight commit, so blobs younger than the in-flight lease that no
    // retained log entry references are left alone: either their commit
    // records them (its post-claim verify re-checks targets against the
    // restored file set and conflicts if they drifted) or VACUUM sweeps
    // them as orphans once the lease expires. Committed young blobs still
    // drop — rewinding their deletes is exactly what RESTORE means.
    val blobCutoff = System.currentTimeMillis() - BtrDvOps.InFlightLeaseMs
    lazy val committedBlobs = referencedDvRels(fs, root)
    val blobRels = graft.format.DeletionVector.listBlobRels(fs, root, withTimes = true)
      .collect { case (rel, mtime) if mtime < blobCutoff || committedBlobs(rel) => rel }
    val live = BtrTableMeta.listDataFilesWithPartitions(fs, root)
      .map(e => e.path.toUri.getPath.substring(rootLen)) ++ blobRels
    val liveSet = live.toSet
    val missing = (want -- liveSet).toSeq.sorted
    // retained tables can rewind PAST removals: missing snapshot files
    // move back out of the _btr_removed store (the reverse rename of
    // their removal — still zero data I/O)
    val resurrectable = missing.flatMap(rel =>
      graft.format.BtrRetention.resolveRemoved(fs, root, rel,
        expectedLen = snapshot.sizes.get(rel)).map(rel -> _))
    val gone = missing.toSet -- resurrectable.map(_._1).toSet
    require(gone.isEmpty,
      s"btr: cannot restore $root to v$version — ${gone.size} referenced " +
        s"file(s) no longer exist (e.g. ${gone.toSeq.sorted.take(3).mkString(", ")}); " +
        "only commits whose removed files were retained (btr.retainRemoved) " +
        "or that merely ADDED files (appends, epochs) can be rewound")
    val toDrop = live.filterNot(want.contains).sorted
    if (toDrop.nonEmpty || resurrectable.nonEmpty) {
      // ONE journal group flips the whole restore atomically for
      // readers: resurrected files stay hidden until all present, the
      // dropped set hides the moment they are (convergence completes
      // either direction; a rolled-back resurrection returns to the
      // store via the retention-routed rollback)
      // publish-then-recheck: an in-flight maintenance journal over a
      // dropped file means the observer (this RESTORE) yields
      val myJournal = BtrTableMeta.publishSwapJournalChecked(fs, root,
        s"nm-restore-${BtrWriteIds.newWriteId()}",
        Seq(BtrTableMeta.SwapGroup("", resurrectable.map(_._1), toDrop.toSeq)))
      // resurrected deletion-vector blobs re-mask rows in their TARGET
      // data files; a pending maintenance journal (or live intent)
      // claiming such a target is mid-merge of the UNMASKED incarnation —
      // completing both would resurrect the re-masked rows into the
      // merged file (the publish-then-recheck above compares only
      // sources vs sources, which cannot see this overlap; found by
      // BtrRaceFuzzSpec seed 27182818). The merge writers run the
      // symmetric check against pending blob FINALS, so whichever of the
      // two publishes second observes the other; the observer yields.
      locally {
        val resurrectTargets = resurrectable.map(_._1)
          .flatMap(graft.format.DeletionVector.targetOf).toSet
        if (resurrectTargets.nonEmpty) {
          val claimed = (BtrTableMeta.readSwapJournals(fs, root) ++
            BtrTableMeta.readFreshIntents(fs, root))
            .filter(_._1.getName != myJournal.getName)
            .flatMap(_._2)
            .flatMap(g => g.sources.map(s => if (g.dir.isEmpty) s else s"${g.dir}/$s"))
            .filter(resurrectTargets.contains)
          if (claimed.nonEmpty) {
            fs.delete(myJournal, false)
            throw new IllegalStateException(
              s"btr: concurrent commit conflict at $root — an in-flight rewrite/" +
                s"maintenance journal claims ${claimed.size} data file(s) whose " +
                "deletion-vector masks this RESTORE would resurrect (e.g. " +
                s"${claimed.sorted.take(3).mkString(", ")}); the RESTORE yielded " +
                "before moving anything. Retry the RESTORE.")
          }
        }
      }
      resurrectable.foreach { case (rel, e) =>
        val dst = new Path(root, rel)
        fs.mkdirs(dst.getParent)
        if (!fs.rename(e.path, dst) && !fs.exists(dst))
          throw new java.io.IOException(s"btr restore: cannot move $rel back from the " +
            "removed store")
      }
      val retain = BtrTableMeta.readRetainRemoved(fs, root)
      // lease-skew guard (see BtrCompact.rewriteWith): a rollback racing
      // the resurrection loop has already routed some resurrected files
      // back to the store; dropping `toDrop` now would make the table
      // neither pre- nor post-restore. "nm-" journals leave no
      // done-marker, so discriminate by the sources: any `toDrop` file
      // still present means the pass ROLLED BACK — return the
      // resurrections and yield; all gone means it converged forward
      // (the restore committed) — continue, the deletes below no-op.
      if (!fs.exists(myJournal) &&
        (toDrop.exists(f => fs.exists(new Path(root, f))) ||
          (toDrop.isEmpty && resurrectable.exists(r => !fs.exists(new Path(root, r._1)))))) {
        resurrectable.foreach { case (rel, _) =>
          graft.format.BtrRetention.removeDataFile(fs, root, rel, retain)
        }
        throw new IllegalStateException(
          s"btr: concurrent commit conflict at $root — this RESTORE's swap " +
            "journal was rolled back mid-resurrection (a convergence pass " +
            "judged the worker crashed past the maintenance lease); the " +
            "resurrected files returned to the removed store and the current " +
            "version stands. Retry the RESTORE.")
      }
      toDrop.foreach(f => graft.format.BtrRetention.removeDataFile(fs, root, f, retain))
      BtrTableMeta.completeSwapJournals(fs, root)
      // write-time ingest stats describe the pre-restore table — drop
      // the advisory sidecar like DELETE does
      fs.delete(new Path(root, BtrTableMeta.StatsFile), false)
    }
    BtrDelete.deleteEmptyPartitionDirs(fs, root)
    BtrFooters.refreshIndex(fs, root)
    recordDelta(fs, root, "restore",
      added = resurrectable.map(_._1), removed = toDrop.toSeq)
    (toDrop.length, want.size)
  }
}
