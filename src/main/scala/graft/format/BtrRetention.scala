package graft.format

import org.apache.hadoop.fs.{FileSystem, Path}

/** Opt-in retention of removed data files — the piece that extends time
  * travel and the change feed ACROSS removals. With
  * `retainRemoved = true` in the table meta (writer option
  * `btr.retainRemoved`, or CREATE TABLE TBLPROPERTIES), every commit
  * that would physically delete a visible data file (DELETE, overwrite,
  * row-level rewrite, OPTIMIZE swap convergence, RESTORE) MOVES it into
  * the hidden `_btr_removed/` store instead — a rename, so retention
  * costs zero data I/O and zero extra bytes beyond what the table
  * already wrote. Listings never see the store (underscore prefix);
  * current reads are unaffected.
  *
  * What it buys:
  *  - `VERSION/TIMESTAMP AS OF` before a DELETE/overwrite/OPTIMIZE keeps
  *    working — snapshot resolution falls back to the store for files
  *    the live listing no longer holds;
  *  - `BtrChanges.between` across a removal emits row-level
  *    `_change_type = 'delete'` rows from the removed files (multiset-
  *    consistent: a compaction re-homing rows appears as delete+insert
  *    pairs of equal rows).
  *
  * Retention is bounded by `VACUUM ... RETAIN n HOURS`, which expires
  * store entries older than the horizon (then history genuinely ends
  * there, with the same loud missing-file errors as an unretained
  * table). Default OFF: removal deletes files exactly as before.
  *
  * Store layout: one flat file per removed data file, named by the
  * URL-escaped table-root-relative path plus a move-time suffix
  * (`p%3D1%2Fpart-x.btr.1723600000000`) — the rel path round-trips for
  * snapshot lookup, the suffix disambiguates the deterministic-name
  * corner (streaming epoch retries keep HARD deletes; see
  * BtrStreamingWrite) and makes expiry a pure name scan.
  */
object BtrRetention {
  val RemovedDir = "_btr_removed"

  // the same flat-name escaping deletion-vector blobs use
  import DeletionVector.{esc, unesc}

  /** Remove a VISIBLE data file: move into the store when the table
    * retains removed files, plain delete otherwise. `rel` must be the
    * table-root-relative path (partition dirs included).
    */
  def removeDataFile(fs: FileSystem, root: Path, rel: String, retain: Boolean): Unit = {
    val src = new Path(root, rel)
    if (!retain) { fs.delete(src, false); return }
    // already removed (a commit's direct removal followed by its own
    // journal convergence touches the same file twice; delete() treats
    // a missing file as success, so the move must too)
    if (!fs.exists(src)) return
    val dir = new Path(root, RemovedDir)
    fs.mkdirs(dir)
    val dst = new Path(dir, s"${esc(rel)}.${System.currentTimeMillis()}")
    val ok =
      try fs.rename(src, dst)
      catch { case _: java.io.FileNotFoundException => !fs.exists(src) }
    if (!ok && fs.exists(src))
      throw new java.io.IOException(s"btr retention: cannot move $rel into $RemovedDir")
  }

  /** Resolve a snapshot-referenced file the live listing no longer
    * holds: newest store entry for its rel path, with the partition
    * values re-parsed from the path (directory values are part of the
    * rel string). When the snapshot recorded the file's length
    * (`expectedLen`), entries of a different length are skipped — the
    * store can hold several incarnations of a re-used rel path, and
    * length picks the one the snapshot actually referenced.
    */
  def resolveRemoved(fs: FileSystem, root: Path, rel: String,
      expectedLen: Option[Long] = None): Option[BtrTableMeta.DataFileEntry] = {
    val dir = new Path(root, RemovedDir)
    if (!fs.exists(dir)) return None
    val prefix = esc(rel) + "."
    val candidates = fs.listStatus(dir).filter { st =>
      val n = st.getPath.getName
      n.startsWith(prefix) && n.substring(prefix.length).forall(_.isDigit) &&
        expectedLen.forall(_ == st.getLen)
    }
    if (candidates.isEmpty) None
    else {
      val st = candidates.maxBy(_.getPath.getName.substring(prefix.length).toLong)
      Some(BtrTableMeta.DataFileEntry(st.getPath, st.getLen, partitionValuesOf(rel),
        st.getModificationTime))
    }
  }

  /** Original rel path of a retention-store entry (inverse of the store
    * naming `esc(rel).<millis>`); None when `p` is not under the store.
    */
  def relOfStorePath(root: Path, p: Path): Option[String] = {
    val dirPrefix = new Path(root, RemovedDir).toUri.getPath + "/"
    val pp = p.toUri.getPath
    if (!pp.startsWith(dirPrefix)) return None
    val name = pp.substring(dirPrefix.length)
    val dot = name.lastIndexOf('.')
    if (dot <= 0) None else Some(unesc(name.substring(0, dot)))
  }

  /** Hive-style partition values encoded in a root-relative path. */
  def partitionValuesOf(rel: String): Map[String, String] = {
    val parts = rel.split('/')
    parts.dropRight(1).flatMap { seg =>
      val eq = seg.indexOf('=')
      if (eq <= 0) None
      else Some(BtrTableMeta.unescapePath(seg.substring(0, eq)) ->
        BtrTableMeta.unescapePath(seg.substring(eq + 1)))
    }.toMap
  }

  /** Dry-run listing of the store entries [[expire]] would remove. */
  def listExpired(fs: FileSystem, root: Path, olderThanMs: Long): Seq[Path] = {
    val dir = new Path(root, RemovedDir)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      val name = st.getPath.getName
      val dot = name.lastIndexOf('.')
      val ts = if (dot < 0) -1L
        else scala.util.Try(name.substring(dot + 1).toLong).getOrElse(-1L)
      if (ts >= 0 && ts < olderThanMs) Some(st.getPath) else None
    }
  }

  /** Expire store entries moved before `olderThanMs` (epoch millis).
    * Returns the number removed. History referencing them then fails
    * loudly, like any physically-truncated history.
    */
  def expire(fs: FileSystem, root: Path, olderThanMs: Long): Int = {
    val dir = new Path(root, RemovedDir)
    if (!fs.exists(dir)) return 0
    var n = 0
    fs.listStatus(dir).foreach { st =>
      val name = st.getPath.getName
      val dot = name.lastIndexOf('.')
      val ts = if (dot < 0) -1L
        else scala.util.Try(name.substring(dot + 1).toLong).getOrElse(-1L)
      if (ts >= 0 && ts < olderThanMs) {
        if (fs.delete(st.getPath, false)) n += 1
      }
    }
    n
  }

  /** Resolve a wanted snapshot file set against the live listing, with
    * the store as fallback; fails LOUDLY naming genuinely-gone files
    * when `version` pins a snapshot. Shared by the scan and the
    * aggregate scan.
    *
    * `wantSizes` (rel → length, from the snapshot log) guards the
    * rel-path-reuse corner: a file removed into the store whose name a
    * later commit re-created (deterministic streaming-epoch names from a
    * fresh checkpoint). A live file whose length contradicts the
    * snapshot's recorded length is NOT the snapshot's file — resolution
    * then prefers the store incarnation of matching length, and fails
    * loudly rather than silently serving the new file's rows as history.
    */
  def resolveFileSet(
      fs: FileSystem,
      root: Path,
      listed: Array[BtrTableMeta.DataFileEntry],
      want: Set[String],
      version: Option[Long],
      tableDesc: String,
      wantSizes: Map[String, Long] = Map.empty,
      preferStore: Boolean = false): Array[BtrTableMeta.DataFileEntry] = {
    val rootLen = root.toUri.getPath.length + 1
    def relOf(e: BtrTableMeta.DataFileEntry) = e.path.toUri.getPath.substring(rootLen)
    if (preferStore) {
      // delete-side change-feed resolution: every wanted rel was REMOVED
      // by a commit in the range, so on a retained table the store holds
      // its incarnation — a live file under the same rel is always a
      // LATER re-add, and with an equal length the generic live-first
      // path would silently serve the new bytes as history. Store first;
      // live only as the size-checked fallback (RESTORE moves a store
      // entry back into the table, making live the genuine incarnation).
      val byRel = listed.iterator.map(e => relOf(e) -> e).toMap
      val resolved = want.toSeq.sorted.flatMap { rel =>
        resolveRemoved(fs, root, rel, expectedLen = wantSizes.get(rel))
          .orElse(byRel.get(rel).filter(e => wantSizes.get(rel).forall(_ == e.len)))
      }
      if (resolved.size < want.size) {
        val present = resolved.map(relOf).toSet
        val gone = (want -- present).toSeq.sorted
        throw new IllegalStateException(
          s"btr: change range of $tableDesc references ${gone.length} removed " +
            s"file(s) that are neither retained nor restored (e.g. " +
            s"${gone.take(3).mkString(", ")}) — enable btr.retainRemoved to " +
            "keep removed files for the change feed.")
      }
      return resolved.toArray
    }
    val hits = listed.filter(e => want.contains(relOf(e)))
    val (found, reused) =
      if (version.isEmpty || wantSizes.isEmpty) (hits, Array.empty[BtrTableMeta.DataFileEntry])
      else hits.partition(e => wantSizes.get(relOf(e)).forall(_ == e.len))
    if (found.length == want.size || version.isEmpty) return found
    val present = found.map(relOf).toSet
    val missing = (want -- present).toSeq.sorted
    val recovered = missing.flatMap(rel =>
      resolveRemoved(fs, root, rel, expectedLen = wantSizes.get(rel)).map(rel -> _)).toMap
    if (found.length + recovered.size < want.size) {
      val gone = missing.filterNot(recovered.contains)
      val reuseNote =
        if (reused.isEmpty) ""
        else s" ${reused.length} of them exist(s) under the same name with a " +
          "DIFFERENT length — the name was re-used by a later commit, and the " +
          "snapshot's incarnation is gone from the retention store."
      throw new IllegalStateException(
        s"btr: snapshot v${version.get} of $tableDesc references " +
          s"${gone.length} file(s) that no longer exist (e.g. " +
          s"${gone.take(3).mkString(", ")}) — history before an " +
          "OPTIMIZE/DELETE/VACUUM that removed them is no longer readable " +
          "(enable btr.retainRemoved to keep removed files for time travel)." +
          reuseNote)
    }
    found ++ missing.flatMap(recovered.get)
  }
}
