package graft.format

import org.apache.hadoop.fs.{FileSystem, Path}

/** Merge-on-read deletion vectors — the scale path for row-level
  * `DELETE` on large tables. The reference engine has no DML at all
  * (immutable compressed blocks); copy-on-write rewrites (BtrRowLevel)
  * give correct row-level semantics but rewrite every file that holds a
  * matching row, which at 100 TB turns a point delete into gigabytes of
  * I/O. With `btr.deletionVectors = true` in the table meta, `DELETE`
  * instead writes one small sidecar blob per touched data file under
  * `_btr_dv/`, recording the row POSITIONS (0-based ordinals within the
  * file) that are deleted. Scans mask those ordinals out; OPTIMIZE
  * physically applies and drops the blobs. The same design Delta Lake
  * and Iceberg (position deletes) use for merge-on-read.
  *
  * Blob naming: `<esc(targetRel)>.<writeId>-<task>.dv` — the TARGET data
  * file's root-relative path is recoverable from the NAME alone, so
  * commits that remove a data file find its blobs with a string match,
  * no content reads. One blob holds positions for exactly one target.
  *
  * Commit protocol: blobs are written under `_btr_dv/` but apply ONLY
  * once their rel paths are recorded in the snapshot log (the DV commit's
  * delta entry adds them). Readers take the DV set from the log's latest
  * resolved snapshot BEFORE listing data files — a blob whose commit
  * crashed pre-claim is never applied (and is swept by VACUUM), and the
  * log-before-listing order makes every interleaving read a consistent
  * (possibly slightly older) state: the DV set can only lag the data
  * listing, and any data file rewritten since carries its deletes
  * physically.
  *
  * Wire format (little-endian): magic "BDV1", expected target file
  * length (lon g— detects rel-path-reuse imposters, like the snapshot
  * log's recorded sizes), position count (long), range count (int), then
  * per range varint(gap from previous range end) + varint(runLen).
  * Sorted, non-overlapping ranges: contiguous deletes (the common shape
  * — a predicate wiping a value cluster) cost 2 varints regardless of
  * width.
  */
object DeletionVector {
  val DvDir = "_btr_dv"
  private val Magic = 0x42445631 // "BDV1"

  private[format] def esc(rel: String): String = {
    val sb = new StringBuilder
    rel.foreach {
      case '/' => sb.append("%2F")
      case '%' => sb.append("%25")
      case c => sb.append(c)
    }
    sb.toString
  }

  private[format] def unesc(name: String): String =
    name.replace("%2F", "/").replace("%25", "%")

  /** Root-relative blob path for positions deleted from `targetRel`.
    * `suffix` must be attempt-unique (writeId-partition-task): task
    * retries and speculative attempts write distinct names, and the
    * losing attempt's abort deletes only its own blobs.
    */
  def blobRel(targetRel: String, suffix: String): String =
    s"$DvDir/${esc(targetRel)}.$suffix.dv"

  /** Target data-file rel encoded in a blob rel path (None: not a DV
    * blob path). Inverse of [[blobRel]] — strips `_btr_dv/` and the
    * `.<writeId>-<task>.dv` suffix.
    */
  def targetOf(rel: String): Option[String] = {
    if (!rel.startsWith(DvDir + "/")) return None
    val name = rel.substring(DvDir.length + 1)
    if (!name.endsWith(".dv")) return None
    val cut = name.lastIndexOf('.', name.length - 4)
    if (cut <= 0) None else Some(unesc(name.substring(0, cut)))
  }

  def isDvRel(rel: String): Boolean = rel.startsWith(DvDir + "/")

  /** All physically present blob rels (committed or not — callers that
    * need only the committed set resolve the log instead). Zero cost on
    * tables that never had a DV (no `_btr_dv` dir).
    */
  def listBlobRels(fs: FileSystem, root: Path): Seq[String] =
    listBlobRels(fs, root, withTimes = true).map(_._1)

  /** Blob rels with modification times — RESTORE uses the mtime to leave
    * in-flight (young, uncommitted) blobs out of its drop set.
    */
  def listBlobRels(fs: FileSystem, root: Path, withTimes: Boolean)
      : Seq[(String, Long)] = {
    val d = new Path(root, DvDir)
    if (!fs.exists(d)) return Nil
    fs.listStatus(d).toSeq.collect {
      case st if st.isFile && st.getPath.getName.endsWith(".dv") =>
        (s"$DvDir/${st.getPath.getName}", st.getModificationTime)
    }
  }

  /** Blob rels targeting any of `targets`, by name prefix — removal
    * commits use this to take a removed data file's masks down with it.
    * Includes in-flight uncommitted blobs deliberately: a concurrent DV
    * commit whose target this commit removes must fail its post-claim
    * re-verify anyway, and removing its blobs here cannot lose committed
    * state.
    */
  def blobRelsForTargets(fs: FileSystem, root: Path, targets: Set[String]): Seq[String] =
    if (targets.isEmpty) Nil
    else listBlobRels(fs, root).filter(rel => targetOf(rel).exists(targets.contains))

  private def writeVarint(out: java.io.ByteArrayOutputStream, v0: Long): Unit = {
    var v = v0
    while ((v & ~0x7fL) != 0) { out.write(((v & 0x7f) | 0x80).toInt); v >>>= 7 }
    out.write(v.toInt)
  }

  /** Serialize SORTED, DISTINCT positions. */
  def serialize(expectedTargetLen: Long, sorted: Array[Long]): Array[Byte] = {
    var i = 1
    while (i < sorted.length) {
      require(sorted(i) > sorted(i - 1),
        s"btr dv: positions must be sorted and distinct at $i")
      i += 1
    }
    // collapse to ranges
    val starts = scala.collection.mutable.ArrayBuffer.empty[Long]
    val lens = scala.collection.mutable.ArrayBuffer.empty[Long]
    i = 0
    while (i < sorted.length) {
      val s = sorted(i)
      var j = i + 1
      while (j < sorted.length && sorted(j) == sorted(j - 1) + 1) j += 1
      starts += s
      lens += (j - i).toLong
      i = j
    }
    val out = new java.io.ByteArrayOutputStream(32 + starts.length * 3)
    val hdr = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    hdr.putInt(Magic).putLong(expectedTargetLen).putLong(sorted.length.toLong)
      .putInt(starts.length)
    out.write(hdr.array())
    var prevEnd = 0L
    i = 0
    while (i < starts.length) {
      writeVarint(out, starts(i) - prevEnd)
      writeVarint(out, lens(i))
      prevEnd = starts(i) + lens(i)
      i += 1
    }
    out.toByteArray
  }

  /** One decoded blob: sorted non-overlapping [start, start+len) runs. */
  final case class Blob(expectedTargetLen: Long, posCount: Long,
      starts: Array[Long], lens: Array[Long])

  def deserialize(bytes: Array[Byte]): Blob = {
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    require(bb.getInt() == Magic, "btr dv: bad magic")
    val expLen = bb.getLong()
    val posCount = bb.getLong()
    val n = bb.getInt()
    val starts = new Array[Long](n)
    val lens = new Array[Long](n)
    var prevEnd = 0L
    var i = 0
    def varint(): Long = {
      var v = 0L; var shift = 0; var b = 0
      do { b = bb.get() & 0xff; v |= (b & 0x7fL) << shift; shift += 7 } while ((b & 0x80) != 0)
      v
    }
    while (i < n) {
      starts(i) = prevEnd + varint()
      lens(i) = varint()
      prevEnd = starts(i) + lens(i)
      i += 1
    }
    Blob(expLen, posCount, starts, lens)
  }

  def readBlob(fs: FileSystem, path: Path): Blob = {
    deserialize(BtrFs.readFile(fs, path, fs.getFileStatus(path).getLen.toInt))
  }

  /** The union mask of every blob targeting one data file. Group slicing
    * walks the (sorted) runs with one cursor per blob — scan readers
    * visit row groups in ascending ordinal order, so slicing the whole
    * file is O(runs + rows-in-deleted-groups) total.
    */
  final class FileMask(blobs: Array[Blob]) {
    private val cursors = new Array[Int](blobs.length)

    def reset(): Unit = java.util.Arrays.fill(cursors, 0)

    /** Deleted ordinals within [base, base+n), as offsets in a BitSet of
      * size n; null when the group has no deletions. NOT reentrant:
      * call with ascending, non-overlapping group ranges (cursors only
      * move forward; reset() rewinds for a second pass).
      */
    def deletedIn(base: Long, n: Int): java.util.BitSet = {
      var bs: java.util.BitSet = null
      var b = 0
      while (b < blobs.length) {
        val blob = blobs(b)
        var c = cursors(b)
        // skip runs entirely before this group
        while (c < blob.starts.length && blob.starts(c) + blob.lens(c) <= base) c += 1
        cursors(b) = c
        var k = c
        while (k < blob.starts.length && blob.starts(k) < base + n) {
          val from = math.max(blob.starts(k), base)
          val until = math.min(blob.starts(k) + blob.lens(k), base + n)
          if (until > from) {
            if (bs == null) bs = new java.util.BitSet(n)
            bs.set((from - base).toInt, (until - base).toInt)
          }
          // a run crossing the group's end must stay current for the
          // next group, so the cursor does not advance past it
          if (blob.starts(k) + blob.lens(k) <= base + n) cursors(b) = k + 1
          k += 1
        }
        b += 1
      }
      bs
    }
  }
}
