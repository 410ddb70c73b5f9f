package graft.format

import org.apache.hadoop.fs.{FSDataInputStream, FileSystem, Path}

/** Filesystem capability gate for the commit protocol.
  *
  * Every mutating path in this engine — snapshot-log version claims
  * (`BtrLog.claim`: exists-check + no-clobber rename), swap-journal
  * publication, journaled file swaps, the retention store's moves —
  * assumes ATOMIC, non-clobbering single-file rename, the contract HDFS
  * and POSIX filesystems provide. On S3-style object stores rename is
  * COPY+DELETE and the exists→rename sequence races: two concurrent
  * committers can both "win" a version claim and silently corrupt the
  * table. (Delta Lake solves this with a LogStore/commit-coordinator
  * per store; Iceberg with a catalog's atomic pointer swap. This engine
  * targets HDFS-semantics filesystems and says so loudly instead of
  * corrupting quietly.)
  *
  * Writes therefore refuse table roots on known non-atomic-rename
  * schemes unless the deployment explicitly opts out (single-writer
  * setups, or an S3 endpoint with strong rename semantics) via
  * `spark.hadoop.btr.unsafeAllowNonAtomicRename=true`.
  */
object BtrFs {
  /** Schemes with atomic single-file rename (HDFS contract): local and
    * HDFS family, Azure ADLS Gen2 (abfs renames are atomic within a
    * container), Ozone. Unknown schemes pass with the benefit of the
    * doubt — the deny-list below names the stores KNOWN to break the
    * contract.
    */
  private val KnownAtomic =
    Set("file", "hdfs", "viewfs", "webhdfs", "swebhdfs", "abfs", "abfss", "ofs", "o3fs")

  /** Object stores whose rename is copy+delete (or eventually
    * consistent): concurrent commits can both claim the same version.
    */
  private val KnownNonAtomic =
    Set("s3", "s3a", "s3n", "gs", "wasb", "wasbs", "swift", "cosn", "oss")

  /** Pure predicate (unit-testable): None = unknown scheme (allowed). */
  def renameAtomicity(scheme: String): Option[Boolean] = {
    val s = Option(scheme).getOrElse("file").toLowerCase
    if (KnownAtomic.contains(s)) Some(true)
    else if (KnownNonAtomic.contains(s)) Some(false)
    else None
  }

  private val OverrideKey = "btr.unsafeAllowNonAtomicRename"

  /** Loud capability check at every mutation entry point. A store whose
    * rename is copy+delete is admitted when the deployment selects the
    * rename-free claim primitive (`btr.commitProtocol=conditional-put`,
    * see [[BtrCommitProtocol]]) — the protocol then never relies on
    * rename atomicity for mutual exclusion — or, as a last resort, via
    * the single-writer escape hatch.
    */
  def requireCommitCapable(fs: FileSystem, root: Path): Unit = {
    if (BtrCommitProtocol.configured(fs).contains("conditional-put")) return
    val scheme = Option(fs.getUri).flatMap(u => Option(u.getScheme)).getOrElse("file")
    if (renameAtomicity(scheme).contains(false) &&
      !java.lang.Boolean.parseBoolean(
        Option(fs.getConf).map(_.get(OverrideKey, "false")).getOrElse("false")))
      throw new IllegalStateException(
        s"btr: table root $root is on '$scheme', whose rename is copy+delete — " +
          "the commit protocol (no-clobber version claims, journaled swaps) needs " +
          "ATOMIC rename and would corrupt under concurrent writers. Either set " +
          s"spark.hadoop.${BtrCommitProtocol.ConfKey}=conditional-put if the " +
          "store/connector provides atomic conditional creates (S3 If-None-Match " +
          "PUT via S3A's fs.s3a.create.conditional.enabled, GCS generation " +
          "preconditions), or put the table on an HDFS-semantics filesystem " +
          "(hdfs/abfs/local), or — for a SINGLE-writer deployment that accepts " +
          s"the risk — set spark.hadoop.$OverrideKey=true.")
  }

  /** Stream buffer for btr reads. Chunk reads go straight into the
    * caller's array in whole checksum chunks, so the stream's own buffer
    * holds only a checksum chunk's tail and the `.crc` reads; a larger one
    * reads ahead past a split's last chunk. At Spark's
    * `io.file.buffer.size` of 64 KiB, a four-split scan of a 0.8 MB table
    * read 1.19× its data and checksum bytes.
    */
  val ReadBufferBytes = 4096

  /** Open a btr data or metadata file for [[readAt]]. */
  def open(fs: FileSystem, path: Path): FSDataInputStream = fs.open(path, ReadBufferBytes)

  /** Read `len` bytes at `offset` of an open file into `buf(off ...)`:
    * a seek plus a sequential read on that one stream. Every btr file
    * read goes through here instead of the positional
    * `readFully(position, ...)`, which on a `ChecksumFileSystem` (the
    * local filesystem included) opens a fresh checker on the data file
    * and its `.crc` per call (118–126 µs per call even for a 15 KB chunk,
    * Hadoop 3.4 on a 4-CPU Xeon) and re-reads the checksum chunks at
    * both ends. The stream is still
    * the filesystem's checksummed one: every CRC is verified.
    */
  def readAt(in: FSDataInputStream, offset: Long, buf: Array[Byte], off: Int, len: Int): Unit = {
    in.seek(offset)
    in.readFully(buf, off, len)
  }

  def readAt(in: FSDataInputStream, offset: Long, len: Int): Array[Byte] = {
    val buf = new Array[Byte](len)
    readAt(in, offset, buf, 0, len)
    buf
  }

  /** A small file's first `len` bytes (metadata files and deletion
    * vectors pass the whole length) in one sequential read.
    */
  def readFile(fs: FileSystem, path: Path, len: Int): Array[Byte] = {
    val in = open(fs, path)
    try readAt(in, 0L, len)
    finally in.close()
  }
}
