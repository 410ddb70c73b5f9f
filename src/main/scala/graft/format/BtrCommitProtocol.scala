package graft.format

import org.apache.hadoop.fs.{FileSystem, Path}

/** One of the commit protocol's two publish primitives, pluggable per
  * store (selected by [[BtrCommitProtocol.forFs]]).
  *
  * Every serializable-multi-writer guarantee in this engine reduces to
  * two operations on SMALL METADATA objects:
  *
  *  - [[putIfAbsent]] — the version CLAIM: publish bytes at a path iff
  *    nothing exists there, atomically. This is the protocol's single
  *    mutual-exclusion point (`BtrLog.claim`); every other publish uses
  *    unique names and needs only atomic visibility.
  *  - [[put]] — swap-journal / pending-marker publication: a reader
  *    must see the old object, the new object, or nothing — never a
  *    torn write.
  *
  * Data files never need either: they carry unique names and become
  * visible to planning only through the log / journals.
  */
sealed trait BtrCommitPrimitive {
  /** Atomically publish `body` at `dst` iff no object exists there.
    * Returns true when this caller won the claim; false when `dst`
    * already exists (lost the race). Must never leave a partially
    * visible object at `dst`.
    */
  def putIfAbsent(fs: FileSystem, dst: Path, body: Array[Byte]): Boolean

  /** Publish `body` at `dst` with atomic visibility; overwriting an
    * existing object is allowed (journal re-publication after a crashed
    * convergence writes identical bytes).
    */
  def put(fs: FileSystem, dst: Path, body: Array[Byte]): Unit
}

/** HDFS-semantics stores (local, hdfs, abfs, ...): temp write + rename.
  * Atomic, non-clobbering single-file rename is the HDFS/POSIX
  * contract, so exists-check + rename claims serialize and a renamed
  * journal appears whole.
  */
object RenameCommit extends BtrCommitPrimitive {
  private def writeTmp(fs: FileSystem, dst: Path, body: Array[Byte]): Path = {
    val tmp = new Path(dst.getParent,
      s"_tmp_${java.util.UUID.randomUUID().toString.take(8)}_${dst.getName}")
    val out = fs.create(tmp, true)
    try out.write(body)
    finally out.close()
    tmp
  }

  override def putIfAbsent(fs: FileSystem, dst: Path, body: Array[Byte]): Boolean = {
    val tmp = writeTmp(fs, dst, body)
    if (!fs.exists(dst) && fs.rename(tmp, dst)) true
    else { fs.delete(tmp, false); false }
  }

  override def put(fs: FileSystem, dst: Path, body: Array[Byte]): Unit = {
    val tmp = writeTmp(fs, dst, body)
    if (!fs.rename(tmp, dst)) {
      // HDFS rename refuses to clobber: replace explicitly (put's
      // contract allows overwrite; re-published journals are identical)
      fs.delete(dst, false)
      if (!fs.rename(tmp, dst)) {
        fs.delete(tmp, false)
        throw new java.io.IOException(s"btr commit: rename $tmp -> $dst failed")
      }
    }
  }
}

/** Object stores with conditional-write support (opt-in via
  * `btr.commitProtocol=conditional-put`): NO rename anywhere. The claim
  * is a conditional CREATE of the final name — `create(dst,
  * overwrite=false)`, which such stores implement as an atomic
  * compare-and-put (S3 `If-None-Match: *` PUT, mapped by Hadoop's S3A
  * when `fs.s3a.create.conditional.enabled` is on, HADOOP-19256; GCS
  * `ifGenerationMatch=0` preconditions) — and a plain put is one
  * atomically-visible object write. Setting the option is the
  * deployment's declaration that its connector provides those
  * semantics; with it, tables can live directly on the object-store
  * tier (the reference reads S3 natively,
  * tools/conversion/decompression-speed-s3.cpp:25-30) under concurrent
  * writers, with no coordinator service.
  */
object ConditionalPutCommit extends BtrCommitPrimitive {
  override def putIfAbsent(fs: FileSystem, dst: Path, body: Array[Byte]): Boolean = {
    val created =
      try Some(fs.create(dst, false))
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => None
        case _: java.io.FileNotFoundException => throw new java.io.IOException(
          s"btr commit: parent of $dst does not exist")
        case _: java.io.IOException if fs.exists(dst) => None // store-specific "exists"
      }
    created match {
      case None => false
      case Some(out) =>
        try { out.write(body); out.close(); true }
        catch {
          case _: java.io.IOException =>
            // object stores enforce the precondition at PUT completion
            // (close), and a failure may surface AFTER the object
            // landed — the authoritative answer is what's at dst now
            try out.close() catch { case _: Exception => () }
            readBackEquals(fs, dst, body)
        }
    }
  }

  override def put(fs: FileSystem, dst: Path, body: Array[Byte]): Unit = {
    val out = fs.create(dst, true)
    try out.write(body)
    finally out.close()
  }

  private def readBackEquals(fs: FileSystem, dst: Path, body: Array[Byte]): Boolean =
    try {
      val st = fs.getFileStatus(dst)
      if (st.getLen != body.length) false
      else java.util.Arrays.equals(BtrFs.readFile(fs, dst, body.length), body)
    } catch { case _: java.io.IOException => false }
}

object BtrCommitProtocol {
  /** `auto` (default: rename; non-atomic-rename schemes are refused by
    * [[BtrFs.requireCommitCapable]]) | `rename` | `conditional-put`.
    * Set via `spark.hadoop.btr.commitProtocol`.
    */
  val ConfKey = "btr.commitProtocol"
  private val Known = Set("auto", "rename", "conditional-put")

  def configured(fs: FileSystem): Option[String] = {
    val v = Option(fs.getConf).flatMap(c => Option(c.get(ConfKey)))
      .map(_.trim.toLowerCase).filter(_.nonEmpty)
    v.foreach(p => require(Known.contains(p),
      s"btr: unknown $ConfKey '$p' — expected one of ${Known.toSeq.sorted.mkString(", ")}"))
    v
  }

  def forFs(fs: FileSystem): BtrCommitPrimitive =
    if (configured(fs).contains("conditional-put")) ConditionalPutCommit
    else RenameCommit
}
